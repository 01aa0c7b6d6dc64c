package perfbench

import java.util.SplittableRandom

/** Seeded CustomerEvent generator with exact ground truth.
  *
  * Event `i` depends only on `(seed, i)` (its own random stream), so the
  * payload bytes repeat for a seed and the truth over any offset range is
  * computed by replaying that range. The anomaly mix is the reference
  * producer's (BASELINE.md): 5 % backdated by 1-24 h, 2 % with a missing
  * field (country or plan, half each), and schema drift (v2 or v3) on every
  * 100th event.
  *
  * Every other field is valid, so the pipeline's flags are functions of
  * the injected anomalies alone: `is_late_arrival` = backdated (processing
  * stays within the 15-minute late threshold of the due time),
  * `schema_drift_detected` = version > 1, and `dq_passed` fails exactly when
  * the plan is missing.
  */
object Gen {
  val LateRate = 0.05
  val MissingRate = 0.02
  val DriftEvery = 100
  val MinLateMs: Long = 3600L * 1000
  val MaxLateMs: Long = 24L * 3600 * 1000

  private val Countries =
    Array("US", "CA", "GB", "DE", "FR", "AU", "JP", "IN", "BR", "MX")
  private val Plans = Array("free", "basic", "premium", "enterprise")
  private val Segments = Array("high_value", "standard", "churn_risk")
  private val First = Array("ada", "alan", "grace", "edsger", "barbara",
    "donald", "frances", "john", "margaret", "ken")
  private val Last = Array("lovelace", "turing", "hopper", "dijkstra",
    "liskov", "knuth", "allen", "backus", "hamilton", "thompson")
  private val Domains = Array("example.com", "mail.example.org",
    "corp.example.net", "example.co.uk")

  final case class Truth(total: Long, late: Long, drift: Long,
      dqFailed: Long) {
    def +(o: Truth): Truth = Truth(total + o.total, late + o.late,
      drift + o.drift, dqFailed + o.dqFailed)
  }
  val NoTruth: Truth = Truth(0, 0, 0, 0)

  /** The injected anomalies of one event. `missing`: 0 none, 1 country,
    * 2 plan.
    */
  final case class Anomaly(lateMs: Long, missing: Int, version: Int) {
    def late: Boolean = lateMs > 0
    def drift: Boolean = version > 1
    def dqFailed: Boolean = missing == 2
  }

  private def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L)

  private def anomaly(r: SplittableRandom, i: Long): Anomaly = {
    val lateMs =
      if (r.nextDouble() < LateRate) r.nextLong(MinLateMs, MaxLateMs + 1)
      else 0L
    val missing =
      if (r.nextDouble() < MissingRate) (if (r.nextBoolean()) 1 else 2)
      else 0
    val version = if (i % DriftEvery == DriftEvery - 1) 2 + r.nextInt(2) else 1
    Anomaly(lateMs, missing, version)
  }

  def anomalyOf(seed: Long, i: Long): Anomaly = anomaly(rng(seed, i), i)

  /** One JSON payload; `dueMs` is the event's due time (epoch ms), which a
    * late event is backdated from.
    */
  def payload(seed: Long, i: Long, dueMs: Long): String = {
    val r = rng(seed, i)
    val a = anomaly(r, i)
    val first = First(r.nextInt(First.length))
    val last = Last(r.nextInt(Last.length))
    val id = java.lang.Long.toHexString(r.nextLong() | (1L << 63))
    val email = s"$first.$last${r.nextInt(1000)}@${Domains(r.nextInt(Domains.length))}"
    val country = Countries(r.nextInt(Countries.length))
    val plan = Plans(r.nextInt(Plans.length))
    val eventMs = dueMs - a.lateMs
    val signupMs = eventMs - (1L + r.nextInt(730)) * 86400000L
    val optIn = r.nextBoolean()
    val segment = Segments(r.nextInt(Segments.length))
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"id\":\"cust_").append(id)
      .append("\",\"name\":\"").append(first).append(' ').append(last)
      .append("\",\"email\":\"").append(email)
      .append("\",\"signup_ts\":").append(signupMs)
    if (a.missing != 1) sb.append(",\"country\":\"").append(country).append('"')
    if (a.missing != 2) sb.append(",\"plan\":\"").append(plan).append('"')
    sb.append(",\"event_ts\":").append(eventMs)
      .append(",\"version\":").append(a.version)
    if (a.version >= 2) sb.append(",\"marketing_opt_in\":").append(optIn)
    if (a.version >= 3)
      sb.append(",\"customer_segment\":\"").append(segment).append('"')
    sb.append('}').toString
  }

  /** Truth over events `[from, until)`. */
  def truth(seed: Long, from: Long, until: Long): Truth = {
    var late, drift, dq = 0L
    var i = from
    while (i < until) {
      val a = anomalyOf(seed, i)
      if (a.late) late += 1
      if (a.drift) drift += 1
      if (a.dqFailed) dq += 1
      i += 1
    }
    Truth(until - from, late, drift, dq)
  }
}
