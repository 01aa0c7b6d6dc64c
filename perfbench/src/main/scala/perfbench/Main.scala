package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SessionTuning

/** Benchmark entry point: one workload per JVM.
  *
  * {{{
  * perfbench.Main --workload <ingest_stream|dag_cycle>
  *   --seed <n> --seconds <s> --trace <0|1> [--bench-dir perfbench]
  *   [--work <dir>] [--record-golden]
  * }}}
  *
  * Set-up (session, warm-up, generated inputs) runs once and is timed from
  * JVM start. Untraced, the workload then runs for `--seconds`;
  * traced, it runs half the time untraced and half with the listeners and
  * spans on, and reports the per-layer metrics and the tracing overhead.
  * The last line of stdout is the result object.
  */
object Main {
  /** Offered ingest rate (events/s), fixed on the seed commit at a tenth
    * of the highest rate tried: at 10000/s the p50 event latency about
    * equalled the 10-s run. A trigger cost about the same at any rate from
    * 200 to 5000 events/s.
    */
  val Rate = 1000.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, bench: File, work: File, record: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    Args(m.getOrElse("--workload", ""), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "10").toDouble,
      m.getOrElse("--trace", "0") == "1",
      new File(m.getOrElse("--bench-dir", "perfbench")),
      new File(m.getOrElse("--work", ".bench_build/work")),
      argv.contains("--record-golden"))
  }

  /** The `graft.Bench` session prelude, through `SessionTuning.tuned`. */
  def session(cores: Int): SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One measured section: operations attempted and failed, latency
    * samples (ms), and the layer metrics it can report.
    */
  final case class Measured(attempted: Long, failed: Long,
      latMs: Seq[Double], layers: Seq[(String, Double)] = Nil)

  trait Workload {
    /** Generate inputs and warm up in a fresh directory. */
    def setup(spark: SparkSession, dir: File): Unit
    /** Run for `seconds`; spans go to `tr` when traced. */
    def measure(spark: SparkSession, dir: File, seconds: Double,
        tr: Option[(Tracer, Instruments)]): Measured
    /** Extra traced-run metrics taken after the traced section. */
    def after(spark: SparkSession, dir: File, untraced: Measured,
        tr: Tracer): Seq[(String, Double)] = Nil
  }

  final class IngestWorkload(seed: Long, rate: Double) extends Workload {
    private var phases = 0
    def setup(spark: SparkSession, dir: File): Unit = {
      Ingest.warmUp(spark, seed)
      // the dual sink's write path settles over the first triggers of a
      // JVM, and the first batch's length sets the size of those after it
      Ingest.phase(spark, new File(dir, "warm"), seed + 7919, rate,
        Ingest.WarmSeconds, withProgress = false)
    }
    def measure(spark: SparkSession, dir: File, seconds: Double,
        tr: Option[(Tracer, Instruments)]): Measured = {
      phases += 1
      val pdir = new File(dir, s"phase$phases")
      def run() = Ingest.phase(spark, pdir, seed * 31 + phases, rate,
        seconds, withProgress = tr.isDefined)
      tr match {
        case None =>
          val p = run()
          Measured(p.offered, if (p.checksOk) p.offered - p.committed
            else p.offered, p.latMs)
        case Some((t, _)) =>
          var p: Ingest.Phase = null
          t.span("ingest phase", "phase", "streaming") {
            p = run()
            val parent = t.current
            Ingest.batchSpans(p).foreach { case (name, a, b) =>
              t.add(parent, name, "batch", "streaming", a, b)
            }
          }
          Measured(p.offered, if (p.checksOk) p.offered - p.committed
            else p.offered, p.latMs, Ingest.layerMetrics(p))
      }
    }
  }

  final class DagWorkload(seed: Long, bench: File) extends Workload {
    private var input: File = _
    private var warmed = false
    def setup(spark: SparkSession, dir: File): Unit = {
      input = new File(dir, "input.jsonl")
      Dag.writeInput(input, seed, Dag.K)
      Dag.curated(spark, input).write.format("noop").mode("overwrite").save()
    }
    def measure(spark: SparkSession, dir: File, seconds: Double,
        tr: Option[(Tracer, Instruments)]): Measured = {
      val cycleDir = new File(dir, "cycle")
      var attempted, failed = 0L
      def once(): Unit = {
        val ok = try Dag.check(tr match {
          case None => Dag.cycle(spark, input, cycleDir)
          case Some((t, _)) =>
            t.span(s"cycle $attempted", "cycle", "ops")(t.span(
              "PipelineRun.run", "call", "ops")(Dag.cycle(spark, input, cycleDir)))
        }, seed, Dag.K)
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] cycle failed: $e"); false
        }
        attempted += 1
        if (!ok) failed += 1
      }
      // the JIT settles over the first cycles of a JVM: checked, not timed
      if (!warmed) { (1 to Dag.WarmCycles).foreach(_ => once()); warmed = true }
      val times = ArrayBuffer[Double]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (times.isEmpty || System.nanoTime() < deadline) {
        val t0 = System.nanoTime()
        once()
        times += (System.nanoTime() - t0) / 1e6
      }
      Measured(attempted, failed, times.toSeq)
    }
    override def after(spark: SparkSession, dir: File, untraced: Measured,
        tr: Tracer): Seq[(String, Double)] = {
      val stages = tr.span("stages", "phase", "perfbench")(
        Dag.stageMetrics(spark, input, dir, tr))
      val queries = tr.span("queries", "phase", "perfbench")(
        Suite.traced(spark, bench, seed, tr))
      stages ++ queries
    }
    def singleThreadCycleMs(spark: SparkSession, dir: File): Double =
      Dag.singleThreadCycleMs(spark, input, new File(dir, "cycle1"))
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally status.close()
  }

  private def line(name: String, v: Double, unit: String): Unit =
    println(f"# $name = $v%.6f $unit")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    if (a.record) { Record.run(a, cores); return }
    val w: Workload = a.workload match {
      case "ingest_stream" => new IngestWorkload(a.seed, Rate)
      case "dag_cycle" => new DagWorkload(a.seed, a.bench)
      case other =>
        System.err.println(s"unknown workload '$other'"); sys.exit(2)
    }
    val dir = new File(a.work, s"${a.workload}-${a.seed}").getAbsoluteFile
    dir.mkdirs()

    // set-up, from JVM start until the workload is ready
    val spark = session(cores)
    w.setup(spark, new File(dir, "setup"))
    val setupS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val metrics = ArrayBuffer[(String, Double)]()
    val m: Measured = if (!a.trace) {
      val r = w.measure(spark, dir, a.seconds, None)
      metrics ++= Seq("p50_ms" -> Stats.median(r.latMs),
        "p90_ms" -> Stats.quantile(r.latMs, 0.9),
        "mean_ms" -> Stats.mean(r.latMs), "setup_s" -> setupS)
      r
    } else {
      metrics += "setup.first_s" -> setupS
      traced(a, w, spark, dir, cores, metrics)
    }
    metrics += "peak_rss_mb" -> peakRssMb()
    if (!a.trace) designLines(a.workload, m, setupS, metrics.last._2)
    System.err.println(s"[perfbench] setup $setupS s; " +
      s"${m.latMs.size} samples, first ${m.latMs.take(40).map(x => f"$x%.0f").mkString(" ")}")
    spark.stop()

    // a run too short to time a single operation has nothing to report
    val correct = m.failed == 0 && m.attempted > 0 && m.latMs.nonEmpty &&
      !metrics.exists { case (k, v) =>
        (k == "trace.nesting_violations" || k == "trace.accounting_violations") &&
          v > 0
      }
    val body = metrics.map { case (k, v) =>
      s""""$k":{"value":${Json.num(v)}}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${m.attempted},"failed":${m.failed},"metrics":{$body}}""")
  }

  /** The end-to-end metrics under the names of the benchmark's design,
    * one per line (the result object uses workload-neutral names).
    */
  private def designLines(workload: String, m: Measured, setupS: Double,
      rssMb: Double): Unit = {
    println(s"# workload $workload: ${m.attempted} attempted, ${m.failed} failed, ${m.latMs.size} latency samples")
    workload match {
      case "ingest_stream" =>
        line("ingest_p50_ms", Stats.median(m.latMs), "ms")
        line("ingest_p90_ms", Stats.quantile(m.latMs, 0.9), "ms")
      case _ =>
        line("cycle_p50_s", Stats.median(m.latMs) / 1000, "s")
    }
    line("setup_s", setupS, "s")
    line("peak_rss_mb", rssMb, "MB")
  }

  /** Half the time untraced, half traced; per-layer metrics, spans and the
    * tracing overhead on the workload's median latency.
    */
  private def traced(a: Args, w: Workload, spark: SparkSession, dir: File,
      cores: Int, metrics: ArrayBuffer[(String, Double)]): Measured = {
    val plain = w.measure(spark, dir, a.seconds / 2, None)
    Clock.rebase()
    val tr = new Tracer(s"${a.workload}-${a.seed}", () => spark)
    val inst = new Instruments(spark)
    val t0 = System.nanoTime()
    val m = w.measure(spark, dir, a.seconds / 2, Some((tr, inst)))
    val extra = w.after(spark, dir, plain, tr)
    val wallMs = (System.nanoTime() - t0) / 1e6
    inst.close()
    val spans0 = tr.all
    inst.attach(tr, spans0.filterNot(s => s.kind == "run"))
    val spans = tr.all
    val report = SpanTree.analyse(spans, tr.rootId)
    val overhead = 100.0 * (Stats.median(m.latMs) /
      math.max(1e-9, Stats.median(plain.latMs)) - 1.0)
    val speedup = w match {
      case d: DagWorkload => Seq("spark.speedup_1_to_n" ->
        d.singleThreadCycleMs(spark, dir) / Stats.median(plain.latMs))
      case _ => Nil
    }
    metrics ++= m.layers ++ extra ++ inst.stages.metrics(wallMs, cores) ++
      inst.plans.metrics ++ inst.jvm.metrics ++ speedup ++ Seq(
        "trace.overhead_pct" -> overhead,
        "trace.spans" -> spans.size.toDouble,
        "trace.nesting_violations" -> report.nestingViolations.toDouble,
        "trace.accounting_violations" -> report.accountingViolations.toDouble,
        "trace.accounting_error_pct" -> report.accountingErrorPct) ++
      TraceOut.selfByLayer(spans, report)
    TraceOut.write(new File(a.work, "../trace").getCanonicalFile,
      s"${a.workload}-seed${a.seed}", spans, report, metrics.toSeq)
    System.err.println(s"[perfbench] trace: ${spans.size} spans, overhead " +
      f"$overhead%.1f %%, written to ${new File(a.work, "../trace").getCanonicalPath}")
    val more = extra.toMap.get("query.failed").map(_.toLong).getOrElse(0L)
    // an untraced half with no timed sample gives no overhead: not correct
    Measured(plain.attempted + m.attempted, plain.failed + m.failed + more,
      if (plain.latMs.isEmpty) Nil else m.latMs)
  }
}
