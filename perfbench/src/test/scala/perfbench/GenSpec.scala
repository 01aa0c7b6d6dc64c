package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator's contract: a seed fixes the bytes, the injected anomaly
  * rates match the reference producer's, and the truth it reports for an
  * offset range agrees with the events in that range.
  */
class GenSpec extends AnyFunSuite {
  private val due = 1706745600000L
  private val n = 100000

  test("the same seed gives the same bytes; another seed does not") {
    val a = (0 until 1000).map(i => Gen.payload(7, i, due + i))
    val b = (0 until 1000).map(i => Gen.payload(7, i, due + i))
    val c = (0 until 1000).map(i => Gen.payload(8, i, due + i))
    assert(a == b)
    assert(a.zip(c).count { case (x, y) => x != y } > 990)
  }

  test("injected rates are within tolerance of the reference mix") {
    val t = Gen.truth(11, 0, n)
    val missing = (0 until n).count(i => Gen.anomalyOf(11, i).missing != 0)
    assert(math.abs(t.late.toDouble / n - Gen.LateRate) < 0.003)
    assert(math.abs(missing.toDouble / n - Gen.MissingRate) < 0.0015)
    assert(math.abs(t.dqFailed.toDouble / n - Gen.MissingRate / 2) < 0.001)
    assert(t.drift == n / Gen.DriftEvery)
  }

  test("late events are backdated by 1 to 24 hours") {
    (0 until 20000).map(i => Gen.anomalyOf(3, i)).filter(_.late).foreach { a =>
      assert(a.lateMs >= Gen.MinLateMs && a.lateMs <= Gen.MaxLateMs)
    }
  }

  test("payloads carry exactly the injected anomalies") {
    (0 until 5000).foreach { i =>
      val a = Gen.anomalyOf(5, i)
      val p = Gen.payload(5, i, due)
      assert(p.contains("\"country\":") == (a.missing != 1))
      assert(p.contains("\"plan\":") == (a.missing != 2))
      assert(p.contains(s"\"event_ts\":${due - a.lateMs},"))
      assert(p.contains(s"\"version\":${a.version}"))
      assert(p.contains("\"customer_segment\":") == (a.version == 3))
    }
  }

  test("truth over a range is the sum over its parts") {
    assert(Gen.truth(9, 0, 3000) == Gen.truth(9, 0, 1234) +
      Gen.truth(9, 1234, 3000))
  }
}
