package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 75) == 4.0)
  }

  test("tail picks the highest ladder percentile with 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    // p99 = 990.01 leaves exactly 10 samples (991..1000) above it
    assert(Stats.tail(xs)._1 == "p99")
    val ys = (1 to 200).map(_.toDouble)
    // p99 leaves 2, p95 leaves 10 (191..200)
    assert(Stats.tail(ys)._1 == "p95")
    assert(Stats.tail(ys)._2 == Stats.percentile(ys, 95))
    val zs = (1 to 40).map(_.toDouble)
    // p77 = 31.03 leaves 9; p76 = 30.64 leaves 10
    assert(Stats.tail(zs)._1 == "p76")
  }

  test("tail falls back to the median below 20 samples") {
    val xs = (1 to 19).map(_.toDouble)
    val (label, v) = Stats.tail(xs)
    assert(label == "p50-fallback")
    assert(v == 10.0)
    // p52 = 10.88 leaves 10 (11..20), p53 = 11.07 leaves 9
    assert(Stats.tail((1 to 20).map(_.toDouble))._1 == "p52")
  }

  test("tied samples do not count as beyond the tail") {
    val xs = Seq.fill(30)(1.0) ++ Seq.fill(5)(2.0)
    assert(Stats.tail(xs)._1 == "p50-fallback")
  }

  test("interval union counts overlaps once and skips gaps") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("driver gap is the operation time outside every job") {
    // an operation from 0 to 100 ms with overlapping jobs 10-30 and 20-50
    // and a job 60-70: 50 ms busy, 50 ms gap
    val jobs = Seq((10L, 30L), (20L, 50L), (60L, 70L))
    val busy = Stats.coveredWithin(0, 100, jobs)
    assert(busy == 50)
    assert(100 - busy == 50)
    // jobs are clipped to the operation
    assert(Stats.coveredWithin(25, 65, jobs) == 30)
  }

  test("a span's self time excludes what its children cover") {
    val op = Span("q", "query", 1, 1000, 1400, 400000000L,
      Seq(Span("build", "build", 1, 1000, 1100, 100000000L),
        Span("sink", "sink", 1, 1150, 1400, 250000000L)))
    assert(math.abs(op.selfSeconds - 0.05) < 1e-9)
  }
}
