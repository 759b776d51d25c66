package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 50.0) == 20.0)
    assert(Stats.percentile(xs, 75.0) == 30.0)
    assert(Stats.percentile(xs, 100.0) == 40.0)
    assert(Stats.percentile(Seq(7.0), 75.0) == 7.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    // 40 samples: p75 is rank 30 with 10 beyond; p90 would leave 4
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("interval union counts overlaps once and ignores empty intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 100L))) == 100L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
  }

  test("gap share is wall time outside the union of job intervals") {
    // window 0..100, jobs cover 10..40 and 30..60 (50 ns) and stick out
    // past the window at 90..120 (10 ns inside)
    assert(Stats.gapShare(0L, 100L, Seq((10L, 40L), (30L, 60L), (90L, 120L))) == 0.4)
    assert(Stats.gapShare(0L, 100L, Nil) == 1.0)
    assert(Stats.gapShare(0L, 100L, Seq((0L, 100L), (20L, 30L))) == 0.0)
    assert(Stats.gapShare(5L, 5L, Nil) == 0.0)
  }

  test("self time subtracts the covered part of the children") {
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    // overlapping children count once; a child running past the parent
    // is cut to the parent's window
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 150L))) == 60L)
  }
}
