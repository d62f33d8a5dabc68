package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("a percentile needs 10 samples beyond it") {
    val xs19 = (1 to 19).map(_.toDouble)
    assert(percentile(xs19, 0.5).isEmpty)
    assert(percentile(xs19 :+ 20.0, 0.5).contains(10.0))
    assert(percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    // 0.9 * 100 is 90.00000000000001 in floating point; the rank is 90
    assert(percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(percentile(Nil, 0.5).isEmpty)
    assert(percentile((1 to 10).map(_.toDouble), 0.5, beyond = 5).contains(5.0))
  }

  test("a failed op counts as missing the percentile") {
    val ok = (1 to 100).map(_.toDouble)
    val withFailures = ok.take(85) ++ Seq.fill(15)(Double.PositiveInfinity)
    assert(percentile(withFailures, 0.5).contains(50.0))
    assert(percentile(withFailures, 0.9).contains(Double.PositiveInfinity))
  }

  test("median, means and the highest percentile with its floor") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    assert(math.abs(geomean(Seq(1.0, 10.0, 100.0)) - 10.0) < 1e-9)
    assert(tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(tail((1 to 40).map(_.toDouble)) == Some((0.75, 30.0)))
    assert(tail((1 to 1000).map(_.toDouble)) == Some((0.99, 990.0)))
  }

  test("frames join the first epoch whose end offset covers them") {
    val ms = 1000000L
    val frames = Seq(
      Frame("a", 0, 0), Frame("a", 1, 10 * ms), Frame("a", 2, 20 * ms),
      Frame("b", 0, 5 * ms), Frame("b", 1, 30 * ms), Frame("c", 0, 0))
    val epochs = Seq(
      // listed out of commit order on purpose
      Epoch(Map("a" -> 3L, "b" -> 2L), 90 * ms),
      Epoch(Map("a" -> 1L, "b" -> 1L), 50 * ms))
    assert(freshnessMs(frames, epochs) == Seq(
      Some(50.0), Some(80.0), Some(70.0), Some(45.0), Some(60.0), None))
  }

  test("a frame beyond every epoch is not covered") {
    val epochs = Seq(Epoch(Map("a" -> 2L), 10L), Epoch(Map("a" -> 1L), 20L))
    // the later epoch reports a smaller offset; coverage never regresses
    assert(freshnessMs(Seq(Frame("a", 1, 0), Frame("a", 2, 0)), epochs) ==
      Seq(Some(10L / 1e6), None))
  }

  test("job intervals union and the commit gap count overlaps once") {
    assert(unionLength(Nil) == 0)
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20)
    assert(unionLength(Seq((10L, 20L), (0L, 5L), (5L, 10L))) == 20)
    assert(unionLength(Seq((3L, 3L), (8L, 4L))) == 0)
    // op 0..100 with 10 ms planning; jobs 10..40 and 30..60 overlap, and a
    // job that starts before the op is clipped to it
    assert(commitGap(0, 100, 10, Seq((10L, 40L), (30L, 60L), (-20L, 5L))) == 100 - 10 - 55)
    assert(commitGap(0, 100, 0, Nil) == 100)
  }
}
