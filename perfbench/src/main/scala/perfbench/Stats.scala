package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be unit
  * tested: percentiles with a sample floor, the join of frame due-times to
  * epoch commit times, and the job-interval union behind `commit.gap_ms`. */
object Stats {

  /** Samples a percentile needs beyond it before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank `q`-quantile of `xs`, or None when fewer than `beyond`
    * samples rank above it (a p50 needs 20 samples, a p90 needs 100).
    * A failed op enters as `Double.PositiveInfinity`: it counts as a
    * sample that missed every percentile, so a run with too many failures
    * reports an infinite percentile instead of a flattering one. */
  def percentile(xs: Seq[Double], q: Double, beyond: Int = MinBeyond): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.size
    // rank = ceil(q * n), guarded against 0.9 * 100 = 90.00000000000001
    val rank = math.max(1, math.ceil(q * n - 1e-9).toInt)
    if (n == 0 || n - rank < beyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  /** Geometric mean: no sample dominates by size. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest of p99, p95, p90, p75, p50 with its sample floor met, as
    * (quantile, value). */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).iterator
      .flatMap(q => percentile(xs, q).map(q -> _)).nextOption()

  /** A frame as the producer scheduled it: its position in its topic log
    * and the instant (ns) it was due to be appended. */
  final case class Frame(topic: String, offset: Long, dueNs: Long)

  /** A committed epoch: the per-topic end offsets (exclusive frame counts)
    * it read up to, and the instant (ns) its sink commit returned. */
  final case class Epoch(endOffsets: Map[String, Long], commitNs: Long)

  /** Freshness per frame: the time from its due instant to the commit of
    * the first epoch (in commit order) whose end offset covers it. Frames
    * no committed epoch covers come back as None. */
  def freshnessMs(frames: Seq[Frame], epochs: Seq[Epoch]): Seq[Option[Double]] = {
    val ordered = epochs.sortBy(_.commitNs).toIndexedSeq
    val byTopic: Map[String, (Array[Long], Array[Long])] =
      ordered.flatMap(_.endOffsets.keys).distinct.map { t =>
        // running max, so a later epoch never "uncovers" a frame
        val ends = ordered.map(_.endOffsets.getOrElse(t, 0L)).scanLeft(0L)(math.max).tail
        t -> (ends.toArray, ordered.map(_.commitNs).toArray)
      }.toMap
    frames.map { f =>
      byTopic.get(f.topic).flatMap { case (ends, commits) =>
        // first epoch whose end offset exceeds the frame's offset
        var lo = 0
        var hi = ends.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ends(mid) > f.offset) hi = mid else lo = mid + 1
        }
        if (lo == ends.length) None else Some((commits(lo) - f.dueNs) / 1e6)
      }
    }
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time of one op that is neither planning nor a Spark job:
    * its wall time minus its plan time minus the union of the job
    * intervals clipped to the op's window. Overlapping jobs count once. */
  def commitGap(opStart: Long, opEnd: Long, planTime: Long,
                jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, opStart), math.min(e, opEnd)) }
    (opEnd - opStart) - planTime - unionLength(clipped)
  }
}
