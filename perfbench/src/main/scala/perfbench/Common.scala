package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed operation of a workload's client. Times are wall-clock
  * milliseconds (for joining to Spark listener timestamps) plus a
  * nanosecond duration for the latency itself. */
final case class Op(kind: String, startMs: Long, endMs: Long, nanos: Long, ok: Boolean)

/** Ops of one timed region, with attempted/failed counts per op type. A
  * failed op prints its exception class and full stack trace to stderr and
  * counts as missing every percentile. */
final class OpLog {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty

  def timed[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind failed: ${e.getClass.getName}")
          e.printStackTrace(System.err)
          None
      }
    ops += Op(kind, t0, System.currentTimeMillis(), System.nanoTime() - n0, r.isDefined)
    r
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  /** Latencies in ms of the given kinds; failed ops enter as +Inf. */
  def latencies(kinds: String => Boolean = _ => true): Seq[Double] =
    ops.filter(o => kinds(o.kind)).map(o =>
      if (o.ok) o.nanos / 1e6 else Double.PositiveInfinity).toSeq

  def byKind: Seq[(String, Int, Int)] =
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      (k, os.size, os.count(!_.ok)) }
}

object OpLog {
  /** A workload's end-to-end numbers over the ops of `log` whose kind
    * `kinds` selects: the geometric mean over those kinds of each kind's
    * median latency, the mean latency of all those ops, and `perSecond`,
    * the workload's throughput. Per-kind medians keep one slow op from
    * moving the first, and a pooled median of a few ops of several kinds
    * would fall between two kinds and jump between seeds. */
  def e2e(log: OpLog, kinds: String => Boolean, perSecond: Double): Map[String, Double] = {
    val medians = log.ops.map(_.kind).distinct.filter(kinds)
      .map(k => Stats.median(log.latencies(_ == k))).toSeq
    Map(
      "op_ms_geomean" -> Stats.geomean(medians),
      "op_ms_mean" -> Stats.mean(log.latencies(kinds)),
      "ops_per_s" -> perSecond)
  }

  /** Median, highest percentile with its sample floor, and sample count. */
  def summary(ms: Seq[Double]): Map[String, Any] = Map(
    "median" -> Stats.median(ms),
    "tail" -> Stats.tail(ms).map { case (q, v) => Map("q" -> q, "ms" -> v) },
    "n" -> ms.size)
}

/** Result of one pass of a workload: its end-to-end numbers, its ops, the
  * correctness verdict and the per-layer numbers (traced passes only). */
final case class PassResult(
    e2e: Map[String, Double],
    detail: Map[String, Any],
    log: OpLog,
    correct: Boolean,
    layers: Map[String, Double])

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, data: String, work: String)

trait Workload {
  /** Builds the state the timed region runs against. */
  def setup(spark: SparkSession, args: Args): Unit

  /** Whole units of work (cycles, passes) a pass runs for `seconds` when
    * one unit takes about `nominalS` on a 4-core host. The work is fixed by
    * `--seconds`, not by the clock, so a slow host measures the same ops. */
  def units(seconds: Int, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)
  def run(spark: SparkSession, args: Args, tracer: Option[Tracer]): PassResult
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double =>
      if (d.isNaN) "null"
      else if (d.isInfinite) (if (d > 0) "1e308" else "-1e308")
      else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Fs {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  /** Regular files under `dir`, none if it is absent. */
  def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) return Seq.empty
    val s = JFiles.walk(root)
    try s.iterator().asScala.filter(JFiles.isRegularFile(_)).toList
    finally s.close()
  }

  def bytes(dir: String): Long = walk(dir).map(JFiles.size).sum

  def deleteRecursively(dir: String): Unit = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) return
    val s = JFiles.walk(root)
    try s.iterator().asScala.toList.reverse.foreach(JFiles.deleteIfExists)
    finally s.close()
  }
}
