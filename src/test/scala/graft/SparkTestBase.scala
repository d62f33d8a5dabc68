package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession (getOrCreate
  * dedupes across suites), local[4], UTC, small shuffle fan-out. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf = "/root/testdata/sf0.001"

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) each key afterwards — the session is JVM-shared across
    * suites, so leaks would bleed into other tests. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Where version `v`'s changelog slice was staged before its pointer
    * move: the staging name, with the build token the move record names,
    * that recovery publishes. */
  def stagedSlice(dir: String, v: Long): java.nio.file.Path = {
    val rec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_log", f"$v%010d")), "UTF-8").trim
    java.nio.file.Paths.get(graft.sources.GraftStore.changesStaging(dir, v,
      rec.split(" ")(1)))
  }

  /** Put table `dir` back in the crash window before version `v`'s
    * pointer move: the version built under its build name, its changelog
    * slice staged, the move never recorded. */
  def unpublish(dir: String, v: Long): Unit = {
    import java.nio.file.{Files, Paths}
    val record = Paths.get(dir, "_log", f"$v%010d")
    val token = new String(Files.readAllBytes(record), "UTF-8").trim
      .split(" ")(1)
    val vd = graft.sources.GraftStore.versionDir(dir, v)
    val slice = Paths.get(graft.sources.GraftStore.changesRoot(dir),
      s"change_version=$v")
    if (Files.exists(slice)) Files.move(slice, stagedSlice(dir, v))
    Files.move(Paths.get(vd), Paths.get(s"$vd.build-$token"))
    Files.delete(record)
    Files.write(Paths.get(dir, "_current"), (v - 1).toString.getBytes("UTF-8"))
  }

  /** Data files planned by the (executed) query's DSv2 batch scans,
    * walking through AQE stage nesting; merge-on-read filter partitions
    * count as planned reads (one file each in `files`). The SHARED
    * helper — spec-local copies had already diverged on the mor shape. */
  def filesPlanned(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case other => other.collectLeaves().flatMap {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case qs: QueryStageExec => leaves(qs.plan)
        case l => Seq(l)
      }
    }
    leaves(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDDs().head.partitions.map {
          case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            p.inputPartitions.map {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.length.toLong
              case mp: org.apache.spark.sql.GraftMorFilterPartition =>
                mp.files.length.toLong
              case _ => 0L
            }.sum
          case _ => 0L
        }.sum
    }.sum
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions",
        classOf[graft.sources.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
