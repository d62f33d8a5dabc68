package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and prints one `PERFBENCH_RESULT` JSON line
  * for `perfbench/run.py` to turn into the benchmark's result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <dir> --work <dir>
  *
  * An untraced pass always runs: `--seconds` of the workload's closed or
  * open loop after the workload's set-ups, then the correctness check. With
  * `--trace 1` a traced pass follows on freshly set-up state with Spark's
  * listeners attached, and the per-layer numbers come from it. A second
  * untraced pass follows on fresh state; the traced pass's mean op latency
  * against that pass's is the tracing overhead. The first pass is not the
  * base: it still pays for JIT warm-up that the later passes do not. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "ingest" -> Ingest,
    "mixed_mor" -> MixedMor,
    "analytics" -> Analytics)

  /** Set-ups before the first pass; `setup_s` is their median, so the
    * first, cold one never is. */
  val SetupRepeats = 3

  /** Every per-layer metric a traced pass reports. A layer the workload
    * bypasses reads 0. */
  val LayerNames: Seq[String] = Seq(
    "plan.ms_per_op", "exec.jobs_per_op", "exec.stages_per_op",
    "exec.tasks_per_op", "exec.job_wall_ms_per_op", "commit.gap_ms_per_op",
    "write.files_per_commit", "write.bytes_per_user_byte",
    "sink.bytes_rewritten_per_frame", "scan.bytes_per_op",
    "scan.rows_per_row_returned", "shuffle.write_bytes_per_op",
    "shuffle.fetch_wait_ms", "task.run_ms_per_op", "task.cpu_ms_per_op",
    "jvm.gc_ms", "meta.snapshot_files_ms", "store.versions",
    "store.files_live", "mor.dv_rows_live", "optimize.ms",
    "optimize.bytes_rewritten", "bus.append_ms_p50", "bus.count_ms",
    "bus.log_bytes", "source.latest_offset_ms", "source.get_batch_ms",
    "source.lag_frames_max", "sink.upsert_ms_p50", "sink.buckets_touched",
    "sink.splits", "stream.trigger_overhead_ms", "gen.late_ms_max",
    "trace.overhead_pct") ++
    Analytics.Rows.flatMap(r => Seq(s"operators.${r}_s", s"operators.$r.shuffle_bytes"))

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"))
  }

  def session(args: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.extensions", classOf[graft.sources.GraftExtensions].getName)
      .config("spark.sql.catalog.graftdml", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.graftdml.warehouse", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def host(): Map[String, Any] = {
    val (loopMs, effCores) = graft.HostProbe.cpu(threads =
      Runtime.getRuntime.availableProcessors())
    Map("loop_ms" -> loopMs, "eff_cores" -> effCores,
      "dio_w_mbps" -> graft.HostProbe.directIoWriteMbps())
  }

  private val t0 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  /** One short pass of every workload, so a class-data-sharing archive
    * taken at exit holds the classes any run loads. */
  private def train(args: Args): Unit = {
    val spark = session(args)
    Workloads.values.foreach { w =>
      w.setup(spark, args)
      w.run(spark, args, None)
    }
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.workload == "train") return train(args)
    val w = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val spark = session(args)
    mark("session up")
    val hostBefore = host()
    mark("host probed")
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      w.setup(spark, args)
      (System.nanoTime() - t0) / 1e9
    }
    mark(s"set up ${setups.mkString(", ")}")
    val plain = w.run(spark, args, None)
    mark("untraced pass done")
    val (traced, after) = if (!args.trace) (None, None) else {
      w.setup(spark, args)
      val t = new Tracer(spark)
      t.install()
      val g0 = Tracer.gcMs()
      val r = try w.run(spark, args, Some(t)) finally t.remove()
      val gc = Tracer.gcMs() - g0
      mark("traced pass done")
      w.setup(spark, args)
      val again = w.run(spark, args, None)
      mark("second untraced pass done")
      (Some(r.copy(layers = LayerNames.map(_ -> 0.0).toMap ++ r.layers ++ Map(
        "jvm.gc_ms" -> gc.toDouble,
        "trace.overhead_pct" -> 100.0 * (r.e2e("op_ms_mean") / again.e2e("op_ms_mean") - 1)))),
        Some(again))
    }
    val passes = plain +: (traced.toSeq ++ after.toSeq)
    val out = Map[String, Any](
      "correct" -> passes.forall(_.correct),
      "attempted" -> passes.map(_.log.attempted).sum,
      "failed" -> passes.map(_.log.failed).sum,
      "ops" -> passes.flatMap(_.log.byKind).groupBy(_._1).map { case (k, xs) =>
        k -> Map("attempted" -> xs.map(_._2).sum, "failed" -> xs.map(_._3).sum) },
      "e2e" -> (plain.e2e + ("setup_s" -> Stats.median(setups))),
      "detail" -> (plain.detail + ("setup_samples_s" -> setups)),
      "traced_e2e" -> traced.map(_.e2e),
      "second_untraced_e2e" -> after.map(_.e2e),
      "layers" -> traced.map(_.layers),
      "host_before" -> hostBefore,
      "host_after" -> host())
    println("PERFBENCH_RESULT " + Json.value(out))
    spark.stop()
  }
}
