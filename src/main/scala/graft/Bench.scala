package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs the headline queries (GraftQuery.bench) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is fully executed
  * (count() of the final plan — results are small aggregates/top-ks, so this
  * measures the pipeline, not the driver collect).
  */
object Bench {
  /** Bench-only: the a3 sketches without their exact-answer companions.
    * The gate query (a3_approx_sketch) computes sketch AND exact side by
    * side to emit its correctness booleans; at 100 TB only the sketch
    * would run, so the bench measures the operator alone here. Lives
    * outside SparkEntry.queries on purpose — it has no oracle form. */
  private def a3SketchOnly(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.lineitem(spark, d).agg(
      approx_count_distinct(col("l_partkey")).as("apx_parts"),
      expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)").as("apx_q"))
  }

  /** Bench-only: the s11 DML statement sequence against a
    * merge_mode='mor' twin table — the direct copy-on-write / merge-on-read
    * A/B the driver tracks per round (compare to s11_sql_dml's number).
    * The MERGE/UPDATE/DELETE statements commit equality-delete slices
    * instead of rewriting touched buckets, and the final read goes
    * through the live slices. No oracle form on purpose: flow
    * correctness is s26_merge_on_read's gate; this measures the
    * operator. */
  private def morDmlOnly(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    operators.DmlFixture.register(spark)
    val cutoff = lit("2024-01-16 00:00:00").cast(TimestampType)
    val ev = Tables.events(spark, d)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    def latest(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("user_id")).agg(max_by(
        struct(col("event_id"), col("event_type"), col("cents")),
        struct(col("ts"), col("event_id"))).as("r"))
    latest(ev.filter(col("ts") < cutoff && col("user_id") % 3 =!= 0))
      .select(col("user_id"), col("r.event_id").as("event_id"),
        col("r.cents").as("cents"))
      .createOrReplaceTempView("bm_base")
    latest(ev.filter(col("ts") >= cutoff && col("user_id") % 5 =!= 1))
      .select(col("user_id"), col("r.event_id").as("c_event"),
        col("r.cents").as("c_cents"),
        when(col("r.event_type") === "purchase", "delete")
          .otherwise("upsert").as("op"))
      .createOrReplaceTempView("bm_chg")
    spark.sql("DROP TABLE IF EXISTS graftdml.bench_mor")
    spark.sql("""CREATE TABLE graftdml.bench_mor
      (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8',
        'merge_mode'='mor')""")
    spark.sql("INSERT INTO graftdml.bench_mor SELECT user_id, event_id, cents FROM bm_base")
    spark.sql("""MERGE INTO graftdml.bench_mor t USING bm_chg c
      ON t.user_id = c.user_id
      WHEN MATCHED AND c.op = 'delete' THEN DELETE
      WHEN MATCHED THEN UPDATE SET event_id = c.c_event, cents = c.c_cents
      WHEN NOT MATCHED AND c.op <> 'delete' THEN
        INSERT (user_id, event_id, cents) VALUES (c.user_id, c.c_event, c.c_cents)""")
    spark.sql("UPDATE graftdml.bench_mor SET cents = cents + 100 WHERE user_id % 7 = 0")
    spark.sql("DELETE FROM graftdml.bench_mor WHERE cents < 500")
    spark.sql("SELECT user_id, event_id, cents FROM graftdml.bench_mor")
  }

  /** Bench-only: the plan-from-metadata guard. Builds a days()-partitioned
    * store table whose slot count is LARGE relative to its data (~150 days
    * × 8 buckets ≈ 1200 leaf dirs), then runs a batch of pruned one-day
    * aggregates and partition∩bucket point lookups across the span. With
    * [[org.apache.spark.sql.GraftSlotFileIndex]] authoring the scan's file
    * listing from the version manifests, each pruned query
    * plans from metadata in milliseconds regardless of slot count; a
    * regression to plan-time directory listing multiplies this row several
    * times over (the pre-r12 shape measured ~4 s PER QUERY at 2k slots;
    * DESIGN.md "Measured scaling evidence"). No oracle form on purpose:
    * pruning correctness is s30/s30b's gate; this row pins plan-time COST
    * into the driver's bench series. */
  private def planMetadataOnly(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    operators.DmlFixture.register(spark)
    // thin the events stream hard, then spread 60 day-shifted replicas so
    // the partition count is high while the per-day data stays tiny — the
    // row measures planning, not scanning (slot count ~90 days × 4
    // buckets ≈ 360 regardless of scale factor; row count stays small —
    // the fixture INSERT's cost is writer-opens per slot, so slot count
    // balances build overhead against plan-regression signal)
    Tables.events(spark, d).filter(col("event_id") % 170 === 0)
      .withColumn("__r", explode(sequence(lit(0), lit(59))))
      .select((col("event_id") * 120 + col("__r")).as("k"),
        (col("ts") + expr("make_interval(0,0,0,__r,0,0,0)")).as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("bp_src")
    spark.sql("DROP TABLE IF EXISTS graftdml.bench_part")
    spark.sql("""CREATE TABLE graftdml.bench_part
      (k BIGINT NOT NULL, ts TIMESTAMP, cents BIGINT) USING graft
      PARTITIONED BY (days(ts))
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    // the fixture INSERT writes ~1200 near-empty slot files; at the
    // default 64 MB advisory size AQE's rebalance coalesces them into ONE
    // task that opens 1200 parquet writers serially — shrink the advisory
    // size for the build so writer opens fan out across the cores (the
    // row measures plan cost, not fixture-build serialization).
    // minPartitionSize must shrink WITH it: AQE's effective coalesce
    // target is max(advisory, minPartitionSize), so a small advisory
    // alone still coalesced the ~200 KB batch into ONE task (measured
    // r16: 6 single-task jobs, ~6-9 s of serial writer opens). 64 KB
    // rather than 1 KB: the target must stay coarse enough that the
    // task count tracks data volume gently across scale factors instead
    // of exploding into thousands of near-empty tasks at sf0.1
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minPartKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val savedAdvisory = spark.conf.getOption(advisoryKey)
    val savedMinPart = spark.conf.getOption(minPartKey)
    spark.conf.set(advisoryKey, "64KB")
    spark.conf.set(minPartKey, "64KB")
    val tIns0 = System.nanoTime()
    try spark.sql("INSERT INTO graftdml.bench_part SELECT * FROM bp_src")
    finally {
      savedAdvisory.fold(spark.conf.unset(advisoryKey))(
        spark.conf.set(advisoryKey, _))
      savedMinPart.fold(spark.conf.unset(minPartKey))(
        spark.conf.set(minPartKey, _))
    }
    System.err.println(f"[bp] insert ${(System.nanoTime() - tIns0) / 1e9}%.2f s")
    val r = spark.sql("SELECT CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE) " +
      "FROM graftdml.bench_part").head()
    val (d0, d1) = (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
    val span = (d1.toEpochDay - d0.toEpochDay).toInt
    val tQ0 = System.nanoTime()
    (1 to 12).foreach { i =>
      val day = d0.plusDays(math.max(1L, i.toLong * span / 13))
      spark.sql(s"SELECT SUM(cents) FROM graftdml.bench_part WHERE " +
        s"ts >= timestamp'$day 00:00:00' AND " +
        s"ts < timestamp'${day.plusDays(1)} 00:00:00'").head()
      spark.sql(s"SELECT * FROM graftdml.bench_part WHERE k = ${i * 1207} " +
        s"AND ts >= timestamp'$day 00:00:00' AND " +
        s"ts < timestamp'${day.plusDays(1)} 00:00:00'").count()
    }
    System.err.println(f"[bp] 24 pruned queries ${(System.nanoTime() - tQ0) / 1e9}%.2f s")
    spark.sql("SELECT SUM(cents) AS s, COUNT(*) AS n FROM graftdml.bench_part")
  }

  /** Bench-only: the S39 materialized-view lifecycle at bench scale —
    * events-derived store table, CREATE MATERIALIZED VIEW (initial
    * materialization), the s26-style DML statement burst, ONE
    * incremental `refresh_mv` folding it, and the MV read. The refresh
    * leg is the number that must stay ∝ changes + |view| at any table
    * size (DESIGN.md "Measured scaling evidence" records the flatness;
    * this row pins the absolute cost into the driver's series). No oracle
    * form on purpose: flow correctness is s39_materialized_view's gate. */
  private def mvRefreshOnly(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    operators.DmlFixture.register(spark)
    val ev = Tables.events(spark, d)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    ev.groupBy(col("user_id")).agg(max_by(
        struct(col("event_id"), col("cents")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.event_id").as("event_id"),
        col("r.cents").as("cents"))
      .createOrReplaceTempView("bmv_base")
    spark.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.bench_mv")
    spark.sql("DROP TABLE IF EXISTS graftdml.bench_mv_t")
    spark.sql("""CREATE TABLE graftdml.bench_mv_t
      (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
    spark.sql("INSERT INTO graftdml.bench_mv_t SELECT * FROM bmv_base")
    spark.sql("""CREATE MATERIALIZED VIEW graftdml.bench_mv AS
      SELECT user_id % 97 AS g, COUNT(*) AS n, SUM(cents) AS s
      FROM graftdml.bench_mv_t GROUP BY user_id % 97""")
    spark.sql("UPDATE graftdml.bench_mv_t SET cents = cents + 100 " +
      "WHERE user_id % 7 = 0")
    spark.sql("DELETE FROM graftdml.bench_mv_t WHERE cents < 500")
    spark.sql("INSERT INTO graftdml.bench_mv_t " +
      "SELECT -1 - id, id, id * 3 FROM range(0, 5000)")
    val mode = spark.sql("CALL graftdml.refresh_mv(view => 'bench_mv')")
      .head().getString(1)
    require(mode == "incremental", s"bench_mv refresh ran '$mode'")
    spark.sql("SELECT g, n, s FROM graftdml.bench_mv")
  }

  /** Bench-only: the S39b star-join MV fold — the s39 lifecycle shape
    * with the view a fact⋈dim rollup, so the incremental refresh's delta
    * plan joins the CHANGELOG SLICE to the pinned dim (the fact table
    * never appears in it). Commit-latency-bound like its single-table
    * sibling; DESIGN.md "Measured scaling evidence" records its scale
    * separation. */
  private def mvJoinRefreshOnly(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    operators.DmlFixture.register(spark)
    val ev = Tables.events(spark, d)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    ev.groupBy(col("user_id")).agg(max_by(
        struct(col("event_id"), col("cents")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.cents").as("cents"),
        pmod(col("user_id"), lit(997L)).as("dk"))
      .createOrReplaceTempView("bmvj_base")
    spark.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.bench_mvj")
    spark.sql("DROP TABLE IF EXISTS graftdml.bench_mvj_f")
    spark.sql("DROP TABLE IF EXISTS graftdml.bench_mvj_d")
    spark.sql("""CREATE TABLE graftdml.bench_mvj_f
      (user_id BIGINT NOT NULL, cents BIGINT, dk BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
    spark.sql("""CREATE TABLE graftdml.bench_mvj_d
      (dk BIGINT NOT NULL, grp BIGINT, w BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='dk', 'buckets'='2')""")
    spark.sql("INSERT INTO graftdml.bench_mvj_f SELECT * FROM bmvj_base")
    spark.sql("INSERT INTO graftdml.bench_mvj_d " +
      "SELECT id, id % 97, id % 11 + 1 FROM range(0, 997)")
    spark.sql("""CREATE MATERIALIZED VIEW graftdml.bench_mvj AS
      SELECT d.grp AS g, COUNT(*) AS n, SUM(f.cents * d.w) AS s
      FROM graftdml.bench_mvj_f f JOIN graftdml.bench_mvj_d d
      ON f.dk = d.dk GROUP BY d.grp""")
    spark.sql("UPDATE graftdml.bench_mvj_f SET cents = cents + 100 " +
      "WHERE user_id % 7 = 0")
    spark.sql("DELETE FROM graftdml.bench_mvj_f WHERE cents < 500")
    spark.sql("INSERT INTO graftdml.bench_mvj_f " +
      "SELECT -1 - id, id * 3, id % 997 FROM range(0, 5000)")
    val mode = spark.sql("CALL graftdml.refresh_mv(view => 'bench_mvj')")
      .head().getString(1)
    require(mode == "incremental", s"bench_mvj refresh ran '$mode'")
    spark.sql("SELECT g, n, s FROM graftdml.bench_mvj")
  }

  /** Bench-only: d1's 100 TB path — the single no-Expand sketch aggregate
    * without the exact-distinct verification side the d1/d1_sketch_profile
    * gates carry. Same rationale as a3SketchOnly: measure the operator a
    * large corpus would actually run. */
  private def d1SketchOnly(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    operators.ProfileQueries.sketchProfile(operators.ProfileQueries.profileInput(spark, d))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        classOf[graft.sources.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm each headline query once at the smallest sf: schemas are
    // identical across scale factors, so this compiles the same
    // whole-stage-codegen classes and JITs the same paths — the measured
    // numbers below are then engine throughput at sfDir, not compiler
    // latency (methodology recorded in BASELINE.md)
    val all: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      SparkEntry.benchNames.map(n => n -> SparkEntry.queries(n)) :+
        ("a3_sketch_only" -> (a3SketchOnly _)) :+
        ("d1_sketch_only" -> (d1SketchOnly _)) :+
        ("s26_mor_dml_only" -> (morDmlOnly _)) :+
        ("s30_plan_metadata_only" -> (planMetadataOnly _)) :+
        ("s39_mv_refresh_only" -> (mvRefreshOnly _)) :+
        ("s39b_mv_join_only" -> (mvJoinRefreshOnly _))
    // local-iteration filter (the driver never sets it): run only the
    // named rows — total then covers the subset, so compare per-row only
    val benched = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val want = names.split(",").map(_.trim).toSet
        all.filter { case (n, _) => want.contains(n) }
      case None => all
    }
    benched.foreach { case (_, build) =>
      try build(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    val results = benched.map { case (name, build) =>
      val t0 = System.nanoTime()
      try { build(spark, sfDir).count() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        e.printStackTrace()
        -1L
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Host-health probe: this box is a shared VM and its effective speed
    // swings >10x between rounds (hypervisor steal, timer-wakeup latency,
    // write throughput) — observed 2026-08-13: q1 0.52s -> 6.2s with the
    // binary unchanged. The probe stamps each bench line with the host
    // state it was measured under, so cross-round comparisons can be
    // normalized instead of misread as engine regressions.
    // loop_ms: fixed single-thread arithmetic (JIT-warmed) — CPU speed.
    // sleep_ms: 100 x 1ms sleeps — scheduler/timer wakeup latency
    // (healthy ~110-150ms; an oversubscribed hypervisor shows 2-5x).
    // eff_cores: 32 threads each running the SAME spin loop concurrently;
    //   effective cores = 32 * single_thread_ms / parallel_wall_ms. The r6
    //   incident measured "~10 effective cores" under hypervisor steal while
    //   the single-thread probes read healthy — this is the probe that
    //   single-thread loop_ms cannot substitute for. Healthy: ~25-32.
    // dio_w_mbps: 32 MiB O_DIRECT write (dd oflag=direct, bypasses page
    //   cache) — the r6 incident measured 8.3 MB/s vs healthy 250-450.
    //   Write-heavy rows (s10/s11/s26, g3's localCheckpoints) inflate with
    //   this number while CPU probes stay green.
    val (loopMs, effCores) = HostProbe.cpu()
    val sleepMs = {
      val t0 = System.nanoTime()
      var i = 0; while (i < 100) { Thread.sleep(1); i += 1 }
      (System.nanoTime() - t0) / 1000000
    }
    val dioMbps = HostProbe.directIoWriteMbps()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","host":{"loop_ms":$loopMs,"sleep100x1ms_ms":$sleepMs,"eff_cores":$effCores%.1f,"dio_w_mbps":$dioMbps%.1f}}""")
    spark.stop()
  }
}
