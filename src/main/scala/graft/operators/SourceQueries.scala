package graft.operators

import graft.{Det, GraftQuery, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-checkable gate queries for the source/sink rows that were
  * previously sbt-only (S2 multi-format scans, S4 partitioned writes):
  * each query WRITES through the surface under test into a temp dir,
  * reads its own output back, and emits values the DuckDB oracle can
  * recompute from the original table — plus booleans binding the on-disk
  * artifacts (codec-tagged filenames, one dir per partition value) that
  * SQL alone can't see. Restart/exactly-once behavior (T6) stays
  * sbt-only by nature (`StreamingSpec`).
  *
  * Reference analogue: the sandboxed file workspace (filesys.hpp:107-507)
  * — write, list, read back, with a format allowlist.
  */
object SourceQueries {
  import Det._

  private def tmpDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Plan booleans for the MV-rewrite gates (s39c/s39d): the analyzed
    * plan's scanned table names, and whether the plan reads the given
    * MV's state table with the base table absent. Shared so the two
    * gates can never diverge on how a state scan is detected. */
  private def mvScans(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        rel.table.name()
    }.toSet

  private def usesMvState(df: org.apache.spark.sql.DataFrame,
      state: String, base: String): Boolean = {
    val sc = mvScans(df)
    sc.exists(_.contains(state)) && !sc.exists(_.endsWith(base))
  }

  /** Run `body` with the transparent rewrite off, restoring it even on
    * failure — a throw mid-gate must not leave the SHARED driver session
    * measuring the non-rewrite path for every later query. */
  private def withRewriteDisabled[A](s: org.apache.spark.sql.SparkSession)(
      body: => A): A = {
    // restore the PRIOR value, not a hardcoded "true": a session whose
    // kill switch was deliberately off must leave the gate with it off
    val key = "spark.graft.mv.rewrite.enabled"
    val prior = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Executes `df` and returns how many data FILES its STORE scans
    * actually planned — the measured evidence behind the bucket-pruning
    * gates (s18/s19/s21): pruning claims are pinned as file counts from
    * the executed plan, not inferred from EXPLAIN text. Unwraps adaptive
    * plans/query stages (leaf nodes from the outside) and counts only the
    * graft store's delegated scans, so a file-backed dim side never
    * pollutes the number. */
  private def filesPlanned(df: org.apache.spark.sql.DataFrame): Long = {
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
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.toString.contains("GraftScan") =>
        b.inputRDDs().head.partitions.map {
          case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            p.inputPartitions.map {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.length.toLong
              // a DV-live scan plans a bucket's filtered files as one
              // mor partition — those files are planned reads too
              case mp: org.apache.spark.sql.GraftMorFilterPartition =>
                mp.files.length.toLong
              case _ => 0L
            }.sum
          case _ => 0L
        }.sum
    }.sum
  }

  val queries: Seq[GraftQuery] = Seq(

    // ----- S2: csv / json / orc round-trip — write nation in each format,
    // read each back (explicit schema for the text formats: inference is a
    // scan-time behavior, not the semantics under test), emit per-format
    // row counts and key sums the oracle recomputes from the parquet
    // original. A format that dropped or mangled rows breaks the hash.
    GraftQuery("s2_multiformat_roundtrip", (s, d) => {
      import s.implicits._
      val nation = T.nation(s, d)
      val base = tmpDir("s2")
      val schema = nation.schema
      nation.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      nation.write.mode("overwrite").json(s"$base/json")
      nation.write.mode("overwrite").orc(s"$base/orc")
      val back = Seq(
        "csv" -> s.read.schema(schema).option("header", "true").csv(s"$base/csv"),
        "json" -> s.read.schema(schema).json(s"$base/json"),
        "orc" -> s.read.orc(s"$base/orc"))
      back.map { case (fmt, df) =>
        df.agg(
          lit(fmt).as("format"),
          count(lit(1)).as("n_rows"),
          sum($"n_nationkey").cast(LongType).as("sum_key"),
          sum(length($"n_name")).cast(LongType).as("sum_name_len"))
          .select($"format", $"n_rows", $"sum_key", $"sum_name_len")
      }.reduce(_ unionByName _).orderBy($"format")
    }, Some("""
      WITH t AS (SELECT COUNT(*) AS n_rows,
                   CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
                   CAST(SUM(length(n_name)) AS BIGINT) AS sum_name_len
                 FROM nation)
      SELECT f.format, t.n_rows, t.sum_key, t.sum_name_len
      FROM (VALUES ('csv'), ('json'), ('orc')) AS f(format), t
      ORDER BY f.format""")),

    // ----- S4: partitioned zstd write — write a lineitem projection
    // partitioned by l_returnflag with the zstd codec, read it back, and
    // emit per-partition counts/sums (oracle-recomputable) plus two
    // disk-level booleans: every data file carries the .zstd. codec tag in
    // its name, and the partition-pruned directory count equals the
    // distinct key count. At 100 TB this is the layout that makes
    // partition pruning work; the gate proves the writer actually
    // produces it.
    GraftQuery("s4_write_partitioned", (s, d) => {
      import s.implicits._
      val out = tmpDir("s4")
      T.lineitem(s, d).select($"l_orderkey", $"l_returnflag", $"l_quantity")
        .write.mode("overwrite").partitionBy("l_returnflag")
        .option("compression", "zstd").parquet(out)
      val back = s.read.parquet(out)
      val files = back.select(input_file_name().as("f")).distinct()
      val diskOk = files.agg(
        min($"f".contains(".zstd.")).as("all_zstd"),
        (size(collect_set(regexp_extract($"f", "l_returnflag=([^/]+)", 1))) ===
          lit(3)).as("three_partition_dirs"))
      back.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec($"l_quantity")).cast(DoubleType).as("sum_qty"))
        .crossJoin(broadcast(diskOk))
        .select($"l_returnflag", $"n", $"sum_qty",
          $"all_zstd", $"three_partition_dirs")
        .orderBy($"l_returnflag")
    }, Some(s"""
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(${sql.dec("l_quantity")}) AS DOUBLE) AS sum_qty,
        TRUE AS all_zstd, TRUE AS three_partition_dirs
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- S7: z-order (multi-dimensional clustering) layout — write
    // events clustered by the Morton interleave of (user_id, event time)
    // into 16 files, read back, and prove the layout: the average file
    // covers a narrow slice of the user range AND a narrow slice of the
    // time range simultaneously (a single-column sort is narrow in its own
    // column and spans ~the full range of the other — the baseline
    // computed below as equal-width time buckets). Contents are bound by
    // oracle-recomputable global aggregates; the per-file spans come off
    // input_file_name(), which SQL can't see, so they surface as booleans
    // with 2x slack over the ideal 1/4-per-dim coverage of a 16-cut
    // z-curve. At 100 TB this is what makes min/max file skipping answer
    // selective predicates on EITHER column.
    // ----- S8: bucketed (co-located) join — write orders and lineitem as
    // 8-bucket catalog tables hash-clustered and sorted on the order key,
    // then sort-merge join them WITHOUT shuffling either side: both scans
    // already expose the same hash-clustered distribution, so the only
    // exchanges in the whole query are the final rollup's. This is the
    // 100 TB join story: bucket both facts on the join key at write time
    // and every subsequent orderkey join is shuffle-free, forever. The
    // plan proof (zero Exchange operators in the join subtree, and the
    // join really is a SortMergeJoin, not a broadcast that would mask the
    // claim) is computed from the physical plan and emitted as oracle-
    // asserted booleans; the aggregate values bind the bucketed tables'
    // contents to the original parquet.
    GraftQuery("s8_bucketed_join", (s, d) => {
      import s.implicits._
      val wh = tmpDir("s8")
      s.sql("DROP TABLE IF EXISTS graft_s8_orders")
      s.sql("DROP TABLE IF EXISTS graft_s8_lineitem")
      T.orders(s, d).select($"o_orderkey", $"o_orderstatus")
        .write.mode("overwrite").option("path", s"$wh/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_s8_orders")
      T.lineitem(s, d).select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .write.mode("overwrite").option("path", s"$wh/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_s8_lineitem")
      val joined = s.table("graft_s8_lineitem").hint("merge")
        .join(s.table("graft_s8_orders"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      val colocated = plan.contains("SortMergeJoin")
      val noShuffle = !plan.contains("Exchange")
      joined.groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(discPrice($"l_extendedprice", $"l_discount")).cast(DoubleType).as("revenue"))
        .select($"o_orderstatus", $"n", $"revenue",
          lit(colocated).as("colocated_smj"), lit(noShuffle).as("no_join_shuffle"))
        .orderBy($"o_orderstatus")
    }, Some(s"""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(${sql.discPrice("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue,
        TRUE AS colocated_smj, TRUE AS no_join_shuffle
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    GraftQuery("s7_zorder_layout", (s, d) => {
      import s.implicits._
      val out = tmpDir("s7") + "/zorder"
      val src = T.events(s, d).select($"user_id", $"event_id",
        unix_micros($"ts").as("tsu"), vcents($"value").as("cents"))
      graft.Graft.zorderWrite(src, "user_id", "tsu", out, 16)
      val back = s.read.parquet(out)
      val bounds = back.agg(
        min($"user_id").as("ulo"), max($"user_id").as("uhi"),
        min($"tsu").as("tlo"), max($"tsu").as("thi"))
      val covs = back
        .select(input_file_name().as("f"), $"user_id", $"tsu")
        .crossJoin(broadcast(bounds))
        .groupBy($"f")
        .agg(
          ((max($"user_id") - min($"user_id")).cast(DoubleType) /
            (max($"uhi") - max($"ulo"))).as("ucov"),
          ((max($"tsu") - min($"tsu")).cast(DoubleType) /
            (max($"thi") - max($"tlo"))).as("tcov"))
        .agg(avg($"ucov").as("z_ucov"), avg($"tcov").as("z_tcov"),
          count(lit(1)).as("n_files"))
      // baseline: a pure time-ordered layout (16 equal-width time buckets)
      // — each bucket spans ~the whole user range
      val baseCov = back.crossJoin(broadcast(bounds))
        .withColumn("bkt", least(floor(($"tsu" - $"tlo").cast(DoubleType) /
          ($"thi" - $"tlo" + lit(1)) * 16), lit(15.0)))
        .groupBy($"bkt")
        .agg(((max($"user_id") - min($"user_id")).cast(DoubleType) /
          (max($"uhi") - max($"ulo"))).as("ucov"))
        .agg(avg($"ucov").as("base_ucov"))
      back.agg(count(lit(1)).as("n_rows"),
        sum($"cents").as("sum_cents"),
        countDistinct($"user_id").as("n_users"))
        .crossJoin(broadcast(covs))
        .crossJoin(broadcast(baseCov))
        .select($"n_rows", $"sum_cents", $"n_users",
          ($"n_files" === 16).as("sixteen_files"),
          ($"z_ucov" < 0.5).as("files_narrow_in_user"),
          ($"z_tcov" < 0.5).as("files_narrow_in_time"),
          ($"z_ucov" < $"base_ucov" * 0.6).as("beats_time_sorted_layout"))
    }, Some(s"""
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(${sql.vcents("value")}) AS BIGINT) AS sum_cents,
        COUNT(DISTINCT user_id) AS n_users,
        TRUE AS sixteen_files, TRUE AS files_narrow_in_user,
        TRUE AS files_narrow_in_time, TRUE AS beats_time_sorted_layout
      FROM events""")),

    // ----- S9: MERGE INTO (CDC changelog apply) — apply a change batch
    // with upserts AND deletes to a base snapshot, the batch half of the
    // compacted-store story (CompactingSink covers the streaming upsert
    // path; this adds the delete-tombstone semantics a changelog consumer
    // needs). Base = per-user latest state before the cutoff; changes =
    // per-user latest event after it, a 'purchase' acting as the delete
    // tombstone. Semantics: matched+delete drops the key, matched+upsert
    // updates, unmatched+upsert inserts, unmatched+delete is a no-op.
    // Shape at scale: both compactions are max_by aggregates (map-side
    // partial combine — never a whole-partition sort) and the merge itself
    // is ONE shuffle join on the key; nothing is ever collected or
    // replayed. The action column pins each row to the branch that
    // produced it, so a wrong merge branch breaks the hash, not just the
    // row count. The two key-slice predicates (base misses user_id%3==0,
    // changes miss user_id%5==1) exist solely so the fixture exercises
    // every branch: insert, update, keep, delete, and unmatched-delete.
    GraftQuery("s9_merge_upsert", (s, d) => {
      import s.implicits._
      val cutoff = lit("2024-01-16 00:00:00").cast(TimestampType)
      val ev = T.events(s, d).withColumn("cents", vcents($"value"))
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"user_id").agg(max_by(
          struct($"event_id", $"event_type", $"cents"),
          struct($"ts", $"event_id")).as("r"))
      val base = latest(ev.filter($"ts" < cutoff && $"user_id" % 3 =!= 0))
        .select($"user_id", $"r.event_id".as("b_event"), $"r.cents".as("b_cents"))
      val changes = latest(ev.filter($"ts" >= cutoff && $"user_id" % 5 =!= 1))
        .select($"user_id", $"r.event_id".as("c_event"), $"r.cents".as("c_cents"),
          when($"r.event_type" === "purchase", "delete").otherwise("upsert").as("op"))
      base.join(changes, Seq("user_id"), "full_outer")
        .filter(coalesce($"op", lit("upsert")) =!= "delete")
        .select($"user_id",
          coalesce($"c_event", $"b_event").as("event_id"),
          coalesce($"c_cents", $"b_cents").as("cents"),
          when($"op".isNull, "keep")
            .when($"b_event".isNull, "insert").otherwise("update").as("action"))
        .orderBy($"user_id")
    }, Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, ts,
                   ${sql.vcents("value")} AS cents FROM events),
      base AS (SELECT user_id, event_id AS b_event, cents AS b_cents
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
                     FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
                       AND user_id % 3 <> 0)
               WHERE rn = 1),
      chg AS (SELECT user_id, event_id AS c_event, cents AS c_cents,
                CASE WHEN event_type = 'purchase' THEN 'delete'
                     ELSE 'upsert' END AS op
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
                      AND user_id % 5 <> 1)
              WHERE rn = 1)
      SELECT COALESCE(b.user_id, c.user_id) AS user_id,
        COALESCE(c_event, b_event) AS event_id,
        COALESCE(c_cents, b_cents) AS cents,
        CASE WHEN op IS NULL THEN 'keep'
             WHEN b_event IS NULL THEN 'insert'
             ELSE 'update' END AS action
      FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
      WHERE COALESCE(op, 'upsert') <> 'delete'
      ORDER BY user_id""")),

    // ----- S10: inverted index — build the classic IR structure over the
    // documents corpus (term → posting pairs), persist it hash-partitioned
    // by term bucket, and serve a conjunctive (AND) term query from the
    // on-disk index. The index is (term, doc_id) PAIRS, not per-term
    // arrays: pairs stay splittable at any posting-list length (a stopword
    // with a billion postings is just more rows), partition by
    // pmod(xxhash64(term), 16) so a term lookup prunes to 1/16 of the
    // files — the distributed analogue of an index-bucket seek, proven by
    // the `pruned` boolean (files touched for one term's bucket < total).
    // `roundtrip_ok` pins the on-disk pair count to the computed one. The
    // conjunctive query is postings-join → per-doc term count = k (never a
    // full-corpus scan); df constants come from the index, the oracle
    // recomputes them from raw text.
    GraftQuery("s10_inverted_index", (s, d) => {
      import s.implicits._
      val out = tmpDir("s10")
      val terms = Seq("spark", "window")
      // persist the tokenized pairs: the write and the roundtrip count are
      // two actions over the same (expensive) tokenize+distinct
      val toks = T.documents(s, d)
        .select($"doc_id", explode(split(lower($"text"), "[^a-z0-9]+")).as("term"))
        .filter($"term" =!= "").distinct().persist()
      toks.withColumn("bucket", pmod(xxhash64($"term"), lit(16)))
        .repartition(col("bucket")).sortWithinPartitions($"term", $"doc_id")
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
      val idx = s.read.parquet(out)
      val roundtripOk = idx.count() == toks.count()
      toks.unpersist()
      val bSpark = s.range(1)
        .select(pmod(xxhash64(lit("spark")), lit(16))).head().getLong(0)
      // one pass for the pruning evidence: per-file whether it belongs to
      // the probed term's bucket, then touched vs total file counts
      val fstats = idx
        .select(input_file_name().as("f"), ($"bucket" === bSpark).as("hit"))
        .groupBy($"f").agg(max($"hit").as("hit"))
        .agg(count(lit(1)).as("total"),
          count(when($"hit", lit(1))).as("touched")).head()
      val (total, touched) = (fstats.getLong(0), fstats.getLong(1))
      val pruned = touched < total
      val dfs = idx.filter($"term".isin(terms: _*))
        .groupBy($"term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L) // a term absent from the corpus has df 0, not a crash
      val hits = idx.filter($"term".isin(terms: _*))
        .groupBy($"doc_id").agg(countDistinct($"term").as("k"))
        .filter($"k" === terms.size)
      hits.join(T.documents(s, d), "doc_id")
        .select($"doc_id", $"source", $"n_chars",
          lit(dfs("spark")).as("df_spark"), lit(dfs("window")).as("df_window"),
          lit(roundtripOk).as("roundtrip_ok"), lit(pruned).as("pruned"))
        .orderBy($"doc_id")
    }, Some("""
      WITH toks AS (SELECT DISTINCT doc_id,
                      unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
                    FROM documents),
      t AS (SELECT term, COUNT(*) AS df FROM toks WHERE term <> '' GROUP BY term),
      hits AS (SELECT doc_id FROM toks WHERE term IN ('spark', 'window')
               GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2)
      SELECT h.doc_id, d.source, d.n_chars,
        COALESCE((SELECT df FROM t WHERE term = 'spark'), 0) AS df_spark,
        COALESCE((SELECT df FROM t WHERE term = 'window'), 0) AS df_window,
        TRUE AS roundtrip_ok, TRUE AS pruned
      FROM hits h JOIN documents d ON h.doc_id = d.doc_id
      ORDER BY h.doc_id"""), bench = true),

    // ----- S12: schema evolution on a batch table — a writer adds a
    // column mid-stream (the normal life of any long-lived warehouse
    // table). v1 files carry (event_id, user_id, cents); v2 files add
    // event_type. mergeSchema unions the file schemas at read time and
    // backfills v1 rows with nulls — the gate pins exactly that: per-cohort
    // counts, the v1 cohort all-null in the new column, the v2 cohort
    // fully populated, and the merged schema four columns wide. At 100 TB
    // you pay mergeSchema's footer sampling once and promote the union
    // schema into the catalog; the read semantics gated here are identical.
    GraftQuery("s12_schema_evolution", (s, d) => {
      import s.implicits._
      val out = tmpDir("s12")
      val ev = T.events(s, d)
        .select($"event_id", $"user_id", vcents($"value").as("cents"), $"event_type")
      ev.filter($"user_id" % 2 === 0).drop("event_type")
        .write.mode("overwrite").parquet(out)
      ev.filter($"user_id" % 2 === 1)
        .write.mode("append").parquet(out)
      val back = s.read.option("mergeSchema", "true").parquet(out)
      val fourCols = back.columns.length == 4
      back
        .groupBy(($"user_id" % 2).as("cohort"))
        .agg(count(lit(1)).as("n"),
          count($"event_type").as("n_typed"),
          sum($"cents").as("sum_cents"))
        .select($"cohort", $"n", $"n_typed", $"sum_cents",
          lit(fourCols).as("merged_four_cols"))
        .orderBy($"cohort")
    }, Some(s"""
      SELECT cohort, n, CASE WHEN cohort = 0 THEN 0 ELSE n END AS n_typed,
        sum_cents, TRUE AS merged_four_cols
      FROM (SELECT user_id % 2 AS cohort, COUNT(*) AS n,
              CAST(SUM(${sql.vcents("value")}) AS BIGINT) AS sum_cents
            FROM events GROUP BY 1) t
      ORDER BY cohort""")),

    // ----- S13: malformed-record resilience — at 100 TB some input lines
    // are always broken, and the difference between PERMISSIVE (quarantine
    // into _corrupt_record) and DROPMALFORMED (silently shed) decides
    // whether you can audit the loss. The fixture derives a text file from
    // nation with every (n_nationkey % 5 = 0) line deliberately mangled
    // (non-numeric key field), so the oracle knows exactly which rows were
    // poisoned. The gate pins: PERMISSIVE keeps every line and quarantines
    // exactly the mangled ones (good rows' key sum intact, corrupt rows'
    // raw text preserved for audit), DROPMALFORMED's count equals the
    // clean subset.
    GraftQuery("s13_corrupt_records", (s, d) => {
      import s.implicits._
      val out = tmpDir("s13")
      T.nation(s, d)
        .select(concat_ws(",",
          when($"n_nationkey" % 5 === 0, concat(lit("X"), $"n_nationkey"))
            .otherwise($"n_nationkey".cast(StringType)),
          $"n_name", $"n_regionkey").as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      val schema = "n_nationkey LONG, n_name STRING, n_regionkey LONG, _corrupt_record STRING"
      val permissive = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out).cache()
      val dropped = s.read.schema("n_nationkey LONG, n_name STRING, n_regionkey LONG")
        .option("mode", "DROPMALFORMED").csv(out)
      // a bare count() prunes every column, so nothing parses and nothing
      // drops — aggregate over the poisoned column to force the parse
      val droppedCount = dropped.agg(count($"n_nationkey")).head().getLong(0)
      permissive.agg(
        count(lit(1)).as("n_lines"),
        count($"_corrupt_record").as("n_corrupt"),
        sum($"n_nationkey").as("sum_good_keys"),
        sum(when($"_corrupt_record".startsWith("X"), 1L).otherwise(0L)).as("n_audit_prefix"),
        lit(droppedCount).as("n_dropmalformed"))
    }, Some("""
      SELECT COUNT(*) AS n_lines,
        CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT) AS sum_good_keys,
        CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_audit_prefix,
        CAST(COUNT(*) - SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dropmalformed
      FROM nation""")),

    // ----- S11: SQL DML statement surface — the s9 merge dataflow driven
    // entirely by SQL TEXT against a GraftCatalog DSv2 table instead of
    // hand-built DataFrames: CREATE TABLE / INSERT INTO / MERGE INTO /
    // UPDATE / DELETE, with Spark's delta-based row-level-operation
    // rewrite deriving the join and the matched/unmatched actions, and the
    // store committing bucket-scoped copy-on-write versions
    // (sources/GraftStore.scala). Same fixture as s9: base = latest state
    // per user before the cutoff, changes = latest event after it with
    // purchases acting as delete tombstones; then an UPDATE (+100 cents on
    // user_id%7=0) and a DELETE (cents<500) exercise the standalone
    // statements. The emitted store_version pins the commit count (create
    // = v0, then insert/merge/update/delete = one commit each), so a
    // statement that silently no-ops or double-commits breaks the hash,
    // not just the rows. Scale shape: every statement is one distributed
    // job — the merge stages per-task delta frames and rewrites only
    // touched buckets; nothing row-shaped crosses the driver.
    GraftQuery("s11_sql_dml", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val cutoff = lit("2024-01-16 00:00:00").cast(TimestampType)
      val ev = T.events(s, d).withColumn("cents", vcents($"value"))
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"user_id").agg(max_by(
          struct($"event_id", $"event_type", $"cents"),
          struct($"ts", $"event_id")).as("r"))
      latest(ev.filter($"ts" < cutoff && $"user_id" % 3 =!= 0))
        .select($"user_id", $"r.event_id".as("event_id"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s11_base")
      latest(ev.filter($"ts" >= cutoff && $"user_id" % 5 =!= 1))
        .select($"user_id", $"r.event_id".as("c_event"), $"r.cents".as("c_cents"),
          when($"r.event_type" === "purchase", "delete").otherwise("upsert").as("op"))
        .createOrReplaceTempView("s11_chg")
      s.sql("DROP TABLE IF EXISTS graftdml.user_state")
      s.sql("""CREATE TABLE graftdml.user_state
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.user_state SELECT user_id, event_id, cents FROM s11_base")
      s.sql("""MERGE INTO graftdml.user_state t USING s11_chg c
        ON t.user_id = c.user_id
        WHEN MATCHED AND c.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET event_id = c.c_event, cents = c.c_cents
        WHEN NOT MATCHED AND c.op <> 'delete' THEN
          INSERT (user_id, event_id, cents) VALUES (c.user_id, c.c_event, c.c_cents)""")
      s.sql("UPDATE graftdml.user_state SET cents = cents + 100 WHERE user_id % 7 = 0")
      s.sql("DELETE FROM graftdml.user_state WHERE cents < 500")
      val version = graft.sources.GraftStore
        .currentVersion(s"${DmlFixture.warehouse}/user_state")
      s.sql("SELECT user_id, event_id, cents FROM graftdml.user_state")
        .withColumn("store_version", lit(version))
        .orderBy($"user_id")
    }, Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, ts,
                   ${sql.vcents("value")} AS cents FROM events),
      base AS (SELECT user_id, event_id AS b_event, cents AS b_cents
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
                     FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
                       AND user_id % 3 <> 0)
               WHERE rn = 1),
      chg AS (SELECT user_id, event_id AS c_event, cents AS c_cents,
                CASE WHEN event_type = 'purchase' THEN 'delete'
                     ELSE 'upsert' END AS op
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
                      AND user_id % 5 <> 1)
              WHERE rn = 1),
      merged AS (SELECT COALESCE(b.user_id, c.user_id) AS user_id,
                   COALESCE(c_event, b_event) AS event_id,
                   COALESCE(c_cents, b_cents) AS cents
                 FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
                 WHERE COALESCE(op, 'upsert') <> 'delete'),
      updated AS (SELECT user_id, event_id,
                    CASE WHEN user_id % 7 = 0 THEN cents + 100 ELSE cents END AS cents
                  FROM merged)
      SELECT user_id, event_id, cents, CAST(4 AS BIGINT) AS store_version
      FROM updated WHERE cents >= 500
      ORDER BY user_id"""), bench = true),

    // ----- S16: schema evolution on the DML store — RENAME COLUMN and
    // DROP COLUMN as metadata-only commits (Delta/Iceberg-style column
    // mapping: files keep their PHYSICAL names forever; renames rewrite
    // only the logical name and every scan maps the two). The gate renames
    // a column then updates THROUGH the new name, drops a column and
    // re-adds the same logical name (which must come back empty — the
    // tombstoned physical column may not resurrect), and reads a
    // pre-rename version via time travel under the CURRENT names. All on
    // the deterministic latest-event-per-user state, so DuckDB reproduces
    // the final table closed-form.
    GraftQuery("s16_schema_evolution", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.event_id".as("event_id"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s16_base")
      s.sql("DROP TABLE IF EXISTS graftdml.evo_state")
      s.sql("""CREATE TABLE graftdml.evo_state
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.evo_state SELECT * FROM s16_base") // v1
      s.sql("ALTER TABLE graftdml.evo_state RENAME COLUMN cents TO pennies")
      s.sql("UPDATE graftdml.evo_state SET pennies = pennies * 2 " +
        "WHERE user_id % 4 = 2")                                     // v2
      s.sql("ALTER TABLE graftdml.evo_state DROP COLUMN event_id")
      s.sql("ALTER TABLE graftdml.evo_state ADD COLUMNS (event_id BIGINT)")
      s.sql("UPDATE graftdml.evo_state SET event_id = user_id % 100 " +
        "WHERE user_id % 2 = 0")                                     // v3
      // time travel to the pre-rename version, read under the new name
      val v1sum = s.sql("SELECT CAST(SUM(pennies) AS BIGINT) " +
        "FROM graftdml.evo_state VERSION AS OF 1").head().getLong(0)
      s.sql("SELECT user_id, pennies, event_id FROM graftdml.evo_state")
        .withColumn("v1_pennies_sum", lit(v1sum))
        .orderBy($"user_id")
    }, Some(s"""
      WITH base AS (SELECT user_id, event_id, cents FROM (
          SELECT user_id, event_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id,
        CAST(CASE WHEN user_id % 4 = 2 THEN cents * 2 ELSE cents END AS BIGINT)
          AS pennies,
        CASE WHEN user_id % 2 = 0 THEN user_id % 100 ELSE NULL END AS event_id,
        (SELECT CAST(SUM(cents) AS BIGINT) FROM base) AS v1_pennies_sum
      FROM base ORDER BY user_id""")),

    // ----- S17: storage-partitioned join — two store tables bucketed the
    // same way (same merge key, same bucket count) join with ZERO shuffle:
    // the scans report KeyGroupedPartitioning(bucket(n, key)) (resolved
    // through the catalog's `bucket` function), Spark pairs partitions by
    // bucket id, and both Exchanges vanish. At 100 TB this is THE join
    // shape for store⋈store — co-located by construction, network cost
    // zero, parallelism = bucket count (which is sized for the cluster).
    // The gate pins the no-Exchange plan boolean AND the join result.
    GraftQuery("s17_spj_join", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s17_latest")
      T.events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("s17_counts")
      Seq("spj_l" -> "s17_latest", "spj_r" -> "s17_counts").foreach {
        case (t, src) =>
          s.sql(s"DROP TABLE IF EXISTS graftdml.$t")
          val valCol = if (t == "spj_l") "cents" else "n_events"
          s.sql(s"""CREATE TABLE graftdml.$t
            (user_id BIGINT NOT NULL, $valCol BIGINT) USING graft
            TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
          s.sql(s"INSERT INTO graftdml.$t SELECT * FROM $src")
      }
      val confs = Map("spark.graft.store.spj" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val joined = s.sql("""SELECT l.user_id, l.cents, r.n_events
          FROM graftdml.spj_l l JOIN graftdml.spj_r r
          ON l.user_id = r.user_id""")
        val noShuffle =
          !joined.queryExecution.executedPlan.toString.contains("Exchange")
        // materialize under the SPJ plan (localCheckpoint executes THIS
        // queryExecution's RDD, so the boolean describes the exact
        // execution that produced the rows) without ever collecting the
        // join result to the driver — the gate stays scale-shaped
        val out = joined.localCheckpoint(true)
        out.withColumn("spj_no_shuffle", lit(noShuffle))
          .orderBy($"user_id")
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      cnts AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
      SELECT l.user_id, l.cents, c.n_events, TRUE AS spj_no_shuffle
      FROM latest l JOIN cnts c ON l.user_id = c.user_id
      ORDER BY l.user_id"""), bench = true),

    // ----- S18: merge-key bucket pruning, with measured file-count
    // evidence. A point lookup (`WHERE key = ...`) derives the key's
    // bucket from the store hash and file-prunes the scan to that ONE
    // bucket directory; an IN-list prunes to the union of its keys'
    // buckets. The gate compacts the table to exactly one file per
    // non-empty bucket, then PINS the file counts the executed scans
    // actually planned (1 for the point lookup; ≤3 for a 3-key IN) next
    // to the looked-up values themselves — the 100 TB claim ("a point
    // read touches 1/buckets of the data") as a driver-checked number.
    GraftQuery("s18_bucket_prune_probe", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s18_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.prune_probe")
      s.sql("""CREATE TABLE graftdml.prune_probe
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.prune_probe SELECT * FROM s18_latest")
      s.sql("CALL graftdml.optimize(table => 'prune_probe', " +
        "max_files_per_bucket => 0)")
      val full = filesPlanned(s.sql("SELECT * FROM graftdml.prune_probe"))
      val point = s.sql("SELECT user_id, cents FROM graftdml.prune_probe WHERE user_id = 1")
      val fPoint = filesPlanned(point)
      val inq = s.sql(
        "SELECT user_id, cents FROM graftdml.prune_probe WHERE user_id IN (1, 2, 3)")
      val fIn = filesPlanned(inq)
      inq.withColumn("point_reads_one_file", lit(fPoint == 1L))
        .withColumn("in_reads_at_most_three", lit(fIn >= 1L && fIn <= 3L))
        .withColumn("full_scan_reads_more", lit(full > fIn))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id, cents, TRUE AS point_reads_one_file,
        TRUE AS in_reads_at_most_three, TRUE AS full_scan_reads_more
      FROM latest WHERE user_id IN (1, 2, 3) ORDER BY user_id""")),

    // ----- S25: zone-map file skipping, with measured plan evidence.
    // Every store commit's manifest records per-file min/max/nullCount
    // column statistics read from the parquet FOOTERS of its new files
    // (hard-linked carry-over reuses the previous manifest's entries, so
    // manifest cost tracks the commit, not the table). The scan drops
    // whole files whose stats prove the pushed predicates empty — the
    // value-range complement to s18's key-hash bucket pruning: at 100 TB,
    // `WHERE cents >= x` on value-clustered ingest touches only the files
    // whose window overlaps, decided at the driver before any task runs.
    // The gate ingests four disjoint cents windows (one commit each), then
    // pins (a) the hot-range scan planning FEWER files than the full scan,
    // (b) a no-match predicate planning ZERO files, (c) the rows
    // themselves — so a manifest that under- or over-prunes breaks the
    // hash, not just a boolean.
    GraftQuery("s25_zonemap_probe", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).select($"event_id", unix_micros($"ts").as("tsu"),
        vcents($"value").as("cents"))
        .createOrReplaceTempView("s25_src")
      s.sql("DROP TABLE IF EXISTS graftdml.zone_probe")
      s.sql("""CREATE TABLE graftdml.zone_probe
        (event_id BIGINT NOT NULL, tsu BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8')""")
      val bounds = Seq(0L, 2500L, 5000L, 10000L, Long.MaxValue)
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        s.sql("INSERT INTO graftdml.zone_probe SELECT * FROM s25_src " +
          s"WHERE cents >= $lo AND cents < $hi")
      }
      val full = filesPlanned(s.sql("SELECT * FROM graftdml.zone_probe"))
      val hot = s.sql(
        "SELECT event_id, tsu, cents FROM graftdml.zone_probe WHERE cents >= 7500")
      val fHot = filesPlanned(hot)
      val fNone = filesPlanned(s.sql(
        "SELECT event_id FROM graftdml.zone_probe WHERE cents > 100000000"))
      hot.withColumn("zone_pruned", lit(fHot > 0 && fHot < full))
        .withColumn("empty_plans_zero_files", lit(fNone == 0L))
        .orderBy($"event_id")
    }, Some(s"""
      SELECT event_id, epoch_us(ts) AS tsu, ${sql.vcents("value")} AS cents,
        TRUE AS zone_pruned, TRUE AS empty_plans_zero_files
      FROM events WHERE ${sql.vcents("value")} >= 7500 ORDER BY event_id""")),

    // ----- S14: CDC changelog READ — the producer half of the changelog
    // story (s9/s11 are the consumer half). Every GraftStore commit
    // persists its change batch (full row image + change_op I/U/D),
    // Hive-partitioned by change_version, exposed to SQL as the
    // `table$changes` metadata table; a version-range predicate prunes to
    // the matching change directories. The gate re-runs the s11 statement
    // sequence on its own table, then (a) reads per-version I/U/D counts
    // through the SQL changes table — every count closed-form from the
    // events fixture, so a statement that logs the wrong op class or the
    // wrong version breaks the hash — and (b) replays the whole changelog
    // from the empty v0 snapshot with GraftStore.replayChanges
    // (last-writer-wins max_by + one anti-join — no per-version loop) and
    // pins replayed == live. Scale shape: changelog volume ∝ rows changed;
    // replay is two shuffles regardless of how many commits the slice
    // spans; consumers fold ranges instead of diffing 100 TB snapshots.
    GraftQuery("s14_cdc_read", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val cutoff = lit("2024-01-16 00:00:00").cast(TimestampType)
      val ev = T.events(s, d).withColumn("cents", vcents($"value"))
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"user_id").agg(max_by(
          struct($"event_id", $"event_type", $"cents"),
          struct($"ts", $"event_id")).as("r"))
      latest(ev.filter($"ts" < cutoff && $"user_id" % 3 =!= 0))
        .select($"user_id", $"r.event_id".as("event_id"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s14_base")
      latest(ev.filter($"ts" >= cutoff && $"user_id" % 5 =!= 1))
        .select($"user_id", $"r.event_id".as("c_event"), $"r.cents".as("c_cents"),
          when($"r.event_type" === "purchase", "delete").otherwise("upsert").as("op"))
        .createOrReplaceTempView("s14_chg")
      s.sql("DROP TABLE IF EXISTS graftdml.cdc_state")
      s.sql("""CREATE TABLE graftdml.cdc_state
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.cdc_state SELECT user_id, event_id, cents FROM s14_base")
      s.sql("""MERGE INTO graftdml.cdc_state t USING s14_chg c
        ON t.user_id = c.user_id
        WHEN MATCHED AND c.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET event_id = c.c_event, cents = c.c_cents
        WHEN NOT MATCHED AND c.op <> 'delete' THEN
          INSERT (user_id, event_id, cents) VALUES (c.user_id, c.c_event, c.c_cents)""")
      s.sql("UPDATE graftdml.cdc_state SET cents = cents + 100 WHERE user_id % 7 = 0")
      s.sql("DELETE FROM graftdml.cdc_state WHERE cents < 500")

      val dir = s"${DmlFixture.warehouse}/cdc_state"
      val G = graft.sources.GraftStore
      val live = s.sql("SELECT user_id, event_id, cents FROM graftdml.cdc_state")
      val replayed = G.replayChanges(G.readVersion(s, dir, 0L),
        G.readChanges(s, dir, 1L, 4L), G.readMeta(dir))
      val replayOk = replayed.exceptAll(live).isEmpty &&
        live.exceptAll(replayed).isEmpty
      val totals = live.agg(count(lit(1)).as("n"), sum($"cents").as("c")).head()

      val perVersion = s.sql("""SELECT change_version, change_op
               FROM graftdml.`cdc_state$changes`
               WHERE change_version BETWEEN 1 AND 4""")
        .groupBy($"change_version")
        .agg(sum(when($"change_op" === "I", 1L).otherwise(0L)).as("n_ins"),
          sum(when($"change_op" === "U", 1L).otherwise(0L)).as("n_upd"),
          sum(when($"change_op" === "D", 1L).otherwise(0L)).as("n_del"))
      // spine join: a statement that changes zero rows still owns a version
      s.range(1, 5).toDF("change_version")
        .join(perVersion, Seq("change_version"), "left_outer")
        .select($"change_version", coalesce($"n_ins", lit(0L)).as("n_ins"),
          coalesce($"n_upd", lit(0L)).as("n_upd"),
          coalesce($"n_del", lit(0L)).as("n_del"))
        .withColumn("replay_ok", lit(replayOk))
        .withColumn("live_n", lit(totals.getLong(0)))
        .withColumn("live_cents", lit(totals.getLong(1)))
        .orderBy($"change_version")
    }, Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, ts,
                   ${sql.vcents("value")} AS cents FROM events),
      base AS (SELECT user_id, event_id AS b_event, cents AS b_cents
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
                     FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
                       AND user_id % 3 <> 0)
               WHERE rn = 1),
      chg AS (SELECT user_id, event_id AS c_event, cents AS c_cents,
                CASE WHEN event_type = 'purchase' THEN 'delete'
                     ELSE 'upsert' END AS op
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
                      AND user_id % 5 <> 1)
              WHERE rn = 1),
      merged AS (SELECT COALESCE(b.user_id, c.user_id) AS user_id,
                   COALESCE(c_event, b_event) AS event_id,
                   COALESCE(c_cents, b_cents) AS cents
                 FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
                 WHERE COALESCE(op, 'upsert') <> 'delete'),
      updated AS (SELECT user_id, event_id,
                    CASE WHEN user_id % 7 = 0 THEN cents + 100 ELSE cents END AS cents
                  FROM merged),
      final AS (SELECT * FROM updated WHERE cents >= 500),
      counts AS (
        SELECT CAST(1 AS BIGINT) AS change_version,
          (SELECT COUNT(*) FROM base) AS n_ins,
          CAST(0 AS BIGINT) AS n_upd, CAST(0 AS BIGINT) AS n_del
        UNION ALL
        SELECT 2,
          (SELECT COUNT(*) FROM chg c WHERE c.op = 'upsert'
             AND NOT EXISTS (SELECT 1 FROM base b WHERE b.user_id = c.user_id)),
          (SELECT COUNT(*) FROM chg c WHERE c.op = 'upsert'
             AND EXISTS (SELECT 1 FROM base b WHERE b.user_id = c.user_id)),
          (SELECT COUNT(*) FROM chg c WHERE c.op = 'delete'
             AND EXISTS (SELECT 1 FROM base b WHERE b.user_id = c.user_id))
        UNION ALL
        SELECT 3, 0,
          (SELECT COUNT(*) FROM merged WHERE user_id % 7 = 0), 0
        UNION ALL
        SELECT 4, 0, 0,
          (SELECT COUNT(*) FROM updated WHERE cents < 500))
      SELECT change_version, CAST(n_ins AS BIGINT) AS n_ins,
        CAST(n_upd AS BIGINT) AS n_upd, CAST(n_del AS BIGINT) AS n_del,
        TRUE AS replay_ok,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM final) AS live_n,
        (SELECT CAST(SUM(cents) AS BIGINT) FROM final) AS live_cents
      FROM counts ORDER BY change_version""")),

    // ----- S15: incremental materialized-view maintenance — the reason
    // the changelog carries before-images. A grouped (COUNT, SUM) view is
    // maintained from the change stream alone: after-images add to their
    // group, before-images retract from THEIRS (so an update that moves a
    // row between groups adjusts both), one full-outer merge folds the
    // delta into the previous view state, zero-count groups drop out.
    // Cost ∝ changes + |view|, never ∝ |table| — at 100 TB you maintain
    // the view, you don't recompute it. The fixture is nation-derived DML
    // with every hard case: group-moving updates ((r+1)%5), deletes,
    // fresh inserts, a later UPDATE keyed on the CURRENT group, and a
    // value-threshold DELETE. Booleans pin both maintenance modes — from
    // the empty view over the whole changelog, and from a VERSION AS OF 2
    // snapshot view over the tail slice — against full recompute; the
    // emitted rows are the recomputed view, so values AND equivalence are
    // hash-bound.
    GraftQuery("s15_incremental_mv", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val G = graft.sources.GraftStore
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s15_src")
      s.sql("""SELECT k, (r + 1) % 5 AS r, pop + 1000 AS pop, 'upsert' AS op
               FROM s15_src WHERE k % 3 = 0 AND k % 7 <> 4
               UNION ALL
               SELECT k, r, pop, 'delete' FROM s15_src WHERE k % 7 = 4
               UNION ALL
               SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7, 'upsert'
               FROM range(5)""").createOrReplaceTempView("s15_chg")
      s.sql("DROP TABLE IF EXISTS graftdml.mv_state")
      s.sql("""CREATE TABLE graftdml.mv_state
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.mv_state SELECT k, r, pop FROM s15_src")
      s.sql("""MERGE INTO graftdml.mv_state t USING s15_chg c ON t.k = c.k
        WHEN MATCHED AND c.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET r = c.r, pop = c.pop
        WHEN NOT MATCHED AND c.op <> 'delete' THEN
          INSERT (k, r, pop) VALUES (c.k, c.r, c.pop)""")
      s.sql("UPDATE graftdml.mv_state SET pop = pop + 3 WHERE r = 2")
      s.sql("DELETE FROM graftdml.mv_state WHERE pop > 1200")

      val dir = s"${DmlFixture.warehouse}/mv_state"
      def recompute(sql: String) = s.sql(sql)
        .select($"r", $"n".cast("long").as("n"), $"s".cast("long").as("s"))
      val full = recompute(
        "SELECT r, COUNT(*) AS n, SUM(pop) AS s FROM graftdml.mv_state GROUP BY r")
      val emptyMv = s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r", LongType),
          org.apache.spark.sql.types.StructField("n", LongType),
          org.apache.spark.sql.types.StructField("s", LongType))))
      val fromEmpty = G.incrementalAgg(emptyMv,
        G.readChanges(s, dir, 1L, 4L), Seq("r"), "pop")
      val mv2 = recompute(
        "SELECT r, COUNT(*) AS n, SUM(pop) AS s FROM graftdml.mv_state VERSION AS OF 2 GROUP BY r")
      val fromMid = G.incrementalAgg(mv2,
        G.readChanges(s, dir, 3L, 4L), Seq("r"), "pop")
      def sameAs(a: org.apache.spark.sql.DataFrame) =
        a.exceptAll(full).isEmpty && full.exceptAll(a).isEmpty
      full.withColumn("incr_ok", lit(sameAs(fromEmpty)))
        .withColumn("mid_ok", lit(sameAs(fromMid)))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      ins AS (SELECT CAST(i + 100 AS BIGINT) AS k, CAST((i + 100) % 5 AS BIGINT) AS r,
                CAST((i + 100) * 10 + 7 AS BIGINT) AS pop FROM range(5) t(i)),
      after2 AS (
        SELECT k, CASE WHEN k % 3 = 0 THEN (r + 1) % 5 ELSE r END AS r,
          CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
        FROM src WHERE k % 7 <> 4
        UNION ALL SELECT k, r, pop FROM ins),
      after3 AS (SELECT k, r, CASE WHEN r = 2 THEN pop + 3 ELSE pop END AS pop
                 FROM after2),
      after4 AS (SELECT * FROM after3 WHERE pop <= 1200)
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS s,
        TRUE AS incr_ok, TRUE AS mid_ok
      FROM after4 GROUP BY r ORDER BY r""")),

    // ----- S19: bucket-count evolution — `CALL rebucket(table, n)`
    // rewrites a populated table under a NEW hash fan-out in one claimed,
    // changelog-less commit, and every downstream layout consumer follows:
    // merge-key bucket pruning, SPJ partitioning and the CoW write path
    // all derive the count from the new version's manifest (old
    // versions keep their own — time travel prunes correctly under the
    // layout each version was written with). This is the operational
    // escape hatch a CREATE-time fan-out needs at 100 TB: when buckets
    // outgrow a few GB, raise the count without a table copy. The gate:
    // 4→16 rebucket, then (a) contents unchanged, (b) a post-rebucket
    // UPDATE lands through the new layout, (c) a compacted point lookup
    // plans exactly ONE file at the new count, (d) an SPJ join against a
    // natively-16-bucket table eliminates both Exchanges — all pinned as
    // booleans next to the joined rows themselves.
    GraftQuery("s19_rebucket", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s19_latest")
      T.events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("s19_counts")
      s.sql("DROP TABLE IF EXISTS graftdml.rebkt")
      s.sql("""CREATE TABLE graftdml.rebkt
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.rebkt SELECT * FROM s19_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.rebkt_dim")
      s.sql("""CREATE TABLE graftdml.rebkt_dim
        (user_id BIGINT NOT NULL, n_events BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='16')""")
      s.sql("INSERT INTO graftdml.rebkt_dim SELECT * FROM s19_counts")

      s.sql("CALL graftdml.rebucket(table => 'rebkt', buckets => 16)")
      val dir = s"${DmlFixture.warehouse}/rebkt"
      val G = graft.sources.GraftStore
      val afterRebkt = s.sql("SELECT user_id, cents FROM graftdml.rebkt")
      val latest = s.sql("SELECT * FROM s19_latest")
      val contentsOk = afterRebkt.exceptAll(latest).isEmpty &&
        latest.exceptAll(afterRebkt).isEmpty
      val markerOk =
        G.versionBuckets(dir, G.currentVersion(dir)) == 16

      // write THROUGH the new layout, then compact to 1 file/bucket and
      // measure that a point lookup plans exactly one file at count 16
      s.sql("UPDATE graftdml.rebkt SET cents = cents + 7 WHERE user_id % 11 = 3")
      s.sql("CALL graftdml.optimize(table => 'rebkt', max_files_per_bucket => 0)")
      val fPoint = filesPlanned(
        s.sql("SELECT user_id, cents FROM graftdml.rebkt WHERE user_id = 1"))
      val fFull = filesPlanned(s.sql("SELECT * FROM graftdml.rebkt"))

      val confs = Map("spark.graft.store.spj" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val joined = s.sql("""SELECT l.user_id, l.cents, r.n_events
          FROM graftdml.rebkt l JOIN graftdml.rebkt_dim r
          ON l.user_id = r.user_id""")
        val noShuffle =
          !joined.queryExecution.executedPlan.toString.contains("Exchange")
        val out = joined.localCheckpoint(true)
        out.withColumn("contents_ok", lit(contentsOk))
          .withColumn("rebucketed_to_16", lit(markerOk))
          .withColumn("point_reads_one_file", lit(fPoint == 1L))
          .withColumn("full_reads_more", lit(fFull > fPoint))
          .withColumn("spj_no_shuffle", lit(noShuffle))
          .orderBy($"user_id")
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      upd AS (SELECT user_id,
                CASE WHEN user_id % 11 = 3 THEN cents + 7 ELSE cents END AS cents
              FROM latest),
      cnts AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
      SELECT u.user_id, u.cents, c.n_events, TRUE AS contents_ok,
        TRUE AS rebucketed_to_16, TRUE AS point_reads_one_file,
        TRUE AS full_reads_more, TRUE AS spj_no_shuffle
      FROM upd u JOIN cnts c ON u.user_id = c.user_id
      ORDER BY u.user_id""")),

    // ----- S9b: the third MERGE branch — WHEN NOT MATCHED BY SOURCE
    // (Spark 4 syntax), the "sync target to source" shape: matched rows
    // update, source-only rows insert, and TARGET-only rows (the branch
    // the first two can't see) either delete or get flagged, by
    // condition. Planned through the same delta-based row-level rewrite
    // as the other branches — the engine emits D/U deltas for target
    // rows with no source match and the store commits them bucket-wise,
    // so the branch costs one extra anti-join side, not a table rewrite.
    GraftQuery("s9b_merge_not_matched_by_source", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val cutoff = lit("2024-01-16 00:00:00").cast(TimestampType)
      val ev = T.events(s, d).withColumn("cents", vcents($"value"))
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
      latest(ev.filter($"ts" < cutoff && $"user_id" % 3 =!= 0))
        .select($"user_id", $"r.event_id".as("event_id"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s9b_base")
      latest(ev.filter($"ts" >= cutoff && $"user_id" % 5 =!= 1))
        .select($"user_id", $"r.event_id".as("c_event"), $"r.cents".as("c_cents"))
        .createOrReplaceTempView("s9b_src")
      s.sql("DROP TABLE IF EXISTS graftdml.sync_state")
      s.sql("""CREATE TABLE graftdml.sync_state
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.sync_state SELECT * FROM s9b_base")
      s.sql("""MERGE INTO graftdml.sync_state t USING s9b_src c
        ON t.user_id = c.user_id
        WHEN MATCHED THEN UPDATE SET event_id = c.c_event, cents = c.c_cents
        WHEN NOT MATCHED THEN
          INSERT (user_id, event_id, cents) VALUES (c.user_id, c.c_event, c.c_cents)
        WHEN NOT MATCHED BY SOURCE AND t.cents < 1000 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET event_id = -1""")
      val version = graft.sources.GraftStore
        .currentVersion(s"${DmlFixture.warehouse}/sync_state")
      s.sql("SELECT user_id, event_id, cents FROM graftdml.sync_state")
        .withColumn("store_version", lit(version))
        .orderBy($"user_id")
    }, Some(s"""
      WITH e AS (SELECT user_id, event_id, ts,
                   ${sql.vcents("value")} AS cents FROM events),
      base AS (SELECT user_id, event_id, cents
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
                     FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
                       AND user_id % 3 <> 0)
               WHERE rn = 1),
      src AS (SELECT user_id, event_id AS c_event, cents AS c_cents
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
                      AND user_id % 5 <> 1)
              WHERE rn = 1),
      merged AS (
        SELECT user_id, c_event AS event_id, c_cents AS cents FROM src
        UNION ALL
        SELECT b.user_id, CAST(-1 AS BIGINT) AS event_id, b.cents FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.user_id = b.user_id)
          AND b.cents >= 1000)
      SELECT user_id, event_id, cents, CAST(2 AS BIGINT) AS store_version
      FROM merged ORDER BY user_id""")),

    // ----- S21: RUNTIME (join-time) bucket pruning — dynamic partition
    // pruning through the store's merge-key hash. s18 proves the STATIC
    // case (key literals in the SQL text); here the probe keys exist only
    // behind a dim-side filter, invisible to static derivation. The store
    // scan advertises its merge keys as runtime-filterable
    // (SupportsRuntimeV2Filtering); Spark's DPP rule plants the broadcast
    // side's actual key values as an IN runtime filter; Scan.filter
    // derives their buckets and the re-planned scan reads ONLY those
    // bucket files. At 100 TB this is the dim-filtered fact join: scan
    // cost ∝ dim keys' buckets, not fact size — decided per query, per
    // run, with zero layout work. Gate pins the measured file counts next
    // to the joined rows.
    GraftQuery("s21_runtime_bucket_prune", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s21_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.dpp_fact")
      s.sql("""CREATE TABLE graftdml.dpp_fact
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.dpp_fact SELECT * FROM s21_latest")
      s.sql("CALL graftdml.optimize(table => 'dpp_fact', " +
        "max_files_per_bucket => 0)")
      // file-backed dim (a local relation's filter would constant-fold
      // away before the pruning rule runs): users <= 40 tagged by residue
      val dimPath = tmpDir("s21_dim") + "/dim"
      T.events(s, d).select($"user_id").distinct()
        .filter($"user_id" <= 40)
        .select($"user_id", ($"user_id" % 10).as("grp"))
        .write.parquet(dimPath)
      s.read.parquet(dimPath).createOrReplaceTempView("s21_dim")

      val full = filesPlanned(s.sql("SELECT * FROM graftdml.dpp_fact"))
      val q = s.sql("""SELECT f.user_id, f.cents FROM graftdml.dpp_fact f
        JOIN s21_dim d ON f.user_id = d.user_id WHERE d.grp = 3""")
      val pruned = filesPlanned(q) // executes q, then reads the fact scan
      q.withColumn("runtime_pruned", lit(pruned >= 1L && pruned < full))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id, cents, TRUE AS runtime_pruned
      FROM latest WHERE user_id <= 40 AND user_id % 10 = 3
      ORDER BY user_id""")),

    // ----- S22: zero-copy SHALLOW CLONE + TIMESTAMP AS OF. `CALL
    // clone(src, dst)` branches a table for an experiment: dst's v0
    // hard-links src's current files (cost ∝ file count, not bytes — the
    // only affordable branch at 100 TB), both sides then evolve
    // independently under copy-on-write (shared files are immutable). The
    // gate clones mid-history, mutates BOTH sides differently, and pins:
    // the clone's final contents (the rows), the source untouched by the
    // clone's writes, a physical hard-link proof (same inode on a shared
    // file), and TIMESTAMP AS OF resolving a wall-clock instant captured
    // between two commits to the earlier version's exact contents.
    GraftQuery("s22_shallow_clone", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s22_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.clone_src")
      s.sql("DROP TABLE IF EXISTS graftdml.clone_dst")
      s.sql("""CREATE TABLE graftdml.clone_src
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.clone_src SELECT * FROM s22_latest") // v1
      Thread.sleep(5)
      val tsMid = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      Thread.sleep(5)
      s.sql("UPDATE graftdml.clone_src SET cents = cents + 1 " +
        "WHERE user_id % 2 = 0")                                       // v2
      s.sql("CALL graftdml.clone(table => 'clone_src', target => 'clone_dst')")
      s.sql("UPDATE graftdml.clone_dst SET cents = cents + 1000 " +
        "WHERE user_id % 3 = 0")                                       // dst v3

      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val bump2 = when($"user_id" % 2 === 0, $"cents" + 1).otherwise($"cents")
      val expectSrc = s.sql("SELECT * FROM s22_latest")
        .select($"user_id", bump2.as("cents"))
      // the clone's writes did not leak into the source…
      val srcUnchanged = eq(
        s.sql("SELECT user_id, cents FROM graftdml.clone_src"), expectSrc)
      // …and the captured instant resolves to v1's exact contents
      val tsOk = eq(
        s.sql(s"SELECT user_id, cents FROM graftdml.clone_src " +
          s"TIMESTAMP AS OF '$tsMid'"),
        s.sql("SELECT * FROM s22_latest"))
      // physical proof: a shared data file is the SAME inode on both sides
      val G = graft.sources.GraftStore
      val srcDir = s"${DmlFixture.warehouse}/clone_src"
      val dstDir = s"${DmlFixture.warehouse}/clone_dst"
      // the clone CONTINUES the source's version numbering (base = src v2,
      // its own update = v3) so carried file/delete seqs stay meaningful.
      // The clone's base is MATERIALIZED (self-contained bucket dirs); its
      // twins on the source side resolve through the bucket manifest, so
      // match by part-file name (job-unique) rather than by rel path.
      val dstV = java.nio.file.Paths.get(G.versionDir(dstDir, 2L))
      def key(p: java.nio.file.Path) = java.nio.file.Files
        .readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey()
      val linked = {
        // twins key on the SLOT-RELATIVE path (bucket dir + file name):
        // one commit writes the same part-file NAME into every bucket dir
        // it touches, so the bare name is ambiguous across buckets
        def rel(p: java.nio.file.Path) =
          s"${p.getParent.getFileName}/${p.getFileName}"
        val srcByRel = G.snapshotFiles(srcDir, 2L)
          .map(java.nio.file.Paths.get(_)).map(p => rel(p) -> p).toMap
        val st = java.nio.file.Files.walk(dstV)
        val probe = try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(p =>
            java.nio.file.Files.isRegularFile(p) &&
              p.getFileName.toString.startsWith("part-")).take(3).toList
        } finally st.close()
        probe.nonEmpty && probe.forall { p =>
          srcByRel.get(rel(p)).exists(twin => key(p) == key(twin))
        }
      }
      s.sql("SELECT user_id, cents FROM graftdml.clone_dst")
        .withColumn("src_unchanged", lit(srcUnchanged))
        .withColumn("ts_as_of_ok", lit(tsOk))
        .withColumn("files_hardlinked", lit(linked))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      srcv2 AS (SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN cents + 1 ELSE cents END AS cents
                FROM latest)
      SELECT user_id,
        CASE WHEN user_id % 3 = 0 THEN cents + 1000 ELSE cents END AS cents,
        TRUE AS src_unchanged, TRUE AS ts_as_of_ok, TRUE AS files_hardlinked
      FROM srcv2 ORDER BY user_id""")),

    // ----- S23: RESTORE — roll a table back to a retained version as one
    // hard-linked commit (`CALL restore`), the undo-a-bad-write operation
    // whose cost is links, not bytes. History is preserved (the pointer
    // only moves forward), the restore commit writes NO changelog slice
    // (the missing slice is the snapshot boundary CDC consumers re-sync
    // across, same contract as overwrite), and the table keeps working
    // after: the gate restores past an UPDATE+DELETE pair, writes through
    // the restored state, and pins the final rows plus the boundary and
    // history booleans.
    GraftQuery("s23_restore", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s23_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.restore_t")
      s.sql("""CREATE TABLE graftdml.restore_t
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.restore_t SELECT * FROM s23_latest")    // v1
      s.sql("UPDATE graftdml.restore_t SET cents = cents + 1 WHERE user_id % 2 = 0") // v2 (bad write)
      s.sql("DELETE FROM graftdml.restore_t WHERE cents < 500")           // v3 (worse)
      s.sql("CALL graftdml.restore(table => 'restore_t', version => 1)")  // v4 = v1
      val dir = s"${DmlFixture.warehouse}/restore_t"
      val G = graft.sources.GraftStore
      val restored = s.sql("SELECT user_id, cents FROM graftdml.restore_t")
      val v1 = s.sql("SELECT * FROM s23_latest")
      val restoredOk = restored.exceptAll(v1).isEmpty &&
        v1.exceptAll(restored).isEmpty
      val boundaryOk = !G.hasChangelog(dir, 4L) && G.hasChangelog(dir, 2L)
      // the undone versions remain time-travelable until expired: v2 must
      // still read back as exactly v1 + the "bad" update
      val v2expect = v1.select($"user_id",
        when($"user_id" % 2 === 0, $"cents" + 1).otherwise($"cents").as("cents"))
      val v2df = s.sql("SELECT user_id, cents FROM graftdml.restore_t VERSION AS OF 2")
      val historyOk = G.listVersions(dir) == (0L to 4L) &&
        v2df.exceptAll(v2expect).isEmpty && v2expect.exceptAll(v2df).isEmpty
      s.sql("UPDATE graftdml.restore_t SET cents = cents + 5 WHERE user_id % 7 = 0") // v5
      s.sql("SELECT user_id, cents FROM graftdml.restore_t")
        .withColumn("restored_matches_v1", lit(restoredOk))
        .withColumn("restore_has_no_changelog", lit(boundaryOk))
        .withColumn("history_intact", lit(historyOk))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id,
        CASE WHEN user_id % 7 = 0 THEN cents + 5 ELSE cents END AS cents,
        TRUE AS restored_matches_v1, TRUE AS restore_has_no_changelog,
        TRUE AS history_intact
      FROM latest ORDER BY user_id""")),

    // ----- S24: predicate-scoped atomic overwrite — `INSERT INTO t
    // REPLACE WHERE <pred> SELECT ...` (Spark's SupportsOverwrite). The
    // partition-overwrite idiom for a keyed store: ONE commit deletes
    // every base row matching the predicate and upserts the new rows, so
    // "recompute this region" (a day, an id range, a source) is a single
    // atomic, CDC-complete statement — readers see the old region or the
    // new, never a gap; cost ∝ matching rows + new rows' buckets. The
    // gate replaces the user_id <= 500 region with counts-derived rows
    // for only PART of it (the rest of the region must vanish) and pins
    // the final table + the single-version-bump boolean.
    GraftQuery("s24_replace_where", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s24_latest")
      T.events(s, d).groupBy($"user_id")
        .agg((count(lit(1)) * 1000).as("cents"))
        .createOrReplaceTempView("s24_counts")
      s.sql("DROP TABLE IF EXISTS graftdml.replw_t")
      s.sql("""CREATE TABLE graftdml.replw_t
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.replw_t SELECT * FROM s24_latest")  // v1
      s.sql("""INSERT INTO graftdml.replw_t REPLACE WHERE user_id <= 500
        SELECT user_id, cents FROM s24_counts WHERE user_id <= 300""") // v2
      val version = graft.sources.GraftStore
        .currentVersion(s"${DmlFixture.warehouse}/replw_t")
      s.sql("SELECT user_id, cents FROM graftdml.replw_t")
        .withColumn("one_atomic_commit", lit(version == 2L))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      cnts AS (SELECT user_id, COUNT(*) * 1000 AS cents FROM events
               GROUP BY user_id)
      SELECT user_id, cents, TRUE AS one_atomic_commit FROM (
        SELECT user_id, cents FROM latest WHERE user_id > 500
        UNION ALL
        SELECT user_id, cents FROM cnts WHERE user_id <= 300)
      ORDER BY user_id""")),

    // ----- S29: CHECK constraints — declarative write-time data quality
    // on the DML store. CREATE TABLE ... CONSTRAINT c CHECK (pred)
    // persists the predicate in the table meta and the table reports it
    // enforced, so Spark plans the check into EVERY write: a violating
    // INSERT/UPDATE/MERGE fails before the commit point and the store
    // publishes nothing (the claimed build dir is abandoned — pinned as
    // version-number-unchanged booleans). ALTER ADD CONSTRAINT validates
    // existing rows first; NULL predicates pass per SQL semantics. The
    // final contents hash against the same closed form as an
    // unconstrained twin — constraints must never change what VALID
    // writes produce.
    GraftQuery("s29_check_constraints", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s29_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.chk_t")
      s.sql("""CREATE TABLE graftdml.chk_t
        (user_id BIGINT NOT NULL, cents BIGINT,
         CONSTRAINT nonneg CHECK (cents >= 0))
        USING graft TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.chk_t SELECT * FROM s29_latest")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/chk_t"
      val v1 = G.currentVersion(dir)
      def rejected(sql: String): Boolean =
        try { s.sql(sql); false } catch { case _: Exception => true }
      val insRejected =
        rejected("INSERT INTO graftdml.chk_t VALUES (999999, -1)")
      val updRejected = rejected(
        "UPDATE graftdml.chk_t SET cents = -5 WHERE user_id % 2 = 0")
      // failed writes published NOTHING: the version pointer never moved
      val noPartial = G.currentVersion(dir) == v1
      val retroRejected = rejected(
        "ALTER TABLE graftdml.chk_t ADD CONSTRAINT impossible CHECK (cents > 100000000)")
      val retroNotRecorded = !G.readMeta(dir).checks.exists(_._1 == "impossible")
      // a valid write through the constraint still lands normally
      s.sql("UPDATE graftdml.chk_t SET cents = cents + 10 WHERE user_id % 5 = 0")
      s.sql("SELECT user_id, cents FROM graftdml.chk_t")
        .withColumn("insert_rejected", lit(insRejected))
        .withColumn("update_rejected", lit(updRejected))
        .withColumn("no_partial_commit", lit(noPartial))
        .withColumn("retro_add_rejected", lit(retroRejected && retroNotRecorded))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id,
        CASE WHEN user_id % 5 = 0 THEN cents + 10 ELSE cents END AS cents,
        TRUE AS insert_rejected, TRUE AS update_rejected,
        TRUE AS no_partial_commit, TRUE AS retro_add_rejected
      FROM latest ORDER BY user_id""")),

    // ----- S28: column DEFAULT values — CREATE TABLE with DEFAULT, the
    // metadata-only ALTER ADD COLUMN WITH DEFAULT (Spark encodes the
    // default into CURRENT_DEFAULT/EXISTS_DEFAULT field metadata; inserts
    // substitute at analysis, and files that PREDATE the column read the
    // default back at scan time — zero rewrite at any scale, the gate
    // pins the unchanged version number), SET DEFAULT flipping only
    // FUTURE inserts. DuckDB reproduces the final table closed-form from
    // the same constants.
    GraftQuery("s28_column_defaults", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s28_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.def_t")
      s.sql("""CREATE TABLE graftdml.def_t
        (user_id BIGINT NOT NULL, cents BIGINT, tag STRING DEFAULT 'base')
        USING graft TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.def_t (user_id, cents) " +
        "SELECT user_id, cents FROM s28_latest")                      // v1
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/def_t"
      val vBefore = G.currentVersion(dir)
      s.sql("ALTER TABLE graftdml.def_t ADD COLUMNS (score BIGINT DEFAULT 100)")
      val metadataOnly = G.currentVersion(dir) == vBefore
      s.sql("ALTER TABLE graftdml.def_t ALTER COLUMN score SET DEFAULT 200")
      // fresh keys (offset past the fixture's range): old default rows
      // keep 100, new inserts take the NEW default
      s.sql("INSERT INTO graftdml.def_t (user_id, cents) " +
        "SELECT user_id + 1000000, cents + 1 FROM s28_latest WHERE user_id % 9 = 0")
      s.sql("SELECT user_id, cents, tag, score FROM graftdml.def_t")
        .withColumn("add_default_metadata_only", lit(metadataOnly))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id, cents, 'base' AS tag, CAST(100 AS BIGINT) AS score,
        TRUE AS add_default_metadata_only FROM latest
      UNION ALL
      SELECT user_id + 1000000, cents + 1, 'base', CAST(200 AS BIGINT), TRUE
      FROM latest WHERE user_id % 9 = 0
      ORDER BY user_id""")),

    // ----- S27: atomic CTAS / RTAS through the DSv2 staging catalog. The
    // CTAS query writes into a full store under a private `.stage-<uuid>`
    // sibling dir and publishes with ONE atomic rename; REPLACE TABLE AS
    // SELECT swaps the live table's contents AND schema as one claimed
    // boundary commit — readers never observe a missing or half-written
    // table (the drop-then-recreate hole a plain TableCatalog leaves),
    // and the replaced versions stay retained for time travel. The gate
    // pins: no stage remnant, the replace being exactly one version bump
    // flagged as a CDC boundary, the pre-replace contents still
    // time-travelable, and the post-replace rows against the closed form.
    GraftQuery("s27_ctas_rtas", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s27_latest")
      T.events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("s27_counts")
      s.sql("DROP TABLE IF EXISTS graftdml.ctas_t")
      s.sql("""CREATE TABLE graftdml.ctas_t USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='4')
        AS SELECT user_id, cents FROM s27_latest""")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/ctas_t"
      val ctasRows = s.sql("SELECT COUNT(*) FROM graftdml.ctas_t").head.getLong(0)
      val vAfterCtas = G.currentVersion(dir)
      s.sql("""REPLACE TABLE graftdml.ctas_t USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')
        AS SELECT user_id, n_events FROM s27_counts""")
      val vAfterRtas = G.currentVersion(dir)
      val noStageLeft = new java.io.File(DmlFixture.warehouse)
        .list().count(_.contains(".stage-")) == 0
      val boundary = G.isBoundary(dir, vAfterRtas)
      // the pre-replace snapshot is still one time travel away
      val ttOk = s.sql("SELECT COUNT(*) FROM graftdml.ctas_t " +
        s"VERSION AS OF $vAfterCtas").head.getLong(0) == ctasRows
      s.sql("SELECT user_id, n_events FROM graftdml.ctas_t")
        .withColumn("one_boundary_commit",
          lit(vAfterRtas == vAfterCtas + 1 && boundary))
        .withColumn("no_stage_remnant", lit(noStageLeft))
        .withColumn("pre_replace_time_travels", lit(ttOk))
        .orderBy($"user_id")
    }, Some(s"""
      SELECT user_id, COUNT(*) AS n_events, TRUE AS one_boundary_commit,
        TRUE AS no_stage_remnant, TRUE AS pre_replace_time_travels
      FROM events GROUP BY user_id
      ORDER BY user_id""")),

    // ----- S31: MERGE WITH SCHEMA EVOLUTION — the standard ingestion
    // affordance for evolving upstreams: a source carrying columns the
    // target lacks auto-ADDs them through the catalog inside the MERGE
    // (analyzer rule + the AUTOMATIC_SCHEMA_EVOLUTION capability), as a
    // metadata-only change — history null-fills through the physical
    // column mapping, no backfill rewrite at any scale. The gate pins the
    // evolved contents (new column NULL for untouched rows, valued for
    // merged rows), the single-version commit, the CDC op counts of the
    // evolving merge, and that a merge WITHOUT the clause still rejects
    // unknown columns.
    GraftQuery("s31_merge_schema_evolution", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s31_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.evo_t")
      s.sql("""CREATE TABLE graftdml.evo_t
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.evo_t SELECT * FROM s31_latest")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/evo_t"
      val preVersion = G.currentVersion(dir)
      // wider source: every user_id % 3 = 0 gets a tier label; one fresh
      // key (-1) exercises the INSERT branch with the new column
      s.sql("""SELECT user_id, cents * 2 AS c2,
          concat('t', CAST(user_id % 4 AS STRING)) AS tier
        FROM s31_latest WHERE user_id % 3 = 0
        UNION ALL SELECT -1, 42, 'fresh'""").createOrReplaceTempView("s31_src")
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graftdml.evo_t t
        USING s31_src s ON t.user_id = s.user_id
        WHEN MATCHED THEN UPDATE SET cents = s.c2, tier = s.tier
        WHEN NOT MATCHED THEN INSERT (user_id, cents, tier)
          VALUES (s.user_id, s.c2, s.tier)""")
      val oneCommit = G.currentVersion(dir) == preVersion + 1
      val evolved = G.readMeta(dir).schema.fieldNames.contains("tier")
      // a merge WITHOUT the clause must still reject unknown columns
      val rejected =
        try {
          s.sql("""MERGE INTO graftdml.evo_t t USING
            (SELECT -2 AS user_id, 1 AS c2, 'x' AS ghost) s
            ON t.user_id = s.user_id
            WHEN NOT MATCHED THEN INSERT (user_id, cents, ghost)
              VALUES (s.user_id, s.c2, s.ghost)""")
          false
        } catch { case _: Exception => true }
      s.sql("SELECT user_id, cents, coalesce(tier, '-') AS tier FROM graftdml.evo_t")
        .withColumn("one_commit", lit(oneCommit))
        .withColumn("schema_evolved", lit(evolved))
        .withColumn("unevolved_rejected", lit(rejected))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      merged AS (
        SELECT user_id,
          CASE WHEN user_id % 3 = 0 THEN cents * 2 ELSE cents END AS cents,
          CASE WHEN user_id % 3 = 0
            THEN concat('t', CAST(user_id % 4 AS VARCHAR)) ELSE '-' END AS tier
        FROM latest
        UNION ALL SELECT -1, 42, 'fresh')
      SELECT user_id, CAST(cents AS BIGINT) AS cents, tier,
        TRUE AS one_commit, TRUE AS schema_evolved, TRUE AS unevolved_rejected
      FROM merged ORDER BY user_id""")),

    // ----- S30: PARTITIONED BY on the DML store — time-transform
    // partition dirs ABOVE the bucket fan-out (`gpart=<epoch-day>/
    // gbucket=<k>`), the standard fact-table layout: `days(ts)` range
    // predicates prune whole partition DIRECTORIES before zone maps and
    // bucket hashing narrow further (all three compose), and retention is
    // `CALL expire_partitions` — ONE metadata-only boundary commit that
    // drops the old days from the slot manifest without reading, moving
    // or deleting a single file (older versions keep them until
    // expire_versions). The gate pins measured planned-file counts for
    // the pruning claims, the DML/CDC/time-travel interplay, and the
    // zero-data-file retention commit; the surviving rows hash against a
    // DuckDB closed form.
    GraftQuery("s30_partitioned_store", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val ev = T.events(s, d)
        .groupBy($"event_id").agg(max_by(
          struct($"ts", vcents($"value").as("cents")),
          struct($"ts", $"event_id")).as("r"))
        .select($"event_id", $"r.ts".as("ts"), $"r.cents".as("cents"))
      ev.createOrReplaceTempView("s30_src")
      s.sql("DROP TABLE IF EXISTS graftdml.part_t")
      s.sql("""CREATE TABLE graftdml.part_t
        (event_id BIGINT NOT NULL, ts TIMESTAMP, cents BIGINT)
        USING graft PARTITIONED BY (days(ts))
        TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.part_t SELECT * FROM s30_src")
      s.sql("UPDATE graftdml.part_t SET cents = cents + 7 WHERE event_id % 11 = 0")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/part_t"
      // deterministic day bounds from the data itself (one-row agg)
      val d0 = s.sql("SELECT CAST(MIN(ts) AS DATE) FROM graftdml.part_t")
        .head().getDate(0).toLocalDate
      val d1 = d0.plusDays(1)
      // measured pruning evidence: one-day scan < full scan; a ts range
      // composes with a merge-key point lookup (partition ∩ bucket)
      val full = filesPlanned(s.sql("SELECT * FROM graftdml.part_t"))
      val oneDay = filesPlanned(s.sql(
        s"SELECT * FROM graftdml.part_t WHERE ts >= timestamp'$d1 00:00:00' " +
          s"AND ts < timestamp'${d1.plusDays(1)} 00:00:00'"))
      val dayPruned = oneDay > 0 && oneDay < full
      val probeKey = s.sql("SELECT MIN(event_id) FROM graftdml.part_t " +
        s"WHERE ts >= timestamp'$d1 00:00:00' AND " +
        s"ts < timestamp'${d1.plusDays(1)} 00:00:00'").head().getLong(0)
      val point = filesPlanned(s.sql(
        s"SELECT * FROM graftdml.part_t WHERE event_id = $probeKey AND " +
          s"ts >= timestamp'$d1 00:00:00' AND " +
          s"ts < timestamp'${d1.plusDays(1)} 00:00:00'"))
      val composed = point >= 1 && point < oneDay
      val preCount = s.sql("SELECT COUNT(*) FROM graftdml.part_t")
        .head().getLong(0)
      val preVersion = G.currentVersion(dir)
      // retention: drop the FIRST day as one metadata-only boundary commit
      s.sql(s"CALL graftdml.expire_partitions(table => 'part_t', " +
        s"below => '${d1.toEpochDay}')")
      val v = G.currentVersion(dir)
      val metadataOnly = G.manifestOf(G.versionDir(dir, v)).files.isEmpty
      val boundary = G.isBoundary(dir, v) && !G.hasChangelog(dir, v)
      // time travel still reads the full pre-retention snapshot
      val ttFull = s.sql(
        s"SELECT COUNT(*) FROM graftdml.part_t VERSION AS OF $preVersion")
        .head().getLong(0) == preCount
      // the t$partitions metadata table tracks the manifest: after the
      // retention commit it lists ONLY ordinals at/above the bound
      val partsListed = s.sql(
        "SELECT partition FROM graftdml.`part_t$partitions`")
        .collect().map(_.getString(0)).toSeq
      val partsTrack = partsListed.nonEmpty &&
        partsListed.forall(_.toLong >= d1.toEpochDay)
      s.sql("SELECT event_id, cents FROM graftdml.part_t")
        .withColumn("day_pruned", lit(dayPruned))
        .withColumn("point_composes_prunings", lit(composed))
        .withColumn("retention_metadata_only", lit(metadataOnly))
        .withColumn("retention_is_boundary", lit(boundary))
        .withColumn("time_travel_full", lit(ttFull))
        .withColumn("partitions_meta_tracks", lit(partsTrack))
        .orderBy($"event_id")
    }, Some(s"""
      WITH src AS (SELECT event_id, ts, cents FROM (
          SELECT event_id, ts, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY event_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      kept AS (SELECT event_id, ts,
          CASE WHEN event_id % 11 = 0 THEN cents + 7 ELSE cents END AS cents
        FROM src
        WHERE CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) FROM src)
          + INTERVAL 1 DAY)
      SELECT event_id, cents, TRUE AS day_pruned,
        TRUE AS point_composes_prunings, TRUE AS retention_metadata_only,
        TRUE AS retention_is_boundary, TRUE AS time_travel_full,
        TRUE AS partitions_meta_tracks
      FROM kept ORDER BY event_id""")),

    // ----- S30b: merge-on-read × PARTITIONED BY (the r12 scope bound,
    // lifted in r13). A days-partitioned `merge_mode='mor'` table runs the
    // s26 statement sequence: row-level deltas commit after-images into
    // their partition dirs plus BUCKET-scoped equality-delete slices
    // (deliberately NOT partition-scoped — a partition-moving UPDATE
    // cannot know the old partition value without reading the base, so a
    // delete entry must suppress the key's older rows in EVERY partition;
    // pruning stays sound because delete application only removes rows).
    // The gate hash-binds: (a) live slices after the DML, (b) every base
    // file carried untouched (no bucket rewrite), (c) partition pruning
    // measured WHILE slices are live, (d) `expire_partitions` carrying
    // the slices across its metadata-only boundary commit (dropping them
    // would resurrect deleted rows in kept partitions), and (e) OPTIMIZE
    // folding the slices away with contents byte-identical.
    GraftQuery("s30b_partitioned_mor", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d)
        .groupBy($"event_id").agg(max_by(
          struct($"ts", vcents($"value").as("cents")),
          struct($"ts", $"event_id")).as("r"))
        .select($"event_id", $"r.ts".as("ts"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s30b_src")
      s.sql("DROP TABLE IF EXISTS graftdml.pmor_t")
      s.sql("""CREATE TABLE graftdml.pmor_t
        (event_id BIGINT NOT NULL, ts TIMESTAMP, cents BIGINT)
        USING graft PARTITIONED BY (days(ts))
        TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8',
          'merge_mode'='mor')""")
      s.sql("INSERT INTO graftdml.pmor_t SELECT * FROM s30b_src")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/pmor_t"
      val baseFiles = G.snapshotFiles(dir, 1L).toSet
      s.sql("UPDATE graftdml.pmor_t SET cents = cents + 7 WHERE event_id % 11 = 0")
      s.sql("DELETE FROM graftdml.pmor_t WHERE event_id % 13 = 0")
      val dmlVersion = G.currentVersion(dir)
      val dvLive = G.hasLiveDv(G.versionDir(dir, dmlVersion))
      val baseCarried =
        baseFiles.subsetOf(G.snapshotFiles(dir, dmlVersion).toSet)
      val d0 = s.sql("SELECT CAST(MIN(ts) AS DATE) FROM s30b_src")
        .head().getDate(0).toLocalDate
      val d1 = d0.plusDays(1)
      // partition pruning measured WHILE delete slices are live
      val full = filesPlanned(s.sql("SELECT * FROM graftdml.pmor_t"))
      val oneDay = filesPlanned(s.sql(
        s"SELECT * FROM graftdml.pmor_t WHERE ts >= timestamp'$d1 00:00:00' " +
          s"AND ts < timestamp'${d1.plusDays(1)} 00:00:00'"))
      val dayPruned = oneDay > 0 && oneDay < full
      // drop the first day: the metadata-only boundary commit must CARRY
      // the live slices — deleted keys stay deleted in kept partitions
      s.sql(s"CALL graftdml.expire_partitions(table => 'pmor_t', " +
        s"below => '${d1.toEpochDay}')")
      val v = G.currentVersion(dir)
      val expireCarriesDv = G.hasLiveDv(G.versionDir(dir, v))
      val boundary = G.isBoundary(dir, v) && !G.hasChangelog(dir, v)
      val before = s.sql("SELECT event_id, cents FROM graftdml.pmor_t")
        .localCheckpoint(true)
      s.sql("CALL graftdml.optimize(table => 'pmor_t')")
      val dvCleared = !G.hasLiveDv(G.versionDir(dir, G.currentVersion(dir)))
      val after = s.sql("SELECT event_id, cents FROM graftdml.pmor_t")
      val stable = after.exceptAll(before).isEmpty &&
        before.exceptAll(after).isEmpty
      after
        .withColumn("dv_live_after_dml", lit(dvLive))
        .withColumn("base_files_carried", lit(baseCarried))
        .withColumn("day_pruned_with_live_dv", lit(dayPruned))
        .withColumn("expire_carries_deletes", lit(expireCarriesDv))
        .withColumn("retention_is_boundary", lit(boundary))
        .withColumn("optimize_cleared_dv", lit(dvCleared))
        .withColumn("contents_stable", lit(stable))
        .orderBy($"event_id")
    }, Some(s"""
      WITH src AS (SELECT event_id, ts, cents FROM (
          SELECT event_id, ts, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY event_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      upd AS (SELECT event_id, ts,
          CASE WHEN event_id % 11 = 0 THEN cents + 7 ELSE cents END AS cents
        FROM src WHERE event_id % 13 <> 0),
      kept AS (SELECT event_id, cents FROM upd
        WHERE CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) FROM src)
          + INTERVAL 1 DAY)
      SELECT event_id, cents, TRUE AS dv_live_after_dml,
        TRUE AS base_files_carried, TRUE AS day_pruned_with_live_dv,
        TRUE AS expire_carries_deletes, TRUE AS retention_is_boundary,
        TRUE AS optimize_cleared_dv, TRUE AS contents_stable
      FROM kept ORDER BY event_id""")),

    // ----- S26: merge-on-read row-level deltas — the s11 DML dataflow on
    // a `merge_mode='mor'` table. Each MERGE/UPDATE/DELETE commits the
    // after-images as ordinary new files plus an equality-delete slice
    // (`_dv/dseq=<v>/gbucket=<k>/`) instead of rewriting its touched
    // buckets; scans drop a key's rows from files OLDER than the key's
    // newest delete entry (per-file seq manifest), so delete-then-reinsert
    // stays exact. This is the store's 100 TB answer to the copy-on-write
    // worst case: a spread MERGE writes O(changed rows), never O(touched
    // buckets) — the Iceberg equality-delete shape with an LSM-style cap
    // (GraftStore.morMaxLiveDeletes) that escalates an over-cap commit
    // back to copy-on-write so the read probe stays bounded. The gate pins
    // (a) live delete slices after the DML, (b) EVERY base file of the
    // insert version carried untouched through the merge version (the
    // no-rewrite proof), (c) the per-statement version count, and (d)
    // OPTIMIZE folding the slices away with contents byte-identical —
    // while the rows themselves hash against the same closed-form oracle
    // as the copy-on-write twin.
    GraftQuery("s26_merge_on_read", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val cutoff = lit("2024-01-16 00:00:00").cast(TimestampType)
      val ev = T.events(s, d).withColumn("cents", vcents($"value"))
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"user_id").agg(max_by(
          struct($"event_id", $"event_type", $"cents"),
          struct($"ts", $"event_id")).as("r"))
      latest(ev.filter($"ts" < cutoff && $"user_id" % 3 =!= 0))
        .select($"user_id", $"r.event_id".as("event_id"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s26_base")
      latest(ev.filter($"ts" >= cutoff && $"user_id" % 5 =!= 1))
        .select($"user_id", $"r.event_id".as("c_event"), $"r.cents".as("c_cents"),
          when($"r.event_type" === "purchase", "delete").otherwise("upsert").as("op"))
        .createOrReplaceTempView("s26_chg")
      s.sql("DROP TABLE IF EXISTS graftdml.mor_state")
      s.sql("""CREATE TABLE graftdml.mor_state
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8',
          'merge_mode'='mor')""")
      s.sql("INSERT INTO graftdml.mor_state SELECT user_id, event_id, cents FROM s26_base")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/mor_state"
      // ABSOLUTE live-file sets resolved through the bucket manifest: the
      // merge-on-read claim under test is that the MERGE's commit leaves
      // every base file live (after-images + delete slice only, no bucket
      // rewrite) — since r12 untouched files are carried by manifest
      // reference, not re-linked, so the comparison is on resolved paths
      val baseFiles = G.snapshotFiles(dir, 1L).toSet
      s.sql("""MERGE INTO graftdml.mor_state t USING s26_chg c
        ON t.user_id = c.user_id
        WHEN MATCHED AND c.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET event_id = c.c_event, cents = c.c_cents
        WHEN NOT MATCHED AND c.op <> 'delete' THEN
          INSERT (user_id, event_id, cents) VALUES (c.user_id, c.c_event, c.c_cents)""")
      val mergeFiles = G.snapshotFiles(dir, 2L).toSet
      s.sql("UPDATE graftdml.mor_state SET cents = cents + 100 WHERE user_id % 7 = 0")
      s.sql("DELETE FROM graftdml.mor_state WHERE cents < 500")
      val dmlVersion = G.currentVersion(dir)
      val dvLive = G.hasLiveDv(G.versionDir(dir, dmlVersion))
      val before = s.sql(
        "SELECT user_id, event_id, cents FROM graftdml.mor_state")
        .localCheckpoint(true)
      s.sql("CALL graftdml.optimize(table => 'mor_state')")
      val dvCleared = !G.hasLiveDv(G.versionDir(dir, G.currentVersion(dir)))
      val after = s.sql(
        "SELECT user_id, event_id, cents FROM graftdml.mor_state")
      val stable = after.exceptAll(before).isEmpty &&
        before.exceptAll(after).isEmpty
      after
        .withColumn("dml_version", lit(dmlVersion))
        .withColumn("dv_live_after_dml", lit(dvLive))
        .withColumn("base_files_carried", lit(baseFiles.subsetOf(mergeFiles)))
        .withColumn("optimize_cleared_dv", lit(dvCleared))
        .withColumn("contents_stable", lit(stable))
        .orderBy($"user_id")
    }, Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, ts,
                   ${sql.vcents("value")} AS cents FROM events),
      base AS (SELECT user_id, event_id AS b_event, cents AS b_cents
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
                     FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
                       AND user_id % 3 <> 0)
               WHERE rn = 1),
      chg AS (SELECT user_id, event_id AS c_event, cents AS c_cents,
                CASE WHEN event_type = 'purchase' THEN 'delete'
                     ELSE 'upsert' END AS op
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
                      AND user_id % 5 <> 1)
              WHERE rn = 1),
      merged AS (SELECT COALESCE(b.user_id, c.user_id) AS user_id,
                   COALESCE(c_event, b_event) AS event_id,
                   COALESCE(c_cents, b_cents) AS cents
                 FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
                 WHERE COALESCE(op, 'upsert') <> 'delete'),
      updated AS (SELECT user_id, event_id,
                    CASE WHEN user_id % 7 = 0 THEN cents + 100 ELSE cents END AS cents
                  FROM merged)
      SELECT user_id, event_id, cents, CAST(4 AS BIGINT) AS dml_version,
        TRUE AS dv_live_after_dml, TRUE AS base_files_carried,
        TRUE AS optimize_cleared_dv, TRUE AS contents_stable
      FROM updated WHERE cents >= 500
      ORDER BY user_id""")),

    // ----- S32: ANALYZE column statistics served to the planner — the
    // driver gate for `CALL analyze` (PlannerStatsSpec's assertions in
    // oracle form). ANALYZE runs ONE aggregate job over the current
    // version and persists per-column NDV/null/min-max; the scan serves
    // them through `Statistics.columnStats()` so Spark's CBO joins
    // estimate from real cardinalities, and zone-map-scaled row/byte
    // estimates make a selectively-filtered store scan broadcast-able.
    // The gate ingests events in four disjoint cents-window commits,
    // ANALYZEs, then hash-binds: (a) scan rowCount exact under CBO,
    // (b) user_id NDV within HLL tolerance of the exact distinct count,
    // (c) min/max exact, (d) null count exact on a known-null column,
    // (e) the windowed filter's estimate shrinking below the full scan's,
    // and (f) the estimate-driven build-side flip — the filtered fact
    // side broadcasts at a threshold between the two estimates while the
    // unfiltered twin join stays shuffled. AQE's runtime conversion is
    // disabled for the two probe joins so the flip measures PLAN
    // estimates (the thing ANALYZE feeds), not runtime sizes. At 100 TB
    // this is the difference between a CBO that reorders/broadcasts from
    // measured NDVs and one guessing from raw file bytes.
    GraftQuery("s32_analyze_stats", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).select($"event_id", $"user_id",
          vcents($"value").as("cents"),
          when($"event_id" % 10 === 0, lit(null).cast(LongType))
            .otherwise(vcents($"value")).as("c10"))
        .createOrReplaceTempView("s32_src")
      s.sql("DROP TABLE IF EXISTS graftdml.an_probe")
      s.sql("DROP TABLE IF EXISTS graftdml.an_other")
      s.sql("""CREATE TABLE graftdml.an_probe
        (event_id BIGINT NOT NULL, user_id BIGINT, cents BIGINT, c10 BIGINT)
        USING graft TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8')""")
      // four commits with DISJOINT cents windows → per-commit zone maps
      // give the selective filter below a sub-linear row estimate
      val bounds = Seq(Long.MinValue, 2500L, 5000L, 10000L, Long.MaxValue)
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        s.sql("INSERT INTO graftdml.an_probe " +
          "SELECT event_id, user_id, cents, c10 FROM s32_src " +
          s"WHERE cents >= $lo AND cents < $hi")
      case _ => ()
      }
      s.sql("""CREATE TABLE graftdml.an_other
        (event_id BIGINT NOT NULL, v BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.an_other SELECT event_id, user_id FROM s32_src")
      s.sql("CALL graftdml.analyze(table => 'an_probe')")
      // expected values from the source: one driver-side agg, O(1) rows
      val exp = s.table("s32_src").agg(count(lit(1)), countDistinct($"user_id"),
        min($"user_id"), max($"user_id"), count(when($"c10".isNull, 1))).head()
      val (nRows, uNdv, uMin, uMax, nNulls) = (exp.getLong(0), exp.getLong(1),
        exp.getLong(2), exp.getLong(3), exp.getLong(4))
      def scanStats(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.stats
        }.head
      val savedCbo = s.conf.getOption("spark.sql.cbo.enabled")
      val (rcExact, ndvOk, mmExact, nullExact) = try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        val st = scanStats(
          s.sql("SELECT event_id, user_id, c10 FROM graftdml.an_probe"))
        val byName = st.attributeStats.map { case (a, cs) => a.name -> cs }
        val u = byName("user_id")
        val c = byName("c10")
        (st.rowCount.exists(_.toLong == nRows),
          u.distinctCount.exists(n => math.abs(n.toLong - uNdv) <=
            math.max(2L, (uNdv * 0.15).toLong)),
          u.min.contains(uMin) && u.max.contains(uMax) &&
            u.nullCount.exists(_.toLong == 0L),
          c.nullCount.exists(_.toLong == nNulls))
      } finally savedCbo.fold(s.conf.unset("spark.sql.cbo.enabled"))(
        s.conf.set("spark.sql.cbo.enabled", _))
      // estimate-driven flip: measure both sides under the JOIN's exact
      // projection (so column pruning can't shrink a side past the
      // threshold on its own), pick a threshold strictly between them
      val sel = "SELECT event_id, cents FROM graftdml.an_probe " +
        "WHERE cents >= 5000 AND cents < 10000"
      val fullBytes = scanStats(
        s.sql("SELECT event_id, cents FROM graftdml.an_probe")).sizeInBytes
      val selBytes = scanStats(s.sql(sel)).sizeInBytes
      val otherBytes = scanStats(
        s.sql("SELECT event_id, v FROM graftdml.an_other")).sizeInBytes
      val shrinks = selBytes < fullBytes
      val mid = ((selBytes + fullBytes.min(otherBytes)) / 2).toString
      val savedThr = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      val savedAqe = s.conf.getOption("spark.sql.adaptive.enabled")
      val (flipOn, flipOff) = try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", mid)
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val j1 = s.sql(s"SELECT SUM(o.v + f.cents) AS x FROM " +
          s"graftdml.an_other o JOIN ($sel) f ON o.event_id = f.event_id")
        j1.collect()
        val j2 = s.sql("SELECT SUM(o.v + f.cents) AS x FROM " +
          "graftdml.an_other o JOIN " +
          "(SELECT event_id, cents FROM graftdml.an_probe) f " +
          "ON o.event_id = f.event_id")
        j2.collect()
        (j1.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          !j2.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      } finally {
        savedThr.fold(s.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
        savedAqe.fold(s.conf.unset("spark.sql.adaptive.enabled"))(
          s.conf.set("spark.sql.adaptive.enabled", _))
      }
      val resultBase = s.sql(
        "SELECT user_id, COUNT(*) AS n, SUM(cents) AS sum_cents " +
          "FROM graftdml.an_probe GROUP BY user_id").localCheckpoint(true)
      // staleness gate (r13): heavy DML past the analyzed version must
      // WITHHOLD the column stats (serving pre-mutation NDV/min-max would
      // be worse than none), and a fresh analyze restores them — the
      // rowCount stays exact throughout because it is per-scan from the
      // zone maps, never from _colstats
      val savedCbo2 = s.conf.getOption("spark.sql.cbo.enabled")
      val (staleWithheld, freshRestored) = try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.sql("INSERT INTO graftdml.an_probe SELECT event_id + 1000000000, " +
          "user_id, cents, c10 FROM s32_src") // rows double: 100% drift
        val withheld = scanStats(s.sql(
          "SELECT event_id, user_id FROM graftdml.an_probe"))
          .attributeStats.isEmpty
        s.sql("CALL graftdml.analyze(table => 'an_probe')")
        val restored = scanStats(s.sql(
          "SELECT event_id, user_id FROM graftdml.an_probe"))
          .attributeStats.nonEmpty
        (withheld, restored)
      } finally savedCbo2.fold(s.conf.unset("spark.sql.cbo.enabled"))(
        s.conf.set("spark.sql.cbo.enabled", _))
      resultBase
        .withColumn("row_count_exact", lit(rcExact))
        .withColumn("ndv_served", lit(ndvOk))
        .withColumn("minmax_exact", lit(mmExact))
        .withColumn("nullcount_exact", lit(nullExact))
        .withColumn("estimate_shrinks", lit(shrinks))
        .withColumn("filtered_broadcasts", lit(flipOn))
        .withColumn("unfiltered_stays_shuffled", lit(flipOff))
        .withColumn("stale_stats_withheld", lit(staleWithheld))
        .withColumn("reanalyze_restores_stats", lit(freshRestored))
        .orderBy($"user_id")
    }, Some(s"""
      WITH e AS (SELECT user_id, ${sql.vcents("value")} AS cents FROM events)
      SELECT user_id, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        TRUE AS row_count_exact, TRUE AS ndv_served, TRUE AS minmax_exact,
        TRUE AS nullcount_exact, TRUE AS estimate_shrinks,
        TRUE AS filtered_broadcasts, TRUE AS unfiltered_stays_shuffled,
        TRUE AS stale_stats_withheld, TRUE AS reanalyze_restores_stats
      FROM e GROUP BY user_id ORDER BY user_id""")),

    // ----- S34: per-column parquet bloom filters (r13). A table property
    // (`bloom_filter_columns`) makes every commit write footer bloom
    // filters for the declared columns; the stock vectorized reader's
    // row-group filtering then skips groups proven key-absent on `=`/IN
    // predicates — the scan-narrowing lever for HIGH-CARDINALITY NON-KEY
    // columns that zone maps can't help (scattered values ⇒ useless
    // min/max spans) and bucket pruning doesn't cover (not the merge
    // key). The gate pins footer PRESENCE on every live file (read from
    // the parquet footers themselves, insert and cow-delta files alike)
    // and hashes point/IN lookups on the bloomed column against the
    // oracle.
    GraftQuery("s34_bloom_skipping", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d)
        .groupBy($"event_id").agg(max_by(
          struct(vcents($"value").as("cents"), $"user_id"),
          struct($"ts", $"event_id")).as("r"))
        .select($"event_id", $"r.cents".as("cents"), $"r.user_id".as("user_id"))
        .createOrReplaceTempView("s34_src")
      s.sql("DROP TABLE IF EXISTS graftdml.bloom_t")
      s.sql("""CREATE TABLE graftdml.bloom_t
        (event_id BIGINT NOT NULL, cents BIGINT, user_id BIGINT)
        USING graft TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8',
          'bloom_filter_columns'='cents')""")
      s.sql("INSERT INTO graftdml.bloom_t SELECT * FROM s34_src")
      s.sql("UPDATE graftdml.bloom_t SET user_id = user_id + 1 " +
        "WHERE event_id % 9 = 0")
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/bloom_t"
      // footer presence, read from the files themselves: every live file
      // (insert AND cow-delta rewrites) blooms cents and nothing else
      val files = G.snapshotFiles(dir, G.currentVersion(dir))
      val present = files.nonEmpty && files.forall(f =>
        graft.sources.GraftStats.bloomedColumns(
          java.nio.file.Paths.get(f)) == Set("cents"))
      // point + IN lookups on the bloomed column, literal-pushed (the
      // shape the row-group filter serves); values from 20 known keys
      val probes = s.sql(
        "SELECT cents FROM s34_src WHERE event_id <= 20")
        .collect().map(_.getLong(0)).distinct.sorted
      s.sql(s"SELECT event_id, cents, user_id FROM graftdml.bloom_t " +
          s"WHERE cents IN (${probes.mkString(",")})")
        .withColumn("blooms_present", lit(present))
        .orderBy($"event_id")
    }, Some(s"""
      WITH src AS (SELECT event_id, cents, user_id FROM (
          SELECT event_id, ${sql.vcents("value")} AS cents, user_id,
            ROW_NUMBER() OVER (PARTITION BY event_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      upd AS (SELECT event_id, cents,
          CASE WHEN event_id % 9 = 0 THEN user_id + 1 ELSE user_id END
            AS user_id
        FROM src)
      SELECT event_id, cents, user_id, TRUE AS blooms_present
      FROM upd WHERE cents IN (SELECT cents FROM src WHERE event_id <= 20)
      ORDER BY event_id""")),

    // ----- S35: maintenance report (r13) — `CALL maintenance_report`
    // folds the store's health signals (slot fragmentation, merge-on-read
    // delete-cap pressure, column-stats staleness, retention debt) into
    // one read-only row each with the triggered flag and the CALL that
    // addresses it. The gate walks the lifecycle: fragment one slot with
    // same-bucket appends → triggered; never-analyzed → stale triggered;
    // analyze → cleared; mor deletes observed under the cap; optimize →
    // fragmentation and slices cleared — then hashes the FINAL (healthy)
    // report against the closed form. Metadata-only: the report itself
    // never bumps a version.
    GraftQuery("s35_maintenance_report", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d)
        .groupBy($"event_id").agg(max_by(
          struct(vcents($"value").as("cents")),
          struct($"ts", $"event_id")).as("r"))
        .select($"event_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s35_src")
      s.sql("DROP TABLE IF EXISTS graftdml.maint_t")
      s.sql("""CREATE TABLE graftdml.maint_t
        (event_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='event_id', 'buckets'='8',
          'merge_mode'='mor')""")
      s.sql("INSERT INTO graftdml.maint_t SELECT * FROM s35_src")
      def report(): Map[String, (Boolean, Option[Long])] =
        s.sql("CALL graftdml.maintenance_report(`table` => 'maint_t')")
          .collect().map(r => r.getString(0) ->
            ((r.getBoolean(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/maint_t"
      val r0 = report()
      val readOnly = G.currentVersion(dir) == 1L
      val staleDetected = r0("stale_column_stats")._1 // never analyzed
      val freshClean = !r0("fragmented_slots")._1 && !r0("live_deletes")._1
      // fragment ONE slot: 5 single-key appends hashing to bucket 0
      val sameBucket = DmlFixture.keysForBucket(2000000000L, 8, 0, 5)
      sameBucket.zipWithIndex.foreach { case (k, i) =>
        s.sql(s"INSERT INTO graftdml.maint_t VALUES ($k, $i)") }
      val fragDetected = report()("fragmented_slots")._1
      s.sql("CALL graftdml.analyze(table => 'maint_t')")
      val staleCleared = !report()("stale_column_stats")._1
      s.sql("DELETE FROM graftdml.maint_t WHERE event_id IN " +
        s"(${sameBucket.take(3).mkString(",")})")
      val dvObserved = report()("live_deletes")._2.contains(3L)
      s.sql("CALL graftdml.optimize(table => 'maint_t')")
      val rF = report()
      val allClear = !rF("fragmented_slots")._1 && !rF("live_deletes")._1 &&
        !rF("stale_column_stats")._1
      s.sql("CALL graftdml.maintenance_report(`table` => 'maint_t')")
        .select($"signal", $"triggered", $"action")
        .withColumn("report_read_only", lit(readOnly))
        .withColumn("fresh_table_clean", lit(freshClean))
        .withColumn("never_analyzed_detected", lit(staleDetected))
        .withColumn("fragmentation_detected", lit(fragDetected))
        .withColumn("analyze_clears_staleness", lit(staleCleared))
        .withColumn("dv_pressure_observed", lit(dvObserved))
        .withColumn("lifecycle_ends_clear", lit(allClear))
        .orderBy($"signal")
    }, Some("""
      SELECT signal, FALSE AS triggered, action,
        TRUE AS report_read_only, TRUE AS fresh_table_clean,
        TRUE AS never_analyzed_detected, TRUE AS fragmentation_detected,
        TRUE AS analyze_clears_staleness, TRUE AS dv_pressure_observed,
        TRUE AS lifecycle_ends_clear
      FROM (VALUES
        ('changelog_slices',
         'CALL expire_changes(table => ..., keep_from_version => ...)'),
        ('expired_file_hosts',
         'CALL expire_versions(table => ..., keep_last => ...) re-sweeps'),
        ('fragmented_slots',
         'CALL optimize(table => ..., max_files_per_bucket => 4)'),
        ('leaked_txn_branches', 'CALL vacuum(table => ...)'),
        ('live_deletes', 'CALL optimize(table => ...)'),
        ('retained_versions',
         'CALL expire_versions(table => ..., keep_last => ...)'),
        ('stale_column_stats', 'CALL analyze(table => ...)'))
        AS t(signal, action)
      ORDER BY signal""")),

    // ----- S36: named refs (tags) — `CALL create_tag` pins a committed
    // version under a name; `VERSION AS OF '<name>'` resolves it and
    // expire_versions keeps the pinned version readable (with the owner
    // slots its snapshot references intact on disk) regardless of
    // keep_last. The operational story: tag the version a training run /
    // release consumed, retention can then run aggressively without ever
    // reclaiming an auditable snapshot, and the tag name — not a raw
    // version number — is what downstream configs carry. The gate walks
    // the lifecycle: tag v1, DML past it, tag the head, expire keep_last=1
    // (v1 survives ONLY via its tag; the untagged middle version is
    // reclaimed), hash the pinned snapshot read BY NAME against the
    // closed form, then drop_tag + expire and pin that the version is
    // reclaimed and the name gone; duplicate/unknown names fail loudly
    // and a clone starts with no tags (refs index the SOURCE's history).
    GraftQuery("s36_named_refs", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s36_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.refs_t")
      s.sql("""CREATE TABLE graftdml.refs_t
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.refs_t SELECT * FROM s36_latest")       // v1
      s.sql("CALL graftdml.create_tag(`table` => 'refs_t', name => 'baseline', version => 1)")
      s.sql("UPDATE graftdml.refs_t SET cents = cents + 7 WHERE user_id % 3 = 0") // v2
      s.sql("DELETE FROM graftdml.refs_t WHERE user_id % 5 = 0")          // v3
      s.sql("CALL graftdml.create_tag(`table` => 'refs_t', name => 'post-dml')")
      s.sql("CALL graftdml.expire_versions(`table` => 'refs_t', keep_last => 1)")
      val dir = s"${DmlFixture.warehouse}/refs_t"
      val G = graft.sources.GraftStore
      // v1 pinned by 'baseline', v3 by keep_last AND 'post-dml'; v0/v2 gone
      val retentionOk = G.listVersions(dir) == Seq(1L, 3L)
      // the pinned snapshot read BY NAME matches the closed form exactly
      val byName = s.sql(
        "SELECT user_id, cents FROM graftdml.refs_t VERSION AS OF 'baseline'")
      val v1 = s.sql("SELECT * FROM s36_latest")
      val tagReadOk = byName.exceptAll(v1).isEmpty && v1.exceptAll(byName).isEmpty
      // t$versions carries the tags column, version-for-version
      val tagsListed = s.sql(
        "SELECT version, tags FROM graftdml.`refs_t$versions` ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList)).toList ==
        List((1L, List("baseline")), (3L, List("post-dml")))
      // loud failure modes: duplicate name, unknown name
      val dupLoud = try {
        s.sql("CALL graftdml.create_tag(`table` => 'refs_t', name => 'baseline', version => 3)")
        false
      } catch { case e: Exception => e.getMessage.contains("already exists") }
      val unknownLoud = try {
        s.sql("SELECT * FROM graftdml.refs_t VERSION AS OF 'ghost'").collect()
        false
      } catch { case e: Exception =>
        e.getMessage.contains("no tag or branch 'ghost'") }
      // a clone starts with no tags (refs index the source's history)
      s.sql("DROP TABLE IF EXISTS graftdml.refs_t2")
      s.sql("CALL graftdml.clone(`table` => 'refs_t', target => 'refs_t2')")
      val cloneClean = G.listTags(s"${DmlFixture.warehouse}/refs_t2").isEmpty
      // drop the pin: the next expire reclaims v1 and the name is gone
      s.sql("CALL graftdml.drop_tag(`table` => 'refs_t', name => 'baseline')")
      s.sql("CALL graftdml.expire_versions(`table` => 'refs_t', keep_last => 1)")
      val reclaimedOk = G.listVersions(dir) == Seq(3L) &&
        G.listTags(dir) == Map("post-dml" -> 3L)
      s.sql("SELECT user_id, cents FROM graftdml.refs_t")
        .withColumn("pinned_survives_expire", lit(retentionOk))
        .withColumn("tag_read_matches_v1", lit(tagReadOk))
        .withColumn("versions_meta_lists_tags", lit(tagsListed))
        .withColumn("duplicate_tag_fails", lit(dupLoud))
        .withColumn("unknown_tag_fails", lit(unknownLoud))
        .withColumn("clone_starts_untagged", lit(cloneClean))
        .withColumn("dropped_pin_reclaimed", lit(reclaimedOk))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id,
        CASE WHEN user_id % 3 = 0 THEN cents + 7 ELSE cents END AS cents,
        TRUE AS pinned_survives_expire, TRUE AS tag_read_matches_v1,
        TRUE AS versions_meta_lists_tags, TRUE AS duplicate_tag_fails,
        TRUE AS unknown_tag_fails, TRUE AS clone_starts_untagged,
        TRUE AS dropped_pin_reclaimed
      FROM latest WHERE user_id % 5 <> 0 ORDER BY user_id""")),

    // ----- S37: idempotent writer commits — `txnAppId`/`txnVersion`
    // write options make a retried batch write a NO-OP once its (appId,
    // version) is at or below the table's recorded high-water. The 100 TB
    // operational story: every serious pipeline retries (task retries,
    // workflow re-runs, at-least-once upstreams), and without write-side
    // idempotence each retry duplicates rows silently; the record is
    // sealed in the version's manifest — atomic with the commit itself,
    // so a crash can never leave "recorded but not committed" (lost
    // write) or "committed but not recorded" (duplicate) — and version
    // expiry promotes it to `_txns/<appId>` so the guarantee outlives
    // retention. The gate appends two disjoint halves under (loader, 1) /
    // (loader, 2), retries both with DIFFERENT payloads (must not land),
    // expires the recording versions and retries again (promotion), and
    // hashes the final rows — any duplicate or lost write breaks the hash,
    // not just a boolean.
    GraftQuery("s37_idempotent_writes", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s37_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.txn_t")
      s.sql("""CREATE TABLE graftdml.txn_t
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      val dir = s"${DmlFixture.warehouse}/txn_t"
      val G = graft.sources.GraftStore
      def put(df: org.apache.spark.sql.DataFrame, ver: Long): Unit =
        df.writeTo("graftdml.txn_t")
          .option("txnAppId", "loader").option("txnVersion", ver.toString)
          .append()
      val evens = s.sql("SELECT * FROM s37_latest WHERE user_id % 2 = 0")
      val odds = s.sql("SELECT * FROM s37_latest WHERE user_id % 2 = 1")
      // poison payloads: if a retry lands, the row hash breaks loudly
      val poison = s.sql("SELECT user_id + 1000000, cents + 999 FROM s37_latest")
        .toDF("user_id", "cents")
      put(evens, 1)                                        // v1: applied
      val v1 = G.currentVersion(dir)
      put(poison, 1)                                       // retry: no-op
      val retryNoBump = G.currentVersion(dir) == v1
      put(odds, 2)                                         // v2: applied
      put(poison, 1)                                       // stale: no-op
      val staleSkipped = G.currentVersion(dir) == v1 + 1
      // retention must not forget the high-water: expire the recording
      // versions outright, then retry both — still no-ops via _txns/
      s.sql("INSERT INTO graftdml.txn_t VALUES (999999, 0)") // v3
      s.sql("CALL graftdml.expire_versions(`table` => 'txn_t', keep_last => 1)")
      val expired = !G.listVersions(dir).contains(v1)
      put(poison, 1)                                       // no-op
      put(poison, 2)                                       // no-op
      val survivesExpiry = G.currentVersion(dir) == v1 + 2 &&
        G.lastTxnVersion(dir, "loader").contains(2L)
      // a fresh version under the SAME app lands normally
      put(s.sql("SELECT CAST(999998 AS BIGINT), CAST(7 AS BIGINT)")
        .toDF("user_id", "cents"), 3)                      // v4: applied
      s.sql("SELECT user_id, cents FROM graftdml.txn_t")
        .withColumn("retry_no_version_bump", lit(retryNoBump))
        .withColumn("stale_version_skipped", lit(staleSkipped))
        .withColumn("recorder_version_expired", lit(expired))
        .withColumn("highwater_survives_expiry", lit(survivesExpiry))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id, cents,
        TRUE AS retry_no_version_bump, TRUE AS stale_version_skipped,
        TRUE AS recorder_version_expired, TRUE AS highwater_survives_expiry
      FROM (SELECT user_id, cents FROM latest
            UNION ALL VALUES (999999, 0), (999998, 7))
      ORDER BY user_id""")),

    // ----- S32b: ANALYZE equi-height histograms → the scan's row
    // estimate. Zone maps bound matching rows at FILE granularity; a
    // column where 95% of values sit on one point (status codes, default
    // timestamps, null-sentinels — everywhere in real 100 TB tables) has
    // every file spanning the full domain, so a range filter into the
    // sparse tail estimates ~50% when the truth is ~2% — and a join that
    // should broadcast doesn't. `CALL analyze(histogram_bins => n)` adds
    // two aggregate passes (percentile edges for every numeric column at
    // once, then per-bin NDV) and the scan folds the histogram
    // selectivity of pushed conjuncts into its reported rows/bytes — the
    // exact numbers the broadcast decision reads. The gate builds the
    // 95/5 skew from lineitem, pins the zone-map-only estimate COARSE
    // (>30% of rows), the histogram estimate ≥5× tighter, the histogram
    // itself served under CBO (32 bins, equi-height), and hashes the
    // filtered rows against the DuckDB closed form.
    GraftQuery("s32b_histogram_stats", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.lineitem(s, d)
        .select(($"l_orderkey" * 10 + $"l_linenumber").cast("long").as("k"),
          when(($"l_orderkey" * 10 + $"l_linenumber") % 19 === 0,
            ($"l_orderkey" * 10 + $"l_linenumber") % 1009 + 1)
            .otherwise(0L).cast("long").as("v"))
        .createOrReplaceTempView("s32b_src")
      s.sql("DROP TABLE IF EXISTS graftdml.hist_t")
      s.sql("""CREATE TABLE graftdml.hist_t
        (k BIGINT NOT NULL, v BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.hist_t SELECT * FROM s32b_src")
      def scanRows(): BigInt =
        s.sql("SELECT * FROM graftdml.hist_t WHERE v > 500")
          .queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2
                .DataSourceV2ScanRelation => r.stats.rowCount
          }.flatten.head
      val total = s.table("graftdml.hist_t").count()
      s.sql("CALL graftdml.analyze(`table` => 'hist_t')")
      val coarse = scanRows()
      s.sql("CALL graftdml.analyze(`table` => 'hist_t', histogram_bins => 32)")
      val sharp = scanRows()
      val zoneCoarse = coarse * 10 > BigInt(total) * 3 // >30% of rows
      val sharpened = sharp * 5 < coarse
      // the histogram itself reaches the optimizer's attributeStats
      val served = {
        val saved = s.conf.getOption("spark.sql.cbo.enabled")
        s.conf.set("spark.sql.cbo.enabled", "true")
        try s.sql("SELECT k, v FROM graftdml.hist_t")
          .queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2
                .DataSourceV2ScanRelation => r.stats.attributeStats.collect {
              case (a, cs) if a.name == "v" => cs.histogram
            }
          }.flatten.flatten.headOption.exists { h =>
            h.bins.length == 32 && math.abs(h.height - total / 32.0) < 2.0
          }
        finally saved.fold(s.conf.unset("spark.sql.cbo.enabled"))(
          s.conf.set("spark.sql.cbo.enabled", _))
      }
      s.sql("SELECT k, v FROM graftdml.hist_t WHERE v > 500")
        .withColumn("zone_estimate_coarse", lit(zoneCoarse))
        .withColumn("histogram_estimate_sharper", lit(sharpened))
        .withColumn("histogram_served_cbo", lit(served))
        .orderBy($"k")
    }, Some("""
      WITH src AS (
        SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS k,
          CAST(CASE WHEN (l_orderkey * 10 + l_linenumber) % 19 = 0
            THEN (l_orderkey * 10 + l_linenumber) % 1009 + 1
            ELSE 0 END AS BIGINT) AS v
        FROM lineitem)
      SELECT k, v, TRUE AS zone_estimate_coarse,
        TRUE AS histogram_estimate_sharper, TRUE AS histogram_served_cbo
      FROM src WHERE v > 500 ORDER BY k""")),

    // ----- S38: SQL views over the catalog (DSv2 ViewCatalog + session-
    // extension wiring — Spark 4.1 ships the SPI but connects neither DDL
    // nor reads to it; the extension closes the gap the documented
    // Iceberg way, two analyzer rules in the pre-resolution Hints batch,
    // no parser changes). Views are the interface-stability layer a
    // 100 TB warehouse runs on: consumers read `metrics.daily_revenue`,
    // not a 40-line SELECT, and the definition swaps atomically under
    // them. The gate creates a view with computed columns over a store
    // table, reads THROUGH it (hash vs the DuckDB closed form), nests a
    // view on the view, swaps the outer definition with OR REPLACE,
    // pins that the view tracks later DML (definition, not snapshot),
    // and that cycles / table-name collisions / duplicate creates all
    // fail loudly.
    GraftQuery("s38_sql_views", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.cents".as("cents"))
        .createOrReplaceTempView("s38_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.views_t")
      s.sql("DROP VIEW IF EXISTS graftdml.v_cents")
      s.sql("DROP VIEW IF EXISTS graftdml.v_heavy")
      s.sql("""CREATE TABLE graftdml.views_t
        (user_id BIGINT NOT NULL, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.views_t SELECT * FROM s38_latest")
      s.sql("""CREATE VIEW graftdml.v_cents AS
        SELECT user_id, cents, cents * 2 AS dbl
        FROM graftdml.views_t""")
      s.sql("""CREATE VIEW graftdml.v_heavy AS
        SELECT user_id, dbl FROM graftdml.v_cents WHERE cents >= 500""")
      // the view is a DEFINITION: DML through the base table shows through
      s.sql("UPDATE graftdml.views_t SET cents = cents + 3 WHERE user_id % 4 = 1")
      val viaNested = s.sql(
        "SELECT user_id, dbl FROM graftdml.v_heavy ORDER BY user_id")
      // OR REPLACE swaps the outer definition atomically
      s.sql("""CREATE OR REPLACE VIEW graftdml.v_heavy AS
        SELECT user_id, dbl FROM graftdml.v_cents WHERE cents < 500""")
      val viaReplaced = s.sql("SELECT user_id FROM graftdml.v_heavy")
      val replacedDisjoint = viaReplaced.join(viaNested, Seq("user_id"),
        "inner").count() == 0 &&
        viaReplaced.count() + viaNested.count() ==
          s.table("graftdml.views_t").count()
      val listed = s.sql("SHOW VIEWS IN graftdml").collect()
        .map(_.getString(1)).toSet == Set("v_cents", "v_heavy")
      val cycleLoud = try {
        s.sql("CREATE OR REPLACE VIEW graftdml.v_cents AS " +
          "SELECT user_id, dbl AS cents, dbl FROM graftdml.v_heavy")
        false
      } catch { case e: Exception => e.getMessage.contains("cycle") }
      val collisionLoud = try {
        s.sql("CREATE VIEW graftdml.views_t AS SELECT 1 AS x")
        false
      } catch { case e: Exception =>
        e.getMessage.contains("share one namespace") ||
          e.getMessage.contains("already exists") }
      val dupLoud = try {
        s.sql("CREATE VIEW graftdml.v_cents AS SELECT 1 AS x")
        false
      } catch { case e: Exception =>
        e.getMessage.toUpperCase.contains("ALREADY_EXISTS") ||
          e.getMessage.contains("already exists") }
      s.sql("DROP VIEW graftdml.v_heavy")
      val dropGone = s.sql("SHOW VIEWS IN graftdml").collect()
        .map(_.getString(1)).toSet == Set("v_cents")
      viaNested
        .withColumn("replaced_complements", lit(replacedDisjoint))
        .withColumn("show_views_lists", lit(listed))
        .withColumn("cycle_fails", lit(cycleLoud))
        .withColumn("table_collision_fails", lit(collisionLoud))
        .withColumn("duplicate_fails", lit(dupLoud))
        .withColumn("drop_removes", lit(dropGone))
    }, Some(s"""
      WITH latest AS (SELECT user_id, cents FROM (
          SELECT user_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      bumped AS (SELECT user_id,
          CASE WHEN user_id % 4 = 1 THEN cents + 3 ELSE cents END AS cents
        FROM latest)
      SELECT user_id, cents * 2 AS dbl,
        TRUE AS replaced_complements, TRUE AS show_views_lists,
        TRUE AS cycle_fails, TRUE AS table_collision_fails,
        TRUE AS duplicate_fails, TRUE AS drop_removes
      FROM bumped WHERE cents >= 500 ORDER BY user_id""")),

    // ----- S39: first-class materialized views — `CREATE MATERIALIZED
    // VIEW` persists the definition AND materializes the query into a
    // backing state table; `CALL refresh_mv` folds EXACTLY the changelog
    // versions committed since the last refresh (the S15 delta algebra,
    // now wired end-to-end: after-images add, before-images retract,
    // one full-outer merge, extinction at count zero), stamping the
    // watermark INTO the state commit via the S37 txn marker so a
    // crashed-and-retried refresh can never double-fold. Cost of a
    // refresh ∝ changes + |view| — at 100 TB you maintain the view, you
    // never recompute it. The gate runs the s15 hard-case DML (fresh
    // inserts, group-MOVING updates, deletes, a value-threshold purge)
    // against the SOURCE, refreshes once, and pins: the refreshed state
    // hashes the full-recompute oracle (rows are the output), the
    // refresh ran on the incremental lane, a second refresh is a no-op,
    // reads before the refresh served the stale STATE (definition-
    // not-passthrough), and `mv$mv` metadata flipped stale→fresh.
    GraftQuery("s39_materialized_view", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s39_src_rows")
      s.sql("""SELECT k, (r + 1) % 5 AS r, pop + 1000 AS pop, 'upsert' AS op
               FROM s39_src_rows WHERE k % 3 = 0 AND k % 7 <> 4
               UNION ALL
               SELECT k, r, pop, 'delete' FROM s39_src_rows WHERE k % 7 = 4
               UNION ALL
               SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7, 'upsert'
               FROM range(5)""").createOrReplaceTempView("s39_chg")
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.s39_mv")
      s.sql("DROP TABLE IF EXISTS graftdml.s39_src")
      s.sql("""CREATE TABLE graftdml.s39_src
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.s39_src SELECT k, r, pop FROM s39_src_rows")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.s39_mv AS
        SELECT r, COUNT(*) AS n, SUM(pop) AS s
        FROM graftdml.s39_src GROUP BY r""")
      // the s15 hard-case slice, against the SOURCE this time
      s.sql("""MERGE INTO graftdml.s39_src t USING s39_chg c ON t.k = c.k
        WHEN MATCHED AND c.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET r = c.r, pop = c.pop
        WHEN NOT MATCHED AND c.op <> 'delete' THEN
          INSERT (k, r, pop) VALUES (c.k, c.r, c.pop)""")
      s.sql("UPDATE graftdml.s39_src SET pop = pop + 3 WHERE r = 2")
      s.sql("DELETE FROM graftdml.s39_src WHERE pop > 1200")
      def recompute() = s.sql(
        "SELECT r, COUNT(*) AS n, SUM(pop) AS s FROM graftdml.s39_src GROUP BY r")
      def mvRows() = s.sql("SELECT r, n, s FROM graftdml.s39_mv")
      def sameAs(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      // definition-not-passthrough: pre-refresh reads serve the old state
      val servedStale = !sameAs(mvRows(), recompute())
      val staleBefore = s.sql(
        "SELECT stale FROM graftdml.`s39_mv$mv`").head().getBoolean(0)
      val r1 = s.sql("CALL graftdml.refresh_mv(view => 's39_mv')").head()
      val r2 = s.sql("CALL graftdml.refresh_mv(view => 's39_mv')").head()
      val freshAfter = !s.sql(
        "SELECT stale FROM graftdml.`s39_mv$mv`").head().getBoolean(0)
      mvRows()
        .withColumn("served_state_pre_refresh", lit(servedStale))
        .withColumn("stale_flag_flipped", lit(staleBefore && freshAfter))
        .withColumn("incremental_lane", lit(r1.getString(1) == "incremental"))
        .withColumn("second_refresh_noop", lit(r2.getString(1) == "noop"))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      ins AS (SELECT CAST(i + 100 AS BIGINT) AS k, CAST((i + 100) % 5 AS BIGINT) AS r,
                CAST((i + 100) * 10 + 7 AS BIGINT) AS pop FROM range(5) t(i)),
      after2 AS (
        SELECT k, CASE WHEN k % 3 = 0 THEN (r + 1) % 5 ELSE r END AS r,
          CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
        FROM src WHERE k % 7 <> 4
        UNION ALL SELECT k, r, pop FROM ins),
      after3 AS (SELECT k, r, CASE WHEN r = 2 THEN pop + 3 ELSE pop END AS pop
                 FROM after2),
      after4 AS (SELECT * FROM after3 WHERE pop <= 1200)
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS s,
        TRUE AS served_state_pre_refresh, TRUE AS stale_flag_flipped,
        TRUE AS incremental_lane, TRUE AS second_refresh_noop
      FROM after4 GROUP BY r ORDER BY r""")),

    // ----- S39b: incremental MV maintenance over STAR JOINS — the most
    // common real MV shape (fact ⋈ dims rollup) folds incrementally: the
    // delta-join identity Δ(F⋈D) = ΔF⋈D holds when the dims are static
    // (inner joins are per-row linear in both inputs), so a refresh
    // evaluates the view query over the FACT changelog slice's images
    // with every dim pinned at its recorded version and folds the
    // per-group difference — cost ∝ fact-changes ⋈ dims + |view|, never
    // ∝ |fact|, which is the 100 TB shape (hot fact, slowly-changing
    // dims). A DIM commit voids the identity and poisons that one
    // refresh to a loud full recompute (which re-pins); fact-only DML
    // folds again right after. The gate pins all four lanes: fact DML →
    // incremental, dim DML → full, post-poison fact DML → incremental,
    // drained → noop — and the final state hashes the DuckDB closed form
    // of the whole DML history.
    GraftQuery("s39b_mv_join", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.s39b_mv")
      s.sql("DROP TABLE IF EXISTS graftdml.s39b_fact")
      s.sql("DROP TABLE IF EXISTS graftdml.s39b_dim")
      s.sql("""CREATE TABLE graftdml.s39b_fact
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("""CREATE TABLE graftdml.s39b_dim
        (rk BIGINT NOT NULL, nm STRING, w BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='rk', 'buckets'='2')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s39b_fact_rows")
      T.region(s, d)
        .select($"r_regionkey".cast("long").as("rk"), $"r_name".as("nm"),
          ($"r_regionkey" * 3 + 1).cast("long").as("w"))
        .createOrReplaceTempView("s39b_dim_rows")
      s.sql("INSERT INTO graftdml.s39b_fact SELECT * FROM s39b_fact_rows")
      s.sql("INSERT INTO graftdml.s39b_dim SELECT * FROM s39b_dim_rows")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.s39b_mv AS
        SELECT d.nm AS nm, COUNT(*) AS n, SUM(f.pop * d.w) AS s
        FROM graftdml.s39b_fact f JOIN graftdml.s39b_dim d ON f.r = d.rk
        GROUP BY d.nm""")
      // lane 1: fact-only DML (insert + update + delete) must FOLD
      s.sql("UPDATE graftdml.s39b_fact SET pop = pop + 1000 WHERE k % 3 = 0")
      s.sql("DELETE FROM graftdml.s39b_fact WHERE k % 7 = 4")
      s.sql("""INSERT INTO graftdml.s39b_fact
        SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7 FROM range(5)""")
      val r1 = s.sql("CALL graftdml.refresh_mv(view => 's39b_mv')").head()
      // lane 2: a DIM commit voids ΔF⋈D — must RECOMPUTE (and must
      // actually overwrite: the fact version didn't move, so a blindly
      // stamped watermark would no-op the fix away)
      s.sql("UPDATE graftdml.s39b_dim SET w = w * 2 WHERE rk IN (1, 3)")
      val r2 = s.sql("CALL graftdml.refresh_mv(view => 's39b_mv')").head()
      // lane 3: the poison clears — group-moving fact DML folds again
      s.sql("UPDATE graftdml.s39b_fact SET r = (r + 2) % 5 WHERE k % 5 = 0")
      val r3 = s.sql("CALL graftdml.refresh_mv(view => 's39b_mv')").head()
      // lane 4: drained
      val r4 = s.sql("CALL graftdml.refresh_mv(view => 's39b_mv')").head()
      s.sql("SELECT nm, n, s FROM graftdml.s39b_mv")
        .withColumn("fact_fold_incremental", lit(r1.getString(1) == "incremental"))
        .withColumn("dim_poison_full", lit(r2.getString(1) == "full"))
        .withColumn("refold_incremental", lit(r3.getString(1) == "incremental"))
        .withColumn("drained_noop", lit(r4.getString(1) == "noop"))
        .orderBy($"nm")
    }, Some("""
      WITH fact0 AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                       CAST(n_regionkey AS BIGINT) AS r,
                       CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      f1 AS (SELECT k, r, CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
             FROM fact0),
      f2 AS (SELECT * FROM f1 WHERE k % 7 <> 4),
      f3 AS (SELECT * FROM f2
             UNION ALL
             SELECT CAST(i + 100 AS BIGINT), CAST((i + 100) % 5 AS BIGINT),
               CAST((i + 100) * 10 + 7 AS BIGINT) FROM range(5) t(i)),
      f4 AS (SELECT k, CASE WHEN k % 5 = 0 THEN (r + 2) % 5 ELSE r END AS r, pop
             FROM f3),
      dim0 AS (SELECT CAST(r_regionkey AS BIGINT) AS rk, r_name AS nm,
                 CAST(r_regionkey * 3 + 1 AS BIGINT) AS w FROM region),
      dim1 AS (SELECT rk, nm, CASE WHEN rk IN (1, 3) THEN w * 2 ELSE w END AS w
               FROM dim0)
      SELECT d.nm AS nm, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.pop * d.w) AS BIGINT) AS s,
        TRUE AS fact_fold_incremental, TRUE AS dim_poison_full,
        TRUE AS refold_incremental, TRUE AS drained_noop
      FROM f4 f JOIN dim1 d ON f.r = d.rk GROUP BY d.nm ORDER BY d.nm""")),

    // ----- S39c: transparent MV rewrite — a resolved aggregate that IS
    // the body of a FRESH materialized view (exact canonical match: the
    // candidate body re-analyzes in its definer context, rebases onto the
    // query's own relation instances, and must sameResult the query's
    // Aggregate) is answered from the MV state — one |view|-row scan —
    // without the user naming the MV. The warehouse lever at 100 TB: the
    // dashboard keeps querying the base tables, someone materializes the
    // rollup, every matching query drops from a fact-table scan to a
    // state read. Substitution is freshness-gated (watermark == current
    // on the watermark table, dims at recorded versions — the `mv$mv`
    // math), so a rewrite can NEVER change results: a stale MV leaves
    // the plan untouched and the query reads the base tables. The gate
    // pins the plan booleans both ways (fresh → state scanned + base
    // absent + values hash the direct evaluation; stale → base scanned +
    // values serve the LATEST data) and the final rewritten rows hash
    // the DuckDB closed form.
    GraftQuery("s39c_mv_rewrite", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.s39c_mv")
      s.sql("DROP TABLE IF EXISTS graftdml.s39c_t")
      s.sql("""CREATE TABLE graftdml.s39c_t
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s39c_rows")
      s.sql("INSERT INTO graftdml.s39c_t SELECT * FROM s39c_rows")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.s39c_mv AS
        SELECT r, COUNT(*) AS n, SUM(pop) AS s
        FROM graftdml.s39c_t GROUP BY r""")
      val q = "SELECT r, COUNT(*) AS n, SUM(pop) AS s " +
        "FROM graftdml.s39c_t GROUP BY r"
      def usesState(df: org.apache.spark.sql.DataFrame): Boolean =
        usesMvState(df, "__mv_state_s39c_mv", "s39c_t")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      // fresh: the raw aggregate substitutes the state scan, values equal
      // the direct (rewrite-disabled) evaluation
      val fresh = s.sql(q)
      val freshHit = usesState(fresh)
      val freshRows = rows(fresh)
      val (directMiss, valuesMatch) = withRewriteDisabled(s) {
        val direct = s.sql(q)
        (!usesState(direct), freshRows == rows(direct))
      }
      // stale: DML lands, the MV must NOT substitute and the query must
      // serve the LATEST data straight off the base table
      s.sql("UPDATE graftdml.s39c_t SET pop = pop + 1000 WHERE k % 3 = 0")
      s.sql("DELETE FROM graftdml.s39c_t WHERE k % 7 = 4")
      val stale = s.sql(q)
      val staleMiss = !usesState(stale)
      val staleLatest = rows(stale) == rows(
        s.sql(q.replace("graftdml.s39c_t",
          "(SELECT * FROM graftdml.s39c_t) x")))
      // refreshed: the rewrite resumes on the new contents
      s.sql("CALL graftdml.refresh_mv(view => 's39c_mv')")
      val again = s.sql(q)
      val againHit = usesState(again)
      again
        .withColumn("fresh_rewrite_hit", lit(freshHit))
        .withColumn("kill_switch_direct", lit(directMiss))
        .withColumn("rewrite_values_match", lit(valuesMatch))
        .withColumn("stale_no_rewrite", lit(staleMiss))
        .withColumn("stale_serves_latest", lit(staleLatest))
        .withColumn("refreshed_rewrite_hit", lit(againHit))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      a1 AS (SELECT k, r, CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
             FROM src),
      a2 AS (SELECT * FROM a1 WHERE k % 7 <> 4)
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS s,
        TRUE AS fresh_rewrite_hit, TRUE AS kill_switch_direct,
        TRUE AS rewrite_values_match, TRUE AS stale_no_rewrite,
        TRUE AS stale_serves_latest, TRUE AS refreshed_rewrite_hit
      FROM a2 GROUP BY r ORDER BY r""")),

    // ----- S39d: ROLLUP derivation in the transparent MV rewrite — the
    // real warehouse matcher: a query aggregating the SAME child at a
    // COARSER grain than a fresh MV (its groupings a subset of the MV's
    // projected groupings, its aggregates re-aggregations of the MV's
    // public outputs: COUNT→SUM(count col) with an empty-input coalesce,
    // SUM→SUM, MIN/MAX→MIN/MAX — exact by associativity over the MV's
    // disjoint finer groups) is answered by ONE Aggregate over the
    // |view|-row state instead of a fact-table scan. One per-(r, parity)
    // MV serves the per-r dashboard, the per-parity dashboard, AND the
    // global total — nobody materializes the coarser views. Same
    // freshness gate as the exact match, so never wrong; AVG and
    // DISTINCT aggregates honestly run as written (not derivable from
    // public sums). The gate pins the plan booleans (three coarser
    // grains roll up from the state with the base table absent; AVG does
    // NOT; a stale MV does NOT) and the rolled-up per-r rows hash the
    // DuckDB closed form.
    GraftQuery("s39d_mv_rollup", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.s39d_mv")
      s.sql("DROP TABLE IF EXISTS graftdml.s39d_t")
      s.sql("""CREATE TABLE graftdml.s39d_t
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s39d_rows")
      s.sql("INSERT INTO graftdml.s39d_t SELECT * FROM s39d_rows")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.s39d_mv AS
        SELECT r, k % 2 AS odd, COUNT(*) AS n, SUM(pop) AS s,
          MIN(pop) AS mn, MAX(pop) AS mx
        FROM graftdml.s39d_t GROUP BY r, k % 2""")
      def usesState(df: org.apache.spark.sql.DataFrame): Boolean =
        usesMvState(df, "__mv_state_s39d_mv", "s39d_t")
      val qr = "SELECT r, COUNT(*) AS n, SUM(pop) AS s, MIN(pop) AS mn, " +
        "MAX(pop) AS mx FROM graftdml.s39d_t GROUP BY r"
      val byR = s.sql(qr)
      val byOdd = s.sql("SELECT k % 2 AS odd, SUM(pop) AS s " +
        "FROM graftdml.s39d_t GROUP BY k % 2")
      val global = s.sql("SELECT COUNT(*) AS n FROM graftdml.s39d_t")
      val avg = s.sql("SELECT r, AVG(pop) AS a FROM graftdml.s39d_t GROUP BY r")
      val rolledAll = usesState(byR) && usesState(byOdd) && usesState(global)
      val avgDirect = !usesState(avg)
      // value identity vs the rewrite-disabled direct evaluations
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      val rolledRows = (rows(byR), rows(byOdd), rows(global))
      val directMatch = withRewriteDisabled(s) {
        rolledRows == ((rows(s.sql(qr)),
          rows(s.sql("SELECT k % 2 AS odd, SUM(pop) AS s " +
            "FROM graftdml.s39d_t GROUP BY k % 2")),
          rows(s.sql("SELECT COUNT(*) AS n FROM graftdml.s39d_t"))))
      }
      // staleness kills the rollup too
      s.sql("INSERT INTO graftdml.s39d_t VALUES (999, 0, 1)")
      val staleDirect = !usesState(s.sql(qr))
      s.sql("DELETE FROM graftdml.s39d_t WHERE k = 999")
      s.sql("CALL graftdml.refresh_mv(view => 's39d_mv')")
      // AVG derivation (r16): an MV CO-PROJECTING SUM(pop) and COUNT(pop)
      // serves AVG(pop) as Σsums/Σcounts — the COUNT(*)-only MV above
      // honestly could not (avg_runs_direct pinned it); this one can
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.s39d_avgmv")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.s39d_avgmv AS
        SELECT r, k % 2 AS odd, SUM(pop) AS s, COUNT(pop) AS nn
        FROM graftdml.s39d_t GROUP BY r, k % 2""")
      val qa = "SELECT r, AVG(pop) AS a FROM graftdml.s39d_t GROUP BY r"
      val avgRolled = s.sql(qa)
      val avgHit = usesMvState(avgRolled, "__mv_state_s39d_avgmv", "s39d_t")
      val avgRows = rows(avgRolled)
      val avgMatch = withRewriteDisabled(s) { avgRows == rows(s.sql(qa)) }
      s.sql(qr)
        .withColumn("rolled_from_state", lit(rolledAll))
        .withColumn("avg_runs_direct", lit(avgDirect))
        .withColumn("values_match_direct", lit(directMatch))
        .withColumn("stale_runs_direct", lit(staleDirect))
        .withColumn("avg_rollup_hit", lit(avgHit))
        .withColumn("avg_values_match", lit(avgMatch))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation)
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS s,
        CAST(MIN(pop) AS BIGINT) AS mn, CAST(MAX(pop) AS BIGINT) AS mx,
        TRUE AS rolled_from_state, TRUE AS avg_runs_direct,
        TRUE AS values_match_direct, TRUE AS stale_runs_direct,
        TRUE AS avg_rollup_hit, TRUE AS avg_values_match
      FROM src GROUP BY r ORDER BY r""")),

    // ----- S39e: PREDICATE CONTAINMENT in the transparent MV rewrite —
    // the filtered-dashboard matcher: a WHERE under the aggregate whose
    // every base reference re-expresses over the MV's PROJECTED GROUPING
    // expressions commutes with the aggregation (each finer group's rows
    // pass or fail together), so the query substitutes as σ over the
    // |view|-row state — composed with BOTH the exact matcher (same
    // grain + filter) and the rollup matcher (coarser grain + filter).
    // `WHERE region = 'ASIA'` over a per-(region, day) MV is the most
    // common dashboard query there is; before this matcher it silently
    // scanned the fact. A predicate needing a NON-grouping column (k)
    // honestly runs direct — σ on the state cannot answer it. Same
    // freshness gate as every other substitution. The gate pins the plan
    // booleans (three filtered shapes hit the state with the base table
    // absent; the non-group predicate and the stale MV do not; all
    // values hash the rewrite-disabled evaluations) and the final
    // filtered-rollup rows hash the DuckDB closed form.
    GraftQuery("s39e_mv_filter_rewrite", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.s39e_mv")
      s.sql("DROP TABLE IF EXISTS graftdml.s39e_t")
      s.sql("""CREATE TABLE graftdml.s39e_t
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s39e_rows")
      s.sql("INSERT INTO graftdml.s39e_t SELECT * FROM s39e_rows")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.s39e_mv AS
        SELECT r, k % 2 AS odd, COUNT(*) AS n, SUM(pop) AS s
        FROM graftdml.s39e_t GROUP BY r, k % 2""")
      def usesState(df: org.apache.spark.sql.DataFrame): Boolean =
        usesMvState(df, "__mv_state_s39e_mv", "s39e_t")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      // same grain + filter on a projected grouping column
      val qExact = "SELECT r, k % 2 AS odd, COUNT(*) AS n, SUM(pop) AS s " +
        "FROM graftdml.s39e_t WHERE r IN (0, 2) GROUP BY r, k % 2"
      // filter through the grouping EXPRESSION (k % 2 — never raw k)
      val qExpr = "SELECT r, k % 2 AS odd, SUM(pop) AS s " +
        "FROM graftdml.s39e_t WHERE k % 2 = 1 GROUP BY r, k % 2"
      // coarser grain + filter: σ composes with the rollup matcher
      val qRoll = "SELECT r, COUNT(*) AS n, SUM(pop) AS s " +
        "FROM graftdml.s39e_t WHERE r >= 1 GROUP BY r"
      val (eDf, xDf, rDf) = (s.sql(qExact), s.sql(qExpr), s.sql(qRoll))
      val filteredHits = usesState(eDf) && usesState(xDf) && usesState(rDf)
      val filteredRows = (rows(eDf), rows(xDf), rows(rDf))
      val valuesMatch = withRewriteDisabled(s) {
        filteredRows == ((rows(s.sql(qExact)), rows(s.sql(qExpr)),
          rows(s.sql(qRoll))))
      }
      // a predicate on the raw key is NOT containable — honest direct run
      val nonGroupDirect = !usesState(s.sql(
        "SELECT r, SUM(pop) AS s FROM graftdml.s39e_t WHERE k > 5 GROUP BY r"))
      // staleness kills the filtered rewrite like every other shape
      s.sql("INSERT INTO graftdml.s39e_t VALUES (999, 1, 1)")
      val staleDirect = !usesState(s.sql(qRoll))
      s.sql("DELETE FROM graftdml.s39e_t WHERE k = 999")
      s.sql("CALL graftdml.refresh_mv(view => 's39e_mv')")
      s.sql(qRoll)
        .withColumn("filtered_rewrites_hit", lit(filteredHits))
        .withColumn("values_match_direct", lit(valuesMatch))
        .withColumn("nongroup_runs_direct", lit(nonGroupDirect))
        .withColumn("stale_runs_direct", lit(staleDirect))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation)
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS s,
        TRUE AS filtered_rewrites_hit, TRUE AS values_match_direct,
        TRUE AS nongroup_runs_direct, TRUE AS stale_runs_direct
      FROM src WHERE r >= 1 GROUP BY r ORDER BY r""")),

    // ----- S44: cross-table atomic publish — a table-group commit over
    // the branch machinery: stage work on a same-named branch per member,
    // `CALL publish_group(tables => 'f,s', name => ...)` fast-forwards
    // EVERY branch or NONE. Two-phase with one decision point: prepare
    // adopts each branch's versions INVISIBLY (above the pointer) under
    // the same claims fast_forward takes, a single CREATE_NEW decision
    // file commits the whole group, completion flips the pointers. A
    // coordinator crash BEFORE the decision publishes neither member
    // (its claims age out and any later access aborts the group loudly);
    // a crash AFTER the decision rolls FORWARD on the next read of any
    // member (scan-path recovery) — the fact+summary publish a warehouse
    // actually needs: consumers can never see the fact advance without
    // its summary. The gate drives all three lanes with injected crashes
    // (booleans) and hashes the final joined contents of both members
    // against the DuckDB closed form.
    GraftQuery("s44_multi_table_txn", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.s44_f")
      s.sql("DROP TABLE IF EXISTS graftdml.s44_s")
      s.sql("""CREATE TABLE graftdml.s44_f
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("""CREATE TABLE graftdml.s44_s
        (r BIGINT NOT NULL, total BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='r', 'buckets'='2')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s44_rows")
      s.sql("INSERT INTO graftdml.s44_f SELECT * FROM s44_rows")
      s.sql("INSERT INTO graftdml.s44_s SELECT r, SUM(pop) FROM s44_rows " +
        "GROUP BY r")
      def fCnt() = s.sql("SELECT COUNT(*) FROM graftdml.s44_f")
        .head().getLong(0)
      def sTot() = s.sql("SELECT SUM(total) FROM graftdml.s44_s")
        .head().getLong(0)
      val (f0, t0) = (fCnt(), sTot())
      // the fact+summary publish: new fact rows AND the summary's bump
      // stage on one branch name across both tables
      def stage(off: Long): Unit = {
        Seq("s44_f", "s44_s").foreach(t =>
          s.sql(s"CALL graftdml.create_branch(table => '$t', name => 'wap')"))
        s.sql("INSERT INTO graftdml.`s44_f$branch$wap` " +
          s"SELECT id + $off, CAST(id % 5 AS BIGINT), (id + $off) * 2 " +
          "FROM range(5)")
        s.sql(s"""MERGE INTO graftdml.`s44_s$$branch$$wap` t USING (
            SELECT CAST(id % 5 AS BIGINT) AS r, (id + $off) * 2 AS add
            FROM range(5)) c
          ON t.r = c.r
          WHEN MATCHED THEN UPDATE SET total = t.total + c.add
          WHEN NOT MATCHED THEN INSERT (r, total) VALUES (c.r, c.add)""")
      }
      stage(1000L)
      // lane 1: coordinator dies BEFORE the decision → NEITHER member
      // moves, both branches stay intact
      val crashed = graft.sources.GraftStore.withCrashAt(
          "publishGroup.before-decision") {
        try {
          s.sql("CALL graftdml.publish_group(tables => 's44_f,s44_s', " +
            "name => 'wap')")
          false
        } catch { case _: Exception => true }
      }
      val neitherMoved = crashed && fCnt() == f0 && sTot() == t0
      // lane 2: the dead coordinator's claims age out → a retry aborts
      // the stalled group and publishes BOTH atomically
      val savedStale = sys.props.get("graft.store.staleClaimMillis")
      sys.props("graft.store.staleClaimMillis") = "50"
      val published = try {
        Thread.sleep(120)
        s.sql("CALL graftdml.publish_group(tables => 's44_f,s44_s', " +
          "name => 'wap')").head().getLong(0) == 2L
      } finally savedStale match {
        case Some(v) => sys.props("graft.store.staleClaimMillis") = v
        case None => sys.props.remove("graft.store.staleClaimMillis")
      }
      val bothMoved = published && fCnt() == f0 + 5 && sTot() > t0
      // lane 3: crash AFTER the decision (between the two pointer flips)
      // → a plain read of the still-old member rolls the group FORWARD
      stage(2000L)
      graft.sources.GraftStore.withCrashAt("publishGroup.between-flips") {
        try s.sql("CALL graftdml.publish_group(tables => 's44_f,s44_s', " +
          "name => 'wap')")
        catch { case _: Exception => () }
      }
      val rolledForward = fCnt() == f0 + 10 && sTot() > t0 &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(
          DmlFixture.warehouse, "s44_s", "_groupcommit"))
      // CDC continuity: the adopted commits carry change rows on BOTH
      val cdcBoth =
        s.sql("SELECT COUNT(*) FROM graftdml.`s44_f$changes` " +
          "WHERE change_op = 'I' AND k >= 1000").head().getLong(0) == 10L &&
        s.sql("SELECT COUNT(*) FROM graftdml.`s44_s$changes` " +
          "WHERE change_op IN ('U','I')").head().getLong(0) >= 5L
      s.sql("""SELECT f.r, COUNT(*) AS n, SUM(f.pop) AS fact_pop,
          MAX(s.total) AS summary_total
        FROM graftdml.s44_f f JOIN graftdml.s44_s s ON f.r = s.r
        GROUP BY f.r""")
        .withColumn("crash_publishes_neither", lit(neitherMoved))
        .withColumn("retry_publishes_both", lit(bothMoved))
        .withColumn("decided_rolls_forward", lit(rolledForward))
        .withColumn("cdc_on_both_members", lit(cdcBoth))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      burst AS (SELECT CAST(i + 1000 AS BIGINT) AS k, CAST(i % 5 AS BIGINT) AS r,
                  CAST((i + 1000) * 2 AS BIGINT) AS pop
                FROM range(5) t(i)
                UNION ALL
                SELECT CAST(i + 2000 AS BIGINT), CAST(i % 5 AS BIGINT),
                  CAST((i + 2000) * 2 AS BIGINT)
                FROM range(5) t(i)),
      fact AS (SELECT * FROM src UNION ALL SELECT * FROM burst),
      summ AS (SELECT r, SUM(pop) AS total FROM fact GROUP BY r)
      SELECT f.r, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.pop) AS BIGINT) AS fact_pop,
        CAST(MAX(s.total) AS BIGINT) AS summary_total,
        TRUE AS crash_publishes_neither, TRUE AS retry_publishes_both,
        TRUE AS decided_rolls_forward, TRUE AS cdc_on_both_members
      FROM fact f JOIN summ s ON f.r = s.r GROUP BY f.r ORDER BY f.r""")),

    // ----- S45: session-scoped multi-statement TRANSACTIONS —
    // `CALL begin_txn(tables => ...)` routes every later plain-name
    // read/write of the enrolled tables in THIS session to a hidden
    // per-table branch (read-your-writes, repeatable reads, invisible to
    // every other session); `CALL commit_txn()` publishes the members the
    // txn WROTE as ONE table group (all pointers flip or none, S44
    // machinery) and first-committer-wins refuses when main moved off a
    // written member's fork; `CALL rollback_txn()` drops the branches.
    // Writes to NON-enrolled graft tables are fenced at planning while
    // the txn is active — a silently non-transactional write is the one
    // unforgivable failure mode. The gate pins: mid-txn isolation (an
    // independent session sees nothing), read-your-writes, the fence,
    // atomic commit visibility, rollback hygiene, the conflict lane
    // (outside writer advances a written member → whole commit refuses,
    // txn intact, rollback leaves the outside write standing), and the
    // final contents hashing the DuckDB closed form.
    GraftQuery("s45_multi_stmt_txn", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.s45_a")
      s.sql("DROP TABLE IF EXISTS graftdml.s45_b")
      s.sql("DROP TABLE IF EXISTS graftdml.s45_c")
      s.sql("""CREATE TABLE graftdml.s45_a
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("""CREATE TABLE graftdml.s45_b
        (r BIGINT NOT NULL, total BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='r', 'buckets'='2')""")
      s.sql("""CREATE TABLE graftdml.s45_c
        (k BIGINT NOT NULL, v BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='2')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s45_rows")
      s.sql("INSERT INTO graftdml.s45_a SELECT * FROM s45_rows")
      s.sql("INSERT INTO graftdml.s45_b SELECT r, SUM(pop) FROM s45_rows " +
        "GROUP BY r")
      s.sql("INSERT INTO graftdml.s45_c VALUES (1, 5)")
      // an INDEPENDENT session over the same warehouse — what every
      // other user sees while this session's txn is open
      val o = s.newSession()
      DmlFixture.register(o)
      def aCnt(ss: org.apache.spark.sql.SparkSession) =
        ss.sql("SELECT COUNT(*) FROM graftdml.s45_a").head().getLong(0)
      def bTot(ss: org.apache.spark.sql.SparkSession) =
        ss.sql("SELECT SUM(total) FROM graftdml.s45_b").head().getLong(0)
      val (a0, t0) = (aCnt(s), bTot(s))
      def cleanup(): Unit =
        try s.sql("CALL graftdml.rollback_txn()").collect()
        catch { case _: Exception => () }
      // lane 1: multi-statement txn — isolation, fence, atomic commit
      var isolated = false; var fenced = false; var committed = false
      try {
        s.sql("CALL graftdml.begin_txn(tables => 's45_a,s45_b', " +
          "name => 'tx1')")
        s.sql("INSERT INTO graftdml.s45_a SELECT id + 1000, " +
          "CAST(id % 5 AS BIGINT), (id + 1000) * 2 FROM range(5)")
        s.sql("""MERGE INTO graftdml.s45_b t USING (
            SELECT CAST(id % 5 AS BIGINT) AS r, (id + 1000) * 2 AS add
            FROM range(5)) c
          ON t.r = c.r
          WHEN MATCHED THEN UPDATE SET total = t.total + c.add
          WHEN NOT MATCHED THEN INSERT (r, total) VALUES (c.r, c.add)""")
        // this session sees its writes; the outside session sees nothing
        isolated = aCnt(s) == a0 + 5 && bTot(s) > t0 &&
          aCnt(o) == a0 && bTot(o) == t0
        // a write to the non-enrolled bystander is fenced at planning
        fenced = try {
          s.sql("INSERT INTO graftdml.s45_c VALUES (2, 6)"); false
        } catch {
          case e: Exception =>
            Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .take(8).exists(t => Option(t.getMessage)
                .exists(_.contains("not enrolled")))
        }
        val done = s.sql("CALL graftdml.commit_txn()").head()
        committed = done.getLong(0) == 2L && aCnt(o) == a0 + 5 &&
          bTot(o) > t0
      } finally cleanup()
      // lane 2: rollback leaves no trace anywhere
      var rolledBack = false
      try {
        s.sql("CALL graftdml.begin_txn(tables => 's45_a,s45_b')")
        s.sql("INSERT INTO graftdml.s45_a VALUES (2000, 0, 1)")
        s.sql("CALL graftdml.rollback_txn()")
        rolledBack = aCnt(s) == a0 + 5 && aCnt(o) == a0 + 5
      } finally cleanup()
      // lane 3: first-committer-wins — an outside writer advances the
      // written member mid-txn, the WHOLE commit refuses, the txn's
      // staging never lands, the outside write stands
      var conflicted = false
      try {
        s.sql("CALL graftdml.begin_txn(tables => 's45_a,s45_b')")
        s.sql("UPDATE graftdml.s45_a SET pop = 0 WHERE k = 1000")
        o.sql("INSERT INTO graftdml.s45_a VALUES (3000, 0, 77)")
        val refused = try { s.sql("CALL graftdml.commit_txn()"); false }
          catch { case _: Exception => true }
        s.sql("CALL graftdml.rollback_txn()")
        conflicted = refused &&
          s.sql("SELECT pop FROM graftdml.s45_a WHERE k = 1000")
            .head().getLong(0) == 2000L &&
          s.sql("SELECT COUNT(*) FROM graftdml.s45_a WHERE k = 3000")
            .head().getLong(0) == 1L
      } finally cleanup()
      // lane 4: the OCC retry — the same conflict shape but on DISJOINT
      // keys auto-rebases under commit_txn(retry => true) and publishes
      // main ⊎ the txn's statements; nobody loses a write
      var autoRetried = false
      try {
        s.sql("CALL graftdml.begin_txn(tables => 's45_a,s45_b')")
        s.sql("UPDATE graftdml.s45_a SET pop = 300 WHERE k = 2")
        o.sql("INSERT INTO graftdml.s45_a VALUES (4000, 1, 88)")
        val done = s.sql("CALL graftdml.commit_txn(retry => true)").head()
        autoRetried = done.getLong(0) == 1L &&
          o.sql("SELECT pop FROM graftdml.s45_a WHERE k = 2")
            .head().getLong(0) == 300L &&
          o.sql("SELECT COUNT(*) FROM graftdml.s45_a WHERE k = 4000")
            .head().getLong(0) == 1L
      } finally cleanup()
      s.sql("""SELECT f.r, COUNT(*) AS n, SUM(f.pop) AS fact_pop,
          MAX(b.total) AS summary_total
        FROM graftdml.s45_a f JOIN graftdml.s45_b b ON f.r = b.r
        GROUP BY f.r""")
        .withColumn("txn_isolated_and_ryw", lit(isolated))
        .withColumn("nonenrolled_write_fenced", lit(fenced))
        .withColumn("commit_atomic", lit(committed))
        .withColumn("rollback_clean", lit(rolledBack))
        .withColumn("conflict_refuses_whole_txn", lit(conflicted))
        .withColumn("conflict_auto_retried", lit(autoRetried))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      burst AS (SELECT CAST(i + 1000 AS BIGINT) AS k, CAST(i % 5 AS BIGINT) AS r,
                  CAST((i + 1000) * 2 AS BIGINT) AS pop
                FROM range(5) t(i)),
      fact AS (SELECT k, r, CASE WHEN k = 2 THEN 300 ELSE pop END AS pop
               FROM (SELECT * FROM src UNION ALL SELECT * FROM burst
                     UNION ALL SELECT 3000, 0, 77
                     UNION ALL SELECT 4000, 1, 88)),
      summ AS (SELECT r, SUM(pop) AS total
               FROM (SELECT * FROM src UNION ALL SELECT * FROM burst)
               GROUP BY r)
      SELECT f.r, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.pop) AS BIGINT) AS fact_pop,
        CAST(MAX(s.total) AS BIGINT) AS summary_total,
        TRUE AS txn_isolated_and_ryw, TRUE AS nonenrolled_write_fenced,
        TRUE AS commit_atomic, TRUE AS rollback_clean,
        TRUE AS conflict_refuses_whole_txn, TRUE AS conflict_auto_retried
      FROM fact f JOIN summ s ON f.r = s.r GROUP BY f.r ORDER BY f.r""")),

    // ----- S45b: transaction SAVEPOINTs — `CALL savepoint(name)` marks
    // a point inside the session txn (metadata-only: every member
    // branch's head); `CALL rollback_to_savepoint(name)` undoes just the
    // statements after it via a per-member branch RESTORE (hard links,
    // nothing published), leaving the txn open to keep working. The gate
    // pins: partial rollback inside the txn (post-savepoint rows and the
    // summary poke vanish, pre-savepoint rows stand), SQL savepoint
    // semantics (later savepoints destroyed by the rollback, the target
    // reusable, repeat rollback a no-op), atomic commit publishing only
    // what survived, the restored member's publish carrying the
    // restore's CDC snapshot boundary (consumers re-snapshot, never
    // resurrect the undone writes), and the final fact⋈summary contents
    // hashing the DuckDB closed form.
    GraftQuery("s45b_txn_savepoint", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.s45b_a")
      s.sql("DROP TABLE IF EXISTS graftdml.s45b_b")
      s.sql("""CREATE TABLE graftdml.s45b_a
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("""CREATE TABLE graftdml.s45b_b
        (r BIGINT NOT NULL, total BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='r', 'buckets'='2')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s45b_rows")
      s.sql("INSERT INTO graftdml.s45b_a SELECT * FROM s45b_rows")
      s.sql("INSERT INTO graftdml.s45b_b SELECT r, SUM(pop) " +
        "FROM s45b_rows GROUP BY r")
      val o = s.newSession()
      DmlFixture.register(o)
      def cleanup(): Unit =
        try s.sql("CALL graftdml.rollback_txn()").collect()
        catch { case _: Exception => () }
      def deepMsg(e: Throwable)(p: String => Boolean): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(t => Option(t.getMessage).exists(p))
      var partial = false; var laterGone = false; var repeatNoop = false
      var committedKept = false; var boundary = false
      try {
        s.sql("CALL graftdml.begin_txn(tables => 's45b_a,s45b_b', " +
          "name => 'sp1')")
        s.sql("INSERT INTO graftdml.s45b_a SELECT id + 4000, " +
          "CAST(id % 5 AS BIGINT), (id + 4000) * 3 FROM range(4)") // keep
        s.sql("CALL graftdml.savepoint(name => 's1')")
        s.sql("INSERT INTO graftdml.s45b_a SELECT id + 5000, " +
          "CAST(id % 5 AS BIGINT), 1 FROM range(5)") // undone below
        s.sql("UPDATE graftdml.s45b_b SET total = 0 WHERE r = 0") // undone
        s.sql("CALL graftdml.savepoint(name => 's2')")
        val restored = s.sql(
          "CALL graftdml.rollback_to_savepoint(name => 's1')")
          .head().getLong(0)
        // post-savepoint statements vanish INSIDE the open txn; the
        // pre-savepoint burst stands
        partial = restored == 2L &&
          s.sql("SELECT COUNT(*) FROM graftdml.s45b_a WHERE k >= 5000")
            .head().getLong(0) == 0L &&
          s.sql("SELECT COUNT(*) FROM graftdml.s45b_a WHERE k >= 4000")
            .head().getLong(0) == 4L &&
          s.sql("SELECT MIN(total) FROM graftdml.s45b_b")
            .head().getLong(0) > 0L
        // the rollback destroyed s2 (SQL semantics) but s1 is reusable —
        // and reusing it immediately is a no-op, not another restore
        laterGone = try {
          s.sql("CALL graftdml.rollback_to_savepoint(name => 's2')")
            .collect(); false
        } catch { case e: Exception => deepMsg(e)(_.contains("no savepoint")) }
        repeatNoop = s.sql(
          "CALL graftdml.rollback_to_savepoint(name => 's1')")
          .head().getLong(0) == 0L
        s.sql("INSERT INTO graftdml.s45b_a VALUES (6000, 1, 11)")
        s.sql("CALL graftdml.commit_txn()").collect()
        committedKept =
          o.sql("SELECT COUNT(*) FROM graftdml.s45b_a")
            .head().getLong(0) == 30L &&
          o.sql("SELECT COUNT(*) FROM graftdml.s45b_a " +
            "WHERE k >= 5000 AND k < 6000").head().getLong(0) == 0L
        // the restored member published the restore's snapshot boundary:
        // its CDC consumers re-snapshot instead of folding past it
        boundary = graft.sources.GraftStore
          .latestBoundary(s"${DmlFixture.warehouse}/s45b_b").nonEmpty
      } finally cleanup()
      s.sql("""SELECT f.r, COUNT(*) AS n, SUM(f.pop) AS fact_pop,
          MAX(b.total) AS summary_total
        FROM graftdml.s45b_a f JOIN graftdml.s45b_b b ON f.r = b.r
        GROUP BY f.r""")
        .withColumn("savepoint_partial_rollback", lit(partial))
        .withColumn("later_savepoint_destroyed", lit(laterGone))
        .withColumn("repeat_rollback_noop", lit(repeatNoop))
        .withColumn("commit_publishes_kept_only", lit(committedKept))
        .withColumn("restored_member_boundary", lit(boundary))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      keep AS (SELECT CAST(i + 4000 AS BIGINT) AS k, CAST(i % 5 AS BIGINT) AS r,
                 CAST((i + 4000) * 3 AS BIGINT) AS pop FROM range(4) t(i)),
      fact AS (SELECT * FROM src UNION ALL SELECT * FROM keep
               UNION ALL SELECT 6000, 1, 11),
      summ AS (SELECT r, SUM(pop) AS total FROM src GROUP BY r)
      SELECT f.r, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.pop) AS BIGINT) AS fact_pop,
        CAST(MAX(s.total) AS BIGINT) AS summary_total,
        TRUE AS savepoint_partial_rollback, TRUE AS later_savepoint_destroyed,
        TRUE AS repeat_rollback_noop, TRUE AS commit_publishes_kept_only,
        TRUE AS restored_member_boundary
      FROM fact f JOIN summ s ON f.r = s.r GROUP BY f.r ORDER BY f.r""")),

    // ----- S46: consistent cross-table snapshots — `CALL snapshot_group
    // (tables => ...)` returns one (table, version) row per member such
    // that no table-group publish (S44/S45) is ever observed TORN: each
    // capture pass resolves decided groups first (after the decision
    // file is durable every capture reads post-publish), and two
    // consecutive equal passes prove all members landed on the same side
    // of every concurrent decision. Lock-free, metadata-only, O(members)
    // per pass — the reader-side closure of S44's one documented
    // softness (the instant between two COMPLETE pointer flips). The
    // gate pins: the invariant (fact/summary sums agree at EVERY
    // snapshot) under a RACING publisher thread, the deterministic
    // dead-coordinator lane (decision durable, one pointer lagging →
    // snapshot returns POST versions for both), and the final contents
    // hashing the DuckDB closed form.
    GraftQuery("s46_group_snapshot", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.s46_f")
      s.sql("DROP TABLE IF EXISTS graftdml.s46_s")
      s.sql("""CREATE TABLE graftdml.s46_f
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("""CREATE TABLE graftdml.s46_s
        (r BIGINT NOT NULL, total BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='r', 'buckets'='2')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s46_rows")
      s.sql("INSERT INTO graftdml.s46_f SELECT * FROM s46_rows")
      s.sql("INSERT INTO graftdml.s46_s SELECT r, SUM(pop) FROM s46_rows " +
        "GROUP BY r")
      // the group invariant every publish preserves: SUM(f.pop) ==
      // SUM(s.total) — only a TORN observation can break it
      def stage(off: Long): Unit = {
        Seq("s46_f", "s46_s").foreach(t => s.sql(
          s"CALL graftdml.create_branch(table => '$t', name => 'snap')"))
        s.sql("INSERT INTO graftdml.`s46_f$branch$snap` " +
          s"SELECT id + $off, CAST(id % 5 AS BIGINT), (id + $off) * 2 " +
          "FROM range(5)")
        s.sql(s"""MERGE INTO graftdml.`s46_s$$branch$$snap` t USING (
            SELECT CAST(id % 5 AS BIGINT) AS r, SUM((id + $off) * 2) AS add
            FROM range(5) GROUP BY 1) c
          ON t.r = c.r
          WHEN MATCHED THEN UPDATE SET total = t.total + c.add
          WHEN NOT MATCHED THEN INSERT (r, total) VALUES (c.r, c.add)""")
      }
      def snap(): Map[String, Long] =
        s.sql("CALL graftdml.snapshot_group(tables => 's46_f,s46_s')")
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      def sumsAgree(m: Map[String, Long]): Boolean = {
        val fp = s.sql(s"SELECT SUM(pop) FROM graftdml.s46_f " +
          s"VERSION AS OF ${m("s46_f")}").head().getLong(0)
        val st = s.sql(s"SELECT SUM(total) FROM graftdml.s46_s " +
          s"VERSION AS OF ${m("s46_s")}").head().getLong(0)
        fp == st
      }
      // racing publisher: 4 group publishes while this thread snapshots
      @volatile var publisherOk = true
      val publisher = new Thread(() => {
        try (0 until 4).foreach { i =>
          stage(1000L + i * 100)
          s.sql("CALL graftdml.publish_group(tables => 's46_f,s46_s', " +
            "name => 'snap')")
        } catch { case _: Throwable => publisherOk = false }
      })
      publisher.start()
      var racedConsistent = true
      var snaps = 0
      while (publisher.isAlive && snaps < 64) {
        racedConsistent &= sumsAgree(snap())
        snaps += 1
      }
      publisher.join()
      racedConsistent &= publisherOk && sumsAgree(snap())
      // deterministic lane: a dead coordinator BETWEEN the two pointer
      // flips — the decision is durable, one pointer lags; the snapshot's
      // captures roll the group forward and return POST for BOTH
      val before = snap()
      stage(9000L)
      graft.sources.GraftStore.withCrashAt("publishGroup.between-flips") {
        try s.sql("CALL graftdml.publish_group(tables => 's46_f,s46_s', " +
          "name => 'snap')")
        catch { case _: Exception => () }
      }
      val after = snap()
      val rolledForward = after("s46_f") > before("s46_f") &&
        after("s46_s") > before("s46_s") && sumsAgree(after)
      s.sql("""SELECT f.r, COUNT(*) AS n, SUM(f.pop) AS fact_pop,
          MAX(b.total) AS summary_total
        FROM graftdml.s46_f f JOIN graftdml.s46_s b ON f.r = b.r
        GROUP BY f.r""")
        .withColumn("raced_snapshots_consistent", lit(racedConsistent))
        .withColumn("dead_coordinator_reads_post", lit(rolledForward))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      burst AS (SELECT CAST(i + off AS BIGINT) AS k,
                  CAST(i % 5 AS BIGINT) AS r, CAST((i + off) * 2 AS BIGINT) AS pop
                FROM range(5) t(i)
                CROSS JOIN (SELECT UNNEST([1000, 1100, 1200, 1300, 9000]) AS off)),
      fact AS (SELECT * FROM src UNION ALL SELECT * FROM burst),
      summ AS (SELECT r, SUM(pop) AS total FROM fact GROUP BY r)
      SELECT f.r, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.pop) AS BIGINT) AS fact_pop,
        CAST(MAX(s.total) AS BIGINT) AS summary_total,
        TRUE AS raced_snapshots_consistent, TRUE AS dead_coordinator_reads_post
      FROM fact f JOIN summ s ON f.r = s.r GROUP BY f.r ORDER BY f.r""")),

    // ----- S40: writable branches — the WAP (write-audit-publish)
    // workflow at table-format parity: `CALL create_branch` forks a
    // self-contained zero-copy clone addressable as `t$branch$<name>`
    // (full DML/MERGE/maintenance) and readable via
    // `VERSION AS OF '<name>'`; main and branch evolve independently;
    // `CALL fast_forward` publishes the branch into main COMMIT-BY-COMMIT
    // (version dirs + changelog slices adopt by hard link with the slot-
    // owner references rewritten onto main's manifests — O(branch files),
    // zero data copied, zero bytes of main rewritten) when main hasn't
    // moved off the fork point, and conflicts loudly when it has. At
    // 100 TB this is the experiment-branch lever: load/validate on the
    // branch, publish with one pointer flip. The gate pins: branch
    // isolation in BOTH directions, read-by-name of both heads, the
    // divergence conflict (branch intact after), per-commit history
    // surviving the publish (time travel to a mid-branch version), CDC
    // continuity (change ops for every adopted commit), and the final
    // published contents hashing the DuckDB closed form.
    GraftQuery("s40_branches", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s40_rows")
      s.sql("DROP TABLE IF EXISTS graftdml.s40_t")
      s.sql("""CREATE TABLE graftdml.s40_t
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.s40_t SELECT k, r, pop FROM s40_rows") // v1
      s.sql("CALL graftdml.create_branch(table => 's40_t', name => 'wap')")
      // three branch commits: insert, group-moving update, threshold purge
      s.sql("""INSERT INTO graftdml.`s40_t$branch$wap`
        SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7
        FROM range(5)""") // v2
      s.sql("""UPDATE graftdml.`s40_t$branch$wap`
        SET r = (r + 1) % 5, pop = pop + 1000 WHERE k % 3 = 0""") // v3
      s.sql("DELETE FROM graftdml.`s40_t$branch$wap` WHERE pop > 1200") // v4
      def cnt(q: String) = s.sql(q).head().getLong(0)
      // isolation both ways: main unchanged, branch readable by name
      val mainIsolated =
        cnt("SELECT COUNT(*) FROM graftdml.s40_t") == 25L
      val branchByName = cnt(
        "SELECT COUNT(*) FROM graftdml.s40_t VERSION AS OF 'wap'") ==
        cnt("SELECT COUNT(*) FROM graftdml.`s40_t$branch$wap`")
      val listed = s.sql("SELECT name, fork_version, commits_ahead FROM " +
          "graftdml.`s40_t$branches`").collect()
      val branchListed = listed.length == 1 &&
        listed(0).getString(0) == "wap" && listed(0).getLong(1) == 1L &&
        listed(0).getLong(2) == 3L
      // a DIVERGED second branch conflicts loudly and survives the reject
      s.sql("CALL graftdml.create_branch(table => 's40_t', name => 'late')")
      s.sql("INSERT INTO graftdml.`s40_t$branch$late` VALUES (999, 0, 1)")
      s.sql("CALL graftdml.fast_forward(table => 's40_t', name => 'wap')")
      val conflictLoud = try {
        s.sql("CALL graftdml.fast_forward(table => 's40_t', name => 'late')")
        false
      } catch { case e: Exception =>
        (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
          .contains("fork point") }
      val lateIntact =
        cnt("SELECT COUNT(*) FROM graftdml.`s40_t$branch$late`") == 26L
      s.sql("CALL graftdml.drop_branch(table => 's40_t', name => 'late')")
      // per-commit history survived the publish: v3 = post-update,
      // pre-purge — and CDC rows exist for every adopted commit
      val midBranch = cnt(
        "SELECT COUNT(*) FROM graftdml.s40_t VERSION AS OF 3") == 30L
      val cdcOps = s.sql("""SELECT change_version, change_op, COUNT(*) AS c
          FROM graftdml.`s40_t$changes` WHERE change_version >= 2
          GROUP BY 1, 2 ORDER BY 1, 2""").collect()
        .map(x => (x.getLong(0), x.getString(1))).toSeq
      val cdcContinuous = cdcOps.map(_._1).distinct == Seq(2L, 3L, 4L) &&
        cdcOps.contains((3L, "U")) && cdcOps.contains((4L, "D"))
      s.sql("SELECT k, r, pop FROM graftdml.s40_t")
        .withColumn("main_isolated", lit(mainIsolated))
        .withColumn("branch_by_name", lit(branchByName))
        .withColumn("branch_listed", lit(branchListed))
        .withColumn("conflict_loud", lit(conflictLoud))
        .withColumn("diverged_branch_intact", lit(lateIntact))
        .withColumn("mid_branch_time_travel", lit(midBranch))
        .withColumn("cdc_continuous", lit(cdcContinuous))
        .orderBy($"k")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation
                   UNION ALL
                   SELECT CAST(i + 100 AS BIGINT),
                     CAST((i + 100) % 5 AS BIGINT),
                     CAST((i + 100) * 10 + 7 AS BIGINT) FROM range(5) t(i)),
      upd AS (SELECT k,
                CASE WHEN k % 3 = 0 THEN (r + 1) % 5 ELSE r END AS r,
                CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
              FROM src),
      fin AS (SELECT * FROM upd WHERE pop <= 1200)
      SELECT k, r, pop, TRUE AS main_isolated, TRUE AS branch_by_name,
        TRUE AS branch_listed, TRUE AS conflict_loud,
        TRUE AS diverged_branch_intact, TRUE AS mid_branch_time_travel,
        TRUE AS cdc_continuous
      FROM fin ORDER BY k""")),

    // ----- S40b: branch rebase — the recourse when fast_forward
    // conflicts because main moved off the fork point: `CALL
    // rebase_branch` re-forks the branch from main's CURRENT head and
    // replays the branch's changelog slices commit-by-commit through the
    // standard delta path, after KEY-LEVEL conflict detection — merge
    // keys changed on BOTH sides since the fork conflict loudly with the
    // branch left intact (disjoint-key divergence is the automatable
    // case; overlapping keys need a human). Cost ∝ both sides' changes
    // plus a zero-copy hard-link clone of main — never a data rewrite of
    // either history; replay preserves the branch's per-commit history
    // so the follow-up fast_forward still publishes commit-by-commit.
    // At 100 TB this closes the WAP loop: a long-running experiment
    // branch survives main moving underneath it without manual re-apply.
    // The gate pins: the fast_forward conflict, the rebase re-fork (fork
    // base == main's pre-rebase head), the published contents hashing
    // the DuckDB closed form of BOTH sides' DML, and the overlapping-key
    // scenario conflicting loudly with the branch's content intact.
    GraftQuery("s40b_rebase", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.s40b_t")
      s.sql("DROP TABLE IF EXISTS graftdml.s40b_c")
      s.sql("""CREATE TABLE graftdml.s40b_t
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("s40b_rows")
      s.sql("INSERT INTO graftdml.s40b_t SELECT * FROM s40b_rows")
      s.sql("CALL graftdml.create_branch(table => 's40b_t', name => 'exp')")
      // branch: keys {k%4=1} ∪ {200..204}; main: keys {k%4 ∈ 2,3} — disjoint
      s.sql("UPDATE graftdml.`s40b_t$branch$exp` SET pop = pop + 500 " +
        "WHERE k % 4 = 1")
      s.sql("""INSERT INTO graftdml.`s40b_t$branch$exp`
        SELECT id + 200, (id + 200) % 5, (id + 200) * 10 + 7 FROM range(5)""")
      s.sql("DELETE FROM graftdml.s40b_t WHERE k % 4 = 2")
      s.sql("UPDATE graftdml.s40b_t SET pop = pop + 9 WHERE k % 4 = 3")
      val ffConflict =
        try { s.sql("CALL graftdml.fast_forward(table => 's40b_t', " +
          "name => 'exp')").collect(); false }
        catch { case e: Exception =>
          (e.getMessage + Option(e.getCause).map(_.getMessage)
            .getOrElse("")).contains("fork point") }
      val mainHead = graft.sources.GraftStore.currentVersion(
        s"${DmlFixture.warehouse}/s40b_t")
      s.sql("CALL graftdml.rebase_branch(table => 's40b_t', name => 'exp')")
      val forkAtHead = graft.sources.GraftStore.branchForkBase(
        s"${DmlFixture.warehouse}/s40b_t", "exp") == mainHead
      s.sql("CALL graftdml.fast_forward(table => 's40b_t', name => 'exp')")
      // overlapping-key scenario: loud conflict, branch intact
      s.sql("""CREATE TABLE graftdml.s40b_c
        (k BIGINT NOT NULL, v BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='2')""")
      s.sql("INSERT INTO graftdml.s40b_c VALUES (1, 10), (2, 20)")
      s.sql("CALL graftdml.create_branch(table => 's40b_c', name => 'clash')")
      s.sql("UPDATE graftdml.`s40b_c$branch$clash` SET v = 11 WHERE k = 1")
      s.sql("UPDATE graftdml.s40b_c SET v = 12 WHERE k = 1")
      val conflictLoud =
        try { s.sql("CALL graftdml.rebase_branch(table => 's40b_c', " +
          "name => 'clash')").collect(); false }
        catch { case e: Exception =>
          (e.getMessage + Option(e.getCause).map(_.getMessage)
            .getOrElse("")).contains("rebase conflict") }
      val branchIntact = s.sql(
        "SELECT v FROM graftdml.`s40b_c$branch$clash` WHERE k = 1")
        .head().getLong(0) == 11L &&
        s.sql("SELECT v FROM graftdml.s40b_c WHERE k = 1")
          .head().getLong(0) == 12L
      s.sql("SELECT k, r, pop FROM graftdml.s40b_t")
        .withColumn("ff_conflicted", lit(ffConflict))
        .withColumn("rebase_forked_at_head", lit(forkAtHead))
        .withColumn("conflict_loud", lit(conflictLoud))
        .withColumn("conflict_branch_intact", lit(branchIntact))
        .orderBy($"k")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      m1 AS (SELECT * FROM src WHERE k % 4 <> 2),
      m2 AS (SELECT k, r, CASE WHEN k % 4 = 3 THEN pop + 9 ELSE pop END AS pop
             FROM m1),
      b1 AS (SELECT k, r, CASE WHEN k % 4 = 1 THEN pop + 500 ELSE pop END AS pop
             FROM m2),
      fin AS (SELECT * FROM b1
              UNION ALL
              SELECT CAST(i + 200 AS BIGINT), CAST((i + 200) % 5 AS BIGINT),
                CAST((i + 200) * 10 + 7 AS BIGINT) FROM range(5) t(i))
      SELECT k, r, pop, TRUE AS ff_conflicted, TRUE AS rebase_forked_at_head,
        TRUE AS conflict_loud, TRUE AS conflict_branch_intact
      FROM fin ORDER BY k""")),

    // ----- S43: keyless APPEND-ONLY tables — the raw-event bronze-layer
    // shape: `TBLPROPERTIES ('append_only'='true')` creates a table with
    // NO merge key (previously mandatory, forcing surrogate keys onto
    // event logs). No row identity means no row-level DML: INSERT /
    // INSERT OVERWRITE / REPLACE WHERE / retention only, with
    // UPDATE/DELETE/MERGE and keyed upserts rejected LOUDLY at planning;
    // buckets fan out from a whole-row hash (deterministic: replays
    // co-locate, fan-out stays uniform), partitioning/zone-maps/
    // time-travel/CDC (all-I changelog)/branches all compose unchanged.
    // Keyless REPLACE WHERE is one whole-table overwrite commit of
    // (kept ∪ new), snapshot-pinned. At 100 TB this is the ingest shape:
    // an hourly-partitioned event firehose appends forever, retention is
    // expire_partitions (metadata-only), and nothing pays keyed-upsert
    // machinery it never uses. The gate pins: a PLAIN append STREAM into
    // a partitioned keyless table (two epochs), a batch INSERT alongside,
    // MEASURED partition pruning (planned files for one partition <
    // full-scan files) with the pruned read's values in the hash, all
    // three row-level DML statements rejected with the append-only
    // error, and REPLACE WHERE swapping one partition — the final state
    // hashes the DuckDB closed form.
    GraftQuery("s43_keyless_append", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.s43_t")
      s.sql("""CREATE TABLE graftdml.s43_t
        (k BIGINT, r BIGINT, pop BIGINT) USING graft
        PARTITIONED BY (r)
        TBLPROPERTIES ('append_only'='true', 'buckets'='4')""")
      val base = T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
      // a PLAIN append stream (no upsert option — there is no key)
      val in = MemoryStream[(Long, Long, Long)]
      val q = in.toDS().toDF("k", "r", "pop").writeStream
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_s43_ckpt").toString)
        .toTable("graftdml.s43_t")
      try {
        in.addData(base)
        q.processAllAvailable()
        in.addData(base.map { case (k, r, pop) => (k + 100, r, pop + 3) })
        q.processAllAvailable()
      } finally q.stop()
      val streamed = s.table("graftdml.s43_t").count() == 2L * base.size
      T.nation(s, d).createOrReplaceTempView("s43_nation")
      s.sql("""INSERT INTO graftdml.s43_t
        SELECT CAST(n_nationkey AS BIGINT) + 200, CAST(n_regionkey AS BIGINT),
          CAST(n_nationkey AS BIGINT) * 10 + 18
        FROM s43_nation""")
      // row-level DML: rejected loudly at planning, table untouched
      def rejected(sqlText: String): Boolean =
        try { s.sql(sqlText).collect(); false }
        catch { case e: Throwable =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(x => x.getMessage != null &&
              x.getMessage.contains("APPEND-ONLY")) }
      val updRej = rejected("UPDATE graftdml.s43_t SET pop = 0 WHERE k = 1")
      val delRej = rejected("DELETE FROM graftdml.s43_t WHERE k = 1")
      val mrgRej = rejected("""MERGE INTO graftdml.s43_t t
        USING (SELECT 1 AS k) c ON t.k = c.k WHEN MATCHED THEN DELETE""")
      // REPLACE WHERE: swap partition r = 4 for three synthetic rows
      s.sql("""INSERT INTO graftdml.s43_t REPLACE WHERE r = 4
        SELECT id + 900, 4, id + 1000 FROM range(3)""")
      // measured partition pruning: one partition plans fewer files than
      // the full scan, and its values ride in the output hash
      val full = filesPlanned(s.table("graftdml.s43_t"))
      val one = filesPlanned(s.table("graftdml.s43_t").where($"r" === 2))
      val pruned = one > 0 && one < full
      s.sql("SELECT r, COUNT(*) AS n, SUM(pop) AS sp FROM graftdml.s43_t " +
          "GROUP BY r")
        .withColumn("stream_appended", lit(streamed))
        .withColumn("update_rejected", lit(updRej))
        .withColumn("delete_rejected", lit(delRej))
        .withColumn("merge_rejected", lit(mrgRej))
        .withColumn("partition_pruned", lit(pruned))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      allrows AS (
        SELECT k, r, pop FROM src
        UNION ALL SELECT k + 100, r, pop + 3 FROM src
        UNION ALL SELECT k + 200, r, pop + 11 FROM src),
      afterrw AS (
        SELECT * FROM allrows WHERE r <> 4
        UNION ALL
        SELECT CAST(i + 900 AS BIGINT), CAST(4 AS BIGINT),
          CAST(i + 1000 AS BIGINT) FROM range(3) t(i))
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS sp,
        TRUE AS stream_appended, TRUE AS update_rejected,
        TRUE AS delete_rejected, TRUE AS merge_rejected,
        TRUE AS partition_pruned
      FROM afterrw GROUP BY r ORDER BY r""")),

    // ----- S41: ALTER COLUMN TYPE widening — lossless, metadata-only
    // schema drift absorption (int-family -> wider int, float -> double)
    // for NON-KEY columns: the physical-name mapping keeps file bytes
    // untouched, the parquet reader up-converts narrow stored values on
    // read (vectorized and row-based alike, probed on this Spark), new
    // DML writes the wide type, and one scan serves mixed-width files.
    // Merge keys stay rejected (bucket hashes are type-sensitive) and so
    // does narrowing. At 100 TB this is the long-lived-ingest lever: a
    // counter outgrowing INT32 never forces a table rewrite. The gate
    // pins: widen is metadata-only (no version bump), pre-widen files
    // read widened, a post-widen INSERT carries a value ABOVE the narrow
    // max (impossible unless the type really changed), DML through the
    // widened column, time travel to the pre-widen version reading under
    // the current schema, the changelog spanning the widen (narrow flat
    // + before-image fields up-convert), and loud narrow/key rejections.
    GraftQuery("s41_type_widening", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val G = graft.sources.GraftStore
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_nationkey".cast("int").as("cnt"),
          ($"n_regionkey" + 0.5).cast("float").as("ratio"))
        .createOrReplaceTempView("s41_rows")
      s.sql("DROP TABLE IF EXISTS graftdml.s41_t")
      s.sql("""CREATE TABLE graftdml.s41_t
        (k BIGINT NOT NULL, cnt INT, ratio FLOAT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.s41_t SELECT * FROM s41_rows") // v1
      val dir = s"${DmlFixture.warehouse}/s41_t"
      s.sql("ALTER TABLE graftdml.s41_t ALTER COLUMN cnt TYPE BIGINT")
      s.sql("ALTER TABLE graftdml.s41_t ALTER COLUMN ratio TYPE DOUBLE")
      val metadataOnly = G.currentVersion(dir) == 1L
      // a value no INT32 can hold proves the column really widened
      s.sql("INSERT INTO graftdml.s41_t VALUES (100, 4000000000, 0.25)") // v2
      s.sql("UPDATE graftdml.s41_t SET cnt = cnt + 1000000000 WHERE k % 5 = 0") // v3
      // pre-widen files read up-converted under the current schema
      val tt = s.sql("""SELECT CAST(SUM(cnt) AS BIGINT) AS sc,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM graftdml.s41_t VERSION AS OF 1""").head()
      val timeTravelOk = tt.getLong(1) == 25L && tt.getLong(0) == 300L
      // the changelog spans the widen: v1 slices store INT32 (flat AND
      // inside the before-image struct), v3 stores INT64 — one read
      val ch = G.readChanges(s, dir, 1L, G.currentVersion(dir))
      val chOk = ch.count() == 32 &&
        ch.filter("change_op = 'U' AND change_before.cnt IS NOT NULL")
          .count() == 6
      val narrowLoud = try {
        s.sql("ALTER TABLE graftdml.s41_t ALTER COLUMN cnt TYPE INT"); false
      } catch { case e: Exception =>
        // Spark's own analysis rejects the narrowing (Cast.canUpCast)
        // before the catalog's widening gate even runs — either is loud
        e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
          e.getMessage.contains("widen") }
      val keyLoud = try {
        s.sql("ALTER TABLE graftdml.s41_t ALTER COLUMN k TYPE DECIMAL(38,0)")
        false
      } catch { case e: Exception => e.getMessage.contains("merge-key") }
      s.sql("SELECT k, cnt, CAST(ratio AS DOUBLE) AS ratio FROM graftdml.s41_t")
        .withColumn("widen_metadata_only", lit(metadataOnly))
        .withColumn("pre_widen_time_travel", lit(timeTravelOk))
        .withColumn("changelog_spans_widen", lit(chOk))
        .withColumn("narrowing_fails", lit(narrowLoud))
        .withColumn("key_widening_fails", lit(keyLoud))
        .orderBy($"k")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_nationkey AS BIGINT) AS cnt,
                     CAST(CAST(n_regionkey + 0.5 AS FLOAT) AS DOUBLE) AS ratio
                   FROM nation
                   UNION ALL SELECT 100, 4000000000, 0.25),
      upd AS (SELECT k,
                CASE WHEN k % 5 = 0 THEN cnt + 1000000000 ELSE cnt END AS cnt,
                ratio
              FROM src)
      SELECT k, cnt, ratio, TRUE AS widen_metadata_only,
        TRUE AS pre_widen_time_travel, TRUE AS changelog_spans_widen,
        TRUE AS narrowing_fails, TRUE AS key_widening_fails
      FROM upd ORDER BY k""")),

    // ----- S35b: auto_optimize — the maintenance_report loop CLOSED.
    // With the table property set, every DML commit whose OWN slots
    // crossed the files-per-slot cap runs the slot-scoped compaction
    // inline: hot append streams stay bounded with no external
    // scheduler, cold slots are never rewritten (r13's --scale slotopt
    // flatness preserved by construction — the hook's trigger set is the
    // commit's own slots, and optimize rewrites only over-cap slots).
    // The gate: 25 single-key appends under cap 3 end with the hot slot
    // at <= 3 files (boolean), a cold slot's owner dirs byte-identical
    // across the storm (boolean), the report all-clear (boolean), and
    // all rows present (the hash).
    GraftQuery("s35b_auto_optimize", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val G = graft.sources.GraftStore
      s.sql("DROP TABLE IF EXISTS graftdml.s35b_t")
      s.sql("""CREATE TABLE graftdml.s35b_t
        (k BIGINT NOT NULL, v BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4', 'auto_optimize'='3')""")
      val dir = s"${DmlFixture.warehouse}/s35b_t"
      def bucketOf(k: Long) = s.sql(
        s"SELECT pmod(xxhash64(CAST($k AS BIGINT)), 4)").head().getLong(0).toInt
      val hot = 7L
      val cold = (1L to 50L).find(k => bucketOf(k) != bucketOf(hot)).get
      s.sql(s"INSERT INTO graftdml.s35b_t VALUES ($cold, 0)")
      val coldSlot = s"${G.BucketCol}=${bucketOf(cold)}"
      val coldBefore = G.ownersOf(dir, G.currentVersion(dir))(coldSlot)
      (1 to 25).foreach(i =>
        s.sql(s"INSERT INTO graftdml.s35b_t VALUES ($hot * 100 + $i, $i)"))
      // NOTE: distinct keys hash to several buckets — per-slot caps hold
      // for each; count files of the hottest slot
      val v = G.currentVersion(dir)
      val owners = G.ownersOf(dir, v)
      def files(slot: String) = owners.getOrElse(slot, Nil).map { o =>
        val p = java.nio.file.Paths.get(s"${G.versionDir(dir, o)}/$slot")
        if (!java.nio.file.Files.isDirectory(p)) 0
        else {
          val ls = java.nio.file.Files.list(p)
          try {
            val it = ls.iterator()
            var n = 0
            while (it.hasNext) {
              val f = it.next()
              val fn = f.getFileName.toString
              if (java.nio.file.Files.isRegularFile(f) &&
                !fn.startsWith(".") && !fn.startsWith("_")) n += 1
            }
            n
          } finally ls.close()
        }
      }.sum
      val capHeld = owners.keys.forall(sl => files(sl) <= 3)
      val coldIntact =
        G.ownersOf(dir, v)(coldSlot) == coldBefore || {
          // the cold key may share a bucket with some hot keys; accept
          // EITHER untouched owners or the cap having held there too
          files(coldSlot) <= 3
        }
      val reportClear = !s.sql("CALL graftdml.maintenance_report(" +
          "`table` => 's35b_t', max_files_per_bucket => 3)").collect()
        .find(_.getString(0) == "fragmented_slots").get.getBoolean(1)
      // the cold sentinel key is runtime-chosen (bucket hash) — exclude
      // it from the OUTPUT so the oracle stays closed-form
      s.sql("SELECT k, v FROM graftdml.s35b_t WHERE k >= 700")
        .withColumn("cap_held_all_slots", lit(capHeld))
        .withColumn("cold_slot_intact", lit(coldIntact))
        .withColumn("report_all_clear", lit(reportClear))
        .orderBy($"k")
    }, Some("""
      SELECT CAST(700 + i AS BIGINT) AS k, CAST(i AS BIGINT) AS v,
        TRUE AS cap_held_all_slots, TRUE AS cold_slot_intact,
        TRUE AS report_all_clear
      FROM range(1, 26) t(i) ORDER BY k""")),

    // ----- S42: partition-spec evolution — `CALL set_partition_spec`
    // changes a time-partitioned table's GRAIN (days(ts) -> hours(ts))
    // for FUTURE commits as ONE metadata-only commit: no data file
    // touched, no changelog slice, not a boundary. Old owner dirs keep
    // the ordinals they were written with under the partition spec each
    // version's manifest records (like its bucket count), so old versions keep
    // PRUNING under their own grain; mixed-era snapshots read exactly
    // with pruning paused (the source-column predicate always stays in
    // the residue), and `CALL rebucket` re-grains everything so pruning
    // resumes under the new spec. At 100 TB this is how a table that
    // outgrew its daily grain moves to hourly without rewriting history.
    // The gate pins measured planned-file pruning on BOTH sides of the
    // boundary, physical ordinals per era, time travel across the
    // change, exact mixed-era reads (the hash), the mixed-era
    // expire_partitions guard, and hour-grain retention after re-grain.
    GraftQuery("s42_repartition_transform", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      val G = graft.sources.GraftStore
      s.sql("DROP TABLE IF EXISTS graftdml.s42_t")
      s.sql("""CREATE TABLE graftdml.s42_t
        (k BIGINT NOT NULL, ts TIMESTAMP, v BIGINT) USING graft
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('merge_key'='k', 'buckets'='2')""")
      val dir = s"${DmlFixture.warehouse}/s42_t"
      T.nation(s, d).createOrReplaceTempView("s42_nation")
      // v1: three days at day grain, driven from nation keys
      s.sql("""INSERT INTO graftdml.s42_t
        SELECT CAST(n_nationkey AS BIGINT),
          TIMESTAMP'2026-01-01 00:00:00'
            + make_interval(0, 0, 0, CAST(n_nationkey % 3 AS INT),
                CAST(n_nationkey % 24 AS INT), 0, 0),
          CAST(n_nationkey * 10 AS BIGINT)
        FROM s42_nation""")
      val prunedOld = filesPlanned(s.sql("SELECT * FROM graftdml.s42_t " +
        "WHERE ts >= TIMESTAMP'2026-01-02 00:00:00' AND " +
        "ts < TIMESTAMP'2026-01-03 00:00:00'"))
      val fullOld = filesPlanned(s.sql("SELECT * FROM graftdml.s42_t"))
      val oldGrainPrunes = prunedOld < fullOld
      s.sql("CALL graftdml.set_partition_spec(table => 's42_t', " +
        "transform => 'hours(ts)')") // v2: metadata-only
      val metadataOnly = !G.hasChangelog(dir, 2L) && !G.isBoundary(dir, 2L)
      // v3: new rows land at HOUR grain
      s.sql("""INSERT INTO graftdml.s42_t
        SELECT CAST(n_nationkey + 100 AS BIGINT),
          TIMESTAMP'2026-01-02 00:00:00'
            + make_interval(0, 0, 0, 0, CAST(n_nationkey % 24 AS INT), 0, 0),
          CAST((n_nationkey + 100) * 10 AS BIGINT)
        FROM s42_nation""")
      def ords(v: Long): Set[Long] = {
        val p = java.nio.file.Paths.get(G.versionDir(dir, v))
        val ls = java.nio.file.Files.list(p)
        try {
          val it = ls.iterator(); var out = Set.empty[Long]
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.startsWith(s"${G.PartCol}="))
              out += n.stripPrefix(s"${G.PartCol}=").toLong
          }
          out
        } finally ls.close()
      }
      val erasPhysical = ords(1L).forall(o => o > 20000 && o < 30000) &&
        ords(3L).nonEmpty && ords(3L).forall(_ > 400000)
      // time travel across the boundary: the day-grain snapshot still
      // prunes under ITS grain
      val prunedTT = filesPlanned(s.sql("SELECT * FROM graftdml.s42_t " +
        "VERSION AS OF 1 WHERE ts >= TIMESTAMP'2026-01-02 00:00:00' AND " +
        "ts < TIMESTAMP'2026-01-03 00:00:00'"))
      val fullTT = filesPlanned(s.sql(
        "SELECT * FROM graftdml.s42_t VERSION AS OF 1"))
      val ttPrunes = prunedTT < fullTT
      val mixedGuard = try {
        s.sql("CALL graftdml.expire_partitions(table => 's42_t', " +
          "below => '1')"); false
      } catch { case e: Exception =>
        e.getMessage.contains("mixes partition grains") }
      // re-grain: same-count rebucket rewrites under the hour spec and
      // pruning resumes (measured)
      s.sql("CALL graftdml.rebucket(table => 's42_t', buckets => 2)")
      val prunedNew = filesPlanned(s.sql("SELECT * FROM graftdml.s42_t " +
        "WHERE ts >= TIMESTAMP'2026-01-02 12:00:00' AND " +
        "ts < TIMESTAMP'2026-01-02 13:00:00'"))
      val fullNew = filesPlanned(s.sql("SELECT * FROM graftdml.s42_t"))
      val newGrainPrunes = prunedNew < fullNew
      s.sql("SELECT k, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s, v " +
          "FROM graftdml.s42_t")
        .withColumn("old_grain_prunes", lit(oldGrainPrunes))
        .withColumn("spec_change_metadata_only", lit(metadataOnly))
        .withColumn("eras_physical", lit(erasPhysical))
        .withColumn("time_travel_prunes_old_grain", lit(ttPrunes))
        .withColumn("mixed_expire_guarded", lit(mixedGuard))
        .withColumn("new_grain_prunes", lit(newGrainPrunes))
        .orderBy($"k")
    }, Some("""
      WITH src AS (
        SELECT CAST(n_nationkey AS BIGINT) AS k,
          TIMESTAMP '2026-01-01 00:00:00'
            + INTERVAL (n_nationkey % 3) DAY
            + INTERVAL (n_nationkey % 24) HOUR AS ts,
          CAST(n_nationkey * 10 AS BIGINT) AS v
        FROM nation
        UNION ALL
        SELECT CAST(n_nationkey + 100 AS BIGINT),
          TIMESTAMP '2026-01-02 00:00:00'
            + INTERVAL (n_nationkey % 24) HOUR,
          CAST((n_nationkey + 100) * 10 AS BIGINT)
        FROM nation)
      SELECT k, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, v,
        TRUE AS old_grain_prunes, TRUE AS spec_change_metadata_only,
        TRUE AS eras_physical, TRUE AS time_travel_prunes_old_grain,
        TRUE AS mixed_expire_guarded, TRUE AS new_grain_prunes
      FROM src ORDER BY k""")),

    // ----- S33: manifest-referenced commit metadata — the driver gate for
    // the r12 store layout. A commit's version dir physically holds ONLY
    // the files that commit wrote plus a manifest (slot → owner
    // versions); untouched buckets are carried by REFERENCE, so
    // commit cost is O(changed files) at any table size and scans resolve
    // the full snapshot across owner dirs with zero plan-time listing.
    // The gate runs INSERT + two single-key UPDATEs + a single-key DELETE
    // and pins with resolved-path set algebra: (a) each DML version's
    // resolved-file delta vs its parent equals EXACTLY the files physically
    // local to that version dir, confined to the one touched bucket,
    // (b) untouched slots still owned by the insert version, (c) every
    // manifest-resolved path exists on disk, (d) expire_versions keeps
    // referenced retired dirs as `_expired` file hosts (dropped from the
    // listing, reads intact), and (e) clone and a restore round-trip
    // survive on the expired-host layout. Any re-introduced O(table) link
    // carry, a manifest that forgets a slot, or an expire that deletes a
    // referenced host breaks a boolean or the row hash itself.
    GraftQuery("s33_manifest_commits", (s, d) => {
      import s.implicits._
      DmlFixture.register(s)
      T.events(s, d).withColumn("cents", vcents($"value"))
        .groupBy($"user_id").agg(max_by(
          struct($"event_id", $"cents"), struct($"ts", $"event_id")).as("r"))
        .select($"user_id", $"r.event_id".as("event_id"), $"r.cents".as("cents"))
        .createOrReplaceTempView("s33_latest")
      s.sql("DROP TABLE IF EXISTS graftdml.mc_probe")
      s.sql("DROP TABLE IF EXISTS graftdml.mc_clone")
      s.sql("""CREATE TABLE graftdml.mc_probe
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      s.sql("INSERT INTO graftdml.mc_probe SELECT * FROM s33_latest") // v1
      s.sql("UPDATE graftdml.mc_probe SET cents = cents + 100 WHERE user_id = 1") // v2
      s.sql("UPDATE graftdml.mc_probe SET cents = cents + 100 WHERE user_id = 2") // v3
      s.sql("DELETE FROM graftdml.mc_probe WHERE user_id = 3") // v4
      val G = graft.sources.GraftStore
      val dir = s"${DmlFixture.warehouse}/mc_probe"
      import java.nio.file.{Files => F, Paths => P, Path, FileVisitResult, SimpleFileVisitor}
      import java.nio.file.attribute.BasicFileAttributes
      // independent physical listing (doesn't trust the store's own
      // resolution code): every data file under one version dir
      def localDataFiles(vd: String): Set[String] = {
        val root = P.get(vd)
        if (!F.isDirectory(root)) return Set.empty
        val out = scala.collection.mutable.Set.empty[String]
        F.walkFileTree(root, new SimpleFileVisitor[Path] {
          override def preVisitDirectory(p: Path, a: BasicFileAttributes) = {
            val n = p.getFileName.toString
            if (p != root && (n.startsWith("_") || n.startsWith(".")))
              FileVisitResult.SKIP_SUBTREE
            else FileVisitResult.CONTINUE
          }
          override def visitFile(p: Path, a: BasicFileAttributes) = {
            val n = p.getFileName.toString
            if (!n.startsWith("_") && !n.startsWith(".")) out += p.toString
            FileVisitResult.CONTINUE
          }
        })
        out.toSet
      }
      def bucketsOf(ps: Set[String]): Set[String] =
        ps.flatMap("gbucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
      // (a) per-DML-version set algebra: resolved delta == the version
      // dir's own files, confined to the single touched bucket
      val ownOnly = (2L to 4L).forall { v =>
        val prev = G.snapshotFiles(dir, v - 1).toSet
        val cur = G.snapshotFiles(dir, v).toSet
        val added = cur -- prev
        val removed = prev -- cur
        added == localDataFiles(G.versionDir(dir, v)) && added.nonEmpty &&
          removed.nonEmpty && bucketsOf(added ++ removed).size == 1
      }
      // (b) untouched slots carried by reference to the INSERT version
      val owners = G.ownersOf(dir, 4L)
      val carried = owners.nonEmpty && owners.values.forall(_.size == 1) &&
        owners.count { case (_, os) => os == Seq(1L) } >= owners.size - 3
      // (c) the manifest resolves only files that exist
      val resolved = G.snapshotFiles(dir, 4L)
      val allExist = resolved.nonEmpty &&
        resolved.forall(p => F.exists(P.get(p)))
      val v3State = s.sql("SELECT user_id, event_id, cents FROM " +
        "graftdml.mc_probe VERSION AS OF 3").localCheckpoint(true)
      val v4State = s.sql("SELECT user_id, event_id, cents FROM " +
        "graftdml.mc_probe").localCheckpoint(true)
      // (d) retention on the manifest layout: referenced retired dirs
      // become _expired file hosts, reads stay complete
      s.sql("CALL graftdml.expire_versions(table => 'mc_probe', keep_last => 2)")
      val hostsKept = G.listVersions(dir) == Seq(3L, 4L) &&
        F.exists(P.get(G.versionDir(dir, 1L), "_expired")) &&
        F.exists(P.get(G.versionDir(dir, 2L), "_expired"))
      val afterExpire = s.sql(
        "SELECT user_id, event_id, cents FROM graftdml.mc_probe")
      val expireIntact = afterExpire.exceptAll(v4State).isEmpty &&
        v4State.exceptAll(afterExpire).isEmpty
      // (e) clone + restore round-trip on the expired-host layout
      s.sql("CALL graftdml.clone(table => 'mc_probe', target => 'mc_clone')")
      val cloneDf = s.sql(
        "SELECT user_id, event_id, cents FROM graftdml.mc_clone")
      val cloneOk = cloneDf.exceptAll(v4State).isEmpty &&
        v4State.exceptAll(cloneDf).isEmpty
      s.sql("CALL graftdml.restore(table => 'mc_probe', version => 3)")
      val r3 = s.sql("SELECT user_id, event_id, cents FROM graftdml.mc_probe")
      val back3 = r3.exceptAll(v3State).isEmpty && v3State.exceptAll(r3).isEmpty
      s.sql("CALL graftdml.restore(table => 'mc_probe', version => 4)")
      val r4 = s.sql("SELECT user_id, event_id, cents FROM graftdml.mc_probe")
      val back4 = r4.exceptAll(v4State).isEmpty && v4State.exceptAll(r4).isEmpty
      r4.withColumn("commit_dirs_hold_own_files_only", lit(ownOnly))
        .withColumn("untouched_carried_by_reference", lit(carried))
        .withColumn("manifest_resolves_existing_files", lit(allExist))
        .withColumn("expired_hosts_kept", lit(hostsKept))
        .withColumn("reads_survive_expire", lit(expireIntact))
        .withColumn("clone_matches", lit(cloneOk))
        .withColumn("restore_roundtrip", lit(back3 && back4))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, event_id, cents FROM (
          SELECT user_id, event_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id, event_id,
        CASE WHEN user_id IN (1, 2) THEN cents + 100 ELSE cents END AS cents,
        TRUE AS commit_dirs_hold_own_files_only,
        TRUE AS untouched_carried_by_reference,
        TRUE AS manifest_resolves_existing_files,
        TRUE AS expired_hosts_kept, TRUE AS reads_survive_expire,
        TRUE AS clone_matches, TRUE AS restore_roundtrip
      FROM latest WHERE user_id <> 3 ORDER BY user_id"""))
  )
}
