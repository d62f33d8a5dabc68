package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, Literal, Or}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Zone-map layer unit behavior: manifest write/read round-trips footer
  * stats, hard-link carry-over reuses entries, and the interval logic only
  * ever prunes provably-empty files. */
class GraftStatsSpec extends SparkTestBase {

  private val rowSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("name", StringType),
    StructField("amount", LongType)))

  private def attr(n: String, dt: DataType = LongType) =
    AttributeReference(n, dt)()

  private def stats(col: String, mn: Any, mx: Any, kind: String = "l",
      nulls: Long = 0L, rows: Long = 10L): GraftStats.FileStats =
    Map(col -> GraftStats.ColStats(kind, nulls, rows, Some(mn), Some(mx)))

  test("interval logic: comparison shapes, conjunction, disjunction") {
    val s = stats("amount", 100L, 200L)
    def skip(e: Expression) = !GraftStats.mayContain(Seq(e), s)
    val a = attr("amount")
    assert(skip(EqualTo(a, Literal(99L))))
    assert(!skip(EqualTo(a, Literal(100L))))
    assert(!skip(EqualTo(a, Literal(150L))))
    assert(skip(EqualTo(Literal(201L), a)))
    assert(skip(LessThan(a, Literal(100L))))
    assert(!skip(LessThan(a, Literal(101L))))
    assert(skip(GreaterThan(a, Literal(200L))))
    assert(!skip(GreaterThanOrEqual(a, Literal(200L))))
    assert(skip(GreaterThanOrEqual(a, Literal(201L))))
    assert(skip(In(a, Seq(Literal(1L), Literal(99L), Literal(300L)))))
    assert(!skip(In(a, Seq(Literal(1L), Literal(150L)))))
    assert(skip(And(EqualTo(a, Literal(150L)), EqualTo(a, Literal(50L)))))
    assert(skip(Or(EqualTo(a, Literal(50L)), EqualTo(a, Literal(300L)))))
    assert(!skip(Or(EqualTo(a, Literal(50L)), EqualTo(a, Literal(150L)))))
    // unknown column / shapes never skip
    assert(!skip(EqualTo(attr("other"), Literal(1L))))
    assert(!skip(EqualTo(a, attr("other"))))
  }

  test("interval logic: nulls, widening, domain mismatches, strings") {
    val a = attr("amount")
    // all-null file: no comparison can match, IS NULL can
    val allNull = Map("amount" ->
      GraftStats.ColStats("l", 10L, 10L, None, None))
    assert(!GraftStats.mayContain(Seq(EqualTo(a, Literal(1L))), allNull))
    assert(GraftStats.mayContain(Seq(IsNull(a)), allNull))
    assert(!GraftStats.mayContain(Seq(IsNotNull(a)), allNull))
    // no-null file: IS NULL proves empty
    assert(!GraftStats.mayContain(Seq(IsNull(a)), stats("amount", 1L, 2L)))
    // unknown null count (-1): never skip on null predicates
    val unknownNulls = Map("amount" ->
      GraftStats.ColStats("l", -1L, 10L, Some(1L), Some(2L)))
    assert(GraftStats.mayContain(Seq(IsNull(a)), unknownNulls))
    // widened column: INT32 footer stats vs BIGINT literals share a domain
    assert(!GraftStats.mayContain(Seq(EqualTo(a, Literal(500L))),
      stats("amount", 100L, 200L)))
    // fractional literal vs integral stats: domain mismatch, keep
    assert(GraftStats.mayContain(
      Seq(EqualTo(attr("amount", DoubleType), Literal(500.0))),
      stats("amount", 100L, 200L)))
    // strings compare by UTF-8 bytes
    val n = attr("name", StringType)
    val sStats = stats("name", "gamma", "gulf", kind = "s")
    assert(!GraftStats.mayContain(
      Seq(EqualTo(n, Literal.create("alpha", StringType))), sStats))
    assert(GraftStats.mayContain(
      Seq(EqualTo(n, Literal.create("golf", StringType))), sStats))
  }

  test("interval logic: StartsWith prefix pruning on byte-ordered strings") {
    import org.apache.spark.sql.catalyst.expressions.StartsWith
    val n = attr("name", StringType)
    def lit(s: String) = Literal.create(s, StringType)
    val s = stats("name", "golf_delta", "golf_tango", kind = "s")
    def keep(e: Expression) = GraftStats.mayContain(Seq(e), s)
    assert(!keep(StartsWith(n, lit("alpha"))), "below min must skip")
    assert(!keep(StartsWith(n, lit("hotel"))), "above max must skip")
    assert(keep(StartsWith(n, lit("golf_"))))
    assert(keep(StartsWith(n, lit("golf_t"))))
    // prefix equals a boundary value's prefix: kept
    assert(keep(StartsWith(n, lit("golf_delta"))))
    // an all-0xFF prefix has no upper bound: only the below-min check fires
    val ff = new String(Array.fill(3)(0xFF.toByte), java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!GraftStats.mayContain(Seq(StartsWith(n, lit(ff))), s) ||
      GraftStats.mayContain(Seq(StartsWith(n, lit(ff))), s)) // must not crash
    // all-null file skips, non-string stats keep
    val allNull = Map("name" -> GraftStats.ColStats("s", 5L, 5L, None, None))
    assert(!GraftStats.mayContain(Seq(StartsWith(n, lit("x"))), allNull))
    assert(GraftStats.mayContain(Seq(StartsWith(n, lit("x"))),
      stats("name", 1L, 2L)))
  }

  test("timestamp columns get MICROS zone maps under the session default") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("ts", TimestampType)))
    val dir = Files.createTempDirectory("graft_ts_stats").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(schema, Seq("k"), buckets = 1))
    GraftStore.applyChanges(spark, dir,
      spark.range(0, 10).select($"id".as("k"),
        (to_timestamp(lit("2024-01-01 00:00:00")).cast(LongType) + $"id" * 3600L)
          .cast(TimestampType))
        .toDF("k", "ts")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
    val m = GraftStore.manifestOf(GraftStore.versionDir(dir, 1L)).files
    val ts = m.values.flatMap(_.stats.get("ts")).toSeq
    assert(ts.nonEmpty && ts.forall(_.kind == "l"),
      s"TIMESTAMP_MICROS writes must yield integral zone maps, got $m")
    // endpoints are catalyst micros — 2024-01-01T00:00Z .. +9h
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    assert(ts.flatMap(_.min).map(_.asInstanceOf[Long]).min === lo)
    assert(ts.flatMap(_.max).map(_.asInstanceOf[Long]).max === lo + 9L * 3600L * 1000000L)
  }

  test("signed zeros: a file of -0.0s survives an = 0.0 predicate") {
    import spark.implicits._
    // END-TO-END through the real normalization points: footer read
    // (convert) and manifest decode both map -0.0 → 0.0, matching Spark's
    // evaluator where -0.0 == 0.0 — without that, the total ordering used
    // for interval checks orders -0.0 < 0.0 and prunes a matching file
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", DoubleType)))
    val dir = Files.createTempDirectory("graft_negzero").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(schema, Seq("k"), buckets = 1))
    GraftStore.applyChanges(spark, dir,
      spark.range(0, 5).select($"id".as("k"), lit(-0.0d).as("d"))
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
    val m = GraftStore.manifestOf(GraftStore.versionDir(dir, 1L)).files
    val ds = m.values.flatMap(_.stats.get("d")).toSeq
    assert(ds.nonEmpty)
    val d = attr("d", DoubleType)
    ds.foreach { cs =>
      assert(GraftStats.mayContain(Seq(EqualTo(d, Literal(0.0d))), Map("d" -> cs)),
        s"file of -0.0s pruned from '= 0.0': $cs")
      assert(GraftStats.mayContain(
        Seq(GreaterThanOrEqual(d, Literal(0.0d))), Map("d" -> cs)))
    }
    // literal side normalizes too: -0.0 literal vs 0.0-only stats keeps
    assert(GraftStats.mayContain(Seq(EqualTo(d, Literal(-0.0d))),
      stats("d", 0.0d, 0.0d, kind = "d")))
  }

  test("manifest round-trips footer stats; carried files reuse entries") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stats_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    def insert(lo: Long, hi: Long): Long = GraftStore.applyChanges(spark, dir,
      spark.range(lo, hi).select($"id".as("k"),
        concat(lit("name"), $"id").as("name"), ($"id" * 10).as("amount"))
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
    insert(0L, 50L)   // v1
    insert(50L, 90L)  // v2: v1's files carried by manifest reference
    val m1 = GraftStore.manifestOf(GraftStore.versionDir(dir, 1L)).files
    val m2 = GraftStore.manifestOf(GraftStore.versionDir(dir, 2L)).files
    // each version's manifest covers ONLY its own files (cost ∝ commit);
    // carried files keep their entries in their OWNING version's manifest,
    // byte-identical by construction (no footer re-read can drift them) —
    // the resolved snapshot view merges both
    assert(m1.nonEmpty && m2.nonEmpty)
    assert(m1.keySet.intersect(m2.keySet).isEmpty,
      "a file's stats entry must live in exactly its writing version")
    val merged = GraftStore.snapshotFileEntries(dir, 2L)
      .map(e => e.rel -> e.file).toMap
    assert(merged.size === m1.size + m2.size)
    m1.foreach { case (rel, st) => assert(merged(rel) === st,
      s"carried entry for $rel must resolve unchanged") }
    // amount stats cover the inserted ranges exactly
    val amounts = merged.values.flatMap(_.stats.get("amount")).toSeq
    assert(amounts.nonEmpty)
    assert(amounts.flatMap(_.min).map(_.asInstanceOf[Long]).min === 0L)
    assert(amounts.flatMap(_.max).map(_.asInstanceOf[Long]).max === 890L)
    // string stats present with the string kind
    assert(merged.values.flatMap(_.stats.get("name")).forall(_.kind == "s"))
  }
}
