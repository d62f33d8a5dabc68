package perfbench

import scala.collection.mutable

import graft.sources.GraftStore
import org.apache.spark.sql.SparkSession

/** `mixed_mor`: one closed-loop client, 80% reads and 20% writes, against a
  * bucketed, unpartitioned `merge_mode='mor'` table built from `lineitem`
  * with a unique derived key (the file row index; `(l_orderkey,
  * l_linenumber)` is not unique). Each cycle is a small MERGE that leaves
  * delete slices, then a point lookup, a key-range aggregate, a full-table
  * aggregate and a `VERSION AS OF` read of the version before it;
  * `CALL optimize` runs after every `OptimizeEvery` MERGEs. The order is
  * fixed, so every read sees the same delete-slice state on every seed;
  * the seed draws the keys and values.
  * Every read is checked against an in-memory model as it returns, and the
  * final table must equal the model. */
object MixedMor extends Workload {
  val Name = "mm_lineitem"
  val Table = s"graftdml.$Name"
  val Scale = "sf0.01"
  val OptimizeEvery = 2
  /** Nominal seconds of one cycle. */
  val CycleS = 2.5
  val ReadKinds: Set[String] = Set("point", "range", "full", "travel")
  val WriteKinds: Set[String] = Set("merge", "optimize")
  private val Cycle = Seq("merge", "point", "range", "full", "travel")
  private val Flags = Array("A", "N", "R")
  /** Logical size of one user row: five longs and a one-letter flag. */
  val RowBytes = 41L

  final case class Row(orderkey: Long, partkey: Long, qty: Long, cents: Long, flag: String)

  def setup(spark: SparkSession, args: Args): Unit = {
    spark.read.parquet(s"${args.data}/$Scale/lineitem.parquet")
      .selectExpr("_metadata.row_index AS k", "l_orderkey", "l_partkey",
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents", "l_returnflag")
      .createOrReplaceTempView("mm_src")
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"""CREATE TABLE $Table (k BIGINT NOT NULL, orderkey BIGINT,
      partkey BIGINT, qty BIGINT, cents BIGINT, flag STRING) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='8', 'merge_mode'='mor')""")
    spark.sql(s"INSERT INTO $Table SELECT * FROM mm_src")
  }

  private def rowOf(r: org.apache.spark.sql.Row, i: Int): Row =
    Row(r.getLong(i), r.getLong(i + 1), r.getLong(i + 2), r.getLong(i + 3), r.getString(i + 4))

  def run(spark: SparkSession, args: Args, tracer: Option[Tracer]): PassResult = {
    val dir = s"${args.work}/warehouse/$Name"
    val model = mutable.TreeMap.empty[Long, Row]
    spark.sql(s"SELECT * FROM $Table").collect().foreach(r => model(r.getLong(0)) = rowOf(r, 1))
    def agg(rows: Iterable[Row]): (Long, Long) = (rows.size.toLong, rows.map(_.cents).sum)
    val versions = mutable.LinkedHashMap(GraftStore.currentVersion(dir) -> agg(model.values))
    val keySpace = model.lastKey + 1
    val rnd = new scala.util.Random(args.seed)
    var nextKey = 100000000L
    val log = new OpLog
    var wrong = 0
    var returned = 0L
    var writes = 0
    val layerW = new WriteProbe(dir)
    val userBytes = mutable.ArrayBuffer.empty[Long]
    def check(kind: String, ok: Boolean): Unit = if (!ok) {
      wrong += 1
      System.err.println(s"[perfbench] mixed_mor: $kind read disagrees with the model")
    }
    def op(kind: String)(body: => Unit): Boolean =
      Tracer.tagged(spark, kind)(log.timed(kind)(body)).isDefined
    val pass0 = System.nanoTime()
    (1 to units(args.seconds, CycleS)).foreach { _ =>
      Cycle.foreach {
        case "point" =>
          val k = rnd.nextLong(keySpace)
          var got: Seq[Row] = Nil
          op("point") { got = spark.sql(
            s"SELECT orderkey, partkey, qty, cents, flag FROM $Table WHERE k = $k")
            .collect().map(rowOf(_, 0)).toSeq }
          returned += got.size
          check("point", got == model.get(k).toSeq)
        case "range" =>
          val a = rnd.nextLong(keySpace - 2000)
          var got = (0L, 0L)
          op("range") { val r = spark.sql(s"SELECT COUNT(*), COALESCE(SUM(cents), 0) " +
            s"FROM $Table WHERE k >= $a AND k < ${a + 2000}").head()
            got = (r.getLong(0), r.getLong(1)) }
          returned += 1
          check("range", got == agg(model.range(a, a + 2000).values))
        case "full" =>
          var got = Map.empty[String, (Long, Long)]
          op("full") { got = spark.sql(
            s"SELECT flag, COUNT(*), SUM(cents) FROM $Table GROUP BY flag").collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap }
          returned += got.size
          check("full", got == model.values.groupBy(_.flag).map { case (f, rs) => f -> agg(rs) })
        case "travel" =>
          val (v, want) = versions.toSeq.takeRight(2).head
          var got = (0L, 0L)
          op("travel") { val r = spark.sql(s"SELECT COUNT(*), COALESCE(SUM(cents), 0) " +
            s"FROM $Table VERSION AS OF $v").head()
            got = (r.getLong(0), r.getLong(1)) }
          returned += 1
          check("travel", got == want)
        case "merge" =>
          val old = Iterator.continually(rnd.nextLong(keySpace)).distinct.take(25).toSeq
          val fresh = (1 to 5).map { _ => nextKey += 1; nextKey }
          val src = (old ++ fresh).zipWithIndex.map { case (k, i) =>
            (k, Row(rnd.nextInt(150000).toLong, rnd.nextInt(20000).toLong,
              1L + rnd.nextInt(50), rnd.nextInt(10000000).toLong,
              Flags(rnd.nextInt(3))), i < 5) }
          val values = src.map { case (k, r, del) =>
            s"($k, ${r.orderkey}, ${r.partkey}, ${r.qty}, ${r.cents}, '${r.flag}', $del)"
          }.mkString(", ")
          val ok = op("merge") { spark.sql(s"""MERGE INTO $Table t USING (SELECT * FROM
            VALUES $values AS s(k, orderkey, partkey, qty, cents, flag, del)) s
            ON t.k = s.k
            WHEN MATCHED AND s.del THEN DELETE
            WHEN MATCHED THEN UPDATE SET orderkey = s.orderkey, partkey = s.partkey,
              qty = s.qty, cents = s.cents, flag = s.flag
            WHEN NOT MATCHED AND NOT s.del THEN INSERT (k, orderkey, partkey, qty, cents, flag)
              VALUES (s.k, s.orderkey, s.partkey, s.qty, s.cents, s.flag)""") }
          if (ok) {
            src.foreach { case (k, r, del) => if (del) model.remove(k) else model(k) = r }
            versions(GraftStore.currentVersion(dir)) = agg(model.values)
          }
          userBytes += src.size * RowBytes
          tracer.foreach(_ => layerW.afterCommit())
          writes += 1
          if (ok && writes % OptimizeEvery == 0) {
            if (op("optimize")(spark.sql(s"CALL graftdml.optimize(`table` => '$Name')").collect()))
              versions(GraftStore.currentVersion(dir)) = agg(model.values)
            tracer.foreach(_ => layerW.afterCommit())
          }
      }
    }
    // the client's own work between ops (model upkeep, read checks) counts
    val passS = (System.nanoTime() - pass0) / 1e9
    val got = spark.sql(s"SELECT * FROM $Table").collect().map(r => r.getLong(0) -> rowOf(r, 1)).toMap
    val tableOk = got == model
    if (!tableOk) System.err.println(
      s"[perfbench] mixed_mor: table has ${got.size} rows, model ${model.size}")
    val all = log.latencies()
    val reads = log.latencies(ReadKinds.contains)
    val e2e = OpLog.e2e(log, _ => true, log.attempted / passS)
    val detail: Map[String, Any] = Map(
      "point_ms_p50" -> Stats.percentile(log.latencies(_ == "point"), 0.5),
      "scan_ms_p50" -> Stats.percentile(log.latencies(k => k == "range" || k == "full"), 0.5),
      "travel_ms_p50" -> Stats.percentile(log.latencies(_ == "travel"), 0.5),
      "read_ms_p90" -> Stats.percentile(reads, 0.9),
      "mor_write_ms_p50" -> Stats.percentile(log.latencies(_ == "merge"), 0.5),
      "mor_write_ms_median" -> Stats.median(log.latencies(_ == "merge")),
      "read_ms_median" -> Stats.median(reads),
      "ops_ms" -> OpLog.summary(all),
      "wrong_reads" -> wrong,
      "samples" -> log.byKind.map { case (k, n, _) => k -> n }.toMap)
    val layers = tracer.map { t =>
      t.drain()
      val readIn = t.tagSums(ReadKinds.contains).inputRecords
      val opt = log.latencies(_ == "optimize")
      t.opLayers(log, k => ReadKinds(k) || WriteKinds(k)) ++ layerW.layers(userBytes.sum) ++
        StoreProbe.layers(dir) ++
        Map(
          "scan.rows_per_row_returned" -> readIn.toDouble / math.max(1L, returned),
          "optimize.ms" -> (if (opt.isEmpty) 0.0 else Stats.median(opt)),
          "optimize.bytes_rewritten" ->
            (if (opt.isEmpty) 0.0 else t.tagSums(_ == "optimize").outputBytes.toDouble / opt.size))
    }.getOrElse(Map.empty)
    PassResult(e2e, detail, log, tableOk && wrong == 0, layers)
  }
}

/** Traced-pass probe of what a table's commits write: new data files and
  * their bytes per commit, from walks of the table directory, and the
  * time of `GraftStore.snapshotFileEntries` on each fresh live version. */
final class WriteProbe(dir: String) {
  private var seen: Set[String] = dataFiles().keySet
  private val files = mutable.ArrayBuffer.empty[Int]
  private var bytes = 0L
  private val snapMs = mutable.ArrayBuffer.empty[Double]

  private def dataFiles(): Map[String, Long] =
    Fs.walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap

  def afterCommit(): Unit = {
    val now = dataFiles()
    val fresh = now.keySet -- seen
    files += fresh.size
    bytes += fresh.toSeq.map(now).sum
    seen = now.keySet
    val t0 = System.nanoTime()
    GraftStore.snapshotFileEntries(dir, GraftStore.currentVersion(dir))
    snapMs += (System.nanoTime() - t0) / 1e6
  }

  def layers(userBytes: Long): Map[String, Double] = Map(
    "write.files_per_commit" -> (if (files.isEmpty) 0.0 else Stats.mean(files.map(_.toDouble).toSeq)),
    "write.bytes_per_user_byte" -> bytes.toDouble / math.max(1L, userBytes),
    "meta.snapshot_files_ms" -> (if (snapMs.isEmpty) 0.0 else Stats.median(snapMs.toSeq)))
}

/** End-of-pass shape of a store table: its history and live state. */
object StoreProbe {
  def layers(dir: String): Map[String, Double] = {
    val v = GraftStore.currentVersion(dir)
    Map(
      "store.versions" -> GraftStore.listVersions(dir).size.toDouble,
      "store.files_live" -> GraftStore.snapshotFileEntries(dir, v).size.toDouble,
      "mor.dv_rows_live" -> GraftStore.dvLiveRows(GraftStore.versionDir(dir, v)).toDouble)
  }
}
