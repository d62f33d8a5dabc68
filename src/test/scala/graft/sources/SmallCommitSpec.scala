package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** r16 optimization guard: a keyed commit whose change batch is under the
  * broadcast bounds runs its legs as broadcasts of the batch (base never
  * shuffled); over the bounds it keeps the shuffle plans. Both paths must
  * produce byte-identical table content AND changelog slices — this spec
  * runs the same DML program down each path and diffs everything. Without
  * it the shuffle path would lose all coverage (every other suite's
  * batches are small, so they all take the broadcast path now).
  *
  * The bounds also pick how the staged change batch is decoded: under
  * them on the driver into a local batch, over them by a distributed job
  * into a persisted batch; and how the merge-on-read after-images and
  * delete slices and the changelog slices are written: under them on the
  * driver, over them by Spark jobs. Each run asserts the decode and the
  * writer it took, so the diff covers both decodes and both writers. The
  * key shapes are a BIGINT key and a composite (STRING, DATE) key; under
  * merge-on-read the latter's delete probe compares the driver-decoded key values with the scanned rows as
  * catalyst values, and its reads must match copy-on-write's. */
class SmallCommitSpec extends SparkTestBase {

  private lazy val cat = "smallcommit"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_smallcommit_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  /** A merge key: its column DDL and the SQL select list deriving the key
    * columns, unique per `id`, from `range`'s `id`. */
  private final case class KeyShape(label: String, keyCols: Seq[String],
      ddl: String, fromId: String)
  private val bigintKey = KeyShape("", Seq("k"), "k BIGINT NOT NULL", "id AS k")
  private val stringDateKey = KeyShape(", STRING+DATE key", Seq("s", "d"),
    "s STRING NOT NULL, d DATE NOT NULL",
    "concat('s', id % 20) AS s, " +
      "date_add(DATE'2024-01-01', CAST(id DIV 20 AS INT)) AS d")

  private def run(name: String, mode: String, key: KeyShape): Unit = {
    warehouse
    val keys = key.keyCols.mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (${key.ddl}, name STRING, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='${key.keyCols.mkString(",")}',
        'buckets'='4', 'merge_mode'='$mode')""")
    spark.sql(s"INSERT INTO $cat.$name " +
      s"SELECT ${key.fromId}, concat('n', id), id * 10 FROM range(0, 300)")
    spark.sql(s"SELECT ${key.fromId}, id, concat('u', id) AS name, " +
      "id AS amount FROM range(100, 400)").createOrReplaceTempView("sc_src")
    spark.sql(s"""MERGE INTO $cat.$name t USING sc_src s
      ON ${key.keyCols.map(k => s"t.$k = s.$k").mkString(" AND ")}
      WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = s.name, amount = s.amount
      WHEN NOT MATCHED THEN INSERT ($keys, name, amount)
        VALUES (${key.keyCols.map("s." + _).mkString(", ")}, s.name, s.amount)""")
    spark.sql(s"UPDATE $cat.$name SET amount = amount + 7 WHERE amount % 3 = 1")
    spark.sql(s"DELETE FROM $cat.$name WHERE amount % 5 = 2")
  }

  private def content(name: String, key: KeyShape): Seq[String] = {
    val keys = key.keyCols.mkString(", ")
    spark.sql(s"SELECT $keys, name, amount FROM $cat.$name ORDER BY $keys")
      .collect().toSeq.map(_.toString)
  }

  private def changes(name: String, key: KeyShape): Seq[String] = {
    val d = s"$warehouse/$name"
    val v = GraftStore.currentVersion(d)
    GraftStore.readChanges(spark, d, 1, v)
      .selectExpr(key.keyCols ++ Seq("name", "amount", "change_op") ++
        (key.keyCols ++ Seq("name", "amount")).map("change_before." + _): _*)
      .collect().toSeq.map(_.toString).sorted
  }

  /** What the commits of `body` ran: whether a query read a change batch
    * decoded by a distributed job and persisted (an in-memory relation
    * over an RDD scan — the decode a batch over the bounds takes), and
    * the output dirs of the Spark file writes. A batch under the bounds
    * writes its merge-on-read after-images, delete slice and changelog
    * slice on the driver, with no Spark write. */
  private final case class Commits(persistedDecode: Boolean,
      sparkWrites: Seq[String])

  private def commitsOf(body: => Unit): Commits = {
    val seen = new AtomicBoolean(false)
    val writes = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        if (qe.optimizedPlan.collectWithSubqueries {
              case m: InMemoryRelation
                  if m.cacheBuilder.cachedPlan.exists(_.isInstanceOf[RDDScanExec]) => m
            }.nonEmpty) seen.set(true)
        qe.logical.foreach {
          case w: InsertIntoHadoopFsRelationCommand => writes.add(w.outputPath.toString)
          case _ =>
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; GraftTestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    Commits(seen.get, writes.asScala.toSeq)
  }

  private def sliceWrites(c: Commits, dirPart: String): Int =
    c.sparkWrites.count(_.contains(dirPart))

  for (key <- Seq(bigintKey, stringDateKey); mode <- Seq("cow", "mor")) {
    val tag = if (key == bigintKey) mode else s"${mode}_sd"
    test(s"broadcast and shuffle commit legs produce identical " +
        s"content and changelog ($mode${key.label})") {
      // default bounds: every batch here is small -> driver decode,
      // broadcast legs, driver-side slice writes: the only Spark writes
      // are the INSERT's and, on copy-on-write, the three rewrites
      val small = commitsOf(run(s"bc_$tag", mode, key))
      assert(!small.persistedDecode)
      assert(small.sparkWrites.size == (if (mode == "mor") 1 else 4), small)
      assert(sliceWrites(small, "/_changes/") == 0, small)
      // rows bound 0: every batch is "large" -> distributed decode,
      // persisted batch, shuffle legs, Spark slice writes
      val large = withConf("spark.graft.commit.broadcastMaxRows" -> "0") {
        commitsOf(run(s"sh_$tag", mode, key))
      }
      assert(large.persistedDecode)
      assert(sliceWrites(large, "/_changes/") == 3, large)
      assert(sliceWrites(large, s"/${GraftStore.DvDirName}/") ==
        (if (mode == "mor") 3 else 0), large)
      assert(content(s"bc_$tag", key) == content(s"sh_$tag", key))
      assert(changes(s"bc_$tag", key) == changes(s"sh_$tag", key))
      assert(content(s"bc_$tag", key).nonEmpty)
      if (mode == "mor") {
        // the same program on copy-on-write applies no delete probe
        run(s"ref_$tag", "cow", key)
        assert(GraftStore.hasLiveDv(GraftStore.versionDir(
          s"$warehouse/bc_$tag", GraftStore.currentVersion(s"$warehouse/bc_$tag"))))
        assert(content(s"bc_$tag", key) == content(s"ref_$tag", key))
        assert(changes(s"bc_$tag", key) == changes(s"ref_$tag", key))
      }
    }
  }

  test("mor over-cap escalation under broadcast legs matches the " +
      "shuffle path (cowRewrite over touched+DV buckets, small batch)") {
    // a tiny delete cap forces every mor DML to escalate into the
    // copy-on-write rewrite over (touched ∪ DV buckets) while the batch
    // still satisfies the broadcast bounds — the r16 ADVICE gap: the
    // undistincted broadcast removes build composed with DV-applied
    // base reads had no coverage
    sys.props("graft.store.morMaxLiveDeletes") = "1"
    try {
      run("esc_bc", "mor", bigintKey)
      withConf("spark.graft.commit.broadcastMaxRows" -> "0") {
        run("esc_sh", "mor", bigintKey)
      }
      assert(content("esc_bc", bigintKey) == content("esc_sh", bigintKey))
      assert(changes("esc_bc", bigintKey) == changes("esc_sh", bigintKey))
      assert(content("esc_bc", bigintKey).nonEmpty)
    } finally sys.props.remove("graft.store.morMaxLiveDeletes")
  }
}
