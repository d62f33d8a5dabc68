package perfbench

import org.apache.spark.sql.SparkSession

/** `analytics`: `SparkEntry` bench rows in which the library's operators and
  * functions do the work (exact and near-duplicate detection, vector
  * similarity), each run to completion. Set-up is a pass over the rows
  * (the first one cold: JIT and code generation); the timed region repeats
  * whole passes. The commit path does almost none of the work here.
  *
  * A timed row collects its result (the rows return small aggregates or
  * top-k sets), and the last pass's results are written as parquet beside
  * their DuckDB oracle SQL, in the layout `scripts/check_oracle.py` reads,
  * so checking costs no extra pass. */
object Analytics extends Workload {
  val Rows: Seq[String] = Seq("n1_exact_dedup", "n2_minhash_lsh", "n5_ann_bruteforce")
  /** Nominal seconds of one pass. */
  val PassS = 2.0

  val Scale = "sf0.01"

  def setup(spark: SparkSession, args: Args): Unit =
    Rows.foreach(r => graft.SparkEntry.queries(r)(spark, s"${args.data}/$Scale").collect())

  def run(spark: SparkSession, args: Args, tracer: Option[Tracer]): PassResult = {
    val dir = s"${args.data}/$Scale"
    val log = new OpLog
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var results = Map.empty[String, org.apache.spark.sql.DataFrame]
    (1 to units(args.seconds, PassS)).foreach { _ =>
      val t0 = System.nanoTime()
      results = Rows.flatMap { r =>
        Tracer.tagged(spark, r)(log.timed(r) {
          val df = graft.SparkEntry.queries(r)(spark, dir)
          spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
        }).map(r -> _)
      }.toMap
      passMs += (System.nanoTime() - t0) / 1e6
    }
    val out = s"${args.work}/analytics_out"
    results.foreach { case (r, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$r") }
    val oracle = Rows.flatMap(r => graft.SparkEntry.oracleSql.get(r).map(r -> _)).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.value(oracle))
    val all = log.latencies()
    val e2e = OpLog.e2e(log, _ => true, log.attempted / (passMs.sum / 1e3))
    val rowS = Rows.map(r => r -> Stats.median(log.latencies(_ == r)) / 1e3).toMap
    val detail: Map[String, Any] = Map(
      "analytics_s" -> Stats.median(passMs.toSeq) / 1e3,
      "passes" -> passMs.size,
      "ops_ms" -> OpLog.summary(all),
      "check_dir" -> out,
      "rows_s" -> rowS)
    val layers = tracer.map { t =>
      t.drain()
      t.opLayers(log, Rows.contains) ++ Rows.flatMap { r =>
        Seq(s"operators.${r}_s" -> rowS(r),
          s"operators.$r.shuffle_bytes" -> t.tagSums(_ == r).shuffleWrite.toDouble / passMs.size)
      }
    }.getOrElse(Map.empty)
    PassResult(e2e, detail, log, results.size == Rows.size, layers)
  }
}
