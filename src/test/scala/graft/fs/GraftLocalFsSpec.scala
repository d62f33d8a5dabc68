package graft.fs

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.streaming.{CompactingSink, FrameBus}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileSystem, LocalFileSystem}
import org.apache.spark.sql.DataFrame

/** The fork-free `file:` filesystem a graft session installs: no `chmod` or
  * `readlink` subprocess on the write, commit and checkpoint paths, with
  * Hadoop's mode bits, checksums and user overrides kept. */
class GraftLocalFsSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def chain(x: Throwable): Seq[Throwable] =
    Option(x).toSeq.flatMap(t => t +: chain(t.getCause))

  private def walk(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.toList finally s.close()
  }

  /** Command lines of the processes this JVM started while `body` ran,
    * from JFR's `jdk.ProcessStart`. Two stream flushes after `body` every
    * event it emitted has been delivered. */
  private def spawns(body: => Unit): Seq[String] = {
    val cmds = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => cmds.add(e.getString("command")))
      rs.onFlush(() => flushes.incrementAndGet())
      rs.startAsync()
      body
      val seen = flushes.get()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (flushes.get() < seen + 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(flushes.get() >= seen + 2, "the JFR stream stopped flushing")
    } finally rs.close()
    cmds.asScala.toSeq
  }

  test("parquet writes and checkpointed upsertCompact epochs spawn no chmod or readlink") {
    val root = tmp("localfs_spawns")
    val file = new URI("file:///")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(file, hadoopConf).isInstanceOf[GraftLocalFileSystem])
    assert(AbstractFileSystem.get(file, hadoopConf).isInstanceOf[GraftLocalFs])
    var epochs = 0L
    val cmds = spawns {
      spark.range(100).write.parquet(s"$root/plain")
      FrameBus.appendTopic(s"$root/bus", "t", (0 until 20).map(i =>
        (i.toLong, s"k${i % 7}", s"v$i".getBytes("UTF-8"))))
      val q = spark.readStream.format("graft.streaming.FrameBusProvider")
        .option("busDir", s"$root/bus").option("maxOffsetsPerTrigger", "10")
        .load().select("key", "offset", "value")
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(CompactingSink.upsertCompact(s"$root/store", Seq("key"),
          Seq("offset")) _)
        .start()
      try q.processAllAvailable() finally q.stop()
      epochs = q.recentProgress.count(_.numInputRows > 0).toLong
    }
    assert(epochs === 2L)
    assert(Files.exists(Paths.get(root, "ckpt", "commits", "1")))
    assert(spark.read.parquet(s"$root/store").count() === 7L)
    val forked = cmds.filter(c =>
      c.split("\\s+").headOption.exists(h => h.endsWith("chmod") || h.endsWith("readlink")))
    assert(forked.size === 0, s"e.g. ${forked.take(3)}")
  }

  test("created files are 0644 and directories 0755 under the default umask") {
    val out = s"${tmp("localfs_modes")}/t"
    spark.range(10).coalesce(1).write.parquet(out)
    val (dirs, files) = walk(out).partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    files.foreach(f => assert(mode(f) === "rw-r--r--", f))
    dirs.foreach(d => assert(mode(d) === "rwxr-xr-x", d))
  }

  test(".crc checksums are written, and a flipped data byte fails the read") {
    val out = s"${tmp("localfs_crc")}/t"
    spark.range(1000).selectExpr("id", "id * 7 AS v").coalesce(1).write.parquet(out)
    val part = walk(out).find(_.getFileName.toString.endsWith(".parquet")).get
    assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
    def read(): DataFrame = spark.read.parquet(out)
    assert(read().count() === 1000L)
    // byte 100 sits in the first 512-byte checksum chunk: the first
    // column chunk's pages, past the magic and clear of the footer
    val bytes = Files.readAllBytes(part)
    bytes(100) = (bytes(100) ^ 0xff).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](read().collect())
    assert(chain(e).exists(_.isInstanceOf[ChecksumException]), e)
  }

  /** Output of a fresh JVM running [[FileImplSession]] with `confs`:
    * Hadoop caches `file:` once per JVM, and this one's session resolved
    * it long ago. */
  private def freshSession(confs: (String, String)*): Seq[String] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      rt.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        FileImplSession.getClass.getName.stripSuffix("$")) ++
      confs.map { case (k, v) => s"$k=$v" }
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(120, TimeUnit.SECONDS) && p.exitValue() == 0, out)
    out.linesIterator.toSeq
  }

  private def resolved(out: Seq[String]): Seq[String] =
    out.filter(_.matches("a?fs=.*"))

  test("a session that sets spark.hadoop.fs.file.impl keeps that class") {
    val out = freshSession(
      "spark.hadoop.fs.file.impl" -> classOf[LocalFileSystem].getName)
    // the key the user left unset still gets the fork-free filesystem
    assert(resolved(out) === Seq(s"fs=${classOf[LocalFileSystem].getName}",
      s"afs=${classOf[GraftLocalFs].getName}"))
  }

  test("an event log on file: caches another class first: one WARN names " +
      "the spark.hadoop settings, which install the fork-free one") {
    val eventLog = Seq("spark.eventLog.enabled" -> "true",
      "spark.eventLog.dir" -> s"file:${tmp("localfs_eventlog")}")
    val remedy = s"spark.hadoop.fs.file.impl=${classOf[GraftLocalFileSystem].getName}"
    def warnings(out: Seq[String]) =
      out.filter(l => l.contains("WARN") && l.contains(remedy))
    val cached = freshSession(eventLog: _*)
    // the class Hadoop's service loader registers for file:, not graft's
    assert(resolved(cached).head !== s"fs=${classOf[GraftLocalFileSystem].getName}")
    assert(warnings(cached).size === 1, cached.mkString("\n"))
    val fixed = freshSession(eventLog ++ Seq(
      "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[GraftLocalFs].getName): _*)
    assert(resolved(fixed) === Seq(s"fs=${classOf[GraftLocalFileSystem].getName}",
      s"afs=${classOf[GraftLocalFs].getName}"))
    assert(warnings(fixed).isEmpty, fixed.mkString("\n"))
  }
}

/** The child JVM of the fresh-session cases: a graft session created with
  * the `key=value` confs given as arguments; prints the `file:` classes
  * the JVM then resolves. */
object FileImplSession {
  def main(args: Array[String]): Unit = {
    val spark = args.map(_.split("=", 2)).foldLeft(
        org.apache.spark.sql.SparkSession.builder()
          .master("local[1]")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.extensions",
            classOf[graft.sources.GraftExtensions].getName)) {
        case (b, Array(k, v)) => b.config(k, v)
      }
      .getOrCreate()
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val file = new URI("file:///")
      println(s"fs=${FileSystem.get(file, conf).getClass.getName}")
      println(s"afs=${AbstractFileSystem.get(file, conf).getClass.getName}")
    } finally spark.stop()
  }
}
