package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Per-version ZONE MAPS — file-level min/max column statistics, the data-
  * skipping layer on top of bucket pruning. Bucket pruning answers "which
  * files can hold this KEY"; zone maps answer "which files can hold this
  * VALUE RANGE" for any column: a time-ordered append stream naturally
  * clusters each commit's files to its ingest window, so `WHERE ts >=
  * last_week` on a 100 TB table plans only the recent files — decided at
  * the driver from a metadata manifest, before a single task launches or
  * file opens (parquet's own row-group skipping still applies below, but
  * only after every file was listed, opened, and footer-read by a task).
  *
  * Mechanics: every commit records, in its version manifest
  * ([[GraftStore.VersionManifest]]), one entry per (file, top-level
  * primitive column) with min/max/nullCount read from the parquet FOOTERS
  * of the files that version dir holds (metadata-only, cost ∝ files
  * written); carried files keep their entries in their owner versions'
  * manifests, so manifest cost tracks the commit, not the table.
  * The scan side ([[org.apache.spark.sql.GraftScan]]) drops whole
  * files whose stats PROVE no row can satisfy the pushed conjuncts. Absent
  * entries — unreadable footers, unsupported physical types (INT96,
  * decimals, nested) — simply keep their files: pruning only ever narrows
  * to a correct superset.
  *
  * Values are stored by PHYSICAL column name (files never rename) in a
  * line format with base64-encoded endpoints, so no JSON machinery and no
  * escaping edge cases; widened columns compare correctly because stats
  * and literals normalize into a shared integral/fractional domain.
  * Reference behavior anchor: the reference engine re-derives its task
  * bounds per scheduler pass rather than persisting per-file metadata
  * (/root/reference/module/internal/roblox/task_scheduler/scheduler.cpp);
  * a Spark-first store wants plan-time skipping, hence the manifest. */
object GraftStats {

  /** One column's footer aggregate for one file. `min`/`max` are EXTERNAL
    * Scala values (Long / Double / String / Boolean); `kind` tags the
    * comparison domain. `nullCount`/`rowCount` are -1 when unknown. */
  final case class ColStats(kind: String, nullCount: Long, rowCount: Long,
      min: Option[Any], max: Option[Any])

  type FileStats = Map[String, ColStats]

  private val KindLong = "l"    // integral: byte/short/int/long/date(days)/ts(micros)
  private val KindDouble = "d"  // fractional: float/double
  private val KindString = "s"  // UTF8 strings, byte-order comparisons
  private val KindBool = "b"

  /** The Hadoop configuration every footer read opens files with. Built
    * once — a fresh `new Configuration()` per file re-parses Hadoop's XML
    * defaults on its first lookup — and never mutated, so concurrent
    * readers share it. */
  private lazy val footerConf = new Configuration()

  // ---------------------------------------------------------------- write

  /** Footer stats of every data file under a build dir — what a commit
    * persists for the files it wrote. An unreadable footer yields no
    * entry (its file is then never skipped). */
  def footerManifest(buildDir: String): Map[String, FileStats] = {
    val root = Paths.get(buildDir)
    val files = dataFiles(root)
    def footer(rel: String): FileStats =
      try readFooterStats(root.resolve(rel))
      catch { case _: Exception => Map.empty }
    // footer reads are independent metadata I/O — a bulk commit (initial
    // load, rebucket) fans them out over a small pool instead of paying
    // per-file latency serially (a real object store would batch these
    // into a task-side job; locally the pool is plenty)
    if (files.size <= 4) files.map(r => r -> footer(r)).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, files.size))
      try files
        .map(r => r -> pool.submit({ () => footer(r) }: java.util.concurrent.Callable[FileStats]))
        .map { case (r, f) =>
          r -> (try f.get() catch { case _: Exception => Map.empty[String, ColStats] })
        }.toMap
      finally pool.shutdown()
    }
  }

  /** Relative paths (`gbucket=N/part-...`) of the data files in a version
    * dir, sorted for deterministic manifests. */
  def listDataFiles(versionDir: String): Seq[String] =
    dataFiles(Paths.get(versionDir))

  private def dataFiles(root: Path): Seq[String] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.walk(root)
    // hidden check applies to every path SEGMENT under the root, not just
    // the file name: files under a hidden subtree (`_dv/dseq=3/...` delete
    // files) are metadata, not data — Spark's own listing hides them the
    // same way
    try s.iterator().asScala.filter { p =>
      val rel = root.relativize(p)
      Files.isRegularFile(p) && (0 until rel.getNameCount).forall { i =>
        val n = rel.getName(i).toString
        !n.startsWith(".") && !n.startsWith("_")
      }
    }.map(p => root.relativize(p).toString).toSeq.sorted
    finally s.close()
  }

  /** Footer statistics of one parquet file (empty on read failure) — the
    * same aggregation [[footerManifest]] collects, for callers that need
    * stats of files OUTSIDE a version manifest (e.g. classifying a
    * changelog slice as insert-only from its `change_op` min/max). */
  def readFileStats(file: Path): FileStats =
    try readFooterStats(file)
    catch { case _: Exception => Map.empty }

  /** PHYSICAL column names carrying a bloom filter in one parquet file's
    * footer (empty on read failure) — how [[GraftTableMeta.bloomCols]]
    * declarations are verified against what files actually store (the S34
    * driver gate and BloomFilterSpec both read through here). */
  def bloomedColumns(file: Path): Set[String] =
    try {
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), footerConf)
      val r = ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getBloomFilterOffset >= 0)
        .map(_.getPath.toDotString).toSet
      finally r.close()
    } catch { case _: Exception => Set.empty }

  /** Exact row count of one parquet file from its footer (block counts),
    * or None if the footer is unreadable. */
  def fileRowCount(file: Path): Option[Long] =
    try {
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), footerConf)
      val r = ParquetFileReader.open(in)
      try Some(r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      finally r.close()
    } catch { case _: Exception => None }

  /** The Spark schema `spark.read.parquet` infers from one parquet file:
    * the writer's Spark schema kept in the footer's key-value metadata,
    * else the converted parquet schema. Read on the driver, so a reader
    * that passes it to `spark.read.schema` runs no schema-inference job. */
  def fileSchema(spark: SparkSession, file: Path): StructType = {
    val path = new org.apache.hadoop.fs.Path(file.toUri)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, footerConf))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(path, r.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally r.close()
  }

  /** Aggregate footer statistics per top-level primitive column. Columns
    * whose physical type has no defensible comparison mapping (INT96,
    * decimals, nested paths, non-UTF8 binary) are omitted. */
  private def readFooterStats(file: Path): FileStats = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), footerConf)
    val r = ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.size() == 1) // top-level only
        .groupBy(_.getPath.toDotString)
      byCol.flatMap { case (name, chunks) =>
        val kinds = chunks.map(c => kindOf(c.getPrimitiveType)).distinct
        if (kinds.size != 1 || kinds.head.isEmpty) None
        else {
          val kind = kinds.head.get
          val stats = chunks.map(_.getStatistics)
          if (stats.exists(_ == null)) None
          else {
            val nulls =
              if (stats.forall(_.isNumNullsSet)) stats.map(_.getNumNulls).sum
              else -1L
            val withVals = stats.filter(_.hasNonNullValue)
            val (mn, mx) =
              if (withVals.isEmpty) (None, None)
              else {
                val mins = withVals.map(s => convert(kind,
                  s.genericGetMin.asInstanceOf[AnyRef],
                  chunks.head.getPrimitiveType, down = true))
                val maxs = withVals.map(s => convert(kind,
                  s.genericGetMax.asInstanceOf[AnyRef],
                  chunks.head.getPrimitiveType, down = false))
                if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty)) (None, None)
                else {
                  val ord = ordering(kind)
                  (Some(mins.flatten.min(ord)), Some(maxs.flatten.max(ord)))
                }
              }
            // drop degenerate fractional stats (NaN endpoints order weirdly)
            val bad = kind == KindDouble && (mn ++ mx).exists(
              v => java.lang.Double.isNaN(v.asInstanceOf[Double]))
            if (bad || (mn.isEmpty && nulls < 0)) None
            else Some(name -> ColStats(kind, nulls, rowCount, mn, mx))
          }
        }
      }
    } finally r.close()
  }

  /** Comparison domain for a parquet primitive type, or None if out of
    * scope for zone maps. */
  private def kindOf(t: PrimitiveType): Option[String] = {
    import PrimitiveType.PrimitiveTypeName._
    val lt = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case _ if lt.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] => None
      // unsigned ints wrap when read as signed — out of scope
      case _ if lt.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] &&
        !lt.asInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation].isSigned => None
      case INT32 | INT64 => Some(KindLong)
      case FLOAT | DOUBLE => Some(KindDouble)
      case BOOLEAN => Some(KindBool)
      case BINARY if lt.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(KindString)
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY, raw BINARY
    }
  }

  /** Footer value → external value in its domain. Timestamps normalize to
    * MICROS so literals (catalyst micros) compare directly; `down` picks
    * the safe rounding direction for lossy unit conversions (a min must
    * round DOWN and a max UP, or the interval stops covering the file). */
  private def convert(kind: String, v: AnyRef, t: PrimitiveType,
      down: Boolean): Option[Any] =
    kind match {
      case KindLong =>
        val raw = v match {
          case n: java.lang.Integer => n.longValue()
          case n: java.lang.Long => n.longValue()
          case _ => return None
        }
        t.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw)
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(raw * 1000L)
              case LogicalTypeAnnotation.TimeUnit.NANOS =>
                Some(if (down) Math.floorDiv(raw, 1000L)
                else -Math.floorDiv(-raw, 1000L))
              case _ => None
            }
          case _ => Some(raw)
        }
      case KindDouble => v match {
        // -0.0 == 0.0 under Spark's evaluator but -0.0 < 0.0 under the
        // total ordering used here — normalize signed zeros so a file of
        // -0.0s can't be pruned away from `= 0.0`
        case n: java.lang.Float => Some(normZero(n.doubleValue()))
        case n: java.lang.Double => Some(normZero(n.doubleValue()))
        case _ => None
      }
      case KindString => v match {
        case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
        case _ => None
      }
      case KindBool => v match {
        case b: java.lang.Boolean => Some(b.booleanValue())
        case _ => None
      }
      case _ => None
    }

  private def ordering(kind: String): Ordering[Any] = (kind match {
    case KindLong => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case KindDouble => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
    case KindBool => Ordering.Boolean.on[Any](_.asInstanceOf[Boolean])
    case KindString => // parquet + catalyst both order strings by UTF-8 BYTES
      Ordering.comparatorToOrdering[Any]((a: Any, b: Any) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String])))
  })

  // ------------------------------------------------------------- encoding

  private def enc(kind: String, v: Option[Any]): String = v match {
    case None => "-"
    case Some(x) =>
      val s = kind match {
        case KindString => x.asInstanceOf[String]
        case _ => x.toString
      }
      Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  }

  private def dec(kind: String, s: String): Option[Any] = {
    if (s == "-") return None
    val raw = new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
    kind match {
      case KindLong => Some(raw.toLong)
      case KindDouble => Some(normZero(raw.toDouble))
      case KindBool => Some(raw.toBoolean)
      case KindString => Some(raw)
      case _ => None
    }
  }

  /** One column's stats as manifest fields: kind, null count, row count,
    * min, max. */
  private[sources] def encodeColStats(cs: ColStats): Seq[String] =
    Seq(cs.kind, cs.nullCount.toString, cs.rowCount.toString,
      enc(cs.kind, cs.min), enc(cs.kind, cs.max))

  /** The inverse of [[encodeColStats]]; any other shape is an
    * IllegalArgumentException. */
  private[sources] def decodeColStats(fields: Seq[String]): ColStats =
    fields match {
      case Seq(kind @ (KindLong | KindDouble | KindString | KindBool), nulls,
          rows, mn, mx) =>
        ColStats(kind, nulls.toLong, rows.toLong, dec(kind, mn), dec(kind, mx))
      case _ => throw new IllegalArgumentException(
        s"column stats ${fields.mkString("[", ",", "]")}")
    }

  // ------------------------------------------------- table column stats
  //
  // ANALYZE output: per-column NDV / null count / min / max over one
  // analyzed VERSION, persisted at the table level (`_colstats`, staged +
  // atomic rename) and served to Spark's planner through the scan's
  // `Statistics.columnStats()` — the join-ordering/estimation input a
  // store⋈store fact join is blind without. One aggregate job per ANALYZE
  // (never per query); like every warehouse, stats are advisory estimates
  // and may lag the table until the next `CALL analyze`.

  val ColStatsName = "_colstats"

  /** One analyzed column: comparison kind (same domain tags as zone maps),
    * approximate distinct count, null count, min/max (External values). */
  /** Equi-height histogram: common bin height (rows per bin) + bins as
    * (lo, hi, ndv) over the column's DOUBLE domain — the exact shape
    * Catalyst's filter/join estimation consumes. */
  final case class ColHistogram(height: Double, bins: Seq[(Double, Double, Long)])

  final case class TableColStat(kind: String, ndv: Long, nullCount: Long,
      min: Option[Any], max: Option[Any],
      histogram: Option[ColHistogram] = None)

  private def encHist(h: Option[ColHistogram]): String = h match {
    case None => "-"
    case Some(ColHistogram(height, bins)) =>
      height.toString + "|" + bins.map { case (lo, hi, ndv) =>
        s"$lo:$hi:$ndv" }.mkString(";")
  }

  private def decHist(s: String): Option[ColHistogram] =
    if (s == "-" || s.isEmpty) None
    else try {
      val Array(h, rest) = s.split('|')
      Some(ColHistogram(h.toDouble, rest.split(';').toSeq.map { b =>
        val Array(lo, hi, ndv) = b.split(':')
        (lo.toDouble, hi.toDouble, ndv.toLong)
      }))
    } catch { case _: Exception => None }

  /** `analyzedRows` (the snapshot's row count at analyze time) rides in
    * the header — the staleness signal serve-time compares against the
    * CURRENT snapshot's manifest row count
    * ([[GraftStore.freshTableColStats]]). */
  def writeTableColStats(dir: String, version: Long,
      analyzedRows: Long, stats: Map[String, TableColStat]): Unit = {
    val sb = new StringBuilder
    sb.append(version).append('\t').append(analyzedRows).append('\n')
    stats.toSeq.sortBy(_._1).foreach { case (c, s) =>
      sb.append(Seq(c, s.kind, s.ndv.toString, s.nullCount.toString,
        enc(s.kind, s.min), enc(s.kind, s.max), encHist(s.histogram))
        .mkString("\t")).append('\n')
    }
    val tmp = Paths.get(dir, ColStatsName + ".tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, ColStatsName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** (analyzed version, analyzed row count, per-PHYSICAL-column stats). */
  def readTableColStatsFull(dir: String)
      : Option[(Long, Long, Map[String, TableColStat])] = {
    val p = Paths.get(dir, ColStatsName)
    if (!Files.exists(p)) return None
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty)
    if (lines.isEmpty) return None
    try {
      val Array(v, arows) = lines.head.trim.split('\t').map(_.toLong)
      val m = lines.tail.flatMap { line =>
        line.split('\t') match {
          case Array(c, kind, ndv, nulls, mn, mx, hist) =>
            try Some(c -> TableColStat(kind, ndv.toLong, nulls.toLong,
              dec(kind, mn), dec(kind, mx), decHist(hist)))
            catch { case _: Exception => None }
          case _ => None
        }
      }.toMap
      Some((v, arows, m))
    } catch { case _: Exception => None }
  }

  // ----------------------------------------------------------- evaluation

  /** Whether a file with `stats` MAY contain rows satisfying every
    * conjunct. False means provably empty — the scan drops the file.
    * Unrecognized shapes, unknown columns, and domain mismatches always
    * answer true (keep): skipping must narrow to a superset, never guess. */
  def mayContain(conjuncts: Seq[Expression], stats: FileStats): Boolean =
    conjuncts.forall(c => !provesEmpty(c, stats))

  private def provesEmpty(e: Expression, stats: FileStats): Boolean = e match {
    case And(l, r) => provesEmpty(l, stats) || provesEmpty(r, stats)
    case Or(l, r) => provesEmpty(l, stats) && provesEmpty(r, stats)
    case EqualTo(a: AttributeReference, l: Literal) => noEq(stats, a.name, l)
    case EqualTo(l: Literal, a: AttributeReference) => noEq(stats, a.name, l)
    case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
      noEq(stats, a.name, l)
    case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
      noEq(stats, a.name, l)
    case LessThan(a: AttributeReference, l: Literal) =>
      noCmp(stats, a.name, l)((mn, _, v, ord) => ord.gteq(mn, v))
    case LessThan(l: Literal, a: AttributeReference) =>
      noCmp(stats, a.name, l)((_, mx, v, ord) => ord.lteq(mx, v))
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      noCmp(stats, a.name, l)((mn, _, v, ord) => ord.gt(mn, v))
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      noCmp(stats, a.name, l)((_, mx, v, ord) => ord.lt(mx, v))
    case GreaterThan(a: AttributeReference, l: Literal) =>
      noCmp(stats, a.name, l)((_, mx, v, ord) => ord.lteq(mx, v))
    case GreaterThan(l: Literal, a: AttributeReference) =>
      noCmp(stats, a.name, l)((mn, _, v, ord) => ord.gteq(mn, v))
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      noCmp(stats, a.name, l)((_, mx, v, ord) => ord.lt(mx, v))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      noCmp(stats, a.name, l)((mn, _, v, ord) => ord.gt(mn, v))
    case In(a: AttributeReference, vs) if vs.nonEmpty &&
        vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall(v => noEq(stats, a.name, v.asInstanceOf[Literal]))
    case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
      hset.forall(v => noEq(stats, a.name, Literal(v, a.dataType)))
    case org.apache.spark.sql.catalyst.expressions.StartsWith(
        a: AttributeReference, l: Literal) if l.value != null =>
      // strings with prefix p live in [p, nextPrefix(p)): below-min or
      // above-max of that interval proves no match. nextPrefix bumps the
      // last byte of p's UTF-8 form; an all-0xFF prefix has no upper
      // bound, so only the lower check applies then.
      stats.get(a.name).exists { cs =>
        if (cs.nullCount >= 0 && cs.rowCount >= 0 && cs.nullCount == cs.rowCount)
          true
        else if (cs.kind != KindString || !l.value.isInstanceOf[UTF8String]) false
        else (cs.min, cs.max) match {
          case (Some(mn), Some(mx)) =>
            val p = l.value.asInstanceOf[UTF8String]
            val mxS = UTF8String.fromString(mx.asInstanceOf[String])
            val mnS = UTF8String.fromString(mn.asInstanceOf[String])
            if (mxS.compareTo(p) < 0) true // every value < p
            else nextPrefix(p.getBytes) match {
              case Some(np) => mnS.compareTo(UTF8String.fromBytes(np)) >= 0
              case None => false
            }
          case _ => false
        }
      }
    case IsNull(a: AttributeReference) =>
      stats.get(a.name).exists(cs => cs.nullCount == 0L)
    case IsNotNull(a: AttributeReference) =>
      stats.get(a.name).exists(cs =>
        cs.nullCount >= 0 && cs.rowCount >= 0 && cs.nullCount == cs.rowCount)
    case _ => false
  }

  // ------------------------------------------------ histogram selectivity

  /** Estimated fraction of rows matching `conjuncts`, from the ANALYZE
    * histograms (equi-height bins over the columns' double domains) —
    * None when no conjunct has a usable histogram. This is the SCAN-level
    * skew signal: zone maps bound matching rows at file granularity, but
    * within-file skew (95% of a column at one value) is invisible to
    * min/max; the histogram carries it, and the scan's row/byte estimate
    * is where the planner's broadcast decision actually reads it.
    * Conjuncts without a histogram contribute selectivity 1 (never
    * tighter than the evidence); Or needs both sides known. */
  def histogramSelectivity(conjuncts: Seq[Expression],
      stats: Map[String, TableColStat]): Option[Double] = {
    val sels = conjuncts.flatMap(c => selOf(c, stats))
    if (sels.isEmpty) None
    else Some(math.min(1.0, math.max(0.0, sels.product)))
  }

  private def litToDouble(l: Literal): Option[Double] = l.value match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  private def histOf(stats: Map[String, TableColStat],
      col: String): Option[ColHistogram] =
    stats.get(col).flatMap(_.histogram).filter(_.bins.nonEmpty)

  /** Fraction of NON-NULL rows inside (lo, hi) with the given bound
    * inclusivity; None bound = unbounded. Continuous interpolation inside
    * non-degenerate bins; degenerate (single-value) bins — the skew
    * spikes — honor bound strictness exactly. */
  private def selRange(h: ColHistogram, loB: Option[Double], loInc: Boolean,
      hiB: Option[Double], hiInc: Boolean): Double = {
    val total = h.height * h.bins.length
    if (total <= 0) return 1.0
    val rows = h.bins.map { case (lo, hi, _) =>
      if (hi > lo) {
        val a = math.max(lo, loB.getOrElse(Double.NegativeInfinity))
        val b = math.min(hi, hiB.getOrElse(Double.PositiveInfinity))
        if (b < a) 0.0 else h.height * ((b - a) / (hi - lo))
      } else {
        val inLo = loB.forall(x => lo > x || (loInc && lo == x))
        val inHi = hiB.forall(x => lo < x || (hiInc && lo == x))
        if (inLo && inHi) h.height else 0.0
      }
    }.sum
    math.min(1.0, rows / total)
  }

  /** Fraction of non-null rows equal to `v`: each bin OWNING `v`
    * contributes height/ndv (its rows spread over its distinct values).
    * Ownership follows the build-side membership convention
    * (upper-inclusive, first bin closed at both ends) so a literal lying
    * exactly on a shared edge is attributed to ONE bin, not both
    * neighbors; degenerate (spike) bins own their value outright — a
    * heavy value's mass spans several percentile-equal bins and each
    * carries `height` rows of it by the equi-height construction. */
  private def selEq(h: ColHistogram, v: Double): Double = {
    val total = h.height * h.bins.length
    if (total <= 0) return 1.0
    val rows = h.bins.zipWithIndex.map { case ((lo, hi, ndv), b) =>
      val owns =
        if (lo == hi) v == lo
        else if (b == 0) v >= lo && v <= hi
        else v > lo && v <= hi
      if (owns) h.height / math.max(ndv, 1L).toDouble else 0.0
    }.sum
    math.min(1.0, rows / total)
  }

  private def selOf(e: Expression,
      stats: Map[String, TableColStat]): Option[Double] = e match {
    case And(l, r) =>
      val (sl, sr) = (selOf(l, stats), selOf(r, stats))
      if (sl.isEmpty && sr.isEmpty) None
      else Some(sl.getOrElse(1.0) * sr.getOrElse(1.0))
    case Or(l, r) => for { a <- selOf(l, stats); b <- selOf(r, stats) }
      yield math.min(1.0, a + b)
    case EqualTo(a: AttributeReference, l: Literal) => eqSel(stats, a.name, l)
    case EqualTo(l: Literal, a: AttributeReference) => eqSel(stats, a.name, l)
    case EqualNullSafe(a: AttributeReference, l: Literal)
        if l.value != null => eqSel(stats, a.name, l)
    case EqualNullSafe(l: Literal, a: AttributeReference)
        if l.value != null => eqSel(stats, a.name, l)
    case GreaterThan(a: AttributeReference, l: Literal) =>
      rangeSel(stats, a.name, l)(v => (Some(v), false, None, false))
    case GreaterThan(l: Literal, a: AttributeReference) =>
      rangeSel(stats, a.name, l)(v => (None, false, Some(v), false))
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      rangeSel(stats, a.name, l)(v => (Some(v), true, None, false))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      rangeSel(stats, a.name, l)(v => (None, false, Some(v), true))
    case LessThan(a: AttributeReference, l: Literal) =>
      rangeSel(stats, a.name, l)(v => (None, false, Some(v), false))
    case LessThan(l: Literal, a: AttributeReference) =>
      rangeSel(stats, a.name, l)(v => (Some(v), false, None, false))
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      rangeSel(stats, a.name, l)(v => (None, false, Some(v), true))
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      rangeSel(stats, a.name, l)(v => (Some(v), true, None, false))
    case In(a: AttributeReference, vs) if vs.nonEmpty &&
        vs.forall(_.isInstanceOf[Literal]) =>
      // repeated literals match the same rows once — dedupe before summing
      val sels = vs.map(_.asInstanceOf[Literal]).distinct
        .map(v => eqSel(stats, a.name, v))
      if (sels.exists(_.isEmpty)) None
      else Some(math.min(1.0, sels.flatten.sum))
    case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
      val sels = hset.toSeq.map(v =>
        eqSel(stats, a.name, Literal(v, a.dataType)))
      if (sels.exists(_.isEmpty)) None
      else Some(math.min(1.0, sels.flatten.sum))
    case _ => None
  }

  // A ZERO histogram selectivity is "no evidence", not a fact: the stats
  // may be up to GraftStore.StatsMaxStaleFraction stale, and rows inserted after
  // ANALYZE can live beyond the analyzed domain (or in a gap) — letting a
  // stale zero collapse the estimate to 1 row would override the
  // always-current zone-map bound and broadcast a huge scan side. Zones
  // keep the floor; the histogram only ever TIGHTENS with positive mass.
  private def eqSel(stats: Map[String, TableColStat], col: String,
      l: Literal): Option[Double] =
    (for { h <- histOf(stats, col); v <- litToDouble(l) }
      yield selEq(h, v)).filter(_ > 0.0)

  private def rangeSel(stats: Map[String, TableColStat], col: String,
      l: Literal)(bounds: Double =>
      (Option[Double], Boolean, Option[Double], Boolean)): Option[Double] =
    (for { h <- histOf(stats, col); v <- litToDouble(l) } yield {
      val (lo, loInc, hi, hiInc) = bounds(v)
      selRange(h, lo, loInc, hi, hiInc)
    }).filter(_ > 0.0)

  private def normZero(d: Double): Double = if (d == 0.0d) 0.0d else d

  /** Smallest byte string strictly greater than every string with prefix
    * `p` (unsigned byte order): strip trailing 0xFF bytes, bump the last
    * remaining one. None when p is all-0xFF (no upper bound exists). */
  private def nextPrefix(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Literal value normalized into a stats domain, or None (no decision).
    * Catalyst internal reprs: integral families + date(days int) +
    * timestamp(micros long) → Long; float/double → Double; UTF8String →
    * String; Boolean as-is. */
  private def normalize(l: Literal): Option[(String, Any)] = l.value match {
    case null => None
    case v: java.lang.Byte => Some((KindLong, v.longValue()))
    case v: java.lang.Short => Some((KindLong, v.longValue()))
    case v: java.lang.Integer => Some((KindLong, v.longValue()))
    case v: java.lang.Long => Some((KindLong, v.longValue()))
    case v: java.lang.Float => Some((KindDouble, normZero(v.doubleValue())))
    case v: java.lang.Double => Some((KindDouble, normZero(v.doubleValue())))
    case v: UTF8String => Some((KindString, v.toString))
    case v: java.lang.Boolean => Some((KindBool, v.booleanValue()))
    case _ => None
  }

  /** Lift a stats endpoint into the literal's comparison domain (widened
    * columns: int stats vs long literals — both normalize to Long). */
  private def statVal(kind: String, v: Any): Any = kind match {
    case KindLong => v.asInstanceOf[Long]
    case _ => v
  }

  /** `col = lit` provably matches nothing in this file. */
  private def noEq(stats: FileStats, col: String, l: Literal): Boolean =
    noCmp(stats, col, l)((mn, mx, v, ord) => ord.lt(v, mn) || ord.gt(v, mx))

  private def noCmp(stats: FileStats, col: String, l: Literal)(
      empty: (Any, Any, Any, Ordering[Any]) => Boolean): Boolean =
    stats.get(col).exists { cs =>
      // every row null → no comparison can match
      if (cs.nullCount >= 0 && cs.rowCount >= 0 && cs.nullCount == cs.rowCount)
        true
      else normalize(l) match {
        case Some((kind, v)) if kind == cs.kind =>
          (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) =>
              empty(statVal(kind, mn), statVal(kind, mx), v, ordering(kind))
            case _ => false
          }
        case _ => false
      }
    }
}
