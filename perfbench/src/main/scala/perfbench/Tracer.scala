package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer instrumentation of a traced pass, built only from Spark's
  * public listener APIs: a [[SparkListener]] for jobs, stages and task
  * metrics, a [[QueryExecutionListener]] for the planning tracker's
  * phases, and a [[StreamingQueryListener]] for per-trigger progress.
  * Nothing inside the library is instrumented.
  *
  * Jobs are attributed to the client's ops by the local property
  * [[Tracer.TagKey]], which the workload sets on its client thread around
  * each op; jobs of a streaming query carry Spark's own query-id property
  * and are tagged `stream`. Planning phases carry absolute start times and
  * are attributed to the op window they start in. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Sums {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, fetchWaitMs = 0L
    var inputBytes, inputRecords, outputBytes = 0L
  }

  private val sums = new ConcurrentHashMap[String, Sums]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  /** (tag, startMs, endMs) per finished job. */
  val jobs: mutable.ArrayBuffer[(String, Long, Long)] = mutable.ArrayBuffer.empty
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** (startMs, durationMs) per planning-tracker phase. */
  val phases: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] =
    mutable.ArrayBuffer.empty

  private def sumsOf(tag: String): Sums = sums.computeIfAbsent(tag, _ => new Sums)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(TagKey)))
        .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .map(_ => "stream"))
        .getOrElse("other")
      jobStart.put(e.jobId, (tag, e.time))
      e.stageIds.foreach(stageTag.put(_, tag))
      val s = sumsOf(tag)
      s.synchronized { s.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (tag, t0) =>
        jobs.synchronized { jobs += ((tag, t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = sumsOf(stageTag.getOrDefault(e.stageInfo.stageId, "other"))
      s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val s = sumsOf(stageTag.getOrDefault(e.stageId, "other"))
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values.map(p => (p.startTimeMs, p.durationMs))
      phases.synchronized { phases ++= ps }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted event is delivered, then detaches. */
  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def tagSums(tags: String => Boolean): Sums = {
    val out = new Sums
    sums.asScala.foreach { case (t, s) if tags(t) => s.synchronized {
      out.jobs += s.jobs; out.stages += s.stages; out.tasks += s.tasks
      out.runMs += s.runMs; out.cpuNs += s.cpuNs; out.gcMs += s.gcMs
      out.shuffleWrite += s.shuffleWrite; out.fetchWaitMs += s.fetchWaitMs
      out.inputBytes += s.inputBytes; out.inputRecords += s.inputRecords
      out.outputBytes += s.outputBytes
    }
    case _ => () }
    out
  }

  /** Plan time of the op: tracker phases that start inside its window. */
  def planMs(op: Op): Long = phases.synchronized {
    phases.filter { case (s, _) => s >= op.startMs && s <= op.endMs }.map(_._2).sum
  }

  /** Intervals of the jobs that started inside the op's window. */
  def jobIntervals(op: Op): Seq[(Long, Long)] = jobs.synchronized {
    jobs.filter { case (_, s, _) => s >= op.startMs && s <= op.endMs }
      .map { case (_, s, e) => (s, e) }.toSeq
  }

  /** The generic layer metrics every workload reports: plan, exec, commit
    * gap, tasks, shuffle and scan per op, for the ops matching `kinds`.
    * Tags name op kinds, so task sums follow the same filter. */
  def opLayers(log: OpLog, kinds: String => Boolean): Map[String, Double] = {
    val ops = log.ops.filter(o => kinds(o.kind) && o.ok).toSeq
    val n = math.max(1, ops.size).toDouble
    val s = tagSums(kinds)
    val plan = ops.map(planMs).sum
    val jobWall = ops.map(o => Stats.unionLength(jobIntervals(o).map { case (a, b) =>
      (math.max(a, o.startMs), math.min(b, o.endMs)) })).sum
    val gap = ops.map(o => Stats.commitGap(o.startMs, o.endMs, planMs(o), jobIntervals(o))).sum
    Map(
      "plan.ms_per_op" -> plan / n,
      "exec.jobs_per_op" -> s.jobs / n,
      "exec.stages_per_op" -> s.stages / n,
      "exec.tasks_per_op" -> s.tasks / n,
      "exec.job_wall_ms_per_op" -> jobWall / n,
      "commit.gap_ms_per_op" -> gap / n,
      "task.run_ms_per_op" -> s.runMs / n,
      "task.cpu_ms_per_op" -> s.cpuNs / 1e6 / n,
      "shuffle.write_bytes_per_op" -> s.shuffleWrite / n,
      "shuffle.fetch_wait_ms" -> s.fetchWaitMs.toDouble,
      "scan.bytes_per_op" -> s.inputBytes / n)
  }
}

object Tracer {
  val TagKey = "perfbench.tag"

  /** Runs `body` with the client thread's jobs tagged `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Total collection time of the JVM's collectors, ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
