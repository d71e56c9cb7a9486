package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

object Recorder {
  /** Local property naming the query run and phase a job belongs to:
    * `<run id>|construct`, `<run id>|catalyst` or `<run id>|exec`. */
  val PhaseKey = "perfbench.phase"

  final class QuerySpan(val id: String, val scratchBefore: (Long, Long))

  /** (`_SUCCESS` markers, total bytes) under the run's staging root. */
  def scratchTree(scratchRoot: String): (Long, Long) = {
    val root = Paths.get(scratchRoot)
    if (!Files.isDirectory(root)) return (0L, 0L)
    var markers, bytes = 0L
    val it = Files.walk(root)
    try it.iterator().asScala.foreach { p =>
      if (Files.isRegularFile(p)) {
        if (p.getFileName.toString == "_SUCCESS") markers += 1
        bytes += (try Files.size(p) catch { case NonFatal(_) => 0L })
      }
    } catch { case NonFatal(_) => () } // a tree that changes under the walk
    finally it.close()
    (markers, bytes)
  }
}

/** Traced-run recorder, built only from public listener APIs.
  *
  *  - a `SparkListener` records every job (with the phase label the
  *    harness set as a local property), stage and per-stage task totals;
  *  - a `StreamingQueryListener` records each micro-batch's
  *    `durationMs` parts, input rows and state-operator sizes, and the
  *    start and end of each streaming query;
  *  - [[beginQuery]]/[[endQuery]] record the harness's own spans
  *    (query → construct / catalyst / exec), the Catalyst phase times
  *    and the `Scratch.runRoot` tree before and after the run.
  *
  * Everything is kept in memory as raw spans sharing the query-run id
  * and returned by [[result]]; `perfbench/run.py` reduces them to self
  * time per layer.
  */
final class Recorder(spark: SparkSession, scratchRoot: String) {
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val tasks = new ConcurrentHashMap[String, TaskTotals]()
  private val streamStarts = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val streamEnds = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val batches = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val queries = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  @volatile private var attached = false

  /** Task metrics summed per stage attempt. */
  final class TaskTotals {
    var tasks, failed = 0L
    var runMs, cpuNs, schedMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, output, inputBytes, inputRows = 0L
    def toMap: java.util.Map[String, Any] = Json.obj(
      "tasks" -> tasks, "failed" -> failed, "run_ms" -> runMs,
      "cpu_ms" -> cpuNs / 1e6, "sched_delay_ms" -> schedMs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "output_bytes" -> output,
      "input_bytes" -> inputBytes, "input_rows" -> inputRows)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.PhaseKey)))
      jobs.add(Json.obj("job" -> e.jobId, "start_ms" -> e.time,
        "label" -> label.orNull, "stage_ids" -> e.stageIds.asJava))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(Json.obj("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "num_tasks" -> s.numTasks,
        "submit_ms" -> s.submissionTime.map(Long.box).orNull,
        "end_ms" -> s.completionTime.map(Long.box).orNull,
        "failed" -> s.failureReason.isDefined))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = tasks.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}", _ => new TaskTotals)
      val info = e.taskInfo
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (info.failed || info.killed) t.failed += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.output += m.outputMetrics.bytesWritten
          t.inputBytes += m.inputMetrics.bytesRead
          t.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarts.add(Json.obj("run_id" -> e.runId.toString, "name" -> e.name,
        "start_ms" -> parseTs(e.timestamp)))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      batches.add(Json.obj("run_id" -> p.runId.toString, "batch" -> p.batchId,
        "start_ms" -> parseTs(p.timestamp),
        "batch_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamEnds.add(Json.obj("run_id" -> e.runId.toString, "end_ms" -> Harness.nowMs()))
  }

  private def parseTs(s: String): Double =
    try java.time.Instant.parse(s).toEpochMilli.toDouble catch { case NonFatal(_) => Double.NaN }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Detach after the bus has delivered every event already posted, so a
    * traced pass loses none of its tail events to the detach. */
  def detach(): Unit = if (attached) {
    org.apache.spark.perfbenchshim.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def beginQuery(id: String): Recorder.QuerySpan =
    new Recorder.QuerySpan(id, Recorder.scratchTree(scratchRoot))

  /** Close a query-run span. `t0..t3` bound construct, catalyst and exec;
    * NaN marks a phase that never ended because the run threw. */
  def endQuery(s: Recorder.QuerySpan, t0: Double, t1: Double, t2: Double, t3: Double,
      end: Double, phases: java.util.Map[String, Any]): Unit = {
    val (m1, b1) = Recorder.scratchTree(scratchRoot)
    def opt(ms: Double): Any = if (ms.isNaN) null else ms
    queries.add(Json.obj("id" -> s.id, "start_ms" -> t0, "construct_end_ms" -> opt(t1),
      "catalyst_end_ms" -> opt(t2), "exec_end_ms" -> opt(t3), "end_ms" -> end,
      "phases" -> phases,
      "scratch_markers_before" -> s.scratchBefore._1, "scratch_markers_after" -> m1,
      "scratch_bytes_before" -> s.scratchBefore._2, "scratch_bytes_after" -> b1))
  }

  def result(): java.util.Map[String, Any] = {
    val jobsOut = jobs.asScala.toSeq.map { j =>
      val m = new java.util.LinkedHashMap[String, Any](j)
      m.put("end_ms", jobEnds.get(j.get("job").asInstanceOf[Int]))
      m: java.util.Map[String, Any]
    }
    val stagesOut = stages.asScala.toSeq.map { s =>
      val m = new java.util.LinkedHashMap[String, Any](s)
      Option(tasks.get(s"${s.get("stage")}.${s.get("attempt")}")).foreach(t => m.putAll(t.toMap))
      m: java.util.Map[String, Any]
    }
    Json.obj("queries" -> queries.asScala.toSeq.asJava, "jobs" -> jobsOut.asJava,
      "stages" -> stagesOut.asJava, "stream_starts" -> streamStarts.asScala.toSeq.asJava,
      "stream_ends" -> streamEnds.asScala.toSeq.asJava,
      "batches" -> batches.asScala.toSeq.asJava)
  }
}
