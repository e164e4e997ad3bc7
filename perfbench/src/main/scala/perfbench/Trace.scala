package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

final case class Job(id: Int, group: String, start: Long, var end: Long)

final class Stage(val id: Int, val tasks: Int) {
  var submitted = 0L; var completed = 0L; var maxTaskMs = 0L
}

/** Spark job/stage/task ledger, registered from outside the program. Jobs
  * carry the job group of the thread that submitted them, so work the
  * benchmark runs on its own tagged threads can be attributed to the op
  * or query that caused it. */
final class JobLedger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.Map.empty[(Int, Int), Stage]
  private var taskRunMs, taskCpuNs, gcMs, shuffleBytes, spillBytes,
    inputBytes, taskWallMs = 0L
  private var taskCount = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new Stage(i.stageId, i.numTasks))
    s.submitted = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(
      _.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskCount += 1
    val info = e.taskInfo
    if (info != null) {
      taskWallMs += info.duration
      stages.get((e.stageId, e.stageAttemptId)).foreach(s =>
        s.maxTaskMs = math.max(s.maxTaskMs, info.duration))
    }
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Clears every counter (start of a measured window). */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear()
    taskRunMs = 0; taskCpuNs = 0; gcMs = 0; shuffleBytes = 0; spillBytes = 0
    inputBytes = 0; taskWallMs = 0; taskCount = 0
  }

  /** Waits until every event posted so far has reached the listeners:
    * Spark delivers them on its own thread, after the action returns. */
  def settle(sc: org.apache.spark.SparkContext): Unit = org.apache.spark.PerfbenchShims.drainListeners(sc)

  /** Jobs submitted under `group`. */
  def jobsOf(group: String): Seq[Job] = synchronized(jobs.values.filter(_.group == group).toSeq)

  /** Milliseconds of [t0, t1] during which at least one job of `group` ran. */
  def coveredMs(group: String, t0: Long, t1: Long): Long = {
    val iv = jobsOf(group).map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Execution-layer summary of everything since the last reset. */
  def execSummary(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val done = stages.values.filter(_.completed > 0).toSeq
    val maxTasks = if (done.isEmpty) 0 else done.map(_.tasks).max
    Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> done.size.toDouble,
      "exec.tasks" -> taskCount.toDouble,
      "exec.max_stage_tasks" -> maxTasks.toDouble,
      "exec.single_task_stage_frac" ->
        (if (done.isEmpty) 0.0 else done.count(_.tasks == 1).toDouble / done.size),
      "exec.task_run_s" -> taskRunMs / 1e3,
      "exec.task_cpu_s" -> taskCpuNs / 1e9,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.shuffle_mb" -> shuffleBytes / 1e6,
      "exec.spill_mb" -> spillBytes / 1e6,
      "exec.input_mb" -> inputBytes / 1e6,
      "exec.core_busy_frac" -> (if (wallS <= 0) 0.0 else taskWallMs / 1e3 / (wallS * cores)),
      "exec.stage_overhead_s" ->
        done.map(s => math.max(0L, s.completed - s.submitted - s.maxTaskMs)).sum / 1e3,
    )
  }
}

/** Sums the `durationMs` phases of every streaming micro-batch. */
final class StreamLedger extends StreamingQueryListener {
  private val phases = mutable.Map.empty[String, Long]
  private var batches = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    e.progress.durationMs.forEach((k, v) => phases(k) = phases.getOrElse(k, 0L) + v)
  }
  def reset(): Unit = synchronized { phases.clear(); batches = 0 }
  def summary: Map[String, Double] = synchronized {
    def p(k: String): Double = phases.getOrElse(k, 0L).toDouble
    Map(
      "streaming.batches" -> batches.toDouble,
      "streaming.add_batch_ms" -> p("addBatch"),
      "streaming.query_planning_ms" -> p("queryPlanning"),
      "streaming.wal_commit_ms" -> p("walCommit"),
      "streaming.commit_offsets_ms" -> p("commitOffsets"),
      "streaming.trigger_ms" -> p("triggerExecution"),
    )
  }
}

/** In-memory spans (name, start, end, parent, request id), written out as
  * JSON lines when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[String]
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  /** Records a span and returns its id, for child spans to name as parent. */
  def add(name: String, start: Long, end: Long, parent: Long, req: String): Long = {
    val id = ids.incrementAndGet()
    val line = Main.json.writeValueAsString(Map("id" -> id, "name" -> name, "start_ns" -> start,
      "end_ns" -> end, "parent" -> parent, "req" -> req))
    synchronized(buf += line)
    id
  }
  def write(f: java.io.File): Unit = synchronized {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, buf.mkString("", "\n", "\n"))
  }
}
