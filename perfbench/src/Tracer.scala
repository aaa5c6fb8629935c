package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.TailOffset

/** The traced run's recorder. It listens through Spark's public listener
  * APIs only (SparkListener, QueryExecutionListener,
  * StreamingQueryListener); the harness adds its own spans (stand-in
  * calls, rounds, the single-thread replay). Everything stays in memory
  * until [[write]] puts it out as JSON lines. Nothing is registered until
  * the first [[record]]`(true)`, so untraced runs have no listener at all;
  * after that, `record(false)` makes the listeners drop what they see, so
  * a traced run can alternate traced and untraced passes.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobStarts = TrieMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[JobSpan]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QuerySpan]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val extra = mutable.ArrayBuffer[String]()
  private var attached = false
  @volatile private var on = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach(t => jobs.add(JobSpan(e.jobId, t, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val s = e.stageInfo
      stages.add(StageRec(s.stageId, s.attemptNumber(), s.numTasks,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (on && m != null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) queries.add(QuerySpan(funcName, System.currentTimeMillis(), durationNs,
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) progress.add(e.progress)
  }

  /** Starts (true) or pauses (false) recording; events posted while
    * paused are dropped once they reach the listeners.
    */
  def record(enable: Boolean): Unit = {
    if (enable && !attached) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      attached = true
    }
    if (attached) settle()
    on = enable
  }

  /** Waits until every event posted so far has reached the listeners. */
  def settle(): Unit = PerfBenchBridge.waitForListeners(spark.sparkContext)

  def span(json: String): Unit = synchronized { extra += json }

  /** Catalyst, scheduler, exchange, scan and exec layers, per `units`
    * (passes, rounds or windows). `work` are the wall intervals (epoch
    * ms) the workload was busy; time inside them covered by no job is
    * driver-side time (planning, listing, commits).
    */
  def sparkLayers(res: PerfBench.Result, units: Double,
      work: Seq[(Long, Long)]): Unit = {
    settle()
    val ts = tasks.asScala.toSeq
    val js = jobs.asScala.toSeq
    val qs = queries.asScala.toSeq
    val m = res.metrics
    for (ph <- Seq("analysis", "optimization", "planning"))
      m(s"catalyst.${ph}_ms") = qs.map(_.phases.getOrElse(ph, 0L)).sum / units
    m("scheduler.jobs") = js.size / units
    m("scheduler.stages") = stages.size / units
    m("scheduler.tasks") = ts.size / units
    val total = work.map { case (a, b) => (b - a).toDouble }.sum
    val covered = work.map { case (a, b) =>
      coveredMs(js.map(j => (math.max(a, j.startMs), math.min(b, j.endMs))))
    }.sum
    m("driver.outside_jobs_frac") = if (total > 0) 1.0 - covered / total else 0.0
    m("exchange.shuffle_write_mb") = ts.map(_.shWBytes).sum / Mb / units
    m("exchange.shuffle_read_mb") = ts.map(_.shRBytes).sum / Mb / units
    m("exchange.shuffle_records") = ts.map(_.shWRecs).sum / units
    m("exchange.spill_mb") = ts.map(_.spillBytes).sum / Mb / units
    val skews = ts.groupBy(_.stage).values.filter(g => g.size >= 2 && g.exists(_.shRBytes > 0))
      .map { g =>
        val med = Stats.median(g.map(_.shRBytes.toDouble))
        if (med > 0) g.map(_.shRBytes).max / med else 0.0
      }
    m("exchange.skew_max_over_median") = if (skews.isEmpty) 0.0 else skews.max
    m("scan.input_mb") = ts.map(_.inBytes).sum / Mb / units
    m("scan.input_rows") = ts.map(_.inRecs).sum / units
    m("exec.task_run_s") = ts.map(_.runMs).sum / 1e3 / units
    m("exec.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9 / units
    m("exec.gc_s") = ts.map(_.gcMs).sum / 1e3 / units
    m("exec.busy_frac") = if (total > 0) ts.map(_.runMs).sum / (cores * total) else 0.0
  }

  /** Micro-batch and tail-source layers from the per-trigger progress. */
  def streamLayers(res: PerfBench.Result, units: Double): Unit = {
    settle()
    val ps = progress.asScala.toSeq
    val m = res.metrics
    def dur(k: String): Double = Stats.medianOr0(ps.flatMap(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue)))
    m("microbatch.triggers") = ps.size / units
    m("microbatch.trigger_ms_p50") = dur("triggerExecution")
    m("microbatch.plan_ms_p50") = dur("queryPlanning")
    m("microbatch.add_batch_ms_p50") = dur("addBatch")
    m("microbatch.wal_ms_p50") = dur("walCommit")
    m("microbatch.commit_ms_p50") = dur("commitOffsets")
    m("tail.latest_offset_ms_p50") = dur("latestOffset")
    m("tail.rows_per_trigger_p50") = Stats.medianOr0(ps.map(_.numInputRows.toDouble))
    m("tail.lag_bytes_max") = (0.0 +: ps.flatMap(lagBytes)).max
    val byStage = tasks.asScala.toSeq.groupBy(_.stage).values.toSeq
    m("tail.tasks_per_trigger_p50") = Stats.medianOr0(byStage.map(_.size.toDouble))
    m("tail.straggler_ratio") = Stats.medianOr0(byStage.filter(_.size >= 2).map { g =>
      val d = g.map(t => (t.finishMs - t.launchMs).toDouble)
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    })
  }

  /** Bytes on disk the source had not yet admitted when a trigger ended. */
  private def lagBytes(p: StreamingQueryProgress): Option[Double] =
    p.sources.headOption.flatMap { s =>
      for (latest <- Option(s.latestOffset); end <- Option(s.endOffset)) yield {
        val l = TailOffset.fromJson(latest).offsets
        val e = TailOffset.fromJson(end).offsets
        l.map { case (f, size) => math.max(0L, size - e.getOrElse(f, 0L)) }.sum.toDouble
      }
    }

  /** Spans and counts as JSON lines, then the per-layer metrics. */
  def write(path: String, res: PerfBench.Result): Unit = {
    settle()
    val lines = mutable.ArrayBuffer[String]()
    jobs.asScala.foreach(j => lines += Json.obj("kind" -> "job", "id" -> j.id,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs))
    stages.asScala.foreach(s => lines += Json.obj("kind" -> "stage", "id" -> s.id,
      "attempt" -> s.attempt, "tasks" -> s.numTasks, "start_ms" -> s.submitMs,
      "end_ms" -> s.doneMs))
    tasks.asScala.foreach(t => lines += Json.obj("kind" -> "task", "stage" -> t.stage,
      "start_ms" -> t.launchMs, "end_ms" -> t.finishMs, "run_ms" -> t.runMs,
      "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs, "input_b" -> t.inBytes, "input_rec" -> t.inRecs,
      "shuffle_write_b" -> t.shWBytes, "shuffle_write_rec" -> t.shWRecs,
      "shuffle_read_b" -> t.shRBytes, "spill_b" -> t.spillBytes))
    queries.asScala.foreach(q => lines += Json.obj("kind" -> "query", "func" -> q.func,
      "end_ms" -> q.endMs, "duration_ns" -> q.durNs,
      "phases" -> Json.Raw(Json.obj(q.phases.toSeq: _*))))
    progress.asScala.foreach(p => lines += Json.obj("kind" -> "trigger",
      "progress" -> Json.Raw(p.json)))
    synchronized(lines ++= extra)
    lines += Json.obj("kind" -> "metrics",
      "metrics" -> Json.Raw(Json.obj(res.metrics.toSeq: _*)))
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  private val Mb = 1024.0 * 1024.0

  final case class JobSpan(id: Int, startMs: Long, endMs: Long)
  final case class StageRec(
      id: Int, attempt: Int, numTasks: Int, submitMs: Long, doneMs: Long)
  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecs: Long, shWBytes: Long,
      shWRecs: Long, shRBytes: Long, spillBytes: Long)
  final case class QuerySpan(
      func: String, endMs: Long, durNs: Long, phases: Map[String, Long])

  /** Length of the union of intervals (empty ones ignored). */
  def coveredMs(intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered.toDouble
  }
}
