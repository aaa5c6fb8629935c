package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Bench, SparkEntry}

/** Where a catalog query's time went: Bench's session and passes
  * (`Bench.runOnce`) under one [[Profile.Recorder]]. Prints a line per
  * pass (wall, jobs, stages, tasks, Catalyst phases, time inside jobs vs.
  * on the driver outside them, memo-build flag), a warm min/median row
  * per query over the passes that built no memo, and for the last pass
  * every job and the totals per call site, and each streaming trigger's
  * `durationMs` and state operators. Each action of the last pass has its
  * plan written to `target/profile/<query>/NNN-<action>.txt`.
  *
  *   SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 sbt "runMain graft.tools.Profile q177 q109"
  *
  * Arguments are query names or name prefixes (none = the whole catalog);
  * the knobs are Bench's, and conf experiments use `-Dspark.*` properties.
  */
object Profile {
  final case class Job(id: Int, site: String, startMs: Long, endMs: Long) {
    def sec: Double = (endMs - startMs) / 1e3
  }

  /** One pass of one query as the listeners saw it; `phasesMs` sums
    * Catalyst's phase times over the pass's actions, `actions` holds
    * their names in order, `inJobsSec` is the union of job spans. */
  final case class Pass(sec: Double, built: Boolean, jobs: Seq[Job],
      stages: Int, tasks: Int, phasesMs: Map[String, Long],
      actions: Seq[String], triggers: Seq[String], inJobsSec: Double) {
    def driverSec: Double = math.max(0.0, sec - inJobsSec)
  }

  /** Registers a SparkListener, a QueryExecutionListener and a
    * StreamingQueryListener on `spark` until [[detach]]. */
  final class Recorder(spark: SparkSession) {
    private val lock = new Object
    private val execSite = mutable.Map.empty[String, String]
    private val started = mutable.Map.empty[Int, (Long, String)]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val phases = mutable.Map.empty[String, Long]
    private val actions, triggers = mutable.ArrayBuffer.empty[String]
    private var (stages, tasks, planDir) = (0, 0, Option.empty[Path])

    private val jobListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          lock.synchronized { execSite(x.executionId.toString) = x.description }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        // a job of a SQL action (AQE stages run on a pool thread) takes
        // the action's call site; other jobs their result stage's name
        // (the result stage is created last, so it has the highest id)
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(execSite.get)
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .map(_.takeWhile(_ != '\n')).getOrElse("?")
        started(e.jobId) = (e.time, site)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        started.remove(e.jobId).foreach { case (t0, site) =>
          jobs += Job(e.jobId, site, t0, e.time) }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        lock.synchronized { stages += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized { tasks += 1 }
    }

    private val actionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = action(f, qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = action(f, qe)
    }

    private def action(f: String, qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (k, p) =>
        phases(k) = phases.getOrElse(k, 0L) + p.durationMs }
      planDir.foreach { dir =>
        val plan = Try(qe.explainString(ExplainMode.fromString("formatted")))
          .getOrElse("") + Try("\n== Executed plan ==\n" + qe.executedPlan).getOrElse("")
        Files.write(dir.resolve(f"${actions.size}%03d-$f.txt"), plan.getBytes(UTF_8))
      }
      actions += f
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        val state = p.stateOperators.map(o => s"; state ${o.operatorName} rows=" +
          s"${o.numRowsTotal} updated=${o.numRowsUpdated} commitMs=${o.commitTimeMs} " +
          s"memBytes=${o.memoryUsedBytes}")
        lock.synchronized { triggers += s"${Option(p.name).getOrElse(p.id)} batch " +
          s"${p.batchId} rows=${p.numInputRows} ${ms.mkString(" ")}${state.mkString}" }
      }
    }

    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    spark.streams.addListener(streamListener)

    /** Runs one pass (`run` returns Bench.runOnce's (seconds, built)) and
      * returns what the listeners saw; with `plans`, every action's plan
      * is written there (the directory is emptied first). */
    def record(plans: Option[Path])(run: => (Double, Boolean)): Pass = {
      GraftBridge.waitForListeners(spark) // earlier work stays out
      plans.foreach(d => scala.util.Using.resource(Files.list(Files.createDirectories(d)))(
        _.iterator.asScala.foreach(Files.delete)))
      lock.synchronized {
        Seq(execSite, started, phases).foreach(_.clear())
        Seq(jobs, actions, triggers).foreach(_.clear())
        stages = 0; tasks = 0; planDir = plans
      }
      val t0 = System.currentTimeMillis()
      val (sec, built) = run
      val t1 = System.currentTimeMillis()
      GraftBridge.waitForListeners(spark)
      lock.synchronized {
        planDir = None
        // union of the job spans inside the pass window
        var (inJobs, end) = (0L, Long.MinValue)
        jobs.map(j => (j.startMs max t0, j.endMs min t1)).filter(s => s._2 > s._1)
          .sortBy(_._1).foreach { case (s, e) =>
            if (e > end) { inJobs += e - math.max(s, end); end = e } }
        Pass(sec, built, jobs.sortBy(_.id).toSeq, stages, tasks, phases.toMap,
          actions.toSeq, triggers.toSeq, inJobs / 1e3)
      }
    }

    def detach(): Unit = {
      GraftBridge.waitForListeners(spark)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(actionListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** `passes` passes of each query through `Bench.runOnce`; the last
    * pass of each query writes its plans under `planRoot/<query>/`. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String],
      passes: Int, planRoot: Path,
      ledger: mutable.Buffer[(String, String, Double)]): Seq[(String, Seq[Pass])] = {
    val rec = new Recorder(spark)
    try names.map(n => n -> (1 to passes).map(i => rec.record(
      Option.when(i == passes)(planRoot.resolve(n)))(Bench.runOnce(spark, sfDir, n, ledger))))
    finally rec.detach()
  }

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def counts(p: Pass): String = s"jobs ${p.jobs.size} stages ${p.stages} " +
    s"tasks ${p.tasks} | ${Seq("analysis", "optimization", "planning").map(k =>
      s"$k ${p.phasesMs.getOrElse(k, 0L)}").mkString(" ")} ms | in-jobs " +
    s"${f3(p.inJobsSec)} s, driver outside jobs ${f3(p.driverSec)} s"

  private def report(name: String, passes: Seq[Pass], planDir: Path): Unit = {
    def say(line: String): Unit = println(s"[profile] $name $line")
    passes.zipWithIndex.foreach { case (p, i) =>
      say(s"pass $i ${f3(p.sec)} s ${if (p.built) "MEMO-BUILD " else ""}| ${counts(p)}") }
    val warm = passes.filter(p => !p.built && p.sec >= 0).map(_.sec).sorted
    val (min, med) = warm.headOption.fold(("-", "-"))(h => (f3(h), f3(warm(warm.size / 2))))
    val last = passes.last
    say(s"warm-min $min s median $med s over ${warm.size} of ${passes.size} passes " +
      s"(${passes.count(_.built)} memo builds) | last pass: ${counts(last)}")
    last.jobs.foreach(j => say(f"job ${j.id}%5d ${f3(j.sec)}%8s s  ${j.site}"))
    last.jobs.groupBy(_.site).toSeq.map { case (site, js) => (site, js.size, js.map(_.sec).sum) }
      .sortBy(-_._3).foreach { case (site, n, s) =>
        say(f"site ${f3(s)}%8s s over $n%4d jobs  $site") }
    last.triggers.foreach(t => say(s"trigger $t"))
    say(s"plans of ${last.actions.size} actions in $planDir")
  }

  def main(args: Array[String]): Unit = {
    val names = SparkEntry.allDefs.map(_.name)
      .filter(n => args.isEmpty || args.exists(n.startsWith))
    require(names.nonEmpty, s"no catalog query matches ${args.mkString(" ")}")
    val ((sfDir, cpus, passes), root) = (Bench.knobs, Paths.get("target", "profile"))
    val spark = Bench.session(cpus)
    val ledger = mutable.ArrayBuffer.empty[(String, String, Double)]
    Bench.runOnce(spark, sfDir, names.head, ledger) // warm-up, as in Bench
    profile(spark, sfDir, names, passes, root, ledger)
      .foreach { case (n, ps) => report(n, ps, root.resolve(n)) }
    ledger.foreach { case (q, k, s) => println(s"[profile] $q memo build $k ${f3(s)} s") }
    spark.stop()
  }
}
