package graft

import graft.functions.{BatchTimestampExpr, ProtoWire}
import graft.pipeline.{EnvelopePipeline => EP, KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.{KinesisClientRegistry, TailOffset}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A streaming projection of `current_timestamp()` compiles once: the
  * session gets graft.GraftExtensions from its ServiceLoader entry alone
  * (TestSpark sets no `spark.sql.extensions`), and its optimizer rule
  * keeps the micro-batch timestamp out of the generated code, while
  * every line still carries its own batch's timestamp.
  */
class BatchTimestampSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Rounds = 6

  /** Appends whole lines to `.log` files under a fresh root and
    * remembers where each line ends, to find the batch that read it. */
  private class Feed {
    val root: Path = Files.createTempDirectory("graft-batch-ts")
    private val sizes = mutable.Map[String, Long]().withDefaultValue(0L)
    /** (path, line) → byte offset just past its `\n`. */
    val lineEnd = mutable.Map[(String, String), Long]()

    def append(file: String, lines: Seq[String]): Unit = {
      val path = root.resolve(file).toString
      lines.foreach { l =>
        sizes(path) += l.getBytes(UTF_8).length + 1
        lineEnd((path, l)) = sizes(path)
      }
      Files.writeString(Paths.get(path), lines.map(_ + "\n").mkString,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    /** Round `r`'s lines, spread over three files. */
    def round(r: Int): Unit =
      (0 until 3).foreach(f => append(s"f$f.log", (1 to 10).map(i => s"r$r-f$f-l$i")))
  }

  /** Batch id → (batchTimestampMs, graft-tail end offsets), read from the
    * checkpoint's `offsets/<n>`: a version line, the batch metadata, then
    * the source's offset. */
  private def offsetLog(ckpt: String): Map[Long, (Long, Map[String, Long])] = {
    val BatchTs = "\"batchTimestampMs\":(\\d+)".r.unanchored
    Files.list(Paths.get(ckpt, "offsets")).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit)).map { f =>
        val lines = Files.readAllLines(f).asScala
        val BatchTs(ms) = lines(1)
        f.getFileName.toString.toLong -> (ms.toLong, TailOffset.fromJson(lines(2)).offsets)
      }.toMap
  }

  /** The batch that read the line ending at `end` in `path`: the first
    * whose end offset for the file covers it. */
  private def batchOf(log: Map[Long, (Long, Map[String, Long])], path: String,
      end: Long): Long =
    log.keys.toSeq.sorted.find(n => log(n)._2.getOrElse(path, 0L) >= end)
      .getOrElse(fail(s"no batch read $path up to $end"))

  private def graftTail(s: SparkSession, feed: Feed): DataFrame =
    s.readStream.format("graft-tail")
      .option("path", feed.root.toString).option("glob", "*.log").load()

  private def ckpt(): String = Files.createTempDirectory("graft-batch-ts-ckpt").toString

  private def lastPlan(q: StreamingQuery) =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution

  private def exprsOf(plan: LogicalPlan): Seq[Expression] =
    plan.collect { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten

  /** Spark's own value for `dataType` in a batch stamped `ms`. */
  private def literalPath(ms: Long, dataType: DataType, tz: String): Any = {
    val lit = CurrentBatchTimestamp(ms, dataType, Some(tz)).toLiteral
    CatalystTypeConverters.createToScalaConverter(dataType)(lit.value)
  }

  for (wholeStage <- Seq(true, false))
    test(s"forward compiles once over $Rounds data triggers and stamps each line with " +
        s"its batch's timestamp (wholeStage=$wholeStage)") {
      assert(!spark.sparkContext.getConf.contains("spark.sql.extensions"))
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      val feed = new Feed
      val captured = new ConcurrentLinkedQueue[KinesisRecord]()
      val client = s"batch-ts-$wholeStage"
      KinesisClientRegistry.register(client, () => new KinesisClient {
        override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
          records.foreach(captured.add)
          PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
        }
      })
      val dir = ckpt()
      val q = EP.forward(graftTail(s, feed), "batch-ts")
        .writeStream.format("graft-kinesis").option("client", client)
        .option("checkpointLocation", dir)
        .trigger(Trigger.ProcessingTime(0)).start()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val (growth, plan) = try {
        feed.round(1)
        q.processAllAvailable()
        val afterFirst = compiles.getCount
        (2 to Rounds).foreach { r => feed.round(r); q.processAllAvailable() }
        (compiles.getCount - afterFirst, lastPlan(q).optimizedPlan)
      } finally q.stop()
      assert(growth === 0L, s"$growth Janino compiles after the first data trigger")
      assert(exprsOf(plan).exists(_.isInstanceOf[BatchTimestampExpr]), plan.treeString)

      val log = offsetLog(dir)
      val batches = captured.asScala.toSeq.map { r =>
        val msg = ProtoWire.decode(r.data).logMessage.get
        val line = new String(msg.message, UTF_8).stripSuffix("\n")
        val n = batchOf(log, r.partitionKey, feed.lineEnd((r.partitionKey, line)))
        assert(msg.timestamp === log(n)._1 * 1000000L, s"line $line of batch $n")
        n
      }
      assert(batches.size === feed.lineEnd.size)
      assert(batches.distinct.size >= 5, s"data triggers: ${batches.distinct.sorted}")
    }

  test("current_date() and localtimestamp() in a streaming projection equal Spark's literals") {
    val s = spark.newSession()
    val tz = "Asia/Kolkata" // +05:30: the date and the local time both depend on it
    s.conf.set("spark.sql.session.timeZone", tz)
    val feed = new Feed
    val dir = ckpt()
    val q = graftTail(s, feed)
      .select(col("value"), col("path"), current_date().as("d"),
        localtimestamp().as("lts"), current_timestamp().as("ts"))
      .writeStream.format("memory").queryName("batch_ts_zones")
      .option("checkpointLocation", dir)
      .trigger(Trigger.ProcessingTime(0)).start()
    val rows = try {
      (1 to 3).foreach { r => feed.round(r); q.processAllAvailable() }
      val plan = lastPlan(q).optimizedPlan
      val stamped = exprsOf(plan).collect { case e: BatchTimestampExpr => e.dataType }
      assert(stamped.sortBy(_.typeName) === Seq(DateType, TimestampType, TimestampNTZType)
        .sortBy(_.typeName), plan.treeString)
      s.table("batch_ts_zones").collect()
    } finally q.stop()
    val log = offsetLog(dir)
    assert(rows.length === feed.lineEnd.size)
    rows.foreach { r =>
      val (line, path) = (r.getAs[String]("value"), r.getAs[String]("path"))
      val ms = log(batchOf(log, path, feed.lineEnd((path, line))))._1
      assert(r.get(2) === literalPath(ms, DateType, tz), line)
      assert(r.get(3) === literalPath(ms, TimestampNTZType, tz), line)
      assert(r.get(4) === literalPath(ms, TimestampType, tz), line)
    }
  }

  test("a streaming Filter on current_timestamp() keeps Spark's literal (plan pin)") {
    val s = spark.newSession()
    val feed = new Feed
    val dir = ckpt()
    val q = graftTail(s, feed)
      .filter(current_timestamp() > lit("2000-01-01 00:00:00").cast("timestamp"))
      .select(col("value"), current_timestamp().as("ts"))
      .writeStream.format("memory").queryName("batch_ts_filter")
      .option("checkpointLocation", dir)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      feed.round(1)
      q.processAllAvailable()
      val execution = lastPlan(q)
      val plan = execution.optimizedPlan
      val batchMicros = offsetLog(dir)(execution.currentBatchId)._1 * 1000L
      val conditions = plan.collect { case f: Filter => f.condition }
      assert(conditions.size === 1, plan.treeString)
      assert(conditions.head.find(_.isInstanceOf[BatchTimestampExpr]).isEmpty, plan.treeString)
      assert(conditions.head.find(_ == Literal(batchMicros, TimestampType)).isDefined,
        plan.treeString)
      assert(plan.collect { case p: Project => p.projectList }.flatten
        .exists(_.find(_.isInstanceOf[BatchTimestampExpr]).isDefined), plan.treeString)
      assert(s.table("batch_ts_filter").count() === feed.lineEnd.size)
    } finally q.stop()
  }
}
