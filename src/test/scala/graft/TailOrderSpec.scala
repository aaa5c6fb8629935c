package graft

import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.KinesisClientRegistry

/** graft-tail → graft-kinesis over skewed growing files: packed ranges
  * deliver every line once, each partition key in file order, with at
  * most one task per core per trigger.
  */
class TailOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("24 skewed files over two growth rounds: exact delivery, per-key file order, ≤ 4 tasks") {
    val captured = new ConcurrentLinkedQueue[KinesisRecord]()
    KinesisClientRegistry.register("tail-order-capture", () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
        records.foreach(captured.add)
        PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
      }
    })
    // (query id, task count) of every streaming stage
    val stages = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => stages.add(id -> e.stageInfo.numTasks))
    }
    spark.sparkContext.addSparkListener(listener)
    val root = Files.createTempDirectory("graft-tail-order")
    val ckpt = Files.createTempDirectory("graft-tail-order-ckpt").toString
    val q = spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log").load()
      .selectExpr("CAST(value AS BINARY) AS data", "path AS partition_key")
      .writeStream.format("graft-kinesis")
      .option("client", "tail-order-capture")
      .option("checkpointLocation", ckpt)
      .start()

    // Zipf(1.1) line counts; every line names its file and its number
    val files = (0 until 24).map(i => root.resolve(f"svc-$i%02d.log"))
    val written = mutable.Map[Path, Int]().withDefaultValue(0)
    def grow(total: Int): Unit = files.zipWithIndex.foreach { case (f, i) =>
      val n = math.max(1, math.round(total / math.pow(i + 1, 1.1)).toInt)
      val from = written(f)
      Files.writeString(f,
        (from until from + n).map(k => s"$i:$k:" + "x" * (k % 37)).mkString("", "\n", "\n"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      written(f) = from + n
    }
    try {
      grow(3000)
      q.processAllAvailable()
      grow(2000)
      q.processAllAvailable()
    } finally q.stop()

    val got = captured.asScala.toSeq.map(r => r.partitionKey -> new String(r.data, "UTF-8"))
    val want = files.flatMap { f =>
      Files.readAllLines(f).asScala.map(f.toString -> _)
    }
    assert(got.size === want.size)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
      want.groupBy(identity).view.mapValues(_.size).toMap)
    got.groupBy(_._1).foreach { case (key, recs) =>
      val nums = recs.map(_._2.split(':')(1).toInt)
      assert(nums === nums.indices, s"$key delivered out of file order")
    }

    val triggers = q.recentProgress.count(_.numInputRows > 0)
    assert(triggers >= 2)
    def counts = stages.asScala.collect { case (id, n) if id == q.id.toString => n }.toSeq
    val deadline = System.currentTimeMillis() + 10000
    while (counts.size < triggers && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    assert(counts.size >= triggers)
    assert(counts.forall(_ <= 4), s"tasks per trigger stage: $counts")
  }
}
