package graft

import graft.functions.ProtoWire
import graft.pipeline.{EnvelopePipeline => EP, KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.{KinesisClientRegistry, KinesisWriteSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

class EnvelopePipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(): Path = {
    // FIXTURES.md §A.1 layout: nested dirs, non-matching file, unterminated tail
    val root = Files.createTempDirectory("graft-watch")
    Files.writeString(root.resolve("a.log"), "l1\nl2\n")
    Files.createDirectories(root.resolve("sub/deep"))
    Files.writeString(root.resolve("sub/deep/b.log"), "x\ny") // unterminated final line
    Files.writeString(root.resolve("sub/notlog.txt"), "nope\n")
    root
  }

  test("watch pattern parses on the FIRST /**/ only (main.go:402 semantics)") {
    assert(EP.parseWatchPattern("/var/log/**/*.log") === Some(("/var/log", "*.log")))
    assert(EP.parseWatchPattern("/a/**/b/**/c.log") === Some(("/a", "b/**/c.log")))
    assert(EP.parseWatchPattern("") === None) // engine validates instead of tailing ""
    assert(EP.parseWatchPattern("/var/log/x.log") === None) // no /**/ → invalid dir pattern
  }

  test("recursive watch matches basenames only, at any depth") {
    val root = writeFixture()
    val df = EP.batchWatch(spark, s"$root/**/*.log", "test-origin").get
    val rows = df.collect()
    assert(rows.length === 4) // l1, l2, x, y — notlog.txt excluded
    val sources = rows.map(_.getAs[String]("source_instance")).distinct.sorted
    assert(sources.exists(_.endsWith("a.log")) && sources.exists(_.endsWith("b.log")))
    assert(!sources.exists(_.endsWith("notlog.txt")))
  }

  test("P2 projection: constants, partition key = source path, newline re-appended") {
    val root = writeFixture()
    val df = EP.batchWatch(spark, s"$root/**/*.log", "inst-1").get
    val rows = df.collect()
    rows.foreach { row =>
      assert(row.getAs[String]("origin") === "inst-1")
      assert(row.getAs[String]("event_type") === "LogMessage")
      assert(row.getAs[String]("message_type") === "OUT")
      assert(row.getAs[String]("source_type") === "bosh")
      assert(row.getAs[String]("partition_key") === row.getAs[String]("source_instance"))
      val msg = new String(row.getAs[Array[Byte]]("message"), "UTF-8")
      assert(msg.endsWith("\n")) // known delta: EOF-partial lines also get \n (SURVEY §7 risk b)
      assert(row.getAs[Long]("ingest_ns") > 1000000000000000000L)
    }
    val payloads = rows.map(r2 => new String(r2.getAs[Array[Byte]]("message"), "UTF-8")).sorted
    assert(payloads === Seq("l1\n", "l2\n", "x\n", "y\n"))
  }

  test("end-to-end: files → envelopes → wire bytes → fake sink via Spark") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val root = writeFixture()
    val serialized = EP.batch(spark,
      Seq(root.resolve("a.log").toString, root.resolve("sub/deep/b.log").toString),
      origin = "e2e")
    val captured = new ConcurrentLinkedQueue[KinesisRecord]()
    KinesisClientRegistry.register("envelope-e2e", () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
        records.foreach(captured.add)
        PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
      }
    })
    val rows = serialized.collect()
    val in = MemoryStream[(Array[Byte], String)]
    val q = in.toDF().toDF("data", "partition_key")
      .writeStream.format("graft-kinesis")
      .option("client", "envelope-e2e")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-envelope-e2e").toString)
      .start()
    try {
      in.addData(rows.toSeq: _*)
      q.processAllAvailable()
      val sink = q.lastProgress.sink.metrics
      assert(sink.get(KinesisWriteSink.SentMetric) === "4")
      assert(sink.get(KinesisWriteSink.DroppedMetric) === "0")
    } finally q.stop()
    // the delivered bytes are exactly the batch's, and decode back to
    // valid envelopes keyed by their source path
    val delivered = captured.toArray(Array.empty[KinesisRecord]).toSeq
    assert(delivered.length === 4)
    def wire(bytes: Array[Byte], key: String) =
      (bytes.map("%02x".format(_)).mkString, key)
    assert(delivered.map(r => wire(r.data, r.partitionKey)).sorted ===
      rows.map { case (b, k) => wire(b, k) }.toSeq.sorted)
    val decoded = delivered.map { r =>
      val env = ProtoWire.decode(r.data)
      assert(env.eventType === "LogMessage")
      assert(env.logMessage.get.source_instance === r.partitionKey)
      env
    }
    assert(decoded.length === 4)
  }
}
