package graft

import graft.functions.ProtoWire
import graft.pipeline.{EnvelopePipeline => EP, KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.{KinesisClientRegistry, KinesisWriteSink}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** The forwarding job: graft-tail → `EnvelopePipeline.forward` → wire
  * bytes keyed by the source file's path.
  */
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

  /** graft-tail over `root/**/*.log`, the unterminated `y` emitted too. */
  private def tail(root: Path): DataFrame =
    spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log")
      .option("emitEofPartial", "true").load()

  /** The (path, message) multiset the fixture must forward: every line
    * of both .log files plus `\n`, keyed by its own file's path. */
  private def expected(root: Path): Seq[(String, String)] = {
    val a = root.resolve("a.log").toString
    val b = root.resolve("sub/deep/b.log").toString
    Seq((a, "l1\n"), (a, "l2\n"), (b, "x\n"), (b, "y\n")).sorted
  }

  private def ckpt(): String = Files.createTempDirectory("graft-forward-ckpt").toString

  test("watch pattern parses on the FIRST /**/ only (main.go:402 semantics)") {
    assert(EP.parseWatchPattern("/var/log/**/*.log") === Some(("/var/log", "*.log")))
    assert(EP.parseWatchPattern("/a/**/b/**/c.log") === Some(("/a", "b/**/c.log")))
    assert(EP.parseWatchPattern("") === None) // engine validates instead of tailing ""
    assert(EP.parseWatchPattern("/var/log/x.log") === None) // no /**/ → invalid dir pattern
  }

  test("P2 projection: constants, partition key = source path, newline re-appended") {
    val root = writeFixture()
    val q = EP.forward(tail(root), "inst-1")
      .writeStream.format("memory").queryName("forward_p2")
      .option("checkpointLocation", ckpt()).start()
    val rows = try {
      q.processAllAvailable()
      spark.table("forward_p2").collect()
        .map(r => (r.getAs[Array[Byte]]("data"), r.getAs[String]("partition_key")))
    } finally q.stop()
    val decoded = rows.toSeq.map { case (data, key) =>
      val env = ProtoWire.decode(data)
      val log = env.logMessage.get
      assert(key.nonEmpty) // Kinesis accepts partition keys of 1–256 characters
      assert(log.source_instance === key)
      assert(env.origin === "inst-1")
      assert(env.eventType === "LogMessage")
      assert(log.message_type === "OUT")
      assert(log.source_type === "bosh")
      assert(log.timestamp > 1000000000000000000L)
      (key, new String(log.message, UTF_8))
    }
    // notlog.txt excluded; every line keyed by the file it came from
    assert(decoded.sorted === expected(root))
  }

  test("end-to-end: files → envelopes → wire bytes → fake sink via Spark") {
    val root = writeFixture()
    val captured = new ConcurrentLinkedQueue[KinesisRecord]()
    KinesisClientRegistry.register("envelope-e2e", () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
        records.foreach(captured.add)
        PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
      }
    })
    val q = EP.forward(tail(root), "e2e")
      .writeStream.format("graft-kinesis")
      .option("client", "envelope-e2e")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      q.processAllAvailable()
      val sink = q.lastProgress.sink.metrics
      assert(sink.get(KinesisWriteSink.SentMetric) === "4")
      assert(sink.get(KinesisWriteSink.DroppedMetric) === "0")
    } finally q.stop()
    // the delivered records decode back to envelopes keyed by their path
    val delivered = captured.toArray(Array.empty[KinesisRecord]).toSeq
    val decoded = delivered.map { r =>
      val env = ProtoWire.decode(r.data)
      assert(env.origin === "e2e")
      assert(env.eventType === "LogMessage")
      assert(env.logMessage.get.source_instance === r.partitionKey)
      (r.partitionKey, new String(env.logMessage.get.message, UTF_8))
    }
    assert(decoded.sorted === expected(root))
  }
}
