package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{FakeKinesisClient, KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.{KinesisClientRegistry, KinesisWriteSink}
import graft.streaming.FirehoseMetricsListener

/** The DSv2 StreamingWrite path: MemoryStream → graft-kinesis sink with a
  * registered capturing client (local mode = same JVM, so the static
  * capture is visible to the test).
  */
class KinesisSinkV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming write delivers all records through the producer semantics") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._

    val captured = new ConcurrentLinkedQueue[KinesisRecord]()
    KinesisClientRegistry.register("spec-capture", () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
        records.foreach(captured.add)
        PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
      }
    })

    val in = MemoryStream[(Array[Byte], String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kv2").toString
    val q = in.toDF().toDF("data", "partition_key")
      .writeStream.format("graft-kinesis")
      .option("client", "spec-capture")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData(("a".getBytes, "k1"), ("b".getBytes, "k2"))
      q.processAllAvailable()
      in.addData(("c".getBytes, "k1"))
      q.processAllAvailable()
      assert(captured.size === 3)
      val keys = new scala.collection.mutable.ArrayBuffer[String]
      captured.forEach(r => keys += r.partitionKey)
      assert(keys.sorted === Seq("k1", "k1", "k2"))
    } finally q.stop()
  }

  /** `sent_count` must count records the sink delivered, not source rows,
    * and the K6 per-record failures must reach `errors_count`.
    */
  test("/metrics counters carry the sink's delivered, dropped and error totals") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._

    // the first call fails as a whole; every record whose data starts
    // with 't' is throttled on every attempt
    val firstCall = new java.util.concurrent.atomic.AtomicBoolean(true)
    KinesisClientRegistry.register("spec-throttle", () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult =
        if (firstCall.getAndSet(false)) PutRecordsResult(Some("InternalFailure"), Nil)
        else PutRecordsResult(None, records.map(r =>
          if (r.data.head == 't'.toByte) RecordResult("ProvisionedThroughputExceededException")
          else RecordResult()))
    })

    val listener = new FirehoseMetricsListener("spec", Some("kv2_metrics"))
    spark.streams.addListener(listener)
    val in = MemoryStream[(Array[Byte], String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kv2-metrics").toString
    val q = in.toDF().toDF("data", "partition_key")
      .writeStream.format("graft-kinesis")
      .queryName("kv2_metrics")
      .option("client", "spec-throttle")
      .option("maxAttemptsPerRecord", "2")
      .option("initialBackoffMillis", "1")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData(Seq("a", "t1", "b", "c").map(d => (d.getBytes, "k")): _*)
      q.processAllAvailable()
      in.addData(Seq("t2", "d", "t3", "e", "f", "g").map(d => (d.getBytes, "k")): _*)
      q.processAllAvailable()
      def snap(name: String) = listener.snapshot(s"""firehose_to_kinesis_$name{system="spec"}""")
      val deadline = System.currentTimeMillis() + 10000
      while (snap("sent_count") < 7 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val sink = q.lastProgress.sink.metrics
      assert(sink.get(KinesisWriteSink.SentMetric) === "7")
      assert(sink.get(KinesisWriteSink.DroppedMetric) === "3")
      // 1 failed request + 3 throttled records × 2 attempts
      assert(sink.get(KinesisWriteSink.ErrorsMetric) === "7")
      assert(snap("sent_count") === 7.0) // 10 source rows, 7 delivered
      assert(snap("dropped_count") === 3.0)
      assert(snap("errors_count") === 7.0)
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("unknown client name fails fast with the known names") {
    val e = intercept[Exception] {
      KinesisClientRegistry.factory("nope")
    }
    assert(e.getMessage.contains("no Kinesis client factory"))
  }
}
