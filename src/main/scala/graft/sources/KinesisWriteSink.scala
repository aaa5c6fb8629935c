package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{BatchProducer, KinesisClient, ProducerConfig, PutRecordsResult, RecordResult, KinesisRecord}

/** DSv2 StreamingWrite sink with the reference's producer semantics —
  * the M5.2 upgrade from `foreachBatch` (SURVEY.md §7): each partition
  * task runs a [[BatchProducer]] (K1–K7) and the epoch commit carries the
  * delivery stats. Delivery is at-least-once under task retry, the same
  * semantic class as the reference's requeue-at-back.
  *
  * Delivery totals: each epoch commit adds its tasks' counts to running
  * totals for the query run, which the table reports as the progress's
  * sink metrics (`sentRecords`, `droppedRecords`, `errors`); the
  * reference exports the same counts as `firehose_to_kinesis_{sent,
  * dropped,errors}_count` (main.go:27-47, 147-152), and
  * [[graft.streaming.FirehoseMetricsListener]] does so from the progress.
  *
  * Client injection: DSv2 options are strings, so the sink looks its
  * client factory up by name in [[KinesisClientRegistry]] — production
  * registers an AWS-SDK-backed factory once per JVM; tests register
  * capturing fakes (the same seam as the reference's logProducer,
  * main.go:349-369). The default "accept" client acknowledges everything
  * (the reference's mock behavior).
  *
  * Usage:
  * {{{
  *   serialized  // (data BINARY, partition_key STRING)
  *     .writeStream.format("graft-kinesis")
  *     .option("client", "accept")
  *     .option("checkpointLocation", ...)
  *     .start()
  * }}}
  */
class KinesisTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisWriteSink.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisTable(new CaseInsensitiveStringMap(properties))
}

object KinesisWriteSink {
  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType, nullable = false),
    StructField("partition_key", StringType, nullable = false)))

  /** Sink-metric keys of the running delivery totals. `ErrorsMetric`
    * counts failed PutRecords requests plus failed records of partially
    * successful requests, as the reference's errors count does.
    */
  val SentMetric = "sentRecords"
  val DroppedMetric = "droppedRecords"
  val ErrorsMetric = "errors"
}

/** Name → client-factory registry (JVM-local; executors in a cluster
  * register via their own initialization, e.g. a SparkPlugin).
  */
object KinesisClientRegistry {
  private val factories = TrieMap[String, () => KinesisClient](
    "accept" -> (() => new AcceptAllClient))

  def register(name: String, factory: () => KinesisClient): Unit =
    factories.put(name, factory)

  def factory(name: String): () => KinesisClient =
    factories.getOrElse(name,
      throw new IllegalArgumentException(
        s"no Kinesis client factory registered under '$name' " +
          s"(known: ${factories.keys.mkString(", ")})"))
}

/** Accepts every record (the reference's manual-run mock behavior). */
final class AcceptAllClient extends KinesisClient {
  override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult =
    PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
}

private[sources] class KinesisTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite with ReportsSinkMetrics {
  private val totals = new KinesisTotals
  override def name(): String =
    s"graft-kinesis(${options.getOrDefault("client", "accept")})"
  override def schema(): StructType = KinesisWriteSink.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def metrics(): util.Map[String, String] = totals.asMetrics
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new KinesisStreamingWrite(
            options.getOrDefault("client", "accept"), totals,
            ProducerConfig(
              batchSize = options.getOrDefault("batchSize", "500").toInt,
              bufferSize = options.getOrDefault("bufferSize", "5000").toInt,
              maxAttemptsPerRecord =
                options.getOrDefault("maxAttemptsPerRecord", "5").toInt,
              initialBackoffMillis =
                options.getOrDefault("initialBackoffMillis", "50").toLong,
              // the commit deadline MUST be raisable per sink: a slow but
              // healthy endpoint that needs >30 s per epoch would
              // otherwise livelock on task retry with no knob to turn
              flushTimeoutMillis =
                options.getOrDefault("flushTimeoutMillis", "30000").toLong))
      }
    }
}

private[sources] final case class KinesisCommit(
    sent: Long, dropped: Long, requestErrors: Long, recordErrors: Long)
    extends WriterCommitMessage

/** Running delivery totals of one query run (updated by epoch commits on
  * the driver, read by progress reporting).
  */
private[sources] final class KinesisTotals {
  private val sent, dropped, errors = new AtomicLong

  def add(c: KinesisCommit): Unit = {
    sent.addAndGet(c.sent)
    dropped.addAndGet(c.dropped)
    errors.addAndGet(c.requestErrors + c.recordErrors)
  }

  def asMetrics: util.Map[String, String] = Map(
    KinesisWriteSink.SentMetric -> sent.get.toString,
    KinesisWriteSink.DroppedMetric -> dropped.get.toString,
    KinesisWriteSink.ErrorsMetric -> errors.get.toString).asJava
}

private[sources] class KinesisStreamingWrite(
    clientName: String, totals: KinesisTotals, config: ProducerConfig)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new KinesisWriterFactory(clientName, config)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.collect { case k: KinesisCommit => k }
    commits.foreach(totals.add)
    val dropped = commits.map(_.dropped).sum
    if (dropped > 0) // the reference logs drops too (batchproducer.go:347)
      System.err.println(
        s"[graft-kinesis] epoch $epochId: sent=${commits.map(_.sent).sum} dropped=$dropped")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class KinesisWriterFactory(
    clientName: String, config: ProducerConfig)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KinesisDataWriter(
      new BatchProducer(KinesisClientRegistry.factory(clientName)(), config))
}

private[sources] class KinesisDataWriter(producer: BatchProducer)
    extends DataWriter[InternalRow] {

  override def write(row: InternalRow): Unit =
    producer.add(row.getBinary(0), row.getUTF8String(1).toString)

  override def commit(): WriterCommitMessage = {
    // Bounded drain: a persistently failing client below the load-shed
    // fullness threshold would otherwise requeue forever and hang the
    // Spark task. Undelivered records fail the task so Spark's task
    // retry replays the epoch (at-least-once).
    val left = producer.flush(producer.config.flushTimeoutMillis)
    if (left > 0)
      throw new java.io.IOException(
        s"graft-kinesis: $left records undelivered after " +
          s"${producer.config.flushTimeoutMillis} ms flush; failing task for retry")
    val s = producer.stats
    KinesisCommit(s.sent, s.droppedRecords, s.requestErrors, s.recordErrors)
  }

  override def abort(): Unit = () // buffered records discarded; source replays the epoch

  override def close(): Unit = ()
}
