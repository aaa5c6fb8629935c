package graft.streaming

import java.util.UUID
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.KinesisWriteSink

/** The exactly-once foreachBatch file sink that the streaming catalog
  * queries q167, q173, q229, q236 and q244 write through. The streaming
  * operators themselves (SURVEY.md §2.5 "Streaming windows" /
  * "Watermark" / "Stateful ops") are the few declarative lines inside
  * each `operators.StreamingCatalog` query, checked against the DuckDB
  * oracle: watermarked windows q130/q158, session windows q135, the
  * stream-stream join q136, mapGroupsWithState q151, transformWithState
  * q293 and watermark-bounded dedup q249.
  */
object StreamingOps {

  /** Idempotent foreachBatch file sink — the exactly-once pattern for
    * sinks without transactions: Structured Streaming guarantees each
    * batchId is REPLAYED with identical contents after a failure, so a
    * sink that (1) writes batch `b` to its own directory and (2) marks
    * `b` complete with an atomically-created marker file AFTER the data
    * lands turns at-least-once delivery into exactly-once output: a
    * replayed batch sees its marker and skips. Readers take only marked
    * directories ([[committedBatches]]). Works on any filesystem with
    * atomic create-if-absent (HDFS/local; object stores need a
    * conditional-put equivalent).
    */
  def idempotentBatchWriter(root: String): (DataFrame, Long) => Unit = {
    (df, batchId) => {
      val dir = new java.io.File(root, s"batch=$batchId")
      val marker = new java.io.File(root, s"_batch-$batchId.done")
      if (!marker.exists()) {
        df.write.mode("overwrite").parquet(dir.toString)
        if (!marker.createNewFile() && !marker.exists())
          throw new java.io.IOException(s"cannot mark batch $batchId")
      }
    }
  }

  /** Directories of batches the idempotent writer fully committed —
    * half-written (unmarked) batch dirs are invisible to readers.
    */
  def committedBatches(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("_batch-") && f.getName.endsWith(".done"))
      .map(_.getName.stripPrefix("_batch-").stripSuffix(".done"))
      // numeric order: lexicographic .sorted would interleave batch 10
      // before batch 2, breaking any consumer that replays in commit
      // order (the natural use of an exactly-once batch log)
      .sortBy(_.toLong).map(b => s"$root/batch=$b").toSeq
}

/** A2–A4: the reference's 5s stats emission + Prometheus-name metrics
  * (main.go:27-47,147-152) mapped onto StreamingQueryListener progress
  * events. Counters accumulate per query run; `snapshot` exposes them
  * under the reference's metric names.
  *
  * Delivery counts come from the sink when its progress carries them:
  * the `graft-kinesis` sink reports running totals of records delivered
  * and dropped and of errors ([[graft.sources.KinesisWriteSink]]), and
  * each progress adds its run's increase since the previous one, so a
  * restarted run, whose totals start again at 0, never moves a counter
  * back. Other sinks report no delivery count: `sent_count` is then the
  * source rows (`numInputRows`) and `dropped_count`/`errors_count` stay 0.
  *
  * `queryName`: restrict accumulation to one named query — a session
  * listener sees EVERY streaming query's progress, and with more than
  * one running the per-instance counters would silently sum them all.
  * None = accumulate everything (single-query apps, tests).
  */
final class FirehoseMetricsListener(
    instance: String, queryName: Option[String] = None)
    extends StreamingQueryListener {
  // listener-bus delivery is single-threaded, but snapshot() readers race
  // the updates — guard the counters so a scrape never sees a torn set
  private val lock = new Object
  private var sent = 0L
  private var dropped = 0L
  private var errors = 0L
  private var rowsPerSec = 0.0
  private var batches = 0L
  // last sink total seen per (run, sink-metric key)
  private val lastTotals = mutable.Map[(UUID, String), Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    lock.synchronized { lastTotals.filterInPlace { case ((run, _), _) => run != e.runId } }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (queryName.forall(_ == p.name)) lock.synchronized {
      val sinkMetrics = Option(p.sink).flatMap(s => Option(s.metrics))
      def increase(key: String): Option[Long] =
        sinkMetrics.flatMap(m => Option(m.get(key))).map { v =>
          val total = v.toLong
          val prev = lastTotals.getOrElse((p.runId, key), 0L)
          lastTotals((p.runId, key)) = total
          total - prev
        }
      sent += increase(KinesisWriteSink.SentMetric).getOrElse(p.numInputRows)
      dropped += increase(KinesisWriteSink.DroppedMetric).getOrElse(0L)
      errors += increase(KinesisWriteSink.ErrorsMetric).getOrElse(0L)
      rowsPerSec = p.processedRowsPerSecond
      batches += 1
    }
  }

  /** Reference metric names, labeled by `system` = instance (main.go:32-46). */
  def snapshot: Map[String, Double] = lock.synchronized {
    Map(
      s"""firehose_to_kinesis_sent_count{system="$instance"}""" -> sent.toDouble,
      s"""firehose_to_kinesis_dropped_count{system="$instance"}""" -> dropped.toDouble,
      s"""firehose_to_kinesis_errors_count{system="$instance"}""" -> errors.toDouble,
      s"""firehose_to_kinesis_rows_per_sec{system="$instance"}""" -> rowsPerSec,
      s"""firehose_to_kinesis_batches{system="$instance"}""" -> batches.toDouble)
  }
}
