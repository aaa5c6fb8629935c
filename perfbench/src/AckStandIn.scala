package perfbench

import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import graft.pipeline.{KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.KinesisClientRegistry

/** The records one client acked, packed back to back into byte chunks
  * (key id, ack time in epoch µs, length, bytes). A run's worth of acks
  * is then a few hundred arrays, not millions of small objects the
  * collector would trace while the program runs. Chunks start small,
  * since the steady workload makes a client per task per trigger.
  */
final class AckLog {
  private val chunks = mutable.ArrayBuffer[ByteBuffer]()
  private val keyIds = mutable.HashMap[String, Int]()
  private val keys = mutable.ArrayBuffer[String]()
  private var records = 0L

  def count: Long = records

  def add(key: String, data: Array[Byte], ackMicros: Long): Unit = {
    val need = 16 + data.length
    if (chunks.isEmpty || chunks.last.remaining < need) {
      val size = if (chunks.isEmpty) 64 << 10 else math.min(4 << 20, chunks.last.capacity * 2)
      chunks += ByteBuffer.allocate(math.max(size, need))
    }
    val b = chunks.last
    b.putInt(keyIds.getOrElseUpdate(key, { keys += key; keys.size - 1 }))
    b.putLong(ackMicros).putInt(data.length).put(data)
    records += 1
  }

  /** Calls `f(partitionKey, data, ackMicros)` for every record. */
  def foreach(f: (String, Array[Byte], Long) => Unit): Unit = chunks.foreach { c =>
    val b = c.duplicate().flip()
    while (b.hasRemaining) {
      val key = keys(b.getInt())
      val ack = b.getLong()
      val data = new Array[Byte](b.getInt())
      b.get(data)
      f(key, data, ack)
    }
  }
}

/** One PutRecords call as the stand-in served it. */
final case class CallSpan(
    startNanos: Long, endNanos: Long, records: Int, throttled: Int)

/** The PutRecords endpoint the forwarding workloads ack against,
  * registered under [[Name]] through the sink's `KinesisClientRegistry`
  * seam. Three knobs: a simulated round trip per call, a seeded share of
  * records throttled per call (they come back with
  * `ProvisionedThroughputExceededException`, which exercises the
  * producer's per-record retry), and zero-latency mode (round trip 0).
  *
  * State is JVM-global: in local mode the sink's tasks run in this JVM,
  * and each task builds its own client through the registered factory.
  * Acked records are kept raw in [[AckLog]]s and decoded only after timing.
  */
object AckStandIn {
  val Name = "perfbench-ack"

  @volatile private var rttNanos = 0L
  @volatile private var throttleShare = 0.0
  @volatile private var seed = 0L
  private val clientSeq = new AtomicLong()

  private val logs = new ConcurrentLinkedQueue[AckLog]()
  private val ackedCount = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[CallSpan]()

  private val Ok = RecordResult()
  private val Throttled = RecordResult(
    "ProvisionedThroughputExceededException", "Rate exceeded for shard")

  def configure(rttMillis: Double, throttle: Double, seed0: Long): Unit = {
    rttNanos = (rttMillis * 1e6).toLong
    throttleShare = throttle
    seed = seed0
    KinesisClientRegistry.register(Name, () =>
      new Client(new SplittableRandom(
        seed * 0x9E3779B97F4A7C15L + clientSeq.incrementAndGet())))
  }

  def ackedSoFar: Long = ackedCount.get()

  /** Hands over everything acked since the last call and clears it.
    * Call it while no forwarding query is running.
    */
  def drain(): (Seq[AckLog], Array[CallSpan]) = {
    val l = Iterator.continually(logs.poll()).takeWhile(_ != null).toSeq
    val s = Iterator.continually(spans.poll()).takeWhile(_ != null).toArray
    ackedCount.addAndGet(-l.map(_.count).sum)
    (l, s)
  }

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  final class Client(rng: SplittableRandom) extends KinesisClient {
    private val log = new AckLog
    logs.add(log)

    override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
      val t0 = System.nanoTime()
      if (rttNanos > 0) {
        val until = t0 + rttNanos
        var left = rttNanos
        while (left > 0) { LockSupport.parkNanos(left); left = until - System.nanoTime() }
      }
      val ackUs = epochMicros()
      val results = new Array[RecordResult](records.size)
      var throttled = 0
      var i = 0
      records.foreach { r =>
        if (throttleShare > 0 && rng.nextDouble() < throttleShare) {
          results(i) = Throttled
          throttled += 1
        } else {
          results(i) = Ok
          log.add(r.partitionKey, r.data, ackUs)
        }
        i += 1
      }
      ackedCount.addAndGet(records.size - throttled)
      spans.add(CallSpan(t0, System.nanoTime(), records.size, throttled))
      PutRecordsResult(None, ArraySeq.unsafeWrapArray(results))
    }
  }
}
