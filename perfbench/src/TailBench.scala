package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.ProtoWire
import graft.model.Envelope
import graft.pipeline.BatchProducer
import graft.sources.{AcceptAllClient, TailSource}
import graft.streaming.{FirehoseMetricsListener, MetricsHttpServer}

/** The forwarding workloads: graft-tail → envelope projection →
  * ProtoWire → graft-kinesis, acked by [[AckStandIn]].
  *
  *  - backfill: a closed drain of a pre-written backlog, repeated from a
  *    fresh checkpoint until the run's time is used; each round is an
  *    agent restarting over the whole backlog;
  *  - steady: `run.py` appends lines on an open-loop schedule, each line
  *    stamped with its due time; latency is due time → ack.
  *
  * After timing every acked record is decoded with `ProtoWire.decode`
  * and the (path, line) multiset is compared with what the files hold.
  */
object TailBench {
  val Origin = "perfbench-node"
  private val QueryName = "perfbench-forward"
  /** Untimed backfill drains before timing: after one, the first timed
    * drain still ran ~10% slower than the rest. */
  val WarmRounds = 2
  /** Timed backfill drains at least, each way in a traced run. */
  val MinRounds = 2
  /** Equal spans of due time a steady window's timed lines are split into. */
  val Segments = 3
  /** Threads that decode acked records after timing. */
  private val CheckThreads = 4

  /** The forwarding job, shaped like `graft.examples.TailPipelineDemo`. */
  def forwarder(spark: SparkSession, root: String, ckpt: String): StreamingQuery = {
    import spark.implicits._
    val lines = spark.readStream.format("graft-tail")
      .option("path", root).option("glob", "*.log").load()
    val projected = lines.select(
      lit(Origin).as("origin"),
      concat(col("value"), lit("\n")).cast("binary").as("message"),
      (unix_micros(current_timestamp()) * 1000).as("ingest_ns"),
      col("path").as("source_instance"))
    projected.as[(String, Array[Byte], Long, String)]
      .map { case (origin, message, ns, path) =>
        (ProtoWire.encode(Envelope.forLogLine(origin, message, ns, path)), path)
      }.toDF("data", "partition_key")
      .writeStream.format("graft-kinesis")
      .option("client", AckStandIn.Name)
      .option("checkpointLocation", ckpt)
      .queryName(QueryName)
      .trigger(Trigger.ProcessingTime(0))
      .start()
  }

  /** Blocks until `target` records are acked; false on timeout. */
  def awaitAcked(q: StreamingQuery, target: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (AckStandIn.ackedSoFar < target) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) return false
      Thread.sleep(1)
    }
    true
  }

  /** Lets the running batch commit (so its progress is reported), then stops. */
  private def stopAfterCommit(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  // ---- correctness ---------------------------------------------------

  private def fnv(h0: Long, b: Array[Byte], from: Int, until: Int): Long = {
    var h = h0
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }
  private def pathHash(path: String): Long = {
    val b = path.getBytes(StandardCharsets.UTF_8)
    fnv(0xcbf29ce484222325L, b, 0, b.length) * 0x9E3779B97F4A7C15L
  }
  private def lineHash(ph: Long, b: Array[Byte], from: Int, until: Int): Long = {
    var h = fnv(ph, b, from, until)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  /** Sorted (path, line) hashes of every complete line under `root`. */
  def expected(root: String): Array[Long] = {
    val out = Array.newBuilder[Long]
    TailSource.listFiles(root, "*.log").foreach { p =>
      val b = Files.readAllBytes(p)
      val ph = pathHash(p.toString)
      var start = 0
      var i = 0
      while (i < b.length) {
        if (b(i) == '\n') { out += lineHash(ph, b, start, i); start = i + 1 }
        i += 1
      }
    }
    val a = out.result()
    java.util.Arrays.sort(a)
    a
  }

  /** Outcome of comparing acked records with the lines written.
    * `latMs` holds, per good record, ack time minus due time (the line's
    * stamp when `stamped`, else `t0Micros`), sorted; when `lastS` > 0,
    * only records due within the last `lastS` seconds of the schedule
    * are timed, and `firstDueMicros` is the first of those. `segments`
    * splits the timed latencies by due time into [[Segments]] equal
    * spans (one when `lastS` is 0), each sorted.
    */
  final case class Checked(lines: Long, missing: Long, duplicates: Long,
      bad: Long, latMs: Array[Double], firstDueMicros: Long, lastAckMicros: Long,
      segments: Seq[Array[Double]])

  /** What one ack log holds: line hashes, due times and latencies of its
    * good records, its bad-record count and its last ack time.
    */
  private final case class Decoded(hashes: Array[Long], dueMicros: Array[Long],
      latMs: Array[Double], bad: Long, lastAck: Long)

  private def decode(log: AckLog, stamped: Boolean, t0Micros: Long): Decoded = {
    val got = Array.newBuilder[Long]
    val dues = Array.newBuilder[Long]
    val lat = Array.newBuilder[Double]
    val ph = mutable.HashMap[String, Long]()
    var bad = 0L
    var lastAck = Long.MinValue
    log.foreach { (key, data, ackMicros) =>
      val lm = try {
        val e = ProtoWire.decode(data)
        e.logMessage.filter(m => e.origin == Origin && e.eventType == "LogMessage" &&
          m.source_instance == key && m.source_type == "bosh" &&
          m.message_type == "OUT" && m.message.nonEmpty && m.message.last == '\n')
      } catch { case _: RuntimeException => None }
      lm match {
        case None => bad += 1
        case Some(m) =>
          got += lineHash(ph.getOrElseUpdate(key, pathHash(key)),
            m.message, 0, m.message.length - 1)
          val due = if (stamped) parseDue(m.message) else t0Micros
          lastAck = math.max(lastAck, ackMicros)
          dues += due
          lat += (ackMicros - due) / 1000.0
      }
    }
    Decoded(got.result(), dues.result(), lat.result(), bad, lastAck)
  }

  /** Decodes the ack logs on [[CheckThreads]] threads (the check is
    * untimed, and a shorter check leaves more of a run for timed rounds),
    * then merges their sorted hashes against `exp`.
    */
  def check(exp: Array[Long], acked: Seq[AckLog], stamped: Boolean,
      t0Micros: Long, lastS: Double = 0): Checked = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
    val parts = try {
      acked.map(log => pool.submit(() => decode(log, stamped, t0Micros))).map(_.get())
    } finally pool.shutdown()
    val g = Array.concat(parts.map(_.hashes): _*)
    java.util.Arrays.parallelSort(g)
    var bad = parts.map(_.bad).sum
    var (i, j) = (0, 0)
    var missing, dups = 0L
    while (i < exp.length || j < g.length) {
      if (j >= g.length || (i < exp.length && exp(i) < g(j))) { missing += 1; i += 1 }
      else if (i >= exp.length || g(j) < exp(i)) {
        if (j > 0 && g(j) == g(j - 1)) dups += 1 else bad += 1
        j += 1
      } else { i += 1; j += 1 }
    }
    val dues = Array.concat(parts.map(_.dueMicros): _*)
    val lats = Array.concat(parts.map(_.latMs): _*)
    val from = if (lastS > 0 && dues.nonEmpty) dues.max - (lastS * 1e6).toLong
      else Long.MinValue
    val timed = Array.range(0, dues.length).filter(k => dues(k) >= from)
    val firstDue = timed.map(dues).minOption.getOrElse(Long.MaxValue)
    val n = if (lastS > 0) Segments else 1
    val segments = timed.groupBy(k =>
      math.min(n - 1, ((dues(k) - firstDue) * n / (lastS * 1e6 max 1.0)).toInt))
      .toSeq.sortBy(_._1).map { case (_, ks) => ks.map(lats).sorted }
    val l = timed.map(lats)
    java.util.Arrays.parallelSort(l)
    Checked(exp.length, missing, dups, bad, l, firstDue,
      (Long.MinValue +: parts.map(_.lastAck)).max, segments)
  }

  /** Median over a window's segments of each segment's `q` quantile:
    * a burst of host contention moves one segment, not the figure.
    */
  def segmentPct(c: Checked, q: Double): Double =
    Stats.median(c.segments.filter(_.nonEmpty).map(Stats.pct(_, q)))

  /** A steady line starts with its due time in epoch µs. */
  private def parseDue(msg: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < msg.length && msg(i) >= '0' && msg(i) <= '9') { v = v * 10 + (msg(i) - '0'); i += 1 }
    require(i > 0 && i < msg.length && msg(i) == ' ', "line without a due-time stamp")
    v
  }

  private def account(res: PerfBench.Result, c: Checked, what: String): Unit = {
    res.attempted += c.lines
    res.duplicates += c.duplicates
    if (c.missing + c.bad > 0)
      res.fail(c.missing + c.bad, s"$what: ${c.missing} lines never acked, ${c.bad} bad records")
  }

  // ---- set-up --------------------------------------------------------

  /** Median over [[PerfBench.SetupReps]] of: start the forwarder on the warm-up
    * files with a fresh checkpoint and wait until every line is acked.
    */
  private def setupReps(spark: SparkSession, p: PerfBench.Params,
      res: PerfBench.Result): Double = {
    val root = s"${p.work}/warmup"
    val exp = expected(root)
    val samples = (0 until PerfBench.SetupReps).map { i =>
      AckStandIn.drain()
      val t0 = System.nanoTime()
      val t0us = AckStandIn.epochMicros()
      val q = forwarder(spark, root, s"${p.work}/ckpt/setup-$i")
      val done = awaitAcked(q, exp.length, 120)
      val sec = (System.nanoTime() - t0) / 1e9
      stopAfterCommit(q)
      res.expect(done, s"set-up $i timed out")
      account(res, check(exp, AckStandIn.drain()._1, stamped = false, t0us), s"set-up $i")
      sec
    }
    res.notes += samples.map(s => f"$s%.3f").mkString("set-up stand-ups (s): ", " ", "")
    Stats.median(samples)
  }

  // ---- sink and /metrics layers --------------------------------------

  private def sinkLayers(res: PerfBench.Result, calls: Seq[CallSpan],
      units: Double, dropped: Long, tracer: Tracer): Unit = {
    val m = res.metrics
    val recs = calls.map(_.records.toLong).sum
    val throttled = calls.map(_.throttled.toLong).sum
    m("sink.put_calls") = calls.size / units
    m("sink.records_per_call") = if (calls.isEmpty) 0.0 else recs.toDouble / calls.size
    m("sink.put_wait_ms") = calls.map(c => c.endNanos - c.startNanos).sum / 1e6 / units
    m("sink.retried_records") = throttled / units
    m("sink.dropped_records") = dropped / units
    m("sink.first_try_frac") = if (recs == 0) 0.0 else (recs - throttled).toDouble / recs
    calls.foreach(c => tracer.span(Json.obj("kind" -> "put_call",
      "start_ns" -> c.startNanos, "end_ns" -> c.endNanos, "records" -> c.records,
      "throttled" -> c.throttled)))
  }

  /** Scrapes `/metrics` once a second while open; keeps the scrape times. */
  private final class Scraper(port: Int) extends AutoCloseable {
    val ms = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var failures = 0
    @volatile private var open = true
    private val thread = new Thread(() => {
      while (open) {
        val t0 = System.nanoTime()
        try {
          val c = URI.create(s"http://127.0.0.1:$port/metrics").toURL
            .openConnection().asInstanceOf[HttpURLConnection]
          val body = new String(c.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
          val ok = c.getResponseCode == 200 && body.contains("firehose_to_kinesis_sent_count")
          c.disconnect()
          if (ok) ms.add((System.nanoTime() - t0) / 1e6) else failures += 1
        } catch { case _: java.io.IOException => failures += 1 }
        val left = 1000 - (System.nanoTime() - t0) / 1000000
        if (left > 0) try Thread.sleep(left) catch { case _: InterruptedException => () }
      }
    }, "perfbench-scraper")
    thread.setDaemon(true)
    thread.start()
    override def close(): Unit = { open = false; thread.interrupt(); thread.join() }
    /** Counts every scrape as attempted and each failed one as failed. */
    def account(res: PerfBench.Result, what: String): Unit = {
      res.attempted += ms.size + failures
      if (failures > 0) res.fail(failures, s"$what: $failures /metrics scrapes failed")
    }
  }

  private def withMetricsEndpoint[T](spark: SparkSession)(body: Int => T): T = {
    val listener = new FirehoseMetricsListener(Origin, Some(QueryName))
    spark.streams.addListener(listener)
    val server = new MetricsHttpServer(() => listener.snapshot, 0)
    try body(server.boundPort)
    finally { server.close(); spark.streams.removeListener(listener) }
  }

  // ---- workloads -----------------------------------------------------

  private final case class Round(drainS: Double, c: Checked, calls: Seq[CallSpan],
      t0Ms: Long, t1Ms: Long)

  private def drainRound(spark: SparkSession, root: String, ckpt: String,
      exp: Array[Long], res: PerfBench.Result, label: String): Round = {
    AckStandIn.drain()
    val t0us = AckStandIn.epochMicros()
    val q = forwarder(spark, root, ckpt)
    val done = awaitAcked(q, exp.length, 150)
    stopAfterCommit(q)
    val (acked, calls) = AckStandIn.drain()
    res.expect(done, s"$label: drain timed out")
    val c = check(exp, acked, stamped = false, t0us)
    account(res, c, label)
    val drainS = if (c.lastAckMicros > t0us) (c.lastAckMicros - t0us) / 1e6 else Double.NaN
    Round(drainS, c, calls.toSeq, t0us / 1000, c.lastAckMicros / 1000)
  }

  def backfill(spark: SparkSession, p: PerfBench.Params, res: PerfBench.Result,
      tracer: Tracer, sessionS: Double): Unit = {
    AckStandIn.configure(p.dbl("rtt_ms"), p.dbl("throttle"), p.int("seed"))
    res.metrics("setup_s") = sessionS + setupReps(spark, p, res)
    val root = s"${p.work}/backlog"
    val exp = expected(root)
    // Untimed drains first, so the JIT has seen full-size batches.
    (0 until WarmRounds).foreach(i =>
      drainRound(spark, root, s"${p.work}/ckpt/warm-$i", exp, res, s"warm-up round $i"))
    val (rounds, scrapeMs) = withMetricsEndpoint(spark) { port =>
      val scraper = new Scraper(port)
      var n = 0
      val rounds = PerfBench.repeat(p, tracer, MinRounds) {
        n += 1
        drainRound(spark, root, s"${p.work}/ckpt/round-$n", exp, res, s"round $n")
      }
      scraper.close()
      scraper.account(res, "backfill")
      (rounds, scraper.ms.asScala.toSeq)
    }
    val plain = rounds.filterNot(_._1).map(_._2)
    res.notes += plain.map(r => f"${r.drainS}%.3f").mkString("drains (s): ", " ", "")
    val m = res.metrics
    m("throughput_per_s") = Stats.median(plain.map(r => r.c.lines / r.drainS))
    m("lat_p50_ms") = Stats.median(plain.map(r => Stats.pct(r.c.latMs, 0.5)))
    m("lat_p99_ms") = Stats.median(plain.map(r => Stats.pct(r.c.latMs, 0.99)))
    m("wall_s") = Stats.median(plain.map(_.drainS))
    if (p.traced) {
      val traced = rounds.filter(_._1).map(_._2).toSeq
      val units = traced.size.toDouble
      tracer.sparkLayers(res, units, traced.map(r => (r.t0Ms, r.t1Ms)))
      tracer.streamLayers(res, units)
      sinkLayers(res, traced.flatMap(_.calls), units, traced.map(_.c.missing).sum, tracer)
      traced.foreach(r => tracer.span(Json.obj("kind" -> "round", "start_ms" -> r.t0Ms,
        "end_ms" -> r.t1Ms, "lines" -> r.c.lines, "drain_s" -> r.drainS)))
      m("metrics.scrape_ms_p50") = Stats.medianOr0(scrapeMs)
      m("trace.overhead_frac") = Stats.median(traced.map(_.drainS)) / m("wall_s") - 1.0
      replay(p, res, tracer)
    }
  }

  def steady(spark: SparkSession, p: PerfBench.Params, res: PerfBench.Result,
      tracer: Tracer, sessionS: Double): Unit = {
    AckStandIn.configure(p.dbl("rtt_ms"), p.dbl("throttle"), p.int("seed"))
    res.metrics("setup_s") = sessionS + setupReps(spark, p, res)
    val m = res.metrics
    val untracedP50 = mutable.ArrayBuffer[Double]()
    var tracedP50 = 0.0
    (0 until p.int("windows")).foreach { w =>
      val traced = w == 1
      tracer.record(traced)
      val root = s"${p.work}/steady-$w"
      AckStandIn.drain()
      withMetricsEndpoint(spark) { port =>
        val q = forwarder(spark, root, s"${p.work}/ckpt/steady-$w")
        val t0 = System.nanoTime()
        while (!q.status.message.startsWith("Waiting for data") && System.nanoTime() - t0 < 20e9)
          Thread.sleep(5)
        val scraper = new Scraper(port)
        Files.write(Paths.get(s"${p.work}/ready-$w"), Array.emptyByteArray)
        val donePath = Paths.get(s"${p.work}/done-$w")
        val deadline = System.nanoTime() + ((p.seconds + 120) * 1e9).toLong
        while (!Files.exists(donePath)) {
          q.exception.foreach(e => throw e)
          require(System.nanoTime() < deadline, "the line generator never finished")
          Thread.sleep(5)
        }
        val written = new String(Files.readAllBytes(donePath), StandardCharsets.UTF_8).trim.toLong
        val done = awaitAcked(q, written, 120)
        scraper.close()
        stopAfterCommit(q)
        val (acked, calls) = AckStandIn.drain()
        res.expect(done, s"window $w: not every line was acked in time")
        scraper.account(res, s"window $w")
        val exp = expected(root)
        res.expect(exp.length == written,
          s"window $w: files hold ${exp.length} lines, generator wrote $written")
        val c = check(exp, acked, stamped = true, 0L, p.seconds)
        account(res, c, s"window $w")
        val spanS = (c.lastAckMicros - c.firstDueMicros) / 1e6
        if (!traced) {
          m("throughput_per_s") = c.latMs.length / spanS
          m("lat_p50_ms") = segmentPct(c, 0.5)
          m("lat_p99_ms") = segmentPct(c, 0.99)
          res.notes += c.segments.map(x => f"${Stats.pct(x, 0.5)}%.0f/${Stats.pct(x, 0.99)}%.0f")
            .mkString("segment p50/p99 (ms): ", " ", "")
          m("wall_s") = spanS
          untracedP50 += m("lat_p50_ms")
        } else {
          val work = Seq((c.firstDueMicros / 1000, c.lastAckMicros / 1000))
          tracer.sparkLayers(res, 1.0, work)
          tracer.streamLayers(res, 1.0)
          sinkLayers(res, calls.toSeq, 1.0, c.missing, tracer)
          m("metrics.scrape_ms_p50") = Stats.medianOr0(scraper.ms.asScala)
          m("sink.ack_lat_p999_ms") = Stats.pct(c.latMs, 0.999)
          m("sink.ack_lat_samples") = c.latMs.length.toDouble
          tracedP50 = segmentPct(c, 0.5)
        }
      }
    }
    if (p.traced) {
      m("trace.overhead_frac") = tracedP50 / Stats.median(untracedP50) - 1.0
      replay(p, res, tracer)
    }
  }

  /** One drain of the backlog at whatever `cores` the JVM was given —
    * the single-thread baseline when run at local[1].
    */
  def baselineDrain(spark: SparkSession, p: PerfBench.Params, res: PerfBench.Result): Unit = {
    AckStandIn.configure(0, 0, p.int("seed"))
    val warm = s"${p.work}/warmup"
    drainRound(spark, warm, s"${p.work}/ckpt/baseline-warm", expected(warm), res, "baseline warm-up")
    val root = s"${p.work}/backlog"
    val r = drainRound(spark, root, s"${p.work}/ckpt/baseline", expected(root), res, "baseline")
    res.metrics("baseline.drain_lines_per_s_1core") = r.c.lines / r.drainS
  }

  /** Single-thread replay of `replay.log` through the public per-record
    * entry points: `Envelope.forLogLine` + `ProtoWire.encode`, then
    * `BatchProducer` against a client that costs nothing.
    */
  def replay(p: PerfBench.Params, res: PerfBench.Result, tracer: Tracer): Unit = {
    val path = s"${p.work}/replay.log"
    val all = Files.readAllBytes(Paths.get(path))
    val lines = mutable.ArrayBuffer[Array[Byte]]()
    var start = 0
    for (i <- all.indices if all(i) == '\n') {
      lines += java.util.Arrays.copyOfRange(all, start, i + 1); start = i + 1
    }
    val n = lines.size
    val encoded = new Array[Array[Byte]](n)
    val reps = 5
    val encNs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        encoded(i) = ProtoWire.encode(Envelope.forLogLine(Origin, lines(i), t0 + i, path))
        i += 1
      }
      (System.nanoTime() - t0).toDouble / n
    }
    val prodNs = (0 until reps).map { _ =>
      val producer = new BatchProducer(new AcceptAllClient)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { producer.add(encoded(i), path); i += 1 }
      producer.flush()
      val ns = (System.nanoTime() - t0).toDouble / n
      res.expect(producer.stats.sent == n, s"replay: producer sent ${producer.stats.sent} of $n")
      ns
    }
    res.metrics("encode.ns_per_line") = Stats.median(encNs)
    res.metrics("producer.ns_per_line") = Stats.median(prodNs)
    tracer.span(Json.obj("kind" -> "replay", "lines" -> n,
      "encode_ns_per_line" -> Json.Raw(encNs.map(Json.num).mkString("[", ",", "]")),
      "producer_ns_per_line" -> Json.Raw(prodNs.map(Json.num).mkString("[", ",", "]"))))
  }
}
