package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming paths under the DRIVER oracle (VERDICT r4 item #5): each
  * query runs a REAL Structured Streaming pipeline (MemoryStream source
  * → stateful operator → memory sink) to completion inside the query
  * function and returns the sink table, so the driver's DuckDB hash
  * compare certifies a streaming execution end to end. The streaming
  * operators are the few declarative lines inside these queries; no
  * named wrapper is kept beside them.
  *
  * Determinism rules that make a streaming result oracle-comparable:
  *  - the input is a BOUNDED, deterministic slice of the events table
  *    (event_id < 2000), replayed in (ts, event_id) order in fixed-size
  *    micro-batches — arrival order is part of streaming semantics, so
  *    it must be pinned;
  *  - event-time logic only (watermark + event-time windows): the
  *    result is a pure function of (data, arrival order), never of
  *    wall-clock trigger timing;
  *  - append-mode windows are CLOSED by a far-future sentinel event
  *    that advances the watermark past every real window, then filtered
  *    from the output — so the emitted set is total, not
  *    timing-dependent;
  *  - q131 projects the deduplicated stream to its KEY COLUMNS: which
  *    physical row survives streaming dedup within one micro-batch is
  *    shuffle-order-dependent, but the surviving key set is exact.
  *
  * The driver-side collect of the slice is the MemoryStream feeding
  * contract (a test-scale replay harness, not a production path — the
  * production sources are graft-tail / graft-kinesis-source, which
  * stream partition-local with no driver materialization).
  *
  * Not in graft: streaming TTL dedup. TTL expiry runs on wall-clock
  * time between triggers, so the emitted set is not a function of
  * (data, arrival order) and no deterministic SQL can replay it; a
  * ProcessingTime query also performs TTL maintenance every trigger and
  * never goes idle, so the run-to-completion replay cannot end. q249's
  * watermark-bounded dedup answers the event-time form of the question,
  * as q135's session windows answer gap sessionization.
  */
object StreamingCatalog {

  def defs: Seq[QueryDef] =
    Seq(q130, q131, q135, q136, q138, q140, q145, q147, q149, q151, q153, q293,
      q158, q167, q173, q174, q193, q195, q229, q230, q236, q239, q240, q244,
      q249, q252)

  private val SliceMax = 2000L
  private val Sentinel = "zz_sentinel"
  private val BatchRows = 500

  /** The deterministic replay slice: (ts_us, user_id, event_type) in
    * (ts, event_id) arrival order. Memoized per corpus dir — 25 catalog
    * queries replay the SAME 2,000-row slice, and the scan+sort+collect
    * was ~0.3 s of identical work per query per bench pass. The memo is
    * a driver-side Seq of 2,000 tuples (KBs) and the slice is a pure
    * function of the corpus, so the cached value is exactly what each
    * query would have read.
    */
  private val sliceMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, Long, String, Long)]]()

  /** The memoized slice WITH event ids — q174's parity split needs the
    * id; every other consumer reads the 3-tuple view below. */
  private def sliceWithIds(s: SparkSession,
      d: String): Seq[(Long, Long, String, Long)] =
    sliceMemo.computeIfAbsent(d, _ => Exact.memoBuild(s"stream-slice#$d")(
      Tables.events(s, d)
        .filter(col("event_id") < SliceMax)
        .orderBy(col("ts_ns"), col("event_id"))
        // `div`, not `/`: double division rounds at 2^60 magnitudes
        // (the Tables.events lesson) — ±1 µs here fails the hash compare
        .select(expr("ts_ns div 1000"), col("user_id"), col("event_type"),
          col("event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSeq))

  private def slice(s: SparkSession, d: String): Seq[(Long, Long, String)] =
    sliceWithIds(s, d).map(t => (t._1, t._2, t._3))

  /** No-data micro-batches in [[runToCompletion]]'s replays: off (see there). */
  private val noDataBatches = false

  /** Sentinel rounds that flush an `nSentinels`-deep stateful chain. With
    * no-data batches off each sentinel is the only batch of its
    * processAllAvailable, so the final watermark-apply step rides one
    * more data-carrying batch: one round more than the chain depth. */
  private def roundsFor(nSentinels: Int): Int =
    nSentinels + (if (noDataBatches) 0 else 1)

  /** Run `build(stream)` to completion over the slice in BatchRows-sized
    * micro-batches (+ sentinel rounds), return the memory-sink table.
    *
    * `nSentinels`: chained stateful operators advance the watermark one
    * operator per BATCH (the sentinel batch updates the input
    * watermark; the downstream operator only sees the propagated value
    * a batch later), so an N-deep stateful chain needs N sentinel
    * rounds for the final windows to flush — each round is its own
    * addData + processAllAvailable with a timestamp 1 h past the
    * previous one. The replay pins no-data micro-batches off
    * (`noDataBatches`), so [[roundsFor]] adds one more round. The last
    * sentinel then lands at `sentinelTs + nSentinels` h, which moves the
    * final watermark 1 h further than `nSentinels` rounds alone would.
    * Size `sentinelLeadMinutes` so the lead alone covers a query's
    * window, gap or TTL, without counting on that hour.
    *
    * `batchRows`: micro-batch size for the replay. Queries whose
    * ORACLE models per-batch structure (q147/q151 update-mode emission
    * counts, q240 observe, q244 watermark progression, q249 within-
    * watermark thinning — all via `rn // $BatchRows`) must stay on the
    * default so code and oracle agree. Queries whose output is a pure
    * function of the DATA (append-mode windows/sessions/interval joins
    * driven to completion, complete-mode snapshots, key-set dedups)
    * pass 2×BatchRows: half the micro-batch machinery — the dominant
    * harness cost — while still exercising cross-batch state carryover
    * (sessions/join matches spanning the 2-batch boundary).
    */
  private def runToCompletion(
      s: SparkSession, d: String, sinkName: String, outputMode: String,
      sentinelLeadMinutes: Long = 80L, nSentinels: Int = 1,
      batchRows: Int = BatchRows)(
      build: DataFrame => DataFrame): DataFrame = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    // No-data micro-batches OFF for the run-to-completion replays
    // (r15, guide §1/§2: measured on q252 — HALF the micro-batches were
    // empty watermark-apply batches at ~0.7 s of fixed machinery each).
    // Emission then rides the NEXT data batch, so one extra sentinel
    // round (roundsFor) replaces the trailing no-data flush; the emitted SET
    // is unchanged (oracle hash-certified at both sfs for all 19
    // queries through this harness). q229/q249 keep their own harnesses
    // on the default: q249's oracle models no-data-batch eviction
    // timing, and q229's restart replays are watermark-cadence-pinned.
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val priorNoData = s.conf.getOption(noData)
    s.conf.set(noData, noDataBatches.toString)
    try {
    val rows = slice(s, d)
    val maxTs = rows.iterator.map(_._1).max
    // sentinel: watermark delay (1 h) + lead past the last real event —
    // the watermark must land beyond every real window/session END, so
    // the lead covers the window size (or session gap) with margin
    val sentinelTs = maxTs + sentinelLeadMinutes * 60L * 1000000L
    val in = MemoryStream[(Long, Long, String)]
    // Checkpoint is only needed while the stream runs (the result lives
    // in the memory sink after stop()), so it is deleted on exit rather
    // than accumulating one dir per run. The sink TEMP VIEW persists by
    // design — the returned frame resolves it lazily — and is replaced,
    // not duplicated, on the next run of the same query.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sc")
    val events = build(
      in.toDF().toDF("ts_us", "user_id", "event_type")
        .withColumn("ts", timestamp_micros(col("ts_us"))))
    val q = events.writeStream.format("memory").queryName(sinkName)
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      rows.grouped(batchRows).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      (1 to roundsFor(nSentinels)).foreach { k =>
        in.addData((sentinelTs + (k - 1) * 3600000000L, -1L, Sentinel))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      rmTree(ckpt)
    }
    s.table(sinkName)
    } finally {
      priorNoData match {
        case Some(v) => s.conf.set(noData, v)
        case None => s.conf.unset(noData)
      }
    }
    }
  }

  /** Session conf pinned around every streaming replay, restored on
    * exit (the conf only matters while the stream executes; leaving it
    * flipped would surprise any other caller sharing the session):
    *
    *  - checkpoint file checksums OFF: Spark 4.1's checksum writer
    *    deadlocks stateful commits under local-mode churn (see
    *    TestSpark); checksums add nothing on tmp checkpoints.
    *  - shuffle partitions 4: a stateful operator commits one state
    *    store per shuffle partition per micro-batch, so a 2,000-row
    *    replay at the session's 32 partitions pays 32 store commits ×
    *    batches × stateful-operators of pure machinery (the dominant
    *    cost of the whole streaming family — ~39 % of bench wall time,
    *    r8). Four partitions cut that 8× while leaving results
    *    IDENTICAL: every output here is a keyed agg/join/dedup whose
    *    content is partition-count-invariant (the one survivor-row
    *    sensitivity, q131's within-batch dedup pick, is already
    *    key-projected). Production streams size partitions to state
    *    volume; this pin is replay-harness sizing, not a semantic knob
    *    — the conf is read at stream START, so it must wrap the whole
    *    run-to-completion, which every harness in this file does.
    */
  /** Replay-scoped conf pins (restored after the body):
    *  - checkpoint file checksums off (pure replay-harness I/O);
    *  - shuffle/state partitions sized to the REPLAY's state, not the
    *    session default. A stateful operator commits one store instance
    *    per shuffle partition per micro-batch; this 2,000-row bounded
    *    slice carries ~KB of state per operator, so at the session's 32
    *    (or the prior pin of 4) the batch runtime was dominated by
    *    per-instance commit/fsync I/O — measured on q252: ~0.6–0.8 s of
    *    symmetricHashJoin commit per batch against ~6 KB of state, ×8
    *    batches. Guide §2.2 (fewer, larger partitions — size partitions
    *    to data, here ~one store per replay) applied to streaming
    *    state. Production streams size this to state volume via
    *    `spark.graft.streaming.replayPartitions`; results are
    *    partition-count-invariant (keyed aggs/joins + final orderBy —
    *    the oracle hash compare certifies it at both sfs).
    */
  private def withChecksumOff[T](s: SparkSession)(body: => T): T = {
    val replayParts =
      s.conf.getOption("spark.graft.streaming.replayPartitions")
        .getOrElse("1")
    val pins = Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> replayParts)
    val prior = pins.map { case (k, _) => k -> s.conf.getOption(k) }
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Delete a finished stream's scratch dir (checkpoints, tailed files)
    * — needed only while the stream runs; the result lives in the
    * memory sink after stop(), so per-run dirs must not accumulate.
    */
  private def rmTree(p: java.nio.file.Path): Unit = Exact.rmTree(p)

  /** q130: watermarked tumbling-window counts, APPEND mode — the
    * watermark/state-store path q25 only exercises in batch. Windows on
    * the 1e-6 epoch grid (unix_micros of the window start) so the
    * DuckDB compare needs no timestamp-format negotiation.
    */
  val q130: QueryDef = QueryDef.checked(
    "q130_streaming_window_counts",
    """SELECT (epoch_ns(ts) // 1000 // 600000000) * 600000000 AS w_start_us,
      |  event_type, COUNT(*) AS n
      |FROM events WHERE event_id < 2000
      |GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q130_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("w_start_us"),
          col("event_type"), col("n"))
    }
      .filter(col("event_type") =!= Sentinel)
      .orderBy(col("w_start_us"), col("event_type"))
  }

  /** q158: q130's watermarked window counts executed against the
    * ROCKSDB state-store provider — the disk-backed state path that
    * holds streaming state beyond executor heap at production scale
    * (heap HDFS-backed state evicts to executor memory; RocksDB spills
    * to local disk with changelog checkpointing). The provider is a
    * SESSION conf, so setting it on the shared session would leak into
    * every later stateful query in the same Verify/Bench run (the
    * NOTES_r5 blocker); the query instead builds an ISOLATED session —
    * `newSession()` shares the SparkContext (executors, cache manager)
    * but owns its SQLConf and temp-view catalog — sets the provider
    * there, and runs the whole replay inside it. Same oracle as q130:
    * the state backend must be semantically invisible; what this
    * certifies is the RocksDB provider executing a real watermarked
    * multi-batch run under the driver's hash gate.
    */
  val q158: QueryDef = QueryDef.checked("q158_rocksdb_window_counts",
    """SELECT (epoch_ns(ts) // 1000 // 600000000) * 600000000 AS w_start_us,
      |  event_type, COUNT(*) AS n
      |FROM events WHERE event_id < 2000
      |GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin) { (s, d) =>
    val iso = s.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    runToCompletion(iso, d, "graft_q158_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("w_start_us"),
          col("event_type"), col("n"))
    }
      .filter(col("event_type") =!= Sentinel)
      .orderBy(col("w_start_us"), col("event_type"))
  }

  /** q167: the FILE-sink leg of the sink family under the oracle
    * (q149 = Kinesis round trip, q153 = tail-source round trip; this =
    * exactly-once parquet output through `foreachBatch` +
    * [[graft.streaming.StreamingOps.idempotentBatchWriter]]): a
    * 200-doc slice streams through fixed-size micro-batches into
    * per-batch parquet dirs with commit markers, and the query returns
    * what a READER of the committed batches sees. Exactly-once =
    * committed-batch union equals the slice, which is precisely what
    * the oracle checks; batch boundaries are scheduling-invisible to
    * the union. StreamingSpec separately certifies the replay/
    * half-write semantics of the marker protocol.
    */
  val q167: QueryDef = QueryDef.checked(
    "q167_foreachbatch_sink",
    "SELECT doc_id, lang FROM documents WHERE doc_id < 200 ORDER BY doc_id") {
    (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val rows = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = Exact.scratchDir("q167", "fbsink_").toAbsolutePath.toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q167-ckpt")
    val in = MemoryStream[(Long, String)]
    val write = graft.streaming.StreamingOps.idempotentBatchWriter(root)
    val q = in.toDF().toDF("doc_id", "lang")
      .writeStream
      .foreachBatch((df: DataFrame, id: Long) => write(df, id))
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      rows.grouped(64).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally { q.stop(); rmTree(ckpt) }
    val dirs = graft.streaming.StreamingOps.committedBatches(root)
    s.read.parquet(dirs: _*)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
    }
  }

  /** q173: CHECKPOINT RESTART RECOVERY under the oracle — the
    * fault-tolerance half of exactly-once that q167 cannot show in one
    * life: the same foreachBatch parquet pipeline is STOPPED mid-slice
    * and a NEW query resumes from the same checkpoint (same source,
    * same sink root), feeds the rest, and the committed-batch union
    * must STILL equal the slice — offsets replay from the WAL, the
    * marker protocol absorbs the re-executed boundary batch, and
    * nothing is lost or doubled across the query generations. This is
    * the restart path every production stream lives on (the memory
    * sink cannot certify it — it is rebuilt empty on restart, which is
    * why this query rides the file sink).
    */
  val q173: QueryDef = QueryDef.checked(
    "q173_restart_recovery",
    "SELECT doc_id, lang FROM documents WHERE doc_id < 200 ORDER BY doc_id") {
    (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val rows = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = Exact.scratchDir("q173", "restart_").toAbsolutePath.toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q173-ckpt")
    val in = MemoryStream[(Long, String)]
    val write = graft.streaming.StreamingOps.idempotentBatchWriter(root)
    def startQuery() = in.toDF().toDF("doc_id", "lang")
      .writeStream
      .foreachBatch((df: DataFrame, id: Long) => write(df, id))
      .option("checkpointLocation", ckpt.toString)
      .start()
    val (firstHalf, secondHalf) = rows.splitAt(100)
    val q1 = startQuery()
    try {
      firstHalf.grouped(64).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q1.processAllAvailable()
      }
    } finally q1.stop() // simulated failure/redeploy point
    val q2 = startQuery() // SAME checkpoint: offsets resume from the WAL
    try {
      secondHalf.grouped(64).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q2.processAllAvailable()
      }
      q2.processAllAvailable()
    } finally { q2.stop(); rmTree(ckpt) }
    val dirs = graft.streaming.StreamingOps.committedBatches(root)
    s.read.parquet(dirs: _*)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
    }
  }

  /** q174: MULTI-SOURCE stream union + shared dedup state — two
    * independent streams (the slice split by event_id parity, standing
    * in for two shards/regions/topics feeding one pipeline) unioned
    * into ONE dropDuplicates whose state spans both: a key seen on
    * stream A suppresses its later arrival on stream B. Batch
    * interleave across two sources is scheduler-influenced, so the
    * output projects to the surviving KEY SET (the q131 determinism
    * idiom) — exactly the distinct keys of the union, which is what
    * the oracle checks.
    */
  val q174: QueryDef = QueryDef.checked(
    "q174_union_dedup",
    """SELECT DISTINCT user_id, event_type
      |FROM events WHERE event_id < 2000
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    // the shared memoized slice, with event ids for the parity split
    val rows = sliceWithIds(s, d)
      .map(t => (t._4, t._2, t._3)) // (event_id, user_id, event_type)
    val inA = MemoryStream[(Long, String)]
    val inB = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q174-ckpt")
    def half(src: MemoryStream[(Long, String)]) =
      src.toDF().toDF("user_id", "event_type")
    val q = half(inA).unionByName(half(inB))
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
      .writeStream.format("memory").queryName("graft_q174_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      rows.grouped(BatchRows).foreach { chunk =>
        inA.addData(chunk.filter(_._1 % 2 == 0).map(r => (r._2, r._3)): _*)
        inB.addData(chunk.filter(_._1 % 2 == 1).map(r => (r._2, r._3)): _*)
        q.processAllAvailable()
      }
    } finally { q.stop(); rmTree(ckpt) }
    s.table("graft_q174_sink")
      .select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
    }
  }

  /** q131: streaming deduplication state across micro-batches —
    * dropDuplicates over (user_id, event_type) with the surviving rows
    * projected to their keys (see determinism rules above). The oracle
    * is the exact distinct key set.
    */
  /** q135: streaming SESSION windows (30-min gap per user) in append
    * mode — cross-batch session MERGING state, the q26 semantics under
    * a real streaming run. The sentinel lead covers watermark delay +
    * session gap + margin (a session stays open until the watermark
    * passes its last event + gap, unlike a fixed window's end). Oracle
    * = q26's gaps-and-islands SQL over the slice.
    */
  val q135: QueryDef = QueryDef.checked(
    "q135_streaming_sessions",
    """WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events WHERE event_id < 2000),
      |flagged AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
      |              >= 1800000000 THEN 1
      |         WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL THEN 1
      |         ELSE 0 END AS new_sess
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, ts_us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts_us) AS sess_start_us, COUNT(*) AS n
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, sess_start_us""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q135_sink", outputMode = "append",
      sentinelLeadMinutes = 110L, batchRows = 2 * BatchRows) { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("sess_start_us"),
          col("n"))
    }
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("sess_start_us"))
  }

  /** q136: STREAM-STREAM interval join — each click joined to the same
    * user's views in the preceding 24 hours, both sides watermarked
    * branches of the same streaming source (a streaming self-join).
    * Inner-join matches emit as soon as both sides arrive; the
    * watermark + time-range condition bound the buffered state (views
    * older than watermark − range are evicted — safe here because
    * arrival is in event-time order). The fourth streaming family
    * (after windows / dedup state / session merging) under the DuckDB
    * oracle: the result is the exact time-bounded join row multiset.
    */
  val q136: QueryDef = QueryDef.checked(
    "q136_streaming_interval_join",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events WHERE event_id < 2000)
      |SELECT c.user_id, c.ts_us AS click_us, v.ts_us AS view_us
      |FROM ev c JOIN ev v
      |  ON c.event_type = 'click' AND v.event_type = 'view'
      | AND c.user_id = v.user_id
      | AND v.ts_us BETWEEN c.ts_us - 86400000000 AND c.ts_us
      |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q136_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("ts_us").as("click_us"))
        .withWatermark("click_ts", "1 hour")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("ts_us").as("view_us"))
        .withWatermark("view_ts", "1 hour")
      clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 24 HOURS") &&
          col("view_ts") <= col("click_ts"))
        .select(col("user_id"), col("click_us"), col("view_us"))
    }
      .orderBy(col("user_id"), col("click_us"), col("view_us"))
  }

  /** q140: LEFT-OUTER stream-stream interval join — q136's click×view
    * join, but clicks with NO view in their trailing 24 h emit a
    * null-extended row. The semantics under test is state-EVICTION-
    * driven emission: an unmatched click can only emit once the
    * watermark proves no qualifying view can still arrive, so the
    * null rows surface in the batch after the watermark passes the
    * click's eviction bound — which is why the sentinel must flow
    * through BOTH watermarked branches here (filtered to its own
    * never-matching user −1): a branch that never sees the sentinel
    * holds the global watermark back and the unmatched rows never
    * emit. (q136's inner join only needed the watermark for cleanup,
    * so it could drop the sentinel before the join.) Oracle = the
    * batch LEFT JOIN under the same time bound.
    */
  val q140: QueryDef = QueryDef.checked(
    "q140_streaming_outer_interval_join",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events WHERE event_id < 2000)
      |SELECT c.user_id, c.ts_us AS click_us, v.ts_us AS view_us
      |FROM (SELECT user_id, ts_us FROM ev WHERE event_type = 'click') c
      |LEFT JOIN (SELECT user_id, ts_us FROM ev WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND v.ts_us BETWEEN c.ts_us - 86400000000 AND c.ts_us
      |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q140_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      val clicks = ev
        .filter(col("event_type") === "click" || col("event_type") === Sentinel)
        .select(col("user_id"), col("ts").as("click_ts"),
          col("ts_us").as("click_us"))
        .withWatermark("click_ts", "1 hour")
      val views = ev
        .filter(col("event_type") === "view" || col("event_type") === Sentinel)
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("ts_us").as("view_us"))
        .withWatermark("view_ts", "1 hour")
      clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 24 HOURS") &&
          col("view_ts") <= col("click_ts"),
        "left_outer")
        .select(col("user_id"), col("click_us"), col("view_us"))
    }
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("click_us"), col("view_us"))
  }

  /** q193: LEFT-SEMI stream-stream interval join — "clicks that HAD a
    * view in their trailing 24 h", emitted once per click, view columns
    * never surfaced. Completes the stream-stream join-type family
    * (inner q136, left-outer q140, semi here): semi is the
    * state-cheapest of the three — a click emits on its FIRST match and
    * its buffered row is done (no match multiplication, no
    * null-extension bookkeeping), which is why at 100 TB an existence
    * check should always be written as a semi join rather than
    * inner+distinct. The sentinel flows through both branches (as in
    * q140) so state finalizes; an unmatched click (and the sentinel
    * itself) simply never emits. Oracle = the distinct matched click
    * set via EXISTS.
    */
  val q193: QueryDef = QueryDef.checked(
    "q193_streaming_semi_interval_join",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events WHERE event_id < 2000)
      |SELECT c.user_id, c.ts_us AS click_us
      |FROM ev c
      |WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM ev v
      |  WHERE v.event_type = 'view' AND v.user_id = c.user_id
      |    AND v.ts_us BETWEEN c.ts_us - 86400000000 AND c.ts_us)
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q193_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      val clicks = ev
        .filter(col("event_type") === "click" || col("event_type") === Sentinel)
        .select(col("user_id"), col("ts").as("click_ts"),
          col("ts_us").as("click_us"))
        .withWatermark("click_ts", "1 hour")
      val views = ev
        .filter(col("event_type") === "view" || col("event_type") === Sentinel)
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 24 HOURS") &&
          col("view_ts") <= col("click_ts"),
        "left_semi")
        .select(col("user_id"), col("click_us"))
    }
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("click_us"))
  }

  /** q195: complete-mode streaming TOP-K — a live leaderboard (top-10
    * users by event count, ties broken by user id) re-emitted in full
    * every micro-batch. Complete mode is the ONLY streaming mode that
    * admits a global sort + limit (append/update cannot retract a
    * row that drops out of the top k; complete replaces the whole
    * result), so this certifies the sorted-output surface of the
    * output-mode family on top of q145's unsorted complete agg. State
    * is the per-user count map (bounded by user cardinality) — the
    * sort runs over the AGGREGATED frame, k rows survive.
    */
  val q195: QueryDef = QueryDef.checked(
    "q195_streaming_topk",
    """SELECT user_id, COUNT(*) AS n
      |FROM events WHERE event_id < 2000
      |GROUP BY 1 ORDER BY n DESC, user_id LIMIT 10""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q195_sink", outputMode = "complete",
      batchRows = 2 * BatchRows) { ev =>
      ev.filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(10)
    }
      .orderBy(col("n").desc, col("user_id"))
  }

  /** q145: COMPLETE-mode aggregation — per-(user, event_type) totals
    * re-emitted in full every micro-batch, no watermark: the state
    * lives for the query's lifetime and the memory sink's table is
    * REPLACED per batch, so the final table equals the batch GROUP BY
    * over everything that arrived. This certifies the third output
    * mode (q130 covers append, q131's dedup state updates in place):
    * unbounded keyed state retention and full-result re-emission.
    * The sentinel needs no special handling beyond its -1 user filter —
    * complete mode emits without watermark progress.
    */
  val q145: QueryDef = QueryDef.checked(
    "q145_streaming_complete_agg",
    """SELECT user_id, event_type, COUNT(*) AS n,
      |  MAX(epoch_ns(ts) // 1000) AS last_us
      |FROM events WHERE event_id < 2000
      |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q145_sink", outputMode = "complete",
      batchRows = 2 * BatchRows) { ev =>
      ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("ts_us")).as("last_us"))
    }
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q147: UPDATE-mode aggregation — per-user totals where each
    * micro-batch emits only the keys it CHANGED, and the memory sink
    * APPENDS every emission. Because the replay's batch boundaries are
    * fixed (BatchRows-sized chunks of the deterministic slice), both
    * facets are oracle-derivable: emissions per user = the number of
    * distinct batches containing that user (emit-on-change), and the
    * final total = max over emissions (counts are monotone) = the batch
    * GROUP BY. The oracle reconstructs batch indices with a
    * ROW_NUMBER over the same (ts, event_id) arrival order div
    * BatchRows. Completes the output-mode family: append (q130),
    * complete (q145), update (here).
    */
  val q147: QueryDef = QueryDef.checked(
    "q147_streaming_update_agg",
    s"""WITH ev AS (
      |  SELECT user_id,
      |    (ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1) // $BatchRows AS b
      |  FROM events WHERE event_id < 2000)
      |SELECT user_id, COUNT(DISTINCT b) AS n_emissions, COUNT(*) AS final_n
      |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q147_sink", outputMode = "update") { ev =>
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    }
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_emissions"), max(col("n")).as("final_n"))
      .orderBy(col("user_id"))
  }

  /** q149: the Kinesis DSv2 path under the driver oracle — a document
    * slice streamed OUT through the `graft-kinesis` sink into a
    * scripted in-memory stream service (4 shards, partition-key hash
    * routing), then streamed BACK IN through `graft-kinesis-source`
    * with a per-shard admission cap that forces multiple micro-batches.
    * Exactly-once in both directions means the decoded record multiset
    * equals the slice, which is precisely what the oracle checks.
    * shard_id / sequence_number / arrival_ts are deliberately NOT
    * projected: shard routing and sink-task interleaving are
    * scheduling-dependent; the record SET is not. (KinesisSourceSpec
    * pins the order/reshard/drain semantics those columns carry.)
    */
  val q149: QueryDef = QueryDef.checked(
    "q149_kinesis_roundtrip",
    "SELECT doc_id, lang FROM documents WHERE doc_id < 200 ORDER BY doc_id") {
    (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val stream = new graft.pipeline.FakeKinesisStream(nShards = 4)
    val client = s"q149-${java.util.UUID.randomUUID()}"
    graft.sources.KinesisClientRegistry.register(client, () => stream)
    val slice = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (s"${r.getLong(0)}:${r.getString(1)}".getBytes("UTF-8"),
        r.getLong(0).toString))
    val in = MemoryStream[(Array[Byte], String)]
    val wCkpt = java.nio.file.Files.createTempDirectory("graft-q149-w")
    val wq = in.toDF().toDF("data", "partition_key")
      .writeStream.format("graft-kinesis")
      .option("client", client)
      .option("checkpointLocation", wCkpt.toString)
      .start()
    try {
      slice.grouped(64).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        wq.processAllAvailable()
      }
    } finally { wq.stop(); rmTree(wCkpt) }
    val rCkpt = java.nio.file.Files.createTempDirectory("graft-q149-r")
    val rq = s.readStream.format("graft-kinesis-source")
      .option("client", client)
      .option("maxRecordsPerShardPerTrigger", "32")
      .load()
      .selectExpr("CAST(data AS STRING) AS payload")
      .writeStream.format("memory").queryName("graft_q149_sink")
      .option("checkpointLocation", rCkpt.toString)
      .start()
    try rq.processAllAvailable() finally { rq.stop(); rmTree(rCkpt) }
    s.table("graft_q149_sink")
      .select(
        split(col("payload"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("payload"), ":").getItem(1).as("lang"))
      .orderBy(col("doc_id"))
    }
  }

  /** q151: ARBITRARY stateful processing under the oracle — the same
    * two facets q147 certifies for the built-in agg (emit-on-change per
    * batch; monotone totals), but through `mapGroupsWithState` with a
    * user-defined state tuple (count, max-ts): the hand-rolled state
    * must agree with SQL exactly. Deterministic because both state
    * folds are order-independent (sum, max) — the TTL-dedup analysis
    * (NOTES_r5) showed order-DEPENDENT processors cannot go under the
    * oracle; this is the order-free representative of the
    * q131/flatMapGroupsWithState family. No timeout, no watermark:
    * state lives for the query lifetime like q145.
    */
  val q151: QueryDef = QueryDef.checked(
    "q151_stateful_running_counts",
    s"""WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
      |    (ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1) // $BatchRows AS b
      |  FROM events WHERE event_id < 2000)
      |SELECT user_id, COUNT(DISTINCT b) AS n_emissions, COUNT(*) AS final_n,
      |  MAX(ts_us) AS last_us
      |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q151_sink", outputMode = "update") { ev =>
      val sess = ev.sparkSession
      import sess.implicits._
      ev.select(col("user_id"), col("ts_us")).as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          (user, rows, state) =>
            var c = 0L
            var m = Long.MinValue
            rows.foreach { r => c += 1; m = math.max(m, r._2) }
            val (pc, pm) = state.getOption.getOrElse((0L, Long.MinValue))
            val next = (pc + c, math.max(pm, m))
            state.update(next)
            (user, next._1, next._2)
        }
        .toDF("user_id", "n", "last_us")
    }
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_emissions"), max(col("n")).as("final_n"),
        max(col("last_us")).as("last_us"))
      .orderBy(col("user_id"))
  }

  /** q293's StatefulProcessor — the Spark-4 `transformWithState`
    * arbitrary-state API (the successor to q151's mapGroupsWithState),
    * exercising all THREE typed state variables per user key:
    * a ValueState running total, a MapState of per-event-type counts,
    * and a ListState holding the last 3 micro-batch timestamp maxima
    * (batch maxima, not raw arrivals, so the emission is invariant to
    * the per-key iterator order within a batch — the q151 order-safety
    * discipline). One emission per (user, batch-with-data) in update
    * mode. TimeMode.None / TTLConfig.NONE: timers and TTL expiry are
    * wall-clock-dependent and cannot sit under a deterministic hash
    * oracle (see the object header). StreamingSpec pins the same
    * processor on hand-computed batches.
    */
  private[graft] class TwsUserLedger
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String), (Long, Long, Long, Long, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode,
      TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var n: ValueState[Long] = _
    @transient private var perType: MapState[String, Long] = _
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      perType = getHandle.getMapState[String, Long](
        "perType", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      recent = getHandle.getListState[Long](
        "recent", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
      var c = 0L
      var bmax = Long.MinValue
      rows.foreach { case (_, tsUs, tpe) =>
        c += 1
        if (tsUs > bmax) bmax = tsUs
        val prev = if (perType.containsKey(tpe)) perType.getValue(tpe) else 0L
        perType.updateValue(tpe, prev + 1L)
      }
      val total = (if (n.exists()) n.get() else 0L) + c
      n.update(total)
      val last3 = (recent.get().toSeq :+ bmax).takeRight(3)
      recent.clear()
      last3.foreach(recent.appendValue)
      var nTypes = 0L
      var topN = 0L
      perType.values().foreach { v => nTypes += 1; if (v > topN) topN = v }
      Iterator.single((user, total, nTypes, topN, last3.sum))
    }
  }

  /** q293: `transformWithState` under the driver oracle — the Spark-4
    * arbitrary-state operator run end to end on the RocksDB provider
    * (which the API requires; the q158 isolated-session discipline
    * keeps the provider conf from leaking into the shared session).
    * The oracle replays the per-batch emission structure from the
    * deterministic slice chunking: emissions per user = batches
    * containing that user; the final readout columns (running total,
    * distinct types, hottest type count, last-3-batch maxima sum)
    * each replay one of the three state variables, so a broken
    * ValueState/MapState/ListState round trip through RocksDB breaks
    * a different column's hash.
    */
  val q293: QueryDef = QueryDef.checked(
    "q293_tws_user_ledger",
    s"""WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
      |    (ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1) // $BatchRows AS b
      |  FROM events WHERE event_id < 2000),
      |bm AS (SELECT user_id, b, MAX(ts_us) AS bmax FROM ev GROUP BY 1, 2),
      |l3 AS (
      |  SELECT user_id, CAST(SUM(bmax) AS BIGINT) AS last3_sum FROM (
      |    SELECT user_id, bmax,
      |      row_number() OVER (PARTITION BY user_id ORDER BY b DESC) AS rn
      |    FROM bm) WHERE rn <= 3 GROUP BY 1),
      |tt AS (
      |  SELECT user_id, CAST(MAX(n) AS BIGINT) AS top_type_n FROM (
      |    SELECT user_id, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT ev.user_id, COUNT(DISTINCT ev.b) AS n_emissions,
      |  COUNT(*) AS final_n,
      |  CAST(COUNT(DISTINCT ev.event_type) AS BIGINT) AS n_types,
      |  MAX(tt.top_type_n) AS top_type_n, MAX(l3.last3_sum) AS last3_sum
      |FROM ev JOIN tt USING (user_id) JOIN l3 USING (user_id)
      |GROUP BY ev.user_id ORDER BY ev.user_id""".stripMargin) { (s, d) =>
    val iso = s.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    runToCompletion(iso, d, "graft_q293_sink", outputMode = "update") { ev =>
      val sess = ev.sparkSession
      import sess.implicits._
      ev.select(col("user_id"), col("ts_us"), col("event_type"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TwsUserLedger,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n", "n_types", "top_type_n", "last3_sum")
    }
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_emissions"),
        max(col("n")).as("final_n"),
        expr("max_by(n_types, n)").as("n_types"),
        expr("max_by(top_type_n, n)").as("top_type_n"),
        expr("max_by(last3_sum, n)").as("last3_sum"))
      .orderBy(col("user_id"))
  }

  /** q153: the reference's OWN source shape under the driver oracle —
    * the `graft-tail` DSv2 file-tail source (S1, the reference's core:
    * tail log files, frame lines) reading a document slice written as
    * `doc_id:lang` lines across three `.log` files, with the second
    * half APPENDED after the first pass so the growth/tail-follow path
    * (per-file byte offsets advancing across micro-batches) is what
    * produces the rows, not a one-shot read. Every line is
    * newline-terminated (the source holds back EOF-partial lines by
    * design — TailSourceSpec owns that semantics). Exactly-once over
    * the offsets means the parsed multiset equals the slice; the
    * file-assignment (doc_id % 3) and arrival order are deliberately
    * invisible to the projection.
    */
  val q153: QueryDef = QueryDef.checked(
    "q153_tail_source_roundtrip",
    "SELECT doc_id, lang FROM documents WHERE doc_id < 200 ORDER BY doc_id") {
    (s, d) =>
    withChecksumOff(s) {
    val rows = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = java.nio.file.Files.createTempDirectory("graft-q153")
    def append(slice: Array[(Long, String)]): Unit =
      slice.groupBy(_._1 % 3).foreach { case (f, part) =>
        java.nio.file.Files.writeString(root.resolve(s"docs-$f.log"),
          part.map { case (id, lang) => s"$id:$lang\n" }.mkString,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q153-ckpt")
    append(rows.take(100))
    val q = s.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log")
      .load()
      .writeStream.format("memory").queryName("graft_q153_sink")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable()
      append(rows.drop(100)) // the tail-follow half: files GROW mid-query
      q.processAllAvailable()
    } finally { q.stop(); rmTree(ckpt); rmTree(root) }
    s.table("graft_q153_sink")
      .select(split(col("value"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("value"), ":").getItem(1).as("lang"))
      .orderBy(col("doc_id"))
    }
  }

  /** q138: STREAM-STATIC enrichment join — each streamed event joined
    * to its user's customer-dimension row (segment, nation), the
    * canonical streaming dim-join. Stateless: the static side is a
    * broadcast-sized batch frame re-resolvable every micro-batch, so
    * no watermark or state store is involved and every inner match
    * emits in the batch its event arrives — the result is the exact
    * batch join row multiset regardless of batch boundaries. The
    * sentinel (user_id −1) falls out of the inner join; no filter
    * needed. At 100 TB the stream side is per-partition and the dim
    * side broadcasts once per trigger — a non-broadcastable dim would
    * shuffle every micro-batch and belongs in a keyed-state design
    * instead.
    */
  val q138: QueryDef = QueryDef.checked(
    "q138_stream_static_join",
    """SELECT epoch_ns(e.ts) // 1000 AS ts_us, e.user_id, e.event_type,
      |  c.c_mktsegment AS segment, c.c_nationkey AS nationkey
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE e.event_id < 2000
      |ORDER BY ts_us, user_id, event_type""".stripMargin) { (s, d) =>
    val dim = Tables.customer(s, d).select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment"), col("c_nationkey").as("nationkey"))
    runToCompletion(s, d, "graft_q138_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      ev.join(broadcast(dim), Seq("user_id"))
        .select(col("ts_us"), col("user_id"), col("event_type"),
          col("segment"), col("nationkey"))
    }
      .orderBy(col("ts_us"), col("user_id"), col("event_type"))
  }

  val q131: QueryDef = QueryDef.checked(
    "q131_streaming_dedup_keys",
    """SELECT DISTINCT user_id, event_type
      |FROM events WHERE event_id < 2000
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    runToCompletion(s, d, "graft_q131_sink", outputMode = "append",
      batchRows = 2 * BatchRows) { ev =>
      ev.dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }
      .filter(col("event_type") =!= Sentinel)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q229: STATEFUL restart recovery on the RocksDB provider with
    * CHANGELOG checkpointing — the composition none of q158/q173 shows
    * alone. q173's restart certifies offset/WAL replay through a
    * STATELESS pipeline; q158 certifies RocksDB state in ONE query
    * life. Here a watermarked window aggregation is stopped MID-SLICE
    * (windows still open, partial counts live only in RocksDB state)
    * and a new query resumes from the same checkpoint: with changelog
    * checkpointing the provider reloads the last snapshot + replays
    * the changelog to the committed batch, so the restored counts must
    * continue exactly — any lost/doubled state row shows up in the
    * final window totals and fails the hash. The sink is the q167
    * idempotent foreachBatch parquet writer (the memory sink is
    * rebuilt empty on restart and cannot certify this), append mode,
    * so each closed window is committed exactly once across the two
    * query generations. Runs in an ISOLATED newSession (q158's
    * scoping) so neither the provider nor changelog conf leaks.
    * Oracle = q130's plain window-count SQL: the backend, the restart,
    * and the checkpoint mechanics must all be semantically invisible.
    */
  val q229: QueryDef = QueryDef.checked(
    "q229_rocksdb_changelog_restart",
    """SELECT (epoch_ns(ts) // 1000 // 600000000) * 600000000 AS w_start_us,
      |  event_type, COUNT(*) AS n
      |FROM events WHERE event_id < 2000
      |GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin) { (s, d) =>
    val iso = s.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    iso.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    implicit val sqlc: org.apache.spark.sql.SQLContext = iso.sqlContext
    import iso.implicits._
    withChecksumOff(iso) {
    val rows = slice(iso, d)
    val maxTs = rows.iterator.map(_._1).max
    val sentinelTs = maxTs + 80L * 60L * 1000000L
    val root = Exact.scratchDir("q229", "rocksrestart_").toAbsolutePath.toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q229-ckpt")
    val in = MemoryStream[(Long, Long, String)]
    val write = graft.streaming.StreamingOps.idempotentBatchWriter(root)
    def startQuery() =
      in.toDF().toDF("ts_us", "user_id", "event_type")
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("w_start_us"),
          col("event_type"), col("n"))
        .writeStream
        .foreachBatch((df: DataFrame, id: Long) => write(df, id))
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .start()
    val (firstHalf, secondHalf) = rows.splitAt(rows.size / 2)
    val q1 = startQuery()
    try {
      firstHalf.grouped(BatchRows).foreach { chunk =>
        in.addData(chunk: _*)
        q1.processAllAvailable()
      }
    } finally q1.stop() // failure point: open windows live ONLY in RocksDB
    val q2 = startQuery() // same checkpoint: snapshot + changelog replay
    try {
      secondHalf.grouped(BatchRows).foreach { chunk =>
        in.addData(chunk: _*)
        q2.processAllAvailable()
      }
      in.addData((sentinelTs, -1L, Sentinel))
      q2.processAllAvailable()
    } finally { q2.stop(); rmTree(ckpt) }
    val dirs = graft.streaming.StreamingOps.committedBatches(root)
    iso.read.parquet(dirs: _*)
      .filter(col("event_type") =!= Sentinel)
      .select(col("w_start_us"), col("event_type"), col("n"))
      .orderBy(col("w_start_us"), col("event_type"))
    }
  }

  /** q230: CHAINED stateful operators — two event-time window
    * aggregations in ONE streaming query (10-minute counts per type,
    * re-aggregated into hourly totals/max/active-bucket counts), the
    * multi-stateful-operator support Spark added in 3.4 (unsupported
    * before: a second stateful op after an agg was rejected at
    * analysis). The first agg's output carries its window struct as
    * the event-time column; the second windows OVER that struct
    * (window-of-window), and the watermark propagates through both
    * state stores — a 10-min bucket only feeds its hour once it is
    * itself finalized, and the hour only emits once the watermark
    * clears its end. This is the streaming form of the map-side
    * partial + reduce-side final rollup every 100 TB metrics pipeline
    * wants: the wide keyed state (per 10-min bucket) collapses before
    * the coarse rollup, instead of the hourly agg buffering raw rows.
    * Oracle = the nested batch GROUP BY over the slice.
    */
  val q230: QueryDef = QueryDef.checked(
    "q230_streaming_chained_aggs",
    """WITH b AS (
      |  SELECT (epoch_ns(ts) // 1000 // 600000000) * 600000000 AS b_us,
      |    event_type, COUNT(*) AS n
      |  FROM events WHERE event_id < 2000
      |  GROUP BY 1, 2)
      |SELECT (b_us // 3600000000) * 3600000000 AS h_start_us, event_type,
      |  CAST(SUM(n) AS BIGINT) AS n_events, MAX(n) AS max_bucket_n,
      |  COUNT(*) AS n_buckets
      |FROM b GROUP BY 1, 2
      |ORDER BY h_start_us, event_type""".stripMargin) { (s, d) =>
    // nSentinels = 2: the agg→agg chain is two stateful operators deep,
    // and the watermark advances one operator per batch (see
    // runToCompletion's doc) — one sentinel round relied on the trailing
    // no-data batch propagating before stop(), a flush race.
    runToCompletion(s, d, "graft_q230_sink", outputMode = "append",
      sentinelLeadMinutes = 140L, nSentinels = 2) { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(col("w"), "1 hour").as("h"), col("event_type"))
        .agg(sum(col("n")).as("n_events"), max(col("n")).as("max_bucket_n"),
          count(lit(1)).as("n_buckets"))
        .select(unix_micros(col("h.start")).as("h_start_us"),
          col("event_type"), col("n_events"), col("max_bucket_n"),
          col("n_buckets"))
    }
      .filter(col("event_type") =!= Sentinel)
      .orderBy(col("h_start_us"), col("event_type"))
  }

  /** q236: streaming DEAD-LETTER routing — one stream, two sinks: every
    * micro-batch splits into parsed-ok rows and malformed lines, each
    * written to its own idempotent parquet root (q68's JSON quarantine
    * is the batch form; this is the streaming form every production
    * ingest runs — malformed input must land in a DLQ for replay, never
    * poison the main sink, never be dropped). Per batch the foreachBatch
    * body persists the frame once, filters it both ways, and commits
    * each sink with its own marker: the two sinks advance independently
    * but a replayed batch (crash between the writes) dedupes on both
    * marker sets, so conservation — every input line lands in exactly
    * one sink exactly once — survives restarts; and conservation is
    * precisely what the oracle hashes (malformation rule: doc_id % 17
    * picks the planted bad lines, `|` instead of `:`).
    */
  val q236: QueryDef = QueryDef.checked(
    "q236_streaming_deadletter",
    """SELECT CAST(doc_id AS VARCHAR) || ':' || lang AS line, 'ok' AS status
      |FROM documents WHERE doc_id < 200 AND doc_id % 17 != 0
      |UNION ALL
      |SELECT CAST(doc_id AS VARCHAR) || '|' || lang, 'dlq'
      |FROM documents WHERE doc_id < 200 AND doc_id % 17 = 0
      |ORDER BY 2, 1""".stripMargin) { (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val lines = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang")).collect()
      .map { r =>
        val (id, lang) = (r.getLong(0), r.getString(1))
        if (id % 17 == 0) s"$id|$lang" else s"$id:$lang"
      }
    val okRoot = Exact.scratchDir("q236ok", "dlqok_").toAbsolutePath.toString
    val dlqRoot = Exact.scratchDir("q236dlq", "dlqbad_").toAbsolutePath.toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q236-ckpt")
    val in = MemoryStream[String]
    val writeOk = graft.streaming.StreamingOps.idempotentBatchWriter(okRoot)
    val writeDlq = graft.streaming.StreamingOps.idempotentBatchWriter(dlqRoot)
    val q = in.toDF().toDF("line")
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val batch = df.persist()
        try {
          writeOk(batch.filter(col("line").contains(":")), id)
          writeDlq(batch.filter(!col("line").contains(":")), id)
        } finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      lines.grouped(64).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally { q.stop(); rmTree(ckpt) }
    def readSide(root: String, status: String) = {
      val dirs = graft.streaming.StreamingOps.committedBatches(root)
      if (dirs.isEmpty) s.emptyDataFrame.select(lit("").as("line"))
        .limit(0).withColumn("status", lit(status))
      else s.read.parquet(dirs: _*).select(col("line"), lit(status).as("status"))
    }
    readSide(okRoot, "ok").unionByName(readSide(dlqRoot, "dlq"))
      .orderBy(col("status"), col("line"))
    }
  }

  /** q239: FULL-OUTER stream-stream interval join — the last member of
    * the family (inner q136, left-outer q140, semi q193): unmatched
    * rows on BOTH sides emit null-extended once the watermark proves no
    * counterpart can arrive — clicks with no trailing view AND views no
    * click ever referenced. Both null-extension bookkeepings are live
    * at once, which is the state shape the other three don't exercise.
    * The output key is COALESCE(click user, view user) — exactly one
    * side is null on unmatched rows. Sentinel flows through both
    * branches (q140's rule) and its own unmatched emissions are
    * filtered by the coalesced key.
    */
  val q239: QueryDef = QueryDef.checked(
    "q239_streaming_full_outer_interval_join",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events WHERE event_id < 2000)
      |SELECT COALESCE(c.user_id, v.user_id) AS user_id,
      |  c.ts_us AS click_us, v.ts_us AS view_us
      |FROM (SELECT user_id, ts_us FROM ev WHERE event_type = 'click') c
      |FULL JOIN (SELECT user_id, ts_us FROM ev WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND v.ts_us BETWEEN c.ts_us - 86400000000 AND c.ts_us
      |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    // Sentinel lead: a VIEW can still match clicks arriving up to 24 h
    // after it (the condition read from the view side), so view-state
    // eviction — and with it the null-extended emission — needs the
    // watermark past view_ts + 24 h + delay; q140's 80-min default only
    // covers the CLICK side's trailing range and would strand every
    // unmatched view in the last day of the slice.
    runToCompletion(s, d, "graft_q239_sink", outputMode = "append",
      sentinelLeadMinutes = 24L * 60L + 140L, batchRows = 2 * BatchRows) { ev =>
      val clicks = ev
        .filter(col("event_type") === "click" || col("event_type") === Sentinel)
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("ts_us").as("click_us"))
        .withWatermark("click_ts", "1 hour")
      val views = ev
        .filter(col("event_type") === "view" || col("event_type") === Sentinel)
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("ts_us").as("view_us"))
        .withWatermark("view_ts", "1 hour")
      clicks.join(views,
        col("c_user") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 24 HOURS") &&
          col("view_ts") <= col("click_ts"),
        "full_outer")
        .select(coalesce(col("c_user"), col("v_user")).as("user_id"),
          col("click_us"), col("view_us"))
    }
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("click_us"), col("view_us"))
  }

  /** q240: streaming OBSERVED METRICS under the oracle — `observe()`
    * publishes per-batch aggregates through QueryProgress without a
    * second pass over the stream (q150 is the batch form; in streaming
    * this is how a pipeline self-reports row counts / checksums for
    * reconciliation without a shadow aggregation holding state). The
    * replay's fixed 500-row chunks make batch MEMBERSHIP deterministic,
    * so the per-batch metric rows are a pure function of the slice and
    * the oracle can rebuild them from row numbers: batch = rn div 500
    * in (ts, event_id) order. Stateless — no watermark or sentinel.
    */
  val q240: QueryDef = QueryDef.checked(
    "q240_streaming_observe",
    s"""WITH ordered AS (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER (ORDER BY epoch_ns(ts), event_id) - 1 AS rn
      |  FROM events WHERE event_id < 2000)
      |SELECT rn // $BatchRows AS batch_id, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
      |FROM ordered GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val rows = slice(s, d)
    val in = MemoryStream[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q240-ckpt")
    val q = in.toDF().toDF("ts_us", "user_id", "event_type")
      .observe("q240", count(lit(1)).as("n"),
        sum(col("user_id")).as("sum_uid"))
      .writeStream.format("memory").queryName("graft_q240_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    val observed = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    try {
      val chunks = rows.grouped(BatchRows).toSeq
      chunks.foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      // Progress PUBLICATION is not strictly ordered with the commit
      // wait processAllAvailable performs: polling lastProgress inside
      // the feed loop can read the PREVIOUS batch's entry (or a map
      // without the 'q240' key → NPE). Collect from recentProgress
      // keyed by batchId instead, and poll until every data batch's
      // metrics are visible — batch membership is deterministic (fixed
      // 500-row chunks), so the expected count is exact.
      def collect(): Map[Long, org.apache.spark.sql.Row] =
        q.recentProgress.toSeq
          .filter(p => p.numInputRows > 0 &&
            Option(p.observedMetrics).exists(_.containsKey("q240")))
          .map(p => p.batchId -> p.observedMetrics.get("q240"))
          .toMap
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = collect()
      while (got.size < chunks.size && System.nanoTime() < deadline) {
        Thread.sleep(50); got = collect()
      }
      require(got.size == chunks.size,
        s"q240: observed metrics for ${got.size}/${chunks.size} batches")
      got.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((_, m), i) =>
        observed += ((i.toLong, m.getAs[Long]("n"), m.getAs[Long]("sum_uid")))
      }
    } finally { q.stop(); rmTree(ckpt) }
    observed.toSeq.toDF("batch_id", "n", "sum_uid")
      .orderBy(col("batch_id"))
    }
  }

  /** q244: LATE-DATA SIDE OUTPUT — the accounting Spark's aggregations
    * do NOT give you: rows older than the watermark are silently
    * dropped by stateful operators, so a production ingest that must
    * never lose data routes them instead — the foreachBatch split
    * below is the standard construction (there is no native late-row
    * side channel; this is the documented workaround, same family as
    * q236's malformed-row DLQ). Arrival is deliberately OUT of
    * event-time order (a pinned shuffle: order by event_id % 7 then
    * time) — in-order replay would make lateness vacuous. The
    * watermark is tracked driver-side as max-event-time-so-far − 1 h
    * over COMPLETED batches, exactly the engine's definition, and with
    * fixed 500-row chunks both batch membership and the per-batch
    * watermark are pure functions of the slice — so the oracle can
    * replay the classification: late iff ts < (running max of prior
    * batches' max ts) − 1 h.
    */
  val q244: QueryDef = QueryDef.checked(
    "q244_late_data_routing",
    s"""WITH ordered AS (
      |  SELECT event_type, epoch_ns(ts) // 1000 AS ts_us,
      |    ROW_NUMBER() OVER (ORDER BY event_id % 7, epoch_ns(ts), event_id)
      |      - 1 AS rn
      |  FROM events WHERE event_id < 2000),
      |b AS (SELECT event_type, ts_us, rn // $BatchRows AS batch
      |  FROM ordered),
      |bm AS (SELECT batch, MAX(ts_us) AS bmax FROM b GROUP BY batch),
      |wm AS (
      |  SELECT batch,
      |    MAX(bmax) OVER (ORDER BY batch
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - 3600000000 AS w
      |  FROM bm)
      |SELECT CASE WHEN w IS NOT NULL AND ts_us < w THEN 'late'
      |  ELSE 'ontime' END AS status, event_type, COUNT(*) AS n
      |FROM b JOIN wm USING (batch)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val rows = Tables.events(s, d)
      .filter(col("event_id") < SliceMax)
      .orderBy(expr("event_id % 7"), col("ts_ns"), col("event_id"))
      .select(expr("ts_ns div 1000"), col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq
    val onRoot = Exact.scratchDir("q244on", "lateon_").toAbsolutePath.toString
    val lateRoot = Exact.scratchDir("q244late", "latedlq_")
      .toAbsolutePath.toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q244-ckpt")
    val in = MemoryStream[(Long, Long, String)]
    val writeOn = graft.streaming.StreamingOps.idempotentBatchWriter(onRoot)
    val writeLate = graft.streaming.StreamingOps.idempotentBatchWriter(lateRoot)
    @volatile var wm = Long.MinValue
    val q = in.toDF().toDF("ts_us", "user_id", "event_type")
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val w = wm // snapshot: the watermark the engine knew ENTERING the batch
        val batch = df.persist()
        try {
          writeOn(batch.filter(col("ts_us") >= w), id)
          writeLate(batch.filter(col("ts_us") < w), id)
        } finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      rows.grouped(BatchRows).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
        wm = math.max(wm, chunk.iterator.map(_._1).max - 3600000000L)
      }
    } finally { q.stop(); rmTree(ckpt) }
    def readSide(root: String, status: String) = {
      val dirs = graft.streaming.StreamingOps.committedBatches(root)
      // q236's empty-dirs fallback: a slice/SF where one side receives
      // zero rows must read as zero counts, not a parquet path error.
      if (dirs.isEmpty)
        s.emptyDataFrame.select(lit("").as("event_type"))
          .limit(0).withColumn("status", lit(status))
      else s.read.parquet(dirs: _*)
        .select(col("event_type"), lit(status).as("status"))
    }
    readSide(onRoot, "ontime").unionByName(readSide(lateRoot, "late"))
      .groupBy(col("status"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"), col("event_type"))
    }
  }

  /** q249: dropDuplicatesWithinWatermark under the oracle — S4's
    * state-BOUNDED streaming dedup (q131's dropDuplicates holds every
    * key forever; production dedup must evict or state grows without
    * bound), previously spec-only because the semantics looked
    * order-coupled. They are replayable; probed and pinned this round:
    * a key admitted at event time T expires at T + delay; duplicates
    * arriving while present are dropped and do NOT extend the expiry;
    * the key is evicted once watermark ≥ expiry (NON-strict — measured
    * at the exact boundary); all arithmetic in MILLISECONDS (event
    * times truncate µs→ms before both the expiry and the watermark).
    * Determinism recipe: event-time-ordered arrival (no late drops),
    * and the replay thins each 500-row chunk to the FIRST row per key
    * (≤1 row per key per batch ⇒ the kept row's identity — whose ts
    * seeds the next expiry — is exact, not shuffle-order-dependent; a
    * second same-batch duplicate is q131's already-certified case).
    * The oracle replays the recursion per key with a recursive CTE
    * over (key, occurrence#): wm(b) = running max of prior thinned
    * batches' max t_ms − delay; emitted iff first occurrence or
    * wm ≥ expiry. Emission is immediate (no watermark-gated output),
    * so no sentinel.
    */
  val q249: QueryDef = QueryDef.checked(
    "q249_dedup_within_watermark",
    s"""WITH RECURSIVE ordered AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
      |    ROW_NUMBER() OVER (ORDER BY epoch_ns(ts), event_id) - 1 AS rn
      |  FROM events WHERE event_id < 2000),
      |chunked AS (
      |  SELECT user_id, event_type, ts_us, rn, rn // $BatchRows AS batch
      |  FROM ordered),
      |thin AS (
      |  SELECT user_id, event_type, ts_us, batch,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, batch
      |      ORDER BY rn) AS drn
      |  FROM chunked),
      |rows_k AS (
      |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k,
      |    user_id, event_type, ts_us, batch, ts_us // 1000 AS t_ms,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY batch) AS krn
      |  FROM thin WHERE drn = 1),
      |bm AS (SELECT batch, MAX(t_ms) AS bmax FROM rows_k GROUP BY batch),
      |wm AS (
      |  SELECT batch,
      |    MAX(bmax) OVER (ORDER BY batch
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - 7200000 AS w
      |  FROM bm),
      |st(k, krn, expiry, emitted, user_id, event_type, ts_us) AS (
      |  SELECT k, krn, t_ms + 7200000, TRUE, user_id, event_type, ts_us
      |  FROM rows_k WHERE krn = 1
      |  UNION ALL
      |  SELECT r.k, r.krn,
      |    CASE WHEN w.w >= s.expiry THEN r.t_ms + 7200000
      |      ELSE s.expiry END,
      |    w.w IS NOT NULL AND w.w >= s.expiry,
      |    r.user_id, r.event_type, r.ts_us
      |  FROM st s JOIN rows_k r ON r.k = s.k AND r.krn = s.krn + 1
      |  JOIN wm w ON w.batch = r.batch)
      |SELECT user_id, event_type, ts_us FROM st WHERE emitted
      |ORDER BY user_id, event_type, ts_us""".stripMargin) { (s, d) =>
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    withChecksumOff(s) {
    val raw = slice(s, d)
    val chunks = raw.grouped(BatchRows).map { c =>
      val seen = scala.collection.mutable.HashSet.empty[(Long, String)]
      c.filter(r => seen.add((r._2, r._3)))
    }.toSeq
    val in = MemoryStream[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q249-ckpt")
    val q = in.toDF().toDF("ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("ts_us"))
      .writeStream.format("memory").queryName("graft_q249_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      chunks.foreach { c =>
        in.addData(c: _*)
        q.processAllAvailable()
      }
    } finally { q.stop(); rmTree(ckpt) }
    s.table("graft_q249_sink")
      .orderBy(col("user_id"), col("event_type"), col("ts_us"))
    }
  }

  /** q252: CHAINED join → aggregation in one streaming query — the
    * other multi-stateful composition (q230 chains agg → agg): a
    * stream-stream interval join (q136's click×trailing-view) feeds a
    * windowed count of join PAIRS per click hour, two different state
    * operator types in one plan (join buffers + window agg state),
    * which Spark only admits since the 3.4 multi-stateful lift. The
    * watermark the agg sees is the join's OUTPUT watermark — delayed
    * by the join's 24 h time range (state-cleanup correctness), so the
    * sentinel lead must clear range + window + delay (27 h here; the
    * q239 lesson one operator deeper), and TWO sentinel rounds let the
    * advance propagate operator by operator. The sentinel's
    * self-match must NOT be filtered between the join and the agg:
    * a `user != -1` there is predicate-pushed below BOTH branches'
    * EventTimeWatermark collectors (it references the join key), the
    * sentinel rows then never reach the stats, and the watermark
    * freezes at the last real batch — measured, the probe watermark
    * stuck at min(cts, vts) of batch 1 forever. Instead the sentinel's
    * far-future windows are cut from the RESULT (they cannot overlap
    * real hours by construction).
    */
  val q252: QueryDef = QueryDef.checked(
    "q252_streaming_join_then_agg",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events WHERE event_id < 2000),
      |j AS (
      |  SELECT c.ts_us AS click_us
      |  FROM ev c JOIN ev v
      |    ON c.event_type = 'click' AND v.event_type = 'view'
      |   AND c.user_id = v.user_id
      |   AND v.ts_us BETWEEN c.ts_us - 86400000000 AND c.ts_us)
      |SELECT (click_us // 3600000000) * 3600000000 AS h_start_us,
      |  COUNT(*) AS n_pairs
      |FROM j GROUP BY 1 ORDER BY h_start_us""".stripMargin) { (s, d) =>
    val maxHourUs = Tables.events(s, d).filter(col("event_id") < SliceMax)
      .agg(max(expr("(ts_ns div 1000 div 3600000000) * 3600000000")))
      .head().getLong(0)
    runToCompletion(s, d, "graft_q252_sink", outputMode = "append",
      sentinelLeadMinutes = 27L * 60L, nSentinels = 2,
      batchRows = 2 * BatchRows) { ev =>
      val clicks = ev
        .filter(col("event_type") === "click" || col("event_type") === Sentinel)
        .select(col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val views = ev
        .filter(col("event_type") === "view" || col("event_type") === Sentinel)
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      clicks.join(views,
          col("user_id") === col("v_user") &&
            col("view_ts") >= col("click_ts") - expr("INTERVAL 24 HOURS") &&
            col("view_ts") <= col("click_ts"))
        .groupBy(window(col("click_ts"), "1 hour").as("h"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(unix_micros(col("h.start")).as("h_start_us"),
          col("n_pairs"))
    }
      .filter(col("h_start_us") <= maxHourUs) // drop sentinel windows
      .orderBy(col("h_start_us"))
  }
}
