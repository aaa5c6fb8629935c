package graft.sources

import java.io.RandomAccessFile
import java.nio.file.{Files, Path, Paths}
import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `tail --follow=name --retry` as a DSv2 micro-batch source — the one
  * operator the reference has that Spark's file source genuinely lacks
  * (S1, SURVEY.md §2.1): Spark's `text` source tracks whole files
  * (immutable once seen); tailing a GROWING file needs per-file BYTE
  * offsets in the stream offset. This source:
  *
  *  - discovers files under `path` recursively, matching `glob` against
  *    basenames only (reference: filepath.Walk + filepath.Match,
  *    main.go:291-313) — every micro-batch, so new/late files appear
  *    exactly like `--retry` + the 60s dir rescan (main.go:279-322);
  *  - offsets are a JSON map file→byteOffset checkpointed by the engine
  *    (restart-safe, exactly-once per micro-batch);
  *  - emits only complete lines; the partial tail line stays unread until
  *    its newline arrives (a deliberate improvement over the reference,
  *    which can split a line in two envelopes on an EOF race,
  *    main.go:238-245 — documented delta; `emitEofPartial=true` opts into
  *    the reference's exact split-at-EOF behavior for byte-level parity);
  *  - survives truncation/rotation: size < committed offset → reread from
  *    0 (the `--follow=name` semantics).
  *
  * Scale: each micro-batch packs its per-file byte ranges into at most
  * one task per core (`defaultParallelism`), largest range first, so N
  * tailed files cost a handful of tasks per trigger rather than N
  * serial waves, and each task's sink producer fills full batches. A
  * file's range is never split across tasks, so lines keep their file
  * order within each file; a burst on one file stays one range per
  * batch, bounded by `maxBytesPerFilePerBatch`.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-tail")
  *     .option("path", "/var/log").option("glob", "*.log").load()
  *   // → schema: value STRING, path STRING
  * }}}
  */
class TailTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tail"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TailSource.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TailTable(new CaseInsensitiveStringMap(properties))
}

object TailSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("path", StringType, nullable = false)))

  /** Hard bound on one reader's byte range (1 GiB): the reader holds the
    * range in a single Array[Byte], so the per-file batch cap must stay
    * far below Int.MaxValue (range + adopted line fragment).
    */
  val MaxRangeBytes: Long = 1L << 30

  /** Recursive listing, basename glob (filepath.Match semantics). */
  def listFiles(root: String, glob: String): Seq[Path] = {
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) return Nil // --retry: root may appear later
    val matcher = rootPath.getFileSystem.getPathMatcher(s"glob:$glob")
    val out = mutable.ArrayBuffer[Path]()
    val stream = Files.walk(rootPath)
    try {
      stream.iterator().asScala.foreach { p =>
        if (Files.isRegularFile(p) && matcher.matches(p.getFileName)) out += p
      }
    } catch {
      // a file unlinked (rotation) mid-walk throws from the iterator;
      // a partial listing is fine — the absence counters tolerate a
      // transiently-missing file and the next trigger re-lists (the
      // same race statSizes guards per-file)
      case _: java.io.UncheckedIOException => ()
    } finally stream.close()
    out.sortBy(_.toString).toSeq
  }

  /** Longest-processing-time-first packing: ranges sorted by byte length,
    * largest first (path breaks ties), each assigned to the least-loaded
    * of `min(#ranges, slots)` bins (the lowest index on ties). The largest
    * bin is within 4/3 of the optimal makespan; bin 0 holds the largest
    * range, so it is scheduled first. Deterministic for equal inputs.
    */
  private[sources] def pack(ranges: Seq[TailRange], slots: Int): Seq[Seq[TailRange]] = {
    val n = math.min(ranges.size, slots)
    val bins = Array.fill(n)(mutable.ArrayBuffer[TailRange]())
    val load = new Array[Long](n)
    ranges.sortBy(r => (-r.length, r.path)).foreach { r =>
      val b = load.indices.minBy(load(_))
      bins(b) += r
      load(b) += r.length
    }
    bins.map(_.toSeq).toSeq
  }
}

/** One file's byte range `[start, end)` to read in a micro-batch. */
private[sources] final case class TailRange(path: String, start: Long, end: Long) {
  def length: Long = end - start
}

private[sources] class TailTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-tail(${options.get("path")}, ${options.getOrDefault("glob", "*")})"
  override def schema(): StructType = TailSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    () => new TailScan(options)
}

private[sources] class TailScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = TailSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TailMicroBatchStream(
      root = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException("graft-tail requires option 'path'")),
      glob = options.getOrDefault("glob", "*"),
      maxBytesPerFilePerBatch = options.getOrDefault(
        "maxBytesPerFilePerBatch", (128L * 1024 * 1024).toString).toLong,
      maxFilesPerTrigger = options.getOrDefault("maxFilesPerTrigger", "0").toInt,
      maxBytesPerTrigger = options.getOrDefault("maxBytesPerTrigger", "0").toLong,
      listIntervalMs = options.getOrDefault("listIntervalMs", "0").toLong,
      dropAbsentAfterTriggers =
        options.getOrDefault("dropAbsentAfterTriggers", "10").toInt,
      emitEofPartial =
        options.getOrDefault("emitEofPartial", "false").toBoolean)
}

/** Offset = map(file path → bytes consumed). Hand-rolled JSON (flat
  * string→long object with escaped keys) to avoid coupling to a JSON
  * library version.
  */
case class TailOffset(offsets: Map[String, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + TailOffset.escape(k) + "\":" + v
    }.mkString("{", ",", "}")
}

object TailOffset {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Parse the flat {"path":123,...} shape written by json(). */
  def fromJson(json: String): TailOffset = {
    val m = mutable.Map[String, Long]()
    var i = 0
    def expect(c: Char): Unit = { assert(json(i) == c, s"bad offset json at $i"); i += 1 }
    def skipWs(): Unit = while (i < json.length && json(i).isWhitespace) i += 1
    skipWs(); expect('{'); skipWs()
    if (i < json.length && json(i) == '}') return TailOffset(m.toMap)
    while (i < json.length) {
      skipWs(); expect('"')
      val sb = new StringBuilder
      while (json(i) != '"') {
        if (json(i) == '\\') {
          i += 1
          json(i) match {
            case 'u' => sb += Integer.parseInt(json.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += json(i)
        i += 1
      }
      i += 1; skipWs(); expect(':'); skipWs()
      val start = i
      while (i < json.length && (json(i).isDigit || json(i) == '-')) i += 1
      m += (sb.toString -> json.substring(start, i).toLong)
      skipWs()
      if (json(i) == ',') { i += 1 } else { expect('}'); return TailOffset(m.toMap) }
    }
    TailOffset(m.toMap)
  }
}

/** Micro-batch stream with admission control.
  *
  * All read limits are applied in `latestOffset(start, limit)` — the
  * offsets the engine COMMITS are exactly the byte ranges the readers
  * consume. (An earlier design capped ranges in `planInputPartitions`
  * while reporting uncapped sizes as the offset; that silently skipped
  * the bytes between the cap and the committed end whenever a file grew
  * faster than the cap. Admission control is the structural fix: cap at
  * offset-reporting time, never at plan time.)
  *
  * Limits, all optional:
  *  - `maxBytesPerFilePerBatch` (default 128 MiB, max 1 GiB): one file's
  *    burst is spread over several micro-batches;
  *  - `maxFilesPerTrigger` / `maxBytesPerTrigger`: bound total per-batch
  *    admission (surfaced to the engine via `getDefaultReadLimit`). A
  *    round-robin cursor over path order prevents lexicographically-late
  *    files from starving while early files keep growing;
  *  - `listIntervalMs`: cache the recursive discovery walk between
  *    triggers (the reference rescans dirs every 60 s, main.go:286 — not
  *    every poll). Known files are still `stat`ed fresh each trigger so
  *    growth is seen immediately; an empty cached listing always
  *    re-lists, keeping `--retry` root-appearance prompt.
  */
private[sources] class TailMicroBatchStream(
    root: String, glob: String, maxBytesPerFilePerBatch: Long,
    maxFilesPerTrigger: Int, maxBytesPerTrigger: Long, listIntervalMs: Long,
    dropAbsentAfterTriggers: Int = 10, emitEofPartial: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {

  require(maxBytesPerFilePerBatch > 0 &&
    maxBytesPerFilePerBatch <= TailSource.MaxRangeBytes,
    s"maxBytesPerFilePerBatch must be in (0, ${TailSource.MaxRangeBytes}] " +
      "(the reader materializes one range as a single array)")
  require(dropAbsentAfterTriggers > 0,
    s"dropAbsentAfterTriggers must be positive, got $dropAbsentAfterTriggers" +
      " — 0 or negative would evict a vanished file's committed offset on" +
      " its FIRST absent trigger, re-reading it from byte 0 (duplicates)" +
      " after any transient listing hiccup")

  // Discovery cache (driver-side; one stream instance per query run).
  private var cachedListing: Seq[String] = Nil
  private var lastListNanos: Long = Long.MinValue
  // Round-robin admission cursor: first path NOT admitted last batch.
  private var rrCursor: String = ""
  // Consecutive triggers each committed-but-vanished path has been
  // absent from the listing (driver-side; resets on query restart —
  // a restarted query just re-counts before evicting).
  private val absentTriggers = mutable.Map[String, Int]()
  // Serialized start offset of the previous latestOffset() call. The
  // absence counters advance only when the start offset ADVANCED since
  // the last call — i.e. the previous batch actually committed.
  // Re-plans/retries and dataless triggers re-invoke latestOffset with
  // the same start; counting those would evict a vanished file's offset
  // faster than the documented dropAbsentAfterTriggers bound (and a
  // reappearing file would then be fully re-read → duplicates).
  private var lastStartJson: String = null

  private def listing(): Seq[String] = {
    val now = System.nanoTime()
    val stale = lastListNanos == Long.MinValue ||
      (now - lastListNanos) / 1000000L >= listIntervalMs
    if (stale || cachedListing.isEmpty) {
      cachedListing = TailSource.listFiles(root, glob).map(_.toString)
      lastListNanos = now
    }
    cachedListing
  }

  /** Fresh sizes for the (possibly cached) listing; vanished files drop
    * out of the stat map but keep their committed offset (see below).
    */
  private def statSizes(): Seq[(String, Long)] =
    listing().flatMap { p =>
      val path = Paths.get(p)
      try { if (Files.exists(path)) Some(p -> Files.size(path)) else None }
      catch { case _: java.io.IOException => None }
    }.sortBy(_._1)

  override def initialOffset(): Offset = TailOffset(Map.empty)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = mutable.ArrayBuffer[ReadLimit]()
    if (maxFilesPerTrigger > 0) limits += ReadLimit.maxFiles(maxFilesPerTrigger)
    if (maxBytesPerTrigger > 0) limits += ReadLimit.maxBytes(maxBytesPerTrigger)
    limits.size match {
      case 0 => ReadLimit.allAvailable()
      case 1 => limits.head
      case _ => ReadLimit.compositeLimit(limits.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val committed = start.asInstanceOf[TailOffset].offsets
    val startJson = start.asInstanceOf[TailOffset].json()
    val startAdvanced = lastStartJson == null || startJson != lastStartJson
    lastStartJson = startJson

    var fileLimit = Int.MaxValue
    var byteLimit = Long.MaxValue
    def absorb(l: ReadLimit): Unit = l match {
      case f: ReadMaxFiles => fileLimit = math.min(fileLimit, f.maxFiles())
      case b: ReadMaxBytes => byteLimit = math.min(byteLimit, b.maxBytes())
      case c: CompositeReadLimit => c.getReadLimits.foreach(absorb)
      case _ => () // ReadAllAvailable / row-based limits: no byte/file cap
    }
    absorb(limit)

    // Rotate path order so admission starts after last batch's cursor —
    // under sustained over-limit load every file still makes progress.
    val sorted = statSizes()
    val (tail0, head0) = sorted.partition(_._1 > rrCursor)
    val ordered = tail0 ++ head0

    var filesUsed = 0
    var bytesUsed = 0L
    var lastAdmitted: String = rrCursor
    val out = mutable.Map[String, Long]()
    ordered.foreach { case (path, size) =>
      val c = committed.getOrElse(path, 0L)
      val base = if (size < c) 0L else c // truncation → restart at 0
      val avail = size - base
      val admitted = avail > 0 && filesUsed < fileLimit && bytesUsed < byteLimit
      val newEnd =
        if (!admitted) c // carry the committed offset UNCHANGED: reporting
        // min(size, c) for a truncated-but-unadmitted file would trip the
        // truncation rule in planInputPartitions and schedule a FULL
        // [0, size) read that bypasses every admission limit — the
        // truncation restart must wait until the file is admitted, where
        // the per-file budget caps it
        else {
          val budget = math.min(maxBytesPerFilePerBatch, byteLimit - bytesUsed)
          val e = math.min(size, base + budget)
          if (e > base) { filesUsed += 1; bytesUsed += e - base; lastAdmitted = path }
          e
        }
      out(path) = newEnd
    }
    // Files that vanished from the listing keep their committed offset
    // for a bounded number of triggers: a transient listing failure must
    // not reset progress (a genuinely rotated file comes back smaller
    // and hits the truncation rule), but entries absent for
    // `dropAbsentAfterTriggers` consecutive triggers are evicted —
    // otherwise a rotating log directory grows the offset JSON forever.
    committed.foreach { case (p, c) =>
      if (!out.contains(p)) {
        // count an absence only when this call reflects real progress
        // (startAdvanced); a retried/dataless trigger keeps the counter
        val n = absentTriggers.getOrElse(p, 0) + (if (startAdvanced) 1 else 0)
        if (n < dropAbsentAfterTriggers) { out(p) = c; absentTriggers(p) = n }
        else absentTriggers.remove(p)
      }
    }
    val present = ordered.iterator.map(_._1).toSet
    absentTriggers.filterInPlace { case (p, _) => !present.contains(p) }
    // The cursor moves whenever this call admitted data (lastAdmitted
    // stays == rrCursor otherwise): a dataless trigger followed by a
    // same-start trigger that DOES admit must still rotate fairness.
    rrCursor = lastAdmitted
    TailOffset(out.toMap)
  }

  /** True end-of-stream position (uncapped) — lets the engine report lag. */
  override def reportLatestOffset(): Offset = {
    val sizes = statSizes().toMap
    TailOffset(sizes)
  }

  override def deserializeOffset(json: String): Offset = TailOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TailOffset].offsets
    val e = end.asInstanceOf[TailOffset].offsets
    // No capping here: `end` already carries every admission limit, so
    // committed offsets == bytes actually read, by construction.
    val ranges = e.toSeq.flatMap { case (path, endOff) =>
      val rawStart = s.getOrElse(path, 0L)
      // truncation/rotation: file shrank below committed offset → reread
      val startOff = if (endOff < rawStart) 0L else rawStart
      if (endOff > startOff) Some(TailRange(path, startOff, endOff)) else None
    }
    val slots = SparkSession.active.sparkContext.defaultParallelism
    TailSource.pack(ranges, slots)
      .map(bin => TailInputPartition(bin, emitEofPartial): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[TailInputPartition]
      new TailRangesReader(p.ranges, p.emitPartial)
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One task's share of a micro-batch: whole per-file ranges, read in order. */
private[sources] case class TailInputPartition(ranges: Seq[TailRange],
    emitPartial: Boolean = false)
  extends InputPartition

/** Walks a partition's ranges in order, one [[TailPartitionReader]] at a
  * time, so a task holds at most one range in memory.
  */
private[sources] class TailRangesReader(ranges: Seq[TailRange], emitPartial: Boolean)
    extends PartitionReader[InternalRow] {
  private val pending = ranges.iterator
  private var current: TailPartitionReader = _

  override def next(): Boolean = {
    while (current == null || !current.next()) {
      if (!pending.hasNext) return false
      close()
      val r = pending.next()
      current = new TailPartitionReader(r.path, r.start, r.end, emitPartial)
    }
    true
  }

  override def get(): InternalRow = current.get()

  override def close(): Unit = if (current != null) current.close()
}

/** Reads one file's byte range, emitting complete `\n`-terminated lines
  * (newline stripped, like Spark's text source; the envelope projection
  * re-appends it).
  *
  * Line-fragment protocol: offsets advance to raw file sizes, so a batch
  * boundary can land mid-line. The rules that keep every line emitted
  * exactly once, unsplit:
  *  - a line is emitted by the batch whose range contains its TERMINATING
  *    newline;
  *  - the reader back-scans from `start` to the previous newline (or BOF)
  *    so a fragment begun in an earlier range is re-read and emitted whole
  *    here — the earlier reader dropped it (no newline in its range);
  *  - bytes after the last newline in this range are dropped here and
  *    re-read by the batch that sees their newline.
  * A file that ends without a trailing newline keeps its last fragment
  * unemitted until terminated — deliberate delta vs the reference, which
  * emits the EOF fragment immediately and can therefore split one logical
  * line into two envelopes on an EOF race (main.go:238-245).
  *
  * `emitPartial` (the opt-in `emitEofPartial` option) reproduces the
  * reference's byte-level behavior instead: no fragment adoption (the
  * previous range already emitted its own trailing fragment) and the
  * range's unterminated tail goes out as a line — so a line racing the
  * reader CAN split into two emissions, which is precisely
  * main.go:238-245's ReadString-at-EOF semantics. Parity is exact in the
  * reference's own configuration (it reads to EOF every poll — no read
  * caps); under this source's per-batch byte caps a capped range
  * boundary acts as an EOF surrogate and may additionally split a line
  * that was fully on disk — emitting is the only lossless choice, since
  * parity mode never re-reads earlier bytes. Default stays the
  * exactly-once-unsplit protocol above.
  */
private[sources] class TailPartitionReader(path: String, start: Long, end: Long,
    emitPartial: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val pathUtf8 = UTF8String.fromString(path)
  private var lines: Iterator[Array[Byte]] = _
  private var current: Array[Byte] = _

  /** Last '\n' in [floor, pos), or -1. Chunked backward scan — bounded
    * below by `floor` so a newline-free prefix cannot drag the scan (and
    * the adopted-fragment allocation) past the representable range.
    */
  private def lastNewlineBefore(f: RandomAccessFile, pos: Long, floor: Long): Long = {
    val chunk = 64 * 1024
    var hi = pos
    val buf = new Array[Byte](chunk)
    while (hi > floor) {
      val lo = math.max(floor, hi - chunk)
      f.seek(lo)
      val n = (hi - lo).toInt
      f.readFully(buf, 0, n)
      var i = n - 1
      while (i >= 0) {
        if (buf(i) == '\n') return lo + i
        i -= 1
      }
      hi = lo
    }
    -1L
  }

  /** First '\n' in [from, to), or -1. Chunked forward scan. */
  private def firstNewlineIn(f: RandomAccessFile, from: Long, to: Long): Long = {
    val chunk = 64 * 1024
    var lo = from
    val buf = new Array[Byte](chunk)
    while (lo < to) {
      val n = math.min(chunk.toLong, to - lo).toInt
      f.seek(lo)
      f.readFully(buf, 0, n)
      var i = 0
      while (i < n) {
        if (buf(i) == '\n') return lo + i
        i += 1
      }
      lo += n
    }
    -1L
  }

  private def readRange(): Iterator[Array[Byte]] = {
    // the file can be unlinked (rotation) between offset planning on
    // the driver and this task running: a missing file is an EMPTY
    // range — the next trigger's absence/truncation machinery owns the
    // recovery — never a task failure that kills the whole query
    val f = try new RandomAccessFile(path, "r") catch {
      case _: java.io.FileNotFoundException => return Iterator.empty
    }
    try {
      val len = math.min(end, f.length())
      if (len <= start) return Iterator.empty
      if (emitPartial) {
        // Reference-parity path: read exactly [start, len), split on
        // newlines, emit every segment INCLUDING the unterminated tail.
        f.seek(start)
        val buf = new Array[Byte]((len - start).toInt)
        f.readFully(buf)
        val out = mutable.ArrayBuffer[Array[Byte]]()
        var lineStart = 0
        var i = 0
        while (i < buf.length) {
          if (buf(i) == '\n') {
            out += util.Arrays.copyOfRange(buf, lineStart, i)
            lineStart = i + 1
          }
          i += 1
        }
        if (lineStart < buf.length)
          out += util.Arrays.copyOfRange(buf, lineStart, buf.length)
        return out.iterator
      }
      // Adopt the fragment left by the previous range (see protocol
      // above) — but scan back at most ~MaxRangeBytes: a line whose start
      // lies further back than that cannot be materialized in one array
      // (String/Array are Int-indexed), so it is DROPPED and the read
      // resumes after its terminating newline. The -16 slack keeps
      // fragment + range strictly under Int.MaxValue.
      val window = TailSource.MaxRangeBytes - 16
      val effStart =
        if (start == 0L) 0L
        else {
          val floor = math.max(0L, start - window)
          val nl = lastNewlineBefore(f, start, floor)
          if (nl >= 0) nl + 1
          else if (floor == 0L) 0L
          else {
            val fw = firstNewlineIn(f, start, len)
            if (fw < 0) return Iterator.empty // still inside the giant line
            fw + 1
          }
        }
      f.seek(effStart)
      val buf = new Array[Byte]((len - effStart).toInt)
      f.readFully(buf)
      val out = mutable.ArrayBuffer[Array[Byte]]()
      var lineStart = 0
      var i = 0
      while (i < buf.length) {
        if (buf(i) == '\n') {
          // only lines whose newline lies within [start, end) belong here;
          // earlier newlines were emitted by the previous range
          if (effStart + i >= start) {
            out += util.Arrays.copyOfRange(buf, lineStart, i)
          }
          lineStart = i + 1
        }
        i += 1
      }
      out.iterator
    } finally f.close()
  }

  override def next(): Boolean = {
    if (lines == null) lines = readRange()
    if (lines.hasNext) { current = lines.next(); true } else false
  }

  override def get(): InternalRow =
    InternalRow(UTF8String.fromBytes(current), pathUtf8)

  override def close(): Unit = ()
}
