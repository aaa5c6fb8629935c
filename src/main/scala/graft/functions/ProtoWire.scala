package graft.functions

import java.nio.charset.StandardCharsets
import graft.model._

/** Hand-rolled protobuf wire-format codec for the Envelope message family.
  *
  * /opt/spark/jars ships no spark-protobuf module (SURVEY.md §7 fallback
  * path), so the engine encodes/decodes the two-message subset directly
  * against the public protobuf wire format (varint + length-delimited
  * fields). Field numbers match the reference schema exactly:
  * envelope.pb.go:100-116 (origin=1, eventType=2, timestamp=6,
  * httpStartStop=7, logMessage=8, valueMetric=9, counterEvent=10,
  * error=11, containerMetric=12, deployment=13, job=14, index=15, ip=16,
  * tags=17), log.pb.go:58-63 (message=1, message_type=2, timestamp=3,
  * app_id=4, source_type=5, source_instance=6), http.pb.go:218-234 and
  * uuid.pb.go:24-28 for the HTTP lifecycle event — so bytes interop with
  * any real Loggregator consumer. Every decoder loop skips unknown
  * fields by wire type (forward compatibility, like XXX_unrecognized).
  *
  * Fields are emitted in ascending field-number order (canonical, matches
  * the generated Go marshaler's layout).
  */
object ProtoWire {

  // ---- writer ------------------------------------------------------------

  private def tag(field: Int, wireType: Int): Long = (field.toLong << 3) | wireType

  /** One record's bytes in one growable, unsynchronized array. A nested
    * message gets a one-byte length slot that is filled in once its body
    * is written; the body moves right only when its length needs more than
    * one varint byte (bodies of 128 B and up). Each string is UTF-8
    * encoded once and copied into its field.
    */
  private final class Writer(capacity: Int) {
    private var buf = new Array[Byte](capacity)
    private var pos = 0

    private def ensure(n: Int): Unit =
      if (pos + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

    private def varint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1
        v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
    }

    def varintField(field: Int, v: Long): Unit = { varint(tag(field, 0)); varint(v) }

    def bytesField(field: Int, b: Array[Byte]): Unit = {
      varint(tag(field, 2)); varint(b.length.toLong)
      ensure(b.length)
      System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
    }

    def stringField(field: Int, s: String): Unit =
      bytesField(field, s.getBytes(StandardCharsets.UTF_8))

    def doubleField(field: Int, d: Double): Unit = {
      varint(tag(field, 1))
      ensure(8)
      val bits = java.lang.Double.doubleToLongBits(d)
      var i = 0
      while (i < 8) { buf(pos) = (bits >>> (8 * i)).toByte; pos += 1; i += 1 }
    }

    /** Length-delimited field `field` holding `m` as written by `body`. */
    def nested[A](field: Int, m: A)(body: (Writer, A) => Unit): Unit = {
      varint(tag(field, 2))
      ensure(1); pos += 1
      val slot = pos - 1
      body(this, m)
      val len = pos - slot - 1
      var extra = 0
      var r = len >>> 7
      while (r != 0) { extra += 1; r >>>= 7 }
      if (extra > 0) {
        ensure(extra)
        System.arraycopy(buf, slot + 1, buf, slot + 1 + extra, len)
      }
      val end = pos + extra
      pos = slot; varint(len.toLong); pos = end
    }

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  }

  private def encodeWith[A](capacity: Int, m: A)(body: (Writer, A) => Unit): Array[Byte] = {
    val w = new Writer(capacity)
    body(w, m)
    w.result()
  }

  // ---- message bodies ----------------------------------------------------

  private def logMessage(w: Writer, m: LogMessage): Unit = {
    w.bytesField(1, m.message)
    w.varintField(2, Envelope.messageTypeCode(m.message_type).toLong)
    w.varintField(3, m.timestamp)
    m.app_id.foreach(w.stringField(4, _))
    w.stringField(5, m.source_type)
    w.stringField(6, m.source_instance)
  }

  private def valueMetric(w: Writer, m: ValueMetric): Unit = {
    w.stringField(1, m.name)
    w.doubleField(2, m.value)
    w.stringField(3, m.unit)
  }

  private def counterEvent(w: Writer, m: CounterEvent): Unit = {
    w.stringField(1, m.name)
    w.varintField(2, m.delta)
    m.total.foreach(w.varintField(3, _))
  }

  private def error(w: Writer, m: ErrorEvent): Unit = {
    w.stringField(1, m.source)
    w.varintField(2, m.code.toLong)
    w.stringField(3, m.message)
  }

  /** uuid.pb.go:24-28: low=1, high=2 (varint uint64 — Long bits pass
    * through the varint encoder unchanged, so negative Longs round-trip).
    */
  private def uuid(w: Writer, u: Uuid): Unit = {
    w.varintField(1, u.low)
    w.varintField(2, u.high)
  }

  /** http.pb.go:218-234 field layout (note: no field 11; forwarded=15 is
    * `repeated string` — one length-delimited field per element).
    */
  private def httpStartStop(w: Writer, m: HttpStartStop): Unit = {
    w.varintField(1, m.startTimestamp)
    w.varintField(2, m.stopTimestamp)
    w.nested(3, m.requestId)(uuid)
    w.varintField(4, Envelope.peerTypeCode(m.peerType).toLong)
    w.varintField(5, Envelope.methodCode(m.method).toLong)
    w.stringField(6, m.uri)
    w.stringField(7, m.remoteAddress)
    w.stringField(8, m.userAgent)
    w.varintField(9, m.statusCode.toLong)
    w.varintField(10, m.contentLength)
    m.applicationId.foreach(w.nested(12, _)(uuid))
    m.instanceIndex.foreach(i => w.varintField(13, i.toLong))
    m.instanceId.foreach(w.stringField(14, _))
    m.forwarded.foreach(w.stringField(15, _))
  }

  private def containerMetric(w: Writer, m: ContainerMetric): Unit = {
    w.stringField(1, m.applicationId)
    w.varintField(2, m.instanceIndex.toLong)
    w.doubleField(3, m.cpuPercentage)
    w.varintField(4, m.memoryBytes)
    w.varintField(5, m.diskBytes)
    m.memoryBytesQuota.foreach(w.varintField(6, _))
    m.diskBytesQuota.foreach(w.varintField(7, _))
  }

  /** map<string,string> entry = nested {key=1, value=2}. */
  private def tagEntry(w: Writer, kv: (String, String)): Unit = {
    w.stringField(1, kv._1)
    w.stringField(2, kv._2)
  }

  // ---- message encoders --------------------------------------------------

  def encodeLogMessage(m: LogMessage): Array[Byte] =
    encodeWith(m.message.length + 64, m)(logMessage)
  def encodeValueMetric(m: ValueMetric): Array[Byte] = encodeWith(48, m)(valueMetric)
  def encodeCounterEvent(m: CounterEvent): Array[Byte] = encodeWith(32, m)(counterEvent)
  def encodeError(m: ErrorEvent): Array[Byte] = encodeWith(48, m)(error)
  def encodeUuid(u: Uuid): Array[Byte] = encodeWith(24, u)(uuid)
  def encodeHttpStartStop(m: HttpStartStop): Array[Byte] = encodeWith(128, m)(httpStartStop)
  def encodeContainerMetric(m: ContainerMetric): Array[Byte] =
    encodeWith(64, m)(containerMetric)

  def encode(e: Envelope): Array[Byte] = {
    val w = new Writer(e.logMessage.fold(0)(_.message.length) + 128)
    w.stringField(1, e.origin)
    w.varintField(2, Envelope.eventTypeCode(e.eventType).toLong)
    e.timestamp.foreach(w.varintField(6, _))
    e.httpStartStop.foreach(w.nested(7, _)(httpStartStop))
    e.logMessage.foreach(w.nested(8, _)(logMessage))
    e.valueMetric.foreach(w.nested(9, _)(valueMetric))
    e.counterEvent.foreach(w.nested(10, _)(counterEvent))
    e.error.foreach(w.nested(11, _)(error))
    e.containerMetric.foreach(w.nested(12, _)(containerMetric))
    e.deployment.foreach(w.stringField(13, _))
    e.job.foreach(w.stringField(14, _))
    e.index.foreach(w.stringField(15, _))
    e.ip.foreach(w.stringField(16, _))
    if (e.tags.nonEmpty) e.tags.toSeq.sortBy(_._1).foreach(w.nested(17, _)(tagEntry))
    w.result()
  }

  // ---- decoder -----------------------------------------------------------

  private final class Reader(buf: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < buf.length
    private def need(n: Int): Unit =
      if (n < 0 || pos.toLong + n > buf.length)
        throw new IllegalArgumentException(
          s"truncated or corrupt message: need $n bytes at $pos of ${buf.length}")
    def readVarint(): Long = {
      var shift = 0; var acc = 0L
      while (true) {
        need(1)
        val b = buf(pos); pos += 1
        acc |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return acc
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("varint too long")
      }
      acc
    }
    /** Length prefix validated as a LONG before narrowing — a 64-bit
      * length like 2^32+5 must throw, not wrap to 5 and misparse.
      */
    private def readLen(): Int = {
      val n = readVarint()
      if (n < 0 || n > buf.length - pos)
        throw new IllegalArgumentException(
          s"truncated or corrupt message: declared length $n at $pos of ${buf.length}")
      n.toInt
    }
    def readBytes(): Array[Byte] = {
      val n = readLen()
      val r = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      r
    }
    def readString(): String = new String(readBytes(), "UTF-8")
    def readFixed64(): Long = {
      need(8)
      var bits = 0L; var i = 0
      while (i < 8) { bits |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      bits
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => need(8); pos += 8
      case 2 =>
        // NOT `pos += readVarint()`: += reads pos BEFORE readVarint's
        // side effect advances it, silently dropping the length-prefix
        // bytes and misaligning every field after the skipped one.
        val n = readLen()
        pos += n
      case 5 => need(4); pos += 4
      case t => throw new IllegalArgumentException(s"unsupported wire type $t")
    }
  }

  def decodeUuid(bytes: Array[Byte]): Uuid = {
    val r = new Reader(bytes)
    var low = 0L; var high = 0L
    while (r.hasMore) {
      val t = r.readVarint(); (t >>> 3).toInt match {
        case 1 if (t & 7) == 0 => low = r.readVarint()
        case 2 if (t & 7) == 0 => high = r.readVarint()
        case _ => r.skip((t & 7).toInt)
      }
    }
    Uuid(low, high)
  }

  def decodeHttpStartStop(bytes: Array[Byte]): HttpStartStop = {
    val r = new Reader(bytes)
    var startTs = 0L; var stopTs = 0L
    var requestId = Uuid(0L, 0L)
    var peerType = "Client"; var method = "GET"
    var uri = ""; var remote = ""; var agent = ""
    var status = 0; var contentLength = 0L
    var appId: Option[Uuid] = None
    var instIdx: Option[Int] = None
    var instId: Option[String] = None
    val fwd = Seq.newBuilder[String]
    while (r.hasMore) {
      val t = r.readVarint(); val wt = (t & 7).toInt
      (t >>> 3).toInt match {
        case 1 if wt == 0 => startTs = r.readVarint()
        case 2 if wt == 0 => stopTs = r.readVarint()
        case 3 if wt == 2 => requestId = decodeUuid(r.readBytes())
        case 4 if wt == 0 => peerType = Envelope.peerTypeName(r.readVarint().toInt)
        case 5 if wt == 0 => method = Envelope.methodName(r.readVarint().toInt)
        case 6 if wt == 2 => uri = r.readString()
        case 7 if wt == 2 => remote = r.readString()
        case 8 if wt == 2 => agent = r.readString()
        case 9 if wt == 0 => status = r.readVarint().toInt
        case 10 if wt == 0 => contentLength = r.readVarint()
        case 12 if wt == 2 => appId = Some(decodeUuid(r.readBytes()))
        case 13 if wt == 0 => instIdx = Some(r.readVarint().toInt)
        case 14 if wt == 2 => instId = Some(r.readString())
        case 15 if wt == 2 => fwd += r.readString()
        case _ => r.skip(wt)
      }
    }
    HttpStartStop(startTs, stopTs, requestId, peerType, method, uri, remote,
      agent, status, contentLength, appId, instIdx, instId, fwd.result())
  }

  def decodeLogMessage(bytes: Array[Byte]): LogMessage = {
    val r = new Reader(bytes)
    var message: Array[Byte] = Array.emptyByteArray
    var mtype = "OUT"; var ts = 0L
    var appId: Option[String] = None
    var srcType = ""; var srcInst = ""
    while (r.hasMore) {
      val t = r.readVarint(); val field = (t >>> 3).toInt; val wt = (t & 7).toInt
      field match {
        case 1 if wt == 2 => message = r.readBytes()
        case 2 if wt == 0 => mtype = Envelope.messageTypeName(r.readVarint().toInt)
        case 3 if wt == 0 => ts = r.readVarint()
        case 4 if wt == 2 => appId = Some(r.readString())
        case 5 if wt == 2 => srcType = r.readString()
        case 6 if wt == 2 => srcInst = r.readString()
        case _ => r.skip(wt)
      }
    }
    LogMessage(message, mtype, ts, appId, srcType, srcInst)
  }

  // Every known-field case is GUARDED on its expected wire type: a
  // corrupt or adversarial tag carrying the wrong type falls through to
  // the wire-type-driven skip (the proto-correct lenient behavior), so
  // one bad field can never misalign the rest of the stream — e.g. a
  // varint arriving where a length-delimited string is expected would
  // otherwise consume its payload byte as a length prefix and swallow
  // arbitrary following bytes.
  def decode(bytes: Array[Byte]): Envelope = {
    val r = new Reader(bytes)
    var origin = ""; var eventType = ""
    var ts: Option[Long] = None
    var deployment, job, index, ip: Option[String] = None
    var tags = Map.newBuilder[String, String]
    var httpStartStop: Option[HttpStartStop] = None
    var logMessage: Option[LogMessage] = None
    var valueMetric: Option[ValueMetric] = None
    var counterEvent: Option[CounterEvent] = None
    var error: Option[ErrorEvent] = None
    var containerMetric: Option[ContainerMetric] = None
    while (r.hasMore) {
      val t = r.readVarint(); val field = (t >>> 3).toInt; val wt = (t & 7).toInt
      field match {
        case 1 if wt == 2 => origin = r.readString()
        case 2 if wt == 0 => eventType = Envelope.eventTypeName(r.readVarint().toInt)
        case 6 if wt == 0 => ts = Some(r.readVarint())
        case 7 if wt == 2 => httpStartStop = Some(decodeHttpStartStop(r.readBytes()))
        case 8 if wt == 2 => logMessage = Some(decodeLogMessage(r.readBytes()))
        case 9 =>
          val n = new Reader(r.readBytes())
          var name = ""; var v = 0.0; var unit = ""
          while (n.hasMore) {
            val tt = n.readVarint(); (tt >>> 3).toInt match {
              case 1 if (tt & 7) == 2 => name = n.readString()
              case 2 if (tt & 7) == 1 => v = java.lang.Double.longBitsToDouble(n.readFixed64())
              case 3 if (tt & 7) == 2 => unit = n.readString()
              case _ => n.skip((tt & 7).toInt)
            }
          }
          valueMetric = Some(ValueMetric(name, v, unit))
        case 10 =>
          val n = new Reader(r.readBytes())
          var name = ""; var delta = 0L; var total: Option[Long] = None
          while (n.hasMore) {
            val tt = n.readVarint(); (tt >>> 3).toInt match {
              case 1 if (tt & 7) == 2 => name = n.readString()
              case 2 if (tt & 7) == 0 => delta = n.readVarint()
              case 3 if (tt & 7) == 0 => total = Some(n.readVarint())
              case _ => n.skip((tt & 7).toInt)
            }
          }
          counterEvent = Some(CounterEvent(name, delta, total))
        case 11 =>
          val n = new Reader(r.readBytes())
          var src = ""; var code = 0; var msg = ""
          while (n.hasMore) {
            val tt = n.readVarint(); (tt >>> 3).toInt match {
              case 1 if (tt & 7) == 2 => src = n.readString()
              case 2 if (tt & 7) == 0 => code = n.readVarint().toInt
              case 3 if (tt & 7) == 2 => msg = n.readString()
              case _ => n.skip((tt & 7).toInt)
            }
          }
          error = Some(ErrorEvent(src, code, msg))
        case 12 =>
          val n = new Reader(r.readBytes())
          var app = ""; var idx = 0; var cpu = 0.0
          var mem = 0L; var disk = 0L
          var memQ, diskQ: Option[Long] = None
          while (n.hasMore) {
            val tt = n.readVarint(); (tt >>> 3).toInt match {
              case 1 if (tt & 7) == 2 => app = n.readString()
              case 2 if (tt & 7) == 0 => idx = n.readVarint().toInt
              case 3 if (tt & 7) == 1 => cpu = java.lang.Double.longBitsToDouble(n.readFixed64())
              case 4 if (tt & 7) == 0 => mem = n.readVarint()
              case 5 if (tt & 7) == 0 => disk = n.readVarint()
              case 6 if (tt & 7) == 0 => memQ = Some(n.readVarint())
              case 7 if (tt & 7) == 0 => diskQ = Some(n.readVarint())
              case _ => n.skip((tt & 7).toInt)
            }
          }
          containerMetric = Some(ContainerMetric(app, idx, cpu, mem, disk, memQ, diskQ))
        case 13 if (t & 7) == 2 => deployment = Some(r.readString())
        case 14 if (t & 7) == 2 => job = Some(r.readString())
        case 15 if (t & 7) == 2 => index = Some(r.readString())
        case 16 if (t & 7) == 2 => ip = Some(r.readString())
        case 17 =>
          val n = new Reader(r.readBytes())
          var k = ""; var v = ""
          while (n.hasMore) {
            val tt = n.readVarint(); (tt >>> 3).toInt match {
              case 1 if (tt & 7) == 2 => k = n.readString()
              case 2 if (tt & 7) == 2 => v = n.readString()
              case _ => n.skip((tt & 7).toInt)
            }
          }
          tags += (k -> v)
        case _ => r.skip(wt)
      }
    }
    Envelope(origin, eventType, ts, deployment, job, index, ip, tags.result(),
      httpStartStop, logMessage, valueMetric, counterEvent, error, containerMetric)
  }
}
