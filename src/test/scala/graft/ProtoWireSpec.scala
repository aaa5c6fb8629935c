package graft

import graft.functions.ProtoWire
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

class ProtoWireSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("golden wire bytes for the reference's produced envelope shape") {
    // Envelope{origin="o", eventType=LogMessage(5),
    //   logMessage{message="hi\n", OUT(1), ts=1, source_type="bosh",
    //              source_instance="/f"}}
    // field numbers: envelope.pb.go:100-112, log.pb.go:58-63
    val env = Envelope.forLogLine("o", "hi\n".getBytes, 1L, "/f")
    val expected =
      "0a016f" +          // f1 origin "o"
        "1005" +          // f2 eventType = 5
        "4213" +          // f8 logMessage, len 19
        "0a03" + "68690a" + // lm f1 message "hi\n"
        "1001" +          // lm f2 message_type OUT
        "1801" +          // lm f3 timestamp 1
        "2a04" + "626f7368" + // lm f5 source_type "bosh"
        "3202" + "2f66"   // lm f6 source_instance "/f"
    assert(hex(ProtoWire.encode(env)) === expected)
  }

  test("negative and large varints round-trip") {
    val e = Envelope.forLogLine("x", Array[Byte](0), -1L, "p")
    val back = ProtoWire.decode(ProtoWire.encode(e))
    assert(back.logMessage.get.timestamp === -1L)
    val e2 = Envelope.forLogLine("x", Array[Byte](0), Long.MaxValue, "p")
    assert(ProtoWire.decode(ProtoWire.encode(e2)).logMessage.get.timestamp === Long.MaxValue)
  }

  test("full envelope with all payload types round-trips") {
    val env = Envelope(
      origin = "org", eventType = "ValueMetric", timestamp = Some(42L),
      deployment = Some("dep"), job = Some("j"), index = Some("0"),
      ip = Some("10.0.0.1"), tags = Map("a" -> "1", "b" -> "2"),
      httpStartStop = Some(HttpStartStop(
        startTimestamp = 10L, stopTimestamp = 20L,
        requestId = Uuid(1L, 2L), peerType = "Server", method = "PATCH",
        uri = "/v2/apps", remoteAddress = "10.0.0.2:61001",
        userAgent = "curl/8", statusCode = 503, contentLength = 1234L,
        applicationId = Some(Uuid(7L, 8L)), instanceIndex = Some(3),
        instanceId = Some("i-1"), forwarded = Seq("10.0.0.3", "10.0.0.4"))),
      logMessage = None,
      valueMetric = Some(ValueMetric("m", 1.5, "ms")),
      counterEvent = Some(CounterEvent("c", 3L, Some(9L))),
      error = Some(ErrorEvent("s", -7, "boom")),
      containerMetric = Some(ContainerMetric("app", 2, 0.5, 100L, 200L, Some(1L), None)))
    assert(ProtoWire.decode(ProtoWire.encode(env)) === env)
  }

  test("property: arbitrary log lines round-trip byte-exactly (seeded fuzz)") {
    val rnd = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val line = new Array[Byte](rnd.nextInt(2000))
      rnd.nextBytes(line)
      val ts = rnd.nextLong()
      val path = rnd.alphanumeric.take(rnd.nextInt(64)).mkString
      val env = Envelope.forLogLine("origin", line, ts, path)
      val back = ProtoWire.decode(ProtoWire.encode(env))
      assert(java.util.Arrays.equals(back.logMessage.get.message, line))
      assert(back.logMessage.get.timestamp === ts)
      assert(back.logMessage.get.source_instance === path)
      assert(back.copy(logMessage = None) === env.copy(logMessage = None))
    }
  }

  test("golden wire bytes for an HttpStartStop envelope") {
    // Hand-derived from the wire rules + reference field numbers
    // (envelope.pb.go:111 httpStartStop=7; http.pb.go:218-234;
    // uuid.pb.go:24-28). Pins the layout, not just self-consistency.
    val env = Envelope(
      origin = "or", eventType = "HttpStartStop", timestamp = None,
      deployment = None, job = None, index = None, ip = None, tags = Map.empty,
      httpStartStop = Some(HttpStartStop(
        startTimestamp = 1L, stopTimestamp = 2L, requestId = Uuid(3L, 4L),
        peerType = "Client", method = "GET", uri = "u", remoteAddress = "r",
        userAgent = "a", statusCode = 200, contentLength = 5L,
        applicationId = None, instanceIndex = None, instanceId = None,
        forwarded = Seq("f1", "f2"))),
      logMessage = None, valueMetric = None, counterEvent = None,
      error = None, containerMetric = None)
    val expected =
      "0a026f72" +            // f1 origin "or"
        "1004" +              // f2 eventType = HttpStartStop(4)
        "3a24" +              // f7 httpStartStop, len 36
        "0801" + "1002" +     // start=1, stop=2
        "1a04" + "0803" + "1004" + // f3 requestId{low=3,high=4}
        "2001" +              // f4 peerType Client(1)
        "2801" +              // f5 method GET(1)
        "320175" +            // f6 uri "u"
        "3a0172" +            // f7 remoteAddress "r"
        "420161" +            // f8 userAgent "a"
        "48c801" +            // f9 statusCode 200
        "5005" +              // f10 contentLength 5
        "7a026631" + "7a026632" // f15 forwarded ["f1","f2"]
    assert(hex(ProtoWire.encode(env)) === expected)
  }

  test("uint64 UUID halves round-trip as raw bits (values above 2^63)") {
    // Go carries low/high as uint64; Scala carries the same BITS in Long.
    // -1L == 0xFFFF...FF == uint64 max; MinValue == 2^63.
    val u = Uuid(low = -1L, high = Long.MinValue)
    assert(ProtoWire.decodeUuid(ProtoWire.encodeUuid(u)) === u)
    val h = HttpStartStop(0L, 0L, u, "Client", "GET", "", "", "", 0, 0L,
      Some(Uuid(Long.MaxValue, -2L)), None, None, Nil)
    assert(ProtoWire.decodeHttpStartStop(ProtoWire.encodeHttpStartStop(h)) === h)
  }

  test("property: arbitrary envelopes of every event type round-trip (seeded fuzz)") {
    val rnd = new scala.util.Random(1234)
    def str(max: Int): String = rnd.alphanumeric.take(rnd.nextInt(max)).mkString
    def opt[A](a: => A): Option[A] = if (rnd.nextBoolean()) Some(a) else None
    val eventTypes = Envelope.EventTypeCodes.keys.toSeq.sorted
    (0 until 300).foreach { i =>
      val et = eventTypes(i % eventTypes.size)
      val env = Envelope(
        origin = str(12), eventType = et, timestamp = opt(rnd.nextLong()),
        deployment = opt(str(8)), job = opt(str(8)), index = opt(str(4)),
        ip = opt(str(15)),
        tags = (0 until rnd.nextInt(4)).map(_ => str(5) -> str(5)).toMap,
        httpStartStop = if (et != "HttpStartStop") None else Some(HttpStartStop(
          rnd.nextLong(), rnd.nextLong(), Uuid(rnd.nextLong(), rnd.nextLong()),
          if (rnd.nextBoolean()) "Client" else "Server",
          Envelope.CodeToMethod(1 + rnd.nextInt(44)),
          str(30), str(20), str(20), rnd.nextInt(600), rnd.nextLong(),
          opt(Uuid(rnd.nextLong(), rnd.nextLong())), opt(rnd.nextInt(10)),
          opt(str(8)), (0 until rnd.nextInt(4)).map(_ => str(12)))),
        logMessage = None, // byte-array equality covered by the other fuzz
        valueMetric = if (et != "ValueMetric") None
          else Some(ValueMetric(str(8), rnd.nextDouble(), str(4))),
        counterEvent = if (et != "CounterEvent") None
          else Some(CounterEvent(str(8), rnd.nextLong(), opt(rnd.nextLong()))),
        error = if (et != "Error") None
          else Some(ErrorEvent(str(8), rnd.nextInt(), str(20))),
        containerMetric = if (et != "ContainerMetric") None
          else Some(ContainerMetric(str(8), rnd.nextInt(16), rnd.nextDouble(),
            rnd.nextLong(), rnd.nextLong(), opt(rnd.nextLong()), opt(rnd.nextLong()))))
      assert(ProtoWire.decode(ProtoWire.encode(env)) === env, s"trial $i ($et)")
    }
  }

  test("unknown fields inside a nested HttpStartStop are skipped cleanly") {
    val h = HttpStartStop(1L, 2L, Uuid(3L, 4L), "Client", "GET", "u", "r",
      "a", 200, 5L, None, None, None, Nil)
    val base = ProtoWire.encodeHttpStartStop(h)
    // http.pb.go leaves field 11 unused: inject varint f11 (tag 0x58) and
    // an unknown length-delimited f16 (tag 0x82 0x01)
    val withUnknown = base ++ Array[Byte](0x58, 0x2a) ++
      Array[Byte](0x82.toByte, 0x01, 0x02, 0x09, 0x09)
    assert(ProtoWire.decodeHttpStartStop(withUnknown) === h)
  }

  test("truncated or corrupt input raises a clear error, never a raw bounds crash") {
    val good = ProtoWire.encode(Envelope.forLogLine("o", "payload".getBytes, 5L, "/p"))
    // every strict prefix either decodes (clean field boundary) or
    // throws the codec's own IllegalArgumentException
    (1 until good.length).foreach { n =>
      try ProtoWire.decode(java.util.Arrays.copyOf(good, n))
      catch {
        case e: IllegalArgumentException => () // expected shape
        case e: Throwable => fail(s"prefix $n leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // declared length overrunning the buffer
    val overrun = Array[Byte](0x0a, 0x7f, 0x61) // origin, len 127, 1 byte present
    val e = intercept[IllegalArgumentException](ProtoWire.decode(overrun))
    assert(e.getMessage.contains("truncated"))
  }

  test("unknown enum codes round-trip as placeholder names (proto semantics)") {
    // a newer producer's Method=99 / PeerType=7 must decode and re-encode
    // to the same codes, not crash the envelope
    val h = HttpStartStop(1L, 2L, Uuid(3L, 4L), "Client", "GET", "u", "r",
      "a", 200, 5L, None, None, None, Nil)
    val bytes = ProtoWire.encodeHttpStartStop(h)
    // patch peerType (f4, offset: 08 01 10 02 1a 04 .. .. .. .. 20 XX) and
    // method (f5: 28 XX) to out-of-range codes
    val patched = bytes.clone()
    assert(patched(10) === 0x20.toByte && patched(12) === 0x28.toByte)
    patched(11) = 7 // PeerType 7 (unknown)
    patched(13) = 99 // Method 99 (unknown)
    val back = ProtoWire.decodeHttpStartStop(patched)
    assert(back.peerType === "PEER_TYPE_7")
    assert(back.method === "METHOD_99")
    // re-encode restores the original codes
    assert(java.util.Arrays.equals(ProtoWire.encodeHttpStartStop(back), patched))
  }

  test("negative enum codes (int32 bit-31 set) round-trip via placeholder names") {
    val h = HttpStartStop(1L, 2L, Uuid(3L, 4L), "PEER_TYPE_-1", "METHOD_-5",
      "u", "r", "a", 200, 5L, None, None, None, Nil)
    val back = ProtoWire.decodeHttpStartStop(ProtoWire.encodeHttpStartStop(h))
    assert(back === h)
  }

  test("64-bit declared length throws instead of wrapping to a small int") {
    // field 1 (origin), wire type 2, declared length 2^32+5 as varint:
    // 85 80 80 80 10 — .toInt would wrap to 5 and silently misparse
    val evil = Array[Byte](0x0a, 0x85.toByte, 0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x10, 0x61, 0x62, 0x63, 0x64, 0x65)
    val e = intercept[IllegalArgumentException](ProtoWire.decode(evil))
    assert(e.getMessage.contains("length"))
  }

  test("unknown fields are skipped, known fields still decode") {
    val base = ProtoWire.encode(Envelope.forLogLine("o", "x".getBytes, 5L, "/p"))
    // envelope leaves field numbers 3-5 unused: append an unknown varint
    // field 3 (tag 0x18) and an unknown length-delimited field 4 (tag 0x22)
    val withUnknown = base ++
      Array[Byte](0x18, 0x07) ++
      Array[Byte](0x22, 0x02, 0x01, 0x02) ++
      // multi-byte tag: field 300 wt 0 → tag 2400 → varint e0 12, value 1
      Array[Byte](0xe0.toByte, 0x12, 0x01)
    val back = ProtoWire.decode(withUnknown)
    assert(back.origin === "o")
    assert(back.logMessage.get.timestamp === 5L)
  }

  test("property: the encoder is byte-identical to the ByteArrayOutputStream encoder it replaced") {
    val rnd = new scala.util.Random(20261019L)
    val texts = Seq("", "a", "caf\u00e9", "\u65e5\u672c\u8a9e", "\ud83d\ude00 emoji",
      "lone \ud800 high", "lone \udc00 low", "\udc00\ud800 reversed", "tab\tnul\u0000")
    def str(max: Int): String = rnd.nextInt(4) match {
      case 0 => texts(rnd.nextInt(texts.size))
      case 1 => rnd.alphanumeric.take(rnd.nextInt(max)).mkString
      case 2 => Seq.fill(rnd.nextInt(max))(texts(rnd.nextInt(texts.size))).mkString
      case _ => new String(Array.fill(rnd.nextInt(max))(rnd.nextInt(0x10000).toChar))
    }
    def opt[A](a: => A): Option[A] = if (rnd.nextBoolean()) Some(a) else None
    val longs = Seq(0L, 1L, -1L, 127L, 128L, Long.MinValue, Long.MaxValue, Int.MinValue.toLong)
    def long(): Long = if (rnd.nextBoolean()) longs(rnd.nextInt(longs.size)) else rnd.nextLong()
    def int(): Int = if (rnd.nextBoolean()) long().toInt else rnd.nextInt()
    // 1-, 2- and 3-byte length prefixes, on the message field and on the
    // LogMessage body that carries it
    val sizes = Seq(0, 1, 127, 128, 16383, 16384, 64 * 1024, 70000)
    def message(): Array[Byte] = {
      val n = if (rnd.nextInt(3) == 0) sizes(rnd.nextInt(sizes.size)) else rnd.nextInt(200)
      val b = new Array[Byte](n); rnd.nextBytes(b); b
    }
    def enumName(codes: Map[String, Int], prefix: String): String = rnd.nextInt(4) match {
      case 0 => s"$prefix${-1 - rnd.nextInt(5)}" // e.g. PEER_TYPE_-3
      case 1 => s"$prefix${100 + rnd.nextInt(1000)}"
      case _ => codes.keys.toSeq.sorted.apply(rnd.nextInt(codes.size))
    }
    def uuid() = Uuid(long(), long())
    def logMessage() = LogMessage(message(), enumName(Envelope.MessageTypeCodes, "MESSAGE_TYPE_"),
      long(), opt(str(20)), str(8), str(40))
    def http() = HttpStartStop(long(), long(), uuid(),
      enumName(Envelope.PeerTypeCodes, "PEER_TYPE_"), enumName(Envelope.MethodCodes, "METHOD_"),
      str(200), str(30), str(60), int(), long(), opt(uuid()), opt(int()), opt(str(12)),
      Seq.fill(rnd.nextInt(4))(str(16)))
    val eventTypes = Envelope.EventTypeCodes.keys.toSeq.sorted
    def payload[A](et: String, own: String)(a: => A): Option[A] =
      if (et == own || rnd.nextInt(10) == 0) Some(a) else None
    (0 until 2000).foreach { i =>
      val et = if (i % 50 == 49) s"EVENT_TYPE_${rnd.nextInt(100)}" else eventTypes(i % eventTypes.size)
      val env = Envelope(
        origin = str(12), eventType = et, timestamp = opt(long()),
        deployment = opt(str(8)), job = opt(str(8)), index = opt(str(4)), ip = opt(str(15)),
        tags = Seq.fill(rnd.nextInt(4))(str(6) -> str(10)).toMap,
        httpStartStop = payload(et, "HttpStartStop")(http()),
        logMessage = payload(et, "LogMessage")(logMessage()),
        valueMetric = payload(et, "ValueMetric")(ValueMetric(str(8), rnd.nextDouble(), str(4))),
        counterEvent = payload(et, "CounterEvent")(CounterEvent(str(8), long(), opt(long()))),
        error = payload(et, "Error")(ErrorEvent(str(8), int(), str(300))),
        containerMetric = payload(et, "ContainerMetric")(ContainerMetric(str(8), int(),
          rnd.nextDouble(), long(), long(), opt(long()), opt(long()))))
      def same(got: Array[Byte], want: Array[Byte], what: String): Unit =
        assert(java.util.Arrays.equals(got, want), s"trial $i ($et): $what differs")
      same(ProtoWire.encode(env), LegacyProtoWire.encode(env), "encode")
      env.logMessage.foreach(m =>
        same(ProtoWire.encodeLogMessage(m), LegacyProtoWire.encodeLogMessage(m), "encodeLogMessage"))
      env.httpStartStop.foreach(m => same(ProtoWire.encodeHttpStartStop(m),
        LegacyProtoWire.encodeHttpStartStop(m), "encodeHttpStartStop"))
    }
  }
}

/** Frozen oracle: the `ByteArrayOutputStream` encoder `ProtoWire` used
  * before its single-buffer writer, kept verbatim so the property above
  * pins the new writer's output byte for byte.
  */
private object LegacyProtoWire {
  import java.io.ByteArrayOutputStream

  // ---- primitive writers -------------------------------------------------

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt & 0x7f)
  }

  private def tag(field: Int, wireType: Int): Long = (field.toLong << 3) | wireType

  private def writeVarintField(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    writeVarint(out, tag(field, 0)); writeVarint(out, v)
  }

  private def writeBytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    writeVarint(out, tag(field, 2)); writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
  }

  private def writeStringField(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    writeBytesField(out, field, s.getBytes("UTF-8"))

  private def writeDoubleField(out: ByteArrayOutputStream, field: Int, d: Double): Unit = {
    writeVarint(out, tag(field, 1))
    val bits = java.lang.Double.doubleToLongBits(d)
    var i = 0
    while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  // ---- message encoders --------------------------------------------------

  def encodeLogMessage(m: LogMessage): Array[Byte] = {
    val out = new ByteArrayOutputStream(m.message.length + 64)
    writeBytesField(out, 1, m.message)
    writeVarintField(out, 2, Envelope.messageTypeCode(m.message_type).toLong)
    writeVarintField(out, 3, m.timestamp)
    m.app_id.foreach(writeStringField(out, 4, _))
    writeStringField(out, 5, m.source_type)
    writeStringField(out, 6, m.source_instance)
    out.toByteArray
  }

  def encodeValueMetric(m: ValueMetric): Array[Byte] = {
    val out = new ByteArrayOutputStream(48)
    writeStringField(out, 1, m.name)
    writeDoubleField(out, 2, m.value)
    writeStringField(out, 3, m.unit)
    out.toByteArray
  }

  def encodeCounterEvent(m: CounterEvent): Array[Byte] = {
    val out = new ByteArrayOutputStream(32)
    writeStringField(out, 1, m.name)
    writeVarintField(out, 2, m.delta)
    m.total.foreach(writeVarintField(out, 3, _))
    out.toByteArray
  }

  def encodeError(m: ErrorEvent): Array[Byte] = {
    val out = new ByteArrayOutputStream(48)
    writeStringField(out, 1, m.source)
    writeVarintField(out, 2, m.code.toLong)
    writeStringField(out, 3, m.message)
    out.toByteArray
  }

  /** uuid.pb.go:24-28: low=1, high=2 (varint uint64 — Long bits pass
    * through the varint encoder unchanged, so negative Longs round-trip).
    */
  def encodeUuid(u: Uuid): Array[Byte] = {
    val out = new ByteArrayOutputStream(24)
    writeVarintField(out, 1, u.low)
    writeVarintField(out, 2, u.high)
    out.toByteArray
  }

  /** http.pb.go:218-234 field layout (note: no field 11; forwarded=15 is
    * `repeated string` — one length-delimited field per element).
    */
  def encodeHttpStartStop(m: HttpStartStop): Array[Byte] = {
    val out = new ByteArrayOutputStream(128)
    writeVarintField(out, 1, m.startTimestamp)
    writeVarintField(out, 2, m.stopTimestamp)
    writeBytesField(out, 3, encodeUuid(m.requestId))
    writeVarintField(out, 4, Envelope.peerTypeCode(m.peerType).toLong)
    writeVarintField(out, 5, Envelope.methodCode(m.method).toLong)
    writeStringField(out, 6, m.uri)
    writeStringField(out, 7, m.remoteAddress)
    writeStringField(out, 8, m.userAgent)
    writeVarintField(out, 9, m.statusCode.toLong)
    writeVarintField(out, 10, m.contentLength)
    m.applicationId.foreach(u => writeBytesField(out, 12, encodeUuid(u)))
    m.instanceIndex.foreach(i => writeVarintField(out, 13, i.toLong))
    m.instanceId.foreach(writeStringField(out, 14, _))
    m.forwarded.foreach(writeStringField(out, 15, _))
    out.toByteArray
  }

  def encodeContainerMetric(m: ContainerMetric): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    writeStringField(out, 1, m.applicationId)
    writeVarintField(out, 2, m.instanceIndex.toLong)
    writeDoubleField(out, 3, m.cpuPercentage)
    writeVarintField(out, 4, m.memoryBytes)
    writeVarintField(out, 5, m.diskBytes)
    m.memoryBytesQuota.foreach(writeVarintField(out, 6, _))
    m.diskBytesQuota.foreach(writeVarintField(out, 7, _))
    out.toByteArray
  }

  def encode(e: Envelope): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    writeStringField(out, 1, e.origin)
    writeVarintField(out, 2, Envelope.eventTypeCode(e.eventType).toLong)
    e.timestamp.foreach(writeVarintField(out, 6, _))
    e.httpStartStop.foreach(m => writeBytesField(out, 7, encodeHttpStartStop(m)))
    e.logMessage.foreach(m => writeBytesField(out, 8, encodeLogMessage(m)))
    e.valueMetric.foreach(m => writeBytesField(out, 9, encodeValueMetric(m)))
    e.counterEvent.foreach(m => writeBytesField(out, 10, encodeCounterEvent(m)))
    e.error.foreach(m => writeBytesField(out, 11, encodeError(m)))
    e.containerMetric.foreach(m => writeBytesField(out, 12, encodeContainerMetric(m)))
    e.deployment.foreach(writeStringField(out, 13, _))
    e.job.foreach(writeStringField(out, 14, _))
    e.index.foreach(writeStringField(out, 15, _))
    e.ip.foreach(writeStringField(out, 16, _))
    // map<string,string> = repeated nested {key=1, value=2}
    e.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val kv = new ByteArrayOutputStream(k.length + v.length + 8)
      writeStringField(kv, 1, k)
      writeStringField(kv, 2, v)
      writeBytesField(out, 17, kv.toByteArray)
    }
    out.toByteArray
  }
}
