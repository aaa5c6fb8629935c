package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.ProtoWire
import graft.model.Envelope
import org.apache.spark.sql.functions._

/** The reference pipeline's own operators (SURVEY.md §2.2 P1–P4) declared
  * as catalog queries over the testdata: envelope projection and protobuf
  * round-trip. The forwarding job over growing files is
  * `pipeline.EnvelopePipeline.forward` on the graft-tail source
  * (exercised by EnvelopePipelineSpec with real temp files, including
  * the unterminated-final-line case).
  */
object PipelineOps {

  def defs: Seq[QueryDef] = Seq(q40, q41)

  /** P2/P4 as a checked query: documents stand in for log lines; every
    * projected field except the ingest timestamp is deterministic.
    */
  val q40: QueryDef = QueryDef.checked(
    "q40_envelope_project",
    """SELECT doc_id, 'graft' AS origin, 'LogMessage' AS event_type,
      | 'OUT' AS message_type, 'bosh' AS source_type,
      | source AS source_instance, source AS partition_key,
      | length(text) + 1 AS message_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        lit("graft").as("origin"),
        lit("LogMessage").as("event_type"),
        lit("OUT").as("message_type"),
        lit("bosh").as("source_type"),
        col("source").as("source_instance"),
        col("source").as("partition_key"),
        (length(col("text")) + 1).cast("long").as("message_len"))
      .orderBy(col("doc_id"))
  }

  /** Varint length of the unsigned-64 wire value of `x` (negative Longs
    * carry all 64 bits → 10 bytes; k-byte varints hold 7k bits). Inlined
    * into the q41 oracle so DuckDB re-derives every length boundary.
    */
  private def vl(x: String): String =
    s"(CASE WHEN ($x) < 0 THEN 10 WHEN ($x) < 128 THEN 1" +
      s" WHEN ($x) < 16384 THEN 2 WHEN ($x) < 2097152 THEN 3" +
      s" WHEN ($x) < 268435456 THEN 4 WHEN ($x) < 34359738368 THEN 5" +
      s" WHEN ($x) < 4398046511104 THEN 6 WHEN ($x) < 562949953421312 THEN 7" +
      s" WHEN ($x) < 72057594037927936 THEN 8 ELSE 9 END)"

  /** P3 round-trip at scale over ALL SIX envelope event types
    * (envelope.pb.go:49-60): each document becomes an envelope whose
    * payload type is doc_id mod 6 — LogMessage carries the text,
    * HttpStartStop carries a synthetic request (incl. the UUID request id
    * and the repeated `forwarded` chain), the metric/error types carry
    * derived values. ORACLE-CHECKED since r7: the encoder's exact wire
    * length per document is re-derived in DuckDB from the protobuf wire
    * rules alone — 1-byte tags (all used fields < 16), varint widths by
    * value magnitude ([[vl]]), length-delimited strings/sub-messages with
    * their own varint'd lengths, fixed64 doubles — so every varint
    * boundary the encoder crosses (message text bytes, nested UUID with a
    * negative high half, doubled counters) is independently certified;
    * `ok` additionally pins the decode(encode(e)) == e round trip.
    * ProtoWireSpec still pins golden BYTES per message type (the length
    * model can't see byte content).
    */
  val q41: QueryDef = QueryDef.checked(
    "q41_proto_roundtrip",
    s"""WITH m AS (
       |  SELECT doc_id AS id, doc_id % 6 AS branch,
       |    strlen(text) AS tb,
       |    strlen(source) AS sl,
       |    length(CAST(doc_id AS VARCHAR)) AS dg
       |  FROM documents),
       |c1 AS (
       |  SELECT *,
       |    (1 + ${vl("tb + 1")} + tb + 1) + 2
       |      + (1 + ${vl("1700000000000000000 + id")}) + 6
       |      + (1 + ${vl("sl")} + sl) AS lm,
       |    1 + ${vl("id * 1000003")} + 1 + 10 AS u1,
       |    1 + ${vl("id")} + 1 + ${vl("id + 1")} AS u2
       |  FROM m),
       |c2 AS (
       |  SELECT *,
       |    (1 + ${vl("id")}) + (1 + ${vl("id + 7")}) + (1 + ${vl("u1")} + u1)
       |      + 2 + 2 + (1 + ${vl("6 + dg")} + 6 + dg) + 16 + 7 + 3
       |      + (1 + ${vl("tb")}) + (1 + ${vl("u2")} + u2) + 2
       |      + (1 + ${vl("sl")} + sl) + 10 + (1 + ${vl("5 + dg")} + 5 + dg) AS hss,
       |    (1 + ${vl("1 + dg")} + 1 + dg) + 9 + 4 AS vm,
       |    (1 + ${vl("1 + dg")} + 1 + dg) + (1 + ${vl("id")}) + (1 + ${vl("2 * id")}) AS ce,
       |    (1 + ${vl("sl")} + sl) + 2 + (1 + ${vl("3 + dg")} + 3 + dg) AS er,
       |    (1 + ${vl("sl")} + sl) + 2 + 9 + (1 + ${vl("10 * id")})
       |      + (1 + ${vl("20 * id")}) + (1 + ${vl("30 * id")}) AS cm
       |  FROM c1)
       |SELECT id AS doc_id,
       |  CAST(9 + 1 + CASE branch
       |    WHEN 0 THEN ${vl("lm")} + lm
       |    WHEN 1 THEN ${vl("hss")} + hss
       |    WHEN 2 THEN ${vl("vm")} + vm
       |    WHEN 3 THEN ${vl("ce")} + ce
       |    WHEN 4 THEN ${vl("er")} + er
       |    ELSE ${vl("cm")} + cm END AS BIGINT) AS wire_len,
       |  CAST(1 AS BIGINT) AS ok
       |FROM c2 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.model.{CounterEvent, ContainerMetric, ErrorEvent, HttpStartStop, Uuid, ValueMetric}
    val roundtrip = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .map { case (id, text, source) =>
        val base = Envelope.forLogLine(
          origin = "graft",
          line = (text + "\n").getBytes("UTF-8"),
          ingestNanos = 1700000000000000000L + id,
          sourcePath = source)
        val env = (id % 6) match {
          case 0 => base // LogMessage
          case 1 => base.copy(eventType = "HttpStartStop", logMessage = None,
            httpStartStop = Some(HttpStartStop(
              startTimestamp = id, stopTimestamp = id + 7,
              requestId = Uuid(low = id * 1000003L, high = ~id),
              // vary by the GROUP index id/6 — ids in this branch are all
              // ≡1 (mod 6), so id-parity/mod-3 would be constant and the
              // enum variety dead
              peerType = if ((id / 6) % 2 == 0) "Client" else "Server",
              method = if ((id / 6) % 3 == 0) "GET" else "POST",
              uri = s"/docs/$id", remoteAddress = "10.0.0.1:61001",
              // UTF-8 BYTE length on both sides (oracle: strlen = bytes):
              // String.length is UTF-16 code units, which diverges from
              // DuckDB's codepoint length() on astral chars — bytes is the
              // one definition all engines (and HTTP Content-Length) share.
              userAgent = "graft", statusCode = 200,
              contentLength = text.getBytes("UTF-8").length.toLong,
              applicationId = Some(Uuid(id, id + 1)), instanceIndex = Some((id % 4).toInt),
              instanceId = Some(source), forwarded = Seq("10.0.0.2", s"host-$id"))))
          case 2 => base.copy(eventType = "ValueMetric", logMessage = None,
            valueMetric = Some(ValueMetric(s"m$id", id * 0.5, "ms")))
          case 3 => base.copy(eventType = "CounterEvent", logMessage = None,
            counterEvent = Some(CounterEvent(s"c$id", id, Some(id * 2))))
          case 4 => base.copy(eventType = "Error", logMessage = None,
            error = Some(ErrorEvent(source, (id % 100).toInt, s"err$id")))
          case _ => base.copy(eventType = "ContainerMetric", logMessage = None,
            containerMetric = Some(ContainerMetric(source, (id % 8).toInt,
              0.25, id * 10, id * 20, Some(id * 30), None)))
        }
        val bytes = ProtoWire.encode(env)
        val back = ProtoWire.decode(bytes)
        // Array[Byte] fields compare by reference in case-class ==, so
        // compare the message bytes explicitly and the rest with nulled
        // message fields.
        val ok = (env.logMessage, back.logMessage) match {
          case (Some(elm), Some(blm)) =>
            java.util.Arrays.equals(blm.message, elm.message) &&
              blm.copy(message = null) == elm.copy(message = null) &&
              back.copy(logMessage = None) == env.copy(logMessage = None)
          case (None, None) => back == env
          case _ => false
        }
        (id, bytes.length.toLong, if (ok) 1L else 0L)
      }
      .toDF("doc_id", "wire_len", "ok")
    roundtrip.orderBy(col("doc_id"))
  }
}
