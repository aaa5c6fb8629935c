package graft.pipeline

import graft.functions.ProtoWire
import graft.model.Envelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's data path (SURVEY.md §2.2, main.go:214-347) as one
  * Spark transform over the graft-tail source:
  *
  *   P1 line framing   → graft-tail emits each complete `\n`-terminated
  *                       line (a `\r` stays in the payload); the newline
  *                       is re-appended for byte-exact protobuf parity
  *                       (main.go:231 keeps it).
  *   P2 envelope proj  → `Envelope.forLogLine` in one typed map
  *   P3 proto encode   → `ProtoWire.encode` in the same map
  *   P4 partition key  → graft-tail's `path` column (main.go:346)
  */
object EnvelopePipeline {

  /** Reference config-string semantics for DIRS_TO_WATCH entries: split on
    * the FIRST `/**/` only (main.go:402, SplitN(dpath, "/**/", 2)). The
    * pair is graft-tail's `path` and `glob` options: the source walks
    * `path` recursively and matches `glob` against basenames, like the
    * reference's filepath.Walk + filepath.Match (main.go:291-313). The
    * reference panics on patterns without `/**/` and tails "" for empty
    * entries; the engine validates instead (SURVEY.md §2.1 S5/S6).
    */
  def parseWatchPattern(pattern: String): Option[(String, String)] = {
    if (pattern.isEmpty) None
    else pattern.indexOf("/**/") match {
      case -1 => None
      case i =>
        val (root, glob) = (pattern.substring(0, i), pattern.substring(i + 4))
        // an empty root would throw at load(""), an empty glob silently
        // matches nothing forever — both are invalid patterns, not
        // watchable sources
        if (root.isEmpty || glob.isEmpty) None else Some((root, glob))
    }
  }

  /** P1–P4: graft-tail's `(value, path)` lines → `(data, partition_key)`,
    * the graft-kinesis sink's input, each line one LogMessage envelope
    * keyed by its file's path. `ingest_ns` carries nanosecond ingest time
    * like main.go:331; Spark has no nanosecond clock expression, so
    * micros×1000 is the honest equivalent (documented delta: trailing 3
    * zeros). On a stream that time is the micro-batch's timestamp
    * (`batchTimestampMs` in the checkpoint's `offsets/<n>`), the same for
    * every line of a batch. [[graft.GraftExtensions]]' optimizer rule
    * ([[graft.functions.BatchTimestampInProject]]) keeps it out of the
    * generated code, so the plan compiles once and not on every trigger.
    * Works on streaming and batch frames alike.
    */
  def forward(lines: DataFrame, origin: String): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.select(
        lit(origin).as("origin"),
        concat(col("value"), lit("\n")).cast("binary").as("message"),
        (unix_micros(current_timestamp()) * 1000).as("ingest_ns"),
        col("path").as("source_instance"))
      .as[(String, Array[Byte], Long, String)]
      .map { case (o, message, ns, path) =>
        (ProtoWire.encode(Envelope.forLogLine(o, message, ns, path)), path)
      }.toDF("data", "partition_key")
  }
}
