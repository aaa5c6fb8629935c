package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All tables are single parquet files under `sfDir`. Loading goes through
  * Spark's vectorized parquet reader; filters/projections declared downstream
  * are pushed into the scan by Catalyst (verify via `PushedFilters` /
  * `ReadSchema` in `df.explain("formatted")`).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (rounds ≤5), which Spark's vectorized
    * reader rejects unless read as raw nanos via the legacy conf, and
    * TIMESTAMP(MICROS) (round 6 regeneration), which loads natively as a
    * timestamp column. Either way the surface is identical: `ts` as a
    * microsecond TimestampType (exactly what DuckDB yields, keeping the
    * oracle compare bit-identical) plus the raw nanos as BIGINT `ts_ns`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Idempotent guard (same value always written) — avoids re-mutating
    // session conf on every call, which would be racy under concurrent
    // query construction in one session.
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    val cols = Seq("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // TIMESTAMP(NANOS) file read as raw nanos. `div` = integer
        // division: exact for ANY nanos input. A double `/` rounds at
        // ~2^60 magnitudes (±128 ns), which can truncate to the wrong
        // microsecond for whole-µs-granularity timestamps.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
          .select(cols.head, cols.tail: _*)
      case _ =>
        // TIMESTAMP(MICROS) file: loads as TIMESTAMP_NTZ. The epoch is
        // derived with a pure-NTZ timestampdiff from the epoch wall
        // clock — session-zone-INDEPENDENT, unlike CAST(ts AS
        // TIMESTAMP), which interprets the wall clock in the session
        // zone and would shift every derived value on any session that
        // didn't pin UTC (the same logical dataset must yield the same
        // epochs regardless of which parquet encoding generation it
        // shipped in). ts is then rebuilt as a true instant from the
        // micros, matching the nanos path exactly.
        raw.withColumn("ts_ns", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
          .select(cols.head, cols.tail: _*)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** One declared engine query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the DuckDB oracle the driver runs
  * for the hash compare. `oracle = None` → driver records a rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def checked(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
