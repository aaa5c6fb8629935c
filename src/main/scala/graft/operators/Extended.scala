package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Second-tier coverage: full window-function family, multiset set-ops,
  * file-format round-trips, exact-formula statistics, and approximate
  * sketches — completing the SURVEY.md §2.5 rows not already covered by
  * Relational/Scalars.
  */
object Extended {
  import Exact._

  def defs: Seq[QueryDef] = Seq(q42, q43, q44, q45, q46, q90, q92, q93, q95, q97,
    q101, q117, q118, q119, q120, q121, q146, q150, q166, q168, q169,
    q172, q188, q189, q196, q201, q202, q213, q221, q227, q235, q241, q245,
    q257)

  /** q95: ORC round-trip — q44's lossless write→read check for the
    * third columnar format (ORC ships with Spark; DuckDB cannot read
    * ORC, so the oracle compares the round-tripped aggregate against
    * the raw table — format fidelity, not file parsing). Timestamps and
    * decimals survive ORC's type system unchanged for this projection.
    */
  val q95: QueryDef = QueryDef.checked(
    "q95_orc_roundtrip",
    """SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      | COUNT(DISTINCT o_orderstatus) AS n_status,
      | CAST(MIN(o_orderdate) AS VARCHAR) AS min_date
      |FROM orders WHERE o_orderkey < 1000""".stripMargin) { (s, d) =>
    val slice = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
    val tmp = Exact.scratchDir("q95", "orc_").toAbsolutePath.toString
    slice.write.mode("overwrite").orc(s"$tmp/orc")
    s.read.orc(s"$tmp/orc")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        min(col("o_orderdate")).cast("string").as("min_date"))
  }

  /** Single-pass table profiling (the ANALYZE shape): for each listed
    * column — row count, non-null count, exact distinct count, min/max
    * (stringified after the typed comparison, so numeric columns
    * compare numerically). One aggregation produces a single wide row;
    * `stack` (Spark's unpivot) reshapes it to one row per column.
    * Multiple exact COUNT(DISTINCT)s expand the input (one replica per
    * distinct agg) — the honest exact form for the oracle; at 100 TB
    * swap in approx_count_distinct and the pass stays linear.
    */
  def profile(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__ndv"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")))
    val stackExpr = s"stack(${cols.length}, " + cols.map(c =>
      s"'$c', ${c}__nn, ${c}__ndv, ${c}__min, ${c}__max").mkString(", ") +
      ") as (column_name, n_notnull, n_distinct, min_val, max_val)"
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"), col("n_rows"), col("n_notnull"),
        (col("n_rows") - col("n_notnull")).as("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  private def profileOracleFor(cols: Seq[String]): String =
    cols.map(c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows, COUNT($c) AS n_notnull,
         | COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
         | CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  /** q92: profile the documents table's scalar columns. */
  val q92: QueryDef = QueryDef.checked(
    "q92_table_profile",
    profileOracleFor(Seq("doc_id", "lang", "source", "n_chars"))) { (s, d) =>
    profile(Tables.documents(s, d), Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy(col("column_name"))
  }

  /** CDC upsert merge (the lakehouse MERGE/compaction kernel): apply a
    * changelog of upserts and deletes onto a base snapshot — latest
    * sequence number per key wins, a winning delete drops the key. One
    * shuffle on the key (window dedup over base ∪ changes), NOT the
    * join-per-operation form — at 100 TB this is how a CDC log compacts
    * into the next snapshot in a single pass. Base rows carry seq 0, so
    * any change outranks them; `changes` needs (key, seq, op ∈ U/D,
    * payload columns matching base).
    */
  def cdcMerge(base: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame,
      key: String, seqCol: String = "seq"): org.apache.spark.sql.DataFrame = {
    // op breaks (key, seq) ties deterministically — 'D' sorts first, so
    // an update and a delete sharing a sequence number (a batch/commit
    // id rather than a per-row LSN) resolve to the DELETE on every run
    // instead of an arbitrary row_number winner. Ties between two
    // updates at the same seq still need a caller-side total order on
    // seq (the changelog's job).
    val w = Window.partitionBy(col(key))
      .orderBy(col(seqCol).desc, col("op"))
    base.withColumn(seqCol, lit(0L)).withColumn("op", lit("U"))
      .unionByName(changes)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .drop("rn", "op", seqCol)
  }

  /** Shared q93/q97 fixtures: the deterministic changelog (updates on
    * keys ≡0 mod 7, deletes on ≡0 mod 11, inserts of fresh keys from
    * ≡0 mod 13) over the orders snapshot — one definition for the SQL
    * CTEs and the Spark frames so the two catalog queries cannot
    * desynchronize.
    */
  private val cdcCtes: String =
    """base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(0 AS BIGINT) AS seq,
      |    'U' AS op
      |  FROM orders WHERE o_orderkey < 3000),
      |changes AS (
      |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus,
      |    CAST(2 AS BIGINT) AS seq, 'U' AS op
      |  FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(3 AS BIGINT) AS seq,
      |    'D' AS op
      |  FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 11 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
      |    CAST(2 AS BIGINT) AS seq, 'U' AS op
      |  FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 13 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
      |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
      |      ORDER BY seq DESC, op) = 1
      |    AND op <> 'D')""".stripMargin

  private def cdcSnapshot(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d).filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))

  private def cdcChanges(snap: org.apache.spark.sql.DataFrame) =
    snap.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_custkey", col("o_custkey") + 1000000)
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    .unionByName(snap.filter(col("o_orderkey") % 11 === 0)
      .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
    .unionByName(snap.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000)
      .withColumn("seq", lit(2L)).withColumn("op", lit("U")))

  /** q93: the surviving snapshot after the changelog merge, hash-checked
    * against the same QUALIFY window in DuckDB.
    */
  val q93: QueryDef = QueryDef.checked(
    "q93_cdc_merge",
    s"""WITH $cdcCtes
      |SELECT o_orderkey, o_custkey, o_orderstatus FROM merged
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val snap = cdcSnapshot(s, d)
    cdcMerge(snap, cdcChanges(snap), "o_orderkey").orderBy(col("o_orderkey"))
  }

  /** SCD Type-2 history build (the versioned-dimension complement of
    * [[cdcMerge]]): instead of keeping only the latest row per key,
    * keep EVERY update as a version with a validity range —
    * `valid_from` = its sequence number, `valid_to` = the next
    * change's sequence (null while still current), deletes close the
    * previous version's range but emit no row themselves. Same single
    * key-shuffle shape as cdcMerge (one window over base ∪ changes),
    * not a join per version — at 100 TB the history table compacts in
    * one pass exactly like the snapshot does.
    */
  def scd2History(base: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame,
      key: String, seqCol: String = "seq"): org.apache.spark.sql.DataFrame = {
    // op tiebreak (the cdcMerge rule): equal-seq ties order
    // deterministically ('D' first), so a delete and an update sharing
    // a commit-id seq produce the same version chain on every run
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol), col("op"))
    base.withColumn(seqCol, lit(0L)).withColumn("op", lit("U"))
      .unionByName(changes)
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col("op") =!= "D")
      .withColumn("is_current", col("valid_to").isNull)
      .withColumnRenamed(seqCol, "valid_from")
      .drop("op")
  }

  /** q101: the full version history of the q93 changelog — updated keys
    * carry two versions (base closed at seq 2, update open), deleted
    * keys carry one closed version and no current row, inserted keys
    * one open version. Hash-checked against the same lead-window SQL.
    */
  val q101: QueryDef = QueryDef.checked(
    "q101_scd2_history",
    s"""WITH $cdcCtes,
      |hist AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, seq AS valid_from,
      |    lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq, op)
      |      AS valid_to, op
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM changes))
      |SELECT o_orderkey, o_custkey, o_orderstatus, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM hist WHERE op <> 'D'
      |ORDER BY o_orderkey, valid_from""".stripMargin) { (s, d) =>
    val snap = cdcSnapshot(s, d)
    scd2History(snap, cdcChanges(snap), "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** Snapshot diff — the INVERSE of [[cdcMerge]]: compare two versions
    * of a table and emit the changelog that transforms one into the
    * other (U rows for inserts and payload changes, D rows for
    * removals; unchanged keys emit nothing). One full-outer join on the
    * key with the payload compared as a struct — a single key shuffle,
    * no per-column join cascade. Output schema matches what cdcMerge
    * consumes, so `cdcMerge(before, snapshotDiff(before, after)) ==
    * after` — the round-trip identity ExtendedSpec pins on random
    * frames. The changelog-from-versions primitive for stores that
    * only keep snapshots.
    */
  def snapshotDiff(before: org.apache.spark.sql.DataFrame,
      after: org.apache.spark.sql.DataFrame,
      key: String, seq: Long = 1L): org.apache.spark.sql.DataFrame = {
    val payload = after.columns.filterNot(_ == key).toSeq
    val b = before.select(col(key),
      struct(payload.map(col): _*).as("pb"))
    val a = after.select(col(key),
      struct(payload.map(col): _*).as("pa"))
    val joined = b.join(a, Seq(key), "full_outer")
      .filter(col("pa").isNull || col("pb").isNull || col("pa") =!= col("pb"))
      .withColumn("op", when(col("pa").isNull, "D").otherwise("U"))
      .withColumn("p", coalesce(col("pa"), col("pb")))
    joined.select(
      (col(key) +: payload.map(c => col(s"p.$c").as(c))) :+
        lit(seq).as("seq") :+ col("op"): _*)
  }

  /** q117: the changelog between the orders snapshot and a drifted
    * replica (6 modified keys, 1 dropped, 4 inserted) — exactly the
    * 11 difference rows, hash-checked against the same full-outer
    * classification in DuckDB.
    */
  val q117: QueryDef = QueryDef.checked(
    "q117_snapshot_diff",
    """WITH snap AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus
      |  FROM orders WHERE o_orderkey < 3000),
      |after AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 500 = 0 THEN o_custkey + 1 ELSE o_custkey END
      |      AS o_custkey,
      |    o_orderstatus
      |  FROM snap WHERE o_orderkey <> 999
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus
      |  FROM snap WHERE o_orderkey % 977 = 0)
      |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN a.o_orderkey IS NULL THEN b.o_custkey ELSE a.o_custkey END
      |    AS o_custkey,
      |  CASE WHEN a.o_orderkey IS NULL THEN b.o_orderstatus ELSE a.o_orderstatus END
      |    AS o_orderstatus,
      |  CAST(1 AS BIGINT) AS seq,
      |  CASE WHEN a.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS op
      |FROM snap b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
      |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
      |   OR a.o_custkey <> b.o_custkey OR a.o_orderstatus <> b.o_orderstatus
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val snap = cdcSnapshot(s, d)
    val after = snap.filter(col("o_orderkey") =!= 999)
      .withColumn("o_custkey",
        when(col("o_orderkey") % 500 === 0, col("o_custkey") + 1)
          .otherwise(col("o_custkey")))
      .unionByName(snap.filter(col("o_orderkey") % 977 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000))
    snapshotDiff(snap, after, "o_orderkey").orderBy(col("o_orderkey"))
  }

  /** Declarative data-quality gate (the Deequ-shaped validation pass a
    * pipeline runs before promoting a snapshot): each check names a
    * VIOLATIONS frame; the report is one row per check with the
    * violation count and a pass flag. Checks stay independent scans
    * (each prunes its own columns/filters; an FK check is a left_anti
    * join) unioned at the end — at 100 TB each check is exactly as
    * expensive as its own predicate, and the report is check-count
    * rows.
    */
  def qualityReport(
      checks: Seq[(String, org.apache.spark.sql.DataFrame)]): org.apache.spark.sql.DataFrame =
    checks.map { case (name, violations) =>
      violations.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    }.reduce(_ unionByName _)
      .withColumn("passed", col("violations") === 0L)

  /** q118: five production-shaped checks over the TPC-H tables — key
    * uniqueness, FK coverage, value domain, non-negativity, and
    * completeness — hash-checked against the same counts in DuckDB.
    * The uniqueness violation counts every row beyond the first per
    * key; the planted expectation here is all-pass (the generator is
    * consistent), which is itself the assertion.
    */
  val q118: QueryDef = QueryDef.checked(
    "q118_quality_gate",
    """SELECT 'customer_name_complete' AS check_name,
      |  CAST((SELECT COUNT(*) FROM customer WHERE c_name IS NULL) AS BIGINT)
      |    AS violations,
      |  (SELECT COUNT(*) FROM customer WHERE c_name IS NULL) = 0 AS passed
      |UNION ALL
      |SELECT 'lineitem_fk_orders',
      |  CAST((SELECT COUNT(*) FROM lineitem l
      |        WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                          WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
      |  (SELECT COUNT(*) FROM lineitem l
      |   WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                     WHERE o.o_orderkey = l.l_orderkey)) = 0
      |UNION ALL
      |SELECT 'orders_key_unique',
      |  CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT),
      |  (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) = 0
      |UNION ALL
      |SELECT 'orders_price_nonneg',
      |  CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice < 0) AS BIGINT),
      |  (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0) = 0
      |UNION ALL
      |SELECT 'orders_status_domain',
      |  CAST((SELECT COUNT(*) FROM orders
      |        WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT),
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_orderstatus NOT IN ('F', 'O', 'P')) = 0
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val dupKeys = orders.groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(explode(expr("sequence(1, int(n - 1))")).as("dup"))
    qualityReport(Seq(
      "customer_name_complete" ->
        Tables.customer(s, d).filter(col("c_name").isNull),
      "lineitem_fk_orders" ->
        Tables.lineitem(s, d).join(orders,
          col("l_orderkey") === col("o_orderkey"), "left_anti"),
      "orders_key_unique" -> dupKeys,
      "orders_price_nonneg" -> orders.filter(col("o_totalprice") < 0),
      "orders_status_domain" ->
        orders.filter(!col("o_orderstatus").isin("F", "O", "P"))))
      .orderBy(col("check_name"))
  }

  /** Distribution drift between two snapshots of a numeric column:
    * fixed equi-width histograms (shared [lo, hi] grid, clamped edge
    * bins) compared bin-by-bin. The ML-monitoring primitive — a feature
    * whose histogram moved is the first thing a training pipeline
    * alerts on. Two map-side-combined aggs (bins ≪ rows) + one tiny
    * full-outer join on bin; counts are exact integers, so the report
    * is engine-exact with no distance-metric float. The L1 column sums
    * to total disagreement; callers alert on Σl1 / n_rows.
    */
  def histogramDrift(before: org.apache.spark.sql.DataFrame,
      after: org.apache.spark.sql.DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): org.apache.spark.sql.DataFrame = {
    val width = (hi - lo) / bins
    def binned(df: org.apache.spark.sql.DataFrame, out: String) =
      df.select(greatest(least(floor((col(valueCol) - lo) / width),
          lit(bins - 1.0)), lit(0.0)).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(out))
    binned(before, "n_before")
      .join(binned(after, "n_after"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .withColumn("l1", abs(col("n_before") - col("n_after")))
  }

  /** q119: price-distribution drift between the orders snapshot and a
    * replica with every fifth key's price shifted up 500 — one bin
    * width, so the drift shows as paired ±deltas in adjacent bins;
    * hash-checked against the same clamped-bin arithmetic in DuckDB.
    */
  val q119: QueryDef = QueryDef.checked(
    "q119_histogram_drift",
    """WITH b AS (
      |  SELECT CAST(greatest(least(floor(o_totalprice / 500.0), 19), 0) AS BIGINT)
      |    AS bin, COUNT(*) AS n_before
      |  FROM orders GROUP BY 1),
      |a AS (
      |  SELECT CAST(greatest(least(floor(
      |      (CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500
      |            ELSE o_totalprice END) / 500.0), 19), 0) AS BIGINT) AS bin,
      |    COUNT(*) AS n_after
      |  FROM orders GROUP BY 1)
      |SELECT COALESCE(b.bin, a.bin) AS bin,
      |  COALESCE(n_before, 0) AS n_before,
      |  COALESCE(n_after, 0) AS n_after,
      |  abs(COALESCE(n_before, 0) - COALESCE(n_after, 0)) AS l1
      |FROM b FULL OUTER JOIN a ON b.bin = a.bin
      |ORDER BY bin""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val drifted = orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 500)
        .otherwise(col("o_totalprice")))
    histogramDrift(orders, drifted, "o_totalprice", lo = 0.0, hi = 10000.0,
        bins = 20)
      .orderBy(col("bin"))
  }

  /** Point-in-time (temporal) join: each fact row joins the dimension
    * VERSION that was valid at the fact's sequence number — the
    * feature-store correctness primitive (training rows must see the
    * feature values as of label time; joining current values leaks the
    * future). Built as an as-of join (the q51 shape), not a
    * range-containment theta join: versions and facts union into one
    * stream ordered by (key, seq) with versions sorting FIRST on ties
    * (a version at seq s is visible to a fact at the same s), and a
    * window carries the last version payload forward onto each fact.
    * One shuffle on the key, nothing quadratic; facts before the first
    * version emit null payload.
    */
  def pointInTimeJoin(facts: org.apache.spark.sql.DataFrame,
      versions: org.apache.spark.sql.DataFrame, key: String, seqCol: String,
      payload: Seq[String],
      opCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    // With opCol, 'D' versions RESET visibility: a fact after a winning
    // delete sees null payload (the key did not exist at that time) —
    // carrying current values across a delete is exactly the
    // label-leakage bug this operator guards against. The payload is
    // carried as ONE struct column (a single last(ignoreNulls) over
    // struct(payload)): fact rows contribute a null STRUCT, version
    // rows a non-null struct even when individual fields are null — so
    // a version's nulls are preserved atomically instead of silently
    // resurrecting the previous version's value for that field (the
    // per-column-carry bug this shape replaces).
    val opExpr = opCol.map(col).getOrElse(lit("U"))
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => versions.schema(c)))
    val v = versions.select(
      col(key), col(seqCol).as("ord"), lit(0).as("kind"),
      opExpr.as("__op"),
      struct(payload.map(col): _*).as("__payload"),
      lit(null).cast("long").as("fact_seq"))
    val f = facts.select(
      col(key), col(seqCol).as("ord"), lit(1).as("kind"),
      lit(null).cast("string").as("__op"),
      lit(null).cast(payloadType).as("__payload"),
      col(seqCol).as("fact_seq"))
    // __op DESC NULLS LAST tiebreak: two VERSIONS sharing (key, ord)
    // order 'U' before 'D', so last() carries the delete — the key
    // reads as absent at that instant, consistent with cdcMerge's
    // delete-wins-ties rule (facts carry null __op and sort after via
    // kind, so their tie order is irrelevant)
    val w = Window.partitionBy(col(key))
      .orderBy(col("ord"), col("kind"), col("__op").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carriedOp = last(col("__op"), ignoreNulls = true).over(w)
    val carried = last(col("__payload"), ignoreNulls = true).over(w)
    v.unionByName(f)
      .select(
        (col(key) +: col("fact_seq") +:
          payload.map(c => when(carriedOp === "D", lit(null))
            .otherwise(carried.getField(c)).as(c))): _*)
      .filter(col("fact_seq").isNotNull)
  }

  /** q120: facts planted BETWEEN the q101 version boundaries (seq 1 and
    * 4) joined point-in-time against the full changelog — a seq-1 fact
    * must see the BASE payload even when a seq-2 update exists; a
    * seq-4 fact sees the seq-2 update on updated keys, and NULL on keys
    * whose seq-3 delete won (the key did not exist at seq 4).
    * Hash-checked against the same union-window SQL in DuckDB.
    */
  val q120: QueryDef = QueryDef.checked(
    "q120_point_in_time_join",
    s"""WITH $cdcCtes,
      |vers AS (
      |  SELECT o_orderkey, seq AS ord, 0 AS kind, op, o_custkey,
      |    CAST(NULL AS BIGINT) AS fact_seq
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)),
      |facts AS (
      |  SELECT o_orderkey, f.seq AS ord, 1 AS kind, CAST(NULL AS VARCHAR) AS op,
      |    CAST(NULL AS BIGINT) AS o_custkey, f.seq AS fact_seq
      |  FROM (SELECT o_orderkey FROM base WHERE o_orderkey % 3 = 0) b
      |  CROSS JOIN (SELECT 1 AS seq UNION ALL SELECT 4) f),
      |u AS (SELECT * FROM vers UNION ALL SELECT * FROM facts),
      |carried AS (
      |  SELECT o_orderkey, fact_seq,
      |    CASE WHEN last_value(op IGNORE NULLS) OVER w = 'D' THEN NULL
      |         ELSE last_value(o_custkey IGNORE NULLS) OVER w END AS o_custkey
      |  FROM u WINDOW w AS (PARTITION BY o_orderkey
      |    ORDER BY ord, kind, op DESC NULLS LAST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT o_orderkey, fact_seq, o_custkey FROM carried
      |WHERE fact_seq IS NOT NULL
      |ORDER BY o_orderkey, fact_seq""".stripMargin) { (s, d) =>
    import s.implicits._
    val snap = cdcSnapshot(s, d)
    val versions = snap.withColumn("seq", lit(0L)).withColumn("op", lit("U"))
      .unionByName(cdcChanges(snap))
      .select(col("o_orderkey"), col("seq"), col("o_custkey"), col("op"))
    val facts = snap.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"))
      .crossJoin(Seq(1L, 4L).toDF("seq"))
    pointInTimeJoin(facts, versions, "o_orderkey", "seq", Seq("o_custkey"),
        opCol = Some("op"))
      .select(col("o_orderkey"), col("fact_seq"), col("o_custkey"))
      .orderBy(col("o_orderkey"), col("fact_seq"))
  }

  /** Mergeable moment states (incremental aggregate maintenance): a
    * per-slice state table of (n, Σx, Σx²) DECIMAL sums is exact,
    * order-independent, and MERGEABLE — new batches aggregate into
    * their own states and component-wise ADD into the stored table, so
    * the 100 TB history is never re-scanned (same algebra that makes
    * q45's statistics deterministic, operationalized as state).
    * `momentState` builds states; `mergeMoments` re-aggregates states
    * under a coarser key (or merges batches under the same key).
    */
  def momentState(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      valueCol: String): org.apache.spark.sql.DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol).cast(DecimalType(18, 2))).as("sx"),
      sum((col(valueCol) * col(valueCol)).cast(DecimalType(38, 4))).as("sxx"))

  def mergeMoments(states: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame =
    states.groupBy(keys.map(col): _*).agg(
      sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sxx")).as("sxx"))

  /** q121: per-(status, priority-band) price states merged up to
    * per-status, derived mean/stddev on the q45 rounding grid —
    * hash-checked that the MERGED path equals DuckDB computing the
    * statistics directly from rows (mergeability is the assertion).
    */
  val q121: QueryDef = QueryDef.checked(
    "q121_mergeable_moments",
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_price,
      |  ROUND(sqrt((CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
      |    - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1)), 6) AS std_price
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val fine = momentState(Tables.orders(s, d),
      Seq("o_orderstatus", "o_orderkey"), "o_totalprice")
      // o_orderkey as the fine slice stands in for a per-day/per-batch
      // state table; the merge below must erase the slicing exactly
    val merged = mergeMoments(fine, Seq("o_orderstatus"))
    merged.select(col("o_orderstatus"), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_price"),
        round(sqrt((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n")) /
          (col("n") - 1)), 6).as("std_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Order-independent per-bucket table fingerprint: rows hashed (md5
    * 60-bit prefix, same construction as q61's fingerprints), bucketed
    * by key, checksummed with an exact DECIMAL sum — commutative, so
    * the checksum is partition-order-invariant. The anti-entropy
    * primitive: two replicas exchange (bucket, n_rows, checksum) — a
    * few KB — and only differing buckets are re-synced row-by-row.
    */
  def tableFingerprint(df: org.apache.spark.sql.DataFrame, keyCol: String,
      cols: Seq[String], nBuckets: Int = 64): org.apache.spark.sql.DataFrame =
    // NULLs serialize as an explicit NUL sentinel: concat_ws SKIPS null
    // arguments, so without it ("A", NULL, "B") and ("A", "B", NULL)
    // would collide on "A|B" and a null-shifted replica would checksum
    // in_sync — a false negative in the primitive whose job is
    // catching silent divergence
    df.select(pmod(col(keyCol), lit(nBuckets)).as("bucket"),
        conv(substring(md5(concat_ws("|",
            cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
          .cast("binary")), 1, 15),
          16, 10).cast(DecimalType(38, 0)).as("sig"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("sig")).as("checksum"))

  /** Bucket-level diff of two tables via [[tableFingerprint]] — which
    * buckets disagree and by how many rows, without shipping any rows.
    */
  def tableDiff(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, keyCol: String,
      cols: Seq[String], nBuckets: Int = 64): org.apache.spark.sql.DataFrame = {
    val fa = tableFingerprint(a, keyCol, cols, nBuckets)
      .select(col("bucket"), col("n_rows").as("n_a"), col("checksum").as("cs_a"))
    val fb = tableFingerprint(b, keyCol, cols, nBuckets)
      .select(col("bucket"), col("n_rows").as("n_b"), col("checksum").as("cs_b"))
    fa.join(fb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (coalesce(col("n_a"), lit(0L)) === coalesce(col("n_b"), lit(0L)) &&
          coalesce(col("cs_a"), lit(0).cast(DecimalType(38, 0))) ===
          coalesce(col("cs_b"), lit(0).cast(DecimalType(38, 0)))).as("in_sync"))
  }

  /** q97: reconcile the orders snapshot against a replica with sparse
    * silent corruption — a flipped o_custkey on keys ≡0 mod 500 and a
    * dropped key 999. Exactly the ≤7 buckets holding corrupted keys
    * report out-of-sync; the other ~57 verify by checksum alone, which
    * is the anti-entropy point (re-sync cost ∝ damage, not table
    * size). Hash-checked against the same fingerprint arithmetic in
    * DuckDB.
    */
  val q97: QueryDef = QueryDef.checked(
    "q97_table_diff",
    """WITH snap AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus
      |  FROM orders WHERE o_orderkey < 3000),
      |replica AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 500 = 0 THEN o_custkey + 1 ELSE o_custkey END
      |      AS o_custkey,
      |    o_orderstatus
      |  FROM snap WHERE o_orderkey <> 999),
      |fa AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n_a,
      |    CAST(SUM(('0x' || substring(md5(
      |      COALESCE(o_orderkey::VARCHAR, chr(0)) || '|' ||
      |      COALESCE(o_custkey::VARCHAR, chr(0)) || '|' ||
      |      COALESCE(o_orderstatus, chr(0))), 1, 15))::BIGINT)
      |      AS DECIMAL(38,0)) AS cs_a
      |  FROM snap GROUP BY 1),
      |fb AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n_b,
      |    CAST(SUM(('0x' || substring(md5(
      |      COALESCE(o_orderkey::VARCHAR, chr(0)) || '|' ||
      |      COALESCE(o_custkey::VARCHAR, chr(0)) || '|' ||
      |      COALESCE(o_orderstatus, chr(0))), 1, 15))::BIGINT)
      |      AS DECIMAL(38,0)) AS cs_b
      |  FROM replica GROUP BY 1)
      |SELECT COALESCE(fa.bucket, fb.bucket) AS bucket,
      |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
      |  (COALESCE(n_a, 0) = COALESCE(n_b, 0) AND
      |   COALESCE(cs_a, 0) = COALESCE(cs_b, 0)) AS in_sync
      |FROM fa FULL OUTER JOIN fb ON fa.bucket = fb.bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val snap = cdcSnapshot(s, d)
    val replica = snap.filter(col("o_orderkey") =!= 999)
      .withColumn("o_custkey",
        when(col("o_orderkey") % 500 === 0, col("o_custkey") + 1)
          .otherwise(col("o_custkey")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    tableDiff(snap, replica, "o_orderkey",
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
      .orderBy(col("bucket"))
  }

  /** Pivot (long→wide reshaping): per-source document counts pivoted on
    * language. The pivot values are DECLARED (the five corpus langs) —
    * the two-pass values-discovery form is a driver round-trip you never
    * want at 100 TB; with declared values the pivot is a single
    * groupBy(source) with one conditional count per column (map-side
    * combined, one shuffle). Missing cells filled 0 to match the
    * oracle's COUNT(CASE...) semantics.
    */
  val q90: QueryDef = QueryDef.checked(
    "q90_pivot_counts",
    """SELECT source,
      | COUNT(CASE WHEN lang = 'de' THEN 1 END) AS de,
      | COUNT(CASE WHEN lang = 'en' THEN 1 END) AS en,
      | COUNT(CASE WHEN lang = 'es' THEN 1 END) AS es,
      | COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
      | COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("source"))
  }

  /** The rest of the window-function family: rank, dense_rank, ntile,
    * percent_rank, cume_dist, first_value, and a RANGE-framed running sum.
    * Total order inside each partition is (o_totalprice DESC, o_orderkey)
    * → every ranking function is deterministic; percent_rank/cume_dist are
    * int/int double divisions (bit-stable in both engines).
    *
    * Scale note: partitions here are the 3 order statuses — at 100 TB you
    * would sub-partition (status, hash-bucket) or pre-aggregate; the point
    * of this query is function coverage, and window state spills to disk
    * per partition either way.
    */
  val q42: QueryDef = QueryDef.checked(
    "q42_window_family",
    """SELECT o_orderkey, o_orderstatus,
      | rank() OVER w AS rnk,
      | dense_rank() OVER w AS drnk,
      | ntile(4) OVER w AS quartile,
      | percent_rank() OVER w AS prnk,
      | cume_dist() OVER w AS cdist,
      | first_value(o_orderkey) OVER w AS top_order,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |   PARTITION BY o_orderstatus ORDER BY o_totalprice
      |   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
      |FROM orders
      |WHERE o_orderkey < 3000
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderstatus, rnk""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).filter(col("o_orderkey") < 3000)
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wRange = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"))
      .rangeBetween(-1000L, Window.currentRow)
    base.select(col("o_orderkey"), col("o_orderstatus"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        first_value(col("o_orderkey")).over(w).as("top_order"),
        sum(dec2(col("o_totalprice"))).over(wRange).cast("double").as("near_sum"))
      .orderBy(col("o_orderstatus"), col("rnk"))
  }

  /** Multiset set operations (ALL variants): nation-key bags of customers
    * vs suppliers.
    */
  val q43: QueryDef = QueryDef.checked(
    "q43_setops_all",
    """SELECT 'intersect_all' AS op, COUNT(*) AS n FROM (
      |  SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) t
      |UNION ALL
      |SELECT 'except_all' AS op, COUNT(*) AS n FROM (
      |  SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier) t
      |UNION ALL
      |SELECT 'union_all' AS op, COUNT(*) AS n FROM (
      |  SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier) t
      |ORDER BY op""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.customer(s, d).select(col("c_nationkey").as("k"))
    val sup = Tables.supplier(s, d).select(col("s_nationkey").as("k"))
    val ia = c.intersectAll(sup).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    val ea = c.exceptAll(sup).agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val ua = c.unionAll(sup).agg(count(lit(1)).as("n")).withColumn("op", lit("union_all"))
    ia.unionByName(ea).unionByName(ua).select($"op", $"n").orderBy($"op")
  }

  /** File-format coverage: CSV and JSON write→read round-trips (lossless
    * for the integer/string projection used), verified against the
    * original table. Exercises spark.read/write csv+json alongside the
    * parquet everything else uses.
    */
  /** q150: single-pass inline audit metrics via `observe` — at 100 TB
    * the difference between `observe` and a separate metrics query is a
    * full second scan of the input: named aggregates accumulate on the
    * SAME pass that produces the primary output (here a noop-sink
    * materialization of the corpus projection), and the `Observation`
    * handle surfaces them after the action with no extra job. The
    * returned frame is the observed metric row itself; the oracle
    * recomputes the aggregates directly, so the compare certifies that
    * piggybacked metrics equal a dedicated scan's answer.
    */
  val q150: QueryDef = QueryDef.checked(
    "q150_observed_metrics",
    """SELECT COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      | COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
      | CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM documents""".stripMargin) { (s, d) =>
    import s.implicits._
    val obs = org.apache.spark.sql.Observation(
      s"q150-${java.util.UUID.randomUUID()}")
    // CollectMetrics forbids DISTINCT aggregates (they cannot
    // accumulate in a single pass) — the metric set here is the
    // accumulator-shaped kind observe exists for
    val primary = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_chars"),
        count(when(col("lang") === "en", lit(1))).as("n_en"),
        max(col("n_chars")).as("max_chars"))
    primary.write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_chars").asInstanceOf[Long],
      m("n_en").asInstanceOf[Long], m("max_chars").asInstanceOf[Long]))
      .toDF("n_rows", "sum_chars", "n_en", "max_chars")
  }

  /** q146: schema-evolution read — the decade-of-parquet reality at
    * 100 TB: older files lack columns added later. Two generations are
    * written under one root (gen 1: doc_id+lang; gen 2 adds n_chars)
    * and read back with `mergeSchema`: Spark reconciles the footers
    * into the union schema, gen-1 rows surface the added column as
    * NULL, and the directory names become a discovered `gen` partition
    * column. The oracle reconstructs the same union from the raw table
    * (evens = gen 1, odds = gen 2). COUNT(col) vs COUNT(*) pins the
    * null-fill; the coalesced sum pins that gen-2 values arrive intact.
    */
  val q146: QueryDef = QueryDef.checked(
    "q146_schema_evolution",
    """SELECT lang, COUNT(*) AS n, COUNT(n_chars) AS n_with_chars,
      | CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS sum_chars
      |FROM (
      |  SELECT lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1)
      |GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tmp = Exact.scratchDir("q146", "evo_").toAbsolutePath.toString
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$tmp/data/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/data/gen=2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/data")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        count(col("n_chars")).as("n_with_chars"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
      .orderBy(col("lang"))
  }

  val q44: QueryDef = QueryDef.checked(
    "q44_format_roundtrip",
    """SELECT fmt, COUNT(*) AS n,
      | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      | COUNT(DISTINCT o_orderstatus) AS n_status
      |FROM (
      |  SELECT 'csv' AS fmt, o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
      |  UNION ALL
      |  SELECT 'json' AS fmt, o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000)
      |GROUP BY fmt ORDER BY fmt""".stripMargin) { (s, d) =>
    val slice = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    // Per-invocation unique dir: two concurrent sessions (or bench's
    // repeated passes) must not collide on a shared path. All
    // invocations live under one per-JVM root that a shutdown hook
    // removes — repeated bench passes must not leak /tmp copies.
    val tmp = Exact.scratchDir("q44", "run_").toAbsolutePath.toString
    slice.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    slice.write.mode("overwrite").json(s"$tmp/json")
    val fromCsv = s.read.option("header", "true")
      .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING")
      .csv(s"$tmp/csv").withColumn("fmt", lit("csv"))
    val fromJson = s.read
      .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING")
      .json(s"$tmp/json").withColumn("fmt", lit("json"))
    fromCsv.unionByName(fromJson)
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .orderBy(col("fmt"))
  }

  /** Statistics via explicit exact-decimal moment sums: mean, sample
    * variance/stddev, and Pearson correlation computed from Σx, Σx², Σxy
    * (DECIMAL, order-independent) with the closed-form double arithmetic
    * identical in both engines. The builtin stddev/corr aggregate doubles
    * in partition order and can never hash-match — this is the
    * deterministic route to the same statistics.
    *
    * Derived outputs are ROUNDED (identically on both sides) well above
    * double-ulp scale: once a moment sum exceeds 2^53 (sf≥0.1 for Σx²)
    * its decimal→double cast rounds, and the two engines' conversions
    * can land 1 ulp apart — observed only in the correlation's 16th
    * digit at sf0.1; the rounding grids (4–12 dp vs values of 1e-3..1e9)
    * absorb it.
    */
  val q45: QueryDef = QueryDef.checked(
    "q45_moment_stats",
    """SELECT o_orderstatus, n,
      | ROUND(sx / n, 6) AS mean_price,
      | ROUND((sxx - sx * sx / n) / (n - 1), 4) AS var_price,
      | ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_price,
      | ROUND((n * sxy - sx * sy) /
      |   (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12) AS corr_price_cust
      |FROM (
      |  SELECT o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(o_custkey AS DECIMAL(18,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(o_custkey * o_custkey AS DECIMAL(38,0))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(o_totalprice * o_custkey AS DECIMAL(38,2))) AS DOUBLE) AS sxy
      |  FROM orders GROUP BY o_orderstatus) t
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val inner = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sx"),
        sum((col("o_totalprice") * col("o_totalprice")).cast(DecimalType(38, 4)))
          .cast("double").as("sxx"),
        sum(col("o_custkey").cast(DecimalType(18, 0))).cast("double").as("sy"),
        sum((col("o_custkey") * col("o_custkey")).cast(DecimalType(38, 0)))
          .cast("double").as("syy"),
        sum((col("o_totalprice") * col("o_custkey")).cast(DecimalType(38, 2)))
          .cast("double").as("sxy"))
    inner.select(col("o_orderstatus"), col("n"),
        round(col("sx") / col("n"), 6).as("mean_price"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 4)
          .as("var_price"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
          .as("std_price"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 12)
          .as("corr_price_cust"))
      .orderBy(col("o_orderstatus"))
  }

  /** q46: approximate sketches, ORACLE-CHECKED — the two questions
    * Spark's builtin HLL++ / `percentile_approx` aggregates answer
    * (distinct orders + median price per return flag), expressed on the
    * repo's PORTABLE sketch primitives so an independent engine replays
    * every register and bucket exactly: distinct via the md5-HLL
    * register table (Scale.hllRegisters / hllEstimate — the q96
    * machinery), median via the integer-grid histogram sketch
    * (Scale.histogramSketch / sketchQuantiles — the q155 machinery) on
    * price cents with $1000 buckets. Same single-pass / bounded-state /
    * mergeable 100 TB shape as the builtins, whose sketch bytes are
    * engine-internal and so could not be a catalog gate. ExtendedSpec
    * pins both answers within tolerance of the exact ones.
    */
  val q46: QueryDef = QueryDef.checked(
    "q46_approx_sketches",
    s"""WITH src AS (
       |  SELECT l_returnflag AS slice, l_orderkey AS v FROM lineitem),
       |${Scale.hllRegSql("src")},
       |hll AS (${Scale.hllEstSql("regs")}),
       |s AS (
       |  SELECT l_returnflag AS flag,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |tot AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM s GROUP BY 1),
       |cum AS (
       |  SELECT flag, b, SUM(c) OVER (PARTITION BY flag ORDER BY b) AS cum
       |  FROM s),
       |qb AS (
       |  SELECT t.flag, t.n,
       |    (SELECT MIN(b) FROM cum WHERE cum.flag = t.flag
       |       AND cum.cum * 1000000 >= t.n * 500000) AS b50
       |  FROM tot t)
       |SELECT q.flag, q.n, h.est AS approx_orders,
       |  CASE WHEN q.b50 >= 0 THEN q.b50 * 100000 + 99999
       |       ELSE q.b50 * 100000 END AS approx_median_cents_ub
       |FROM qb q JOIN hll h ON h.slice = q.flag
       |ORDER BY q.flag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val est = Scale.hllEstimate(
        Scale.hllRegisters(li, "l_returnflag", "l_orderkey"))
      .select(col("slice").as("flag"), col("est").as("approx_orders"))
    val sk = Scale.histogramSketch(li, "l_returnflag",
      dec2(col("l_extendedprice")) * 100, width = 100000L)
    Scale.sketchQuantiles(sk, "l_returnflag", width = 100000L,
        quantilesPpm = Seq(500000L))
      .select(col("l_returnflag").as("flag"), col("n"),
        col("p500000_ub").as("approx_median_cents_ub"))
      .join(est, "flag")
      .select(col("flag"), col("n"), col("approx_orders"),
        col("approx_median_cents_ub"))
      .orderBy(col("flag"))
  }

  /** Per-JVM memo of the q168 persisted aggregate state (q78/q125/q141
    * accounting: a maintained state table is built once, then only
    * MERGED against increments).
    */
  private val aggStateMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q168: INCREMENTAL aggregate maintenance — the materialized-view
    * delta pattern that makes 100 TB ETL affordable: the historical 90 %
    * of the corpus is aggregated ONCE into a persisted per-group state
    * table of mergeable components (count / sum / min / max — each
    * combinable without the raw rows, the q121 moment-state discipline),
    * and each new increment aggregates only ITS rows and merges
    * state ∪ increment with one tiny keyed agg. The oracle recomputes
    * the aggregate over the FULL table — the merge must erase the
    * history/increment split exactly, which is the correctness
    * contract of any incremental pipeline.
    */
  val q168: QueryDef = QueryDef.checked(
    "q168_incremental_agg",
    """SELECT lang, COUNT(*) AS n,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cut = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 9L / 10L
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("lang")).agg(
        count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    val statePath = aggStateMemo.computeIfAbsent(s"$d#$cut",
      k => Exact.memoBuild(s"aggst#$k") {
      val tmp = java.nio.file.Files
        .createTempDirectory(Exact.fmtRoot, "aggst_").toAbsolutePath.toString
      aggOf(docs.filter(col("doc_id") < cut))
        .write.mode("overwrite").parquet(s"$tmp/state")
      s"$tmp/state"
    })
    s.read.parquet(statePath)
      .unionByName(aggOf(docs.filter(col("doc_id") >= cut)))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n"), sum(col("sum_chars")).as("sum_chars"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"))
      .orderBy(col("lang"))
  }

  /** q169: compliance delete cascade (the right-to-be-forgotten shape):
    * a deletion set of subject keys (customers in the BUILDING segment
    * with c_custkey % 10 = 3 — a deterministic stand-in for an erasure
    * request list) cascades through the fact hierarchy — their orders,
    * and those orders' lineitems — via broadcast anti-joins, and the
    * query reports the surviving row counts plus exact checksums. The
    * anti-join DIRECTION is load-bearing at 100 TB: the deletion list
    * broadcasts (erasure requests are human-scale), facts stream
    * map-side; the cascade never shuffles a fact table. Oracle replays
    * the cascade relationally.
    */
  val q169: QueryDef = QueryDef.checked(
    "q169_delete_cascade",
    """WITH del AS (
      |  SELECT c_custkey FROM customer
      |  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 3),
      |keep_ord AS (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM del)),
      |keep_li AS (
      |  SELECT l_orderkey, l_quantity FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM keep_ord)
      |     OR l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |SELECT
      |  (SELECT COUNT(*) FROM del) AS n_deleted_subjects,
      |  (SELECT COUNT(*) FROM keep_ord) AS n_orders_kept,
      |  (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM keep_ord) AS sum_orderkey,
      |  (SELECT COUNT(*) FROM keep_li) AS n_lineitems_kept,
      |  (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |     FROM keep_li) AS sum_qty""".stripMargin) { (s, d) =>
    val del = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") % 10 === 3)
      .select(col("c_custkey"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val keepOrd = orders.join(broadcast(del),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lineitems survive when their order survives — which includes
    // orphan lineitems whose order is outside the snapshot entirely
    // deletedOrd is FACT-scale (every order of every deleted customer —
    // grows with the data, unlike the human-scale `del` list), so the
    // anti-join is left UNHINTED: AQE broadcasts it when it fits and
    // shuffles when it doesn't (the q28/q50 lesson); a forced broadcast
    // would OOM at the 100 TB scale this query narrates
    val deletedOrd = orders.join(broadcast(del),
      col("o_custkey") === col("c_custkey"), "left_semi")
    val keepLi = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
      .join(deletedOrd.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
    val a = del.agg(count(lit(1)).as("n_deleted_subjects"))
    val b = keepOrd.agg(count(lit(1)).as("n_orders_kept"),
      sum(col("o_orderkey")).as("sum_orderkey"))
    val c = keepLi.agg(count(lit(1)).as("n_lineitems_kept"),
      Exact.sum2(col("l_quantity")).as("sum_qty"))
    a.crossJoin(b).crossJoin(c)
  }

  /** q172: exact per-group MODE with a deterministic tie-break (highest
    * count, then lowest value — `max_by` alone is tie-unstable across
    * engines, the reason this goes through an explicit ranked window):
    * the categorical companion of q92's numeric profile. Two keyed
    * aggs + one window over the (group, value) count frame — the heavy
    * input collapses in the first map-side-combined count.
    */
  val q172: QueryDef = QueryDef.checked(
    "q172_group_mode",
    """WITH c AS (
      |  SELECT source, lang, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY cnt DESC, lang) AS rn
      |  FROM c)
      |SELECT source, lang AS mode_lang, cnt AS mode_n
      |FROM r WHERE rn = 1 ORDER BY source""".stripMargin) { (s, d) =>
    val counts = Tables.documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("mode_lang"),
        col("cnt").as("mode_n"))
      .orderBy(col("source"))
  }

  /** q166: PERMISSIVE CSV ingest with corrupt-row quarantine — the
    * malformed-line half of resilient log ingest (q68 certifies the
    * JSON side): a clean CSV slice of orders plus a second file of
    * deliberately broken lines (non-numeric key, missing fields —
    * note extra trailing tokens are NOT malformed to Spark's parser,
    * which is why the broken lines here under-run the schema) read
    * through a typed schema with `columnNameOfCorruptRecord`. Good rows
    * parse to typed columns; broken rows surface VERBATIM in the
    * corrupt column with null fields — never dropped, never failing the
    * read (the reference's domain is exactly this: log streams with
    * garbage interleaved, main.go tolerates unparseable lines). Output:
    * parsed/corrupt counts, the exact key sum of the parsed rows, and
    * the sorted corrupt payloads — all reconstructable by the oracle
    * from the base table plus the known constants.
    */
  val q166: QueryDef = QueryDef.checked(
    "q166_csv_badrows",
    """SELECT
      | (SELECT COUNT(*) FROM orders WHERE o_orderkey < 100) AS n_parsed,
      | CAST(2 AS BIGINT) AS n_corrupt,
      | (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
      |   WHERE o_orderkey < 100) AS sum_key,
      | 'bad_token_only|not_a_number,7' AS corrupt_lines""".stripMargin) { (s, d) =>
    val tmp = Exact.scratchDir("q166", "csvbad_").toAbsolutePath.toString
    Tables.orders(s, d).filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite").csv(s"$tmp/data")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/data/part-corrupt.csv"),
      "bad_token_only\nnot_a_number,7\n")
    val read = s.read
      .schema("o_orderkey LONG, o_custkey LONG, _bad STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(s"$tmp/data")
    read.agg(
      count(when(col("_bad").isNull, 1)).as("n_parsed"),
      count(col("_bad")).as("n_corrupt"),
      sum(when(col("_bad").isNull, col("o_orderkey"))).as("sum_key"),
      concat_ws("|", array_sort(collect_list(col("_bad"))))
        .as("corrupt_lines"))
  }

  /** q188: k-anonymity suppression release (k = 10) over the
    * quasi-identifier pair (c_nationkey, c_mktsegment) — the standard
    * privacy-preserving publication gate that pairs with q169's erasure
    * cascade: equivalence classes with ≥ k members are released as-is;
    * smaller classes are suppressed into a single generalized ('*','*')
    * row carrying only their total count, so no released row isolates
    * fewer than k individuals. One hash aggregation over the
    * quasi-identifiers (map-side combined; #classes = |nations|×|segments|,
    * bounded) plus a broadcast-scale union — nothing here grows with the
    * fact data beyond the first combine.
    */
  val q188: QueryDef = QueryDef.checked(
    "q188_k_anonymity",
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2),
      |released AS (
      |  SELECT CAST(c_nationkey AS VARCHAR) AS nation, c_mktsegment AS segment,
      |    n AS n_rows
      |  FROM g WHERE n >= 10),
      |suppressed AS (
      |  SELECT '*' AS nation, '*' AS segment, CAST(SUM(n) AS BIGINT) AS n_rows
      |  FROM g WHERE n < 10 HAVING COUNT(*) > 0)
      |SELECT * FROM released UNION ALL SELECT * FROM suppressed
      |ORDER BY nation, segment""".stripMargin) { (s, d) =>
    val g = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val released = g.filter(col("n") >= 10)
      .select(col("c_nationkey").cast("string").as("nation"),
        col("c_mktsegment").as("segment"), col("n").as("n_rows"))
    val suppressed = g.filter(col("n") < 10)
      .agg(count(lit(1)).as("k"), sum(col("n")).as("tot"))
      .filter(col("k") > 0)
      .select(lit("*").as("nation"), lit("*").as("segment"),
        col("tot").as("n_rows"))
    released.unionAll(suppressed).orderBy(col("nation"), col("segment"))
  }

  /** q257: l-diversity release (k = 10, l = 3) — the stricter privacy
    * gate on top of q188's k-anonymity: an equivalence class under the
    * quasi-identifiers (c_nationkey, c_mktsegment) is released only when
    * it has ≥ k members AND ≥ l distinct SENSITIVE values (account
    * balance in $1000 bands — exact integer cents, `div`-truncated, the
    * cross-engine idiom), so a released class never lets an attacker who
    * has located someone in it infer the sensitive attribute (the
    * homogeneity attack k-anonymity alone admits). Failing classes
    * collapse into one generalized row whose n_rows AND n_sens are
    * recomputed exactly over the union of their members — a sum of
    * per-class distinct counts would overcount shared values.
    *
    * Scale shape: one map-side-combined agg over the quasi-identifiers
    * (#classes bounded by the QI domain), a broadcast of the tiny class
    * verdict table back onto the rows for the suppressed-side exact
    * distinct, and a broadcast-scale union. Nothing after the first
    * combine grows with the fact data.
    */
  val q257: QueryDef = QueryDef.checked(
    "q257_l_diversity",
    """WITH r AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS sens
      |  FROM customer),
      |g AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
      |    COUNT(DISTINCT sens) AS l FROM r GROUP BY 1, 2),
      |released AS (
      |  SELECT CAST(c_nationkey AS VARCHAR) AS nation, c_mktsegment AS segment,
      |    CAST(n AS BIGINT) AS n_rows, CAST(l AS BIGINT) AS n_sens
      |  FROM g WHERE n >= 10 AND l >= 3),
      |supp AS (
      |  SELECT '*' AS nation, '*' AS segment,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT r.sens) AS BIGINT) AS n_sens
      |  FROM r JOIN g ON r.c_nationkey = g.c_nationkey
      |    AND r.c_mktsegment = g.c_mktsegment
      |  WHERE NOT (g.n >= 10 AND g.l >= 3) HAVING COUNT(*) > 0)
      |SELECT * FROM released UNION ALL SELECT * FROM supp
      |ORDER BY nation, segment""".stripMargin) { (s, d) =>
    lDiversityRelease(Tables.customer(s, d), k = 10, l = 3)
  }

  /** The library form of q257 (see its scaladoc): release classes under
    * (c_nationkey, c_mktsegment) meeting both thresholds; generalize the
    * rest into one exactly-recomputed suppressed row.
    */
  def lDiversityRelease(customer: DataFrame, k: Int, l: Int): DataFrame = {
    val rows = customer.select(col("c_nationkey"), col("c_mktsegment"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 100000")
        .as("sens"))
    val g = rows.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), count_distinct(col("sens")).as("l"))
    val ok = col("n") >= k && col("l") >= l
    val released = g.filter(ok)
      .select(col("c_nationkey").cast("string").as("nation"),
        col("c_mktsegment").as("segment"),
        col("n").as("n_rows"), col("l").as("n_sens"))
    val suppressed = rows
      .join(broadcast(g.filter(!ok)
          .select(col("c_nationkey"), col("c_mktsegment"))),
        Seq("c_nationkey", "c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"), count_distinct(col("sens")).as("n_sens"))
      .filter(col("n_rows") > 0)
      .select(lit("*").as("nation"), lit("*").as("segment"),
        col("n_rows"), col("n_sens"))
    released.unionAll(suppressed).orderBy(col("nation"), col("segment"))
  }

  /** Skyline (Pareto frontier) under 2-D minimization — "no other row
    * is ≤ in both dimensions and < in one". The classic O(n²)
    * NOT-EXISTS shape collapses to a sorted WINDOW test in 2-D: order
    * by x, then p is dominated iff some row with strictly smaller x
    * has y ≤ p.y (a range-frame running min), or some row with equal x
    * has y < p.y (a per-x running min). Distribution uses the standard
    * two-phase skyline: LOCAL skylines per hash bucket first (the same
    * window partitioned by bucket — embarrassingly parallel, prunes
    * all but the frontier candidates), then the GLOBAL window over the
    * tiny surviving set. Exact because dominance is transitive: any
    * dominator of a surviving point is itself dominated only by
    * bucket-local survivors.
    */
  def skyline2(points: DataFrame, xCol: String, yCol: String,
      idCol: String, buckets: Int = 32): DataFrame = {
    def frontier(df: DataFrame, part: Seq[Column]): DataFrame = {
      val wRange = Window.partitionBy(part: _*).orderBy(col(xCol))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSame = Window.partitionBy(part :+ col(xCol): _*)
        .orderBy(col(yCol), col(idCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("__minySmaller", min(col(yCol)).over(wRange))
        .withColumn("__minySame", min(col(yCol)).over(wSame))
        .filter((col("__minySmaller").isNull ||
            col("__minySmaller") > col(yCol)) &&
          (col("__minySame").isNull || col("__minySame") >= col(yCol)))
        .drop("__minySmaller", "__minySame")
    }
    val local = frontier(
      points.withColumn("__bkt", pmod(col(idCol), lit(buckets))),
      Seq(col("__bkt"))).drop("__bkt")
    frontier(local, Seq.empty)
  }

  /** q201: Pareto-optimal parts minimizing (retail price, size) — the
    * multi-objective "best tradeoffs" query (cheapest for its
    * compactness). Duplicate (x, y) points are co-kept (neither
    * strictly dominates). Oracle = the quadratic NOT-EXISTS dominance
    * test, so the window formulation and the two-phase distribution
    * must reproduce textbook semantics exactly.
    */
  val q201: QueryDef = QueryDef.checked(
    "q201_skyline",
    """WITH p AS (
      |  SELECT p_partkey,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
      |    CAST(p_size AS BIGINT) AS size
      |  FROM part)
      |SELECT p_partkey, price_c, size FROM p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p q
      |  WHERE q.price_c <= p.price_c AND q.size <= p.size
      |    AND (q.price_c < p.price_c OR q.size < p.size))
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val pts = Tables.part(s, d).select(col("p_partkey"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("price_c"),
      col("p_size").cast("long").as("size"))
    skyline2(pts, "price_c", "size", "p_partkey")
      .select(col("p_partkey"), col("price_c"), col("size"))
      .orderBy(col("p_partkey"))
  }

  /** q202: Benford's-law leading-digit audit — the forensic
    * data-quality screen (fabricated or unit-mangled numeric columns
    * drift from the log distribution natural amounts follow): observed
    * first-digit counts of order totals vs the Benford expectation,
    * with expectations as ppm INTEGER CONSTANTS (round(10⁶·log10(1+1/d)))
    * so the whole audit — shares and deviations included — is exact
    * integer arithmetic in both engines. One map-side-combined count
    * over the fact table + a 9-row broadcast of the expectation table;
    * pairs with q118's gate and q119's drift as the third
    * distribution-shaped check.
    */
  val q202: QueryDef = QueryDef.checked(
    "q202_benford_audit",
    """WITH c AS (
      |  SELECT SUBSTRING(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) AS VARCHAR), 1, 1) AS digit
      |  FROM orders),
      |obs AS (SELECT digit, COUNT(*) AS n_obs FROM c GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
      |exp AS (
      |  SELECT * FROM (VALUES ('1', 301030), ('2', 176091), ('3', 124939),
      |    ('4', 96910), ('5', 79181), ('6', 66947), ('7', 57992),
      |    ('8', 51153), ('9', 45757)) e(digit, expected_ppm))
      |SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
      |  COALESCE(o.n_obs, 0) * 1000000 // (SELECT n FROM tot) AS obs_ppm,
      |  e.expected_ppm,
      |  ABS(COALESCE(o.n_obs, 0) * 1000000 // (SELECT n FROM tot)
      |    - e.expected_ppm) AS dev_ppm
      |FROM exp e LEFT JOIN obs o USING (digit)
      |ORDER BY e.digit""".stripMargin) { (s, d) =>
    import s.implicits._
    val obs = Tables.orders(s, d)
      .select(substring(
        expr("CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING)"),
        1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val expected = Seq("1" -> 301030L, "2" -> 176091L, "3" -> 124939L,
      "4" -> 96910L, "5" -> 79181L, "6" -> 66947L, "7" -> 57992L,
      "8" -> 51153L, "9" -> 45757L).toDF("digit", "expected_ppm")
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    expected.join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        expr("coalesce(n_obs, 0) * 1000000 div n").as("obs_ppm"),
        col("expected_ppm"),
        abs(expr("coalesce(n_obs, 0) * 1000000 div n") - col("expected_ppm"))
          .as("dev_ppm"))
      .orderBy(col("digit"))
  }

  /** q196: exact grouped covariance / Pearson-r² at FACT scale — the
    * overflow-safe discipline: on integer cent grids the textbook
    * numerators (n·Σxy − Σx·Σy etc.) exceed BIGINT at ~10²¹ for 100k+
    * rows of 10⁷-cent values, so sums must leave 64 bits before the
    * final arithmetic — but running the WHOLE fact scan through
    * DECIMAL(38,0) accumulators pays 128-bit adds on every row (the
    * measured 2.6× over the long-sum plan). Two-stage exact shape
    * instead ([[exactMomentSums]]): stage 1 sums PLAIN LONGS per
    * (flag, 4096-row chunk) — chunk = monotonically_increasing_id()
    * >> 12, so a chunk never exceeds 2¹² rows and each partial stays
    * provably inside 2⁶³ for element magnitudes up to 4.7×10⁷ cents
    * (√(2⁶³∕2¹²); the TPC-H price grid tops out at 10⁷ — 4.7×
    * headroom, and an out-of-domain value fails loudly under ANSI
    * rather than wrapping); stage 2 widens the per-chunk partials to
    * DECIMAL(38,0) and merges per flag. Long addition is exact,
    * decimal addition is exact, so the merged sums are bit-identical
    * to the all-decimal form and to DuckDB's HUGEINT — the oracle
    * text is unchanged. Only
    * the final numerators cast to DOUBLE (both engines round the same
    * exact integer to the same nearest double); r² is an integer ppm
    * via the identical ROUND text. At 100 TB stage 1 is map-side hash
    * aggregation on (flag, chunk) — rows/4096 partials cross the wire,
    * stage 2 is flag-count rows. The single-pass mergeable-state cousin
    * of q121's moments and q122's per-series slope.
    */
  /** The two-stage exact moment-sum kernel (q196's stage 1+2, factored
    * so ExtendedSpec can pin the overflow bound directly): given rows
    * (flag, x, y) of BIGINT grid values, returns per-flag EXACT
    * n/Σx/Σy/Σxy/Σx²/Σy² with count as BIGINT and sums as
    * DECIMAL(38,0). Stage 1 sums plain longs per (flag, ≤2¹²-row
    * chunk); stage 2 widens the per-chunk partials to decimal and
    * merges per flag — bit-identical to an all-decimal accumulation
    * (long and decimal addition are both exact) at long-sum speed over
    * the fact scan. Sound for |x|,|y| ≤ 4.7×10⁷ (√(2⁶³∕2¹²) ≈ 4.74×10⁷
    * bounds the worst per-chunk Σy²) — $470k in cents per value, 4.7×
    * headroom over the TPC-H price grid's 10⁷-cent maximum; a wider
    * value grid needs a smaller chunk shift (or the all-decimal form).
    * (Chunk ids are partition-unique while a partition holds < 2³³
    * rows — mono-id's counter field; a cross-partition chunk collision
    * past that would merely double one chunk's row bound, still 2×
    * inside 2⁶³ at the TPC-H grid.)
    * Out-of-bound magnitudes fail LOUDLY under ANSI (long-overflow
    * error), never as a silent wrap.
    */
  def exactMomentSums(c: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val partial = c
      .withColumn("chunk", shiftright(monotonically_increasing_id(), 12))
      .groupBy(col("flag"), col("chunk")).agg(
        count(lit(1)).as("pn"),
        sum(col("x")).as("px"),
        sum(col("y")).as("py"),
        sum(col("x") * col("y")).as("pxy"),
        sum(col("x") * col("x")).as("pxx"),
        sum(col("y") * col("y")).as("pyy"))
    partial.groupBy(col("flag")).agg(
      sum(col("pn")).as("n"),
      sum(col("px").cast(dec38)).as("sx"),
      sum(col("py").cast(dec38)).as("sy"),
      sum(col("pxy").cast(dec38)).as("sxy"),
      sum(col("pxx").cast(dec38)).as("sxx"),
      sum(col("pyy").cast(dec38)).as("syy"))
  }

  val q196: QueryDef = QueryDef.checked(
    "q196_grouped_correlation",
    """WITH c AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT flag, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
      |    SUM(x*x) AS sxx, SUM(y*y) AS syy
      |  FROM c GROUP BY flag),
      |k AS (
      |  SELECT flag, n,
      |    CAST(n*sxy - sx*sy AS DOUBLE) AS covd,
      |    CAST(n*sxx - sx*sx AS DOUBLE) AS vxd,
      |    CAST(n*syy - sy*sy AS DOUBLE) AS vyd
      |  FROM m)
      |SELECT flag, n, covd AS cov_num,
      |  CASE WHEN vxd * vyd = 0 THEN NULL
      |    ELSE CAST(ROUND(1000000.0 * covd * covd / (vxd * vyd)) AS BIGINT)
      |  END AS r2_ppm
      |FROM k ORDER BY flag""".stripMargin) { (s, d) =>
    val c = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("y"))
    val m = exactMomentSums(c)
    m.select(col("flag"), col("n"),
        expr("CAST(n*sxy - sx*sy AS DOUBLE)").as("covd"),
        expr("CAST(n*sxx - sx*sx AS DOUBLE)").as("vxd"),
        expr("CAST(n*syy - sy*sy AS DOUBLE)").as("vyd"))
      .select(col("flag"), col("n"), col("covd").as("cov_num"),
        expr("""CASE WHEN vxd * vyd = 0 THEN NULL
                ELSE CAST(ROUND(1000000.0 * covd * covd / (vxd * vyd)) AS BIGINT)
                END""").as("r2_ppm"))
      .orderBy(col("flag"))
  }

  /** q189: referential-integrity audit across the star schema — the
    * constraint checker a lakehouse runs after every load (parquet has
    * no enforced FKs): for each declared FK edge, the orphan count
    * (children whose parent key is absent) and the child total. Shape:
    * one LEFT ANTI join per edge, each a plain equi-join on the FK —
    * at 100 TB each audit is a shuffle join keyed on the FK (or a
    * broadcast when the parent is dimension-sized, which Catalyst picks
    * automatically), then a count; the five audits are independent plan
    * subtrees that run concurrently. Constants-only output rows make
    * the result trivially mergeable into a quality dashboard (q118).
    */
  val q189: QueryDef = QueryDef.checked(
    "q189_ri_audit",
    """WITH a AS (
      |  SELECT 'customer.nationkey' AS fk,
      |    (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
      |       ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL) AS n_orphans,
      |    (SELECT COUNT(*) FROM customer) AS n_children),
      |b AS (
      |  SELECT 'lineitem.orderkey' AS fk,
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
      |       ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans,
      |    (SELECT COUNT(*) FROM lineitem) AS n_children),
      |c AS (
      |  SELECT 'lineitem.partkey' AS fk,
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
      |       ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL) AS n_orphans,
      |    (SELECT COUNT(*) FROM lineitem) AS n_children),
      |e AS (
      |  SELECT 'lineitem.suppkey' AS fk,
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
      |       ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL) AS n_orphans,
      |    (SELECT COUNT(*) FROM lineitem) AS n_children),
      |f AS (
      |  SELECT 'orders.custkey' AS fk,
      |    (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
      |       ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS n_orphans,
      |    (SELECT COUNT(*) FROM orders) AS n_children)
      |SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
      |UNION ALL SELECT * FROM e UNION ALL SELECT * FROM f
      |ORDER BY fk""".stripMargin) { (s, d) =>
    def audit(name: String, child: DataFrame, fkCol: String,
        parent: DataFrame, pkCol: String): DataFrame = {
      val orphans = child.select(col(fkCol))
        .join(parent.select(col(pkCol)), col(fkCol) === col(pkCol), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val total = child.agg(count(lit(1)).as("n_children"))
      orphans.crossJoin(total).select(lit(name).as("fk"),
        col("n_orphans"), col("n_children"))
    }
    val cust = Tables.customer(s, d); val nat = Tables.nation(s, d)
    val li = Tables.lineitem(s, d); val ord = Tables.orders(s, d)
    Seq(
      audit("customer.nationkey", cust, "c_nationkey", nat, "n_nationkey"),
      audit("lineitem.orderkey", li, "l_orderkey", ord, "o_orderkey"),
      audit("lineitem.partkey", li, "l_partkey", Tables.part(s, d), "p_partkey"),
      audit("lineitem.suppkey", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      audit("orders.custkey", ord, "o_custkey", cust, "c_custkey"))
      .reduce(_ unionAll _)
      .orderBy(col("fk"))
  }

  /** q213: unpivot (melt) — the wide→long inverse of q90's pivot,
    * completing the reshape pair. Four lineitem measures are rescaled to
    * exact integers (quantity, price cents, discount/tax basis points),
    * melted via `Dataset.unpivot` (one Catalyst `Expand` — row-local,
    * zero shuffle for the reshape itself), then profiled per
    * (returnflag, measure) with one map-side-combined agg. At 100 TB the
    * Expand multiplies rows 4× BEFORE the shuffle but carries only the
    * 3 projected columns, and partial aggregation collapses them back to
    * #groups×#measures cells per partition — the reshape never
    * materializes.
    */
  val q213: QueryDef = QueryDef.checked(
    "q213_unpivot_profile",
    """WITH m AS (
      |  SELECT l_returnflag AS rf, 'qty' AS measure,
      |    CAST(l_quantity AS BIGINT) AS v FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'price_c',
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'disc_bp',
      |    CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'tax_bp',
      |    CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) FROM lineitem)
      |SELECT rf, measure, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v,
      |  MIN(v) AS min_v, MAX(v) AS max_v
      |FROM m GROUP BY rf, measure ORDER BY rf, measure""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("rf"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_c"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("disc_bp"),
        expr("CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("tax_bp"))
      .unpivot(Array(col("rf")),
        Array(col("disc_bp"), col("price_c"), col("qty"), col("tax_bp")),
        "measure", "v")
      .groupBy(col("rf"), col("measure"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy(col("rf"), col("measure"))
  }

  /** q221: join-key skew diagnostic — the pre-flight report that decides
    * between a plain shuffle join, q219's salting, and AQE skew-split:
    * the key-frequency distribution of a prospective join key (count
    * quantiles, max, and the exact traffic share of the top 1% hottest
    * keys in ppm). One map-side-combined count agg builds the key-count
    * frame (persisted — one fact scan serves every readout); the global
    * (cnt DESC, k) rank runs through the q241/q268/q225 TWO-PHASE
    * bucket/offset machinery, never a single-partition window: keys
    * bucket by a descending div-grid on cnt (range from one bounded
    * 1-row driver agg; equal counts share a bucket so ties stay
    * bucket-local), bucket counts prefix-sum into offsets over the
    * B-row frame (the only global window), rank = offset + within-
    * bucket row_number. The exact percentiles come from the SAME ranks
    * — percentile_disc(q) is by definition the value at ascending
    * position ⌈q·n⌉ = descending position n+1−⌈q·n⌉ (ties share the
    * value, so the tie-break is immaterial) — not from a single-reduce
    * percentile buffer that would hold all n_keys values in one task.
    * One conditional aggregate reads off top-1% traffic and both
    * percentiles in a single pass. All readouts are exact integers.
    */
  val q221: QueryDef = QueryDef.checked(
    "q221_skew_diagnostic",
    """WITH c AS (
      |  SELECT l_partkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt) AS BIGINT)
      |      AS p50_cnt,
      |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt) AS BIGINT)
      |      AS p99_cnt
      |  FROM c),
      |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, k) AS rnk FROM c),
      |top AS (
      |  SELECT CAST(SUM(r.cnt) AS BIGINT) AS top_cnt,
      |    CAST(COUNT(*) AS BIGINT) AS top_keys
      |  FROM r, st WHERE r.rnk <= (st.n_keys + 99) // 100)
      |SELECT st.n_rows, st.n_keys, st.max_cnt, st.p50_cnt, st.p99_cnt,
      |  top.top_keys, (1000000 * top.top_cnt) // st.n_rows AS top1pct_share_ppm
      |FROM st, top""".stripMargin) { (s, d) =>
    val c = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
      .persist()
    val st = c.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"), min(col("cnt")).as("min_cnt")).head()
    if (st.isNullAt(2)) {
      // empty source: the oracle's aggregate CTEs still emit ONE row
      // (n_keys 0, top_keys 0, everything else NULL) — mirror that
      // exact row, never an NPE on the null agg and never a 0-row
      // frame the oracle would mismatch
      val nulL = lit(null).cast("long")
      s.range(1).select(nulL.as("n_rows"), lit(0L).as("n_keys"),
        nulL.as("max_cnt"), nulL.as("p50_cnt"), nulL.as("p99_cnt"),
        lit(0L).as("top_keys"), nulL.as("top1pct_share_ppm"))
    } else {
      val nKeys = st.getLong(0); val nRows = st.getLong(1)
      val maxCnt = st.getLong(2); val minCnt = st.getLong(3)
      val buckets = 64
      val width = (maxCnt - minCnt) / buckets + 1L
      val nTop = (nKeys + 99L) / 100L
      // percentile_disc(q) = value at ascending rank ceil(q*n); read it
      // at the mirrored descending rank n+1-ceil(q*n)
      val d50 = nKeys + 1L - (nKeys + 1L) / 2L
      val d99 = nKeys + 1L - (99L * nKeys + 99L) / 100L
      val b = c.withColumn("bkt", expr(s"(${maxCnt}L - cnt) div ${width}L"))
      val offs = b.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(
          Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt"), col("off"))
      val ranked = b.join(broadcast(offs), Seq("bkt"))
        .select(col("cnt"), (col("off") + row_number().over(
          Window.partitionBy(col("bkt"))
            .orderBy(col("cnt").desc, col("k")))).as("rnk"))
      ranked.agg(
          sum(when(col("rnk") <= nTop, col("cnt"))).as("top_cnt"),
          count(when(col("rnk") <= nTop, lit(1))).as("top_keys"),
          max(when(col("rnk") === d50, col("cnt"))).as("p50_cnt"),
          max(when(col("rnk") === d99, col("cnt"))).as("p99_cnt"))
        .select(lit(nRows).as("n_rows"), lit(nKeys).as("n_keys"),
          lit(maxCnt).as("max_cnt"), col("p50_cnt"), col("p99_cnt"),
          col("top_keys"),
          expr(s"(1000000L * top_cnt) div ${nRows}L").as("top1pct_share_ppm"))
    }
  }

  /** q227: hierarchical rollup — subtree aggregation over a forest, the
    * org-chart / category-tree / account-hierarchy staple: every user
    * rolls up through its decimal-prefix ancestor chain (parent =
    * id div 10 — a deterministic radix forest over the id space), and
    * each ancestor node reports its subtree's user count and event
    * total. The Spark shape is the scale lesson: NO recursion at all —
    * each row explodes its ≤19 ancestors ROW-LOCALLY (transform over a
    * constant shift array) and one keyed agg does the rollup, versus
    * the oracle's recursive CTE which walks parent links level by
    * level. Path-to-root explode beats iteration whenever depth is
    * bounded, which id-structured hierarchies guarantee.
    */
  val q227: QueryDef = QueryDef.checked(
    "q227_hierarchy_rollup",
    """WITH RECURSIVE c AS (
      |  SELECT user_id AS u, COUNT(*) AS cnt FROM events GROUP BY 1),
      |anc(u, a) AS (
      |  SELECT u, u FROM c
      |  UNION ALL
      |  SELECT u, a // 10 FROM anc WHERE a >= 10),
      |r AS (
      |  SELECT anc.a, COUNT(*) AS n_desc,
      |    CAST(SUM(c.cnt) AS BIGINT) AS sum_events
      |  FROM anc JOIN c USING (u)
      |  WHERE anc.a >= 1 GROUP BY anc.a)
      |SELECT r.a AS node, r.n_desc, r.sum_events,
      |  CASE WHEN c2.u IS NULL THEN 0 ELSE 1 END AS is_user
      |FROM r LEFT JOIN c c2 ON c2.u = r.a
      |ORDER BY node""".stripMargin) { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy(col("user_id").as("u")).agg(count(lit(1)).as("cnt"))
    val anc = c.select(col("u"), col("cnt"),
        explode(expr(
          "transform(sequence(0, 18), k -> u div CAST(power(10, k) AS BIGINT))"))
          .as("a"))
      .filter(col("a") >= 1)
    anc.groupBy(col("a"))
      .agg(count(lit(1)).as("n_desc"), sum(col("cnt")).as("sum_events"))
      // UNHINTED: c is one row per distinct user — fact-scale, not a
      // dimension — so AQE picks broadcast only when it actually fits
      .join(c.select(col("u").as("a"), lit(1).as("is_user")),
        Seq("a"), "left")
      .select(col("a").as("node"), col("n_desc"), col("sum_events"),
        coalesce(col("is_user"), lit(0)).as("is_user"))
      .orderBy(col("node"))
  }

  /** q235: functional-dependency audit — the data-profiling staple
    * behind schema inference and key discovery (Metanome/HyFD territory,
    * but the engine's half: candidate VERIFICATION, not lattice
    * search): for each declared candidate FD X→Y, count the X keys
    * that map to ≥2 distinct Y — zero violators means the dependency
    * holds and Y can be normalized out / used as a derived key. One
    * map-side-combined (X, Y) distinct + one X-keyed count per
    * candidate; the five audits are independent plan subtrees running
    * concurrently, each shuffling #distinct-pairs rows, never data
    * rows. o_orderkey→o_orderstatus holds by PK construction — the
    * audit must prove a positive, not only find violations.
    */
  val q235: QueryDef = QueryDef.checked(
    "q235_fd_audit",
    """WITH cands AS (
      |  SELECT 'orders.okey->status' AS fd, CAST(o_orderkey AS VARCHAR) AS x,
      |    o_orderstatus AS y FROM orders
      |  UNION ALL
      |  SELECT 'orders.cust->priority', CAST(o_custkey AS VARCHAR),
      |    o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.part->supp', CAST(l_partkey AS VARCHAR),
      |    CAST(l_suppkey AS VARCHAR) FROM lineitem
      |  UNION ALL
      |  SELECT 'customer.nation->segment', CAST(c_nationkey AS VARCHAR),
      |    c_mktsegment FROM customer
      |  UNION ALL
      |  SELECT 'events.user->type', CAST(user_id AS VARCHAR),
      |    event_type FROM events),
      |pairs AS (
      |  SELECT DISTINCT fd, x, y FROM cands),
      |keys AS (
      |  SELECT fd, x, COUNT(*) AS ny FROM pairs GROUP BY 1, 2)
      |SELECT fd, COUNT(*) AS n_keys,
      |  CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating_keys,
      |  CAST(SUM(ny) AS BIGINT) AS n_pairs,
      |  CASE WHEN SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) = 0
      |    THEN 1 ELSE 0 END AS holds
      |FROM keys GROUP BY fd ORDER BY fd""".stripMargin) { (s, d) =>
    def audit(fd: String, df: DataFrame, x: org.apache.spark.sql.Column,
        y: org.apache.spark.sql.Column): DataFrame =
      df.select(x.cast("string").as("x"), y.cast("string").as("y"))
        .distinct()
        .groupBy(col("x")).agg(count(lit(1)).as("ny"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("ny") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
          sum(col("ny")).as("n_pairs"))
        .select(lit(fd).as("fd"), col("n_keys"), col("n_violating_keys"),
          col("n_pairs"),
          when(col("n_violating_keys") === 0L, 1).otherwise(0).as("holds"))
    val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
    val c = Tables.customer(s, d); val e = Tables.events(s, d)
    audit("orders.okey->status", o, col("o_orderkey"), col("o_orderstatus"))
      .unionByName(audit("orders.cust->priority", o,
        col("o_custkey"), col("o_orderpriority")))
      .unionByName(audit("lineitem.part->supp", l,
        col("l_partkey"), col("l_suppkey")))
      .unionByName(audit("customer.nation->segment", c,
        col("c_nationkey"), col("c_mktsegment")))
      .unionByName(audit("events.user->type", e,
        col("user_id"), col("event_type")))
      .orderBy(col("fd"))
  }

  /** q241: dense surrogate-id assignment WITHOUT a global sort — the
    * dimension-key / embedding-row-index builder every warehouse and
    * training pipeline needs (contiguous 0..N−1 ids in a declared
    * order), and a trap this catalog's own tooling warns about: the
    * naive ROW_NUMBER() OVER (ORDER BY k) moves ALL data to ONE
    * partition (Spark's WindowExec logs exactly that). Two-phase form:
    * range-bucket each row by key (order-preserving integer div — no
    * sampling, so deterministic, unlike repartitionByRange), count per
    * bucket (tiny agg), exclusive-prefix-sum the counts over the
    * B-row frame (the only global window — B rows, not N), broadcast
    * the offsets back, and add a WITHIN-bucket row_number. Every
    * data-sized stage stays partitioned; monotonically_increasing_id
    * (gappy) and zipWithIndex (RDD, two passes over data) are the
    * rejected alternatives. Oracle = the naive global ROW_NUMBER.
    */
  val q241: QueryDef = QueryDef.checked(
    "q241_dense_surrogate_ids",
    """SELECT doc_id,
      |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS dense_id
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val nBuckets = 64L
    // order-preserving bucketing: doc_id div width, width from the max
    // (one bounded agg). At 100 TB the same role is played by q155's
    // quantile-sketch cutpoints (balanced buckets under skew); ids here
    // are near-uniform so the div grid is already balanced.
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = maxId / nBuckets + 1L
    val b = docs.withColumn("b", expr(s"doc_id div $width"))
    val offsets = b.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("off"))
    b.join(broadcast(offsets), Seq("b"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("doc_id"))))
      .select(col("doc_id"),
        (col("off") + col("rk") - 1L).as("dense_id"))
      .orderBy(col("doc_id"))
  }

  /** q245: order-independent table digest — the anti-entropy checksum
    * two replicas (or a source system and its lake copy) compare to
    * detect divergence WITHOUT shipping rows: per row, a 32-bit
    * md5-derived value over the full record content; per source, the
    * SUM of those values under two independent salts. Sums commute and
    * merge, so the digest is insensitive to row order, partitioning,
    * and compaction history — precisely what makes it comparable
    * across systems — and it aggregates map-side to one row per
    * source. Two salts because a single 32-bit sum can collide under
    * an adversarial pair of edits; two independent sums make silent
    * cancellation vanishingly unlikely (the standard multi-hash
    * digest argument). The oracle recomputes the same md5 arithmetic
    * (the q139/q211 grid idiom), certifying every row hashed cell for
    * cell.
    */
  val q245: QueryDef = QueryDef.checked(
    "q245_table_digest",
    """WITH h AS (
      |  SELECT source,
      |    ('0x' || substring(md5('d1:' || CAST(doc_id AS VARCHAR) || ':'
      |      || lang || ':' || CAST(n_chars AS VARCHAR)), 1, 8))::BIGINT AS h1,
      |    ('0x' || substring(md5('d2:' || CAST(doc_id AS VARCHAR) || ':'
      |      || lang || ':' || CAST(n_chars AS VARCHAR)), 1, 8))::BIGINT AS h2
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_rows,
      |  CAST(SUM(h1) AS BIGINT) AS digest1, CAST(SUM(h2) AS BIGINT) AS digest2
      |FROM h GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    def h(salt: String) = expr(
      s"""CAST(conv(substring(md5(concat('$salt:', CAST(doc_id AS STRING),
         |  ':', lang, ':', CAST(n_chars AS STRING))), 1, 8), 16, 10)
         |AS BIGINT)""".stripMargin.replaceAll("\n", " "))
    Tables.documents(s, d)
      .select(col("source"), h("d1").as("h1"), h("d2").as("h2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h1")).as("digest1"),
        sum(col("h2")).as("digest2"))
      .orderBy(col("source"))
  }
}
