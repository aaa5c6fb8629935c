package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar-function surface: string, date/time, math, array, map, and JSON
  * function families, plus event-time tumbling and session windows run in
  * batch mode (SURVEY.md §2.5 rows "String fns" … "Streaming windows").
  *
  * Parity rules with the DuckDB oracle:
  *  - regexes restricted to constructs identical between Java regex (Spark)
  *    and RE2 (DuckDB): literal classes, `+`/`*`, anchors;
  *  - all timestamps compared at microsecond precision (see Tables.events);
  *  - libm-dependent functions (ln/exp/pow) are exercised in ScalaTest,
  *    not in oracle-checked queries — their last-ulp behavior is
  *    implementation-defined and would flake the hash compare.
  */
object Scalars {
  import Exact._

  def defs: Seq[QueryDef] =
    Seq(q18, q19, q20, q21, q22, q23, q24, q25, q26, q68, q112, q152)

  /** q152: the custom codegen expressions reached through PURE SQL —
    * [[graft.functions.GraftFunctions.register]] puts `cosine_sim`
    * (fused cosine Expression) into the session's function registry
    * (the same descriptors `graft.GraftExtensions` injects into every
    * session through its ServiceLoader entry), and the query text uses it
    * like any builtin. The oracle recomputes the cosine with DuckDB
    * list arithmetic on the q129 ppm grid — so the compare certifies
    * the SQL surface AND the fused kernel's arithmetic in one shot.
    * ExtensionsSpec pins SQL == DataFrame API for both registered
    * functions and the argument-arity errors.
    */
  val q152: QueryDef = QueryDef.checked(
    "q152_sql_custom_functions",
    """SELECT a.vec_id AS ia, b.vec_id AS ib,
      |  CAST(ROUND(1000000.0 * list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) AS BIGINT)
      |    AS cos_ppm
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 60 AND b.vec_id < 60
      |ORDER BY ia, ib""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d).filter(col("vec_id") < 60)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .createOrReplaceTempView("q152_vecs")
    s.sql("""SELECT a.vec_id AS ia, b.vec_id AS ib,
      CAST(ROUND(1000000.0 * cosine_sim(a.v, b.v)) AS BIGINT) AS cos_ppm
      FROM q152_vecs a JOIN q152_vecs b ON a.vec_id < b.vec_id
      ORDER BY ia, ib""")
  }

  /** String functions: upper/lower/length/substring/concat/trim/regexp/
    * split-element/levenshtein — projected per part row (codegen'd, no
    * shuffle; stays inside one WholeStageCodegen span).
    */
  val q18: QueryDef = QueryDef.checked(
    "q18_string_fns",
    """SELECT p_partkey,
      | upper(p_name) AS up_name,
      | lower(p_type) AS lo_type,
      | length(p_name) AS name_len,
      | substring(p_name, 1, 3) AS name_pfx,
      | concat(p_brand, ':', p_type) AS brand_type,
      | trim('  ' || p_name || ' ') AS trimmed,
      | regexp_extract(p_name, '^[a-z]+', 0) AS first_word,
      | replace(p_brand, 'Brand#', 'B') AS short_brand,
      | levenshtein(p_name, 'small ring') AS lev
      |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d).filter(col("p_partkey") < 100)
      .select(col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_type")).as("lo_type"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 3).as("name_pfx"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        trim(concat(lit("  "), col("p_name"), lit(" "))).as("trimmed"),
        regexp_extract(col("p_name"), "^[a-z]+", 0).as("first_word"),
        regexp_replace(col("p_brand"), "Brand#", "B").as("short_brand"),
        levenshtein(col("p_name"), lit("small ring")).as("lev"))
      .orderBy(col("p_partkey"))
  }

  /** Date/time functions over orders: extract, truncate, arithmetic. */
  val q19: QueryDef = QueryDef.checked(
    "q19_date_fns",
    """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      | COUNT(*) AS n,
      | MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS month_start,
      | MIN(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) AS plus30,
      | MAX(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)) AS max_days_since
      |FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
      |ORDER BY yr, mo""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"),
        min(date_trunc("month", col("o_orderdate")).cast("date")).as("month_start"),
        min(date_add(col("o_orderdate").cast("date"), 30)).as("plus30"),
        max(datediff(col("o_orderdate"), lit("1995-01-01 00:00:00").cast("timestamp"))).as("max_days_since"))
      .orderBy(col("yr"), col("mo"))
  }

  /** Math functions with order-independent (decimal/integer) aggregation. */
  val q20: QueryDef = QueryDef.checked(
    "q20_math_fns",
    """SELECT l_returnflag,
      | CAST(SUM(CAST(round(l_extendedprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_rounded,
      | CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_floor,
      | CAST(SUM(CAST(ceil(l_discount * 100.0) AS BIGINT)) AS BIGINT) AS sum_ceil_disc,
      | CAST(SUM(CAST(abs(l_extendedprice - 1000.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_absdev,
      | CAST(SUM(CAST(sqrt(l_quantity) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sqrt,
      | CAST(SUM(CAST(l_orderkey AS BIGINT) % 7) AS BIGINT) AS sum_mod,
      | CAST(SUM(CAST(greatest(l_tax, l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_max_rate
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(round(col("l_extendedprice"), 0).cast(DecimalType(18, 2))).cast("double").as("sum_rounded"),
        sum(floor(col("l_quantity")).cast("long")).as("sum_floor"),
        sum(ceil(col("l_discount") * 100.0).cast("long")).as("sum_ceil_disc"),
        sum(abs(col("l_extendedprice") - 1000.0).cast(DecimalType(18, 2))).cast("double").as("sum_absdev"),
        sum(sqrt(col("l_quantity")).cast(DecimalType(18, 6))).cast("double").as("sum_sqrt"),
        sum(col("l_orderkey").cast("long") % 7).as("sum_mod"),
        sum(greatest(col("l_tax"), col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("sum_max_rate"))
      .orderBy(col("l_returnflag"))
  }

  /** Array functions over tokenized documents (split/size/contains/
    * element_at/slice/distinct). Everything stays row-local — no shuffle.
    */
  val q21: QueryDef = QueryDef.checked(
    "q21_array_fns",
    """SELECT doc_id,
      | len(string_split(text, ' ')) AS n_tokens,
      | list_contains(string_split(text, ' '), 'spark') AS has_spark,
      | string_split(text, ' ')[1] AS first_tok,
      | array_to_string(string_split(text, ' ')[1:3], '_') AS first3,
      | len(list_distinct(string_split(text, ' '))) AS n_uniq
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    Tables.documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        array_contains(toks, "spark").as("has_spark"),
        element_at(toks, 1).as("first_tok"),
        array_join(slice(toks, 1, 3), "_").as("first3"),
        size(array_distinct(toks)).as("n_uniq"))
      .orderBy(col("doc_id"))
  }

  /** Generator/explode: token frequency across the corpus (explode →
    * shuffle on token → count). The classic word-count shape; at 100 TB
    * partial aggregation collapses each partition to its distinct tokens
    * before the shuffle.
    */
  val q22: QueryDef = QueryDef.checked(
    "q22_explode_tokens",
    """SELECT tok, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(50)
  }

  /** Map functions: build map from aggregation, then map_keys/values/
    * try_element_at. DuckDB cannot round-trip Spark's map parquet, but the
    * OUTPUT here is flattened to strings/longs — so the oracle recomputes
    * the same facts relationally (string_agg over the grouped maxima) and
    * the row becomes hash-checkable.
    */
  val q23: QueryDef = QueryDef.checked(
    "q23_map_fns",
    """WITH last AS (
      |  SELECT user_id, event_type, max(event_id) AS last_id
      |  FROM events GROUP BY user_id, event_type)
      |SELECT user_id,
      | string_agg(event_type, ',' ORDER BY event_type) AS types,
      | COUNT(*) AS n_types,
      | MAX(CASE WHEN event_type = 'click' THEN last_id END) AS click_id
      |FROM last GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val agg = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("event_id")).as("last_id"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("last_id"))))
        .as("last_ids"))
    agg.select(col("user_id"),
        map_keys(col("last_ids")).as("ks"),
        size(map_keys(col("last_ids"))).as("n_types"),
        // try_element_at: ANSI mode makes plain element_at throw on a
        // missing map key; users without 'click' events must yield NULL
        try_element_at(col("last_ids"), lit("click")).as("click_id"))
      .select(col("user_id"), array_join(array_sort(col("ks")), ",").as("types"),
        col("n_types"), col("click_id"))
      .orderBy(col("user_id"))
  }

  /** JSON functions: extract from the `props` JSON string column. */
  val q24: QueryDef = QueryDef.checked(
    "q24_json_fns",
    """SELECT event_type,
      | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k_typed,
      | MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      | COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    // two extraction paths: string-path get_json_object and schema'd
    // from_json — same values, both function families exercised
    val k = get_json_object(col("props"), "$.k").cast("long")
    val kTyped = from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k")
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(sum(k).as("sum_k"), sum(kTyped).as("sum_k_typed"),
        min(k).as("min_k"), max(k).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Corrupt-record quarantine: the malformed-input routing every
    * production ingest needs — parse a JSON payload against a schema,
    * route unparseable rows to a quarantine count instead of failing
    * the job or silently dropping them. The corpus `props` are all
    * valid, so corruption is PLANTED (every 13th event gets a leading
    * `!!`, which fails parsing unambiguously in any engine — trailing
    * garbage would test parser leniency, not the routing). `from_json`
    * in its default permissive mode yields a struct whose FIELDS are
    * null for corrupt input (the struct itself stays non-null), so the
    * quarantine flag tests the extracted field — sound here because
    * every valid payload carries a non-null `k`; the flag, per-type
    * quarantine counts, and the sum over surviving rows are all
    * integers → bit-exact oracle. Stateless
    * row-local parse + one keyed aggregation: no extra pass, no
    * shuffle beyond the final per-type rollup.
    */
  val q68: QueryDef = QueryDef.checked(
    "q68_corrupt_quarantine",
    """WITH planted AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 13 = 0 THEN '!!' || props ELSE props END AS props
      |  FROM events),
      |flagged AS (
      |  SELECT event_type, props, json_valid(props) AS ok FROM planted)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
      |  CAST(sum(CASE WHEN ok
      |       THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
      |       ELSE 0 END) AS BIGINT) AS sum_k
      |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val planted = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 13 === 0, concat(lit("!!"), col("props")))
          .otherwise(col("props")).as("props"))
    val parsed = planted.withColumn("p", from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k LONG")))
    val ok = col("p").getField("k").isNotNull
    parsed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(ok, 0L).otherwise(1L)).as("n_quarantined"),
        sum(when(ok, col("p").getField("k")).otherwise(0L)).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** Event-time tumbling window (the batch shape of the streaming
    * `window()` operator — same expression works under readStream).
    */
  val q25: QueryDef = QueryDef.checked(
    "q25_tumbling_window",
    """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS DATE) AS wday,
      | hour(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS whour,
      | event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY wday, whour, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum2(col("value")).as("sum_value"))
      .select(col("w.start").cast("date").as("wday"),
        hour(col("w.start")).as("whour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("wday"), col("whour"), col("event_type"))
  }

  /** q112: HOPPING (sliding) windows in batch — 1-hour windows sliding
    * every 30 minutes, so each event lands in exactly two windows.
    * Spark's `window(ts, "1 hour", "30 minutes")` explodes the window
    * list per row before the agg (row-local), then one shuffle on
    * (window, event_type); the oracle replays the same result as the
    * UNION of the two tumbling alignments (:00-anchored and
    * :30-anchored), which is what a 2:1 slide factors into.
    */
  val q112: QueryDef = QueryDef.checked(
    "q112_hopping_window",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart,
      | event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |UNION ALL
      |SELECT date_trunc('hour', CAST(ts AS TIMESTAMP) - INTERVAL 30 MINUTE)
      |    + INTERVAL 30 MINUTE AS wstart,
      | event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY wstart, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum2(col("value")).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))
  }

  /** Session windows (30-min gap) per user, in batch mode — the oracle
    * replays Spark's session semantics as gaps-and-islands SQL (new
    * session when the gap from the previous event is >= the timeout).
    */
  val q26: QueryDef = QueryDef.checked(
    "q26_session_window",
    """WITH flagged AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu,
      |    CASE WHEN CAST(ts AS TIMESTAMP)
      |              - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
      |              >= INTERVAL 30 MINUTE THEN 1
      |         WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
      |         ELSE 0 END AS new_sess
      |  FROM events)
      |SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy(col("user_id"))
  }
}
