package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators, round 3: per-document distinctive terms
  * (TF-IDF ranking), temperature-scaled language mixing (the sampling
  * scheme multilingual training mixes use), and winnowing document
  * fingerprints (the classic local-fingerprint scheme from the MOSS
  * plagiarism detector — Schleimer, Wilkerson, Aiken, SIGMOD 2003).
  *
  * Determinism contract (oracle parity): every floating-point value that
  * influences output ordering or filtering is produced by a SINGLE
  * correctly-rounded IEEE operation on identical operands in both
  * engines (one division, or one division + one sqrt) — never an
  * accumulated sum — so the DuckDB compare is bit-exact. Outputs
  * themselves carry only integers/strings.
  */
object Curation {

  def defs: Seq[QueryDef] =
    Seq(q59, q60, q61, q66, q74, q75, q76, q84, q115, q123, q143, q154,
      q255, q256, q264, q265, q268, q271, q274, q277, q279, q280, q281,
      q284, q286, q292)

  /** Top-`k` distinctive terms per document, ranked by tf/df (document
    * frequency as the rarity signal — the idf log is monotonic in 1/df,
    * so ranking by tf/df orders identically to tf·idf for fixed tf and
    * avoids cross-engine log() differences). Three shuffles at scale:
    * tf groupBy (doc_id, term), df groupBy (term), and the per-doc
    * window — all key-partitioned with map-side partial aggregation;
    * the df (vocabulary) side of the join is left unhinted so AQE
    * broadcasts it only when it actually fits.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  val q59: QueryDef = QueryDef.checked(
    "q59_tfidf_terms",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * 1.0 / df.df DESC, tf.term) AS rnk
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, term, tf, df, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    tfidfTopTerms(Tables.documents(s, d))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Temperature-scaled sampling across groups (α = 0.5): group g keeps
    * each row with probability sqrt(n_min / n_g), so the kept-count
    * ratio between groups moves from n_g/n_h toward sqrt(n_g/n_h) —
    * the standard flattening multilingual training mixes apply so
    * high-resource languages don't drown the tail. Deterministic: the
    * keep decision hashes the row id (md5 fraction in [0,1)), not
    * rand(), so the sample is reproducible across engines and runs.
    * α=0.5 keeps the rate computation to one division + one sqrt (both
    * correctly-rounded IEEE → bit-identical in the oracle); other α
    * would need pow(), whose libm rounding is engine-specific.
    *
    * Scale shape: one tiny groupBy (n groups ≈ #languages), a broadcast
    * of the rate table, and a stateless per-row filter — no shuffle of
    * the corpus itself.
    */
  def temperatureSample(df: DataFrame, group: String, idCol: String): DataFrame = {
    val counts = df.groupBy(col(group)).agg(count(lit(1)).as("n"))
    val minN = counts.agg(min(col("n")).as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("r", sqrt(col("min_n").cast("double") / col("n")))
    val frac = df.withColumn("f",
      conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") / lit(4294967296.0))
    frac.join(broadcast(rates), group).filter(col("f") < col("r"))
  }

  /** Greedy prefix fill of an explicit per-group TOKEN budget — the
    * operational form of corpus mixing: a mixture spec gives every
    * source/language a token allowance (weight × total budget), and the
    * fill must be reproducible run-to-run so ablations and incremental
    * rebuilds see the same corpus. Documents are ordered within their
    * group by (md5(id), id) — the q53/q77 hash-order idiom, stable in
    * any engine — and kept while the running token total stays within
    * the budget (a pure prefix: the first overflowing document and
    * everything after it are dropped, so the selection is a window
    * filter, not a sequential first-fit scan).
    *
    * Scale shape: one window per group (a single key-partitioned sort;
    * groups are sources/languages, so per-partition work is the group's
    * documents — for a pathological single giant group, pre-shard the
    * group and give each shard its budget share, the q77 stratum
    * treatment). The hash and token count are row-local; nothing else
    * shuffles.
    */
  def tokenBudgetFill(df: DataFrame, group: String, idCol: String,
      tokens: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(group))
      .orderBy(col("h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("h", md5(col(idCol).cast("string").cast("binary")))
      .withColumn("n_tok", tokens)
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .drop("h")
  }

  /** q143: fill a 2,000-token budget per language from `documents`,
    * hash-ordered — budget binds at every SF (the smallest language
    * carries ≥ 3,500 tokens at sf0.001). Oracle = the same windowed
    * prefix sum in DuckDB.
    */
  val q143: QueryDef = QueryDef.checked(
    "q143_token_budget_fill",
    """WITH toks AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
      |         md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |cum AS (
      |  SELECT doc_id, lang, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM toks)
      |SELECT doc_id, lang, n_tok, cum_tok FROM cum
      |WHERE cum_tok <= 2000 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    tokenBudgetFill(docs, "lang", "doc_id",
        size(split(col("text"), " ")).cast("long"), budget = 2000L)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  /** T5-style span corruption — the denoising-pretraining data
    * transform: mask short token spans, replace each with a sentinel in
    * the input, and emit the masked tokens after their sentinels as the
    * target sequence. Spans are DERIVED, not drawn (the q142 stance):
    * tokens partition into fixed blocks of `blockTokens`, and each
    * block of ≥ `spanLen` tokens masks the span starting at
    * md5("span:seed:doc:block") mod (blockSize − spanLen + 1) — block
    * partitioning makes spans non-overlapping by construction (real
    * T5 resolves overlap with a sequential scan; a fixed-block rate of
    * spanLen/blockTokens ≈ 15 % is the order-free equivalent), and the
    * md5 idiom makes every mask reproducible in any engine. Sentinels
    * are renumbered SEQUENTIALLY within each document in span order —
    * exact T5 surface (<extra_id_0>, <extra_id_1>, …) — via one
    * doc-keyed running count of span starts.
    *
    * Shapes: one explode (no shuffle), one (doc, block)-keyed window
    * for block sizes, one doc-keyed running-count window for sentinel
    * renumbering, one doc-keyed reassembly agg — everything else
    * row-local. 100 TB: all shuffle keys are fine-grained and
    * md5-uniform in volume; no joins at all.
    */
  def spanCorrupt(docs: DataFrame, blockTokens: Int = 20, spanLen: Int = 3,
      seed: Long = 42L): DataFrame = {
    val bw = Window.partitionBy(col("doc_id"), col("bi"))
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "t")
      .withColumn("bi", expr(s"pos div $blockTokens"))
      .withColumn("bsize", count(lit(1)).over(bw))
      .withColumn("s",
        when(col("bsize") >= spanLen,
          pmod(conv(substring(md5(concat(lit(s"span:$seed:"),
              col("doc_id").cast("string"), lit(":"),
              col("bi").cast("string"))), 1, 8), 16, 10).cast("long"),
            col("bsize") - (spanLen - 1)))
          .otherwise(lit(-1L)))
      .withColumn("off", col("pos") - col("bi") * blockTokens)
      .withColumn("masked",
        col("s") >= 0 && col("off") >= col("s") &&
          col("off") < col("s") + spanLen)
      // Sequential T5 sentinel index: running count of span STARTS up
      // to this token, minus one — evaluated at the start row it yields
      // 0, 1, 2, … in document order.
      .withColumn("sidx",
        sum(when(col("masked") && col("off") === col("s"), 1).otherwise(0))
          .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
    val sentinel = concat(lit("<extra_id_"), col("sidx").cast("string"), lit(">"))
    val inputPiece = when(!col("masked"), col("t"))
      .when(col("off") === col("s"), sentinel)
    val targetPiece = when(col("masked"),
      when(col("off") === col("s"), concat(sentinel, lit(" "), col("t")))
        .otherwise(col("t")))
    // collect_list already skips the NULLs the otherwise-less `when`
    // produces for suppressed pieces, so the collected array is
    // null-free by construction — no post-filter pass needed
    def joinPieces(piece: Column): Column = concat_ws(" ",
      transform(
        array_sort(collect_list(when(piece.isNotNull,
          struct(col("pos"), piece.as("p"))))),
        s => s.getField("p")))
    tok.groupBy(col("doc_id"))
      .agg(count(when(col("masked"), 1)).as("n_masked"),
        joinPieces(inputPiece).as("corrupted"),
        joinPieces(targetPiece).as("targets"))
  }

  /** q154: span corruption over `documents` (blocks of 20, spans of 3,
    * seed 42) — n_masked, the sentinel-holed input, and the target
    * sequence all hash-checked against DuckDB replaying the identical
    * md5/block arithmetic and string reassembly.
    */
  val q154: QueryDef = QueryDef.checked(
    "q154_span_corruption",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (
      |  SELECT doc_id, i - 1 AS pos, toks[i] AS t, (i - 1) // 20 AS bi
      |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      |sized AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, bi) AS bsize,
      |    pos - bi * 20 AS off
      |  FROM tok),
      |marked AS (
      |  SELECT *,
      |    CASE WHEN bsize >= 3 THEN
      |      ('0x' || substring(md5('span:42:' || CAST(doc_id AS VARCHAR)
      |        || ':' || CAST(bi AS VARCHAR)), 1, 8))::BIGINT % (bsize - 2)
      |    ELSE -1 END AS s
      |  FROM sized),
      |pieces AS (
      |  SELECT doc_id, pos, bi, t, s, off,
      |    (s >= 0 AND off >= s AND off < s + 3) AS masked
      |  FROM marked),
      |seq AS (
      |  SELECT *,
      |    COUNT(*) FILTER (WHERE masked AND off = s) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS UNBOUNDED PRECEDING) - 1 AS sidx
      |  FROM pieces)
      |SELECT doc_id,
      |  COUNT(*) FILTER (WHERE masked) AS n_masked,
      |  COALESCE(string_agg(
      |    CASE WHEN NOT masked THEN t
      |         WHEN off = s THEN '<extra_id_' || CAST(sidx AS VARCHAR) || '>'
      |    END, ' ' ORDER BY pos), '') AS corrupted,
      |  COALESCE(string_agg(
      |    CASE WHEN masked THEN
      |      CASE WHEN off = s
      |        THEN '<extra_id_' || CAST(sidx AS VARCHAR) || '> ' || t
      |        ELSE t END
      |    END, ' ' ORDER BY pos), '') AS targets
      |FROM seq GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    spanCorrupt(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  val q60: QueryDef = QueryDef.checked(
    "q60_temperature_mix",
    """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |rates AS (
      |  SELECT lang, n, sqrt((SELECT min(n) FROM counts) * 1.0 / n) AS r
      |  FROM counts),
      |frac AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      / 4294967296.0 AS f
      |  FROM documents)
      |SELECT f.doc_id, f.lang, r.n AS lang_n
      |FROM frac f JOIN rates r USING (lang)
      |WHERE f.f < r.r ORDER BY f.doc_id""".stripMargin) { (s, d) =>
    temperatureSample(Tables.documents(s, d), "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("n").as("lang_n"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (robust local document fingerprinting):
    * hash every `k`-token shingle, slide a window of `w` consecutive
    * shingle hashes, record the minimum of each complete window, and
    * keep the distinct minima per document. Guarantees: any shared run
    * of ≥ w+k-1 tokens between two documents yields at least one shared
    * fingerprint, while storing only ~2/(w+1) of all shingle hashes —
    * the sparse index plagiarism/near-dup detectors build at corpus
    * scale. Hash = first 60 bits of md5 (computable in any engine, so
    * the whole pipeline is oracle-checkable — unlike the rolling
    * PolyHash in q49, which trades portability for codegen speed).
    *
    * Scale shape: one shuffle (doc_id) feeding BOTH windows — Catalyst
    * evaluates the shingle-assembly window and the min-of-window over
    * the same (doc_id, pos) sort, then a distinct keyed on (doc_id, fp).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"),
        posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "t")
    val sh = tok
      .withColumn("g", concat_ws(" ",
        col("t") +: (1 until k).map(i => lead(col("t"), i).over(wOrd)): _*))
      .filter(col("pos") <= col("n_tok") - k) // complete shingles only
      .select(col("doc_id"), col("pos"),
        (col("n_tok") - (k - 1)).as("n_sh"),
        // r16: digest nibbles read directly (graft.functions.Md5Prefix)
        // — bit-identical to conv(substring(md5(g), 1, 15), 16, 10) but
        // without hex-encoding the digest and re-parsing 15 chars per
        // shingle (the per-shingle hash is q61's hot loop)
        graft.functions.Md5Prefix.md5Prefix(col("g").cast("binary"), 15)
          .as("h"))
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    sh.withColumn("fp", min(col("h")).over(wWin))
      .filter(col("pos") <= col("n_sh") - w) // complete windows only
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Sequence packing: assign documents to fixed token-budget bins (the
    * context-window packing step that turns a curated corpus into
    * training sequences). Deterministic greedy-by-id within each
    * source: bin = cumulative-tokens-before ÷ budget, i.e. a document
    * spills into the next bin when the running total crosses the
    * budget. Packing is PER SOURCE on purpose — the global-order
    * variant needs a total sort of the corpus; per-shard packing is one
    * shuffle on the shard key and each partition packs independently,
    * which is how it stays linear at 100 TB (shard further by date for
    * very large sources).
    */
  def sequencePack(docs: DataFrame, budget: Int = 512,
      shard: String = "source"): DataFrame = {
    val w = Window.partitionBy(col(shard)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col(shard),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $budget"))
  }

  val q66: QueryDef = QueryDef.checked(
    "q66_sequence_pack",
    """WITH t AS (
      |  SELECT doc_id, source, len(string_split(text,' ')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t)
      |SELECT doc_id, source, n_tok, cum_before, cum_before // 512 AS bin
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    sequencePack(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  /** Sliding-window document chunking: token windows of `win` advancing
    * by `stride` (overlap `win - stride`) — the context-window prep
    * step between curation and packing. Chunk i covers tokens
    * [i·stride, i·stride+win); chunks start while i·stride < n, so the
    * tail chunk may be short but every token is covered and boundary
    * context is preserved by the overlap. Row-local explode — no
    * shuffle at any corpus size; chunk counts grow the row count by
    * ~n/stride, which the downstream repartition absorbs.
    */
  def chunkDocs(docs: DataFrame, win: Int = 32, stride: Int = 24): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n_tok"))
      .withColumn("chunk_id",
        explode(sequence(lit(0), expr(s"(n_tok - 1) div $stride"))))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(slice(col("toks"), col("chunk_id") * stride + 1, lit(win)))
          .cast("long").as("chunk_len"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(win)))
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** The composed curation pipeline — the end-to-end path a training
    * corpus actually takes, as ONE operator: Gopher rule gate (q70) →
    * near-dup removal, keep-first (q30 semantics) → benchmark
    * decontamination (q58 semantics) → token-budget sequence packing
    * (q66). Returns the packed survivor frame; [[curateStages]] exposes
    * every intermediate for auditing. Each stage reuses the already-
    * scale-shaped operator (keyed aggs, shingle equi-joins, broadcast
    * benchmark side, per-shard packing windows) — composing them adds
    * no new shuffle beyond the stages' own.
    *
    * `pairFinder` is the near-dup pair-finding stage: any
    * (doc_id, text) ⇒ (doc_a, doc_b, jac) operator. The default is
    * [[Dedup.exactNearDups]] — the Σdf² ground truth, right for
    * oracle parity and modest corpora but NEVER for 100 TB (hot
    * shingles dominate the self-join; see Dedup.scala). At scale pass
    * [[Dedup.dfCappedNearDups]] (same pipeline, hot shingles dropped
    * pre-join) or [[Dedup.minhashNearDups]] (banded LSH candidates —
    * the miss probability for j ≥ 0.7 pairs is < 1e-8, so on a
    * threshold-0.5 corpus with well-separated dups all three agree;
    * CurateSpec pins that equality on the test corpus).
    */
  def curate(docs: DataFrame, benchmark: DataFrame,
      budget: Int = 512,
      pairFinder: DataFrame => DataFrame = Dedup.exactNearDups(_)): DataFrame =
    curateStages(docs, benchmark, budget, pairFinder)._4

  /** (quality survivors, after near-dup removal, after decontamination,
    * packed) — see [[curate]].
    */
  def curateStages(docs: DataFrame, benchmark: DataFrame,
      budget: Int = 512,
      pairFinder: DataFrame => DataFrame = Dedup.exactNearDups(_))
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // qual, deduped AND clean each feed several downstream subtrees
    // (pair join, anti-joins, decon, packing, audits); without
    // materialization the producing subtree re-runs once per consumer —
    // for clean that subtree is the decontamination containment join,
    // the pipeline's most expensive stage (the round-3 bench measured
    // the unmaterialized form at 2× its quiet cost). Doc-sized frames —
    // cheap to hold.
    // r16 (guide §5/§3.3 plan truncation): a localCheckpoint at each
    // stage seam. The composed plan
    // repeated each stage's subtree in every consumer (the pair
    // self-join alone references qual twice), so q75's explain grew to
    // 14k lines and Catalyst re-analysis became a real fraction of the
    // query; LogicalRDD seams make each stage's plan O(stage), the
    // same bytes end up in the block manager, and the work is
    // identical — each stage is materialized exactly once.
    // The seams are EAGER. A lazy one is marked checkpointed by the
    // first runJob that completes over it (a broadcast's collect),
    // which drops the producing plan while AQE map stages submitted
    // next to it still run tasks serialized with that plan's lineage;
    // each such task then reports SQL metrics the driver has garbage-
    // collected (`AccumulatorContext: Attempted to access garbage
    // collected accumulator` + a DAGScheduler ERROR per metric: 286 log
    // lines in one test run, all inside q75). Eager seams are marked
    // inside their own action, before any consumer is planned.
    val qual = docs.join(
      TextAnalysis.gopherRules(docs).filter(col("keep")).select(col("doc_id")),
      "doc_id")
      .localCheckpoint()
    val pairs = pairFinder(qual.select(col("doc_id"), col("text")))
    val deduped = qual.join(
      pairs.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val contam = Dedup.decontaminate(
      deduped.select(col("doc_id"), col("text")),
      benchmark.select(col("doc_id"), col("text")))
    val clean = deduped.join(
      contam.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    (qual, deduped, clean, sequencePack(clean, budget))
  }

  private val stopList =
    graft.functions.TextFunctions.StopWords.map(w => s"'$w'").mkString(", ")

  /** q75: the pipeline's count flow as a single audited summary row —
    * training side = documents with doc_id % 10 ≠ 0, benchmark side =
    * the rest (the q58 split). Every stage count is oracle-checked, so
    * the whole composition (not just each stage) is pinned.
    */
  val q75: QueryDef = QueryDef.checked(
    "q75_curation_pipeline",
    s"""WITH train AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 0),
       |tokq AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM train),
       |tf AS (SELECT doc_id, t, count(*) AS c FROM tokq GROUP BY 1, 2),
       |tsx AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok2 FROM tf GROUP BY 1),
       |baseq AS (
       |  SELECT doc_id,
       |    len(string_split(text,' ')) AS n_tok,
       |    length(replace(text,' ','')) * 1.0 / len(string_split(text,' ')) AS awl,
       |    len(list_distinct(string_split(text,' '))) * 1.0
       |      / len(string_split(text,' ')) AS uniq_ratio,
       |    len(list_filter(string_split(text,' '), t -> t IN ($stopList))) * 1.0
       |      / len(string_split(text,' ')) AS stop_ratio
       |  FROM train),
       |qual AS (
       |  SELECT b.doc_id FROM baseq b JOIN tsx t USING (doc_id)
       |  WHERE b.n_tok BETWEEN 25 AND 100000 AND b.awl >= 3.5 AND b.awl <= 5.0
       |    AND b.uniq_ratio >= 0.3 AND b.stop_ratio >= 0.02
       |    AND t.top_c * 1.0 / t.n_tok2 <= 0.15),
       |tok2 AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS t,
       |         generate_subscripts(string_split(text,' '), 1) AS pos
       |  FROM train),
       |tri AS (
       |  SELECT DISTINCT doc_id, t || ' ' || lead(t) OVER w || ' ' || lead(t, 2) OVER w AS g
       |  FROM tok2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(t, 2) OVER w IS NOT NULL),
       |triq AS (SELECT * FROM tri WHERE doc_id IN (SELECT doc_id FROM qual)),
       |pair AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM triq a JOIN triq b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM triq GROUP BY 1),
       |dup_b AS (
       |  SELECT DISTINCT doc_b FROM pair
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5),
       |dedup AS (
       |  SELECT doc_id FROM qual WHERE doc_id NOT IN (SELECT doc_b FROM dup_b)),
       |btok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS t,
       |         generate_subscripts(string_split(text,' '), 1) AS pos
       |  FROM documents WHERE doc_id % 10 = 0),
       |btri AS (
       |  SELECT DISTINCT doc_id AS bench_id,
       |         t || ' ' || lead(t) OVER w || ' ' || lead(t, 2) OVER w AS g
       |  FROM btok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(t, 2) OVER w IS NOT NULL),
       |bsizes AS (SELECT bench_id, count(*) AS nb FROM btri GROUP BY 1),
       |trid AS (SELECT * FROM tri WHERE doc_id IN (SELECT doc_id FROM dedup)),
       |cinter AS (
       |  SELECT t.doc_id, b.bench_id, count(*) AS inter
       |  FROM trid t JOIN btri b ON t.g = b.g GROUP BY 1, 2),
       |contam AS (
       |  SELECT DISTINCT i.doc_id FROM cinter i JOIN bsizes s USING (bench_id)
       |  WHERE i.inter * 1.0 / s.nb >= 0.5),
       |clean AS (
       |  SELECT doc_id FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |packed AS (
       |  SELECT d.doc_id, t.source, len(string_split(t.text,' ')) AS n_tok,
       |    COALESCE(sum(len(string_split(t.text,' '))) OVER (
       |      PARTITION BY t.source ORDER BY d.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM clean d JOIN train t USING (doc_id)),
       |final AS (SELECT source, cum_before // 512 AS bin, n_tok FROM packed)
       |SELECT
       |  CAST((SELECT count(*) FROM train) AS BIGINT) AS n_in,
       |  CAST((SELECT count(*) FROM qual) AS BIGINT) AS n_quality,
       |  CAST((SELECT count(*) FROM dedup) AS BIGINT) AS n_dedup,
       |  CAST((SELECT count(*) FROM clean) AS BIGINT) AS n_clean,
       |  CAST((SELECT count(*) FROM (SELECT DISTINCT source, bin FROM final)) AS BIGINT) AS n_bins,
       |  CAST((SELECT sum(n_tok) FROM final) AS BIGINT) AS n_tokens""".stripMargin) { (s, d) =>
    val all = Tables.documents(s, d)
    val train = all.filter(col("doc_id") % 10 =!= 0)
    val bench = all.filter(col("doc_id") % 10 === 0)
    val (qual, deduped, clean, packed) = curateStages(train, bench)
    train.agg(count(lit(1)).as("n_in"))
      .crossJoin(qual.agg(count(lit(1)).as("n_quality")))
      .crossJoin(deduped.agg(count(lit(1)).as("n_dedup")))
      .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
      .crossJoin(packed.agg(
        countDistinct(col("source"), col("bin")).as("n_bins"),
        sum(col("n_tok")).as("n_tokens")))
  }

  /** q76: BPE-style merge-pair statistics — the most frequent ADJACENT
    * token pairs across the corpus (the statistic a BPE/WordPiece
    * trainer computes for its first merge), via the generic
    * [[Scale.heavyHitters]] MG+recount machinery over the bigram
    * stream: candidate generation never shuffles the corpus-sized
    * bigram vocabulary. Bigrams come from the same per-doc ordered
    * window q64 uses (one shuffle on doc_id, map-side combined).
    */
  val q76: QueryDef = QueryDef.checked(
    "q76_merge_pairs",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |  FROM documents),
      |bi AS (
      |  SELECT t || ' ' || lead(t) OVER w AS g
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(t) OVER w IS NOT NULL),
      |tot AS (SELECT count(*) AS n FROM bi)
      |SELECT g AS t, CAST(count(*) AS BIGINT) AS c
      |FROM bi, tot GROUP BY g, n
      |HAVING count(*) * 1000000 >= 1000 * n
      |ORDER BY c DESC, t""".stripMargin) { (s, d) =>
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "t")
      .withColumn("nx", lead(col("t"), 1).over(wOrd))
      .filter(col("nx").isNotNull)
      .select(concat_ws(" ", col("t"), col("nx")).as("g"))
    // persistKeys: the bigram frame is a shuffle+window pipeline that
    // MG+recount reads twice — cache it at catalog/test scale (the
    // 100 TB guidance in heavyHitters' scaladoc says false there)
    Scale.heavyHitters(bigrams, "g", sharePpm = 1000L, persistKeys = true)
  }

  val q74: QueryDef = QueryDef.checked(
    "q74_doc_chunks",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, (len(toks) - 1) // 24)) AS chunk_id
      |  FROM t)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(len(toks[(chunk_id*24+1):(chunk_id*24+32)]) AS BIGINT) AS chunk_len,
      |  array_to_string(toks[(chunk_id*24+1):(chunk_id*24+32)], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    chunkDocs(Tables.documents(s, d))
  }

  val q61: QueryDef = QueryDef.checked(
    "q61_winnow_fingerprint",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS i
      |  FROM t),
      |sh AS (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substring(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT AS h,
      |    len(toks) - 3 AS n_sh
      |  FROM pos),
      |wmin AS (
      |  SELECT doc_id, pos, n_sh,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM sh)
      |SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n_sh - 3
      |ORDER BY doc_id, fp""".stripMargin) { (s, d) =>
    winnowFingerprints(Tables.documents(s, d))
      .orderBy(col("doc_id"), col("fp"))
  }

  /** Per-slice corpus divergence — the mixing diagnostic: for every
    * value of `groupCol`, how far that slice's token distribution sits
    * from the whole corpus's, as χ² (Pearson goodness-of-fit) and L1
    * (2× total variation) distances. The slice that drifts hardest from
    * the blend is the one to re-weight or re-inspect before training.
    *
    * KL is the textbook choice but needs ln(), which is not bit-stable
    * across engines (see the determinism contract above); χ² and L1 are
    * the standard log-free alternatives, and here every per-term
    * contribution is a fixed tree of correctly-rounded IEEE ops on
    * exact integer counts, snapped to an integer parts-per-billion grid
    * and summed as BIGINT — order-independent, so the oracle compare is
    * exact.
    *
    * Scale shape: three keyed counts off one token pass (map-side
    * combined), then a (slices × vocabulary) grid — vocabulary-sized
    * frames, broadcast-joined by AQE; the corpus total rides in as a
    * one-row cross join, never a driver collect. Terms absent from a
    * slice contribute q ppb to χ² and q ppb to L1 (p = 0), which the
    * grid's left join makes explicit — skipping them (inner join) would
    * undercount exactly the drifted slices.
    */
  def corpusDivergence(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val tok = docs.select(col(groupCol).as("grp"),
      explode(split(col("text"), " ")).as("t"))
    val gt = tok.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c_gt"))
    val ct = tok.groupBy(col("t")).agg(count(lit(1)).as("c_t"))
    val gs = tok.groupBy(col("grp")).agg(count(lit(1)).as("n_g"))
    val tot = ct.agg(sum(col("c_t")).as("n_tot"))
    val p = col("c_gt").cast("double") / col("n_g")
    val q = col("c_t").cast("double") / col("n_tot")
    gs.crossJoin(ct).crossJoin(tot)
      .join(gt, Seq("grp", "t"), "left")
      .withColumn("c_gt", coalesce(col("c_gt"), lit(0L)))
      .withColumn("chi2_ppb",
        round(lit(1000000000.0) * ((p - q) * (p - q)) / q).cast("long"))
      .withColumn("l1_ppb",
        round(lit(1000000000.0) * abs(p - q)).cast("long"))
      .groupBy(col("grp"), col("n_g"))
      .agg(sum(col("chi2_ppb")).as("chi2_ppb"), sum(col("l1_ppb")).as("l1_ppb"))
      .select(col("grp").as(groupCol), col("n_g").as("n_tokens"),
        col("chi2_ppb"), col("l1_ppb"))
  }

  /** q84: per-source divergence from the corpus blend. */
  val q84: QueryDef = QueryDef.checked(
    "q84_corpus_divergence",
    """WITH tok AS (
      |  SELECT source AS grp, unnest(string_split(text, ' ')) AS t FROM documents),
      |gt AS (SELECT grp, t, count(*) AS c_gt FROM tok GROUP BY 1, 2),
      |ct AS (SELECT t, count(*) AS c_t FROM tok GROUP BY 1),
      |gs AS (SELECT grp, count(*) AS n_g FROM tok GROUP BY 1),
      |tot AS (SELECT count(*) AS n_tot FROM tok),
      |grid AS (
      |  SELECT gs.grp, gs.n_g, ct.t, ct.c_t, tot.n_tot, COALESCE(gt.c_gt, 0) AS c_gt
      |  FROM gs CROSS JOIN ct CROSS JOIN tot
      |  LEFT JOIN gt ON gt.grp = gs.grp AND gt.t = ct.t),
      |terms AS (
      |  SELECT grp, n_g,
      |    CAST(ROUND(1000000000.0 *
      |      ((CAST(c_gt AS DOUBLE)/n_g - CAST(c_t AS DOUBLE)/n_tot)
      |       * (CAST(c_gt AS DOUBLE)/n_g - CAST(c_t AS DOUBLE)/n_tot))
      |      / (CAST(c_t AS DOUBLE)/n_tot)) AS BIGINT) AS chi2_ppb,
      |    CAST(ROUND(1000000000.0 *
      |      ABS(CAST(c_gt AS DOUBLE)/n_g - CAST(c_t AS DOUBLE)/n_tot)) AS BIGINT) AS l1_ppb
      |  FROM grid)
      |SELECT grp AS source, n_g AS n_tokens,
      |  CAST(SUM(chi2_ppb) AS BIGINT) AS chi2_ppb,
      |  CAST(SUM(l1_ppb) AS BIGINT) AS l1_ppb
      |FROM terms GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
    corpusDivergence(Tables.documents(s, d)).orderBy(col("source"))
  }

  /** Sparse TF-IDF similarity join — the sparse-vector complement of
    * the dense embedding near-dup (q31): document pairs scored by the
    * dot product of their tf·idf term vectors, computed ENTIRELY in
    * integers (idf = 1e6 div df, weight = tf·idf, dot = Σ w_a·w_b as
    * BIGINT) so pair scores hash-match across engines. The self-join
    * fans out per term ∝ df² — the df cap excludes hot (stopword-grade)
    * terms, which bounds the candidate volume exactly the way q50's
    * df-capped shingle dedup does; their idf weight is negligible
    * anyway. Weighted frame persisted (feeds both join sides); top-k
    * via TakeOrdered.
    */
  def tfidfSimilarPairs(docs: DataFrame, dfCap: Long, topK: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // feeds the df agg AND the weight join — persist so the tokenize
      // shuffle runs once (w below is persisted separately for the
      // self-join's two sides)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfr = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val w = tf.join(dfr, "term")
      .select(col("term"), col("doc_id"),
        expr("tf * (1000000 div df)").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = w.select(col("term"), col("doc_id").as("id_a"), col("w").as("wa"))
    val b = w.select(col("term"), col("doc_id").as("id_b"), col("w").as("wb"))
    a.join(b, Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .orderBy(col("dot").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** q123: top-50 most similar document pairs among the first 100 docs
    * by integer tf·idf dot product, hash-checked against the same
    * arithmetic in DuckDB.
    */
  val q123: QueryDef = QueryDef.checked(
    "q123_tfidf_similarity",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id < 100),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 400),
      |w AS (
      |  SELECT tf.term, doc_id, tf * (1000000 // df) AS w
      |  FROM tf JOIN dfr USING (term)),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(SUM(a.w * b.w) AS BIGINT) AS dot
      |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, dot FROM pairs
      |ORDER BY dot DESC, id_a, id_b LIMIT 50""".stripMargin) { (s, d) =>
    tfidfSimilarPairs(Tables.documents(s, d).filter(col("doc_id") < 100),
      dfCap = 400L, topK = 50)
  }

  /** Vocabulary encoding (the tokenizer-id step before training): build
    * the id table — tokens ranked by (frequency desc, token) so ids are
    * deterministic — then re-emit every document as its id sequence in
    * original token order, serialized as a canonical CSV. The vocab
    * ranking is a row_number over the VOCABULARY (≪ corpus — the only
    * global sort here is vocab-sized, the standard trade); the encode
    * join streams the positioned token stream against the vocab frame
    * UNHINTED (AQE broadcasts a vocab that fits — at 100 TB a
    * million-type vocab still broadcasts at ~tens of MB). Order
    * restoration is sort_array(struct(pos, id)) per doc — row-local
    * after the collect, no extra shuffle.
    */
  def vocabEncode(docs: DataFrame): (DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      // feeds the vocab count AND the encode join — persist so the
      // tokenize/explode runs once per action
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .withColumn("id", row_number().over(
        Window.orderBy(col("n").desc, col("t"))).cast("long"))
    val encoded = tok.join(vocab.select(col("t"), col("id")), "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id").cast("string"))).as("ids_csv"))
    (vocab, encoded)
  }

  /** q115: every document as its vocabulary-id sequence, hash-checked —
    * including the full id CSV per document — against the same
    * rank-and-reassemble SQL in DuckDB.
    */
  val q115: QueryDef = QueryDef.checked(
    "q115_vocab_encode",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |vocab AS (
      |  SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
      |ranked AS (
      |  SELECT t, row_number() OVER (ORDER BY n DESC, t) AS id FROM vocab)
      |SELECT doc_id, COUNT(*) AS n_tok,
      |  string_agg(id, ',' ORDER BY pos) AS ids_csv
      |FROM tok JOIN ranked USING (t)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (_, encoded) = vocabEncode(Tables.documents(s, d))
    encoded.orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // BPE tokenizer training + application (q255/q256) — the full greedy
  // merge LOOP on top of q76's single-round pair statistic.
  // ---------------------------------------------------------------------

  /** Greedy BPE training (Sennrich et al. 2016's classic word-type
    * algorithm): words become character sequences with an end-of-word
    * marker `_`, and each round merges the most frequent ADJACENT symbol
    * pair across the (word-type, frequency) table. Returns the ordered
    * merge list and the final segmented vocabulary frame
    * (w, freq, seg — symbols joined by a DOUBLE space).
    *
    * Determinism/oracle contract: pair application must be SYMBOL-aware
    * — once multi-char symbols exist, a raw substring replace of
    * `"lhs  rhs"` can fire across symbol boundaries (lhs matching a
    * longer symbol's suffix: after (t,h)→`th`, the pair (h,e_) must NOT
    * rewrite `th  e_` to `the_`). Spark applies merges with Sennrich's
    * own anchoring — `(?<!\S)` / `(?!\S)` lookarounds around the quoted
    * pair, so both ends of a match sit on symbol boundaries, and
    * because lookarounds are zero-width the greedy left-to-right
    * non-overlap of replaceAll is preserved (`l l l l` → `ll ll`,
    * never `ll l l`). DuckDB's RE2 lacks lookarounds, so the oracle
    * replays the identical semantics as a left fold over the split
    * symbol list (merge when the accumulator's LAST symbol equals lhs
    * and the incoming symbol equals rhs; the fused symbol lhs||rhs can
    * never re-match lhs, which is exactly resume-after-match) —
    * equivalence spec-pinned on both the boundary and the overlap case.
    * Pair counting, by contrast, counts EVERY adjacent position
    * (overlapping), which is what reference BPE trainers do. Ties break
    * (count DESC, lhs, rhs) — ASCII binary order in both engines.
    *
    * Scale shape: the ONLY corpus-scale work is the one word-frequency
    * aggregation (map-side combined; word types ≪ corpus by Heaps' law —
    * this is why production BPE trainers operate on the word-type table).
    * The loop itself is vocabulary-local: per round, one row-local
    * adjacent-pair explode + one map-side-combined agg over the persisted
    * vocab frame, and a ONE-ROW argmax collect — the same bounded,
    * inherently-sequential driver step as MMR's k rounds (greedy argmax
    * is the algorithm, not a distribution shortcut). Merge rules apply
    * as literal regexp_replace — broadcast-free codegen constants.
    *
    * Spark-side patterns are `Pattern.quote`d so arbitrary vocab symbols
    * are safe; the oracle's list fold compares symbols by literal
    * equality, safe for any symbol. One input contract does remain: words must not
    * contain the end-of-word marker `_` or a double space themselves
    * (a literal `_` would alias the marker symbol) — real tokenizers
    * pre-normalize exactly this way, and the catalog corpus satisfies
    * it by construction.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = 6)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var seg = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        concat(regexp_replace(col("w"), "(.)", "$1  "), lit("_")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = seg
        .withColumn("s", split(col("seg"), "  "))
        .select(col("freq"), explode(expr(
          """transform(slice(s, 1, size(s) - 1),
            |  (x, i) -> struct(x AS lhs, element_at(s, i + 2) AS rhs))"""
            .stripMargin)).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (lhs, rhs, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, lhs, rhs, cnt))
        seg = seg.withColumn("seg", regexp_replace(col("seg"),
          "(?<!\\S)" + java.util.regex.Pattern.quote(s"$lhs  $rhs") + "(?!\\S)",
          java.util.regex.Matcher.quoteReplacement(lhs + rhs)))
        r += 1
      }
    }
    (merges.toSeq, seg)
  }

  /** Shared DuckDB replay of [[bpeTrain]]: CTEs `w0..w{rounds}` (the
    * segmented vocab after each merge) and `b1..b{rounds}` (each round's
    * winning pair). The unroll assumes every round finds a pair — true
    * for any natural-language corpus at catalog scale (the Spark loop's
    * early-stop is spec-pinned on degenerate inputs instead).
    */
  private def bpeOracleCtes(rounds: Int): String = {
    val base =
      """w0 AS (
        |  SELECT w, count(*) AS freq,
        |         regexp_replace(w, '(.)', '\1  ', 'g') || '_' AS seg
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(seg, '  ') AS s FROM w${r - 1}),
         |       unnest(generate_series(1, len(s) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS (
         |  SELECT lhs, rhs, cnt FROM p$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w$r AS (
         |  SELECT w, freq,
         |    array_to_string(list_reduce(
         |      list_transform(string_split(seg, '  '), s -> [s]),
         |      (acc, x) -> CASE WHEN acc[-1] = b.lhs AND x[1] = b.rhs
         |                  THEN list_append(acc[:-2], b.lhs || b.rhs)
         |                  ELSE list_append(acc, x[1]) END), '  ') AS seg
         |  FROM w${r - 1}, b$r b)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  private val bpeRounds = 6

  /** q255: the 6-round BPE merge table over the documents corpus —
    * round, winning pair, and its frequency-weighted adjacent count,
    * hash-checked against DuckDB unrolling the identical train loop
    * (same grid, same tie-break, same greedy replace semantics).
    */
  val q255: QueryDef = QueryDef.checked(
    "q255_bpe_train", {
      val union = (1 to bpeRounds)
        .map(r => s"SELECT $r AS round, lhs, rhs, cnt FROM b$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${bpeOracleCtes(bpeRounds)}
         |SELECT CAST(round AS INT) AS round, lhs, rhs, cnt FROM (
         |$union) ORDER BY round""".stripMargin
    }) { (s, d) =>
    val (merges, _) = bpeTrain(Tables.documents(s, d), bpeRounds)
    import s.implicits._
    merges.toDF("round", "lhs", "rhs", "cnt").orderBy(col("round"))
  }

  /** q256: ENCODE the corpus with the learned merges — per document, the
    * word count and the post-BPE token count. The vocabulary is encoded
    * once (row-local regexp cascade over word types), then the exploded
    * corpus word stream joins it broadcast — the corpus itself never
    * shuffles on anything but doc_id for the final per-doc agg. This is
    * the train→apply pair every tokenizer pipeline runs; token counts
    * feed q66's packing and q143's budget fill.
    */
  val q256: QueryDef = QueryDef.checked(
    "q256_bpe_encode",
    s"""WITH ${bpeOracleCtes(bpeRounds)},
       |enc AS (
       |  SELECT w, CAST(len(string_split(seg, '  ')) AS BIGINT) AS n_tok
       |  FROM w$bpeRounds),
       |dw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(enc.n_tok) AS BIGINT) AS n_tokens
       |FROM dw JOIN enc USING (w)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val (_, vocabSeg) = bpeTrain(docs, bpeRounds)
    val enc = vocabSeg.select(col("w"),
      size(split(col("seg"), "  ")).cast("long").as("n_tok"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(enc), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Data-selection scoring (q264) + tokenizer eval (q265)
  // ---------------------------------------------------------------------

  /** Hashed-n-gram importance weights — Moore–Lewis (ACL 2010) cross-
    * entropy difference over a HASHED feature space, i.e. the scoring
    * half of DSIR (Xie et al. 2023, arXiv:2302.03169): score(doc) =
    * Σ_tokens [ log P_in(bucket) − log P_gen(bucket) ] with
    * add-one-smoothed bucket unigram models. High scores = looks like
    * the in-domain sample; selection takes the top of the ranking (or
    * samples ∝ exp(score), DSIR's variant).
    *
    * Determinism: buckets come from the first 8 hex chars of md5 — the
    * portable-hash idiom (q46) that both engines compute identically —
    * and the per-bucket log-ratio is snapped to integer micro-nats
    * (the q86 idiom: one IEEE div of exact integer products < 2⁵³,
    * one ln, one round — ≤ `buckets` distinct values), so per-doc
    * scores are BIGINT sums, order-independent and hash-exact.
    *
    * Scale shape: ONE conditional-aggregate pass over the token stream
    * builds both models (the q258 both-sides-in-one-pass idiom — the
    * in-domain sample is usually a tiny fraction, but this form never
    * scans twice even when it is not); the model is `buckets` rows —
    * broadcast — so scoring is a map-side join + per-doc agg. The token
    * stream shuffles once on bucket and once on doc_id; at 100 TB both
    * are the minimum possible (the second collapses under map-side
    * combine to one row per doc per partition).
    */
  def importanceWeights(docs: DataFrame, inDomain: Column,
      buckets: Int = 256): DataFrame = {
    val b = docs
      .select(col("doc_id"), inDomain.as("in_dom"),
        explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), col("in_dom"),
        (conv(substring(md5(col("t").cast("binary")), 1, 8), 16, 10)
          .cast("long") % buckets).as("bkt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = b.groupBy(col("bkt"))
      .agg(count(lit(1)).as("cg"),
        sum(when(col("in_dom"), 1L).otherwise(0L)).as("ci"))
    val tots = counts.agg(sum(col("cg")).as("n_gen"), sum(col("ci")).as("n_in"))
    val lr = counts.crossJoin(tots)
      .select(col("bkt"),
        round(lit(1000000.0) * log(
          ((col("ci") + lit(1.0)) * (col("n_gen") + lit(buckets))) /
            ((col("cg") + lit(1.0)) * (col("n_in") + lit(buckets)))))
          .cast("long").as("lr_micro"))
    b.join(broadcast(lr), "bkt")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lr_micro")).as("score_micro"))
      .orderBy(col("doc_id"))
  }

  /** q264: DSIR-style importance scores with lang='en' documents as the
    * in-domain sample, hash-checked against DuckDB building the same
    * 256-bucket md5 models on the same micro-nat grid.
    */
  val q264: QueryDef = QueryDef.checked(
    "q264_importance_weights",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS bkt,
      |    lang = 'en' AS in_dom FROM tok),
      |counts AS (
      |  SELECT bkt, count(*) AS cg,
      |    SUM(CASE WHEN in_dom THEN 1 ELSE 0 END) AS ci
      |  FROM b GROUP BY bkt),
      |tot AS (SELECT SUM(cg) AS n_gen, SUM(ci) AS n_in FROM counts),
      |lr AS (
      |  SELECT bkt,
      |    CAST(ROUND(1000000.0 * LN(
      |      ((ci + 1.0) * (t.n_gen + 256)) /
      |      ((cg + 1.0) * (t.n_in + 256)))) AS BIGINT) AS lr_micro
      |  FROM counts CROSS JOIN tot t)
      |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  CAST(SUM(lr.lr_micro) AS BIGINT) AS score_micro
      |FROM b JOIN lr USING (bkt)
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    importanceWeights(Tables.documents(s, d), inDomain = col("lang") === "en")
  }

  /** GLOBAL greedy selection under a token budget: take documents in
    * descending-score order until the cumulative token count exceeds
    * the budget — the selection step that sits on top of any scorer
    * (here q264's importance weights; swap in perplexity, quality, or
    * a blend). The global running sum is the q241/q262 TWO-PHASE shape,
    * never a single-partition window: rows bucket by an
    * order-preserving div-grid over the score (range from one 2-long
    * driver-side agg — bounded by construction), bucket token totals
    * prefix-sum into offsets (a B-row frame, the only global window),
    * and each row's cum = offset + running sum within its bucket
    * ordered (score DESC, doc_id). Equal scores share a bucket, so the
    * two-phase sum is exactly the global-window sum.
    */
  def selectByScoreBudget(scored: DataFrame, budget: Long,
      buckets: Int = 64): DataFrame = {
    val stats = scored
      .agg(min(col("score_micro")).as("mn"), max(col("score_micro")).as("mx"))
      .head()
    if (stats.isNullAt(0))
      return scored.select(col("doc_id"), col("n_tok"), col("score_micro"),
        lit(0L).as("cum_tok")).limit(0)
    val (mn, mx) = (stats.getLong(0), stats.getLong(1))
    val width = (mx - mn) / buckets + 1L
    val b = scored.withColumn("bkt",
      expr(s"(${mx}L - score_micro) div ${width}L"))
    val offs = b.groupBy(col("bkt")).agg(sum(col("n_tok")).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    b.join(broadcast(offs), Seq("bkt"))
      .withColumn("cum_tok", col("off") + sum(col("n_tok")).over(
        Window.partitionBy(col("bkt"))
          .orderBy(col("score_micro").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tok") <= budget)
      .select(col("doc_id"), col("n_tok"), col("score_micro"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  /** q268: the 5,000-token greedy selection over q264's importance
    * ranking — hash-checked (including every cum_tok prefix value)
    * against DuckDB running the plain global window the two-phase form
    * must reproduce exactly.
    */
  val q268: QueryDef = QueryDef.checked(
    "q268_selection_by_score",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS bkt,
      |    lang = 'en' AS in_dom FROM tok),
      |counts AS (
      |  SELECT bkt, count(*) AS cg,
      |    SUM(CASE WHEN in_dom THEN 1 ELSE 0 END) AS ci
      |  FROM b GROUP BY bkt),
      |tot AS (SELECT SUM(cg) AS n_gen, SUM(ci) AS n_in FROM counts),
      |lr AS (
      |  SELECT bkt,
      |    CAST(ROUND(1000000.0 * LN(
      |      ((ci + 1.0) * (t.n_gen + 256)) /
      |      ((cg + 1.0) * (t.n_in + 256)))) AS BIGINT) AS lr_micro
      |  FROM counts CROSS JOIN tot t),
      |scored AS (
      |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |    CAST(SUM(lr.lr_micro) AS BIGINT) AS score_micro
      |  FROM b JOIN lr USING (bkt) GROUP BY b.doc_id),
      |cum AS (
      |  SELECT doc_id, n_tok, score_micro,
      |    CAST(SUM(n_tok) OVER (ORDER BY score_micro DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM scored)
      |SELECT doc_id, n_tok, score_micro, cum_tok FROM cum
      |WHERE cum_tok <= 5000 ORDER BY doc_id""".stripMargin) { (s, d) =>
    selectByScoreBudget(
      importanceWeights(Tables.documents(s, d),
        inDomain = col("lang") === "en"),
      budget = 5000L)
  }

  /** q271: BLOCKLIST phrase hits — the multi-pattern boilerplate filter
    * every curation pipeline runs (banned phrases, license headers,
    * navigation chrome). The blocklist here is self-mined: the top-5
    * most document-frequent trigram phrases (a deterministic stand-in
    * for a curated list — the operator is the same for any phrase
    * frame). Matching is a LEFT join on a substring-contains condition
    * against the BROADCAST phrase list — k row-local `contains` tests
    * per document (Spark compiles `Contains`, no regex), never a
    * shuffle of the corpus.
    *
    * Hit semantics are SUBSTRING containment, deliberately (ADVICE
    * r12): a mined trigram also matches inside longer words or across
    * token boundaries ("a b c" hits "xa b cy") — the raw-bytes
    * semantics a license-header / banned-string filter wants, and the
    * oracle's LIKE is the identical predicate. For TOKEN-anchored
    * semantics (phrase = consecutive whole tokens) and for lists in
    * the 1000s where k row-local contains tests stop scaling, use
    * [[blocklistHitsLarge]] (q277): distinct doc n-grams broadcast-
    * equi-joined against the phrase list — per-doc cost independent of
    * k, corpus never shuffled. Measured crossover in its scaladoc.
    */
  val q271: QueryDef = QueryDef.checked(
    "q271_blocklist_hits",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |tri AS (
      |  SELECT DISTINCT doc_id, t || ' ' || lead(t) OVER w || ' ' || lead(t, 2) OVER w AS g
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(t, 2) OVER w IS NOT NULL),
      |block AS (
      |  SELECT g FROM (
      |    SELECT g, row_number() OVER (ORDER BY COUNT(*) DESC, g) AS rn
      |    FROM tri GROUP BY g) WHERE rn <= 5),
      |hits AS (
      |  SELECT d.doc_id, COUNT(b.g) AS n_hits
      |  FROM documents d LEFT JOIN block b
      |    ON d.text LIKE '%' || b.g || '%'
      |  GROUP BY d.doc_id)
      |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
      |  CAST(n_hits > 0 AS INT) AS flagged
      |FROM hits ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // top-5 via global sort+limit, NOT a row_number window: Spark
    // compiles orderBy().limit(k) to TakeOrderedAndProject (per-
    // partition top-k, merged on the driver) — the vocabulary never
    // collapses into one partition
    val block = Dedup.shingles(docs)
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g"))
      .limit(5)
      .select(col("g"))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(block), col("text").contains(col("g")), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("g")).as("n_hits"))
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") > 0).cast("int").as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Ranking AUC of a scorer against a binary label, Mann–Whitney
    * rank-sum form — the eval every data-selection scorer gets before
    * its threshold goes live: AUC = P(random positive outranks random
    * negative) = (Σ ranks of positives − n₊(n₊+1)/2) / (n₊·n₋), exact
    * integers throughout (ranks are unique under the (score, doc_id)
    * order, so no tie fractions). The GLOBAL rank is the q268 two-phase
    * bucket/offset shape — score div-grid, bucket-count prefix-sum,
    * within-bucket row_number — never a single-partition window; the
    * final statistic is one aggregate.
    */
  def scoreAuc(labeled: DataFrame, buckets: Int = 64): DataFrame = {
    val stats = labeled
      .agg(min(col("score_micro")).as("mn"), max(col("score_micro")).as("mx"))
      .head()
    require(!stats.isNullAt(0), "scoreAuc needs a non-empty frame")
    val (mn, mx) = (stats.getLong(0), stats.getLong(1))
    val width = (mx - mn) / buckets + 1L
    val b = labeled.withColumn("bkt",
      expr(s"(score_micro - ${mn}L) div ${width}L"))
    val offs = b.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    b.join(broadcast(offs), Seq("bkt"))
      .withColumn("rnk", col("off") + row_number().over(
        Window.partitionBy(col("bkt"))
          .orderBy(col("score_micro"), col("doc_id"))))
      .agg(sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"),
        sum(when(col("pos") === 1, col("rnk")).otherwise(0L)).as("rsum"))
      .select(col("n_pos"), col("n_neg"),
        expr("rsum - (n_pos * (n_pos + 1)) div 2").as("u_stat"),
        expr("((rsum - (n_pos * (n_pos + 1)) div 2) * 1000000L)" +
          " div (n_pos * n_neg)").as("auc_ppm"))
  }

  /** q274: AUC of the q264 importance score against the in-domain
    * (lang='en') label — "did the scorer separate?", the one-row
    * readout that gates a selection threshold. Hash-checked against
    * DuckDB running the plain global rank the two-phase form must
    * reproduce.
    */
  val q274: QueryDef = QueryDef.checked(
    "q274_score_auc",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS bkt,
      |    lang = 'en' AS in_dom FROM tok),
      |counts AS (
      |  SELECT bkt, count(*) AS cg,
      |    SUM(CASE WHEN in_dom THEN 1 ELSE 0 END) AS ci
      |  FROM b GROUP BY bkt),
      |tot AS (SELECT SUM(cg) AS n_gen, SUM(ci) AS n_in FROM counts),
      |lr AS (
      |  SELECT bkt,
      |    CAST(ROUND(1000000.0 * LN(
      |      ((ci + 1.0) * (t.n_gen + 256)) /
      |      ((cg + 1.0) * (t.n_in + 256)))) AS BIGINT) AS lr_micro
      |  FROM counts CROSS JOIN tot t),
      |scored AS (
      |  SELECT b.doc_id, CAST(SUM(lr.lr_micro) AS BIGINT) AS score_micro
      |  FROM b JOIN lr USING (bkt) GROUP BY b.doc_id),
      |lab AS (
      |  SELECT s.doc_id, s.score_micro, CAST(d.lang = 'en' AS INT) AS pos
      |  FROM scored s JOIN documents d USING (doc_id)),
      |rk AS (
      |  SELECT doc_id, score_micro, pos,
      |    row_number() OVER (ORDER BY score_micro, doc_id) AS rnk
      |  FROM lab)
      |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
      |  CAST(SUM(CASE WHEN pos = 1 THEN rnk ELSE 0 END)
      |    - SUM(pos) * (SUM(pos) + 1) // 2 AS BIGINT) AS u_stat,
      |  CAST((SUM(CASE WHEN pos = 1 THEN rnk ELSE 0 END)
      |    - SUM(pos) * (SUM(pos) + 1) // 2) * 1000000
      |    // (SUM(pos) * (COUNT(*) - SUM(pos))) AS BIGINT) AS auc_ppm
      |FROM rk""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val labeled = importanceWeights(docs, inDomain = col("lang") === "en")
      .select(col("doc_id"), col("score_micro"))
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("pos")), "doc_id")
    scoreAuc(labeled)
  }

  /** q265: tokenizer FERTILITY by corpus segment — BPE tokens per word
    * in ppm, the standard tokenizer-eval readout (a segment whose
    * fertility is far above the corpus mean is being over-fragmented —
    * under-represented in the merge table — and will cost
    * disproportionate sequence length at training time). Reuses the
    * q255 learned merges; the corpus word stream joins the encoded
    * vocabulary broadcast and collapses to one row per (lang, source).
    */
  val q265: QueryDef = QueryDef.checked(
    "q265_tokenizer_fertility",
    s"""WITH ${bpeOracleCtes(bpeRounds)},
       |enc AS (
       |  SELECT w, CAST(len(string_split(seg, '  ')) AS BIGINT) AS n_tok
       |  FROM w$bpeRounds),
       |dw AS (
       |  SELECT lang, source, unnest(string_split(text, ' ')) AS w
       |  FROM documents)
       |SELECT dw.lang, dw.source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(enc.n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(enc.n_tok) * 1000000 // count(*) AS BIGINT) AS fertility_ppm
       |FROM dw JOIN enc USING (w)
       |GROUP BY dw.lang, dw.source
       |ORDER BY dw.lang, dw.source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val (_, vocabSeg) = bpeTrain(docs, bpeRounds)
    val enc = vocabSeg.select(col("w"),
      size(split(col("seg"), "  ")).cast("long").as("n_tok"))
    docs.select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(enc), "w")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("fertility_ppm",
        expr("(n_tokens * 1000000L) div n_words"))
      .orderBy(col("lang"), col("source"))
  }

  /** The word-TYPE table — the one corpus touch every tokenizer op
    * shares (the q255 BPE shape): at 100 TB the corpus is scanned once
    * for (word, frequency) and every training iteration runs on the
    * type table, which is vocabulary-sized, not corpus-sized.
    */
  private def wordTypes(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Viterbi segmentation of each word type under a piece→cost model —
    * the decode step of a unigram-LM (SentencePiece-style) tokenizer
    * (Kudo 2018, arXiv:1804.10959). The whole DP runs ROW-LOCALLY as
    * one `aggregate` over the word's positions: dp[j] = the best
    * (cost, n_pieces, seg) struct over pieces ending at j, where
    * "best" is the STRUCT ordering on (cost, n, seg) — Spark's struct
    * comparison is field-lexicographic, which IS the tie-break and is
    * replayed verbatim by the oracle's ORDER BY cost, n, seg. Piece
    * costs come from one broadcast map (crossJoin of a 1-row
    * `map_from_entries` frame — the scalar-frame idiom), so the type
    * table never shuffles and no driver loop runs: one pass, however
    * long the longest word. Map probes use `try_element_at` so the
    * missing-piece-is-NULL semantics the DP depends on holds under
    * `spark.sql.ansi.enabled=true` too (plain `element_at` would throw
    * MAP_KEY_DOES_NOT_EXIST on the routinely-probed below-minCount
    * substrings).
    *
    * DP-vs-full-enumeration equivalence (the oracle enumerates ALL
    * segmentations recursively and takes the (cost, n, seg) minimum):
    * prefix-optimality holds for this order — two prefixes at the same
    * position with equal cost and equal n have equal-length seg
    * strings, so appending any common suffix preserves their
    * lexicographic order, and cost/n compose additively; hence
    * min-per-position DP = min over full paths.
    *
    * A word with NO segmentation under the model (a character absent
    * from the piece map) yields a NULL row — callers that include all
    * single characters (both catalog models do) never produce one.
    */
  private def viterbiSeg(types: DataFrame, pieces: DataFrame,
      maxLen: Int): DataFrame = {
    val m = pieces.agg(map_from_entries(
      collect_list(struct(col("g"), col("cost")))).as("m"))
    types.crossJoin(broadcast(m))
      .withColumn("dp", expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  array(named_struct('cost', CAST(0 AS BIGINT), 'n', 0, 'seg', '')),
           |  (acc, j) -> acc || array(
           |    array_min(filter(transform(sequence(1, $maxLen),
           |      L -> CASE WHEN j - L >= 0
           |                 AND try_element_at(m, substring(w, j - L + 1, L)) IS NOT NULL
           |                 AND element_at(acc, j - L + 1) IS NOT NULL
           |        THEN named_struct(
           |          'cost', element_at(acc, j - L + 1).cost
           |                  + try_element_at(m, substring(w, j - L + 1, L)),
           |          'n', element_at(acc, j - L + 1).n + 1,
           |          'seg', CASE WHEN element_at(acc, j - L + 1).seg = ''
           |                 THEN substring(w, j - L + 1, L)
           |                 ELSE element_at(acc, j - L + 1).seg || ' '
           |                      || substring(w, j - L + 1, L) END)
           |        ELSE NULL END),
           |      x -> x IS NOT NULL))))""".stripMargin))
      .select(col("w"), col("freq"),
        element_at(col("dp"), length(col("w")) + 1).as("best"))
      .select(col("w"), col("freq"), col("best.seg").as("seg"),
        col("best.n").as("n"), col("best.cost").as("cost"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINER — the other
    * production tokenizer family next to BPE (q255): where BPE grows a
    * vocabulary bottom-up by merging, unigram-LM starts from a LARGE
    * seed of candidate pieces and PRUNES to size under a unigram
    * language model (Kudo 2018). This implementation is one hard-EM
    * (Viterbi) round with frequency pruning — the deterministic core
    * of the SentencePiece trainer (which runs ~2 EM sub-iterations per
    * prune round with soft forward–backward counts; the soft-count
    * escalation is a documented variant, not built):
    *   1. SEED — every substring of length ≤ `maxLen` of every word
    *      type, position-counted and frequency-weighted; single chars
    *      always kept (the coverage guarantee), longer pieces need
    *      `minCount`. Seed cost = integer micro-nat -log p (one ln of
    *      an integer ratio — the q86 parity grid).
    *   2. E-STEP — [[viterbiSeg]] segments every word TYPE once; piece
    *      counts are the frequency-weighted counts over those best
    *      segmentations.
    *   3. PRUNE — keep all single chars plus the top-`kMulti`
    *      multi-char pieces by (count DESC, piece) — distributed
    *      top-k, TakeOrderedAndProject.
    *   4. M-STEP — re-score the surviving vocabulary add-one smoothed
    *      (pruned-away mass renormalizes; unused chars keep a finite
    *      cost), same micro-nat grid.
    * Scale: the corpus is touched ONCE (the type table); seed, DP,
    * counts, and pruning all run at vocabulary scale. Output: one row
    * per final piece (piece, cnt, cost_micro).
    */
  def unigramLmTrain(docs: DataFrame, kMulti: Int = 40, maxLen: Int = 4,
      minCount: Long = 2L): DataFrame = {
    val ty = wordTypes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sub = ty.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> filter(transform(sequence(1, $maxLen),
           |    L -> CASE WHEN i + L - 1 <= length(w)
           |         THEN substring(w, i, L) ELSE NULL END),
           |    x -> x IS NOT NULL)))""".stripMargin)).as("g"))
      .groupBy(col("g")).agg(sum(col("freq")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = sub.filter(length(col("g")) === 1 || col("cnt") >= minCount)
    val sc = seed.crossJoin(broadcast(seed.agg(sum(col("cnt")).as("t"))))
      .select(col("g"),
        expr("CAST(ROUND(1000000.0 * LN(t * 1.0 / cnt)) AS BIGINT)").as("cost"))
    val ec = viterbiSeg(ty, sc, maxLen)
      .select(col("freq"), explode(split(col("seg"), " ")).as("g"))
      .groupBy(col("g")).agg(sum(col("freq")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fin = sub.filter(length(col("g")) === 1).select(col("g"))
      .unionByName(ec.filter(length(col("g")) > 1)
        .orderBy(col("cnt").desc, col("g")).limit(kMulti).select(col("g")))
    val fc = fin.join(ec, Seq("g"), "left")
      .select(col("g"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    fc.crossJoin(broadcast(
        fc.agg(sum(col("cnt")).as("t"), count(lit(1)).as("nv"))))
      .select(col("g").as("piece"), col("cnt"),
        expr("CAST(ROUND(1000000.0 * LN((t + nv) * 1.0 / (cnt + 1))) AS BIGINT)")
          .as("cost_micro"))
      .orderBy(col("piece"))
  }

  /** ENCODE the corpus with the trained unigram LM: Viterbi-segment
    * the word TYPES under the final smoothed model (one broadcast-map
    * DP pass, [[viterbiSeg]]), then roll piece counts up per
    * (lang, source) — tokens-per-word fertility, the q265 readout, so
    * BPE and unigram-LM are directly comparable on the same corpus.
    */
  def unigramLmEncode(docs: DataFrame, kMulti: Int = 40, maxLen: Int = 4,
      minCount: Long = 2L): DataFrame = {
    val model = unigramLmTrain(docs, kMulti, maxLen, minCount)
      .select(col("piece").as("g"), col("cost_micro").as("cost"))
    val enc = viterbiSeg(wordTypes(docs), model, maxLen)
      .select(col("w"), col("n"))
    docs.select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(enc), "w")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_pieces"))
      .withColumn("fertility_ppm",
        expr("(n_pieces * 1000000L) div n_words"))
      .orderBy(col("lang"), col("source"))
  }

  /** Shared DuckDB replay of [[unigramLmTrain]] (maxLen 4, minCount 2,
    * kMulti 40): the seed, an ALL-PATHS recursive enumeration of word
    * segmentations with the (cost, n, seg) minimum — the full-search
    * form whose equivalence to the Spark DP is argued at
    * [[viterbiSeg]] — the E-counts, the prune, and the smoothed
    * re-score. `fsc` is the final piece→cost model q281's second
    * Viterbi pass reads.
    */
  private val unigramOracleCtes: String =
    """WITH RECURSIVE ty AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |sub AS (
      |  SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS g,
      |         CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM ty, unnest(generate_series(1, len(w))) AS u(i),
      |       unnest(generate_series(1, 4)) AS v(L)
      |  WHERE i + L - 1 <= len(w)
      |  GROUP BY 1),
      |seed AS (
      |  SELECT g, cnt FROM sub WHERE len(g) = 1 OR cnt >= 2),
      |stot AS (SELECT SUM(cnt) AS t FROM seed),
      |sc AS (
      |  SELECT g, CAST(ROUND(1000000.0 * LN(s.t * 1.0 / cnt)) AS BIGINT) AS cost
      |  FROM seed CROSS JOIN stot s),
      |p AS (
      |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS n, '' AS seg FROM ty
      |  UNION ALL
      |  SELECT p.w, p.pos + len(sc.g), p.cost + sc.cost, p.n + 1,
      |         CASE WHEN p.seg = '' THEN sc.g ELSE p.seg || ' ' || sc.g END
      |  FROM p JOIN sc ON sc.g = substr(p.w, p.pos + 1, len(sc.g))
      |  WHERE p.pos < len(p.w)),
      |vit AS (
      |  SELECT w, seg FROM (
      |    SELECT w, seg,
      |      row_number() OVER (PARTITION BY w ORDER BY cost, n, seg) AS rn
      |    FROM p WHERE pos = len(w)) WHERE rn = 1),
      |ec AS (
      |  SELECT t.g, CAST(SUM(ty.freq) AS BIGINT) AS cnt
      |  FROM vit JOIN ty USING (w), unnest(string_split(vit.seg, ' ')) AS t(g)
      |  GROUP BY t.g),
      |fin AS (
      |  SELECT g FROM sub WHERE len(g) = 1
      |  UNION ALL
      |  SELECT g FROM (
      |    SELECT g, row_number() OVER (ORDER BY cnt DESC, g) AS rn
      |    FROM ec WHERE len(g) > 1) WHERE rn <= 40),
      |fc AS (
      |  SELECT f.g, COALESCE(ec.cnt, 0) AS cnt FROM fin f LEFT JOIN ec USING (g)),
      |ft AS (SELECT SUM(cnt) AS t, COUNT(*) AS nv FROM fc),
      |fsc AS (
      |  SELECT fc.g, fc.cnt,
      |    CAST(ROUND(1000000.0 * LN((ft.t + ft.nv) * 1.0 / (fc.cnt + 1)))
      |      AS BIGINT) AS cost
      |  FROM fc CROSS JOIN ft)""".stripMargin

  /** q280: the trained unigram-LM vocabulary over the documents corpus
    * — final piece, Viterbi E-count, smoothed micro-nat cost —
    * hash-checked against DuckDB running the identical seed / full-
    * search Viterbi / prune / re-score train loop.
    */
  val q280: QueryDef = QueryDef.checked(
    "q280_unigram_lm_train",
    s"""$unigramOracleCtes
       |SELECT g AS piece, cnt, cost AS cost_micro
       |FROM fsc ORDER BY piece""".stripMargin) { (s, d) =>
    unigramLmTrain(Tables.documents(s, d))
  }

  /** q281: ENCODE the corpus with the trained unigram LM — per
    * (lang, source) word/piece counts and fertility ppm, the q265
    * readout, so the two tokenizer families are directly comparable.
    * Hash-checked against DuckDB re-running the train CTEs and a
    * second full-search Viterbi pass under the final model.
    */
  val q281: QueryDef = QueryDef.checked(
    "q281_unigram_lm_encode",
    s"""$unigramOracleCtes,
       |p2 AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS n, '' AS seg FROM ty
       |  UNION ALL
       |  SELECT p2.w, p2.pos + len(f.g), p2.cost + f.cost, p2.n + 1,
       |         CASE WHEN p2.seg = '' THEN f.g ELSE p2.seg || ' ' || f.g END
       |  FROM p2 JOIN fsc f ON f.g = substr(p2.w, p2.pos + 1, len(f.g))
       |  WHERE p2.pos < len(p2.w)),
       |enc AS (
       |  SELECT w, n FROM (
       |    SELECT w, n,
       |      row_number() OVER (PARTITION BY w ORDER BY cost, n, seg) AS rn
       |    FROM p2 WHERE pos = len(w)) WHERE rn = 1),
       |dw AS (
       |  SELECT lang, source, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT dw.lang, dw.source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(enc.n) AS BIGINT) AS n_pieces,
       |  CAST(SUM(enc.n) * 1000000 // count(*) AS BIGINT) AS fertility_ppm
       |FROM dw JOIN enc USING (w)
       |GROUP BY dw.lang, dw.source
       |ORDER BY dw.lang, dw.source""".stripMargin) { (s, d) =>
    unigramLmEncode(Tables.documents(s, d))
  }

  /** Unigram-LM trainer with SOFT (forward–backward) expected counts —
    * the full-EM E-step SentencePiece actually runs (Kudo 2018 §3.2),
    * next to q280's hard-EM (Viterbi) round: instead of crediting only
    * the single best segmentation, every piece occurrence (i, L) in a
    * word earns its POSTERIOR mass α(i−1)·p·β(i+L−1)/Z, summed
    * frequency-weighted over word types. Both lattice passes run
    * ROW-LOCALLY as one `aggregate` over positions each (the
    * [[viterbiSeg]] idiom with a sum instead of a struct-min), probing
    * the same broadcast piece→probability map — the type table never
    * shuffles and no driver loop runs; the one piece-keyed agg sums the
    * per-occurrence expectations.
    *
    * Oracle parity (why a DOUBLE DP is hash-safe here): the recurrences
    * use only IEEE +, ×, / on identical operands in an identical
    * association order in both engines (each op correctly rounded by
    * IEEE 754 — no libm, no reassociation: Spark's fold and the
    * oracle's explicit `x1+x2+x3+x4` both left-associate, products are
    * parenthesized `(a*p)*b`, and DuckDB's vectorized interpreter
    * evaluates SQL operators one at a time, so no FMA contraction), and
    * the only readout quantizes at the END: e_ppm =
    * ⌊10⁶·((a·p)·b)/Z⌋ per occurrence. The DuckDB oracle replays the
    * same forward/backward recurrences as recursive CTEs carrying a
    * rolling 4-slot state. Words whose Z underflows to exactly 0.0
    * (impossible until word lengths × piece costs exceed the double
    * exponent range) are skipped by both engines under the same guard.
    *
    * Prune and M-step mirror q280 on the ppm count grid: chars always
    * kept, top-`kMulti` multi-char pieces by (soft count DESC, piece),
    * add-one-smoothed micro-nat re-score. At 100 TB the shape is
    * q280's: one corpus scan builds the word-TYPE table; seed, both
    * lattice passes, expectation, prune, and re-score all run at
    * vocabulary scale.
    */
  /** One soft (forward–backward) E-STEP as a vocabulary-scale frame op:
    * word types × the model joined per-word as a gram mini-map →
    * frequency-weighted posterior expected counts on the ppm grid — the lattice
    * machinery of [[unigramLmSoftTrain]], factored out so the iterated
    * trainer ([[unigramLmEmTrain]], q292) re-runs it per round against
    * each round's re-estimated model. Both lattice passes run
    * ROW-LOCALLY as one `aggregate` over positions each; the IEEE
    * association order is part of the oracle-parity contract (see
    * [[unigramLmSoftTrain]]) and must not be reassociated.
    */
  private def softExpectedCounts(ty: DataFrame, pr: DataFrame,
      maxLen: Int): DataFrame = {
    // r16 round 2 (guide §2.3/§3.1): the model used to ride ONE global
    // broadcast MAP — and Catalyst's (try_)element_at on map data is a
    // LINEAR SCAN, so every lattice probe walked the entire vocabulary
    // (~10⁴ entries under the round-1 seed model) per position. The
    // lattice only ever asks for substrings of the row's OWN word, so
    // the model is now equi-joined to each word's distinct grams once
    // (hash join against broadcast pr — a real hash probe) and the
    // row-local recurrences scan a per-word mini-map of ≤ len·maxLen
    // entries. Absent grams are simply absent from the mini-map and
    // resolve to NULL → 0.0 exactly as before; every corpus word keeps
    // its single chars in every round's model (chars are always kept),
    // so no word row is lost by the inner join. At 100 TB this also
    // replaces the full-vocabulary broadcast map with the standard
    // broadcast-join model-scoring shape. Each CASE also multiplies by
    // coalesce(lookup, 0.0) instead of re-probing inside the condition
    // — fw/bw values are finite non-negative, so x·0.0 = +0.0 and the
    // sum chain is bit-identical.
    val gramsSql =
      s"""array_distinct(flatten(transform(sequence(1, length(w)),
         |  i -> filter(transform(sequence(1, $maxLen),
         |    L -> CASE WHEN i + L - 1 <= length(w)
         |         THEN substring(w, i, L) ELSE NULL END),
         |    x -> x IS NOT NULL))))""".stripMargin
    val wm = ty.select(col("w"), col("freq"), explode(expr(gramsSql)).as("g"))
      .join(broadcast(pr), Seq("g"))
      .groupBy(col("w"), col("freq"))
      .agg(map_from_entries(collect_list(struct(col("g"), col("p"))))
        .as("m"))
    // forward: fw[j+1] = a(j); a(j) = Σ_L a(j−L)·p(w[j−L+1..j])
    val fwSql =
      s"""aggregate(
         |  sequence(1, length(w)),
         |  array(CAST(1.0 AS DOUBLE)),
         |  (acc, j) -> acc || array(
         |    aggregate(transform(sequence(1, $maxLen),
         |      L -> CASE WHEN j - L >= 0
         |        THEN element_at(acc, j - L + 1)
         |             * coalesce(try_element_at(m, substring(w, j - L + 1, L)),
         |                 CAST(0.0 AS DOUBLE))
         |        ELSE CAST(0.0 AS DOUBLE) END),
         |      CAST(0.0 AS DOUBLE), (s, x) -> s + x)))""".stripMargin
    // backward, built from the word's end: bwrev[k+1] = b(len−k);
    // b(j) = Σ_L b(j+L)·p(w[j+1..j+L])
    val bwSql =
      s"""aggregate(
         |  sequence(1, length(w)),
         |  array(CAST(1.0 AS DOUBLE)),
         |  (acc, k) -> acc || array(
         |    aggregate(transform(sequence(1, $maxLen),
         |      L -> CASE WHEN k - L >= 0
         |        THEN element_at(acc, k - L + 1)
         |             * coalesce(try_element_at(m, substring(w, length(w) - k + 1, L)),
         |                 CAST(0.0 AS DOUBLE))
         |        ELSE CAST(0.0 AS DOUBLE) END),
         |      CAST(0.0 AS DOUBLE), (s, x) -> s + x)))""".stripMargin
    val ePairsSql =
      s"""flatten(transform(sequence(1, length(w)),
         |  i -> filter(transform(sequence(1, $maxLen),
         |    L -> CASE WHEN i + L - 1 <= length(w)
         |              AND try_element_at(m, substring(w, i, L)) IS NOT NULL
         |      THEN named_struct('g', substring(w, i, L),
         |        'e', CAST(FLOOR(1000000.0 * (((element_at(fw, i)
         |               * try_element_at(m, substring(w, i, L)))
         |               * element_at(bwrev, length(w) - (i + L - 1) + 1))
         |               / z)) AS BIGINT))
         |      ELSE NULL END),
         |    x -> x IS NOT NULL)))""".stripMargin
    wm
      .withColumn("fw", expr(fwSql))
      .withColumn("bwrev", expr(bwSql))
      .withColumn("z", element_at(col("fw"), length(col("w")) + 1))
      .filter(col("z") > 0.0)
      .select(col("freq"), explode(expr(ePairsSql)).as("pe"))
      .groupBy(col("pe.g").as("g"))
      .agg(sum(col("freq") * col("pe.e")).as("cnt"))
  }

  def unigramLmSoftTrain(docs: DataFrame, kMulti: Int = 40, maxLen: Int = 4,
      minCount: Long = 2L): DataFrame = {
    // r16 round 2: ty/sub/ec are SEAMS consumed by several downstream
    // branches — as lazy persists the composed plan re-inlined each
    // subtree per consumer (a 48k-line q292 explain, mostly Catalyst
    // re-analysis); as lazy localCheckpoints the same bytes
    // materialize exactly once and every consumer reads a LogicalRDD
    // seam.
    val ty = wordTypes(docs).localCheckpoint(false)
    val sub = ty.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> filter(transform(sequence(1, $maxLen),
           |    L -> CASE WHEN i + L - 1 <= length(w)
           |         THEN substring(w, i, L) ELSE NULL END),
           |    x -> x IS NOT NULL)))""".stripMargin)).as("g"))
      .groupBy(col("g")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint(false)
    val seed = sub.filter(length(col("g")) === 1 || col("cnt") >= minCount)
    val pr = seed.crossJoin(broadcast(seed.agg(sum(col("cnt")).as("t"))))
      .select(col("g"), (col("cnt") * lit(1.0) / col("t")).as("p"))
    val ec = softExpectedCounts(ty, pr, maxLen)
      .localCheckpoint(false)
    val fin = sub.filter(length(col("g")) === 1).select(col("g"))
      .unionByName(ec.filter(length(col("g")) > 1)
        .orderBy(col("cnt").desc, col("g")).limit(kMulti).select(col("g")))
    val fc = fin.join(ec, Seq("g"), "left")
      .select(col("g"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    fc.crossJoin(broadcast(
        fc.agg(sum(col("cnt")).as("t"), count(lit(1)).as("nv"))))
      .select(col("g").as("piece"), col("cnt").as("cnt_ppm"),
        expr("CAST(ROUND(1000000.0 * LN((t + nv) * 1.0 / (cnt + 1))) AS BIGINT)")
          .as("cost_micro"))
      .orderBy(col("piece"))
  }

  /** q284: the soft-count (forward–backward) unigram-LM vocabulary —
    * final piece, posterior expected count on the ppm grid, smoothed
    * micro-nat cost. Hash-checked against DuckDB replaying the seed,
    * both lattice recurrences (recursive CTEs with a rolling 4-slot
    * state), the per-occurrence posterior readout, the prune, and the
    * re-score, with every float op structurally identical (see
    * [[unigramLmSoftTrain]]'s parity argument).
    */
  val q284: QueryDef = QueryDef.checked(
    "q284_unigram_lm_soft",
    """WITH RECURSIVE ty AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |sub AS (
      |  SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS g,
      |         CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM ty, unnest(generate_series(1, len(w))) AS u(i),
      |       unnest(generate_series(1, 4)) AS v(L)
      |  WHERE i + L - 1 <= len(w)
      |  GROUP BY 1),
      |seed AS (
      |  SELECT g, cnt FROM sub WHERE len(g) = 1 OR cnt >= 2),
      |stot AS (SELECT SUM(cnt) AS t FROM seed),
      |pr AS (
      |  SELECT g, cnt * 1.0 / s.t AS p FROM seed CROSS JOIN stot s),
      |fw AS (
      |  SELECT w, 0 AS j, CAST(0.0 AS DOUBLE) AS a3, CAST(0.0 AS DOUBLE) AS a2,
      |         CAST(0.0 AS DOUBLE) AS a1, CAST(1.0 AS DOUBLE) AS a0
      |  FROM ty
      |  UNION ALL
      |  SELECT w, j + 1, a2, a1, a0,
      |    (CASE WHEN (SELECT p FROM pr WHERE g = substr(w, j + 1, 1)) IS NOT NULL
      |      THEN a0 * (SELECT p FROM pr WHERE g = substr(w, j + 1, 1))
      |      ELSE 0.0 END)
      |    + (CASE WHEN j - 1 >= 0
      |        AND (SELECT p FROM pr WHERE g = substr(w, j, 2)) IS NOT NULL
      |      THEN a1 * (SELECT p FROM pr WHERE g = substr(w, j, 2))
      |      ELSE 0.0 END)
      |    + (CASE WHEN j - 2 >= 0
      |        AND (SELECT p FROM pr WHERE g = substr(w, j - 1, 3)) IS NOT NULL
      |      THEN a2 * (SELECT p FROM pr WHERE g = substr(w, j - 1, 3))
      |      ELSE 0.0 END)
      |    + (CASE WHEN j - 3 >= 0
      |        AND (SELECT p FROM pr WHERE g = substr(w, j - 2, 4)) IS NOT NULL
      |      THEN a3 * (SELECT p FROM pr WHERE g = substr(w, j - 2, 4))
      |      ELSE 0.0 END)
      |  FROM fw WHERE j < len(w)),
      |bw AS (
      |  SELECT w, len(w) AS j, CAST(1.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
      |         CAST(0.0 AS DOUBLE) AS b2, CAST(0.0 AS DOUBLE) AS b3
      |  FROM ty
      |  UNION ALL
      |  SELECT w, j - 1,
      |    (CASE WHEN (SELECT p FROM pr WHERE g = substr(w, j, 1)) IS NOT NULL
      |      THEN b0 * (SELECT p FROM pr WHERE g = substr(w, j, 1))
      |      ELSE 0.0 END)
      |    + (CASE WHEN j + 1 <= len(w)
      |        AND (SELECT p FROM pr WHERE g = substr(w, j, 2)) IS NOT NULL
      |      THEN b1 * (SELECT p FROM pr WHERE g = substr(w, j, 2))
      |      ELSE 0.0 END)
      |    + (CASE WHEN j + 2 <= len(w)
      |        AND (SELECT p FROM pr WHERE g = substr(w, j, 3)) IS NOT NULL
      |      THEN b2 * (SELECT p FROM pr WHERE g = substr(w, j, 3))
      |      ELSE 0.0 END)
      |    + (CASE WHEN j + 3 <= len(w)
      |        AND (SELECT p FROM pr WHERE g = substr(w, j, 4)) IS NOT NULL
      |      THEN b3 * (SELECT p FROM pr WHERE g = substr(w, j, 4))
      |      ELSE 0.0 END),
      |    b0, b1, b2
      |  FROM bw WHERE j > 0),
      |z AS (SELECT w, a0 AS z FROM fw WHERE j = len(w)),
      |occ AS (
      |  SELECT ty.w, ty.freq, CAST(i AS INT) AS i, CAST(L AS INT) AS L,
      |         substr(ty.w, CAST(i AS INT), CAST(L AS INT)) AS g
      |  FROM ty, unnest(generate_series(1, len(w))) AS u(i),
      |       unnest(generate_series(1, 4)) AS v(L)
      |  WHERE i + L - 1 <= len(w)),
      |e AS (
      |  SELECT occ.w, occ.freq, occ.g,
      |    CAST(FLOOR(1000000.0 * (((fa.a0 * pr.p) * fb.b0) / z.z)) AS BIGINT) AS e_ppm
      |  FROM occ
      |  JOIN pr ON pr.g = occ.g
      |  JOIN fw fa ON fa.w = occ.w AND fa.j = occ.i - 1
      |  JOIN bw fb ON fb.w = occ.w AND fb.j = occ.i + occ.L - 1
      |  JOIN z ON z.w = occ.w
      |  WHERE z.z > 0),
      |softc AS (
      |  SELECT g, CAST(SUM(freq * e_ppm) AS BIGINT) AS cnt FROM e GROUP BY g),
      |fin AS (
      |  SELECT g FROM sub WHERE len(g) = 1
      |  UNION ALL
      |  SELECT g FROM (
      |    SELECT g, row_number() OVER (ORDER BY cnt DESC, g) AS rn
      |    FROM softc WHERE len(g) > 1) WHERE rn <= 40),
      |fc AS (
      |  SELECT f.g, COALESCE(softc.cnt, 0) AS cnt FROM fin f LEFT JOIN softc USING (g)),
      |ft AS (SELECT SUM(cnt) AS t, COUNT(*) AS nv FROM fc)
      |SELECT fc.g AS piece, fc.cnt AS cnt_ppm,
      |  CAST(ROUND(1000000.0 * LN((ft.t + ft.nv) * 1.0 / (fc.cnt + 1)))
      |    AS BIGINT) AS cost_micro
      |FROM fc CROSS JOIN ft
      |ORDER BY piece""".stripMargin) { (s, d) =>
    unigramLmSoftTrain(Tables.documents(s, d))
  }

  /** ITERATED unigram-LM EM — the Sennrich/SentencePiece trainer loop
    * the single-round q284 stops short of (VERDICT r14 item 5): run the
    * certified soft E-step ([[softExpectedCounts]]) REPEATEDLY against
    * a PRUNE SCHEDULE, re-estimating the model between rounds.
    * Round r: E-step under the current model → keep all single chars +
    * the top-`schedule(r)` multi-char pieces by (soft count DESC,
    * piece) → M-step re-estimates p(g) = (cnt+1)/(t+nv) add-one
    * smoothed over the survivors (chars keep nonzero probability, so
    * lattice coverage never breaks). The schedule narrows toward the
    * final budget (default 80 → 40: SentencePiece's shrink-toward-
    * target discipline at this catalog's vocabulary scale); the final
    * round's counts are re-scored on the q280 micro-nat grid.
    *
    * The driver loop is the q255 BPE precedent: `schedule.length`
    * bounded rounds, each exchanging only a broadcast vocabulary-sized
    * model map — the corpus is touched ONCE (the word-TYPE table,
    * persisted) and every per-round stage runs at vocabulary scale.
    * Oracle parity: round boundaries pass INTEGER ppm counts between
    * engines, and the only float ops are the same structurally-IEEE
    * lattice recurrences q284 certifies plus one exact-rounded
    * (cnt+1)·1.0/(t+nv) division of integers — so the multi-round
    * pipeline is hash-exact end to end.
    */
  def unigramLmEmTrain(docs: DataFrame, schedule: Seq[Int] = Seq(80, 40),
      maxLen: Int = 4, minCount: Long = 2L): DataFrame = {
    require(schedule.nonEmpty, "EM schedule must have at least one round")
    // r16 round 2: the per-round ec/fc seams (and the shared ty/sub)
    // switch from lazy persist to lazy localCheckpoint — each round's
    // plan otherwise re-inlined every prior round's subtree per
    // consumer (48k-line explain at 2 rounds, growing with the
    // schedule, not the data); the seams keep job count identical and
    // truncate lineage the way the q57/q75 loops do.
    val ty = wordTypes(docs).localCheckpoint(false)
    val sub = ty.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> filter(transform(sequence(1, $maxLen),
           |    L -> CASE WHEN i + L - 1 <= length(w)
           |         THEN substring(w, i, L) ELSE NULL END),
           |    x -> x IS NOT NULL)))""".stripMargin)).as("g"))
      .groupBy(col("g")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint(false)
    val chars = sub.filter(length(col("g")) === 1).select(col("g"))
    val seed = sub.filter(length(col("g")) === 1 || col("cnt") >= minCount)
    var pr = seed.crossJoin(broadcast(seed.agg(sum(col("cnt")).as("t"))))
      .select(col("g"), (col("cnt") * lit(1.0) / col("t")).as("p"))
    var fc: DataFrame = null
    schedule.foreach { k =>
      val ec = softExpectedCounts(ty, pr, maxLen)
        .localCheckpoint(false)
      val fin = chars.unionByName(ec.filter(length(col("g")) > 1)
        .orderBy(col("cnt").desc, col("g")).limit(k).select(col("g")))
      fc = fin.join(ec, Seq("g"), "left")
        .select(col("g"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .localCheckpoint(false)
      // M-step: add-one-smoothed probabilities over the survivors feed
      // the NEXT round's lattice (exact integer operands, one IEEE
      // division — cross-engine identical)
      pr = fc.crossJoin(broadcast(
          fc.agg(sum(col("cnt")).as("t"), count(lit(1)).as("nv"))))
        .select(col("g"),
          ((col("cnt") + lit(1L)) * lit(1.0) / (col("t") + col("nv"))).as("p"))
    }
    fc.crossJoin(broadcast(
        fc.agg(sum(col("cnt")).as("t"), count(lit(1)).as("nv"))))
      .select(col("g").as("piece"), col("cnt").as("cnt_ppm"),
        expr("CAST(ROUND(1000000.0 * LN((t + nv) * 1.0 / (cnt + 1))) AS BIGINT)")
          .as("cost_micro"))
      .orderBy(col("piece"))
  }

  /** One unrolled soft-EM lattice round of the q292 ORACLE, generated
    * per round so the two rounds cannot structurally diverge (the q255
    * unrolled-CTE precedent): forward/backward recursive CTEs carrying
    * a rolling 4-slot state against the round's model `pr`, the
    * per-occurrence posterior ppm readout, and the soft-count roll-up.
    */
  private def softRoundCtes(r: Int, pr: String): String =
    s"""fw$r AS (
       |  SELECT w, 0 AS j, CAST(0.0 AS DOUBLE) AS a3, CAST(0.0 AS DOUBLE) AS a2,
       |         CAST(0.0 AS DOUBLE) AS a1, CAST(1.0 AS DOUBLE) AS a0
       |  FROM ty
       |  UNION ALL
       |  SELECT w, j + 1, a2, a1, a0,
       |    (CASE WHEN (SELECT p FROM $pr WHERE g = substr(w, j + 1, 1)) IS NOT NULL
       |      THEN a0 * (SELECT p FROM $pr WHERE g = substr(w, j + 1, 1))
       |      ELSE 0.0 END)
       |    + (CASE WHEN j - 1 >= 0
       |        AND (SELECT p FROM $pr WHERE g = substr(w, j, 2)) IS NOT NULL
       |      THEN a1 * (SELECT p FROM $pr WHERE g = substr(w, j, 2))
       |      ELSE 0.0 END)
       |    + (CASE WHEN j - 2 >= 0
       |        AND (SELECT p FROM $pr WHERE g = substr(w, j - 1, 3)) IS NOT NULL
       |      THEN a2 * (SELECT p FROM $pr WHERE g = substr(w, j - 1, 3))
       |      ELSE 0.0 END)
       |    + (CASE WHEN j - 3 >= 0
       |        AND (SELECT p FROM $pr WHERE g = substr(w, j - 2, 4)) IS NOT NULL
       |      THEN a3 * (SELECT p FROM $pr WHERE g = substr(w, j - 2, 4))
       |      ELSE 0.0 END)
       |  FROM fw$r WHERE j < len(w)),
       |bw$r AS (
       |  SELECT w, len(w) AS j, CAST(1.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
       |         CAST(0.0 AS DOUBLE) AS b2, CAST(0.0 AS DOUBLE) AS b3
       |  FROM ty
       |  UNION ALL
       |  SELECT w, j - 1,
       |    (CASE WHEN (SELECT p FROM $pr WHERE g = substr(w, j, 1)) IS NOT NULL
       |      THEN b0 * (SELECT p FROM $pr WHERE g = substr(w, j, 1))
       |      ELSE 0.0 END)
       |    + (CASE WHEN j + 1 <= len(w)
       |        AND (SELECT p FROM $pr WHERE g = substr(w, j, 2)) IS NOT NULL
       |      THEN b1 * (SELECT p FROM $pr WHERE g = substr(w, j, 2))
       |      ELSE 0.0 END)
       |    + (CASE WHEN j + 2 <= len(w)
       |        AND (SELECT p FROM $pr WHERE g = substr(w, j, 3)) IS NOT NULL
       |      THEN b2 * (SELECT p FROM $pr WHERE g = substr(w, j, 3))
       |      ELSE 0.0 END)
       |    + (CASE WHEN j + 3 <= len(w)
       |        AND (SELECT p FROM $pr WHERE g = substr(w, j, 4)) IS NOT NULL
       |      THEN b3 * (SELECT p FROM $pr WHERE g = substr(w, j, 4))
       |      ELSE 0.0 END),
       |    b0, b1, b2
       |  FROM bw$r WHERE j > 0),
       |z$r AS (SELECT w, a0 AS z FROM fw$r WHERE j = len(w)),
       |e$r AS (
       |  SELECT occ.w, occ.freq, occ.g,
       |    CAST(FLOOR(1000000.0 * (((fa.a0 * p.p) * fb.b0) / z.z)) AS BIGINT) AS e_ppm
       |  FROM occ
       |  JOIN $pr p ON p.g = occ.g
       |  JOIN fw$r fa ON fa.w = occ.w AND fa.j = occ.i - 1
       |  JOIN bw$r fb ON fb.w = occ.w AND fb.j = occ.i + occ.L - 1
       |  JOIN z$r z ON z.w = occ.w
       |  WHERE z.z > 0),
       |softc$r AS MATERIALIZED (
       |  SELECT g, CAST(SUM(freq * e_ppm) AS BIGINT) AS cnt FROM e$r GROUP BY g)"""
      .stripMargin

  /** q292: the iterated (2-round, 80→40 prune schedule) soft-EM
    * unigram-LM vocabulary. Hash-checked against DuckDB replaying BOTH
    * unrolled rounds — seed model, lattice 1, prune to 80, smoothed
    * re-estimate, lattice 2 under the round-2 model, prune to 40,
    * final micro-nat re-score.
    */
  val q292: QueryDef = QueryDef.checked(
    "q292_unigram_lm_em_iter",
    s"""WITH RECURSIVE ty AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |sub AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS g,
       |         CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM ty, unnest(generate_series(1, len(w))) AS u(i),
       |       unnest(generate_series(1, 4)) AS v(L)
       |  WHERE i + L - 1 <= len(w)
       |  GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT g, cnt FROM sub WHERE len(g) = 1 OR cnt >= 2),
       |stot AS MATERIALIZED (SELECT SUM(cnt) AS t FROM seed),
       |pr1 AS MATERIALIZED (
       |  SELECT g, cnt * 1.0 / s.t AS p FROM seed CROSS JOIN stot s),
       |occ AS MATERIALIZED (
       |  SELECT ty.w, ty.freq, CAST(i AS INT) AS i, CAST(L AS INT) AS L,
       |         substr(ty.w, CAST(i AS INT), CAST(L AS INT)) AS g
       |  FROM ty, unnest(generate_series(1, len(w))) AS u(i),
       |       unnest(generate_series(1, 4)) AS v(L)
       |  WHERE i + L - 1 <= len(w)),
       |${softRoundCtes(1, "pr1")},
       |fin1 AS MATERIALIZED (
       |  SELECT g FROM sub WHERE len(g) = 1
       |  UNION ALL
       |  SELECT g FROM (
       |    SELECT g, row_number() OVER (ORDER BY cnt DESC, g) AS rn
       |    FROM softc1 WHERE len(g) > 1) WHERE rn <= 80),
       |fc1 AS MATERIALIZED (
       |  SELECT f.g, COALESCE(softc1.cnt, 0) AS cnt
       |  FROM fin1 f LEFT JOIN softc1 USING (g)),
       |ft1 AS MATERIALIZED (SELECT SUM(cnt) AS t, COUNT(*) AS nv FROM fc1),
       |pr2 AS MATERIALIZED (
       |  SELECT fc1.g, (fc1.cnt + 1) * 1.0 / (ft1.t + ft1.nv) AS p
       |  FROM fc1 CROSS JOIN ft1),
       |${softRoundCtes(2, "pr2")},
       |fin2 AS MATERIALIZED (
       |  SELECT g FROM sub WHERE len(g) = 1
       |  UNION ALL
       |  SELECT g FROM (
       |    SELECT g, row_number() OVER (ORDER BY cnt DESC, g) AS rn
       |    FROM softc2 WHERE len(g) > 1) WHERE rn <= 40),
       |fc2 AS MATERIALIZED (
       |  SELECT f.g, COALESCE(softc2.cnt, 0) AS cnt
       |  FROM fin2 f LEFT JOIN softc2 USING (g)),
       |ft2 AS MATERIALIZED (SELECT SUM(cnt) AS t, COUNT(*) AS nv FROM fc2)
       |SELECT fc2.g AS piece, fc2.cnt AS cnt_ppm,
       |  CAST(ROUND(1000000.0 * LN((ft2.t + ft2.nv) * 1.0 / (fc2.cnt + 1)))
       |    AS BIGINT) AS cost_micro
       |FROM fc2 CROSS JOIN ft2
       |ORDER BY piece""".stripMargin) { (s, d) =>
    unigramLmEmTrain(Tables.documents(s, d))
  }

  /** The composed DATA-SELECTION pipeline (VERDICT r12 item 7) — the
    * end-to-end run a selection user actually performs, with every
    * intermediate exposed (the q75/curateStages pattern):
    *   1. SCORE  — [[importanceWeights]] (q264's DSIR/Moore–Lewis
    *      cross-entropy difference) over the corpus;
    *   2. GATE   — [[scoreAuc]] (q274's Mann–Whitney readout) against
    *      the in-domain label; the pipeline only selects if the scorer
    *      demonstrably separates (auc ≥ `gatePpm`). The gate is a
    *      1-row driver readout — the bounded-driver-round precedent
    *      (BPE argmax, MMR greedy): a scalar decides a plan branch;
    *   3. SELECT — [[selectByScoreBudget]] (q268's greedy prefix under
    *      a token budget, two-phase global cumsum);
    *   4. REPORT — one summary row: corpus size, gate readout, selected
    *      doc/token counts, and the selection's in-domain share (the
    *      "did selection actually skew in-domain" audit).
    * Returns (scored, auc, selected, summary). Every stage keeps its
    * own catalog oracle (q264/q274/q268); the composition's count flow
    * is oracle-checked as q279.
    */
  def selectionPipelineStages(docs: DataFrame, inDomain: Column,
      budget: Long, gatePpm: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // scored feeds the AUC gate, the selection, and the report —
    // persist per the curateStages discipline (doc-sized frame)
    val scored = importanceWeights(docs, inDomain)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labeled = scored.select(col("doc_id"), col("n_tok"), col("score_micro"))
      .join(docs.select(col("doc_id"), inDomain.cast("int").as("pos")),
        "doc_id")
    val auc = scoreAuc(labeled)
    // the gate readout is the ONE AUC evaluation (ADVICE r13: the
    // summary used to crossJoin the auc frame, recomputing the full
    // Mann–Whitney aggregation over the doc-sized labeled frame) — the
    // summary reuses this row's scalars as literals
    val aucPpm = auc.head().getLong(3) // the gate: one scalar, one row
    val selected =
      if (aucPpm >= gatePpm) selectByScoreBudget(scored, budget)
      else scored.select(col("doc_id"), col("n_tok"), col("score_micro"),
        lit(0L).as("cum_tok")).limit(0)
    val selReport = selected
      .join(docs.select(col("doc_id"), inDomain.cast("long").as("pos")),
        "doc_id")
      .agg(count(lit(1)).as("n_selected"),
        coalesce(sum(col("n_tok")), lit(0L)).as("tok_selected"),
        sum(col("pos")).as("n_sel_in"))
    val summary = docs.agg(count(lit(1)).as("n_in"))
      .select(col("n_in"), lit(aucPpm).as("auc_ppm"),
        lit(if (aucPpm >= gatePpm) 1 else 0).as("gate_passed"))
      .crossJoin(selReport)
      .select(col("n_in"), col("auc_ppm"), col("gate_passed"),
        col("n_selected"), col("tok_selected"),
        when(col("n_selected") > 0,
          expr("(n_sel_in * 1000000L) div n_selected"))
          .as("in_domain_sel_ppm"))
    (scored, auc, selected, summary)
  }

  /** q279: the composed score→gate→select→report pipeline over the
    * catalog corpus (in-domain = lang 'en', 5,000-token budget, AUC
    * gate 0.55) — the summary row hash-checked against DuckDB running
    * all four stages inline with the same CASE-gated selection.
    */
  val q279: QueryDef = QueryDef.checked(
    "q279_selection_pipeline",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS bkt,
      |    lang = 'en' AS in_dom FROM tok),
      |counts AS (
      |  SELECT bkt, count(*) AS cg,
      |    SUM(CASE WHEN in_dom THEN 1 ELSE 0 END) AS ci
      |  FROM b GROUP BY bkt),
      |tot AS (SELECT SUM(cg) AS n_gen, SUM(ci) AS n_in FROM counts),
      |lr AS (
      |  SELECT bkt,
      |    CAST(ROUND(1000000.0 * LN(
      |      ((ci + 1.0) * (t.n_gen + 256)) /
      |      ((cg + 1.0) * (t.n_in + 256)))) AS BIGINT) AS lr_micro
      |  FROM counts CROSS JOIN tot t),
      |scored AS (
      |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |    CAST(SUM(lr.lr_micro) AS BIGINT) AS score_micro
      |  FROM b JOIN lr USING (bkt) GROUP BY b.doc_id),
      |lab AS (
      |  SELECT s.doc_id, s.n_tok, s.score_micro,
      |    CAST(d.lang = 'en' AS INT) AS pos
      |  FROM scored s JOIN documents d USING (doc_id)),
      |rk AS (
      |  SELECT doc_id, score_micro, pos,
      |    row_number() OVER (ORDER BY score_micro, doc_id) AS rnk FROM lab),
      |auc AS (
      |  SELECT CAST((SUM(CASE WHEN pos = 1 THEN rnk ELSE 0 END)
      |    - SUM(pos) * (SUM(pos) + 1) // 2) * 1000000
      |    // (SUM(pos) * (COUNT(*) - SUM(pos))) AS BIGINT) AS auc_ppm
      |  FROM rk),
      |cum AS (
      |  SELECT doc_id, n_tok, pos,
      |    CAST(SUM(n_tok) OVER (ORDER BY score_micro DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM lab),
      |sel AS (SELECT * FROM cum, auc
      |  WHERE auc.auc_ppm >= 550000 AND cum_tok <= 5000)
      |SELECT
      |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_in,
      |  (SELECT auc_ppm FROM auc) AS auc_ppm,
      |  CAST((SELECT auc_ppm FROM auc) >= 550000 AS INT) AS gate_passed,
      |  CAST((SELECT count(*) FROM sel) AS BIGINT) AS n_selected,
      |  CAST(COALESCE((SELECT sum(n_tok) FROM sel), 0) AS BIGINT) AS tok_selected,
      |  CAST((SELECT sum(pos) FROM sel) * 1000000
      |    // (SELECT count(*) FROM sel) AS BIGINT) AS in_domain_sel_ppm""".stripMargin) { (s, d) =>
    selectionPipelineStages(Tables.documents(s, d),
      inDomain = col("lang") === "en",
      budget = 5000L, gatePpm = 550000L)._4
  }

  /** Blocklist phrase hits at LARGE list sizes (the q271 escalation,
    * VERDICT r12 item 5): per-document count of blocklist phrases
    * present, with TOKEN-anchored semantics — a phrase of n tokens hits
    * iff it appears as n consecutive whole tokens (what a mined-phrase
    * or banned-n-gram list means; q271's substring form is the
    * raw-bytes alternative). Shape: each document's distinct n-grams
    * are built ROW-LOCALLY (one `transform` over the token array — no
    * token explode, no per-doc window, so the corpus is never shuffled
    * to make grams), then exploded and equi-joined against the
    * BROADCAST phrase list — a hash probe per gram into a table built
    * once per task, the equi-join realization of an Aho–Corasick pass.
    * Only MATCHED (doc, phrase) rows survive into the per-doc count, so
    * the one aggregation shuffles hits, not grams. Per-document cost is
    * O(tokens), INDEPENDENT of list size k, vs q271's k contains-scans
    * of the text (O(k·|text|)): measured on the catalog corpus at
    * sf0.1 (tools/Q277Crossover, min-of-3, matching cost only), the
    * contains form ran 0.31 s at k=5, 0.46 s at k=100, 2.10 s at
    * k=1000 (linear in k once k dominates); this form measured a flat
    * 0.67–1.08 s across k=5..1000 — crossover ≈ k≈150 on these short
    * documents, earlier the longer the text. At 100 TB the same plan holds
    * until the phrase list itself outgrows a broadcast (~10⁷ phrases),
    * where `broadcastList = false` shifts the gram–phrase join to a
    * SHUFFLE join keyed on xxhash64(gram) — the q278/q283 trade: both
    * sides exchange an 8-byte bigint instead of the gram string, no
    * per-task phrase table is built, and a 64-bit collision can only
    * ADD a spurious hit, so running the exact-form oracle against the
    * hashed plan (q286) re-certifies collision-freeness every round.
    */
  def blocklistHitsLarge(docs: DataFrame, phrases: DataFrame,
      n: Int = 3, broadcastList: Boolean = true): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $n
           |  THEN array_distinct(transform(sequence(1, size(toks) - ${n - 1}),
           |    i -> concat_ws(' ', slice(toks, i, $n))))
           |  ELSE array() END""".stripMargin)).as("g"))
    val matched =
      if (broadcastList)
        grams.join(broadcast(phrases.select(col("g"))), Seq("g"))
      else
        // beyond the broadcast ceiling: hash both sides to 8 bytes and
        // shuffle on the bigint key (hint pins the shuffle at test
        // scale, where size stats would elect a broadcast)
        grams.select(col("doc_id"), xxhash64(col("g")).as("gk"))
          .join(phrases.select(xxhash64(col("g")).as("gk")).hint("shuffle_hash"),
            Seq("gk"))
    val hits = matched
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** q277: token-anchored blocklist hits against a 1000-phrase list
    * (self-mined: the 1000 most document-frequent trigrams — the
    * deterministic stand-in for a curated list at the scale where
    * q271's per-phrase contains tests stop being viable). Hash-checked
    * against DuckDB running the same mining and token-trigram
    * equi-join.
    */
  /** The self-mined 1000-phrase blocklist q277 and q286 share (the
    * 1000 most document-frequent trigrams): orderBy().limit() =
    * TakeOrderedAndProject, the q271 distributed-top-k discipline.
    * ONE definition — q286's oracle assumes it mines the IDENTICAL
    * list as q277, so the mining must never diverge between them.
    */
  private def minedBlocklist(docs: DataFrame): DataFrame =
    Dedup.shingles(docs)
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g"))
      .limit(1000)
      .select(col("g"))

  val q277: QueryDef = QueryDef.checked(
    "q277_blocklist_large",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |tri AS (
      |  SELECT DISTINCT doc_id, t || ' ' || lead(t) OVER w || ' ' || lead(t, 2) OVER w AS g
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(t, 2) OVER w IS NOT NULL),
      |block AS (
      |  SELECT g FROM (
      |    SELECT g, row_number() OVER (ORDER BY COUNT(*) DESC, g) AS rn
      |    FROM tri GROUP BY g) WHERE rn <= 1000),
      |hits AS (
      |  SELECT t.doc_id, COUNT(*) AS n_hits FROM tri t JOIN block b USING (g)
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(h.n_hits, 0) > 0 AS INT) AS flagged
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    blocklistHitsLarge(docs, minedBlocklist(docs))
  }

  /** q286: q277's beyond-broadcast path — the same mining and the same
    * token-anchored semantics, but the gram–phrase join SHUFFLES on
    * xxhash64(gram) (the shape for ≥10⁷-phrase lists, where no per-task
    * phrase table fits). The oracle is q277's EXACT string-form SQL, so
    * the driver gate re-certifies 64-bit collision-freeness every round
    * (a collision can only add a spurious hit) — the q278/q283
    * precedent; the plan pin holds the exchange to the bigint key.
    */
  val q286: QueryDef = QueryDef.checked(
    "q286_blocklist_shuffle",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |tri AS (
      |  SELECT DISTINCT doc_id, t || ' ' || lead(t) OVER w || ' ' || lead(t, 2) OVER w AS g
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(t, 2) OVER w IS NOT NULL),
      |block AS (
      |  SELECT g FROM (
      |    SELECT g, row_number() OVER (ORDER BY COUNT(*) DESC, g) AS rn
      |    FROM tri GROUP BY g) WHERE rn <= 1000),
      |hits AS (
      |  SELECT t.doc_id, COUNT(*) AS n_hits FROM tri t JOIN block b USING (g)
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(h.n_hits, 0) > 0 AS INT) AS flagged
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    blocklistHitsLarge(docs, minedBlocklist(docs), broadcastList = false)
  }
}
