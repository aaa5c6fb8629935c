package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{CosineSimilarity, VectorFunctions => VF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search: brute-force cosine top-k as the exact baseline,
  * LSH-bucketed ANN as the scale path, and cosine-threshold near-dup
  * pairs. The generic functions take any (vec_id LONG, v ARRAY<DOUBLE>)
  * frame(s); the catalog queries (q31–q33) wrap them over the
  * `embeddings` table (ARRAY<FLOAT>, 64-dim, via VF.asDouble).
  *
  * All vector math is double-precision sequential-fold (VectorFunctions),
  * bit-compatible with the DuckDB oracle's list_dot_product over DOUBLE[].
  */
object Similarity {

  def defs: Seq[QueryDef] =
    Seq(q31, q32, q33, q69, q71, q81, q98, q99, q116, q160, q161, q220,
      q258, q259, q266)

  /** Symmetric per-vector int8 quantization — the 4× storage cut that
    * makes a 100 TB float32 embedding corpus a 25 TB one: each vector
    * stores one float scale (127 / max|x|) plus int8 codes; dot
    * products on codes are rescaled by the two scales. Row-local and
    * codegen'd — no shuffle at all. Deterministic: one max (order-
    * independent), one division, one multiply+round per element, so
    * the DuckDB compare is exact including the full code arrays.
    */
  def quantizeInt8(vectors: DataFrame): DataFrame = {
    val m = aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x)))
    vectors
      .withColumn("m", m)
      .withColumn("scale",
        when(col("m") > 0, lit(127.0) / col("m")).otherwise(lit(0.0)))
      .select(col("vec_id"), col("scale"),
        transform(col("v"), x => round(x * col("scale")).cast("int")).as("qv"))
  }

  /** q98: int8-quantize the embeddings table; hash-checked (scale +
    * every code) against the identical arithmetic in DuckDB. Codes go
    * out CSV-stringified — the compare harness row-sorts on every
    * column and cannot order raw arrays; the library function keeps
    * the typed array.
    */
  val q98: QueryDef = QueryDef.checked(
    "q98_int8_quantize",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) AS m FROM v)
      |SELECT vec_id,
      |  CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale,
      |  array_to_string(list_transform(v, x ->
      |    CAST(ROUND(x * (CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END))
      |      AS INTEGER)), ',') AS qv_csv
      |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
    quantizeInt8(vecs(s, d))
      .select(col("vec_id"), col("scale"),
        concat_ws(",", transform(col("qv"), _.cast("string"))).as("qv_csv"))
      .orderBy(col("vec_id"))
  }

  /** Johnson–Lindenstrauss random projection: k random ±1 directions
    * (Achlioptas 2003's database-friendly sparse JL — sign matrices
    * satisfy the JL lemma with the same distortion bound as Gaussians,
    * ~ sqrt(ln n / k)) compress d-dim vectors to k dims with pairwise
    * geometry approximately preserved — the cheap first-stage filter
    * before exact scoring, and the standard pre-pass that makes
    * brute-force candidate scans d/k× cheaper. The sign matrix is
    * derived from md5("jl:seed:row:col") top bits — driver-computed
    * literals broadcast into codegen, no shuffle, row-local, and (the
    * reason for md5 over a seeded PRNG) reproducible in ANY engine, so
    * q99 is fully oracle-checked in DuckDB down to the last bit
    * (components quantized on the 1e-6 floor grid for the compare).
    * SemDedupSpec additionally pins pairwise-cosine rank preservation.
    */
  def randomProject(vectors: DataFrame, dim: Int = 64, k: Int = 16,
      seed: Long = 42L): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val h = md.digest(s"jl:$seed:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    }
    val g = Array.tabulate(k)(j => Array.tabulate(dim)(i => sign(j, i)))
    val invSqrtK = 1.0 / math.sqrt(k.toDouble)
    val comps = g.map(row => VF.dot(col("v"), typedLit(row.toSeq)) * lit(invSqrtK))
    vectors.select(col("vec_id"), array(comps.toIndexedSeq: _*).as("pv"))
  }

  /** q99: 64→16 JL projection of the embeddings table, hash-checked
    * against the identical md5-sign arithmetic in DuckDB. Components go
    * out as a CSV of 1e-6-floor-grid BIGINTs — integers because the
    * compare harness row-sorts every column (raw float arrays crash its
    * pandas sort, VERDICT r4 item #3) and because floor() is the one
    * rounding both engines implement identically (NOTES_r4 q54 lesson);
    * the library function keeps the typed double array.
    */
  val q99: QueryDef = QueryDef.checked(
    "q99_random_projection",
    """WITH signs AS (
      |  SELECT j, list(CASE WHEN substr(md5('jl:42:' || j || ':' || i), 1, 1) <= '7'
      |                 THEN 1.0 ELSE -1.0 END ORDER BY i) AS s
      |  FROM range(16) tj(j) CROSS JOIN range(64) ti(i)
      |  GROUP BY j),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |comp AS (
      |  SELECT v.vec_id, signs.j,
      |    list_dot_product(v.v, signs.s) * 0.25 AS c
      |  FROM v CROSS JOIN signs)
      |SELECT vec_id,
      |  string_agg(CAST(CAST(FLOOR(c * 1000000.0) AS BIGINT) AS VARCHAR),
      |             ',' ORDER BY j) AS pv_csv
      |FROM comp GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
    randomProject(vecs(s, d))
      .select(col("vec_id"),
        concat_ws(",", transform(col("pv"),
          x => floor(x * 1000000.0).cast("string"))).as("pv_csv"))
      .orderBy(col("vec_id"))
  }

  /** Reciprocal-rank fusion of retriever rank lists — the standard
    * ensemble step of hybrid retrieval (BM25 + dense, exact + compressed):
    * each list contributes 1/(K + rank) to its candidates and the fused
    * order is by total contribution. On the integer grid:
    * contribution = 1000000 div (K + rank) ppm, so fused scores are
    * exact longs and the oracle needs no float negotiation. Input
    * frames are (vec_id, rank) with UNIQUE dense ranks (row_number with
    * an id tie-break); candidates missing from a list contribute 0.
    *
    * Shape: union + one keyed agg; the rank lists themselves are
    * top-k-bounded (TakeOrdered), so every frame here is k-sized.
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], kConst: Long = 60L,
      topK: Int = 20): DataFrame = {
    val tagged = rankings.map { case (tag, r) =>
      r.select(col("vec_id"), col("rank").as(s"r_$tag"))
    }
    val joined = tagged.reduce(_.join(_, Seq("vec_id"), "full_outer"))
    val contribs = rankings.map { case (tag, _) =>
      coalesce(expr(s"CAST(1000000 div (${kConst}L + r_$tag) AS LONG)"), lit(0L))
    }
    val nLists = rankings.map { case (tag, _) =>
      when(col(s"r_$tag").isNotNull, 1L).otherwise(0L)
    }
    joined
      .withColumn("rrf_ppm", contribs.reduce(_ + _))
      .withColumn("n_lists", nLists.reduce(_ + _))
      .orderBy(col("rrf_ppm").desc, col("vec_id"))
      .limit(topK)
  }

  /** q161: hybrid-retrieval fusion under the oracle — the query vector
    * (vec_id 0) retrieves from the corpus (vec_id > 0) through TWO
    * rankers: exact cosine on the ppm grid, and dot product in the
    * 16-dim JL-projected space (q99's projection — the cheap first-pass
    * retriever fused with the exact one, the classic rerank-ensemble
    * shape). Top-100 per list via TakeOrdered with (score, vec_id)
    * total order; ranks are row_numbers over the bounded 100-row frame
    * (k-bounded global window, the MMR convention). DuckDB replays both
    * rankers bit-for-bit (cosine fold and JL comps are bit-compatible,
    * then snapped to the ppm grid before ranking) and the identical
    * integer RRF arithmetic.
    */
  val q161: QueryDef = QueryDef.checked(
    "q161_rrf_fusion",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |qv AS (SELECT v FROM v WHERE vec_id = 0),
      |cosr AS (
      |  SELECT c.vec_id,
      |    ROW_NUMBER() OVER (ORDER BY ROUND(list_dot_product(c.v, q.v)
      |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v)))
      |      * 1000000.0) DESC, c.vec_id) AS rank
      |  FROM v c, qv q WHERE c.vec_id > 0
      |  QUALIFY rank <= 100),
      |signs AS (
      |  SELECT j, list(CASE WHEN substr(md5('jl:42:' || j || ':' || i), 1, 1) <= '7'
      |                 THEN 1.0 ELSE -1.0 END ORDER BY i) AS s
      |  FROM range(16) tj(j) CROSS JOIN range(64) ti(i)
      |  GROUP BY j),
      |proj AS (
      |  SELECT v.vec_id,
      |    list(list_dot_product(v.v, signs.s) * 0.25 ORDER BY signs.j) AS pv
      |  FROM v CROSS JOIN signs GROUP BY v.vec_id),
      |jlr AS (
      |  SELECT c.vec_id,
      |    ROW_NUMBER() OVER (ORDER BY CAST(FLOOR(list_dot_product(c.pv, q.pv)
      |      * 1000000.0) AS BIGINT) DESC, c.vec_id) AS rank
      |  FROM proj c, (SELECT pv FROM proj WHERE vec_id = 0) q
      |  WHERE c.vec_id > 0
      |  QUALIFY rank <= 100),
      |fused AS (
      |  SELECT COALESCE(a.vec_id, b.vec_id) AS vec_id,
      |    COALESCE(1000000 // (60 + a.rank), 0)
      |      + COALESCE(1000000 // (60 + b.rank), 0) AS rrf_ppm,
      |    (CASE WHEN a.rank IS NOT NULL THEN 1 ELSE 0 END
      |      + CASE WHEN b.rank IS NOT NULL THEN 1 ELSE 0 END) AS n_lists,
      |    a.rank AS r_cos, b.rank AS r_jl
      |  FROM cosr a FULL OUTER JOIN jlr b USING (vec_id))
      |SELECT vec_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
      |  CAST(n_lists AS BIGINT) AS n_lists, r_cos, r_jl
      |FROM fused ORDER BY rrf_ppm DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val all = vecs(s, d)
    val corpus = all.filter(col("vec_id") > 0)
    val qv = broadcast(all.filter(col("vec_id") === 0).select(col("v").as("qv")))
    def rankTop(scored: DataFrame): DataFrame = {
      val top = scored.orderBy(col("s").desc, col("vec_id")).limit(100)
      top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id"), col("rank"))
    }
    val cosR = rankTop(corpus.crossJoin(qv)
      .select(col("vec_id"),
        round(CosineSimilarity.cosineSim(col("v"), col("qv")) * 1000000.0)
          .cast("long").as("s")))
    val proj = randomProject(all).select(col("vec_id"), col("pv"))
    val pq = broadcast(proj.filter(col("vec_id") === 0)
      .select(col("pv").as("pq")))
    val jlR = rankTop(proj.filter(col("vec_id") > 0).crossJoin(pq)
      .select(col("vec_id"),
        floor(VF.dot(col("pv"), col("pq")) * 1000000.0).cast("long").as("s")))
    rrfFuse(Seq("cos" -> cosR, "jl" -> jlR))
      .select(col("vec_id"), col("rrf_ppm"), col("n_lists"),
        col("r_cos"), col("r_jl"))
  }

  /** Cosine near-duplicate pairs of one vector frame. Exact O(n²) form —
    * correct baseline and the verifier for the bucketed variant. At
    * 100 TB you never run this shape; it exists as the ground truth at
    * test scale (the same role Dedup.exactNearDups plays for MinHash).
    */
  def cosineNearDups(vectors: DataFrame, threshold: Double = 0.4): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = vectors.select(col("vec_id").as("id_b"), col("v").as("vb"))
    // fused codegen expression: one loop for dot+norms, no per-pair array
    // allocation (the builtin zip_with/aggregate composition measured 57s
    // at sf0.1 on this O(n²) join); bit-identical to the builtin fold
    // (CosineExprSpec), so the oracle compare is unaffected
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cs", CosineSimilarity.cosineSim(col("va"), col("vb")))
      .filter(col("cs") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cs"), 6).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force cosine top-k of `queries` against `corpus`: the query
    * side broadcasts, the corpus side streams, rank is a per-group
    * window — the honest exact-kNN shape (scan-and-rank) that any ANN
    * variant must match.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      topK: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("v").as("vq"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("v").as("vc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("cs", CosineSimilarity.cosineSim(col("vq"), col("vc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cs"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Sign-LSH ANN (the scale path), engine-portable and
    * ORACLE-CHECKABLE: hyperplane weights are ±1 drawn from one md5 hex
    * digit of "table:plane:dim" (a pure, seedless function any engine
    * reproduces), vector components snap to the 1e-6 integer grid
    * (q160's proven idiom), so signature bits are signs of EXACT
    * integer dot products, banding is exact bit arithmetic, and the
    * re-rank is exact integer squared-L2 — on the unit-norm embeddings
    * corpus L2 ordering IS cosine ordering (|a-b|^2 = 2 - 2cos).
    * Candidates come from an equi-join on (table, band, chunk) — never
    * a cross join; at 100 TB that is the difference between infeasible
    * and a shuffle — and the exact re-rank touches candidates only; the
    * plane table (tables x bits x dim rows) is broadcast.
    */
  def lshTopKGridL2(corpus: DataFrame, queries: DataFrame, dim: Int = 64,
      topK: Int = 10, nTables: Int = 2, nBits: Int = 32): DataFrame = {
    // Plane weights computed driver-side from the SAME md5 strings the
    // oracle derives them from ("tbl:plane:dim", first hex digit >= 8
    // → +1) — engine-portable by construction, inlined as literal
    // arrays so signatures are ROW-LOCAL folds: no 4096× explode, no
    // shuffle until the candidate equi-join. nTables × nBits × dim
    // longs of literal state — KBs, a codegen constant.
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(t: Int, p: Int, i: Int): Long = {
      val h = md.digest(s"$t:$p:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) >= 8) 1L else -1L
    }
    val planeLits = (0 until nTables).map { t =>
      typedLit((0 until nBits).map(p =>
        (1 to dim).map(i => weight(t, p, i))))
    }
    val gx = expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))")
    def bitsCol(t: Int): org.apache.spark.sql.Column =
      transform(planeLits(t), pw =>
        when(aggregate(zip_with(col("gx"), pw, (x, w) => x * w),
          lit(0L), (acc, z) => acc + z) > 0, lit(1L)).otherwise(lit(0L)))
    def chunks(df: DataFrame): DataFrame = {
      val withBits = (0 until nTables).foldLeft(df.withColumn("gx", gx)) {
        case (acc, t) => acc.withColumn(s"bits$t", bitsCol(t))
      }
      val chunkCols = for (t <- 0 until nTables; j <- 0 until nBits / 4)
        yield struct(lit(t.toLong).as("tbl"), lit(j.toLong).as("band"),
          (0 until 4).map(b =>
            element_at(col(s"bits$t"), 4 * j + b + 1) * lit(1L << b))
            .reduce(_ + _).as("chunk"))
      withBits.select(col("vec_id"), col("gx"),
          explode(array(chunkCols: _*)).as("bc"))
        .select(col("vec_id"), col("gx"),
          col("bc.tbl"), col("bc.band"), col("bc.chunk"))
    }
    val qs = chunks(queries).select(col("vec_id").as("query_id"),
      col("gx").as("gq"), col("tbl"), col("band"), col("chunk"))
    val cs = chunks(corpus).select(col("vec_id").as("neighbor_id"),
      col("gx").as("gn"), col("tbl"), col("band"), col("chunk"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id"))
    broadcast(qs).join(cs, Seq("tbl", "band", "chunk"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("gq"), col("gn"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("d2", expr(
        """aggregate(zip_with(gq, gn, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("d2"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private def vecs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    // dense-certified load: validates each row's array once and narrows
    // the element type to non-null, so every O(n²) cosine stage below
    // codegens without per-element null tests (VF.asDoubleDense)
    Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))

  /** Integer-grid k-means — the corpus clustering primitive (SemDeDup's
    * cluster stage, IVF's coarse quantizer, topic bucketing) made
    * ORACLE-CHECKABLE: components snap to the 1e-6 grid (q99's proven
    * round idiom), every distance is an exact long
    * (|x−c|² ≤ (2·10⁶)²·64 ≪ 2⁶³), and centroid updates use integer
    * `div` — so a fixed iteration count yields bit-identical
    * assignments in any engine, no float-summation-order negotiation
    * (the pageRank discipline applied to clustering). Deterministic
    * seeding: centroids start at the k lowest vec_ids; ties in the
    * argmin break to the lowest centroid id (min over (dist, cid)
    * structs — lexicographic).
    *
    * Fully relational shape: vectors exploded ONCE to (vec_id, dim,
    * x) and checkpointed; per round one broadcast join against the
    * k×dim centroid frame + two keyed aggs — no all-pairs, no
    * driver-side math, state O(k·dim). At 100 TB: the explode frame is
    * n·dim rows hash-partitioned on vec_id, each round one map-side
    * broadcast join + map-side-combined aggs; k and dim are constants.
    */
  def kmeansAssign(vectors: DataFrame, k: Int = 8,
      iterations: Int = 2): DataFrame = {
    val (_, gv, ce) = kmeansFramesGv(vectors, k, iterations)
    assignArrays(gv, ce)
  }

  /** (vec_id, i, x) grid components of a (vec_id, v) frame — 1-based
    * dims, 1e-6 snap; the shared explode behind training, assignment
    * and index builds.
    */
  private[operators] def gridExplode(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i0", "x0")))
      .select(col("vec_id"), (col("i0") + 1).as("i"),
        expr("CAST(ROUND(x0 * 1000000) AS LONG)").as("x"))

  /** The frames behind [[kmeansAssign]], exposed so codebook consumers
    * (IVF probing, a final assignment, list layouts) reuse ONE training
    * pass: `ve` is (vec_id, i, x) grid components, `gv` the
    * checkpointed vector-ARRAY view (one row per vector, so callers that
    * assign again after training reuse it instead of re-grouping `ve`),
    * `ce` the centroid table (cid, i, c) after `iterations` exact
    * integer update rounds. */
  private[operators] def kmeansFramesGv(vectors: DataFrame, k: Int,
      iterations: Int): (DataFrame, DataFrame, DataFrame) = {
    // r16 (guide §2.4 — remove shuffles outright): the grid snap is
    // element-wise, so the vector-ARRAY view is computed ROW-LOCALLY
    // with transform(v, ...) — identical values to the r15
    // vecArrays(gridExplode(v)) form (posexplode order = array order,
    // i unique) without its explode → groupBy(vec_id) shuffle →
    // array_sort round-trip. The r15 shape cost the single-assign
    // callers (q81/q69/q160) an extra eager exchange+sort job; one
    // narrow checkpoint now serves both views. `ve` derives from the
    // checkpointed gv by posexplode — narrow, no second checkpoint.
    val gv = vectors.select(col("vec_id"),
        expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
      .localCheckpoint(true)
    val ve = gv.select(col("vec_id"), posexplode(col("gx")).as(Seq("i0", "x")))
      .select(col("vec_id"), (col("i0") + 1).as("i"), col("x"))
    var ce = ve.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("i"), col("x").as("c"))
    for (_ <- 1 to iterations) {
      // r16 round 2 (guide §2.4 — remove shuffles outright): the update
      // used to re-join the exploded frame against the assignment
      // (ve ⋈ a — two exchanges: n·dim rows + the n-row assignment) to
      // get each member's components. The vector array now rides
      // THROUGH the assignment aggregate instead (gx is constant per
      // vec_id, so first(gx) is deterministic; the partial aggregate
      // collapses the n·k broadcast-join rows to n before the
      // exchange — the same n·dim bytes the old join's ve side
      // shipped), and the update re-explodes it ROW-LOCALLY. Two
      // exchanges fewer per training round at any scale; identical
      // integer assignment structs and identical per-(cluster, i) sum
      // multisets → bit-identical centroids (oracle unchanged).
      val am = assignCarry(gv, ce)
      val cePlan = am.select(col("cluster"), posexplode(col("gx")).as(Seq("i0", "x")))
        .groupBy(col("cluster").as("cid"), (col("i0") + 1).as("i"))
        .agg(expr("CAST(sum(x) div count(1) AS LONG)").as("c"))
      ce = cePlan.localCheckpoint(true)
    }
    (ve, gv, ce)
  }

  /** (vec_id, gx: array<long>) view of an exploded grid frame — dims
    * re-assembled in i-order (i is unique per vec, so the (i, x)
    * struct sort IS the dim order). */
  private[operators] def vecArrays(ve: DataFrame): DataFrame =
    ve.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("x")))),
        p => p.getField("x")).as("gx"))

  /** Nearest-centroid assignment, array-native (r15, guide §2.3/§4):
    * the former exploded form broadcast-joined every (vec_id, i, x)
    * row against all k centroids — n·dim·k intermediate rows through a
    * two-level hash aggregate (≈20M rows at sf0.1) — to compute sums a
    * row-local loop expresses directly. Now: k broadcast centroid
    * ARRAYS × n vector arrays, d = aggregate(zip_with(gx, cv,
    * (x−c)²)) in whole-stage codegen, then one n·k-row argmin agg
    * (≈60× fewer aggregated rows). The SAME exact integer sums in
    * dim order — integer addition is order-free, so distances,
    * (d, cid) tie-breaks and every downstream hash are bit-identical
    * (the oracle replays the exploded formulation and still matches).
    */
  private[operators] def assignArrays(gv: DataFrame,
      cents: DataFrame): DataFrame = {
    val carr = cents.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("cv"))
    gv.crossJoin(broadcast(carr))
      .select(col("vec_id"), col("cid"), expr(
        """aggregate(zip_with(gx, cv, (x, c) -> (x - c) * (x - c)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"))
  }

  /** [[assignArrays]] that also CARRIES the vector array through the
    * argmin aggregate — (vec_id, cluster, gx) — so an update step can
    * re-explode members row-locally instead of re-joining the exploded
    * frame against the assignment (gx is constant per vec_id, so
    * first(gx) is deterministic; same integer (d, cid) argmin structs
    * as [[assignArrays]]).
    */
  private[operators] def assignCarry(gv: DataFrame,
      cents: DataFrame): DataFrame = {
    val carr = cents.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("cv"))
    gv.crossJoin(broadcast(carr))
      .select(col("vec_id"), col("gx"), col("cid"), expr(
        """aggregate(zip_with(gx, cv, (x, c) -> (x - c) * (x - c)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cid"))).as("m"), first(col("gx")).as("gx"))
      .select(col("vec_id"), col("m.cid").as("cluster"), col("gx"))
  }

  /** Nearest-centroid assignment over exploded grid frames — the
    * public form consumed by codebook users; delegates to the
    * array-native assign (identical integer arithmetic, see
    * [[assignArrays]]).
    */
  private[operators] def gridAssign(ve: DataFrame,
      cents: DataFrame): DataFrame =
    assignArrays(vecArrays(ve), cents)

  /** DuckDB replay of [[kmeansAssign]] as a reusable CTE block: `ve`
    * (grid-snapped components), `c0` seeds (vec_id < k), `iters`
    * unrolled assign/update rounds, and the final assignment CTE
    * `a{iters+1}` (vec_id, cluster) — every distance, tie-break and
    * floor-divided centroid component agrees exactly with the Spark
    * loop. Shared by q160 (the bare clustering), q81 (SemDeDup) and
    * q47 (IVF coarse quantizer).
    */
  private[operators] def gridKmeansSql(k: Int, iters: Int = 2,
      trainWhere: String = ""): String = {
    def distCte(n: Int, cents: String, src: String) =
      s"""d$n AS MATERIALIZED (
         |  SELECT v.vec_id, c.cid, SUM((v.x - c.c) * (v.x - c.c)) AS d
         |  FROM $src v JOIN $cents c USING (i) GROUP BY 1, 2),
         |a$n AS MATERIALIZED (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d$n) WHERE rn = 1)""".stripMargin
    def updateCte(n: Int) =
      s"""c$n AS MATERIALIZED (
         |  SELECT a.cluster AS cid, v.i, CAST(SUM(v.x) // COUNT(*) AS BIGINT) AS c
         |  FROM vt v JOIN a$n a USING (vec_id) GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to iters).map(n =>
      s"${distCte(n, s"c${n - 1}", "vt")},\n${updateCte(n)}").mkString(",\n")
    // vt = the training subset (q175 trains on the pre-cut corpus);
    // rounds fit the codebook on vt only, the final assignment CTE
    // (a{iters+1}) covers EVERY vector — identical to the Spark split
    // between kmeansFramesGv(train) and gridAssign(full, ce)
    s"""ve AS MATERIALIZED (
       |  SELECT vec_id, i, CAST(ROUND(v[i] * 1000000) AS BIGINT) AS x
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |    unnest(generate_series(1, len(v))) AS u(i)),
       |vt AS MATERIALIZED (SELECT * FROM ve $trainWhere),
       |c0 AS (SELECT vec_id AS cid, i, x AS c FROM vt WHERE vec_id < $k),
       |$rounds,
       |${distCte(iters + 1, s"c$iters", "ve")}""".stripMargin
  }

  /** q160: two integer-grid k-means rounds over the embeddings table
    * (k = 8, seeds = vec_ids 0–7), final assignment hash-checked
    * against DuckDB unrolling the identical assign/update arithmetic —
    * every distance, tie-break, and floor-divided centroid component
    * must agree exactly.
    */
  val q160: QueryDef = QueryDef.checked(
    "q160_kmeans_intgrid",
    s"""WITH ${gridKmeansSql(8)}
       |SELECT vec_id, cluster FROM a3 ORDER BY vec_id""".stripMargin) { (s, d) =>
    kmeansAssign(vecs(s, d), k = 8, iterations = 2).orderBy(col("vec_id"))
  }

  val q31: QueryDef = QueryDef.checked(
    "q31_embedding_neardup",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      | ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_sim
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    cosineNearDups(vecs(s, d))
  }

  val q32: QueryDef = QueryDef.checked(
    "q32_ann_bruteforce_topk",
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      |      / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cs
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
      |SELECT query_id, neighbor_id, rnk, ROUND(cs, 6) AS cos_sim FROM (
      |  SELECT query_id, neighbor_id, cs,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
      |  FROM sims) t
      |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = vecs(s, d)
    bruteForceTopK(e, e.filter(col("vec_id") < 5))
  }

  val q33: QueryDef = QueryDef.checked(
    "q33_ann_lsh_topk",
    """WITH ve AS MATERIALIZED (
      |  SELECT vec_id, i, CAST(ROUND(v[i] * 1000000) AS BIGINT) AS x
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |    unnest(generate_series(1, len(v))) AS u(i)),
      |planes AS MATERIALIZED (
      |  SELECT t.tbl, p.p, i.i,
      |    CASE WHEN CAST(('0x' || substr(md5(
      |        CAST(t.tbl AS VARCHAR) || ':' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)
      |      ), 1, 1)) AS BIGINT) >= 8 THEN 1::BIGINT ELSE (-1)::BIGINT END AS w
      |  FROM (SELECT unnest(generate_series(0, 1)) AS tbl) t,
      |       (SELECT unnest(generate_series(0, 31)) AS p) p,
      |       (SELECT unnest(generate_series(1, 64)) AS i) i),
      |sigbits AS MATERIALIZED (
      |  SELECT v.vec_id, pl.tbl, pl.p,
      |    CASE WHEN SUM(pl.w * v.x) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM ve v JOIN planes pl ON pl.i = v.i
      |  GROUP BY 1, 2, 3),
      |sigs AS MATERIALIZED (
      |  SELECT vec_id, tbl, SUM(bit << CAST(p AS INT)) AS sig
      |  FROM sigbits GROUP BY 1, 2),
      |chunks AS MATERIALIZED (
      |  SELECT vec_id, tbl, j.j AS band, (sig >> (4 * j.j)) & 15 AS chunk
      |  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS j) j),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM chunks q JOIN chunks c
      |    ON q.tbl = c.tbl AND q.band = c.band AND q.chunk = c.chunk
      |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |d2 AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
      |  FROM cand
      |  JOIN ve a ON a.vec_id = cand.query_id
      |  JOIN ve b ON b.vec_id = cand.neighbor_id AND b.i = a.i
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, rnk, d2 FROM (
      |  SELECT query_id, neighbor_id, d2,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
      |  FROM d2) t
      |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = vecs(s, d)
    lshTopKGridL2(e, e.filter(col("vec_id") < 5))
  }

  /** Per-group embedding outliers over (label, vec_id, v): vectors snap
    * to the 1/1000 grid, the per-label centroid is the exact integer mean
    * (sum div n — a float avg() is partition-order sensitive at the last
    * ulp, so a cosine-to-mean score could not cross engines), and every
    * vector's outlier score is its exact-integer squared L2 distance to
    * its own group centroid; the top-`k` per label are flagged. This is
    * the embedding-space quality filter (mislabeled / off-topic /
    * garbage vectors sit far from their group's centroid). The centroid
    * aggregate is the only all-rows pass (map-side combined), and its
    * frame is (groups × dims) rows at any corpus scale. Returns
    * (label, vec_id, rnk, d2).
    */
  def groupOutliers(vectors: DataFrame, k: Int = 5): DataFrame = {
    val grid = vectors.select(col("label"), col("vec_id"),
      expr("transform(v, x -> " +
        "CAST(round(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
    // persisted: ex feeds BOTH the centroid aggregate and the distance
    // join (the simhash fps discipline); harness clears between queries
    val ex = grid.select(col("label"), col("vec_id"), posexplode(col("v")))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cen = ex.groupBy(col("label"), col("dim"))
      .agg(expr("sum(x) div count(1)").as("c"))
    val d2 = ex.join(cen, Seq("label", "dim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("d2").desc, col("vec_id"))
    d2.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("label"), col("vec_id"), col("rnk"), col("d2"))
      .orderBy(col("label"), col("rnk"))
  }

  /** q69: top-5 farthest-from-centroid outliers per label through
    * [[groupOutliers]] — ORACLE-CHECKED via its integer-grid discipline
    * (the q116 grid): DuckDB replays it with one unnest + two keyed aggs
    * + a window. ScaleSpec pins planted-outlier recovery.
    */
  val q69: QueryDef = QueryDef.checked(
    "q69_embedding_outliers",
    """WITH w AS (
      |  SELECT vec_id, label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |ex AS (
      |  SELECT label, vec_id, unnest(v) AS x,
      |    generate_subscripts(v, 1) AS dim
      |  FROM w),
      |cen AS (
      |  SELECT label, dim, CAST(SUM(x) AS BIGINT) // COUNT(*) AS c
      |  FROM ex GROUP BY 1, 2),
      |d AS (
      |  SELECT e.label, e.vec_id,
      |    CAST(SUM((e.x - c.c) * (e.x - c.c)) AS BIGINT) AS d2
      |  FROM ex e JOIN cen c ON e.label = c.label AND e.dim = c.dim
      |  GROUP BY 1, 2)
      |SELECT label, vec_id, rnk, d2 FROM (
      |  SELECT label, vec_id, d2,
      |    row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id)
      |      AS rnk
      |  FROM d) t
      |WHERE rnk <= 5 ORDER BY label, rnk""".stripMargin) { (s, d) =>
    groupOutliers(Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), col("embedding").as("v")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: k-means
    * the embedding space, then look for near-duplicates ONLY inside each
    * cluster) on the integer grid, ORACLE-CHECKABLE: clusters come from
    * [[kmeansAssign]] (exact integer k-means, the q160 replay), and the
    * within-cluster near-dup test is exact integer squared-L2
    * `d2 <= threshold` on grid-snapped components. The all-pairs O(n²)
    * join becomes an equi-join on the cluster id, bounding candidate
    * pairs to Σ|cluster|² — with cluster count scaled so |cluster| stays
    * bounded, the scale path for embedding dedup the way banded LSH is
    * for MinHash; pair distances fold per-row over zipped grid arrays
    * (no 64x explode in the hot path).
    *
    * On the unit-norm corpus d2/1e12 = 2 - 2cos, so the default
    * threshold 1_199_900_000_000 means cosine >= 0.40005 — deliberately
    * INSIDE the cosine-0.4 boundary by more than the grid-snap error
    * (<= 2*sqrt(64*d2)*1e-6 ~ 2.3e-5 at d2~2, plus ~2e-7 of norm
    * slack), so every grid drop is also a true cosine-0.4 drop
    * (SemDedupSpec's soundness subset). Keep-first semantics: any
    * vector with a same-cluster neighbor within the threshold and a
    * smaller vec_id is dropped — the survivor rule of
    * Dedup.exactNearDups, so the two dedup families compose.
    *
    * Returns (vec_id, cid, keep). The assigned frame is persisted (it
    * feeds both self-join sides and the output); Verify/Bench clear the
    * cache between queries — same contract as minhashNearDups.
    */
  def semanticDedupGridL2(vectors: DataFrame,
      d2Threshold: Long = 1199900000000L, nClusters: Int = 16,
      iterations: Int = 2): DataFrame = {
    val assigned = kmeansAssign(vectors, nClusters, iterations)
      .select(col("vec_id"), col("cluster").as("cid"))
    val gv = vectors.select(col("vec_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
    val withG = assigned.join(gv, Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = withG.select(col("cid"), col("vec_id").as("id_a"),
      col("gx").as("ga"))
    val b = withG.select(col("cid"), col("vec_id").as("id_b"),
      col("gx").as("gb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(expr(
        """aggregate(zip_with(ga, gb, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin)
        <= d2Threshold)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    withG.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup").isNull.as("keep"))
  }

  /** q81: semantic dedup over the embeddings table — 16 grid-k-means
    * clusters, grid-L2 threshold just inside the q31 cosine-0.4
    * boundary, so the drops are a cluster-restricted subset of the
    * q31 exact pair set. ORACLE-CHECKED since r7 (grid clusters + exact
    * integer pair distances replay in DuckDB); SemDedupSpec pins the
    * soundness subset on the corpus and planted-pair recall.
    */
  val q81: QueryDef = QueryDef.checked(
    "q81_semantic_dedup",
    s"""WITH ${gridKmeansSql(16)},
       |asg AS MATERIALIZED (SELECT vec_id, cluster AS cid FROM a3),
       |pd2 AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    SUM((va.x - vb.x) * (va.x - vb.x)) AS d2
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN ve va ON va.vec_id = a.vec_id
       |  JOIN ve vb ON vb.vec_id = b.vec_id AND vb.i = va.i
       |  GROUP BY 1, 2),
       |drops AS (
       |  SELECT DISTINCT id_b AS vec_id FROM pd2
       |  WHERE d2 <= 1199900000000)
       |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
       |FROM asg a LEFT JOIN drops d USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin) { (s, d) =>
    semanticDedupGridL2(vecs(s, d)).orderBy(col("vec_id"))
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the top-k most-similar vectors from a DIFFERENT label — the
    * near-boundary negatives that dominate the gradient signal. Exact
    * scan-and-rank form with the anchor set broadcast (anchors are the
    * small side by construction — a training batch, not the corpus);
    * swap the join for [[lshTopKGridL2]]'s banded candidates when the anchor
    * set itself is corpus-sized. Inputs: (vec_id, label, v) frames.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
      topK: Int = 10): DataFrame = {
    val a = anchors.select(col("vec_id").as("anchor_id"),
      col("label").as("anchor_label"), col("v").as("va"))
    val c = corpus.select(col("vec_id").as("negative_id"),
      col("label").as("neg_label"), col("v").as("vc"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cs").desc, col("negative_id"))
    broadcast(a)
      .join(c, col("anchor_label") =!= col("neg_label"))
      .withColumn("cs", CosineSimilarity.cosineSim(col("va"), col("vc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("anchor_id"), col("negative_id"), col("rnk"),
        round(col("cs"), 6).as("cos_sim"))
      .orderBy(col("anchor_id"), col("rnk"))
  }

  /** q71: top-10 cross-label hard negatives for anchors vec_id < 5. */
  val q71: QueryDef = QueryDef.checked(
    "q71_hard_negatives",
    """WITH sims AS (
      |  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
      |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      |      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cs
      |  FROM embeddings a JOIN embeddings c ON a.vec_id < 5 AND a.label <> c.label)
      |SELECT anchor_id, negative_id, rnk, ROUND(cs, 6) AS cos_sim FROM (
      |  SELECT anchor_id, negative_id, cs,
      |         row_number() OVER (PARTITION BY anchor_id ORDER BY cs DESC, negative_id) AS rnk
      |  FROM sims) t
      |WHERE rnk <= 10 ORDER BY anchor_id, rnk""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      VF.asDouble(col("embedding")).as("v"))
    hardNegatives(e, e.filter(col("vec_id") < 5))
  }

  /** Greedy maximal-marginal-relevance selection (Carbonell & Goldstein
    * 1998) on an integer grid: pick `k` vectors maximizing
    * λ·relevance − (1−λ)·redundancy — relevant AND mutually diverse, the
    * eval-set / few-shot-pool construction that plain top-k (which
    * happily returns k near-duplicates) cannot do. Input vectors are
    * snapped to a 1/1000 grid by the caller; relevance is −d²(q, v),
    * redundancy −min d²(v, selected), λ = 0.7 scaled ×10 so every score
    * is an exact INTEGER (held in doubles: |score| < 2³¹ ≪ 2⁵³).
    * Exactness is what lets a sequential greedy selection cross the
    * DuckDB oracle: with float cosine a last-ulp tie at pick i reorders
    * every later pick; on the grid both engines compare the same
    * integers. Ties break on vec_id.
    *
    * Inherently sequential in k: each pick conditions the next. The
    * loop runs k DRIVER-side top-1 actions (bounded: k is a small
    * constant, each action is one distributed scan returning ONE row);
    * the selected vectors are inlined as literals — broadcast by
    * construction. A corpus smaller than k returns what exists.
    */
  def mmrSelectGridL2(grid: DataFrame, queryVec: Seq[Double],
      k: Int): DataFrame = {
    val sp = grid.sparkSession
    import sp.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val qq = queryVec.map(x => x * x).sum
    // mind2 (min d² to any selected vector) is maintained INCREMENTALLY
    // as a persisted column — each round folds in ONE dot product per
    // row (least(mind2, d² to the newest pick)) instead of recomputing
    // the least over all |selected| picks: O(k) total dots per row, not
    // O(k²), and every round's plan stays one small projection over the
    // cached frame (the recomputed-least form benched 3.0 s at sf0.1 vs
    // 0.7 s for the old cosine MMR; this restores the shape). least()
    // skips NULLs, so the unselected initial state needs no sentinel.
    def d2To(sv: Seq[Double]): org.apache.spark.sql.Column = {
      val svv = sv.map(x => x * x).sum
      col("vv") + lit(svv) - lit(2.0) * VF.dot(col("v"), typedLit(sv))
    }
    var cur = grid
      .withColumn("vv", VF.dot(col("v"), col("v")))
      .withColumn("d2q",
        col("vv") + lit(qq) - lit(2.0) * VF.dot(col("v"), typedLit(queryVec)))
      .withColumn("mind2", lit(null).cast("double"))
      .persist(lvl)
    var selected = Vector.empty[(Long, Double, Int)]
    var exhausted = false
    // r16: the parent frame is released one round LATE — each round's
    // top-1 collect scans (and therefore fully caches) the current
    // frame, so the former per-round count()-to-materialize job is
    // redundant; the parent stays pinned until the child has been
    // materialized by the NEXT round's collect.
    var parent = Option.empty[org.apache.spark.sql.DataFrame]
    for (rank <- 1 to k if !exhausted) {
      val top = cur
        .filter(!col("vec_id").isInCollection(selected.map(_._1)))
        .withColumn("score", lit(-7.0) * col("d2q") +
          lit(3.0) * coalesce(col("mind2"), lit(0.0)))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1)
        .select(col("vec_id"), col("v"), col("score"))
        .collect()
      parent.foreach(_.unpersist()) // cur is materialized by the collect
      parent = None
      if (top.isEmpty) exhausted = true
      else {
        val sv = top.head.getSeq[Double](1)
        selected = selected :+ ((top.head.getLong(0),
          top.head.getDouble(2), rank))
        if (rank < k) {
          val next = cur
            .withColumn("mind2", least(col("mind2"), d2To(sv)))
            .persist(lvl)
          parent = Some(cur)
          cur = next
        }
      }
    }
    parent.foreach(_.unpersist())
    cur.unpersist()
    selected.map(t => (t._1, t._3, t._2.toLong))
      .toDF("vec_id", "rank", "score")
  }

  /** q116: 10 MMR-selected vectors from the embeddings table, query =
    * the corpus centroid — ORACLE-CHECKED via [[mmrSelectGridL2]]'s
    * exact arithmetic: DuckDB replays the whole greedy recursion with a
    * recursive CTE (the q249 pattern) carrying the selected set as list
    * columns, so selection ORDER and scores hash-match, not just
    * membership. The centroid snaps to the grid through integer
    * division (sum div n — truncation agrees across engines, the r6
    * `div` finding). ProfilingSpec pins diversification on planted
    * clusters.
    */
  val q116: QueryDef = QueryDef.checked(
    "q116_mmr_select",
    """WITH RECURSIVE
      |w AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(CAST(round(x * 1000) AS BIGINT) AS DOUBLE)) AS v
      |  FROM embeddings),
      |qgrid AS (
      |  SELECT LIST(q ORDER BY pos) AS qv FROM (
      |    SELECT pos, CAST(CAST(SUM(x) AS BIGINT) // COUNT(*) AS DOUBLE) AS q
      |    FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM w)
      |    GROUP BY pos)),
      |base AS (
      |  SELECT w.vec_id, w.v,
      |    list_dot_product(w.v, w.v) AS vv,
      |    list_dot_product(w.v, w.v)
      |      + (SELECT list_dot_product(qv, qv) FROM qgrid)
      |      - 2 * list_dot_product(w.v, (SELECT qv FROM qgrid)) AS d2q
      |  FROM w),
      |pick AS (
      |  SELECT 1 AS rnk, s.vec_id, s.v, s.vv,
      |    CAST(-7 * s.d2q AS BIGINT) AS score,
      |    [s.vec_id] AS ids, [s.v] AS vs
      |  FROM (SELECT * FROM base ORDER BY -7 * d2q DESC, vec_id LIMIT 1) s
      |  UNION ALL
      |  SELECT * FROM (
      |    SELECT p.rnk + 1, c.vec_id, c.v, c.vv,
      |      CAST(-7 * c.d2q + 3 * list_min(list_transform(p.vs,
      |        sv -> list_dot_product(sv, sv) + c.vv
      |          - 2 * list_dot_product(c.v, sv))) AS BIGINT) AS score,
      |      list_append(p.ids, c.vec_id), list_append(p.vs, c.v)
      |    FROM pick p JOIN base c ON NOT list_contains(p.ids, c.vec_id)
      |    WHERE p.rnk < 10
      |    QUALIFY row_number() OVER (ORDER BY
      |      -7 * c.d2q + 3 * list_min(list_transform(p.vs,
      |        sv -> list_dot_product(sv, sv) + c.vv
      |          - 2 * list_dot_product(c.v, sv)))
      |      DESC, c.vec_id) = 1) t
      |)
      |SELECT vec_id, rnk AS rank, score FROM pick ORDER BY rnk""".stripMargin) {
    (s, d) =>
    val g = Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> " +
        "CAST(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS DOUBLE))")
        .as("v"))
    val centroid = g.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(expr("CAST(sum(x) AS BIGINT)").as("sx"), count(lit(1)).as("n"))
      .select(col("pos"), expr("CAST(sx div n AS DOUBLE)").as("q"))
      .orderBy(col("pos")).collect().map(_.getDouble(1)).toSeq
    mmrSelectGridL2(g, centroid, k = 10).orderBy(col("rank"))
  }

  /** q220: item-item collaborative filtering — the classic "customers
    * who bought X also bought Y" neighbor lists from order baskets:
    * co-occurrence counts within an order, scored by squared cosine
    * over binary basket vectors (c²ᵢⱼ/(nᵢ·nⱼ), held in exact ppm
    * integers — same determinism discipline as q206's lift), top-3
    * partners per item by (score, partner id). The pair generation is
    * the basket self-join — fanout bounded by ORDER SIZE squared (a
    * handful of lines), never by catalog size, the q206/q128
    * wedge discipline; the neighbor cut is a per-item window top-k,
    * no global sort. At 100 TB the only unbounded dimension is
    * #distinct pairs, which the min-count filter (c ≥ 2) prunes
    * before the window shuffle.
    */
  val q220: QueryDef = QueryDef.checked(
    "q220_item_item_cf",
    """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
      |ni AS (SELECT i, COUNT(*) AS n FROM b GROUP BY i),
      |pairs AS (
      |  SELECT a.i AS i, c.i AS j, COUNT(*) AS c
      |  FROM b a JOIN b c ON a.o = c.o AND a.i <> c.i
      |  GROUP BY a.i, c.i),
      |scored AS (
      |  SELECT p.i, p.j, p.c,
      |    (1000000 * p.c * p.c) // (x.n * y.n) AS score_ppm
      |  FROM pairs p JOIN ni x ON p.i = x.i JOIN ni y ON p.j = y.i
      |  WHERE p.c >= 2),
      |rk AS (
      |  SELECT i, j, c, score_ppm, ROW_NUMBER() OVER (
      |    PARTITION BY i ORDER BY score_ppm DESC, j) AS rnk
      |  FROM scored)
      |SELECT i, j, CAST(c AS BIGINT) AS c, score_ppm, CAST(rnk AS BIGINT) AS rnk
      |FROM rk WHERE rnk <= 3 ORDER BY i, rnk""".stripMargin) { (s, d) =>
    // r16 (guide §2.4): one exchange establishes the basket layout —
    // repartition on the order key FIRST, then dedup (a (o, i) group
    // over o-clustered rows adds no exchange) and persist, so BOTH
    // self-join sides and the ni degree agg read the cached frame
    // instead of re-running scan+distinct per consumer, and the o-keyed
    // self-join itself plans exchange-free off the cached partitioning.
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
      .repartition(col("o"))
      .dropDuplicates("o", "i")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ni = b.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val pairs = b.join(b.select(col("o"), col("i").as("j")), Seq("o"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    val scored = pairs
      .join(ni.select(col("i"), col("n").as("n_i")), Seq("i"))
      .join(ni.select(col("i").as("j"), col("n").as("n_j")), Seq("j"))
      .withColumn("score_ppm",
        expr("(1000000L * c * c) div (n_i * n_j)"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("i"))
          .orderBy(col("score_ppm").desc, col("j"))))
      .filter(col("rnk") <= 3)
      .select(col("i"), col("j"), col("c"), col("score_ppm"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("i"), col("rnk"))
  }

  /** Per-label centroid drift between two corpus snapshots — the
    * embedding-space regression monitor: when the encoder or the
    * upstream mix changes, per-class centroids move, and the per-label
    * L1 shift (on the 1e-6 integer grid — exact, order-independent,
    * hash-checkable) is the cheap signal that catches it before any
    * downstream eval does. One pass over the exploded components with
    * BOTH snapshots' sums as conditional aggregates (no self-join, no
    * second scan); #groups = labels × dims, so everything after the
    * map-side combine is broadcast-scale. Means are `div`-truncated
    * integer microunits — the q160 idiom, bit-identical in any engine.
    *
    * Contract: only labels present in BOTH snapshots are reported — a
    * label with na=0 or nb=0 has no drift to measure (the mean on the
    * empty side is undefined), and emitting it would otherwise surface
    * as a silent NULL in the monitor. A vanished/new class is its own
    * signal: diff the output's label set against the input's (one agg),
    * don't read it off a NULL drift row.
    */
  def centroidDrift(vectors: DataFrame,
      snapACol: org.apache.spark.sql.Column): DataFrame =
    vectors
      .select(col("label"), snapACol.as("snap_a"), posexplode(col("v")))
      .select(col("label"), col("snap_a"),
        col("pos"), round(col("col") * 1000000).cast("long").as("x"))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(when(col("snap_a"), col("x"))).as("sa"),
        count(when(col("snap_a"), lit(1))).as("na"),
        sum(when(!col("snap_a"), col("x"))).as("sb"),
        count(when(!col("snap_a"), lit(1))).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("label"), col("na"), col("nb"),
        abs(expr("sa div na") - expr("sb div nb")).as("delta"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("delta")).as("l1_drift_micro"))
      .orderBy(col("label"))

  /** q258: drift between the even-id and odd-id halves of the embeddings
    * table standing in for two snapshot generations, hash-checked against
    * the identical grid arithmetic in DuckDB.
    */
  val q258: QueryDef = QueryDef.checked(
    "q258_centroid_drift",
    """WITH ve AS (
      |  SELECT label, vec_id % 2 = 0 AS snap_a, i,
      |    CAST(ROUND(v[i] * 1000000) AS BIGINT) AS x
      |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |    unnest(generate_series(1, len(v))) AS u(i)),
      |g AS (
      |  SELECT label, i,
      |    SUM(CASE WHEN snap_a THEN x END) AS sa,
      |    COUNT(CASE WHEN snap_a THEN 1 END) AS na,
      |    SUM(CASE WHEN NOT snap_a THEN x END) AS sb,
      |    COUNT(CASE WHEN NOT snap_a THEN 1 END) AS nb
      |  FROM ve GROUP BY 1, 2)
      |SELECT label, CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  CAST(SUM(ABS(sa // na - sb // nb)) AS BIGINT) AS l1_drift_micro
      |FROM g WHERE na > 0 AND nb > 0 GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    centroidDrift(
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        VF.asDoubleDense(col("embedding")).as("v")),
      snapACol = col("vec_id") % 2 === 0)
  }

  /** kNN label prediction — the classifier eval loop run AS a query:
    * held-out vectors (every 10th id) are labeled by the majority vote
    * of their 5 cosine-nearest training neighbors (ties: larger vote
    * count, then smaller label — deterministic in both engines). This is
    * the standard embedding-quality probe (a kNN accuracy that tracks
    * linear-probe accuracy) run entirely as a dataflow: the exact
    * [[bruteForceTopK]] scan-and-rank (broadcast queries, streamed
    * corpus) is the test-scale truth; at 100 TB the identical vote sits
    * on top of the LSH/IVF candidate paths (q33/q47) — the scorer is
    * pluggable, the vote is a (query × k)-sized agg either way.
    */
  def knnClassify(train: DataFrame, test: DataFrame, k: Int = 5): DataFrame = {
    val topk = bruteForceTopK(
      train.select(col("vec_id"), col("v")),
      test.select(col("vec_id"), col("v")), topK = k)
    val votes = topk
      .join(train.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), "neighbor_id")
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes
      .groupBy(col("query_id"))
      .agg(max(struct(col("votes"), (-col("nlabel")).as("negl"))).as("m"))
      .select(col("query_id"), (-col("m.negl")).as("pred_label"))
    pred
      .join(test.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .select(col("query_id").as("vec_id"), col("true_label"),
        col("pred_label"),
        (col("true_label") === col("pred_label")).cast("int").as("is_correct"))
      .orderBy(col("vec_id"))
  }

  /** q259: 5-NN vote over the 90/10 id split of the embeddings table,
    * hash-checked — per test vector, the true label, the voted label,
    * and the hit flag — against the identical rank/vote/tie arithmetic
    * in DuckDB.
    */
  val q259: QueryDef = QueryDef.checked(
    "q259_knn_classify",
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, q.label AS qlabel,
      |    c.vec_id AS neighbor_id, c.label AS nlabel,
      |    list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      |      / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cs
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
      |nn AS (
      |  SELECT query_id, qlabel, nlabel FROM (
      |    SELECT query_id, qlabel, nlabel,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY cs DESC, neighbor_id) AS rnk
      |    FROM sims) t WHERE rnk <= 5),
      |votes AS (
      |  SELECT query_id, qlabel, nlabel, COUNT(*) AS votes
      |  FROM nn GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT query_id, qlabel, nlabel AS pred_label FROM (
      |    SELECT query_id, qlabel, nlabel,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, nlabel) AS rn
      |    FROM votes) t WHERE rn = 1)
      |SELECT query_id AS vec_id, qlabel AS true_label, pred_label,
      |  CAST(qlabel = pred_label AS INT) AS is_correct
      |FROM pred ORDER BY vec_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      VF.asDoubleDense(col("embedding")).as("v"))
    knnClassify(
      train = e.filter(col("vec_id") % 10 =!= 0),
      test = e.filter(col("vec_id") % 10 === 0))
  }

  /** Matryoshka truncation eval (Kusupati et al. 2022,
    * arXiv:2205.13147): recall@k of the ranking induced by the FIRST
    * dTrunc dimensions against the full-dimension ranking — the
    * measurement that decides whether a corpus can serve ANN from a
    * prefix slice at 1/(d/dTrunc) the storage and FLOPs. Both rankings
    * come from ONE scan: each (query, candidate) row scores full and
    * truncated cosine side by side (two codegen'd kernels over the same
    * loaded vectors), then two windows over the same query partition —
    * one exchange, two sorts. The truth set left-joins the truncated
    * set and counts hits; output is integer (overlap count + ppm).
    *
    * Scale shape: this is an EVAL operator — run over a query SAMPLE
    * (brute-force truth is the point; |queries| ≪ corpus, broadcast),
    * exactly like q32/q259. The per-pair frame feeds both windows and
    * the join's two sides, so it persists for the action.
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame,
      dTrunc: Int = 16, topK: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("v").as("vq"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("v").as("vc"))
    val rk = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        CosineSimilarity.cosineSim(col("vq"), col("vc")).as("cs_full"),
        CosineSimilarity.cosineSim(
          slice(col("vq"), 1, dTrunc), slice(col("vc"), 1, dTrunc))
          .as("cs_trunc"))
      .withColumn("r_full", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cs_full").desc, col("neighbor_id"))))
      .withColumn("r_trunc", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cs_trunc").desc, col("neighbor_id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = rk.filter(col("r_full") <= topK)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = rk.filter(col("r_trunc") <= topK)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    truth.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_common"))
      // multiply BEFORE the integer division: n_common * (1e6 div k)
      // loses the remainder whenever k does not divide 1e6 (k=3 full
      // recall would read 999999 ppm) — ADVICE r12, exact for any k
      .withColumn("recall_ppm",
        expr(s"(n_common * 1000000L) div $topK"))
      .orderBy(col("query_id"))
  }

  /** q266: recall@10 of the 16-dim prefix against the full 64 dims for
    * the first 50 vectors as queries, hash-checked against DuckDB
    * slicing and ranking the same doubles.
    */
  val q266: QueryDef = QueryDef.checked(
    "q266_matryoshka_recall",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v))
      |         * sqrt(list_dot_product(c.v, c.v))) AS cs_full,
      |    list_dot_product(q.v[1:16], c.v[1:16])
      |      / (sqrt(list_dot_product(q.v[1:16], q.v[1:16]))
      |         * sqrt(list_dot_product(c.v[1:16], c.v[1:16]))) AS cs_trunc
      |  FROM v q JOIN v c ON q.vec_id < 50 AND c.vec_id <> q.vec_id),
      |rk AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cs_full DESC, neighbor_id) AS r_full,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cs_trunc DESC, neighbor_id) AS r_trunc
      |  FROM sims)
      |SELECT a.query_id, CAST(COUNT(b.neighbor_id) AS BIGINT) AS n_common,
      |  CAST(COUNT(b.neighbor_id) * 100000 AS BIGINT) AS recall_ppm
      |FROM (SELECT query_id, neighbor_id FROM rk WHERE r_full <= 10) a
      |LEFT JOIN (SELECT query_id, neighbor_id FROM rk WHERE r_trunc <= 10) b
      |  USING (query_id, neighbor_id)
      |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin) { (s, d) =>
    val e = vecs(s, d)
    matryoshkaRecall(e, e.filter(col("vec_id") < 50))
  }
}
