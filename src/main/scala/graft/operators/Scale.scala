package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scale-technique operators: IVF-style ANN (coarse quantizer + probed
  * inverted lists) and salt-based skew mitigation. Both produce results
  * identical to their naive forms — the point is the PLAN shape at 100 TB.
  */
object Scale {

  def defs: Seq[QueryDef] =
    Seq(q47, q48, q63, q72, q94, q96, q125, q139, q155, q175, q197, q211,
      q216, q219, q228, q234, q247)

  /** Mergeable rank/quantile sketch as a fixed-grid histogram — the
    * fourth corner of the sketch family (q96 HLL = distinct, q139 CMS =
    * frequency, q121 moments = variance; this = rank queries). State =
    * (group, bucket) → count with bucket = value div `width`: built by
    * ONE map-side-combined agg, mergeable cell-wise exactly like q139's
    * grid, bounded by (#groups × domain/width) cells however many rows
    * stream through. A rank query walks the cumulative counts and
    * returns the first bucket covering the target rank; the answer is
    * that bucket's UPPER bound, so the error is one-sided and bounded
    * by `width` in VALUE space (never in rank space) — with width 1 on
    * integer data the answer IS percentile_disc (ScaleSpec pins that,
    * plus two-half merge == one-shot build).
    */
  def histogramSketch(df: org.apache.spark.sql.DataFrame, group: String,
      value: org.apache.spark.sql.Column, width: Long): org.apache.spark.sql.DataFrame =
    // Integer `div`, not double `/`: double division loses exactness
    // past 2^53, so a wide-domain long would land in the wrong bucket
    // (StreamingCatalog's "`div`, not `/`" rule applies here too).
    // Both Spark `div` and DuckDB `//` truncate toward zero on longs
    // (measured: -7 // 2 = -3 in DuckDB), so the grids agree across the
    // full long domain, negatives included.
    df.select(col(group), value.cast("long").as("__hs_v"))
      .select(col(group), expr(s"__hs_v div ${width}L").as("b"))
      .groupBy(col(group), col("b")).agg(count(lit(1)).as("c"))

  /** Rank queries over a [[histogramSketch]]: for each group and each
    * requested quantile q (in ppm to stay on an integer grid), the
    * upper bound of the bucket containing the ceil(q·n)-th smallest
    * value. One window over the (small) sketch, never over the data.
    * Truncate-toward-zero bucketing makes the bucket extents
    * sign-dependent: bucket b > 0 spans [b·w, b·w+w−1], b < 0 spans
    * [b·w−(w−1), b·w], and bucket 0 spans [−(w−1), w−1] (2w−1 values —
    * the one double-width cell). The upper bound is therefore b·w+w−1
    * for b ≥ 0 and b·w for b < 0 — a single unconditional `+ (w−1)`
    * would return a value a negative bucket never contains. One-sided
    * error: ≤ w−1 everywhere except bucket 0's ≤ 2w−2 (ScaleSpec pins
    * both on a domain straddling zero).
    */
  def sketchQuantiles(sketch: org.apache.spark.sql.DataFrame, group: String,
      width: Long, quantilesPpm: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val tot = sketch.groupBy(col(group)).agg(sum(col("c")).as("n"))
    val cum = sketch.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col(group)).orderBy(col("b"))))
      .join(tot, group)
    quantilesPpm.map { q =>
      // integer cum ≥ ceil(q·n / 1e6)  ⟺  cum · 1e6 ≥ q · n
      cum.filter(col("cum") * 1000000L >= col("n") * q)
        .groupBy(col(group))
        .agg(min(col("b")).as("qb"))
        .select(col(group),
          when(col("qb") >= 0, col("qb") * width + (width - 1))
            .otherwise(col("qb") * width).as(s"p${q}_ub"))
    }.reduce(_.join(_, group)).join(tot, group)
  }

  /** q155: quantile-sketch readout on lineitem quantities per return
    * flag (integer domain 1..50, width 5 → 10-cell state per group) —
    * n, median and p95 upper bounds, hash-checked against the same
    * grid walk in DuckDB. Width 5 < the domain, so the oracle
    * certifies real bucketing arithmetic, not a degenerate exact path.
    */
  val q155: QueryDef = QueryDef.checked(
    "q155_quantile_sketch",
    """WITH s AS (
      |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) // 5 AS b,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM s GROUP BY 1),
      |cum AS (
      |  SELECT flag, b, SUM(c) OVER (PARTITION BY flag ORDER BY b) AS cum
      |  FROM s),
      |qb AS (
      |  SELECT t.flag, t.n,
      |    (SELECT MIN(b) FROM cum WHERE cum.flag = t.flag
      |       AND cum.cum * 1000000 >= t.n * 500000) AS b50,
      |    (SELECT MIN(b) FROM cum WHERE cum.flag = t.flag
      |       AND cum.cum * 1000000 >= t.n * 950000) AS b95
      |  FROM tot t)
      |SELECT flag, n,
      |  CASE WHEN b50 >= 0 THEN b50 * 5 + 4 ELSE b50 * 5 END AS p500000_ub,
      |  CASE WHEN b95 >= 0 THEN b95 * 5 + 4 ELSE b95 * 5 END AS p950000_ub
      |FROM qb ORDER BY flag""".stripMargin) { (s, d) =>
    val sk = histogramSketch(Tables.lineitem(s, d), "l_returnflag",
      col("l_quantity"), width = 5L)
    sketchQuantiles(sk, "l_returnflag", width = 5L,
        quantilesPpm = Seq(500000L, 950000L))
      .select(col("l_returnflag").as("flag"), col("n"),
        col("p500000_ub"), col("p950000_ub"))
      .orderBy(col("flag"))
  }

  /** IVF (inverted-file) ANN over (vec_id LONG, v ARRAY<DOUBLE>) on the
    * integer grid — Jégou et al.'s coarse quantizer + probed inverted
    * lists, ORACLE-CHECKABLE: the codebook is the exact integer k-means
    * of [[Similarity.kmeansFramesGv]] (the q160 replay), query probes
    * rank centroids by exact integer L2 (nProbe smallest, (d, cid)
    * tie-break), and candidates — corpus vectors in probed lists,
    * reached through a BROADCAST of the tiny (queries × nProbe) probe
    * frame onto the assignment equi-join — re-rank by exact integer
    * squared-L2 (= cosine ordering on the unit-norm corpus). The FAISS
    * IVF plan shape: one assignment pass, probes touch nProbe/nList of
    * the corpus — the trade vs LSH banding is fewer, larger buckets and
    * a tunable nprobe.
    */
  def ivfTopKGridL2(e: org.apache.spark.sql.DataFrame, nQueries: Int = 5,
      topK: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
      iterations: Int = 2): org.apache.spark.sql.DataFrame = {
    val (ve, gva, ce) = Similarity.kmeansFramesGv(e, nCentroids, iterations)
    val asg = Similarity.assignArrays(gva, ce)
      .select(col("vec_id").as("neighbor_id"), col("cluster").as("cid"))
    val qd = ve.filter(col("vec_id") < nQueries)
      .join(broadcast(ce), Seq("i"))
      .groupBy(col("vec_id").as("query_id"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dq"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("dq").asc, col("cid"))
    val probes = qd.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid"))
    val cand = broadcast(probes).join(asg, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val gv = e.select(col("vec_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
    val d2 = cand
      .join(broadcast(gv.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("gx").as("gq"))),
        Seq("query_id"))
      .join(gv.select(col("vec_id").as("neighbor_id"),
        col("gx").as("gn")), Seq("neighbor_id"))
      .withColumn("d2", expr(
        """aggregate(zip_with(gq, gn, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id"))
    d2.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("d2"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB replay of the grid-IVF query path (probe ranking,
    * candidate lists, exact re-rank) over a trained codebook CTE block
    * — shared by q47 (one-shot), q125 (persisted index; identical
    * result BY CONTRACT, the index is an access path) and q175
    * (incremental ingest; only the training subset differs).
    */
  private def ivfGridQuerySql(trainWhere: String): String =
    s"""WITH ${Similarity.gridKmeansSql(16, trainWhere = trainWhere)},
       |asg AS MATERIALIZED (SELECT vec_id, cluster AS cid FROM a3),
       |qd AS (
       |  SELECT v.vec_id AS query_id, c.cid,
       |    SUM((v.x - c.c) * (v.x - c.c)) AS dq
       |  FROM ve v JOIN c2 c USING (i)
       |  WHERE v.vec_id < 5 GROUP BY 1, 2),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT query_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dq, cid) AS rn
       |    FROM qd) WHERE rn <= 4),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN asg a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.query_id),
       |pd2 AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(SUM((va.x - vb.x) * (va.x - vb.x)) AS BIGINT) AS d2
       |  FROM cand
       |  JOIN ve va ON va.vec_id = cand.query_id
       |  JOIN ve vb ON vb.vec_id = cand.neighbor_id AND vb.i = va.i
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rnk, d2 FROM (
       |  SELECT query_id, neighbor_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
       |  FROM pd2) t
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** q47: grid IVF over the embeddings table (16 lists, nprobe 4) —
    * ORACLE-CHECKED: training, probing, candidates and re-rank all
    * replay in DuckDB. ScaleSpec pins recall@10 vs brute force on this
    * corpus and on a planted-cluster fixture (where the trained codebook
    * must reach ≥0.8 — random data caps the gain).
    */
  val q47: QueryDef = QueryDef.checked(
    "q47_ann_ivf_topk", ivfGridQuerySql("")) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
    ivfTopKGridL2(e)
  }

  /** q175: the incremental-ingest IVF path end to end — grid index
    * trained and built on the first 90 % of vec_ids, the remaining
    * 10 % ingested via [[appendToIvfIndexGrid]] (no retraining), the
    * first 5 vectors queried against the combined index.
    * ORACLE-CHECKED since r7: the replay trains its codebook on the
    * same pre-cut subset (a scalar-subquery WHERE on the training CTE)
    * and assigns the full corpus under it — the incremental path must
    * be indistinguishable from that monolithic recompute (ScaleSpec
    * pins the append's own assignments against an exact argmin).
    */
  val q175: QueryDef = QueryDef.checked(
    "q175_ann_ivf_incremental",
    ivfGridQuerySql(
      "WHERE vec_id < (SELECT (max(vec_id) + 1) * 9 // 10 FROM embeddings)")) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
    val cut = (e.agg(max(col("vec_id"))).head().getLong(0) + 1L) * 9L / 10L
    val path = Exact.buildOnceDir(s"$d#ivfgridinc#$cut", "ivfginc_") { p =>
      saveIvfIndexGrid(e.filter(col("vec_id") < cut), p)
      appendToIvfIndexGrid(e.filter(col("vec_id") >= cut), p)
    }
    ivfTopKGridFromIndex(s, path, e.filter(col("vec_id") < 5))
  }

  /** Persist a trained grid IVF index under `path`: `gcentroids`
    * (cid, i, c) integer centroid components and `glists` (vec_id, gx,
    * partitioned BY cid) grid vectors — the build-once half of the
    * production ANN pattern (the dense-vector analogue of the q78
    * MinHash signature index). The corpus is assigned and laid out by
    * list ONCE; because the lists are directory-partitioned on cid, a
    * later query batch's probes prune whole directories (the q89
    * mechanism) and read only nprobe/nlist of the corpus bytes.
    */
  def saveIvfIndexGrid(e: org.apache.spark.sql.DataFrame, path: String,
      nCentroids: Int = 16, iterations: Int = 2): Unit = {
    val (_, gva, ce) = Similarity.kmeansFramesGv(e, nCentroids, iterations)
    ce.write.mode("overwrite").parquet(s"$path/gcentroids")
    val gv = e.select(col("vec_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
    Similarity.assignArrays(gva, ce)
      .join(gv, Seq("vec_id"))
      .select(col("vec_id"), col("gx"), col("cluster").as("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/glists")
  }

  /** INCREMENTAL ingest into a [[saveIvfIndexGrid]] index — the q78
    * index×fresh pattern for dense vectors: new vectors are assigned to
    * the EXISTING integer centroid table (no retraining — the codebook
    * is the index's contract; retraining would silently re-shuffle every
    * old list; argmin ties go to the lowest cid) and appended to the
    * cid-partitioned lists, so each increment writes only its own new
    * files and queries keep pruning by directory. The drift trade is the
    * documented one from the ANN literature: assignment quality degrades
    * as the corpus distribution moves away from the training set —
    * rebuild cadence is an operational knob, not an engine concern.
    */
  def appendToIvfIndexGrid(eNew: org.apache.spark.sql.DataFrame,
      path: String): Unit = {
    val s = eNew.sparkSession
    val ce = s.read.parquet(s"$path/gcentroids")
    val gv = eNew.select(col("vec_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
    Similarity.gridAssign(Similarity.gridExplode(eNew), ce)
      .join(gv, Seq("vec_id"))
      .select(col("vec_id"), col("gx"), col("cluster").as("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$path/glists")
  }

  /** Query a [[saveIvfIndexGrid]] index: probe ranking against the
    * persisted integer centroids, the tiny (queries × nProbe) probe
    * frame broadcast onto the cid-partitioned lists, exact integer
    * squared-L2 re-rank — row-identical to [[ivfTopKGridL2]] under the
    * same training set. The list scan reads only the probed cid
    * directories (static PartitionFilters, the q89 mechanism).
    */
  def ivfTopKGridFromIndex(s: org.apache.spark.sql.SparkSession,
      path: String, queries: org.apache.spark.sql.DataFrame,
      topK: Int = 10, nProbe: Int = 4): org.apache.spark.sql.DataFrame = {
    val ce = s.read.parquet(s"$path/gcentroids")
    val qd = Similarity.gridExplode(queries)
      .join(broadcast(ce), Seq("i"))
      .groupBy(col("vec_id").as("query_id"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dq"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("dq").asc, col("cid"))
    val probes = qd.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid"))
    val gq = queries.select(col("vec_id").as("query_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gq"))
    // The probed list ids (≤ queries × nProbe values) come back to the
    // driver so the glists scan prunes its cid directories statically.
    // Left to the join alone, the planned runtime dynamic-pruning
    // filter is dropped by AQE (it cannot reuse the probe broadcast),
    // and every list is read.
    val probed = probes.select(col("cid")).distinct().collect()
      .map(_.getLong(0)).toIndexedSeq
    val corpus = s.read.parquet(s"$path/glists")
      .filter(col("cid").cast("long").isin(probed: _*))
      .select(col("vec_id").as("neighbor_id"), col("gx").as("gn"),
        col("cid").cast("long").as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id"))
    broadcast(probes.join(gq, Seq("query_id")))
      .join(corpus, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("d2", expr(
        """aggregate(zip_with(gq, gn, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("d2"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q125: the persisted-index IVF path end to end — grid index built
    * ONCE per corpus (build-once accounting; the write IS the asset),
    * the first 5 vectors queried against it. ORACLE-CHECKED since r7:
    * the index is an access path, so the result is BY CONTRACT
    * identical to the one-shot grid IVF and shares q47's DuckDB replay;
    * ScaleSpec pins the index == one-shot equality and the cid
    * partition pruning directly.
    */
  val q125: QueryDef = QueryDef.checked(
    "q125_ann_ivf_index", ivfGridQuerySql("")) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
    val path = Exact.buildOnceDir(s"$d#ivfgrid", "ivfg_")(p =>
      saveIvfIndexGrid(e, p))
    ivfTopKGridFromIndex(s, path, e.filter(col("vec_id") < 5))
  }

  /** Per-subspace integer k-means over a (vec_id, j, s, x) components
    * frame (j = subspace, s = dim within it): all m codebooks train
    * JOINTLY — j rides every join/group key, so one dataflow fits m
    * independent quantizers (seeds = vec_id < k per subspace, exact
    * integer distances, (d, cid) tie-break, floor-divided updates).
    * Returns (trained codebook (j, cid, s, c), final codes
    * (vec_id, j, code)).
    */
  /** Input: (vec_id, j, gx) subvector ARRAYS — one row per (vector,
    * subspace), gx in s-order. r16: callers build this view
    * ROW-LOCALLY (slice the vector array per subspace), so the r15
    * groupBy(vec_id, j) + collect_list + array_sort shuffle that used
    * to reassemble it from the exploded components is gone; the
    * exploded (vec_id, j, s, x) view the seeds and centroid updates
    * need derives from the checkpointed arrays by posexplode — narrow.
    */
  private[operators] def subspaceKmeans(gvj0: org.apache.spark.sql.DataFrame,
      codebookSize: Int, iterations: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // r15 array-native assign (the Similarity.assignArrays treatment
    // per subspace): the exploded form joined every (vec, j, s, x) row
    // against all k codes — n·dim·k rows through a two-level hash agg;
    // each (vec, j) subvector is one 8-wide array row, codes are
    // broadcast (j, cid, cv) arrays, d = aggregate(zip_with(...)),
    // argmin over n·m·k rows. Identical exact integer sums in
    // s-order → identical codes, same oracle.
    val gvj = gvj0.select(col("vec_id"), col("j"), col("gx"))
      .localCheckpoint(true)
    val vs = gvj
      .select(col("vec_id"), col("j"), posexplode(col("gx")).as(Seq("s", "x")))
    def carr(cents: org.apache.spark.sql.DataFrame) =
      cents.groupBy(col("j"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("s"), col("c")))),
          p => p.getField("c")).as("cv"))
    def scored(cents: org.apache.spark.sql.DataFrame) =
      gvj.join(broadcast(carr(cents)), Seq("j"))
        .select(col("vec_id"), col("j"), col("gx"), col("cid"), expr(
          """aggregate(zip_with(gx, cv, (x, c) -> (x - c) * (x - c)),
            |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin).as("d"))
    def assign(cents: org.apache.spark.sql.DataFrame) =
      scored(cents)
        .groupBy(col("vec_id"), col("j"))
        .agg(min(struct(col("d"), col("cid"))).as("mm"))
        .select(col("vec_id"), col("j"), col("mm.cid").as("code"))
    var ce = vs.filter(col("vec_id") < codebookSize)
      .select(col("j"), col("vec_id").as("cid"), col("s"), col("x").as("c"))
    for (_ <- 1 to iterations) {
      // r16 round 2: the update re-joined the exploded components
      // against the assignment (vs ⋈ a — two exchanges per round); the
      // subvector array now rides THROUGH the argmin aggregate (gx is
      // constant per (vec_id, j), so first(gx) is deterministic) and
      // the update re-explodes row-locally — the kmeansFramesGv
      // treatment per subspace. Same integer (d, cid) argmin structs,
      // same per-(j, cid, s) sum multisets → bit-identical codebooks.
      val am = scored(ce)
        .groupBy(col("vec_id"), col("j"))
        .agg(min(struct(col("d"), col("cid"))).as("mm"),
          first(col("gx")).as("gx"))
        .select(col("j"), col("mm.cid").as("code"), col("gx"))
      ce = am.select(col("j"), col("code"), posexplode(col("gx")).as(Seq("s", "x")))
        .groupBy(col("j"), col("code").as("cid"), col("s"))
        .agg(expr("CAST(sum(x) div count(1) AS LONG)").as("c"))
        .localCheckpoint(true)
    }
    (ce, assign(ce))
  }

  /** DuckDB replay of [[subspaceKmeans]]: unrolled per-subspace rounds
    * over the components CTE `src` (vec_id, j, s, x); emits
    * ${p}c0..${p}c$iters and the final assignment ${p}a${iters+1}.
    */
  private[operators] def subspaceKmeansSql(src: String, k: Int,
      iters: Int, p: String): String = {
    def distCte(n: Int, cents: String) =
      s"""${p}d$n AS MATERIALIZED (
         |  SELECT v.vec_id, v.j, c.cid, SUM((v.x - c.c) * (v.x - c.c)) AS d
         |  FROM $src v JOIN $cents c ON c.j = v.j AND c.s = v.s
         |  GROUP BY 1, 2, 3),
         |${p}a$n AS MATERIALIZED (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
         |    FROM ${p}d$n) WHERE rn = 1)""".stripMargin
    def updateCte(n: Int) =
      s"""${p}c$n AS MATERIALIZED (
         |  SELECT a.j, a.code AS cid, v.s, CAST(SUM(v.x) // COUNT(*) AS BIGINT) AS c
         |  FROM $src v JOIN ${p}a$n a ON a.vec_id = v.vec_id AND a.j = v.j
         |  GROUP BY 1, 2, 3)""".stripMargin
    val rounds = (1 to iters).map(n =>
      s"${distCte(n, s"${p}c${n - 1}")},\n${updateCte(n)}").mkString(",\n")
    s"""${p}c0 AS (SELECT j, vec_id AS cid, s, x AS c FROM $src WHERE vec_id < $k),
       |$rounds,
       |${distCte(iters + 1, s"${p}c$iters")}""".stripMargin
  }

  /** Product-quantization ANN with exact re-ranking on the integer
    * grid (Jégou et al.'s PQ with asymmetric distance computation),
    * ORACLE-CHECKABLE: each grid-snapped vector splits into `m`
    * subspaces, [[subspaceKmeans]] trains the m codebooks jointly
    * (exact integer training), codes are the per-subspace argmin ids,
    * ADC is a SUM of m exact integer table lookups (query-to-centroid
    * subspace distances — L2 ordering = cosine ordering on the
    * unit-norm corpus), and the surviving `rerank` candidates re-rank by
    * exact full-dimension integer L2.
    *
    * Why at 100 TB: the corpus side of the ADC scan carries m small
    * codes per vector, never the d components, and the query's m×k
    * distance table broadcasts; the full vectors are touched only for
    * `rerank` rows per query (an equi-join on vec_id).
    */
  def pqTopKGridL2(e: org.apache.spark.sql.DataFrame, nQueries: Int = 5,
      topK: Int = 10, m: Int = 8, codebookSize: Int = 16, rerank: Int = 64,
      dim: Int = 64, iterations: Int = 2): org.apache.spark.sql.DataFrame = {
    val sub = dim / m
    // r16: subvector arrays sliced ROW-LOCALLY from the grid-snapped
    // vector (posexplode index = j) — no explode → groupBy round-trip;
    // subspaceKmeans checkpoints the array view, and the tiny
    // query-side exploded view below re-derives from the source scan.
    val gvj = e.select(col("vec_id"),
        expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(1, $m), j -> slice(gx, (j - 1) * $sub + 1, $sub))"))
        .as(Seq("j", "gx")))
    val (ce, codes) = subspaceKmeans(gvj, codebookSize, iterations)
    val qd = gvj.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("j"), posexplode(col("gx")).as(Seq("s", "x")))
      .join(broadcast(ce), Seq("j", "s"))
      .groupBy(col("vec_id").as("query_id"), col("j"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dq"))
    val adc = codes.select(col("vec_id").as("neighbor_id"), col("j"),
        col("code").as("cid"))
      .join(broadcast(qd), Seq("j", "cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dq")).as("adc"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    val cand = adc.withColumn("crnk", row_number().over(wA))
      .filter(col("crnk") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val gv = e.select(col("vec_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id"))
    cand
      .join(broadcast(gv.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("gx").as("gq"))),
        Seq("query_id"))
      .join(gv.select(col("vec_id").as("neighbor_id"),
        col("gx").as("gn")), Seq("neighbor_id"))
      .withColumn("d2", expr(
        """aggregate(zip_with(gq, gn, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("d2"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q63: PQ ANN over the 64-dim embeddings table — 8 subspaces × 16
    * centroids (8 dims per subspace, the standard PQ sizing),
    * 64-candidate exact re-rank. ORACLE-CHECKED since r7 (training,
    * codes, ADC lookups and re-rank all replay in DuckDB); ScaleSpec
    * pins recall@10 vs brute force here and on planted clusters.
    */
  val q63: QueryDef = QueryDef.checked(
    "q63_ann_pq_topk",
    s"""WITH ve AS MATERIALIZED (
       |  SELECT vec_id, i, CAST(ROUND(v[i] * 1000000) AS BIGINT) AS x
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |    unnest(generate_series(1, len(v))) AS u(i)),
       |vs AS MATERIALIZED (
       |  SELECT vec_id, (i - 1) // 8 AS j, (i - 1) % 8 AS s, x FROM ve),
       |${subspaceKmeansSql("vs", 16, 2, "p")},
       |qd AS (
       |  SELECT v.vec_id AS query_id, v.j, c.cid,
       |    SUM((v.x - c.c) * (v.x - c.c)) AS dq
       |  FROM vs v JOIN pc2 c ON c.j = v.j AND c.s = v.s
       |  WHERE v.vec_id < 5 GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id, SUM(q.dq) AS adc
       |  FROM pa3 n JOIN qd q ON q.j = n.j AND q.cid = n.code
       |  WHERE n.vec_id <> q.query_id
       |  GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS crnk
       |    FROM adc) WHERE crnk <= 64),
       |rd2 AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(SUM((va.x - vb.x) * (va.x - vb.x)) AS BIGINT) AS d2
       |  FROM cand
       |  JOIN ve va ON va.vec_id = cand.query_id
       |  JOIN ve vb ON vb.vec_id = cand.neighbor_id AND vb.i = va.i
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rnk, d2 FROM (
       |  SELECT query_id, neighbor_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
       |  FROM rd2) t
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
    pqTopKGridL2(e)
  }

  /** IVF-PQ on the integer grid — the composed production ANN (FAISS
    * IndexIVFPQ), ORACLE-CHECKABLE: the coarse quantizer buckets the
    * corpus into inverted lists (the shared integer k-means,
    * [[Similarity.kmeansFramesGv]]) AND the per-vector payload is a PQ
    * code of the RESIDUAL x − c_list (integer centroids keep residuals
    * on the grid), with the m residual codebooks from
    * [[subspaceKmeans]]. A query (a) prunes to its nProbe nearest lists,
    * (b) scores candidates by the residual ADC — a SUM of exact integer
    * lookups keyed by (probed list, subspace, code), the decomposition
    * d²(q,v) ≈ Σⱼ ||q_resid,j − bookⱼ[codeⱼ]||² — and (c) re-ranks the
    * `rerank` survivors by exact full-dimension integer L2. Residual
    * encoding is what makes the composition better than either part:
    * residuals are centered near zero, so the same codebooks quantize
    * them far more finely than raw vectors. At 100 TB list pruning cuts
    * the candidate stream by nprobe/nlist, PQ cuts its width to m codes,
    * and full vectors are touched only for the re-rank.
    */
  def ivfPqTopKGridL2(e: org.apache.spark.sql.DataFrame, nQueries: Int = 5,
      topK: Int = 10, nCentroids: Int = 16, nProbe: Int = 6, m: Int = 8,
      codebookSize: Int = 16, rerank: Int = 128, dim: Int = 64,
      iterations: Int = 2): org.apache.spark.sql.DataFrame = {
    val sub = dim / m
    val (ve, gva, cce) = Similarity.kmeansFramesGv(e, nCentroids, iterations)
    val asg = Similarity.assignArrays(gva, cce)
    val ccByCluster = cce.select(col("cid").as("cluster"), col("i"), col("c"))
    // r16: residuals as ARRAYS — one zip_with per vector against the
    // broadcast centroid array, sliced row-locally into the m
    // subvectors subspaceKmeans wants, replacing the exploded
    // n·dim-row residual join + the groupBy that reassembled it
    // (identical integer differences in i-order, same oracle).
    val carrByCluster = cce.groupBy(col("cid").as("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("cv"))
    val rgvj = gva.join(asg, Seq("vec_id"))
      .join(broadcast(carrByCluster), Seq("cluster"))
      .select(col("vec_id"),
        expr("zip_with(gx, cv, (x, c) -> x - c)").as("rx"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(1, $m), j -> slice(rx, (j - 1) * $sub + 1, $sub))"))
        .as(Seq("j", "gx")))
    val (pce, codes0) = subspaceKmeans(rgvj, codebookSize, iterations)
    val codes = codes0.join(asg, Seq("vec_id"))
    val qve = ve.filter(col("vec_id") < nQueries)
    val qcd = qve.join(broadcast(cce), Seq("i"))
      .groupBy(col("vec_id").as("query_id"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dq"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("dq").asc, col("cid"))
    val probes = qcd.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid").as("cluster"))
    val qr = probes
      .join(qve.select(col("vec_id").as("query_id"), col("i"), col("x")),
        Seq("query_id"))
      .join(broadcast(ccByCluster), Seq("cluster", "i"))
      .select(col("query_id"), col("cluster"),
        expr(s"(i - 1) div $sub").as("j"),
        expr(s"(i - 1) % $sub").as("s"), (col("x") - col("c")).as("rx"))
    val qd = qr.join(broadcast(pce), Seq("j", "s"))
      .groupBy(col("query_id"), col("cluster"), col("j"), col("cid"))
      .agg(sum((col("rx") - col("c")) * (col("rx") - col("c"))).as("dq"))
    val adc = codes.select(col("vec_id").as("neighbor_id"), col("cluster"),
        col("j"), col("code").as("cid"))
      .join(broadcast(qd), Seq("cluster", "j", "cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dq")).as("adc"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    val cand = adc.withColumn("crnk", row_number().over(wA))
      .filter(col("crnk") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val gv = e.select(col("vec_id"),
      expr("transform(v, x -> CAST(ROUND(x * 1000000) AS LONG))").as("gx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id"))
    cand
      .join(broadcast(gv.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("gx").as("gq"))),
        Seq("query_id"))
      .join(gv.select(col("vec_id").as("neighbor_id"),
        col("gx").as("gn")), Seq("neighbor_id"))
      .withColumn("d2", expr(
        """aggregate(zip_with(gq, gn, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS BIGINT), (acc, z) -> acc + z)""".stripMargin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("d2"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q197: IVF-PQ ANN over the embeddings table — 16 lists, 8×16
    * residual PQ, nprobe 6, 128-candidate exact re-rank (the double
    * prune pays for wider probes). ORACLE-CHECKED since r7 (coarse
    * training, residuals, residual codebooks, probed ADC and re-rank
    * all replay in DuckDB — integer residuals make the whole
    * composition exact); ScaleSpec pins recall@10 vs brute force here
    * and on planted clusters.
    */
  val q197: QueryDef = QueryDef.checked(
    "q197_ann_ivfpq_topk",
    s"""WITH ${Similarity.gridKmeansSql(16)},
       |casg AS MATERIALIZED (SELECT vec_id, cluster FROM a3),
       |rs AS MATERIALIZED (
       |  SELECT v.vec_id, (v.i - 1) // 8 AS j, (v.i - 1) % 8 AS s,
       |    v.x - c.c AS x
       |  FROM ve v JOIN casg a ON a.vec_id = v.vec_id
       |  JOIN c2 c ON c.cid = a.cluster AND c.i = v.i),
       |${subspaceKmeansSql("rs", 16, 2, "p")},
       |qcd AS (
       |  SELECT v.vec_id AS query_id, c.cid,
       |    SUM((v.x - c.c) * (v.x - c.c)) AS dq
       |  FROM ve v JOIN c2 c USING (i)
       |  WHERE v.vec_id < 5 GROUP BY 1, 2),
       |probes AS (
       |  SELECT query_id, cid AS cluster FROM (
       |    SELECT query_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dq, cid) AS rn
       |    FROM qcd) WHERE rn <= 6),
       |qr AS (
       |  SELECT p.query_id, p.cluster, (v.i - 1) // 8 AS j,
       |    (v.i - 1) % 8 AS s, v.x - c.c AS rx
       |  FROM probes p JOIN ve v ON v.vec_id = p.query_id
       |  JOIN c2 c ON c.cid = p.cluster AND c.i = v.i),
       |qd AS MATERIALIZED (
       |  SELECT q.query_id, q.cluster, q.j, c.cid,
       |    SUM((q.rx - c.c) * (q.rx - c.c)) AS dq
       |  FROM qr q JOIN pc2 c ON c.j = q.j AND c.s = q.s
       |  GROUP BY 1, 2, 3, 4),
       |adc AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id, SUM(q.dq) AS adc
       |  FROM pa3 n JOIN casg a ON a.vec_id = n.vec_id
       |  JOIN qd q ON q.cluster = a.cluster AND q.j = n.j AND q.cid = n.code
       |  WHERE n.vec_id <> q.query_id
       |  GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS crnk
       |    FROM adc) WHERE crnk <= 128),
       |rd2 AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(SUM((va.x - vb.x) * (va.x - vb.x)) AS BIGINT) AS d2
       |  FROM cand
       |  JOIN ve va ON va.vec_id = cand.query_id
       |  JOIN ve vb ON vb.vec_id = cand.neighbor_id AND vb.i = va.i
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rnk, d2 FROM (
       |  SELECT query_id, neighbor_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
       |  FROM rd2) t
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
    ivfPqTopKGridL2(e)
  }

  /** Distributed EXACT heavy hitters without a full-vocabulary shuffle:
    * per-partition Misra-Gries sketches of capacity `k` (genuine
    * per-partition imperative logic — the documented mapPartitions
    * case), then one exact recount restricted to the merged candidate
    * set. MG guarantee: a key with partition count > n_p/(k+1) survives
    * that partition's sketch, so by pigeonhole any key with GLOBAL
    * count > N/(k+1) survives somewhere — the candidate set is a
    * superset of every key at share > 1/(k+1), and the recount makes
    * the final answer exact (not approximate) for any threshold above
    * that. The shuffle carries ≤ partitions×k candidate rows plus a
    * broadcast — never the full key distribution; at a 100 TB corpus
    * vocabulary that is the difference between this and a groupBy over
    * every distinct token. Threshold is parts-per-million (integer, so
    * the filter `c*1e6 >= ppm*N` is exact in both engines; no float
    * boundary). Nulls are dropped. Returns (t, c) sorted by c desc.
    *
    * Cache contract: persists its small sketch frame; caller clears
    * with `spark.catalog.clearCache()` (Verify/Bench do).
    *
    * `persistKeys` caches the (possibly expensive) key frame between
    * the sketch pass and the recount pass. Exact MG+recount inherently
    * reads the keys twice; when they come from a shuffle-backed
    * pipeline (q76's per-doc bigram window) caching halves the work at
    * test scale. At 100 TB leave it false — re-scanning the source
    * beats spilling a corpus-sized cache, and the two passes remain
    * the correct trade.
    */
  def heavyHitters(keys: org.apache.spark.sql.DataFrame, keyCol: String,
      sharePpm: Long, k: Int = 4096,
      persistKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(sharePpm * (k + 1L) > 1000000L,
      s"share $sharePpm ppm below MG bound 1/(k+1); raise k")
    val s = keys.sparkSession
    import s.implicits._
    val toks0 = keys.select(col(keyCol).cast("string").as("t"))
      .filter(col("t").isNotNull).as[String]
    val toks = if (persistKeys)
      toks0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else toks0
    val sketch = toks.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      it.foreach { t =>
        np += 1
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None =>
            if (m.size < k) m.update(t, 1L)
            else { // decrement-all, drop zeros (the new key is consumed)
              m.mapValuesInPlace((_, v) => v - 1)
              m.filterInPlace((_, v) => v > 0)
            }
        }
      }
      Iterator.single((true, "", np)) ++
        m.keysIterator.map(t => (false, t, 0L))
    }.toDF("is_count", "t", "c")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // empty input → sum is NULL (the dedupClusters r2-advisor lesson):
    // treat as 0; the candidate set is empty so the result is too
    val nRow = sketch.filter(col("is_count")).agg(sum(col("c"))).head
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val cand = sketch.filter(!col("is_count")).select(col("t")).distinct()
    toks.toDF("t").join(broadcast(cand), "t")
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .filter(col("c") * 1000000L >= lit(sharePpm) * lit(n))
      .orderBy(col("c").desc, col("t"))
  }

  /** q72: corpus-level heavy-hitter tokens at share ≥ 0.5% (5000 ppm).
    * The oracle is the naive full groupBy — identical output by the MG
    * exactness argument above.
    */
  val q72: QueryDef = QueryDef.checked(
    "q72_heavy_hitters",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |tot AS (SELECT count(*) AS n FROM tok)
      |SELECT t, CAST(count(*) AS BIGINT) AS c
      |FROM tok, tot GROUP BY t, n
      |HAVING count(*) * 1000000 >= 5000 * n
      |ORDER BY c DESC, t""".stripMargin) { (s, d) =>
    heavyHitters(
      Tables.documents(s, d).select(explode(split(col("text"), " ")).as("t")),
      "t", sharePpm = 5000L)
  }

  /** Skew-mitigated join via salting, oracle-checked: the join key
    * l_returnflag has 3 values over the whole fact table — a direct
    * shuffle join puts ~1/3 of 100 TB in ONE reducer. Salting: fact side
    * gets salt = l_orderkey % 16 (deterministic, no rand()); the dim side
    * is exploded ×16; the join key becomes (flag, salt) → 48 evenly-sized
    * partitions. The aggregate then re-merges across salts. Result is
    * IDENTICAL to the unsalted join — which is exactly what the oracle
    * checks (its SQL is the naive join).
    */
  val q48: QueryDef = QueryDef.checked(
    "q48_skew_salted_join",
    """SELECT f.flag, f.adj,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n
      |FROM lineitem JOIN (VALUES ('A', 0.9), ('N', 1.0), ('R', 0.8)) f(flag, adj)
      |  ON l_returnflag = f.flag
      |GROUP BY f.flag, f.adj ORDER BY f.flag""".stripMargin) { (s, d) =>
    import s.implicits._
    val nSalts = 16
    val dim = Seq(("A", 0.9), ("N", 1.0), ("R", 0.8)).toDF("flag", "adj")
    val saltedDim = dim.withColumn("salt",
      explode(array((0 until nSalts).map(lit(_)): _*)))
    val fact = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"),
        (col("l_orderkey") % nSalts).cast("int").as("salt"))
    fact.join(saltedDim,
        fact("l_returnflag") === saltedDim("flag") && fact("salt") === saltedDim("salt"))
      .groupBy(col("flag"), col("adj"))
      .agg(Exact.sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("flag"))
  }

  /** Skew-safe exact distinct counting: dedup on (key, value) first,
    * then count per key. The direct COUNT(DISTINCT v) GROUP BY k plans
    * value sets concentrated per key — one hot key (a bot user, a
    * default value) lands its whole distinct set on one task. The
    * two-stage form's first shuffle is keyed on (k, v), so a hot key's
    * values spread over ALL partitions and the second stage counts
    * already-unique rows with map-side partial counts. Same answer,
    * skew-immune — the aggregation-side analogue of q48's salted join.
    */
  def distinctTwoStage(df: org.apache.spark.sql.DataFrame,
      key: String, value: String): org.apache.spark.sql.DataFrame =
    df.select(col(key), col(value)).distinct()
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_distinct"))

  /** q94: distinct users per event type, two-stage — hash-checked
    * against the direct COUNT(DISTINCT) in DuckDB (must be invisible to
    * semantics).
    */
  val q94: QueryDef = QueryDef.checked(
    "q94_distinct_two_stage",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    distinctTwoStage(Tables.events(s, d), "event_type", "user_id")
      .orderBy(col("event_type"))
  }

  /** Engine-portable HLL register table: m = 4096 registers, bucket =
    * the first 3 md5 hex chars (12 bits), rho = 1 + the leading-zero
    * BIT count of the next 32 hash bits (8 hex chars; 33 when they are
    * all zero — the standard rho convention for a 32-bit suffix).
    * Register state is (bucket -> max rho): exact integers, so builds,
    * merges (per-register max — commutative, idempotent) and summaries
    * are bit-identical in ANY engine with md5 — the mergeability of a
    * binary HLL sketch (Spark's `hll_sketch_agg`/`hll_union_agg`), with
    * portable registers instead of library-defined bytes, so every
    * build and merge is oracle-checkable. The leading-zero count
    * never parses the 32-bit value: 8 - length(hex with leading zeros
    * stripped) counts whole zero NIBBLES and the first surviving hex
    * digit contributes its own 0-3 zero bits by a 16-way CASE — pure
    * string ops with identical semantics in Spark and DuckDB.
    */
  def hllRegisters(df: org.apache.spark.sql.DataFrame,
      sliceCol: String, valueCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(sliceCol).as("slice"),
        md5(col(valueCol).cast("string").cast("binary")).as("hx"))
      .withColumn("bucket",
        expr("CAST(conv(substring(hx, 1, 3), 16, 10) AS LONG)"))
      .withColumn("trimmed", regexp_replace(substring(col("hx"), 4, 8), "^0*", ""))
      .withColumn("rho", expr(
        """CASE WHEN trimmed = '' THEN 33
          | ELSE (8 - length(trimmed)) * 4 +
          |   CASE WHEN substring(trimmed, 1, 1) = '1' THEN 3
          |        WHEN substring(trimmed, 1, 1) IN ('2', '3') THEN 2
          |        WHEN substring(trimmed, 1, 1) IN ('4', '5', '6', '7') THEN 1
          |        ELSE 0 END + 1 END""".stripMargin))
      .groupBy(col("slice"), col("bucket"))
      .agg(max(col("rho")).cast("long").as("r"))

  /** Register table -> per-slice estimate row. Every column is exact:
    * the harmonic denominator is scaled by 2^33 so each register term
    * 2^(33 - r) is an integer (r <= 33 keeps the shift in [0, 32];
    * empty registers contribute 2^33), and D <= 4096 * 2^33 = 2^45 is
    * exactly representable as a double — the raw estimate
    * floor(alpha * m^2 * 2^33 / D) is ONE IEEE multiply + divide on
    * exact operands, bit-identical across engines (alpha * m^2 * 2^33
    * is pre-folded into the literal 0.7211 * 2^57). Small-range
    * correction: when registers are empty and the raw estimate is
    * under 2.5m, linear counting m * ln(m / zeros) applies, with the
    * ln snapped by ROUND to whole counts (the q85/q86 cross-engine ln
    * idiom; only 4096 possible inputs). The branch condition compares
    * exact integers, so both engines take the same branch.
    *
    * The 0.7211 literal IS the standard HyperLogLog bias constant for
    * m = 4096 registers: Flajolet et al. 2007 give
    * alpha_m = 0.7213 / (1 + 1.079 / m), which evaluates to 0.72111…
    * at m = 4096 — 0.7211 to the 4 significant digits this estimator
    * pins. It is pinned as a LITERAL (not computed) because the oracle
    * SQL must replay the identical IEEE multiply; recompute it if the
    * register count ever changes (alpha_m is m-dependent below ~2^7,
    * asymptotically 0.72134).
    */
  def hllEstimate(regs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    regs.groupBy(col("slice"))
      .agg(count(lit(1)).as("n_regs"),
        sum(col("r")).as("sum_rho"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - r AS INT))")).as("dnz"))
      .withColumn("denom",
        (col("dnz") + (lit(4096L) - col("n_regs")) * lit(8589934592L)).cast("long"))
      .withColumn("est_raw",
        floor(lit(0.7211 * 144115188075855872.0) / col("denom").cast("double")).cast("long"))
      .withColumn("zeros", (lit(4096L) - col("n_regs")).cast("long"))
      .withColumn("est",
        when(col("zeros") > 0 && col("est_raw") <= 10240L,
          expr("CAST(ROUND(4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))) AS LONG)"))
          .otherwise(col("est_raw")))
      .select(col("slice"), col("n_regs"), col("sum_rho"), col("denom"),
        col("est_raw"), col("est"))

  /** Shared rho/register CTE text for the DuckDB replay of
    * [[hllRegisters]] — `src` must provide (slice, v) rows.
    */
  private[operators] def hllRegSql(src: String): String =
    s"""h AS (SELECT slice, md5(CAST(v AS VARCHAR)) AS hx FROM $src),
       |bits AS (SELECT slice,
       |    CAST(('0x' || substr(hx, 1, 3)) AS BIGINT) AS bucket,
       |    regexp_replace(substr(hx, 4, 8), '^0*', '') AS trimmed
       |  FROM h),
       |rho AS (SELECT slice, bucket,
       |    CASE WHEN trimmed = '' THEN 33
       |         ELSE (8 - length(trimmed)) * 4 +
       |           CASE WHEN substr(trimmed, 1, 1) = '1' THEN 3
       |                WHEN substr(trimmed, 1, 1) IN ('2', '3') THEN 2
       |                WHEN substr(trimmed, 1, 1) IN ('4', '5', '6', '7') THEN 1
       |                ELSE 0 END + 1 END AS rho
       |  FROM bits),
       |regs AS MATERIALIZED (
       |  SELECT slice, bucket, max(rho) AS r FROM rho GROUP BY 1, 2)""".stripMargin

  /** DuckDB replay of [[hllEstimate]] over a register CTE. */
  private[operators] def hllEstSql(regsCte: String): String =
    s"""SELECT slice,
       |  CAST(count(*) AS BIGINT) AS n_regs,
       |  CAST(sum(r) AS BIGINT) AS sum_rho,
       |  CAST(sum(1::BIGINT << (33 - r)) + (4096 - count(*)) * 8589934592 AS BIGINT) AS denom,
       |  CAST(floor(CAST(0.7211 * 144115188075855872.0 AS DOUBLE) /
       |    CAST(sum(1::BIGINT << (33 - r)) + (4096 - count(*)) * 8589934592 AS DOUBLE)) AS BIGINT) AS est_raw,
       |  CASE WHEN (4096 - count(*)) > 0 AND
       |      CAST(floor(CAST(0.7211 * 144115188075855872.0 AS DOUBLE) /
       |        CAST(sum(1::BIGINT << (33 - r)) + (4096 - count(*)) * 8589934592 AS DOUBLE)) AS BIGINT) <= 10240
       |    THEN CAST(ROUND(4096.0 * ln(4096.0 / CAST(4096 - count(*) AS DOUBLE))) AS BIGINT)
       |    ELSE CAST(floor(CAST(0.7211 * 144115188075855872.0 AS DOUBLE) /
       |      CAST(sum(1::BIGINT << (33 - r)) + (4096 - count(*)) * 8589934592 AS DOUBLE)) AS BIGINT)
       |  END AS est
       |FROM $regsCte GROUP BY slice""".stripMargin

  /** q96: per-source distinct-token estimates + their register-union
    * total over the documents corpus, on the PORTABLE md5-HLL —
    * ORACLE-CHECKED end to end (DuckDB rebuilds every register, the
    * per-register-max union, the exact scaled denominator and the
    * corrected estimate). ScaleSpec pins every estimate, the union's
    * included, within 5 % of the exact distinct count.
    */
  val q96: QueryDef = QueryDef.checked(
    "q96_hll_sketch_union",
    s"""WITH tok AS (
       |  SELECT source AS slice, unnest(string_split(text, ' ')) AS v FROM documents),
       |${hllRegSql("tok")},
       |allregs AS (
       |  SELECT slice, bucket, r FROM regs
       |  UNION ALL
       |  SELECT '__total__' AS slice, bucket, max(r) AS r FROM regs GROUP BY 2)
       |${hllEstSql("allregs")}
       |ORDER BY slice""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d).select(col("source"),
      explode(split(col("text"), " ")).as("t"))
    val regs = hllRegisters(tok, "source", "t").persist()
    val union = regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
      .select(lit("__total__").as("slice"), col("bucket"), col("r"))
    hllEstimate(regs.unionByName(union)).orderBy(col("slice"))
  }

  /** The count-min row-hash: bucket_j(t) = first-8-hex of
    * md5("salt:j:t") mod width — the q104 engine-reproducible hash
    * idiom, so DuckDB rebuilds the identical grid cell for cell.
    */
  private def cmsBucket(j: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.Column, width: Int,
      salt: String): org.apache.spark.sql.Column =
    // r16: digest nibbles read directly (graft.functions.Md5Prefix) —
    // bit-identical to conv(substring(md5(...), 1, 8), 16, 10) without
    // hex-encoding + re-parsing per (row, depth) cell
    graft.functions.Md5Prefix.md5Prefix(
      concat(lit(s"$salt:"), j.cast("string"), lit(":"), t)
        .cast("binary"), 8) % width

  /** Count-min sketch build: a depth×width grid of counters, cell
    * (j, b) = how many keys hash to bucket b under row-hash j. The
    * frequency sketch that complements [[heavyHitters]] (exact top
    * keys) and HLL (distinct counts): point-queryable approximate
    * counts for EVERY key in O(depth×width) space, overestimates only.
    *
    * Scale shape: one pass — each key expands to `depth` (j, bucket)
    * cells (a column-local explode) and ONE aggregation shuffles at
    * most depth×width distinct cells per map partition (map-side
    * combine collapses to the grid first, the same bound as a plain
    * groupBy on a low-cardinality key). The grid (depth×width rows) is
    * broadcast-sized by construction, so lookups never shuffle the
    * sketch side; grids from disjoint slices merge by cell-wise sum
    * (counters are linear — ScaleSpec pins union == merged parts).
    */
  def countMinSketch(keys: org.apache.spark.sql.DataFrame, keyCol: String,
      depth: Int, width: Int,
      salt: String = "cms"): org.apache.spark.sql.DataFrame =
    keys.select(col(keyCol).cast("string").as("t"))
      .filter(col("t").isNotNull)
      .select(col("t"),
        explode(array((0 until depth).map(lit(_)): _*)).as("j"))
      .select(col("j"), cmsBucket(col("j"), col("t"), width, salt).as("bucket"))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Point-query the sketch: est(t) = min over rows j of the cell the
    * key hashes to — ≥ the true count always (collisions only add).
    * The grid side is broadcast; keys the sketch never saw read empty
    * cells and estimate 0 via the left join.
    */
  def cmsEstimate(sketch: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.DataFrame, keyCol: String,
      depth: Int, width: Int,
      salt: String = "cms"): org.apache.spark.sql.DataFrame =
    keys.select(col(keyCol).cast("string").as("t"))
      .filter(col("t").isNotNull).distinct()
      .select(col("t"),
        explode(array((0 until depth).map(lit(_)): _*)).as("j"))
      .select(col("t"), col("j"),
        cmsBucket(col("j"), col("t"), width, salt).as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col("t"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** q211: sketch-based SELF-JOIN size (F2 moment) estimation — the
    * query-optimizer statistic: |R ⋈_k R| = Σ_g cnt(g)², estimated
    * from the count-min grid WITHOUT touching per-key counts as
    * est = min over rows j of Σ_b cell(j,b)² (the AMS-flavored inner
    * product; collisions only ADD cross terms, so est ≥ true always —
    * one-sided like every CMS read). The catalog query reports the
    * estimate, the exact truth, and the overshoot in ppm — all exact
    * integers, the estimator arithmetic hash-checked cell for cell
    * (q139's md5 grid idiom). At 100 TB: the grid is depth×width
    * mergeable state built map-side in one pass; the true-F2 branch
    * here exists only because the oracle needs it.
    */
  val q211: QueryDef = QueryDef.checked(
    "q211_cms_selfjoin_size",
    """WITH ks AS (SELECT CAST(l_partkey AS VARCHAR) AS t FROM lineitem),
      |js AS (SELECT * FROM (VALUES (0),(1),(2),(3)) v(j)),
      |cells AS (
      |  SELECT j,
      |    ('0x' || substring(md5('f2:' || CAST(j AS VARCHAR) || ':' || t), 1, 8))::BIGINT
      |      % 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM ks CROSS JOIN js GROUP BY 1, 2),
      |est AS (
      |  SELECT CAST(MIN(s) AS BIGINT) AS est_f2 FROM (
      |    SELECT j, SUM(cnt * cnt) AS s FROM cells GROUP BY j)),
      |truth AS (
      |  SELECT CAST(SUM(c * c) AS BIGINT) AS true_f2 FROM (
      |    SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey))
      |SELECT e.est_f2, t.true_f2,
      |  (e.est_f2 - t.true_f2) * 1000000 // t.true_f2 AS over_ppm
      |FROM est e, truth t""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select(col("l_partkey"))
    val sk = countMinSketch(li, "l_partkey", depth = 4, width = 256,
      salt = "f2")
    val est = sk.groupBy(col("j"))
      .agg(sum(col("cnt") * col("cnt")).as("srow"))
      .agg(min(col("srow")).cast("long").as("est_f2"))
    val truth = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).cast("long").as("true_f2"))
    est.crossJoin(truth)
      .select(col("est_f2"), col("true_f2"),
        expr("(est_f2 - true_f2) * 1000000 div true_f2").as("over_ppm"))
  }

  /** q139: count-min estimates for every user over the events table —
    * width 64 < 150 distinct users, so collisions are REAL here and the
    * oracle certifies the exact overestimating arithmetic, not a lucky
    * collision-free case. ScaleSpec pins the ≥-true guarantee, cell-wise
    * mergeability, and exactness at a collision-free width.
    */
  val q139: QueryDef = QueryDef.checked(
    "q139_count_min_sketch",
    """WITH ks AS (SELECT CAST(user_id AS VARCHAR) AS t FROM events),
      |js AS (SELECT * FROM (VALUES (0),(1),(2),(3)) v(j)),
      |cells AS (
      |  SELECT j,
      |    ('0x' || substring(md5('cms:' || CAST(j AS VARCHAR) || ':' || t), 1, 8))::BIGINT
      |      % 64 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM ks CROSS JOIN js GROUP BY 1, 2),
      |qh AS (
      |  SELECT t, j,
      |    ('0x' || substring(md5('cms:' || CAST(j AS VARCHAR) || ':' || t), 1, 8))::BIGINT
      |      % 64 AS bucket
      |  FROM (SELECT DISTINCT t FROM ks) CROSS JOIN js)
      |SELECT CAST(t AS BIGINT) AS user_id, MIN(cnt) AS est
      |FROM qh JOIN cells USING (j, bucket)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"))
    val sk = countMinSketch(ev, "user_id", depth = 4, width = 64)
    cmsEstimate(sk, ev, "user_id", depth = 4, width = 64)
      .select(col("t").cast("bigint").as("user_id"), col("est"))
      .orderBy(col("user_id"))
  }

  /** q216: KMV (k-minimum-values) distinct sketch — the fifth sketch
    * corner (q96 HLL is the engine-internal distinct estimator; KMV is
    * the TRANSPARENT one: its whole state is the k=256 smallest Knuth
    * hashes of the key set, so DuckDB replays it exactly and the driver
    * hash-checks estimator state AND estimate, which no HLL register
    * dump allows). est = (k−1)·2³²/h_k by the uniform-order-statistic
    * argument; groups with fewer than k distinct hashes report their
    * exact count. Mergeability is certified structurally: the `__union`
    * row re-sketches the UNION of the per-group kept sets — exactly the
    * distributed merge (ship k values per node, never the keys).
    * Scale shape: the distinct + per-group top-k is one (grp,h) agg +
    * one grp-keyed rank window; at 100 TB you'd pre-filter h against a
    * per-group threshold broadcast from a sample before the shuffle —
    * the window never sees more than the surviving hashes either way.
    */
  val q216: QueryDef = QueryDef.checked(
    "q216_kmv_sketch",
    """WITH b AS (
      |  SELECT l_returnflag AS grp, l_orderkey AS k,
      |    (l_orderkey * 2654435761) % 4294967296 AS h
      |  FROM lineitem),
      |ex AS (SELECT grp, COUNT(DISTINCT k) AS n_exact FROM b GROUP BY grp),
      |hd AS (SELECT DISTINCT grp, h FROM b),
      |rk AS (SELECT grp, h,
      |  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS r FROM hd),
      |keep AS (SELECT grp, h FROM rk WHERE r <= 256),
      |pg AS (
      |  SELECT g.grp, g.n_kept, g.hk,
      |    CASE WHEN g.n_kept >= 256
      |      THEN (255 * 4294967296) // g.hk ELSE g.n_kept END AS est,
      |    ex.n_exact
      |  FROM (SELECT grp, COUNT(*) AS n_kept, MAX(h) AS hk
      |        FROM keep GROUP BY grp) g
      |  JOIN ex USING (grp)),
      |uh AS (SELECT DISTINCT h FROM keep),
      |urk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r FROM uh),
      |ug AS (SELECT COUNT(*) AS n_kept, MAX(h) AS hk
      |       FROM urk WHERE r <= 256),
      |uex AS (SELECT COUNT(DISTINCT k) AS n_exact FROM b)
      |SELECT grp, CAST(n_kept AS BIGINT) AS n_kept, hk,
      |  CAST(est AS BIGINT) AS est, CAST(n_exact AS BIGINT) AS n_exact
      |FROM pg
      |UNION ALL
      |SELECT '__union', CAST(ug.n_kept AS BIGINT), ug.hk,
      |  CAST(CASE WHEN ug.n_kept >= 256
      |    THEN (255 * 4294967296) // ug.hk ELSE ug.n_kept END AS BIGINT),
      |  CAST((SELECT n_exact FROM uex) AS BIGINT)
      |FROM ug
      |ORDER BY grp""".stripMargin) { (s, d) =>
    val b = Tables.lineitem(s, d).select(
      col("l_returnflag").as("grp"), col("l_orderkey").as("k"),
      expr("(l_orderkey * 2654435761L) % 4294967296L").as("h"))
    val ex = b.groupBy(col("grp"))
      .agg(countDistinct(col("k")).as("n_exact"))
    val keep = b.select(col("grp"), col("h")).distinct()
      .withColumn("r", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("r") <= 256)
    def sketchOut(g: org.apache.spark.sql.RelationalGroupedDataset) = g
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .withColumn("est",
        expr("CAST(CASE WHEN n_kept >= 256 THEN (255 * 4294967296L) div hk " +
          "ELSE n_kept END AS BIGINT)"))
    val perGroup = sketchOut(keep.groupBy(col("grp")))
      .join(ex, Seq("grp"))
      .select(col("grp"), col("n_kept"), col("hk"), col("est"), col("n_exact"))
    val union = sketchOut(
        keep.select(col("h")).distinct()
          .withColumn("r", row_number().over(Window.orderBy(col("h"))))
          .filter(col("r") <= 256).groupBy())
      .crossJoin(broadcast(b.agg(countDistinct(col("k")).as("n_exact"))))
      .select(lit("__union").as("grp"), col("n_kept"), col("hk"),
        col("est"), col("n_exact"))
    perGroup.unionAll(union).orderBy(col("grp"))
  }

  /** q219: salted skew join — the manual hot-key remedy for when AQE
    * can't help (stateful plans, pre-3.0 clusters) and the dim side is
    * too big to broadcast: the fact side appends salt = fact_key mod 8,
    * the dim side replicates each row across all 8 salts (`explode` of
    * a literal range — 8× the SMALL side only), and the join keys on
    * (key, salt) so one hot key's rows spread over 8 shuffle
    * partitions instead of one straggler. The `merge` hint forces the
    * shuffled path (a broadcast would privately defeat the
    * demonstration at this SF); the oracle is the PLAIN join — salting
    * must be answer-invariant, which is the whole correctness
    * contract. PlanShapeSpec pins the salted key into the join.
    */
  val q219: QueryDef = QueryDef.checked(
    "q219_salted_join",
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS rev_cents
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
    val fact = Tables.lineitem(s, d).select(
      col("l_suppkey").as("k"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"),
      expr("l_orderkey % 8").as("salt"))
    val dim = Tables.supplier(s, d)
      .select(col("s_suppkey").as("k"), col("s_nationkey"))
      .withColumn("salt", explode(sequence(lit(0L), lit(7L))))
    fact.hint("merge")
      .join(dim, Seq("k", "salt"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_cents"))
      .orderBy(col("s_nationkey"))
  }

  /** q228: runtime bloom-filter join — Catalyst's InjectRuntimeFilter
    * (the Spark-native cousin of q62's hand-built bloom prune): when a
    * shuffled join's build side carries a selective predicate, the
    * optimizer plants a BloomFilterAggregate over the build keys and
    * rewrites the probe scan to `might_contain(key)`, discarding
    * non-joining fact rows BEFORE the shuffle — at 100 TB this is the
    * difference between shuffling the whole fact table and shuffling
    * the ~joining fraction. The thresholds are sized for real clusters
    * (probe ≥ 10 GB), so the query runs in an ISOLATED session (q158's
    * newSession scoping) with the size gates opened and broadcast
    * disabled — the conf shapes the PLAN only; the oracle is the plain
    * join, and PlanShapeSpec pins `might_contain` into the probe scan.
    */
  val q228: QueryDef = QueryDef.checked(
    "q228_bloom_runtime_join",
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS rev_cents
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_nationkey < 5
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
    val iso = s.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    iso.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    val fact = Tables.lineitem(iso, d).select(
      col("l_suppkey").as("k"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
    val dim = Tables.supplier(iso, d)
      .filter(col("s_nationkey") < 5)
      .select(col("s_suppkey").as("k"), col("s_nationkey"))
    fact.join(dim, Seq("k"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_cents"))
      .orderBy(col("s_nationkey"))
  }

  /** q234: AQE skew-join split certified under the gate — the RUNTIME
    * half of the skew story (q219 is the manual remedy, q221 the
    * diagnostic): OptimizeSkewedJoin inspects the actual map-output
    * sizes after the shuffle stage materializes, and a reduce partition
    * larger than max(factor·median, threshold) is split into
    * advisory-sized sub-reads whose counterpart side is duplicated per
    * split — the no-code-change fix for the hot key that would
    * otherwise pin one reducer for hours at 100 TB. The thresholds are
    * sized for real clusters, so (q228's discipline) the query runs in
    * an ISOLATED session with the knobs opened wide enough that this
    * SF's shuffle qualifies; the conf shapes SCHEDULING only. Broadcast
    * is disabled to keep the join on the shuffled merge path AQE splits
    * (a broadcast would dissolve the skew, which is the OTHER remedy —
    * q221 decides between them). Oracle = the plain join; PlanShapeSpec
    * pins `skew=true` in the executed join node.
    */
  val q234: QueryDef = QueryDef.checked(
    "q234_aqe_skew_join",
    """SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(c.c_nationkey) AS BIGINT) AS sum_nk
      |FROM (SELECT event_type, LEAST(user_id % 1000, 10) AS hk
      |      FROM events) e
      |JOIN (SELECT c_custkey AS hk, c_nationkey FROM customer
      |      WHERE c_custkey <= 10) c USING (hk)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
    val iso = s.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // detection: size > max(factor·median, threshold), split target =
    // max(advisory, median) — UNIFORM partitions can never split (no
    // chunk boundary beats the median), so the fact side plants a hot
    // key: least(user_id % 1000, 10) funnels ~99 % of rows into hk=10,
    // the stand-in for the production hot entity (the null-key / bot /
    // default-value classic). Knobs scaled to this SF's bytes
    // (production: 256 MB advisory / factor 5); the conf shapes
    // SCHEDULING only — the oracle is the plain join.
    iso.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    iso.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    iso.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    iso.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // Skew splits are MAP-RANGE subsets of a reduce partition — with a
    // single-file local scan there is ONE mapper and nothing to split
    // on, so the fact side recreates the production mapper count
    // explicitly (a 100 TB scan has thousands of map tasks; this
    // round-robin exchange stands in for them).
    val ev = Tables.events(iso, d)
      .select(expr("least(user_id % 1000, 10L)").as("hk"), col("event_type"))
      .repartition(8)
    val dim = Tables.customer(iso, d)
      .filter(col("c_custkey") <= 10)
      .select(col("c_custkey").as("hk"), col("c_nationkey"))
    ev.join(dim, Seq("hk"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_nationkey").cast("long")).as("sum_nk"))
      .orderBy(col("event_type"))
  }

  /** q247: SKETCH-merged trailing actives — the 100 TB path for q165's
    * exact trailing-7-day distinct users: instead of re-touching seven
    * days of (user, day) rows per output day (q165's range join — exact
    * but O(7×) re-scan), each day aggregates ONCE into an HLL register
    * table (≤ 4096 (bucket, rho) rows per day) and every trailing
    * window is a per-register MAX over seven such tables — the
    * day→registers table is the reusable asset, and yesterday's
    * registers never recompute when today arrives (the incremental
    * property exact distinct cannot have). Built on the PORTABLE
    * md5-HLL ([[hllRegisters]]/[[hllEstimate]]) so the whole pipeline —
    * register build, trailing merge, corrected estimate — is
    * ORACLE-CHECKED. The day spine × registers
    * range join duplicates at most 7 × 4096 register rows per day —
    * bounded by the calendar, not the corpus. ScaleSpec additionally
    * pins every day's estimate within 5 % of q165's exact count.
    */
  val q247: QueryDef = QueryDef.checked(
    "q247_hll_rolling_actives",
    s"""WITH du AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS slice, user_id AS v FROM events),
       |${hllRegSql("du")},
       |merged AS (
       |  SELECT s.rday AS slice, r.bucket, max(r.r) AS r
       |  FROM (SELECT DISTINCT slice AS rday FROM regs) s
       |  JOIN regs r ON r.slice BETWEEN s.rday - 6 AND s.rday
       |  GROUP BY 1, 2),
       |est AS (
       |${hllEstSql("merged")})
       |SELECT slice AS day, n_regs, sum_rho, denom, est_raw,
       |  est AS est_actives
       |FROM est ORDER BY day""".stripMargin) { (s, d) =>
    val du = Tables.events(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
    val daily = hllRegisters(du, "day", "user_id").persist()
    val spine = daily.select(col("slice").as("rday")).distinct()
    // q165's explode+equi-join shape, NOT a range join: each register
    // row fans out to the ≤7 window anchors it serves, the spine join
    // keeps only days that exist — one shuffle, no nested-loop join
    val merged = daily
      .withColumn("rday", explode(sequence(col("slice"), col("slice") + 6)))
      .join(spine, Seq("rday"))
      .groupBy(col("rday"), col("bucket"))
      .agg(max(col("r")).as("r"))
      .select(col("rday").as("slice"), col("bucket"), col("r"))
    hllEstimate(merged)
      .select(col("slice").as("day"), col("n_regs"), col("sum_rho"),
        col("denom"), col("est_raw"), col("est").as("est_actives"))
      .orderBy(col("day"))
  }
}
