package graft

import graft.pipeline._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("IVF ANN reaches ≥40% recall@10 vs brute force with nprobe=2/16") {
    val brute = SparkEntry.queries("q32_ann_bruteforce_topk")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("q47_ann_ivf_topk")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.4, s"ivf recall $recall")
  }

  /** Planted-cluster fixture shared by the IVF, PQ and IVF-PQ recall
    * tests: 8 unit-norm centers in 16 dims, 64 members each (vec_id i
    * belongs to cluster i % 8) at noise 0.25, seed 7 — plus the exact
    * top-10 neighbors of vec_ids 0–4 (unit vectors → dot = cosine).
    * Clustered data is the ANN codebooks' design case: lists ≈
    * clusters, so a trained codebook must recover nearly all true
    * neighbors. Random data (the catalog tests) can't show this.
    */
  private def plantedClusters()
      : (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16; val nClusters = 8; val perCluster = 64
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    val points: Seq[(Long, Seq[Double])] = (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      val p = normalize(c.zip(Array.fill(dim)(rnd.nextGaussian() * 0.25))
        .map { case (a, b) => a + b })
      (i.toLong, p.toSeq)
    }
    val brute = (0 until 5).flatMap { q =>
      val vq = points(q)._2.toArray
      points.filter(_._1 != q)
        .map { case (id, v) => (id, vq.zip(v).map { case (a, b) => a * b }.sum) }
        .sortBy { case (id, sim) => (-sim, id) }.take(10)
        .map { case (id, _) => (q.toLong, id) }
    }.toSet
    (points.toDF("vec_id", "v"), brute)
  }

  private def recall(brute: Set[(Long, Long)],
      ann: org.apache.spark.sql.DataFrame): Double = {
    val got = ann.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    brute.count(got.contains).toDouble / brute.size
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath.toString

  private object adaptive
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  test("trained IVF codebook reaches ≥0.8 recall@10 on planted clusters") {
    val (e, brute) = plantedClusters()
    val r = recall(brute, graft.operators.Scale
      .ivfTopKGridL2(e, nQueries = 5, topK = 10, nCentroids = 8, nProbe = 2))
    spark.catalog.clearCache()
    assert(r >= 0.8, s"planted-cluster recall $r")
  }

  test("grid IVF index path is row-identical to the one-shot grid operator") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val oneShot = graft.operators.Scale.ivfTopKGridL2(e)
      .collect().map(_.toSeq).toSeq
    val path = tempDir("ivfgrid_spec_")
    graft.operators.Scale.saveIvfIndexGrid(e, path)
    val viaIndex = graft.operators.Scale
      .ivfTopKGridFromIndex(spark, path, e.filter(col("vec_id") < 5))
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == oneShot,
      s"grid index path diverged: ${viaIndex.take(3)} vs ${oneShot.take(3)}")
    // partition pruning: one query probes nProbe = 4 lists, and the
    // executed glists scan (the only one reading `gx`) reads only those
    // cid directories
    val one = graft.operators.Scale
      .ivfTopKGridFromIndex(spark, path, e.filter(col("vec_id") < 1))
    one.collect()
    val listScans = adaptive.collect(one.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "gx") => f
    }
    assert(listScans.size == 1, s"one glists scan: ${one.queryExecution.executedPlan}")
    val read = listScans.head.metrics("numPartitions").value
    val lists = new java.io.File(s"$path/glists").listFiles()
      .count(_.getName.startsWith("cid="))
    assert(read >= 1 && read <= 4 && read < lists,
      s"the list scan read $read of $lists cid directories for 4 probes")
    spark.catalog.clearCache()
    rm(new java.io.File(path))
  }

  test("incremental IVF ingest == monolithic assignment under the same centroids") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    def lists(p: String): Map[Long, (Long, Seq[Long])] =
      spark.read.parquet(s"$p/glists")
        .select(col("vec_id"), col("cid").cast("long"), col("gx")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    /** Build an index on `base`, then append `fresh` (no retrain):
      * every base list entry must survive verbatim, and every appended
      * vector must carry the argmin cid of exact integer squared L2
      * over the STORED centroids, ties to the lowest cid. Returns how
      * many appended vectors had a tie.
      */
    def checkAppend(base: org.apache.spark.sql.DataFrame,
        fresh: org.apache.spark.sql.DataFrame, nCentroids: Int): Int = {
      val path = tempDir("ivfginc_spec_")
      graft.operators.Scale.saveIvfIndexGrid(base, path, nCentroids)
      val b = lists(path)
      graft.operators.Scale.appendToIvfIndexGrid(fresh, path)
      val inc = lists(path)
      assert(b.toSet.subsetOf(inc.toSet), "append must never touch existing lists")
      val cents = spark.read.parquet(s"$path/gcentroids")
        .select(col("cid").cast("long"), col("i").cast("long"),
          col("c").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (cid, cs) => cid -> cs.sortBy(_._2).map(_._3).toSeq }
      val appended = inc -- b.keySet
      assert(appended.keySet == fresh.select("vec_id").collect().map(_.getLong(0)).toSet)
      var ties = 0
      appended.foreach { case (id, (cid, gx)) =>
        val d = cents.map { case (c, cv) =>
          (gx.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum, c)
        }
        val best = d.min // (d2, cid) order: ties → lowest cid
        if (d.count(_._1 == best._1) > 1) ties += 1
        assert(cid == best._2, s"vec $id appended to list $cid, argmin is $best")
      }
      rm(new java.io.File(path))
      ties
    }
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val cut = (e.agg(max(col("vec_id"))).head().getLong(0) + 1L) * 9L / 10L
    checkAppend(e.filter(col("vec_id") < cut), e.filter(col("vec_id") >= cut), 16)
    // real corpora rarely tie, so pin the tie-break on centroids
    // (1e6, 0) and (−1e6, 0): (0, ±y) is equidistant from both
    val two = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(-1.0, 0.0))).toDF("vec_id", "v")
    val fresh = Seq((2L, Seq(0.0, 1.0)), (3L, Seq(0.0, -0.5)),
      (4L, Seq(-0.5, 0.2))).toDF("vec_id", "v")
    assert(checkAppend(two, fresh, 2) == 2, "the fixture must plant two ties")
    // the catalog query over the combined index runs and returns top-k
    val q = SparkEntry.queries("q175_ann_ivf_incremental")(spark, sf)
    assert(q.collect().length > 0)
    spark.catalog.clearCache()
  }

  test("PQ ANN with exact re-rank reaches ≥0.6 recall@10 vs brute force") {
    val brute = SparkEntry.queries("q32_ann_bruteforce_topk")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SparkEntry.queries("q63_ann_pq_topk")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(pq.contains).toDouble / brute.size
    assert(recall >= 0.6, s"pq recall $recall")
  }

  /** Planted clusters: PQ codes plus the 32-candidate exact re-rank
    * must recover nearly all true neighbors when the data clusters.
    */
  test("PQ re-rank reaches ≥0.8 recall@10 on planted clusters") {
    val (e, brute) = plantedClusters()
    val r = recall(brute, graft.operators.Scale.pqTopKGridL2(e, nQueries = 5,
      topK = 10, m = 4, codebookSize = 16, rerank = 32, dim = 16))
    spark.catalog.clearCache()
    assert(r >= 0.8, s"pq planted-cluster recall $r")
  }

  test("IVF-PQ with exact re-rank reaches ≥0.6 recall@10 vs brute force") {
    val brute = SparkEntry.queries("q32_ann_bruteforce_topk")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SparkEntry.queries("q197_ann_ivfpq_topk")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivfpq.contains).toDouble / brute.size
    assert(recall >= 0.6, s"ivfpq recall $recall")
  }

  test("q247 HLL rolling actives within 5% of the exact q165 counts") {
    import org.apache.spark.sql.functions.col
    val exact = SparkEntry.queries("q165_trailing_actives")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = SparkEntry.queries("q247_hll_rolling_actives")(spark, sf)
      .select(col("day"), col("est_actives")).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (day, e) =>
      val t = exact(day).toDouble
      assert(math.abs(e - t) / t <= 0.05,
        s"day $day: estimate $e vs exact $t exceeds 5%")
    }
  }

  /** Planted clusters again: with lists ≈ clusters, residual PQ must
    * recover nearly all true neighbors through BOTH prunes (list probe
    * AND m-code payload) plus the exact re-rank.
    */
  test("IVF-PQ reaches ≥0.8 recall@10 on planted clusters") {
    val (e, brute) = plantedClusters()
    val r = recall(brute, graft.operators.Scale.ivfPqTopKGridL2(e,
      nQueries = 5, topK = 10, nCentroids = 8, nProbe = 3, m = 4,
      codebookSize = 16, rerank = 32, dim = 16))
    spark.catalog.clearCache()
    assert(r >= 0.8, s"ivfpq planted-cluster recall $r")
  }

  test("group outliers flag exactly the planted off-centroid vectors") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // two labeled clusters of 40 tight members each + 3 planted outliers
    // per label pointing AWAY from the center
    val centers = Array.fill(2)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until 2).flatMap { label =>
      val c = centers(label)
      val members = (0 until 40).map { i =>
        val p = normalize(c.zip(Array.fill(dim)(rnd.nextGaussian() * 0.1))
          .map { case (a, b) => a + b })
        (label, (label * 100 + i).toLong, p.toSeq)
      }
      val outliers = (0 until 3).map { i =>
        val p = normalize(c.map(-_).zip(Array.fill(dim)(rnd.nextGaussian() * 0.1))
          .map { case (a, b) => a + b })
        (label, (label * 100 + 90 + i).toLong, p.toSeq)
      }
      members ++ outliers
    }
    val e = rows.toDF("label", "vec_id", "v")
    val flagged = graft.operators.Similarity.groupOutliers(e, k = 3)
      .select("label", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val planted = (0 until 2).flatMap(l =>
      (0 until 3).map(i => (l, (l * 100 + 90 + i).toLong))).toSet
    assert(flagged === planted)
    spark.catalog.clearCache()
  }

  test("hard negatives exclude same-label vectors and rank by similarity") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    val dim = 8
    def unit(): Seq[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val rows = (0 until 60).map(i => ((i % 3), i.toLong, unit()))
    val e = rows.toDF("label", "vec_id", "v")
    val out = graft.operators.Similarity.hardNegatives(e, e.filter(col("vec_id") < 6), topK = 5)
      .collect()
    val labelOf = rows.map(r => r._2 -> r._1).toMap
    // every mined negative is cross-label
    out.foreach { r =>
      assert(labelOf(r.getAs[Long]("anchor_id")) !== labelOf(r.getAs[Long]("negative_id")))
    }
    // ranks are 1..5 per anchor and similarity is non-increasing in rank
    val byAnchor = out.groupBy(_.getAs[Long]("anchor_id"))
    assert(byAnchor.size === 6)
    byAnchor.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === (1 to 5))
      val sims = sorted.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    spark.catalog.clearCache()
  }

  test("heavy hitters are exact under forced MG evictions (small k, skewed keys)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    // zipf-ish: few hot keys + a long random tail; k=16 forces constant
    // sketch evictions so the test exercises the MG bound, not a lucky fit.
    // share 6% > 1/(k+1) = 5.88% (the exactness precondition); hot keys sit
    // at ~6.7% each, tail keys far below.
    val hot = (0 until 2000).map(_ => s"hot${rnd.nextInt(3)}")
    val tail = (0 until 8000).map(_ => s"tail${rnd.nextInt(3000)}")
    val df = rnd.shuffle(hot ++ tail).toDF("t").repartition(8)
    val share = 60000L
    val got = graft.operators.Scale.heavyHitters(df, "t", sharePpm = share, k = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = df.groupBy("t").agg(count(lit(1)).as("c"))
      .filter(col("c") * 1000000L >= lit(share) * 10000L)
      .orderBy(col("c").desc, col("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(want.nonEmpty && got === want)
    spark.catalog.clearCache()
  }

  test("HLL slice sketches: estimates near exact, sketch-union == direct global") {
    val s2 = spark
    import org.apache.spark.sql.functions._
    val tok = Tables.documents(s2, sf).select(col("source"),
      explode(split(col("text"), " ")).as("t"))
    // the oracle-checked portable md5-HLL catalog entry
    val got = SparkEntry.queries("q96_hll_sketch_union")(s2, sf)
      .select(col("slice"), col("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactPer = tok.groupBy("source").agg(countDistinct(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactTotal = tok.select("t").distinct().count()
    exactPer.foreach { case (src, n) =>
      assert(math.abs(got(src) - n) <= math.max(2L, (n * 0.05).toLong),
        s"$src: est ${got(src)} vs exact $n")
    }
    assert(math.abs(got("__total__") - exactTotal) <=
      math.max(2L, (exactTotal * 0.05).toLong),
      s"union est ${got("__total__")} vs exact $exactTotal")
    // the DataSketches binary-register library path: estimates near
    // exact, and the union of per-slice sketches must equal the sketch
    // built directly over the whole corpus
    val lib = graft.operators.Scale.sliceSketchUnion(tok, "source", "t")
      .select(col("slice"), col("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    exactPer.foreach { case (src, n) =>
      assert(math.abs(lib(src) - n) <= math.max(2L, (n * 0.05).toLong),
        s"sketch $src: est ${lib(src)} vs exact $n")
    }
    val direct = tok.agg(
      hll_sketch_estimate(hll_sketch_agg(col("t"))).as("e"))
      .head().getLong(0)
    assert(lib("__total__") == direct,
      s"sketch-union ${lib("__total__")} != direct-global $direct")
  }

  test("md5-HLL estimator holds ±5% across the linear-counting and raw branches") {
    val s = spark
    import org.apache.spark.sql.functions._
    // n spans both sides of the 2.5m small-range boundary (m = 4096):
    // 60/800/8000 resolve through linear counting, 60000 through the
    // raw harmonic estimate. Deterministic hash → a passing bound is a
    // permanent certificate, not a flaky sample.
    for (n <- Seq(60L, 800L, 8000L, 60000L)) {
      val df = s.range(n).select(lit("s").as("slice"),
        (col("id") * 7919L + 13L).as("v"))
      val est = graft.operators.Scale.hllEstimate(
        graft.operators.Scale.hllRegisters(df, "slice", "v"))
        .head().getAs[Long]("est")
      assert(math.abs(est - n) <= math.max(3L, (n * 0.05).toLong),
        s"n=$n est=$est")
    }
  }

  test("property: heavy hitters equal the naive groupBy over random corpora/thresholds") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(31)
    (0 until 5).foreach { trial =>
      val nKeys = 20 + rnd.nextInt(200)
      val skew = 1 + rnd.nextInt(4) // zipf-ish exponent
      val rows = (0 until 3000).map { _ =>
        val r = rnd.nextDouble()
        s"k${(math.pow(r, skew) * nKeys).toInt}"
      }
      val k = 16 + rnd.nextInt(64)
      // any ppm above the MG bound; the result must be EXACT regardless
      val ppm = 1000000L / (k + 1) + 1 + rnd.nextInt(50000)
      val df = rows.toDF("t").repartition(1 + rnd.nextInt(8))
      val got = graft.operators.Scale.heavyHitters(df, "t", ppm, k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val want = df.groupBy("t").agg(count(lit(1)).as("c"))
        .filter(col("c") * 1000000L >= lit(ppm) * 3000L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === want, s"trial $trial (k=$k ppm=$ppm)")
      spark.catalog.clearCache()
    }
  }

  test("property: every token lands in a chunk and overlaps agree with stride") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(37)
    val docs = (0 until 50).map { i =>
      val n = 1 + rnd.nextInt(120)
      (i.toLong, (0 until n).map(j => s"w${i}_$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val win = 16; val stride = 12
    val chunks = graft.operators.Curation.chunkDocs(df, win, stride).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    docs.foreach { case (id, text) =>
      val toks = text.split(" ")
      val cs = byDoc(id).sortBy(_.getAs[Long]("chunk_id"))
      // chunk i starts at i*stride and matches the source slice exactly
      cs.foreach { c =>
        val i = c.getAs[Long]("chunk_id").toInt
        val expectTokens = toks.slice(i * stride, math.min(i * stride + win, toks.length))
        assert(c.getAs[String]("chunk_text") === expectTokens.mkString(" "))
        assert(c.getAs[Long]("chunk_len") === expectTokens.length.toLong)
      }
      // coverage: chunk starts advance by stride while they stay < n,
      // so every token index < n falls inside some [i*stride, i*stride+win)
      val nChunks = cs.length
      assert(nChunks === (toks.length - 1) / stride + 1)
      assert((nChunks - 1) * stride < toks.length)
    }
  }

  test("count-min sketch: ≥-true guarantee, cell-wise merge, exact when wide") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    // zipfish key mix so several keys share buckets at width 16
    val keys = (0 until 3000).map(_ => s"k${(math.pow(rnd.nextDouble(), 2) * 40).toInt}")
    val df = keys.toDF("k")
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val sk = graft.operators.Scale.countMinSketch(df, "k", depth = 4, width = 16)
    val est = graft.operators.Scale
      .cmsEstimate(sk, df, "k", depth = 4, width = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == truth.keySet)
    truth.foreach { case (k, c) =>
      assert(est(k) >= c, s"CMS underestimated $k: ${est(k)} < $c")
    }
    // mergeability: sketch(all) == cell-wise sum of the two half sketches
    val (h1, h2) = keys.splitAt(1500)
    val merged = graft.operators.Scale.countMinSketch(h1.toDF("k"), "k", 4, 16)
      .unionByName(graft.operators.Scale.countMinSketch(h2.toDF("k"), "k", 4, 16))
      .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = sk.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole, "cell-wise merged half-sketches != whole sketch")
    // collision-free width ⇒ exact (deterministic: md5 buckets are fixed)
    val wide = graft.operators.Scale.cmsEstimate(
        graft.operators.Scale.countMinSketch(df, "k", 4, 8192),
        df, "k", 4, 8192)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide == truth, "wide CMS should be exact on 40 keys")
    // unseen keys read empty cells through the left join and estimate 0
    // (at a collision-free width; a narrow grid would honestly
    // overestimate them onto occupied cells)
    val unseen = graft.operators.Scale.cmsEstimate(
        graft.operators.Scale.countMinSketch(df, "k", 4, 8192),
        Seq("nope1", "nope2").toDF("k"), "k", 4, 8192)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unseen.values.forall(_ == 0L), s"unseen keys: $unseen")
  }

  test("quantile sketch: merge == one-shot; width 1 == exact rank pick") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(19)
    val rows = (0 until 4000).map(i =>
      (s"g${i % 3}", (math.pow(rnd.nextDouble(), 2) * 200).toLong))
    val df = rows.toDF("g", "v")
    // cell-wise merged half-sketches == one-shot sketch
    val whole = graft.operators.Scale.histogramSketch(df, "g", col("v"), 10L)
    val (h1, h2) = rows.splitAt(2000)
    val merged = graft.operators.Scale
      .histogramSketch(h1.toDF("g", "v"), "g", col("v"), 10L)
      .unionByName(graft.operators.Scale
        .histogramSketch(h2.toDF("g", "v"), "g", col("v"), 10L))
      .groupBy(col("g"), col("b")).agg(sum(col("c")).as("c"))
    def cells(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells(merged) == cells(whole))
    // quantiles off the merged state equal quantiles off the one-shot
    def q(x: org.apache.spark.sql.DataFrame) =
      graft.operators.Scale.sketchQuantiles(x, "g", 10L, Seq(500000L, 950000L))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(q(merged) == q(whole))
    // width 1 on integer data: the upper bound IS the exact
    // ceil(q·n)-th smallest value (percentile_disc semantics)
    val w1 = graft.operators.Scale.sketchQuantiles(
        graft.operators.Scale.histogramSketch(df, "g", col("v"), 1L),
        "g", 1L, Seq(500000L, 950000L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    w1.foreach { case (g, p50, p95) =>
      val vs = byG(g)
      def pick(ppm: Long): Long =
        vs((((ppm * vs.size + 999999L) / 1000000L).toInt - 1).max(0))
      assert(p50 == pick(500000L), s"$g p50")
      assert(p95 == pick(950000L), s"$g p95")
    }
    // one-sided error at width 10: ub ≥ exact, ub − exact < 10
    val w10 = q(whole)
    w10.foreach { case (g, (p50, p95)) =>
      val vs = byG(g)
      def pick(ppm: Long): Long =
        vs((((ppm * vs.size + 999999L) / 1000000L).toInt - 1).max(0))
      assert(p50 >= pick(500000L) && p50 - pick(500000L) < 10, s"$g p50 bound")
      assert(p95 >= pick(950000L) && p95 - pick(950000L) < 10, s"$g p95 bound")
    }
  }

  test("quantile sketch: upper bound stays one-sided on negative domains") {
    // truncate-toward-zero buckets are asymmetric around zero: bucket
    // b < 0 spans [b·w−(w−1), b·w], so its upper bound is b·w, NOT
    // b·w+w−1 (which no value in the bucket attains). Pin the contract
    // (0 ≤ UB − v* ≤ w−1 for the exact rank-picked v*) across a domain
    // straddling zero.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 3000).map(i =>
      (s"g${i % 2}", rnd.nextLong(101) - 50)) // values in [-50, 50]
    val df = rows.toDF("g", "v")
    val got = graft.operators.Scale.sketchQuantiles(
        graft.operators.Scale.histogramSketch(df, "g", col("v"), 5L),
        "g", 5L, Seq(250000L, 500000L, 950000L))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    got.foreach { case (g, (p25, p50, p95)) =>
      val vs = byG(g)
      def pick(ppm: Long): Long =
        vs((((ppm * vs.size + 999999L) / 1000000L).toInt - 1).max(0))
      Seq(p25 -> pick(250000L), p50 -> pick(500000L),
          p95 -> pick(950000L)).foreach { case (ub, v) =>
        // bucket span is w−1 except bucket 0, which truncate-toward-
        // zero widens to [−(w−1), w−1] (span 2w−2) — the documented
        // worst case on a domain straddling zero
        val span = if (v > -5L && v < 5L) 8L else 4L
        assert(ub >= v && ub - v <= span, s"$g: UB $ub vs exact $v")
      }
    }
  }

  test("heavy hitters on an empty corpus returns an empty frame, not an NPE") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[String].toDF("t")
    assert(graft.operators.Scale.heavyHitters(empty, "t", sharePpm = 60000L, k = 16)
      .collect().isEmpty)
    spark.catalog.clearCache()
  }

  test("salted join result equals the naive join result") {
    import org.apache.spark.sql.functions._
    val salted = SparkEntry.queries("q48_skew_salted_join")(spark, sf).collect()
    val naive = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    salted.foreach { r =>
      assert(r.getAs[Long]("n") === naive(r.getAs[String]("flag")))
    }
  }

  /** SURVEY §5.4 property test: under arbitrary fail/success response
    * sequences the producer never loses a record except by the declared
    * drop rules (K5 batch shed, K6 attempt limit) — added == sent +
    * dropped, buffer empty, after a successful drain.
    */
  test("property: producer conserves records under random failure scripts") {
    val rnd = new scala.util.Random(2026)
    (0 until 40).foreach { trial =>
      val nRecords = 1 + rnd.nextInt(300)
      val batchSize = 1 + rnd.nextInt(20)
      val script = Seq.fill(rnd.nextInt(30)) {
        rnd.nextInt(3) match {
          case 0 => PutRecordsResult(Some("boom"), Nil)
          case _ =>
            val fails = Set.fill(rnd.nextInt(3))(rnd.nextInt(batchSize))
            PutRecordsResult(None, (0 until batchSize).map(i =>
              if (fails(i)) RecordResult("throttle") else RecordResult()))
        }
      }
      val p = new BatchProducer(new FakeKinesisClient(script),
        ProducerConfig(batchSize = batchSize, bufferSize = math.max(batchSize * 4, 40),
          maxAttemptsPerRecord = 3),
        sleep = _ => ())
      (0 until nRecords).foreach(i => p.add(Array(i.toByte), s"k${i % 7}"))
      val remaining = p.flush()
      val st = p.stats
      assert(remaining === 0, s"trial $trial: buffer not drained")
      assert(st.sent + st.droppedRecords === nRecords,
        s"trial $trial: ${st.sent}+${st.droppedRecords} != $nRecords")
    }
  }
}
