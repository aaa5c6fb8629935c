package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics for the hash split (q104), equi-depth histogram (q106),
  * and hourly anomaly flags (q105) — the oracles pin engine parity;
  * these pin the properties the operators exist for.
  */
class ProfilingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("hashSplit: assignment is stable under corpus growth and ~matches fractions") {
    val s = spark
    import s.implicits._
    val small = (0L until 400L).toDF("id")
    val grown = (0L until 2000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = graft.operators.Sampling.hashSplit(small, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.operators.Sampling.hashSplit(grown, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.clearCache()
    // every original doc keeps its split when the corpus grows
    assert(a.forall { case (k, v) => b(k) == v })
    val shares = b.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(shares("train") - 0.8) < 0.05, s"train share ${shares("train")}")
    assert(math.abs(shares("val") - 0.1) < 0.05)
    assert(math.abs(shares("test") - 0.1) < 0.05)
  }

  test("hashSplit: different salts decorrelate assignments") {
    val s = spark
    import s.implicits._
    val ids = (0L until 1000L).toDF("id")
    val splits = Seq("a" -> 0.5, "b" -> 0.5)
    val x = graft.operators.Sampling.hashSplit(ids, "id", splits, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val y = graft.operators.Sampling.hashSplit(ids, "id", splits, salt = "s2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.clearCache()
    val agree = x.count { case (k, v) => y(k) == v } / 1000.0
    assert(agree > 0.4 && agree < 0.6, s"independent salts should agree ~50%, got $agree")
  }

  test("equiDepthHistogram: distinct values give near-equal buckets, ties collapse") {
    val s = spark
    import s.implicits._
    val distinctVals = (1 to 800).map(_.toDouble).toDF("v")
    val h1 = graft.operators.Sampling.equiDepthHistogram(distinctVals, "v", 8)
      .collect().map(r => r.getLong(1)).sorted
    spark.catalog.clearCache()
    assert(h1.length == 8 && h1.forall(n => n == 100L), s"got ${h1.toSeq}")
    // heavy tie on one value: all copies land in ONE bucket
    val tied = ((1 to 100).map(_ => 5.0) ++ (1 to 20).map(_.toDouble)).toDF("v")
    val h2 = graft.operators.Sampling.equiDepthHistogram(tied, "v", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    spark.catalog.clearCache()
    val holding5 = h2.filter(b => b._3 <= 5.0 && b._4 >= 5.0)
    assert(holding5.length == 1, s"value 5.0 must live in exactly one bucket: ${h2.toSeq}")
    assert(holding5.head._2 >= 100L)
  }

  test("abTestReadout: planted conversions count per arm, degenerate table nulls χ²") {
    val s = spark
    import s.implicits._
    // users 0..99; goal events planted for users 0..39 only
    val base = (0L until 100L).map(u => (u, "view", 0.0))
    val goals = (0L until 40L).map(u => (u, "purchase", 50.0))
    val df = (base ++ goals).toDF("user_id", "event_type", "value")
    val r = graft.operators.TimeJoins
      .abTestReadout(df, "purchase", goalMinValue = 10.0).collect().head
    spark.catalog.clearCache()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 100L)
    assert(r.getAs[Long]("conv_a") + r.getAs[Long]("conv_b") == 40L)
    assert(!r.isNullAt(r.fieldIndex("chi2_micro")))
    // all users convert → zero denominator → null statistic, no throw
    val allConv = (0L until 50L).map(u => (u, "purchase", 99.0)).toDF("user_id", "event_type", "value")
    val r2 = graft.operators.TimeJoins
      .abTestReadout(allConv, "purchase", goalMinValue = 0.0).collect().head
    spark.catalog.clearCache()
    assert(r2.isNullAt(r2.fieldIndex("chi2_micro")))
  }

  test("pageRank: 2-cycle is a fixed point, star hub dominates, leaves tie") {
    val s = spark
    import s.implicits._
    val cycle = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val rc = graft.operators.Graph.pageRank(cycle, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    // N=2: r0 = 5e8 each; every round returns 75e6 + 85%·5e8 = 5e8 exactly
    assert(rc == Map("a" -> 500000000L, "b" -> 500000000L), s"got $rc")

    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"),
      ("l1", "h"), ("l2", "h"), ("l3", "h")).toDF("src", "dst")
    val rs = graft.operators.Graph.pageRank(star, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(rs("h") > rs("l1"), s"hub must outrank leaves: $rs")
    assert(rs("l1") == rs("l2") && rs("l2") == rs("l3"), s"leaves tie: $rs")
  }

  test("weightedSample: equal weights reduce to md5-order, heavy rows dominate") {
    val s = spark
    import s.implicits._
    // equal weights: selection order must equal the plain u-order
    val flat = (0L until 200L).map(i => (i, 10L)).toDF("id", "w")
    val sel = graft.operators.Sampling.weightedSample(flat, "id", "w", k = 20)
      .select("id").collect().map(_.getLong(0)).toSet
    val byU = graft.operators.Sampling.weightedSample(
        (0L until 200L).map(i => (i, 1L)).toDF("id", "w"), "id", "w", k = 20)
      .select("id").collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    assert(sel == byU, "constant weights must select the same ids regardless of scale")
    // 20 heavy rows (w=10000) among 480 light (w=1): heavy rows should
    // crowd the top-50 (each is ~10000x likelier per E-S priority)
    val mixed = ((0L until 20L).map(i => (i, 10000L)) ++
      (20L until 500L).map(i => (i, 1L))).toDF("id", "w")
    val top = graft.operators.Sampling.weightedSample(mixed, "id", "w", k = 50)
      .select("id").collect().map(_.getLong(0))
    spark.catalog.clearCache()
    assert(top.count(_ < 20L) >= 18,
      s"nearly all heavy rows must be sampled, got ${top.count(_ < 20L)}/20")
  }

  test("userFeatures: canonical CSV, exact counts, last-seen and day count") {
    val s = spark
    import s.implicits._
    val ns = 1000000000L
    val df = Seq(
      (1L, "click", 86400L * ns, 1.25),
      (1L, "click", 2L * 86400L * ns, 2.50),
      (1L, "view", 2L * 86400L * ns + ns, 4.00),
      (2L, "error", 0L, 0.25))
      .toDF("user_id", "event_type", "ts_ns", "value")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val out = graft.operators.TimeJoins.userFeatures(df)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[String]("type_counts"),
          r.getAs[Long]("n_days"), r.getAs[Double]("sum_value")))).toMap
    spark.catalog.clearCache()
    assert(out(1L) == ((3L, "click:2,view:1", 2L, 7.75)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, "error:1", 1L, 0.25)), s"got ${out(2L)}")
  }

  test("mmrSelect: diversifies across planted clusters where top-k collapses") {
    val s = spark
    import s.implicits._
    // three orthogonal-ish clusters in 6d on the 1/1000 grid; cluster 0
    // is closest to the query, so pure relevance top-3 takes all of it
    def grid(v: Seq[Double]): Seq[Double] = v.map(x => math.round(x * 1000).toDouble)
    def jitter(base: Array[Double], i: Int): Seq[Double] =
      grid(base.zipWithIndex.map { case (x, j) => x + 0.001 * ((i + j) % 3) }.toSeq)
    val c0 = Array(1.0, 0.1, 0.0, 0.0, 0.0, 0.0)
    val c1 = Array(0.0, 0.0, 1.0, 0.1, 0.0, 0.0)
    val c2 = Array(0.0, 0.0, 0.0, 0.0, 1.0, 0.1)
    val rows = (0 until 5).map(i => (i.toLong, jitter(c0, i))) ++
      (5 until 10).map(i => (i.toLong, jitter(c1, i))) ++
      (10 until 15).map(i => (i.toLong, jitter(c2, i)))
    val df = rows.toDF("vec_id", "v")
    val query = grid(Seq(1.0, 0.1, 0.6, 0.0, 0.6, 0.0)) // leans to cluster 0
    def cluster(id: Long) = id / 5
    val relevanceTop3 = rows.map { case (id, v) =>
      (v.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum, id)
    }.sorted.take(3).map(_._2)
    assert(relevanceTop3.forall(cluster(_) == 0L),
      s"relevance-only top-3 must collapse onto cluster 0: $relevanceTop3")
    val sel = graft.operators.Similarity.mmrSelectGridL2(df, query, k = 3)
      .orderBy("rank").collect().map(_.getLong(0))
    spark.catalog.clearCache()
    assert(cluster(sel.head) == 0L, s"first pick must be the most relevant: ${sel.toSeq}")
    assert(sel.map(cluster).distinct.length == 3,
      s"3 MMR picks at lambda=0.7 must cover all 3 clusters: ${sel.toSeq}")
    // determinism: a second run selects the identical sequence
    val sel2 = graft.operators.Similarity.mmrSelectGridL2(df, query, k = 3)
      .orderBy("rank").collect().map(_.getLong(0))
    spark.catalog.clearCache()
    assert(sel.sameElements(sel2))
  }

  test("dailyTrends: growing series slopes positive, flat series slopes zero") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000000L
    // "up": 1,3,5,7 events on days 0..3; "flat": 2 events every day
    val rows =
      (0 until 4).flatMap(d => (0 until (1 + 2 * d)).map(i =>
        ("up", d * day + i * 1000000000L))) ++
      (0 until 4).flatMap(d => (0 until 2).map(i =>
        ("flat", d * day + i * 1000000000L)))
    val df = rows.toDF("event_type", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val out = graft.operators.TimeJoins.dailyTrends(df)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("slope_micro")).toMap
    spark.catalog.clearCache()
    assert(out("up") == 2000000L, s"1,3,5,7 has slope exactly 2: $out")
    assert(out("flat") == 0L, s"flat series has zero slope: $out")
  }

  test("transitionMatrix: counts conserve and probabilities sum to ~1 per row") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 5L, "a"), (2L, 6L, "a"))
      .toDF("user_id", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
    val out = graft.operators.TimeJoins.transitionMatrix(df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    spark.catalog.clearCache()
    // user1: a→b, b→a, a→b; user2: a→a. 4 transitions = 6 events − 2 users
    assert(out == Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("a", "a") -> 1L),
      s"got $out")
  }

  test("tfidfSimilarPairs: duplicated docs outscore unrelated ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // exact dup of 1
      (3L, "alpha epsilon zeta eta"),   // one shared term with 1
      (4L, "theta iota kappa mu")).toDF("doc_id", "text")
    val top = graft.operators.Curation.tfidfSimilarPairs(docs, dfCap = 10L, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    assert(top.head._1 == 1L && top.head._2 == 2L,
      s"the exact dup pair must rank first: ${top.toSeq}")
    assert(!top.exists(t => t._1 == 4L || t._2 == 4L),
      s"the disjoint doc shares no terms, no pair: ${top.toSeq}")
  }

  test("edge cases: mmrSelect exhausts gracefully, pageRank on empty graph is empty") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, Seq(1000.0, 0.0)), (2L, Seq(0.0, 1000.0))).toDF("vec_id", "v")
    val sel = graft.operators.Similarity
      .mmrSelectGridL2(tiny, Seq(1000.0, 0.0), k = 5).collect()
    spark.catalog.clearCache()
    assert(sel.length == 2, s"k beyond corpus returns what exists: ${sel.length}")
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val pr = graft.operators.Graph.pageRank(empty, iterations = 2)
    assert(pr.isEmpty && pr.columns.toSeq == Seq("node", "r"))
    spark.catalog.clearCache()
  }

  test("property: retentionCohorts equals a sequential reference over random activity") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(96)
    val day = 86400L * 1000000000L
    val rows = (0 until 400).map { _ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(14).toLong * day + rnd.nextInt(86400) * 1000000000L)
    }
    val df = rows.toDF("user_id", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val got = graft.operators.TimeJoins.retentionCohorts(df)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)) -> r.getLong(2))
      .toMap
    spark.catalog.clearCache()
    val activity = rows.map { case (u, ns) => (u, ns / day) }.distinct
    val cohort = activity.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = activity
      .map { case (u, d) => (cohort(u) * 86400000L, d - cohort(u)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expect,
      s"diff=${(expect.toSet diff got.toSet).take(3)} / ${(got.toSet diff expect.toSet).take(3)}")
  }

  test("property: hourlyAnomalies integer rule equals the float 3σ rule") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(97)
    val hour = 3600L * 1000000000L
    // random counts per (series, hour) realized as individual events
    val rows = (for {
      series <- Seq("s1", "s2", "s3"); h <- 0 until 20
      n = 1 + rnd.nextInt(30) + (if (rnd.nextInt(15) == 0) 200 else 0)
      i <- 0 until n
    } yield (series, h.toLong * hour + i * 1000L)).toSeq
    val df = rows.toDF("event_type", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val out = graft.operators.TimeJoins.hourlyAnomalies(df)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getBoolean(5)))
    spark.catalog.clearCache()
    val counts = rows.groupBy { case (sr, ns) => (sr, ns / hour) }
      .view.mapValues(_.size.toDouble).toMap
    out.foreach { case (sr, _, n, flagged) =>
      val cs = counts.collect { case ((`sr`, _), c) => c }.toSeq
      val mean = cs.sum / cs.size
      val variance = cs.map(c => (c - mean) * (c - mean)).sum / cs.size
      val expected = (n - mean) * (n - mean) > 9.0 * variance
      assert(flagged == expected, s"$sr n=$n mean=$mean var=$variance")
    }
  }

  test("property: vocabEncode round-trips random corpora through a reference dict") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(98)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docs = (0L until 40L).map(i =>
      (i, (0 until 3 + rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
    val (_, encoded) = graft.operators.Curation.vocabEncode(docs.toDF("doc_id", "text"))
    val got = encoded.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    spark.catalog.clearCache()
    val freq = docs.flatMap(_._2.split(" ")).groupBy(identity).view.mapValues(_.size).toMap
    val ids = freq.toSeq.sortBy { case (t, n) => (-n, t) }.zipWithIndex
      .map { case ((t, _), i) => t -> (i + 1) }.toMap
    val expect = docs.map { case (id, text) =>
      id -> text.split(" ").map(ids).mkString(",")
    }.toMap
    assert(got == expect, s"diff at ${expect.find(e => got(e._1) != e._2)}")
  }

  test("personalizedPageRank: mass stays in the seed component") {
    val s = spark
    import s.implicits._
    // two disconnected 2-cycles; seed only in the first
    val edges = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1("a")).toDF("node")
    val r = graft.operators.Graph.personalizedPageRank(edges, seeds, iterations = 3)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(r("a") > 0L && r("b") > 0L, s"seed component must hold rank: $r")
    assert(r("x") == 0L && r("y") == 0L, s"unseeded component must be 0: $r")
    // mass conservation up to integer-division dust: everything the
    // seed teleport injects stays in {a, b}
    assert(math.abs(r("a") + r("b") - 1000000000L) < 1000000L, s"mass leaked: $r")
    // a 2-cycle oscillates with period 2 (bipartite), so seed dominance
    // shows at EVEN iteration counts
    val r4 = graft.operators.Graph.personalizedPageRank(edges, seeds, iterations = 4)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(r4("a") > r4("b"), s"even iterations: teleport mass sits on the seed: $r4")
  }

  test("labelPropagation: majority wins, seeds stay fixed, unreachable stays null") {
    val s = spark
    import s.implicits._
    // node 4 neighbors two label-1 seeds and one label-2 seed → takes 1;
    // node 5 reaches labels only via node 4 in round 2; node 9 isolated;
    // seed 3 has label-1 neighbors but keeps its own label 2
    val und = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L), (1L, 3L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("src", "dst")
    val seeds = Seq((1L, 1), (2L, 1), (3L, 2)).toDF("node", "label")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("node")
    val out = graft.operators.Graph.labelPropagation(edges, seeds, nodes, rounds = 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    spark.catalog.clearCache()
    assert(out(4L) == Some(1), s"majority of {1,1,2} is 1: $out")
    assert(out(5L) == Some(1), s"round 2 reaches node 5 through node 4: $out")
    assert(out(3L) == Some(2), s"seeds never change: $out")
    assert(out(9L) == None, s"isolated node stays unlabeled: $out")
  }

  test("triangleCounts: K4 nodes sit in 3 triangles each; random graphs match brute force") {
    val s = spark
    import s.implicits._
    def undirect(es: Seq[(Long, Long)]) =
      (es ++ es.map(e => (e._2, e._1))).toDF("src", "dst")
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val out = graft.operators.Graph.triangleCounts(undirect(k4 :+ (3L -> 9L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert((0L to 3L).forall(n => out(n) == 3L), s"K4: every node in C(3,2)=3: $out")
    assert(!out.contains(9L), s"pendant node is in no triangle: $out")

    val rnd = new scala.util.Random(99)
    val es = (for (a <- 0L until 15L; b <- 0L until 15L
      if a < b && rnd.nextInt(3) == 0) yield (a, b)).toSeq
    val got = graft.operators.Graph.triangleCounts(undirect(es))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val eset = es.toSet
    def adj(a: Long, b: Long) = eset.contains((a min b, a max b))
    val expect = (for {
      a <- 0L until 15L; b <- 0L until 15L if a < b && adj(a, b)
      c <- 0L until 15L if b < c && adj(b, c) && adj(a, c)
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expect, s"diff=${(expect.toSet diff got.toSet).take(5)}")
  }

  test("neighborOverlap: twins score 1e6 ppm, partial overlap scores the exact ratio") {
    val s = spark
    import s.implicits._
    // a and b are twins over {x,y,z}; c touches only x
    val half = Seq(("a", "x"), ("a", "y"), ("a", "z"),
      ("b", "x"), ("b", "y"), ("b", "z"), ("c", "x"))
    val und = (half ++ half.map(e => (e._2, e._1))).toDF("src", "dst")
    val out = graft.operators.Graph.neighborOverlap(und, minShared = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    spark.catalog.clearCache()
    assert(out(("a", "b")) == ((3L, 3L, 1000000L)), s"twins: $out")
    assert(out(("a", "c")) == ((1L, 3L, 333333L)), s"partial: $out")
    // x,y,z share neighbors {a,b} (and x also has c):
    assert(out(("x", "y")) == ((2L, 3L, 666667L)), s"via-hub pair: $out")
  }

  test("hourlyAnomalies: a planted spike is flagged, uniform hours are not") {
    val s = spark
    import s.implicits._
    // 24 hours × 10 events, plus one hour with 300 extra
    val base = for (h <- 0 until 24; i <- 0 until 10) yield
      ("steady", h.toLong * 3600L * 1000000000L + i * 1000000000L)
    val spike = (0 until 300).map(i =>
      ("steady", 5L * 3600L * 1000000000L + 2000000000L + i * 1000000L))
    val df = (base ++ spike).toDF("event_type", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val out = graft.operators.TimeJoins.hourlyAnomalies(df)
      .collect()
      .map(r => r.getAs[java.sql.Timestamp]("hour").getTime / 3600000L ->
        r.getAs[Boolean]("is_anomaly")).toMap
    spark.catalog.clearCache()
    assert(out(5L), "the spiked hour must flag")
    assert(out.count(_._2) == 1, s"only the spike flags: $out")
  }
}
