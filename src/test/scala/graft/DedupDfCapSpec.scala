package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class DedupDfCapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("df-capped near-dup finds the same pairs as the exact truth here") {
    val exact = SparkEntry.queries("q30_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = SparkEntry.queries("q50_neardup_dfcapped")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // pruning only lowers jaccard evidence → capped ⊆ exact always;
    // at this corpus's df distribution nothing is lost either
    assert(capped.subsetOf(exact))
    assert(capped === exact)
  }

  /** The generic entry points must work on ANY (doc_id, text) frame, not
    * just the catalog's documents table — a user corpus with one planted
    * near-dup pair and unrelated filler.
    */
  test("generic dedup API finds a planted pair on a user-supplied corpus") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the fence falls down near the old red barn tonight"
    val nearDup = base.replace("red barn", "blue barn") // high trigram overlap
    val filler = (0 until 20).map(i =>
      s"completely unrelated document number $i with words $i alpha$i " +
        s"beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i iota$i")
    val corpus = ((0L, base) +: (1L, nearDup) +: filler.zipWithIndex.map {
      case (t, i) => ((i + 2).toLong, t)
    }).toDF("doc_id", "text")

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = pairs(operators.Dedup.exactNearDups(corpus))
    assert(exact === Set((0L, 1L)))
    assert(pairs(operators.Dedup.minhashNearDups(corpus)) === exact)
    assert(pairs(operators.Dedup.dfCappedNearDups(corpus)) === exact)
    val sim = pairs(operators.Dedup.simhashNearDups(corpus))
    assert(sim.contains((0L, 1L)))

    // decontamination: doc 0 (the benchmark) is nearly contained in its
    // near-dup twin doc 1 and in nothing else
    val hits = operators.Dedup
      .decontaminate(corpus.filter($"doc_id" =!= 0L),
        corpus.filter($"doc_id" === 0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits === Set((1L, 0L)))
    spark.catalog.clearCache()
  }

  test("dedupClusters on a clean corpus (no pairs) returns empty, not NPE") {
    val s = spark
    import s.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = operators.Dedup.dedupClusters(noPairs)
    assert(got.columns.toSeq === Seq("doc_id", "cluster_id", "keep"))
    assert(got.count() === 0L)
    got.unpersist()
    spark.catalog.clearCache()
  }

  test("dedupClusters releases every cache except the returned frame") {
    val s = spark
    import s.implicits._
    // Accounting is DIFF-based (new cache entries only) and retried:
    // suites share one SparkContext and run concurrently, so absolute
    // cache counts see other suites' frames (including deliberate
    // session memos like q183's component assignment). A systematic
    // leak inside dedupClusters fails every attempt; concurrent-suite
    // noise passes on a quiet one. The 22-node chain outlasts the
    // min-label round cap, so it also covers the star-kernel finish.
    for (pairs <- Seq(Seq((1L, 2L), (2L, 3L)), chain(22))) {
      val attempts = (1 to 3).iterator.map { _ =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val got = operators.Dedup.dedupClusters(pairs.toDF("doc_a", "doc_b"))
        // exactly one NEW persisted frame may remain: the result itself
        val mid = spark.sparkContext.getPersistentRDDs.keySet -- before
        got.unpersist()
        val after = spark.sparkContext.getPersistentRDDs.keySet -- before
        (mid.size <= 1) && after.isEmpty
      }
      assert(attempts.exists(identity),
        s"dedupClusters leaked intermediate caches on all 3 attempts " +
          s"(${pairs.size} pairs)")
    }
  }

  /** A path over `n` nodes: n − 1 hops from its minimum to its far end. */
  private def chain(n: Int): Seq[(Long, Long)] =
    (0 until n - 1).map(i => (i.toLong, i + 1L))

  /** Component minimum of every node that carries an edge, by union-find
    * on the driver — the reference `dedupClusters` is checked against.
    */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("dedupClusters finishes components longer than its round cap") {
    val s = spark
    import s.implicits._
    // min-label needs one round per hop from a component's minimum, so
    // a 22-node chain is the first to outlast the 20-round cap. The
    // forests hang each node off one of the few nodes before it in a
    // random order, which makes paths of dozens of hops, and relabel
    // the nodes at random so the minimum sits anywhere on them.
    def forest(seed: Int, n: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val id = rnd.shuffle((0L until n.toLong).map(_ * 3 + 5).toVector)
      (1 until n).filter(_ % 97 != 0)
        .map(i => (id(i), id(i - 1 - rnd.nextInt(math.min(i, 3)))))
    }
    for ((name, pairs) <- Seq("chain 22" -> chain(22), "chain 64" -> chain(64),
        "forest 1" -> forest(1, 300), "forest 2" -> forest(2, 300))) {
      val got = operators.Dedup.dedupClusters(pairs.toDF("doc_a", "doc_b"))
      val rows = got.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      got.unpersist()
      val want = unionFindLabels(pairs).toSeq.sorted
        .map { case (n, m) => (n, m, n == m) }
      assert(rows === want, name)
    }
    spark.catalog.clearCache()
  }

  test("dedupClusters collapses transitive chains to one survivor") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} via a chain, {7,9}; 4-3-2-1 needs 3 hops
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val got = operators.Dedup.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (7L, 7L, true), (9L, 7L, false)))
    spark.catalog.clearCache()
  }

  test("star-contraction clustering matches label propagation on real pairs") {
    val pairs = operators.Dedup.exactNearDups(
      graft.Tables.documents(spark, sf).select("doc_id", "text"))
    val clu = operators.Dedup.dedupClusters(pairs)
    val prop = clu.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    clu.unpersist()
    val stars = operators.Dedup.starComponents(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")), Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(prop.nonEmpty)
    assert(stars === prop)
    spark.catalog.clearCache()
  }

  test("star contraction needs only O(log n) rounds on a 64-node chain") {
    val s = spark
    import s.implicits._
    // diameter-63 chain: plain propagation needs 63 rounds; alternating
    // stars must finish (converge + verify) within 10
    val got = operators.Dedup.starComponents(chain(64).toDF("a", "b"), Nil,
        maxIters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 64)
    assert(got.forall(_._2 == 0L))
    spark.catalog.clearCache()
  }

  test("incremental dedup equals full dedup minus index-internal pairs") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cut = 400L
    val full = pairs(operators.Dedup.exactNearDups(docs))
    val incr = pairs(operators.Dedup.incrementalNearDups(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < cut),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") >= cut)))
    assert(incr === full.filter(_._2 >= cut))
    spark.catalog.clearCache()
  }

  test("newIdsAreLarger certificate equals the general path on monotone ids") {
    // q65's catalog shape: the new batch is the top of the id range, so
    // the certified fast path (no is-new tag join) must agree pair for
    // pair and score for score with the general tagged join
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val cut = 400L
    val c = org.apache.spark.sql.functions.col("doc_id")
    def scored(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val general = scored(operators.Dedup.incrementalNearDups(
      docs.filter(c < cut), docs.filter(c >= cut)))
    spark.catalog.clearCache()
    val certified = scored(operators.Dedup.incrementalNearDups(
      docs.filter(c < cut), docs.filter(c >= cut), newIdsAreLarger = true))
    assert(certified === general)
    spark.catalog.clearCache()
  }

  test("property: monotone-split certificate == general path across random cuts") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val c = org.apache.spark.sql.functions.col("doc_id")
    def scored(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rnd = new scala.util.Random(65L)
    for (trial <- 1 to 2) {
      // any cut is a valid monotone split of this corpus's dense id range
      val cut = 1L + rnd.nextLong(maxId)
      val general = scored(operators.Dedup.incrementalNearDups(
        docs.filter(c < cut), docs.filter(c >= cut)))
      spark.catalog.clearCache()
      val certified = scored(operators.Dedup.incrementalNearDups(
        docs.filter(c < cut), docs.filter(c >= cut), newIdsAreLarger = true))
      assert(certified === general, s"trial $trial cut=$cut")
      spark.catalog.clearCache()
    }
  }

  test("incremental dedup holds when new ids interleave the index's") {
    // recrawl shape: the new batch's ids are NOT all larger than the
    // index's — an (index, new) near-dup pair must be found whichever
    // side has the larger id (doc_id % 5 == 0 scatters the new batch
    // across the whole id range)
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val isNew = org.apache.spark.sql.functions.col("doc_id") % 5 === 0
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(operators.Dedup.exactNearDups(docs))
    val incr = pairs(operators.Dedup.incrementalNearDups(
      docs.filter(!isNew), docs.filter(isNew)))
    assert(incr === full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0))
    spark.catalog.clearCache()
  }

  test("star-contraction clustering on a clean corpus returns empty") {
    val s = spark
    import s.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(operators.Dedup.starComponents(noPairs, Nil).count() === 0L)
    spark.catalog.clearCache()
  }
}
