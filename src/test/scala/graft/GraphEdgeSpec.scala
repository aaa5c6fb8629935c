package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** The graph operators that run over arbitrary edge frames — k-core,
  * coreness, k-truss, random walks, BFS distances and label
  * propagation — each checked against a sequential reference on random
  * and planted graphs.
  */
class GraphEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("kCore: equals a sequential peeling reference on random graphs") {
    val s = spark
    import s.implicits._
    /** Textbook sequential peeling: recompute degrees, drop < k, repeat. */
    def reference(edges: Set[(Long, Long)], k: Long): Map[Long, Long] = {
      var cur = edges
      var changed = true
      while (changed) {
        val deg = cur.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
        val keep = deg.filter(_._2 >= k).keySet
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        changed = next != cur
        cur = next
      }
      cur.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    }
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val half = (0 until 300)
        .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2).distinct
      val sym = (half ++ half.map(p => (p._2, p._1))).toSet
      val df = sym.toSeq.toDF("src", "dst")
      val k = 2L + trial
      val got = graft.operators.Graph.kCore(df, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(sym, k), s"trial $trial k=$k")
    }
  }

  test("coreness: equals a sequential reference; consistent with kCore") {
    val s = spark
    import s.implicits._
    def reference(edges: Set[(Long, Long)]): Map[Long, Long] = {
      // sequential: repeatedly remove a minimum-degree node; its core
      // number is the running max of min-degrees seen (textbook
      // Matula–Beck peeling)
      val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
      edges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      }
      val core = scala.collection.mutable.Map[Long, Long]()
      var maxSeen = 0L
      while (adj.nonEmpty) {
        val (v, ns) = adj.minBy { case (n, s) => (s.size, n) }
        maxSeen = math.max(maxSeen, ns.size.toLong)
        core(v) = maxSeen
        adj.remove(v)
        ns.foreach(u => adj.get(u).foreach(_ -= v))
        // nodes whose neighbourhood emptied still need a core number
        val emptied = adj.collect { case (n, s) if s.isEmpty => n }.toSeq
        emptied.foreach { n => core(n) = maxSeen; adj.remove(n) }
      }
      core.toMap
    }
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val half = (0 until 250)
        .map(_ => (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
        .filter(p => p._1 != p._2).distinct
      val sym = (half ++ half.map(p => (p._2, p._1))).toSet
      val got = graft.operators.Graph.coreness(sym.toSeq.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(sym), s"trial $trial")
      if (trial == 0) {
        // consistency: nodes with coreness >= k are exactly kCore(k)'s
        val k = 3L
        val kc = graft.operators.Graph.kCore(sym.toSeq.toDF("src", "dst"), k)
          .collect().map(_.getLong(0)).toSet
        assert(got.filter(_._2 >= k).keySet == kc, "kCore consistency")
      }
    }
  }

  test("kTruss: equals a sequential peeling reference; planted clique") {
    val s = spark
    import s.implicits._
    def reference(edges: Set[(Long, Long)], k: Long): Set[(Long, Long)] = {
      // sequential fixpoint: drop every edge with < k-2 common
      // neighbors until stable (support = |N(u) ∩ N(v)|)
      var e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => p._1 < p._2)
      var changed = true
      while (changed) {
        val nb = e.foldLeft(
            Map[Long, Set[Long]]().withDefaultValue(Set[Long]())) {
          case (m, (u, v)) => m.updated(u, m(u) + v).updated(v, m(v) + u)
        }
        val keep = e.filter { case (u, v) => (nb(u) & nb(v)).size >= k - 2 }
        changed = keep != e
        e = keep
      }
      e
    }
    val rnd = new scala.util.Random(47)
    for (trial <- 0 until 2) {
      val half = (0 until 220)
        .map(_ => (rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
        .filter(p => p._1 != p._2).distinct
      val sym = (half ++ half.map(p => (p._2, p._1))).toSet
      val k = 3L + trial
      val got = graft.operators.Graph.kTruss(sym.toSeq.toDF("src", "dst"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == reference(sym, k), s"trial $trial k=$k")
    }
    // planted: a 6-clique under pendant fringe — the 5-truss is exactly
    // the clique's 15 edges (pendants have support 0 and peel round 1)
    val clique = for (a <- 0L until 6L; b <- 0L until 6L if a != b) yield (a, b)
    val fringe = (0L until 20L).map(i => (i % 6, 100L + i))
    val g = clique ++ fringe ++ fringe.map(p => (p._2, p._1))
    val truss = graft.operators.Graph.kTruss(g.toDF("src", "dst"), 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 0L until 6L; b <- a + 1 until 6L) yield (a, b)).toSet
    assert(truss == want)
  }

  test("randomWalks: valid edges, full coverage, deterministic, step rule") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val half = (0 until 160)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (half ++ half.map(p => (p._2, p._1))).toSet
    val und = sym.toSeq.toDF("src", "dst")
    val len = 4
    val walks = Graph.randomWalks(und, walkLen = len, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = sym.map(_._1)
    // one walk per node, every position present exactly once
    assert(walks.length == nodes.size * (len + 1))
    assert(walks.count(_._2 == 0L) == nodes.size)
    walks.filter(_._2 == 0L).foreach { case (st, _, n) => assert(st == n) }
    // every hop traverses a real edge
    val byWalk = walks.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).toSeq).toMap
    byWalk.values.foreach { seq =>
      seq.sliding(2).foreach { w =>
        assert(sym.contains((w(0), w(1))), s"hop (${w(0)},${w(1)}) is not an edge")
      }
    }
    // deterministic: a second run is identical
    val again = Graph.randomWalks(und, walkLen = len, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(walks.sorted.sameElements(again.sorted))
    // the step rule is the documented md5 arithmetic (sequential replay)
    val nb = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    def md5idx(seed: Long, start: Long, t: Int, cur: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"walk:$seed:$start:$t:$cur".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % nb(cur).size).toInt
    }
    byWalk.foreach { case (start, seq) =>
      var cur = start
      seq.tail.zipWithIndex.foreach { case (got, i) =>
        val want = nb(cur)(md5idx(7L, start, i + 1, cur))
        assert(got == want, s"walk $start step ${i + 1}")
        cur = got
      }
    }
  }

  test("bfsDistances: equals sequential BFS; depth cap truncates") {
    val s = spark
    import s.implicits._
    def bfs(edges: Set[(Long, Long)], src: Long, cap: Int): Map[Long, Long] = {
      val nb = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        .withDefaultValue(Set[(Long, Long)]().map(_._2))
      var dist = Map(src -> 0L)
      var frontier = Set(src)
      for (t <- 1 to cap) {
        frontier = frontier.flatMap(u => nb(u)).diff(dist.keySet)
        dist = dist ++ frontier.map(_ -> t.toLong)
      }
      dist
    }
    val rnd = new scala.util.Random(23)
    // sparse: 60 nodes, ~90 undirected edges → real depth spread
    val half = (0 until 90)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (half ++ half.map(p => (p._2, p._1))).toSet
    val lms = Seq(0L, 7L, 13L).filter(l => sym.exists(_._1 == l))
    for (cap <- Seq(2, 6)) {
      val got = graft.operators.Graph.bfsDistances(
          sym.toSeq.toDF("src", "dst"), lms.toDF("lm"), maxDepth = cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = lms.flatMap(l =>
        bfs(sym, l, cap).map { case (n, d) => ((l, n), d) }).toMap
      assert(got == want, s"cap=$cap")
    }
  }

  test("kCore: recovers a planted clique core under a tree fringe") {
    val s = spark
    import s.implicits._
    // 5-clique (each node degree 4) + a 3-level chain hanging off node 0:
    // chain nodes peel layer by layer at k=2; the clique survives at k<=4
    val clique = for {
      a <- 0L until 5L; b <- 0L until 5L if a != b
    } yield (a, b)
    val chain = Seq((0L, 10L), (10L, 0L), (10L, 11L), (11L, 10L),
      (11L, 12L), (12L, 11L))
    val df = (clique ++ chain).toDF("src", "dst")
    val core3 = graft.operators.Graph.kCore(df, 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == (0L until 5L).map(_ -> 4L).toMap,
      s"k=3 must peel the whole chain and keep the exact clique: $core3")
    val core5 = graft.operators.Graph.kCore(df, 5L).collect()
    assert(core5.isEmpty, "no 5-core exists in a 5-clique")
  }

  test("labelPropagation: duplicate edges do not double-vote, duplicate " +
      "seeds take the min label, and the normalized certificate only " +
      "changes the plan") {
    val s = spark
    import s.implicits._
    // 1 votes for 3 once even when the edge repeats 3×; 2 votes once —
    // with honest single votes the (n desc, label) argmax picks 2's
    // label "a" over 1's "b" on the count tie broken by label order...
    // unless 1's duplicated edge triple-counts and wins. Seeds: node 2
    // seeded twice with ("z", "a") must resolve to "a" (min).
    val edges = Seq((1L, 3L), (1L, 3L), (1L, 3L), (2L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq((1L, "b"), (2L, "z"), (2L, "a")).toDF("node", "label")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val out = Graph.labelPropagation(edges, seeds, nodes, rounds = 1)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(3L).contains("a"),
      s"one vote per distinct edge, min label per duplicated seed: $out")
    // certificate path: NORMAL inputs through normalized=true must give
    // the same result as the defensive default on those same inputs
    val nEdges = Seq((1L, 3L), (2L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val nSeeds = Seq((1L, "b"), (2L, "a")).toDF("node", "label")
    def run(norm: Boolean): Map[Long, Option[String]] =
      Graph.labelPropagation(nEdges, nSeeds, nodes, rounds = 2,
          normalized = norm)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(run(norm = true) == run(norm = false),
      "the certificate must never change results on certified inputs")
  }

  test("property: labelPropagation normalized certificate == default " +
      "across random normalized graphs and round counts") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(127L)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(10)
      val half = (0 until 40).map(_ =>
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
      val edges = (half ++ half.map(p => (p._2, p._1))).distinct
        .toDF("src", "dst") // distinct by construction — certifiable
      val nodes = (0L until n.toLong).toDF("node")
      val seeds = (0L until n.toLong).filter(_ => rnd.nextBoolean())
        .map(i => (i, s"l${rnd.nextInt(3)}")).toDF("node", "label")
      val rounds = 1 + rnd.nextInt(2)
      def run(norm: Boolean): Map[Long, Option[String]] =
        Graph.labelPropagation(edges, seeds, nodes, rounds,
            normalized = norm)
          .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(run(norm = true) == run(norm = false),
        s"trial $trial (n=$n rounds=$rounds): certificate must not " +
          "change results on certified inputs")
      spark.catalog.clearCache()
    }
  }
}
