package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Pins [[Graph.articulationProfile]] (the jointly-keyed exclusion
  * closure) to a brute-force remove-and-BFS reference — exact equality
  * on both the cut-vertex flag AND the split count — on planted shapes
  * with known answers and random graphs across densities; likewise the
  * index's read-outs: bridges, 2-edge-connected components and
  * biconnected blocks.
  */
class ArticulationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reference: for each x with ≥2 distinct neighbors, BFS G∖{x} from
    * each neighbor and count the distinct components the neighborhood
    * falls into.
    */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val sym = (edges ++ edges.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    adj.filter(_._2.size >= 2).map { case (x, nbrs) =>
      val seen = scala.collection.mutable.Set[Long]()
      var comps = 0L
      for (start <- nbrs.toSeq.sorted if !seen(start)) {
        comps += 1
        val queue = scala.collection.mutable.Queue(start)
        seen += start
        while (queue.nonEmpty) {
          val v = queue.dequeue()
          for (w <- adj.getOrElse(v, Set.empty) if w != x && !seen(w)) {
            seen += w
            queue += w
          }
        }
      }
      // only components CONTAINING a neighbor count — BFS above seeds
      // from neighbors only, so `comps` is exactly that
      x -> comps
    }
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, (Long, Boolean)] = {
    val s = spark
    import s.implicits._
    val sym = (edges ++ edges.map(_.swap)).distinct
    val df = sym.toDF("src", "dst")
    Graph.articulationProfile(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
  }

  private def check(edges: Seq[(Long, Long)], tag: String): Unit = {
    val expected = brute(edges)
    val got = run(edges)
    assert(got.keySet == expected.keySet, s"$tag: candidate sets differ")
    for ((x, nSplit) <- expected) {
      assert(got(x)._1 == nSplit, s"$tag: n_split($x)")
      assert(got(x)._2 == (nSplit >= 2), s"$tag: flag($x)")
    }
  }

  test("path graph: every internal node is a cut vertex with n_split 2") {
    val path = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq
    val got = run(path)
    assert((2L to 5L).forall(got(_) == ((2L, true))))
    check(path, "path")
  }

  test("cycle: no articulation points") {
    val cycle = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq :+ (6L, 1L)
    val got = run(cycle)
    assert(got.values.forall(_ == ((1L, false))))
    check(cycle, "cycle")
  }

  test("star: the hub splits into one component per leaf") {
    val star = (2L to 7L).map(l => (1L, l))
    val got = run(star)
    assert(got(1L) == ((6L, true)))
    assert(got.size == 1, "leaves have degree 1 — not candidates")
    check(star, "star")
  }

  test("two triangles sharing one vertex: only the shared vertex cuts") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
    val got = run(edges)
    assert(got(3L) == ((2L, true)))
    assert(Seq(1L, 2L, 4L, 5L).forall(got(_)._2 == false))
    check(edges, "two-triangles")
  }

  test("random graphs across densities match the reference exactly") {
    for ((p, seed) <- Seq((0.08, 11L), (0.15, 12L), (0.3, 13L))) {
      val rnd = new scala.util.Random(seed)
      val n = 22
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      check(edges, s"random p=$p")
    }
  }

  test("candidate restriction: per-candidate output is exact and equals " +
      "the full profile restricted (the 100 TB suspect-set path)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77L)
    val n = 24
    val edges = (for {
      a <- 1 to n; b <- (a + 1) to n
      if rnd.nextDouble() < 0.12
    } yield (a.toLong, b.toLong)) ++ Seq((30L, 31L), (31L, 32L)) // planted path
    val sym = (edges ++ edges.map(_.swap)).distinct
    val df = sym.toDF("src", "dst")
    val full = Graph.articulationProfile(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // suspects: a mix of true cut vertices, non-cut candidates, and a
    // degree-1 node (must drop out — nothing to split)
    val suspects = (full.keys.take(5).toSeq :+ 31L :+ 30L).distinct
    val got = Graph.articulationProfile(df,
        candidates = Some(suspects.toDF("node")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val wanted = full.view.filterKeys(suspects.contains).toMap
    assert(got == wanted,
      s"restricted run must equal the full profile on the suspect set: " +
        s"got $got, wanted $wanted")
    assert(!got.contains(30L), "a degree-1 suspect seeds no subproblem")
  }

  /** Bridge reference: remove the edge, BFS from one endpoint, check
    * the other endpoint became unreachable.
    */
  private def bruteBridges(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    val sym = canon ++ canon.map(_.swap)
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    canon.filter { case (u, v) =>
      val seen = scala.collection.mutable.Set(u)
      val queue = scala.collection.mutable.Queue(u)
      while (queue.nonEmpty) {
        val x = queue.dequeue()
        for (w <- adj(x) if !seen(w) && !(x == u && w == v) && !(x == v && w == u)) {
          seen += w
          queue += w
        }
      }
      !seen(v)
    }.toSet
  }

  private def runBridges(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    val sym = (edges ++ edges.map(_.swap)).distinct
    Graph.bridgeEdges(sym.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("bridges: planted shapes (path all-bridge, cycle none, barbell)") {
    val path = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(runBridges(path) == path.toSet)
    val cycle = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq :+ (5L, 1L)
    assert(runBridges(cycle).isEmpty)
    // two triangles joined by a single edge — only the joiner cuts
    val barbell = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
    assert(runBridges(barbell) == Set((3L, 4L)))
    // isolated edge (both endpoints degree 1) is a bridge by definition
    assert(runBridges(Seq((7L, 8L))) == Set((7L, 8L)))
  }

  test("bridges: random graphs match the remove-and-BFS reference") {
    for ((p, seed) <- Seq((0.08, 41L), (0.12, 42L), (0.25, 43L))) {
      val rnd = new scala.util.Random(seed)
      val n = 20
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      assert(runBridges(edges) == bruteBridges(edges), s"random p=$p")
    }
  }

  /** 2-edge-connected reference: drop every remove-and-BFS bridge, BFS
    * components of the residue over all nodes, comp_id = min member.
    */
  private def brute2ec(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val bridges = bruteBridges(edges)
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    val kept = canon.filterNot(bridges)
    val adj = (kept ++ kept.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val comp = scala.collection.mutable.Map[Long, Long]()
    for (start <- nodes if !comp.contains(start)) {
      // ascending start order: the first node of a component is its min
      comp(start) = start
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj.getOrElse(v, Seq.empty) if !comp.contains(w)) {
          comp(w) = start
          queue += w
        }
      }
    }
    comp.toMap
  }

  private def run2ec(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val sym = (edges ++ edges.map(_.swap)).distinct
    Graph.twoEdgeComponents(sym.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two-edge components: planted shapes (barbell, bridge-only node, cycle, path)") {
    // two triangles joined by the bridge 3–4, plus node 7 hanging off 6
    // by a bridge: the triangles are the two components, 7 a singleton
    val barbell = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L), (6L, 7L))
    assert(run2ec(barbell) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
    val cycle = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq :+ (5L, 1L)
    assert(run2ec(cycle) == (1L to 5L).map(_ -> 1L).toMap)
    // every path edge is a bridge: every node is its own component
    val path = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(run2ec(path) == (1L to 5L).map(v => v -> v).toMap)
  }

  test("two-edge components: random graphs match the bridge-removal reference") {
    for ((p, seed) <- Seq((0.08, 61L), (0.12, 62L), (0.25, 63L))) {
      val rnd = new scala.util.Random(seed)
      val n = 20
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      assert(run2ec(edges) == brute2ec(edges), s"random p=$p")
    }
  }

  /** Reference block partition: edges e, f share a block iff they lie
    * on a common simple cycle — computed by the standard equivalence
    * closure over "adjacent and their far endpoints connected without
    * the shared vertex" (exactly the relation the operator stars over).
    */
  private def bruteBlocks(edges: Seq[(Long, Long)]): Map[(Long, Long), Set[(Long, Long)]] = {
    val can = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val sym = (edges ++ edges.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def connectedAvoiding(s: Long, t: Long, avoid: Long): Boolean = {
      if (s == t) return true
      val seen = scala.collection.mutable.Set(s)
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        val v = q.dequeue()
        for (w <- adj.getOrElse(v, Set.empty) if w != avoid && !seen(w)) {
          if (w == t) return true
          seen += w; q += w
        }
      }
      false
    }
    // union-find over canonical edges
    val parent = scala.collection.mutable.Map(can.map(e => e -> e): _*)
    def find(e: (Long, Long)): (Long, Long) =
      if (parent(e) == e) e else { val r = find(parent(e)); parent(e) = r; r }
    def union(a: (Long, Long), b: (Long, Long)): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    for {
      e1 @ (a1, b1) <- can; e2 @ (a2, b2) <- can if e1 != e2
      shared <- Set(a1, b1).intersect(Set(a2, b2)).headOption
    } {
      val p = if (a1 == shared) b1 else a1
      val q = if (a2 == shared) b2 else a2
      if (connectedAvoiding(p, q, shared)) union(e1, e2)
    }
    can.groupBy(find).map { case (_, es) => es.min -> es.toSet }
      .flatMap { case (m, es) => es.map(_ -> es) }.toMap
  }

  private def runBlocks(edges: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] = {
    val s = spark
    import s.implicits._
    val df = edges.toDF("src", "dst")
    val und = df.union(df.select($"dst", $"src"))
    Graph.biconnectedLabels(und).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  test("biconnected blocks: planted shapes carry the expected partition") {
    // two triangles sharing vertex 3: two blocks (3 is the cut vertex)
    val bowtie = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
    val got = runBlocks(bowtie)
    assert(got((1L, 2L)) == got((2L, 3L)) && got((2L, 3L)) == got((1L, 3L)))
    assert(got((3L, 4L)) == got((4L, 5L)) && got((4L, 5L)) == got((3L, 5L)))
    assert(got((1L, 2L)) != got((3L, 4L)))
    // a bridge is its own singleton block
    val barbell = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
    val gb = runBlocks(barbell)
    assert(gb((3L, 4L)) == ((3L, 4L)))
    assert(gb.values.toSet.size == 3)
  }

  test("biconnected blocks: random graphs match the cycle-equivalence reference") {
    for ((p, seed) <- Seq((0.08, 51L), (0.15, 52L))) {
      val rnd = new scala.util.Random(seed)
      val n = 14
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      if (edges.nonEmpty) {
        val expect = bruteBlocks(edges).map { case (e, es) => e -> es.min }
        assert(runBlocks(edges) == expect, s"random p=$p")
      }
    }
  }
}
