package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import org.apache.spark.sql.functions.col

/** Pins [[Graph.betweennessGridPpm]] (the joint all-sources BFS +
  * layered backward sweep on the ppm grid) EXACTLY equal to a
  * sequential Brandes with the same per-term floor — integer sums do
  * not depend on order — on planted shapes with closed-form
  * centralities, random graphs across densities, bipartite graphs under
  * the certificate, and the sampled-roots estimator against
  * root-restricted reference sums. Float Brandes bounds the grid's
  * drift from the real-valued score.
  */
class BetweennessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Sequential real-valued Brandes (2001), undirected; returns Σδ/2
    * per node — the score the grid approximates.
    */
  private def brandes(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    val sym = (edges ++ edges.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = sym.map(_._1).distinct.sorted
    val bc = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
    for (s <- nodes) {
      val stack = scala.collection.mutable.ArrayBuffer[Long]()
      val pred = scala.collection.mutable.Map[Long, List[Long]]()
        .withDefaultValue(Nil)
      val sigma = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      val dist = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(-1L)
      sigma(s) = 1L; dist(s) = 0L
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        stack += v
        for (w <- adj.getOrElse(v, Seq.empty)) {
          if (dist(w) < 0) { dist(w) = dist(v) + 1; queue += w }
          if (dist(w) == dist(v) + 1) {
            sigma(w) += sigma(v)
            pred(w) = v :: pred(w)
          }
        }
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (w <- stack.reverse) {
        for (v <- pred(w))
          delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
        if (w != s) bc(w) += delta(w)
      }
    }
    bc.map { case (k, v) => k -> v / 2.0 }.toMap
  }

  /** Sequential Brandes on the operator's ppm grid: each pushed term is
    * floored before the sum, δ'_v += (σ_v·(10⁶+δ'_w)) div σ_w, and
    * bc_ppm = (Σ δ') div 2 — restricted to `roots` (all when None).
    */
  private def gridBrandes(edges: Seq[(Long, Long)],
      roots: Option[Set[Long]] = None): Map[Long, Long] = {
    val sym = (edges ++ edges.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = sym.map(_._1).distinct.sorted
    val bc = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
    for (s <- nodes if roots.forall(_.contains(s))) {
      val order = scala.collection.mutable.ArrayBuffer(s)
      val sigma = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
      val dist = scala.collection.mutable.Map(s -> 0L)
      var i = 0
      while (i < order.size) {
        val v = order(i); i += 1
        for (w <- adj(v)) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; order += w }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      val delta = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for (w <- order.reverseIterator; v <- adj(w)
          if dist(v) == dist(w) - 1)
        delta(v) += (sigma(v) * (1000000L + delta(w))) / sigma(w)
      for (v <- order if v != s) bc(v) += delta(v)
    }
    bc.map { case (k, v) => k -> v / 2 }.toMap
  }

  private def run(edges: Seq[(Long, Long)],
      rootFilter: Option[org.apache.spark.sql.Column] = None,
      bipartite: Boolean = false): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val sym = (edges ++ edges.map(_.swap)).distinct
    Graph.betweennessGridPpm(sym.toDF("src", "dst"), rootFilter, bipartite)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def check(edges: Seq[(Long, Long)], tag: String): Unit =
    assert(run(edges) == gridBrandes(edges), tag)

  test("path graph: closed form i·(n-1-i)") {
    val n = 7
    val path = (0L until n.toLong).sliding(2).map(p => (p(0), p(1))).toSeq
    val got = run(path)
    for (i <- 0 until n)
      assert(got(i.toLong) == (i.toLong * (n - 1 - i)) * 1000000L, s"pos $i")
    check(path, "path")
  }

  test("star: hub carries every leaf pair, leaves carry nothing") {
    val leaves = 2L to 8L
    val star = leaves.map(l => (1L, l))
    val got = run(star)
    val k = leaves.size.toLong
    assert(got(1L) == k * (k - 1) / 2 * 1000000L)
    assert(leaves.forall(got(_) == 0L))
    check(star, "star")
  }

  test("random graphs across densities match sequential Brandes") {
    for ((p, seed) <- Seq((0.12, 21L), (0.25, 22L), (0.5, 23L))) {
      val rnd = new scala.util.Random(seed)
      val n = 18
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      check(edges, s"random p=$p")
    }
  }

  test("integer-grid variant: exact on closed forms, bounded drift on random graphs") {
    // paths and stars have integral δ at every step — the grid must be EXACT
    val path = (0L until 7L).sliding(2).map(p => (p(0), p(1))).toSeq
    val gotPath = run(path)
    for (i <- 0 until 7)
      assert(gotPath(i.toLong) == (i.toLong * (6 - i)) * 1000000L, s"pos $i")
    val star = (2L to 8L).map(l => (1L, l))
    val gotStar = run(star)
    assert(gotStar(1L) == 7L * 6 / 2 * 1000000L)
    // random graphs: per-term floors drop < 1 ppm each and propagate
    // along DAG edges with factor σv/σw ≤ 1, so the total drift per
    // node is bounded by roots × DAG-edges in ppm units — use the
    // loose bound n·E and require the grid to sit within it BELOW the
    // float value (floors only ever shrink)
    for ((p, seed) <- Seq((0.15, 41L), (0.4, 42L))) {
      val rnd = new scala.util.Random(seed)
      val n = 16
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      val expected = brandes(edges)
      val got = run(edges)
      val bound = n.toLong * edges.size * 2 + 2
      for ((v, bc) <- expected) {
        val expPpm = math.round(bc * 1e6)
        assert(got(v) <= expPpm + 1 && got(v) >= expPpm - bound,
          s"p=$p node $v: grid ${got(v)} vs float $expPpm (bound $bound)")
      }
    }
  }

  test("bipartite certificate: identical results with the same-layer anti skipped") {
    // random bipartite graphs (sides 1..nA and 101..100+nB, edges only
    // across): the certificate's claim is that the same-layer anti-join
    // never drops a row, so bipartite = true must equal both the
    // general path and the grid reference exactly
    for ((p, seed) <- Seq((0.25, 51L), (0.6, 52L))) {
      val rnd = new scala.util.Random(seed)
      val (nA, nB) = (9, 7)
      val edges = for {
        a <- 1 to nA; b <- 101 to (100 + nB)
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)
      val certified = run(edges, bipartite = true)
      assert(certified == gridBrandes(edges), s"p=$p: vs grid reference")
      assert(certified == run(edges),
        s"p=$p: bipartite path diverged from the general path")
    }
  }

  test("sampled roots equal the root-restricted reference sums") {
    val rnd = new scala.util.Random(31L)
    val edges = (for {
      a <- 1 to 16; b <- (a + 1) to 16
      if rnd.nextDouble() < 0.3
    } yield (a.toLong, b.toLong)).toSeq
    val sampledRoots = (edges.flatMap(e => Seq(e._1, e._2)).distinct
      .filter(_ % 2 == 0)).toSet
    assert(run(edges, Some(col("node") % 2 === 0)) ==
      gridBrandes(edges, Some(sampledRoots)))
  }
}
