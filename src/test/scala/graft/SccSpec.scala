package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Pins [[Graph.sccByClosure]] (the closure-doubling loop the catalog
  * runs) exactly equal to a sequential Tarjan reference, on random
  * digraphs across densities, on planted shapes that break known
  * heuristics, and on the catalog handoff graph. Labels are canonical
  * (scc_id = min member id), so equality is exact, not
  * up-to-relabeling.
  */
class SccSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Sequential Tarjan (iterative, explicit stack), returning the
    * canonical (node → min-member-id) labeling over nodes that carry at
    * least one edge — the operators' node convention.
    */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.ArrayBuffer[Long]()
    val label = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      // work stack of (node, next-child-offset)
      val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, i) = work.last
        if (i == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack += v; onStack += v
        }
        val children = adj.getOrElse(v, Seq.empty)
        var descended = false
        var j = i
        while (j < children.length && !descended) {
          val w = children(j)
          if (!index.contains(w)) {
            work(work.length - 1) = (v, j + 1)
            work += ((w, 0))
            descended = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            j += 1
          }
        }
        if (!descended) {
          if (low(v) == index(v)) {
            val comp = scala.collection.mutable.ArrayBuffer[Long]()
            var w = -1L
            while (w != v) {
              w = stack.remove(stack.length - 1); onStack -= w; comp += w
            }
            val id = comp.min
            comp.foreach(label(_) = id)
          }
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    label.toMap
  }

  private def toDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  private def check(edges: Seq[(Long, Long)], tag: String): Unit = {
    val got = Graph.sccByClosure(toDf(edges)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == tarjan(edges), tag)
  }

  test("planted shapes: cycles, bridges, chains, pinched siblings") {
    // two 3-cycles joined by a ONE-WAY bridge stay separate SCCs
    check(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L,
      10L -> 11L, 11L -> 12L, 12L -> 10L, 3L -> 10L), "bridged cycles")
    // pure DAG chain: every node a singleton
    check((1L to 9L).map(i => i -> (i + 1)), "chain")
    // figure-eight sharing node 5: ONE component
    check(Seq(1L -> 5L, 5L -> 1L, 5L -> 9L, 9L -> 5L), "figure eight")
    // the (fwd,bwd)-pair-heuristic counterexample: 1 and 2 share both
    // the max reacher (9) and the max reachable (8) yet are NOT
    // mutually reachable — must come out as four singletons
    check(Seq(9L -> 1L, 9L -> 2L, 1L -> 8L, 2L -> 8L),
      "pinched siblings")
    // self-contained: cycle whose members also hang DAG tails
    check(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L,
      0L -> 1L), "cycle with tails")
  }

  test("random digraphs across densities match Tarjan") {
    val rnd = new scala.util.Random(42)
    for (p <- Seq(0.02, 0.05, 0.12); trial <- 1 to 2) {
      val n = 40
      val edges = for {
        a <- 0L until n; b <- 0L until n
        if a != b && rnd.nextDouble() < p
      } yield (a, b)
      check(edges, s"random n=$n p=$p trial=$trial")
    }
  }

  test("catalog handoff graph: closure == Tarjan") {
    val edges = Graph.handoffEdges(Tables.events(spark, TestSpark.Sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty, "sf0.001 handoff graph must be non-empty")
    check(edges, "catalog sf0.001")
  }
}
