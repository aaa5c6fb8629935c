package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PLAN properties the 100 TB design claims — if a refactor
  * regresses a broadcast side or degrades a bucketed join to a nested
  * loop, these fail even though results stay correct. Executed (final
  * AQE) plans are inspected, not the lazy explain, because exchange
  * reuse and join-strategy selection finalize at runtime.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    s
  }

  /** (file name, plan) of every action in one run of `name`, captured
    * through the profiler's recorder — an iterative operator's round
    * plan is checkpoint-truncated out of the final explain. */
  private def actionPlans(name: String): Seq[(String, String)] = {
    val dir = Files.createTempDirectory("graft-plans")
    val rec = new graft.tools.Profile.Recorder(spark)
    val pass = try rec.record(Some(dir))(
      Bench.runOnce(spark, sf, name, scala.collection.mutable.ArrayBuffer.empty))
    finally rec.detach()
    assert(pass.sec >= 0, s"$name failed")
    Files.list(dir).iterator.asScala.toSeq.sortBy(_.toString).map(f =>
      f.getFileName.toString -> Files.readString(f))
  }

  /** The final adaptive plan of a captured action. */
  private def finalPlan(plan: String): String =
    plan.split("== Executed plan ==").last.split("== Initial Plan ==").head

  test("q50 broadcasts the HOT shingle side of a left_anti join") {
    val plan = executedPlan("q50_neardup_dfcapped")
    // the df>cap set must be the broadcast (build) side of an anti join;
    // broadcasting the keep/low-df side would invert at corpus scale
    assert(plan.contains("LeftAnti"), "expected a left_anti prune join")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined ||
      plan.linesIterator.exists(l => l.contains("LeftAnti") && l.contains("Broadcast")),
      s"left_anti prune should broadcast the tiny hot set:\n$plan")
  }

  test("q28 verify stage has no broadcast HINT and shingles come from cache") {
    val df = SparkEntry.queries("q28_dedup_minhash_lsh")(spark, sf)
    // static optimized plan: the candidate join must not carry a
    // user-supplied broadcast hint (AQE may still CHOOSE broadcast at
    // this sf — that is the point: size-based, not forced)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("ResolvedHint"),
      s"no user broadcast hints expected in q28:\n$optimized")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("InMemoryTableScan"),
      "shingle frame should be served from the persisted cache")
    spark.catalog.clearCache()
  }

  test("q62 bloom prefilter sits in the scan stage, before the shuffle") {
    val plan = executedPlan("q62_decon_bloom")
    assert(plan.contains("might_contain"),
      s"training shingles must pass BloomFilterMightContain before the join:\n$plan")
  }

  test("q52 interval range join is a hash join, not a nested loop") {
    val plan = executedPlan("q52_interval_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucketed range join must never fall back to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on (user, bucket):\n$plan")
  }

  test("q51 as-of join is one window pass — no join operator at all") {
    val plan = executedPlan("q51_asof_join")
    assert(!plan.contains("Join"), s"as-of must be join-free:\n$plan")
    assert(plan.contains("Window"), s"expected the ordered carry window:\n$plan")
  }

  test("q58 decontamination broadcasts the benchmark shingle side") {
    val plan = executedPlan("q58_decontamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side should broadcast in the containment join:\n$plan")
  }

  test("q47 IVF probes via broadcast of the tiny query side") {
    val plan = executedPlan("q47_ann_ivf_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-side broadcast expected for the probed-list join:\n$plan")
  }

  test("q33 grid-LSH: no shuffle before the candidate join, query side broadcast") {
    val plan = executedPlan("q33_ann_lsh_topk")
    // signatures are row-local literal-plane folds — the only join the
    // corpus side sees is the (tbl, band, chunk) candidate equi-join
    // with the tiny query side broadcast into it
    assert(plan.contains("BroadcastHashJoin"),
      s"query-side broadcast expected in the LSH candidate join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"grid LSH must never fall back to a nested-loop join:\n$plan")
  }

  test("q63 grid-PQ: ADC lookups join a BROADCAST query distance table") {
    val plan = executedPlan("q63_ann_pq_topk")
    // the corpus side of the ADC scan carries codes only; the m×k query
    // distance table is the broadcast build side
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC should probe a broadcast distance table:\n$plan")
  }

  test("q72 recount joins against a BROADCAST candidate set") {
    val plan = executedPlan("q72_heavy_hitters")
    // the whole point of MG+recount: the raw token stream is filtered by
    // a broadcast of <= partitions*k candidates, never shuffled on token
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate set must broadcast into the recount join:\n$plan")
  }

  test("q73 z-value computation stays inside whole-stage codegen") {
    val df = SparkEntry.queries("q73_zorder_code")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // builtin shift/mask expressions: no UDF, no extra exchange beyond
    // the final presentation sort
    // AQE's final-plan rendering marks codegen stages with "*(n)"
    assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"expected codegen:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"morton code must not run through a UDF:\n$plan")
    spark.catalog.clearCache()
  }

  test("q29 simhash self-join reads the fingerprint frame from cache") {
    val df = SparkEntry.queries("q29_dedup_simhash")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    // both sides of the banded candidate join must come from the
    // persisted fps frame — otherwise the 64-column bit-vote
    // aggregation runs twice per action
    assert(plan.contains("InMemoryTableScan"),
      s"simhash fingerprints should be served from cache:\n$plan")
  }

  test("q82 span frame is cached; dup-set join is not a nested loop") {
    val plan = executedPlan("q82_dup_span_stats")
    assert(plan.contains("InMemoryTableScan"),
      s"span frame feeds two consumers and must be cached:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"dup flagging must stay an equi-join on the span hash:\n$plan")
  }

  test("q85 bm25 top-k is TakeOrdered, never a global sort") {
    val plan = executedPlan("q85_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps + driver merge:\n$plan")
  }

  test("q75 composed pipeline truncates stage lineage at checkpoint seams") {
    // r16: curateStages checkpoints each stage seam (qual/deduped/
    // clean), so the final count plan reads LogicalRDD scans instead
    // of re-inlining every stage's subtree (the composed plan was 14k
    // lines and Catalyst re-analysis a real cost). The anti-join /
    // broadcast shapes of the stages themselves are pinned by the
    // stage operators' own tests and the oracle row counts.
    val plan = executedPlan("q75_curation_pipeline")
    assert(plan.contains("ExistingRDD"),
      s"stage seams should appear as checkpointed LogicalRDD scans:\n$plan")
    val nLines = plan.linesIterator.size
    assert(nLines < 2000,
      s"composed plan should stay O(stage) after seam truncation, got $nLines lines")
  }

  test("q57 label propagation truncates its rounds at checkpoint seams") {
    // r16: each propagation round is a localCheckpoint seam, so the
    // final plan reads LogicalRDD scans instead of re-inlining every
    // round (the r15 executed plan was 51,621 lines)
    val plan = executedPlan("q57_dedup_clusters")
    assert(plan.contains("ExistingRDD"),
      s"round seams should appear as checkpointed LogicalRDD scans:\n$plan")
    val nLines = plan.linesIterator.size
    assert(nLines < 500,
      s"label-propagation plan should stay O(round) after seam truncation, got $nLines lines")
  }

  test("q177 forward BFS round 2: one map-side-combined push exchange, no SMJ") {
    // r16: sigma is aggregated before the visited anti-joins, which
    // touch only the last two layers, so a round ships its push once,
    // after a partial aggregate. The round plan is the localCheckpoint
    // action whose projection stamps the layer depth.
    val rounds = actionPlans("q177_betweenness").filter { case (f, p) =>
      f.endsWith("-localCheckpoint.txt") && """\b2 AS d#""".r.findFirstIn(p).nonEmpty }
    assert(rounds.size == 1, s"expected one depth-2 round plan, got ${rounds.map(_._1)}")
    val (file, plan) = rounds.head
    assert(!plan.contains("SortMergeJoin"), s"$file plans a sort-merge join:\n$plan")
    val lines = finalPlan(plan).linesIterator.toVector
    val shuffles = lines.indices.filter(i => lines(i).contains("+- Exchange hashpartitioning"))
    assert(shuffles.size == 1, s"$file: expected one shuffle exchange:\n$plan")
    val at = shuffles.head
    assert(lines(at + 1).contains("HashAggregate") && lines(at + 1).contains("partial_sum"),
      s"$file: the exchange must sit on a partial aggregate:\n$plan")
    assert(lines.take(at).exists(l => l.contains("HashAggregate") && !l.contains("partial_")),
      s"$file: the exchange must feed the final aggregate:\n$plan")
  }

  test("q160 k-means update round joins only the broadcast centroids") {
    // r16: the member vector rides through the argmin aggregate, so the
    // update re-explodes it row-locally instead of joining the exploded
    // corpus against the assignment; the only join left is the
    // assignment's cross join with the broadcast k-centroid frame, and
    // one exchange separates the argmin aggregate from the update's
    val rounds = actionPlans("q160_kmeans_intgrid").filter { case (f, p) =>
      f.endsWith("-localCheckpoint.txt") && p.contains("posexplode") &&
        p.contains("SortAggregate") }
    assert(rounds.size == 2, s"expected two update rounds, got ${rounds.map(_._1)}")
    rounds.foreach { case (file, plan) =>
      val fin = finalPlan(plan)
      assert(Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .forall(j => !plan.contains(j)), s"$file: no hash or sort-merge join expected:\n$plan")
      assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(fin).size == 1,
        s"$file: one broadcast centroid cross join expected:\n$plan")
      val update = fin.linesIterator.takeWhile(!_.contains("SortAggregate(")).toVector
      assert(update.count(_.contains("+- Exchange hashpartitioning")) == 1 &&
        update.exists(_.contains("Generate posexplode")),
        s"$file: argmin → update should be one exchange and a row-local explode:\n$plan")
    }
  }

  test("q100 sessions reuse the user partitioning: exactly one exchange") {
    val plan = executedPlan("q100_gap_sessions")
    // the window shuffles on user_id; the (user_id, session_no) agg is
    // satisfied by that same partitioning (user_id ⊆ grouping keys), so a
    // second exchange would mean the plan regressed. The final ORDER BY
    // adds its rangepartitioning exchange — allow exactly those two.
    // (AQE's toString repeats the Initial Plan — count the final only.)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"expected ≤2 exchanges (user shuffle + output sort), got $exchanges:\n$plan")
  }

  test("q102 inverted index serves occurrences from cache, df-prunes before collect") {
    val plan = executedPlan("q102_inverted_index")
    assert(plan.contains("InMemoryTableScan"),
      s"occurrence frame feeds df agg and collect join — must be cached:\n$plan")
  }

  test("q103 fuzzy join stays an equi-join: no cartesian, no nested loop") {
    val plan = executedPlan("q103_fuzzy_key_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"wildcard blocking must plan a hash/sort-merge equi-join:\n$plan")
  }

  test("q110 pagerank reuses the cached edge frame and keeps joins keyed") {
    val plan = executedPlan("q110_pagerank")
    assert(plan.contains("InMemoryTableScan"),
      s"edges+outdeg are persisted once for all iterations:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"only broadcast 1-row cross joins allowed (n_nodes), no cartesian:\n$plan")
  }

  test("q128 triangle closure is an equi-join: no nested loop over wedges") {
    val plan = executedPlan("q128_triangle_counts")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"canonicalized closure edges must hash-join against wedges:\n$plan")
  }

  test("randomWalks keeps every step an equi-join: no nested loop, no fanout") {
    // randomWalks' final frame carries the FULL lineage (persists do
    // not truncate plans), so one assertion covers all steps: the
    // md5-picked hop must be the (node, rank) two-key equi-join the
    // scaladoc claims, never a nested loop with a rank filter.
    // (kTruss/bfsDistances checkpoint per round, so their final plans
    // are truncated — their join shapes are pinned structurally: every
    // per-round join uses Seq(...) key equality, and the wedge
    // enumeration is the q128 machinery pinned above.)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val half = (0 until 300)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    val und = (half ++ half.map(p => (p._2, p._1))).toDF("src", "dst")
    val walks = graft.operators.Graph.randomWalks(und, walkLen = 3, seed = 5L)
    walks.collect()
    val plan = walks.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"every walk step must stay keyed:\n$plan")
  }

  test("q134 compaction plan windows per directory, never a single partition") {
    val plan = executedPlan("q134_compaction_plan")
    assert(!plan.split("== Initial Plan ==").head.contains("Exchange SinglePartition"),
      s"the per-dir running sum must shuffle on dir, not collapse to one partition:\n$plan")
  }

  test("q111 weighted sample is TakeOrdered, never a global sort") {
    val plan = executedPlan("q111_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"priority top-k must be per-partition heaps + driver merge:\n$plan")
  }

  test("q161 retriever top-100s are TakeOrdered; nested loops only for 1-row query frames") {
    val plan = executedPlan("q161_rrf_fusion")
    assert(plan.contains("TakeOrderedAndProject"),
      s"per-retriever top-k must be TakeOrdered, not a global sort:\n$plan")
    // the only nested-loop joins allowed are the crossJoins that append
    // THE single query vector to every corpus row (a 1-row broadcast
    // side — the q32 query-side-broadcast convention); a nested loop
    // between two corpus-sized sides would be the O(n²) regression
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(bnljs <= 2, s"only the two 1-row query-vector appends may be " +
      s"nested loops, found $bnljs:\n$plan")
  }

  test("q163 attribution pairs via user-keyed equi-join, never a nested loop") {
    val plan = executedPlan("q163_attribution")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"touch×conversion pairing must stay keyed on user_id:\n$plan")
  }

  test("q165 trailing actives expands days row-locally (no join fanout)") {
    val plan = executedPlan("q165_trailing_actives")
    assert(plan.contains("Generate"),
      s"the day-range expansion must be an explode, not a range join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"no nested loop in the day expansion:\n$plan")
  }

  test("q159 condensation lifts and profiles via broadcast joins only") {
    val plan = executedPlan("q159_condensation")
    assert(!plan.split("== Initial Plan ==").head.contains("SortMergeJoin"),
      s"scc/count frames are node-sized and must broadcast:\n$plan")
  }

  test("q187 prefix-filter join never degrades to a nested loop") {
    val plan = executedPlan("q187_neardup_prefix_filter")
    // candidate generation and verify are both gram-keyed equi-joins;
    // a BNLJ/cartesian anywhere would be the all-pairs regression the
    // prefix filter exists to prevent
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"prefix-filter candidate/verify joins must stay gram-keyed:\n$plan")
  }

  test("q291 anchor dedup stays band-keyed (no nested loop anywhere)") {
    val plan = executedPlan("q291_audio_anchor_dedup")
    // anchor hashing is partition-local; the only joins are the
    // (band_i, band_v) equi-join and the doc_id-keyed readout joins —
    // a BNLJ/cartesian would be the all-pairs clip comparison the
    // banding exists to prevent
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"anchor candidate/readout joins must stay keyed:\n$plan")
  }

  test("q292 iterated EM exchanges only broadcast 1-row appends per round") {
    val plan = executedPlan("q292_unigram_lm_em_iter")
    assert(!plan.contains("CartesianProduct"),
      s"no true cartesian anywhere in the EM loop:\n$plan")
    // every nested loop must be a 1-row broadcast append (the q32
    // convention): seed totals, per-round model map + survivor totals,
    // final readout totals — 6 for the 2-round schedule; a corpus- or
    // vocab-sized nested loop would mean a round's model stopped
    // broadcasting
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(bnljs <= 6,
      s"only the 1-row totals/model appends may be nested loops, " +
        s"found $bnljs:\n$plan")
  }

  test("q290 containment prefix path stays gram-keyed (no hot-key all-pairs)") {
    val plan = executedPlan("q290_containment_prefix")
    // the probe-prefix × full-gram candidate join and the verify
    // re-joins must all be equi-joins on g / (doc, g); any BNLJ or
    // cartesian is the unbounded self-join q290 exists to replace
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"containment candidate/verify joins must stay gram-keyed:\n$plan")
  }

  test("q184 EWMA is one window pass — join-free, single data shuffle") {
    val plan = executedPlan("q184_ewma")
    assert(!plan.contains("Join"), s"EWMA must be join-free:\n$plan")
    assert(plan.contains("Window"), s"expected the 8-lag window:\n$plan")
    // exactly one HASH shuffle (on user_id); the trailing
    // rangepartitioning exchange is the catalog's presentation orderBy,
    // not part of the operator
    val hashExchanges = "hashpartitioning".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(hashExchanges <= 1,
      s"per-entity trailing features need exactly one keyed shuffle, " +
        s"found $hashExchanges:\n$plan")
  }

  test("q190 sweep-line is partitioned by series — no global data sort") {
    val plan = executedPlan("q190_peak_concurrency")
    assert(!plan.contains("Join"), s"the sweep must be join-free:\n$plan")
    // the running sum must sort WITHIN event_type hash partitions; the
    // only rangepartitioning allowed is the final presentation orderBy
    assert(plan.contains("hashpartitioning(event_type"),
      s"the sweep window must shuffle by event_type:\n$plan")
    val rangeExchanges = "rangepartitioning".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(rangeExchanges <= 1,
      s"only the presentation orderBy may range-partition, " +
        s"found $rangeExchanges:\n$plan")
  }

  test("q219 salted join keys on (k, salt) through the shuffled path") {
    val plan = executedPlan("q219_salted_join")
    val finalPlan = plan.split("== Initial Plan ==").head
    // the whole point of salting is to spread a hot key across salt
    // partitions — a broadcast join would bypass the salted shuffle
    assert(finalPlan.contains("SortMergeJoin"),
      s"salted join must stay on the shuffled merge path:\n$finalPlan")
    assert(finalPlan.contains("salt"),
      s"join keys must include the salt column:\n$finalPlan")
    assert(!finalPlan.contains("BroadcastHashJoin"),
      s"broadcast would defeat the salting demonstration:\n$finalPlan")
  }

  test("q228 injects a runtime bloom filter into the probe side") {
    val plan = executedPlan("q228_bloom_runtime_join")
    val finalPlan = plan.split("== Initial Plan ==").head
    // InjectRuntimeFilter must rewrite the fact scan to
    // might_contain(bloom(build keys)) — pruning before the shuffle is
    // the whole 100 TB point of the query
    assert(finalPlan.contains("might_contain"),
      s"expected a runtime bloom filter on the probe side:\n$finalPlan")
    assert(finalPlan.contains("SortMergeJoin") ||
      finalPlan.contains("ShuffledHashJoin"),
      s"the join must stay shuffled (broadcast disabled in the iso " +
        s"session):\n$finalPlan")
  }

  test("q241 dense ids keep the data-sized window bucket-partitioned") {
    val plan = executedPlan("q241_dense_surrogate_ids")
    val finalPlan = plan.split("== Initial Plan ==").head
    // the data-sized row_number window must shuffle on the bucket
    // column, and the ONLY single-partition funnel allowed is the
    // 64-row offsets frame (the naive ROW_NUMBER() OVER (ORDER BY k)
    // would put Exchange SinglePartition under the data window —
    // exactly the shape the bucket-offset construction avoids)
    assert(finalPlan.contains("hashpartitioning(b"),
      s"expected the per-bucket data shuffle:\n$finalPlan")
    val singles =
      "Exchange SinglePartition".r.findAllIn(finalPlan).length
    assert(singles <= 1,
      s"more than one single-partition funnel ($singles):\n$finalPlan")
  }

  test("q196 stage-1 partials accumulate as LONGS; decimal appears only " +
      "in the per-flag merge") {
    // the perf shape behind exactMomentSums: reverting the inner
    // aggregate to DECIMAL(38,0) sums would pass the oracle (both are
    // exact) while re-paying 128-bit adds on every fact row — pin the
    // two-stage long-then-decimal structure at the logical-plan level
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val df = SparkEntry.queries("q196_grouped_correlation")(spark, sf)
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size == 2, s"expected exactly two aggregation stages, " +
      s"got ${aggs.size}:\n${df.queryExecution.optimizedPlan}")
    // collect() order is top-down: head = the flag merge, last = the
    // chunk stage over the scan
    val inner = aggs.last
    val innerSumTypes = inner.aggregateExpressions
      .flatMap(_.collect {
        case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
            if ae.aggregateFunction.prettyName == "sum" =>
          ae.aggregateFunction.dataType
      })
    assert(innerSumTypes.nonEmpty && innerSumTypes.forall(_ == LongType),
      s"stage-1 sums must be LONG, got $innerSumTypes")
    val outer = aggs.head
    val outerSumTypes = outer.aggregateExpressions
      .flatMap(_.collect {
        case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
            if ae.aggregateFunction.prettyName == "sum" =>
          ae.aggregateFunction.dataType
      })
    assert(outerSumTypes.count(_.isInstanceOf[DecimalType]) == 5,
      s"the five merged moment sums must be DECIMAL(38,0), got $outerSumTypes")
  }

  test("q234 AQE marks the executed join as a skew-split join") {
    val plan = executedPlan("q234_aqe_skew_join")
    val finalPlan = plan.split("== Initial Plan ==").head
    // OptimizeSkewedJoin tags the join node once it has split a reduce
    // partition — this is the runtime mechanism the query certifies
    assert(finalPlan.contains("skew=true"),
      s"expected the skew-split marker on the executed join:\n$finalPlan")
    assert(!finalPlan.contains("BroadcastHashJoin"),
      s"broadcast would dissolve the skew instead of splitting it:\n$finalPlan")
  }

  test("q263 marks dup grams in ONE gram exchange - window, no join-back") {
    val plan = executedPlan("q263_exactsubstr_removal")
    // the min!=max marking must ride the same window pass that grouped
    // the grams: exactly one data-sized join is allowed (the final
    // one-row-per-doc left join), never a gram-keyed join-back
    val finalPlan = plan.split("== Initial Plan ==").head
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(finalPlan).size
    assert(joins <= 2,
      s"q263 should have no gram join-back (doc-level left join + at most one AQE artifact), saw $joins joins:\n$finalPlan")
    assert(finalPlan.contains("Window"),
      s"expected the gram-partition window marking pass:\n$finalPlan")
  }

  test("q278's gram exchange carries an 8-byte hash, not L-char text") {
    val plan = executedPlan("q278_exactsubstr_hashed")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("xxhash64"),
      s"expected xxhash64 gram hashing on the exchange input:\n$finalPlan")
    // a LongType attribute prints with the L suffix (gram#123L); the
    // exact form's string gram would print bare — this is the narrow-
    // shuffle claim the variant exists for
    assert("hashpartitioning\\(gram#\\d+L".r.findFirstIn(finalPlan).isDefined,
      s"the gram exchange key must be the 8-byte hash (bigint):\n$finalPlan")
    val exact = executedPlan("q263_exactsubstr_removal")
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\(gram#\\d+L".r.findFirstIn(exact).isEmpty,
      "control: the exact form's gram key should be the string itself")
  }

  test("q283's novelty window keys on the 8-byte gram hash") {
    // the xxhash64 itself folds into a HashAggregate's result
    // projection (not printed); the narrow-shuffle CLAIM is the
    // exchange key type — bigint gk, not the gram string
    val plan = executedPlan("q283_novelty_hashed")
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\(gk#\\d+L".r.findFirstIn(plan).isDefined,
      s"the gram-partition window must key on the bigint hash:\n$plan")
    val exact = executedPlan("q270_novelty_rates")
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\(gk#\\d+L".r.findFirstIn(exact).isEmpty,
      "control: the exact form's window keys on the gram string")
  }

  test("q277 matches through a broadcast phrase join, corpus never shuffled for grams") {
    val plan = executedPlan("q277_blocklist_large")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"phrase list must broadcast:\n$finalPlan")
    // the MATCHING side builds grams row-locally — a transform over the
    // token array feeding the broadcast probe (the mining side's
    // shingles window is the blocklist build, not the per-doc path)
    assert(finalPlan.contains("transform(sequence(1"),
      s"q277's probe grams must come from a row-local transform:\n$finalPlan")
  }

  test("q271 mines its blocklist with TakeOrderedAndProject, not a global window") {
    val plan = executedPlan("q271_blocklist_hits")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k blocklist must be distributed top-k:\n$plan")
    // a global row_number would appear as a Window with no partition key
    assert(!plan.contains("Window [row_number()"),
      s"no global row_number window expected:\n$plan")
  }

  test("q268/q274/q225 two-phase global rank broadcasts the bucket-offset frame") {
    for (name <- Seq("q268_selection_by_score", "q274_score_auc",
        "q225_quantile_norm")) {
      val plan = executedPlan(name)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: the B-row offset frame must join broadcast:\n$plan")
    }
  }

  test("q286's phrase join shuffles on the 8-byte gram hash, no broadcast build") {
    val plan = executedPlan("q286_blocklist_shuffle")
    val finalPlan = plan.split("== Initial Plan ==").head
    // the beyond-broadcast claim: the gram-phrase join must exchange on
    // the bigint xxhash64 key (gk#...L), not build a phrase hash table
    assert(finalPlan.contains("xxhash64"),
      s"expected xxhash64 gram hashing on both join inputs:\n$finalPlan")
    assert("hashpartitioning\\(gk#\\d+L".r.findFirstIn(finalPlan).isDefined,
      s"the phrase join must shuffle on the bigint gram hash:\n$finalPlan")
    val control = executedPlan("q277_blocklist_large")
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\(gk#\\d+L".r.findFirstIn(control).isEmpty,
      "control: the broadcast form has no gram-hash exchange")
  }

  test("q221 ranks the key frame two-phase - no single-partition window " +
      "or percentile buffer over the keys") {
    val plan = executedPlan("q221_skew_diagnostic")
    val finalPlan = plan.split("== Initial Plan ==").head
    // the key-sized row_number window must shuffle on the bucket column
    // (the q241/q268 discipline) and the offsets frame must broadcast
    assert(finalPlan.contains("hashpartitioning(bkt"),
      s"expected the per-bucket key-frame shuffle:\n$finalPlan")
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"the B-row offset frame must join broadcast:\n$finalPlan")
    // the exact percentiles now come from the same two-phase ranks —
    // never a single-reduce percentile buffer holding all n_keys values
    assert(!finalPlan.contains("percentile"),
      s"no single-reduce percentile aggregate expected:\n$finalPlan")
    // allowed single-partition funnels: the <=65-row offsets window and
    // the 1-row final readout agg — never the data- or key-sized frame
    val singles = "Exchange SinglePartition".r.findAllIn(finalPlan).length
    assert(singles <= 2,
      s"more than two single-partition funnels ($singles):\n$finalPlan")
  }
}
