package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtendedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("builtin approx sketches land within tolerance of exact answers") {
    val rows = graft.operators.Extended.builtinSketchSummary(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_orders").toDouble
      val e = exact(r.getAs[String]("l_returnflag")).toDouble
      assert(math.abs(approx - e) / e < 0.1,
        s"HLL estimate $approx too far from exact $e")
      assert(r.getAs[Double]("approx_median") > 0.0)
    }
  }

  test("q46 portable sketches land within tolerance of exact answers") {
    val rows = SparkEntry.queries("q46_approx_sketches")(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        // rank-based median (the ceil(n/2)-th order statistic) — the
        // value the sketch's bucket actually bounds; interpolating
        // percentile() can legitimately exceed the bucket UB when the
        // two middle values straddle a $1000 boundary
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("exact_median"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val flag = r.getAs[String]("flag")
      val (eOrders, eMedian) = exact(flag)
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - eOrders) / eOrders < 0.1,
        s"md5-HLL estimate $approx too far from exact $eOrders ($flag)")
      // grid median: one-sided upper bound, within one $1000 bucket
      val ubDollars = r.getAs[Long]("approx_median_cents_ub") / 100.0
      assert(ubDollars >= eMedian && ubDollars < eMedian + 1000.0,
        s"grid median UB $ubDollars vs exact $eMedian ($flag)")
    }
  }

  test("GraftExtensions registers graft_cosine via spark.sql.extensions") {
    // GraftExtensions reaches TestSpark's session through its ServiceLoader
    // entry (a deployment's spark.sql.extensions applies the same class),
    // so the function must resolve through plain SQL with no manual
    // registration call.
    Tables.embeddings(spark, sf).limit(3).createOrReplaceTempView("e3")
    val n = spark.sql(
      """SELECT graft_cosine(a.embedding, b.embedding) AS cs
        |FROM e3 a JOIN e3 b ON a.vec_id < b.vec_id""".stripMargin).count()
    assert(n === 3L)
    spark.catalog.dropTempView("e3")
  }

  test("cdcMerge: latest seq wins, deletes drop, late low-seq changes are ignored") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a2", 5L, "U"),  // update k=1
      (2L, "b2", 4L, "D"),  // delete k=2
      (3L, "late", -1L, "U"), // below base seq 0? no — base carries 0; use seq ordering
      (4L, "d", 2L, "U")    // insert k=4
    ).toDF("k", "v", "seq", "op")
    val out = graft.operators.Extended.cdcMerge(base, changes, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.clearCache()
    assert(out == Map(1L -> "a2", 3L -> "c", 4L -> "d"),
      s"got $out")
  }

  test("cdcMerge: an update and a delete sharing a seq resolve to the delete") {
    // commit-id changelogs assign one seq to a whole batch: the tie
    // must resolve deterministically (op tiebreak, 'D' first), never
    // to an arbitrary row_number winner
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val changes = Seq(
      (1L, "a2", 7L, "U"), (1L, "a2", 7L, "D"), // same-seq race on k=1
      (2L, "b2", 3L, "U")
    ).toDF("k", "v", "seq", "op")
    val out = graft.operators.Extended.cdcMerge(base, changes, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.clearCache()
    assert(out == Map(2L -> "b2"), s"got $out")
  }

  test("tableDiff: a value shifted between nullable columns is out of sync") {
    // concat_ws skips NULL arguments — without the NUL-sentinel
    // serialization, ("A", NULL, "x") and (NULL, "A", "x") collide and
    // the divergence checksums as in_sync
    val s = spark
    import s.implicits._
    val a = Seq((1L, Option("A"), Option.empty[String]),
      (2L, Option("B"), Option.empty[String]))
      .toDF("k", "c1", "c2")
    val b = Seq((1L, Option.empty[String], Option("A")), // shifted
      (2L, Option("B"), Option.empty[String]))
      .toDF("k", "c1", "c2")
    val diff = graft.operators.Extended
      .tableDiff(a, b, "k", Seq("k", "c1", "c2"), nBuckets = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    spark.catalog.clearCache()
    assert(!diff(1L % 4), s"null-shifted bucket must differ: $diff")
    assert(diff(2L % 4), s"untouched bucket must stay in sync: $diff")
  }

  test("property: cdcMerge equals a per-key max-seq reference over random changelogs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(67)
    (0 until 5).foreach { trial =>
      val baseKeys = (0 until 30 + rnd.nextInt(40)).map(_.toLong)
      val base = baseKeys.map(k => (k, s"b$k"))
      // unique seq per (key, change) via a counter so ordering is total
      var seq = 0L
      val changes = (0 until 60).map { _ =>
        seq += 1
        val k = rnd.nextInt(baseKeys.size + 10).toLong // some inserts
        val op = if (rnd.nextInt(4) == 0) "D" else "U"
        (k, s"v$seq", seq, op)
      }
      val expect = {
        val byKey = changes.groupBy(_._1)
        val allKeys = (baseKeys ++ byKey.keys).distinct
        allKeys.flatMap { k =>
          val cs = byKey.getOrElse(k, Seq.empty)
          val (win, winOp): (String, String) =
            if (cs.isEmpty) (s"b$k", if (baseKeys.contains(k)) "U" else "D")
            else { val c = cs.maxBy(_._3); (c._2, c._4) }
          if (cs.isEmpty && !baseKeys.contains(k)) None
          else if (winOp == "D") None
          else Some(k -> win)
        }.toMap
      }
      val got = graft.operators.Extended.cdcMerge(
          base.toDF("k", "v"), changes.toDF("k", "v", "seq", "op"), "k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.catalog.clearCache()
      assert(got == expect, s"trial $trial")
    }
  }

  test("scd2History: updates version, deletes close without a current row") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a2", 2L, "U"), (1L, "a3", 5L, "U"), // two updates on k=1
      (2L, "x", 4L, "D"),                       // delete k=2
      (4L, "d", 3L, "U")                        // insert k=4
    ).toDF("k", "v", "seq", "op")
    val out = graft.operators.Extended.scd2History(base, changes, "k")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
      .toSet
    spark.catalog.clearCache()
    assert(out == Set(
      (1L, "a", 0L, Some(2L), false),
      (1L, "a2", 2L, Some(5L), false),
      (1L, "a3", 5L, None, true),
      (2L, "b", 0L, Some(4L), false), // closed by the delete, no current row
      (3L, "c", 0L, None, true),
      (4L, "d", 3L, None, true)), s"got $out")
  }

  test("property: scd2History current rows equal cdcMerge over random changelogs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(68)
    (0 until 3).foreach { trial =>
      val baseKeys = (0 until 30 + rnd.nextInt(40)).map(_.toLong)
      val base = baseKeys.map(k => (k, s"b$k")).toDF("k", "v")
      var seq = 0L
      val changes = (0 until 60).map { _ =>
        seq += 1
        (rnd.nextInt(baseKeys.size + 10).toLong, s"v$seq", seq,
          if (rnd.nextInt(4) == 0) "D" else "U")
      }.toDF("k", "v", "seq", "op")
      val current = graft.operators.Extended.scd2History(base, changes, "k")
        .filter(col("is_current"))
        .select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val merged = graft.operators.Extended.cdcMerge(base, changes, "k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.catalog.clearCache()
      assert(current == merged, s"trial $trial")
    }
  }

  test("property: cdcMerge(before, snapshotDiff(before, after)) == after") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(69)
    (0 until 3).foreach { trial =>
      val before = (0 until 60).map(k => (k.toLong, s"v${rnd.nextInt(5)}"))
        .toDF("k", "v")
      // after: drop some keys, mutate some, insert some fresh
      val after = (0 until 60).flatMap { k =>
        rnd.nextInt(4) match {
          case 0 => None                                     // delete
          case 1 => Some((k.toLong, s"m${rnd.nextInt(5)}"))  // mutate
          case _ => Some((k.toLong, s"v${rnd.nextInt(5)}"))  // maybe same
        }
      } ++ (100 until 100 + rnd.nextInt(10)).map(k => (k.toLong, "new"))
      val afterDf = after.toDF("k", "v")
      val beforeRows = before.toDF("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val changes = graft.operators.Extended.snapshotDiff(
        (beforeRows.toSeq).toDF("k", "v"), afterDf, "k")
      val rebuilt = graft.operators.Extended.cdcMerge(
          (beforeRows.toSeq).toDF("k", "v"), changes, "k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.catalog.clearCache()
      assert(rebuilt == after.toMap, s"trial $trial")
    }
  }

  test("qualityReport: planted violations count, clean checks pass") {
    val s = spark
    import s.implicits._
    val t = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (2L, "c")).toDF("k", "v")
    val out = graft.operators.Extended.qualityReport(Seq(
        "v_complete" -> t.filter(col("v").isNull),
        "k_unique" -> t.groupBy(col("k")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
        "k_positive" -> t.filter(col("k") <= 0)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    spark.catalog.clearCache()
    assert(out("v_complete") == ((1L, false)))
    assert(out("k_unique") == ((1L, false)))
    assert(out("k_positive") == ((0L, true)))
  }

  test("histogramDrift: shifted mass shows as paired deltas, clamps at edges") {
    val s = spark
    import s.implicits._
    val before = Seq(5.0, 5.0, 15.0, 95.0, -3.0).toDF("x")   // bins 0,0,1,9(clamp),0(clamp)
    val after = Seq(15.0, 15.0, 15.0, 95.0, 200.0).toDF("x") // bins 1,1,1,9,9(clamp)
    val out = graft.operators.Extended
      .histogramDrift(before, after, "x", lo = 0.0, hi = 100.0, bins = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    spark.catalog.clearCache()
    assert(out(0L) == ((3L, 0L, 3L)), s"got $out") // two 5s + clamped -3
    assert(out(1L) == ((1L, 3L, 2L)))
    assert(out(9L) == ((1L, 2L, 1L)))              // 95 stays, 200 clamps in
  }

  test("pointInTimeJoin: boundary sees the version AT its seq, delete and re-insert reset") {
    val s = spark
    import s.implicits._
    val versions = Seq(
      (1L, 10L, "v10", "U"), (1L, 20L, "v20", "U"),
      (2L, 10L, "w10", "U"), (2L, 15L, "w", "D"), (2L, 30L, "w30", "U"))
      .toDF("k", "seq", "val", "op")
    val facts = Seq(
      (1L, 5L),   // before any version → null
      (1L, 10L),  // exactly at v10 → v10
      (1L, 19L),  // between → v10
      (1L, 20L),  // exactly at v20 → v20
      (2L, 12L),  // live → w10
      (2L, 16L),  // after delete → null
      (2L, 31L))  // after re-insert → w30
      .toDF("k", "seq")
    val out = graft.operators.Extended
      .pointInTimeJoin(facts, versions, "k", "seq", Seq("val"), opCol = Some("op"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2)))
      .toMap
    spark.catalog.clearCache()
    assert(out == Map(
      (1L, 5L) -> None, (1L, 10L) -> Some("v10"), (1L, 19L) -> Some("v10"),
      (1L, 20L) -> Some("v20"),
      (2L, 12L) -> Some("w10"), (2L, 16L) -> None, (2L, 31L) -> Some("w30")),
      s"got $out")
  }

  test("pointInTimeJoin: a version's legitimately-null field stays null (atomic struct carry)") {
    val s = spark
    import s.implicits._
    // key 1: v1 at seq 10 carries (a="x", b=5); v2 at seq 20 carries
    // (a=null, b=7) — a fact at seq 25 must see a=null (v2's actual
    // state), NOT "x" resurrected from v1 by a per-column carry
    val versions = Seq(
      (1L, 10L, Option("x"), Option(5L), "U"),
      (1L, 20L, Option.empty[String], Option(7L), "U"))
      .toDF("k", "seq", "a", "b", "op")
    val facts = Seq((1L, 15L), (1L, 25L)).toDF("k", "seq")
    val out = graft.operators.Extended
      .pointInTimeJoin(facts, versions, "k", "seq", Seq("a", "b"),
        opCol = Some("op"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)))))
      .toMap
    spark.catalog.clearCache()
    assert(out == Map(
      (1L, 15L) -> ((Some("x"), Some(5L))),
      (1L, 25L) -> ((None, Some(7L)))),
      s"the seq-20 version's null 'a' must be preserved atomically: $out")
  }

  test("format round-trip preserves the projected slice exactly") {
    val out = SparkEntry.queries("q44_format_roundtrip")(spark, sf).collect()
    assert(out.length === 2)
    val Seq(csv, json) = out.toSeq.sortBy(_.getAs[String]("fmt"))
    assert(csv.getAs[Long]("n") === json.getAs[Long]("n"))
    assert(csv.getAs[Long]("sum_key") === json.getAs[Long]("sum_key"))
  }

  test("exactMomentSums: chunked long partials stay exact at the " +
      "documented magnitude bound (q196's overflow discipline)") {
    val s = spark
    import s.implicits._
    // 12k rows at EXACTLY the documented 4.7×10⁷-cent magnitude bound
    // (random signs — fixed magnitude, not uniform draws: a uniform
    // draw's E[y²] = M²∕3 keeps the per-flag long sum under 2⁶³ and the
    // test would pass even with the decimal widening deleted): per-flag
    // Σy² = 6000·(4.7×10⁷)² ≈ 1.3×10¹⁹ — wraps 2⁶³ ≈ 9.2×10¹⁸ as ONE
    // long sum — while each ≤4096-row chunk partial stays below
    // 2¹²·(4.7×10⁷)² ≈ 9.0×10¹⁸ < 2⁶³; the decimal merge must
    // reproduce the BigInt reference digit for digit.
    val rnd = new scala.util.Random(196L)
    val M = 47_000_000L
    val rows = (1 to 12000).map { _ =>
      val flag = if (rnd.nextBoolean()) "A" else "B"
      val x = if (rnd.nextBoolean()) M else -M
      val y = if (rnd.nextBoolean()) M else -M
      (flag, x, y)
    }
    val got = graft.operators.Extended
      .exactMomentSums(rows.toDF("flag", "x", "y").repartition(8))
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), Seq(2, 3, 4, 5, 6)
          .map(i => BigInt(r.getDecimal(i).toBigInteger))))
      }.toMap
    val expect = rows.groupBy(_._1).map { case (f, rs) =>
      val xs = rs.map(t => BigInt(t._2)); val ys = rs.map(t => BigInt(t._3))
      f -> ((rs.size.toLong, Seq(
        xs.sum, ys.sum,
        xs.zip(ys).map { case (a, b) => a * b }.sum,
        xs.map(a => a * a).sum, ys.map(b => b * b).sum)))
    }
    assert(got == expect,
      s"two-stage merge must be BigInt-exact: got $got expected $expect")
  }

  test("exactMomentSums fails LOUDLY past the documented magnitude bound") {
    // one full 4096-row chunk of same-sign 5.5×10⁷ values: the chunk
    // partial Σy² = 4096·(5.5×10⁷)² ≈ 1.24×10¹⁹ > 2⁶³ — ANSI must
    // surface the overflow as an error, never a silent wrap
    val s = spark
    import s.implicits._
    val rows = (1 to 8192).map(_ => ("A", 55_000_000L, 55_000_000L))
    val e = intercept[Exception] {
      graft.operators.Extended
        .exactMomentSums(rows.toDF("flag", "x", "y").repartition(1))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.toLowerCase.contains("overflow")),
      s"expected a loud long-overflow error, got: $e")
  }
}
