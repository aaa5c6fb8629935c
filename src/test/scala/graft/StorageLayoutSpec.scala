package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two storage-layout levers that matter most at 100 TB, proven on
  * real writes + plan inspection:
  *
  *  - partition pruning: a filter on the partition column must reach the
  *    scan as PartitionFilters so non-matching directories are never
  *    listed, let alone read;
  *  - bucketed co-located join: two tables bucketed the same way on the
  *    join key must join with NO shuffle exchange on either side.
  */
class StorageLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001
  private object adaptive extends AdaptiveSparkPlanHelper

  test("partition pruning: event_type filter becomes PartitionFilters, not a row filter") {
    val dir = Files.createTempDirectory("graft-part").toString
    Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isDefined,
      s"event_type filter should prune partitions at the scan:\n$plan")
    // and the pruned read returns exactly the clicks
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(back.count() === expected)
  }

  test("q89 partitioned-corpus scan prunes on lang at the scan") {
    val df = SparkEntry.queries("q89_partition_pruning")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"lang predicate must prune partition directories:\n$plan")
    spark.catalog.clearCache()
  }

  test("q148 fact scan carries a dynamic-pruning partition filter") {
    val df = SparkEntry.queries("q148_dynamic_partition_pruning")(spark, sf)
    val out = df.collect()
    assert(out.nonEmpty)
    // the executed FACT scan (the one partitioned by lang) must read fewer
    // files than its static partition filters admit: a runtime filter AQE
    // dropped (`dynamicpruningexpression(true)`) prunes nothing
    val plan = df.queryExecution.executedPlan
    val factScans = adaptive.collect(plan) {
      case f: FileSourceScanExec if f.relation.partitionSchema.fieldNames.contains("lang") => f
    }
    assert(factScans.size === 1, s"one fact scan:\n$plan")
    val metrics = factScans.head.metrics
    assert(metrics.contains("staticFilesNum"),
      s"fact scan must carry a runtime partition filter:\n$plan")
    val (read, static) = (metrics("numFiles").value, metrics("staticFilesNum").value)
    assert(read < static,
      s"fact scan read $read of $static files — pruned by the dim join at runtime:\n$plan")
    // and the pruned join's langs are a strict subset of all langs
    // (doc_id < 4 never covers every language at this SF)
    val allLangs = Tables.documents(spark, sf)
      .select(col("lang")).distinct().count()
    assert(out.length < allLangs,
      s"dim slice must exclude at least one language: got ${out.length}")
    spark.catalog.clearCache()
  }

  test("zvalue2/zvalue3 match a bit-by-bit interleave reference") {
    val s = spark
    import s.implicits._
    import graft.functions.ZOrder
    def ref2(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    def ref3(x: Long, y: Long, z: Long): Long =
      (0 until 10).map(i =>
        (((x >> i) & 1L) << (3 * i)) | (((y >> i) & 1L) << (3 * i + 1)) |
          (((z >> i) & 1L) << (3 * i + 2))).reduce(_ | _)
    val rnd = new scala.util.Random(29)
    val rows = (0 until 500).map(_ =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong, rnd.nextInt(1024).toLong))
    val df = rows.toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        ZOrder.zvalue2(col("x"), col("y")).as("z2"),
        ZOrder.zvalue3(col("x").bitwiseAND(lit(1023L)), col("y").bitwiseAND(lit(1023L)),
          col("z")).as("z3"))
      .collect()
    df.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(r.getLong(3) === ref2(x, y), s"zvalue2($x,$y)")
      assert(r.getLong(4) === ref3(x & 1023L, y & 1023L, z), s"zvalue3($x,$y,$z)")
    }
  }

  test("z-order layout clusters BOTH dimensions; single-column sort only one") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // uniform 20k points on a 4096x4096 grid
    val pts = (0 until 20000)
      .map(_ => (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
      .toDF("x", "y")
    val zDir = Files.createTempDirectory("graft-zorder").toString
    val linDir = Files.createTempDirectory("graft-linear").toString
    graft.operators.Layout.zorderWrite(pts, "x", "y", zDir, numFiles = 32)
    pts.repartitionByRange(32, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(linDir)
    // distinct source files of the matching rows = files a min/max-
    // pruning reader must open (file-count proxy for parquet stats skip)
    def filesTouched(dir: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).filter(pred)
        .select(input_file_name()).distinct().count()
    val yPred = col("y") < 256 // a 1/16 slab of the SECOND dimension
    val zFiles = filesTouched(zDir, yPred)
    val linFiles = filesTouched(linDir, yPred)
    // x-sorted layout: y is uniform within every file -> all 32 touched.
    // z-order: the slab fixes y's high bits -> a bounded set of z ranges
    assert(linFiles >= 30, s"x-sorted layout should spread y everywhere ($linFiles)")
    assert(zFiles <= 16, s"z-order should confine a y-slab to few files ($zFiles)")
    // and the FIRST dimension stays clustered too (x-slab few files)
    assert(filesTouched(zDir, col("x") < 256) <= 16)
    // layout changes bytes on disk, never results
    assert(spark.read.parquet(zDir).count() === 20000L)
  }

  test("bucketed tables join without any shuffle exchange") {
    def cleanup(): Unit = Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previously-failed run can leave the managed location behind,
      // which CREATE TABLE then refuses — remove it explicitly
      val loc = new java.io.File(
        java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
          .getPath, t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
    cleanup()
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // at this test scale Catalyst would just broadcast the dim side (no
    // shuffle either way) — disable auto-broadcast so the plan shows the
    // co-located sort-merge path the bucketing buys at 100 TB
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (joined, plan) =
      try {
        val j = spark.table("b_lineitem")
          .join(spark.table("b_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
        (j, j.queryExecution.executedPlan.toString)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // co-located bucketed sides: the JOIN needs no exchange on the join
    // key — the only shuffle allowed is the final groupBy's
    val keyExchanges = "Exchange hashpartitioning\\([lo]_orderkey".r
      .findAllIn(plan).size
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a co-located join:\n$plan")
    assert(keyExchanges === 0,
      s"bucketed join must not shuffle on the join key:\n$plan")
    // correctness: equals the unbucketed join
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => r.getString(0) -> r.get(1).toString).toMap
    joined.collect().foreach { r =>
      assert(r.get(1).toString === expected(r.getString(0)))
    }
    cleanup()
  }

  test("compactionPlan: contiguous groups, first-fit size bound, dirs never mix") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val files = (0 until 200).map { i =>
      (s"dir${i % 4}", f"part-$i%05d", 1000L + rnd.nextInt(20000))
    }.toDF("dir", "path", "bytes")
    val target = 30000L
    val plan = operators.Layout.compactionPlan(files, target)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // every file present exactly once
    assert(plan.length == 200)
    plan.groupBy(p => (p._1, p._4)).foreach { case ((dir, _), group) =>
      // first-fit bound: group bytes < target + its largest member
      val bytes = group.map(_._3).sum
      assert(bytes < target + group.map(_._3).max,
        s"$dir group overflows the first-fit bound: $bytes")
      assert(group.forall(_._1 == dir), "groups never span directories")
    }
    // groups are contiguous in path order within each dir
    plan.groupBy(_._1).foreach { case (_, fs) =>
      val grps = fs.sortBy(_._2).map(_._4)
      assert(grps.sameElements(grps.sorted), "group ids must be monotone in path order")
    }
  }

  test("zone-map read skips files AND equals the full-scan filter") {
    import org.apache.spark.sql.functions._
    val s = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-zmap-spec").toAbsolutePath.toString
    val li = graft.Tables.lineitem(s, TestSpark.Sf0001)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
    operators.Layout.zoneMapWrite(li, s"$root/li", "l_shipdate", nFiles = 8)
    val (lo, hi) = ("1996-01-01 00:00:00", "1996-07-01 00:00:00")
    val (pruned, nRead, nTotal) =
      operators.Layout.zoneMapRead(s, s"$root/li", "l_shipdate", lo, hi)
    // the half-year window spans a strict subset of the 8 range files
    assert(nTotal == 8, s"expected 8 range files, got $nTotal")
    assert(nRead < nTotal && nRead > 0,
      s"zone maps must skip some files: read $nRead of $nTotal")
    val full = li.filter(
      date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss") >= lo &&
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss") < hi)
    val a = pruned.select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val b = full.select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(a == b, "pruned read must equal the full-scan filter")
  }

  test("q250 value-index lookup reads fewer files and equals the full scan") {
    val s = spark
    val root = java.nio.file.Files
      .createTempDirectory(operators.Exact.fmtRoot, "vidxspec_")
      .toAbsolutePath.toString
    val li = graft.Tables.lineitem(s, TestSpark.Sf0001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    li.repartitionByRange(32, col("l_partkey"))
      .write.mode("overwrite").parquet(root)
    val probes = li.select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    val (rows, nRead, nTotal) =
      operators.Layout.valueIndexLookup(s, root, "l_orderkey", probes)
    assert(nTotal == 32, s"expected 32 clustered files, got $nTotal")
    assert(nRead > 0 && nRead < nTotal,
      s"posting lists must skip files: read $nRead of $nTotal")
    val a = rows.select("l_orderkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val b = li.filter(col("l_orderkey").isin(probes: _*))
      .select("l_orderkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(a == b, "index lookup must equal the full-scan filter")
  }

  test("q248 compaction rewrites each day directory to exactly one file") {
    val s = spark
    val root = java.nio.file.Files
      .createTempDirectory(operators.Exact.fmtRoot, "compactspec_")
      .toAbsolutePath.toString
    val ev = graft.Tables.events(s, TestSpark.Sf0001).select(
      expr("ts_ns div 1000 div 86400000000").as("day"),
      col("event_type"), col("event_id"))
    ev.repartition(8)
      .write.mode("overwrite").partitionBy("day").parquet(s"$root/gen1")
    operators.Layout.compactDays(s, s"$root/gen1", s"$root/gen2")
    def filesPerDay(gen: String): Map[String, Int] =
      new java.io.File(s"$root/$gen").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = filesPerDay("gen1")
    val after = filesPerDay("gen2")
    assert(before.keySet === after.keySet, "compaction must keep every day")
    assert(before.values.exists(_ > 1),
      s"fragmented generation should have multi-file days: $before")
    assert(after.values.forall(_ == 1),
      s"every compacted day must hold exactly one file: $after")
    // content-identical: same (day, event_id) multiset
    val a = s.read.parquet(s"$root/gen1").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val b = s.read.parquet(s"$root/gen2").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(a == b, "compaction must be content-identical")
  }
}
