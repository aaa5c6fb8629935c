package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** (event_id, ts, user_id, event_type, value), the `events` shape. */
  private type Ev = (Long, Timestamp, Long, String, Double)
  private val EvCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  private def ev(id: Long, minute: Int, uid: Long, typ: String = "click", v: Double = 1.0): Ev =
    (id, ts(minute), uid, typ, v)

  test("watermark drops late rows in append mode") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[Ev]
    // q130's watermarked tumbling window, with a 5-minute watermark
    val q = in.toDF().toDF(EvCols: _*)
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("wm").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 5, 1))
      q.processAllAvailable()
      in.addData(ev(3, 40, 1)) // advances watermark to 10:35 → [10:00,10:10) finalized
      q.processAllAvailable()
      in.addData(ev(4, 2, 9)) // late beyond watermark → dropped
      q.processAllAvailable()
      in.addData(ev(5, 59, 1)) // close the 10:40 window too
      q.processAllAvailable()
      val emitted = spark.sql("SELECT event_type, n FROM wm ORDER BY n").collect()
      // first window emitted with n=2 (late row 4 NOT counted anywhere)
      assert(emitted.exists(_.getAs[Long]("n") === 2L))
      val total = spark.sql("SELECT sum(n) s FROM wm").collect().head.getLong(0)
      assert(total <= 3L) // rows 1,2 and possibly 3; late row 4 dropped
    } finally q.stop()
  }

  test("TwsUserLedger: hand-computed value/map/list state across batches") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Long, String)] // (user, ts_us, type)
    val q = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new operators.StreamingCatalog.TwsUserLedger,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n", "n_types", "top_type_n", "last3_sum")
      .writeStream.format("memory").queryName("tws_ledger")
      .outputMode("update").start()
    try {
      // batch 1: user 7 sees a,a,b (bmax 30); user 8 sees c (bmax 5)
      in.addData((7L, 10L, "a"), (7L, 30L, "a"), (7L, 20L, "b"), (8L, 5L, "c"))
      q.processAllAvailable()
      // batch 2: user 7 sees b,b (bmax 40) -> totals 5; types a:2 b:3;
      // list [30, 40] -> last3_sum 70
      in.addData((7L, 40L, "b"), (7L, 35L, "b"))
      q.processAllAvailable()
      // batches 3+4: two more user-7 batches -> list keeps LAST 3 maxima
      in.addData((7L, 50L, "a"))
      q.processAllAvailable()
      in.addData((7L, 60L, "c"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n, n_types, top_type_n, last3_sum FROM tws_ledger " +
          "WHERE user_id = 7 ORDER BY n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // emissions: (3,2,2,30) then (5,2,3,70) then (6,2,3,120:[30,40,50])
      // then (7,3,3,150:[40,50,60]) — the batch-1 maximum ages OUT
      assert(rows === Array((3L, 2L, 2L, 30L), (5L, 2L, 3L, 70L),
        (6L, 2L, 3L, 120L), (7L, 3L, 3L, 150L)))
      val u8 = spark.sql(
        "SELECT n, n_types, top_type_n, last3_sum FROM tws_ledger " +
          "WHERE user_id = 8").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(u8 === Array((1L, 1L, 1L, 5L)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("FirehoseMetricsListener exposes reference metric names from progress") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val listener = new FirehoseMetricsListener("node-1")
    spark.streams.addListener(listener)
    val in = MemoryStream[Ev]
    val q = in.toDF().writeStream.format("memory").queryName("mx").start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 1, 1), ev(3, 2, 1))
      q.processAllAvailable()
      // listener events are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot.values.sum == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val snap = listener.snapshot
      assert(snap.keys.exists(_.startsWith("firehose_to_kinesis_sent_count")))
      assert(snap("""firehose_to_kinesis_sent_count{system="node-1"}""") >= 3.0)
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("A4: /metrics serves Prometheus exposition over HTTP (reference main.go:410-413)") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val listener = new FirehoseMetricsListener("web/0")
    spark.streams.addListener(listener)
    val http = new MetricsHttpServer(() => listener.snapshot, port = 0)
    val in = MemoryStream[Ev]
    val q = in.toDF().writeStream.format("memory").queryName("mxh").start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 1, 1))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot.values.sum == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val url = new java.net.URI(
        s"http://127.0.0.1:${http.boundPort}/metrics").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getResponseCode === 200)
      assert(conn.getContentType.startsWith("text/plain"))
      assert(body.contains("# TYPE firehose_to_kinesis_sent_count gauge"))
      assert(body.linesIterator.exists(l =>
        l.startsWith("firehose_to_kinesis_sent_count{system=\"web/0\"}") &&
          l.split(' ').last.toDouble >= 2.0))
    } finally { q.stop(); http.close(); spark.streams.removeListener(listener) }
  }

  test("idempotent sink end-to-end: a foreachBatch stream lands each batch exactly once") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-idem-e2e").toString
    val in = MemoryStream[Ev]
    val write = StreamingOps.idempotentBatchWriter(root)
    val q = in.toDF().toDF(EvCols: _*).select(col("event_id"))
      .writeStream.foreachBatch(write).start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 1, 1))
      q.processAllAvailable()
      in.addData(ev(3, 2, 2))
      q.processAllAvailable()
    } finally q.stop()
    val dirs = StreamingOps.committedBatches(root)
    assert(dirs.nonEmpty, "stream committed at least one batch")
    val ids = spark.read.parquet(dirs: _*).as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"every event exactly once: $ids")
  }

  test("idempotent foreachBatch sink: replayed batch skipped, unmarked dirs invisible") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-idem").toString
    val write = graft.streaming.StreamingOps.idempotentBatchWriter(root)
    write(Seq(1L, 2L, 3L).toDF("v"), 0L)
    // replay of batch 0 (same id — the streaming contract) must be a no-op
    write(Seq(99L).toDF("v"), 0L)
    write(Seq(4L, 5L).toDF("v"), 1L)
    // a half-written batch: directory exists, marker never created
    Seq(7L).toDF("v").write.parquet(s"$root/batch=9")
    val dirs = graft.streaming.StreamingOps.committedBatches(root)
    assert(dirs.map(_.split('=').last).sorted == Seq("0", "1"),
      s"only marked batches are visible: $dirs")
    val vals = spark.read.parquet(dirs: _*).as[Long].collect().sorted.toSeq
    assert(vals == Seq(1L, 2L, 3L, 4L, 5L),
      s"replay wrote nothing, half-written batch invisible: $vals")
  }

  test("isolated newSession() carries the RocksDB provider to its query (q158 mechanism)") {
    import scala.jdk.CollectionConverters._
    val parentBefore =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val iso = spark.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlc: org.apache.spark.sql.SQLContext = iso.sqlContext
    import iso.implicits._
    val in = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-isorocks")
    val q = in.toDF().toDF("v").groupBy(col("v")).count()
      .writeStream.format("memory").queryName("graft_iso_rocks")
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      in.addData(1L, 2L, 2L)
      q.processAllAvailable()
      // RocksDB-provider custom metrics in the progress are the proof
      // the stateful operator actually ran on RocksDB — the HDFS-backed
      // default emits none of these keys, so a silent fallback fails here
      val metricKeys = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet.asScala)
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb custom metrics, got: $metricKeys")
      // and the provider conf must NOT have leaked into the parent session
      assert(spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass") == parentBefore,
        "isolated-session conf leaked into the parent session")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(ckpt.toFile)
    }
  }

  test("changelog checkpointing writes .changelog files (q229 mechanism)") {
    // q229's restart certification rests on snapshot + changelog replay
    // actually being the recovery path; if the conf silently fell back
    // to full per-batch snapshots the oracle would still pass, so the
    // mechanism is pinned here: the state checkpoint must contain
    // RocksDB changelog files after a few commits.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    iso.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    implicit val sqlc: org.apache.spark.sql.SQLContext = iso.sqlContext
    import iso.implicits._
    val in = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chglog")
    val q = in.toDF().toDF("v").groupBy(col("v")).count()
      .writeStream.format("memory").queryName("graft_chglog_sink")
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      (1 to 3).foreach { i =>
        in.addData(i.toLong, i.toLong + 1)
        q.processAllAvailable()
      }
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(c => c +: walk(c)))
          .getOrElse(Seq.empty)
      val names = walk(ckpt.toFile).map(_.getName)
      assert(names.exists(_.endsWith(".changelog")),
        s"expected RocksDB .changelog files under the checkpoint, " +
          s"saw: ${names.filter(_.nonEmpty).take(40)}")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(ckpt.toFile)
    }
  }
}
