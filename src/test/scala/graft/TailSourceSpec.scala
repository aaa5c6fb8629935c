package graft

import java.nio.file.{Files, Path, StandardOpenOption}
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TailOffset

/** The tail-follow DSv2 source: growing files, partial lines held until
  * terminated, rotation/truncation reset, recursive basename glob, late
  * file creation (--retry semantics).
  */
class TailSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def startTail(root: Path, glob: String = "*.log",
      extraOptions: Map[String, String] = Map.empty,
      name: String = "tailq") = {
    val ckpt = Files.createTempDirectory("graft-tail-ckpt").toString
    var reader = spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", glob)
    extraOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    reader.load()
      .writeStream.format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
  }

  private def rows(name: String = "tailq"): Seq[(String, String)] =
    spark.sql(s"SELECT value, path FROM $name ORDER BY value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  test("offset json round-trips (incl. escaped paths)") {
    val o = TailOffset(Map("/a/b.log" -> 42L, "/weird \"name\"\n.log" -> 7L))
    assert(TailOffset.fromJson(o.json()) === o)
    assert(TailOffset.fromJson("{}") === TailOffset(Map.empty))
  }

  test("tails a growing file across micro-batches; partial line held back") {
    val root = Files.createTempDirectory("graft-tail")
    val f = root.resolve("app.log")
    Files.writeString(f, "one\ntwo\npart")
    val q = startTail(root)
    try {
      q.processAllAvailable()
      assert(rows().map(_._1) === Seq("one", "two")) // "part" not terminated yet
      Files.writeString(f, "ial\nthree\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(rows().map(_._1).sorted === Seq("one", "partial", "three", "two"))
    } finally q.stop()
  }

  /** Reference parity (main.go:238-245): ReadString('\n') at EOF emits
    * the partial line immediately, so a line racing the reader splits
    * into two envelopes. emitEofPartial=true reproduces that byte-level
    * behavior; the default holds partials back (the exactly-once delta).
    */
  test("emitEofPartial=true emits the unterminated tail (reference parity)") {
    val root = Files.createTempDirectory("graft-tail")
    val f = root.resolve("app.log")
    Files.writeString(f, "one\ntwo\npart")
    val q = startTail(root, extraOptions = Map("emitEofPartial" -> "true"),
      name = "tailq_parity")
    try {
      q.processAllAvailable()
      // the EOF fragment "part" goes out immediately, like the reference
      assert(rows("tailq_parity").map(_._1) === Seq("one", "part", "two"))
      Files.writeString(f, "ial\nthree\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      // the completion arrives as its OWN envelope — the documented
      // reference split ("part" + "ial"), not a rewritten "partial"
      assert(rows("tailq_parity").map(_._1).sorted ===
        Seq("ial", "one", "part", "three", "two"))
    } finally q.stop()
  }

  test("discovers files created after the stream starts (--retry)") {
    val root = Files.createTempDirectory("graft-tail")
    val q = startTail(root)
    try {
      q.processAllAvailable()
      assert(rows().isEmpty)
      Files.createDirectories(root.resolve("svc/deep"))
      Files.writeString(root.resolve("svc/deep/late.log"), "hello\n")
      Files.writeString(root.resolve("svc/skip.txt"), "no\n")
      q.processAllAvailable()
      val got = rows()
      assert(got.map(_._1) === Seq("hello"))
      assert(got.head._2.endsWith("late.log")) // basename glob, recursive, txt excluded
    } finally q.stop()
  }

  /** S5 (static file list): a `path` naming one file tails that file. */
  test("path naming a single file tails that file and not its sibling") {
    val root = Files.createTempDirectory("graft-tail")
    val f = root.resolve("app.log")
    val sibling = root.resolve("other.log")
    Files.writeString(f, "one\n")
    Files.writeString(sibling, "skip\n")
    val q = startTail(f, name = "tailfile")
    try {
      q.processAllAvailable()
      Files.writeString(f, "two\n", StandardOpenOption.APPEND)
      Files.writeString(sibling, "skip too\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(rows("tailfile") === Seq(("one", f.toString), ("two", f.toString)))
    } finally q.stop()
  }

  /** Regression for the committed-vs-read offset bug: the per-file byte
    * cap used to be applied in planInputPartitions while latestOffset
    * reported (and the engine committed) the uncapped file size — every
    * byte between the cap and the file size was skipped forever. With
    * admission control the cap is applied at offset-reporting time, so a
    * burst is spread across micro-batches with NO loss.
    */
  test("per-file byte cap spreads a burst over batches without losing data") {
    val root = Files.createTempDirectory("graft-tail")
    val lines = (0 until 100).map(i => f"line-$i%03d")
    Files.writeString(root.resolve("burst.log"), lines.mkString("", "\n", "\n"))
    val q = startTail(root,
      extraOptions = Map("maxBytesPerFilePerBatch" -> "97"), name = "tailburst")
    try {
      q.processAllAvailable()
      assert(rows("tailburst").map(_._1) === lines) // every line, exactly once
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty > 1, s"expected the ~900-byte burst split over >1 batches, got $nonEmpty")
    } finally q.stop()
  }

  test("maxFilesPerTrigger=1 round-robins across files, all data delivered") {
    val root = Files.createTempDirectory("graft-tail")
    (0 until 3).foreach { i =>
      Files.writeString(root.resolve(s"f$i.log"), s"a$i\nb$i\n")
    }
    val q = startTail(root,
      extraOptions = Map("maxFilesPerTrigger" -> "1"), name = "tailrr")
    try {
      q.processAllAvailable()
      assert(rows("tailrr").map(_._1).sorted ===
        Seq("a0", "a1", "a2", "b0", "b1", "b2"))
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, s"expected ≥3 single-file batches, got $nonEmpty")
    } finally q.stop()
  }

  test("rejects per-file caps the single-array reader cannot hold") {
    val root = Files.createTempDirectory("graft-tail")
    Files.writeString(root.resolve("x.log"), "a\n")
    val q = startTail(root,
      extraOptions = Map("maxBytesPerFilePerBatch" -> (3L * 1024 * 1024 * 1024).toString),
      name = "tailbad")
    try {
      val e = intercept[Exception](q.processAllAvailable())
      assert(e.getMessage.contains("maxBytesPerFilePerBatch") ||
        Option(e.getCause).exists(_.getMessage.contains("maxBytesPerFilePerBatch")))
    } finally q.stop()
  }

  /** Property: under an arbitrary append-only workload (random files,
    * random growth, random per-trigger admission caps, partial trailing
    * lines) the source is EXACTLY-ONCE: the delivered multiset equals
    * the complete lines written. The strongest net over the offset
    * protocol — any committed-vs-read skew, fragment mishandling or
    * starvation shows up as a diff. Lines include empty ones (`\n\n`),
    * multi-byte UTF-8 (which a cap boundary can cut mid-character) and
    * `\r\n`-terminated ones whose `\r` must survive; with `giant`, every
    * file written in rounds 3 and 9 also gets a ~99 kB line, which
    * straddles several per-file cap boundaries.
    * The reader hands out views into its range buffer through one reused
    * row, so the executed plan must also copy them in a `ProjectExec`
    * above the scan.
    */
  private def appendOnlyDeliversExactlyOnce(name: String, maxBytesPerFile: Int,
      giant: Boolean = false): Unit = {
    val rnd = new scala.util.Random(20260812L)
    val root = Files.createTempDirectory("graft-tail")
    val q = startTail(root,
      extraOptions = Map(
        "maxBytesPerFilePerBatch" -> maxBytesPerFile.toString,
        "maxFilesPerTrigger" -> "2"),
      name = name)
    val written = scala.collection.mutable.ArrayBuffer[String]()
    val partial = scala.collection.mutable.Map[java.nio.file.Path, String]()
    def line(round: Int, i: Int): String = rnd.nextInt(6) match {
      case 0 => ""
      case 1 => s"u$round-$i-" + "\u00e9\u65e5\ud83d\ude00" * rnd.nextInt(4)
      case 2 => s"w$round-$i-crlf\r"
      case _ => s"r$round-$i-${rnd.alphanumeric.take(rnd.nextInt(30)).mkString}"
    }
    try {
      (0 until 15).foreach { round =>
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          val f = root.resolve(s"f${rnd.nextInt(4)}.log")
          val sb = new StringBuilder
          // flush any previously-pending partial line for this file first
          partial.remove(f).foreach { head =>
            val tail = s"c$round-${rnd.nextInt(100)}"
            sb.append(tail).append('\n')
            written += (head + tail)
          }
          (0 until rnd.nextInt(4)).foreach { i =>
            val l = line(round, i)
            sb.append(l).append('\n')
            written += l
          }
          if (giant && (round == 3 || round == 9)) {
            val l = s"g$round-" + "\u00e9x" * 30000 + rnd.alphanumeric.take(9000).mkString
            sb.append(l).append('\n')
            written += l
          }
          if (rnd.nextBoolean()) { // leave a dangling partial line
            val head = s"p$round-"
            sb.append(head)
            partial(f) = head
          }
          Files.writeString(f, sb.toString,
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
        q.processAllAvailable()
      }
      val delivered = rows(name).map(_._1)
      assert(delivered.sorted === written.sorted.toSeq,
        s"delivered ${delivered.size} vs written ${written.size}")
      // the projection that copies each view sits above the scan
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case p: ProjectExec => p }
        .exists(_.find(_.isInstanceOf[MicroBatchScanExec]).isDefined), plan.treeString)
    } finally q.stop()
  }

  test("property: random append-only workload delivers exactly-once") {
    appendOnlyDeliversExactlyOnce("tailprop", maxBytesPerFile = 64)
  }

  test("property: lines over 64 KiB straddling the per-file cap arrive exactly once") {
    appendOnlyDeliversExactlyOnce("tailpropgiant", maxBytesPerFile = 16 * 1024, giant = true)
  }

  test("property: exactly-once also holds through the interpreted (non-codegen) projection") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      appendOnlyDeliversExactlyOnce("tailpropinterp", maxBytesPerFile = 64)
      appendOnlyDeliversExactlyOnce("tailpropinterpgiant", maxBytesPerFile = 16 * 1024,
        giant = true)
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("restart from checkpoint resumes mid-file: no loss, no duplicates") {
    val root = Files.createTempDirectory("graft-tail")
    val f = root.resolve("r.log")
    Files.writeString(f, "a\nb\n")
    val ckpt = Files.createTempDirectory("graft-tail-ckpt").toString
    val outDir = Files.createTempDirectory("graft-tail-out").toString
    // file sink (memory sink refuses checkpoint recovery): the output
    // dir accumulates across restarts, so loss OR duplication is visible
    def start() = spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log")
      .load()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    def delivered(): Seq[String] =
      spark.read.parquet(outDir).collect().map(_.getString(0)).toSeq.sorted
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(delivered() === Seq("a", "b"))
    } finally q1.stop()
    // file grows while the query is DOWN; the restarted query must
    // resume from the checkpointed offset (deserializeOffset path) and
    // deliver exactly the new bytes
    Files.writeString(f, "c\nd\n", StandardOpenOption.APPEND)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(delivered() === Seq("a", "b", "c", "d"),
        "restart must deliver exactly the bytes appended while down")
    } finally q2.stop()
  }

  test("deleted files are evicted from the offset after N absent triggers") {
    val root = Files.createTempDirectory("graft-tail")
    val keep = root.resolve("keep.log")
    val dead = root.resolve("dead.log")
    Files.writeString(keep, "k1\n")
    Files.writeString(dead, "d1\n")
    val ckpt = Files.createTempDirectory("graft-tail-ckpt")
    val q = spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log")
      .option("dropAbsentAfterTriggers", "2")
      .load()
      .writeStream.format("memory").queryName("tailev")
      .option("checkpointLocation", ckpt.toString)
      .start()
    def latestOffsetJson(): String = {
      val dir = ckpt.resolve("offsets").toFile
      val latest = dir.listFiles().filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toLong)
      Files.readString(latest.toPath)
    }
    try {
      q.processAllAvailable()
      assert(latestOffsetJson().contains("dead.log"))
      Files.delete(dead)
      // Idle triggers (no committed progress) must NOT advance the
      // absence counter: with the continuous trigger, latestOffset fires
      // many times per second here, and per-call counting would evict
      // dead.log within milliseconds of deletion even with no batch
      // committing (the ADVICE r2 retry/dataless-trigger bug).
      (0 until 5).foreach { _ => Thread.sleep(50); q.processAllAvailable() }
      assert(latestOffsetJson().contains("dead.log"),
        "absence counter advanced without committed progress")
      // each append forces a new non-empty batch; after ≥2 absent
      // triggers the dead entry must leave the committed offset
      (0 until 4).foreach { i =>
        Files.writeString(keep, s"k$i\n", StandardOpenOption.APPEND)
        q.processAllAvailable()
      }
      assert(!latestOffsetJson().contains("dead.log"),
        s"evicted path still in offset: ${latestOffsetJson()}")
      assert(rows("tailev").map(_._1).contains("d1")) // data was delivered
    } finally q.stop()
  }

  test("truncation rereads from the start (--follow=name after rotation)") {
    val root = Files.createTempDirectory("graft-tail")
    val f = root.resolve("rot.log")
    Files.writeString(f, "aaa\nbbb\n")
    val q = startTail(root)
    try {
      q.processAllAvailable()
      assert(rows().map(_._1) === Seq("aaa", "bbb"))
      Files.writeString(f, "ccc\n") // truncate + rewrite (rotation)
      q.processAllAvailable()
      assert(rows().map(_._1).sorted === Seq("aaa", "bbb", "ccc"))
    } finally q.stop()
  }
}
