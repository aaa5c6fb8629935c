package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic-aggregation helpers.
  *
  * The DuckDB oracle compare hashes raw values, so every aggregate the
  * catalog emits must be bit-identical between Spark and DuckDB regardless
  * of partitioning / evaluation order. Doubles summed in parallel are NOT
  * (floating addition is non-associative), so all monetary/qty sums go
  * through an exact DECIMAL cast (order-independent integer arithmetic in
  * both engines) and only the final result is cast back to DOUBLE.
  */
object Exact {
  /** exact 2-dp decimal of a raw column */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** exact 4-dp decimal of a computed double expression */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** order-independent SUM(double) → double, via decimal(18,2) */
  def sum2(c: Column): Column = sum(dec2(c)).cast("double")
  /** order-independent SUM(expr) → double, via decimal(18,4) */
  def sum4(c: Column): Column = sum(dec4(c)).cast("double")
  /** SQL fragment mirroring [[sum2]] */
  def sql2(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
  /** SQL fragment mirroring [[sum4]] */
  def sql4(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
  /** exact 6-dp decimal — needed when the true product has 6 decimal
    * digits (e.g. price(2dp) × pct(2dp) × pct(2dp)); rounding at a scale
    * below the true one lands on .5 boundaries where the two engines'
    * double→decimal paths can disagree by 1 ulp. At or above the true
    * scale, rounding is a no-op in both. */
  def sum6(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Per-JVM root for query-scratch files (q44 format round-trips), with
    * recursive removal at JVM exit — repeated bench/verify passes write
    * unique subdirs here and nothing leaks past the process.
    */
  /** Recursive delete — the ONE definition every scratch-lifecycle
    * site (fmtRoot shutdown hook, scratchDir retirement, streaming
    * checkpoint cleanup) shares. */
  private[graft] def rmTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(p.toFile)
  }

  lazy val fmtRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_fmt_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(p)))
    p
  }

  // Owner-keyed scratch artifacts: a query that materializes a temp dir
  // or a catalog table per invocation cannot clean up inside its own
  // body (the returned frame still reads the artifact lazily), so the
  // PREVIOUS invocation's artifacts are retired when the same owner
  // runs again — by then its frame has been fully consumed by the
  // harness. Bounds a long-lived session (bench = 4+ passes per query)
  // to ONE live generation per owner instead of unbounded growth in
  // the session catalog and under fmtRoot.
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private val scratchTableMap =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()

  // Build-once artifacts: parquet-backed assets (layouts, indexes,
  // similarity graphs) built once per (corpus, id) per JVM and re-read
  // by every later invocation — the accounting that keeps bench passes
  // measuring the serving path, not the build. ONE map for all owners
  // (Layout/Graph/… pass namespaced keys) so lifecycle policy lives in
  // one place.
  private val buildOnceDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // Build LEDGER: every build-once construction (this map AND the
  // owner-local memos in Dedup/Extended/Graph/Layout/TimeJoins — they
  // call memoBuild explicitly) records (key, seconds) here. Bench
  // drains the ledger after each timed pass, so a one-time build is
  // attributed to an explicit setup line instead of silently inflating
  // whichever catalog query happened to run first (the r7/r8
  // "phantom regression" pairs: q87/q88/q121/q196 one round,
  // q75/q110 the next — same code, different first caller).
  private val memoBuildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  // Builds can nest (twoEdgeComponents' 2ec# build constructs the excl#
  // index inside its own span): each thread keeps a stack of
  // child-time accumulators so a parent records only its EXCLUSIVE
  // time — every key stays itemized and the ledger SUM stays the true
  // wall cost instead of double-counting nested spans.
  private val memoBuildNest =
    new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
      override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
    }

  /** Run `build`, timing it and appending (key, exclusive seconds) to
    * the build ledger. Call from inside a memo's computeIfAbsent body. */
  def memoBuild[T](key: String)(build: => T): T = {
    val stack = memoBuildNest.get()
    stack.push(Array(0.0))
    val t0 = System.nanoTime()
    try {
      val r = build
      val span = (System.nanoTime() - t0) / 1e9
      memoBuildLog.add((key, span - stack.peek()(0)))
      val it = stack.iterator(); it.next() // self
      if (it.hasNext) it.next()(0) += span // charge the full span upward
      r
    } finally stack.pop()
  }

  /** Drain and return all build events recorded since the last drain. */
  def drainMemoBuilds(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var e = memoBuildLog.poll()
    while (e != null) { out += e; e = memoBuildLog.poll() }
    out.toSeq
  }

  /** Root dir of the build-once artifact `key`, building via
    * `build(root)` on first use. Deterministic builds only — the memo
    * returns the SAME files to every later caller. */
  def buildOnceDir(key: String, prefix: String)(build: String => Unit): String =
    buildOnceDirs.computeIfAbsent(key, _ => memoBuild(key) {
      val root = java.nio.file.Files.createTempDirectory(fmtRoot, prefix)
        .toAbsolutePath.toString
      build(root)
      root
    })

  /** New scratch dir under [[fmtRoot]]; deletes the dir the same owner
    * got last time. */
  def scratchDir(owner: String, prefix: String): java.nio.file.Path = {
    val fresh = java.nio.file.Files.createTempDirectory(fmtRoot, prefix)
    Option(scratchDirs.put(owner, fresh)).foreach(rmTree)
    fresh
  }

  /** Fresh unique table names for this owner; drops the tables the same
    * owner registered last time. */
  def scratchTables(owner: String, spark: org.apache.spark.sql.SparkSession,
      baseNames: String*): Seq[String] = {
    val n = scratchSeq.incrementAndGet()
    val fresh = baseNames.map(b => s"${b}_$n")
    Option(scratchTableMap.put(owner, fresh)).foreach(_.foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")))
    fresh
  }
}
