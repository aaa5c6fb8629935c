package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the program and writes the
  * measured values to `<work>/result.json` (and, traced, the spans to
  * `trace=<file>`). `perfbench/run.py` generates the inputs, launches this
  * main, checks catalog outputs against the DuckDB oracle and prints the
  * result line.
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace (0|1),
  * work (the run's scratch dir), windows, plus the workload's parameters
  * from `perfbench/workloads.json`, `cores` (the local[n] task threads)
  * among them.
  */
object PerfBench {

  /** Stand-ups timed for `setup_s`, which reports their median. */
  val SetupReps = 3

  final class Params(args: Array[String]) {
    private val kv: Map[String, String] = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    def str(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
    def list(k: String): Seq[String] = str(k).split(',').toSeq.filter(_.nonEmpty)
    def workload: String = str("workload")
    def work: String = str("work")
    def seconds: Double = dbl("seconds")
    def traced: Boolean = str("trace") == "1"
    def cores: Int = int("cores")
  }

  /** What one run measured: named values plus the correctness ledger. */
  final class Result {
    val metrics = mutable.LinkedHashMap[String, Double]()
    var attempted = 0L
    var failed = 0L
    var duplicates = 0L
    val notes = mutable.ArrayBuffer[String]()
    def fail(n: Long, why: String): Unit = { failed += n; notes += why }
    /** One checked operation: counts as attempted, and as failed unless `ok`. */
    def expect(ok: Boolean, why: => String): Unit = {
      attempted += 1
      if (!ok) fail(1, why)
    }
  }

  def main(args: Array[String]): Unit = {
    val p = new Params(args)
    val res = new Result
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .appName(s"perfbench-${p.workload}")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    res.notes += f"session start $sessionS%.3f s"
    val tracer = new Tracer(spark, p.cores)
    try p.workload match {
      case "tail-backfill" => TailBench.backfill(spark, p, res, tracer, sessionS)
      case "tail-steady" => TailBench.steady(spark, p, res, tracer, sessionS)
      case "catalog-scale" => CatalogBench.run(spark, p, res, tracer, sessionS)
      case "baseline-drain" => TailBench.baselineDrain(spark, p, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
    res.metrics("jvm.rss_peak_mb") = vmHwmMb()
    if (p.traced) tracer.write(p.str("trace_file"), res)
    writeResult(s"${p.work}/result.json", res)
  }

  /** Runs `body` repeatedly: at least `minEach` times untraced (and, in a
    * traced run, as many times traced, alternating), then on while the
    * next run is expected to end within `seconds` of the first start.
    * Returns each result with whether it was traced.
    */
  def repeat[T](p: Params, tracer: Tracer, minEach: Int)(body: => T): Seq[(Boolean, T)] = {
    val out = mutable.ArrayBuffer[(Boolean, T)]()
    def count(traced: Boolean) = out.count(_._1 == traced)
    val t0 = System.nanoTime()
    var last = 0L
    while (count(false) < minEach || (p.traced && count(true) < minEach) ||
        System.nanoTime() - t0 + last <= p.seconds * 1e9) {
      val traced = p.traced && out.size % 2 == 1
      tracer.record(traced)
      val s = System.nanoTime()
      out += traced -> body
      last = System.nanoTime() - s
    }
    tracer.record(false)
    out.toSeq
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def writeResult(path: String, r: Result): Unit = {
    val m = r.metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
      .mkString("{", ", ", "}")
    val notes = r.notes.map(Json.str).mkString("[", ", ", "]")
    Files.write(Paths.get(path),
      (s"""{"metrics": $m, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
        s""""duplicates": ${r.duplicates}, "notes": $notes}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val s = v match {
      case d: Double => num(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case raw: Json.Raw => raw.json
      case x => str(x.toString)
    }
    s"${str(k)}: $s"
  }.mkString("{", ", ", "}")
  final case class Raw(json: String)
}

object Stats {
  /** Nearest-rank percentile of an ascending-sorted array (q in [0, 1]). */
  def pct(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(q * sorted.length).toInt - 1)))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of an empty sample")
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def medianOr0(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else median(xs)
}
