package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The catalog workload: one client runs the configured `SparkEntry`
  * queries back to back (closed loop) over the generated tables, each
  * result fully materialized through the `noop` sink, as `graft.Bench`
  * does. Before timing, each result is dumped the way `graft.Verify`
  * dumps it, with its oracle SQL, for `run.py`'s DuckDB compare.
  */
object CatalogBench {

  /** Timed passes at least, each way in a traced run: four, so that each
    * per-query median (the slowest is lat_p99_ms) rests on more than three. */
  val MinPasses = 4

  private final case class Run(name: String, startMs: Long, ns: Long)

  def run(spark: SparkSession, p: PerfBench.Params, res: PerfBench.Result,
      tracer: Tracer, sessionS: Double): Unit = {
    val names = p.list("queries")
    val fns: Seq[(String, (SparkSession, String) => DataFrame)] =
      names.map(n => n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"no catalog query $n")))
    val main = s"${p.work}/data"

    /** One materialized run, or None if it threw. */
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String): Option[Run] = {
      spark.catalog.clearCache()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        Some(Run(name, t0, System.nanoTime() - n0))
      } catch {
        case e: Exception =>
          res.fail(1, s"$name threw: ${e.getMessage}")
          None
      } finally res.attempted += 1
    }

    def pass(dir: String): Seq[Run] = fns.flatMap { case (n, fn) => runOnce(n, fn, dir) }

    // Set-up: the query list over the small warm-up tables, repeated.
    val warm = s"${p.work}/warm"
    val setup = (0 until PerfBench.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      pass(warm)
      (System.nanoTime() - t0) / 1e9
    }
    res.metrics("setup_s") = sessionS + Stats.median(setup)

    // Verify-style dump for the oracle compare, untimed. It is also the
    // warm-up: the JIT sees full-size batches before timing starts.
    val out = s"${p.work}/verify"
    fns.foreach { case (n, fn) =>
      try fn(spark, main).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Exception => res.fail(1, s"$n dump threw: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    names.filterNot(oracle.contains).foreach(n => res.fail(1, s"$n has no oracle SQL"))
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))

    val passes = PerfBench.repeat(p, tracer, MinPasses)(pass(main))
    def wallS(traced: Boolean): Map[String, Double] =
      passes.filter(_._1 == traced).flatMap(_._2).groupBy(_.name).map { case (n, runs) =>
        n -> Stats.median(runs.map(_.ns / 1e9))
      }
    val plain = wallS(false)
    val m = res.metrics
    val medians = plain.values.toArray.sorted
    m("throughput_per_s") = medians.length / medians.sum
    m("lat_p50_ms") = Stats.median(medians) * 1000
    m("lat_p99_ms") = Stats.pct(medians, 0.99) * 1000
    m("wall_s") = medians.sum
    plain.toSeq.sortBy(_._1).foreach { case (n, s) => res.notes += f"$n median $s%.3f s" }

    if (p.traced) {
      val traced = passes.filter(_._1).map(_._2)
      val runs = traced.flatten
      tracer.sparkLayers(res, traced.size.toDouble,
        runs.map(r => (r.startMs, r.startMs + r.ns / 1000000)))
      runs.foreach(r => tracer.span(Json.obj("kind" -> "catalog_query",
        "name" -> r.name, "start_ms" -> r.startMs, "duration_ns" -> r.ns)))
      m("trace.overhead_frac") = wallS(true).values.sum / m("wall_s") - 1.0
      TailBench.replay(p, res, tracer)
    }
  }
}
