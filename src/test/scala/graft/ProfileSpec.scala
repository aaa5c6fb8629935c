package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** Smoke test of the profiler's recorder on the test session: query rows
  * carry jobs and Catalyst phases, every localCheckpoint seam of the
  * last pass gets a plan file, a pass that builds a memo is flagged,
  * and a detached recorder leaves no listener behind.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("recorder: query rows, a plan per checkpoint seam, memo builds flagged") {
    // an alias of the sf0.001 directory gives the build-once memos fresh
    // keys, so q78's first pass builds its index even if another suite
    // already built it for the plain path
    val sf = Files.createTempDirectory("graft-profile").resolve("sf")
    Files.createSymbolicLink(sf, Paths.get(TestSpark.Sf0001))
    val planRoot = Files.createTempDirectory("graft-profile-plans")
    val ledger = mutable.ArrayBuffer.empty[(String, String, Double)]
    val rows = Profile.profile(spark, sf.toString,
      Seq("q57_dedup_clusters", "q78_index_incremental_dedup"), 2, planRoot, ledger).toMap

    rows.values.flatten.foreach { p =>
      assert(p.sec >= 0 && p.jobs.nonEmpty && p.stages > 0 && p.tasks > 0, p)
      assert(Seq("analysis", "optimization", "planning").forall(p.phasesMs.contains), p)
      assert(p.phasesMs.values.forall(_ >= 0) && p.inJobsSec >= 0 && p.driverSec >= 0, p)
    }

    val q57 = rows("q57_dedup_clusters").last
    val seams = q57.actions.count(_ == "localCheckpoint")
    assert(seams > 0, q57.actions)
    val files = Files.list(planRoot.resolve("q57_dedup_clusters")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(files.count(_.endsWith("-localCheckpoint.txt")) == seams, files)
    assert(files.size == q57.actions.size, files)
    files.foreach { f =>
      val plan = Files.readString(planRoot.resolve("q57_dedup_clusters").resolve(f))
      assert(plan.contains("== Physical Plan ==") && plan.contains("== Executed plan =="), f)
    }

    val Seq(first, second) = rows("q78_index_incremental_dedup")
    assert(first.built && !second.built)
    assert(ledger.exists { case (q, k, _) => q == "q78_index_incremental_dedup" && k.startsWith("mhidx#") },
      ledger)
  }

  test("a detached recorder leaves no listener registered") {
    val streams = spark.streams.listListeners().length
    val rec = new Profile.Recorder(spark)
    assert(spark.streams.listListeners().length == streams + 1)
    rec.detach()
    assert(spark.streams.listListeners().length == streams)
    // jobs, actions and triggers all go unseen once detached
    val pass = rec.record(None)(
      Bench.runOnce(spark, TestSpark.Sf0001, "q252_streaming_join_then_agg",
        mutable.ArrayBuffer.empty))
    assert(pass.sec >= 0)
    assert(pass.jobs.isEmpty && pass.stages == 0 && pass.tasks == 0, pass)
    assert(pass.actions.isEmpty && pass.triggers.isEmpty && pass.phasesMs.isEmpty, pass)
  }
}
