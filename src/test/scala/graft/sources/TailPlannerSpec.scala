package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `planInputPartitions` packs per-file ranges into at most one task per
  * core, largest first, never splitting a file's range.
  */
class TailPlannerSpec extends AnyFunSuite {
  private lazy val cores = TestSpark.spark.sparkContext.defaultParallelism

  private def stream() = new TailMicroBatchStream(
    root = "/nonexistent", glob = "*.log",
    maxBytesPerFilePerBatch = 128L * 1024 * 1024,
    maxFilesPerTrigger = 0, maxBytesPerTrigger = 0, listIntervalMs = 0)

  private def plan(start: Map[String, Long], end: Map[String, Long]): Seq[Seq[TailRange]] =
    stream().planInputPartitions(TailOffset(start), TailOffset(end)).toSeq
      .map(_.asInstanceOf[TailInputPartition].ranges)

  /** 40 files with Zipf(1.1)-skewed new bytes past a committed offset;
    * every fifth file has no new bytes, one has been truncated.
    */
  private val files = (0 until 40).map(i => f"/logs/svc-$i%02d.log")
  private val start = files.zipWithIndex.map { case (p, i) => p -> (i * 1000L) }.toMap
  private val end = files.zipWithIndex.map { case (p, i) =>
    val grown = if (i % 5 == 4) 0L else math.round(4e6 / math.pow(i + 1, 1.1))
    p -> (if (i == 7) 300L else i * 1000L + grown)
  }.toMap
  private val expected = files.flatMap { p =>
    val (s, e) = (start(p), end(p))
    val from = if (e < s) 0L else s
    if (e > from) Some(TailRange(p, from, e)) else None
  }

  test("a 4-core session gets 40 skewed ranges in at most 4 partitions") {
    assert(cores === 4)
    val parts = plan(start, end)
    assert(parts.size === cores)
    assert(parts.forall(_.nonEmpty))
  }

  test("every range lands in exactly one partition, unsplit") {
    val got = plan(start, end).flatten
    assert(got.sortBy(_.path) === expected.sortBy(_.path))
    assert(got.map(_.path).distinct.size === got.size)
    assert(expected.exists(_ === TailRange("/logs/svc-07.log", 0L, 300L))) // truncated → from 0
  }

  test("the largest bin stays within 4/3 of max(largest range, total / n)") {
    val parts = plan(start, end)
    val loads = parts.map(_.map(_.length).sum)
    val largest = expected.map(_.length).max
    val bound = 4.0 / 3 * math.max(largest.toDouble, expected.map(_.length).sum.toDouble / parts.size)
    assert(loads.max <= bound, s"bin loads $loads, bound $bound")
    assert(parts.head.head.length === largest) // the largest range is scheduled first
  }

  test("the same offsets always give the same plan; empty ranges give no partition") {
    val first = plan(start, end)
    assert(plan(start, end) === first)
    val reparsed = plan(TailOffset.fromJson(TailOffset(start).json()).offsets,
      TailOffset.fromJson(TailOffset(end).json()).offsets)
    assert(reparsed === first)
    assert(plan(start, start).isEmpty)
    assert(plan(Map.empty, Map.empty).isEmpty)
    val two = Map(files(0) -> 10L, files(1) -> 20L)
    assert(plan(Map.empty, two ++ files.drop(2).map(_ -> 0L)).map(_.map(_.path)) ===
      Seq(Seq(files(1)), Seq(files(0))))
  }
}
