package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hilbert-curve layout: the defining locality property, proven
  * exhaustively, plus the file-pruning behavior that justifies the
  * operator at 100 TB (matches-or-beats the Morton layout's bound).
  */
class HilbertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("hilbert index is a Hamiltonian path: every step is grid-adjacent") {
    val s = spark
    import s.implicits._
    val bits = 4
    val n = 1 << bits // full 16x16 grid, checked exhaustively
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val rows = operators.Layout.withHilbert(grid, "x", "y", "h", bits)
      .select("x", "y", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    // a permutation of 0 .. n^2-1 ...
    assert(rows.map(_._3).toSeq === (0L until (n.toLong * n)).toSeq)
    // ... where consecutive indices are Manhattan-distance-1 neighbors —
    // the locality guarantee the Z-curve does NOT have (it jumps
    // diagonally at every quadrant boundary)
    rows.sliding(2).foreach { case Array((xa, ya, da), (xb, yb, _)) =>
      val dist = math.abs(xa - xb) + math.abs(ya - yb)
      assert(dist === 1L, s"step after h=$da jumps ($xa,$ya)->($xb,$yb)")
    }
    // contrast: Morton over the same grid takes non-unit jumps
    val mortonJumps = grid
      .select(col("x"), col("y"),
        graft.functions.ZOrder.zvalue2(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3).sliding(2).count { case Array((xa, ya, _), (xb, yb, _)) =>
        math.abs(xa - xb) + math.abs(ya - yb) > 1
      }
    assert(mortonJumps > 0)
  }

  test("hilbert layout confines slabs of EITHER dimension to few files") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val pts = (0 until 20000)
      .map(_ => (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
      .toDF("x", "y")
    val hDir = Files.createTempDirectory("graft-hilbert").toString
    operators.Layout.zoneMapWrite(pts, hDir,
      graft.functions.HilbertCode.hilbert(col("x"), col("y"), 12), nFiles = 32)
    def filesTouched(pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(hDir).filter(pred)
        .select(input_file_name()).distinct().count()
    // the same ≤16/32 bound the Morton layout is held to
    // (StorageLayoutSpec) — a 1/16 slab of either dimension
    assert(filesTouched(col("y") < 256) <= 16)
    assert(filesTouched(col("x") < 256) <= 16)
    assert(spark.read.parquet(hDir).count() === 20000L)
  }
}
