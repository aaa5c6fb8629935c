package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Morton (Z-order) codes built from builtin bitwise expressions — fully
  * codegen'd (stays inside WholeStageCodegen) and expressible in ANSI
  * SQL, so the catalog query is oracle-checkable bit-for-bit.
  *
  * Why it matters at 100 TB: sorting a table by ONE column gives
  * parquet min/max file skipping on that column only; sorting by the
  * interleaved bits of two columns gives every file a compact rectangle
  * in (x, y) space, so file-level min/max skipping works for predicates
  * on EITHER dimension. This is the layout trick behind multi-dimension
  * clustering in lakehouse table formats, built here from nothing but
  * `shiftleft`/`bitwiseAND` — no custom expression needed.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` so bit i lands at bit 2i (the
    * classic mask-and-shift bit dilation).
    */
  def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(0x00FF00FFL))
    val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
    (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of (x, y): x's low 16 bits on even positions,
    * y's on odd. Equal-cardinality dimensions interleave evenly; if one
    * dimension has far more distinct bits than the other, normalize
    * (e.g. bucket) first or its high bits dominate the order.
    */
  def zvalue2(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))
}
