package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

/** `TailPartitionReader` on its own: lines are views into the current
  * range's bytes, handed out through one reused row, so a consumer must
  * copy each row before the next `next()` — as Spark's `UnsafeProjection`
  * does above the scan.
  */
class TailReaderSpec extends AnyFunSuite {

  /** Every row the reader emits, copied the way the scan's projection does. */
  private def drain(ranges: Seq[TailRange], emitPartial: Boolean = false): Seq[(String, String)] = {
    val reader = new TailPartitionReader(ranges, emitPartial)
    val rows = Iterator.continually(reader).takeWhile(_.next()).map(_.get().copy()).toVector
    reader.close()
    rows.map(r => (r.getUTF8String(0).toString, r.getUTF8String(1).toString))
  }

  private def file(dir: Path, name: String, text: String): (String, Long) = {
    val f = dir.resolve(name)
    Files.write(f, text.getBytes(UTF_8))
    (f.toString, Files.size(f))
  }

  private val lines = Seq("", "café 😀", "crlf\r", "", "x" * 70000, "last")

  test("one reused row carries a distinct view per line; copies keep every line") {
    val dir = Files.createTempDirectory("graft-tail-reader")
    val (p, size) = file(dir, "a.log", lines.mkString("", "\n", "\n"))
    val reader = new TailPartitionReader(Seq(TailRange(p, 0L, size)))
    val seen = scala.collection.mutable.ArrayBuffer[InternalRow]()
    while (reader.next()) {
      val row = reader.get()
      if (seen.nonEmpty) assert(row eq seen.head, "the reader reuses one row")
      seen += row
    }
    assert(seen.size === lines.size)
    assert(drain(Seq(TailRange(p, 0L, size))) === lines.map(_ -> p))
  }

  test("ranges cut mid-line: the fragment is adopted by the range holding its newline") {
    val dir = Files.createTempDirectory("graft-tail-reader")
    val (p, size) = file(dir, "a.log", lines.mkString("", "\n", "\n") + "tail")
    val (q, qSize) = file(dir, "b.log", "b1\nb2\n")
    // cuts inside the multi-byte line, inside the 70 kB line, and after
    // the unterminated tail's first byte
    val cuts = Seq(0L, 5L, 30000L, 50000L, size - 3, size)
    val got = cuts.sliding(2).flatMap { case Seq(s, e) => drain(Seq(TailRange(p, s, e))) }.toSeq
    assert(got === lines.map(_ -> p)) // "tail" waits for its newline
    // one partition, two files: each file's lines in order, with its own path
    assert(drain(Seq(TailRange(p, 5L, 30000L), TailRange(q, 0L, qSize))) ===
      Seq(lines(1) -> p, "crlf\r" -> p, "" -> p, "b1" -> q, "b2" -> q))
  }

  test("parity mode adopts no fragment and emits each range's unterminated tail") {
    val dir = Files.createTempDirectory("graft-tail-reader")
    val (p, size) = file(dir, "a.log", "one\ntwo\npart")
    assert(drain(Seq(TailRange(p, 0L, 6L)), emitPartial = true).map(_._1) === Seq("one", "tw"))
    assert(drain(Seq(TailRange(p, 6L, size)), emitPartial = true).map(_._1) === Seq("o", "part"))
    assert(drain(Seq(TailRange(p, 6L, size))).map(_._1) === Seq("two"))
  }

  test("a missing file is an empty range, and the next range still reads") {
    val dir = Files.createTempDirectory("graft-tail-reader")
    val (p, size) = file(dir, "a.log", "a\n")
    val gone = dir.resolve("gone.log").toString
    assert(drain(Seq(TailRange(gone, 0L, 10L), TailRange(p, 0L, size))) === Seq("a" -> p))
  }
}
