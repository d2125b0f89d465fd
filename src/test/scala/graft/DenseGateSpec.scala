package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{ParquetLog, Segment}

/** The dense-seq gate every log commit passes (append, `nullAt` /
  * `replace`, each `compact` group): the new entries must tile the
  * expected seq range exactly. */
class DenseGateSpec extends AnyFunSuite {

  private def seg(lo: Long, hi: Long, rows: Long): Segment =
    Segment(s"data/seg-$lo", lo, hi, rows)

  private def gate(first: Long, rows: Long, segs: Segment*): Option[String] =
    ParquetLog.denseProblem(first, rows, segs)

  test("files tiling the range exactly pass, in any order") {
    assert(gate(10, 15, seg(15, 24, 10), seg(10, 14, 5)).isEmpty)
    assert(gate(0, 1, seg(0, 0, 1)).isEmpty)
    assert(gate(7, 0).isEmpty, "an empty append writes nothing")
  }

  test("a gap between files is refused") {
    val got = gate(10, 14, seg(10, 14, 5), seg(16, 24, 9))
    assert(got.exists(_.contains("expected [10, 23]")), got)
  }

  test("overlapping files are refused") {
    assert(gate(10, 15, seg(10, 16, 7), seg(15, 24, 10)).nonEmpty)
  }

  test("a range not starting at the expected first seq is refused") {
    assert(gate(10, 5, seg(11, 15, 5)).nonEmpty)
  }

  test("a short row count is refused") {
    // the files tile [10, 24] but the writer counted 16 rows
    assert(gate(10, 16, seg(10, 14, 5), seg(15, 24, 10)).nonEmpty)
    // a file whose rows do not fill its own range
    assert(gate(10, 15, seg(10, 24, 14)).nonEmpty)
    assert(gate(10, 3).nonEmpty, "rows counted but no file written")
  }
}
