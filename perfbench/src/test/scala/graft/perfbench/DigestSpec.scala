package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val cols = Seq("k", "v")
  private val rows = Seq(Row(1L, "a"), Row(2L, null), Row(3L, "c"))

  test("row order does not change the digest") {
    assert(Digest.of(cols, rows) == Digest.of(cols, rows.reverse))
  }

  test("values, duplicates and column names do") {
    val d = Digest.of(cols, rows)
    assert(Digest.of(cols, rows.updated(0, Row(1L, "b"))) != d)
    assert(Digest.of(cols, rows :+ rows.head) != d)
    assert(Digest.of(Seq("k", "w"), rows) != d)
    assert(Digest.of(cols, rows.updated(1, Row(2L, "null"))) != d)
  }

  test("numbers, decimals, arrays and nested rows render canonically") {
    assert(Digest.render(0.1 + 0.2) == "0.30000000000000004")
    assert(Digest.render(new java.math.BigDecimal("12.300")) == "12.3")
    assert(Digest.render(Seq(1, 2)) == "[1,2]")
    assert(Digest.render(Row(1, Row("x", null))) == "(1,(x,∅))")
    assert(Digest.render(Map("b" -> 2, "a" -> 1)) == "{a->1,b->2}")
  }
}
