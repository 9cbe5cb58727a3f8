package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val rows = Seq(
    Row(1L, "a", 0.5, Seq(1.0, 2.0)),
    Row(2L, "b", null, Seq.empty[Double]),
    Row(3L, "c", 1e-9, Seq(3.0)))

  test("row order does not change the digest") {
    val d = Digest.of(rows)
    for (p <- rows.permutations) assert(Digest.of(p) == d)
  }

  test("a changed, missing or duplicated row changes it") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.updated(0, Row(1L, "a", 0.25, Seq(1.0, 2.0)))) != d)
    assert(Digest.of(rows.tail) != d)
    assert(Digest.of(rows :+ rows.head) != d)
  }

  test("last-bit double differences and map entry order are not differences") {
    val x = 0.1 + 0.2
    assert(Digest.of(Seq(Row(x))) == Digest.of(Seq(Row(0.3))))
    assert(Digest.of(Seq(Row(Map("a" -> 1, "b" -> 2)))) ==
           Digest.of(Seq(Row(Map("b" -> 2, "a" -> 1)))))
    assert(Digest.of(Seq(Row(Row(1, "x")))) != Digest.of(Seq(Row(Row(1, "y")))))
  }
}
