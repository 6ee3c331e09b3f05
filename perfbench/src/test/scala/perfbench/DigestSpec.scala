package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val cols = Seq("b", "a")
  private val rows = Seq(Row(1L, "x"), Row(2L, "y"), Row(2L, "y"), Row(null, "z"))

  test("the digest ignores row order") {
    val d = Digest.of(cols, rows)
    assert(rows.permutations.forall(p => Digest.of(cols, p) == d))
  }

  test("the digest ignores column order") {
    val swapped = rows.map(r => Row(r.get(1), r.get(0)))
    assert(Digest.of(Seq("a", "b"), swapped) == Digest.of(cols, rows))
  }

  test("the digest sees values and multiplicities") {
    val d = Digest.of(cols, rows)
    assert(Digest.of(cols, rows.distinct) != d)
    assert(Digest.of(cols, rows.updated(0, Row(1L, "w"))) != d)
    assert(Digest.of(cols, Nil) != d)
  }

  test("doubles compare at ten significant digits, nested values recursively") {
    assert(Digest.of(Seq("v"), Seq(Row(0.1 + 0.2))) == Digest.of(Seq("v"), Seq(Row(0.3))))
    assert(Digest.of(Seq("v"), Seq(Row(-0.0))) == Digest.of(Seq("v"), Seq(Row(0.0))))
    assert(Digest.of(Seq("v"), Seq(Row(1.0))) != Digest.of(Seq("v"), Seq(Row(1.001))))
    assert(Digest.canon(Seq(1.0, 2.5)) == "[1,2.5]")
    assert(Digest.canon(Map("b" -> 1, "a" -> 2)) == "{a=2,b=1}")
  }
}
