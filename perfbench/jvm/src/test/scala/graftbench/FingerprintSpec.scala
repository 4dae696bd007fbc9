package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Normalisation rules of the result fingerprint (run: `sbt test` in
  * perfbench/jvm). */
class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType),
    StructField("x", DoubleType), StructField("xs", ArrayType(DoubleType))))
  private val order = Array(0, 1, 2, 3)

  private def row(k: String, n: java.lang.Long, x: java.lang.Double, xs: Double*): InternalRow =
    InternalRow(Option(k).map(UTF8String.fromString).orNull, n, x,
      new GenericArrayData(xs.map(Double.box).toArray[Any]))

  private def fp(rows: InternalRow*): Fingerprint = {
    val acc = new Fingerprint.RowAcc
    rows.map(Fingerprint.row(acc, _, schema, order)).foldLeft(Fingerprint.Empty)(_ merge _)
  }

  test("row order does not change the fingerprint") {
    val a = row("a", 1L, 0.5, 1.0, 2.0)
    val b = row("b", 2L, 1.5)
    assert(fp(a, b) == fp(b, a))
  }

  test("NULL differs from zero and from the empty string") {
    assert(fp(row(null, 1L, 0.5)).hash != fp(row("", 1L, 0.5)).hash)
    assert(fp(row("a", null, 0.5)).hash != fp(row("a", 0L, 0.5)).hash)
    assert(fp(row("a", 1L, null)).hash != fp(row("a", 1L, 0.0)).hash)
  }

  test("floats stay out of the exact hash and land in the tolerant sums") {
    val a = fp(row("a", 1L, 0.1 + 0.2))
    val b = fp(row("a", 1L, 0.3))
    assert(a.hash == b.hash)
    assert(math.abs(a.f1 - b.f1) <= 1e-9 * a.fabs)
    assert(fp(row("a", 1L, 0.4)).f1 != a.f1)
  }

  test("the weighted float sum ties a float to its row") {
    val swapped = fp(row("a", 1L, 2.0), row("b", 2L, 1.0))
    val straight = fp(row("a", 1L, 1.0), row("b", 2L, 2.0))
    assert(swapped.f1 == straight.f1)
    assert(swapped.f2 != straight.f2)
  }

  test("column order follows the given ordinals") {
    val acc = new Fingerprint.RowAcc
    val r = row("a", 1L, 0.5)
    val swappedSchema = StructType(Seq(schema(1), schema(0), schema(2), schema(3)))
    val swappedRow = InternalRow(1L, UTF8String.fromString("a"), 0.5, new GenericArrayData(Array.empty[Any]))
    assert(Fingerprint.row(acc, r, schema, order) ==
      Fingerprint.row(acc, swappedRow, swappedSchema, Array(1, 0, 2, 3)))
  }

  test("NaN and infinities are hashed as markers") {
    assert(fp(row("a", 1L, Double.NaN)).hash != fp(row("a", 1L, Double.PositiveInfinity)).hash)
    assert(fp(row("a", 1L, Double.NaN)).f1 == 0.0)
  }
}
