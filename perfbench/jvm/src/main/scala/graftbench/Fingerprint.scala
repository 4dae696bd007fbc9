package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result.
  *
  * Every non-floating value (NULLs, integers, decimals, strings, dates,
  * timestamps, binary, and the shape of arrays, maps and structs) feeds an
  * exact 64-bit row hash; the row hashes are summed, so row order does not
  * matter. Floating values cannot be hashed exactly: summation order varies
  * between plans and runs and moves the last bits. They are folded into
  * position-weighted sums instead, `f1` (plain) and `f2` (weighted by the
  * row's exact hash, which ties each float to its row), with `fabs` the
  * matching sum of magnitudes, so the check can compare them within a
  * relative tolerance. NaN and infinities are hashed as markers.
  */
final case class Fingerprint(rows: Long, hash: Long, f1: Double, f2: Double, fabs: Double) {
  def merge(o: Fingerprint): Fingerprint =
    Fingerprint(rows + o.rows, hash + o.hash, f1 + o.f1, f2 + o.f2, fabs + o.fabs)

  def toMap: Map[String, Any] = Map(
    "rows" -> rows, "hash" -> java.lang.Long.toUnsignedString(hash),
    "f1" -> f1, "f2" -> f2, "fabs" -> fabs)
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, 0L, 0.0, 0.0, 0.0)

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Per-row accumulator: exact hash of the non-floating atoms, weighted
    * sums of the floating ones. `atom` numbers the atoms in walk order. */
  final class RowAcc {
    var h = 17L
    var atom = 0
    var f = 0.0
    var fabs = 0.0
    def add(x: Long): Unit = { h = mix(h * 31 + x); atom += 1 }
    def addFloat(x: Double): Unit = {
      if (x.isNaN) add(0x7ff8000000000000L)
      else if (x.isInfinite) add(if (x > 0) 0x7ff0000000000000L else 0xfff0000000000000L)
      else {
        val w = 1 + atom % 7
        f += x * w
        fabs += math.abs(x) * w
        atom += 1
      }
    }
    def reset(): Unit = { h = 17L; atom = 0; f = 0.0; fabs = 0.0 }
  }

  private val NullMark = 0x6e756c6cL

  private def bytes(acc: RowAcc, b: Array[Byte]): Unit = {
    var x = b.length.toLong
    var i = 0
    while (i < b.length) { x = x * 131 + b(i); i += 1 }
    acc.add(x)
  }

  /** Fold value `i` of `g` (of type `dt`) into `acc`. */
  def value(acc: RowAcc, g: SpecializedGetters, i: Int, dt: DataType): Unit =
    if (g.isNullAt(i)) acc.add(NullMark)
    else dt match {
      case BooleanType => acc.add(if (g.getBoolean(i)) 1 else 2)
      case ByteType => acc.add(g.getByte(i).toLong)
      case ShortType => acc.add(g.getShort(i).toLong)
      case IntegerType | DateType => acc.add(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType => acc.add(g.getLong(i))
      case FloatType => acc.addFloat(g.getFloat(i).toDouble)
      case DoubleType => acc.addFloat(g.getDouble(i))
      case d: DecimalType =>
        bytes(acc, g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
      case _: StringType => bytes(acc, g.getUTF8String(i).getBytes)
      case BinaryType => bytes(acc, g.getBinary(i))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        acc.add(0x5b00L + a.numElements())
        var k = 0
        while (k < a.numElements()) { value(acc, a, k, et); k += 1 }
      case MapType(kt, vt, _) =>
        // map entry order is insertion order; fold entries order-free
        val m = g.getMap(i)
        var sum = 0L
        var k = 0
        while (k < m.numElements()) {
          val e = new RowAcc
          value(e, m.keyArray(), k, kt)
          value(e, m.valueArray(), k, vt)
          sum += e.h
          acc.f += e.f
          acc.fabs += e.fabs
          k += 1
        }
        acc.add(0x7b00L + m.numElements())
        acc.add(sum)
      case st: StructType =>
        val r = g.getStruct(i, st.size)
        acc.add(0x2800L + st.size)
        var k = 0
        while (k < st.size) { value(acc, r, k, st(k).dataType); k += 1 }
      case other =>
        bytes(acc, String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }

  /** Fingerprint of one row: the values of `schema` at ordinals `order`. */
  def row(acc: RowAcc, r: SpecializedGetters, schema: StructType, order: Array[Int]): Fingerprint = {
    acc.reset()
    var k = 0
    while (k < order.length) { value(acc, r, order(k), schema(order(k)).dataType); k += 1 }
    val h = mix(acc.h)
    val w = 1.0 + (h & 0xff) / 256.0
    Fingerprint(1L, h, acc.f, acc.f * w, acc.fabs * 2)
  }

  /** Execute `df`'s own physical plan (the same QueryExecution the caller
    * may already have planned) and fingerprint every output row. Columns
    * are taken in name order, so a reordered projection agrees. */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => schema(i).name).toArray
    df.queryExecution.toRdd.mapPartitions { it =>
      val acc = new RowAcc
      var fp = Empty
      it.foreach(r => fp = fp.merge(row(acc, r, schema, order)))
      Iterator.single(fp)
    }.fold(Empty)(_ merge _)
  }
}
