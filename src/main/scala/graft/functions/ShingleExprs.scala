package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native sorted-distinct 3-gram shingle set over a token-hash array —
  * one fused call replacing THREE per-row array passes, two of them
  * interpreted HOFs (`transform` with three `element_at`s per element,
  * then `array_distinct`, then lambda-comparator `array_sort` — HOFs
  * never enter codegen, and under a long-lived JVM their interpreter
  * call sites go megamorphic and slow a further 3-6×; NOTES sharp edge
  * #17). Here: build the 2^32-bounded 3-gram combine
  * `(h[i]*299 + h[i+1]*991 + h[i+2]) % 4294967291`
  * ([[Text.shingleHashes3]]'s arithmetic) into a primitive long[],
  * `Arrays.sort`, dedup in place — zero boxing, inside whole-stage
  * codegen.
  *
  * Set-identical to `array_sort(array_distinct(shingleHashes3(h)))` and
  * spec-pinned against it. Null array → null; <3 tokens → empty array
  * (zero shingles, matching the composed guard). Feeds d4's
  * [[SortedIntersectCount]] merges and the at-rest corpus shingle table
  * (SURVEY §2.11's dedup block). */
case class SortedShingleSet(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ShingleUtil.sortedSet(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      ArrayData ${ev.value} = ${ev.isNull} ? null :
        graft.functions.ShingleUtil.sortedSet(${c.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedShingleSet =
    copy(child = newChild)
}

/** Native ORDERED 3-gram shingle hashes over a token-hash array — the
  * position-preserving sibling of [[SortedShingleSet]] (same combine
  * arithmetic, no sort/dedup): element i is the shingle starting at token
  * i, which is what positional consumers (x16's duplicate-span runs)
  * explode. Replaces the interpreted `transform` HOF with one primitive
  * pass; array-identical to [[Text.shingleHashes3]] (spec-pinned). Null
  * array → null; <3 tokens → empty array. */
case class Shingles3(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ShingleUtil.ordered(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      ArrayData ${ev.value} = ${ev.isNull} ? null :
        graft.functions.ShingleUtil.ordered(${c.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** Native MinHash signature over a token-hash array: the K permutation
  * minima `min_j (hs[j]*(2i+1) + 97i) % 4294967291` for i = 1..K over the
  * 3-gram shingle hashes — ONE pass instead of K interpreted
  * `array_min(transform(...))` sweeps plus the shingle `transform` that
  * feeds them (2·K+1 HOF passes per document in the composed signature
  * build; the same megamorphic-interpreter exposure as above). Shingle
  * hashes are combined on the fly — no intermediate array at all — and
  * the K running minima live in registers/one small long[].
  *
  * Bit-identical to the composed [[Text.minhashPerm]] fold with the
  * signature family a=2i+1, b=97i (the only family the engine uses:
  * TextDedup.withMinhash, Curation's mh build, the DuckDB oracles);
  * spec-pinned. h < 2^32 and a ≤ 2K+1 keep products far inside a long.
  * Null array → null; <3 tokens (zero shingles) → null, matching
  * `array_min` of an empty array per signature column. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ShingleUtil.minhashSig(v.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = ${c.isNull} ? null :
        graft.functions.ShingleUtil.minhashSig(${c.value}, $k);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object ShingleUtil {
  private final val P = Text.MinhashP // 4294967291L

  /** 3-gram combine into a fresh long[]; n < 3 → empty. */
  private def shingles3(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    if (n < 3) return Array.emptyLongArray
    val h = arr.toLongArray()
    val out = new Array[Long](n - 2)
    var i = 0
    while (i < n - 2) {
      out(i) = (h(i) * 299L + h(i + 1) * 991L + h(i + 2)) % P
      i += 1
    }
    out
  }

  /** Position-preserving shingle array for [[Shingles3]]. */
  def ordered(arr: ArrayData): ArrayData =
    new GenericArrayData(shingles3(arr))

  def sortedSet(arr: ArrayData): ArrayData = {
    val s = shingles3(arr)
    java.util.Arrays.sort(s)
    // in-place dedup on the sorted array
    var w = 0
    var i = 0
    while (i < s.length) {
      if (w == 0 || s(i) != s(w - 1)) { s(w) = s(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == s.length) s else java.util.Arrays.copyOf(s, w))
  }

  /** K permutation minima over the 3-gram hashes; zero shingles → null. */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return null
    val h = arr.toLongArray()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n - 2) {
      val s = (h(j) * 299L + h(j + 1) * 991L + h(j + 2)) % P
      var i = 0
      while (i < k) {
        val v = (s * (2L * (i + 1) + 1L) + 97L * (i + 1)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}
