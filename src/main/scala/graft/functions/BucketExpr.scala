package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Native bucket-tag expression: `graft_bucket(value, bounds)` returns the
  * index of `value` in the partition induced by the sorted, distinct
  * `bounds` array — i.e. the count of bounds `<= value`, computed by binary
  * search. Buckets run 0 (below every bound) to `bounds.length` (at or
  * above the last bound), matching
  * `java.util.Arrays.binarySearch` semantics: exact hit on `bounds(i)` → `i+1`,
  * otherwise the insertion point.
  *
  * This replaces the per-row Scala UDFs that tagged rows with their
  * quantile bucket in the two-phase rankers ([[graft.operators.Ordered]]
  * `prCurveScalable` / `everyKthPacked`): a ScalaUDF breaks whole-stage
  * codegen and pays serialization per row, while this expression is a
  * static call inside the generated loop (SURVEY §2.11 — same case as
  * `graft_hash32`/`graft_adc`). The bounds array is a few-KB quantile grid
  * (shuffle-partition count entries), so it rides along as a literal in
  * the plan — every task JVM sees the identical array, keeping the count
  * pass and the rank pass in exact agreement.
  *
  * Long-typed inputs are cast to double by the caller; bounds derived from
  * longs are exact in double space up to 2^53, far beyond any key domain
  * here (documented contract, matching the previous UDF's long maths).
  *
  * `bounds` is an immutable ArraySeq, not a raw Array: case-class
  * equals/hashCode on an Array are reference-based, which would make two
  * semantically identical BucketBin expressions never compare equal and
  * defeat semanticEquals-driven reuse (CSE, exchange reuse) — ArraySeq
  * compares by element.
  */
case class BucketBin(child: Expression,
                     bounds: scala.collection.immutable.ArraySeq[Double])
    extends UnaryExpression {
  private lazy val boundsArr: Array[Double] = bounds.toArray
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bucket"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case DoubleType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a double value, got ${t.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    BucketBinUtil.find(boundsArr, input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("bounds", boundsArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BucketBinUtil.find($arr, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketBin =
    copy(child = newChild)
}

object BucketBinUtil {
  /** binarySearch-style bucket index: exact match → i+1, miss → insertion
    * point. Equals the number of bounds `<= v` for sorted distinct bounds. */
  def find(bounds: Array[Double], v: Double): Int = {
    val i = java.util.Arrays.binarySearch(bounds, v)
    if (i >= 0) i + 1 else -(i + 1)
  }

  /** Column builder: the native expression, bounds as a literal array. */
  def bucketCol(value: Column, bounds: Array[Double]): Column =
    call_function("graft_bucket", value, array(bounds.toIndexedSeq.map(lit(_)): _*))
}
