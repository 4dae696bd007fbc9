package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native "how many whitespace tokens are in this vocabulary" — x3's
  * language-ID numerator, fused into ONE scan over the raw UTF-8 bytes.
  *
  * The composed form `size(filter(split(text, " "), t -> t.isin(...)))`
  * allocates the full token array, then runs an interpreted HOF whose
  * lambda evaluates a 5-way isin per element (HOFs never enter codegen —
  * the sharp-edge-#17 class, measured no-cliff here but still interpreted
  * per token). This expression walks the bytes once, splitting on single
  * spaces exactly like `split(text, " ")` (consecutive separators yield
  * empty tokens, which match nothing), and compares each token against
  * the broadcast-tiny sorted vocab via binary search on UTF8String —
  * zero per-row allocation beyond token slices, inside whole-stage
  * codegen. Bit-identical to the composed form (TextSpec fuzz).
  *
  * Measured NEUTRAL at the 100× replica (6.2 vs 6.15 s — x3's cost is
  * the denominator split + aggregation, not the filter); kept because it
  * removes an interpreted-HOF call site from a declared query — the
  * megamorphic-interpreter class (sharp edge #17) that twice cost 6×
  * silently in long-lived JVMs. Same honest-neutral precedent as
  * [[TokenHashes]]/[[SortedIntersectCount]]. */
case class VocabCount(child: Expression, vocab: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_vocab_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }

  // sorted UTF8String array shared by eval and codegen (referenced via
  // the expression instance captured in the generated class). Ordered by
  // binaryCompare, the byte order compareTo gives: Spark 4.1's compareTo
  // consults SparkEnvUtils.isTesting() per call and throws under testing.
  @transient private lazy val sorted: Array[UTF8String] =
    vocab.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0).toArray

  def count(s: UTF8String): Long = VocabCountUtil.count(s, sorted)

  override def nullSafeEval(v: Any): Any = count(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocabExpr", this, classOf[VocabCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): VocabCount =
    copy(child = newChild)
}

object VocabCountUtil {
  /** Tokens are maximal runs between single ' ' separators (split(" ")
    * semantics: consecutive spaces produce empty tokens — never in a
    * vocab). Binary search over the sorted vocab per token. */
  def count(s: UTF8String, sorted: Array[UTF8String]): Long = {
    val bytes = s.getBytes // ONE materialization per row; slices wrap it
    val n = bytes.length
    var c = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        if (i > start) {
          // token = byte slice [start, i), zero-copy wrap
          val t = UTF8String.fromBytes(bytes, start, i - start)
          var lo = 0; var hi = sorted.length - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            val cmp = sorted(mid).binaryCompare(t)
            if (cmp == 0) { c += 1; lo = hi + 2 } // found; exit
            else if (cmp < 0) lo = mid + 1
            else hi = mid - 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    c
  }
}
