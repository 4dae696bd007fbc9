package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's portable 32-bit hash:
  * the first 4 bytes of md5(utf8(s)) as an unsigned long — bit-identical to
  * `conv(substring(md5(s),1,8),16,10)` (and to the DuckDB oracle's
  * `CAST('0x'||substr(md5(s),1,8) AS BIGINT)`), but without materializing
  * the 32-char hex string and re-parsing it per call.
  *
  * This is the SURVEY §2.11 "custom Expression only if UDF perf matters"
  * case: hash32 runs millions of times per document batch (every shingle of
  * every doc), so the hex round-trip is measurable. `doGenCode` emits a
  * direct static call, keeping the whole pipeline inside whole-stage
  * codegen.
  */
case class Hash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash32"

  override protected def nullSafeEval(input: Any): Any =
    Hash32Util.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash32Util.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash32 =
    copy(child = newChild)
}

object Hash32Util {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes, big-endian unsigned — equals parsing the first 8
    * lowercase hex digits. */
  def compute(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
  }
}

/** SparkSessionExtensions hook registering the engine's native expressions
  * (`graft_hash32`, `graft_dot`, …) so plans can call them via
  * `call_function` / SQL, and the planner strategy of the
  * `ConnectedComponents` plan node. Wired in [[graft.Spark.session]]; the
  * column helpers (`Text`, `BucketBinUtil.bucketCol`, …) call the native
  * functions directly, so every session that runs them needs it. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.operators.ConnectedComponentsStrategy)
    // arity is validated here (a wrong-arg-count SQL call fails analysis
    // with the function name, not IndexOutOfBounds); argument TYPES are
    // validated by each expression's inputTypes contract
    e.injectFunction((
      new FunctionIdentifier("graft_hash32"),
      new ExpressionInfo(classOf[Hash32].getName, "graft_hash32"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_hash32 expects 1 argument, got ${exprs.length}")
        Hash32(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_dot expects 2 arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_adc"),
      new ExpressionInfo(classOf[AdcFold].getName, "graft_adc"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_adc expects 2 arguments (codes, lut), got ${exprs.length}")
        AdcFold(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_bucket"),
      new ExpressionInfo(classOf[BucketBin].getName, "graft_bucket"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_bucket expects 2 arguments (value, bounds), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_bucket bounds must be a literal array")
        val arr = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray()
        BucketBin(exprs.head,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_token_hashes"),
      new ExpressionInfo(classOf[TokenHashes].getName, "graft_token_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_token_hashes expects 1 argument, got ${exprs.length}")
        TokenHashes(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_round6"),
      new ExpressionInfo(classOf[Round6].getName, "graft_round6"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_round6 expects 1 argument, got ${exprs.length}")
        Round6(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_fp"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_fp"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_fp expects 1 argument, got ${exprs.length}")
        RollingFingerprint(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_isect"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_isect"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_isect expects 2 arguments, got ${exprs.length}")
        SortedIntersectCount(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_repstats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "graft_repstats"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_repstats expects 1 argument, got ${exprs.length}")
        RepetitionStats(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_vocab_count"),
      new ExpressionInfo(classOf[VocabCount].getName, "graft_vocab_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_vocab_count expects 2 arguments (text, vocab), got ${exprs.length}")
        require(exprs(1).foldable, "graft_vocab_count vocab must be a literal array")
        val arr = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString)
        VocabCount(exprs.head, scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[SortedShingleSet].getName, "graft_shingle_set"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_shingle_set expects 1 argument, got ${exprs.length}")
        SortedShingleSet(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles3].getName, "graft_shingles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_shingles expects 1 argument, got ${exprs.length}")
        Shingles3(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_minhash_sig expects 2 arguments (hashes, k), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_minhash_sig k must be a literal")
        MinHashSig(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_simhash expects 2 arguments (hashes, bits), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_simhash bits must be a literal")
        SimHash(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
      }))
  }
}
