package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale training-data curation:
  * tokenization, portable 32-bit hashing, shingling, MinHash, SimHash,
  * rolling-hash fingerprints, quality/language scores.
  *
  * Everything is scalar per row, no UDFs, no shuffle: the hot forms call
  * the native codegen expressions `GraftExtensions` registers (so a
  * session must be built by `graft.Spark.session`, or carry the extension
  * itself), and each has a composition of built-in Catalyst expressions
  * (split / transform / aggregate / array_min …) beside it as the spec
  * reference — so the whole suite stays inside whole-stage codegen and
  * scales embarrassingly parallel over document partitions. The hash is
  * `int(md5_hex[0:8])`, chosen because it is bit-identical in any engine
  * (the DuckDB oracle replays it as `CAST('0x'||substr(md5(x),1,8) AS BIGINT)`).
  */
object Text {

  /** Portable 32-bit hash: first 8 hex digits of md5 as a long — the
    * native [[Hash32]] expression, bit-identical to [[hash32Builtin]]. */
  def hash32(c: Column): Column = call_function("graft_hash32", c)

  /** Built-in-only form (what the DuckDB oracle replays). */
  def hash32Builtin(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Sliding word n-grams joined by spaces: ["a b c", "b c d", ...]. */
  def shingles(toks: Column, n: Int): Column = {
    // guard short docs: sequence(1, m) DESCENDS when m < 1, and the
    // resulting element_at(toks, 0) throws under ANSI — a doc shorter
    // than the shingle width has zero shingles, not an error
    val m = size(toks) - (n - 1)
    // outer isNotNull preserves null propagation (null in => null out,
    // matching the native expressions' null contract); without it the
    // short-doc otherwise() branch would turn a null array into an empty
    // one (ADVICE r10)
    when(toks.isNotNull,
      when(m >= 1,
        transform(sequence(lit(1), m),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
        .otherwise(array().cast("array<string>")))
  }

  /** Largest 32-bit prime; modulus for the MinHash permutation family. */
  val MinhashP: Long = 4294967291L

  /** Base hashes for a shingle array — computed ONCE, then permuted
    * arithmetically per MinHash row (8x fewer md5 evaluations than salting
    * the md5 input per permutation). */
  def shingleHashes(sh: Column): Column = transform(sh, s => hash32(s))

  /** Per-token hashes. */
  def tokenHashes(toks: Column): Column = transform(toks, t => hash32(t))

  /** Per-token hashes straight from the raw text: the fused native
    * [[TokenHashes]] expression (one byte scan, no split array, no HOF),
    * bit-identical to the composed `tokenHashes(tokens(text))`
    * (fuzz-gated). */
  def tokenHashesFromText(text: Column): Column =
    call_function("graft_token_hashes", text)

  /** 3-gram shingle hashes combined arithmetically from token hashes:
    * h = (h1*299 + h2*991 + h3) mod p. One md5 per TOKEN (not per 3-word
    * shingle string) and zero string concatenation — the order-sensitive
    * combine keeps "a b c" != "c b a". */
  def shingleHashes3(tokHashes: Column): Column =
    // same short-doc guard as [[shingles]]: <3 tokens => zero shingles;
    // outer isNotNull keeps null in => null out
    when(tokHashes.isNotNull,
      when(size(tokHashes) >= 3,
        transform(sequence(lit(1), size(tokHashes) - 2),
          i => (element_at(tokHashes, i) * 299L +
                element_at(tokHashes, i + 1) * 991L +
                element_at(tokHashes, i + 2)) % MinhashP))
        .otherwise(array().cast("array<bigint>")))

  /** One MinHash value from precomputed base hashes: min of (a*h + b) mod p.
    * With h < 2^32 and small a the product stays well inside a long. */
  def minhashPerm(hashes: Column, a: Long, b: Long): Column =
    array_min(transform(hashes, h => (h * a + b) % MinhashP))

  /** SimHash over token hashes: bit j of the result is the sign of
    * sum(+-1 per token depending on bit j of the token hash). Scalar-only:
    * `bits` aggregate passes over the token array, no explode.
    * Callers with many tokens should pass a MATERIALIZED hash column to
    * [[simhashFromHashes]] — inlining the hash transform here re-evaluates
    * it per aggregate pass. */
  def simhash(toks: Column, bits: Int): Column =
    simhashFromHashes(transform(toks, t => hash32(t)), bits)

  /** SimHash from an already-computed token-hash array column: the native
    * single-pass [[SimHash]] expression (the built-in form folds the array
    * once PER BIT through interpreted aggregates — 16 passes at bits=16). */
  def simhashFromHashes(hashes: Column, bits: Int): Column =
    call_function("graft_simhash", hashes, lit(bits))

  /** Built-in-only form (what the DuckDB oracle replays, bit-identical). */
  def simhashBuiltin(hashes: Column, bits: Int): Column =
    (0 until bits).map { j =>
      val bitsum = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1) * 2 - 1))
      when(bitsum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Order-sensitive rolling fingerprint: fold h = (h*31 + hash32(tok)) mod p. */
  def fingerprint(toks: Column, p: Long = 1000000007L): Column =
    aggregate(transform(toks, t => hash32(t)), lit(0L),
      (acc, h) => (acc * 31 + h) % p)

  /** [[fingerprint]] over PRE-HASHED tokens — the native
    * [[RollingFingerprint]] fold (no per-element interpreted HOF step).
    * Pair with [[tokenHashesFromText]] so a doc's tokens are hashed once
    * and every chunk slice fingerprints the hash slice (x9's shape). */
  def fingerprintFromHashes(tokHashes: Column): Column =
    call_function("graft_fp", tokHashes)

  /** Sliding 2-gram hashes from per-token hashes — the 2-wide sibling of
    * [[shingleHashes3]], same arithmetic combine, same short-doc guard. */
  def shingleHashes2(tokHashes: Column): Column =
    // outer isNotNull keeps null in => null out (same contract as above)
    when(tokHashes.isNotNull,
      when(size(tokHashes) >= 2,
        transform(sequence(lit(1), size(tokHashes) - 1),
          i => (element_at(tokHashes, i) * 991L +
                element_at(tokHashes, i + 1)) % MinhashP))
        .otherwise(array().cast("array<bigint>")))

  /** Repetition counts for x14 — `struct(n_tokens, top_tok, top_big)` over
    * a token-hash array: the fused native [[RepetitionStats]] expression
    * (one codegen call: sort + run-scan twice on primitive long[]),
    * bit-identical to [[repetitionCountsBuiltin]] (spec-gated). */
  def repetitionCounts(tokHashes: Column): Column =
    call_function("graft_repstats", tokHashes)

  /** Built-in-only form of [[repetitionCounts]]. Callers must pass a
    * MATERIALIZED column (the HOF folds re-evaluate inlined defining
    * expressions per element). */
  def repetitionCountsBuiltin(tokHashes: Column): Column = {
    val n = size(tokHashes)
    // null-array guard: struct(...) itself is never null, so without the
    // when() a null input gives struct(null,null,null) where the native
    // expression gives NULL
    when(tokHashes.isNotNull, struct(
      n.cast("long").as("n_tokens"),
      maxRunCount(array_sort(tokHashes)).as("top_tok"),
      maxRunCount(array_sort(shingleHashes2(tokHashes))).as("top_big")))
  }

  /** Max multiplicity of any value in a SORTED long array, as the max run
    * length of one element fold — equal values are adjacent after sorting,
    * so the longest run IS the highest count. Scalar per row: the
    * mode-count of a doc's tokens without exploding the corpus into a
    * gram shuffle. The array is referenced only as the fold's ARGUMENT
    * (evaluated once per row) — an index fold with `element_at(arr, i)`
    * inside the lambda re-evaluates an inlined defining expression per
    * element. This is the interpreted twin of [[repetitionCounts]]'s
    * native expression; empty arrays fold to 0. */
  def maxRunCount(sortedArr: Column): Column =
    aggregate(sortedArr,
      struct(lit(null).cast("bigint").as("p"), lit(0L).as("r"), lit(0L).as("m")),
      (acc, x) => {
        val run = when(x <=> acc.getField("p"), acc.getField("r") + 1L)
          .otherwise(lit(1L))
        struct(x.as("p"), run.as("r"), greatest(acc.getField("m"), run).as("m"))
      },
      acc => acc.getField("m"))

  /** Fraction of tokens found in `vocab` (stopword ratio / language score). */
  def vocabRatio(toks: Column, vocab: Seq[String]): Column = {
    val inVocab = size(filter(toks, t => t.isin(vocab.map(lit): _*)))
    inVocab.cast("double") / size(toks)
  }

  /** [[vocabRatio]] straight from raw text: the fused native [[VocabCount]]
    * byte-scan numerator (no token array, no interpreted filter HOF) over
    * `size(split(text, " "))`. Bit-identical to the composed form
    * (spec-gated). */
  def vocabRatioFromText(text: Column, vocab: Seq[String]): Column =
    call_function("graft_vocab_count", text, array(vocab.map(lit): _*))
      .cast("double") / size(split(text, " "))

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Jaccard over SORTED distinct arrays: the native two-pointer
    * [[SortedIntersectCount]] merge (zero allocation per pair, stays in
    * codegen). Bit-identical to [[jaccard]] on sorted-distinct inputs
    * (spec-gated); build them with [[sortedShingleSet]]. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("graft_isect", a, b).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Sorted distinct 3-shingle hash set — pay the per-doc sort once so
    * every pairwise [[jaccardSorted]] merge is linear. The native fused
    * [[SortedShingleSet]] expression (one codegen call: primitive combine +
    * sort + in-place dedup), set-identical to [[sortedShingleSetBuiltin]]
    * (spec-gated). */
  def sortedShingleSet(tokHashes: Column): Column =
    call_function("graft_shingle_set", tokHashes)

  /** ORDERED shingle hashes (element i = shingle starting at token i) —
    * the native [[graft.functions.Shingles3]], array-identical to the
    * composed [[shingleHashes3]] (spec-gated). For positional consumers
    * (x16's duplicate spans); set-semantics consumers want
    * [[sortedShingleSet]]. */
  def orderedShingles(tokHashes: Column): Column =
    call_function("graft_shingles", tokHashes)

  /** Built-in-only form of [[sortedShingleSet]]. */
  def sortedShingleSetBuiltin(tokHashes: Column): Column =
    array_sort(array_distinct(shingleHashes3(tokHashes)))

  /** MinHash signature (array of K permutation minima, a=2i+1, b=97i) —
    * the native one-pass [[MinHashSig]], bit-identical to the composed
    * K-sweep fold [[minhashSigBuiltin]] (spec-gated); zero shingles → null
    * array (= per-column null minima of the composed form). */
  def minhashSig(tokHashes: Column, k: Int): Column =
    call_function("graft_minhash_sig", tokHashes, lit(k))

  /** Built-in-only form of [[minhashSig]]: K interpreted sweeps over the
    * shingle hashes (what the DuckDB oracle replays). */
  def minhashSigBuiltin(tokHashes: Column, k: Int): Column = {
    val hs = shingleHashes3(tokHashes)
    // when() keeps the whole-array-null contract of the native form:
    // zero shingles => null array, not an array of K nulls
    when(size(hs) >= 1,
      array((1 to k).map(i => minhashPerm(hs, 2L * i + 1, 97L * i)): _*))
  }
}
