package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions at session build time, so a cluster deployment enables
  * the whole SQL surface with configuration only —
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * — no code changes (the per-session alternative is
  * [[Engine.registerFunctions]]). This is the (c)-tier integration
  * mechanism of the build brief; no custom Rule/SparkStrategy is
  * registered because Catalyst's built-ins cover every operator here
  * (SURVEY §4.2's conclusion).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.table.foreach(ext.injectFunction)
}

object GraftExtensions {

  private val P = 4294967291L

  /** One entry per SQL function: `usage` is the call signature, shown in
    * the arity error and, with `doc`, by DESCRIBE FUNCTION. */
  private def fn(usage: String, doc: String, arity: Int)(
      builder: Seq[Expression] => Expression) = {
    val name = usage.takeWhile(_ != '(')
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", null, name, s"$usage - $doc", "", "", "", "", "", "", "scala_udf"),
      new FunctionBuilder { def apply(es: Seq[Expression]): Expression =
        builder(functions.Arity.check(name, usage, arity, es)) })
  }

  /** The engine's native expressions, as injected here and as registered
    * per session by [[Engine.registerFunctions]]. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = {
    val a = operators.Dedup.permAB.map(_._1).toArray
    val b = operators.Dedup.permAB.map(_._2).toArray
    Seq(
      fn("shingle_hashes(text)", "distinct hashed word 3-gram shingles", 1)(
        es => functions.ShingleHashes(es.head, 3, P)),
      fn("char_shingle_hashes(text)", "distinct hashed char 5-gram shingles", 1)(
        es => functions.CharShingleHashes(es.head, 5, P)),
      fn("minhash_sig(shingles)", "128-permutation MinHash signature", 1)(
        es => functions.MinHashSig(es.head, a, b, P)),
      fn("minhash_band_keys(sig)", "16 LSH band bucket keys of a signature", 1)(
        es => functions.BandKeys(es.head, 16)),
      fn("simhash64(text)", "64-bit SimHash fingerprint of tokenized text", 1)(
        es => functions.SimHash64(es.head)),
      fn("dot_product(a, b)", "dot product of two double arrays", 2)(
        es => functions.DotProduct(es(0), es(1))),
      fn("l2_norm(a)", "L2 norm of a double array", 1)(
        es => functions.L2Norm(es.head)),
      fn("nfc_normalize(text)", "Unicode NFC canonical composition of a string", 1)(
        es => functions.NfcNormalize(es.head)),
      // the comma-joined word list must be a literal (it compiles into
      // the expression); non-literal args fail analysis with a clear message
      fn("token_set_count(text, 'w1,w2,...')",
          "count of space-delimited tokens in the literal comma-joined word set", 2)(
        es => functions.TokenSetCount(es.head,
          functions.TokenSetCount.parseWordList(es(1)))),
      fn("exact_qsum(x)", "exact order-insensitive sum of 10^-6-quantized doubles", 1)(
        es => functions.ExactQuantizedSum(es.head).toAggregateExpression()),
      fn("mod_filter(arr, m, r)", "keep array elements ≡ r (mod m); literal m, r", 3)(
        es => functions.ModFilter(es(0),
          functions.ModFilter.literalLong(es(1), "m"),
          functions.ModFilter.literalLong(es(2), "r"))),
      // literal k, null-skipping, O(k) state (native TypedImperative
      // form; the typed-Aggregator tier remains TopKAggregator via q43)
      fn("topk(score, tag, k)", "per-group top-k tags by score; literal k", 3)(
        es => functions.TopKTags.forSql(es(0), es(1), es(2))),
      // composed from builtin bit ops — codegen-friendly
      fn("morton_interleave(bx, by)", "Z-curve bit interleave of two pre-bucketed dimensions", 2)(
        es => operators.Layout.interleaveExpr(es(0), es(1))),
    )
  }
}
