package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions AND its column-composition functions as SQL
  * functions, so `spark.sql` users get the same surface as the Column
  * API, plus the graft optimizer rules.
  *
  * Usage: [[GraftSession.builder]] installs it on every graft session.
  * A session built elsewhere gets it with
  * `--conf spark.sql.extensions=graft.GraftExtensions`. It takes effect
  * only when a session is created; there is no post-hoc registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
    e.injectOptimizerRule(_ => graft.plans.TopOneWindowToAggregate)
    e.injectOptimizerRule(_ => graft.plans.MaterializedViewRewrite)
  }
}

object GraftExtensions {

  /** Scalar args (k, seed, window sizes, replacement strings) must be
    * literals: the builders bake them into the expression at analysis
    * time, exactly like Spark's own parameterized builtins.
    */
  private def foldArg(exprs: Seq[Expression], i: Int, fn: String, what: String): Any = {
    val e = exprs(i)
    if (!e.foldable)
      throw new IllegalArgumentException(s"$fn: argument ${i + 1} ($what) must be a literal")
    val v = e.eval()
    if (v == null)
      throw new IllegalArgumentException(s"$fn: argument ${i + 1} ($what) must not be null")
    v
  }
  private def intArg(exprs: Seq[Expression], i: Int, fn: String, what: String): Int =
    foldArg(exprs, i, fn, what).asInstanceOf[Number].intValue()
  private def longArg(exprs: Seq[Expression], i: Int, fn: String, what: String): Long =
    foldArg(exprs, i, fn, what).asInstanceOf[Number].longValue()
  private def strArg(exprs: Seq[Expression], i: Int, fn: String, what: String): String =
    foldArg(exprs, i, fn, what).toString

  /** Lift a Column→Column composition into a FunctionBuilder. */
  private def col1(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : FunctionRegistry.FunctionBuilder =
    exprs => expression(f(column(exprs.head)))

  /** The SQL function table: name → (usage doc, builder). */
  private val functions: Seq[(String, String, FunctionRegistry.FunctionBuilder)] = Seq(
    // -- sketch expressions (custom codegen'd Catalyst expressions) -------
    ("minhash_signature", "minhash_signature(shingles[, k[, seed]]) - MinHash sketch",
      exprs => MinHashSignature(exprs.head,
        if (exprs.length > 1) intArg(exprs, 1, "minhash_signature", "k") else 64,
        if (exprs.length > 2) longArg(exprs, 2, "minhash_signature", "seed") else 42L)),
    ("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array",
      exprs => SimHash64(exprs.head)),
    ("word_shingles", "word_shingles(tokens, k) - word k-shingles",
      exprs => WordShingles(exprs.head, intArg(exprs, 1, "word_shingles", "k"))),
    ("word_shingle_hashes",
      "word_shingle_hashes(tokens, k) - 64-bit hashes of word k-shingles",
      exprs => WordShingleHashes(exprs.head, intArg(exprs, 1, "word_shingle_hashes", "k"))),
    ("char_ngrams", "char_ngrams(text, n) - character n-grams",
      exprs => CharNgrams(exprs.head, intArg(exprs, 1, "char_ngrams", "n"))),
    ("winnow_mins",
      "winnow_mins(hashes, w) - winnowing sliding-window minima (sorted, distinct)",
      exprs => WinnowMins(exprs.head, intArg(exprs, 1, "winnow_mins", "w"))),
    ("ascii_char_count",
      "ascii_char_count(text, chars) - occurrences of any of `chars` in text",
      exprs => AsciiCharCount(exprs.head, strArg(exprs, 1, "ascii_char_count", "chars"))),
    ("normalize_text",
      "normalize_text(text) - NFC + lowercase + whitespace-collapse (dedup keying)",
      exprs => NormalizeText(exprs.head)),
    ("sig_match_frac",
      "sig_match_frac(a, b) - fraction of equal positions in two long-array signatures (MinHash Jaccard estimate)",
      exprs => SigMatchFrac(exprs(0), exprs(1))),
    ("cosine_similarity",
      "cosine_similarity(a, b) - cosine of two numeric arrays (fused one-pass)",
      exprs => expression(VectorFunctions.cosineFused(column(exprs(0)), column(exprs(1))))),
    // -- text-pipeline compositions (built-ins only; stay in codegen) -----
    ("graft_tokens", "graft_tokens(text) - whitespace tokens, empties removed",
      col1(TextFunctions.tokens)),
    ("token_count", "token_count(text) - one-pass whitespace token count",
      col1(TextFunctions.tokenCount)),
    ("lang_id", "lang_id(text) - heuristic stopword language ID (en/de/es/fr/zh)",
      col1(TextFunctions.langId)),
    ("quality_bucket",
      "quality_bucket(text) - Gopher/C4-style quality bucket from integer signals",
      col1(TextFunctions.qualityBucket)),
    ("punct_count", "punct_count(text) - ASCII punctuation count",
      col1(TextFunctions.punctCount)),
    ("email_count", "email_count(text) - number of email addresses (PII audit)",
      col1(TextFunctions.emailCount)),
    ("redact_emails",
      "redact_emails(text[, replacement]) - PII scrub: emails replaced (default [EMAIL])",
      exprs => expression(TextFunctions.redactEmails(column(exprs.head),
        if (exprs.length > 1) strArg(exprs, 1, "redact_emails", "replacement")
        else "[EMAIL]"))),
    ("token_chunks",
      "token_chunks(tokens, size, stride) - overlapping token-window chunk texts",
      exprs => expression(TextFunctions.tokenChunks(column(exprs.head),
        intArg(exprs, 1, "token_chunks", "size"),
        intArg(exprs, 2, "token_chunks", "stride")))),
    ("winnow_fingerprints",
      "winnow_fingerprints(text[, n[, w]]) - winnowing doc fingerprint (SIGMOD'03)",
      exprs => expression(TextFunctions.winnowFingerprints(column(exprs.head),
        if (exprs.length > 1) intArg(exprs, 1, "winnow_fingerprints", "n") else 5,
        if (exprs.length > 2) intArg(exprs, 2, "winnow_fingerprints", "w") else 4))),
    ("dequantize_int8",
      "dequantize_int8(q) - inverse of int8 quantization: struct(scale, codes) -> array<double>",
      col1(VectorFunctions.dequantizeInt8)),
    // -- native aggregates (TypedImperativeAggregate, map-side partial) ---
    ("bounded_topk",
      "bounded_topk(v, k) - the k largest longs per group, sorted desc; " +
        "k-bounded buffer, no group sort",
      exprs => BoundedTopK(exprs.head, intArg(exprs, 1, "bounded_topk", "k"))),
    ("bounded_topk_pair",
      "bounded_topk_pair(score, id, k) - the k best (score, id) pairs per " +
        "group under (score DESC, id ASC); k-bounded buffer, no group sort",
      exprs => BoundedTopKPair(exprs(0), exprs(1),
        intArg(exprs, 2, "bounded_topk_pair", "k"))))
}
