package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, n-grams/shingles, language-ID, quality signals, and
  * winnowing fingerprints.
  *
  * Everything here composes Spark built-ins (split / higher-order array
  * functions / regexp) so the whole pipeline stays inside WholeStageCodegen
  * — no UDFs, no serialization breaks. The reference has no scalar function
  * library at all (operator bodies are user Java code, SURVEY.md §0); this
  * is part of the north-star surface beyond the reference.
  */
object TextFunctions {

  /** Whitespace tokens, empties removed: exactly
    * `filter(split(text, " "), t => t =!= "")`, the form the
    * `string_split(text, ' ')` oracles mirror, computed in one codegen'd
    * pass ([[Tokens]]).
    */
  def tokens(text: Column): Column = HashFunctions.tokens(text)

  /** One-pass codegen'd token count (== `size(tokens(text))`, which walks
    * the interpreted HOF path and allocates the array).
    */
  def tokenCount(text: Column): Column =
    element_at(HashFunctions.stopword_counts(text, Nil), 1)

  /** Character n-grams (empty array when the text is shorter than n) —
    * one-pass custom expression ([[CharNgrams]], codegen'd).
    */
  def charNgrams(text: Column, n: Int): Column =
    HashFunctions.char_ngrams(text, n)

  /** Word k-shingles of a token array — a one-pass custom expression
    * ([[WordShingles]]). The composable higher-order-function form was
    * interpreted per element and dominated dedup runtime; see the
    * expression's scaladoc.
    */
  def shinglesOf(toks: Column, k: Int): Column =
    HashFunctions.word_shingles(toks, k)

  /** Overlapping token-window chunks — the context-window preparation
    * step of a pretraining pipeline: windows of `chunkSize` tokens every
    * `stride` tokens (stride < chunkSize ⇒ overlap), the final window
    * shorter when the document doesn't divide evenly. Returns
    * `array<string>` of chunk texts; empty/null token arrays yield an
    * empty array. Pure built-ins, so Catalyst folds it into the
    * projection; pipelines explode it into (doc, window-start) rows.
    */
  def tokenChunks(toks: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    when(size(toks) > 0,
      transform(sequence(lit(0), size(toks) - 1, lit(stride)),
        i => array_join(slice(toks, i + lit(1), lit(chunkSize)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** 64-bit hashes of the word k-shingles — use instead of [[shinglesOf]]
    * wherever only shingle identity matters (candidate-generation joins):
    * same one pass, but 8-byte values instead of strings, so downstream
    * explodes/shuffles/joins move ~5-10× fewer bytes. Equals
    * `transform(shinglesOf(toks, k), Hash64.hashString)` without
    * materializing the strings.
    */
  def shingleHashesOf(toks: Column, k: Int): Column =
    HashFunctions.word_shingle_hashes(toks, k)

  /** Convenience one-shot form — fine for small data / tests; at scale use
    * the two-phase `shinglesOf` (see its performance contract).
    */
  def wordShingles(text: Column, k: Int): Column = shinglesOf(tokens(text), k)

  /** Small per-language stopword profiles for the heuristic language ID. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "ist"),
    "es" -> Seq("de", "la", "que", "el", "en", "y", "los", "del", "se", "por"),
    "fr" -> Seq("le", "de", "un", "et", "en", "que", "pour", "dans", "ce", "pas"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Number of tokens of `text` whose lowercase form is in `words` — one
    * pass ([[StopwordCounts]]); == the interpreted
    * `size(filter(tokens(lower(text)), _.isin(words)))`.
    */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    element_at(HashFunctions.stopword_counts(text, Seq(words)), 2)

  /** Heuristic n-gram/stopword language ID over [[stopwords]]: the first
    * language (in profile order) with the maximal hit count. Deterministic
    * and exactly reproducible in SQL (chained >= comparisons in the same
    * order). All five hit counts come from ONE tokenization pass
    * ([[StopwordCounts]]); the when-chain's repeated references to the
    * counts array are CSE'd by whole-stage codegen.
    */
  def langId(text: Column): Column = {
    val counts = HashFunctions.stopword_counts(text, stopwords.map(_._2))
    val scores = stopwords.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(counts, i + 2)
    }
    val cases = scores.zipWithIndex.dropRight(1).map { case ((lang, sc), i) =>
      val later = scores.drop(i + 1).map(_._2)
      (later.map(s => sc >= s).reduce(_ && _), lang)
    }
    cases.foldRight(lit(scores.last._1): Column) { case ((cond, lang), els) =>
      when(cond, lang).otherwise(els)
    }
  }

  /** Count of ASCII punctuation characters (one-pass [[AsciiCharCount]];
    * == `length(text) - length(regexp_replace(text, "[.,!?;:]", ""))`).
    */
  def punctCount(text: Column): Column =
    HashFunctions.ascii_char_count(text, ".,!?;:")

  /** Count of uppercase ASCII letters. */
  def upperCount(text: Column): Column =
    HashFunctions.ascii_char_count(text, ('A' to 'Z').mkString)

  /** Quality bucket from integer signals only (no float thresholds →
    * bit-exact oracle parity): length window, token count, punctuation
    * density (punct*20 < length i.e. < 5%), stopword evidence. Token and
    * stopword counts share one [[StopwordCounts]] pass.
    */
  def qualityBucket(text: Column): Column = {
    val counts = HashFunctions.stopword_counts(
      text, Seq(stopwords.flatMap(_._2).distinct))
    val len = length(text)
    val toks = element_at(counts, 1)
    val punct = punctCount(text)
    val stop = element_at(counts, 2)
    when(len < 20, "too_short")
      .when(toks < 5, "too_few_tokens")
      .when(punct * 20 > len, "too_much_punct")
      .when(stop * 50 < toks, "low_stopword")
      .otherwise("ok")
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03): hash all
    * char n-grams, take the min hash of each sliding window of `w`
    * consecutive n-gram hashes, dedup. Robust to local edits; the standard
    * scalable doc-fingerprint for near-dup detection at corpus scale.
    */
  /** n-gram hashes for [[winnowFromHashes]] — materialize as a column. */
  def ngramHashes(text: Column, n: Int = 5): Column =
    transform(charNgrams(text, n), g => xxhash64(g))

  /** Winnow over an already-materialized hash array column — monotonic-
    * deque custom expression ([[WinnowMins]], O(n) vs the O(n·w)
    * interpreted sliding-slice form); returns sorted distinct minima.
    */
  def winnowFromHashes(hs: Column, w: Int = 4): Column =
    HashFunctions.winnow_mins(hs, w)

  /** Convenience one-shot form — use the two-phase pair at scale. */
  def winnowFingerprints(text: Column, n: Int = 5, w: Int = 4): Column =
    winnowFromHashes(ngramHashes(text, n), w)

  /** Canonical dedup-keying normalization: Unicode NFC, then lowercase,
    * then whitespace-run collapse + trim — one codegen'd pass
    * ([[NormalizeText]]; DuckDB replays it as
    * `trim(regexp_replace(lower(nfc_normalize(x)), '[ \t\n\r]+', ' ', 'g'))`).
    */
  def normalizeText(text: Column): Column =
    HashFunctions.normalize_text(text)

  /** Per-document top-n-gram coverage stats ([[TopNgramStats]] — the
    * Gopher repetition family's n-gram signals, one codegen'd pass with
    * a per-row count map; nothing crosses an exchange). Returns
    * struct(n_tokens, total_chars, n_ngrams, top_count, top_cover),
    * all integers.
    */
  def topNgramStats(toks: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      TopNgramStats(org.apache.spark.sql.graftbridge.Bridge.expression(toks), n))

  /** Duplicate-n-gram character coverage for every n in [minN, maxN]
    * ([[DupNgramStats]] — the dup half of the Gopher repetition rules,
    * positional union so overlapping duplicate grams never double-count
    * a character). Returns struct(n_tokens, total_chars,
    * dup_chars array<int>), all integers, one codegen'd pass per row.
    */
  def dupNgramStats(toks: Column, minN: Int, maxN: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      DupNgramStats(org.apache.spark.sql.graftbridge.Bridge.expression(toks),
        minN, maxN))

  /** Duplicate-line statistics ([[DupLineStats]] — the line-level Gopher
    * repetition rules): struct(n_lines, total_chars, dup_lines,
    * dup_chars), all integers, one codegen'd pass per row.
    */
  def dupLineStats(text: Column, sep: String = "\n"): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      DupLineStats(org.apache.spark.sql.graftbridge.Bridge.expression(text), sep))

  /** Within-document keep-first line dedup ([[DedupLinesInDoc]]):
    * struct(clean_text, n_lines, n_removed), one codegen'd pass per row.
    */
  def dedupLinesInDoc(text: Column, sep: String = "\n"): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      DedupLinesInDoc(org.apache.spark.sql.graftbridge.Bridge.expression(text), sep))

  /** Email pattern in the common Java/RE2 regex subset, so Spark and
    * SQL-engine oracles agree byte-for-byte on matches.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Number of email addresses in `text` (PII audit signal). */
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))

  /** PII scrub: every email address replaced by `replacement`. Pure
    * per-row expression — codegen'd, no UDF.
    */
  def redactEmails(text: Column, replacement: String = "[EMAIL]"): Column =
    regexp_replace(text, emailPattern, replacement)

  /** IPv4 address (word-bounded dotted quad) in the common Java/RE2
    * subset — `\b`, `(?:…)`, `\d`, bounded repetition all agree between
    * the engines, so the DuckDB oracle replays matches byte-for-byte.
    */
  val ipv4Pattern: String = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** International-ish phone shape `+CC DDD-DDDD` (the deterministic
    * fixture shape; real pipelines swap in their locale set — the
    * mechanics are identical).
    */
  val phonePattern: String = "\\+\\d{2} \\d{3}-\\d{4}"

  /** Multi-family PII scrub (the Dolma/CCNet release-gating step: email +
    * IP + phone, not email alone): one fixed replacement chain — email
    * first (an email can embed an IP-shaped host, and chain ORDER is part
    * of the contract both engines replay), then IPv4, then phone. Pure
    * per-row codegen'd expressions.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "[EMAIL]"),
        ipv4Pattern, "[IP]"),
      phonePattern, "[PHONE]")

  /** Gopher-style document quality signals (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A1.1 — the subset expressible
    * over whitespace tokens): word count within [50, 100000], mean word
    * length within [3, 10], ≥ 80 % of words containing an alphabetic
    * character, and ≥ 2 English stopword hits. Returns a struct of the
    * integer signals plus the combined `pass` flag; thresholds are
    * integer cross-multiplications (mean ∈ [3,10] ⇔ 3n ≤ Σlen ≤ 10n,
    * 80 % ⇔ 5·n_alpha ≥ 4·n), so oracles never compare floats.
    *
    * Pure built-ins (higher-order filters), per-row — fine in a filter
    * pass; the counting work is linear in tokens like every other
    * quality signal here.
    */
  def gopherSignals(toks: Column): Column = {
    val n = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val enStop = stopwords.toMap.apply("en")
    val nStop = size(filter(toks, t => t.isin(enStop: _*))).cast("long")
    struct(
      n.as("n_words"), sumLen.as("sum_word_len"),
      nAlpha.as("n_alpha_words"), nStop.as("n_stop"),
      (n >= 50 && n <= 100000 &&
        sumLen >= n * 3 && sumLen <= n * 10 &&
        nAlpha * 5 >= n * 4 &&
        nStop >= 2).as("pass"))
  }

  /** Per-document token-repetition statistics (the Gopher/C4-style quality
    * signal): total tokens, distinct tokens, and the most frequent token's
    * count. Two shuffles, both with map-side partial aggregation, and only
    * (id, term-hash, count) tuples cross the exchanges — never document
    * text. Returns `idCols ++ (n_tokens, n_distinct, top_tf)`; derive a
    * boolean flag with whatever integral threshold the pipeline uses
    * (e.g. `top_tf * 10 > n_tokens * 3`) to keep oracles float-free.
    */
  def repetitionStats(df: DataFrame, idCols: Seq[String], text: Column): DataFrame =
    df.select(idCols.map(col) :+ explode(tokens(text)).as("_graft_term"): _*)
      .groupBy((idCols :+ "_graft_term").map(col): _*).agg(count(lit(1)).as("tf"))
      .groupBy(idCols.map(col): _*)
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
}
