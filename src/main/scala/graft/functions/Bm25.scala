package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 relevance scoring over a document corpus — the standard lexical
  * ranking function (Robertson et al.), and the scoring half of the
  * vocabulary statistics in `vocab_index`.
  *
  * Plan shape at scale: two shuffles on doc id (term frequencies, doc
  * lengths), one on term (document frequencies), and a single-row corpus
  * stats aggregate broadcast to every task — no driver-side loops, all
  * expressions codegen'd.
  */
object Bm25 {

  /** Per-(doc, term) BM25 scores: (id, term, score). `onlyTerms` prunes
    * the per-(doc, term) aggregation to the query terms BEFORE the
    * shuffle — document-length and corpus stats stay corpus-wide, so the
    * scores are identical to filtering afterwards, but the big exchange
    * carries only the queried terms' postings (Catalyst cannot derive
    * this push-down itself: the filter sits above two aggregations with
    * different groupings).
    */
  def scores(docs: DataFrame, id: String, text: Column,
      k1: Double = 1.2, b: Double = 0.75,
      onlyTerms: Option[Seq[String]] = None): DataFrame =
    score(docs, id, text, k1, b)(toks =>
      onlyTerms.fold(toks)(ts => toks.filter(col("term").isin(ts: _*))))

  /** [[scores]] with the query terms as a (distinct, small) DATAFRAME —
    * the entry for DATA-DEPENDENT term sets (pseudo-relevance-feedback
    * expansion mines its terms from the corpus at plan time, so they
    * cannot be literals). Same pre-shuffle pruning, as a broadcast
    * semi-equi-join on `term` instead of an `isin` literal; per-term df
    * is unchanged by pruning (a term's document count never depends on
    * which OTHER terms are in the query), so scores are identical to the
    * literal path.
    */
  def scoresFor(docs: DataFrame, id: String, text: Column, terms: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    score(docs, id, text, k1, b)(
      _.join(broadcast(terms.select(col("term"))), Seq("term")))

  /** The scoring body of [[scores]] and [[scoresFor]]: `prune` maps the
    * (id, term) token frame to the tokens whose term frequencies are
    * scored; document lengths and corpus stats use every token.
    */
  private def score(docs: DataFrame, id: String, text: Column, k1: Double,
      b: Double)(prune: DataFrame => DataFrame): DataFrame = {
    val toks = docs.select(col(id), explode(TextFunctions.tokens(text)).as("term"))
    val tf = prune(toks).groupBy(col(id), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dl = toks.groupBy(col(id))
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val tfNorm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(dl, id)
      .crossJoin(broadcast(stats))
      .join(dfr, "term")
      .select(col(id), col("term"), (idf * tfNorm).as("score"))
  }

  /** Top-k documents per query term by BM25, deterministic tie-break on
    * id. The score itself stays internal (engine log/division ulps
    * differ); the ranking is the contract.
    */
  def topDocs(docs: DataFrame, id: String, text: Column, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankTop(scores(docs, id, text, k1, b, onlyTerms = Some(terms)), id, k)

  /** [[topDocs]] over a data-dependent term frame ([[scoresFor]]). */
  def topDocsFor(docs: DataFrame, id: String, text: Column, terms: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankTop(scoresFor(docs, id, text, terms, k1, b), id, k)

  private def rankTop(scored: DataFrame, id: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col(id).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("term"), col("rank"), col(id))
  }
}
