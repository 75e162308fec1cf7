package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** EXACT set-similarity self-join (Jaccard ≥ τ) via prefix filtering —
  * the AllPairs/PPJoin candidate scheme (Bayardo et al., WWW 2007;
  * Chaudhuri et al., ICDE 2006). Unlike the banded MinHash/SimHash paths
  * in [[graft.dedup.Dedup]] (probabilistic recall) and the df-cut n-gram
  * path (drops ubiquitous shingles), this join is exact: every pair at or
  * above the threshold is returned, with its true intersection and union
  * sizes.
  *
  * The threshold is a RATIONAL num/den so the acceptance test is pure
  * integer arithmetic (`den·|x∩y| ≥ num·|x∪y|`) — engine-exact, no float
  * boundary.
  *
  * Why it scales where the naive postings join doesn't: tokens are
  * globally ordered by ascending document frequency (rarest first; ties
  * by token). If J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·|x|⌉ (given the size filter
  * τ·max ≤ min), and by the prefix-filter lemma the first
  * |x| − ⌈τ·|x|⌉ + 1 tokens of x and of y under that order must share a
  * token. So candidates are generated ONLY from prefix-token collisions —
  * and prefixes hold each set's RAREST tokens, so the candidate join's
  * key distribution is exactly the df-smallest tail of the vocabulary:
  * stopwords never fan out. A 100-TB corpus pays |prefix| ≈ (1−τ)·|x|
  * postings per set on low-df keys, then a merge-count verify
  * ([[graft.functions.SortedIntersectSize]]) on surviving candidates only.
  */
object SetJoin {

  /** All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) ≥ num/den.
    * `tokens` is an array column; duplicates within a set are collapsed.
    * Output: (id_a, id_b, inter, uni) — all engine-exact integers.
    */
  def prefixJaccard(df: DataFrame, id: Column, tokens: Column,
      num: Int, den: Int): DataFrame = {
    require(num > 0 && num <= den, "prefixJaccard: need 0 < num/den <= 1")
    val base = df.select(id.as("_id"), array_distinct(tokens).as("_set"))
      .filter(size(col("_set")) > 0)
    val tok = base.select(col("_id"), explode(col("_set")).as("_t"))
    // global document frequency: counts-only, partial-aggregated
    val dfreq = tok.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    // per-set tokens sorted (df asc, token asc) — the in-group sort is
    // bounded by the set size; the collect_list groups by the set's own
    // id, so no cross-document buffer exists. `_ord` serves both the
    // prefix (its head) and the verify (a merge pass over two of them).
    val ordered = graft.Caches.track(tok.join(dfreq, "_t")
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("_t")))).as("_ord"))
      .select(col("_id"), col("_ord"), size(col("_ord")).as("_len"))
      .persist())
    // prefix length p = len − ⌈τ·len⌉ + 1, integer ceil = (num·len + den − 1) div den
    val p = (col("_len") - expr(s"(_len * $num + ${den - 1}) DIV $den") + lit(1))
      .cast("int")
    val prefix = ordered.select(col("_id"), col("_len"),
      explode(slice(col("_ord"), lit(1), greatest(p, lit(1)))).as("_e"))
      .select(col("_id"), col("_len"), col("_e._t").as("_t"))
    // candidates: prefix-token collision + size filter den·min ≥ num·max
    val a = prefix.select(col("_id").as("id_a"), col("_len").as("_la"), col("_t"))
    val b = prefix.select(col("_id").as("id_b"), col("_len").as("_lb"), col("_t"))
    val cand = a.join(b, "_t")
      .filter(col("id_a") < col("id_b"))
      .filter(lit(den) * least(col("_la"), col("_lb")) >=
        lit(num) * greatest(col("_la"), col("_lb")))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verify on candidates only: one merge-count pass over the two
    // (df, token)-sorted sets (a token has one df, so equal elements are
    // equal tokens)
    val withSets = cand
      .join(ordered.select(col("_id").as("id_a"), col("_ord").as("_sa"),
        col("_len").as("_la")), "id_a")
      .join(ordered.select(col("_id").as("id_b"), col("_ord").as("_sb"),
        col("_len").as("_lb")), "id_b")
    // den·inter ≥ num·uni with uni = la + lb − inter, written as
    // (den + num)·inter ≥ num·(la + lb) so `inter` appears once: the
    // optimizer inlines it into the pushed-down join condition once per
    // reference, and each reference is one more merge pass per pair
    withSets
      .select(col("id_a"), col("id_b"),
        HashFunctions.sorted_intersect_size(col("_sa"), col("_sb")).cast("long").as("inter"),
        col("_la"), col("_lb"))
      .filter(lit(den.toLong + num) * col("inter") >=
        lit(num.toLong) * (col("_la") + col("_lb")).cast("long"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("_la") + col("_lb") - col("inter")).cast("long").as("uni"))
  }
}
