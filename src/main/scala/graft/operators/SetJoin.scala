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
  * globally ordered rarest first. If J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·|x|⌉
  * (given the size filter τ·max ≤ min), and by the prefix-filter lemma
  * the first |x| − ⌈τ·|x|⌉ + 1 tokens of x and of y under that order must
  * share a token. So candidates are generated ONLY from prefix-token
  * collisions — and prefixes hold each set's RAREST tokens, so the
  * candidate join's key distribution is the rare tail of the vocabulary:
  * stopwords never fan out. A 100-TB corpus pays |prefix| ≈ (1−τ)·|x|
  * postings per set on rare keys, then a merge-count verify on surviving
  * candidates only.
  *
  * Sets are held as integer token RANKS ([[ranks]]): the vocabulary is
  * ranked once by (occurrence count asc, token asc) into one `long` per
  * token, so the prefix join keys on a long and the verify
  * ([[graft.functions.SortedLongIntersectSize]]) merges two sorted long
  * arrays instead of comparing token strings. This is exact because the
  * rank is injective (equal rank ⇔ equal token, so rank-set sizes are
  * token-set sizes) and the prefix lemma holds for ANY fixed total order
  * of the vocabulary; the occurrence count only makes the order cheap to
  * compute (no per-document distinct) and keeps prefixes on rare tokens.
  */
object SetJoin {

  /** All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) ≥ num/den.
    * `tokens` is an array column; duplicates within a set are collapsed
    * and null elements are not tokens.
    * Output: (id_a, id_b, inter, uni) — all engine-exact integers.
    */
  def prefixJaccard(df: DataFrame, id: Column, tokens: Column,
      num: Int, den: Int): DataFrame = {
    require(num > 0 && num <= den, "prefixJaccard: need 0 < num/den <= 1")
    // explode_outer + isNotNull, not explode: see GraftSession.tableSpread
    // (a plain explode infers a size(tokens) > 0 filter that lands in the
    // one-task scan stage); an empty set yields no token rows either way
    val tok = df.select(id.as("_id"), explode_outer(tokens).as("_t"))
      .filter(col("_t").isNotNull)
    val rk = ranks(tok)
    // per-set ranks, distinct and sorted: `_ord` serves both the prefix
    // (its head) and the verify (a merge pass over two of them)
    val ordered = graft.Caches.track(tok.join(rk, "_t")
      .groupBy(col("_id"))
      .agg(sort_array(collect_set(col("_r"))).as("_ord"))
      .select(col("_id"), col("_ord"), size(col("_ord")).as("_len"))
      .persist())
    // prefix length p = len − ⌈τ·len⌉ + 1, integer ceil = (num·len + den − 1) div den
    val p = (col("_len") - expr(s"(_len * $num + ${den - 1}) DIV $den") + lit(1))
      .cast("int")
    val prefix = ordered.select(col("_id"), col("_len"),
      explode(slice(col("_ord"), lit(1), greatest(p, lit(1)))).as("_r"))
    // candidates: prefix-rank collision + size filter den·min ≥ num·max
    val a = prefix.select(col("_id").as("id_a"), col("_len").as("_la"), col("_r"))
    val b = prefix.select(col("_id").as("id_b"), col("_len").as("_lb"), col("_r"))
    val cand = a.join(b, "_r")
      .filter(col("id_a") < col("id_b"))
      .filter(lit(den) * least(col("_la"), col("_lb")) >=
        lit(num) * greatest(col("_la"), col("_lb")))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verify on candidates only: one merge-count pass over the two
    // sorted rank sets
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
        HashFunctions.sorted_long_intersect_size(col("_sa"), col("_sb")).cast("long").as("inter"),
        col("_la"), col("_lb"))
      .filter(lit(den.toLong + num) * col("inter") >=
        lit(num.toLong) * (col("_la") + col("_lb")).cast("long"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("_la") + col("_lb") - col("inter")).cast("long").as("uni"))
  }

  /** Rank of every token of `tok` (a frame with a string column `_t`, one
    * row per occurrence): (_t, _r), `_r` increasing along (occurrence
    * count asc, token asc) and injective. The frame is materialized with
    * its lineage cut, so every later read sees the same ranks: a recompute
    * of the sort could place its range boundaries elsewhere and renumber
    * the vocabulary.
    */
  private[graft] def ranks(tok: DataFrame): DataFrame =
    graft.Caches.localCheckpointTracked(
      tok.groupBy(col("_t")).agg(count(lit(1)).as("_n"))
        .orderBy(col("_n"), col("_t"))
        .select(col("_t"), monotonically_increasing_id().as("_r")))
}
