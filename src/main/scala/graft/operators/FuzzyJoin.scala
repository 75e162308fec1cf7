package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance similarity join (d ≤ 1 or d ≤ 2) via deletion
  * neighborhoods (the FastSS / SymSpell blocking scheme, Bocek et al.
  * 2007, "Fast Similarity Search in Large Dictionaries"): every string
  * generates itself plus its ≤ d-character-deletion variants as candidate
  * keys; two strings within Levenshtein distance d ALWAYS share a key
  * (align an optimal edit script and delete each side's edited
  * positions), so the blocking is exact — candidate generation can only
  * over-produce, and a `levenshtein ≤ d` verification on the candidates
  * reproduces the brute-force cross-join answer with no misses. The
  * typo-level record-linkage / near-key dedup primitive.
  *
  * Scale shape: only 8-byte key HASHES and ids cross the candidate
  * shuffle — a string of length L emits L+1 (hash, id) pairs, and the
  * verification pulls strings back by id through two hash joins of the
  * (small) candidate-pair set. Hash collisions only ever ADD candidates,
  * which verification removes. Ubiquitous keys (mass-duplicated strings)
  * are capped by the same counts-first bucket guard the banded dedups use
  * ([[graft.dedup.Dedup.boundedBuckets]]; drops reported via observe
  * metric `fuzzy_buckets`).
  */
object FuzzyJoin {

  /** All unordered pairs (a, b), a < b by id, with
    * `levenshtein(strOf(a), strOf(b)) <= 1`. Output: (a, b, a_str,
    * b_str, dist). `maxBucket` bounds one deletion-key's candidate list;
    * buckets past it are dropped and counted in the `fuzzy_buckets`
    * observe metric.
    */
  def selfJoinDist1(df: DataFrame, id: Column, str: Column,
      maxBucket: Int = 1000): DataFrame =
    selfJoin(df, id, str, maxDist = 1, maxBucket = maxBucket)

  /** [[selfJoinDist1]] generalized to `maxDist` ∈ {1, 2}: the deletion
    * neighborhood composes (Ud = U1 applied d times, deduplicated), and
    * the FastSS completeness argument extends — aligning an optimal
    * ≤ d-edit script, deleting each side's edited positions reaches a
    * common string with ≤ d deletions per side, so every qualifying pair
    * shares a variant key and verification only removes over-production.
    * A length-L string emits O(L²/2) variant keys at d = 2 (vs L+1 at
    * d = 1) — still hashes and ids only across the shuffle; the result
    * set, not the method, is what grows at loose thresholds.
    */
  def selfJoin(df: DataFrame, id: Column, str: Column, maxDist: Int,
      maxBucket: Int = 1000): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"selfJoin: maxDist must be 1 or 2 (got $maxDist)")
    val base = df.select(id.as("_id"), str.as("_s"))
    // deletion neighborhood: the string itself (deletion position -1)
    // plus each single-char deletion, keyed by 64-bit hash. The position
    // is NOT part of the key: distance-1 pairs may share the variant
    // STRING at different positions (e.g. "aab"/"ab").
    def del1(s: Column): Column =
      concat(array(s), transform(sequence(lit(0), length(s) - 1),
        i => concat(substring_index_safe(s, i), suffixFrom(s, i + 2))))
    val neighborhood =
      if (maxDist == 1) del1(col("_s"))
      else array_distinct(flatten(transform(del1(col("_s")), v => del1(v))))
    val keyed = base.select(col("_id"), explode(neighborhood).as("_v"))
      .select(col("_id"), xxhash64(col("_v")).as("_k"))
      .distinct()
    // cache=true: the guard's counts pass, and the a/b sides of the
    // candidate self-join below, would otherwise each recompute the
    // explode+distinct subtree (4 runs of its shuffle); the cached frame
    // is (id, 8-byte hash) pairs — small by construction
    val guarded = graft.dedup.Dedup.boundedBuckets(keyed, Seq("_k"), maxBucket,
      "fuzzy_buckets")
    val a = guarded.select(col("_k"), col("_id").as("a"))
    val b = guarded.select(col("_k"), col("_id").as("b"))
    // the pair join carries NO join-strategy hint, deliberately, in both
    // directions (A/B'd r12 at the 100x probe + sf0.1 idle bench):
    // - at scale, shuffled-hash beat sort-merge here (the two SortExecs
    //   were ~25% of the pair stage's CPU: 3886s -> 2987s, decade ratio
    //   8.6x -> 7.5x with preferSortMergeJoin=false); no workload runs
    //   this join at that scale yet, so the default planning ships;
    // - at small scale an explicit shuffle_hash hint BLOCKS AQE's
    //   runtime broadcast promotion of the small candidate frame and
    //   cost fuzzy_join2 1.67 -> 2.21 s at sf0.1 (stable across runs).
    val pairs = a.join(b, "_k").filter(col("a") < col("b"))
      .select("a", "b").distinct()
    pairs
      .join(base.select(col("_id").as("a"), col("_s").as("a_str")), "a")
      .join(base.select(col("_id").as("b"), col("_s").as("b_str")), "b")
      .withColumn("dist", levenshtein(col("a_str"), col("b_str")))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("a_str"), col("b_str"), col("dist"))
  }

  // substr(s, 1, i): chars before the deleted position (1-based SQL)
  private def substring_index_safe(s: Column, i: Column): Column =
    s.substr(lit(1), i)

  // substr(s, from, rest): chars after the deleted position
  private def suffixFrom(s: Column, from: Column): Column =
    s.substr(from, length(s))
}
