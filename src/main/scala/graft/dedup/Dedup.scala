package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines, each designed to
  * scale: no driver-side collection, no all-pairs comparison — candidate
  * generation is always a key-equality shuffle (exact hash, LSH band,
  * SimHash band, or shared-shingle), so the cost is O(data) + O(candidate
  * pairs), never O(n²).
  *
  * Skew guard: any banding scheme can produce a pathological bucket (e.g.
  * thousands of identical boilerplate docs). `maxBucket` drops buckets
  * larger than the bound *and logs how many were dropped* via an observe
  * metric — at 100 TB an unbounded bucket is a job-killer, and silently
  * dropping would misreport coverage.
  *
  * Cache contract: the candidate-generating operators persist an
  * intermediate frame (read by both self-join sides), registered with
  * [[graft.Caches]] — call `Caches.clear(spark)` between batches in a
  * long-lived session to release them.
  */
object Dedup {

  /** Internal working columns must not collide with the caller's schema —
    * a colliding `_h1`/`_h2` would be silently overwritten in the
    * surviving rows, a colliding `_id` makes the final anti-join's
    * reference ambiguous. Rejected loudly instead.
    */
  private def requireNoInternal(df: DataFrame, names: Seq[String],
      allow: Set[String] = Set.empty): Unit = {
    val clash = names.filterNot(allow).filter(df.columns.contains)
    require(clash.isEmpty,
      s"input schema uses reserved internal column(s) ${clash.mkString(", ")} — rename them")
  }

  /** Exact dedup: group identical `on` values, keep the smallest `id`.
    * Returns (keep_id, n_dups, <on columns>)-shaped frame. One shuffle,
    * partial-aggregated map-side.
    */
  def exact(df: DataFrame, on: Seq[String], id: String): DataFrame =
    df.groupBy(on.map(col): _*)
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keyed by a 128-bit content fingerprint (two independent
    * xxhash64 seeds) instead of the raw `on` values: same (keep_id, n_dups)
    * result, but the aggregation shuffles 16-byte keys rather than full
    * document text — on a mostly-unique 100 TB corpus that is the
    * difference between shuffling ~16 B/doc and ~the whole corpus. Use when
    * the output doesn't need the `on` values themselves. 128 bits keeps the
    * collision odds negligible at any realistic corpus size (birthday bound
    * ~2^64 docs); a collision would merge two distinct groups.
    */
  def exactFingerprint(df: DataFrame, on: Seq[String], id: String): DataFrame = {
    val cols = on.map(col)
    df.groupBy(xxhash64(cols: _*).as("_h1"), xxhash64(lit(0x5eed) +: cols: _*).as("_h2"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))
      .drop("_h1", "_h2")
  }

  /** Fingerprint index of a corpus: one row per distinct 128-bit content
    * fingerprint of the `on` values (same two-seed xxhash64 construction
    * as [[exactFingerprint]]). This is what a pipeline persists between
    * ingestion batches — 16 bytes per distinct document, NOT the text, so
    * the index for a 100 TB corpus is tens of GB and joins cheaply.
    */
  def fingerprintIndex(df: DataFrame, on: Seq[String]): DataFrame = {
    val cols = on.map(col)
    df.select(xxhash64(cols: _*).as("_h1"), xxhash64(lit(0x5eed) +: cols: _*).as("_h2"))
      .distinct()
  }

  /** Incremental exact dedup — the production ingestion pattern: a new
    * batch must be deduped BOTH within itself and against everything
    * already ingested, without touching the corpus text. Returns the
    * surviving batch rows (original batch schema): the smallest-`id` row
    * per fingerprint within the batch, minus any fingerprint present in
    * `index` (from [[fingerprintIndex]], typically read back from its
    * persisted home).
    *
    * Scale shape: one shuffle of the batch on its 16-byte fingerprint
    * (min_by keeps whole rows through the partial-aggregated exchange),
    * then a left-anti join against the index on the same key — the
    * aggregated side is already hash-partitioned by the join key, so only
    * the (16-byte-wide) index side moves. Corpus text never shuffles;
    * batch text shuffles once.
    */
  def exactIncremental(batch: DataFrame, index: DataFrame,
      on: Seq[String], id: String): DataFrame = {
    requireNoInternal(batch, Seq("_h1", "_h2"))
    val cols = on.map(col)
    val outCols = batch.columns.toSeq
    batch
      .withColumn("_h1", xxhash64(cols: _*))
      .withColumn("_h2", xxhash64(lit(0x5eed) +: cols: _*))
      .groupBy(col("_h1"), col("_h2"))
      .agg(min_by(struct(outCols.map(col): _*), col(id)).as("_row"))
      .join(index, Seq("_h1", "_h2"), "left_anti")
      .select(col("_row.*"))
  }

  /** Paragraph-granularity exact dedup (the CCNet/RefinedWeb "line dedup"
    * shape, at token-window granularity since our corpus has no line
    * structure): each document is cut into non-overlapping `width`-token
    * chunks; for every chunk seen anywhere in the corpus, only the FIRST
    * occurrence — smallest (`id`, chunk index) — survives; each document
    * is then reassembled from its surviving chunks in order. Documents
    * whose every chunk was seen earlier disappear entirely. Returns
    * (id, text, n_chunks_kept).
    *
    * Scale shape: two shuffles, one pass over the corpus. The keep-first
    * decision is a partial-aggregated `min(struct(id, index, chunk))`
    * keyed by the 8-byte chunk hash: a boilerplate chunk repeated 10⁸
    * times combines map-side to ONE candidate per task (same reasoning
    * as [[exactFingerprint]] — no hot-key window anywhere), the struct
    * comparison decides on (id, index) before ever touching the text
    * bytes, and carrying the text through the exchange is what lets the
    * reassembly run directly on the winners — the alternative (hash-only
    * agg + join back) moves the text the same number of times and adds a
    * third shuffle plus a recompute of the chunking pass. The reassembly
    * shuffle is keyed by document, naturally balanced by doc size.
    */
  def paragraphDedup(docs: DataFrame, id: String, toks: Column,
      width: Int = 50): DataFrame = {
    require(width >= 1, "width must be >= 1")
    docs
      .filter(size(toks) > 0)
      .select(col(id).as("_id"),
        posexplode(TextFunctions.tokenChunks(toks, width, width))
          .as(Seq("_cidx", "_chunk")))
      // two-seed 128-bit key, same construction as [[exactFingerprint]]:
      // a single 64-bit hash collides at the birthday bound (~2^32 chunks,
      // far below a real corpus) and a collision here MERGES two distinct
      // chunks — every occurrence of the loser silently deleted from its
      // documents
      .groupBy(xxhash64(col("_chunk")).as("_h1"),
        xxhash64(lit(0x5eed), col("_chunk")).as("_h2"))
      .agg(min(struct(col("_id"), col("_cidx"), col("_chunk"))).as("_w"))
      .groupBy(col("_w._id").as(id))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("_w._cidx"), col("_w._chunk")))),
          c => c("_chunk")), " ").as("text"),
        count(lit(1)).as("n_chunks_kept"))
  }

  /** Boilerplate-line removal (the C4/CCNet corpus-frequency filter —
    * distinct from [[paragraphDedup]]'s keep-first dedup): a line whose
    * exact content occurs in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, copyright footers) and EVERY
    * occurrence is dropped, including the first; each document is then
    * reassembled from its surviving lines in order. Returns
    * (id, clean_text, n_lines, n_removed) — one row per input document,
    * `clean_text` empty when everything was boilerplate.
    *
    * Scale shape: three key-equality shuffles, no self-join. (1) distinct
    * (line-hash, doc) — map-side partial dedup caps a line repeated 10⁸
    * times within documents at one candidate per task; (2) count per
    * line-hash over the deduped pairs — partial-aggregated, and the
    * per-hash row count is bounded by the corpus document count, not by
    * occurrence count; (3) per-document reassembly keyed by doc, balanced
    * by document size. The hot set (count ≥ minDocs) is at most
    * totalLines/minDocs rows of 16 bytes and in practice tiny — AQE
    * broadcast-promotes the anti-join at runtime; at 100 TB with a
    * pathological threshold it degrades to a shuffled anti-join, still
    * O(data). Line identity is the two-seed 128-bit hash of
    * [[exactFingerprint]]: one 64-bit hash collides at the birthday bound
    * and a collision here deletes an innocent rare line from every
    * document that contains it.
    */
  def stripFrequentLines(docs: DataFrame, id: String, text: Column,
      sep: String = "\n", minDocs: Int = 10): DataFrame = {
    requireNoInternal(docs, Seq("_id", "_text", "_idx", "_line", "_h1", "_h2"))
    val base = docs.select(col(id).as("_id"), text.as("_text"))
    stripAgainst(base, hotLines(lineRows(base, sep), minDocs), sep, id)
  }

  /** Hot-line index of a reference corpus — the artifact a production
    * pipeline computes ONCE over the full corpus and then ships to every
    * ingestion batch (the incremental shape of [[stripFrequentLines]],
    * same contract as [[fingerprintIndex]]/[[minhashIndex]]): the
    * two-seed 128-bit hashes (_h1, _h2) of every line occurring in at
    * least `minDocs` distinct documents. 16 bytes per hot line, nothing
    * of the text — safe to persist and broadcast. Append-compatible:
    * union per-epoch indexes and the dedup inside [[stripLinesIndexed]]
    * keeps duplicated entries harmless (pinned in DedupSpec).
    */
  def lineIndex(docs: DataFrame, id: String, text: Column,
      sep: String = "\n", minDocs: Int = 10): DataFrame = {
    requireNoInternal(docs, Seq("_id", "_text", "_idx", "_line", "_h1", "_h2"))
    hotLines(lineRows(docs.select(col(id).as("_id"), text.as("_text")), sep), minDocs)
  }

  /** Remove from `docs` every line whose hash is in `index` (built by
    * [[lineIndex]] over the reference corpus): the per-batch half of
    * incremental boilerplate removal — the batch never re-scans the
    * corpus, it joins its lines against the 16-byte-per-entry index.
    * Output shape identical to [[stripFrequentLines]].
    */
  def stripLinesIndexed(docs: DataFrame, index: DataFrame, id: String,
      text: Column, sep: String = "\n"): DataFrame = {
    requireNoInternal(docs, Seq("_id", "_text", "_idx", "_line", "_h1", "_h2"))
    val base = docs.select(col(id).as("_id"), text.as("_text"))
    stripAgainst(base, index.select(col("_h1"), col("_h2")).distinct(), sep, id)
  }

  /** Driver-side row bound for a broadcast hot-line index: 4M entries ×
    * 16 B = 64 MB — the same dimension-table size class as
    * [[graft.operators.Views.DefaultMaxRows]]. A real corpus's hot set
    * (every line in ≥ minDocs distinct docs) is plausibly 10⁵–10⁷, so
    * the bound is a CONTRACT, not an assumption: an oversized index
    * fails with a pointer at the join path before any unbounded driver
    * allocation.
    */
  val DefaultMaxIndexEntries: Int = 4000000

  /** Broadcast-index variant of [[stripLinesIndexed]] for STREAMS (and
    * any per-row path): the batch op's explode → anti-join → reassemble
    * is the right shape at rest but the reassembly is an unbounded
    * stateful aggregation in a stream, so here the [[lineIndex]] pairs
    * are collected under a fail-fast row bound (`maxEntries`, the
    * [[graft.operators.Views]] pattern: a parallel count probes the size
    * BEFORE any driver materialization), sorted once, and shipped as ONE
    * executor-decoded broadcast ([[graft.functions.SortedHashPairs]]);
    * a single codegen'd expression ([[graft.functions.StripLinesByHash]]
    * — hash-parity with the index pinned in DedupSpec) then filters each
    * document's lines in place with an O(log n) binary search per line.
    * Stateless, no shuffle and no join on the document side; output
    * shape identical to [[stripFrequentLines]]. An index above
    * `maxEntries` must use [[stripLinesIndexed]] (the distributed
    * anti-join never materializes the index anywhere).
    */
  def stripLinesBroadcast(docs: DataFrame, index: DataFrame, id: String,
      text: Column, sep: String = "\n",
      maxEntries: Int = DefaultMaxIndexEntries): DataFrame = {
    requireNoInternal(docs, Seq("_s"))
    // the expression splits on one ASCII byte (never part of a multi-byte
    // UTF-8 sequence); a multi-char sep built into an index would
    // otherwise silently never match here — reject it loudly
    require(sep.length == 1 && sep.charAt(0) < 128,
      s"stripLinesBroadcast: sep must be a single ASCII char " +
        s"(got ${sep.map(_.toInt).mkString("[", ",", "]")}); " +
        "use stripLinesIndexed for other separators")
    // count-probe + collect over one persisted snapshot (Views.groupView
    // rationale: a limit(n+1) probe funnels through few tasks; the
    // persist keeps the probe and the collect on one computation)
    val pairsDf = index.select(col("_h1"), col("_h2")).distinct()
    val cached = pairsDf.persist()
    val sorted =
      try {
        val n = cached.count()
        if (n > maxEntries) throw new IllegalArgumentException(
          s"stripLinesBroadcast: hot-line index has $n entries, exceeding " +
            s"maxEntries=$maxEntries — the index is driver-collected and " +
            "broadcast, so it must stay dimension-sized; use " +
            "stripLinesIndexed (distributed anti-join) for large indexes, " +
            "or raise maxEntries")
        graft.functions.SortedHashPairs.build(
          cached.collect().map(r => (r.getLong(0), r.getLong(1))))
      } finally { cached.unpersist(false); () }
    val bc = docs.sparkSession.sparkContext.broadcast(sorted)
    import org.apache.spark.sql.graftbridge.Bridge
    docs
      .select(col(id),
        Bridge.column(graft.functions.StripLinesByHash(
          Bridge.expression(text), bc, sep.charAt(0).toByte)).as("_s"))
      .select(col(id),
        // null text -> "" with null counts, byte-identical to the batch
        // paths (where posexplode drops the doc and the final select
        // coalesces) — pinned in DedupSpec
        coalesce(col("_s.clean_text"), lit("")).as("clean_text"),
        col("_s.n_lines").cast("long").as("n_lines"),
        col("_s.n_removed").cast("long").as("n_removed"))
  }

  /** (_id, _idx, _line, _h1, _h2) — one row per line of `base`. */
  private def lineRows(base: DataFrame, sep: String): DataFrame =
    base.select(col("_id"),
      posexplode(split(col("_text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("_idx", "_line")))
      .withColumn("_h1", xxhash64(col("_line")))
      .withColumn("_h2", xxhash64(lit(0x5eed), col("_line")))

  /** Line hashes in >= minDocs distinct docs of a [[lineRows]] frame. */
  private def hotLines(lines: DataFrame, minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    lines.select(col("_h1"), col("_h2"), col("_id")).distinct()
      .groupBy(col("_h1"), col("_h2"))
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_h1"), col("_h2"))
  }

  /** Anti-join `base`'s lines against the hot set, reassemble per doc. */
  private def stripAgainst(base: DataFrame, hot: DataFrame, sep: String,
      id: String): DataFrame = {
    val rebuilt = lineRows(base, sep)
      .join(hot, Seq("_h1", "_h2"), "left_anti")
      .groupBy(col("_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("_idx"), col("_line")))),
          c => c("_line")), sep).as("clean_text"),
        count(lit(1)).as("_nkept"))
    base
      .select(col("_id"),
        size(split(col("_text"), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq("_id"), "left")
      .select(col("_id").as(id),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("_nkept"), lit(0L))).as("n_removed"))
  }

  /** Banded MinHash rows of `df`: (_band, _bucket, _id, _sig) — the
    * signature computation plus per-band bucket hashes shared by
    * [[minhashCandidates]], [[minhashIndex]] and [[minhashIncremental]].
    */
  private def mhBanded(df: DataFrame, id: String, shingles: Column,
      bands: Int, rows: Int, seed: Long): DataFrame =
    mhBandRows(mhSigs(df, id, shingles, bands, rows, seed), bands, rows)
      .select(col("_id"), col("_sig"), col("_band"), col("_bucket"))

  /** Per-doc signatures: (_id, _sig) — one row per doc, the k-hash
    * signature computed ONCE (the O(n·k) cost of every MinHash op).
    */
  private def mhSigs(df: DataFrame, id: String, shingles: Column,
      bands: Int, rows: Int, seed: Long): DataFrame =
    df.select(col(id).as("_id"),
      HashFunctions.minhash_signature(shingles, bands * rows, seed).as("_sig"))

  /** Band rows of a signature frame: (_id, _sig, _band, _bucket). The
    * join paths below PROJECT AWAY `_sig` before any exchange — a band
    * row that carries the full bands·rows signature is ~1 kB where the
    * (band, bucket, id) triple is 24 B, and the 10x probe measured the
    * sig-carrying shape as multi-GB exchanges + sort spill on the
    * candidate join (verification re-fetches signatures by id from the
    * one-row-per-doc frame instead — the same fetch-by-id-after-pairing
    * shape FuzzyJoin uses for strings).
    *
    * `_bucket` is a PERSISTED CONTRACT: [[minhashIndex]] frames that
    * pipelines store between batches key on it, so its encoding must
    * never change. Band `b` is
    * `xxhash64(concat_ws(",", slice(_sig, b*rows + 1, rows)))` — XXH64,
    * seed 42, over the band's values in decimal joined by commas.
    * [[graft.functions.BandHashes]] computes exactly that in one pass,
    * and BandHashesSpec checks it bit for bit against the composable form.
    */
  private def mhBandRows(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("_id"), col("_sig"),
      posexplode(HashFunctions.band_hashes(col("_sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bucket"))

  /** Estimated Jaccard: fraction of equal signature positions — a single
    * codegen'd loop ([[graft.functions.SigMatchFrac]]); this sits in the
    * candidate-verification filter, the O(|pairs|·k) hot spot of every
    * MinHash query and ingest batch. The signature length (always
    * bands·rows from [[graft.functions.MinHashSignature]]) is implied by
    * the arrays; a length mismatch — index built with different
    * bands/rows — yields null, which the ≥-threshold filter drops,
    * poisoning visibly instead of estimating wrongly.
    */
  private def estJaccard(a: Column, b: Column): Column =
    graft.functions.HashFunctions.sig_match_frac(a, b)

  /** Candidate pairs sharing an LSH band of the MinHash signature.
    *
    * bands × rows = k; two docs with Jaccard s share ≥1 band with
    * probability 1 - (1 - s^rows)^bands (s-curve threshold ≈
    * (1/bands)^(1/rows)). Default 16×8: threshold ≈ 0.66 for 128 hashes.
    * Returns (a, b, sig_a, sig_b) with a < b, deduped across bands.
    *
    * A singleton never pairs: the bucket self-join reads only the rows of
    * buckets with 2 to `maxBucket` members ([[pairableBuckets]]), so the
    * bulk of the band rows (singletons at any realistic threshold) is
    * counted once and never persisted, sorted or joined.
    */
  def minhashCandidates(df: DataFrame, id: String, shingles: Column,
      bands: Int = 16, rows: Int = 8, seed: Long = 42L,
      maxBucket: Int = 10000): DataFrame = {
    // both the band explode and the two signature fetch-backs read this
    // frame: persist so the signature computation (O(n·k)) runs once
    val sigs = graft.Caches.track(
      mhSigs(df, id, shingles, bands, rows, seed).persist())
    // the bucket self-join moves (band, bucket, id) triples ONLY — the
    // signatures rejoin by id onto the (deduped, tiny) pair set below —
    // and only those of buckets that can pair: a singleton never pairs,
    // and at pseudo-sf1 92% of the band rows are singletons. The band
    // rows are recomputed from the sigs cache rather than cached (one
    // band_hashes pass over one-row-per-doc signatures).
    val pairable = pairableBuckets(
      mhBandRows(sigs, bands, rows).select(col("_band"), col("_bucket"), col("_id")),
      Seq("_band", "_bucket"), maxBucket, "minhash_buckets")
    val a = pairable.select(col("_band"), col("_bucket"), col("_id").as("a"))
    val b = pairable.select(col("_band"), col("_bucket"), col("_id").as("b"))
    a.join(b, Seq("_band", "_bucket")).filter(col("a") < col("b"))
      .select("a", "b").dropDuplicates("a", "b")
      .join(sigs.select(col("_id").as("a"), col("_sig").as("sig_a")), "a")
      .join(sigs.select(col("_id").as("b"), col("_sig").as("sig_b")), "b")
      .select("a", "b", "sig_a", "sig_b")
  }

  /** MinHash near-dup pairs: candidates whose *estimated* Jaccard
    * (fraction of equal signature positions) ≥ `threshold`.
    */
  def minhash(df: DataFrame, id: String, shingles: Column, threshold: Double,
      bands: Int = 16, rows: Int = 8, seed: Long = 42L): DataFrame =
    minhashCandidates(df, id, shingles, bands, rows, seed)
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")

  /** Banded MinHash index of a corpus: (_band, _bucket, _id, _sig) rows —
    * what a pipeline persists between ingestion batches for incremental
    * NEAR-dup dedup (companion to [[fingerprintIndex]]'s exact index).
    * Size: bands rows of (8B + 8B + 8B·bands·rows) per doc — signature
    * data, never text. Rebuild is embarrassingly parallel, so pipelines
    * typically append each accepted batch's banded rows to the index home.
    * The `_bucket` values are a persisted contract (see [[mhBandRows]]):
    * an index written by any earlier build joins with batches banded now.
    */
  def minhashIndex(df: DataFrame, id: String, shingles: Column,
      bands: Int = 16, rows: Int = 8, seed: Long = 42L): DataFrame =
    mhBanded(df, id, shingles, bands, rows, seed)

  /** Incremental MinHash near-dup dedup: returns the batch rows that are
    * NOT near-duplicates (estimated Jaccard ≥ threshold) of (a) any
    * indexed corpus doc or (b) any smaller-`id` batch doc. Rule (b) is
    * deterministic and parallel (no greedy chain through survivor
    * status) — the same keep-smallest-id convention as [[exact]].
    *
    * `index` must come from [[minhashIndex]] built with the SAME bands /
    * rows / seed (signature positions must align for the estimate).
    *
    * Scale shape: the batch is signature-banded once (persisted — both
    * the index join and the within-batch self-join read it), candidates
    * are band-bucket equi-joins with the same `maxBucket` skew guard as
    * [[minhashCandidates]], and the corpus participates only as its
    * banded index — corpus text is never read, batch text shuffles never
    * (only ids, buckets and signatures move).
    */
  def minhashIncremental(batch: DataFrame, index: DataFrame, id: String,
      shingles: Column, threshold: Double, bands: Int = 16, rows: Int = 8,
      seed: Long = 42L, maxBucket: Int = 10000): DataFrame = {
    requireNoInternal(batch, Seq("_id"), allow = Set(id))
    val sigs = graft.Caches.track(
      mhSigs(batch, id, shingles, bands, rows, seed).persist())
    val banded = boundedBuckets(
      mhBandRows(sigs, bands, rows).select(col("_band"), col("_bucket"), col("_id")),
      Seq("_band", "_bucket"), maxBucket, "minhash_inc_batch")
    val idx = boundedBuckets(
      index.select(col("_band"), col("_bucket"), col("_id").as("_rid")),
      Seq("_band", "_bucket"), maxBucket, "minhash_inc_index", cache = false)
    // ONE candidate join: the right side unions the corpus index (always
    // eligible to kill a batch doc) with the batch itself (kills only
    // LARGER ids: the deterministic keep-smallest-id rule). `_fidx`
    // keeps the two id spaces apart — an index doc and a batch doc may
    // share an id value, and the partner-signature fetch below must
    // resolve each against its own source. Everything that crosses the
    // candidate exchange is (band, bucket, id) triples; the full
    // signatures rejoin by id onto the band-deduped pair set, so
    // verification runs once per PAIR, not once per band collision (the
    // sig-carrying shape measured multi-GB exchanges + spill at the 10x
    // probe).
    val right = idx.select(col("_band"), col("_bucket"), col("_rid"),
        lit(true).as("_fidx"))
      .unionByName(banded.select(col("_band"), col("_bucket"),
        col("_id").as("_rid"), lit(false).as("_fidx")))
    val candPairs = banded.join(right, Seq("_band", "_bucket"))
      .filter(col("_fidx") || col("_rid") < col("_id"))
      .select(col("_id"), col("_rid"), col("_fidx"))
      .dropDuplicates("_id", "_rid", "_fidx")
    // partner signatures: index rows repeat one identical _sig per band —
    // dedup by (_rid, _sig), NOT by _rid alone: the documented
    // append-each-batch index workflow can legitimately hold TWO distinct
    // signatures for one id (a revised doc re-ingested under the same id),
    // and an id-only dedup would verify against an arbitrary one of them,
    // silently missing near-dups of the other version. With (_rid, _sig)
    // the join below fans each candidate pair out once per distinct
    // partner signature and verification runs against every version; the
    // terminal left_anti absorbs the duplicate drop ids.
    val rightSigs = index.select(col("_id").as("_rid"), col("_sig").as("_isig"))
      .dropDuplicates("_rid", "_isig")
      .select(col("_rid"), col("_isig"), lit(true).as("_fidx"))
      .unionByName(sigs.select(col("_id").as("_rid"), col("_sig").as("_isig"),
        lit(false).as("_fidx")))
    // no distinct before the anti-join: left_anti semantics absorb
    // duplicate drop ids, so the extra exchange bought nothing
    val dropIds = candPairs
      .join(rightSigs, Seq("_rid", "_fidx"))
      .join(sigs.select(col("_id"), col("_sig")), "_id")
      .filter(estJaccard(col("_sig"), col("_isig")) >= threshold)
      .select(col("_id"))
    batch.join(dropIds, batch(id) === col("_id"), "left_anti")
  }

  /** Banded SimHash rows: (_band, _bucket, _id, _sig) — pigeonhole blocks
    * of the 64-bit signature, shared by [[simhash]], [[simhashIndex]] and
    * [[simhashIncremental]].
    */
  private def shBanded(df: DataFrame, id: String, tokens: Column,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 15,
      s"maxHamming must be in [1, 15] (got $maxHamming): banding needs >= 2 blocks of >= 4 bits")
    val blocks = maxHamming + 1
    val width = 64 / blocks
    val sigs = df.select(col(id).as("_id"), HashFunctions.simhash64(tokens).as("_sig"))
    // block extraction must be sign-safe: % on a negative long keeps the
    // sign and would split equal low bits into different buckets — mask
    sigs.select(col("_id"), col("_sig"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)),
        b => call_function("shiftrightunsigned", col("_sig"), b * width)
          .bitwiseAND(lit((1L << width) - 1)))))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bucket"))
  }

  /** Banded SimHash index of a corpus (companion to [[minhashIndex]]):
    * persist between ingestion batches; 8 bytes of signature per doc,
    * never text.
    */
  def simhashIndex(df: DataFrame, id: String, tokens: Column,
      maxHamming: Int = 3): DataFrame = shBanded(df, id, tokens, maxHamming)

  /** Incremental SimHash dedup: batch rows with NO doc at Hamming
    * distance ≤ maxHamming in the index or among smaller-`id` batch docs.
    * Pigeonhole banding is COMPLETE for the bound (any pair within it
    * shares an exact block), so — unlike the MinHash variant — nothing
    * inside the Hamming bound can slip through. The index must be built
    * with the same `maxHamming` (block geometry must match).
    */
  def simhashIncremental(batch: DataFrame, index: DataFrame, id: String,
      tokens: Column, maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    requireNoInternal(batch, Seq("_id"), allow = Set(id))
    val banded = boundedBuckets(shBanded(batch, id, tokens, maxHamming),
      Seq("_band", "_bucket"), maxBucket, "simhash_inc_batch")
    val idx = boundedBuckets(
      index.select(col("_band"), col("_bucket"), col("_sig").as("_isig")),
      Seq("_band", "_bucket"), maxBucket, "simhash_inc_index", cache = false)
    // one unified candidate join (see [[minhashIncremental]]): corpus
    // rows kill any batch doc (_rid null), batch rows kill larger ids
    val idType = batch.schema(id).dataType
    val right = idx.select(col("_band"), col("_bucket"), col("_isig"),
        lit(null).cast(idType).as("_rid"))
      .unionByName(banded.select(col("_band"), col("_bucket"),
        col("_sig").as("_isig"), col("_id").as("_rid")))
    val dropIds = banded.join(right, Seq("_band", "_bucket"))
      .filter((col("_rid").isNull || col("_rid") < col("_id")) &&
        bit_count(col("_sig").bitwiseXOR(col("_isig"))) <= maxHamming)
      .select(col("_id"))
    batch.join(dropIds, batch(id) === col("_id"), "left_anti")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    *
    * Pigeonhole banding: split the 64-bit signature into `maxHamming + 1`
    * blocks — any pair within the distance bound shares ≥1 exact block, so
    * block equality is the (complete) candidate generator; popcount of the
    * XOR verifies.
    */
  def simhash(df: DataFrame, id: String, tokens: Column, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    val banded = shBanded(df, id, tokens, maxHamming)
    val guarded =
      boundedBuckets(banded, Seq("_band", "_bucket"), maxBucket, "simhash_buckets")
    val a = guarded.select(col("_band"), col("_bucket"), col("_id").as("a"), col("_sig").as("sig_a"))
    val b = guarded.select(col("_band"), col("_bucket"), col("_id").as("b"), col("_sig").as("sig_b"))
    a.hint("merge").join(b, Seq("_band", "_bucket")).filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").dropDuplicates("a", "b")
  }

  /** Exact n-gram Jaccard similarity ≥ threshold via shared-shingle join:
    * explode distinct shingles, join on shingle, count co-occurrences —
    * |A∩B| per pair in one shuffle — then Jaccard from per-doc counts.
    * Only pairs sharing ≥1 shingle are ever materialized.
    *
    * `maxShingleFreq` drops shingles occurring in more than that many docs
    * (ubiquitous boilerplate n-grams generate quadratic pairs and carry
    * little dedup signal — the standard df-cut). When the cut fires, the
    * similarity is Jaccard over the SURVIVING shingle sets: per-doc counts
    * are computed after the cut so numerator and denominator stay
    * consistent.
    */
  def ngramJaccard(df: DataFrame, id: String, shingles: Column, threshold: Double,
      maxShingleFreq: Int = 1000): DataFrame =
    shingleCooccurrence(df, id, shingles, maxShingleFreq, "ngram_postings")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "common", "na", "nb", "jaccard")

  /** Asymmetric near-duplicate CONTAINMENT: pairs where the SMALLER
    * shingle set is ≥ `threshold` contained in the other —
    * C = |A∩B| / min(|A|,|B|). Catches what symmetric Jaccard
    * structurally cannot: a short document quoted inside a long one, a
    * boilerplate-wrapped copy, a chapter inside its book — J = |∩|/|∪|
    * stays LOW precisely because the container is big, while C is ~1.
    * The standard curation companion to [[ngramJaccard]] (quotation /
    * wrapper dedup).
    *
    * Output: (contained, container, common, n_contained, n_container,
    * containment) — `contained` is the smaller set (equal sizes: the
    * GREATER id, the deterministic keep-smallest-id rule). Same postings
    * machinery and df-cut as [[ngramJaccard]]; at 100 TB the scale shape
    * is identical (counts-only exchanges, bounded pair fan-out).
    */
  def containment(df: DataFrame, id: String, shingles: Column, threshold: Double,
      maxShingleFreq: Int = 1000): DataFrame = {
    val p = shingleCooccurrence(df, id, shingles, maxShingleFreq, "containment_postings")
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
    val aContained = col("na") < col("nb") ||
      (col("na") === col("nb") && col("a") > col("b"))
    p.select(
      when(aContained, col("a")).otherwise(col("b")).as("contained"),
      when(aContained, col("b")).otherwise(col("a")).as("container"),
      col("common"),
      when(aContained, col("na")).otherwise(col("nb")).as("n_contained"),
      when(aContained, col("nb")).otherwise(col("na")).as("n_container"),
      col("containment"))
  }

  /** Shared postings machinery for [[ngramJaccard]] / [[containment]]:
    * co-occurrence counts per doc pair sharing ≥1 surviving shingle —
    * (a, b, common, na, nb) with a < b, counts consistent with the
    * df-cut.
    */
  private def shingleCooccurrence(df: DataFrame, id: String, shingles: Column,
      maxShingleFreq: Int, observeName: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the postings pair-emitter is typed Dataset[Seq[Long]] — fail with a
    // clear contract instead of an opaque up-cast AnalysisException
    df.schema(id).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
      case t => throw new IllegalArgumentException(
        s"ngramJaccard id column '$id' must be integral (got $t); " +
          "hash string ids to int64 first (e.g. xxhash64)")
    }
    // NOT persisted: the counts pass and the anti-join probe each
    // recompute this narrow chain, but the shingle expressions are
    // one-pass codegen'd projections — measured at sf0.1, caching the
    // exploded frame cost MORE (cache fill + columnar read) than the
    // second pass it saves (dedup_ngram 1.5 s → 2.5 s with a cache here).
    val ex = df.select(col(id).as("_id"), explode(array_distinct(shingles)).as("_sh"))
    // Count-first df-cut: per-shingle counts partial-aggregate map-side
    // (a ubiquitous shingle costs one long per task, never an array), and
    // the over-bound shingles — at most |pairs|/maxShingleFreq keys —
    // broadcast into an anti-join, so collect_list only ever runs on
    // surviving shingles. Building the posting array first and filtering
    // after would materialize the COMPLETE doc-id array for a boilerplate
    // shingle appearing in 10^8 docs — a multi-GB single-group buffer the
    // df-cut exists to prevent. Dropped shingles are reported via observe,
    // same contract as the banded dedups.
    val overSh = ex.groupBy(col("_sh"))
      .agg(count(lit(1)).as("_df"))
      .observe(observeName,
        sum(when(col("_df") > maxShingleFreq, 1L).otherwise(0L)).as(s"${observeName}_dropped"))
      .filter(col("_df") > maxShingleFreq)
      .select(col("_sh"))
    val postings = graft.Caches.track(
      ex.join(broadcast(overSh), Seq("_sh"), "left_anti")
        .groupBy(col("_sh"))
        .agg(sort_array(collect_list(col("_id"))).as("_ids"))
        .select(col("_ids"))
        .persist())
    // per-doc surviving-shingle counts (consistent with `common`)
    val counts = postings.select(explode(col("_ids")).as("_id"))
      .groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    // co-occurrence: emit each posting's (a < b) pairs and count. A posting
    // of d docs emits d(d-1)/2 pairs — bounded by maxShingleFreq², and the
    // iterator streams (no per-group materialization).
    val pairs = postings.as[Seq[Long]]
      .flatMap { ids =>
        for { i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator }
          yield (ids(i), ids(j))
      }
      .toDF("a", "b")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val na = counts.withColumnsRenamed(Map("_id" -> "a", "_n" -> "na"))
    val nb = counts.withColumnsRenamed(Map("_id" -> "b", "_n" -> "nb"))
    pairs.join(na, "a").join(nb, "b")
      .select("a", "b", "common", "na", "nb")
  }

  /** Embedding near-dup pairs: cosine ≥ threshold, candidates bucketed by
    * random-hyperplane signature (so only vectors agreeing on all
    * `nPlanes` signs are compared — the scale path; raise nPlanes for
    * tighter buckets, add band rotations for higher recall).
    */
  def embeddingCosine(df: DataFrame, id: String, vec: Column, threshold: Double,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 7L,
      maxBucket: Int = 10000): DataFrame = {
    val ps = VectorFunctions.planes(seed, nPlanes, dim)
    val sigs = df.select(col(id).as("_id"), vec.cast("array<double>").as("_v"),
      VectorFunctions.hyperplaneSig(vec, ps).as("_bucket"))
    // cacheInput=false: the hyperplane signature is 8 dot products per
    // row — recomputing it for the guard's counts pass is cheaper than a
    // second full cache fill of the vectors (the r6 double-persist 4x'd
    // this operator vs r5)
    val guarded = boundedBuckets(sigs, Seq("_bucket"), maxBucket,
      "embedding_buckets", cacheInput = false)
    val a = guarded.select(col("_bucket"), col("_id").as("a"), col("_v").as("va"))
    val b = guarded.select(col("_bucket"), col("_id").as("b"), col("_v").as("vb"))
    a.hint("merge").join(b, "_bucket").filter(col("a") < col("b"))
      .withColumn("cosine", VectorFunctions.cosineFused(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine").dropDuplicates("a", "b")
  }

  /** Hyperplane-bucket index of an embedding corpus (companion to
    * [[fingerprintIndex]] / [[minhashIndex]] / [[simhashIndex]]): one row
    * per vector with its LSH bucket and the INT8-QUANTIZED vector —
    * ~d bytes instead of 8d, so a billion-vector index stays executor-
    * resident. Build and query must share (nPlanes, dim, seed).
    */
  def embeddingIndex(df: DataFrame, id: String, vec: Column,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 7L): DataFrame = {
    val ps = VectorFunctions.planes(seed, nPlanes, dim)
    VectorFunctions.quantizeInt8Col(
      df.select(col(id).as("_id"), vec.cast("array<double>").as("_v"),
        VectorFunctions.hyperplaneSig(vec, ps).as("_bucket")),
      col("_v"), "_q").drop("_v")
  }

  /** Incremental embedding-cosine dedup: batch rows with no vector of
    * cosine ≥ threshold in the index or among smaller-`id` batch rows.
    * Index vectors are dequantized inside the verification expression
    * (cosine error ~1e-3 — pick thresholds away from the decision
    * boundary by that margin). Same scale shape as the other
    * incrementals: bucket equi-joins with the maxBucket guard, corpus
    * text/floats never move — only buckets and int8 codes.
    */
  def embeddingIncremental(batch: DataFrame, index: DataFrame, id: String,
      vec: Column, threshold: Double, nPlanes: Int = 8, dim: Int = 64,
      seed: Long = 7L, maxBucket: Int = 10000): DataFrame = {
    requireNoInternal(batch, Seq("_id"), allow = Set(id))
    val ps = VectorFunctions.planes(seed, nPlanes, dim)
    val sigs = boundedBuckets(
      batch.select(col(id).as("_id"), vec.cast("array<double>").as("_v"),
        VectorFunctions.hyperplaneSig(vec, ps).as("_bucket")),
      Seq("_bucket"), maxBucket, "embedding_inc_batch")
    val idx = boundedBuckets(index.select(col("_bucket"), col("_q")),
      Seq("_bucket"), maxBucket, "embedding_inc_index", cache = false)
    // one unified candidate join (see [[minhashIncremental]]): corpus
    // rows carry int8 codes (_rv null), batch rows carry their doubles
    // (_q null) — only buckets, codes and batch vectors cross the
    // exchange; the coalesce dequantizes corpus codes inside the
    // verification filter, after the shuffle, exactly as before
    val idType = batch.schema(id).dataType
    val qType = index.schema("_q").dataType
    val right = idx.select(col("_bucket"), col("_q"),
        lit(null).cast("array<double>").as("_rv"),
        lit(null).cast(idType).as("_rid"))
      .unionByName(sigs.select(col("_bucket"),
        lit(null).cast(qType).as("_q"), col("_v").as("_rv"),
        col("_id").as("_rid")))
    val dropIds = sigs.join(right, "_bucket")
      .filter((col("_rid").isNull || col("_rid") < col("_id")) &&
        VectorFunctions.cosineFused(col("_v"),
          coalesce(VectorFunctions.dequantizeInt8(col("_q")), col("_rv")))
          >= threshold)
      .select(col("_id"))
    batch.join(dropIds, batch(id) === col("_id"), "left_anti")
  }

  /** Rows of the buckets that can form a pair in a SELF-join of `df` on
    * `keys`: buckets of 2 to `bound` rows. A singleton never pairs, so it
    * is dropped before anything is persisted, sorted or joined; over-bound
    * buckets are dropped and reported exactly as [[boundedBuckets]] does
    * (`<name>_dropped_rows`, `<name>_dropped_buckets`). A self-join of the
    * result yields the same pairs as a self-join of
    * `boundedBuckets(df, ...)`. `df` is read twice, by the counts pass and
    * by the row pick: it must be cheap to recompute.
    *
    * One counts pass (partial-aggregated, like the guard's) picks the
    * pairable keys; they are materialized first, so the semi-join that
    * picks their rows is planned on their measured size (a broadcast when
    * small: the rows then never cross an exchange), and the result is
    * filled eagerly for the same reason — its caller's self-join is
    * planned on the pairable rows' true size, and AQE can broadcast it.
    *
    * It pays where most rows are singletons: [[minhashCandidates]] at
    * pseudo-sf1, where 92% of the band rows sit in singleton buckets. The
    * other self-joins keep [[boundedBuckets]] and their `merge` hints,
    * because their buckets are rarely singletons and the two extra
    * materializations cost more than the pruning saves. At sf0.1 (4-core
    * host, `tools/bench_ab.sh`, 6 passes, median of per-pass ratios)
    * moving them here read: [[simhash]] 16% singleton rows, 1.58x
    * slower; [[embeddingCosine]] (at most 2^8 buckets) 0.2%, 1.10x;
    * `SemDedup.pairs` (k IVF cells) none, 1.35x; `FuzzyJoin.selfJoin`
    * 72% at d = 1, 0.98x, and none at d = 2, 1.06x. The two-sided
    * callers never prune: in the incremental dedups and `EntityLink` a
    * bucket with one member on one side can still match the other side,
    * and `ItemSim` counts every user's items, singleton buckets included.
    */
  private[graft] def pairableBuckets(df: DataFrame, keys: Seq[String], bound: Int,
      name: String): DataFrame = {
    val size = col("_bucket_size")
    val pairable = graft.Caches.track(bucketSizes(df, keys, bound, name)
      .filter(size >= 2 && size <= bound)
      .select(keys.map(col): _*)
      .persist())
    pairable.count()
    val out = graft.Caches.track(df.join(pairable, keys, "left_semi").persist())
    out.count()
    out
  }

  /** Per-bucket row counts of `df` (`keys` + `_bucket_size`), with the
    * rows and buckets over `bound` reported as observe metrics
    * `<name>_dropped_rows` and `<name>_dropped_buckets`.
    */
  private def bucketSizes(df: DataFrame, keys: Seq[String], bound: Int,
      name: String): DataFrame = {
    val over = col("_bucket_size") > bound
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bucket_size"))
      .observe(name,
        sum(when(over, col("_bucket_size")).otherwise(0L))
          .as(s"${name}_dropped_rows"),
        sum(when(over, 1L).otherwise(0L)).as(s"${name}_dropped_buckets"))
  }

  /** Drop buckets with more than `bound` members; the number of ROWS in
    * dropped buckets is emitted as an observe metric named
    * `<name>_dropped_rows` (plus `<name>_dropped_buckets` for the distinct
    * bucket count) so oversize buckets are visible, not silent. For the
    * MinHash self-join, [[pairableBuckets]] also drops the singletons.
    */
  private[graft] def boundedBuckets(df: DataFrame, keys: Seq[String], bound: Int,
      name: String, cache: Boolean = true, cacheInput: Boolean = true): DataFrame = {
    val kcols = keys.map(col)
    // Shuffle COUNTS, not rows: per-bucket sizes partial-aggregate
    // map-side (8-byte keys + longs cross the exchange), and the
    // over-bound keys — at most |rows|/bound by construction — broadcast
    // into an anti-join, so rows of a pathological bucket never travel.
    // The previous form (count(*) over a per-bucket window) routed every
    // row of the hot bucket through ONE task's window buffer before the
    // filter dropped it — surviving only by spilling, at the exact scale
    // the guard exists for.
    //
    // With `cache` (default), up to TWO frames are persisted HERE, not by
    // callers:
    // - the input (`cacheInput`, default true): the counts side and the
    //   anti-join probe read one materialization of the possibly-expensive
    //   banding computation, and — critically — the cache boundary is an
    //   optimizer leaf, so PushDownLeftSemiAntiJoin cannot push the
    //   guard's anti-join below a Union inside `df` (measured: that
    //   rewrite clones the whole counts subtree, broadcast build and all,
    //   into EVERY union branch — a quadratic plan blow-up on unioned
    //   batches). Pass cacheInput=false when the banding is cheap to
    //   recompute (e.g. hyperplane signs: 8 dot products per row) and the
    //   input holds no Union — the counts pass then re-runs the banding
    //   once instead of paying a second full cache fill (the r6
    //   double-persist 4x'd dedup_embedding vs r5);
    // - the guarded OUTPUT: every consumer of this frame (the callers
    //   all self-join it, referencing it twice) reads one run of the
    //   counts + broadcast-anti-join subtree instead of re-executing it
    //   per reference (measured at sf0.1: output-cache removal tripled
    //   dedup_embedding and dedup_*_incremental — the r5→r6 guard
    //   rewrite's one regression).
    // Pass cache=false for single-consumer, union-free inputs where
    // materializing would cost more than a second pass — e.g. a banded
    // INDEX, whose per-band signature duplication makes the cache ~16x
    // the source data.
    val cached =
      if (cache && cacheInput) graft.Caches.track(df.persist()) else df
    val overKeys = bucketSizes(cached, keys, bound, name)
      .filter(col("_bucket_size") > bound)
      .select(kcols: _*)
    val guarded = cached.join(broadcast(overKeys), keys, "left_anti")
    // EAGER FILL of the *expensive* subtree only. Every caller self-joins
    // the guarded frame, and AQE materializes the join's exchanges
    // CONCURRENTLY — left lazy, the banding subtree is then computed once
    // per concurrent consumer (first fill wins, the others redundantly
    // re-run it; same stampede triangleCount documents on its
    // oriented-edge cache). At sf0.1 the duplicate runs cost milliseconds
    // and hid; at the 10x probe the stage dump showed the 8.5 GB banding
    // subtree executed SIX times and the candidate join re-paid three
    // 13.6 GB shuffle reads.
    //
    // What to fill differs by path (the r11 form — eager count() of the
    // guarded OUTPUT — serialized the fill but paid a second full
    // materialization job per query; at sf0.1 that 3x'd dedup_minhash /
    // dedup_simhash for zero benefit, since the work it fronted was work
    // the first consumer fused into its own action anyway):
    // - cacheInput: one count() of the INPUT cache serializes exactly the
    //   expensive banding compute; the guarded output still persists
    //   LAZILY — a concurrent first-consumer fill of it now re-runs only
    //   an in-memory scan + broadcast anti-join (block-level cache locks
    //   serialize per-partition computes within an executor), never the
    //   banding.
    // - !cacheInput (banding cheap to recompute, e.g. hyperplane signs):
    //   the output cache is the ONLY materialization, so it is the frame
    //   whose lazy fill would stampede the recompute — fill it eagerly.
    if (cache && cacheInput) {
      cached.count()
      graft.Caches.track(guarded.persist())
    } else if (cache) {
      val out = graft.Caches.track(guarded.persist())
      out.count()
      out
    } else guarded
  }
}
