package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.{table, tableSpread}
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.model.Document
import graft.operators.{Packing, Sampling}
import graft.similarity.Ann

/** LLM-training-data-pipeline operators over the documents / embeddings
  * fixtures: text analysis, the dedup family, similarity search, and the
  * multimodal (binary column) plumbing. These extend the reference's
  * surface (SURVEY.md §2 "north-star extensions").
  *
  * Oracles exist for everything expressible in DuckDB SQL (token counts,
  * language ID, quality buckets, exact dedup, exact n-gram Jaccard, exact
  * ANN); sketch-based ops (MinHash/SimHash/LSH buckets, winnowing) have no
  * SQL equivalent → rows-only checks, with determinism pinned by fixed
  * seeds and ScalaTest specs instead.
  */
object NorthStarQueries {

  /** doc_id < bound as the query set for ANN (small, broadcastable). */
  private val AnnQueries = 10
  private val AnnK = 5

  /** Size threshold for `bitext_mine`: measured corpus rows at or above
    * this switch the query from the exact brute-force arm to the
    * IVF-pruned one. The arm changes RESULTS (IVF forward recall is
    * approximate), so the threshold sits ABOVE every oracle-checked
    * fixture (sf0.001–sf0.1 all run the exact arm and replay the
    * exact-ranking oracle at any of them) and engages only at the pseudo
    * scales: the SECOND measured decade (pseudo-sf1 → sf10) is
    * IVF-to-IVF, while the first crosses the arm transition and is read
    * as such.
    */
  private[graft] val BitextIvfMinCorpusRows = 20000L

  /** The shared bitext fixture — ONE definition for `bitext_mine` and
    * `bitext_mine_incremental` (they share [[bitextCentroids]] and the
    * oracle SQL verbatim, so a fixture drift between them would poison
    * both): label-0 vec_id < 2000 is the source batch; the corpus is
    * label-1 plus a ×2-scaled translation twin of each source
    * vec_id < 100 at +9e11 (above the largest strided pseudo-scale id).
    */
  private def bitextFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = tableSpread(s, dir, "embeddings")
    val src = emb.filter(col("label") === 0 && col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding"))
    val plants = src.filter(col("vec_id") < 100)
      .select((col("vec_id") + 900000000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val tgt = emb.filter(col("label") === 1).select(col("vec_id"), col("embedding"))
      .unionByName(plants)
    (src, tgt)
  }

  /** Centroids trained once per (data dir, session) and reused across
    * executions — the production shape (a corpus version trains its IVF
    * once; every ingest batch mines against it), and the same
    * keyed-by-(tag, dir, applicationId) discipline as [[persistedIndex]].
    * Training is deterministic (seeded hash init over a sorted-id
    * sample), so memoization cannot change results, only skip the
    * retrain.
    */
  private val centroidMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def bitextCentroids(s: SparkSession, dir: String,
      tgt: DataFrame): Array[Array[Double]] =
    memoCentroids(s, "bitext", dir, tgt)

  /** [[bitextCentroids]]' memo generalized to the other queries whose
    * documented shape is "probe an EXISTING index" (`stream_ann_topk`,
    * `ann_ivf_incremental`): their cell index is already write-once via
    * [[persistedIndex]], but the centroids it was built from retrained
    * on every execution — one TakeOrdered job plus a driver k-means per
    * run that the production ingest loop does not pay. Deterministic
    * (seeded hash init over a sorted-id sample), so memoization cannot
    * change results, only skip the retrain. One-shot index BUILD
    * queries (`ann_ivf`, `ann_ivf_int8`, `semdedup`, `cluster_prune`)
    * keep per-run training: there the build IS the measured operator.
    */
  private def memoCentroids(s: SparkSession, tag: String, dir: String,
      corpus: DataFrame, nCells: Int = 16): Array[Array[Double]] =
    // nCells is part of the key: a tag reused with a different cell count
    // must retrain, not alias the other shape's centroids
    centroidMemo.computeIfAbsent(s"$tag|$nCells|$dir|${s.sparkContext.applicationId}",
      _ => graft.similarity.Ivf.trainCentroids(corpus, "vec_id", "embedding", nCells))

  /** The synthesized multi-line boilerplate page shared by
    * `boilerplate_strip` / `_incremental` / `stream_boilerplate` — ONE
    * definition (plus its SQL twin [[boilerplateMtextSql]]) because the
    * incremental and stream queries share the SAME persisted index
    * ([[persistedIndex]] tag "lines"): a recipe drift between them would
    * make whichever runs second silently filter against the other's
    * index.
    */
  private def boilerplateMtext: org.apache.spark.sql.Column = concat_ws("\n",
    lit("home | about | contact"),
    concat(lit("source: "), col("source")),
    col("text"),
    when(col("doc_id") % 3 === 0, concat(lit("lang "), col("lang")))
      .otherwise(concat(lit("doc "), col("doc_id").cast("string"))),
    lit("(c) example corp 2026"))

  /** DuckDB twin of [[boilerplateMtext]]: the `base`+`t`+`l` CTE prefix
    * (per-doc mtext, its line list, and the exploded (doc_id, idx, line)
    * rows) shared by the three boilerplate oracles.
    */
  private val boilerplateMtextSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |         'home | about | contact' || chr(10) ||
      |         'source: ' || source || chr(10) ||
      |         text || chr(10) ||
      |         (CASE WHEN doc_id % 3 = 0 THEN 'lang ' || lang
      |               ELSE 'doc ' || doc_id END) || chr(10) ||
      |         '(c) example corp 2026' AS mtext
      |  FROM documents
      |), t AS (
      |  SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM base
      |), l AS (
      |  SELECT doc_id, i AS idx, ls[i + 1] AS line
      |  FROM t, UNNEST(range(0, len(ls))) AS u(i)
      |)""".stripMargin

  /** DuckDB replay of [[graft.functions.UrlCanonicalize]]'s full rule
    * chain, as the CTE bodies `q…g` over an input CTE exposing
    * (doc_id[, carry…], raw); `g` exposes (doc_id[, carry…], host, cu).
    * ONE definition feeds both URL oracles (url_canonicalize,
    * host_stats) so a rule change cannot drift between them.
    */
  private def urlCanonCtes(input: String, carry: Seq[String]): String = {
    val c = carry.map(", " + _).mkString
    s"""q AS (
       |  SELECT doc_id$c,
       |    split_part(split_part(raw, '#', 1), '?', 1) AS base,
       |    CASE WHEN len(split_part(raw, '#', 1)) > len(split_part(split_part(raw, '#', 1), '?', 1))
       |         THEN substr(split_part(raw, '#', 1), len(split_part(split_part(raw, '#', 1), '?', 1)) + 2)
       |         ELSE '' END AS qs
       |  FROM $input
       |), r AS (
       |  SELECT doc_id$c, qs,
       |    lower(split_part(base, '://', 1)) AS scheme,
       |    substr(base, len(split_part(base, '://', 1)) + 4) AS rest
       |  FROM q
       |), h AS (
       |  SELECT doc_id$c, qs, scheme,
       |    split_part(rest, '/', 1) AS hostport,
       |    substr(rest, len(split_part(rest, '/', 1)) + 1) AS path0
       |  FROM r
       |), d AS (
       |  SELECT doc_id$c, qs, scheme, path0,
       |    lower(split_part(hostport, ':', 1)) AS host0,
       |    CASE WHEN len(hostport) > len(split_part(hostport, ':', 1))
       |         THEN substr(hostport, len(split_part(hostport, ':', 1)) + 2) ELSE '' END AS port
       |  FROM h
       |), f AS (
       |  SELECT doc_id$c, scheme, port,
       |    CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5) ELSE host0 END AS host,
       |    CASE WHEN path0 = '' THEN '/'
       |         WHEN path0 <> '/' AND path0 LIKE '%/' THEN substr(path0, 1, len(path0) - 1)
       |         ELSE path0 END AS path,
       |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
       |      x -> x <> '' AND NOT starts_with(x, 'utm_')
       |        AND NOT starts_with(x, 'fbclid=') AND NOT starts_with(x, 'gclid='))), '&') AS params
       |  FROM d
       |), g AS (
       |  SELECT doc_id$c, host,
       |    scheme || '://' || host ||
       |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
       |              AND NOT (scheme = 'https' AND port = '443')
       |         THEN ':' || port ELSE '' END ||
       |    path || CASE WHEN params <> '' THEN '?' || params ELSE '' END AS cu
       |  FROM f
       |)""".stripMargin
  }

  /** DuckDB replay of the blocklist fixture (canonicalization chain +
    * label-suffix membership) — shared verbatim by `url_blocklist` and
    * `stream_url_blocklist`: the broadcast hash-probe path must be
    * semantics-identical to the distributed join path.
    */
  private val urlBlocklistSql: String = {
    val chain = urlCanonCtes("u", Seq())
    s"""WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END) ||
      |    source || '.Example.COM' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END) ||
      |    '/' || lang || '/page/' || (doc_id % 50) AS raw
      |  FROM documents
      |), $chain, bl AS (
      |  SELECT * FROM (VALUES ('src3.example.com'), ('cdn.src7.example.com')) b(pattern)
      |), sfx AS (
      |  SELECT doc_id, array_to_string(ls[i:], '.') AS sfx
      |  FROM (SELECT doc_id, string_split(host, '.') AS ls FROM g),
      |       UNNEST(range(1, len(ls) + 1)) u2(i)
      |), blocked AS (
      |  SELECT DISTINCT doc_id FROM sfx JOIN bl ON sfx.sfx = bl.pattern
      |)
      |SELECT g.doc_id, g.host FROM g
      |WHERE g.doc_id NOT IN (SELECT doc_id FROM blocked)""".stripMargin
  }

  /** Persist a dedup index to parquet and read it back — the PRODUCTION
    * shape of incremental dedup (the index lives on disk between
    * ingestion batches by definition). Beyond fidelity, it matters for
    * the plan: the guard's count pass over a parquet-backed index
    * column-prunes to the bucket keys (16 B/row), whereas an inline
    * index subtree would recompute the full signature chain per pass.
    */
  private val writtenIndexes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[queries] def persistedIndex(s: SparkSession, dir: String,
      index: DataFrame, tag: String): DataFrame = {
    // keyed by (tag, DATA DIR, applicationId): a session running the same
    // query against a second sfDir must rebuild, not reuse the first
    // dir's stale on-disk index
    val dirKey = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir))
    val p = s"${sys.props("java.io.tmpdir")}/graft_index_${tag}_${dirKey}_${s.sparkContext.applicationId}"
    // write-once per JVM: the index lives on disk BETWEEN ingestion
    // batches by definition, so re-running an incremental query (bench
    // reruns, a long-lived ingest driver) must pay the index READ, not a
    // rebuild — rebuilding per run measured index CONSTRUCTION, which the
    // batch dedup variants already measure
    if (writtenIndexes.add(p)) index.write.mode("overwrite").parquet(p)
    s.read.parquet(p)
  }

  /** Recall@k of an approximate ANN result against the exact bruteforce
    * baseline, as one oracle-checkable row: (n_queries, n_relevant,
    * recall_ok). The counts are derivable in DuckDB; recall_ok folds the
    * (seed-deterministic but engine-specific) hit count into a floor
    * boolean — a recall regression flips it and fails the hash compare.
    */
  private def recallSummary(s: SparkSession, dir: String, approx: DataFrame,
      floor: Double): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val exact = Ann.bruteForce(
      queries = emb.filter(col("vec_id") < AnnQueries), corpus = emb,
      qId = "vec_id", qVec = "embedding", cId = "vec_id", cVec = "embedding",
      k = AnnK)
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("_hit")),
        Seq("query_id", "neighbor_id"), "left_outer")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_relevant"),
        (sum(coalesce(col("_hit"), lit(0))) >= count(lit(1)) * lit(floor)).as("recall_ok"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- text analysis ---------------------------------------------------
    "text_tokens" -> { (s, dir) =>
      tableSpread(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""), lit(0))).as("n_bpe_tokens"))
    },

    "text_langid" -> { (s, dir) =>
      tableSpread(s, dir, "documents")
        .select(col("doc_id"), langId(col("text")).as("pred_lang"))
    },

    "text_quality" -> { (s, dir) =>
      tableSpread(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len"),
        tokenCount(col("text")).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        qualityBucket(col("text")).as("bucket"))
    },

    "text_fingerprint" -> { (s, dir) =>
      // DuckDB has no xxhash64, so the check is the winnowing containment
      // invariant instead of a value compare: fingerprints of a text
      // PREFIX are minima over a subset of the original's n-gram hashes,
      // so every one of them must appear in the original's hash set. A
      // broken hash, window, or dedup step breaks containment; the oracle
      // pins the planted-prefix count and that all of them are contained.
      val docs = tableSpread(s, dir, "documents")
      val origSets = docs
        .select(col("doc_id"), array_distinct(ngramHashes(col("text"))).as("hs"))
      val prefixFps = docs
        .filter(col("doc_id") < 60 && length(col("text")) >= 40)
        .select(col("doc_id"),
          col("text").substr(lit(1), length(col("text")) - 10).as("ptext"))
        .withColumn("_hs", ngramHashes(col("ptext")))
        .select(col("doc_id"), winnowFromHashes(col("_hs")).as("fps"))
      prefixFps.join(origSets, "doc_id")
        .select(col("doc_id"),
          (size(col("fps")) > 0 && size(array_except(col("fps"), col("hs"))) === 0)
            .as("contained"))
        .agg(count(lit(1)).as("n_planted"),
          sum(when(col("contained"), 1L).otherwise(0L)).as("n_contained"))
    },

    /** PII scrub: redact email addresses, report per-doc counts. The
      * fixture has no PII, so deterministic addresses are planted in the
      * query (both engines reproduce the construction) — redaction then
      * has non-vacuous counts the oracle recomputes exactly. The regex
      * stays in the common Java/RE2 subset so Spark and DuckDB agree.
      */
    "text_redact" -> { (s, dir) =>
      tableSpread(s, dir, "documents")
        .withColumn("_t",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          TextFunctions.emailCount(col("_t")).as("n_emails"),
          length(TextFunctions.redactEmails(col("_t"))).as("redacted_len"))
    },

    /** Multi-family PII scrub ([[TextFunctions.redactPii]] — email + IPv4
      * + phone, the Dolma/CCNet release-gating families, vs text_redact's
      * email-only pass): each doc gets a deterministic plant keyed off
      * doc_id mod 5 (one family, a mixed doc with two, or clean), and the
      * oracle replays the SAME three-pattern replacement chain in DuckDB
      * — byte equality of the scrubbed text checks patterns, chain order,
      * and the per-family counts at once.
      */
    "text_pii" -> { (s, dir) =>
      val id = col("doc_id")
      val t = when(id % 5 === 0,
          concat(col("text"), lit(" reach user"), id.cast("string"),
            lit("@example.com now")))
        .when(id % 5 === 1,
          concat(lit("from 10."), (id % 250).cast("string"), lit(".0."),
            (id % 200).cast("string"), lit(" "), col("text")))
        .when(id % 5 === 2,
          concat(col("text"), lit(" call +12 555-01"),
            lpad((id % 100).cast("string"), 2, "0")))
        .when(id % 5 === 3,
          concat(lit("mix 192.168.1.1 and a@b.io "), col("text")))
        .otherwise(col("text"))
      tableSpread(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(t, lit(TextFunctions.emailPattern), lit(0))).as("n_emails"),
        size(regexp_extract_all(t, lit(TextFunctions.ipv4Pattern), lit(0))).as("n_ips"),
        size(regexp_extract_all(t, lit(TextFunctions.phonePattern), lit(0))).as("n_phones"),
        TextFunctions.redactPii(t).as("clean"))
    },

    /** URL canonicalization ([[graft.functions.UrlFunctions]]): every doc
      * gets a deterministically MESSY url (scheme/host case, www, default
      * port, tracking params, unsorted params, fragment, trailing slash —
      * shape keyed off doc_id so all rules fire across the corpus) plus an
      * independently-messy VARIANT of the same logical page; both engines
      * canonicalize both through their own full pipelines and must agree
      * on the canonical string, the host, and that the pair COLLAPSED —
      * the property URL-keyed dedup depends on. Pure codegen'd string
      * algebra per row; nothing crosses an exchange.
      */
    "url_canonicalize" -> { (s, dir) =>
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
        when(id % 3 === 0, "WWW.").otherwise(""),
        col("source"), lit(".Example.COM"),
        when(id % 2 === 0, ":80").when(id % 5 === 1, ":8443").otherwise(""),
        lit("/"), col("lang"), lit("/Doc/"), id.cast("string"),
        when(id % 4 === 0, "/")
          .when(id % 4 === 1, "?utm_source=feed&b=2&a=1")
          .when(id % 4 === 2, "?z=9&utm_campaign=x&a=1#frag")
          .otherwise("#top"))
      val variant = concat(
        when(id % 2 === 0, "http").otherwise("https"), lit("://"),
        col("source"), lit(".example.com"),
        when(id % 2 =!= 0 && id % 5 === 1, ":8443").otherwise(""),
        lit("/"), col("lang"), lit("/Doc/"), id.cast("string"),
        when(id % 4 === 1, "?b=2&a=1&gclid=g1")
          .when(id % 4 === 2, "?a=1&z=9#other").otherwise(""))
      val cu = graft.functions.UrlFunctions.canonicalizeUrl(url)
      tableSpread(s, dir, "documents").select(col("doc_id"), cu.as("canonical_url"),
        graft.functions.UrlFunctions.canonicalHost(cu).as("host"),
        (cu === graft.functions.UrlFunctions.canonicalizeUrl(variant)).as("collapsed"))
    },

    /** Host-level crawl aggregation — the per-domain rollup every crawl
      * curation loop runs (politeness budgets, domain quality scores,
      * spam-host blocklists): canonicalize each doc's URL, key by the
      * canonical host, count docs vs distinct canonical PAGES (many raw
      * URLs collapse to one page — path is bucketed by doc_id % 50, so
      * the collapse is real and the distinct count is what proves the
      * canonical keying). Per-row codegen'd canonicalization + one
      * partial-aggregated shuffle on the host key; distinct counts
      * expand map-side, never a second pass over the input.
      */
    "host_stats" -> { (s, dir) =>
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
        when(id % 3 === 0, "WWW.").otherwise(""),
        col("source"), lit(".Example.COM"),
        when(id % 2 === 0, ":80").otherwise(""),
        lit("/"), col("lang"), lit("/page/"), (id % 50).cast("string"),
        when(id % 4 === 0, "/")
          .when(id % 4 === 1, "?utm_source=feed&b=2&a=1")
          .otherwise(""))
      val cu = graft.functions.UrlFunctions.canonicalizeUrl(url)
      tableSpread(s, dir, "documents")
        .select(graft.functions.UrlFunctions.canonicalHost(cu).as("host"),
          cu.as("_cu"), col("lang"), col("n_chars"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("_cu")).as("n_pages"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_chars"))
    },

    /** Domain-blocklist filtering ([[graft.operators.Blocklist]] — the
      * UT1-style curation gate right after canonicalization): an entry
      * blocks its host AND every subdomain, so membership is a match on
      * any label-boundary SUFFIX of the host. The fixture plants both
      * match modes: `src3.example.com` blocks the bare host and its
      * `cdn.` subdomain variant (hierarchy), `cdn.src7.example.com`
      * blocks only the cdn variant (exact). Suffix explosion carries
      * (id, suffix) only; the dimension-sized blocklist and the blocked
      * id set both ride AQE broadcasts — document payloads cross no
      * exchange.
      */
    "url_blocklist" -> { (s, dir) =>
      import s.implicits._
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
        when(id % 3 === 0, "WWW.").otherwise(""),
        when(id % 5 === 0, "cdn.").otherwise(""),
        col("source"), lit(".Example.COM"),
        when(id % 2 === 0, ":80").otherwise(""),
        lit("/"), col("lang"), lit("/page/"), (id % 50).cast("string"))
      val cu = graft.functions.UrlFunctions.canonicalizeUrl(url)
      val docs = tableSpread(s, dir, "documents")
        .select(col("doc_id"), graft.functions.UrlFunctions.canonicalHost(cu).as("host"))
      val blocklist = Seq("src3.example.com", "cdn.src7.example.com").toDF("pattern")
      graft.operators.Blocklist.filterBlocked(docs, "doc_id", col("host"), blocklist)
    },

    /** Streaming domain-blocklist filtering ([[graft.operators.Blocklist
      * .filterBlockedBroadcast]] — the crawl-firehose twin of
      * `url_blocklist`, same fixture, same oracle semantics): the
      * blocklist is collected under a fail-fast row bound, hashed to a
      * sorted 16-B-per-pattern index, broadcast once, and every
      * streamed document's host suffixes are probed by one codegen'd
      * binary-search expression ([[graft.functions.AnyHashInIndex]]) —
      * no explode, no join, no state, no exchange on the stream side.
      */
    "stream_url_blocklist" -> { (s, dir) =>
      import s.implicits._
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
        when(id % 3 === 0, "WWW.").otherwise(""),
        when(id % 5 === 0, "cdn.").otherwise(""),
        col("source"), lit(".Example.COM"),
        when(id % 2 === 0, ":80").otherwise(""),
        lit("/"), col("lang"), lit("/page/"), (id % 50).cast("string"))
      val cu = graft.functions.UrlFunctions.canonicalizeUrl(url)
      val blocklist = Seq("src3.example.com", "cdn.src7.example.com").toDF("pattern")
      val stream = graft.streaming.StreamOps
        .parquetStream(s, s"$dir/documents.parquet")
        .select(col("doc_id"), graft.functions.UrlFunctions.canonicalHost(cu).as("host"))
      val kept = graft.operators.Blocklist.filterBlockedBroadcast(
        stream, col("host"), blocklist)
      graft.streaming.StreamOps.drainToBatch(kept, outputMode = "append")
    },

    /** Boilerplate-line removal ([[Dedup.stripFrequentLines]] — the
      * C4/CCNet corpus-frequency filter, distinct from dedup_paragraph's
      * keep-first dedup): every doc gets a synthesized multi-line page —
      * two global boilerplate lines (every doc), a per-source line
      * (corpus_size/20 docs), the doc's own text, and a per-lang-or-unique
      * line — and lines present in ≥ 10 distinct docs must vanish from
      * every document while the rest reassemble in order. The oracle
      * recomputes the frequency table and the reassembly; byte equality
      * of clean_text proves threshold, removal, and ordering at once.
      */
    "boilerplate_strip" -> { (s, dir) =>
      Dedup.stripFrequentLines(tableSpread(s, dir, "documents"),
        "doc_id", boilerplateMtext, sep = "\n", minDocs = 10)
    },

    /** Incremental boilerplate removal — the PRODUCTION shape of the
      * corpus-frequency filter (CCNet computes the frequency table once
      * over the corpus, then every ingestion batch filters against it):
      * the hot-line index ([[Dedup.lineIndex]] — 16 bytes per hot line,
      * parquet-persisted between batches via [[persistedIndex]]) is built
      * from docs < 400; the batch (docs ≥ 400, same multi-line recipe)
      * strips ONLY against the index, never re-scanning the corpus. The
      * global/per-source/per-lang boilerplate lines are all above the
      * corpus threshold, so they must vanish from every batch doc while
      * batch-only lines survive — even ones frequent WITHIN the batch,
      * which is what distinguishes index-filtering from the batch op.
      */
    "boilerplate_strip_incremental" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
      val idx = persistedIndex(s, dir,
        Dedup.lineIndex(docs.filter(col("doc_id") < 400), "doc_id", boilerplateMtext,
          minDocs = 10), "lines")
      Dedup.stripLinesIndexed(docs.filter(col("doc_id") >= 400), idx,
        "doc_id", boilerplateMtext)
    },

    /** Streaming boilerplate removal — the ONLINE-ingest twin of
      * `boilerplate_strip_incremental`, same parquet-persisted hot-line
      * index, same oracle semantics: documents arrive as a file stream
      * and each one is cleaned in place by a single codegen'd pass
      * ([[Dedup.stripLinesBroadcast]] / StripLinesByHash) against the
      * index folded to one broadcast row. No explode, no join state, no
      * stateful aggregation — the filter table rides to every task once,
      * which is the only shape that holds when the stream never ends.
      */
    "stream_boilerplate" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val idx = persistedIndex(s, dir,
        Dedup.lineIndex(docs.filter(col("doc_id") < 400), "doc_id", boilerplateMtext,
          minDocs = 10), "lines")
      val stream = graft.streaming.StreamOps
        .parquetStream(s, s"$dir/documents.parquet")
        .filter(col("doc_id") >= 400)
      val cleaned = Dedup.stripLinesBroadcast(stream, idx, "doc_id", boilerplateMtext)
      graft.streaming.StreamOps.drainToBatch(cleaned, outputMode = "append")
    },

    /** Canonical text normalization ([[TextFunctions.normalizeText]] —
      * NFC + lowercase + whitespace collapse, the step before any content
      * hash in a multilingual corpus): ids 0/1 mod 4 get the SAME logical
      * prefix in decomposed-cased-double-spaced vs precomposed-lowercase
      * form (both must normalize to identical bytes — the property
      * normalized dedup keying depends on), id 2 mod 4 gets trailing
      * newlines + an uppercase precomposed É, id 3 mod 4 is untouched
      * (already-normal text must come back unchanged). Differential vs
      * DuckDB's own nfc_normalize/lower/regexp pipeline.
      */
    "text_normalize" -> { (s, dir) =>
      val id = col("doc_id")
      // case 0 carries NBSP (U+00A0) and ideographic space (U+3000):
      // Unicode whitespace must collapse exactly like ASCII space \u2014 the
      // CCNet-style property the round-12 ASCII-only class missed
      val m = when(id % 4 === 0,
          concat(lit("  Cafe\u0301 \u00a0MENU\t\u3000"), col("text")))
        .when(id % 4 === 1, concat(lit("caf\u00e9 menu "), col("text"), lit(" ")))
        .when(id % 4 === 2, concat(col("text"), lit("\n\nEND\u00c9")))
        .otherwise(col("text"))
      val norm = TextFunctions.normalizeText(m)
      tableSpread(s, dir, "documents").select(col("doc_id"),
        norm.as("norm_text"), (norm === m).as("unchanged"))
    },

    /** Repetition-ratio quality signal (Gopher/C4-style): the most frequent
      * token's share of the document ([[TextFunctions.repetitionStats]] —
      * two partial-aggregated shuffles; counts only cross the exchange).
      */
    "text_repetition" -> { (s, dir) =>
      TextFunctions.repetitionStats(
        tableSpread(s, dir, "documents"), Seq("doc_id"), col("text"))
        .withColumn("repetitive", col("top_tf") * 10 > col("n_tokens") * 3)
    },

    /** The whole text surface through `spark.sql` with the functions
      * the session profile installs ([[graft.GraftExtensions]]) — proves the SQL API is
      * the same engine as the Column API (same one-pass expressions, same
      * results) through the external-oracle gate, not just a spec.
      */
    "sql_text_pipeline" -> { (s, dir) =>
      tableSpread(s, dir, "documents").createOrReplaceTempView("graft_sql_docs")
      s.sql("""SELECT doc_id,
              |       token_count(text) AS n_tokens,
              |       lang_id(text) AS pred_lang,
              |       quality_bucket(text) AS bucket,
              |       punct_count(text) AS n_punct,
              |       email_count(text) AS n_emails,
              |       length(redact_emails(text, '<PII>')) AS redacted_len,
              |       size(char_ngrams(text, 3)) AS n_trigrams
              |FROM graft_sql_docs""".stripMargin)
    },

    // ---- deduplication ---------------------------------------------------
    "dedup_exact" -> { (s, dir) =>
      // fingerprint-keyed: the oracle groups by text; results agree up to
      // 128-bit hash collisions (none at any realistic corpus size)
      Dedup.exactFingerprint(tableSpread(s, dir, "documents"), on = Seq("text"), id = "doc_id")
        .select(col("keep_id"), col("n_dups"))
    },

    /** Paragraph-granularity dedup ([[Dedup.paragraphDedup]]): the corpus
      * plus planted full copies (ids shifted by 100000, so originals win
      * every keep-first race); copies must vanish entirely and every
      * surviving document is reassembled from its first-occurrence
      * 10-token chunks. The oracle recomputes the chunking, the global
      * keep-first, and the reassembly — byte equality of the rebuilt
      * text proves the whole pipeline.
      */
    "dedup_paragraph" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionAll(docs.filter(col("doc_id") < 80)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Dedup.paragraphDedup(
          all.withColumn("_toks", TextFunctions.tokens(col("text"))),
          "doc_id", col("_toks"), width = 10)
        .select(col("doc_id"), col("text"), col("n_chunks_kept"))
    },

    /** Incremental ingestion dedup: batch = the tail of the corpus plus
      * planted collisions — copies of corpus texts (must be dropped
      * against the index) and copies of batch texts (must be dropped
      * within the batch, keeping the smallest id). The corpus side
      * participates only as its 16-byte fingerprint index.
      */
    "dedup_incremental" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
        .unionAll(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") >= 400 && col("doc_id") < 420)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      Dedup.exactIncremental(batch,
          Dedup.fingerprintIndex(corpus, Seq("text")), Seq("text"), "doc_id")
        .select(col("doc_id"))
    },

    "dedup_minhash" -> { (s, dir) =>
      // planted-recall verification (the fixture has no true near-dups):
      // docs with >= 50 tokens get a copy at id+1e6 with the last two
      // tokens dropped — 3-shingle Jaccard >= (m-4)/(m-2) ~ 0.96, which
      // the 16x8 banding recalls with P(miss) ~ 3e-9 and the signature
      // estimate clears 0.5 with overwhelming margin. The contract is
      // n_recalled == n_planted; the DuckDB oracle recomputes n_planted.
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      val planted = docs.filter(col("doc_id") < 60 && size(col("_toks")) >= 50)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          slice(col("_toks"), lit(1), size(col("_toks")) - 2).as("_toks"))
      val all = docs.select("doc_id", "_toks").unionByName(planted)
      val pairs = Dedup.minhash(all, id = "doc_id",
        shingles = shinglesOf(col("_toks"), 3), threshold = 0.5)
      planted.select((col("doc_id") - 1000000L).as("a"), col("doc_id").as("b"))
        .join(pairs.select(col("a"), col("b"), lit(1).as("_hit")), Seq("a", "b"), "left_outer")
        .agg(count(lit(1)).as("n_planted"),
          sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_recalled"))
    },

    /** Incremental NEAR-dup dedup: corpus (doc_id < 400) participates
      * only as its banded MinHash index; the batch is the remaining docs
      * plus planted truncated near-copies of corpus docs (must drop
      * against the index) and of batch docs (must drop within the batch).
      * The fixture's ORGANIC near-dup pairs (driver-planted, all true
      * Jaccard ≥ 0.9; everything else ≤ 0.07) make the oracle exact: the
      * sketch must agree with DuckDB's exact-Jaccard-0.5 survivor set,
      * which the bimodal gap makes deterministic (a J ≥ 0.9 pair misses
      * 16×8 banding with P ≤ 1.2e-4, and nothing sits near the cut).
      */
    "dedup_minhash_incremental" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
        .select(col("doc_id"), col("_toks"))
      def trim(t: org.apache.spark.sql.Column) = slice(t, lit(1), size(t) - 2)
      val corpus = docs.filter(col("doc_id") < 400)
      val batchBase = docs.filter(col("doc_id") >= 400)
      val plantsVsCorpus = corpus.filter(col("doc_id") < 60 && size(col("_toks")) >= 50)
        .select((col("doc_id") + 10000L).as("doc_id"), trim(col("_toks")).as("_toks"))
      val plantsWithin = batchBase.filter(col("doc_id") < 460 && size(col("_toks")) >= 50)
        .select((col("doc_id") + 20000L).as("doc_id"), trim(col("_toks")).as("_toks"))
      val batch = batchBase.unionByName(plantsVsCorpus).unionByName(plantsWithin)
      Dedup.minhashIncremental(batch,
          persistedIndex(s, dir,
            Dedup.minhashIndex(corpus, "doc_id", shinglesOf(col("_toks"), 3)), "mh"),
          "doc_id", shinglesOf(col("_toks"), 3), threshold = 0.5)
        .select(col("doc_id"))
    },

    /** Incremental SimHash dedup, planted-completeness oracle: exact
      * copies have Hamming distance 0 and pigeonhole banding is COMPLETE
      * for the bound, so every plant MUST be dropped — the oracle pins
      * n_planted_surviving == 0 (organic near-dups may also drop base
      * docs, which a survivor-set oracle could not predict for a
      * Hamming-distance sketch; the planted contract is exact).
      */
    "dedup_simhash_incremental" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 400)
      val batchBase = docs.filter(col("doc_id") >= 400)
      val batch = batchBase
        .unionByName(corpus.filter(col("doc_id") < 60)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        .unionByName(batchBase.filter(col("doc_id") < 420)
          .select((col("doc_id") + 20000L).as("doc_id"), col("text")))
      val toks = TextFunctions.tokens(col("text"))
      val surv = Dedup.simhashIncremental(batch,
        persistedIndex(s, dir, Dedup.simhashIndex(corpus, "doc_id", toks), "sh"),
        "doc_id", toks)
      batch.filter(col("doc_id") >= 10000L).agg(count(lit(1)).as("n_planted"))
        .crossJoin(surv.filter(col("doc_id") >= 10000L)
          .agg(count(lit(1)).as("n_planted_surviving")))
    },

    "dedup_simhash" -> { (s, dir) =>
      // planted exact duplicates: identical token stream -> identical
      // 64-bit simhash -> hamming 0, and pigeonhole banding is complete,
      // so every planted pair MUST be found — n_recalled == n_planted.
      val docs = tableSpread(s, dir, "documents")
      val planted = docs.filter(col("doc_id") < 60)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val all = docs.select("doc_id", "text").unionByName(planted)
      val pairs = Dedup.simhash(all, id = "doc_id",
        tokens = TextFunctions.tokens(col("text")), maxHamming = 3)
      planted.select((col("doc_id") - 1000000L).as("a"), col("doc_id").as("b"))
        .join(pairs.select(col("a"), col("b"), lit(1).as("_hit")), Seq("a", "b"), "left_outer")
        .agg(count(lit(1)).as("n_planted"),
          sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_recalled"))
    },

    "dedup_ngram" -> { (s, dir) =>
      // hashed shingles: only shingle identity feeds the Jaccard counts,
      // so 8-byte join keys replace 5-word strings (same oracle result up
      // to 64-bit collisions within a doc's shingle set — negligible)
      Dedup.ngramJaccard(
        tableSpread(s, dir, "documents").withColumn("_toks", TextFunctions.tokens(col("text"))),
        id = "doc_id", shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.5)
    },

    /** kNN self-join: every document's top-3 exact-Jaccard neighbors from
      * the postings candidate graph — the batch "related documents"
      * primitive (vs ANN's point queries). Deterministic ties (jaccard
      * desc, neighbor asc); the oracle recomputes the full ranking.
      */
    "knn_join" -> { (s, dir) =>
      graft.similarity.KnnJoin.knnJoin(
        tableSpread(s, dir, "documents")
          .withColumn("_toks", TextFunctions.tokens(col("text"))),
        id = "doc_id", shingles = shingleHashesOf(col("_toks"), 5),
        k = 3, minSim = 0.2)
    },

    "dedup_embedding" -> { (s, dir) =>
      // the fixture's random vectors have no pair above 0.9 cosine (round-2
      // output was empty => vacuous verification), so plant near-dups: each
      // vec_id < 20 gets a copy at id+1e6 scaled by 2. Doubling is exact in
      // floating point, so the copy's cosine is 1 and every hyperplane dot
      // product keeps its sign — the pair provably lands in the same LSH
      // bucket. The DuckDB oracle scores ALL pairs of the augmented table
      // exactly, so spurious hits and drops both fail the hash compare.
      val emb = tableSpread(s, dir, "embeddings")
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val all = emb.select("vec_id", "embedding").unionByName(planted)
      Dedup.embeddingCosine(all, id = "vec_id",
        vec = col("embedding"), threshold = 0.9, dim = 64)
        .select(col("a"), col("b"))
    },

    /** Bitext mining ([[graft.similarity.Bitext.mine]] — CCMatrix/LASER
      * margin criterion): label-0 vectors are the source-language batch,
      * label-1 the target corpus; a pair is mined only when it is MUTUAL
      * top-1 by cosine and the top-1 clears a 21/20 ratio margin over
      * the runner-up. The fixture's random vectors mostly fail the
      * margin (the realistic negative), so each label-0 vec_id < 100
      * gets a planted translation twin (×2 scale, cosine exactly 1 in
      * both engines) on the target side — guaranteed positives whose
      * mutual-top-1 status is provable. The oracle replays the full
      * double-precision ranking both directions.
      *
      * The source batch is a FIXED id slice (vec_id < 2000): real mining
      * runs a bounded ingest batch against a growing corpus, so the
      * decade probes measure corpus growth (linear), not batch × corpus
      * (quadratic) — and the Scale10 synthesis only shifts ids, so the
      * slice selects the same batch at every pseudo scale. Above
      * [[BitextIvfMinCorpusRows]] measured corpus rows
      * ([[graft.SparkEntry.tableRows]]) the query switches to the
      * IVF-pruned arm ([[graft.similarity.Bitext
      * .mineIvf]] — candidates from nProbe cells, exact re-rank, exact
      * reverse direction). The threshold (20k) sits above EVERY
      * oracle-checked fixture — IVF forward recall is approximate, so no
      * scale the exact-ranking oracle replays may plan it — and the
      * second measured decade (pseudo-sf1 → sf10) is IVF at both ends.
      * Plant ids ride at +9e11, above the largest strided
      * pseudo-scale id, so a plant can never collide with an organic
      * vector.
      */
    "bitext_mine" -> { (s, dir) =>
      val (src, tgt) = bitextFixture(s, dir)
      if (graft.SparkEntry.tableRows(s, dir, "embeddings") >= BitextIvfMinCorpusRows)
        graft.similarity.Bitext.mineIvf(src, tgt,
          "vec_id", "embedding", "vec_id", "embedding",
          centroids = bitextCentroids(s, dir, tgt))
      else
        graft.similarity.Bitext.mine(src, tgt,
          "vec_id", "embedding", "vec_id", "embedding")
    },

    /** Incremental bitext mining ([[graft.similarity.Bitext
      * .mineIndexed]]): the PRODUCTION shape of `bitext_mine` — a corpus
      * version trains its centroids and cell-assigns its vectors ONCE
      * (the index persists to parquet between ingest batches via
      * [[persistedIndex]], tag "bitext", same discipline as the
      * incremental dedup family), and each source batch mines against
      * the stored index with zero corpus re-scan: probe-join on cell id,
      * exact re-rank, exact reverse leg from index vectors. Same fixture
      * and the SAME oracle SQL as `bitext_mine` verbatim: below the
      * [[BitextIvfMinCorpusRows]] threshold the batch probes ALL 16 cells
      * (nProbe = nCells ⇒ pair-for-pair equal to the exact arm, the
      * Round14Spec-pinned equivalence), so every oracle-checked scale
      * replays the exact double-precision ranking; at the pseudo scales
      * it probes 4 cells — the one-shot IVF arm's own setting, so the
      * two bitext queries stay results-identical at EVERY scale while
      * this one never pays index construction per batch (Round15Spec
      * proves the second mine call leaves the persisted index files
      * untouched).
      */
    "bitext_mine_incremental" -> { (s, dir) =>
      val (src, tgt) = bitextFixture(s, dir)
      val cs = bitextCentroids(s, dir, tgt)
      val idx = persistedIndex(s, dir,
        graft.similarity.Ivf.index(tgt, "vec_id", "embedding", cs), "bitext")
      val nProbe =
        if (graft.SparkEntry.tableRows(s, dir, "embeddings") >= BitextIvfMinCorpusRows) 4
        else cs.length
      graft.similarity.Bitext.mineIndexed(src, idx, cs,
        "vec_id", "embedding", nProbe = nProbe)
    },

    /** Incremental embedding dedup against the int8-quantized hyperplane
      * index: 2×-scaled copies have cosine exactly 1 and provably the
      * same LSH bucket (doubling preserves every dot-product sign), so
      * all plants drop; the fixture's max organic cosine is 0.51, so far
      * below the 0.9 threshold that quantization error (~1e-3) cannot
      * flip any decision — survivors == the base batch, deterministic.
      */
    "dedup_embedding_incremental" -> { (s, dir) =>
      val emb = tableSpread(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      def scaled(df: DataFrame, offset: Long) = df.select(
        (col("vec_id") + offset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.filter(col("vec_id") < 400)
      val batchBase = emb.filter(col("vec_id") >= 400)
      val batch = batchBase
        .unionByName(scaled(corpus.filter(col("vec_id") < 20), 10000L))
        .unionByName(scaled(batchBase.filter(col("vec_id") < 420), 20000L))
      Dedup.embeddingIncremental(batch,
          persistedIndex(s, dir,
            Dedup.embeddingIndex(corpus, "vec_id", col("embedding")), "emb"),
          "vec_id", col("embedding"), threshold = 0.9)
        .select(col("vec_id"))
    },

    /** End-to-end training-data pipeline: quality-filter documents, exact
      * dedup (keep lowest id), language-ID the survivors, aggregate token
      * statistics per language — the composed shape of a real corpus
      * cleaning job, fully oracle-checked.
      */
    "flagship_datapipe" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("bucket", qualityBucket(col("text")))
        .filter(col("bucket") === "ok")
      val keep = Dedup.exactFingerprint(docs, on = Seq("text"), id = "doc_id")
        .select(col("keep_id").as("doc_id"))
      docs.join(keep, "doc_id")
        .select(col("doc_id"), langId(col("text")).as("lang2"), tokenCount(col("text")).as("nt"))
        .groupBy(col("lang2"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("total_tokens"),
          max(col("nt")).as("max_tokens"))
    },

    /** End-to-end training-mix prep composing the round's sampling and
      * chunking ops: temperature-balance the corpus across languages
      * (T=2, budget 300), window every sampled document (64 tokens,
      * stride 48), report the per-language training mix. The oracle
      * chains the exact CTEs of `temperature_mix` and `doc_chunks`.
      */
    "flagship_training_mix" -> { (s, dir) =>
      val sampled = Sampling.temperatureMix(table(s, dir, "documents"),
        source = "lang", id = col("doc_id"), budget = 300L, temperature = 2.0)
      sampled.withColumn("_toks", TextFunctions.tokens(col("text")))
        .filter(size(col("_toks")) > 0)
        .select(col("lang"), col("doc_id"), size(col("_toks")).as("_n"),
          explode(sequence(lit(0), size(col("_toks")) - 1, lit(48))).as("_start"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(least(col("_n") - col("_start"), lit(64)).cast("long"))
            .as("total_chunk_tokens"))
    },

    // ---- similarity search ----------------------------------------------
    "ann_bruteforce" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      Ann.bruteForce(
        queries = emb.filter(col("vec_id") < AnnQueries),
        corpus = emb,
        qId = "vec_id", qVec = "embedding", cId = "vec_id", cVec = "embedding",
        k = AnnK)
    },

    /** Streaming vector search ([[graft.similarity.Ivf.searchTopKAgg]]):
      * query vectors arrive on a STREAM and probe the persisted cell
      * index by stream-static equi-join on cell id; the per-query top-k
      * is the bounded arg-top-k aggregate over the
      * [[graft.functions.DoubleSortKey]] of the cosine (rank windows do
      * not exist on unbounded streams; the sort-key bijection makes the
      * integer-state aggregate EXACT in the double order). nProbe =
      * nCells here so the candidate set is the full corpus and the
      * stream result replays `ann_bruteforce`'s exact-ranking oracle
      * verbatim; production lowers nProbe for the
      * O(|corpus|·nProbe/nCells) probe cost — state stays k pairs per
      * query either way.
      */
    "stream_ann_topk" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      // memoized per (dir, session): the stream probes an EXISTING index
      // (see memoCentroids) — retraining per drain is not the shape
      val centroids = memoCentroids(s, "annstream", dir, emb)
      val indexed = persistedIndex(s, dir,
        graft.similarity.Ivf.index(emb, "vec_id", "embedding", centroids),
        "annstream")
      val qs = graft.streaming.StreamOps
        .parquetStream(s, s"$dir/embeddings.parquet")
        .filter(col("vec_id") < AnnQueries)
        .select(col("vec_id"), col("embedding"))
      val agg = graft.similarity.Ivf.searchTopKAgg(qs, indexed,
        "vec_id", "embedding", centroids, k = AnnK, nProbe = 16)
      graft.streaming.StreamOps.drainToBatch(agg, outputMode = "complete")
        .select(col("query_id"), posexplode(col("_top")))
        .select(col("query_id"), col("col.id").as("neighbor_id"),
          (col("pos") + 1).as("rank"))
    },

    /** Contrastive hard-negative mining ([[Ann.hardNegatives]]): per
      * labeled query vector, the top-k nearest corpus vectors of a
      * DIFFERENT label — close in embedding space, wrong class, exactly
      * the pairs a contrastive trainer wants. Broadcast query side,
      * corpus never shuffles; the oracle replays the ranking with the
      * label-mismatch predicate in SQL, exact like `ann_bruteforce`.
      */
    "hard_negatives" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      Ann.hardNegatives(
        queries = emb.filter(col("vec_id") < AnnQueries), corpus = emb,
        qId = "vec_id", qVec = "embedding", qLabel = "label",
        cId = "vec_id", cVec = "embedding", cLabel = "label", k = AnnK)
    },

    "ann_lsh" -> { (s, dir) =>
      // recall@k against the exact bruteforce baseline, computed inline:
      // the output row carries counts the DuckDB oracle can derive plus a
      // recall floor boolean, so a recall regression becomes a hash
      // mismatch instead of an invisible rows-only pass.
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < AnnQueries)
      // fixture embeddings are near-uniform random (nearest cosines ~0.4),
      // the hard case for hyperplane LSH: favor recall (4 planes x 8
      // tables ~ 75% per pair) over bucket tightness
      val approx = Ann.lshTopK(
        queries = q, corpus = emb,
        qId = "vec_id", qVec = "embedding", cId = "vec_id", cVec = "embedding",
        k = AnnK, nPlanes = 4, nTables = 8, dim = 64)
      recallSummary(s, dir, approx, floor = 0.5)
    },

    "ann_ivf" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val approx = graft.similarity.Ivf.topK(
        queries = emb.filter(col("vec_id") < AnnQueries),
        corpus = emb,
        qId = "vec_id", qVec = "embedding", cId = "vec_id", cVec = "embedding",
        k = AnnK, nCells = 16, nProbe = 6)
      recallSummary(s, dir, approx, floor = 0.5)
    },

    /** IVF search over the int8-quantized index: codes-only across the
      * probe shuffle (~8× smaller resident index), dequantized inside the
      * scoring expression. Recall floor vs the exact baseline proves
      * quantization error does not disturb the top-k materially.
      */
    "ann_ivf_int8" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val approx = graft.similarity.Ivf.topKQuantized(
        queries = emb.filter(col("vec_id") < AnnQueries),
        corpus = emb,
        qId = "vec_id", qVec = "embedding", cId = "vec_id", cVec = "embedding",
        k = AnnK, nCells = 16, nProbe = 6)
      recallSummary(s, dir, approx, floor = 0.5)
    },

    // ---- multimodal binary-column plumbing --------------------------------
    /** Image pipeline with a REAL decode step: a PNG is synthesized per
      * document (width/height/constant gray level derived from doc fields),
      * carried as an opaque binary column, then decoded with javax.imageio
      * and reduced to features. The DuckDB oracle recomputes
      * width/height/red_sum arithmetically, so a broken encode, decode, or
      * feature-extract step all fail the hash compare. At 100 TB the shape
      * is the same: binary column + per-partition batched codec work, no
      * shuffle until the (tiny) feature frame.
      */
    "multimodal_features" -> { (s, dir) =>
      import s.implicits._
      val blobs = tableSpread(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          // ImageIO's default stream spool is a temp FILE per encode/decode
          // call (useCache=true) — at one call per row that is two file
          // create/delete cycles per image, measured as a ~4:1 off-CPU wall
          // ratio on the decode stages. Memory-backed spools are
          // semantics-identical; JVM-global flag, idempotent per task.
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, nChars) =>
            val w = (nChars % 31 + 1).toInt
            val h = (id % 17 + 1).toInt
            val c = (id * 7 % 256).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (c << 16) | (c << 8) | c
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray, "image/png")
          }
        }
        .toDF("doc_id", "blob", "mime")
      blobs.as[(Long, Array[Byte], String)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // memory-backed spool
          it.map { case (id, bytes, _) =>
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            val w = img.getWidth
            val h = img.getHeight
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { sum += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
              y += 1
            }
            (id, w, h, sum)
          }
        }
        .toDF("doc_id", "width", "height", "red_sum")
    },

    /** Image resize over real codec bytes: the PNG fixture of
      * `multimodal_features` decoded (actual codec parse) and
      * nearest-neighbor downscaled to the ceil-half grid inside the scan
      * partition — blob bytes never cross an exchange; only (id, dims,
      * checksum) leave the task. Constant-color planting makes the
      * resized red-sum exactly out_w·out_h·c, so the resize arithmetic
      * (target dims + source-pixel sampling) is oracle-checked, not just
      * exercised.
      */
    "multimodal_resize" -> { (s, dir) =>
      import s.implicits._
      val blobs = tableSpread(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          // memory-backed ImageIO spool (see multimodal_features)
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, nChars) =>
            val w = (nChars % 31 + 1).toInt
            val h = (id % 17 + 1).toInt
            val c = (id * 7 % 256).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (c << 16) | (c << 8) | c
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }
        .toDF("doc_id", "blob")
      blobs.as[(Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // memory-backed spool
          it.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            val (w, h) = (img.getWidth, img.getHeight)
            val (tw, th) = ((w + 1) / 2, (h + 1) / 2)
            // nearest-neighbor: target pixel (x,y) samples source
            // (x·w/tw, y·h/th) — integer arithmetic, no codec resampler
            var sum = 0L
            var y = 0
            while (y < th) {
              val sy = y * h / th
              var x = 0
              while (x < tw) {
                sum += (img.getRGB(x * w / tw, sy) >> 16) & 0xff
                x += 1
              }
              y += 1
            }
            (id, tw, th, sum)
          }
        }
        .toDF("doc_id", "out_width", "out_height", "red_sum")
    },

    /** Audio pipeline with a REAL decode step: unsigned 8-bit mono PCM WAV
      * synthesized per document, decoded via javax.sound.sampled (actual
      * RIFF header parse), reduced to sample stats the oracle recomputes.
      */
    "multimodal_audio" -> { (s, dir) =>
      import s.implicits._
      val blobs = tableSpread(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 100 + 1).toInt
            val data = Array.tabulate[Byte](n)(i => ((id + i) % 256).toByte)
            val fmt = new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
              8000f, 8, 1, 1, 8000f, false)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(
              new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(data), fmt, n.toLong),
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            (id, bos.toByteArray, "audio/wav")
          }
        }
        .toDF("doc_id", "blob", "mime")
      blobs.as[(Long, Array[Byte], String)]
        .mapPartitions { it =>
          it.map { case (id, bytes, _) =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val buf = ais.readAllBytes()
            var sum = 0L
            var i = 0
            while (i < buf.length) { sum += buf(i) & 0xff; i += 1 }
            (id, buf.length.toLong, ais.getFormat.getSampleRate.toInt, sum)
          }
        }
        .toDF("doc_id", "n_samples", "sample_rate", "sample_sum")
    },

    /** Cross-video duplicate-FRAME detection: every frame of every
      * container is REALLY decoded (ImageIO), reduced to an intensity
      * fingerprint (mean pixel — the aHash/pHash plumbing shape:
      * decode → downsample/reduce → fingerprint → group), and frames
      * sharing a fingerprint dedup under the keep-first rule
      * (first = minimal (video, frame) position). The oracle recomputes
      * fingerprints arithmetically from the synthesis rule, so a broken
      * decode, a mis-indexed frame, or a wrong first-pick all fail the
      * hash compare. Scale shape: blobs never shuffle — only
      * (video, frame, 8-byte fingerprint) rows leave the decode task,
      * and the dedup is one counts-sized groupBy + a broadcast-join
      * back.
      */
    "multimodal_frame_dedup" -> { (s, dir) =>
      import s.implicits._
      // frame-blob fixture written ONCE per JVM (the persistedIndex
      // discipline): the measured pipeline is the production one —
      // binary column in from storage, decode + fingerprint + dedup —
      // not re-synthesizing PNGs every bench rerun
      val blobPath = s"${sys.props("java.io.tmpdir")}/graft_frames_${s.sparkContext.applicationId}"
      if (writtenIndexes.add(blobPath)) {
        tableSpread(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            // memory-backed ImageIO spool (see multimodal_features)
            javax.imageio.ImageIO.setUseCache(false)
            it.flatMap { id =>
              val nFrames = (id % 7 + 2).toInt
              val w = (id % 5 + 1).toInt
              val h = (id % 3 + 1).toInt
              (0 until nFrames).iterator.map { f =>
                val c = ((id * 13 + f * 7) % 256).toInt
                val img = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val rgb = (c << 16) | (c << 8) | c
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) { img.setRGB(x, y, rgb); x += 1 }
                  y += 1
                }
                val fb = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "png", fb)
                (id, f.toLong, fb.toByteArray)
              }
            }
          }.toDF("doc_id", "frame_idx", "png")
          .write.mode("overwrite").parquet(blobPath)
      }
      val frames = s.read.parquet(blobPath)
        .as[(Long, Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // memory-backed spool
          it.map { case (id, f, png) =>
            // the decode side: a real PNG parse, reduced to the mean
            // intensity — exactly the frame's constant color
            val dec = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(png))
            var sum = 0L
            var yy = 0
            while (yy < dec.getHeight) {
              var xx = 0
              while (xx < dec.getWidth) {
                sum += (dec.getRGB(xx, yy) >> 16) & 0xff
                xx += 1
              }
              yy += 1
            }
            (id, f, sum / (dec.getWidth.toLong * dec.getHeight))
          }
        }.toDF("doc_id", "frame_idx", "fp")
      val first = frames.groupBy(col("fp"))
        .agg(min(col("doc_id") * 1000L + col("frame_idx")).as("_firstkey"))
      frames.join(broadcast(first), "fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("doc_id") * 1000L + col("frame_idx") =!= col("_firstkey"), 1L)
            .otherwise(0L)).as("n_dup_frames"))
    },

    /** Video pipeline with frame sampling: a deterministic container
      * (magic + frame count + length-prefixed PNG frames) is synthesized
      * per document and carried as an opaque binary column; the sampler
      * then decodes ONLY every 2nd frame (ImageIO — a real codec parse)
      * and SKIPS the others by their length prefix without decoding —
      * the keyframe-extraction shape, where decode cost scales with
      * sampled frames, not container size. The DuckDB oracle recomputes
      * frame geometry and the sampled-frame pixel sum arithmetically, so
      * a broken container write, a mis-stepped sampler, or a decode that
      * touches the wrong frames all fail the hash compare. At 100 TB the
      * shape is unchanged: binary column + per-partition batched codec
      * work, no shuffle until the tiny feature frame.
      */
    "multimodal_video" -> { (s, dir) =>
      import s.implicits._
      val blobs = tableSpread(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          // memory-backed ImageIO spool (see multimodal_features)
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val nFrames = (id % 7 + 2).toInt
            val w = (id % 5 + 1).toInt
            val h = (id % 3 + 1).toInt
            val bos = new java.io.ByteArrayOutputStream()
            val out = new java.io.DataOutputStream(bos)
            out.writeInt(0x47564944) // 'GVID'
            out.writeInt(nFrames)
            var f = 0
            while (f < nFrames) {
              val c = ((id * 13 + f * 7) % 256).toInt
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val rgb = (c << 16) | (c << 8) | c
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { img.setRGB(x, y, rgb); x += 1 }
                y += 1
              }
              val fb = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", fb)
              val bytes = fb.toByteArray
              out.writeInt(bytes.length)
              out.write(bytes)
              f += 1
            }
            (id, bos.toByteArray, "video/x-graft")
          }
        }
        .toDF("doc_id", "blob", "mime")
      blobs.as[(Long, Array[Byte], String)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // memory-backed spool
          it.map { case (id, bytes, _) =>
            val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
            require(in.readInt() == 0x47564944, s"doc $id: bad container magic")
            val nFrames = in.readInt()
            var i = 0
            var sampled = 0
            var pixelSum = 0L
            while (i < nFrames) {
              val len = in.readInt()
              if (i % 2 == 0) {
                val fb = new Array[Byte](len)
                in.readFully(fb)
                val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    pixelSum += (img.getRGB(x, y) >> 16) & 0xff
                    x += 1
                  }
                  y += 1
                }
                sampled += 1
              } else {
                var toSkip = len
                while (toSkip > 0) {
                  val s = in.skipBytes(toSkip)
                  if (s <= 0) throw new java.io.EOFException(
                    s"doc $id: truncated container (frame $i, $toSkip bytes short)")
                  toSkip -= s
                }
              }
              i += 1
            }
            (id, nFrames, sampled, pixelSum)
          }
        }
        .toDF("doc_id", "n_frames", "n_sampled", "pixel_sum")
    },

    /** Near-dup pairs collapsed to duplicate clusters (connected
      * components over the n-gram-Jaccard similarity graph): one
      * (doc, component) row per clustered doc, component = min doc_id.
      * A~B and B~C land in one cluster even when A~C was never scored.
      */
    "dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.ngramJaccard(
        tableSpread(s, dir, "documents").withColumn("_toks", TextFunctions.tokens(col("text"))),
        id = "doc_id", shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.5)
        .select(col("a"), col("b"))
      graft.dedup.Cluster.connectedComponents(pairs, "a", "b")
        .select(col("id").as("doc_id"), col("comp").as("component"))
    },

    /** Canonical selection per duplicate cluster — the step that turns
      * the similarity graph into the kept corpus: connected components
      * over the near-dup pairs, then per component keep the LONGEST
      * member (doc_id tie-break); documents in no cluster keep
      * themselves. Output: (component, n_members, keep_id).
      */
    "dedup_canonical" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      val pairs = Dedup.ngramJaccard(docs, id = "doc_id",
        shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.5)
        .select(col("a"), col("b"))
      val comp = graft.dedup.Cluster.connectedComponents(pairs, "a", "b")
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"), size(col("_toks")).as("_nt"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("comp"), col("doc_id")))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"), struct(col("_nt"), lit(0L) - col("doc_id")))
            .as("keep_id"))
    },

    /** Source-level duplication matrix: near-dup pair counts aggregated
      * by the SOURCES of the two documents — the corpus-analysis view
      * that tells you WHERE duplication comes from (a mirrored site, a
      * scraper crawling twice) before any row is dropped. Pairs from the
      * exact n-gram machinery; (source_lo, source_hi) canonicalized so
      * the matrix is triangular.
      */
    "dedup_source_matrix" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      val pairs = Dedup.ngramJaccard(docs, id = "doc_id",
        shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.5)
        .select(col("a"), col("b"))
      val src = tableSpread(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a"), col("source").as("_sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("_sb")), "b")
        .select(least(col("_sa"), col("_sb")).as("source_lo"),
          greatest(col("_sa"), col("_sb")).as("source_hi"))
        .groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    /** Asymmetric containment dedup ([[graft.dedup.Dedup.containment]]):
      * drop documents whose (surviving) shingle set is ≥ 90 % contained
      * in another doc's — the quotation/wrapper case symmetric Jaccard
      * structurally misses (the container's size keeps J low). Survivor
      * set replayed exactly by the oracle's count algebra.
      */
    "dedup_containment" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      val contained = Dedup.containment(docs, id = "doc_id",
        shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.9)
        .select(col("contained").as("doc_id")).distinct()
      docs.select(col("doc_id"))
        .join(contained, Seq("doc_id"), "left_anti")
    },

    /** Leakage-safe train/val/test split ([[graft.operators.Sampling
      * .dedupSafeSplit]]): near-duplicate clusters (the `dedup_clusters`
      * pair graph) co-travel into ONE split — a per-document hash would
      * put a train document's near-copy in test, exactly the
      * contamination dedup exists to prevent. The split hash runs on the
      * cluster canonical id; the oracle replays clustering (recursive
      * CTE) and the engine-stable ring digit-for-digit.
      */
    "split_dedup_safe" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      val pairs = Dedup.ngramJaccard(docs, id = "doc_id",
        shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.5)
        .select(col("a"), col("b"))
      graft.operators.Sampling.dedupSafeSplit(
        docs.select(col("doc_id")), "doc_id", pairs, "a", "b",
        weights = Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("group_id"), col("split"))
    },

    /** The leakage audit for `split_dedup_safe`: over the same near-dup
      * pair graph, count pairs whose endpoints land in DIFFERENT splits
      * under (a) the cluster-aware split — provably zero, asserted
      * end-to-end here — and (b) the naive per-document hash split,
      * where the fixture's organic near-dups DO cross (the contamination
      * the operator exists to prevent, made visible as a number).
      */
    "split_leakage_audit" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      // cached: the pair graph feeds FIVE subtrees (CC inside the safe
      // split, both cross-counts' two joins each, and the pair count) —
      // uncached, the postings-join subtree is cloned into every branch
      val pairs = graft.Caches.track(Dedup.ngramJaccard(docs, id = "doc_id",
        shingles = shingleHashesOf(col("_toks"), 5), threshold = 0.5)
        .select(col("a"), col("b")).persist())
      val w = Seq("train" -> 80, "val" -> 10, "test" -> 10)
      val safe = graft.operators.Sampling.dedupSafeSplit(
        docs.select(col("doc_id")), "doc_id", pairs, "a", "b", w)
        .select(col("doc_id"), col("split"))
      val naive = graft.operators.Sampling.deterministicSplit(
        docs.select(col("doc_id")), col("doc_id"), w)
        .select(col("doc_id"), col("split"))
      def cross(assign: org.apache.spark.sql.DataFrame) = pairs
        .join(assign.select(col("doc_id").as("a"), col("split").as("_sa")), "a")
        .join(assign.select(col("doc_id").as("b"), col("split").as("_sb")), "b")
        .filter(col("_sa") =!= col("_sb"))
      cross(safe).agg(count(lit(1)).as("n_cross_safe"))
        .crossJoin(cross(naive).agg(count(lit(1)).as("n_cross_naive")))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .select(col("n_pairs"), col("n_cross_safe"), col("n_cross_naive"))
    },

    /** Quality-classifier inference ([[graft.operators.LinearModel
      * .score]]): fasttext/logreg-style scoring of every document against
      * a term→weight table — the weight table here is a deterministic
      * stand-in for a trained model (the engine owns the SCORING pass,
      * not training). Fixed-point integer margins, so the full margin
      * column hash-matches the oracle's replay.
      */
    "quality_linear" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
      val weights = docs.select(explode(col("_toks")).as("term")).distinct()
        .select(col("term"),
          ((length(col("term")) * 137 + ascii(col("term")) * 31
            + ascii(reverse(col("term"))) * 17) % 1001 - 500)
            .cast("long").as("weight_fp"))
      graft.operators.LinearModel.score(
        docs.select(col("doc_id"), col("_toks")), "doc_id",
        col("_toks"), weights, biasFp = 0L)
        .select(col("doc_id"), col("margin_fp"), col("margin_fp_keep"))
    },

    /** Top-20 collocations by exact fixed-point PMI ([[graft.operators
      * .Collocations.pmiTopK]]): adjacent-pair and unigram tallies are
      * counts-only exchanges, the score is the floor-divided rational
      * c(x,y)·N·10⁶ / (c(x)·c(y)) — no log, no float, engine-exact.
      */
    "collocations" -> { (s, dir) =>
      graft.operators.Collocations.pmiTopK(
        tableSpread(s, dir, "documents")
          .withColumn("_toks", TextFunctions.tokens(col("text"))),
        col("_toks"), minCount = 5, k = 20)
    },

    /** BM25 top-5 documents for three query terms. The float score stays
      * internal (engine ln/division ulps differ); the output contract is
      * the ranking with a deterministic id tie-break, which the DuckDB
      * oracle reproduces from the same formula.
      */
    "text_bm25" -> { (s, dir) =>
      graft.functions.Bm25.topDocs(table(s, dir, "documents"), id = "doc_id",
        text = col("text"), terms = Seq("spark", "join", "data"), k = 5)
    },

    /** Retrieval-quality evaluation: MRR@20 of the BM25 ranking against
      * a deterministic relevance label (doc_id ≡ 3 mod 10) — the eval
      * loop every search/RAG pipeline runs over its ranking. Reciprocal
      * rank in fixed point (10⁶ div first-relevant-rank, 0 when no
      * relevant doc in the cut) so the metric is engine-exact; the
      * oracle replays ranking, labels, and the integer fold.
      */
    "search_mrr" -> { (s, dir) =>
      import s.implicits._
      val top = graft.functions.Bm25.topDocs(table(s, dir, "documents"),
        id = "doc_id", text = col("text"),
        terms = Seq("spark", "join", "data"), k = 20)
      val rr = top.filter(col("doc_id") % 10 === 3)
        .groupBy(col("term")).agg(min(col("rank")).as("_first"))
      Seq("spark", "join", "data").toDF("term")
        .join(rr, Seq("term"), "left")
        .select(col("term"),
          coalesce(expr("1000000L div _first"), lit(0L)).as("rr_fp"))
    },

    /** NDCG@10 of the BM25 ranking against the `search_mrr` relevance
      * label — the graded companion metric, made ENGINE-EXACT by
      * precomputing ⌊10⁶/log₂(i+1)⌋ as integer literals shared verbatim
      * with the oracle (no runtime log, no float): DCG = Σ rel·w(rank),
      * IDCG = the ideal prefix, ndcg_pct = ⌊100·DCG/IDCG⌋.
      */
    "search_ndcg" -> { (s, dir) =>
      import s.implicits._
      val w = Seq(1000000L, 630929L, 500000L, 430676L, 386852L, 356207L,
        333333L, 315464L, 301029L, 289064L)
      val wDf = w.zipWithIndex.map { case (x, i) => (i + 1, x) }.toDF("rank", "_w")
      val ideal = w.scanLeft(0L)(_ + _).tail.zipWithIndex
        .map { case (c, i) => (i + 1, c) }.toDF("_nrel", "_idcg")
      val top = graft.functions.Bm25.topDocs(table(s, dir, "documents"),
        id = "doc_id", text = col("text"),
        terms = Seq("spark", "join", "data"), k = 10)
        .join(broadcast(wDf), Seq("rank"))
        .withColumn("_rel", when(col("doc_id") % 10 === 3, 1L).otherwise(0L))
      val perTerm = top.groupBy(col("term"))
        .agg(sum(col("_rel") * col("_w")).as("dcg_fp"),
          sum(col("_rel")).as("_nrel"))
      Seq("spark", "join", "data").toDF("term")
        .join(perTerm, Seq("term"), "left")
        .join(broadcast(ideal), Seq("_nrel"), "left")
        .select(col("term"), coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
          coalesce(col("_idcg"), lit(0L)).as("idcg_fp"),
          coalesce(expr("(100 * dcg_fp) div _idcg"), lit(0L)).as("ndcg_pct"))
    },

    /** Hybrid retrieval ([[graft.operators.Search.rrfFuse]], reciprocal-
      * rank fusion): the standard RAG retrieval stack — a lexical BM25
      * top-20 leg and a dense exact-cosine top-20 leg per query, fused
      * rank-only by RRF (`Σ ⌊10⁶/(60+rank)⌋`) into the final top-10.
      * Query terms pair with query vectors 0..2 through a 3-row map.
      * Both legs' float scores stay leg-internal (the established
      * `text_bm25` / `ann_bruteforce` ranking contracts); the fusion is
      * integer fixed-point, so the oracle replays both rankings and the
      * exact fused sum.
      */
    "search_hybrid_rrf" -> { (s, dir) =>
      import s.implicits._
      val terms = Seq("spark", "join", "data")
      val lex = graft.functions.Bm25.topDocs(table(s, dir, "documents"),
          id = "doc_id", text = col("text"), terms = terms, k = 20)
        .select(col("term").as("query"), col("doc_id"), col("rank"))
      val qmap = terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("_qid", "query")
      val emb = table(s, dir, "embeddings")
      val dense = Ann.bruteForce(
          queries = emb.filter(col("vec_id") < 3), corpus = emb,
          qId = "vec_id", qVec = "embedding", cId = "vec_id",
          cVec = "embedding", k = 20)
        .join(broadcast(qmap), col("query_id") === col("_qid"))
        .select(col("query"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Search.rrfFuse(Seq(lex, dense), k = 10)
    },

    /** Pseudo-relevance-feedback query expansion (the RM3 shape,
      * Lavrenko & Croft relevance models, rank-only): take the seed
      * term's BM25 top-5 documents, mine the 3 most frequent non-seed
      * tokens from them (count DESC, term ASC — deterministic), rank the
      * corpus for seed + expansion terms ([[graft.functions.Bm25
      * .topDocsFor]] — the term set is DATA-DEPENDENT, so it joins as a
      * frame, not literals), and fuse the four per-term rankings with
      * [[graft.operators.Search.rrfFuse]] into the final top-10.
      * Rank-only fusion keeps the whole pipeline integer-exact; the
      * oracle replays feedback docs, expansion mining, every BM25
      * ranking, and the fused sum.
      */
    "search_rm3" -> { (s, dir) =>
      import s.implicits._
      val seed = "spark"
      val docs = table(s, dir, "documents")
      val top5 = graft.functions.Bm25.topDocs(docs, id = "doc_id",
        text = col("text"), terms = Seq(seed), k = 5)
      val expansion = docs.join(top5.select(col("doc_id")), "doc_id")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term") =!= seed)
        .groupBy(col("term")).agg(count(lit(1)).as("_c"))
        .orderBy(col("_c").desc, col("term").asc).limit(3)
        .select(col("term"))
      val allTerms = expansion.unionByName(Seq(seed).toDF("term"))
      val legs = graft.functions.Bm25.topDocsFor(docs, id = "doc_id",
          text = col("text"), terms = allTerms, k = 20)
        .select(lit(seed).as("query"), col("doc_id"), col("rank"))
      graft.operators.Search.rrfFuse(Seq(legs), k = 10)
    },

    /** Incremental IVF maintenance ([[graft.similarity.Ivf.search]]):
      * centroids trained on the 80 % stored corpus, its cell index
      * PERSISTED, the 20 % ingest batch assigned to the EXISTING cells
      * (no retrain, no rescan) and unioned — then searched against the
      * grown index. The production vector-ingest loop; the recall-floor
      * oracle doubles as the stale-centroid monitor.
      */
    "ann_ivf_incremental" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      // memoized per (dir, session): "no retrain" is this operator's
      // documented contract — the persisted index already is write-once,
      // the centroids it was built from now are too (see memoCentroids)
      val centroids = memoCentroids(s, "ivf", dir, corpus)
      val stored = persistedIndex(s, dir,
        graft.similarity.Ivf.index(corpus, "vec_id", "embedding", centroids), "ivf")
      val grown = stored.unionByName(
        graft.similarity.Ivf.index(batch, "vec_id", "embedding", centroids))
      val approx = graft.similarity.Ivf.search(
        emb.filter(col("vec_id") < AnnQueries), grown,
        "vec_id", "embedding", centroids, k = AnnK, nProbe = 6)
      recallSummary(s, dir, approx, floor = 0.5)
    },

    /** Int8-quantized embeddings: 4x smaller storage for the ANN index.
      * The raw fidelity floats are engine-specific (rounding at .5 code
      * boundaries), so the output is the vector count plus a worst-case
      * reconstruction-fidelity floor boolean — both oracle-checkable; a
      * quantizer regression flips the boolean and fails the hash compare.
      */
    "embedding_quantize" -> { (s, dir) =>
      import graft.functions.VectorFunctions
      val emb = VectorFunctions.quantizeInt8Col(
        table(s, dir, "embeddings"), col("embedding"), "q")
        .withColumn("deq", VectorFunctions.dequantizeInt8(col("q")))
      emb.select(col("vec_id"),
        VectorFunctions.cosineFused(col("embedding"), col("deq")).as("fidelity"))
        .agg(count(lit(1)).as("n_vectors"),
          (min(col("fidelity")) >= 0.99).as("fidelity_ok"))
    },

    // ---- corpus statistics + sampling -------------------------------------

    /** Vocabulary / inverted-index statistics: per term, the document
      * frequency, total and max term frequency — the corpus-wide pass
      * behind tokenizer training and tf-idf. Two partial-aggregated
      * shuffles ((doc,term) then term); the exchange carries counts, never
      * text.
      */
    "vocab_index" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
          max(col("tf")).as("max_tf"))
    },

    /** Tokenizer-vocabulary coverage: the OOV-rate report a tokenizer
      * rollout runs before committing to a vocab — top-1000 corpus terms
      * by (frequency, term) form the vocabulary (deterministic cut), and
      * each language reports its token count, OOV count, and OOV rate
      * against it. Scale shape: the vocab is a counts-only top-k
      * (TakeOrdered semantics via the window prune) broadcast into a
      * left-anti-style membership probe — the corpus never shuffles for
      * membership, and the ratio is one IEEE division of two exact longs.
      */
    "oov_rate" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = tableSpread(s, dir, "documents")
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("term"))
      val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("_n"))
      val vocab = counts
        .withColumn("_r", row_number().over(
          Window.orderBy(col("_n").desc, col("term").asc)))
        .filter(col("_r") <= 1000)
        .select(col("term"), lit(1).as("_in_vocab"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
    },

    /** Per-document keyword extraction (doc tagging): top-3 terms per doc
      * ranked by the INTEGER proxy of tf-idf — highest in-doc frequency,
      * then rarest in the corpus, then term — so the selected set is
      * engine-exact (no float log; `text_bm25` carries the float-ranked
      * contract). The df side joins broadcast off a counts-only
      * aggregate; the top-3 window prunes map-side (WindowGroupLimit),
      * so per-doc term lists never sort globally.
      */
    "doc_keywords" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = tableSpread(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = toks.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(broadcast(df), "term")
        .withColumn("_rank", row_number().over(w))
        .filter(col("_rank") <= 3)
        .select(col("doc_id"), col("_rank").cast("long").as("rank"),
          col("term"), col("tf"), col("df"))
    },

    /** Exact heavy hitters (terms with ≥ 1/200 of all occurrences) via
      * per-partition Misra-Gries nomination + exact recount of the
      * bounded candidate set — the full term distribution never
      * shuffles, yet the result is exact, so the DuckDB oracle is the
      * plain GROUP BY/HAVING the sketch path must reproduce verbatim.
      */
    "heavy_hitters" -> { (s, dir) =>
      graft.operators.Frequency.heavyHitters(
        tableSpread(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("t")),
        col("t"), k = 200)
    },

    /** Count-Min point-frequency estimates
      * ([[graft.operators.Frequency.countMinBuild]]/`countMinQuery`,
      * depth 4 × width 1024): the sketch is a ≤ 4096-row counts frame
      * built in ONE partial-aggregated shuffle and broadcast to the
      * query keys; estimates are deterministic because the hash rows use
      * the engine-stable multiplicative hash, so the DuckDB oracle
      * rebuilds the identical sketch and every estimate (including its
      * collision inflation) matches digit-for-digit. True counts ride
      * along to witness the one-sided guarantee cm_est ≥ true_cnt.
      */
    "count_min" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val sketch = graft.operators.Frequency.countMinBuild(
        li, col("l_partkey"), depth = 4, width = 1024)
      val qk = table(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(97L)) === 0)
        .select(col("p_partkey"))
      val truth = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("_tc"))
      graft.operators.Frequency.countMinQuery(
          sketch, qk, col("p_partkey"), depth = 4, width = 1024)
        .join(truth, col("_k") === col("l_partkey"), "left")
        .select(col("_k").as("p_partkey"), col("cm_est"),
          coalesce(col("_tc"), lit(0L)).as("true_cnt"))
    },

    /** MMR diversity re-ranking ([[graft.similarity.Mmr.rerank]], λ = ½,
      * k = 3) over synthetic INTEGER vectors drawn from the engine-stable
      * hash chain, so 2·mmr = rel − maxsim is exact and the greedy pick
      * sequence is a dataset fact: the oracle UNROLLS the three greedy
      * rounds in SQL (the unrolled-PageRank trick) and hash-matches every
      * (query, step, pick, score). Queries broadcast over candidates;
      * candidates never pairwise-join each other.
      */
    "mmr_rerank" -> { (s, dir) =>
      import graft.operators.Sampling.{hashRing32, swapHalves}
      val base = table(s, dir, "embeddings").select(col("vec_id"))
        .withColumn("_m1", hashRing32(col("vec_id") + lit(5L)))
        .withColumn("_m2", hashRing32(swapHalves(col("_m1"))))
        .withColumn("_m3", hashRing32(swapHalves(col("_m2"))))
        .withColumn("_m4", hashRing32(swapHalves(col("_m3"))))
        .withColumn("vec", array(
          pmod(col("_m1"), lit(17L)) - 8, pmod(col("_m2"), lit(17L)) - 8,
          pmod(col("_m3"), lit(17L)) - 8, pmod(col("_m4"), lit(17L)) - 8))
      val qs = base
        .where(pmod(col("vec_id"), lit(149L)) === 0 &&
          pmod(col("vec_id"), lit(7L)) =!= 0)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val cs = base.where(pmod(col("vec_id"), lit(7L)) === 0)
        .select(col("vec_id").as("cid"), col("vec").as("cvec"))
      graft.similarity.Mmr.rerank(qs, "qid", "qvec", cs, "cid", "cvec", k = 3)
    },

    /** Exact ROC-AUC of a score against a binary label via the
      * Mann-Whitney rank statistic with textbook tie handling —
      * AUC = (Σ_s n_pos(s)·(2·negBelow(s) + n_neg(s))) / (2·n_pos·n_neg),
      * kept as an integer num/den pair (the ×2 absorbs the ½-credit for
      * ties, DECIMAL(38,0) absorbs 10¹²-row datasets). Counts-only at
      * every step: one exchange carries a row per DISTINCT score, the
      * cumulative window runs over that reduced frame (the equidepth
      * discipline), and the global pos/neg totals fold in the same
      * aggregate — the raw rows are never ranked.
      */
    "score_auc" -> { (s, dir) =>
      graft.operators.Stats.rocAuc(table(s, dir, "documents"),
          score = col("n_chars"),
          label = when(col("lang") === "en", 1L).otherwise(0L))
        .select(col("u2").cast("string").as("u2"), col("n_pos"), col("n_neg"))
    },

    /** Systematic PPS sampling (probability proportional to size,
      * Madow 1949 systematic form): lay every document's n_chars weight
      * end-to-end along the engine-stable hash order
      * ([[graft.operators.Packing.prefixSumBefore]] — the two-level
      * distributed prefix sum, no single-task window over records),
      * then take one sample point every S weight units. A document is
      * drawn floor-multiplicity times its weight spans sample points, so
      * inclusion probability is exactly w/S with ZERO variance in the
      * sample's total weight — the property quota-matched training mixes
      * want. All integer arithmetic (the +S shift keeps the floor
      * divisions on positive operands — truncating `div` and flooring
      * `//` agree there), so the drawn set is engine-exact.
      */
    "pps_sample" -> { (s, dir) =>
      val S = 5000L
      val d = table(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      graft.operators.Packing
        .prefixSumBefore(d, col("doc_id"), col("n_chars"), "cum_start")
        .withColumn("cum_end", col("cum_start") + col("n_chars"))
        .withColumn("multiplicity", expr(
          s"((cum_end - 1 + $S) div $S) - ((cum_start - 1 + $S) div $S)"))
        .where(col("multiplicity") > 0)
        .select(col("doc_id"), col("n_chars"), col("cum_start"),
          col("multiplicity"))
    },

    /** Hashed feature crossing (the recsys "hashing trick", Weinberger
      * et al., ICML 2009): vocabulary-index each categorical column by
      * sorted dense rank (tiny distinct frames, broadcast back), pack the
      * cross into one integer, and bucket it through the engine-stable
      * hash into 2¹⁸ feature ids. Output accounts collisions explicitly
      * (n_crosses > 1 = two distinct crosses sharing a feature id) —
      * the quantity a feature-hashing pipeline must monitor. Scale:
      * per-row arithmetic only; the single exchange carries the
      * ≤ 2¹⁸-key aggregation.
      */
    "feature_cross" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars DIV 100").as("len_class"))
      def vocab(c: String, as: String) = d.select(col(c)).distinct()
        .withColumn(as,
          dense_rank().over(Window.orderBy(col(c))).cast("long"))
      d.join(broadcast(vocab("lang", "lang_id")), Seq("lang"))
        .join(broadcast(vocab("source", "source_id")), Seq("source"))
        // fail-fast pack guard: the (·*64 + source_id)*1024 + len_class
        // packing is collision-free ONLY under source_id < 64 and
        // 0 <= len_class < 1024 — aliased crosses would silently
        // undercount n_crosses (and the oracle replays the same packing,
        // so the hash compare could not catch it)
        .withColumn("_ck", expr(
          """CASE WHEN source_id >= 64 OR len_class < 0 OR len_class >= 1024
            |  THEN CAST(raise_error(
            |    'feature_cross: pack bounds exceeded (source_id < 64, len_class in [0,1024) required)')
            |    AS BIGINT)
            |  ELSE (lang_id * 64 + source_id) * 1024 + len_class END""".stripMargin))
        .withColumn("feature_id", Sampling.hashBucket(col("_ck"), 262144))
        .groupBy(col("feature_id"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("_ck")).as("n_crosses"))
    },

    /** Deterministic 80/10/10 split via explicit multiplicative hashing —
      * stable across engines and re-runs (the oracle computes the same
      * arithmetic in DuckDB and agrees exactly).
      */
    "train_test_split" -> { (s, dir) =>
      Sampling.deterministicSplit(table(s, dir, "documents"), col("doc_id"),
        weights = Seq("train" -> 80, "valid" -> 10, "test" -> 10))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    },

    /** At most 20 documents per source, selected by deterministic hash
      * order (uniform, reproducible, exact DuckDB oracle).
      */
    "sample_per_group" -> { (s, dir) =>
      Sampling.capPerGroup(table(s, dir, "documents"), keys = Seq("source"),
        k = 20, id = col("doc_id"))
        .select(col("source"), col("doc_id"))
    },

    /** Context-window chunking: every document split into overlapping
      * 64-token windows at stride 48 (25% overlap), keyed by window
      * start. The oracle recomputes every window's text — byte equality
      * proves the slicing arithmetic end to end.
      */
    "doc_chunks" -> { (s, dir) =>
      val docs = tableSpread(s, dir, "documents")
        .withColumn("_toks", TextFunctions.tokens(col("text")))
        .filter(size(col("_toks")) > 0)
      docs.select(col("doc_id"), col("_toks"),
          explode(sequence(lit(0), size(col("_toks")) - 1, lit(48))).as("chunk_start"))
        .select(col("doc_id"), col("chunk_start"),
          array_join(slice(col("_toks"), col("chunk_start") + 1, lit(64)), " ").as("chunk"),
          least(size(col("_toks")) - col("chunk_start"), lit(64)).as("n_tokens"))
    },

    /** Temperature-weighted mixture sampling (mT5-style corpus
      * balancing): 300 documents allocated across languages ∝ sqrt(count)
      * (T=2), each language's share taken in deterministic hash order.
      * Integer-quantized weights + IEEE sqrt make the allocation — and so
      * the exact sampled row set — bit-reproducible in DuckDB.
      */
    "temperature_mix" -> { (s, dir) =>
      Sampling.temperatureMix(table(s, dir, "documents"), source = "lang",
        id = col("doc_id"), budget = 300L, temperature = 2.0)
        .select(col("lang"), col("doc_id"))
    },

    /** Token-budget mixture ([[Sampling.tokenBudgetMix]]): 20k TOKENS
      * allocated across languages ∝ sqrt(per-language token totals),
      * whole documents taken in hash order until the next would cross
      * the allocation — the budget a training run actually provisions.
      * Same integer-quantized weight algebra as `temperature_mix`, so
      * the DuckDB replay selects the identical document set.
      */
    "token_budget_mix" -> { (s, dir) =>
      Sampling.tokenBudgetMix(table(s, dir, "documents"), source = "lang",
        idCol = "doc_id", tokens = tokenCount(col("text")),
        budgetTokens = 20000L, temperature = 2.0)
        .select(col("lang"), col("doc_id"))
    },

    /** Stratified Bernoulli sample per language (seeded). The sampled
      * counts themselves are RNG-stream-specific, so the output is the
      * per-stratum population count plus a rate-tolerance boolean: the
      * observed rate must sit within 0.15 of the requested fraction. The
      * DuckDB oracle recomputes the population; a sampler that ignores
      * the fractions (or a stratum) fails the hash compare.
      */
    "stratified_sample" -> { (s, dir) =>
      val fracs = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1)
      val docs = table(s, dir, "documents")
      val sampled = Sampling.stratifiedSample(docs, strata = "lang",
        fractions = fracs, seed = 7L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      val wanted = when(col("lang") === "en", 0.5)
        .when(col("lang") === "de", 0.25).otherwise(0.1)
      docs.filter(col("lang").isin(fracs.keys.toSeq: _*))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("lang"), "left_outer")
        .select(col("lang"), col("n_total"),
          (abs(coalesce(col("n_sampled"), lit(0L)).cast("double") / col("n_total").cast("double")
            - wanted) <= 0.15).as("rate_ok"))
    },

    /** Deterministic global corpus shuffle as a position column: two-level
      * distributed prefix sum (bucketed windows + a broadcast of bucket
      * offsets) instead of the single-task global window. The DuckDB
      * oracle IS the single global window — exact equality proves the
      * distributed decomposition bit-identical.
      */
    "global_shuffle" -> { (s, dir) =>
      Packing.globalShuffle(table(s, dir, "documents"), col("doc_id"), buckets = 64)
        .select(col("doc_id"), col("shuffle_pos"))
    },

    /** Sequence packing: documents assigned to fixed-capacity training
      * sequences by cumulative token count in shuffle order, verified
      * per-pack (count + token total) against DuckDB's global running sum.
      */
    "sequence_pack" -> { (s, dir) =>
      Packing.sequencePack(table(s, dir, "documents"), col("doc_id"),
        tokens = col("n_chars"), capacity = 4096L, buckets = 64)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_tokens"))
    }
  )

  private val langCase: String = {
    val conds = TextFunctions.stopwords.zipWithIndex.dropRight(1).map { case ((lang, _), i) =>
      val later = TextFunctions.stopwords.drop(i + 1).map(_._1)
      val cond = later.map(l2 => s"s_$lang >= s_$l2").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }
    s"CASE ${conds.mkString(" ")} ELSE '${TextFunctions.stopwords.last._1}' END"
  }

  private val langScores: String =
    TextFunctions.stopwords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks_lower, t -> list_contains($list, t))) AS s_$lang"
    }.mkString(",\n       ")

  /** One oracle for `bitext_mine` AND `bitext_mine_incremental` (the
    * incremental arm is pair-for-pair equal at every oracle-checked
    * scale — it probes all cells there): the full double-precision
    * replay of both ranking directions plus the 21/20 margin over the
    * shared [[bitextFixture]].
    */
  private val bitextMineSql: String =
    """WITH src AS (
      |  SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS sv
      |  FROM embeddings WHERE label = 0 AND vec_id < 2000
      |), tg AS (
      |  SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS tv
      |  FROM embeddings WHERE label = 1
      |  UNION ALL
      |  SELECT vec_id + 900000000000 AS tid,
      |         CAST(list_transform(embedding, x -> x * CAST(2 AS FLOAT)) AS DOUBLE[]) AS tv
      |  FROM embeddings WHERE label = 0 AND vec_id < 100
      |), sc AS (
      |  SELECT sid, tid, list_cosine_similarity(sv, tv) AS c FROM src, tg
      |), r1 AS (
      |  SELECT sid, tid, c,
      |         row_number() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS r
      |  FROM sc
      |), m AS (
      |  SELECT b.sid, b.tid FROM
      |    (SELECT sid, tid, c FROM r1 WHERE r = 1) b
      |    LEFT JOIN (SELECT sid, c AS c2 FROM r1 WHERE r = 2) s2 USING (sid)
      |  WHERE b.c > 0 AND (s2.c2 IS NULL OR b.c * 20 >= s2.c2 * 21)
      |), rt AS (
      |  SELECT tid, sid,
      |         row_number() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS r
      |  FROM sc WHERE tid IN (SELECT tid FROM m)
      |)
      |SELECT m.sid AS src_id, m.tid AS tgt_id
      |FROM m JOIN rt ON m.tid = rt.tid AND rt.r = 1 AND rt.sid = m.sid""".stripMargin

  /** One exact top-k ranking oracle for `ann_bruteforce` AND
    * `stream_ann_topk` (lazy: referenced from the Seq below before this
    * line initializes): the streaming aggregate path must reproduce the
    * window path's exact ranking pair-for-pair.
    */
  private lazy val exactAnnSql: String =
    s"""SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
       |                      c.vec_id ASC) AS rank
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < $AnnQueries AND c.vec_id <> q.vec_id)
       |WHERE rank <= $AnnK""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "text_tokens" ->
      """SELECT doc_id,
        |       len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
        |       len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split(lower(text), ' '), x -> x != '') AS toks_lower
         |  FROM documents
         |), s AS (
         |  SELECT doc_id,
         |       $langScores
         |  FROM t
         |)
         |SELECT doc_id, $langCase AS pred_lang FROM s""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         length(text) AS len,
         |         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
         |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |         len(list_filter(string_split(lower(text), ' '),
         |             t -> list_contains(${TextFunctions.stopwords.flatMap(_._2).distinct.map(w => s"'$w'").mkString("[", ", ", "]")}, t))) AS n_stop
         |  FROM documents
         |)
         |SELECT doc_id, len, n_tokens, n_punct,
         |       CASE WHEN len < 20 THEN 'too_short'
         |            WHEN n_tokens < 5 THEN 'too_few_tokens'
         |            WHEN n_punct * 20 > len THEN 'too_much_punct'
         |            WHEN n_stop * 50 < n_tokens THEN 'low_stopword'
         |            ELSE 'ok' END AS bucket
         |FROM t""".stripMargin,
    "sql_text_pipeline" -> {
      val allStop = TextFunctions.stopwords.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         length(text) AS len,
         |         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
         |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |         len(list_filter(string_split(lower(text), ' '),
         |             t -> list_contains($allStop, t))) AS n_stop,
         |         list_filter(string_split(lower(text), ' '), x -> x != '') AS toks_lower
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, text, len, n_tokens, n_punct, n_stop,
         |       $langScores
         |  FROM t
         |)
         |SELECT doc_id, n_tokens,
         |       $langCase AS pred_lang,
         |       CASE WHEN len < 20 THEN 'too_short'
         |            WHEN n_tokens < 5 THEN 'too_few_tokens'
         |            WHEN n_punct * 20 > len THEN 'too_much_punct'
         |            WHEN n_stop * 50 < n_tokens THEN 'low_stopword'
         |            ELSE 'ok' END AS bucket,
         |       n_punct,
         |       len(regexp_extract_all(text, '$email')) AS n_emails,
         |       length(regexp_replace(text, '$email', '<PII>', 'g')) AS redacted_len,
         |       CASE WHEN len < 3 THEN 0 ELSE len - 2 END AS n_trigrams
         |FROM s""".stripMargin
    },
    "dedup_exact" ->
      "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups FROM documents GROUP BY text",
    "dedup_paragraph" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 80
        |), t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM all_docs
        |), c AS (
        |  SELECT doc_id, i // 10 AS cidx, array_to_string(ts[i+1 : i+10], ' ') AS chunk
        |  FROM t, UNNEST(range(0, len(ts), 10)) AS u(i)
        |  WHERE len(ts) > 0
        |), k AS (
        |  SELECT doc_id, cidx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
        |  FROM c
        |)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS text,
        |       CAST(COUNT(*) AS BIGINT) AS n_chunks_kept
        |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    "dedup_incremental" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, text FROM documents
        |            WHERE doc_id >= 400 AND doc_id < 420
        |),
        |first_in_batch AS (SELECT text, MIN(doc_id) AS keep FROM batch GROUP BY text)
        |SELECT f.keep AS doc_id FROM first_in_batch f
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = f.text)""".stripMargin,
    "flagship_datapipe" -> {
      val stop = graft.functions.TextFunctions.stopwords.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH q AS (
         |  SELECT doc_id, text,
         |         length(text) AS len,
         |         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
         |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |         len(list_filter(string_split(lower(text), ' '),
         |             t -> list_contains($stop, t))) AS n_stop
         |  FROM documents
         |), ok AS (
         |  SELECT doc_id, text, n_tokens FROM q
         |  WHERE NOT (len < 20) AND NOT (n_tokens < 5)
         |    AND NOT (n_punct * 20 > len) AND NOT (n_stop * 50 < n_tokens)
         |), keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY text
         |), survivors AS (
         |  SELECT ok.doc_id, ok.text, ok.n_tokens FROM ok JOIN keep USING (doc_id)
         |), t AS (
         |  SELECT doc_id, n_tokens,
         |         list_filter(string_split(lower(text), ' '), x -> x != '') AS toks_lower
         |  FROM survivors
         |), sc AS (
         |  SELECT doc_id, n_tokens,
         |       $langScores
         |  FROM t
         |)
         |SELECT $langCase AS lang2, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       MAX(n_tokens) AS max_tokens
         |FROM sc GROUP BY 1""".stripMargin
    },
    "dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  -- mirror the engine's df-cut: shingles in > 1000 docs are dropped
        |  -- and per-doc counts are taken over SURVIVING shingles
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT p.a, p.b, p.common, na.n AS na, nb.n AS nb,
        |       CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) AS jaccard
        |FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.5""".stripMargin,
    "knn_join" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT p.a, p.b,
        |         CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) AS jaccard
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.2
        |), e AS (
        |  SELECT a AS doc, b AS neighbor, jaccard FROM j
        |  UNION ALL
        |  SELECT b AS doc, a AS neighbor, jaccard FROM j
        |)
        |SELECT doc, neighbor, jaccard, rank FROM (
        |  SELECT doc, neighbor, jaccard,
        |         row_number() OVER (PARTITION BY doc
        |             ORDER BY jaccard DESC, neighbor ASC) AS rank
        |  FROM e)
        |WHERE rank <= 3""".stripMargin,
    "ann_bruteforce" -> exactAnnSql,
    "stream_ann_topk" -> exactAnnSql,
    "hard_negatives" ->
      s"""SELECT query_id, neighbor_id, neighbor_label, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         c.label AS neighbor_label,
         |         row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
         |                      c.vec_id ASC) AS rank
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < $AnnQueries AND c.vec_id <> q.vec_id
         |    AND c.label IS DISTINCT FROM q.label)
         |WHERE rank <= $AnnK""".stripMargin,
    "text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), t AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
        |  FROM toks WHERE term <> '' GROUP BY 1
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        |), dfr AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM t GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.term,
        |         ln((stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
        |         (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM t
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats
        |  JOIN dfr USING (term)
        |  WHERE t.term IN ('spark', 'join', 'data')
        |)
        |SELECT term, rank, doc_id FROM (
        |  SELECT term, doc_id,
        |         row_number() OVER (PARTITION BY term
        |             ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "search_ndcg" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), t AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
        |  FROM toks WHERE term <> '' GROUP BY 1
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        |), dfr AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM t GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.term,
        |         ln((stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
        |         (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM t
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats
        |  JOIN dfr USING (term)
        |  WHERE t.term IN ('spark', 'join', 'data')
        |), ranked AS (
        |  SELECT term, doc_id,
        |         row_number() OVER (PARTITION BY term
        |             ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored
        |), topk AS (
        |  SELECT term,
        |         CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END AS rel,
        |         CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929
        |                   WHEN 3 THEN 500000 WHEN 4 THEN 430676
        |                   WHEN 5 THEN 386852 WHEN 6 THEN 356207
        |                   WHEN 7 THEN 333333 WHEN 8 THEN 315464
        |                   WHEN 9 THEN 301029 ELSE 289064 END AS w
        |  FROM ranked WHERE rank <= 10
        |), agg AS (
        |  SELECT term, CAST(SUM(rel * w) AS BIGINT) AS dcg_fp,
        |         CAST(SUM(rel) AS BIGINT) AS nrel
        |  FROM topk GROUP BY 1
        |), withideal AS (
        |  SELECT term, dcg_fp,
        |         CASE nrel WHEN 1 THEN 1000000 WHEN 2 THEN 1630929
        |                   WHEN 3 THEN 2130929 WHEN 4 THEN 2561605
        |                   WHEN 5 THEN 2948457 WHEN 6 THEN 3304664
        |                   WHEN 7 THEN 3637997 WHEN 8 THEN 3953461
        |                   WHEN 9 THEN 4254490 WHEN 10 THEN 4543554
        |                   ELSE 0 END AS idcg_fp
        |  FROM agg
        |)
        |SELECT q.term, COALESCE(w.dcg_fp, 0) AS dcg_fp,
        |       COALESCE(w.idcg_fp, 0) AS idcg_fp,
        |       CAST(COALESCE((100 * w.dcg_fp) // NULLIF(w.idcg_fp, 0), 0) AS BIGINT)
        |         AS ndcg_pct
        |FROM (VALUES ('spark'), ('join'), ('data')) AS q(term)
        |LEFT JOIN withideal w ON q.term = w.term""".stripMargin,
    "search_rm3" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), t AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
        |  FROM toks WHERE term <> '' GROUP BY 1
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        |), dfr AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM t GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.term,
        |         ln((stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
        |         (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM t
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats
        |  JOIN dfr USING (term)
        |), top5 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC)
        |             AS rank
        |    FROM scored WHERE term = 'spark')
        |  WHERE rank <= 5
        |), exp AS (
        |  SELECT term FROM toks JOIN top5 USING (doc_id)
        |  WHERE term <> 'spark' AND term <> ''
        |  GROUP BY term ORDER BY COUNT(*) DESC, term ASC LIMIT 3
        |), qterms AS (
        |  SELECT term FROM exp UNION ALL SELECT 'spark' AS term
        |), legs AS (
        |  SELECT 'spark' AS query, doc_id, rank FROM (
        |    SELECT term, doc_id,
        |           row_number() OVER (PARTITION BY term
        |               ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM scored WHERE term IN (SELECT term FROM qterms))
        |  WHERE rank <= 20
        |), fused AS (
        |  SELECT query, doc_id,
        |         CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_fp
        |  FROM legs GROUP BY 1, 2
        |)
        |SELECT query, rank, doc_id, rrf_fp FROM (
        |  SELECT query, doc_id, rrf_fp,
        |         row_number() OVER (PARTITION BY query
        |             ORDER BY rrf_fp DESC, doc_id ASC) AS rank
        |  FROM fused)
        |WHERE rank <= 10""".stripMargin,
    "search_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), t AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
        |  FROM toks WHERE term <> '' GROUP BY 1
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        |), dfr AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM t GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.term,
        |         ln((stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
        |         (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM t
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats
        |  JOIN dfr USING (term)
        |  WHERE t.term IN ('spark', 'join', 'data')
        |), lex AS (
        |  SELECT term AS query, doc_id, rank FROM (
        |    SELECT term, doc_id,
        |           row_number() OVER (PARTITION BY term
        |               ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 20
        |), dense AS (
        |  SELECT CASE query_id WHEN 0 THEN 'spark' WHEN 1 THEN 'join'
        |                       ELSE 'data' END AS query,
        |         neighbor_id AS doc_id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id
        |               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                        c.vec_id ASC) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id)
        |  WHERE rank <= 20
        |), fused AS (
        |  SELECT query, doc_id,
        |         CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_fp
        |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
        |  GROUP BY 1, 2
        |)
        |SELECT query, rank, doc_id, rrf_fp FROM (
        |  SELECT query, doc_id, rrf_fp,
        |         row_number() OVER (PARTITION BY query
        |             ORDER BY rrf_fp DESC, doc_id ASC) AS rank
        |  FROM fused)
        |WHERE rank <= 10""".stripMargin,
    "search_mrr" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), t AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
        |  FROM toks WHERE term <> '' GROUP BY 1
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        |), dfr AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM t GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.term,
        |         ln((stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
        |         (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM t
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats
        |  JOIN dfr USING (term)
        |  WHERE t.term IN ('spark', 'join', 'data')
        |), ranked AS (
        |  SELECT term, doc_id,
        |         row_number() OVER (PARTITION BY term
        |             ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored
        |), firstrel AS (
        |  SELECT term, MIN(rank) AS first_rel FROM ranked
        |  WHERE rank <= 20 AND doc_id % 10 = 3 GROUP BY 1
        |)
        |SELECT q.term,
        |       CAST(COALESCE(1000000 // f.first_rel, 0) AS BIGINT) AS rr_fp
        |FROM (VALUES ('spark'), ('join'), ('data')) AS q(term)
        |LEFT JOIN firstrel f ON q.term = f.term""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT p.a, p.b
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.5
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION
        |  SELECT b, a FROM pairs
        |), reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |)
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |FROM reach GROUP BY src""".stripMargin,
    "dedup_source_matrix" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT p.a, p.b
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.5
        |)
        |SELECT LEAST(da.source, db.source) AS source_lo,
        |       GREATEST(da.source, db.source) AS source_hi,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pairs
        |JOIN documents da ON pairs.a = da.doc_id
        |JOIN documents db ON pairs.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), contained AS (
        |  SELECT CASE WHEN na.n < nb.n THEN p.a
        |              WHEN na.n > nb.n THEN p.b
        |              ELSE GREATEST(p.a, p.b) END AS victim
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / LEAST(na.n, nb.n) >= 0.9
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT victim FROM contained)""".stripMargin,
    "split_dedup_safe" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT p.a, p.b
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.5
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION
        |  SELECT b, a FROM pairs
        |), reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), comp AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |  FROM reach GROUP BY src
        |), g AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |), b AS (
        |  SELECT doc_id, group_id,
        |         ((((((group_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |           + (group_id & 65535) * 2654435761) % 4294967296) % 100 AS bucket
        |  FROM g
        |)
        |SELECT doc_id, group_id,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "split_leakage_audit" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT p.a, p.b
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.5
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION
        |  SELECT b, a FROM pairs
        |), reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), comp AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |  FROM reach GROUP BY src
        |), g AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS gid
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |), bsafe AS (
        |  SELECT doc_id,
        |         CASE WHEN ((((((gid & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                    + (gid & 65535) * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
        |              WHEN ((((((gid & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                    + (gid & 65535) * 2654435761) % 4294967296) % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM g
        |), bnaive AS (
        |  SELECT doc_id,
        |         CASE WHEN ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                    + (doc_id & 65535) * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
        |              WHEN ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                    + (doc_id & 65535) * 2654435761) % 4294967296) % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs p
        |        JOIN bsafe x ON p.a = x.doc_id JOIN bsafe y ON p.b = y.doc_id
        |        WHERE x.split <> y.split) AS n_cross_safe,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs p
        |        JOIN bnaive x ON p.a = x.doc_id JOIN bnaive y ON p.b = y.doc_id
        |        WHERE x.split <> y.split) AS n_cross_naive""".stripMargin,
    "quality_linear" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM documents
        |), vocab AS (
        |  SELECT DISTINCT unnest(ts) AS term FROM toks
        |), w AS (
        |  SELECT term,
        |         CAST((length(term) * 137 + ascii(term) * 31
        |               + ascii(reverse(term)) * 17) % 1001 - 500 AS BIGINT) AS weight_fp
        |  FROM vocab
        |), ex AS (
        |  SELECT doc_id, unnest(ts) AS term FROM toks
        |), m AS (
        |  SELECT e.doc_id, CAST(SUM(w.weight_fp) AS BIGINT) AS margin_fp
        |  FROM ex e JOIN w USING (term) GROUP BY 1
        |)
        |SELECT d.doc_id, COALESCE(m.margin_fp, 0) AS margin_fp,
        |       COALESCE(m.margin_fp, 0) >= 0 AS margin_fp_keep
        |FROM documents d LEFT JOIN m USING (doc_id)""".stripMargin,
    "collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM documents
        |), bi AS (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |                i -> struct_pack(x := ts[i], y := ts[i+1]))) AS p
        |  FROM toks
        |), bc AS (
        |  SELECT p.x AS x, p.y AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM bi GROUP BY 1, 2
        |), un AS (
        |  SELECT unnest(ts) AS t FROM toks
        |), uc AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM un GROUP BY 1
        |), nn AS (
        |  SELECT CAST(SUM(n_xy) AS HUGEINT) AS n FROM bc
        |)
        |SELECT bc.x, bc.y, bc.n_xy,
        |       CAST((CAST(bc.n_xy AS HUGEINT) * nn.n * 1000000)
        |            // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS score_fp
        |FROM bc JOIN uc a ON bc.x = a.t JOIN uc b ON bc.y = b.t
        |CROSS JOIN nn
        |WHERE bc.n_xy >= 5
        |ORDER BY score_fp DESC, bc.x DESC, bc.y DESC
        |LIMIT 20""".stripMargin,
    "dedup_canonical" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ts) - 3),
        |                       i -> array_to_string(ts[i:i+4], ' '))) AS shs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |        FROM documents)
        |), ex0 AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh
        |), keep AS (
        |  SELECT sh FROM ex0 GROUP BY sh HAVING COUNT(*) <= 1000
        |), ex AS (
        |  SELECT e.doc_id, e.sh FROM ex0 e JOIN keep USING (sh)
        |), n AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT p.a, p.b
        |  FROM p JOIN n na ON p.a = na.doc_id JOIN n nb ON p.b = nb.doc_id
        |  WHERE CAST(p.common AS DOUBLE) / (na.n + nb.n - p.common) >= 0.5
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION
        |  SELECT b, a FROM pairs
        |), reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), comp AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |  FROM reach GROUP BY src
        |), toks AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x != '')) AS nt
        |  FROM documents
        |), m AS (
        |  SELECT t.doc_id, COALESCE(c.component, t.doc_id) AS component, t.nt
        |  FROM toks t LEFT JOIN comp c USING (doc_id)
        |), r AS (
        |  SELECT component, doc_id,
        |         row_number() OVER (PARTITION BY component
        |                            ORDER BY nt DESC, doc_id ASC) AS rn
        |  FROM m
        |)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_id
        |FROM r GROUP BY component""".stripMargin,
    "vocab_index" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''
        |  GROUP BY 1, 2
        |)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |       CAST(SUM(tf) AS BIGINT) AS total_tf,
        |       CAST(MAX(tf) AS BIGINT) AS max_tf
        |FROM tf GROUP BY 1""".stripMargin,
    "oov_rate" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |t AS (SELECT lang, term FROM toks WHERE term <> ''),
        |counts AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1
        |),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY n DESC, term ASC) AS r
        |    FROM counts
        |  ) WHERE r <= 1000
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) /
        |         CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM t LEFT JOIN vocab v USING (term)
        |GROUP BY 1""".stripMargin,
    "doc_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2
        |),
        |df AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |),
        |r AS (
        |  SELECT doc_id, term, tf, df,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |              ORDER BY tf DESC, df ASC, term ASC) AS BIGINT) AS rank
        |  FROM tf JOIN df USING (term)
        |)
        |SELECT doc_id, rank, term, tf, df FROM r WHERE rank <= 3""".stripMargin,
    "train_test_split" ->
      """WITH b AS (
        |  SELECT ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |           + (doc_id & 65535) * 2654435761) % 4294967296) % 100 AS bucket,
        |         n_chars
        |  FROM documents
        |)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid'
        |            ELSE 'test' END AS split,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM b GROUP BY 1""".stripMargin,
    "sample_per_group" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |             ORDER BY ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                       + (doc_id & 65535) * 2654435761) % 4294967296) % 1073741824 ASC,
        |                      doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin,
    "flagship_training_mix" ->
      """WITH n AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
        |), a AS (
        |  SELECT lang,
        |         LEAST(n, CAST(FLOOR(300.0 *
        |             CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) /
        |             CAST((SELECT SUM(CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT))
        |                   FROM n) AS DOUBLE)) AS BIGINT)) AS alloc
        |  FROM n
        |), r AS (
        |  SELECT lang, doc_id, text,
        |         row_number() OVER (PARTITION BY lang
        |             ORDER BY ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                       + (doc_id & 65535) * 2654435761) % 4294967296) % 1073741824 ASC,
        |                      doc_id ASC) AS rn
        |  FROM documents
        |), sampled AS (
        |  SELECT r.lang, r.doc_id,
        |         list_filter(string_split(r.text, ' '), x -> x != '') AS ts
        |  FROM r JOIN a USING (lang) WHERE rn <= a.alloc
        |), chunks AS (
        |  SELECT lang, doc_id, LEAST(len(ts) - i, 64) AS chunk_tokens
        |  FROM sampled, UNNEST(range(0, len(ts), 48)) AS u(i)
        |  WHERE len(ts) > 0
        |)
        |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |       CAST(SUM(chunk_tokens) AS BIGINT) AS total_chunk_tokens
        |FROM chunks GROUP BY 1""".stripMargin,
    "doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM documents
        |)
        |SELECT doc_id, i AS chunk_start,
        |       array_to_string(ts[i+1 : i+64], ' ') AS chunk,
        |       LEAST(len(ts) - i, 64) AS n_tokens
        |FROM t, UNNEST(range(0, len(ts), 48)) AS u(i)
        |WHERE len(ts) > 0""".stripMargin,
    "temperature_mix" ->
      """WITH n AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
        |), a AS (
        |  SELECT lang,
        |         LEAST(n, CAST(FLOOR(300.0 *
        |             CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) /
        |             CAST((SELECT SUM(CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT))
        |                   FROM n) AS DOUBLE)) AS BIGINT)) AS alloc
        |  FROM n
        |), r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |             ORDER BY ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                       + (doc_id & 65535) * 2654435761) % 4294967296) % 1073741824 ASC,
        |                      doc_id ASC) AS rn
        |  FROM documents
        |)
        |SELECT r.lang, r.doc_id FROM r JOIN a USING (lang) WHERE rn <= a.alloc""".stripMargin,
    "token_budget_mix" ->
      """WITH tk AS (
        |  SELECT lang, doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS tok
        |  FROM documents
        |), n AS (
        |  SELECT lang, CAST(SUM(tok) AS BIGINT) AS n FROM tk GROUP BY 1
        |), a AS (
        |  SELECT lang,
        |         LEAST(n, CAST(FLOOR(20000.0 *
        |             CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) /
        |             CAST((SELECT SUM(CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT))
        |                   FROM n) AS DOUBLE)) AS BIGINT)) AS alloc
        |  FROM n
        |), r AS (
        |  SELECT lang, doc_id,
        |         SUM(tok) OVER (PARTITION BY lang
        |             ORDER BY ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                       + (doc_id & 65535) * 2654435761) % 4294967296) % 1073741824 ASC,
        |                      doc_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk
        |)
        |SELECT r.lang, r.doc_id FROM r JOIN a USING (lang) WHERE cum <= a.alloc""".stripMargin,
    "text_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN text || ' contact user' || doc_id || '@example.com now'
        |              ELSE text END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |       length(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'))
        |         AS redacted_len
        |FROM t""".stripMargin,
    // the oracle canonicalizes BOTH generated urls through its own full
    // DuckDB pipeline (stacked via w=0/1, one pass, re-joined) — a
    // differential test of every rule, not a literal-expectation check
    "url_canonicalize" -> {
      val chain = urlCanonCtes("s", Seq("w"))
      s"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |    source || '.Example.COM' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN ':80'
        |          WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END) ||
        |    '/' || lang || '/Doc/' || doc_id ||
        |    (CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '?utm_source=feed&b=2&a=1'
        |          WHEN 2 THEN '?z=9&utm_campaign=x&a=1#frag' ELSE '#top' END) AS raw0,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |    source || '.example.com' ||
        |    (CASE WHEN doc_id % 2 <> 0 AND doc_id % 5 = 1 THEN ':8443' ELSE '' END) ||
        |    '/' || lang || '/Doc/' || doc_id ||
        |    (CASE doc_id % 4 WHEN 1 THEN '?b=2&a=1&gclid=g1'
        |          WHEN 2 THEN '?a=1&z=9#other' ELSE '' END) AS raw1
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, 0 AS w, raw0 AS raw FROM u
        |  UNION ALL SELECT doc_id, 1, raw1 FROM u
        |), $chain
        |SELECT a.doc_id, a.cu AS canonical_url, a.host AS host,
        |       a.cu = b.cu AS collapsed
        |FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.w = 0 AND b.w = 1""".stripMargin
    },
    // same three patterns, same chain order (email -> ip -> phone) — the
    // scrubbed text must match byte-for-byte
    "text_pii" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
      val phone = "\\+\\d{2} \\d{3}-\\d{4}"
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |           THEN text || ' reach user' || doc_id || '@example.com now'
         |         WHEN doc_id % 5 = 1
         |           THEN 'from 10.' || (doc_id % 250) || '.0.' || (doc_id % 200)
         |                || ' ' || text
         |         WHEN doc_id % 5 = 2
         |           THEN text || ' call +12 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |         WHEN doc_id % 5 = 3
         |           THEN 'mix 192.168.1.1 and a@b.io ' || text
         |         ELSE text END AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '$email')) AS n_emails,
         |       len(regexp_extract_all(t, '$ip')) AS n_ips,
         |       len(regexp_extract_all(t, '$phone')) AS n_phones,
         |       regexp_replace(regexp_replace(regexp_replace(t,
         |         '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'),
         |         '$phone', '[PHONE]', 'g') AS clean
         |FROM t""".stripMargin
    },
    // same full canonicalization pipeline as the url_canonicalize oracle,
    // then the host rollup — n_pages counts DISTINCT canonical urls, so a
    // wrong canonicalizer shows up as a wrong page count per host
    "host_stats" -> {
      val chain = urlCanonCtes("u", Seq("lang", "n_chars"))
      s"""WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |    source || '.Example.COM' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END) ||
        |    '/' || lang || '/page/' || (doc_id % 50) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/'
        |          WHEN doc_id % 4 = 1 THEN '?utm_source=feed&b=2&a=1' ELSE '' END) AS raw
        |  FROM documents
        |), $chain
        |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT cu) AS BIGINT) AS n_pages,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM g GROUP BY host""".stripMargin
    },
    // same canonicalization chain, then the label-suffix blocklist replay:
    // a host is blocked iff ANY of its dot-suffixes equals a pattern.
    // ONE definition feeds both the batch and the streaming twin — the
    // broadcast hash-probe path must be semantics-identical to the join
    // path, so the oracles must be literally the same SQL.
    "url_blocklist" -> urlBlocklistSql,
    "stream_url_blocklist" -> urlBlocklistSql,
    // full double-precision replay of both ranking directions + the
    // 21/20 margin: spurious pairs and dropped plants both fail the hash.
    // ONE SQL for both bitext queries: at every oracle-checked scale the
    // incremental arm probes all cells (nProbe = nCells), which is
    // fuzz-pinned pair-for-pair equal to the exact ranking this replays.
    "bitext_mine" -> bitextMineSql,
    "bitext_mine_incremental" -> bitextMineSql,
    // recomputes the line-frequency table, the >= 10-distinct-docs
    // threshold, the removal of EVERY occurrence, and the in-order
    // reassembly — byte equality of clean_text checks all four
    "boilerplate_strip" ->
      s"""$boilerplateMtextSql, hot AS (
        |  SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10
        |), k AS (
        |  SELECT doc_id, idx, line FROM l
        |  WHERE line NOT IN (SELECT line FROM hot)
        |)
        |SELECT t.doc_id,
        |       coalesce(string_agg(k.line, chr(10) ORDER BY k.idx), '') AS clean_text,
        |       CAST(len(t.ls) AS BIGINT) AS n_lines,
        |       CAST(len(t.ls) - COUNT(k.line) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN k USING (doc_id)
        |GROUP BY t.doc_id, len(t.ls)""".stripMargin,
    // hot set from the corpus half ONLY (doc_id < 400) — a line frequent
    // within the batch but absent from the index must SURVIVE, which is
    // the semantic difference from the batch oracle above
    "boilerplate_strip_incremental" ->
      s"""$boilerplateMtextSql, hot AS (
        |  SELECT line FROM l WHERE doc_id < 400
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10
        |), bt AS (
        |  SELECT doc_id, ls FROM t WHERE doc_id >= 400
        |), k AS (
        |  SELECT doc_id, idx, line FROM l
        |  WHERE doc_id >= 400 AND line NOT IN (SELECT line FROM hot)
        |)
        |SELECT bt.doc_id,
        |       coalesce(string_agg(k.line, chr(10) ORDER BY k.idx), '') AS clean_text,
        |       CAST(len(bt.ls) AS BIGINT) AS n_lines,
        |       CAST(len(bt.ls) - COUNT(k.line) AS BIGINT) AS n_removed
        |FROM bt LEFT JOIN k USING (doc_id)
        |GROUP BY bt.doc_id, len(bt.ls)""".stripMargin,
    // identical semantics to boilerplate_strip_incremental (same index,
    // same batch) — the engine-side difference is the streaming per-row
    // path, which this differential proves equal to the batch anti-join
    "stream_boilerplate" ->
      s"""$boilerplateMtextSql, hot AS (
        |  SELECT line FROM l WHERE doc_id < 400
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10
        |), bt AS (
        |  SELECT doc_id, ls FROM t WHERE doc_id >= 400
        |), k AS (
        |  SELECT doc_id, idx, line FROM l
        |  WHERE doc_id >= 400 AND line NOT IN (SELECT line FROM hot)
        |)
        |SELECT bt.doc_id,
        |       coalesce(string_agg(k.line, chr(10) ORDER BY k.idx), '') AS clean_text,
        |       CAST(len(bt.ls) AS BIGINT) AS n_lines,
        |       CAST(len(bt.ls) - COUNT(k.line) AS BIGINT) AS n_removed
        |FROM bt LEFT JOIN k USING (doc_id)
        |GROUP BY bt.doc_id, len(bt.ls)""".stripMargin,
    // chr(769) = U+0301 combining acute (decomposed form), chr(233) = é,
    // chr(201) = É — the oracle runs DuckDB's OWN nfc_normalize/lower/
    // regexp pipeline, a differential test of the normalization rules
    "text_normalize" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN '  Cafe' || chr(769) || ' ' || chr(160)
        |                                  || 'MENU' || chr(9) || chr(12288) || text
        |         WHEN doc_id % 4 = 1 THEN 'caf' || chr(233) || ' menu ' || text || ' '
        |         WHEN doc_id % 4 = 2 THEN text || chr(10) || chr(10) || 'END' || chr(201)
        |         ELSE text END AS m
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, m,
        |    trim(regexp_replace(lower(nfc_normalize(m)),
        |         '[' || chr(9) || '-' || chr(13) || chr(28) || '-' || chr(31)
        |             || '\p{Z}]+', ' ', 'g')) AS norm_text
        |  FROM t
        |)
        |SELECT doc_id, norm_text, norm_text = m AS unchanged FROM n""".stripMargin,
    "text_repetition" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       CAST(MAX(tf) AS BIGINT) AS top_tf,
        |       MAX(tf) * 10 > SUM(tf) * 3 AS repetitive
        |FROM tf GROUP BY 1""".stripMargin,
    // exact all-pairs cosine over the SAME planted-augmented table the
    // engine dedups — catches both dropped planted pairs and spurious hits
    "dedup_embedding" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> x * CAST(2 AS FLOAT))
        |  FROM embeddings WHERE vec_id < 20
        |)
        |SELECT a.vec_id AS a, b.vec_id AS b
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9""".stripMargin,
    "ann_lsh" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST($AnnK * COUNT(*) AS BIGINT) AS n_relevant,
         |       TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $AnnQueries""".stripMargin,
    "ann_ivf" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST($AnnK * COUNT(*) AS BIGINT) AS n_relevant,
         |       TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $AnnQueries""".stripMargin,
    "ann_ivf_int8" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST($AnnK * COUNT(*) AS BIGINT) AS n_relevant,
         |       TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $AnnQueries""".stripMargin,
    "ann_ivf_incremental" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST($AnnK * COUNT(*) AS BIGINT) AS n_relevant,
         |       TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $AnnQueries""".stripMargin,
    "embedding_quantize" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS fidelity_ok FROM embeddings",
    "stratified_sample" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total, TRUE AS rate_ok
        |FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY 1""".stripMargin,
    "dedup_minhash" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, CAST(COUNT(*) AS BIGINT) AS n_recalled
        |FROM documents
        |WHERE doc_id < 60
        |  AND len(list_filter(string_split(text, ' '), x -> x != '')) >= 50""".stripMargin,
    "dedup_simhash" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, CAST(COUNT(*) AS BIGINT) AS n_recalled
        |FROM documents WHERE doc_id < 60""".stripMargin,
    "dedup_embedding_incremental" ->
      "SELECT vec_id FROM embeddings WHERE vec_id >= 400",
    "dedup_simhash_incremental" ->
      """SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 60) +
        |            (SELECT COUNT(*) FROM documents WHERE doc_id >= 400 AND doc_id < 420)
        |       AS BIGINT) AS n_planted,
        |       CAST(0 AS BIGINT) AS n_planted_surviving""".stripMargin,
    // exact-Jaccard survivor set: batch doc x (>= 400) survives iff no
    // doc with a smaller id (corpus OR earlier batch) has 3-shingle
    // J >= 0.5. Plants never drop base docs (their ids are larger), and
    // every plant is itself dropped (J ~ 0.96 vs its source), so the
    // result is exactly the surviving base docs.
    "dedup_minhash_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
        |                 i -> array_to_string(ts[i:i+2], ' '))) AS shs
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS s FROM sh
        |), n AS (
        |  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
        |), p AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y, COUNT(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s
        |  WHERE a.doc_id >= 400 AND b.doc_id < a.doc_id
        |  GROUP BY 1, 2
        |), dropped AS (
        |  SELECT DISTINCT p.x FROM p
        |  JOIN n na ON p.x = na.doc_id JOIN n nb ON p.y = nb.doc_id
        |  WHERE CAST(p.c AS DOUBLE) / (na.n + nb.n - p.c) >= 0.5
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT x FROM dropped)""".stripMargin,
    "text_fingerprint" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, CAST(COUNT(*) AS BIGINT) AS n_contained
        |FROM documents WHERE doc_id < 60 AND length(text) >= 40""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id,
        |       CAST(n_chars % 31 + 1 AS INT) AS width,
        |       CAST(doc_id % 17 + 1 AS INT) AS height,
        |       CAST((n_chars % 31 + 1) * (doc_id % 17 + 1) * (doc_id * 7 % 256) AS BIGINT) AS red_sum
        |FROM documents""".stripMargin,
    "multimodal_frame_dedup" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(0, doc_id % 7 + 2)) AS fi FROM documents
        |), f AS (
        |  SELECT doc_id, fi, (doc_id * 13 + fi * 7) % 256 AS fp FROM fr
        |), fst AS (
        |  SELECT fp, MIN(doc_id * 1000 + fi) AS firstkey FROM f GROUP BY 1
        |)
        |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(CASE WHEN f.doc_id * 1000 + f.fi <> fst.firstkey
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_frames
        |FROM f JOIN fst USING (fp)
        |GROUP BY 1""".stripMargin,
    "multimodal_resize" ->
      """SELECT doc_id,
        |       CAST((n_chars % 31 + 2) // 2 AS INT) AS out_width,
        |       CAST((doc_id % 17 + 2) // 2 AS INT) AS out_height,
        |       CAST(((n_chars % 31 + 2) // 2) * ((doc_id % 17 + 2) // 2) *
        |            (doc_id * 7 % 256) AS BIGINT) AS red_sum
        |FROM documents""".stripMargin,
    // the oracle is the naive single-window formulation the distributed
    // two-level prefix sum must equal bit-for-bit
    "global_shuffle" ->
      """SELECT doc_id,
        |       row_number() OVER (
        |         ORDER BY ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |                   + (doc_id & 65535) * 2654435761) % 4294967296) % 1073741824 ASC,
        |                  doc_id ASC) AS shuffle_pos
        |FROM documents""".stripMargin,
    "sequence_pack" ->
      """WITH ordered AS (
        |  SELECT doc_id, n_chars,
        |         ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |          + (doc_id & 65535) * 2654435761) % 4294967296) % 1073741824 AS ord
        |  FROM documents
        |), packed AS (
        |  SELECT n_chars,
        |         CAST(FLOOR(COALESCE(SUM(n_chars) OVER (ORDER BY ord, doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT)
        |           AS pack_id
        |  FROM ordered
        |)
        |SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY 1""".stripMargin,
    "multimodal_audio" ->
      """SELECT doc_id,
        |       CAST(doc_id % 100 + 1 AS BIGINT) AS n_samples,
        |       8000 AS sample_rate,
        |       CAST(list_sum(list_transform(range(0, doc_id % 100 + 1), i -> (doc_id + i) % 256)) AS BIGINT)
        |         AS sample_sum
        |FROM documents""".stripMargin,
    "heavy_hitters" ->
      """WITH tf AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |t2 AS (SELECT term FROM tf WHERE term <> ''),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t2)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       (SELECT n FROM tot) AS total
        |FROM t2 GROUP BY 1
        |HAVING COUNT(*) * 200 >= (SELECT n FROM tot)""".stripMargin,

    "mmr_rerank" -> {
      val ring = AnalyticsQueries.ring32Sql _
      val swap = AnalyticsQueries.swapSql _
      s"""WITH v0 AS (
         |  SELECT vec_id, ${ring("(vec_id + 5)")} AS m1 FROM embeddings),
         |v1 AS (SELECT vec_id, m1, ${ring(swap("m1"))} AS m2 FROM v0),
         |vv AS (SELECT vec_id, m1, m2, ${ring(swap("m2"))} AS m3 FROM v1),
         |v3 AS (SELECT vec_id, m1, m2, m3, ${ring(swap("m3"))} AS m4 FROM vv),
         |v AS (
         |  SELECT vec_id, m1 % 17 - 8 AS a, m2 % 17 - 8 AS b,
         |         m3 % 17 - 8 AS c, m4 % 17 - 8 AS d
         |  FROM v3),
         |q AS (
         |  SELECT vec_id AS qid, a AS qa, b AS qb, c AS qc, d AS qd
         |  FROM v WHERE vec_id % 149 = 0 AND vec_id % 7 <> 0),
         |cd AS (
         |  SELECT vec_id AS cid, a, b, c, d FROM v WHERE vec_id % 7 = 0),
         |s AS (
         |  SELECT qid, cid, qa*a + qb*b + qc*c + qd*d AS rel, a, b, c, d
         |  FROM q CROSS JOIN cd),
         |r1 AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, cid) AS rn
         |  FROM s),
         |sel1 AS (SELECT qid, cid, rel, a, b, c, d FROM r1 WHERE rn = 1),
         |s2 AS (
         |  SELECT s.qid, s.cid, s.rel, s.a, s.b, s.c, s.d,
         |         s.a*t.a + s.b*t.b + s.c*t.c + s.d*t.d AS sim1
         |  FROM s JOIN sel1 t ON t.qid = s.qid AND s.cid <> t.cid),
         |r2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel - sim1 DESC, rel DESC, cid) AS rn
         |  FROM s2),
         |sel2 AS (
         |  SELECT qid, cid, rel, rel - sim1 AS score2, a, b, c, d
         |  FROM r2 WHERE rn = 1),
         |s3 AS (
         |  SELECT s2.qid, s2.cid, s2.rel,
         |         GREATEST(s2.sim1,
         |                  s2.a*u.a + s2.b*u.b + s2.c*u.c + s2.d*u.d)
         |           AS maxsim
         |  FROM s2 JOIN sel2 u ON u.qid = s2.qid AND s2.cid <> u.cid),
         |r3 AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel - maxsim DESC, rel DESC, cid) AS rn
         |  FROM s3),
         |sel3 AS (
         |  SELECT qid, cid, rel, rel - maxsim AS score2 FROM r3 WHERE rn = 1)
         |SELECT qid, CAST(1 AS BIGINT) AS step, cid,
         |       CAST(rel AS BIGINT) AS rel, CAST(rel AS BIGINT) AS score2x
         |FROM sel1
         |UNION ALL
         |SELECT qid, CAST(2 AS BIGINT), cid, CAST(rel AS BIGINT),
         |       CAST(score2 AS BIGINT)
         |FROM sel2
         |UNION ALL
         |SELECT qid, CAST(3 AS BIGINT), cid, CAST(rel AS BIGINT),
         |       CAST(score2 AS BIGINT)
         |FROM sel3""".stripMargin
    },

    "score_auc" ->
      """WITH d AS (
        |  SELECT n_chars AS score,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |ps AS (
        |  SELECT score, SUM(label) AS n_pos_s,
        |         COUNT(*) - SUM(label) AS n_neg_s
        |  FROM d GROUP BY score),
        |c AS (
        |  SELECT score, n_pos_s, n_neg_s,
        |         COALESCE(SUM(n_neg_s) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS neg_below
        |  FROM ps)
        |SELECT CAST(SUM(CAST(n_pos_s AS DECIMAL(38,0))
        |                * (neg_below * 2 + n_neg_s)) AS VARCHAR) AS u2,
        |       CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
        |       CAST(SUM(n_neg_s) AS BIGINT) AS n_neg
        |FROM c""".stripMargin,

    "pps_sample" ->
      """WITH o AS (
        |  SELECT doc_id, n_chars,
        |         ((((((doc_id & 4294967295) >> 16) * 2654435761) % 4294967296)
        |            * 65536 + (doc_id & 65535) * 2654435761) % 4294967296)
        |           % 1073741824 AS ord
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_chars,
        |         COALESCE(SUM(n_chars) OVER (ORDER BY ord, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_start
        |  FROM o)
        |SELECT doc_id, n_chars, CAST(cum_start AS BIGINT) AS cum_start,
        |       CAST(((cum_start + n_chars - 1 + 5000) // 5000)
        |              - ((cum_start - 1 + 5000) // 5000) AS BIGINT)
        |         AS multiplicity
        |FROM p
        |WHERE ((cum_start + n_chars - 1 + 5000) // 5000)
        |        - ((cum_start - 1 + 5000) // 5000) > 0""".stripMargin,

    "feature_cross" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source, n_chars // 100 AS len_class
        |  FROM documents),
        |lid AS (
        |  SELECT lang, CAST(DENSE_RANK() OVER (ORDER BY lang) AS BIGINT)
        |           AS lang_id
        |  FROM (SELECT DISTINCT lang FROM t)),
        |sid AS (
        |  SELECT source, CAST(DENSE_RANK() OVER (ORDER BY source) AS BIGINT)
        |           AS source_id
        |  FROM (SELECT DISTINCT source FROM t)),
        |ck AS (
        |  SELECT (lang_id * 64 + source_id) * 1024 + len_class AS _ck
        |  FROM t JOIN lid USING (lang) JOIN sid USING (source))
        |SELECT ((((((_ck & 4294967295) >> 16) * 2654435761) % 4294967296)
        |          * 65536 + (_ck & 65535) * 2654435761) % 4294967296)
        |         % 262144 AS feature_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(DISTINCT _ck) AS BIGINT) AS n_crosses
        |FROM ck GROUP BY feature_id""".stripMargin,

    "count_min" ->
      """WITH salts AS (
        |  SELECT UNNEST([CAST(0 AS BIGINT), CAST(1 AS BIGINT),
        |                 CAST(2 AS BIGINT), CAST(3 AS BIGINT)]) AS d),
        |hashed AS (
        |  SELECT s.d,
        |         ((((((l_partkey + s.d * 2971215073) & 4294967295) >> 16)
        |              * 2654435761) % 4294967296 * 65536
        |           + ((l_partkey + s.d * 2971215073) & 65535) * 2654435761)
        |          % 4294967296) % 1024 AS bucket
        |  FROM lineitem CROSS JOIN salts s),
        |sketch AS (
        |  SELECT d, bucket, COUNT(*) AS cnt FROM hashed GROUP BY d, bucket),
        |qk AS (SELECT p_partkey FROM part WHERE p_partkey % 97 = 0),
        |qh AS (
        |  SELECT p_partkey, s.d,
        |         ((((((p_partkey + s.d * 2971215073) & 4294967295) >> 16)
        |              * 2654435761) % 4294967296 * 65536
        |           + ((p_partkey + s.d * 2971215073) & 65535) * 2654435761)
        |          % 4294967296) % 1024 AS bucket
        |  FROM qk CROSS JOIN salts s),
        |est AS (
        |  SELECT p_partkey, MIN(COALESCE(sk.cnt, 0)) AS cm_est
        |  FROM qh LEFT JOIN sketch sk USING (d, bucket)
        |  GROUP BY p_partkey),
        |tr AS (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey)
        |SELECT p_partkey, CAST(cm_est AS BIGINT) AS cm_est,
        |       CAST(COALESCE(tr.c, 0) AS BIGINT) AS true_cnt
        |FROM est LEFT JOIN tr ON tr.l_partkey = est.p_partkey""".stripMargin,
    "multimodal_video" ->
      """SELECT doc_id,
        |       CAST(doc_id % 7 + 2 AS INTEGER) AS n_frames,
        |       CAST((doc_id % 7 + 2 + 1) // 2 AS INTEGER) AS n_sampled,
        |       CAST(list_sum(list_transform(range(0, doc_id % 7 + 2, 2),
        |              i -> (doc_id % 5 + 1) * (doc_id % 3 + 1) * ((doc_id * 13 + i * 7) % 256)))
        |         AS BIGINT) AS pixel_sum
        |FROM documents""".stripMargin
  )
}
