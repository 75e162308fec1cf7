package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probes: synthesize pseudo-sf1 (10 copies) and pseudo-sf10 (100
  * copies) locally from the sf0.1 fixtures and measure the most
  * expensive queries across the decades, so the 100 TB scale story rests
  * on MEASURED 10x/100x runs, not only on plan audits.
  *
  * `runMain graft.tools.Scale10 [synth|probe|sf10|stream|all] [outDir]`:
  * - `synth`  — write the pseudo-sf1 tables to outDir
  * - `probe`  — time [[PROBE]] at sf0.1 vs pseudo-sf1 → SCALE10.json
  *              (batch queries + the [[STREAM_PROBE]] streaming set with
  *              state-store metrics)
  * - `sf10`   — synthesize pseudo-sf10 (100 copies) and time
  *              [[SF10_PROBE]] (the 5 highest 10x ratios of round 10) at
  *              pseudo-sf1 vs pseudo-sf10 → SCALE100.json, the second
  *              measured decade
  * - `all`    — synth + probe (the per-round default)
  *
  * Synthesis = `copies` key-shifted copies of every fact table,
  * constructed so the copies are INDEPENDENT the way organic growth
  * would be — each transform below exists to kill a specific cross-copy
  * coupling that would otherwise fabricate superlinear candidate
  * generation (or hide real superlinearity the operator would also hit
  * on organic data):
  *
  * - surrogate keys shift by `STRIDE` (divisible by every small modulus
  *   the query suite uses as a deterministic slicer — %3 %4 %5 %7 %10
  *   %13 %100 %400 — so each copy selects the same per-copy subset);
  * - customer/supplier NAMES get a 4-char copy code `aabb` (digit pairs
  *   of copy/10 and copy%10) over the first four always-zero digits:
  *   Hamming — hence edit — distance between any two copies of a name is
  *   ≥ 2 (> the dist-1 graph radius, so the name graph stays copy-local)
  *   and the entity-resolution 17-char-prefix blocks split per copy;
  * - acctbal shifts +10000 per copy: the ER (nation, acctbal-bucket)
  *   blocking pass keeps its block SIZE as cardinality grows (a
  *   fixed-value-range attribute degenerates as a blocking key at any
  *   scale, in any engine — the probe measures the engine, not that);
  * - document TEXT maps every token through a per-copy suffix bijection:
  *   within-copy shingle/Jaccard structure is preserved EXACTLY (token
  *   bijections preserve set identities) while copies share zero tokens,
  *   hence zero shingles, hence zero cross-copy dedup/ANN candidates;
  * - embeddings flip signs under per-copy Reed–Muller RM(1,6) masks
  *   (codeword bit j = parity(a AND j) XOR b for copy code (a, b)):
  *   norms unchanged, any two distinct copies disagree in sign on ≥ 32
  *   of the 64 dims (RM(1,6) min distance), so cross-copy cosine
  *   collapses even for vectors whose mass concentrates in a few dims.
  */
object Scale10 {

  val STRIDE = 1092000000L // 2^4 · 3 · 5^2 · 7 · 13 · 10^4 — ≡ 0 mod all slicers
  val COPIES = 10
  val COPIES_SF10 = 100

  /** The 10 most expensive queries of the r9 bench (the probe set the
    * round-9 verdict prescribes), plus the shuffle-heavy CORE relational
    * operators — the scale evidence should cover the §2 algebra a 100 TB
    * job is MADE of, not only the exotic ops.
    */
  val PROBE: Seq[String] = Seq(
    "pagerank", "dedup_canonical", "dedup_minhash_incremental",
    "triangle_count", "item_similarity", "ssjoin_prefix", "knn_join",
    "fuzzy_join2", "entity_resolution", "split_leakage_audit",
    // core algebra: n-ary cogroup, shuffled master join, grouped sort,
    // global window rank, interval islands, watermarkless sessionization,
    // skew-salted join, exact dedup, asof join
    "cogroup", "masterjoin", "groupsort", "window_rank", "interval_merge",
    "sessionize", "salted_join", "dedup_exact", "asof_join",
    // round-12 addition: the corpus-frequency line filter — explode +
    // three key-equality shuffles over every line in the corpus; its
    // synthesized global boilerplate lines repeat across ALL copies, so
    // the hot-key (one line in every document) path is what scales here
    "boilerplate_strip",
    // round-14 ask: the round-13/14 curation operators. url_blocklist's
    // exchanges are id-only (expect ~linear); gopher_repetition and
    // gopher_dup_ngrams are per-row passes with zero exchanges (expect
    // ~10x flat); bitext_mine holds its source batch FIXED (the id-slice
    // in the query). Its FIRST decade crosses the exact→IVF arm
    // transition (the query's 20k size threshold engages at pseudo-sf1,
    // not at sf0.1 — IVF recall is approximate, so no oracle-checked
    // scale may plan it); the second decade is IVF at both ends
    "url_blocklist", "gopher_repetition", "gopher_dup_ngrams", "bitext_mine",
    // round-15 ask: the remaining round-14 row-local curation operators
    // (composed Gopher gate, line-stat + keep-first line dedup — all
    // zero-exchange per-row passes, expect ~10x flat like
    // gopher_dup_ngrams' 1.03x), plus incremental bitext mining (fixed
    // batch probing a PERSISTED cell index: the decade measures probe
    // cost only — index construction is paid once per corpus version,
    // outside the per-batch path)
    "gopher_repetition_gate", "dedup_lines_in_doc", "gopher_dup_lines",
    "bitext_mine_incremental",
    // round-15 additions: the C4 page pass (row-local, expect ~10x flat),
    // hybrid RRF retrieval (BM25 term/doc shuffles grow with corpus; the
    // fused exchange stays <= legs*K rows per query), and prototype
    // pruning (centroid broadcast + the cell-partitioned rank window —
    // the one window rides the assignment's own exchange)
    "c4_filter", "search_hybrid_rrf", "cluster_prune",
    // RM3 pseudo-relevance feedback: two chained BM25 passes (seed leg,
    // then the data-dependent expanded term set) — same corpus-linear
    // term/doc shuffles as the hybrid leg, bounded feedback/term frames
    "search_rm3")

  /** Streaming representatives (round-11 ask): the heaviest stream
    * queries by r10 cost plus the stateful-session shape. Timed like the
    * batch probe, PLUS state-store metrics (batch count, final state
    * rows/bytes) from a [[org.apache.spark.sql.streaming
    * .StreamingQueryListener]] — wall time alone says nothing about
    * whether state grows with input.
    */
  val STREAM_PROBE: Seq[String] = Seq(
    "stream_upsert", "stream_left_join", "stream_chained_agg",
    "stream_sessionize",
    // round-14 ask: the zero-exchange broadcast blocklist probe — wall
    // time should track input ~linearly with ZERO state rows (the whole
    // point of the stateless probe shape)
    "stream_url_blocklist",
    // round-15 ask: the stateless row-local stream twins of the Gopher
    // gate and the in-doc line dedup — same zero-state expectation
    "stream_repetition_gate", "stream_dedup_lines",
    // round-15 additions: the stateless C4 twin, and streaming vector
    // search whose state is k (long, long) pairs PER QUERY — the state
    // metric must stay flat in corpus size (only the static index grows)
    "stream_c4_filter", "stream_ann_topk")

  /** The second measured decade: the 5 highest sf0.1→sf1 ratios of the
    * round-10 probe (4.0–5.2x), timed at pseudo-sf1 vs pseudo-sf10 —
    * plus (round-12 ask) the dedup/ER bulk, so the second decade covers
    * the candidate-generation families, not only the steepest curves.
    */
  val SF10_PROBE: Seq[String] = Seq(
    "pagerank", "fuzzy_join2", "salted_join", "dedup_minhash_incremental",
    "triangle_count", "dedup_canonical", "entity_resolution",
    // the two steepest core-algebra 10x curves (r12: 3.62x / 3.26x) —
    // the §2 algebra a 100 TB job is made of deserves the second decade
    // as much as the exotic ops
    "ssjoin_prefix", "masterjoin",
    // r12 line filter: its 10x ratio (0.8x) is overhead-dominated and
    // says nothing about the data term — the second decade is where the
    // hot-line counting and anti-join actually see volume
    "boilerplate_strip",
    // round-13 ask: the curation heavyweights — the suffix-ish substring
    // family is the costliest text op in the bench (substring_clean
    // 1.6 s at sf0.1) and had no decade entry
    "substring_clean", "substring_spans",
    // round-14 ask: second decade for the new curation front —
    // url_blocklist (id-only exchanges), gopher_repetition and
    // gopher_dup_ngrams (zero-exchange per-row n-gram passes),
    // bitext_mine (fixed batch vs 100x corpus through the IVF join)
    "url_blocklist", "gopher_repetition", "gopher_dup_ngrams", "bitext_mine",
    // round-15: the persisted-index arm — same fixed batch, but the
    // second decade isolates PROBE cost (the cell index is read from
    // parquet, never rebuilt per batch) — plus the round-14 row-local
    // curation ops, so every r13-15 operator has BOTH measured decades
    // (expect ~10x-flat: zero exchanges, sub-second bases)
    "bitext_mine_incremental", "gopher_repetition_gate",
    "dedup_lines_in_doc", "gopher_dup_lines",
    // round-15 additions at the second decade: same expectations as the
    // first (c4 row-local flat; RRF legs linear in corpus; prune's
    // window linear within cells)
    "c4_filter", "search_hybrid_rrf", "cluster_prune", "search_rm3")

  /** Streaming representatives for the SECOND decade (round-12 ask):
    * timed like [[SF10_PROBE]] but with state-store metrics — the claim
    * that state stays linear in input must hold decade over decade, not
    * only at 10x.
    */
  val SF10_STREAM_PROBE: Seq[String] = Seq("stream_upsert", "stream_left_join",
    // round-14 ask: the stateless broadcast-probe filter — expect ~10x
    // wall (linear input) with ZERO state rows at both ends
    "stream_url_blocklist",
    // round-15: the stateless row-local gate/line-dedup twins — same
    // zero-state expectation at the second decade
    "stream_repetition_gate", "stream_dedup_lines",
    // round-15: the C4 twin (stateless) and streaming vector search
    // (state = k pairs per query, flat in corpus size) at the second
    // decade too
    "stream_c4_filter", "stream_ann_topk")

  /** 4-char name code "aabb": digit-pair repetition ⇒ any two distinct
    * copies differ in ≥ 2 positions (equal-length strings, so edit
    * distance ≥ 2 as well — one edit between equal-length strings is one
    * substitution). Copy 0 = "0000" = the original zeros.
    */
  private def copyCodeDigits(i: Int): String = {
    val (a, b) = (('0' + i / 10).toChar, ('0' + i % 10).toChar)
    s"$a$a$b$b"
  }
  // '~' never occurs in the fixture vocabulary, so a suffixed token can
  // never collide with a BASE token either (without the marker, base
  // "agg" == base "a" + copy-g suffix "gg" — one real collision the
  // synthesis spec caught). Two 3-char repetition blocks: any two
  // distinct copies' suffixes are at edit distance ≥ 3, BEYOND the
  // dist-2 fuzzy-join radius even for one-token strings — a 2-char code
  // left short single-token names within dist ≤ 2 of their 99 copy
  // twins, and the d=2 deletion-neighborhood join (fuzzy_join2)
  // legitimately matched ~copies² twins per short name: the measured
  // 32.9x/decade was the synthesis coupling, not the engine.
  // (Repetition blocks, not an algebraic [4,2,3] code: linear codes
  // admit SHIFT alignments — (x,y,x+y,x+2y) and (y,x+y,x+2y,·) overlap
  // in 3 consecutive symbols, landing two valid codewords at edit
  // distance 2 via one deletion + one insertion. Block repetition has
  // no such alignment; all cases pairwise edit ≥ 3.)
  private def copyCodeAlpha(i: Int): String = {
    val (a, b) = (('a' + i / 10).toChar, ('a' + i % 10).toChar)
    "~" + s"$a$a$a$b$b$b"
  }

  /** "Customer#000000123" → "Customer#aabb00123": the four code chars
    * replace always-zero digits (max key 14999 « 10^5 of the 9-digit
    * field), so copy 0 keeps the original string and any two copies
    * differ in ≥ 2 chars.
    */
  private def recodeName(c: Column, i: Int): Column =
    if (i == 0) c
    else concat(substring(c, 1, 9), lit(copyCodeDigits(i)), substring(c, 14, 100))

  /** Per-token suffix bijection (copy 0 = identity). Empty tokens stay
    * empty so `tokens()`'s filter sees the same token count.
    */
  private def recodeText(c: Column, i: Int): Column =
    if (i == 0) c
    else array_join(
      transform(split(c, " "),
        w => when(w === "", w).otherwise(concat(w, lit(copyCodeAlpha(i))))),
      " ")

  private def shifted(c: Column, i: Int): Column = c + lit(STRIDE * i)

  /** @param copies number of key-shifted copies (10 → pseudo-sf1,
    *               100 → pseudo-sf10); codes support up to 100.
    */
  def synth(spark: SparkSession, src: String, out: String,
      copies: Int = COPIES): Unit = {
    require(copies >= 1 && copies <= 100, "synth: 1..100 copies")
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale10] wrote $name x$copies")
    }
    // fixed-domain dimensions: real TPC-H sf1 also has 5 regions / 25
    // nations — copying them once keeps every FK resolvable
    write(read("region"), "region")
    write(read("nation"), "nation")
    def allCopies(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      write((0 until copies).map(i => f(read(name), i)).reduce(_ unionByName _), name)
    allCopies("customer") { (df, i) =>
      df.select(shifted(col("c_custkey"), i).as("c_custkey"),
        recodeName(col("c_name"), i).as("c_name"),
        col("c_nationkey"),
        (col("c_acctbal") + lit(10000.0 * i)).as("c_acctbal"),
        col("c_mktsegment"))
    }
    allCopies("supplier") { (df, i) =>
      df.select(shifted(col("s_suppkey"), i).as("s_suppkey"),
        recodeName(col("s_name"), i).as("s_name"),
        col("s_nationkey"),
        (col("s_acctbal") + lit(10000.0 * i)).as("s_acctbal"))
    }
    allCopies("part") { (df, i) =>
      df.select(shifted(col("p_partkey"), i).as("p_partkey"),
        recodeText(col("p_name"), i).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }
    allCopies("orders") { (df, i) =>
      df.select(shifted(col("o_orderkey"), i).as("o_orderkey"),
        shifted(col("o_custkey"), i).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    allCopies("lineitem") { (df, i) =>
      df.select(shifted(col("l_orderkey"), i).as("l_orderkey"),
        shifted(col("l_partkey"), i).as("l_partkey"),
        shifted(col("l_suppkey"), i).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    allCopies("events") { (df, i) =>
      df.select(shifted(col("event_id"), i).as("event_id"), col("ts"),
        shifted(col("user_id"), i).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    allCopies("documents") { (df, i) =>
      val text = recodeText(col("text"), i)
      df.select(shifted(col("doc_id"), i).as("doc_id"), text.as("text"),
        col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }
    allCopies("embeddings") { (df, i) =>
      // Reed–Muller RM(1,6) sign masks over the 64 dims: copy code
      // (a, b) = (i mod 64, i div 64); dim j flips iff
      // parity(popcount(a AND j)) XOR b = 1. RM(1,6) has min distance
      // 32, so ANY two distinct copies (up to 128 exist) disagree in
      // sign on ≥ half the vector — norms untouched, cross-copy cosine
      // collapses even for vectors concentrated in a few dims (a sparse
      // outlier defeated a one-dim-in-ten flip: the spec measured 0.97
      // cosine). Copy 0 = all-zero codeword = identity.
      val (a, b) = (i % 64, i / 64)
      val vec =
        if (i == 0) col("embedding")
        else transform(col("embedding"),
          (x, j) => when(
            pmod(call_function("bit_count",
              j.cast("long").bitwiseAND(lit(a.toLong))) + lit(b), lit(2)) === 1,
            -x).otherwise(x))
      df.select(shifted(col("vec_id"), i).as("vec_id"),
        vec.as("embedding"), col("label"))
    }
  }

  /** Accumulates streaming metrics across every streaming query started
    * inside one probe-query execution: micro-batch count (progress
    * events), and the FINAL state rows/bytes of each stream (its last
    * progress), summed across streams. Events post asynchronously —
    * [[await]] polls until every started stream has terminated and gone
    * quiet.
    */
  private final class StreamStats
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val batches = new AtomicLong
    val started = new AtomicLong
    val terminated = new AtomicLong
    private val lastState =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = { started.incrementAndGet(); () }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      val ops = e.progress.stateOperators
      lastState.put(e.progress.id,
        (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      ()
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { terminated.incrementAndGet(); () }
    def reset(): Unit = {
      batches.set(0); started.set(0); terminated.set(0); lastState.clear()
    }
    /** Wait (≤ 10 s) for the async listener bus to deliver the
      * termination events of every stream this probe run started.
      */
    def await(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while ((terminated.get < started.get || started.get == 0) &&
          System.nanoTime() < deadline) Thread.sleep(100)
    }
    def stateRows: Long = {
      import scala.jdk.CollectionConverters._
      lastState.values.asScala.map(_._1).sum
    }
    def stateBytes: Long = {
      import scala.jdk.CollectionConverters._
      lastState.values.asScala.map(_._2).sum
    }
  }

  /** Probe session: GraftSession defaults plus the same scratch hygiene
    * as Bench — shuffle/spill on tmpfs when one exists. Measured without
    * it: fuzzy_join2's second-decade verification stage spilled 17 GB to
    * rotational /tmp and the disk I/O, not the operator, set the wall
    * time. A real cluster provisions executor local dirs on fast storage
    * for exactly the same reason (spark.local.dir is static conf, so it
    * must land in the builder, not on a live session).
    */
  private def probeSession(): SparkSession = {
    val shm = new java.io.File("/dev/shm")
    val scratch = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_local"
      else sys.props("java.io.tmpdir"))
    val s = graft.GraftSession.builder()
      .config("spark.local.dir", scratch)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fmt(d: Double) =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  private def jm(m: Map[String, Int]) =
    m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  private def arr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_pseudo_sf1")
    val outSf10 = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_pseudo_sf10")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // SPARK_GRAFT_ONLY=q1,q2 restricts a probe mode's query set. The
    // heavy sf10 probes should run ONE QUERY PER JVM: five cache-heavy
    // queries sharing a JVM contaminate each other's absolute times
    // (measured: fuzzy_join2's sf1 base read 34 s mid-sequence vs 11.6 s
    // in a fresh JVM — a 3x base inflation that flattered the decade
    // ratio 7.4x vs the honest 12.9x). tools/scale100.sh drives the
    // per-query runs and merges the JSONs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def selected(qs: Seq[String]) = only.fold(qs)(f => qs.filter(f))
    val spark = probeSession()
    // probe-session sizing:
    // the local pseudo-SFs are MBs-to-GBs, not TBs, and the synthesized
    // tables are many SMALL part files — under the production defaults
    // (128 MB file splits, 64 MB AQE advisory) FilePartition packing
    // collapses a 200 MB table to 2 map tasks and AQE coalesces every
    // exchange toward 1 partition, so row-amplifying map stages (e.g.
    // the salted build-side ×8 explode) serialize onto one core and the
    // probe measures local file packing, not the engine (observed: one
    // 4 GB single-task shuffle write at pseudo-sf10). A real cluster's
    // map parallelism is bytes-proportional; scale the thresholds down
    // so the probe's plans have it too — uniformly across all probed
    // scales, so ratios compare like for like.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    // Reduce parallelism stays at the session's 32 — DELIBERATELY, and
    // it was A/B'd (r12): raising AQE's initialPartitionNum to 256 so
    // reduce stages could fan out with the decade did NOT touch
    // fuzzy_join2's 16.5 GB spill (that spill is the map-side shuffle
    // WRITE sorter flushing a ~6 GB pair exchange — proportional to
    // bytes written, not to reduce-task state) and TRIPLED the written
    // bytes of the row-amplifying pair exchange at BOTH scales
    // (568 MB→2.0 GB at sf1, 5.6→17.9 GB at sf10: 256 output streams
    // per map task shrink the lz4 blocks of highly-delta-compressible
    // sorted pair runs). On one 32-core JVM, 32 reduce tasks IS the
    // hardware; a real cluster fans reduce out across nodes with
    // shuffle.partitions=O(bytes/128MB), which this probe cannot model
    // without paying the small-block compression tax on both sides of
    // every ratio.

    def timeQuery(name: String, dir: String): Seq[Double] = {
      // every flow runs on the one probe session, with no per-query conf
      val fn = graft.SparkEntry.queries(name)
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.Caches.clear(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        dt
      }
    }

    /** One probe row: time at `dirA` then `dirB`, lint the `dirB`
      * executed plan on the same session the timed runs used, emit a
      * JSON fragment.
      */
    def probeRow(q: String, dirA: String, dirB: String,
        aKey: String, bKey: String): String = {
      val a = timeQuery(q, dirA)
      val b = timeQuery(q, dirB)
      val (gate, info) =
        try PlanLint.lint(graft.SparkEntry.queries(q)(spark, dirB))
        catch { case _: Throwable => (Map("error" -> 1), Map.empty[String, Int]) }
      graft.Caches.clear(spark, blocking = true)
      System.gc()
      val ratio = b.min / math.max(a.min, 1e-9)
      println(f"[scale10] $q%-28s $aKey=${a.min}%.2fs $bKey=${b.min}%.2fs ratio=$ratio%.1fx gating=${gate.size}")
      s""""$q":{"${aKey}_min":${fmt(a.min)},"${bKey}_min":${fmt(b.min)},"ratio":${fmt(ratio)},""" +
        s""""${aKey}_runs":${arr(a)},"${bKey}_runs":${arr(b)},"gating":${jm(gate)},"info":${jm(info)}}"""
    }

    def warmup(): Unit = {
      try { graft.SparkEntry.entry(spark).count(); () } catch { case _: Throwable => }
      graft.Caches.clear(spark)
    }

    def writeJson(file: String, json: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(file),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[scale10] wrote $file")
    }

    // streaming probe rows: wall time + state metrics at both scales. No
    // PlanLint row — the returned frame is the drained memory-sink
    // result, not the streaming plan. Shared by the first (sf0.1→sf1)
    // and second (sf1→sf10) decades.
    def streamProbeRows(qs: Seq[String], dirA: String, dirB: String,
        aKey: String, bKey: String): Seq[String] = {
      val stats = new StreamStats
      spark.streams.addListener(stats)
      try qs.map { q =>
        def runAt(dir: String): (Seq[Double], Long, Long, Long) = {
          stats.reset()
          val ts = timeQuery(q, dir)
          stats.await()
          // the listener saw `runs` identical executions (each run
          // starts fresh streams with fresh UUIDs) — divide totals back
          // to per-run values. Batches scale with input only through
          // AvailableNow's file grouping; state rows are the signal
          // that must stay LINEAR in input (sublinear for windowed
          // state that expires)
          val n = math.max(ts.size, 1)
          (ts, stats.batches.get / n, stats.stateRows / n, stats.stateBytes / n)
        }
        val (a, ab, ar, _) = runAt(dirA)
        val (b, bb, br, bBytes) = runAt(dirB)
        val ratio = b.min / math.max(a.min, 1e-9)
        println(f"[scale10] $q%-28s $aKey=${a.min}%.2fs $bKey=${b.min}%.2fs ratio=$ratio%.1fx " +
          f"stateRows ${ar}→$br batches ${ab}→$bb")
        s""""$q":{"${aKey}_min":${fmt(a.min)},"${bKey}_min":${fmt(b.min)},"ratio":${fmt(ratio)},""" +
          s""""${aKey}_runs":${arr(a)},"${bKey}_runs":${arr(b)},""" +
          s""""${aKey}_batches":$ab,"${bKey}_batches":$bb,""" +
          s""""${aKey}_state_rows":$ar,"${bKey}_state_rows":$br,"${bKey}_state_bytes":$bBytes}"""
      } finally spark.streams.removeListener(stats)
    }

    if (mode == "synth" || mode == "all") synth(spark, src, out)

    if (mode == "probe" || mode == "all") {
      warmup()
      val rows = selected(PROBE).map(q => probeRow(q, src, out, "sf01", "sf1"))
      val streamRows = streamProbeRows(selected(STREAM_PROBE), src, out, "sf01", "sf1")
      val json =
        s"""{"src":"$src","sf1":"$out","copies":$COPIES,"stride":$STRIDE,"runs":$runs,""" +
          s""""queries":${(rows ++ streamRows).mkString("{", ",", "}")}}"""
      writeJson(sys.env.getOrElse("SPARK_GRAFT_SCALE10_OUT", "SCALE10.json"), json)
    }

    if (mode == "sf10") {
      // second decade: pseudo-sf1 → pseudo-sf10 on the 5 highest 10x
      // ratios. The sf1 side is (re)synthesized if missing so the two
      // sides always share a synthesis version.
      if (!new java.io.File(s"$out/lineitem.parquet").isDirectory)
        synth(spark, src, out)
      // reuse an existing pseudo-sf10 (same skip rule as the sf1 side);
      // delete the directory to force a re-synthesis after a synthesis
      // change
      if (!new java.io.File(s"$outSf10/lineitem.parquet").isDirectory)
        synth(spark, src, outSf10, COPIES_SF10)
      warmup()
      val rows = selected(SF10_PROBE).map(q => probeRow(q, out, outSf10, "sf1", "sf10"))
      val streamRows =
        streamProbeRows(selected(SF10_STREAM_PROBE), out, outSf10, "sf1", "sf10")
      val json =
        s"""{"sf1":"$out","sf10":"$outSf10","copies":$COPIES_SF10,"stride":$STRIDE,"runs":$runs,""" +
          s""""queries":${(rows ++ streamRows).mkString("{", ",", "}")}}"""
      writeJson(sys.env.getOrElse("SPARK_GRAFT_SCALE100_OUT", "SCALE100.json"), json)
    }

    spark.stop()
  }
}
