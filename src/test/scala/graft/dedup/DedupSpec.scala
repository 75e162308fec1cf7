package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

/** Planted-duplicate tests: the driver fixtures contain no exact text dups
  * and no high-cosine embedding pairs (verified against ground truth), so
  * the positive path of every dedup operator is proven here with synthetic
  * plants.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private val nearDup = base.replace("warm", "cold") // 1-token edit
  private val distinct1 =
    "completely different content about spark query engines and distributed shuffle execution plans here"
  private val distinct2 =
    "yet another unrelated document mentioning parquet columnar storage compression and predicate pushdown"

  private def docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, distinct1), (4L, distinct2)).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out === Set((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("stripFrequentLines drops every occurrence of a >=minDocs line, keeps order") {
    // "nav" is in 3 docs (>= minDocs 3) -> removed everywhere, including
    // doc 3 where it appears twice; "footer" is in 2 docs -> kept
    val d = Seq(
      (0L, "nav\nalpha\nfooter"),
      (1L, "nav\nbeta"),
      (2L, "gamma\nfooter"),
      (3L, "nav\ndelta\nnav"),
      (4L, "nav") // all boilerplate -> empty clean_text, row survives
    ).toDF("doc_id", "text")
    val out = Dedup.stripFrequentLines(d, "doc_id", col("text"), minDocs = 3)
      .select("doc_id", "clean_text", "n_lines", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === Map(
      0L -> (("alpha\nfooter", 3L, 1L)),
      1L -> (("beta", 2L, 1L)),
      2L -> (("gamma\nfooter", 2L, 0L)),
      3L -> (("delta", 3L, 2L)),
      4L -> (("", 1L, 1L))))
  }

  test("stripFrequentLines counts distinct docs, not occurrences") {
    // "spam" occurs 3 times but only in 2 docs -> below minDocs 3 -> kept
    val d = Seq((0L, "spam\nspam\na"), (1L, "spam\nb"), (2L, "c")).toDF("doc_id", "text")
    val out = Dedup.stripFrequentLines(d, "doc_id", col("text"), minDocs = 3)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("lineIndex + stripLinesIndexed: batch filters against the corpus index only") {
    val corpus = Seq(
      (0L, "nav\nalpha"), (1L, "nav\nbeta"), (2L, "nav\ngamma")).toDF("doc_id", "text")
    val idx = Dedup.lineIndex(corpus, "doc_id", col("text"), minDocs = 3)
    // "local" is in every batch doc but NOT in the index -> survives;
    // "nav" is indexed -> stripped from every batch doc
    val batch = Seq(
      (10L, "nav\nlocal\nx"), (11L, "local\nnav"), (12L, "nav")).toDF("doc_id", "text")
    val out = Dedup.stripLinesIndexed(batch, idx, "doc_id", col("text"))
      .select("doc_id", "clean_text", "n_lines", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === Map(
      10L -> (("local\nx", 3L, 1L)),
      11L -> (("local", 2L, 1L)),
      12L -> (("", 1L, 1L))))
    // appending the index to itself (per-epoch union) changes nothing
    val out2 = Dedup.stripLinesIndexed(batch, idx.unionByName(idx), "doc_id", col("text"))
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(out2 === Map(10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("stripLinesBroadcast (codegen'd per-row path) equals stripLinesIndexed exactly") {
    // hash parity contract: the expression recomputes xxhash64(line) /
    // xxhash64(0x5eed, line) itself; any drift from the index's hashes
    // shows up here as a kept boilerplate line or a dropped unique one
    val corpus = Seq(
      (0L, "nav\nalpha\n"), (1L, "nav\n\nbeta"), (2L, "nav\n中文 line\n"),
      (3L, "\n\n"), (4L, "中文 line\nnav")).toDF("doc_id", "text")
    val idx = Dedup.lineIndex(corpus, "doc_id", col("text"), minDocs = 2)
    val batch = Seq(
      (10L, "nav\nlocal\n中文 line"), (11L, ""), (12L, "\nnav\n"),
      (13L, "nav"), (14L, "edge\n\nnav\nlast")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "clean_text", "n_lines", "n_removed")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows(Dedup.stripLinesBroadcast(batch, idx, "doc_id", col("text"))) ===
      rows(Dedup.stripLinesIndexed(batch, idx, "doc_id", col("text"))))
  }

  test("stripLinesBroadcast matches the batch paths on NULL text and honors sep") {
    val corpus = Seq((0L, "nav;a"), (1L, "nav;b"), (2L, "nav")).toDF("doc_id", "text")
    val idx = Dedup.lineIndex(corpus, "doc_id", col("text"), sep = ";", minDocs = 3)
    val batch = Seq[(Long, String)]((9L, "nav;keep")).toDF("doc_id", "text")
      .unionByName(Seq(10L).toDF("doc_id").withColumn("text", lit(null).cast("string")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "clean_text", "n_lines", "n_removed")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).sortBy(_._1).toSeq
    val viaJoin = rows(Dedup.stripLinesIndexed(batch, idx, "doc_id", col("text"), sep = ";"))
    val viaBroadcast = rows(Dedup.stripLinesBroadcast(batch, idx, "doc_id", col("text"), sep = ";"))
    assert(viaBroadcast === viaJoin)
    assert(viaJoin === Seq((9L, "keep", 2L, 1L), (10L, "", null, null)))
    // a multi-char (or non-ASCII) sep cannot match the expression's
    // single-byte split — rejected loudly, not silently unfiltered
    intercept[IllegalArgumentException] {
      Dedup.stripLinesBroadcast(batch, idx, "doc_id", col("text"), sep = "\r\n")
    }
  }

  test("stripLinesBroadcast with an empty index keeps every document intact") {
    val corpus = Seq((0L, "a"), (1L, "b")).toDF("doc_id", "text")
    val idx = Dedup.lineIndex(corpus, "doc_id", col("text"), minDocs = 2)
    val out = Dedup.stripLinesBroadcast(
        Seq((9L, "x\ny")).toDF("doc_id", "text"), idx, "doc_id", col("text"))
      .select("clean_text", "n_lines", "n_removed")
      .as[(String, Long, Long)].collect()
    assert(out === Array(("x\ny", 2L, 0L)))
  }

  test("stripLinesBroadcast fails fast on an index above maxEntries") {
    val corpus = Seq((0L, "nav\na"), (1L, "nav\nb"), (2L, "nav\nc")).toDF("doc_id", "text")
    // minDocs=2: hot set = {nav} plus nothing else → 1 entry; bound of 0
    // must trip BEFORE any driver materialization, naming the escape hatch
    val idx = Dedup.lineIndex(corpus, "doc_id", col("text"), minDocs = 2)
    val batch = Seq((9L, "nav\nkeep")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.stripLinesBroadcast(batch, idx, "doc_id", col("text"), maxEntries = 0)
    }
    assert(e.getMessage.contains("stripLinesIndexed"))
    // at the default bound the same call goes through
    assert(Dedup.stripLinesBroadcast(batch, idx, "doc_id", col("text"))
      .select("clean_text").as[String].collect() === Array("keep"))
  }

  test("stripLinesBroadcast binary-search membership is exact on a 100k-entry index") {
    // 100k synthetic hash pairs (NOT hashes of any real line — membership
    // must come only from true (h1,h2) equality) + the real hot lines of a
    // small corpus, unioned the way per-epoch indexes are; includes
    // adversarial rows sharing h1 with a real hot line but differing in h2
    val corpus = Seq((0L, "nav\na"), (1L, "nav\nb"), (2L, "nav\nc")).toDF("doc_id", "text")
    val real = Dedup.lineIndex(corpus, "doc_id", col("text"), minDocs = 3)
    val noise = spark.range(100000)
      .select(xxhash64(concat(lit("n1_"), col("id"))).as("_h1"),
        xxhash64(concat(lit("n2_"), col("id"))).as("_h2"))
    val h1Collide = real.select(col("_h1"), (col("_h2") + 1).as("_h2"))
    val idx = real.unionByName(noise).unionByName(h1Collide)
    val batch = Seq((9L, "nav\nkeep"), (10L, "keep2\nnav")).toDF("doc_id", "text")
    val out = Dedup.stripLinesBroadcast(batch, idx, "doc_id", col("text"))
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out === Array((9L, "keep", 1L), (10L, "keep2", 1L)))
  }

  test("lineIndex survives a parquet round-trip between batches") {
    val corpus = Seq((0L, "nav\na"), (1L, "nav\nb"), (2L, "nav")).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_lineidx").toString + "/idx"
    Dedup.lineIndex(corpus, "doc_id", col("text"), minDocs = 3)
      .write.mode("overwrite").parquet(p)
    val out = Dedup.stripLinesIndexed(
        Seq((9L, "nav\nkeep")).toDF("doc_id", "text"),
        spark.read.parquet(p), "doc_id", col("text"))
      .select("clean_text").as[String].collect()
    assert(out === Array("keep"))
  }

  test("paragraph dedup keeps first chunk occurrences and reassembles docs") {
    val d = Seq(
      (0L, "a b c d e f g h"),  // chunks "a b c d" | "e f g h"
      (1L, "a b c d x y z w"),  // first chunk already seen in doc 0 -> only "x y z w" survives
      (2L, "a b c d e f g h"),  // full copy of doc 0 -> vanishes entirely
      (3L, "m n o p m n o p"),  // within-doc repeat -> one "m n o p" survives
      (4L, "p q r")             // short tail chunk, unique -> kept whole
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(
      d.withColumn("_toks", TextFunctions.tokens(col("text"))),
      "doc_id", col("_toks"), width = 4)
    val m = out.select("doc_id", "text", "n_chunks_kept")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m === Map(
      0L -> (("a b c d e f g h", 2L)),
      1L -> (("x y z w", 1L)),
      3L -> (("m n o p", 1L)),
      4L -> (("p q r", 1L))))
  }

  test("incremental dedup drops corpus collisions and within-batch dups") {
    val corpus = Seq((1L, base), (2L, distinct1)).toDF("id", "text")
    val batch = Seq(
      (10L, base),      // collides with corpus -> dropped
      (11L, nearDup),   // new (near-dup is NOT exact) -> kept
      (12L, nearDup),   // within-batch dup of 11 -> dropped
      (13L, "entirely new content")).toDF("id", "text")
    val out = Dedup.exactIncremental(batch,
      Dedup.fingerprintIndex(corpus, Seq("text")), Seq("text"), "id")
    assert(out.columns.toSeq === Seq("id", "text"))
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
  }

  test("incremental minhash drops near-dups vs index and within the batch") {
    import graft.functions.TextFunctions.{shinglesOf, tokens}
    val sh = shinglesOf(tokens(col("text")), 3)
    val corpus = Seq((1L, base), (2L, distinct1)).toDF("id", "text")
    // J(12,11) = 25/27 ~ 0.93: comfortably above the 16x8 banding
    // threshold (~0.66); a ~0.57-Jaccard pair would legitimately slip
    // through the bands — near-dup, not "vaguely similar"
    val longDoc = "incremental ingestion pipelines persist a banded signature index " +
      "between batches so that every newly arriving document can be checked " +
      "for near duplication against the whole history without ever rereading text"
    val truncated = longDoc.split(" ").dropRight(2).mkString(" ")
    val batch = Seq(
      (10L, nearDup), // near-dup of indexed base -> dropped vs corpus
      (11L, longDoc), // kept
      (12L, truncated), // near-dup (truncated copy) of 11 -> dropped
      (13L, "short unrelated note")).toDF("id", "text")
    val out = Dedup.minhashIncremental(batch,
      Dedup.minhashIndex(corpus, "id", sh), "id", sh, threshold = 0.5)
    assert(out.columns.toSeq === Seq("id", "text"))
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
  }

  test("incremental simhash drops Hamming-near docs vs index and within batch") {
    import graft.functions.TextFunctions.tokens
    val toks = tokens(col("text"))
    val corpus = Seq((1L, base)).toDF("id", "text")
    val batch = Seq(
      (10L, base), // identical token stream -> hamming 0 vs index -> dropped
      (11L, distinct1), // kept
      (12L, distinct1), // identical to 11 -> dropped within batch
      (13L, distinct2)).toDF("id", "text")
    val out = Dedup.simhashIncremental(batch,
      Dedup.simhashIndex(corpus, "id", toks), "id", toks)
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
  }

  test("incremental embedding drops high-cosine vs quantized index and within batch") {
    def vec(f: Int => Double) = (0 until 64).map(i => f(i).toFloat)
    val v1 = vec(i => math.sin(i + 1.0))
    val v2 = vec(i => math.cos(i * 2.0 + 1.0))
    val v3 = vec(i => math.sin(i * 3.0 + 2.0))
    val corpus = Seq((1L, v1)).toDF("id", "v")
    val batch = Seq(
      (10L, v1.map(_ * 2f)), // cosine 1 vs indexed v1 -> dropped
      (11L, v2), // kept
      (12L, v2.map(_ * 2f)), // cosine 1 vs 11 -> dropped within batch
      (13L, v3)).toDF("id", "v")
    val out = Dedup.embeddingIncremental(batch,
      Dedup.embeddingIndex(corpus, "id", col("v")), "id", col("v"), threshold = 0.9)
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
  }

  test("incremental minhash verifies against EVERY signature version of a re-ingested id") {
    import graft.functions.TextFunctions.{shinglesOf, tokens}
    val sh = shinglesOf(tokens(col("text")), 3)
    val longDoc = "incremental ingestion pipelines persist a banded signature index " +
      "between batches so that every newly arriving document can be checked " +
      "for near duplication against the whole history without ever rereading text"
    // the documented append-each-batch workflow re-ingested id=1 with
    // REVISED text: the index now holds two distinct signatures for one
    // id. A batch doc near either version must be dropped — an id-only
    // signature dedup would verify against an arbitrary one of them and
    // silently keep the other version's near-dups.
    val index = Dedup.minhashIndex(Seq((1L, base)).toDF("id", "text"), "id", sh)
      .unionByName(Dedup.minhashIndex(Seq((1L, longDoc)).toDF("id", "text"), "id", sh))
    val batch = Seq(
      (10L, nearDup), // near-dup of version 1 (base) -> dropped
      (11L, longDoc.split(" ").dropRight(2).mkString(" ")), // near-dup of version 2 -> dropped
      (12L, distinct2)).toDF("id", "text") // kept
    val out = Dedup.minhashIncremental(batch, index, "id", sh, threshold = 0.5)
    assert(out.select("id").as[Long].collect().toSeq === Seq(12L))
  }

  test("minhash index survives a parquet round-trip between batches") {
    import graft.functions.TextFunctions.{shinglesOf, tokens}
    val sh = shinglesOf(tokens(col("text")), 3)
    val corpus = Seq((1L, base), (2L, distinct1)).toDF("id", "text")
    val home = java.nio.file.Files.createTempDirectory("mh_index").toString
    // batch N writes its accepted docs' banded rows; batch N+1 reads them
    Dedup.minhashIndex(corpus, "id", sh).write.mode("overwrite").parquet(home)
    val reloaded = spark.read.parquet(home)
    val batch = Seq((10L, nearDup), (11L, distinct2)).toDF("id", "text")
    val out = Dedup.minhashIncremental(batch, reloaded, "id", sh, threshold = 0.5)
    assert(out.select("id").as[Long].collect().toSeq === Seq(11L))
  }

  test("minhash finds exact and near dups, not distinct docs") {
    val pairs = Dedup.minhash(docs, "doc_id",
      TextFunctions.wordShingles(col("text"), 3), threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dup: est jaccard 1.0
    assert(pairs.exists(p => Set((0L, 2L), (1L, 2L)).contains(p))) // near dup
    assert(!pairs.exists(p => p._1 >= 3L || p._2 >= 3L)) // distinct stay out
  }

  test("simhash hamming distance separates near dups from distinct") {
    val pairs = Dedup.simhash(docs, "doc_id", TextFunctions.tokens(col("text")), maxHamming = 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0)) // identical -> 0 bits
    assert(!pairs.exists(p => p._1 >= 3L || p._2 >= 3L))
  }

  test("ngram jaccard computes exact overlap counts") {
    val out = Dedup.ngramJaccard(docs, "doc_id",
      TextFunctions.wordShingles(col("text"), 3), threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
    val exact = out.find(p => p._1 == 0L && p._2 == 1L).get
    assert(exact._3 === 1.0) // identical docs -> jaccard exactly 1
    assert(out.forall(_._3 >= 0.5))
  }

  test("embedding cosine finds planted near-identical vectors") {
    val v = (0 until 16).map(i => math.sin(i * 1.7).toFloat).toArray
    val vNear = v.clone(); vNear(0) = v(0) + 0.01f
    val vFar = (0 until 16).map(i => math.cos(i * 3.1 + 1).toFloat).toArray
    val emb = Seq((0L, v.toSeq), (1L, vNear.toSeq), (2L, vFar.toSeq)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosine(emb, "vec_id", col("embedding"),
      threshold = 0.99, nPlanes = 4, dim = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("simhash bucketing is sign-safe (negative signatures still bucket)") {
    // near-identical long docs produce high-entropy signatures; with the
    // old sign-following % a negative signature missed its own bucket
    val many = (0L until 40L).map(i => (i, s"shared common core text body number padding $i"))
    val df = (many :+ (100L, many.head._2)).toDF("doc_id", "text")
    val pairs = Dedup.simhash(df, "doc_id", TextFunctions.tokens(col("text")), maxHamming = 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 100L && p._3 == 0)) // identical docs found
  }

  test("simhash rejects unusable maxHamming") {
    intercept[IllegalArgumentException](
      Dedup.simhash(docs, "doc_id", TextFunctions.tokens(col("text")), maxHamming = 0))
  }

  test("ngram df-cut: ubiquitous shingle never reaches the postings array") {
    // shingle "common" appears in all 10 docs (df 10 > maxShingleFreq 5):
    // it must be cut BEFORE collect_list (count-first), counted in the
    // observe metric, and excluded from the Jaccard denominator — docs
    // sharing ONLY the dropped shingle must produce no pair at all
    val rows = Seq(
      (0L, Seq("common", "x", "y", "z")),
      (1L, Seq("common", "x", "y", "w"))) ++
      (2L to 9L).map(i => (i, Seq("common", s"u$i")))
    val df = rows.toDF("doc_id", "sh")
    val out = Dedup.ngramJaccard(df, "doc_id", col("sh"),
      threshold = 0.5, maxShingleFreq = 5)
    val pairs = out.select("a", "b", "common", "na", "nb", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // only (0,1) survives: {x,y} of surviving sets {x,y,z} / {x,y,w}
    assert(pairs.toSeq === Seq((0L, 1L, 2L, 3L, 3L, 0.5)))
  }

  test("boundedBuckets drops over-bound buckets and reports counts, row-free") {
    val df = ((1L to 8L).map(i => (i, "hot")) ++ Seq((20L, "cold"), (21L, "cold")))
      .toDF("_id", "_bucket")
    val guarded = Dedup.boundedBuckets(df, Seq("_bucket"), bound = 3, "bb_spec")
    // execute THIS Dataset (metrics accumulate per query execution)
    assert(guarded.collect().map(_.getAs[Long]("_id")).sorted.toSeq === Seq(20L, 21L))
    // drop accounting comes from the partial-aggregated counts, not rows
    val m = guarded.queryExecution.observedMetrics("bb_spec")
    assert(m.getAs[Long]("bb_spec_dropped_rows") === 8L)
    assert(m.getAs[Long]("bb_spec_dropped_buckets") === 1L)
  }

  test("pairableBuckets: same pairs and drop metrics as the guard + self-join, no singleton kept") {
    // random buckets: mostly singletons, some pairs and triples, one
    // bucket of exactly `bound` rows and one over-bound bucket
    val bound = 6
    val rnd = new scala.util.Random(3)
    val sizes = Seq.fill(400)(if (rnd.nextInt(10) < 7) 1 else 2 + rnd.nextInt(3)) ++
      Seq(bound, bound + 1)
    val rows = sizes.zipWithIndex.flatMap { case (n, b) =>
      Seq.fill(n)((rnd.nextLong(), b % 3, b.toLong * 7919L))
    }
    val df = rows.toDF("_id", "_band", "_bucket")
    val keys = Seq("_band", "_bucket")
    def pairs(frame: org.apache.spark.sql.DataFrame) = {
      val a = frame.select(col("_band"), col("_bucket"), col("_id").as("a"))
      val b = frame.select(col("_band"), col("_bucket"), col("_id").as("b"))
      a.join(b, keys).filter(col("a") < col("b")).select("a", "b")
        .as[(Long, Long)].collect().toSet
    }
    // observe metrics as every execution reports them
    val seen = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val ref = pairs(Dedup.boundedBuckets(df, keys, bound, "pb_ref"))
      val pruned = Dedup.pairableBuckets(df, keys, bound, "pb_new")
      val got = pairs(pruned)
      assert(ref.nonEmpty && got === ref)
      // only multi-member buckets survive, the bound-sized one included
      val kept = pruned.groupBy(keys.map(col): _*).count().select("count").as[Long].collect()
      assert(kept.nonEmpty && kept.forall(_ >= 2), kept.toSeq)
      assert(kept.contains(bound.toLong))
      assert(pruned.count() === sizes.filter(n => n >= 2 && n <= bound).sum)
      org.apache.spark.ListenerBusTestHook.waitUntilEmpty(spark.sparkContext)
      val (r, n) = (seen.get("pb_ref"), seen.get("pb_new"))
      assert(r != null && n != null, seen.keySet.toString)
      assert(n.getAs[Long]("pb_new_dropped_rows") === r.getAs[Long]("pb_ref_dropped_rows"))
      assert(n.getAs[Long]("pb_new_dropped_buckets") === r.getAs[Long]("pb_ref_dropped_buckets"))
      assert(n.getAs[Long]("pb_new_dropped_rows") === bound + 1L)
      assert(n.getAs[Long]("pb_new_dropped_buckets") === 1L)
    } finally {
      spark.listenerManager.unregister(listener)
      graft.Caches.clear(spark, blocking = true)
    }
  }

  test("minhash signature determinism across partitioning") {
    val a = Dedup.minhash(docs.repartition(1), "doc_id",
      TextFunctions.wordShingles(col("text"), 3), 0.5).collect().toSet
    val b = Dedup.minhash(docs.repartition(4), "doc_id",
      TextFunctions.wordShingles(col("text"), 3), 0.5).collect().toSet
    assert(a === b)
  }
}

class ClusterSpec extends graft.SparkSpec {
  import spark.implicits._

  test("connectedComponents collapses multi-hop chains to min-id components") {
    // chain 1-2-3 (1~3 never scored) + separate pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = graft.dedup.Cluster.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents returns empty on an empty edge set (clean corpus)") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.dedup.Cluster.connectedComponents(edges, "a", "b").count() === 0L)
  }

  test("connectedComponents resolves a diameter-60 chain in O(log) rounds") {
    // without pointer jumping this needs 60 rounds and would exceed
    // maxIter=20; neighbor step + jump converges in ~log2(60) rounds
    val n = 60
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val comps = graft.dedup.Cluster.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps.size === n + 1)
    assert(comps.values.toSet === Set(0L))
  }

  test("connectedComponents leaves no persisted blocks behind after Caches.clear") {
    // the round-4 bench leak: superseded per-round localCheckpoint RDDs
    // squatted in the MemoryStore for the session's life. Every block the
    // operator creates must be released — superseded rounds immediately,
    // the survivor via Caches.clear.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (0 until 40).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val comps = graft.dedup.Cluster.connectedComponents(edges, "a", "b")
    assert(comps.count() === 41L)
    graft.Caches.clear(spark, blocking = true)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("connectedComponents with checkpointDir survives total block loss") {
    // reliable-checkpoint mode: the result must be recomputable from the
    // checkpoint files alone — unpersist every block the run created
    // (simulating executor loss) and the frame must still read correctly.
    // localCheckpoint mode would throw here (truncated lineage, dead blocks).
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = graft.dedup.Cluster.connectedComponents(
      edges, "a", "b", checkpointDir = Some(dir))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(comps.as[(Long, Long)].collect().toMap === expected)
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
      .values.foreach(_.unpersist(true))
    assert(comps.as[(Long, Long)].collect().toMap === expected)
  }
}
