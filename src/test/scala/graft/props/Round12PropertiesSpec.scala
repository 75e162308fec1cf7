package graft.props

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.dedup.Dedup
import graft.functions.UrlFunctions

/** Round-12 seam fuzz, same discipline as Round10/11PropertiesSpec:
  *
  *  - [[Dedup.boundedBuckets]] was restructured (eager fill moved from
  *    the guarded OUTPUT to the cached INPUT) — every (cache, cacheInput)
  *    arm, and [[Dedup.pairableBuckets]], must return EXACTLY the naive
  *    survivor set, on random bucket distributions;
  *  - [[UrlFunctions.canonicalizeUrl]] became a one-pass custom
  *    expression — random messifications of one logical page must
  *    collapse to a single canonical string, canonicalization must be
  *    idempotent, and canonical strings must satisfy the rule set's
  *    invariants;
  *  - [[Dedup.minhashIncremental]] now verifies against every distinct
  *    (id, signature) pair in the index — duplicate index rows must not
  *    change the survivor set, and a larger index can only shrink it;
  *  - [[Dedup.stripFrequentLines]] (new this round) must return EXACTLY
  *    the naive per-doc survivor lines on random corpora drawn from a
  *    small line alphabet (forcing frequency collisions), across random
  *    minDocs thresholds, repeated lines within a doc, and empty lines;
  *  - [[graft.functions.NormalizeText]] (new this round): on random
  *    strings mixing case, combining marks, CJK, and whitespace runs,
  *    the output must be NFC-normalized, fixed under a second
  *    normalization pass, free of un-collapsed whitespace, and equal for
  *    the NFD and NFC spellings of the same string.
  */
class Round12PropertiesSpec extends SparkSpec {
  import spark.implicits._
  import Props.samples

  private val obsN = new AtomicInteger(0)

  test("boundedBuckets: every cache/eagerFill arm returns the naive survivor set") {
    val rows = Gen.listOf(Gen.zip(Gen.choose(0L, 400L), Gen.choose(0, 5)))
    for ((data, bound) <- samples(Gen.zip(rows, Gen.choose(1, 4)), 4, seed = 121L)) {
      val distinctRows = data.distinct // survivor SETS compare; dup rows survive as sets
      val sizes = distinctRows.groupBy(_._2).view.mapValues(_.size).toMap
      val naive = distinctRows.filter { case (_, b) => sizes(b) <= bound }.toSet
      val df = distinctRows.toDF("_id", "_bucket")
      for ((cache, cacheInput) <- Seq((true, true), (true, false), (false, true))) {
        val got = Dedup.boundedBuckets(df, Seq("_bucket"), bound,
            s"r12_bb_${obsN.incrementAndGet()}", cache = cache, cacheInput = cacheInput)
          .select("_id", "_bucket").as[(Long, Int)].collect().toSet
        assert(got === naive,
          s"cache=$cache cacheInput=$cacheInput bound=$bound data=$distinctRows")
      }
      // the self-join variant also drops singletons
      val naivePairable = naive.filter { case (_, b) => sizes(b) >= 2 }
      val got = Dedup.pairableBuckets(df, Seq("_bucket"), bound,
          s"r12_pb_${obsN.incrementAndGet()}")
        .select("_id", "_bucket").as[(Long, Int)].collect().toSet
      assert(got === naivePairable, s"pairable bound=$bound data=$distinctRows")
      graft.Caches.clear(spark, blocking = true)
    }
  }

  // one logical page = (scheme, host, port-kind, path segments, params);
  // a messification perturbs only what canonicalization must erase
  private case class Page(https: Boolean, host: String, port: String,
      segs: List[String], params: List[String])

  private val pageGen: Gen[Page] = for {
    https <- Gen.oneOf(true, false)
    host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(cs => cs.take(8).mkString + ".example.com")
    port <- Gen.oneOf("", "8080", "8443")
    segs <- Gen.listOf(Gen.nonEmptyListOf(Gen.alphaChar).map(_.take(6).mkString)).map(_.take(3))
    params <- Gen.someOf(List("a=1", "b=2", "z=9", "k=vV")).map(_.toList)
  } yield Page(https, host, port, segs, params)

  private def messify(p: Page, caseUp: Boolean, www: Boolean, defaultPort: Boolean,
      shuffleRight: Boolean, tracking: Boolean, frag: Boolean, trailSlash: Boolean): String = {
    val scheme = (if (p.https) "https" else "http") match {
      case s if caseUp => s.toUpperCase
      case s => s
    }
    val host = (if (www) "www." else "") + (if (caseUp) p.host.toUpperCase else p.host)
    val port =
      if (p.port.nonEmpty) ":" + p.port
      else if (defaultPort) (if (p.https) ":443" else ":80")
      else ""
    val path = p.segs.map("/" + _).mkString +
      (if (trailSlash && p.segs.nonEmpty) "/" else "")
    val ps = (if (shuffleRight) p.params.reverse else p.params) ++
      (if (tracking) List("utm_source=x", "gclid=g", "fbclid=f") else Nil)
    val query = if (ps.nonEmpty) "?" + ps.mkString("&") else ""
    s"$scheme://$host$port$path$query" + (if (frag) "#sec2" else "")
  }

  test("UrlCanonicalize: all messifications of one page collapse; idempotent; invariants hold") {
    val flags = Gen.listOfN(7, Gen.oneOf(true, false))
    for ((page, fs) <- samples(Gen.zip(pageGen, Gen.listOfN(3, flags)), 6, seed = 122L)) {
      val urls = fs.map {
        case List(a, b, c, d, e, f, g) => messify(page, a, b, c, d, e, f, g)
        case _ => messify(page, false, false, false, false, false, false, false)
      }
      val canon = urls.toDF("u")
        .select(UrlFunctions.canonicalizeUrl(col("u"))).as[String].collect().toSeq
      // collapse: one logical page -> ONE canonical string
      assert(canon.toSet.size === 1, s"page=$page urls=$urls canon=$canon")
      val c = canon.head
      // idempotence through the same engine path
      val again = Seq(c).toDF("u")
        .select(UrlFunctions.canonicalizeUrl(col("u"))).as[String].collect().head
      assert(again === c)
      // rule invariants on the canonical form
      assert(!c.contains('#') && !c.contains("utm_") &&
        !c.contains("fbclid=") && !c.contains("gclid="), c)
      assert(!c.contains("://www."), c)
      assert(!c.contains(":80/") && !c.endsWith(":80") &&
        !c.contains(":443/") && !c.endsWith(":443"), c)
      val hostPart = c.substring(c.indexOf("://") + 3).takeWhile(ch => ch != '/' && ch != '?')
      assert(hostPart == hostPart.toLowerCase, c)
      if (c.contains('?')) {
        val ps = c.substring(c.indexOf('?') + 1).split("&").toSeq
        assert(ps === ps.sorted, c)
        assert(ps.toSet === page.params.toSet, s"page=$page canon=$c")
      } else assert(page.params.isEmpty, s"page=$page canon=$c")
    }
  }

  test("stripFrequentLines: random corpora match the naive survivor lines exactly") {
    // tiny line alphabet -> heavy cross-doc frequency collisions
    val lineGen = Gen.oneOf("nav", "footer", "alpha", "beta", "gamma", "", "x y", "nav")
    val docGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n"))
    val corpusGen = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, docGen))
    for ((corpus, minDocs) <- samples(Gen.zip(corpusGen, Gen.choose(2, 4)), 8, seed = 124L)) {
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val naive: Map[Long, (String, Long, Long)] = {
        val perDoc = docs.map { case (i, t) => i -> t.split("\n", -1).toSeq }.toMap
        val nd = perDoc.values.flatMap(_.distinct).groupBy(identity).map {
          case (l, _) => l -> perDoc.values.count(_.contains(l))
        }
        perDoc.map { case (i, ls) =>
          val kept = ls.filter(l => nd(l) < minDocs)
          i -> ((kept.mkString("\n"), ls.size.toLong, (ls.size - kept.size).toLong))
        }
      }
      val got = Dedup.stripFrequentLines(docs.toDF("doc_id", "text"),
          "doc_id", col("text"), minDocs = minDocs)
        .select("doc_id", "clean_text", "n_lines", "n_removed")
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === naive, s"minDocs=$minDocs corpus=${corpus.map(_.replace("\n", "|"))}")
    }
  }

  test("NormalizeText: NFC-fixed, idempotent, whitespace-canonical, NFD==NFC on random strings") {
    import java.text.Normalizer
    val piece = Gen.oneOf("Café", "Café", "ÉCOLE", "MiXeD", "中文",
      "x", "", " ", "  ", "\t", "\n", "\r\n", "a b")
    val strGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
    val toDF = (ss: Seq[String]) => ss.toDF("t")
      .select(graft.functions.TextFunctions.normalizeText(col("t"))).as[String].collect().toSeq
    val inputs = samples(strGen, 40, seed = 125L)
    val outs = toDF(inputs)
    val again = toDF(outs)
    val nfdOuts = toDF(inputs.map(Normalizer.normalize(_, Normalizer.Form.NFD)))
    for (((in, out), (re, viaNfd)) <- inputs.zip(outs).zip(again.zip(nfdOuts))) {
      assert(Normalizer.isNormalized(out, Normalizer.Form.NFC), s"not NFC: $in -> $out")
      assert(re === out, s"not idempotent: $in -> $out -> $re")
      assert(!out.exists(c => c == '\t' || c == '\n' || c == '\r') &&
        !out.contains("  ") && out.trim == out, s"ws not canonical: $in -> '$out'")
      assert(viaNfd === out, s"NFD spelling diverged: $in -> $out vs $viaNfd")
    }
  }

  test("stripLinesBroadcast == stripLinesIndexed == naive on random corpus/batch splits") {
    // the broadcast path recomputes hashes inside a custom expression;
    // the indexed path joins on the index's own hashes — agreement across
    // random inputs is the strongest parity evidence short of the oracle
    val lineGen = Gen.oneOf("nav", "footer", "alpha", "beta", "", "x y", "中文 行")
    val docGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n"))
    val splitGen = Gen.zip(
      Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, docGen)), // corpus
      Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, docGen)), // batch
      Gen.choose(2, 3))                                      // minDocs
    for ((corpus, batch, minDocs) <- samples(splitGen, 6, seed = 126L)) {
      val corpusDf = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batchDf = batch.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      val idx = Dedup.lineIndex(corpusDf, "doc_id", col("text"), minDocs = minDocs)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "clean_text", "n_lines", "n_removed")
          .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      val viaJoin = rows(Dedup.stripLinesIndexed(batchDf, idx, "doc_id", col("text")))
      val viaBroadcast = rows(Dedup.stripLinesBroadcast(batchDf, idx, "doc_id", col("text")))
      val naive = {
        val perDoc = corpus.zipWithIndex.map { case (t, i) => i.toLong -> t.split("\n", -1).toSeq }
        val hot = perDoc.flatMap(_._2.distinct).groupBy(identity)
          .collect { case (l, os) if os.size >= minDocs => l }.toSet
        batch.zipWithIndex.map { case (t, i) =>
          val ls = t.split("\n", -1).toSeq
          val kept = ls.filterNot(hot)
          (100L + i, kept.mkString("\n"), ls.size.toLong, (ls.size - kept.size).toLong)
        }.sortBy(_._1)
      }
      assert(viaJoin === naive, s"indexed path diverged: corpus=$corpus batch=$batch")
      assert(viaBroadcast === naive, s"broadcast path diverged: corpus=$corpus batch=$batch")
    }
  }

  test("NormalizeText: astral-plane text (surrogate pairs) passes through ws-collapse intact") {
    val emoji = "😀" // U+1F600, a surrogate pair in UTF-16
    val inputs = Seq(s"$emoji  $emoji", s"  A $emoji\tB ", s"$emoji", s"Café $emoji")
    val out = inputs.toDF("t")
      .select(graft.functions.TextFunctions.normalizeText(col("t"))).as[String].collect()
    assert(out === Array(s"$emoji $emoji", s"a $emoji b", emoji, s"café $emoji"))
  }

  test("minhashIncremental: duplicate index rows never change survivors; a larger index only shrinks them") {
    import graft.functions.TextFunctions.{shinglesOf, tokens}
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = Gen.listOfN(12, Gen.choose(0, vocab.size - 1)).map(_.map(vocab).mkString(" "))
    val corpusGen = Gen.listOfN(3, docGen)
    val batchGen = Gen.listOfN(4, docGen)
    val sh = shinglesOf(tokens(col("text")), 2)
    for ((corpus, batch) <- samples(Gen.zip(corpusGen, batchGen), 3, seed = 123L)) {
      val corpusDf = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val batchDf = batch.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("id", "text")
      val idxA = Dedup.minhashIndex(corpusDf.filter(col("id") < 1), "id", sh)
      val idxAll = Dedup.minhashIndex(corpusDf, "id", sh)
      def survivors(idx: org.apache.spark.sql.DataFrame): Set[Long] =
        Dedup.minhashIncremental(batchDf, idx, "id", sh, threshold = 0.5)
          .select("id").as[Long].collect().toSet
      val sAll = survivors(idxAll)
      assert(survivors(idxAll.unionByName(idxAll)) === sAll,
        s"duplicated index changed survivors: corpus=$corpus batch=$batch")
      assert(sAll.subsetOf(survivors(idxA)),
        s"larger index grew survivors: corpus=$corpus batch=$batch")
    }
  }
}
