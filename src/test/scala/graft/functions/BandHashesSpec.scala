package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.dedup.Dedup

/** `band_hashes` is the one-pass form of the MinHash band buckets, and the
  * buckets are a persisted contract (`Dedup.minhashIndex` frames are kept
  * between ingestion batches). The composable form it replaced is written
  * out here as the reference; every bucket must match it bit for bit.
  */
class BandHashesSpec extends SparkSpec {
  import spark.implicits._

  /** The composable form the MinHash banding used before `band_hashes`. */
  private def reference(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",", slice(sig, b * rows + 1, lit(rows)))))

  private def assertSameBuckets(sigs: DataFrame, bands: Int, rows: Int): Unit = {
    val ref = sigs.select(col("id"), posexplode(reference(col("sig"), bands, rows)))
    val got = sigs.select(col("id"), posexplode(HashFunctions.band_hashes(col("sig"), bands, rows)))
    assert(got.count() === sigs.count() * bands)
    assert(ref.exceptAll(got).count() === 0, s"bands=$bands rows=$rows")
    assert(got.exceptAll(ref).count() === 0, s"bands=$bands rows=$rows")
  }

  test("band_hashes equals posexplode(transform(... xxhash64(concat_ws(slice)))) bit for bit") {
    // 20k pseudo-random full-range signatures of 128 values
    val random = spark.range(20000).select(col("id"),
      transform(sequence(lit(0), lit(127)), j => xxhash64(col("id"), j)).as("sig"))
    assertSameBuckets(random, 16, 8)
    assertSameBuckets(random, 20, 5)
    assertSameBuckets(random, 3, 7) // the last band runs past the end
    // edge values, an empty and a short signature, a null signature and
    // null elements (concat_ws skips them)
    val extremes = Seq(Long.MinValue, Long.MaxValue, 0L, -1L)
    val edge = Seq[(Long, Seq[java.lang.Long])](
      (1L, Seq.tabulate(128)(i => Long.box(extremes(i % 4)))),
      (2L, Seq.fill(128)(Long.box(Long.MinValue))),
      (3L, Seq.fill(128)(Long.box(0L))),
      (4L, Seq.empty),
      (5L, Seq.tabulate(13)(i => Long.box(extremes(i % 4) + i))),
      (6L, null),
      (7L, Seq[java.lang.Long](1L, null, -1L, null, Long.MinValue, 10L, null, 7L, 9L)),
      (8L, Seq[java.lang.Long](null, null, null)),
      // every decimal width: 10^k - 1, 10^k and their negatives
      (9L, (0 to 18).flatMap { k =>
        val p = math.pow(10, k).toLong
        Seq(p - 1, p, 1 - p, -p).map(Long.box)
      })).toDF("id", "sig")
    for ((bands, rows) <- Seq((16, 8), (4, 3), (1, 1), (2, 64))) assertSameBuckets(edge, bands, rows)
  }

  test("interpreted eval matches generated code") {
    val sigs = Seq(Seq.empty[Long], Seq(Long.MinValue, -1L, 0L, Long.MaxValue, 42L),
      Seq.tabulate(128)(i => Hash64.mix(i.toLong)))
    val codegen = sigs.toDF("sig").select(HashFunctions.band_hashes(col("sig"), 16, 8))
      .as[Seq[Long]].collect().toSeq
    val interpreted = sigs.map { s =>
      BandHashes(Literal.create(ArrayData.toArrayData(s.toArray), ArrayType(LongType, false)), 16, 8)
        .eval().asInstanceOf[ArrayData].toLongArray().toSeq
    }
    assert(codegen === interpreted)
    assert(BandHashes(Literal.create(null, ArrayType(LongType)), 16, 8).eval()
      .asInstanceOf[ArrayData].toLongArray().toSeq === interpreted.head)
  }

  test("an index written with the composable buckets drops the same ids through minhashIncremental") {
    import graft.functions.TextFunctions.{shinglesOf, tokens}
    val sh = shinglesOf(tokens(col("text")), 3)
    val vocab = (0 until 400).map(i => s"w$i")
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 300).map(i => (i.toLong, Seq.fill(40)(vocab(rnd.nextInt(vocab.size)))))
    // batch: edited copies of corpus docs (one or two tokens changed),
    // copies of earlier batch docs, and fresh docs
    val batch = (0 until 120).map { i =>
      val toks = i % 3 match {
        case 0 => corpus(rnd.nextInt(corpus.size))._2.updated(rnd.nextInt(40), "edited")
        case 1 => corpus(i)._2.updated(0, "x").updated(1, "y").reverse
        case _ => Seq.fill(40)(vocab(rnd.nextInt(vocab.size)))
      }
      (1000L + i, toks)
    }
    val corpusDf = corpus.map { case (id, t) => (id, t.mkString(" ")) }.toDF("id", "text")
    val batchDf = (batch.map { case (id, t) => (id, t.mkString(" ")) } ++
      batch.take(10).map { case (id, t) => (id + 500L, t.mkString(" ")) }).toDF("id", "text")
    // the index a pipeline persisted before band_hashes existed
    val legacy = corpusDf
      .select(col("id").as("_id"), HashFunctions.minhash_signature(sh, 128, 42L).as("_sig"))
      .select(col("_id"), col("_sig"), posexplode(reference(col("_sig"), 16, 8)))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bucket"))
      .select(col("_id"), col("_sig"), col("_band"), col("_bucket"))
    val current = Dedup.minhashIndex(corpusDf, "id", sh)
    assert(current.exceptAll(legacy).count() === 0)
    assert(legacy.exceptAll(current).count() === 0)
    def kept(index: DataFrame) =
      Dedup.minhashIncremental(batchDf, index, "id", sh, threshold = 0.5)
        .select("id").as[Long].collect().toSet
    val viaLegacy = kept(legacy)
    val all = batchDf.select("id").as[Long].collect().toSet
    assert((all -- viaLegacy).size >= 40, s"too few drops to tell: ${(all -- viaLegacy).size}")
    assert(viaLegacy === kept(current))
  }
}
