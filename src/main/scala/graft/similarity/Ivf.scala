package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Hash64, VectorFunctions}

/** IVF (inverted-file) approximate nearest neighbor: partition the corpus
  * into `nCells` Voronoi cells around k-means centroids, then search only
  * the `nProbe` cells nearest to each query — the standard
  * billion-vector-scale index structure (Jégou et al., TPAMI'11).
  *
  * Training is a deterministic driver-side Lloyd's k-means over a bounded
  * sample (centroid count and dim are tiny — the INDEX, i.e. the
  * cell-assigned corpus, stays fully distributed). Assignment is a custom
  * expression over the broadcast centroid matrix; the probe is a cell
  * equi-join: one shuffle keyed by cell id, cost O(|corpus|·nProbe/nCells)
  * per query instead of O(|corpus|).
  */
object Ivf {

  /** Deterministic Lloyd's k-means (kmeans++-free: seeded-hash init) over
    * a sample collected to the driver. Inputs are L2-normalized so
    * Euclidean argmin == cosine argmax.
    *
    * Sampling is reproducible regardless of file layout or task order:
    * a hash filter on the id column thins the candidate set (set
    * `sampleMod` ≈ corpusSize / sampleN at scale to spread the sample
    * across the corpus; 1 keeps everything), then a distributed
    * sort-by-id + limit picks the first `sampleN` — deterministic, and
    * the driver only ever receives `sampleN` rows (a TakeOrdered, never
    * a full collect).
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int,
      iters: Int = 10, sampleN: Int = 10000, seed: Long = 11L,
      sampleMod: Int = 1): Array[Array[Double]] = {
    val filtered = corpus
      .select(col(idCol).cast("string").as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .filter(if (sampleMod <= 1) lit(true) else pmod(xxhash64(col("_id")), lit(sampleMod)) === 0)
    val rows = filtered.orderBy(col("_id")).limit(sampleN).collect()
    val sample = rows.map { r =>
      val seq = r.getSeq[Double](1)
      require(seq != null,
        s"trainCentroids: null $vecCol for id ${r.getString(0)} — " +
          "filter null embeddings before training")
      normalize(seq.toArray)
    }
    require(sample.length >= nCells, s"sample ${sample.length} < nCells $nCells")
    val dim = sample.head.length
    sample.zip(rows).foreach { case (v, r) =>
      require(v.length == dim,
        s"trainCentroids: ragged embedding for id ${r.getString(0)} " +
          s"(${v.length} vs $dim) — mixed embedding versions cannot share an index")
    }
    // seeded init: pick nCells distinct sample indices by hash order
    var centroids = sample.indices
      .sortBy(i => Hash64.mix(seed + i))
      .take(nCells).map(sample(_).clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCells)(new Array[Double](centroids(0).length))
      val counts = new Array[Int](nCells)
      sample.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var j = 0
        while (j < v.length) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty cell: keep old centroid
        else normalize(sums(c).map(_ / counts(c)))
      }.toArray
    }
    centroids
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    v.map(_ * inv)
  }

  private[similarity] def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.MinValue
    var c = 0
    while (c < cs.length) {
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j) * cs(c)(j); j += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  private[similarity] def nearestN(v: Array[Double], cs: Array[Array[Double]], n: Int): Array[Int] = {
    // a longer vector would crash with a bare AIOOBE; a SHORTER one would
    // silently score truncated dot products and assign wrong cells —
    // mixed embedding versions must fail by name (same contract as
    // VectorFunctions.hyperplaneSig)
    if (v.length != cs(0).length)
      throw new IllegalArgumentException(
        s"IVF: vector dim ${v.length} != centroid dim ${cs(0).length} — " +
          "mixed embedding versions cannot share an index")
    cs.indices.map { c =>
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j) * cs(c)(j); j += 1 }
      (-dot, c)
    }.sorted.take(n).map(_._2).toArray
  }

  /** `nProbe` nearest cell ids for a vector (nProbe=1 → corpus
    * assignment). Centroids ride inside the expression (small matrix).
    */
  case class NearestCells(child: Expression, centroids: Array[Array[Double]], nProbe: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val v = new Array[Double](arr.numElements())
      var i = 0
      while (i < v.length) { v(i) = arr.getDouble(i); i += 1 }
      new GenericArrayData(nearestN(v, centroids, nProbe))
    }

    override protected def withNewChildInternal(c: Expression): NearestCells = copy(child = c)
  }

  private[similarity] def nearestCells(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(NearestCells(expression(vec.cast("array<double>")), centroids, nProbe))
  }

  /** Assign every corpus vector to its cell (the distributed index). */
  def index(corpus: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col(id).as("neighbor_id"), col(vec).cast("array<double>").as("_cv"),
      element_at(nearestCells(col(vec), centroids, 1), 1).as("_cell"))

  /** Top-k cosine neighbors searching only nProbe cells per query. */
  def topK(queries: DataFrame, corpus: DataFrame, qId: String, qVec: String,
      cId: String, cVec: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      seed: Long = 11L, excludeSelf: Boolean = true,
      sampleN: Int = 10000, sampleMod: Int = 1): DataFrame = {
    val centroids = trainCentroids(corpus, cId, cVec, nCells, seed = seed,
      sampleN = sampleN, sampleMod = sampleMod)
    val indexed = index(corpus, cId, cVec, centroids)
    probe(queries, indexed, qId, qVec, centroids, k, nProbe, excludeSelf)
  }

  /** Top-k over an int8-QUANTIZED cell index: the resident index stores
    * struct(scale, tinyint codes) instead of array<double> — ~8× smaller
    * per vector, which at corpus scale is the difference between an index
    * that fits executor memory and one that spills every probe. Codes are
    * dequantized on the fly inside the probe's scoring expression (max
    * per-component error scale/2 ≈ 0.4 % of the max component — rank
    * perturbation only among near-ties). Same IVF shape otherwise: cell
    * equi-join, O(|corpus|·nProbe/nCells) scored candidates per query.
    */
  def topKQuantized(queries: DataFrame, corpus: DataFrame, qId: String, qVec: String,
      cId: String, cVec: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      seed: Long = 11L, excludeSelf: Boolean = true,
      sampleN: Int = 10000, sampleMod: Int = 1): DataFrame = {
    val centroids = trainCentroids(corpus, cId, cVec, nCells, seed = seed,
      sampleN = sampleN, sampleMod = sampleMod)
    // two-projection quantize (scale becomes an attribute before the codes
    // lambda reads it — the one-Column form is O(d²) per row), then the
    // float vectors are DROPPED: only codes cross the probe shuffle;
    // dequantization happens in the post-join scoring expression
    val indexed = VectorFunctions.quantizeInt8Col(
        index(corpus, cId, cVec, centroids), col("_cv"), "_q")
      .drop("_cv")
    probe(queries, indexed, qId, qVec, centroids, k, nProbe, excludeSelf,
      corpusVec = VectorFunctions.dequantizeInt8(col("_q")))
  }

  /** Probe a PREBUILT index — the entry for incrementally-maintained
    * indexes: production vector search trains centroids once, persists
    * the cell index, assigns each ingest batch to the EXISTING cells
    * ([[index]] with the stored centroids — no retrain, no rescan of the
    * old corpus), unions, and searches. Centroids go stale as the
    * distribution drifts (recall decays, monitored by the recall-floor
    * oracles); retraining is a rebuild, not an increment.
    */
  def search(queries: DataFrame, indexed: DataFrame, qId: String, qVec: String,
      centroids: Array[Array[Double]], k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame =
    probe(queries, indexed, qId, qVec, centroids, k, nProbe, excludeSelf)

  /** [[search]] for STREAMING query frames: the per-query rank window —
    * which does not exist on an unbounded stream — is replaced by the
    * bounded arg-top-k aggregate ([[graft.functions.BoundedTopKPair]])
    * keyed on the [[graft.functions.DoubleSortKey]] of the cosine, an
    * order-preserving DOUBLE→BIGINT bijection, so the aggregate's
    * (key DESC, id ASC) top-k IS the exact double-order top-k with no
    * precision loss. Plan shape: stream-static cell equi-join against
    * the prebuilt index (each corpus vector lives in exactly one cell, so
    * a (query, neighbor) pair is scored at most once), then a streaming
    * aggregation whose state is k (long, long) pairs per query — bounded
    * regardless of stream length. Works on batch frames too (same code
    * path, no state). Output: (query_id, _top array<(score_key, id)>
    * best-first); explode with `posexplode` for (rank, neighbor_id).
    */
  def searchTopKAgg(queries: DataFrame, indexed: DataFrame, qId: String,
      qVec: String, centroids: Array[Array[Double]], k: Int, nProbe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
      col(qVec).cast("array<double>").as("_qv"),
      explode(nearestCells(col(qVec), centroids, nProbe)).as("_cell"))
    q.join(indexed, "_cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("_key", graft.functions.VectorExprFunctions.double_sort_key(
        VectorFunctions.cosineFused(col("_qv"), col("_cv"))))
      .groupBy(col("query_id"))
      .agg(graft.functions.AggExpressions.topkPairAgg(
        col("_key"), col("neighbor_id"), k).as("_top"))
  }

  /** Shared probe: explode each query's nProbe nearest cells, equi-join
    * the cell index, score, keep top-k per query. `corpusVec` is evaluated
    * AFTER the join, so a compressed index representation stays compressed
    * across the exchange.
    */
  private def probe(queries: DataFrame, indexed: DataFrame, qId: String, qVec: String,
      centroids: Array[Array[Double]], k: Int, nProbe: Int,
      excludeSelf: Boolean, corpusVec: Column = col("_cv")): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("_qv"),
      explode(nearestCells(col(qVec), centroids, nProbe)).as("_cell"))
    val cands = indexed.join(q, "_cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("_cos", VectorFunctions.cosineFused(col("_qv"), corpusVec))
    val w = Window.partitionBy(col("query_id")).orderBy(col("_cos").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
