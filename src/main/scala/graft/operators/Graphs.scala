package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph aggregates over an edge list. Triangle counting uses the
  * degree-ordered orientation (the node-iterator++ / "compact-forward"
  * scheme, Schank & Wagner 2005): every undirected edge is directed from
  * its lower endpoint to its higher endpoint under the total order
  * (degree, id), wedges are enumerated only at their lowest-ordered apex,
  * and each triangle is counted exactly once — closed by a single
  * semi-join against the oriented edge set. Orientation bounds every
  * node's out-degree by O(√m), so the wedge join materializes O(m^1.5)
  * candidates worst-case instead of Σdeg² — the difference between a
  * star graph exploding and not.
  *
  * Scale shape: degrees are one partial-aggregated counts-only shuffle;
  * the wedge enumeration is a self-equi-join on the apex; closure is an
  * 8-byte-pair semi-join. No per-node adjacency list is ever
  * materialized, so a celebrity node costs its (bounded) out-degree, not
  * its full neighborhood, in any single task.
  */
object Graphs {

  /** Count triangles in the undirected graph given by `(src, dst)` edge
    * rows. Self-loops are dropped, parallel/reversed duplicates
    * collapse. Output: one row (n_nodes, n_edges, n_triangles) — all
    * BIGINT, engine-exact.
    */
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame = {
    // canonical undirected edge set — cached: degrees, orientation and
    // the edge count each read it, and the caller's edge source may be
    // expensive (e.g. a similarity join)
    val e = canonical(edges, src, dst)
    // cached: both join branches of the orientation read it, and the node
    // count aggregate below reads it a third time
    val deg = graft.Caches.track(
      e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("_d"))
        .persist())
    // orient by (degree, id): lexicographic compare needs no global rank —
    // a row_number over all nodes would be a single-task sort at scale
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("_d").as("_du")), "u")
      .join(deg.select(col("n").as("v"), col("_d").as("_dv")), "v")
    val uFirst = col("_du") < col("_dv") ||
      (col("_du") === col("_dv") && col("u") < col("v"))
    val oriented = graft.Caches.track(withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("d"),
        when(uFirst, col("_dv")).otherwise(col("_du")).as("dd"))
      .persist())
    // fill eagerly: the wedge sides and the closing build stage execute
    // concurrently and would otherwise each recompute a lazy cache.
    // This is the kernel's ONE blocking action — it transitively fills
    // the e and deg caches too; n_nodes/n_edges ride the final job as
    // 1-row aggregates over those caches instead of separate driver
    // counts (r15: two fewer sequential jobs per execution, same values
    // — the orientation is an edge bijection and every node has an edge,
    // so |oriented| = |e| and |deg| = |V| by construction).
    oriented.count()
    // wedges at the apex s: out-neighbors (d1 ≺ d2), closed by the
    // oriented edge d1 → d2 (≺ is the same (degree, id) order, so the
    // closing edge, if present, is oriented exactly this way)
    val e1 = oriented.select(col("s"), col("d").as("d1"), col("dd").as("dd1"))
    val e2 = oriented.select(col("s"), col("d").as("d2"), col("dd").as("dd2"))
    val wedges = e1.join(e2, "s")
      .filter(col("dd1") < col("dd2") ||
        (col("dd1") === col("dd2") && col("d1") < col("d2")))
      .select(col("d1"), col("d2"))
    val closing = oriented.select(col("s").as("d1"), col("d").as("d2"))
    val triangles = wedges.join(closing, Seq("d1", "d2"), "left_semi")
    // left_semi dedups the probe side per build match, but wedges are
    // already unique per (apex, d1, d2): count AFTER the apex is dropped
    // would undercount — so count wedge rows surviving the semi-join,
    // which is exactly one per triangle (unique apex per triangle)
    triangles.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** PageRank in exact fixed-point integer arithmetic — every engine that
    * replays the same algebra gets bit-identical ranks, so the result is
    * a differential-testable dataset VERSION, not a float that drifts
    * with summation order. Ranks live in parts-per-`scale` (default ppm);
    * one iteration is
    *
    *   contrib(v) = Σ_{u→v} ⌊rank(u) / outdeg(u)⌋
    *   rank'(v)   = (scale − damp) + ⌊damp · contrib(v) / scale⌋
    *
    * with the damping product decomposed as
    * `(c ⌊/⌋ scale)·damp + ((c mod scale)·damp) ⌊/⌋ scale` — exactly
    * ⌊c·damp/scale⌋ (write c = q·scale + r; q·damp is integral), but the
    * largest intermediate is max(n·damp, scale·damp) instead of
    * c·damp ≈ n·scale·damp, so 64-bit arithmetic holds to ~10¹² nodes
    * rather than overflowing at ~10⁷. The floor-division mass loss (up
    * to outdeg−1 ppm per node per hop) is the price of exactness and is
    * identical in every engine.
    *
    * `edges` is symmetrized (undirected input), so every node holds
    * in-edges and the rank vector never loses membership. The rounds run
    * in [[rankKernel]] with unit weights and a uniform restart.
    */
  def pageRank(edges: DataFrame, src: String, dst: String, iterations: Int,
      scale: Long = 1000000L, damp: Long = 850000L,
      checkpointDir: Option[String] = None): DataFrame =
    rankKernel("pageRank", iterations, scale, damp, checkpointDir) {
      symmetric(edges, src, dst)
        .select(col("u"), col("v"), lit(1L).as("w"), col("_W"), lit(1L).as("_r"))
    }

  /** WEIGHTED PageRank over a DIRECTED edge list — the form similarity
    * and interaction graphs actually need (an edge's strength is a
    * count: co-purchases, shared shingles, message volume). Same exact
    * fixed-point integer algebra as [[pageRank]], with the contribution
    * split by edge weight:
    *
    *   contrib(v) = Σ_{u→v} ⌊rank(u)·w(u,v) / W(u)⌋,  W(u) = Σ_x w(u,x)
    *
    * The rank·w product runs in DECIMAL(38,0) before the integral
    * divide, so 64-bit weights never overflow the algebra. Parallel
    * edges fold (weights sum); non-positive/null weights drop; nodes
    * with no in-edges keep the restart mass (the per-round left join
    * against the persisted node frame — the one structural cost the
    * symmetric [[pageRank]] avoids); dangling nodes lose their mass,
    * the standard simplification, replayed identically by the oracle.
    * Symmetrize the input (union both directions) for undirected
    * semantics.
    */
  def pageRankWeighted(edges: DataFrame, src: String, dst: String,
      weight: String, iterations: Int,
      scale: Long = 1000000L, damp: Long = 850000L,
      checkpointDir: Option[String] = None): DataFrame =
    rankKernel("pageRankWeighted", iterations, scale, damp, checkpointDir,
        directed = true) {
      val folded = edges.select(col(src).as("u"), col(dst).as("v"),
          col(weight).cast("long").as("w"))
        .filter(col("u").isNotNull && col("v").isNotNull &&
          col("w").isNotNull && col("w") > 0)
        .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      // a DECIMAL w makes the kernel's rank·w product decimal
      folded.join(folded.groupBy(col("u")).agg(sum(col("w")).as("_W")), "u")
        .select(col("u"), col("v"), col("w").cast("decimal(38,0)").as("w"),
          col("_W"), lit(1L).as("_r"))
    }

  /** Personalized PageRank (Jeh & Widom 2003 "Scaling Personalized Web
    * Search" semantics, the [[pageRank]] fixed-point integer algebra):
    * the restart mass returns to the SEED set instead of every node, so
    * ranks measure proximity to the seeds — the graph-similarity signal
    * recommendation and related-entity queries run on. One iteration is
    *
    *   rank'(v) = [v ∈ S]·(scale − damp) + ⌊damp · contrib(v) / scale⌋
    *
    * with init rank₀ = [v ∈ S]·scale — exactly [[pageRank]] with the
    * uniform restart replaced by the seed indicator, so the same
    * decomposition bounds intermediates and any engine replays it
    * digit-for-digit. The seed flag rides the persisted edge frame per
    * DESTINATION, so no per-round seed join exists. Output covers every
    * node (non-seed nodes far from S converge to 0 — kept, because the
    * oracle's dense replay keeps them). At 100 TB with a small seed set,
    * compose with [[bfsDistances]] first: extract the k-hop neighborhood
    * (PPR mass outside it is negligible by damp^k) and run the rounds on
    * the subgraph.
    */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, sourceCol: String, iterations: Int,
      scale: Long = 1000000L, damp: Long = 850000L,
      checkpointDir: Option[String] = None): DataFrame =
    rankKernel("personalizedPageRank", iterations, scale, damp, checkpointDir) {
      val seeds = sources.select(col(sourceCol).cast("long").as("v"))
        .filter(col("v").isNotNull).distinct()
        .withColumn("_seed", lit(1L))
      symmetric(edges, src, dst).join(seeds, Seq("v"), "left")
        .select(col("u"), col("v"), lit(1L).as("w"), col("_W"),
          coalesce(col("_seed"), lit(0L)).as("_r"))
    }

  /** The canonical undirected edge set (u < v; self-loops and null
    * endpoints dropped), persisted. Canonicalized BEFORE distinct — a
    * reversed duplicate (a,b)/(b,a) must collapse to one undirected edge,
    * or its contributions double.
    */
  private def canonical(edges: DataFrame, src: String, dst: String): DataFrame =
    graft.Caches.track(
      edges.select(least(col(src), col(dst)).as("u"),
          greatest(col(src), col(dst)).as("v"))
        .filter(col("u") =!= col("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct()
        .persist())

  /** [[canonical]] in both directions with the source's degree:
    * (u, v, _W = outdeg(u)). The canonical set is persisted because the
    * symmetrizing union references it twice and the degree fold
    * references the union again — without the cache leaf the (possibly
    * expensive) edge SOURCE is cloned into every branch (measured: the
    * dist-1 fuzzy-join source executed 4× inside one materialization).
    */
  private def symmetric(edges: DataFrame, src: String, dst: String): DataFrame = {
    val undir = canonical(edges, src, dst)
    // fill BEFORE deriving: the degree fold references this cache three
    // times in ONE job; scans of an unfilled cache each race to compute
    // the source concurrently
    undir.count()
    val sym = undir.union(undir.select(col("v").as("u"), col("u").as("v")))
    sym.join(sym.groupBy(col("u")).agg(count(lit(1)).as("_W")), "u")
  }

  /** The one PageRank kernel. `edges` is (u, v, w, _W, _r): the edge u→v
    * carries ⌊rank(u)·w / W(u)⌋ of u's rank, and `_r` ∈ {0, 1} is v's
    * restart indicator. From rank₀(v) = r(v)·scale, one round is
    *
    *   rank'(v) = r(v)·(scale − damp) + ⌊damp · Σ_{u→v} ⌊rank(u)·w / W(u)⌋ / scale⌋
    *
    * with the damping product decomposed as in [[pageRank]]. Unit weights
    * (w = 1, W = outdeg, 64-bit products) and a uniform restart (r ≡ 1)
    * are the special cases. `directed`: a node can lack in-edges, so each
    * round left-joins the node frame to keep its (uniform) restart mass.
    *
    * Scale shape: the persisted state is the edge frame, HASH-PARTITIONED
    * ON u at build time — every round joins (ranks ⋈ e) on u, so the edge
    * side (|E| rows × iterations otherwise) never re-shuffles and only the
    * |V|-sized rank vector does; W(u) rides the frame, so no round pays a
    * degree join. A round is that one join plus one shuffle keyed by the
    * destination carrying (node, contribution, restart) rows,
    * partial-aggregated map-side.
    * The rounds run on [[Checkpoints.fixpoint]] with its per-round
    * plan-truncating checkpoint — a persist alone leaves the logical plan
    * nesting every previous round (measured: round time tripling by round
    * 5 at sf0.1).
    */
  private def rankKernel(name: String, iterations: Int, scale: Long, damp: Long,
      checkpointDir: Option[String], directed: Boolean = false)(
      edges: => DataFrame): DataFrame = {
    require(iterations >= 1, s"$name: iterations must be >= 1")
    require(scale > damp && damp > 0, s"$name: need scale > damp > 0")
    val built = edges
    val parts = built.sparkSession.sessionState.conf.numShufflePartitions
    // cached + filled eagerly: read every round, and a lazy leaf would
    // re-derive the possibly-expensive edge source under the first round
    val e = graft.Caches.track(built.repartition(parts, col("u")).persist())
    e.count()
    val restart =
      if (!directed) e.groupBy(col("v").as("_n")).agg(max(col("_r")).as("_r"))
      else {
        // partitioned too: it is the BIG side of every round's left join
        val nodes = graft.Caches.track(
          e.select(col("u").as("_n")).union(e.select(col("v").as("_n")))
            .distinct().repartition(parts, col("_n")).persist())
        nodes.count()
        nodes.withColumn("_r", lit(1L))
      }
    def round(ranks: DataFrame): DataFrame = {
      val contrib = e.join(ranks.withColumnRenamed("_n", "u"), "u")
        .groupBy(col("v").as("_n"))
        .agg(sum(expr("rank_fp * w DIV _W")).as("_c"), max(col("_r")).as("_r"))
      (if (directed) restart.join(contrib.drop("_r"), Seq("_n"), "left") else contrib)
        .select(col("_n"), (col("_r") * (scale - damp) + coalesce(
          expr(s"_c DIV ${scale}L") * lit(damp) +
            expr(s"((_c % ${scale}L) * ${damp}L) DIV ${scale}L"),
          lit(0L))).as("rank_fp"))
    }
    val (ranks, _) = Checkpoints.fixpoint(checkpointDir,
        round(restart.select(col("_n"), (col("_r") * scale).as("rank_fp"))),
        iterations - 1)((ranks, _) => round(ranks)) { r => r.count(); false }
    ranks.select(col("_n").as("node"), col("rank_fp"))
  }

  /** Multi-source BFS hop distances: every node reachable from `sources`
    * within `maxHops` undirected hops, with its MINIMUM hop count —
    * engine-exact integers (the oracle replays it as a bounded recursive
    * CTE). Frontier expansion is level-synchronous: hop h joins the
    * frontier to the edge list, dedups, and anti-joins the visited set,
    * so a node is labeled exactly once, at its first (= minimal) hop.
    *
    * Scale shape: the round state is the visited frame (node, dist); the
    * frontier is its rows at the last hop. A hop is one shuffle join
    * (frontier ⋈ edges) + a distinct + an anti-join — all on 8-byte node
    * keys; edge/source payloads never travel — and one checkpoint + count
    * on [[Checkpoints.fixpoint]]. Stops when a hop adds no node, so
    * maxHops is a bound, not a cost.
    */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, sourceCol: String, maxHops: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "bfsDistances: maxHops must be >= 0")
    val undir = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col("u") =!= col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    // hash-partitioned on the per-hop join key (see rankKernel): the edge
    // side never re-shuffles inside the loop
    val e = graft.Caches.track(
      undir.union(undir.select(col("v").as("u"), col("u").as("v")))
        .distinct()
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("u"))
        .persist())
    e.count()
    val seed = sources.select(col(sourceCol).cast("long").as("node"))
      .filter(col("node").isNotNull).distinct()
      .select(col("node"), lit(0L).as("dist"))
    var size = -1L
    Checkpoints.fixpoint(checkpointDir, seed, maxHops) { (visited, hop) =>
      val next = visited.filter(col("dist") === hop.n - 1)
        .join(e, col("node") === e("u"))
        .select(e("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(hop.n.toLong).as("dist"))
      visited.union(next)
    } { visited =>
      // an empty frontier adds no node
      val grown = visited.count()
      val stop = grown == size
      size = grown
      stop
    }._1
  }
}
