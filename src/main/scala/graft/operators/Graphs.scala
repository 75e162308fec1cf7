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
    val e = graft.Caches.track(
      edges.select(least(col(src), col(dst)).as("u"),
          greatest(col(src), col(dst)).as("v"))
        .filter(col("u") =!= col("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct()
        .persist())
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
    * Scale shape: the persisted state is one edge frame (u, v, outdeg(u))
    * — degrees are folded in at build time so no per-round degree join is
    * ever paid; an iteration is one join (ranks ⋈ edges on u) plus one
    * shuffle keyed by the edge destination carrying (node, long) pairs,
    * partial-aggregated map-side. No adjacency lists, no driver-side
    * state. `edges` is symmetrized (undirected input), so every node
    * holds in-edges and the rank vector never loses membership.
    */
  def pageRank(edges: DataFrame, src: String, dst: String, iterations: Int,
      scale: Long = 1000000L, damp: Long = 850000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(scale > damp && damp > 0, "pageRank: need scale > damp > 0")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    // canonicalize BEFORE distinct — a reversed duplicate (a,b)/(b,a)
    // must collapse to one undirected edge, or its contributions double.
    // Persisted: the symmetrizing union references it twice and the
    // degree fold below references the union again — without this cache
    // leaf the (possibly expensive) edge SOURCE is cloned into every
    // branch (measured: the dist-1 fuzzy-join source executed 4× inside
    // one materialization, tripling the query).
    val undir = graft.Caches.track(
      edges.select(least(col(src), col(dst)).as("u"),
          greatest(col(src), col(dst)).as("v"))
        .filter(col("u") =!= col("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct()
        .persist())
    // fill BEFORE deriving: the degree fold references this cache three
    // times in ONE job (union ×2 + the aggregate side); scans of an
    // unfilled cache each race to compute the source concurrently
    undir.count()
    val sym = undir.union(undir.select(col("v").as("u"), col("u").as("v")))
    // The degree rides ON the persisted edge frame: contributions divide
    // rank(u) by outdeg(u) every round, so joining degrees per round
    // would re-pay a join × iterations. One degree aggregate + one join
    // at build time, then every iteration is a single join (ranks ⋈
    // edges) + one partial-aggregated shuffle — the minimum an edge-
    // partitioned PageRank round can do. Cached + filled eagerly: read
    // every iteration, and a lazy leaf would re-derive the possibly-
    // expensive edge source under the first round.
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("_deg"))
    // the persisted edge frame is HASH-PARTITIONED ON u at build time:
    // every iteration joins (ranks ⋈ e) on u, and a cache that already
    // satisfies the join's clustering means the EDGE side — the largest
    // frame in the loop, |E|×iterations rows moved otherwise — never
    // re-shuffles; only the (|V|-sized) rank vector does. One build-time
    // exchange buys `iterations` edge exchanges; the same trade a
    // 1000-executor run wants, since e dwarfs ranks at any scale.
    val e = graft.Caches.track(
      sym.join(deg, "u")
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("u"))
        .persist())
    e.count()
    var ranks = e.select(col("u").as("_n")).distinct()
      .select(col("_n"), lit(scale).as("rank_fp"))
    // per-round plan-TRUNCATING checkpoint (the CC rounds pattern,
    // Cluster.connectedComponents): a persist alone leaves the logical
    // plan nesting every previous round, so analysis + codegen re-walk a
    // growing tree each iteration (measured: round time tripling by
    // round 5 at sf0.1). Each round releases its predecessor's blocks,
    // and the LAST round's blocks are handed to Caches so the
    // session-level clear frees them after the caller consumes the
    // result. With `checkpointDir` set the rounds are RELIABLE
    // checkpoints in durable storage (executor loss mid-loop is
    // recoverable); unset, fast executor-local localCheckpoint blocks.
    val lcp = Checkpoints.truncating(checkpointDir.isDefined) _
    var release: () => Unit = () => ()
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("_n", "u"), "u")
        .select(col("v"), expr("rank_fp DIV _deg").as("_c"))
        .groupBy(col("v")).agg(sum(col("_c")).as("_contrib"))
      val stepped = contrib.select(col("v").as("_n"),
        (lit(scale - damp) +
          expr(s"_contrib DIV ${scale}L") * lit(damp) +
          expr(s"((_contrib % ${scale}L) * ${damp}L) DIV ${scale}L"))
          .as("rank_fp"))
      val (next, nextRelease) = lcp(stepped)
      next.count()
      release()
      ranks = next
      release = nextRelease
    }
    graft.Caches.trackRelease(release)
    ranks.select(col("_n").as("node"), col("rank_fp"))
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
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "pageRankWeighted: iterations must be >= 1")
    require(scale > damp && damp > 0, "pageRankWeighted: need scale > damp > 0")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    val dir0 = edges.select(col(src).as("u"), col(dst).as("v"),
        col(weight).cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("w").isNotNull && col("w") > 0)
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
    val wsum = dir0.groupBy(col("u")).agg(sum(col("w")).as("_wsum"))
    // weighted out-degree rides the persisted edge frame (the pageRank
    // discipline: no per-round degree join); hash-partitioned on the
    // per-round join key at build so the edge side never re-shuffles
    // inside the loop (see pageRank)
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = graft.Caches.track(
      dir0.join(wsum, "u").repartition(parts, col("u")).persist())
    e.count()
    // same for the node frame: it is the BIG side of every round's
    // restart-mass left join on _n
    val nodes = graft.Caches.track(
      e.select(col("u").as("_n")).union(e.select(col("v").as("_n")))
        .distinct().repartition(parts, col("_n")).persist())
    nodes.count()
    val lcp = Checkpoints.truncating(checkpointDir.isDefined) _
    var ranks = nodes.select(col("_n"), lit(scale).as("rank_fp"))
    var release: () => Unit = () => ()
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("_n", "u"), "u")
        .select(col("v"),
          expr("cast(rank_fp as decimal(38,0)) * w div _wsum").as("_c"))
        .groupBy(col("v")).agg(sum(col("_c")).as("_contrib"))
      val stepped =
        nodes.join(contrib.withColumnRenamed("v", "_n"), Seq("_n"), "left")
          .select(col("_n"),
            (lit(scale - damp) + coalesce(
              expr(s"_contrib DIV ${scale}L") * lit(damp) +
                expr(s"((_contrib % ${scale}L) * ${damp}L) DIV ${scale}L"),
              lit(0L))).as("rank_fp"))
      val (next, nextRelease) = lcp(stepped)
      next.count()
      release()
      ranks = next
      release = nextRelease
    }
    graft.Caches.trackRelease(release)
    ranks.select(col("_n").as("node"), col("rank_fp"))
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
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "personalizedPageRank: iterations must be >= 1")
    require(scale > damp && damp > 0, "personalizedPageRank: need scale > damp > 0")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    val undir = graft.Caches.track(
      edges.select(least(col(src), col(dst)).as("u"),
          greatest(col(src), col(dst)).as("v"))
        .filter(col("u") =!= col("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct()
        .persist())
    undir.count()
    val seeds = sources.select(col(sourceCol).cast("long").as("v"))
      .filter(col("v").isNotNull).distinct()
      .withColumn("_vseed", lit(1L))
    val sym = undir.union(undir.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("_deg"))
    // (u, v, outdeg(u), seed(v)): the restart indicator joins ONCE at
    // build time and thereafter rides the aggregate — no per-round join;
    // hash-partitioned on the per-round join key (see pageRank)
    val e = graft.Caches.track(
      sym.join(deg, "u").join(seeds, Seq("v"), "left")
        .select(col("u"), col("v"), col("_deg"),
          coalesce(col("_vseed"), lit(0L)).as("_vseed"))
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("u"))
        .persist())
    e.count()
    val lcp = Checkpoints.truncating(checkpointDir.isDefined) _
    var ranks = e.select(col("u").as("_n")).distinct()
      .join(seeds.select(col("v").as("_n"), col("_vseed")), Seq("_n"), "left")
      .select(col("_n"),
        (coalesce(col("_vseed"), lit(0L)) * scale).as("rank_fp"))
    var release: () => Unit = () => ()
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("_n", "u"), "u")
        .select(col("v"), col("_vseed"), expr("rank_fp DIV _deg").as("_c"))
        .groupBy(col("v"))
        .agg(sum(col("_c")).as("_contrib"), max(col("_vseed")).as("_s"))
      val stepped = contrib.select(col("v").as("_n"),
        (col("_s") * (scale - damp) +
          expr(s"_contrib DIV ${scale}L") * lit(damp) +
          expr(s"((_contrib % ${scale}L) * ${damp}L) DIV ${scale}L"))
          .as("rank_fp"))
      val (next, nextRelease) = lcp(stepped)
      next.count()
      release()
      ranks = next
      release = nextRelease
    }
    graft.Caches.trackRelease(release)
    ranks.select(col("_n").as("node"), col("rank_fp"))
  }

  /** Multi-source BFS hop distances: every node reachable from `sources`
    * within `maxHops` undirected hops, with its MINIMUM hop count —
    * engine-exact integers (the oracle replays it as a bounded recursive
    * CTE). Frontier expansion is level-synchronous: hop h joins the
    * frontier to the edge list, dedups, and anti-joins the visited set,
    * so a node is labeled exactly once, at its first (= minimal) hop.
    *
    * Scale shape: the persisted state is the symmetrized edge list plus
    * two node-sized frames (frontier, visited) per round, both
    * plan-truncated via localCheckpoint with predecessor blocks released
    * (the pageRank rounds discipline). A hop is one shuffle join
    * (frontier ⋈ edges) + a distinct + an anti-join — all on 8-byte node
    * keys; edge/source payloads never travel. Early-exits when the
    * frontier empties, so maxHops is a bound, not a cost.
    */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, sourceCol: String, maxHops: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "bfsDistances: maxHops must be >= 0")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    val undir = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col("u") =!= col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    // hash-partitioned on the per-hop join key (the pageRank discipline):
    // every hop joins frontier ⋈ e on u, so the edge side — |E| rows ×
    // maxHops otherwise — never re-shuffles inside the loop
    val e = graft.Caches.track(
      undir.union(undir.select(col("v").as("u"), col("u").as("v")))
        .distinct()
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("u"))
        .persist())
    e.count()
    val lcp = Checkpoints.truncating(checkpointDir.isDefined) _
    val (seed, seedRelease) = lcp(
      sources.select(col(sourceCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct()
        .select(col("node"), lit(0L).as("dist")))
    seed.count()
    var visited = seed
    var frontier = seed.select("node")
    // sliding-window block release (the pageRank rounds discipline,
    // shifted by one): round N still READS round N−1's visited (the
    // anti-join) and frontier, so those blocks are released only after
    // round N's frames materialize — at any moment at most two rounds of
    // node-sized frames are live, not the whole BFS history. The FINAL
    // visited/frontier pair outlives the loop (the caller consumes it),
    // so its releases hand off to Caches.
    var prevVisRelease: () => Unit = seedRelease
    var prevNextRelease: () => Unit = () => ()
    var hop = 1
    var frontierSize = 1L
    while (hop <= maxHops && frontierSize > 0) {
      val (next, r1) = lcp(
        frontier.join(e, frontier("node") === e("u"))
          .select(e("v").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(hop.toLong).as("dist")))
      frontierSize = next.count()
      if (frontierSize > 0) {
        val (vis, r2) = lcp(visited.union(next))
        vis.count()
        // both of round N's frames are materialized — round N−1's can go
        prevVisRelease(); prevNextRelease()
        prevVisRelease = r2
        prevNextRelease = r1
        visited = vis
        frontier = next.select("node")
      } else r1()
      hop += 1
    }
    graft.Caches.trackRelease(prevVisRelease)
    graft.Caches.trackRelease(prevNextRelease)
    visited
  }
}
