package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution: the dedup operators emit similarity
  * PAIRS, but a pipeline keeps one canonical document per duplicate
  * CLUSTER — near-duplication is not transitive, so A~B and B~C must
  * collapse {A,B,C} even when A~C was never scored. That is connected
  * components over the similarity graph.
  */
object Cluster {

  /** Distributed connected components by hash-min label propagation:
    * every node starts labeled with its own id and each round takes the
    * min of its and its neighbors' labels (one equi-join + one min
    * aggregate per round — all shuffles on the node id, no driver-side
    * graph). Rounds needed = graph diameter, which for duplicate clusters
    * is small (near-clique components); a worst-case long-chain graph at
    * web scale would want the O(log n)-round star-contraction variant
    * (Kiveris et al., "Connected Components in MapReduce"), which this
    * API could swap in without changing callers.
    *
    * The rounds run on [[graft.operators.Checkpoints.fixpoint]]: each
    * round's labels are checkpointed to truncate the logical plan (THE
    * classic iterative-DataFrame failure is analysis/codegen blowing up
    * after ~10 rounds of join+union+agg), the convergence aggregate is the
    * round's one action, and a superseded round's blocks are released as
    * soon as the next round materializes — without this, up to `maxIter`
    * full label snapshots squat in the MemoryStore for the session's life
    * (measured in round 4 as 8-15× slowdowns of *unrelated* queries
    * sharing the JVM). A restartable production run passes
    * `checkpointDir` pointing at durable storage and gets reliable
    * checkpoints instead of executor-local blocks.
    *
    * Returns one row per node appearing in `edges`: (id, component) with
    * component = min node id of the connected component. Early-exits when
    * a round changes no label.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    // cache the (possibly expensive) edge pipeline ONCE before the
    // symmetrizing union — unionAll(edges, edges.swapped) would otherwise
    // run the upstream plan twice in the same job
    val e0 = edges.select(col(src).as("a"), col(dst).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val und = e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Convergence: labels only decrease under min-propagation, so the label
    // sum is a monotone potential — unchanged sum == fixpoint. The row
    // count rides along in the same aggregate (empty input == converged),
    // so no separate isEmpty job. decimal(38) sum: node ids may be 64-bit
    // hash fingerprints, whose long sum overflows (ANSI error/silent wrap).
    var pot: java.math.BigDecimal = null
    val (labels, converged) = graft.operators.Checkpoints.fixpoint(checkpointDir,
        und.groupBy(col("a")).agg(min(col("b")).as("m"))
          .select(col("a").as("id"), least(col("a"), col("m")).as("comp")),
        maxIter) { (labels, round) =>
      val msgs = und.join(labels, und("a") === labels("id"))
        .select(und("b").as("id"), col("comp"))
      val propagated = labels.unionAll(msgs)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jump (comp -> comp(comp)): halves the remaining path per
      // round, so with the neighbor step convergence is O(log diameter)
      // instead of O(diameter). Near-clique duplicate graphs converge in
      // 1-2 plain rounds, so the jump's extra self-join only switches on
      // once convergence drags — deep chains stay inside maxIter, shallow
      // graphs don't pay for them.
      if (round.n <= 2) propagated
      else {
        // lazy checkpoint consumed by BOTH self-join sides in the round's
        // single job: whichever stage touches a partition first computes
        // and caches it, the other reads the block (block-lock
        // coordination) — no separate materialization job
        val p = round.checkpoint(propagated)
        p.join(p.select(col("id").as("_cid"), col("comp").as("_ccomp")),
            col("comp") === col("_cid"))
          .select(col("id"), least(col("comp"), col("_ccomp")).as("comp"))
      }
    } { labels =>
      val r = labels.agg(
        coalesce(sum(col("comp").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")),
        count(lit(1))).head
      val stop = r.getLong(1) == 0L || pot != null && r.getDecimal(0).compareTo(pot) == 0
      pot = r.getDecimal(0)
      stop
    }
    und.unpersist()
    e0.unpersist()
    // partial labels are silently-wrong fragments — refuse to return them
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter); raise maxIter")
    labels
  }
}
