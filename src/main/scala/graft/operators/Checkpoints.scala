package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The iterative-rounds checkpoint discipline. [[fixpoint]] is the one
  * round loop of the engine — [[graft.dedup.Cluster.connectedComponents]],
  * the PageRank kernel behind [[Graphs.pageRank]] /
  * [[Graphs.pageRankWeighted]] / [[Graphs.personalizedPageRank]], and
  * [[Graphs.bfsDistances]] all run on it: each round's frame is
  * checkpointed LAZILY to truncate the logical plan (which otherwise grows
  * by a join+union+agg per round and blows up analysis/codegen after ~10
  * rounds), and the superseded round's blocks are freed once the next
  * round has materialized. [[Hierarchy.explode]] keeps its own loop (it
  * holds superseded levels on purpose until its fold) over [[truncating]].
  *
  * `reliable = false` (no `checkpointDir`, local runs): `localCheckpoint`
  * blocks — fast, but they die with an executor, so a lost executor
  * mid-loop fails the job. `reliable = true` (the caller passed a durable
  * `checkpointDir`): the round is persisted first so the `checkpoint()`
  * write reads the cache instead of recomputing the round's lineage, then
  * the releaser drops only the cache — the checkpoint FILES in the
  * caller's durable directory take over as the recovery source, so a
  * 50-round PageRank on a real cluster survives executor loss.
  */
private[graft] object Checkpoints {

  /** Lazy plan-truncating checkpoint + a releaser for its cached blocks.
    * Local mode: the checkpointed RDD lives inside the returned Dataset's
    * plan where `df.unpersist` can't reach it — pull the LogicalRDD leaf
    * out of the analyzed plan and release exactly that (never diff the
    * JVM-global persistent-RDD registry: a CONCURRENT driver thread's
    * persists would be captured and unpersisted under its feet).
    */
  def truncating(reliable: Boolean)(df: DataFrame): (DataFrame, () => Unit) =
    if (reliable) {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      (cached.checkpoint(false), () => { cached.unpersist(false); () })
    } else {
      val out = df.localCheckpoint(false)
      val ckRdds = out.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      (out, () => ckRdds.foreach(_.unpersist(false)))
    }

  /** One round of a [[fixpoint]] loop: its number (1-based) and a
    * checkpoint for a frame the step reads more than once. Those
    * checkpoints are released with the round's input, once the round's
    * output has materialized.
    */
  final class Round private[Checkpoints] (val n: Int, reliable: Boolean) {
    private[Checkpoints] var releases = List.empty[() => Unit]
    def checkpoint(df: DataFrame): DataFrame = {
      val (out, release) = truncating(reliable)(df)
      releases ::= release
      out
    }
  }

  /** Iterate `step` from `init` for at most `maxRounds` rounds. `init`
    * (round 0) and every round's output are checkpointed ([[truncating]],
    * reliable iff `checkpointDir` is set), then `done` runs the round's
    * ONE action on the checkpointed frame — it materializes the round and
    * says whether to stop. Only then are the previous round's blocks
    * (and those of checkpoints the step took) released, so at most two
    * rounds are live at any moment. The survivor's blocks back the
    * returned frame: their release goes to [[graft.Caches]], freed by the
    * caller's next `Caches.clear`.
    * Returns the last frame and whether `done` stopped the loop (false:
    * `maxRounds` ran out).
    */
  def fixpoint(checkpointDir: Option[String], init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Round) => DataFrame)(
      done: DataFrame => Boolean): (DataFrame, Boolean) = {
    checkpointDir.foreach(init.sparkSession.sparkContext.setCheckpointDir)
    val reliable = checkpointDir.isDefined
    @annotation.tailrec
    def loop(cur: DataFrame, release: () => Unit, n: Int): (DataFrame, () => Unit, Boolean) =
      if (n > maxRounds) (cur, release, false)
      else {
        val round = new Round(n, reliable)
        val (next, nextRelease) = truncating(reliable)(step(cur, round))
        val stop = done(next)
        release()
        round.releases.foreach(_())
        if (stop) (next, nextRelease, true) else loop(next, nextRelease, n + 1)
      }
    val (first, firstRelease) = truncating(reliable)(init)
    val (out, release, stopped) =
      if (done(first)) (first, firstRelease, true) else loop(first, firstRelease, 1)
    graft.Caches.trackRelease(release)
    (out, stopped)
  }
}
