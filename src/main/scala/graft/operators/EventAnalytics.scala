package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-event analytics over an event log: funnel reach, cohort
  * retention, and transition (path) counts. These are the classic
  * "product analytics" queries a warehouse engine is asked for the day
  * an event stream lands next to the fact tables; all three reduce to
  * integer evidence (user counts per step / cohort cell / type bigram),
  * so a SQL oracle reproduces them digit-for-digit.
  *
  * Scale shape, per operator:
  * - [[Funnel.reach]]: k chained partial-aggregated min-reductions keyed
  *   by user — each pass shuffles (user, min_ts) PAIRS, never events; no
  *   per-user buffer exists anywhere, so a pathological user costs one
  *   combiner cell, not memory.
  * - [[Cohorts.retention]]: two exchanges (first-seen reduction, then the
  *   distinct over cohort cells) — both carry 8-byte keys + longs.
  * - [[Sequences.transitions]]: one exchange keyed by user; the lag pass
  *   and the bigram aggregation share it, and the aggregation is
  *   partial-aggregated over at most |types|² distinct keys.
  */
object Funnel {

  /** Per-step funnel reach: for each user, step 1's time is the earliest
    * event matching `steps(0)`; step i+1's time is the earliest event
    * matching its predicate STRICTLY AFTER the user's step-i time (and,
    * with `windowUs`, within that of step 1 — "converted within N days").
    * Returns one row per step: (step_seq, step_name, n_users), n_users
    * non-increasing by construction.
    *
    * `tsUs` must be integer microseconds (see
    * [[graft.GraftSession.eventTimeMicros]]).
    */
  def reach(events: DataFrame, user: Column, tsUs: Column,
      steps: Seq[(String, Column)], windowUs: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, s"funnel: need at least 2 steps (got ${steps.size})")
    require(windowUs.forall(_ > 0), "funnel: windowUs must be positive")
    val ev = events.select(Seq(user.as("_u"), tsUs.as("_ts")) ++
      steps.zipWithIndex.map { case ((_, p), i) => p.as(s"_m$i") }: _*)
    // each step's reach count is folded off its chain frame as a 1-row
    // aggregate; the union of those is the funnel
    chain(ev, steps.size, windowUs).zipWithIndex.map { case (cur, i) =>
      cur.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_seq"), lit(steps(i)._1).as("step_name"),
          col("n_users"))
    }.reduce(_.unionAll(_))
  }

  /** The greedy step chain shared by [[reach]] and [[Sequences
    * .matchPattern]], over `ev` = (_u, _ts, _m0.._m{nSteps-1}, ...): frame
    * i holds (_u, _t0.._ti), one row per key that reached step i+1, where
    * _t0 is the key's earliest _m0 event and each later _ti its earliest
    * _mi event strictly after _t{i-1} (within `windowUs` of _t0). Chained min-reductions: pass i joins the previous frame — one
    * row per SURVIVING key — against the step-i events; every pass is
    * map-side combined before its exchange.
    */
  private[operators] def chain(ev: DataFrame, nSteps: Int,
      windowUs: Option[Long]): Seq[DataFrame] = {
    val t0 = ev.filter(col("_m0")).groupBy(col("_u"))
      .agg(min(col("_ts")).as("_t0"))
    (1 until nSteps).scanLeft(t0) { (cur, i) =>
      val inWindow = windowUs.fold(lit(true))(w => col("_ts") <= col("_t0") + w)
      ev.filter(col(s"_m$i"))
        .join(cur, "_u")
        .filter(col("_ts") > col(s"_t${i - 1}") && inWindow)
        .groupBy(col("_u"))
        // first() over values identical within the group (t_j rides the
        // join from a one-row-per-key frame) — deterministic
        .agg(min(col("_ts")).as(s"_t$i"),
          (0 until i).map(j => first(col(s"_t$j")).as(s"_t$j")): _*)
    }
  }
}

object Cohorts {

  /** Cohort retention triangle: cohort = the user's first-seen time
    * bucket, one output row per (cohort_bucket, bucket_offset) with the
    * count of distinct cohort users active in that bucket. Offset 0 is
    * the cohort bucket itself (always n = cohort size). All-integer
    * bucket arithmetic on microsecond timestamps.
    */
  def retention(events: DataFrame, user: Column, tsUs: Column,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"cohorts: bucketUs must be positive (got $bucketUs)")
    val ev = events.select(user.as("_u"), tsUs.as("_ts"))
    // floorDiv in pure integer arithmetic (pmod is non-negative, so the
    // numerator is an exact multiple and the double division is exact):
    // SQL's truncating division would fold pre-epoch buckets -1 and 0,
    // and a float floor near a boundary could round across it
    val bucket = (c: Column) =>
      ((c - pmod(c, lit(bucketUs))) / lit(bucketUs)).cast("long")
    val firstSeen = ev.groupBy(col("_u")).agg(min(col("_ts")).as("_first"))
      .select(col("_u"), bucket(col("_first")).as("_cohort"))
    ev.join(firstSeen, "_u")
      .select(col("_u"), col("_cohort"),
        (bucket(col("_ts")) - col("_cohort")).as("bucket_offset"))
      .distinct()
      .groupBy(col("_cohort").as("cohort_bucket"), col("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}

object Sequences {

  /** Per-user event-type transition counts (first-order paths): order
    * each user's events by (ts, tieBreak...), count every adjacent
    * (from_type, to_type) bigram across the corpus. The "what do users
    * do next" matrix; row-normalizing gives the Markov transition
    * estimate, left to the caller so the output stays integer-exact.
    */
  def transitions(events: DataFrame, user: Column, tsUs: Column,
      typeCol: Column, tieBreak: Seq[Column] = Nil): DataFrame = {
    // tie-breaks are aliased like every other projected column, so
    // arbitrary EXPRESSIONS work and caller names can't collide with the
    // payload columns
    val tbs = tieBreak.zipWithIndex.map { case (c, i) => c.as(s"_tb$i") }
    val tbCols = tieBreak.indices.map(i => col(s"_tb$i"))
    val w = Window.partitionBy(col("_u")).orderBy(col("_ts") +: tbCols: _*)
    events.select(Seq(user.as("_u"), tsUs.as("_ts"),
        typeCol.as("to_type")) ++ tbs: _*)
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sequential pattern with NEGATION — the CEP / MATCH_RECOGNIZE shape
    * "A then B then C, with no X anywhere in between" that a plain
    * funnel cannot express. Per key, the EARLIEST greedy chain: t₀ =
    * first step-0 event, tᵢ = first step-i event strictly after tᵢ₋₁
    * (optionally all within `windowUs` of t₀); the match is kept only if
    * no `exclude` event falls strictly inside (t₀, t_last). Greedy
    * first-match semantics are deterministic and SQL-replayable — the
    * differential-testable subset of full regex CEP.
    *
    * Output: one row per matched key — (key, t_<name> per step), all
    * BIGINT microseconds.
    *
    * Scale shape: the chained min-reductions are [[Funnel.chain]], the
    * same passes as [[Funnel.reach]] — each pass partial-aggregates
    * (key, min ts) before its exchange, one row per surviving key — and
    * the negation is ONE anti-join of the survivors against the excluded
    * events, keyed by `key`. No per-key event buffer, no ordered scan, no
    * window over raw events.
    */
  def matchPattern(events: DataFrame, key: Column, tsUs: Column,
      steps: Seq[(String, Column)], exclude: Column,
      windowUs: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, s"matchPattern: need at least 2 steps")
    require(windowUs.forall(_ > 0), "matchPattern: windowUs must be positive")
    val ev = graft.Caches.track(events.select(Seq(key.as("_u"),
        tsUs.as("_ts"), exclude.as("_x")) ++
        steps.zipWithIndex.map { case ((_, p), i) => p.as(s"_m$i") }: _*)
      .persist())
    val cur = Funnel.chain(ev, steps.size, windowUs).last
    val last = col(s"_t${steps.size - 1}")
    val poison = ev.filter(col("_x")).select(col("_u"), col("_ts").as("_xts"))
    val clean = cur.join(poison,
        cur("_u") === poison("_u") &&
          col("_xts") > col("_t0") && col("_xts") < last,
        "left_anti")
    clean.select(col("_u").as("key") +:
      steps.zipWithIndex.map { case ((n, _), i) =>
        col(s"_t$i").as(s"t_$n") }: _*)
  }
}
