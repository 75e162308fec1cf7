package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.table
import graft.operators.{Cohorts, Funnel, FuzzyJoin, Sequences}

/** Ordered-event product analytics (funnel, cohort retention, path
  * transitions), the edit-distance-1 similarity join, and Merkle-style
  * replica reconciliation — capabilities a warehouse engine grows the day
  * an event stream lands next to the fact tables, plus the typo-level
  * record-linkage and copy-drift primitives adjacent to the dedup family.
  * Every query reduces to integer/string evidence, so the DuckDB oracle
  * reproduces it digit-for-digit.
  */
object AnalyticsQueries {

  private val weekUs = 7L * 86400L * 1000000L

  /** DuckDB replica of [[graft.operators.Sampling.hashBucket]] (the
    * engine-stable multiplicative hash) over a pre-parenthesized integral
    * SQL expression — shared by every oracle that replays a synthetic
    * hash-derived coordinate or bucket.
    */
  /** The full 32-bit ring value ([[graft.operators.Sampling.hashRing32]])
    * over a pre-parenthesized integral SQL expression.
    */
  private[queries] def ring32Sql(e: String): String =
    s"((((($e & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536" +
      s" + ($e & 65535) * 2654435761) % 4294967296"

  /** [[graft.operators.Sampling.swapHalves]] in SQL: 16-bit half swap of
    * a 32-bit ring value held in a NAMED column.
    */
  private[queries] def swapSql(name: String): String =
    s"(($name >> 16) + ($name & 65535) * 65536)"

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    /** Three-step conversion funnel (view → click → purchase, each step
      * strictly after the previous, converted within 7 days of the first
      * view) — [[graft.operators.Funnel.reach]]. k chained min-reductions
      * keyed by user: (user, min_ts) pairs cross the exchanges, never
      * events, so no per-user buffer exists at any scale.
      */
    "funnel_steps" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      Funnel.reach(ev, col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts"),
        steps = Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        windowUs = Some(weekUs))
    },

    /** Weekly cohort retention triangle ([[graft.operators.Cohorts
      * .retention]]): cohort = the user's first-seen 7-day bucket, one
      * row per (cohort, offset) with distinct active users. Two
      * counts-only exchanges; floor-division bucket arithmetic in pure
      * integers.
      */
    "cohort_retention" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      Cohorts.retention(ev, col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts"), bucketUs = weekUs)
    },

    /** First-order event-path matrix ([[graft.operators.Sequences
      * .transitions]]): per-user (ts, event_id)-ordered adjacent
      * event-type bigrams, counted corpus-wide. One exchange keyed by
      * user shared by the lag pass and the (≤ |types|²-key) aggregation.
      */
    "path_transitions" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      Sequences.transitions(ev, col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts"), col("event_type"),
        tieBreak = Seq(col("event_id")))
    },

    /** Edit-distance-1 self-join on customer names ([[graft.operators
      * .FuzzyJoin.selfJoinDist1]], FastSS deletion-neighborhood
      * blocking): the candidate shuffle carries 8-byte variant hashes +
      * ids only; the oracle is the brute-force length-banded cross join,
      * so a hash match proves the blocking missed nothing.
      */
    "fuzzy_join" -> { (s, dir) =>
      // tableSpread: the deletion-neighborhood explode is the query's
      // CPU-heavy per-row pass, and the single-row-group fixture scan
      // would otherwise run it on ONE task (guide §2.5 input skew; a
      // multi-file corpus parallelizes by itself)
      FuzzyJoin.selfJoinDist1(graft.GraftSession.tableSpread(s, dir, "customer"),
        col("c_custkey"), col("c_name"))
    },

    /** Edit-distance-≤2 similarity join ([[graft.operators.FuzzyJoin
      * .selfJoin]] at maxDist = 2): the composed deletion neighborhood
      * (O(L²/2) variant hashes per string) keeps the FastSS completeness
      * guarantee, so the pair set still reproduces the brute-force cross
      * join exactly — the practical record-linkage threshold where one
      * typo plus one OCR slip still links. Runs on a deterministic
      * quarter-slice of part names (the ssjoin corpus-slice precedent)
      * because d = 2 on a small-vocabulary column is deliberately
      * recall-heavy.
      */
    "fuzzy_join2" -> { (s, dir) =>
      // tableSpread: the d=2 neighborhood is O(L²/2) variants per row —
      // see fuzzy_join (single-task fixture scan otherwise)
      FuzzyJoin.selfJoin(
        graft.GraftSession.tableSpread(s, dir, "part")
          .where(pmod(col("p_partkey"), lit(4L)) === 0),
        col("p_partkey"), col("p_name"), maxDist = 2, maxBucket = 4000)
    },

    /** Rolling z-score anomaly flags ([[graft.operators.Outliers
      * .rollingAnomaly]]): each event judged against its user's trailing
      * 24 h — strictly-prior frame, exact integer algebra in cents, so
      * the flagged set is engine-exact and leakage-free. The per-event
      * form of the fraud/abuse monitor.
      */
    "rolling_anomaly" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      graft.operators.Outliers.rollingAnomaly(
        ev.select(col("event_id"), col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("_tus"),
          round(col("value") * 100).cast("long").as("_cents")),
        keys = Seq("user_id"), timeUs = col("_tus"), value = col("_cents"),
        windowUs = 86400000000L, kNum = 3, kDen = 1, minPrior = 5)
        .select(col("event_id"), col("n_prior"), col("is_anomaly"))
    },

    /** Blocked multi-field entity resolution ([[graft.operators
      * .EntityLink.bestLinks]], Fellegi–Sunter integer agreement
      * weights): customers vs a deterministically corrupted replica in a
      * DIFFERENT id space — no shared key, so linkage goes through
      * fields. Two blocking passes (name prefix; nation + balance band)
      * cover single-field corruption; candidates are id-only until
      * scoring; the oracle replays blocking, scoring and the
      * (score, id)-maximal pick digit-for-digit.
      */
    "entity_resolution" -> { (s, dir) =>
      val master = table(s, dir, "customer")
      val dirty = table(s, dir, "customer")
        .filter(col("c_custkey") % 13 =!= 0)
        .select(
          (col("c_custkey") * 2 + 1000001L).as("d_id"),
          when(col("c_custkey") % 7 === 0,
            concat(substring(col("c_name"), 1, 11), lit("X"),
              substring(col("c_name"), 13, 6)))
            .otherwise(col("c_name")).as("d_name"),
          col("c_nationkey").as("d_nationkey"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 0.5)
            .otherwise(col("c_acctbal")).as("d_acctbal"),
          when(col("c_custkey") % 3 === 0, lit("UNKNOWN"))
            .otherwise(col("c_mktsegment")).as("d_mktsegment"))
      val score =
        when(col("c_name") === col("d_name"), 50)
          .when(levenshtein(col("c_name"), col("d_name")) <= 1, 35)
          .otherwise(0) +
        when(col("c_nationkey") === col("d_nationkey"), 15).otherwise(0) +
        when(abs(col("c_acctbal") - col("d_acctbal")) <= 1.0, 20).otherwise(0) +
        when(col("c_mktsegment") === col("d_mktsegment"), 10).otherwise(0)
      graft.operators.EntityLink.bestLinks(master, dirty, "c_custkey", "d_id",
        blockKeys = Seq(
          (substring(col("c_name"), 1, 17), substring(col("d_name"), 1, 17)),
          (struct(col("c_nationkey"), floor(col("c_acctbal") / 100)),
            struct(col("d_nationkey"), floor(col("d_acctbal") / 100)))),
        score = score, threshold = 60)
    },

    /** Merkle-style replica reconciliation ([[graft.operators.Repair
      * .diff]]): orders vs a drifted copy (updates + deletes + inserts);
      * bucket fingerprints disagree first, then the exact row diff runs
      * over dirty buckets only — clean buckets never cross an exchange.
      * The oracle is the brute-force symmetric EXCEPT, so a hash match
      * proves dirty-bucket restriction dropped nothing.
      */
    "replica_diff" -> { (s, dir) =>
      val l = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      val r = l.filter(col("o_orderkey") % 10 =!= 7)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 < 2, "X").otherwise(col("o_orderpriority")))
        .unionByName(l.filter(col("o_orderkey") % 100 === 2)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            col("o_orderstatus"), lit("NEW").as("o_orderpriority")))
      graft.operators.Repair.diff(l, r, keys = Seq("o_orderkey"),
        compare = Seq("o_orderstatus", "o_orderpriority"))
    },

    /** Replica repair-apply ([[graft.operators.Repair.sync]]): the
      * drifted replica reconciled back to the primary — diff's dirty
      * keys take the primary's rows, clean rows pass through. The oracle
      * is simply the primary projection: the repaired replica must EQUAL
      * it, closing the Merkle loop end-to-end.
      */
    "replica_sync" -> { (s, dir) =>
      val l = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      val r = l.filter(col("o_orderkey") % 10 =!= 7)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 < 2, "X").otherwise(col("o_orderpriority")))
        .unionByName(l.filter(col("o_orderkey") % 100 === 2)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            col("o_orderstatus"), lit("NEW").as("o_orderpriority")))
      graft.operators.Repair.sync(l, r, keys = Seq("o_orderkey"),
        compare = Seq("o_orderstatus", "o_orderpriority"))
    },

    /** Interval-OVERLAP join ([[graft.operators.RangeJoin.intervalJoin]]):
      * per-user purchase windows [ts, ts+2 h] × error windows [ts−1 h,
      * ts+1 h]; overlapping errors counted per purchase. Both sides
      * explode to time-grid cells, the pair is attributed to exactly ONE
      * shared cell (bucket of max(start, start)) — a plain equi-join with
      * no distinct pass and no per-key nested loop.
      */
    "interval_join" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val us = graft.GraftSession.eventTimeMicros(ev, "ts")
      val hour = 3600L * 1000000L
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          us.as("_ps"), (us + 2 * hour).as("_pe"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id"), (us - hour).as("_es"), (us + hour).as("_ee"))
      graft.operators.RangeJoin.intervalJoin(p, e, keys = Seq("user_id"),
          leftStart = "_ps", leftEnd = "_pe",
          rightStart = "_es", rightEnd = "_ee", bucketMicros = 2 * hour)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_err"))
    },

    /** Exact equi-depth histogram ([[graft.operators.Quantiles
      * .equidepthHistogram]]): 8 near-equal-count buckets of lineitem
      * quantities, counts-only — the exchange and the cumulative window
      * carry one row per DISTINCT value; bin assignment is pure integer
      * ceil-division, so the oracle replays it digit-for-digit.
      */
    "equidepth_hist" -> { (s, dir) =>
      graft.operators.Quantiles.equidepthHistogram(
        table(s, dir, "lineitem"), col("l_quantity").cast("long"), nBins = 8)
    },

    /** Triangle counting over the edit-distance-1 name graph
      * ([[graft.operators.Graphs.triangleCount]], degree-ordered
      * orientation): wedges enumerate only at their ≺-minimal apex with
      * O(√m)-bounded out-degrees, one semi-join closes them. The oracle
      * is the brute-force a&lt;b&lt;c triple join over the same edge set.
      */
    "triangle_count" -> { (s, dir) =>
      // tableSpread: parallelize the edge source's deletion-neighborhood
      // explode off the single-row-group fixture scan (see fuzzy_join)
      val pairs = FuzzyJoin.selfJoinDist1(
        graft.GraftSession.tableSpread(s, dir, "customer"),
        col("c_custkey"), col("c_name"))
      graft.operators.Graphs.triangleCount(pairs, "a", "b")
    },

    /** The `triangle_count` EDGE SOURCE alone (dist-1 fuzzy self-join →
      * canonical undirected edge set → count): benched separately so the
      * graph kernel's cost is `triangle_count` minus this — the dist-1
      * join dominates the combined query's wall time, and without the
      * split a kernel regression hides inside (and a join regression is
      * blamed on) the triangle count.
      */
    "triangle_edges_build" -> { (s, dir) =>
      // tableSpread: same edge source as triangle_count (see fuzzy_join)
      val pairs = FuzzyJoin.selfJoinDist1(
        graft.GraftSession.tableSpread(s, dir, "customer"),
        col("c_custkey"), col("c_name"))
      pairs.select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct()
        .agg(count(lit(1)).as("n_edges"))
    },

    /** Multi-source BFS hop distances ([[graft.operators.Graphs
      * .bfsDistances]]) over the part–supplier fulfillment graph (an edge
      * per distinct lineitem (part, supplier) pair; supplier ids
      * namespaced by +10M so the two key spaces cannot collide): every
      * node within 4 hops of the seed parts, at its minimal hop. The
      * oracle replays it as a hop-bounded recursive CTE with a MIN(dist)
      * fold — level-synchronous frontier expansion must agree with the
      * declarative fixpoint digit-for-digit.
      */
    "shortest_path" -> { (s, dir) =>
      val edges = table(s, dir, "lineitem")
        .select(col("l_partkey").as("a"),
          (col("l_suppkey") + 10000000L).as("b"))
      val seeds = table(s, dir, "part").filter(col("p_partkey") <= 5)
      graft.operators.Graphs.bfsDistances(edges, "a", "b",
        seeds, "p_partkey", maxHops = 4)
    },

    /** Personalized PageRank ([[graft.operators.Graphs
      * .personalizedPageRank]], 4 iterations) from the same seed parts
      * over the same fulfillment graph as `shortest_path`: proximity-to-
      * seeds in exact fixed-point integers, the related-entity ranking
      * signal. The oracle unrolls all four iterations as CTEs with the
      * seed-indicator restart — the full dense rank vector hash-matches
      * digit-for-digit.
      */
    "pagerank_personalized" -> { (s, dir) =>
      val edges = table(s, dir, "lineitem")
        .select(col("l_partkey").as("a"),
          (col("l_suppkey") + 10000000L).as("b"))
      val seeds = table(s, dir, "part").filter(col("p_partkey") <= 5)
      graft.operators.Graphs.personalizedPageRank(edges, "a", "b",
        seeds, "p_partkey", iterations = 4)
    },

    /** Mergeable-sketch distinct rollup: per-(source, shard) HLL sketches
      * built in one pass, then UNIONED per source — the 100 TB shape for
      * distinct counting over partitioned data (daily shard sketches fold
      * into monthly/global counts without ever rescanning rows; state per
      * group is a fixed-size sketch, never a value set). Verified like
      * `approx_distinct`: exact distinct texts per source next to a
      * boolean pinning the merged estimate within 5% (lgConfigK=12 ⇒
      * expected error ~1.6%), so a broken sketch or a broken MERGE fails
      * the hash compare instead of passing rows-only.
      */
    "hll_rollup" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val shardSketches = docs
        .groupBy(col("source"), pmod(col("doc_id"), lit(8)).as("_shard"))
        .agg(hll_sketch_agg(col("text")).as("_sk"))
      // null-SAFE group join: a fixture with a null source must keep its
      // row on both sides (DuckDB's GROUP BY keeps the null group; a
      // plain equi-join would silently drop it)
      val merged = shardSketches
        .groupBy(col("source"))
        .agg(hll_sketch_estimate(hll_union_agg(col("_sk"))).as("_est"))
        .withColumnRenamed("source", "_g")
      docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_texts"))
        .join(merged, col("source") <=> col("_g"))
        .select(col("source"), col("exact_texts"),
          (abs(col("_est") - col("exact_texts")) <=
            col("exact_texts").cast("double") * 0.05).as("merged_ok"))
    },

    /** Transparent materialized-view rewrite ([[graft.plans
      * .MaterializedViewRewrite]]): the priority aggregate is registered
      * as a view, then REBUILT from the base table — the optimizer swaps
      * in the view parquet (plan-identity match on the canonicalized
      * optimized plan; MaterializedViewSpec pins that the scan actually
      * reads the view). The oracle aggregates the BASE table, so a hash
      * match proves the rewrite is result-preserving.
      */
    "mv_rewrite" -> { (s, dir) =>
      def agg = table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_mv_${s.sparkContext.applicationId}"
      graft.plans.MaterializedViews.register(s, "orders_by_priority", agg, path)
      // registration is a session-global optimizer side effect — release
      // it with the caches so later queries neither pay the rule's
      // canonicalization probes nor silently read this /tmp view
      graft.Caches.trackRelease(() =>
        graft.plans.MaterializedViews.deregister("orders_by_priority"))
      agg
    },

    /** Time-RANGE rolling window (not row-based): per user, the trailing
      * 24-hour event count and purchase count at every event — the
      * rolling-feature shape ML feature pipelines ask of an event log.
      * One user-keyed exchange; the range frame slides over the
      * in-partition sort, never buffering more than the frame.
      */
    "rolling_window" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
      val dayUs = 86400L * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-(dayUs - 1), 0)
      ev.select(col("event_id"), col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("ts_us"),
          col("event_type"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_24h"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(w).as("n_purchase_24h"))
    },

    /** Fixed-point integer PageRank ([[graft.operators.Graphs.pageRank]],
      * 5 iterations, damping 0.85 in ppm) over the same edit-distance-1
      * customer-name graph as `triangle_count`, symmetrized. The exact
      * floor-division algebra makes the rank vector engine-identical, so
      * the oracle replays all five iterations as unrolled CTEs and the
      * full per-node rank table hash-matches — an iterative graph
      * algorithm under a digit-exact differential check.
      */
    "pagerank" -> { (s, dir) =>
      // tableSpread: same single-task edge-source explode as fuzzy_join
      val pairs = FuzzyJoin.selfJoinDist1(
        graft.GraftSession.tableSpread(s, dir, "customer"),
        col("c_custkey"), col("c_name"))
      graft.operators.Graphs.pageRank(pairs, "a", "b", iterations = 5)
    },

    /** WEIGHTED PageRank ([[graft.operators.Graphs.pageRankWeighted]], 4
      * iterations) over the supplier–part fulfillment graph, edge weight
      * = lineitem count, symmetrized: interaction-strength ranking in the
      * same exact fixed-point algebra — the full rank vector
      * hash-matches the oracle's unrolled weighted iterations.
      */
    "pagerank_weighted" -> { (s, dir) =>
      val raw = table(s, dir, "lineitem")
        .filter(col("l_partkey") % 3 === 0)
        .select((col("l_suppkey") + 10000000L).as("u"), col("l_partkey").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      val sym = raw.unionByName(
        raw.select(col("v").as("u"), col("u").as("v"), col("w")))
      graft.operators.Graphs.pageRankWeighted(sym, "u", "v", "w", iterations = 4)
    },

    /** Audience-overlap estimation via KMV (k-minimum-values) sketches:
      * for every event-type pair, the Jaccard of their USER sets is
      * estimated from each set's 64 smallest user-id hashes (the
      * [[graft.functions.BoundedTopK]] aggregate over negated values —
      * map-side k-bounded, the overlap math then runs on 64-long arrays,
      * never the user sets) next to the exact intersection/union counts.
      * Because the hash is the engine-stable ring, the SKETCH itself is
      * engine-exact: the oracle replays sketch construction and the
      * estimator digit-for-digit — a sketch-accuracy contract with no
      * tolerance band. The mergeable form of "how much do these
      * audiences overlap" that a 100 TB events table answers without
      * ever intersecting user sets.
      */
    "audience_overlap" -> { (s, dir) =>
      val k = 64
      // audience(T) = the type's top-quartile-engaged users (count ≥ the
      // type's p75 under the exact integer rank rule) — RELATIVE, so the
      // sets stay differentiated at any scale factor (an absolute count
      // floor saturates to "everyone" as the fixture grows)
      val perUser = table(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("_c"))
      val audiences = graft.Caches.track(
        graft.operators.Quantiles.filterAtLeast(perUser, "event_type",
          col("_c"), qNum = 3, qDen = 4).persist())
      val hashes = audiences
        .select(col("event_type"),
          graft.operators.Sampling.hashBucket(col("user_id"), 1 << 30).as("_h"))
        .distinct()
      val sketches = hashes.groupBy(col("event_type"))
        .agg(graft.functions.AggExpressions.topkAgg(-col("_h"), k).as("_negs"))
        .select(col("event_type"),
          transform(col("_negs"), v => -v).as("_sk")) // k smallest, desc→asc negated
      val a = sketches.select(col("event_type").as("type_a"), col("_sk").as("_ska"))
      val b = sketches.select(col("event_type").as("type_b"), col("_sk").as("_skb"))
      val est = a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          // merged = k smallest of the union; overlap = members of both
          slice(array_sort(array_distinct(concat(col("_ska"), col("_skb")))),
            1, k).as("_m"),
          col("_ska"), col("_skb"))
        .select(col("type_a"), col("type_b"),
          size(filter(col("_m"),
            v => array_contains(col("_ska"), v) && array_contains(col("_skb"), v)))
            .cast("long").as("overlap_k"),
          size(col("_m")).cast("long").as("merged_k"))
      val users = audiences.select(col("event_type"), col("user_id")).distinct()
      val ua = users.select(col("event_type").as("type_a"), col("user_id"))
      val ub = users.select(col("event_type").as("type_b"), col("user_id"))
      val exact = ua.join(ub, "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val sizes = users.groupBy(col("event_type")).agg(count(lit(1)).as("_n"))
      est.join(exact, Seq("type_a", "type_b"), "left")
        .join(sizes.select(col("event_type").as("type_a"), col("_n").as("_na")), "type_a")
        .join(sizes.select(col("event_type").as("type_b"), col("_n").as("_nb")), "type_b")
        .select(col("type_a"), col("type_b"),
          col("overlap_k"), col("merged_k"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          (col("_na") + col("_nb") - coalesce(col("exact_inter"), lit(0L)))
            .as("exact_union"))
    },

    /** Per-group OLS trend in EXACT rational arithmetic
      * ([[graft.operators.Stats.groupedLinFit]]): the slope of event
      * value (cents) over event time (epoch seconds) per event type,
      * reported as the exact (numerator, denominator) DECIMAL(38,0)
      * pair — one partial-aggregated pass, digit-exact in any engine
      * (int128 replay in the oracle), no float regression drift.
      */
    "grouped_regression" -> { (s, dir) =>
      val ev = graft.GraftSession.normalizeTs(table(s, dir, "events"))
      graft.operators.Stats.groupedLinFit(
        ev.select(col("event_type"),
          expr("unix_micros(ts) DIV 1000000").as("x"),
          round(col("value") * 100).cast("long").as("y")),
        Seq("event_type"), col("x"), col("y"))
        .select(col("event_type"), col("n"),
          col("slope_num").cast("string").as("slope_num"),
          col("slope_den").cast("string").as("slope_den"))
    },

    /** Distribution-drift monitor ([[graft.operators.Stats.tvdDrift]]):
      * total-variation distance between two corpus slices' event-type
      * mixes as the exact fraction Σ|n1·T2 − n2·T1| / (2·T1·T2) — the
      * check a training pipeline runs between yesterday's and today's
      * feeds before the mix silently shifts. Counts-only exchange;
      * exact-integer contract (the fraction's parts, not a float).
      */
    "drift_tvd" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      graft.operators.Stats.tvdDrift(ev, col("event_type"),
          (col("event_id") % 2) === 1)
        .select(col("tvd_num").cast("string").as("tvd_num"),
          col("tvd_den").cast("string").as("tvd_den"),
          col("n_baseline"), col("n_current"))
    },

    /** Two-dimensional skyline ([[graft.operators.Skyline.minimize2]]):
      * the Pareto frontier of parts minimizing (price, size). Prices ride
      * as integer cents (ROUND(x*100) — half-away-from-zero on positive
      * doubles in both engines), so the frontier SET is exact. The oracle
      * is the textbook quadratic NOT-EXISTS dominance test; the engine
      * path is the counts-only distinct-x reduction + running strict-min.
      */
    "skyline" -> { (s, dir) =>
      val p = table(s, dir, "part").select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"),
        col("p_size").cast("long").as("size"))
      graft.operators.Skyline.minimize2(p, col("price_c"), col("size"))
    },

    /** Window-2 token co-occurrence with complete PMI evidence: for every
      * unordered word pair within two positions, corpus-wide pair count
      * plus both unigram counts — the exact integer inputs to PMI
      * (log(N·n_xy/(n_x·n_y)) is one map-side float away; the EVIDENCE is
      * what must be engine-exact). Pairs are generated PER ROW by a
      * nested array transform — a codegen'd expression, no positions
      * table and no self-join — so nothing shuffles until the
      * partial-aggregated pair counts; a df-cut (n_xy ≥ 5) bounds the
      * output the same way at any corpus size.
      */
    "cooccur_pmi" -> { (s, dir) =>
      // cached: the pair subtree and the unigram subtree both read the
      // tokenized corpus — uncached, the scan + tokenization run twice
      val docs = graft.Caches.track(
        graft.GraftSession.tableSpread(s, dir, "documents")
          .select(graft.functions.TextFunctions.tokens(col("text")).as("_t"))
          .persist())
      val pairs = docs.select(explode(flatten(transform(col("_t"),
          (w, i) => transform(slice(col("_t"), i + lit(2), lit(2)),
            w2 => struct(least(w, w2).as("w1"), greatest(w, w2).as("w2"))))))
          .as("p"))
        .select(col("p.w1"), col("p.w2"))
      val uni = docs.select(explode(col("_t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 5)
        .join(uni.select(col("w").as("w1"), col("n").as("n_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("n").as("n_y")), "w2")
        .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"))
    },

    /** CEP-style sequence pattern with negation ([[graft.operators
      * .Sequences.matchPattern]]): users whose earliest
      * view → click → purchase chain completes within 7 days of the
      * first view WITHOUT an error event anywhere strictly inside the
      * chain — the MATCH_RECOGNIZE shape a plain funnel can't express.
      * Greedy first-match semantics keep it deterministic; the oracle
      * replays the chained-min algebra plus a NOT EXISTS for the
      * negation, timestamp-exact.
      */
    "event_pattern" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      graft.operators.Sequences.matchPattern(ev, col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts"),
        steps = Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        exclude = col("event_type") === "error",
        windowUs = Some(weekUs))
    },

    /** Boolean retrieval over the inverted index ([[graft.operators
      * .Search.boolean]]): documents containing BOTH "hash" and "join"
      * but never "stream" — conjunction as one grouped distinct-term
      * count (no |query|-way self-join), exclusion as one anti-join.
      */
    "search_boolean" -> { (s, dir) =>
      val docs = graft.GraftSession.tableSpread(s, dir, "documents")
      val postings = graft.operators.Search.positionalPostings(docs,
        col("doc_id"), graft.functions.TextFunctions.tokens(col("text")))
      graft.operators.Search.boolean(postings,
        must = Seq("hash", "join"), mustNot = Seq("stream"))
    },

    /** Exact phrase search over positional postings ([[graft.operators
      * .Search.phrase]]): every document containing the adjacent pair
      * "table hash", with its occurrence count — chained (doc, position)
      * equi-joins, document text never in an exchange.
      */
    "search_phrase" -> { (s, dir) =>
      val docs = graft.GraftSession.tableSpread(s, dir, "documents")
      val postings = graft.operators.Search.positionalPostings(docs,
        col("doc_id"), graft.functions.TextFunctions.tokens(col("text")))
      graft.operators.Search.phrase(postings, Seq("table", "hash"))
    },

    /** Golden-record survivorship ([[graft.operators.Merge
      * .survivorship]]): the same customers arrive from two sources — a
      * trusted master with planted field gaps (acctbal missing for ∣3
      * keys, name for ∣5 keys) and a complete-but-noisier feed (renamed,
      * rebated balances) — and merge field-by-field, most trusted
      * non-null value winning. One union + one partial-aggregated pk
      * shuffle; the oracle replays the per-field CASE algebra.
      */
    "golden_record" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      val master = c.select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_name"))
          .as("name"),
        when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_acctbal"))
          .as("acctbal"))
      val feed = c.select(col("c_custkey"),
        concat(lit("X"), col("c_name")).as("name"),
        (col("c_acctbal") + 100).as("acctbal"))
      graft.operators.Merge.survivorship(Seq(master, feed),
        pk = Seq("c_custkey"), fields = Seq("name", "acctbal"))
    },

    /** Incremental golden-record refresh ([[graft.operators.Maintain
      * .refreshSurvivorship]]): a correction feed (verified names, no
      * balance information) folds into the stored golden table touching
      * only its keys — delta non-null fields override, delta nulls fall
      * back to the stored value, untouched keys pass through. Equals the
      * full recompute with the feed at top priority, which the oracle
      * replays as one CASE algebra.
      */
    "golden_refresh" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      val master = c.select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_name"))
          .as("name"),
        when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_acctbal"))
          .as("acctbal"))
      val feed = c.select(col("c_custkey"),
        concat(lit("X"), col("c_name")).as("name"),
        (col("c_acctbal") + 100).as("acctbal"))
      val golden = graft.operators.Merge.survivorship(Seq(master, feed),
        pk = Seq("c_custkey"), fields = Seq("name", "acctbal"))
      val delta = c.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          concat(lit("V"), col("c_name")).as("name"),
          lit(null).cast("double").as("acctbal"))
      graft.operators.Maintain.refreshSurvivorship(golden, delta,
        pk = Seq("c_custkey"), fields = Seq("name", "acctbal"))
    },

    /** Per-user activity-interval coalescing
      * ([[graft.operators.Intervals.merge]]): each event opens a span of
      * `value` minutes; overlapping/touching spans merge into islands.
      * Everything is exact integer microseconds (the span length is
      * DECIMAL(18,2) minutes × 60e6 — an integer by construction), so
      * the island set is engine-identical. One shuffle on user_id, then
      * a per-key ordered scan — no self-join at any scale.
      */
    "interval_merge" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val iv = ev.select(col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts").as("start_us"),
        (graft.GraftSession.eventTimeMicros(ev, "ts") +
          (col("value").cast("decimal(18,2)") * lit(60000000L))
            .cast("long")).as("end_us"))
      graft.operators.Intervals.merge(iv, Seq("user_id"), "start_us", "end_us")
    },

    /** ABC (Pareto) classification of parts by revenue contribution —
      * class A covers the first 80 % of cumulative revenue, B to 95 %,
      * C the tail. The cumulative window runs over the AGGREGATED
      * per-part revenue frame (catalog-sized, never line items), and the
      * class boundaries cross-multiply exact cents against the broadcast
      * total — no float share, so boundary parts classify identically in
      * both engines; ties order by (revenue DESC, partkey) in both.
      */
    "abc_classification" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rev = table(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("rev_cents"))
      val w = Window.orderBy(col("rev_cents").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("_cum", sum(col("rev_cents")).over(w))
        .crossJoin(broadcast(rev.agg(sum(col("rev_cents")).as("_total"))))
        .select(col("l_partkey"), col("rev_cents"),
          when(col("_cum") * 100 <= col("_total") * 80, "A")
            .when(col("_cum") * 100 <= col("_total") * 95, "B")
            .otherwise("C").as("abc_class"))
    },

    /** Per-priority EXACT Gini coefficient of order totals
      * ([[graft.operators.Stats.giniIndex]]): revenue-concentration
      * inequality as the integer num/den pair — the pairwise
      * Σ|xᵢ−xⱼ| folds into per-distinct-value cumulative algebra, no
      * pair join at any scale. Money rides as exact cents.
      */
    "gini_index" -> { (s, dir) =>
      graft.operators.Stats.giniIndex(
          table(s, dir, "orders"),
          groups = Seq("o_orderpriority"),
          value = (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long"))
        .select(col("o_orderpriority"),
          col("gini_num").cast("string").as("gini_num"),
          col("gini_den").cast("string").as("gini_den"), col("n"))
    },

    /** Market-basket association evidence (the support/confidence/lift
      * inputs of Agrawal-Srikant mining) for part pairs co-purchased in
      * one order: distinct (order, part) pairs self-equi-join on the
      * order key — fan-out bounded by basket size squared, never by the
      * catalog — with a support cut BEFORE the size joins so only
      * above-threshold pairs carry evidence. All counts integer; lift =
      * n_both·n_orders / (n_p1·n_p2) is the caller's division.
      */
    "basket_rules" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val itemN = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
      val totals = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      li.select(col("l_orderkey"), col("l_partkey").as("p1"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("p2")),
          Seq("l_orderkey"))
        .where(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_both"))
        .where(col("n_both") >= 3)
        .join(broadcast(itemN.select(col("l_partkey").as("p1"),
          col("n_item").as("n_p1"))), Seq("p1"))
        .join(broadcast(itemN.select(col("l_partkey").as("p2"),
          col("n_item").as("n_p2"))), Seq("p2"))
        .crossJoin(broadcast(totals))
        .select(col("p1"), col("p2"), col("n_both"), col("n_p1"),
          col("n_p2"), col("n_orders"))
    },

    /** Exact pairwise audience overlap — the bitmap-intersection matrix
      * behind segment planners, as the exact counterpart of the KMV
      * estimate in `audience_overlap`. One distinct pass to (type, user)
      * pairs, then a self-equi-join on user: a user in k segments fans
      * out to k(k-1)/2 pairs — bounded by the segment-count square, never
      * by events — and the pair counts partial-aggregate map-side.
      * Per-segment sizes ride back on broadcast joins so each row carries
      * its full Jaccard evidence as integers.
      */
    "audience_matrix" -> { (s, dir) =>
      val tu = table(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id")).distinct()
      val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
      tu.select(col("t").as("t1"), col("user_id"))
        .join(tu.select(col("t").as("t2"), col("user_id")), Seq("user_id"))
        .where(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.select(col("t").as("t1"), col("n").as("n_t1"))),
          Seq("t1"))
        .join(broadcast(sizes.select(col("t").as("t2"), col("n").as("n_t2"))),
          Seq("t2"))
        .select(col("t1"), col("t2"), col("n_both"), col("n_t1"), col("n_t2"))
    },

    /** Incremental sessionization maintenance: stored sessions (interval
      * islands with a 1-day gap) refreshed by a late-event changeset
      * WITHOUT rescanning untouched users. Session islands are maximal,
      * so new points can only JOIN islands, never split them — re-merging
      * a user's stored islands (weight = their member counts, via
      * [[graft.operators.Intervals.merge]]'s weighted form) together with
      * the delta points under the same gap is exactly a full recompute
      * for that user. The refresh therefore touches churn-sized state:
      * affected users' islands + delta points; everyone else passes
      * through on an anti-join. The oracle recomputes sessions from the
      * full event set.
      */
    "sessionize_incremental" -> { (s, dir) =>
      val gapUs = 86400000000L
      val ev0 = table(s, dir, "events")
      val ev = ev0.select(col("user_id"), col("event_id"),
        graft.GraftSession.eventTimeMicros(ev0, "ts").as("us"))
      def points(df: DataFrame) = df.select(col("user_id"),
        col("us").as("start_us"), col("us").as("end_us"))
      val base = ev.where(pmod(col("event_id"), lit(97L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(97L)) === 0)
      val stored = graft.operators.Intervals.merge(
        points(base), Seq("user_id"), "start_us", "end_us", minGap = gapUs)
      val affected = delta.select(col("user_id")).distinct()
      val untouched = stored.join(affected, Seq("user_id"), "left_anti")
      val refreshed = graft.operators.Intervals.merge(
        stored.join(affected, Seq("user_id"), "left_semi")
          .unionByName(points(delta).withColumn("n_merged", lit(1L))),
        Seq("user_id"), "start_us", "end_us", minGap = gapUs,
        weight = Some("n_merged"))
      untouched.unionByName(refreshed)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_merged").as("n_events"))
    },

    /** Time-weighted average price (TWAP) per user over irregular
      * samples: each event's value holds until the next event (step
      * function), so the mean is Σ v·Δt / Σ Δt over the user's
      * [first, last] span. Everything rides as integers — v·100 is exact
      * cents, Δt exact microseconds, the sum in DECIMAL(38,0) — and the
      * num/den pair is emitted instead of the division, so the oracle
      * matches digit-for-digit with no float boundary. One user-keyed
      * sort shared by the lead() pass; ties break on event_id in BOTH
      * engines (same-timestamp samples would otherwise swap Δt
      * attribution nondeterministically).
      */
    "twap" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      ev.select(col("user_id"), col("event_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("ts_us"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("v100"))
        .withColumn("_dur", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .where(col("_dur").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(col("v100").cast("decimal(38,0)") * col("_dur"))
            .cast("string").as("twap_num_x100"),
          sum(col("_dur")).as("twap_den_us"),
          count(lit(1)).as("n_segments"))
    },

    /** Rolling 7-day active users (WAU) per day — the sliding-distinct
      * problem: distinct (user, day) pairs first (a counts-only
      * exchange), then each active day fans out to the 7 window-days it
      * supports (a BOUNDED 7× explosion of 16-byte pairs, never of
      * events), and the final distinct-count shuffles pairs once more.
      * No self-join, no per-day rescan of the trailing week.
      */
    "rolling_actives" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      ev.select(col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("ts_us"))
        .select(col("user_id"), expr("ts_us div 86400000000").as("d"))
        .distinct()
        .select(col("user_id"),
          explode(sequence(col("d"), col("d") + 6)).as("window_day"))
        .groupBy(col("window_day"))
        .agg(countDistinct(col("user_id")).as("wau"))
    },

    /** Grid-cell spatial join ([[graft.operators.Spatial.chebyshevJoin]]):
      * all (customer, part) point pairs within Chebyshev distance 32 on a
      * 4096² integer grid (coordinates derived from keys via the
      * engine-stable hash, so the fixture is synthetic but the geometry
      * is exact). The right side keys each point to ONE cell; the left
      * explodes to its 3×3 stencil — every qualifying pair collides in
      * exactly one cell, so the equi-join is duplicate-free and the only
      * post-filter is the exact distance test. The oracle is the
      * brute-force cross join with the same coordinates.
      */
    "spatial_grid_join" -> { (s, dir) =>
      import graft.operators.{Sampling, Spatial}
      // (x, y) from successive rounds of the ring-hash chain — NOT from
      // two additive salts, which stay affinely correlated (one round is
      // linear in the low 16 bits mod any power of two)
      def coords(df: DataFrame, id: String, salt: Long, x: String, y: String) = {
        val withM2 = df.withColumn("_m2",
          Sampling.hashRing32(Sampling.swapHalves(
            Sampling.hashRing32(col(id) + lit(salt)))))
        withM2.select(col(id),
          pmod(col("_m2"), lit(4096L)).as(x),
          pmod(Sampling.hashRing32(Sampling.swapHalves(col("_m2"))),
            lit(4096L)).as(y))
      }
      val c = coords(table(s, dir, "customer"), "c_custkey", 777L, "cx", "cy")
      val p = coords(table(s, dir, "part"), "p_partkey", 13L, "px", "py")
      Spatial.chebyshevJoin(c, col("cx"), col("cy"),
          p, col("px"), col("py"), r = 32L)
        .select(col("c_custkey"), col("p_partkey"), col("cheb_dist"))
    },

    /** Peak concurrency per user
      * ([[graft.operators.Intervals.maxConcurrency]]): the sweep-line
      * maximum of simultaneously open activity spans and the earliest
      * instant it is reached — two 16-byte sweep points per interval,
      * one key-partitioned sort, half-open end-before-start tie order.
      */
    "max_concurrency" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val iv = ev.select(col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts").as("start_us"),
        (graft.GraftSession.eventTimeMicros(ev, "ts") +
          (col("value").cast("decimal(18,2)") * lit(60000000L))
            .cast("long")).as("end_us"))
      graft.operators.Intervals.maxConcurrency(
        iv, Seq("user_id"), "start_us", "end_us")
    },

    /** Hopping (sliding) event-time windows — `window(ts, 1h, 30m)`:
      * every event lands in exactly windowDuration/slideDuration = 2
      * overlapping epoch-aligned buckets. This is the batch twin of the
      * streaming windowed aggregation and the shape Structured Streaming
      * state stores carry; the oracle replays the bucket assignment as
      * integer floor-division over epoch microseconds. Partial
      * aggregation combines map-side, so the exchange carries (window,
      * count, sum) triples — 2 rows per event pre-combine, two per
      * (task, window) after.
      */
    "hopping_window" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_v"))
        .select(
          unix_micros(col("window.start").cast("timestamp")).as("win_start_us"),
          col("n_events"), col("sum_v").cast("double").as("sum_value"))
    },

    /** The complement ([[graft.operators.Intervals.gaps]]): per user, the
      * maximal silent spans between merged activity islands — coverage
      * analysis ("when did we have NO signal from this key"). Same
      * exact-integer algebra; gaps are strictly positive by construction
      * because merged islands are disjoint.
      */
    "interval_gaps" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val iv = ev.select(col("user_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts").as("start_us"),
        (graft.GraftSession.eventTimeMicros(ev, "ts") +
          (col("value").cast("decimal(18,2)") * lit(60000000L))
            .cast("long")).as("end_us"))
      graft.operators.Intervals.gaps(iv, Seq("user_id"), "start_us", "end_us")
        .select(col("user_id"), col("gap_start"), col("gap_end"),
          (col("gap_end") - col("gap_start")).as("gap_us"))
    })

  val oracles: Seq[(String, String)] = Seq(
    "funnel_steps" ->
      s"""WITH e AS (
        |  SELECT user_id AS u, epoch_us(ts) AS ts, event_type FROM events
        |),
        |s1 AS (
        |  SELECT u, MIN(ts) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1
        |),
        |s2 AS (
        |  SELECT e.u, FIRST(s1.t0) AS t0, MIN(e.ts) AS t1
        |  FROM e JOIN s1 USING (u)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t0
        |    AND e.ts <= s1.t0 + $weekUs
        |  GROUP BY 1
        |),
        |s3 AS (
        |  SELECT e.u, MIN(e.ts) AS t2
        |  FROM e JOIN s2 USING (u)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t1
        |    AND e.ts <= s2.t0 + $weekUs
        |  GROUP BY 1
        |)
        |SELECT CAST(1 AS INT) AS step_seq, 'view' AS step_name,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)""".stripMargin,
    "cohort_retention" ->
      s"""WITH e AS (
        |  SELECT user_id AS u, epoch_us(ts) AS ts FROM events
        |),
        |f AS (
        |  SELECT u, MIN(ts) // $weekUs AS cohort FROM e GROUP BY 1
        |),
        |cells AS (
        |  SELECT DISTINCT e.u, f.cohort, e.ts // $weekUs - f.cohort AS bucket_offset
        |  FROM e JOIN f USING (u)
        |)
        |SELECT cohort AS cohort_bucket, bucket_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM cells GROUP BY 1, 2""".stripMargin,
    "path_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type AS to_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts), event_id) AS from_type
        |  FROM events
        |)
        |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "fuzzy_join" ->
      """SELECT a.c_custkey AS a, b.c_custkey AS b,
        |       a.c_name AS a_str, b.c_name AS b_str,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(length(a.c_name) - length(b.c_name)) <= 1
        | AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "fuzzy_join2" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name FROM part WHERE p_partkey % 4 = 0)
        |SELECT a.p_partkey AS a, b.p_partkey AS b,
        |       a.p_name AS a_str, b.p_name AS b_str,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a JOIN p b
        |  ON a.p_partkey < b.p_partkey
        | AND abs(length(a.p_name) - length(b.p_name)) <= 2
        | AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    "rolling_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), m AS (
        |  SELECT event_id, cents,
        |         COUNT(cents) OVER w AS n,
        |         SUM(cents) OVER w AS s,
        |         SUM(cents * cents) OVER w AS ss
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |               RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, CAST(n AS BIGINT) AS n_prior,
        |       n >= 5 AND
        |       (CAST(n AS HUGEINT) * cents - s) * (CAST(n AS HUGEINT) * cents - s)
        |         > 9 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
        |       AS is_anomaly
        |FROM m""".stripMargin,
    "entity_resolution" ->
      """WITH dirty AS (
        |  SELECT c_custkey * 2 + 1000001 AS d_id,
        |         CASE WHEN c_custkey % 7 = 0
        |              THEN substr(c_name, 1, 11) || 'X' || substr(c_name, 13, 6)
        |              ELSE c_name END AS d_name,
        |         c_nationkey AS d_nationkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.5
        |              ELSE c_acctbal END AS d_acctbal,
        |         CASE WHEN c_custkey % 3 = 0 THEN 'UNKNOWN'
        |              ELSE c_mktsegment END AS d_mktsegment
        |  FROM customer WHERE c_custkey % 13 <> 0
        |), cand AS (
        |  SELECT c.c_custkey, d.d_id
        |  FROM customer c JOIN dirty d
        |    ON substr(c.c_name, 1, 17) = substr(d.d_name, 1, 17)
        |  UNION
        |  SELECT c.c_custkey, d.d_id
        |  FROM customer c JOIN dirty d
        |    ON c.c_nationkey = d.d_nationkey
        |   AND FLOOR(c.c_acctbal / 100) = FLOOR(d.d_acctbal / 100)
        |), scored AS (
        |  SELECT cand.d_id, cand.c_custkey,
        |         (CASE WHEN c.c_name = d.d_name THEN 50
        |               WHEN levenshtein(c.c_name, d.d_name) <= 1 THEN 35
        |               ELSE 0 END
        |          + CASE WHEN c.c_nationkey = d.d_nationkey THEN 15 ELSE 0 END
        |          + CASE WHEN abs(c.c_acctbal - d.d_acctbal) <= 1.0 THEN 20 ELSE 0 END
        |          + CASE WHEN c.c_mktsegment = d.d_mktsegment THEN 10 ELSE 0 END
        |         ) AS link_score
        |  FROM cand
        |  JOIN customer c USING (c_custkey)
        |  JOIN dirty d USING (d_id)
        |), best AS (
        |  SELECT d_id, c_custkey, link_score,
        |         row_number() OVER (PARTITION BY d_id
        |             ORDER BY link_score DESC, c_custkey DESC) AS rn
        |  FROM scored WHERE link_score >= 60
        |)
        |SELECT d_id, c_custkey, CAST(link_score AS INT) AS link_score
        |FROM best WHERE rn = 1""".stripMargin,
    "replica_diff" ->
      """WITH l AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |),
        |r AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 10 < 2 THEN 'X'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_orderstatus, 'NEW'
        |  FROM orders WHERE o_orderkey % 100 = 2
        |)
        |SELECT 'L' AS side, * FROM (SELECT * FROM l EXCEPT SELECT * FROM r)
        |UNION ALL
        |SELECT 'R' AS side, * FROM (SELECT * FROM r EXCEPT SELECT * FROM l)""".stripMargin,
    "replica_sync" ->
      "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders",
    "interval_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'purchase'
        |),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'error'
        |)
        |SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_err
        |FROM p JOIN e ON p.user_id = e.user_id
        | AND p.ts <= e.ts + 3600000000
        | AND e.ts - 3600000000 <= p.ts + 7200000000
        |GROUP BY 1""".stripMargin,
    "equidepth_hist" ->
      """WITH c AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
        |),
        |cum AS (
        |  SELECT v, c,
        |         SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cle,
        |         SUM(c) OVER () AS n
        |  FROM c
        |)
        |SELECT CAST((cle * 8 - 1) // n + 1 AS BIGINT) AS bin,
        |       MIN(v) AS lo, MAX(v) AS hi,
        |       CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct
        |FROM cum GROUP BY 1""".stripMargin,
    "triangle_count" ->
      """WITH pairs AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |   AND levenshtein(a.c_name, b.c_name) <= 1
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |          (SELECT a AS x FROM pairs UNION SELECT b FROM pairs)) AS n_nodes,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
        |       (SELECT CAST(COUNT(*) AS BIGINT)
        |        FROM pairs e1
        |        JOIN pairs e2 ON e1.b = e2.a
        |        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin,
    "triangle_edges_build" ->
      """WITH pairs AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |   AND levenshtein(a.c_name, b.c_name) <= 1
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM (
        |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM pairs WHERE a <> b
        |)""".stripMargin,
    "shortest_path" ->
      """WITH RECURSIVE e AS (
        |  SELECT l_partkey AS u, 10000000 + l_suppkey AS v FROM lineitem
        |  UNION
        |  SELECT 10000000 + l_suppkey, l_partkey FROM lineitem
        |),
        |bfs(node, dist) AS (
        |  SELECT CAST(p_partkey AS BIGINT), 0 FROM part WHERE p_partkey <= 5
        |  UNION
        |  SELECT e.v, bfs.dist + 1 FROM bfs JOIN e ON e.u = bfs.node
        |  WHERE bfs.dist < 4
        |)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM bfs GROUP BY 1""".stripMargin,
    "hll_rollup" ->
      """SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_texts,
        |       TRUE AS merged_ok
        |FROM documents GROUP BY 1""".stripMargin,
    "audience_overlap" ->
      // the KMV sketch replayed exactly: same ring, same k, same merge
      """WITH pc AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT event_type, c,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
        |                        ROWS UNBOUNDED PRECEDING) AS cle,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM pc GROUP BY 1, 2)
        |),
        |thr AS (SELECT event_type, MIN(c) AS t FROM cum
        |        WHERE cle * 4 >= n * 3 GROUP BY 1),
        |aud AS (
        |  SELECT pc.event_type, pc.user_id
        |  FROM pc JOIN thr USING (event_type) WHERE pc.c >= thr.t
        |),
        |h AS (
        |  SELECT DISTINCT event_type,
        |         ((((((user_id & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |           + (user_id & 65535) * 2654435761) % 4294967296) % 1073741824 AS hv
        |  FROM aud
        |),
        |sk AS (
        |  SELECT event_type, (list(hv ORDER BY hv))[1:64] AS l
        |  FROM h GROUP BY 1
        |),
        |calc AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         (list_sort(list_distinct(list_concat(a.l, b.l))))[1:64] AS m,
        |         a.l AS la, b.l AS lb
        |  FROM sk a JOIN sk b ON a.event_type < b.event_type
        |),
        |u AS (SELECT DISTINCT event_type, user_id FROM aud),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |ex AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM u a JOIN u b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT c.type_a, c.type_b,
        |       CAST(len(list_filter(m, v -> list_contains(la, v)
        |                                AND list_contains(lb, v))) AS BIGINT) AS overlap_k,
        |       CAST(len(m) AS BIGINT) AS merged_k,
        |       COALESCE(ex.inter, 0) AS exact_inter,
        |       na.c + nb.c - COALESCE(ex.inter, 0) AS exact_union
        |FROM calc c
        |LEFT JOIN ex ON c.type_a = ex.type_a AND c.type_b = ex.type_b
        |JOIN n na ON na.event_type = c.type_a
        |JOIN n nb ON nb.event_type = c.type_b""".stripMargin,
    "grouped_regression" ->
      // int128 (HUGEINT) replay of the DECIMAL(38,0) sums; exact strings
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(epoch_us(ts) // 1000000 AS HUGEINT) AS x,
        |         CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS y
        |  FROM events
        |),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM p GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |            ELSE CAST(n * sxy - sx * sy AS VARCHAR) END AS slope_num,
        |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |            ELSE CAST(n * sxx - sx * sx AS VARCHAR) END AS slope_den
        |FROM s""".stripMargin,
    "drift_tvd" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS HUGEINT) AS n1,
        |         CAST(COUNT(*) FILTER (WHERE event_id % 2 = 1) AS HUGEINT) AS n2
        |  FROM events GROUP BY 1
        |),
        |t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM c)
        |SELECT CAST(SUM(abs(n1 * t2 - n2 * t1)) AS VARCHAR) AS tvd_num,
        |       CAST(2 * t1 * t2 AS VARCHAR) AS tvd_den,
        |       CAST(t1 AS BIGINT) AS n_baseline,
        |       CAST(t2 AS BIGINT) AS n_current
        |FROM c CROSS JOIN t
        |GROUP BY t1, t2""".stripMargin,
    "pagerank_personalized" -> {
      // same decomposed integer damping as the pagerank oracle, restart
      // gated on the seed indicator instead of uniform
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT t.v,
           |         (CASE WHEN t.v <= 5 THEN 150000 ELSE 0 END)
           |         + (t.c // 1000000) * 850000
           |         + ((t.c % 1000000) * 850000) // 1000000 AS r
           |  FROM (SELECT e.v, SUM(r.r // d.deg) AS c
           |        FROM e JOIN r${i - 1} r ON e.u = r.v
           |               JOIN deg d ON e.u = d.u
           |        GROUP BY 1) t
           |)"""
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey AS u, 10000000 + l_suppkey AS v
         |  FROM lineitem
         |),
         |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT u AS v,
         |              CAST(CASE WHEN u <= 5 THEN 1000000 ELSE 0 END AS BIGINT) AS r
         |       FROM deg),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT v AS node, CAST(r AS BIGINT) AS rank_fp FROM r4""".stripMargin
    },
    "mv_rewrite" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY 1""".stripMargin,
    "pagerank" -> {
      // one CTE per iteration: contrib = Σ ⌊r/deg⌋ over in-edges, then
      // the decomposed ⌊contrib·850000/1000000⌋ — the same exact integer
      // algebra as Graphs.pageRank, digit for digit
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT t.v, 150000 + (t.c // 1000000) * 850000
           |         + ((t.c % 1000000) * 850000) // 1000000 AS r
           |  FROM (SELECT e.v, SUM(r.r // d.deg) AS c
           |        FROM e JOIN r${i - 1} r ON e.u = r.v
           |               JOIN deg d ON e.u = d.u
           |        GROUP BY 1) t
           |)"""
      s"""WITH pairs AS (
         |  SELECT a.c_custkey AS a, b.c_custkey AS b
         |  FROM customer a JOIN customer b
         |    ON a.c_custkey < b.c_custkey
         |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
         |   AND levenshtein(a.c_name, b.c_name) <= 1
         |),
         |e AS (SELECT a AS u, b AS v FROM pairs
         |      UNION ALL SELECT b, a FROM pairs),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT v AS node, CAST(r AS BIGINT) AS rank_fp FROM r5""".stripMargin
    },
    "pagerank_weighted" -> {
      // weighted iterations: contrib = Σ ⌊r·w/W(u)⌋ in HUGEINT, nodes
      // with no in-edges keep the restart mass via the left join
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT n.v, 150000 + COALESCE(
           |           (t.c // 1000000) * 850000
           |           + ((t.c % 1000000) * 850000) // 1000000, 0) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.v, SUM((CAST(r.r AS HUGEINT) * e.w) // e.wsum) AS c
           |    FROM e JOIN r${i - 1} r ON e.u = r.v
           |    GROUP BY 1) t ON n.v = t.v
           |)"""
      s"""WITH raw AS (
         |  SELECT 10000000 + l_suppkey AS u, l_partkey AS v,
         |         CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem WHERE l_partkey % 3 = 0 GROUP BY 1, 2
         |),
         |dir0 AS (SELECT u, v, w FROM raw UNION ALL SELECT v, u, w FROM raw),
         |wsum AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wsum FROM dir0 GROUP BY 1),
         |e AS (SELECT d.u, d.v, d.w, ws.wsum FROM dir0 d JOIN wsum ws ON d.u = ws.u),
         |nodes AS (SELECT u AS v FROM dir0 UNION SELECT v FROM dir0),
         |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT v AS node, CAST(r AS BIGINT) AS rank_fp FROM r4""".stripMargin
    },
    "cooccur_pmi" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents
        |),
        |pos AS (
        |  SELECT ROW_NUMBER() OVER () AS did, t FROM toks
        |),
        |w AS (
        |  SELECT did, i, t[i] AS w
        |  FROM pos, UNNEST(range(1, len(t) + 1)) AS u(i)
        |),
        |pairs AS (
        |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
        |  FROM w a JOIN w b ON a.did = b.did AND b.i > a.i AND b.i <= a.i + 2
        |),
        |co AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |),
        |uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY 1
        |)
        |SELECT co.w1, co.w2, co.n_xy, u1.n AS n_x, u2.n AS n_y
        |FROM co JOIN uni u1 ON co.w1 = u1.w JOIN uni u2 ON co.w2 = u2.w""".stripMargin,
    "event_pattern" ->
      s"""WITH e AS (
         |  SELECT user_id AS u, epoch_us(ts) AS ts, event_type FROM events
         |),
         |s1 AS (
         |  SELECT u, MIN(ts) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1
         |),
         |s2 AS (
         |  SELECT e.u, FIRST(s1.t0) AS t0, MIN(e.ts) AS t1
         |  FROM e JOIN s1 USING (u)
         |  WHERE e.event_type = 'click' AND e.ts > s1.t0
         |    AND e.ts <= s1.t0 + $weekUs
         |  GROUP BY 1
         |),
         |s3 AS (
         |  SELECT e.u, FIRST(s2.t0) AS t0, FIRST(s2.t1) AS t1, MIN(e.ts) AS t2
         |  FROM e JOIN s2 USING (u)
         |  WHERE e.event_type = 'purchase' AND e.ts > s2.t1
         |    AND e.ts <= s2.t0 + $weekUs
         |  GROUP BY 1
         |)
         |SELECT u AS key, t0 AS t_view, t1 AS t_click, t2 AS t_purchase
         |FROM s3
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM e
         |  WHERE e.u = s3.u AND e.event_type = 'error'
         |    AND e.ts > s3.t0 AND e.ts < s3.t2)""".stripMargin,
    "search_boolean" ->
      """WITH tk AS (
        |  SELECT DISTINCT doc_id, t
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        |        FROM documents)
        |)
        |SELECT doc_id FROM tk WHERE t = 'hash'
        |INTERSECT
        |SELECT doc_id FROM tk WHERE t = 'join'
        |EXCEPT
        |SELECT doc_id FROM tk WHERE t = 'stream'""".stripMargin,
    "search_phrase" ->
      """WITH pos AS (
        |  SELECT doc_id, i, t[i] AS w
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        |        FROM documents),
        |       UNNEST(range(1, len(t) + 1)) AS u(i)
        |)
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |WHERE a.w = 'table' AND b.w = 'hash'
        |GROUP BY 1""".stripMargin,
    "golden_record" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 5 = 0 THEN 'X' || c_name
        |            ELSE c_name END AS name,
        |       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS acctbal
        |FROM customer""".stripMargin,
    "golden_refresh" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 11 = 0 THEN 'V' || c_name
        |            WHEN c_custkey % 5 = 0 THEN 'X' || c_name
        |            ELSE c_name END AS name,
        |       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS acctbal
        |FROM customer""".stripMargin,
    "skyline" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
        |         CAST(p_size AS BIGINT) AS size
        |  FROM part
        |)
        |SELECT p_partkey, price_c, size FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c <= a.price_c AND b.size <= a.size
        |    AND (b.price_c < a.price_c OR b.size < a.size))""".stripMargin,
    "rolling_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |            OVER w AS BIGINT) AS n_purchase_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)""".stripMargin,

    "abc_classification" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |                  AS BIGINT)) AS rev_cents
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (
        |  SELECT l_partkey, rev_cents,
        |         SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         (SELECT SUM(rev_cents) FROM rev) AS total
        |  FROM rev)
        |SELECT l_partkey, CAST(rev_cents AS BIGINT) AS rev_cents,
        |       CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |            WHEN cum * 100 <= total * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM c""".stripMargin,

    "gini_index" ->
      """WITH v AS (
        |  SELECT o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS x
        |  FROM orders),
        |pv AS (
        |  SELECT o_orderpriority, x, COUNT(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |c AS (
        |  SELECT o_orderpriority, x, cnt,
        |         COALESCE(SUM(cnt) OVER w, 0) AS cnt_below,
        |         COALESCE(SUM(x * cnt) OVER w, 0) AS sum_below
        |  FROM pv
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY x
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT o_orderpriority,
        |       CAST(SUM(CAST(cnt AS DECIMAL(38,0))
        |                * (x * cnt_below - sum_below)) * 2 AS VARCHAR)
        |         AS gini_num,
        |       CAST(CAST(SUM(cnt) AS DECIMAL(38,0))
        |              * SUM(CAST(x AS DECIMAL(38,0)) * cnt) * 2 AS VARCHAR)
        |         AS gini_den,
        |       CAST(SUM(cnt) AS BIGINT) AS n
        |FROM c GROUP BY o_orderpriority""".stripMargin,

    "basket_rules" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |itemn AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3)
        |SELECT p1, p2, CAST(n_both AS BIGINT) AS n_both,
        |       CAST(i1.n_item AS BIGINT) AS n_p1,
        |       CAST(i2.n_item AS BIGINT) AS n_p2,
        |       CAST(tot.n_orders AS BIGINT) AS n_orders
        |FROM pairs
        |JOIN itemn i1 ON i1.l_partkey = p1
        |JOIN itemn i2 ON i2.l_partkey = p2
        |CROSS JOIN tot""".stripMargin,

    "audience_matrix" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type AS t, user_id FROM events),
        |sz AS (SELECT t, COUNT(*) AS n FROM tu GROUP BY t),
        |pairs AS (
        |  SELECT a.t AS t1, b.t AS t2, COUNT(*) AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT t1, t2, CAST(n_both AS BIGINT) AS n_both,
        |       CAST(s1.n AS BIGINT) AS n_t1, CAST(s2.n AS BIGINT) AS n_t2
        |FROM pairs JOIN sz s1 ON s1.t = t1 JOIN sz s2 ON s2.t = t2""".stripMargin,

    "sessionize_incremental" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                OR us - lag(us) OVER w > 86400000000 THEN 1 ELSE 0
        |           END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM l)
        |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, seq""".stripMargin,

    "twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100
        |  FROM events),
        |seg AS (
        |  SELECT user_id, v100,
        |         LEAD(us) OVER (PARTITION BY user_id
        |                        ORDER BY us, event_id) - us AS dur
        |  FROM e)
        |SELECT user_id,
        |       CAST(SUM(CAST(v100 AS DECIMAL(38,0)) * dur) AS VARCHAR)
        |         AS twap_num_x100,
        |       CAST(SUM(dur) AS BIGINT) AS twap_den_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM seg WHERE dur IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    "rolling_actives" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |x AS (
        |  SELECT user_id, d + k AS window_day
        |  FROM d CROSS JOIN (SELECT UNNEST([CAST(0 AS BIGINT), 1, 2, 3, 4,
        |                                    5, 6]) AS k))
        |SELECT window_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |FROM x GROUP BY window_day""".stripMargin,

    "spatial_grid_join" ->
      s"""WITH c1 AS (
         |  SELECT c_custkey, ${ring32Sql("(c_custkey + 777)")} AS m1
         |  FROM customer),
         |c2 AS (SELECT c_custkey, ${ring32Sql(swapSql("m1"))} AS m2 FROM c1),
         |c AS (
         |  SELECT c_custkey, m2 % 4096 AS cx,
         |         ${ring32Sql(swapSql("m2"))} % 4096 AS cy
         |  FROM c2),
         |p1 AS (
         |  SELECT p_partkey, ${ring32Sql("(p_partkey + 13)")} AS m1
         |  FROM part),
         |p2 AS (SELECT p_partkey, ${ring32Sql(swapSql("m1"))} AS m2 FROM p1),
         |p AS (
         |  SELECT p_partkey, m2 % 4096 AS px,
         |         ${ring32Sql(swapSql("m2"))} % 4096 AS py
         |  FROM p2)
         |SELECT c_custkey, p_partkey,
         |       GREATEST(ABS(cx - px), ABS(cy - py)) AS cheb_dist
         |FROM c CROSS JOIN p
         |WHERE ABS(cx - px) <= 32 AND ABS(cy - py) <= 32""".stripMargin,

    "max_concurrency" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts)
        |           + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS e
        |  FROM events),
        |pts AS (
        |  SELECT user_id, s AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL
        |  SELECT user_id, e AS t, CAST(-1 AS BIGINT) AS d FROM iv),
        |c AS (
        |  SELECT user_id, t,
        |         SUM(d) OVER (PARTITION BY user_id ORDER BY t, d
        |                      ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM pts),
        |p AS (SELECT user_id, MAX(conc) AS peak FROM c GROUP BY user_id)
        |SELECT c.user_id, CAST(MAX(p.peak) AS BIGINT) AS peak,
        |       MIN(c.t) AS peak_at
        |FROM c JOIN p ON p.user_id = c.user_id AND c.conc = p.peak
        |GROUP BY c.user_id""".stripMargin,

    "hopping_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |w AS (
        |  SELECT (us // 1800000000) * 1800000000 - k * 1800000000
        |           AS win_start_us, v
        |  FROM e CROSS JOIN (SELECT UNNEST([CAST(0 AS BIGINT),
        |                                    CAST(1 AS BIGINT)]) AS k))
        |SELECT win_start_us, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(v) AS DOUBLE) AS sum_value
        |FROM w GROUP BY win_start_us""".stripMargin,

    "interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts)
        |           + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pmax
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e,
        |         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY s, e
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m)
        |SELECT user_id, MIN(s) AS start_us, MAX(e) AS end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_merged
        |FROM g GROUP BY user_id, island""".stripMargin,

    "interval_gaps" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts)
        |           + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pmax
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e,
        |         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY s, e
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |isl AS (
        |  SELECT user_id, MIN(s) AS st, MAX(e) AS en
        |  FROM g GROUP BY user_id, island)
        |SELECT user_id, gap_start, gap_end, gap_end - gap_start AS gap_us
        |FROM (
        |  SELECT user_id, en AS gap_start,
        |         LEAD(st, 1) OVER (PARTITION BY user_id ORDER BY st) AS gap_end
        |  FROM isl)
        |WHERE gap_end IS NOT NULL""".stripMargin)
}
