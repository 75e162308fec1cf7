package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession.table
import graft.operators.{AsOf, BloomJoin, RangeJoin, Skew}
import graft.operators.Groups.{SummarizeOp, SummarizeSpec}

/** Relational operators the reference deliberately lacks (its users write
  * Java operator bodies instead — SURVEY.md §2 end) but that belong to the
  * engine's north-star surface: window functions, grouping sets /
  * rollup / cube, set operations, top-k, session windows, approximate
  * aggregates. All are free from Catalyst; declaring them here (with
  * oracles) makes the capability parity explicit.
  */
object RelationalQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    /** Window functions: rank + running aggregate per partition (the
      * reference idiom for this is GroupSort + user code).
      */
    "window_rank" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate").asc, col("l_linenumber").asc, col("l_quantity").asc)
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          row_number().over(w).as("rn"),
          sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("running_qty"))
    },

    /** Same top-1-per-group result as `groupsort`, expressed as the
      * window idiom and rewritten by [[graft.plans.TopOneWindowToAggregate]]
      * into a partial-aggregatable min_by aggregate (the Window node is
      * gone from the optimized plan; Spark's WindowGroupLimit map-side
      * prune remains below the aggregate).
      */
    "top1_per_group" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate").asc, col("l_linenumber").asc, col("l_quantity").asc)
      table(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_quantity"))
    },

    /** Rollup: subtotals per (flag, status), per flag, grand total. */
    "rollup" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    },

    /** Cube over two low-cardinality dimensions. */
    "cube" -> { (s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },

    /** Pivot: one column per language of per-source document counts.
      * The pivot values are pinned explicitly — at 100 TB an unpinned
      * pivot first runs a full distinct job over the corpus just to plan
      * the schema; pinning makes it a single partial-aggregated pass.
      * A (source, lang) combination with no rows pivots to NULL.
      */
    "pivot_lang" -> { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("en", "fr", "de", "es", "zh"))
        .agg(count(lit(1)))
    },

    /** Unpivot (melt): the wide pivot frame back to (source, lang, n)
      * rows — the round trip pins both directions. NULL cells (absent
      * combinations) are dropped, matching the long form.
      */
    "unpivot_lang" -> { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("en", "fr", "de", "es", "zh"))
        .agg(count(lit(1)))
        .unpivot(Array(col("source")),
          Array(col("en"), col("fr"), col("de"), col("es"), col("zh")),
          "lang", "n_docs")
        .filter(col("n_docs").isNotNull)
    },

    /** Set ops: customers-with-orders ∩/∖ customers-with-big-orders. */
    "intersect" -> { (s, dir) =>
      val all = table(s, dir, "orders").select(col("o_custkey"))
      val big = table(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey"))
      all.intersect(big)
    },

    "except" -> { (s, dir) =>
      val all = table(s, dir, "orders").select(col("o_custkey"))
      val big = table(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey"))
      all.except(big)
    },

    /** Top-k with a total order (deterministic limit). */
    "topk" -> { (s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    /** Per-group top-k via the NATIVE bounded aggregate
      * ([[graft.functions.BoundedTopK]], a TypedImperativeAggregate): the
      * 5 largest prices per return flag with a k-bounded heap buffer that
      * partial-aggregates map-side — the exchange carries ≤ k longs per
      * group per partition instead of every row reaching a window sort
      * (`top1_per_group`/`window_rank` pin the window paths; this is the
      * aggregate path a 100 TB top-k wants). Value-multiset semantics
      * make the exploded (group, rank, value) rows engine-exact.
      */
    "topk_bounded" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      li.groupBy(col("l_returnflag"))
        .agg(graft.functions.AggExpressions.topkAgg(col("price_c"), 5).as("_top"))
        .select(col("l_returnflag"), posexplode(col("_top")))
        .select(col("l_returnflag"), (col("pos") + 1).as("rank"),
          col("col").as("price_c"))
    },

    /** Incremental top-k view maintenance ([[graft.operators.Maintain
      * .refreshTopK]], the bounded-aggregate member of the mergeable
      * class): a per-status top-5-orders view built over a snapshot is
      * refreshed from an insert batch by merging two k-bounded arrays —
      * k+k rows per touched group cross the exchange, the base is never
      * rescanned. The oracle recomputes from the full table: a merge of
      * bounded tops must land exactly on the recompute for inserts.
      */
    "topk_refresh" -> { (s, dir) =>
      val orders = table(s, dir, "orders").select(col("o_orderstatus"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      def top(o: org.apache.spark.sql.DataFrame) = o.groupBy(col("o_orderstatus"))
        .agg(graft.functions.AggExpressions.topkPairAgg(
          col("price_c"), col("o_orderkey"), 5).as("top5"))
      val stale = top(orders.filter(col("o_orderkey") % 97 =!= 0))
      graft.operators.Maintain.refreshTopK(stale,
          orders.filter(col("o_orderkey") % 97 === 0),
          Seq("o_orderstatus"), "top5", col("price_c"), col("o_orderkey"), 5)
        .select(col("o_orderstatus"), posexplode(col("top5")))
        .select(col("o_orderstatus"), (col("pos") + 1).as("rank"),
          col("col.score").as("price_c"), col("col.id").as("o_orderkey"))
    },

    /** Arg-top-k via the native pair aggregate ([[graft.functions
      * .BoundedTopKPair]]): WHICH documents are each language's 3
      * longest — (score DESC, id ASC) totally ordered, so the exploded
      * rows are deterministic and the oracle is the row_number replay.
      * Same k-bounded map-side buffer as `topk_bounded`; this is the
      * aggregate that replaces the per-group ranking window wherever
      * only the top k rows survive.
      */
    "topk_pair" -> { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(graft.functions.AggExpressions.topkPairAgg(
          col("n_chars"), col("doc_id"), 3).as("_top"))
        .select(col("lang"), posexplode(col("_top")))
        .select(col("lang"), (col("pos") + 1).as("rank"),
          col("col.score").as("n_chars"), col("col.id").as("doc_id"))
    },

    /** Per-user recent-history sequences — the training-example
      * constructor for sequential recommenders: each user's 8 most
      * recent event ids, newest first, via the k-BOUNDED pair aggregate
      * (the exchange carries ≤ 8 pairs per user per task; a power user's
      * full history is never buffered anywhere — the non-negotiable at
      * 100 TB of events). Emitted as a joined string so the oracle
      * compares the SEQUENCE, order included.
      */
    "user_history" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      ev.select(col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("_tus"),
          col("event_id"))
        .groupBy(col("user_id"))
        .agg(graft.functions.AggExpressions.topkPairAgg(
          col("_tus"), col("event_id"), 8).as("_h"))
        .select(col("user_id"),
          array_join(transform(col("_h"), x => x("id").cast("string")), ",")
            .as("recent_ids"),
          size(col("_h")).as("n_recent"))
    },

    /** Session windows over the event stream (30-minute inactivity gap)
      * — works identically in batch and Structured Streaming; oracle is
      * the classic lag/cumulative-sum sessionization.
      */
    "session_window" -> { (s, dir) =>
      table(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
    },

    /** Declarative data-quality gate (the pre-commit check a production
      * ingest runs): four row rules in ONE aggregate pass, a counts-only
      * uniqueness check, and a keys-only referential-integrity anti-join
      * — (check_name, n_bad, ok) per constraint, every count exact.
      */
    "quality_checks" -> { (s, dir) =>
      import graft.operators.Checks
      val li = table(s, dir, "lineitem")
      val ord = table(s, dir, "orders")
      Checks.report(
        Checks.rowChecks(li, Seq(
          Checks.RowRule("l_quantity_positive", col("l_quantity") > 0),
          Checks.RowRule("l_shipdate_nonnull", col("l_shipdate").isNotNull),
          Checks.RowRule("l_discount_range",
            col("l_discount") >= 0.0 && col("l_discount") <= 1.0),
          Checks.RowRule("l_price_nonnegative", col("l_extendedprice") >= 0.0))),
        Checks.uniqueCheck(ord, Seq("o_orderkey"), "o_orderkey_unique"),
        Checks.referenceCheck(li, Seq("l_orderkey"), ord, Seq("o_orderkey"),
          "lineitem_orders_fk"))
    },

    /** Order-independent table checksum ([[graft.operators.Checks
      * .fingerprint]]): one partial-aggregated pass reduces the whole
      * table to (fingerprint, n) — the cheap "did this copy/stage/
      * replica preserve the data" check. Modular integer arithmetic
      * only, so the DuckDB oracle reproduces it digit-for-digit (engine
      * hash builtins never agree across engines).
      */
    "table_fingerprint" -> { (s, dir) =>
      graft.operators.Checks.fingerprint(table(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_partkey"))
        // BIGINT for canonical rendering (exact up to ~4e9 rows; the
        // operator's DECIMAL(38,0) is the no-overflow form)
        .select(col("fingerprint").cast(LongType).as("fingerprint"), col("n"))
    },

    /** Batch gap-based sessionization (one-day inactivity gap): every
      * event gets a per-user session ordinal, sessions collapse to
      * all-integer summaries — microsecond timestamps, so the DuckDB
      * replay of the lag/cumulative-sum assignment agrees exactly. One
      * exchange keyed by user; the lag pass, the running-sum pass and
      * the final aggregation all reuse it.
      */
    "sessionize" -> { (s, dir) =>
      graft.operators.Sessionize.sessions(table(s, dir, "events"),
        user = "user_id", ts = "ts", gapSeconds = 86400L,
        tieBreak = Seq("event_id"), eventType = Some("event_type"))
    },

    /** Mergeable-sketch maintenance ([[graft.operators.Maintain
      * .refreshMergeable]]): per-part distinct-supplier HLL sketches
      * built over the pre-1998 slice, refreshed by UNIONING the
      * post-1998 changeset's sketches — no retraction, no rescan, the
      * third maintenance class. Verified like `approx_distinct`: the
      * hash-compared count is exact, the sketch estimate is asserted
      * into a ±10 % envelope the oracle expects TRUE.
      */
    "agg_refresh_sketch" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"))
      val cutoff = lit("1998-01-01").cast(TimestampType)
      val aggTable = li.filter(col("l_shipdate") < cutoff)
        .groupBy(col("l_partkey"))
        .agg(hll_sketch_agg(col("l_suppkey")).as("supp_sketch"))
      val refreshed = graft.operators.Maintain.refreshMergeable(
        aggTable, li.filter(col("l_shipdate") >= cutoff), Seq("l_partkey"),
        sketches = Seq("supp_sketch" -> col("l_suppkey")))
      li.groupBy(col("l_partkey"))
        .agg(count_distinct(col("l_suppkey")).as("n_supp"))
        .join(refreshed, Seq("l_partkey"))
        .select(col("l_partkey"), col("n_supp"),
          (abs(hll_sketch_estimate(col("supp_sketch")) - col("n_supp")) <=
            greatest(lit(1L), (col("n_supp") * 0.1).cast(LongType)))
            .as("approx_ok"))
    },

    /** Fixed-interval resampling with gap fill ([[graft.operators
      * .Resample.resampleFill]]): 6-hour buckets per user over the
      * 30-day event stream densified to one row per bucket — silent
      * buckets appear with n_events = 0 and the last observed max
      * carried forward. The raw stream crosses one exchange; the grid
      * generation and fill run over the bucketed frame.
      */
    "resample_fill" -> { (s, dir) =>
      val ev = table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      graft.operators.Resample.resampleFill(ev, keys = Seq("user_id"),
          tsUs = col("us"), intervalUs = 21600000000L,
          aggs = Seq(count(lit(1)).as("n_events"), max(col("value")).as("v_fill")),
          fillCols = Seq("v_fill"), gapDefaults = Map("n_events" -> lit(0L)))
        .select(col("user_id"), col("bucket_us"), col("n_events"), col("v_fill"))
    },

    /** As-of join: each purchase matched to the user's latest prior view
      * (single shuffle + window carry-forward, no range-join explosion).
      * DuckDB has native ASOF JOIN — exact oracle.
      */
    "asof_join" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_event_id"), col("user_id"), col("ts"))
      AsOf.asofJoin(purchases, views, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightPayload = Seq("view_event_id"),
        rightTieBreak = Seq("view_event_id"))
        .select(col("event_id"), col("user_id"), col("view_event_id"))
    },

    /** FORWARD as-of ([[graft.operators.AsOf.asofJoinForward]]): each
      * click attributed to its user's NEXT purchase (smallest purchase
      * time ≥ click time, smallest id on exact ties) with the wait in
      * microseconds — time-to-conversion, the mirror of the backward
      * point-in-time lookup, in the same single-shuffle shape.
      */
    "asof_forward" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("pts"))
      AsOf.asofJoinForward(clicks, purchases, keys = Seq("user_id"),
          leftTime = "cts", rightTime = "pts",
          rightPayload = Seq("purchase_id", "pts"),
          rightTieBreak = Seq("purchase_id"))
        .select(col("click_id"), col("user_id"), col("purchase_id"),
          (col("pts") - col("cts")).as("wait_us"))
    },

    /** Daily trending items — temporal heavy hitters: per day, the top-5
      * items by event count with deterministic (count DESC, item ASC)
      * rank, via the k-bounded pair aggregate — (day, item) tallies
      * partial-aggregate map-side, then ≤ k pairs per day per task cross
      * the final exchange; no global window, no per-day sort of the full
      * item tally.
      */
    "trending_items" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      ev.select(graft.GraftSession.eventTimeMicros(ev, "ts").as("_tus"),
          (col("event_id") % 400).as("item_id"))
        .withColumn("day_bucket", expr("_tus DIV 86400000000"))
        .groupBy(col("day_bucket"), col("item_id"))
        .agg(count(lit(1)).as("_n"))
        .groupBy(col("day_bucket"))
        .agg(graft.functions.AggExpressions.topkPairAgg(
          col("_n"), col("item_id"), 5).as("_top"))
        .select(col("day_bucket"), posexplode(col("_top")))
        .select(col("day_bucket"), (col("pos") + 1).as("rank"),
          col("col.id").as("item_id"), col("col.score").as("n_events"))
    },

    /** Recency-weighted (time-decayed) popularity — the freshness signal
      * ranking/trending systems maintain, made ENGINE-EXACT by choosing
      * the decay base 2: weight = 2^(30−age_days) is a bit-shift, so the
      * decayed sum Σ cents·2^(30−age) is plain integer algebra (an
      * exponential-decay float would drift with summation order). One
      * counts-style partial-aggregated exchange; the snapshot time is a
      * broadcast 1-row frame.
      */
    "decayed_popularity" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val base = ev.select(col("user_id"),
        (col("event_id") % 400).as("item_id"),
        graft.GraftSession.eventTimeMicros(ev, "ts").as("_tus"),
        round(col("value") * 100).cast("long").as("_cents"))
      val snap = base.agg(max(col("_tus")).as("_snap"))
      base.crossJoin(broadcast(snap))
        .withColumn("_age", expr("(_snap - _tus) DIV 86400000000"))
        .filter(col("_age") <= 30)
        .withColumn("_w", expr("shiftleft(1L, cast(30 - _age as int))"))
        .groupBy(col("item_id"))
        .agg(count(lit(1)).as("n_events"),
          // decimal internally (the 100 TB envelope), BIGINT at the edge
          // for the exact cross-engine compare
          sum((col("_cents").cast("decimal(38,0)") * col("_w"))).cast("long")
            .as("decayed_fp"))
    },

    /** Item-item CF similarity ([[graft.operators.ItemSim.topNeighbors]]):
      * top-5 "users who took this also took" neighbors per item over the
      * same 400-item catalog — exact fixed-point Jaccard of user sets,
      * per-user pair fan-out under the counts-first guard, k-bounded
      * per-item top; the oracle replays pair counts, the rational score
      * and the (score, neighbor) rank digit-for-digit.
      */
    "item_similarity" -> { (s, dir) =>
      val inter = table(s, dir, "events")
        .select(col("user_id"), (col("event_id") % 400).as("item_id"))
      graft.operators.ItemSim.topNeighbors(inter, "user_id", "item_id",
        maxUserItems = 10000, minCo = 3, k = 5)
    },

    /** Deterministic negative sampling ([[graft.operators.Sampling
      * .negativeSamples]]): 4 engine-stable non-interacted items per
      * user from a 400-item catalog (item = event_id mod 400) — the
      * contrastive-training counterpart of `user_history`; the oracle
      * replays the ring draw, the positives anti-join, and the draw-order
      * rank digit-for-digit.
      */
    "negative_samples" -> { (s, dir) =>
      val inter = table(s, dir, "events")
        .select(col("user_id"), (col("event_id") % 400).as("item_id"))
      graft.operators.Sampling.negativeSamples(inter, "user_id", "item_id",
        nItems = 400, k = 4)
    },

    /** Next-item training examples — the label-construction pass that
      * turns an event log into sequential-recommender training rows:
      * for every event with history, features = the user's up-to-8
      * PRIOR event ids (newest last) and label = the event itself. The
      * ROWS frame buffers at most 8 rows per position over one
      * user-keyed sort — causal (strictly-prior) by construction, so
      * examples are leakage-free, and the oracle compares the exact
      * feature sequence.
      */
    "training_examples" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("_tus").asc, col("event_id").asc)
        .rowsBetween(-8, -1)
      ev.select(col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("_tus"),
          col("event_id"))
        .withColumn("_hist", collect_list(col("event_id")).over(w))
        .filter(size(col("_hist")) > 0)
        .select(col("user_id"), col("event_id").as("label_id"),
          array_join(transform(col("_hist"), x => x.cast("string")), ",")
            .as("history_ids"),
          size(col("_hist")).as("n_history"))
    },

    /** Salted join: hot probe keys spread over 8 salts (build side
      * replicated); result identical to the plain join.
      */
    "salted_join" -> { (s, dir) =>
      Skew.saltedJoin(
        probe = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        build = table(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        keys = Seq("l_orderkey"), salt = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    },

    /** Bloom pre-filtered join: the selective dim side ('P'-status
      * orders, ~4 % of keys) is sketched into a 1 MB bloom filter and
      * probed map-side on the fact scan, so non-matching lineitem rows
      * never reach the join exchange; the exact join then removes bloom
      * false positives. Result identical to the plain join — the oracle
      * proves it.
      */
    "bloom_join" -> { (s, dir) =>
      BloomJoin.inner(
        fact = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        dim = table(s, dir, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_orderpriority")),
        factKey = "l_orderkey", dimKey = "o_orderkey",
        expectedItems = 100000L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    },

    /** Two-level salted aggregation for hot grouping keys. */
    "salted_aggregate" -> { (s, dir) =>
      Skew.saltedSummarize(table(s, dir, "events").select("event_type", "value"),
        keys = Seq("event_type"),
        specs = Seq(
          SummarizeSpec(SummarizeOp.Count, "value", "n"),
          SummarizeSpec(SummarizeOp.Min, "value", "min_v"),
          SummarizeSpec(SummarizeOp.Max, "value", "max_v")),
        salt = 16)
    },

    /** Lag/lead + frame-bounded running aggregate: one shuffle per window
      * partition spec; the three functions share a single Window node.
      */
    "window_lag" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber").asc, col("l_quantity").asc, col("l_extendedprice").asc)
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"),
          sum(col("l_quantity")).over(w.rowsBetween(-2, 0)).as("qty_window3"))
    },

    /** Grouping sets beyond rollup/cube: an explicit, non-hierarchical
      * set list — (flag, status), (status), ().
      */
    "grouping_sets" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    },

    /** Exact percentiles (single-pass sort-based aggregate; the
      * interpolation positions land on exact binary fractions of integer
      * quantities, so the DuckDB `quantile_cont` oracle matches at full
      * float precision).
      */
    "percentile" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity").cast(DoubleType), lit(0.25)).as("p25"),
          percentile(col("l_quantity").cast(DoubleType), lit(0.5)).as("p50"),
          percentile(col("l_quantity").cast(DoubleType), lit(0.75)).as("p75"))
    },

    /** Scale-path percentile: `percentile_approx` keeps a bounded,
      * map-side-mergeable Greenwald–Khanna sketch per group where the
      * exact aggregate buffers every value — at 100 TB a hot group's
      * exact buffer is an OOM, the sketch is a few KB. Verified like
      * `approx_distinct`: the hash-compared columns are exact (the p50
      * the oracle recomputes), and the sketch result is asserted into an
      * exact-quantile envelope (rank ±2 % ≫ the sketch's 1/accuracy
      * bound) reported as a boolean the oracle expects TRUE.
      */
    "approx_percentile" -> { (s, dir) =>
      val v = col("l_quantity").cast(DoubleType)
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(v, lit(0.5)).as("p50"),
          percentile_approx(v, lit(0.5), lit(10000))
            .between(percentile(v, lit(0.48)), percentile(v, lit(0.52)))
            .as("approx_ok"))
    },

    /** Interval join via [[graft.operators.RangeJoin]]: views of the same
      * user in the hour before each purchase, counted per purchase. The
      * bucketed rewrite keeps it a single equi-join shuffle (no per-key
      * nested loop) with ≤2 probe copies per row.
      */
    "range_join" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"))
      RangeJoin.rangeJoin(purchases, views, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "view_ts",
        lowerMicros = -3600L * 1000000L, upperMicros = 0L,
        includeUpper = false, joinType = "left_outer")
        .groupBy(col("event_id"))
        .agg(count(col("view_ts")).as("n_prior_views"))
    },

    /** Approximate distinct (HLL). Sketch estimates differ across engines
      * by design, so the output folds the estimate into an error-bound
      * boolean next to the exact count (both oracle-checkable): the HLL
      * estimate must land within 10% of the truth (default rsd is 5%), so
      * a broken sketch fails the hash compare instead of passing rows-only.
      */
    "approx_distinct" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
            <= countDistinct(col("l_partkey")).cast("double") * 0.1).as("approx_ok"))
    },

    /** Approximate aggregation from a deterministic sample
      * (Horvitz-Thompson inverse-probability scaling over a 10 % hash
      * sample): per order status, estimated count and revenue from the
      * 1-in-10 keys the engine-stable ring selects, next to the exact
      * values and a 25 % relative-error check. At 100 TB this answers
      * dashboard-class queries from a 10 TB scan; because the SAMPLE
      * itself is the deterministic hash construction every engine
      * replays (the `train_test_split` contract), the estimates — and
      * even the error booleans — are engine-exact, not merely
      * statistically close.
      */
    "sampled_agg" -> { (s, dir) =>
      val orders = table(s, dir, "orders").select(col("o_orderstatus"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val sampled = orders
        .filter(graft.operators.Sampling.hashBucket(col("o_orderkey"), 100) < 10)
        .groupBy(col("o_orderstatus"))
        .agg((count(lit(1)) * 10).as("est_n"),
          (sum(col("price_c")) * 10).as("est_revenue_c"))
      val exact = orders.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("revenue_c"))
      exact.join(sampled, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"), col("n"), col("revenue_c"),
          coalesce(col("est_n"), lit(0L)).as("est_n"),
          coalesce(col("est_revenue_c"), lit(0L)).as("est_revenue_c"),
          (abs(coalesce(col("est_n"), lit(0L)) - col("n")) * 4 <= col("n"))
            .as("n_within_25pct"))
    },

    /** CDC changeset application ([[graft.operators.Merge.applyChanges]]):
      * a deterministic changeset derived from orders itself — updates
      * (with a superseding second change for one key class, proving
      * last-seq-wins), deletes, and inserts under fresh keys. String
      * updates only: value columns pass through raw, so the oracle
      * compare is exact with no float arithmetic.
      */
    "merge_changes" -> { (s, dir) =>
      val base = table(s, dir, "orders")
      def change(c: DataFrame, op: String, seq: Long): DataFrame =
        c.withColumn("_op", lit(op)).withColumn("_seq", lit(seq))
      val changes = change(base.filter(col("o_orderkey") % 10 < 3)
          .withColumn("o_orderstatus", lit("X")), "U", 1L)
        .unionByName(change(base.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_orderstatus", lit("Y")), "U", 2L))
        .unionByName(change(base.filter(col("o_orderkey") % 10 === 3), "D", 1L))
        .unionByName(change(base.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_orderpriority", lit("NEW")), "I", 1L))
      graft.operators.Merge.applyChanges(base, changes, Seq("o_orderkey"))
    },

    /** SCD-2 validity history ([[graft.operators.Merge.scd2History]]):
      * each purchase event becomes a version of its user's state, valid
      * until the next purchase. event_id tie-breaks equal timestamps.
      */
    "scd2_history" -> { (s, dir) =>
      val purchases = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.operators.Merge.scd2History(purchases, Seq("user_id"), "ts",
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("valid_from"),
          col("valid_to"), col("is_current"))
    },

    /** Snapshot diff ([[graft.operators.Merge.snapshotDiff]]): manufacture
      * the CDC changeset between two order snapshots — deletes for one
      * key class, updates for another, inserts under fresh keys; all
      * value edits are string-only so the compare is float-free.
      */
    "snapshot_diff" -> { (s, dir) =>
      val old = table(s, dir, "orders")
      val next = old.filter(col("o_orderkey") % 10 =!= 4)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 5, lit("Z")).otherwise(col("o_orderstatus")))
        .unionByName(old.filter(col("o_orderkey") % 100 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
      graft.operators.Merge.snapshotDiff(old, next, Seq("o_orderkey"))
    },

    /** Incremental sum/count maintenance ([[graft.operators.Maintain
      * .refreshAdditive]]): a per-part quantity aggregate built over the
      * pre-1998 slice is refreshed from a signed changeset — inserts for
      * the post-1998 rows, retractions for returned pre-1998 rows — with
      * NO rescan of the base. The oracle aggregates the final base
      * directly: equality proves delta maintenance lands exactly on the
      * recompute. Quantities cast to decimal — float sums are not
      * incrementally maintainable (see the operator doc).
      */
    "agg_refresh" -> { (s, dir) =>
      val li = table(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast(DecimalType(12, 2)).as("qty"),
        col("l_shipdate"), col("l_returnflag"))
      val cutoff = lit("1998-01-01").cast(TimestampType)
      val old = li.filter(col("l_shipdate") < cutoff)
      val aggTable = old.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n"))
      val delta = old.filter(col("l_returnflag") === "R").withColumn("_op", lit("D"))
        .unionByName(li.filter(col("l_shipdate") >= cutoff).withColumn("_op", lit("I")))
        .select(col("l_partkey"), col("qty"), col("_op"))
      graft.operators.Maintain.refreshAdditive(aggTable, delta, Seq("l_partkey"),
          sums = Seq("sum_qty" -> col("qty")), countCol = "n")
        .select(col("l_partkey"),
          // exact decimal maintenance, DOUBLE only for canonical rendering
          // (multiples of 0.01 far below 2^53 — the cast is lossless)
          col("sum_qty").cast(DecimalType(18, 2)).cast(DoubleType).as("sum_qty"),
          col("n"))
    },

    /** SCD-2 point-in-time LOOKUP — the consumption side of
      * `scd2_history` and the correctness heart of a feature-store join:
      * each click is enriched with the purchase-version of its user that
      * was VALID at the click's timestamp (valid_from ≤ ts < valid_to) —
      * never a later version (leakage) nor an earlier one (staleness).
      * Validity intervals per user are disjoint by construction, so the
      * lookup is exactly the single-shuffle as-of join against
      * valid_from; the oracle replays it with the explicit validity
      * predicate, proving the equivalence.
      */
    "scd2_lookup" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val dim = graft.operators.Merge.scd2History(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts")),
        Seq("user_id"), "ts", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id").as("version_id"),
          col("valid_from"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      graft.operators.AsOf.asofJoin(clicks, dim, Seq("user_id"),
          leftTime = "ts", rightTime = "valid_from",
          rightPayload = Seq("version_id"),
          // two purchases at the same ts produce two versions with equal
          // valid_from; the oracle's zero-width-interval semantics pick
          // the max version_id — make the engine deterministic to match
          rightTieBreak = Seq("version_id"))
        .select(col("user_id"), col("click_id"), col("version_id"))
    },

    /** RFM feature view — the classic per-entity behavioral profile
      * (recency / frequency / monetary) every churn or LTV model starts
      * from: per user, seconds since their last purchase (relative to
      * the corpus's max event time, so the feature set is a reproducible
      * snapshot, not wall-clock-dependent), purchase count, and total
      * spend in cents. One partial-aggregated pass; integer evidence
      * end to end.
      */
    "rfm_features" -> { (s, dir) =>
      val ev = graft.GraftSession.normalizeTs(table(s, dir, "events"))
      val asOf = broadcast(ev.agg(max(unix_micros(col("ts"))).as("_as_of")))
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("_last"),
          count(lit(1)).as("frequency"),
          sum(round(col("value") * 100).cast("long")).as("monetary_c"))
        .crossJoin(asOf)
        .select(col("user_id"),
          expr("(_as_of - _last) DIV 1000000").as("recency_s"),
          col("frequency"), col("monetary_c"))
    },

    /** Point-in-time feature assembly — leakage-free training-set
      * construction: every click (the label event) carries its user's
      * purchase count and spend STRICTLY BEFORE the click, under the
      * total order (ts, event_id) so simultaneous events resolve
      * deterministically. One user-keyed exchange; the running frame is
      * streaming (no buffer), so a user's whole history never
      * materializes in a task. With `scd2_lookup` this is the
      * feature-store pair: versioned-dimension lookup + cumulative
      * behavioral features, both at the label's timestamp.
      */
    "pit_features" -> { (s, dir) =>
      val ev = graft.GraftSession.normalizeTs(table(s, dir, "events"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_c"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val isP = col("event_type") === "purchase"
      ev
        .withColumn("prior_purchases",
          coalesce(sum(when(isP, 1L)).over(w), lit(0L)))
        .withColumn("prior_spend_c",
          coalesce(sum(when(isP, col("value_c"))).over(w), lit(0L)))
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("prior_purchases"), col("prior_spend_c"))
    },

    /** Incremental JOIN+AGGREGATE view maintenance — the composition the
      * two primitives exist for: a revenue-per-nation view (orders ⋈
      * customer, grouped by nation) is refreshed from an ORDERS delta by
      * joining only the delta to the dimension (broadcast — the fact
      * table is never rescanned) and folding the joined delta through
      * [[graft.operators.Maintain.refreshAdditive]]. At 100 TB the stale
      * view and the delta-join are the only inputs; the oracle recomputes
      * the view from the final base state, so equality proves the delta
      * algebra lands exactly on the recompute.
      */
    "join_agg_refresh" -> { (s, dir) =>
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      def joined(o: DataFrame): DataFrame =
        o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      val orders = table(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      // initial snapshot: keys ∤97; delta inserts the ∣97 keys and
      // deletes the ∣89 keys (which the snapshot contains)
      val snapshot = orders.filter(col("o_orderkey") % 97 =!= 0)
      val viewStale = joined(snapshot).groupBy(col("c_nationkey"))
        .agg(sum(col("price")).as("revenue"), count(lit(1)).as("n"))
      val delta = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("_op", lit("I"))
        .unionByName(snapshot.filter(col("o_orderkey") % 89 === 0)
          .withColumn("_op", lit("D")))
      graft.operators.Maintain.refreshAdditive(viewStale, joined(delta),
          Seq("c_nationkey"), sums = Seq("revenue" -> col("price")),
          countCol = "n")
        .select(col("c_nationkey"),
          col("revenue").cast(DecimalType(18, 2)).cast(DoubleType).as("revenue"),
          col("n"))
    },

    /** Incremental JOIN-view maintenance ([[graft.operators.Maintain
      * .refreshJoin]]): a materialized orders⋈customer view built over an
      * initial snapshot (keys ∤97) is refreshed from an orders changeset —
      * upserts re-adding the ∣97 keys and rush-flagging the ∣91 keys,
      * deletes removing the ∣89 keys — without rescanning orders: the
      * changed-pk set broadcasts into an anti-join over the stored view,
      * and only upserted rows re-join customer. The oracle joins the
      * FINAL base state directly: equality proves the delta algebra lands
      * exactly on the recompute.
      */
    "join_refresh" -> { (s, dir) =>
      val orders = table(s, dir, "orders")
      val cust = table(s, dir, "customer")
      def joined(a: DataFrame): DataFrame =
        a.join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
            col("c_mktsegment"))
      val view = joined(orders.filter(col("o_orderkey") % 97 =!= 0))
      val delta = orders.filter(col("o_orderkey") % 89 === 0)
        .withColumn("_op", lit("D"))
        .unionByName(orders
          .filter((col("o_orderkey") % 97 === 0 || col("o_orderkey") % 91 === 0) &&
            col("o_orderkey") % 89 =!= 0)
          .withColumn("o_orderpriority",
            when(col("o_orderkey") % 91 === 0, lit("0-RUSH"))
              .otherwise(col("o_orderpriority")))
          .withColumn("_op", lit("U")))
      graft.operators.Maintain.refreshJoin(view, delta, Seq("o_orderkey"))(joined)
    },

    /** Non-invertible aggregate maintenance ([[graft.operators.Maintain
      * .refreshGroups]]): a stale per-part min/max/count over the
      * pre-change snapshot is refreshed by re-aggregating ONLY the groups
      * a small changeset touched (early returned rows retracted, a late
      * month inserted — ~60 % of parts stay untouched and keep their
      * stale rows). The oracle recomputes everything from the final
      * base: equality proves partial re-aggregation equals the full one.
      */
    "agg_refresh_rescan" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val delD = col("l_returnflag") === "R" &&
        col("l_shipdate") < lit("1995-02-01").cast(TimestampType)
      val insI = col("l_shipdate") >= lit("2001-10-01").cast(TimestampType)
      val aggs = Seq(min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"), count(lit(1)).as("n"))
      val stale = li.filter(!insI).groupBy(col("l_partkey"))
        .agg(aggs.head, aggs.tail: _*)
      graft.operators.Maintain.refreshGroups(
        base = li.filter(!delD), agg = stale,
        touched = li.filter(delD || insI).select("l_partkey"),
        groups = Seq("l_partkey"), aggs = aggs)
    },

    /** Single-pass column profiling ([[graft.operators.Profile.profile]]):
      * every metric for every column in one aggregate job. Integer and
      * string columns only here — their min/max render identically across
      * engines (doubles would hash-mismatch on formatting).
      */
    "profile_table" -> { (s, dir) =>
      graft.operators.Profile.profile(table(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },

    /** Correlated scalar subquery, decorrelated by hand the way Catalyst
      * (and every warehouse optimizer) rewrites it: "customers whose
      * balance exceeds their nation's average" becomes ONE grouped
      * aggregate broadcast back onto the fact side — the per-row subquery
      * never executes per row. The comparison cross-multiplies
      * (bal · n > Σbal in DECIMAL) instead of dividing, so no float
      * average exists and the row set is engine-exact; the oracle keeps
      * the textbook correlated form and lets DuckDB decorrelate it.
      */
    "correlated_avg" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      val bal = col("c_acctbal").cast("decimal(18,2)")
      val nat = c.groupBy(col("c_nationkey"))
        .agg(sum(bal).as("_sum_bal"), count(lit(1)).as("_n"))
      c.join(broadcast(nat), "c_nationkey")
        .where(bal * col("_n") > col("_sum_bal"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    },

    /** NEAREST as-of join — backward and forward as-of composed, each
      * purchase attributed to its temporally CLOSEST click either side
      * (ties to the backward match, the attribution convention): two
      * single-shuffle as-of passes re-joined on the unique left key —
      * never a pair join. The oracle replays both directions with
      * row_number picks and the same tie rule.
      */
    "asof_nearest" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("pts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("cts"))
      val back = AsOf.asofJoin(purchases, clicks, keys = Seq("user_id"),
          leftTime = "pts", rightTime = "cts",
          rightPayload = Seq("click_id", "cts"),
          rightTieBreak = Seq("click_id"))
        .select(col("purchase_id"), col("user_id"), col("pts"),
          col("click_id").as("b_id"), col("cts").as("b_ts"))
      val fwd = AsOf.asofJoinForward(purchases, clicks, keys = Seq("user_id"),
          leftTime = "pts", rightTime = "cts",
          rightPayload = Seq("click_id", "cts"),
          rightTieBreak = Seq("click_id"))
        .select(col("purchase_id"), col("click_id").as("f_id"),
          col("cts").as("f_ts"))
      back.join(fwd, Seq("purchase_id"))
        .select(col("purchase_id"), col("user_id"),
          when(col("b_id").isNull, col("f_id"))
            .when(col("f_id").isNull, col("b_id"))
            .when(col("pts") - col("b_ts") <= col("f_ts") - col("pts"),
              col("b_id"))
            .otherwise(col("f_id")).as("nearest_click_id"),
          when(col("b_id").isNull, col("f_ts") - col("pts"))
            .when(col("f_id").isNull, col("pts") - col("b_ts"))
            .otherwise(least(col("pts") - col("b_ts"),
              col("f_ts") - col("pts"))).as("distance_us"))
    },

    /** Right-to-be-forgotten cascade: given customer tombstones, the
      * per-table deletion manifest down the FK chain (customer → orders
      * → lineitem). Every cascade step is a KEYS-ONLY semi-join — the
      * deleted-order key set flows into the lineitem probe, payloads
      * never shuffle — and the output is the audit row a deletion job
      * must produce per table before it rewrites files. At 100 TB the
      * probes are ordinary broadcast/shuffle semi-joins; nothing scans
      * twice.
      */
    "cascade_delete" -> { (s, dir) =>
      val tomb = table(s, dir, "customer")
        .where(pmod(col("c_custkey"), lit(101L)) === 0)
        .select(col("c_custkey"))
      val cust = table(s, dir, "customer")
      val orders = table(s, dir, "orders")
      val li = table(s, dir, "lineitem")
      val delOrders = orders.join(tomb,
        orders("o_custkey") === tomb("c_custkey"), "left_semi")
      val delOrderKeys = delOrders.select(col("o_orderkey"))
      def audit(name: String, total: DataFrame, deleted: DataFrame) =
        deleted.agg(count(lit(1)).as("n_deleted"))
          .crossJoin(broadcast(total.agg(count(lit(1)).as("_n_total"))))
          .select(lit(name).as("table_name"), col("n_deleted"),
            (col("_n_total") - col("n_deleted")).as("n_retained"))
      audit("customer", cust,
          cust.join(tomb, Seq("c_custkey"), "left_semi"))
        .unionByName(audit("orders", orders, delOrders))
        .unionByName(audit("lineitem", li,
          li.join(delOrderKeys,
            li("l_orderkey") === delOrderKeys("o_orderkey"), "left_semi")))
    },

    /** Recursive BOM explosion ([[graft.operators.Hierarchy.explode]])
      * over a synthetic part hierarchy (parent = key div 10 — a forest
      * rooted at single-digit keys; per-edge quantity = key % 3 + 1):
      * the full transitive closure with quantities MULTIPLIED along each
      * path — the arithmetic-carrying recursion BFS/PageRank don't cover.
      * Level-synchronous joins with plan-truncating per-round
      * checkpoints; the oracle replays it as a recursive CTE.
      */
    "bom_explode" -> { (s, dir) =>
      val edges = table(s, dir, "part")
        .where(col("p_partkey") >= 10)
        .select(expr("p_partkey div 10").as("parent"),
          col("p_partkey").as("child"),
          (pmod(col("p_partkey"), lit(3L)) + 1).as("qty"))
      graft.operators.Hierarchy.explode(edges, "parent", "child", "qty")
    },

    /** Benford first-digit audit over order totals — the forensic
      * data-quality check (fabricated or unit-mangled money columns
      * break the log-law). The leading digit comes from the exact cents
      * STRING (no float log10), observed shares ride as fixed-point ppm
      * via integral division, and the expected ppm are precomputed
      * log10(1+1/d) literals shared with the oracle — the same
      * integer-exact trick as the NDCG weights. One counts-only
      * exchange (9 digit groups) + a broadcast 1-row total.
      */
    "benford_audit" -> { (s, dir) =>
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val counts = table(s, dir, "orders")
        .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("_t"))
      val benfordPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
        66947L, 57992L, 51153L, 45757L)
      val expected = benfordPpm.zipWithIndex.foldLeft(lit(null).cast("long")) {
        case (acc, (ppm, i)) => when(col("digit") === (i + 1), ppm).otherwise(acc)
      }
      counts.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          expr("n * 1000000 div _t").as("actual_ppm"),
          expected.as("benford_ppm"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "window_rank" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       row_number() OVER w AS rn,
        |       SUM(l_quantity) OVER (PARTITION BY l_orderkey
        |           ORDER BY l_shipdate ASC, l_linenumber ASC, l_quantity ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_shipdate ASC, l_linenumber ASC, l_quantity ASC)""".stripMargin,
    "top1_per_group" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_shipdate ASC, l_linenumber ASC, l_quantity ASC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,
    "rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "pivot_lang" ->
      """SELECT source,
        |       CAST(SUM(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
        |       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
        |       CAST(SUM(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
        |       CAST(SUM(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
        |       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin,
    "unpivot_lang" ->
      """SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents WHERE lang IN ('en', 'fr', 'de', 'es', 'zh')
        |GROUP BY source, lang""".stripMargin,
    "intersect" ->
      """SELECT o_custkey FROM orders
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0""".stripMargin,
    "except" ->
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0""".stripMargin,
    "topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "topk_bounded" ->
      """SELECT l_returnflag, CAST(rn AS BIGINT) AS rank, v AS price_c FROM (
        |  SELECT l_returnflag,
        |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
        |         row_number() OVER (
        |           PARTITION BY l_returnflag
        |           ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT) DESC) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5""".stripMargin,
    "topk_refresh" ->
      """SELECT o_orderstatus, CAST(rn AS BIGINT) AS rank, price_c, o_orderkey FROM (
        |  SELECT o_orderstatus,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c, o_orderkey,
        |         row_number() OVER (
        |           PARTITION BY o_orderstatus
        |           ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC,
        |                    o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 5""".stripMargin,
    "user_history" ->
      """WITH o AS (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts) DESC, event_id ASC) AS rn
        |  FROM events
        |)
        |SELECT user_id,
        |       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS recent_ids,
        |       CAST(COUNT(*) AS BIGINT) AS n_recent
        |FROM o WHERE rn <= 8 GROUP BY user_id""".stripMargin,
    "topk_pair" ->
      """SELECT lang, CAST(rn AS BIGINT) AS rank, n_chars, doc_id FROM (
        |  SELECT lang, n_chars, doc_id,
        |         row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin,
    "quality_checks" ->
      """SELECT 'l_quantity_positive' AS check_name,
        |       CAST(COUNT(*) FILTER (WHERE (l_quantity > 0) IS NOT TRUE) AS BIGINT) AS n_bad,
        |       COUNT(*) FILTER (WHERE (l_quantity > 0) IS NOT TRUE) = 0 AS ok
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate_nonnull',
        |       CAST(COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT),
        |       COUNT(*) FILTER (WHERE l_shipdate IS NULL) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount_range',
        |       CAST(COUNT(*) FILTER (WHERE (l_discount BETWEEN 0.0 AND 1.0) IS NOT TRUE) AS BIGINT),
        |       COUNT(*) FILTER (WHERE (l_discount BETWEEN 0.0 AND 1.0) IS NOT TRUE) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_price_nonnegative',
        |       CAST(COUNT(*) FILTER (WHERE (l_extendedprice >= 0.0) IS NOT TRUE) AS BIGINT),
        |       COUNT(*) FILTER (WHERE (l_extendedprice >= 0.0) IS NOT TRUE) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'o_orderkey_unique',
        |       CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
        |       COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) = 0
        |FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'lineitem_orders_fk',
        |       CAST(COUNT(*) AS BIGINT),
        |       COUNT(*) = 0
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL""".stripMargin,
    "table_fingerprint" ->
      """WITH h AS (
        |  SELECT (((l_orderkey % 2147483647) * 1 % 2147483647
        |          + (l_linenumber % 2147483647) * 1000003 % 2147483647) % 2147483647
        |          + (l_partkey % 2147483647) * 1426104154 % 2147483647) % 2147483647 AS rh
        |  FROM lineitem
        |)
        |SELECT CAST(SUM((rh * rh + rh) % 2147483647) AS BIGINT) AS fingerprint,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM h""".stripMargin,
    "sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
        |),
        |l AS (
        |  SELECT user_id, event_id, event_type, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                OR us - lag(us) OVER w > 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |s AS (
        |  SELECT user_id, event_type, us,
        |         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM l
        |)
        |SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       MIN(us) AS start_us, MAX(us) AS end_us,
        |       MAX(us) - MIN(us) AS duration_us,
        |       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
        |FROM s GROUP BY 1, 2""".stripMargin,
    "asof_join" ->
      """SELECT p.event_id, p.user_id, v.event_id AS view_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,
    "window_lag" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       lag(l_quantity, 1) OVER w AS prev_qty,
        |       lead(l_quantity, 1) OVER w AS next_qty,
        |       SUM(l_quantity) OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber ASC, l_quantity ASC, l_extendedprice ASC
        |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS qty_window3
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber ASC, l_quantity ASC, l_extendedprice ASC)""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin,
    "approx_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    "percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)  AS p50,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75
        |FROM lineitem GROUP BY 1""".stripMargin,
    "range_join" ->
      """SELECT p.event_id, COUNT(v.ts) AS n_prior_views
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |GROUP BY 1""".stripMargin,
    "asof_forward" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), j AS (
        |  SELECT c.click_id, p.purchase_id, p.pts - c.cts AS wait_us,
        |         row_number() OVER (PARTITION BY c.click_id
        |             ORDER BY p.pts ASC, p.purchase_id ASC) AS rn
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.pts >= c.cts
        |)
        |SELECT c.click_id, c.user_id, j.purchase_id, j.wait_us
        |FROM c LEFT JOIN j ON c.click_id = j.click_id AND j.rn = 1""".stripMargin,
    "trending_items" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_bucket,
        |         event_id % 400 AS item_id
        |  FROM events
        |), c AS (
        |  SELECT day_bucket, item_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2
        |), ranked AS (
        |  SELECT day_bucket, item_id, n,
        |         row_number() OVER (PARTITION BY day_bucket
        |             ORDER BY n DESC, item_id ASC) AS rank
        |  FROM c
        |)
        |SELECT day_bucket, CAST(rank AS INT) AS rank, item_id,
        |       n AS n_events
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "decayed_popularity" ->
      """WITH e AS (
        |  SELECT event_id % 400 AS item_id, epoch_us(ts) AS tus,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), s AS (SELECT MAX(tus) AS snap FROM e
        |), aged AS (
        |  SELECT e.item_id, e.cents, (s.snap - e.tus) // 86400000000 AS age
        |  FROM e, s
        |)
        |SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(cents AS HUGEINT) * (CAST(1 AS HUGEINT) << CAST(30 - age AS INT)))
        |            AS BIGINT) AS decayed_fp
        |FROM aged WHERE age <= 30
        |GROUP BY 1""".stripMargin,
    "item_similarity" ->
      """WITH inter AS (
        |  SELECT DISTINCT user_id AS u, event_id % 400 AS i FROM events
        |), ni AS (
        |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM inter GROUP BY 1
        |), co AS (
        |  SELECT a.i AS a, b.i AS b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM inter a JOIN inter b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |), scored AS (
        |  SELECT co.a, co.b, co.c,
        |         CAST((CAST(co.c AS HUGEINT) * 1000000)
        |              // (na.n + nb.n - co.c) AS BIGINT) AS score_fp
        |  FROM co JOIN ni na ON co.a = na.i JOIN ni nb ON co.b = nb.i
        |), sym AS (
        |  SELECT a AS item, b AS nb, score_fp FROM scored
        |  UNION ALL
        |  SELECT b, a, score_fp FROM scored
        |), ranked AS (
        |  SELECT item, nb, score_fp,
        |         row_number() OVER (PARTITION BY item
        |             ORDER BY score_fp DESC, nb ASC) AS rank
        |  FROM sym
        |)
        |SELECT item AS item_id, CAST(rank AS INT) AS rank,
        |       nb AS neighbor_id, score_fp
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "negative_samples" ->
      """WITH pos AS (
        |  SELECT DISTINCT user_id AS u, event_id % 400 AS i FROM events
        |), cand AS (
        |  SELECT u, j,
        |         ((((((g & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |           + (g & 65535) * 2654435761) % 4294967296) % 400 AS i
        |  FROM (
        |    SELECT u, j, u * 1000003 + j AS g
        |    FROM (SELECT DISTINCT u FROM pos), unnest(range(0, 12)) AS t(j)
        |  )
        |), neg AS (
        |  SELECT c.u, c.i, MIN(c.j) AS j
        |  FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM pos p WHERE p.u = c.u AND p.i = c.i)
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY j ASC, i ASC) AS rank
        |  FROM neg
        |)
        |SELECT u AS user_id, i AS item_id, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 4""".stripMargin,
    "training_examples" ->
      """WITH o AS (
        |  SELECT user_id, event_id,
        |         string_agg(CAST(event_id AS VARCHAR), ',')
        |             OVER (PARTITION BY user_id
        |                   ORDER BY epoch_us(ts) ASC, event_id ASC
        |                   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS hist,
        |         COUNT(*) OVER (PARTITION BY user_id
        |                        ORDER BY epoch_us(ts) ASC, event_id ASC
        |                        ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS nh
        |  FROM events
        |)
        |SELECT user_id, event_id AS label_id, hist AS history_ids,
        |       CAST(nh AS BIGINT) AS n_history
        |FROM o WHERE nh > 0""".stripMargin,
    "salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "salted_aggregate" ->
      """SELECT event_type, COUNT(value) AS n, MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events GROUP BY 1""".stripMargin,
    "bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'P'
        |GROUP BY 1""".stripMargin,
    "session_window" ->
      """WITH gaps AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   >= INTERVAL 30 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |), sessions AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        |  FROM gaps
        |)
        |SELECT user_id,
        |       CAST(date_trunc('microseconds', MIN(ts)) AS TIMESTAMP) AS session_start,
        |       COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "approx_distinct" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    "sampled_agg" ->
      """WITH o AS (
        |  SELECT o_orderstatus,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
        |         ((((((o_orderkey & 4294967295) >> 16) * 2654435761) % 4294967296) * 65536
        |           + (o_orderkey & 65535) * 2654435761) % 4294967296) % 100 AS b
        |  FROM orders
        |),
        |est AS (
        |  SELECT o_orderstatus, CAST(COUNT(*) * 10 AS BIGINT) AS est_n,
        |         CAST(SUM(price_c) * 10 AS BIGINT) AS est_revenue_c
        |  FROM o WHERE b < 10 GROUP BY 1
        |),
        |ex AS (
        |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(price_c) AS BIGINT) AS revenue_c
        |  FROM o GROUP BY 1
        |)
        |SELECT ex.o_orderstatus, n, revenue_c,
        |       COALESCE(est_n, 0) AS est_n,
        |       COALESCE(est_revenue_c, 0) AS est_revenue_c,
        |       abs(COALESCE(est_n, 0) - n) * 4 <= n AS n_within_25pct
        |FROM ex LEFT JOIN est USING (o_orderstatus)""".stripMargin,
    "merge_changes" ->
      """WITH changes AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'U' AS _op, 1 AS _seq
        |  FROM orders WHERE o_orderkey % 10 < 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'Y', o_totalprice,
        |         o_orderdate, o_orderpriority, 'U', 2
        |  FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D', 1
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, 'NEW', 'I', 1
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), winner AS (
        |  SELECT * FROM changes
        |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
        |                             ORDER BY _seq DESC, _op DESC) = 1
        |)
        |SELECT COALESCE(w.o_orderkey, b.o_orderkey) AS o_orderkey,
        |       CASE WHEN w._op IS NOT NULL THEN w.o_custkey ELSE b.o_custkey END AS o_custkey,
        |       CASE WHEN w._op IS NOT NULL THEN w.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
        |       CASE WHEN w._op IS NOT NULL THEN w.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
        |       CASE WHEN w._op IS NOT NULL THEN w.o_orderdate ELSE b.o_orderdate END AS o_orderdate,
        |       CASE WHEN w._op IS NOT NULL THEN w.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
        |FROM orders b FULL JOIN winner w ON b.o_orderkey = w.o_orderkey
        |WHERE w._op IS NULL OR w._op != 'D'""".stripMargin,
    "rfm_features" ->
      """WITH snap AS (SELECT MAX(epoch_us(ts)) AS a FROM events)
        |SELECT user_id,
        |       CAST(((SELECT a FROM snap) - MAX(epoch_us(ts))) // 1000000 AS BIGINT)
        |         AS recency_s,
        |       CAST(COUNT(*) AS BIGINT) AS frequency,
        |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS monetary_c
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "pit_features" ->
      """SELECT user_id, event_id AS click_id,
        |       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |         AS prior_purchases,
        |       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |                               THEN CAST(ROUND(value * 100) AS BIGINT) END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |         AS prior_spend_c
        |FROM events
        |QUALIFY event_type = 'click'""".stripMargin,
    "scd2_lookup" ->
      // LEFT join: clicks before any purchase keep a null version (the
      // as-of join's outer semantics); disjoint validity intervals
      // guarantee at most one match per click
      """WITH dim AS (
        |  SELECT user_id, event_id AS version_id, ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_type = 'purchase'
        |),
        |clicks AS (
        |  SELECT user_id, event_id AS click_id, ts
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT c.user_id, c.click_id, d.version_id
        |FROM clicks c LEFT JOIN dim d
        |  ON c.user_id = d.user_id
        | AND d.valid_from <= c.ts
        | AND (d.valid_to IS NULL OR c.ts < d.valid_to)""".stripMargin,
    "join_agg_refresh" ->
      // final base state: snapshot (∤97) minus deletes (∣89) plus
      // inserts (∣97) = all orders except (∤97 ∧ ∣89)
      """SELECT c.c_nationkey,
        |       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE NOT (o.o_orderkey % 97 != 0 AND o.o_orderkey % 89 = 0)
        |GROUP BY 1""".stripMargin,
    "agg_refresh" ->
      """SELECT l_partkey,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE NOT (l_shipdate < TIMESTAMP '1998-01-01' AND l_returnflag = 'R')
        |GROUP BY l_partkey""".stripMargin,
    "agg_refresh_sketch" ->
      """SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    "join_refresh" ->
      """SELECT o.o_orderkey, o.o_custkey,
        |       CASE WHEN o.o_orderkey % 91 = 0 THEN '0-RUSH'
        |            ELSE o.o_orderpriority END AS o_orderpriority,
        |       c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey % 89 != 0""".stripMargin,
    "agg_refresh_rescan" ->
      """SELECT l_partkey, MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE NOT (l_returnflag = 'R' AND l_shipdate < TIMESTAMP '1995-02-01')
        |GROUP BY l_partkey""".stripMargin,
    "resample_fill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, value FROM events
        |),
        |agg AS (
        |  SELECT user_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         MAX(value) AS v
        |  FROM e GROUP BY 1, 2
        |),
        |span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM agg GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
        |j AS (
        |  SELECT g.user_id, g.bucket, COALESCE(a.n_events, 0) AS n_events, a.v
        |  FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket
        |)
        |SELECT user_id, bucket * 21600000000 AS bucket_us, n_events,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
        |FROM j""".stripMargin,
    "scd2_history" ->
      """SELECT user_id, event_id,
        |       CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS valid_from,
        |       CAST(date_trunc('microseconds', lead(ts) OVER w) AS TIMESTAMP) AS valid_to,
        |       (lead(ts) OVER w IS NULL) AS is_current
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    "snapshot_diff" ->
      """WITH next AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 5 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 != 4
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 1
        |)
        |SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |       CASE WHEN n.o_orderkey IS NULL THEN o.o_custkey ELSE n.o_custkey END AS o_custkey,
        |       CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus ELSE n.o_orderstatus END AS o_orderstatus,
        |       CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice ELSE n.o_totalprice END AS o_totalprice,
        |       CASE WHEN n.o_orderkey IS NULL THEN o.o_orderdate ELSE n.o_orderdate END AS o_orderdate,
        |       CASE WHEN n.o_orderkey IS NULL THEN o.o_orderpriority ELSE n.o_orderpriority END AS o_orderpriority,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |            WHEN n.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS _op
        |FROM orders o FULL JOIN next n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_custkey IS DISTINCT FROM n.o_custkey
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |   OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority""".stripMargin,
    "profile_table" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map(c =>
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |       COUNT(*) - COUNT($c) AS n_null,
           |       COUNT(DISTINCT $c) AS n_distinct,
           |       CAST(MIN($c) AS VARCHAR) AS min_value,
           |       CAST(MAX($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n"),

    "correlated_avg" ->
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2))
        |        * (SELECT COUNT(*) FROM customer i
        |           WHERE i.c_nationkey = c.c_nationkey)
        |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer i
        |         WHERE i.c_nationkey = c.c_nationkey)""".stripMargin,

    "asof_nearest" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        |  FROM events WHERE event_type = 'click'),
        |b0 AS (
        |  SELECT p.purchase_id, c.click_id, c.cts,
        |         row_number() OVER (PARTITION BY p.purchase_id
        |             ORDER BY c.cts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts),
        |f0 AS (
        |  SELECT p.purchase_id, c.click_id, c.cts,
        |         row_number() OVER (PARTITION BY p.purchase_id
        |             ORDER BY c.cts ASC, c.click_id ASC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.cts >= p.pts)
        |SELECT p.purchase_id, p.user_id,
        |       CASE WHEN b.click_id IS NULL THEN f.click_id
        |            WHEN f.click_id IS NULL THEN b.click_id
        |            WHEN p.pts - b.cts <= f.cts - p.pts THEN b.click_id
        |            ELSE f.click_id END AS nearest_click_id,
        |       CASE WHEN b.click_id IS NULL THEN f.cts - p.pts
        |            WHEN f.click_id IS NULL THEN p.pts - b.cts
        |            ELSE LEAST(p.pts - b.cts, f.cts - p.pts)
        |         END AS distance_us
        |FROM p
        |LEFT JOIN (SELECT * FROM b0 WHERE rn = 1) b
        |  ON b.purchase_id = p.purchase_id
        |LEFT JOIN (SELECT * FROM f0 WHERE rn = 1) f
        |  ON f.purchase_id = p.purchase_id""".stripMargin,

    "cascade_delete" ->
      """WITH tomb AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 101 = 0),
        |delo AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM tomb))
        |SELECT 'customer' AS table_name,
        |       CAST((SELECT COUNT(*) FROM tomb) AS BIGINT) AS n_deleted,
        |       CAST((SELECT COUNT(*) FROM customer) -
        |            (SELECT COUNT(*) FROM tomb) AS BIGINT) AS n_retained
        |UNION ALL
        |SELECT 'orders',
        |       CAST((SELECT COUNT(*) FROM delo) AS BIGINT),
        |       CAST((SELECT COUNT(*) FROM orders) -
        |            (SELECT COUNT(*) FROM delo) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem',
        |       CAST((SELECT COUNT(*) FROM lineitem
        |             WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
        |            AS BIGINT),
        |       CAST((SELECT COUNT(*) FROM lineitem) -
        |            (SELECT COUNT(*) FROM lineitem
        |             WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
        |            AS BIGINT)""".stripMargin,

    "bom_explode" ->
      """WITH RECURSIVE edges AS (
        |  SELECT p_partkey // 10 AS anc, p_partkey AS des,
        |         p_partkey % 3 + 1 AS q
        |  FROM part WHERE p_partkey >= 10),
        |closure AS (
        |  SELECT anc, des, q, 1 AS depth FROM edges
        |  UNION ALL
        |  SELECT c.anc, e.des, c.q * e.q, c.depth + 1
        |  FROM closure c JOIN edges e ON e.anc = c.des)
        |SELECT anc AS ancestor, des AS descendant,
        |       CAST(SUM(q) AS BIGINT) AS total_qty,
        |       CAST(MIN(depth) AS BIGINT) AS min_depth
        |FROM closure GROUP BY anc, des""".stripMargin,

    "benford_audit" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |                               * 100 AS BIGINT) AS VARCHAR),
        |                     1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM c GROUP BY digit),
        |t AS (SELECT SUM(n) AS t FROM g)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |       CAST(n * 1000000 // t AS BIGINT) AS actual_ppm,
        |       CAST(CASE digit
        |              WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |              WHEN 3 THEN 124939 WHEN 4 THEN 96910
        |              WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |              WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |              WHEN 9 THEN 45757 END AS BIGINT) AS benford_ppm
        |FROM g CROSS JOIN t""".stripMargin
  )
}
