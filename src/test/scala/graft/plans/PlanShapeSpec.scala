package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.operators.Joins

/** Physical-plan regression tests for the properties that make the engine
  * viable at 100 TB — correctness tests can't catch a silently re-added
  * shuffle or a filter that stopped reaching the scan, so these pin the
  * plan shape itself:
  *
  *  - predicate pushdown + column pruning reach the parquet scan
  *  - dimension-sized masters plan as broadcast joins (no full shuffle)
  *  - bucketed tables join with NO exchange on either side
  *  - fingerprint dedup keeps full document text out of the exchange
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame) = {
    df.count() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan
  }

  private def scans(df: DataFrame) = {
    val plan = executed(df)
    collect(plan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
  }

  /** Like [[collect]], but also descends into cached-relation subtrees —
    * operators that persist an intermediate frame hide its plan behind an
    * InMemoryTableScan, which `collect` treats as a leaf.
    */
  private def deepCollect[T](plan: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    val cached = collect(plan) {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan
    }
    collect(plan)(pf) ++ cached.flatMap(p => deepCollect(p)(pf))
  }

  /** Every expression node matching `pf` in any operator of `plan`,
    * cached subtrees included. */
  private def exprsOf[T](plan: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, T]): Seq[T] =
    deepCollect(plan) { case p => p }.flatMap(_.expressions.flatMap(_.collect(pf)))

  test("filter and projection reach the parquet scan (pushdown + pruning)") {
    val q = GraftSession.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = scans(q).head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity"),
      scan.metadata("PushedFilters"))
    // pruned read schema: exactly the two referenced columns
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_orderkey", "l_quantity"), readCols.toString)
  }

  test("broadcastMaster plans a broadcast join, not an exchange of the fact side") {
    val li = GraftSession.table(spark, dir, "lineitem")
    val orders = GraftSession.table(spark, dir, "orders")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val q = Joins.masterJoin(li, orders, Seq("l_orderkey"),
      output = Seq(col("l_orderkey"), col("o_orderstatus")),
      broadcastMaster = true, uniqueMaster = true).found
    val plan = executed(q)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"fact side shuffled despite broadcast master:\n$plan")
  }

  test("bucketed-by-key tables join with zero exchanges") {
    import graft.sinks.Bucketed
    Bucketed.write(GraftSession.table(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "plan_spec_li", bucketBy = Seq("l_orderkey"), nBuckets = 4, sortBy = Seq("l_orderkey"))
    Bucketed.write(GraftSession.table(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
      "plan_spec_ord", bucketBy = Seq("l_orderkey"), nBuckets = 4, sortBy = Seq("l_orderkey"))
    val q = Bucketed.read(spark, "plan_spec_li")
      .join(Bucketed.read(spark, "plan_spec_ord"), "l_orderkey")
    val plan = executed(q)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"bucketed join still exchanges:\n$plan")
    assert(collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty ||
      collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
  }

  test("fingerprint dedup exchanges hashes, not document text") {
    val docs = GraftSession.table(spark, dir, "documents")
    val q = graft.dedup.Dedup.exactFingerprint(docs, on = Seq("text"), id = "doc_id")
    val plan = executed(q)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    for (e <- exchanges; attr <- e.output)
      assert(attr.name != "text",
        s"full text crossed the exchange:\n${e.output.mkString(", ")}")
  }

  test("incremental dedup: anti-join pushes below the batch aggregation") {
    val docs = GraftSession.table(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") < 30)
    val batch = docs.filter(col("doc_id") >= 30)
    val q = graft.dedup.Dedup.exactIncremental(batch,
      graft.dedup.Dedup.fingerprintIndex(corpus, Seq("text")), Seq("text"), "doc_id")
    val plan = executed(q)
    // PushDownLeftSemiAntiJoin must fire: the anti-join (filter on the
    // grouping keys) runs BELOW the min_by aggregate, so already-ingested
    // rows are discarded before the batch shuffle, not after
    val joins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty)
    val aggs = collect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    val joinUnderAgg = aggs.exists(a =>
      collect(a: org.apache.spark.sql.execution.SparkPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.nonEmpty)
    assert(joinUnderAgg, s"anti-join did not push below the aggregate:\n$plan")
  }

  test("stripFrequentLines: the frequency path exchanges hashes, never line text") {
    val docs = GraftSession.table(spark, dir, "documents")
    val q = graft.dedup.Dedup.stripFrequentLines(
      docs, "doc_id", concat_ws("\n", col("text"), col("source")), minDocs = 2)
    val plan = executed(q)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    // only the per-document REASSEMBLY shuffle may carry line text (it
    // rides with _idx); the distinct/count frequency exchanges must be
    // hash-only — at corpus scale they see every line occurrence
    for (e <- exchanges if e.output.exists(_.name == "_line"))
      assert(e.output.exists(_.name == "_idx"),
        s"line text crossed a frequency exchange:\n${e.output.mkString(", ")}")
    assert(exchanges.exists(!_.output.exists(_.name == "_line")),
      s"no hash-only exchange found:\n$plan")
  }

  test("stripLinesBroadcast: the document plan is scan→project — no exchange, no join") {
    val docs = GraftSession.table(spark, dir, "documents")
    val idx = graft.dedup.Dedup.lineIndex(
      docs, "doc_id", concat_ws("\n", col("text"), col("source")), minDocs = 2)
    val q = graft.dedup.Dedup.stripLinesBroadcast(
      docs, idx, "doc_id", concat_ws("\n", col("text"), col("source")))
    val plan = executed(q)
    // round 13: the index is driver-collected (row-bounded) and shipped
    // as a sparkContext broadcast INSIDE the expression, so the document
    // side carries no exchange and no join of any kind — the only shape
    // that holds when the stream never ends
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"document rows crossed an exchange:\n$plan")
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"unexpected join in the per-row strip path:\n$plan")
  }

  /** Key-equality exchanges of a plan — the fixture-spreading round-robin
    * repartition (`tableSpread`) is harness plumbing, not operator shape.
    */
  private def keyedExchanges(plan: org.apache.spark.sql.execution.SparkPlan) =
    collect(plan) {
      case e: ShuffleExchangeExec if !e.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => e
    }

  test("gopher_repetition: a document's n-grams never cross an exchange") {
    val q = graft.SparkEntry.queries("gopher_repetition")(spark, dir)
    val plan = executed(q)
    // per-row count map inside the expression: the whole query is
    // scan -> project with zero keyed exchanges (the naive shape
    // explodes every gram of the corpus into a groupBy(doc, gram)
    // shuffle)
    assert(keyedExchanges(plan).isEmpty, s"gopher_repetition shuffled:\n$plan")
  }

  test("url_blocklist: suffix explosion carries ids only; payload never amplifies") {
    val q = graft.SparkEntry.queries("url_blocklist")(spark, dir)
    val plan = executed(q)
    // the (id, suffix) explosion and the blocked-id set may shuffle /
    // broadcast, but no KEYED exchange row may carry the host payload —
    // the document side re-joins by id only
    for (e <- keyedExchanges(plan); attr <- e.output)
      assert(attr.name == "_bl_id" || attr.name == "_sfx",
        s"payload column '${attr.name}' crossed an exchange:\n${e.output.mkString(", ")}")
  }

  test("quantized IVF probe: only int8 codes cross the corpus exchange") {
    val emb = GraftSession.table(spark, dir, "embeddings")
    val q = graft.similarity.Ivf.topKQuantized(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 2)
    val plan = executed(q)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    // no float/double array attribute of the CORPUS side may be shuffled:
    // the index representation is struct(scale, tinyint codes) until the
    // post-join scoring expression dequantizes it
    for (e <- exchanges; attr <- e.output if attr.name == "_cv")
      fail(s"dequantized corpus vector crossed an exchange:\n${e.output.mkString(", ")}")
  }

  test("branch fan-out: three port consumers reuse one shared scan") {
    import graft.operators.Records._
    val ports = GraftSession.table(spark, dir, "orders")
      .branch(when(col("o_orderstatus") === "F", "closed")
        .when(col("o_orderstatus") === "O", "open").otherwise("other"))
      .shared()
    try {
      val consumers = Seq("closed", "open", "other").map(ports.port)
      consumers.foreach(_.count())
      for (c <- consumers) {
        val plan = executed(c)
        // the port must read the persisted tagged frame, not re-scan parquet
        assert(collect(plan) {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
        }.nonEmpty, s"port re-planned from the source:\n$plan")
        assert(collect(plan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.isEmpty, s"port re-scanned the file:\n$plan")
      }
      // and the three ports partition the input exactly
      assert(consumers.map(_.count()).sum === GraftSession.table(spark, dir, "orders").count())
    } finally ports.all.unpersist()
  }

  test("rangeJoin plans as an equi-join, never a nested loop") {
    val ev = GraftSession.table(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val q = graft.operators.RangeJoin.rangeJoin(purchases, views, Seq("user_id"),
      "ts", "view_ts", lowerMicros = -3600L * 1000000L, upperMicros = 0L,
      includeUpper = false)
    val plan = executed(q)
    val loops = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(loops.isEmpty, s"range join fell back to a nested loop:\n$plan")
    assert(collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty ||
      collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
  }

  test("asofJoin keeps key partitioning visible: groupBy on keys adds no exchange") {
    val ev = GraftSession.table(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val joined = graft.operators.AsOf.asofJoin(p, v, Seq("user_id"),
      leftTime = "ts", rightTime = "view_ts",
      rightPayload = Seq("view_id"), rightTieBreak = Seq("view_id"))
      .groupBy(col("user_id")).agg(count(col("view_id")).as("n"))
    val plan = executed(joined)
    // one exchange for the asof window; the aggregate must reuse it
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1, plan.toString)
  }

  test("sessionize: lag, session counter and aggregation share ONE exchange") {
    val q = graft.operators.Sessionize.sessions(
      GraftSession.table(spark, dir, "events"),
      user = "user_id", ts = "ts", gapSeconds = 86400L,
      tieBreak = Seq("event_id"), eventType = Some("event_type"))
    val plan = executed(q)
    // both window passes and the per-session aggregate reuse the
    // user_id partitioning — a second exchange means a window spec
    // drifted off the shared (user, order) sort
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1, plan.toString)
  }

  test("quantile threshold filter: window sorts counts, never corpus rows") {
    val docs = GraftSession.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val q = graft.operators.Quantiles.filterAtLeast(docs, "lang", col("n_chars"), 1, 4)
    val plan = executed(q)
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // every window input must already be the (group, value, count)
    // aggregate — a window whose child carries doc_id is sorting the
    // corpus, the exact plan this operator exists to avoid
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(!w.child.output.map(_.name).contains("doc_id"),
        s"window over corpus rows: ${w.child.output.map(_.name)}")
    }
    // thresholds reach the corpus through a broadcast join
    assert(collect(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty, plan.toString)
  }

  test("heavy hitters: candidate recount probes a broadcast, corpus never shuffles rows") {
    val df = GraftSession.table(spark, dir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
    val q = graft.operators.Frequency.heavyHitters(df, col("t"), k = 100)
    val plan = executed(q)
    // the semi-join against the bounded candidate set must be broadcast
    // (map-side probe); a shuffled semi-join would move the full term
    // distribution — the cost the sketch pass exists to avoid
    val bjoins = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bjoins.exists(_.joinType.sql == "LEFT SEMI"), plan.toString)
    assert(collect(plan) { case s: SortMergeJoinExec => s }.isEmpty, plan.toString)
  }

  test("refreshAdditive: changeset partial-aggregates before one full-outer join, no window") {
    val li = GraftSession.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("decimal(12,2)").as("qty"))
    val agg = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("s"), count(lit(1)).as("n"))
    val delta = li.limit(100).withColumn("_op", lit("I"))
    val plan = executed(graft.operators.Maintain.refreshAdditive(
      agg, delta, Seq("l_partkey"), sums = Seq("s" -> col("qty")), countCol = "n"))
    // the delta exchange must carry one partial-aggregated row per touched
    // group, not one row per change: a partial HashAggregate sits below
    // every shuffle on the delta branch
    val smj = collect(plan) { case j: SortMergeJoinExec => j }
    assert(smj.exists(_.joinType.sql == "FULL OUTER"), plan.toString)
    assert(collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, plan.toString)
  }

  test("refreshGroups: base probed by broadcast semi-join, stale agg by broadcast anti-join") {
    val li = GraftSession.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"))
    val agg = li.groupBy(col("l_partkey"))
      .agg(max(col("l_quantity")).as("hi"), count(lit(1)).as("n"))
    val touched = li.limit(50).select("l_partkey")
    val plan = executed(graft.operators.Maintain.refreshGroups(
      li, agg, touched, Seq("l_partkey"),
      aggs = Seq(max(col("l_quantity")).as("hi"), count(lit(1)).as("n"))))
    // neither big side may shuffle for its probe: both joins broadcast
    val bjoins = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bjoins.exists(_.joinType.sql == "LEFT SEMI"), plan.toString)
    assert(bjoins.exists(_.joinType.sql == "LEFT ANTI"), plan.toString)
    assert(collect(plan) { case s: SortMergeJoinExec => s }.isEmpty, plan.toString)
  }

  test("groupBy partial-aggregates map-side before the exchange") {
    val q = GraftSession.table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    val plan = executed(q)
    val aggs = collect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // partial + final pair around the exchange
    assert(aggs.size >= 2, plan.toString)
    val ex = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(ex.nonEmpty && ex.forall(_.output.length <= 3),
      "exchange carries partial aggregates only")
  }

  test("applyChanges: no rank window, one changes shuffle + one pk join") {
    import spark.implicits._
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    val changes = Seq((1L, "x", "U", 1L), (200L, "y", "I", 1L))
      .toDF("k", "v", "_op", "_seq")
    val plan = executed(graft.operators.Merge.applyChanges(base, changes, Seq("k")))
    assert(collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "last-change-wins must be the max_by aggregate, not a rank window")
    // exchanges: changes agg + the two full-outer join sides at most
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size <= 3, plan.toString)
  }

  test("temperatureMix prunes to the budget map-side (WindowGroupLimit)") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (s"s${i % 3}", i)).toDF("src", "id")
    val plan = executed(graft.operators.Sampling.temperatureMix(
      df, "src", col("id"), budget = 10L, temperature = 2.0))
    val limits = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    // partial (map-side, before the exchange) + final — the constant
    // budget bound must reach the window, or 100 TB rides the shuffle
    assert(limits.size >= 2, plan.toString)
  }

  test("tokenBudgetMix: the running-sum window sorts metadata, never document text") {
    val docs = GraftSession.table(spark, dir, "documents")
    val plan = executed(graft.operators.Sampling.tokenBudgetMix(
      docs, "lang", "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")),
      budgetTokens = 5000L, temperature = 2.0))
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, plan.toString)
    // the cumsum window's input schema must be the (source, id, tokens)
    // projection — if `text` reaches it, the whole corpus body rides the
    // window exchange
    windows.foreach { w =>
      val inCols = w.child.output.map(_.name).toSet
      assert(!inCols.contains("text"), s"document text in window input: $inCols")
    }
    // BOTH joins broadcast (allocation + selected-ids join-back): a sort-
    // merge join anywhere would shuffle the full-width corpus
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size >= 2, plan.toString)
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
  }

  test("banded dedup bucket guard shuffles counts, not rows (no WindowExec)") {
    val docs = GraftSession.table(spark, dir, "documents").limit(200)
    val q = graft.dedup.Dedup.minhash(docs, "doc_id",
      graft.functions.TextFunctions.wordShingles(col("text"), 3), threshold = 0.5)
    val plan = executed(q)
    // the old guard (count(*) over a per-bucket window) routed every row
    // of a hot bucket through one task; the counts+anti-join form must
    // leave NO window in the plan (including the cached banded subtree)
    assert(deepCollect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }.isEmpty, s"bucket guard still plans a window:\n$plan")
    graft.Caches.clear(spark, blocking = true)
  }

  test("ngram postings: collect_list runs only below the df-cut anti-join") {
    import spark.implicits._
    // the cut must actually fire: with no over-bound shingle AQE's empty-
    // relation propagation correctly erases the anti-join at runtime
    val docs = ((0L to 9L).map(i => (i, Seq("common", s"u$i"))) :+
      (10L, Seq("common", "u0"))).toDF("doc_id", "sh")
    val q = graft.dedup.Dedup.ngramJaccard(docs, "doc_id", col("sh"),
      threshold = 0.1, maxShingleFreq = 5)
    val plan = executed(q)
    val collectAggs = deepCollect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.aggregateFunction
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectList]) => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
        if a.aggregateExpressions.exists(_.aggregateFunction
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectList]) => a
    }
    assert(collectAggs.nonEmpty, s"no collect_list aggregate found:\n$plan")
    // every posting-array build (partial and final alike) must sit above
    // the ubiquitous-shingle anti-join, so over-bound shingles never
    // materialize an array
    for (a <- collectAggs)
      assert(deepCollect(a: org.apache.spark.sql.execution.SparkPlan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }.nonEmpty, s"collect_list without an upstream df-cut anti-join:\n$a")
    graft.Caches.clear(spark, blocking = true)
  }

  test("profile computes all columns in one pass over one scan") {
    val orders = GraftSession.table(spark, dir, "orders")
    // exact distincts: Spark's multi-distinct Expand shape — one scan,
    // one distinct-key exchange plus the single-partition gather
    val exact = executed(graft.operators.Profile.profile(
      orders, Seq("o_orderkey", "o_orderstatus")))
    assert(collect(exact) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size === 1, "one scan for the whole profile, not one per metric")
    assert(collect(exact) { case e: ShuffleExchangeExec => e }.size <= 2, exact.toString)
    // HLL distincts: fully partial-aggregatable — the ONLY exchange is the
    // one-partition gather of per-partition partials
    val approx = executed(graft.operators.Profile.profile(
      orders, Seq("o_orderkey", "o_orderstatus"), approxDistinct = true))
    assert(collect(approx) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size === 1)
    assert(collect(approx) { case e: ShuffleExchangeExec => e }.size === 1, approx.toString)
  }

  test("partitioned write: a date filter prunes to the named partition dirs") {
    val out = s"${sys.props("java.io.tmpdir")}/graft_partprune_spec"
    GraftSession.table(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val q = spark.read.parquet(out)
      .filter(col("event_date").isin("2024-01-05", "2024-01-06"))
      .groupBy(col("event_date")).agg(count(lit(1)).as("n"))
    val scan = scans(q).head
    // the filter must land on partitionFilters (directory pruning), not
    // as a post-scan data filter over all 30 day-dirs
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.selectedPartitions.partitionCount === 2,
      s"expected 2 pruned day-dirs, scanned ${scan.selectedPartitions.partitionCount}")
  }

  test("intervalJoin plans as an equi-join, never a nested loop") {
    val ev = GraftSession.table(spark, dir, "events")
    val us = unix_micros(col("ts").cast("timestamp"))
    val hour = 3600L * 1000000L
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), us.as("_ps"), (us + 2 * hour).as("_pe"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), (us - hour).as("_es"), (us + hour).as("_ee"))
    val q = graft.operators.RangeJoin.intervalJoin(p, e, Seq("user_id"),
      "_ps", "_pe", "_es", "_ee", bucketMicros = 2 * hour)
    val plan = executed(q)
    val loops = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(loops.isEmpty, s"interval join fell back to a nested loop:\n$plan")
    assert(collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty ||
      collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
  }

  test("rolling range-frame window: one user-keyed exchange, frame-bounded") {
    val ev = GraftSession.table(spark, dir, "events")
    val dayUs = 86400L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-(dayUs - 1), 0)
    val q = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_24h"))
    val plan = executed(q)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1, plan.toString)
  }

  test("replica diff: dirty-bucket restriction is a broadcast, rows never cross for it") {
    val l = GraftSession.table(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    val r = l.filter(col("o_orderkey") % 10 =!= 7)
    val q = graft.operators.Repair.diff(l, r, Seq("o_orderkey"),
      Seq("o_orderstatus", "o_orderpriority"))
    val plan = executed(q)
    // the dirty-bucket set joins both replica sides as a BROADCAST —
    // a shuffled join here would move every replica row to guard buckets
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size >= 2,
      plan.toString)
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, plan.toString)
  }

  test("fuzzy join: candidate generation joins on hashes, text stays out of the exchange") {
    val q = graft.operators.FuzzyJoin.selfJoinDist1(
      GraftSession.table(spark, dir, "customer"), col("c_custkey"), col("c_name"))
    val plan = executed(q)
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, plan.toString)
    // exchanges of the candidate stage must carry only the (id, hash)
    // pair: no variant STRING (_v) may appear in any exchange, and every
    // exchange carrying the variant hash (_k) must be string-free —
    // c_name crosses an exchange only for the final by-id string fetch
    val exchanges = deepCollect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, plan.toString)
    assert(!exchanges.exists(_.output.exists(_.name == "_v")),
      s"variant STRINGS crossed an exchange:\n$plan")
    val hashExchanges = exchanges.filter(_.output.exists(_.name == "_k"))
    assert(hashExchanges.nonEmpty, s"no candidate-hash exchange found:\n$plan")
    assert(hashExchanges.forall(_.output.forall(a =>
        a.dataType != org.apache.spark.sql.types.StringType)),
      s"a string column rode the candidate-hash exchange:\n$plan")
  }

  test("skyline: the global-sort window sees distinct-x rows only; rows return via broadcast semi-join") {
    val p = GraftSession.table(spark, dir, "part").select(col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("pc"),
      col("p_size").cast("long").as("sz"))
    val plan = executed(graft.operators.Skyline.minimize2(p, col("pc"), col("sz")))
    // exactly one window, and a partial aggregate sits below it — the
    // frontier sort touches one row per DISTINCT x, never the input
    val wins = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size === 1, plan.toString)
    val partialAggsBelow = collect(wins.head) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(partialAggsBelow.nonEmpty, wins.head.toString)
    // original rows come back through a broadcast semi-join of the
    // (small) frontier — the input is never shuffled for it
    val bjoins = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bjoins.exists(_.joinType.sql == "LEFT SEMI"), plan.toString)
    assert(collect(plan) { case s: SortMergeJoinExec => s }.isEmpty, plan.toString)
  }

  test("refreshJoin: the stored view is probed by a broadcast anti-join, never shuffled") {
    val orders = GraftSession.table(spark, dir, "orders")
    val cust = GraftSession.table(spark, dir, "customer")
    def joined(a: DataFrame) = a.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"))
    val view = joined(orders).localCheckpoint() // a stored table stand-in
    val delta = orders.limit(20).withColumn("_op", lit("D"))
    val plan = executed(graft.operators.Maintain.refreshJoin(
      view, delta, Seq("o_orderkey"))(joined))
    val bjoins = deepCollect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bjoins.exists(_.joinType.sql == "LEFT ANTI"), plan.toString)
    // no shuffle may carry the view's payload column — the view is read
    // once, map-side probed, and unioned straight through
    val exchanges = deepCollect(plan) { case e: ShuffleExchangeExec => e }
    assert(!exchanges.exists(_.output.exists(_.name == "c_mktsegment")),
      s"the stored view crossed an exchange:\n$plan")
  }

  test("prefixJaccard: no all-pairs fallback — candidates come from an equi-join, no nested loop") {
    val docs = GraftSession.table(spark, dir, "documents")
      .withColumn("_toks", graft.functions.TextFunctions.tokens(col("text")))
    val plan = executed(graft.operators.SetJoin.prefixJaccard(
      docs, col("doc_id"), col("_toks"), num = 3, den = 5))
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, plan.toString)
    // no window anywhere: candidate generation and verification are
    // joins + aggregates only
    assert(deepCollect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, plan.toString)
    // the verify is the merge-count kernel, not the generic hash-set
    // intersect (which ran three times per candidate pair)
    assert(exprsOf(plan) { case e: org.apache.spark.sql.catalyst.expressions.ArrayIntersect => e }
      .isEmpty, plan.toString)
    // at most one pass in the join condition, one in the projection
    val kernels = exprsOf(plan) { case e: graft.functions.SortedLongIntersectSize => e }
    assert(kernels.nonEmpty && kernels.size <= 2, plan.toString)
    graft.Caches.clear(spark, blocking = true)
  }

  test("minhash banding: one band_hashes pass, no interpreted transform/concat_ws lambda") {
    val docs = GraftSession.table(spark, dir, "documents")
      .withColumn("_toks", graft.functions.TextFunctions.tokens(col("text")))
    val shingles = graft.functions.TextFunctions.shinglesOf(col("_toks"), 3)
    val q = graft.dedup.Dedup.minhash(docs, "doc_id", shingles, threshold = 0.5)
    q.collect() // this query's own run: its scans' row counts are read below
    val plan = q.queryExecution.executedPlan
    assert(exprsOf(plan) {
      case e: org.apache.spark.sql.catalyst.expressions.ArrayTransform => e
      case e: org.apache.spark.sql.catalyst.expressions.ConcatWs => e
    }.isEmpty, plan.toString)
    assert(exprsOf(plan) { case e: graft.functions.BandHashes => e }.nonEmpty, plan.toString)
    // the candidate self-join reads only the rows of multi-member buckets:
    // both scans feeding it output exactly the rows of the buckets with
    // 2 to maxBucket members, counted here from the band index
    val bucketSizes = graft.dedup.Dedup.minhashIndex(docs, "doc_id", shingles)
      .groupBy("_band", "_bucket").count().select("count").collect().map(_.getLong(0))
    val multi = bucketSizes.filter(n => n >= 2 && n <= 10000).sum
    assert(multi > 0 && multi < bucketSizes.sum, s"$multi of ${bucketSizes.sum}")
    val candJoins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "_band")) => j
    }
    assert(candJoins.size == 1, plan.toString)
    val inputRows = candJoins.head.children.flatMap(side => collect(side) {
      case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        t.metrics("numOutputRows").value
    })
    assert(inputRows.size == 2 && inputRows.forall(_ == multi),
      s"candidate join inputs $inputRows, multi-member rows $multi:\n$plan")
    graft.Caches.clear(spark, blocking = true)
  }

  test("winsorize: thresholds broadcast back; the cumulative window sees counts, not rows") {
    val docs = GraftSession.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val plan = executed(graft.operators.Quantiles.winsorize(
      docs, "lang", col("n_chars"), "w", 1, 10, 9, 10))
    // the clip join is a broadcast — corpus rows never shuffle for it
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      plan.toString)
    // every window operates over the aggregated counts frame (its input
    // carries the count column), never over row-level data
    val windows = deepCollect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, plan.toString)
    assert(windows.forall(_.child.output.exists(_.name == "_c")), plan.toString)
  }

  test("kAnonymize: counts-only partial aggregation + semi-join, no row-level window") {
    val docs = GraftSession.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
    val plan = executed(graft.operators.Privacy.kAnonymize(
      docs, Seq("lang", "source"), k = 10L))
    assert(deepCollect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, plan.toString)
    val partialAggs = collect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(partialAggs.nonEmpty, plan.toString)
    assert(collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }.nonEmpty, plan.toString)
  }

  test("hardNegatives: corpus side never shuffles before scoring; top-k is group-limited") {
    val emb = GraftSession.table(spark, dir, "embeddings")
    val plan = executed(graft.similarity.Ann.hardNegatives(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", "label",
      "vec_id", "embedding", "label", k = 3))
    // the query set broadcasts into a nested-loop scoring pass — the
    // corpus path must reach it scan-direct, with no exchange
    val bnl = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.nonEmpty, plan.toString)
    assert(collect(bnl.head) { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString)
    // rank <= k is pushed into a per-partition group-limit prune, so the
    // rank exchange carries at most |Q|·k·partitions candidate rows
    assert(collect(plan) {
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }.nonEmpty, plan.toString)
  }

  test("hll_rollup shape: shard sketches partial-aggregate; no distinct value set crosses") {
    val docs = GraftSession.table(spark, dir, "documents")
    val plan = executed(docs
      .groupBy(col("source"), pmod(col("doc_id"), lit(8)).as("_shard"))
      .agg(hll_sketch_agg(col("text")).as("_sk"))
      .groupBy(col("source"))
      .agg(hll_sketch_estimate(hll_union_agg(col("_sk"))).as("est")))
    val partialAggs = collect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    // both levels partial-aggregate map-side: text collapses into a
    // sketch BEFORE the first exchange, sketches merge before the second
    assert(partialAggs.size >= 2, plan.toString)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(!exchanges.exists(_.output.exists(_.name == "text")), plan.toString)
  }

  test("dpp: a runtime dim filter prunes the partitioned fact scan dynamically") {
    val out = s"${sys.props("java.io.tmpdir")}/graft_dpp_spec"
    GraftSession.table(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val dim = GraftSession.table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("event_date")).distinct()
      .orderBy(col("event_date")).limit(3)
    val q = spark.read.parquet(out).join(dim, "event_date")
      .agg(count(lit(1)).as("n"))
    // materialize THROUGH q's own queryExecution: count() builds a fresh
    // plan whose metrics stay zero on the instance inspected here
    q.collect()
    val scan = collect(q.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.find(_.relation.partitionSchema.nonEmpty).get
    // the partition filter must be the RUNTIME subquery, not a literal —
    // and after execution the scan must have read only the dim's 3 dirs
    assert(scan.partitionFilters.exists(
      _.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]).isDefined),
      scan.partitionFilters.toString)
    // fixture-regeneration-proof: the dim may hold fewer than 3 dates on
    // a tiny or reshaped fixture — the pin is "exactly the dim's dates",
    // not the constant 3
    val dimDates = dim.count()
    val partitionsRead = scan.metrics("numPartitions").value
    assert(partitionsRead === dimDates, s"read $partitionsRead of $dimDates")
    assert(partitionsRead < spark.read.parquet(out)
      .select("event_date").distinct().count(),
      "dim filter did not prune anything — fixture has no date spread")
  }

  test("bucketed point lookup prunes to one bucket's files") {
    import graft.sinks.Bucketed
    Bucketed.write(GraftSession.table(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus"),
      "plan_spec_bprune", bucketBy = Seq("o_orderkey"), nBuckets = 8,
      sortBy = Seq("o_orderkey"))
    val q = Bucketed.read(spark, "plan_spec_bprune")
      .filter(col("o_orderkey") === 7L)
    q.collect()
    val scan = collect(q.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    // the equality filter selects exactly ONE of the 8 hash buckets — at
    // scale a key lookup on a bucketed table reads 1/N of the files
    val selected = scan.optionalBucketSet.map(_.cardinality())
    assert(selected === Some(1), s"bucket pruning did not engage: $selected")
  }

  test("self-join of an aggregate reuses one scan and one exchange") {
    val o = GraftSession.table(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val q = o.as("a").join(o.as("b"), "o_custkey")
      .agg(sum(expr("a.n * b.n")))
    q.collect()
    val plan = q.queryExecution.executedPlan
    // ReuseExchange must fire: the common aggregate subtree scans and
    // shuffles ONCE — at 100 TB a silently-duplicated subtree doubles
    // the dominant cost of every self-referential analysis
    assert(collect(plan) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }.nonEmpty, s"no exchange reuse in a self-join:\n$plan")
    assert(collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size === 1, s"self-join re-scanned the source:\n$plan")
  }

  test("global top-k plans as TakeOrderedAndProject, never a full sort") {
    val q = GraftSession.table(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))
    val plan = executed(q)
    // per-partition bounded heads merged on the driver — a 100 TB top-10
    // costs one scan, zero exchanges of data rows
    assert(collect(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, plan.toString)
    assert(collect(plan) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, s"global sort for a bounded top-k:\n$plan")
  }

  test("AQE skew join: a pathological key splits instead of serializing one task") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // one key holds ~90% of the left side; thresholds lowered so the
    // local fixture crosses them the way a real skewed fact table would
    val left = spark.range(0, 200000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        concat(lit("payload_"), col("id")).as("p"))
    val right = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    val pins = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    withConfs(pins) {
      val q = left.join(right, "k").agg(count(lit(1)), max(length(col("p"))))
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val smj = collect(plan) { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, plan.toString)
      assert(smj.exists(_.isSkewJoin),
        s"skew join did not fire — the hot key serializes one task:\n$plan")
    }
  }

  test("zscore: group moments partial-aggregate before the exchange; no window") {
    val docs = GraftSession.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val plan = executed(graft.operators.Outliers.zscore(
      docs, Seq("lang"), col("n_chars"), 2, 1))
    assert(collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, plan.toString)
    val partialAggs = collect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(partialAggs.nonEmpty, plan.toString)
  }

  test("entity linkage: blocked equi-joins only — no cartesian product") {
    val master = GraftSession.table(spark, dir, "customer")
    val dirty = master.select(col("c_custkey").as("d_id"),
      col("c_name").as("d_name"), col("c_nationkey").as("d_nationkey"))
    val q = graft.operators.EntityLink.bestLinks(master, dirty, "c_custkey", "d_id",
      blockKeys = Seq((substring(col("c_name"), 1, 17), substring(col("d_name"), 1, 17))),
      score = when(col("c_nationkey") === col("d_nationkey"), 60).otherwise(0),
      threshold = 50)
    val plan = executed(q)
    assert(deepCollect(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }.isEmpty, s"all-pairs join in a BLOCKED linkage:\n$plan")
  }

  test("linear-model scoring: weights broadcast; the corpus is never the build side") {
    import spark.implicits._
    val docs = GraftSession.table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val weights = Seq(("data", 10L), ("table", -5L)).toDF("term", "weight_fp")
    val plan = executed(graft.operators.LinearModel.score(
      docs, "doc_id", col("toks"), weights))
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"weight table did not broadcast:\n$plan")
  }

  test("interval merge: both windows and the island aggregate share ONE exchange") {
    // the two windows use the same (key, order) spec and the final
    // groupBy on (key, _island) is satisfied by the key hash partitioning
    // (same key => same partition), so the whole operator is one shuffle
    val ev = GraftSession.table(spark, dir, "events")
    val iv = ev.select(col("user_id"),
      graft.GraftSession.eventTimeMicros(ev, "ts").as("s"),
      (graft.GraftSession.eventTimeMicros(ev, "ts") + 60000000L).as("e"))
    val plan = executed(
      graft.operators.Intervals.merge(iv, Seq("user_id"), "s", "e"))
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1,
      plan.toString)
  }

  test("maxConcurrency: running sum, peak window and final agg share ONE exchange") {
    // the unbounded per-key peak max needs only clustering on the keys,
    // which the sorted running-sum output already provides — the old
    // groupBy + join-back shape paid a second shuffle for the same answer
    val ev = GraftSession.table(spark, dir, "events")
    val iv = ev.select(col("user_id"),
      graft.GraftSession.eventTimeMicros(ev, "ts").as("s"),
      (graft.GraftSession.eventTimeMicros(ev, "ts") + 60000000L).as("e"))
    val plan = executed(
      graft.operators.Intervals.maxConcurrency(iv, Seq("user_id"), "s", "e"))
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1,
      plan.toString)
  }

  test("spatial grid join is an equi-join on cells, never a nested loop") {
    import spark.implicits._
    val l = (1L to 500L).map(i => (i, i % 100L, i % 97L)).toDF("lid", "lx", "ly")
    val r = (1L to 500L).map(i => (i, i % 101L, i % 89L)).toDF("rid", "rx", "ry")
    val plan = executed(graft.operators.Spatial.chebyshevJoin(
      l, col("lx"), col("ly"), r, col("rx"), col("ry"), 8L))
    val loops = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(loops.isEmpty, s"grid join fell back to a nested loop:\n$plan")
  }

  test("count-min point queries probe a BROADCAST of the sketch") {
    val li = GraftSession.table(spark, dir, "lineitem")
    val sketch = graft.operators.Frequency.countMinBuild(
      li, col("l_partkey"), depth = 4, width = 1024)
    val keys = GraftSession.table(spark, dir, "part")
      .select(col("p_partkey"))
    val plan = executed(graft.operators.Frequency.countMinQuery(
      sketch, keys, col("p_partkey"), depth = 4, width = 1024))
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"sketch did not broadcast:\n$plan")
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty,
      s"sketch probe sort-merged:\n$plan")
  }

  test("rocAuc and giniIndex windows run over counts, never raw rows") {
    // the equidepth discipline: the WindowExec input must be the
    // per-distinct-value aggregate, so raw rows are never rank-sorted
    val orders = GraftSession.table(spark, dir, "orders")
    for (q <- Seq(
        graft.operators.Stats.rocAuc(orders,
          (col("o_totalprice") * 100).cast("long"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L)),
        graft.operators.Stats.giniIndex(orders, Seq("o_orderpriority"),
          (col("o_totalprice") * 100).cast("long")))) {
      val plan = executed(q)
      val windows = collect(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, plan.toString)
      windows.foreach { w =>
        val aggBelow = collect(w.child) {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        }
        assert(aggBelow.nonEmpty,
          s"window consumes raw rows (no aggregate below):\n$plan")
      }
    }
  }

  test("collocations top-k is a TakeOrdered, never a global sort") {
    val docs = GraftSession.table(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
    val q = graft.operators.Collocations.pmiTopK(docs, col("toks"), 5, 20)
    q.collect()
    val plan = q.queryExecution.executedPlan
    assert(deepCollect(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, plan.toString)
    assert(deepCollect(plan) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, s"global sort where TakeOrdered suffices:\n$plan")
  }
}
