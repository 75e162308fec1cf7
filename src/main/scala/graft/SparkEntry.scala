package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession.table
import graft.operators.{Joins, Records}
import Records._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2
  * (core algebra in [[graft.queries.CoreQueries]], LLM-data-pipeline
  * operators in [[graft.queries.NorthStarQueries]]); `oracleSql` the
  * matching DuckDB SQL for the driver's differential check.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7 slice): scan lineitem → master-join to
    * orders → branch on order status → summarize revenue per priority.
    * Exercises scan, join, branch, aggregation and decimal arithmetic in
    * one plan. Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = table(spark, dir, "lineitem")
    val orders = table(spark, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    val joined = Joins.masterJoin(
      tx = li, master = orders, keys = Seq("l_orderkey"),
      output = Seq(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("o_orderstatus"), col("o_orderpriority")), uniqueMaster = true).found
    joined
      .branch(when(col("o_orderstatus") === "F", "closed").otherwise("open")).port("closed")
      .update("revenue" -> (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(12, 2)))))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("revenue")).cast(DecimalType(18, 4)).as("sum_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** The query modules, in ONE place: [[queries]] and [[oracleSql]]
    * merge these, and ContractSpec audits cross-module duplicate names
    * from the SAME list — a module added here is automatically under the
    * duplicate/bijection guards; a module added anywhere else won't
    * compile into the driver surface at all.
    */
  val queryModules: Seq[Seq[(String, (SparkSession, String) => DataFrame)]] = Seq(
    graft.queries.CoreQueries.queries, graft.queries.NorthStarQueries.queries,
    graft.queries.PipelineQueries.queries, graft.queries.FlagshipQueries.queries,
    graft.queries.RelationalQueries.queries, graft.queries.CurationQueries.queries,
    graft.queries.AnalyticsQueries.queries)

  val oracleModules: Seq[Seq[(String, String)]] = Seq(
    graft.queries.CoreQueries.oracles, graft.queries.NorthStarQueries.oracles,
    graft.queries.PipelineQueries.oracles, graft.queries.FlagshipQueries.oracles,
    graft.queries.RelationalQueries.oracles, graft.queries.CurationQueries.oracles,
    graft.queries.AnalyticsQueries.oracles)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryModules.flatten.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] = oracleModules.flatten.toMap

  /** Index-SERVING queries (documented contract: "probe an EXISTING
    * index"): their centroids + cell index are write-once per (dir,
    * session) via the query modules' memo/persistedIndex discipline, so
    * within one bench session run 1 used to pay the one-off training +
    * index write while runs 2+ hit the memo — a timed region that
    * differed across runs of the same query. Bench executes these once
    * UNTIMED at startup (the same place its JIT/parquet warm-up lives) so
    * every timed run measures the identical serving-only region. Index-BUILD queries
    * (`ann_ivf`, `semdedup`, `cluster_prune`, …) are deliberately NOT
    * here: there the build is the measured operator.
    */
  val indexServingSetup: Seq[String] = Seq("stream_ann_topk", "ann_ivf_incremental")

  /** Measured row count of table `t` under `dir`, for a query that picks
    * its plan arm from its input size (`bitext_mine` and
    * `bitext_mine_incremental`). One column-free count() per (dir, table)
    * per JVM, memoized so later runs of the flow read it for free.
    */
  private val rowsMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def tableRows(spark: SparkSession, dir: String, t: String): Long =
    rowsMemo.computeIfAbsent(s"$dir/$t", _ =>
      try spark.read.parquet(s"$dir/$t.parquet").count()
      // unreadable → assume big: never take the small arm unmeasured
      catch { case _: Throwable => Long.MaxValue / 4 })
}
