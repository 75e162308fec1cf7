package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}

class MaterializedViewSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"
  private val mvPath = s"${sys.props("java.io.tmpdir")}/graft_mv_spec"

  private def agg(): DataFrame =
    GraftSession.table(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))

  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] = {
    df.count()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  }

  private def readsMv(df: DataFrame): Boolean =
    scansOf(df).exists(_.relation.location.rootPaths.exists(_.toString.contains("graft_mv_spec")))

  test("an identical rebuilt query is served from the view, results unchanged") {
    val direct = agg().orderBy("o_orderpriority").collect()
    MaterializedViews.register(spark, "spec_mv", agg(), mvPath)
    try {
      val q = agg() // rebuilt independently — different exprIds, same plan
      assert(readsMv(q), q.queryExecution.executedPlan.toString)
      assert(q.orderBy("o_orderpriority").collect() === direct)
    } finally MaterializedViews.deregister("spec_mv")
  }

  test("a non-identical query (extra filter) is NOT rewritten") {
    MaterializedViews.register(spark, "spec_mv", agg(), mvPath)
    try {
      val q = GraftSession.table(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
      assert(!readsMv(q), q.queryExecution.executedPlan.toString)
    } finally MaterializedViews.deregister("spec_mv")
  }

  test("self-join substitutes BOTH sides without attribute collisions") {
    MaterializedViews.register(spark, "spec_mv", agg(), mvPath)
    try {
      // both sides must stay plan-identical to the definition — a
      // narrowing select would be column-pruned into a DIFFERENT
      // aggregate, which exact-match (correctly) declines to rewrite
      val j = agg().join(agg(), Seq("o_orderpriority"))
      assert(scansOf(j).count(
        _.relation.location.rootPaths.exists(_.toString.contains("graft_mv_spec"))) === 2,
        j.queryExecution.executedPlan.toString)
      assert(j.count() === agg().count())
    } finally MaterializedViews.deregister("spec_mv")
  }

  test("a pruning projection over the view definition is not rewritten (documented exact-match)") {
    MaterializedViews.register(spark, "spec_mv", agg(), mvPath)
    try {
      val q = agg().select(col("o_orderpriority"), col("n"))
      assert(!readsMv(q), q.queryExecution.executedPlan.toString)
      assert(q.count() === 5L)
    } finally MaterializedViews.deregister("spec_mv")
  }

  test("re-registration refreshes from base (no self-read of the stale view)") {
    try {
      // three cycles at ONE path: each refresh recomputes the definition
      // from the base table while the registry still holds the previous
      // entry — a rewrite firing during registration would read the view
      // dir being overwritten (FILE_NOT_EXIST) or freeze stale contents
      for (_ <- 1 to 3) {
        MaterializedViews.register(spark, "spec_mv", agg(), mvPath)
        val q = agg()
        assert(readsMv(q))
        assert(q.count() === 5L)
      }
    } finally MaterializedViews.deregister("spec_mv")
  }

  test("deregistered views stop rewriting") {
    MaterializedViews.register(spark, "spec_mv", agg(), mvPath)
    MaterializedViews.deregister("spec_mv")
    assert(!readsMv(agg()))
  }
}
