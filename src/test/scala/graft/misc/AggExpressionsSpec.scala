package graft.misc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.AggExpressions

class AggExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("bounded_topk: k largest per group, sorted descending, duplicates kept") {
    val df = Seq(("a", 5L), ("a", 1L), ("a", 9L), ("a", 9L), ("a", 7L),
      ("b", 2L)).toDF("g", "v")
    val out = df.groupBy("g").agg(AggExpressions.topkAgg(col("v"), 3).as("t"))
      .as[(String, Seq[Long])].collect().toMap
    assert(out("a") === Seq(9L, 9L, 7L))
    assert(out("b") === Seq(2L)) // fewer than k values: all of them
  }

  test("bounded_topk: nulls ignored; all-null group yields empty array") {
    val df = Seq(("a", Some(3L)), ("a", None), ("b", None)).toDF("g", "v")
    val out = df.groupBy("g").agg(AggExpressions.topkAgg(col("v"), 2).as("t"))
      .as[(String, Seq[Long])].collect().toMap
    assert(out("a") === Seq(3L))
    assert(out("b") === Seq.empty)
  }

  test("bounded_topk: merge across partitions equals single-partition result") {
    val vals = (1L to 1000L).map(v => ("g", v))
    val many = vals.toDF("g", "v").repartition(16)
    val one = vals.toDF("g", "v").coalesce(1)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(AggExpressions.topkAgg(col("v"), 7).as("t"))
        .as[(String, Seq[Long])].head()._2
    assert(top(many) === top(one))
    assert(top(many) === (1000L to 994L by -1))
  }

  test("bounded_topk is registered as a SQL function") {
    Seq(("x", 1L), ("x", 8L), ("x", 5L)).toDF("g", "v")
      .createOrReplaceTempView("btk_in")
    val out = spark.sql("SELECT bounded_topk(v, 2) AS t FROM btk_in GROUP BY g")
      .as[Seq[Long]].head()
    assert(out === Seq(8L, 5L))
  }

  test("bounded_topk partial-aggregates map-side (no window, no row sort)") {
    val df = (1L to 100L).map(v => (v % 4, v)).toDF("g", "v").repartition(8)
    val q = df.groupBy("g").agg(AggExpressions.topkAgg(col("v"), 3).as("t"))
    q.count()
    val plan = q.queryExecution.executedPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case other => other }
    val flat = unwrap(plan).collect { case n => n }
    assert(flat.exists {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
      case _ => false
    }, plan.toString)
    assert(!flat.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      plan.toString)
  }

  test("bounded_topk_pair: arg-top-k under (score desc, id asc), ties broken by id") {
    val df = Seq(("a", 9L, 30L), ("a", 9L, 10L), ("a", 9L, 20L), ("a", 7L, 1L),
      ("b", 1L, 5L)).toDF("g", "s", "i")
    val out = df.groupBy("g")
      .agg(AggExpressions.topkPairAgg(col("s"), col("i"), 2).as("t"))
      .as[(String, Seq[(Long, Long)])].collect().toMap
    // score-9 triple: ids 10 and 20 survive (id asc preferred), 30 evicted
    assert(out("a") === Seq((9L, 10L), (9L, 20L)))
    assert(out("b") === Seq((1L, 5L)))
  }

  test("bounded_topk_pair: merge across partitions equals single-partition result") {
    val vals = (1L to 500L).map(v => ("g", v % 50, v)) // many score ties
    def top(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g")
        .agg(AggExpressions.topkPairAgg(col("s"), col("i"), 9).as("t"))
        .as[(String, Seq[(Long, Long)])].head()._2
    assert(top(vals.toDF("g", "s", "i").repartition(16)) ===
      top(vals.toDF("g", "s", "i").coalesce(1)))
  }

  test("bounded_topk: invalid k and non-long input fail fast") {
    intercept[IllegalArgumentException](
      graft.functions.BoundedTopK(
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 0))
    val df = Seq(("a", "s")).toDF("g", "v")
    val e = intercept[Exception](
      df.groupBy("g").agg(AggExpressions.topkAgg(col("v"), 2)).collect())
    assert(e.getMessage.toLowerCase.contains("bounded_topk"))
  }
}
