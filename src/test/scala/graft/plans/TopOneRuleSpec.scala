package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopOneRuleSpec extends SparkSpec {
  import spark.implicits._

  private def top1(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy($"k").orderBy($"s".asc, $"v".asc)
    df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).select("k", "s", "v")
  }

  test("rewrites row_number=1 into min_by aggregate with identical results") {
    val df = Seq((1, 5, "e"), (1, 2, "b"), (1, 2, "a"), (2, 9, "z"), (3, 1, "q"))
      .toDF("k", "s", "v")

    // baseline without the rule
    val expected = withConfs(
        Map("spark.sql.optimizer.excludedRules" -> TopOneWindowToAggregate.ruleName)) {
      assert(top1(df).queryExecution.optimizedPlan.toString.contains("Window"))
      top1(df).collect().toSet
    }

    val optimized = top1(df)
    val planStr = optimized.queryExecution.optimizedPlan.toString
    // the Window node must be gone; Spark's WindowGroupLimit (a map-side
    // top-1 prune) may remain below the aggregate — that combination is
    // exactly what we want
    assert(!planStr.contains("Window ["), s"window survived:\n$planStr")
    assert(planStr.contains("min_by") || planStr.contains("MinBy"), planStr)
    assert(optimized.collect().toSet === expected)
    // tie on (k=1, s=2): min_by(struct) picks ("a") — the row_number answer
    assert(optimized.filter($"k" === 1).select("v").as[String].collect().toSeq === Seq("a"))
  }

  test("rule leaves desc orders and rank() untouched") {
    val df = Seq((1, 5), (1, 2)).toDF("k", "s")
    val wDesc = Window.partitionBy($"k").orderBy($"s".desc)
    val descPlan = df.withColumn("rn", row_number().over(wDesc)).filter($"rn" === 1)
      .queryExecution.optimizedPlan.toString
    assert(descPlan.contains("Window"))
    val wRank = Window.partitionBy($"k").orderBy($"s".asc)
    val rankPlan = df.withColumn("rn", rank().over(wRank)).filter($"rn" === 1)
      .queryExecution.optimizedPlan.toString
    assert(rankPlan.contains("Window"))
  }
}
