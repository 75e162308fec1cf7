package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  test("a deliberate unkeyed all-pairs join trips the gate") {
    val a = spark.range(2000).toDF("x")
    val b = spark.range(2000).toDF("y")
    // inequality-only condition + no broadcastable side → cartesian
    val (gate, _) = withConfs(
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      PlanLint.lint(a.join(b, col("x") < col("y")))
    }
    assert(gate.values.sum > 0, gate.toString)
  }

  test("a LARGE broadcast theta-join trips the gate") {
    val corpus = spark.range(2000).toDF("x")
    val big = spark.range(50000).toDF("q")
    val (gate, _) = PlanLint.lint(
      corpus.join(broadcast(big), col("x") < col("q"), "inner"))
    assert(gate.getOrElse("thetaBnlj", 0) === 1, gate.toString)
  }

  test("a broadcast-1-row statistics crossJoin does NOT trip the gate") {
    val big = spark.range(1000).toDF("x")
    val stats = big.agg(count(lit(1)).as("n"))
    val (gate, _) = PlanLint.lint(big.crossJoin(broadcast(stats)))
    assert(gate.values.sum === 0, gate.toString)
  }

  test("a bounded broadcast theta-join (the ANN shape) does NOT trip the gate") {
    val corpus = spark.range(2000).toDF("x")
    val queries = spark.range(10).toDF("q")
    val (gate, _) = PlanLint.lint(
      corpus.join(broadcast(queries), col("x") % 100 === col("q"), "inner")
        .hint("broadcast"))
    assert(gate.values.sum === 0, gate.toString)
  }

  test("a global window is info, not a gate failure") {
    val df = spark.range(100).toDF("x")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("x"))))
    val (gate, info) = PlanLint.lint(df)
    assert(gate.values.sum === 0)
    assert(info.getOrElse("globalWindow", 0) === 1, info.toString)
  }
}
