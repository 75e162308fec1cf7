package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The session profile ([[GraftSession.builder]]): every session made
  * from it carries the graft functions and rules before any query runs,
  * no query changes a later query's plan, and no other file configures a
  * session.
  */
class SessionProfileSpec extends SparkSpec {

  private def top1Frame(s: SparkSession): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(col("k")).orderBy(col("s").asc)
    Seq((1, 5, "e"), (1, 2, "b"), (2, 9, "z")).toDF("k", "s", "v")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("k", "s", "v")
  }

  test("a fresh session resolves graft functions and applies graft rules before any query") {
    val s = spark.newSession()
    assert(s.sql("SELECT token_count('a b')").head().getAs[Any](0).toString === "2")
    val plan = top1Frame(s).queryExecution.optimizedPlan.toString
    assert(plan.contains("_graft_top1"), plan)
  }

  test("running the rule- and function-using flows leaves another frame's plan unchanged") {
    val s = spark.newSession()
    val before = top1Frame(s).queryExecution.optimizedPlan.canonicalized
    for (q <- Seq("top1_per_group", "mv_rewrite", "sql_text_pipeline"))
      SparkEntry.queries(q)(s, templateDir).count()
    Caches.clear(s, blocking = true)
    val after = top1Frame(s).queryExecution.optimizedPlan.canonicalized
    assert(after == before, s"before:\n$before\nafter:\n$after")
  }

  test("only GraftSession configures a session builder, with allowlisted keys elsewhere") {
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = Seq("src/main/scala", "perfbench/src").flatMap(p => scalaFiles(new File(repoRoot, p)))
      .filterNot(_.getName == "GraftSession.scala")
    assert(files.size > 50, s"source scan found only ${files.size} files under $repoRoot")
    val allowed = Set("\"spark.local.dir\"", "\"spark.ui.enabled\"")
    val configKey = """\.config\(\s*(s?"[^"]*"|[^,)]*)""".r
    val violations = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val rel = repoRoot.toPath.relativize(f.toPath)
      val builders =
        if (src.contains("SparkSession.builder(")) Seq(s"$rel calls SparkSession.builder(") else Nil
      val keys = configKey.findAllMatchIn(src).map(_.group(1).trim)
        .filterNot(k => allowed(k) || k.startsWith("s\"graft.arg."))
        .map(k => s"$rel passes a builder key $k")
      // per-query session pins are a second configuration path: a flow
      // runs in a harness exactly as graft-submit runs it (the character
      // class keeps this guard itself out of a plain grep for the name)
      val pins =
        if ("conf[P]ins".r.findFirstIn(src).isDefined) Seq(s"$rel mentions the per-query pin map")
        else Nil
      // a harness or a query that pins confs on its session changes what
      // a concurrently running sibling flow plans with
      val sessionConfs =
        if ((Set("Bench.scala", "Verify.scala")(f.getName) ||
              rel.toString.startsWith("src/main/scala/graft/queries/")) &&
            src.contains("withConfs("))
          Seq(s"$rel calls withConfs(") else Nil
      builders ++ keys ++ pins ++ sessionConfs
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }
}
