package graft

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number, udf}

/** The session profile ([[GraftSession.builder]]): every session made
  * from it carries the graft functions and rules before any query runs,
  * no query changes a later query's plan, no other file configures a
  * session, and no flow writes the confs of a session its siblings share.
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
      builders ++ keys ++ pins
    }
    // a flow that sets confs on its caller's session changes what a
    // concurrently running sibling flow plans with: extra confs go
    // through GraftSession.pinned's clone. The allowed writes are
    // pinned's own, the drain's one start pin and the probe mains' own
    // sessions.
    val confWrites = Map("graft/GraftSession.scala" -> 1, "graft/streaming/StreamOps.scala" -> 1,
      "graft/tools/StageDump.scala" -> Int.MaxValue, "graft/tools/Scale10.scala" -> Int.MaxValue,
      "graft/tools/Explain.scala" -> Int.MaxValue)
    val main = new File(repoRoot, "src/main/scala")
    val writes = scalaFiles(main).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val rel = main.toPath.relativize(f.toPath).toString
      val sets = if (rel.startsWith("graft/")) """\.conf\.set\(""".r.findAllMatchIn(src).size else 0
      (if (src.contains("withConfs(")) Seq(s"$rel calls withConfs(") else Nil) ++
        (if (sets > confWrites.getOrElse(rel, 0)) Seq(s"$rel calls .conf.set( $sets times") else Nil)
    }
    assert(violations.isEmpty && writes.isEmpty, (violations ++ writes).mkString("\n"))
  }

  test("a rebalancedWrite and a drain held mid-flight leave the caller's confs at the profile's values") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.sql.shuffle.partitions")
    val profile = keys.map(spark.conf.get)
    val dir = java.nio.file.Files.createTempDirectory("graft_held_").toFile
    spark.range(0, 100, 1, 1).write.parquet(s"$dir/in")
    val (write, drain) = (new Held("write"), new Held("drain"))
    val flows = Seq(
      write -> (() => graft.sinks.Sized.rebalancedWrite(
        spark.range(0, 100, 1, 1).select(write(col("id"))), s"$dir/out", 1L << 10)),
      drain -> (() => streaming.StreamOps.drainToBatch(
        streaming.StreamOps.parquetStream(spark, s"$dir/in").select(drain(col("id"))),
        outputMode = "append").count()))
    val (running, seen) =
      try {
        val running = flows.map { case (held, flow) =>
          val f = Future(flow())
          assert(held.entered.await(60, SECONDS), s"${held.tag} never reached its held frame")
          f
        }
        // both flows are now inside their frames: read what a sibling sees
        (running, keys.map(spark.conf.get))
      } finally flows.foreach(_._1.release())
    running.foreach(Await.result(_, 2.minutes))
    assert(seen === profile, s"a sibling saw ${keys.zip(seen)} mid-flight")
    Caches.clear(spark, blocking = true)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}

/** A gate a task thread blocks on, so a test can hold a flow inside the
  * frame it consumes (local mode: tasks run in the test JVM, so the
  * latches are shared).
  */
final class Held(val tag: String) {
  Held.gates.put(tag, (new CountDownLatch(1), new CountDownLatch(1)))

  def entered: CountDownLatch = Held.gates.get(tag)._1
  def release(): Unit = Held.gates.get(tag)._2.countDown()

  /** `c` passed through once the gate is released. */
  def apply(c: Column): Column = {
    val t = tag
    udf { (x: Long) =>
      val (in, out) = Held.gates.get(t)
      in.countDown()
      out.await(60, TimeUnit.SECONDS)
      x
    }.asNondeterministic()(c)
  }
}

object Held {
  private val gates = new ConcurrentHashMap[String, (CountDownLatch, CountDownLatch)]()
}
