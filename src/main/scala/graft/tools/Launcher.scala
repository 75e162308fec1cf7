package graft.tools

/** Batch launcher — the engine's `spark-execute` contract (reference:
  * bootstrap/src/main/java/com/asakusafw/spark/bootstrap/SparkBootstrap
  * .java:37-120, Context.java:44-71), re-expressed Spark-first: instead
  * of spawning a generated launcher class per jobflow, every flow is a
  * named entry in [[graft.SparkEntry.queries]] and the launcher drives
  * one session built from the profile, [[graft.GraftSession.builder]]
  * (the reference's `Launcher` → `SparkClient` path). Invoked by
  * `bin/graft-submit`; also runnable via
  * `sbt "runMain graft.tools.Launcher ..."`.
  *
  * {{{
  * graft-submit --query q1_agg[,q2...]      # flows to run ("entry" = flagship)
  *              [--sf-dir /root/testdata/sf0.001]
  *              [--out /tmp/out]            # write each result as parquet
  *              [--batch-id id] [--flow-id id] [--execution-id id]
  *              [--batch-arguments k=v,k=v] # exported as spark conf graft.arg.k
  *              [--master local[*]]
  * }}}
  *
  * Exit code 0 iff every flow ran; a failed flow is reported by name and
  * the launcher exits 1 after attempting the rest (the multi-flow batch
  * semantics of the reference's yaess phase graph, minus the DSL).
  */
object Launcher {

  private case class Conf(
      queries: Seq[String] = Seq("entry"),
      sfDir: String = "/root/testdata/sf0.001",
      out: Option[String] = None,
      batchId: String = "graft",
      flowId: String = "",
      executionId: String = java.util.UUID.randomUUID().toString,
      batchArguments: Map[String, String] = Map.empty,
      master: String = "local[*]")

  private def parse(args: List[String], c: Conf): Conf = args match {
    case Nil => c
    case "--query" :: v :: rest => parse(rest, c.copy(queries = v.split(",").toSeq))
    case "--sf-dir" :: v :: rest => parse(rest, c.copy(sfDir = v))
    case "--out" :: v :: rest => parse(rest, c.copy(out = Some(v)))
    case "--batch-id" :: v :: rest => parse(rest, c.copy(batchId = v))
    case "--flow-id" :: v :: rest => parse(rest, c.copy(flowId = v))
    case "--execution-id" :: v :: rest => parse(rest, c.copy(executionId = v))
    case "--batch-arguments" :: v :: rest =>
      val kvs = v.split(",").filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, x) => k -> x
          case Array(k) => k -> ""
        }
      }.toMap
      parse(rest, c.copy(batchArguments = c.batchArguments ++ kvs))
    case "--master" :: v :: rest => parse(rest, c.copy(master = v))
    case other :: _ =>
      throw new IllegalArgumentException(s"graft-submit: unknown argument '$other'")
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--list")) {
      println("entry")
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val c = parse(args.toList, Conf())
    val builder = graft.GraftSession.builder(c.master,
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32").toInt)
      .appName(s"graft:${c.batchId}:${c.flowId}:${c.executionId}")
      .config("spark.ui.enabled", sys.env.getOrElse("SPARK_GRAFT_UI", "false"))
    // batch arguments surface to operators as spark conf, the Spark-form
    // of the reference's ${var} batch-argument substitution
    c.batchArguments.foreach { case (k, v) => builder.config(s"graft.arg.$k", v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    var failed = List.empty[String]
    c.queries.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val df =
          if (name == "entry") graft.SparkEntry.entry(spark)
          else graft.SparkEntry.queries.getOrElse(name,
            throw new IllegalArgumentException(
              s"unknown flow '$name' — known: entry, ${graft.SparkEntry.queries.keys.toSeq.sorted.take(8).mkString(", ")}, ... (${graft.SparkEntry.queries.size} total)"))(
            spark, c.sfDir)
        val n = c.out match {
          case Some(dir) =>
            df.write.mode("overwrite").parquet(s"$dir/$name")
            spark.read.parquet(s"$dir/$name").count()
          case None => df.count()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[graft-submit] $name%-28s rows=$n%-10d ${dt}%6.2fs OK")
      } catch {
        case e: Throwable =>
          failed ::= name
          System.err.println(s"[graft-submit] $name FAILED: ${e.getMessage}")
      } finally graft.Caches.clear(spark, blocking = true)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[graft-submit] failed flows: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
