package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.TextFunctions

/** Ad-hoc plan/profiling harness: `runMain graft.tools.Explain <query>`
  * prints the formatted plan and stage timings for one SparkEntry query,
  * or runs named micro-profiles.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[time] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    args.headOption match {
      case Some("ngram_profile") =>
        val docs = GraftSession.table(spark, dir, "documents")
          .withColumn("_toks", TextFunctions.tokens(col("text")))
        val sh = TextFunctions.shinglesOf(col("_toks"), 5)
        time("tokens only")(docs.select(size(col("_toks"))).count())
        time("shingles (two-phase)")(docs.select(explode(array_distinct(sh))).count())
        val ex = docs.select(col("doc_id").as("_id"), array_distinct(sh).as("_shs"))
          .withColumn("_n", size(col("_shs")))
          .select(col("_id"), col("_n"), explode(col("_shs")).as("_sh"))
        time("explode count")(ex.count())
        val frequent = ex.groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > 1000).select(col("_sh"))
        val freqOk = ex.join(broadcast(frequent), Seq("_sh"), "left_anti")
        time("anti-join persist")(freqOk.persist().count())
        val a = freqOk.select(col("_sh"), col("_id").as("a"), col("_n").as("na"))
        val b = freqOk.select(col("_sh"), col("_id").as("b"), col("_n").as("nb"))
        val joined = a.join(b, "_sh").filter(col("a") < col("b"))
          .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("common"))
        time("self join + agg")(joined.count())
      case Some("sinks_demo") =>
        // pattern-named grouped transactional output + SQL function surface
        import graft.sinks.{DirectOutput, OutputPattern}
        val out = java.nio.file.Files.createTempDirectory("graft_demo").toString
        DirectOutput.writeGrouped("demo", s"$out/_tx",
          DirectOutput.Spec(GraftSession.table(spark, dir, "orders").repartition(2),
            s"$out/orders", partitionBy = Seq("o_orderstatus")),
          OutputPattern.parse("orders-{o_orderstatus}-{seq:%02d}-{date:yyyyMMdd}.parquet"))
        new java.io.File(s"$out/orders").listFiles().filter(_.isDirectory).foreach { d =>
          println(s"[demo] ${d.getName}: " + d.listFiles().map(_.getName)
            .filter(_.endsWith(".parquet")).sorted.mkString(", "))
        }
        println(s"[demo] read-back rows: " + spark.read.parquet(s"$out/orders").count())
        spark.sql(
          s"""SELECT doc_id, size(word_shingles(split(text, ' '), 5)) AS n_sh,
             |       minhash_signature(word_shingles(split(text, ' '), 5))[0] AS mh0
             |FROM parquet.`$dir/documents.parquet` LIMIT 3""".stripMargin).show(false)
      case Some("codegen_check") =>
        import graft.functions.{HashFunctions, TextFunctions}
        val df = GraftSession.table(spark, dir, "documents")
          .withColumn("_toks", TextFunctions.tokens(col("text")))
          .select(HashFunctions.minhash_signature(TextFunctions.shinglesOf(col("_toks"), 3)).as("sig"),
            HashFunctions.simhash64(col("_toks")).as("sh"))
        val gen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
        println("[codegen] MinHash static call: " + gen.contains("MinHashSignature.compute"))
        println("[codegen] SimHash static call: " + gen.contains("SimHash64.compute"))
        println("[codegen] WordShingles static call: " + gen.contains("WordShingles.compute"))
        println("[codegen] WSCG subtrees: " + gen.linesIterator.take(1).mkString)
        time("run")(df.count())
      case Some("conf_sweep") =>
        // A/B a query under runtime-settable SQL confs:
        //   Explain conf_sweep <query> key=v[,key=v...] — times base vs set
        val q = args(1)
        def run() = { val r = graft.SparkEntry.queries(q)(spark, dir).count()
          graft.Caches.clear(spark); r }
        time(s"$q warmup")(run())
        time(s"$q base")(run())
        for (kv <- args(2).split(",")) {
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v)
          time(s"$q $kv")(run())
          spark.conf.unset(k)
        }
      case Some(q) =>
        val df = graft.SparkEntry.queries(q)(spark, dir)
        df.explain("formatted")
        time(s"run $q")(df.count())
        time(s"run $q again")(df.count())
      case None => println("usage: Explain <queryName>|ngram_profile")
    }
    spark.stop()
  }
}
