package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Compile-churn attribution by diffing the codegen compile CACHE's keys
  * across reruns of a query: the cache is keyed on the RAW generated body
  * (CodeAndComment), so a rerun that re-pays janino compiles must be
  * inserting keys whose bodies differ from every earlier run's — this
  * tool runs a query N times, snapshots the key set after each run, and
  * writes each run's NEW bodies to a dump dir so the varying material can
  * be diffed directly (the formatted TRACE dumps are comment-substituted
  * and measured run-invariant, so they cannot show it — STREAM_FLOOR.md).
  * `runMain graft.tools.CodegenCacheDiff <query> [sfDir] [runs] [dumpDir]`.
  */
object CodegenCacheDiff {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("stream_window")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val dump = args.drop(3).headOption.getOrElse("/tmp/cgcache_diff")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // CodeGenerator.cache is private; reach it reflectively (probe-only
    // tool, never on a query path)
    val cgClass = Class.forName(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val cgModule = cgClass.getField("MODULE$").get(null)
    val cacheField = cgClass.getDeclaredFields
      .find(_.getName.contains("cache")).getOrElse(sys.error("no cache field"))
    cacheField.setAccessible(true)
    // Spark 4 wraps a SHADED guava cache (org.sparkproject.guava) in
    // NonFateSharingLoadingCache — no shared cache interface is on our
    // classpath, so walk it fully reflectively: unwrap via loadingCache(),
    // then asMap() (a java.util.concurrent.ConcurrentMap).
    val cacheHolder = cacheField.get(cgModule)
    val guavaCache =
      try cacheHolder.getClass.getMethod("loadingCache").invoke(cacheHolder)
      catch { case _: NoSuchMethodException => cacheHolder }
    val asMap = guavaCache.getClass.getMethod("asMap")
    asMap.setAccessible(true)
    def keyBodies(): Map[Int, String] = {
      import scala.jdk.CollectionConverters._
      val m = asMap.invoke(guavaCache)
        .asInstanceOf[java.util.concurrent.ConcurrentMap[AnyRef, AnyRef]]
      def render(o: AnyRef): String = o match {
        case t: scala.Tuple2[_, _] =>
          s"/* KEY._1 = */\n${render(t._1.asInstanceOf[AnyRef])}\n" +
            s"/* KEY._2 = */\n${render(t._2.asInstanceOf[AnyRef])}"
        case o =>
          try o.getClass.getMethod("body").invoke(o).asInstanceOf[String]
          catch { case _: NoSuchMethodException => String.valueOf(o) }
      }
      m.keySet().asScala.map(k => (System.identityHashCode(k), render(k))).toMap
    }

    val d = new java.io.File(dump); d.mkdirs()
    var seen = Map.empty[Int, String]
    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val now = keyBodies()
      val newKeys = now.keySet -- seen.keySet
      println(f"[cgdiff] $name run=$r t=$dt%5.2fs " +
        s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} " +
        s"newCacheKeys=${newKeys.size}")
      newKeys.toSeq.sortBy(identity).zipWithIndex.foreach { case (k, i) =>
        java.nio.file.Files.write(
          new java.io.File(d, f"run${r}_key$i%03d.java").toPath,
          now(k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      seen = seen ++ now
      graft.Caches.clear(spark, blocking = true)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
