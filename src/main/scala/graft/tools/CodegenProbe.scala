package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Local perf-attribution helper: runs SparkEntry queries with the
  * codegen logger at DEBUG, counts janino compiles and dumps every
  * generated source to a directory so near-duplicate units can be
  * diffed (`runMain graft.tools.CodegenProbe q1[,q2] [sfDir] [dumpDir]`).
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("dedup_minhash_incremental").split(",").toSeq
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val dump = args.drop(2).headOption.getOrElse("/tmp/codegen_dump")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // dump every generated unit's source via the public comment-free text:
    // hook CodegenMetrics is counts-only, so instead wrap execution with a
    // DEBUG level on the code generator logger and a capturing appender
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Configurator
    val dumpDir = new java.io.File(dump)
    dumpDir.mkdirs()
    var unit = 0
    val appender = new AbstractAppender("codegen-probe", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("generate(Object[] references)")) {
          unit += 1
          val f = new java.io.File(dumpDir, f"unit_$unit%04d.java")
          java.nio.file.Files.write(f.toPath,
            msg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val genLogger = "org.apache.spark.sql.catalyst.expressions.codegen"
    Configurator.setLevel(genLogger, Level.TRACE)
    cfg.getRootLogger.addAppender(appender, Level.TRACE, null)
    ctx.updateLoggers()

    names.foreach { n =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(n)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $n%-28s rows=$rows%-8d t=$dt%6.2fs compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} dumped=$unit -> $dump")
      graft.Caches.clear(spark, blocking = true)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
