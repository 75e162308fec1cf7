package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Stream-floor attribution probe: runs a named stream query N times in
  * one JVM and, per run, splits wall time into (construct = wiring up to
  * the drain call, drain = the StreamingQuery start→AvailableNow→stop
  * cycle, post = memory-sink detach + count) and counts janino compiles
  * per phase — the decomposition STREAM_FLOOR.md's next round asked for.
  * `runMain graft.tools.StreamProbe <query>[,<query>] [sfDir] [runs]`.
  *
  * Works by timestamping around [[graft.streaming.StreamOps.drainToBatch]]
  * via a listener-free trick: the drain is synchronous, so the query
  * function's own wall time minus the drain window is construct+post; the
  * drain window is read from the StreamingQuery progress events captured
  * by a QueryListener registered for the probe's lifetime.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("stream_window").split(",").toSeq
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val shm = new java.io.File("/dev/shm")
    val scratch = if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_local"
      else sys.props("java.io.tmpdir")
    val spark = graft.GraftSession.builder("local[32]", 32)
      .config("spark.local.dir", scratch)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-batch progress: batchId, durationMs breakdown from the stream's
    // own instrumentation (triggerExecution = whole batch incl. planning)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var queryWindow: (Long, Long) = (0L, 0L) // nanos of first start / last stop
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        if (queryWindow._1 == 0L) queryWindow = (System.nanoTime(), queryWindow._2)
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(s"batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        queryWindow = (queryWindow._1, System.nanoTime())
    })

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to runs).foreach { r =>
        batches.clear()
        queryWindow = (0L, 0L)
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val tBuilt = System.nanoTime() // query fn returned = drain DONE for streams
        val rows = df.count()
        val tDone = System.nanoTime()
        // listener events are async; give them a beat
        Thread.sleep(300)
        val (ws, we) = queryWindow
        val preDrain = if (ws > 0) (ws - t0) / 1e9 else -1.0
        val drain = if (ws > 0 && we > ws) (we - ws) / 1e9 else -1.0
        val post = if (we > 0) (tBuilt - we) / 1e9 else -1.0
        println(f"[sprobe] $n run=$r total=${(tDone - t0) / 1e9}%6.2fs " +
          f"construct=$preDrain%6.2fs drain=$drain%6.2fs post=$post%6.2fs " +
          f"count=${(tDone - tBuilt) / 1e9}%5.2fs rows=$rows " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
        batches.forEach(b => println(s"[sprobe]   $b"))
        graft.Caches.clear(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
    }
    spark.stop()
  }
}
