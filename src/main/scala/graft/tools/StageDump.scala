package graft.tools

/** One-query stage profile: run a named [[graft.SparkEntry]] query
  * against a data dir with the UI's status store enabled, then print the
  * completed stages sorted by wall time with the columns that localize a
  * scale problem — task count (parallelism), input/shuffle bytes (data
  * movement), executor CPU (work) and spill (memory cliff). This is how
  * the round-11 probe findings were localized (the sig-carrying MinHash
  * exchanges and the bucket-guard cache stampede both showed up as
  * repeated multi-GB stages here).
  *
  * `runMain graft.tools.StageDump <query> <dataDir> [runs]` — stages
  * accumulate across runs; run 2+ to separate cold-cache stages from the
  * steady state.
  */
object StageDump {
  def main(args: Array[String]): Unit = {
    val (q, dir) = (args(0), args(1))
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = {
      val shm = new java.io.File("/dev/shm")
      val scratch = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_local"
        else sys.props("java.io.tmpdir"))
      val s = graft.GraftSession.builder()
        .config("spark.ui.enabled", "true")
        .config("spark.local.dir", scratch)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // same probe sizing as Scale10, so the dump profiles the probe's plan
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, dir).count()
      println(f"[stagedump] run $i: rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      graft.Caches.clear(spark, blocking = true)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    val app = spark.sparkContext.applicationId
    // uiWebUrl, not a hardcoded :4040 — with another Spark UI up this
    // app's UI binds 4041+, and a fixed port would scrape the WRONG
    // application's stages (or fail after the runs completed)
    val ui = spark.sparkContext.uiWebUrl.getOrElse(
      sys.error("Spark UI is not running (spark.ui.enabled was overridden?)"))
    val json = scala.io.Source.fromURL(
      s"$ui/api/v1/applications/$app/stages?status=complete").mkString
    // minimal JSON field scrape (no JSON lib on the runtime classpath):
    // stages arrive as an array of flat-ish objects; pull the fields we
    // print with regexes anchored to their names
    def longs(obj: String, field: String): Long =
      s""""$field"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(obj).map(_.group(1).toLong).getOrElse(0L)
    def str(obj: String, field: String): String =
      s""""$field"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(obj).map(_.group(1)).getOrElse("")
    val objs = json.split("\\{\\s*\"status\"").drop(1).map("{\"status\"" + _)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSzzz")
    def t(s: String): Long =
      try java.time.ZonedDateTime.parse(s, fmt).toInstant.toEpochMilli catch { case _: Throwable => 0L }
    // run_s = executorRunTime (task wall on the executor: CPU + GC
    // pauses + I/O waits); cpu_s = executorCpuTime (pure CPU ns) — the
    // GAP between them is the memory-subsystem story (GC, spill I/O)
    // that raw run time alone can't attribute
    val rows = objs.map { o =>
      val wall = (t(str(o, "completionTime")) - t(str(o, "firstTaskLaunchedTime"))) / 1000.0
      (wall, longs(o, "stageId"), longs(o, "numCompleteTasks"), longs(o, "inputBytes"),
        longs(o, "shuffleReadBytes"), longs(o, "shuffleWriteBytes"),
        longs(o, "executorRunTime"), longs(o, "executorCpuTime"),
        longs(o, "diskBytesSpilled"))
    }.sortBy(-_._1).take(15)
    println(f"[stagedump] ${"stage"}%6s ${"wall_s"}%8s ${"tasks"}%6s ${"in_MB"}%9s ${"shr_MB"}%9s ${"shw_MB"}%9s ${"run_s"}%8s ${"cpu_s"}%8s ${"spill_MB"}%9s")
    rows.foreach { case (w, id, tk, in, sr, sw, run, cpu, sp) =>
      println(f"[stagedump] $id%6d $w%8.1f $tk%6d ${in / 1e6}%9.1f ${sr / 1e6}%9.1f ${sw / 1e6}%9.1f ${run / 1e3}%8.1f ${cpu / 1e9}%8.1f ${sp / 1e6}%9.1f")
    }
    spark.stop()
  }
}
