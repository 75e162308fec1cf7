package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session bootstrap for the graft engine: [[GraftSession.builder]] is
  * its one session profile, and [[GraftSession.pinned]] is the one route
  * for work that needs confs the profile lacks.
  *
  * The reference engine forces Kryo and broadcasts the Hadoop conf at
  * startup (reference: runtime/src/main/scala/com/asakusafw/spark/runtime/
  * SparkClient.scala:105-152); with Dataset/Tungsten encoders neither is
  * needed.
  */
object GraftSession {

  /** The session profile. Every entry point builds its session here:
    * Bench, Verify, the launcher, the probe mains, the benchmark harness
    * and the test fixture. A caller adds only its master and shuffle
    * partition count (the two parameters), `spark.local.dir`,
    * `spark.ui.enabled`, an app name and the launcher's `graft.arg.*`
    * batch arguments; `SessionProfileSpec` guards that. On a real cluster
    * the same profile applies with the cluster's master.
    *
    *  - `spark.sql.shuffle.partitions`: the core count instead of Spark's
    *    default 200. On a cluster, executor cores × executors; AQE
    *    coalesces the excess at runtime.
    *  - AQE with partition coalescing and skew-join splitting: runtime
    *    sizing in place of the reference's plan-time TINY/SMALL/LARGE/HUGE
    *    partition scaling (compiler/.../util/NumPartitions.scala:31-71).
    *    The advisory partition size stays at Spark's default.
    *  - `spark.sql.session.timeZone=UTC`: oracle parity; event-time casts
    *    in [[normalizeTs]] rely on the pinned zone.
    *  - `spark.sql.legacy.parquet.nanosAsLong`: fixture `events.parquet`
    *    has been written as TIMESTAMP(NANOS), which Spark has no type for;
    *    it is read as a long and converted in [[normalizeTs]].
    *  - `spark.sql.codegen.cache.maxEntries=10000` (static conf, default
    *    100): one pass over the query set generates several hundred
    *    distinct codegen units, so at 100 the LRU cycles and every rerun
    *    of every query pays full janino recompilation — measured as
    *    multi-second medians on the largest fused plans (flagship_volume,
    *    salted_join) despite optimal physical plans. A long-lived driver
    *    serving a query mix needs the same headroom.
    *  - `spark.sql.codegen.useIdInClassName=false`: identical generated
    *    code must hit the codegen cache even when AQE renumbers stages
    *    between plans and reruns. With the stage ID in the class name the
    *    cache keys on the ID too, and multi-stage plans re-paid ~30 janino
    *    compiles per execution (measured on the incremental dedups).
    *  - `spark.sql.artifact.isolation.enabled=false` (static conf): Spark
    *    4's per-session artifact isolation keys the janino compile cache
    *    on the session's classloader identity (CodeGenerator.compile:
    *    (HashableWeakReference(contextClassLoader), body)). Every
    *    StreamingQuery start clones the session, so each stream (re)start
    *    gets a fresh classloader and re-pays a full janino compile of
    *    every codegen unit run on the stream thread, although the
    *    generated bodies are byte-identical — measured as 13-30 compiles
    *    (~0.5-1.2 s) per rerun on every stream_* query (stream_window
    *    compilesRuns [23,13,13] → [23,0,0] with this off; a diff of the
    *    compile cache's keys across reruns showed the 13 recompiled keys
    *    differing only in the classloader weak-ref). This engine
    *    never calls addArtifact, so isolation is inert here and disabling
    *    it is semantics-identical; a deployment that adds session JARs
    *    should turn it back on and pay the restart recompiles.
    *  - `spark.sql.warehouse.dir` under the temp dir, `spark.ui.enabled`
    *    off: no stray `spark-warehouse/` in the working directory, no UI
    *    server per run.
    *  - `spark.hadoop.fs.file.impl` and
    *    `spark.hadoop.fs.AbstractFileSystem.file.impl`: local file I/O never
    *    forks. Without Hadoop's native library (absent from the Spark
    *    distribution) the stock local file system starts a `chmod` process
    *    per file created and per directory made, and a `readlink` process
    *    per `FileContext` rename: 1,737 processes in one `commit_upsert`
    *    perfbench run, 1,030 in `batch_mix`. [[ForkFreeLocalFileSystem]]
    *    and [[ForkFreeLocalFs]] (the `FileContext` route of the streaming
    *    checkpoint and state store files) set the same permission bits
    *    and return the same statuses without a child process.
    *  - [[GraftExtensions]], installed at build: the graft SQL functions
    *    and optimizer rules are part of every session made from this
    *    builder, including `newSession()` and the clones streaming queries
    *    run on, so no query switches them on and a flow's plan does not
    *    depend on which flows ran before it. One query can turn a rule
    *    off with `spark.sql.optimizer.excludedRules` (e.g.
    *    `graft.plans.TopOneWindowToAggregate`).
    */
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .withExtensions(new GraftExtensions)

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Normalize an event-time column to Spark's session-zoned
    * microsecond TimestampType regardless of how the parquet writer
    * encoded it:
    *   - TIMESTAMP(NANOS) read as long under `nanosAsLong` → integer
    *     division to micros (float division would lose precision above
    *     2^53 ns);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) read as
    *     TIMESTAMP_NTZ → cast (the session time zone is pinned to UTC
    *     everywhere, so the instant is unchanged and deterministic);
    *   - already TimestampType → untouched.
    * Fixture generators have used both physical encodings across rounds;
    * every graft read path funnels through this so a re-encoded input
    * never changes query semantics.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  /** Event-time column as epoch microseconds, accepting only TIMESTAMP /
    * TIMESTAMP_NTZ. A LongType column is REJECTED rather than cast:
    * `cast(long as timestamp)` reinterprets the value as epoch SECONDS,
    * which would turn a nanos-as-long fixture column into silently
    * absurd timestamps — route raw reads through [[normalizeTs]] first.
    */
  private[graft] def eventTimeMicros(df: DataFrame, colName: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(TimestampType) => unix_micros(col(colName))
      case Some(TimestampNTZType) => unix_micros(col(colName).cast(TimestampType))
      case t => throw new IllegalArgumentException(
        s"event-time column '$colName' has type ${t.map(_.simpleString).getOrElse("<absent>")}: " +
          "use timestamp/timestamp_ntz (normalize raw long encodings via GraftSession.normalizeTs)")
    }
  }

  /** [[normalizeTs]] for operator inputs: TIMESTAMP passes through,
    * TIMESTAMP_NTZ is cast under the pinned UTC zone, and anything else —
    * including LongType — is REJECTED (same reasoning as
    * [[eventTimeMicros]]: a long reinterpreted as epoch seconds is a
    * silent corruption, not a conversion).
    */
  private[graft] def normalizeTsStrict(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(TimestampType) => df
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case t => throw new IllegalArgumentException(
        s"event-time column '$colName' has type ${t.map(_.simpleString).getOrElse("<absent>")}: " +
          "use timestamp/timestamp_ntz (normalize raw long encodings via GraftSession.normalizeTs)")
    }
  }

  /** A short-lived clone of `spark` with `pins` set on it: the one route
    * for work that needs confs the profile lacks. The clone keeps the
    * caller's runtime confs, temp views and `QueryExecutionListener`s, so
    * listeners on the caller still see the work, and the caller's confs
    * are never written, so a flow running concurrently on `spark` plans
    * as before. Each call clones afresh: a cached clone would hold a stale
    * copy of the caller's confs.
    */
  def pinned(spark: SparkSession, pins: Map[String, String]): SparkSession = {
    val clone = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    pins.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** Load one of the fixture tables from a scale-factor directory, with
    * the `ts` column normalized via [[normalizeTs]].
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** `table` + round-robin repartition to the session's parallelism.
    *
    * The fixture files are single-row-group parquet → the scan is ONE task
    * and any CPU-heavy per-row work (sketches, typed lambdas) would run on
    * one core. On a real corpus (many files / row groups) the scan
    * parallelizes by itself and this explicit shuffle is unnecessary — use
    * plain `table` there; use this for compute-bound paths over
    * small-file inputs.
    *
    * Filters reach the scan stage through this shuffle (a round-robin
    * repartition does not stop predicate pushdown), and so does every
    * expression a pushed filter computes. Spark's InferFiltersFromGenerate
    * adds `size(arr) > 0` below a non-outer `explode(arr)`: with `arr`
    * a `tokens(text)` column, that filter tokenizes every document again
    * in the ONE scan task, on one core: measured 0.7–0.85 s per scan of
    * the pseudo-sf1 documents, twice per `SetJoin.prefixJaccard` run,
    * against 0.13 s for the scan stage of `explode_outer` + `isNotNull`,
    * which infers nothing (`tools/stage_timeline.sh heavy_sf1 1`, 4
    * cores). Keep per-row work out of filters over a spread table.
    */
  def tableSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    table(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)
}
