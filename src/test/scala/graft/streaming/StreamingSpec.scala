package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("statefulAggregate keeps per-key state across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val counts = StreamOps.statefulAggregate(input.toDS())(_._1)((0, 0))(
      (s, v) => (s._1 + 1, s._2 + v._2))(
      (k, s) => (k, s._1, s._2))

    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stateful_test")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 10))
      q.processAllAvailable()
      input.addData(("a", 4)) // state must carry: a -> count 3, sum 7
      q.processAllAvailable()
      val rows = spark.table("stateful_test").as[(String, Int, Int)].collect()
      val lastA = rows.filter(_._1 == "a").maxBy(_._2)
      assert(lastA === ("a", 3, 7))
      assert(rows.filter(_._1 == "b").maxBy(_._2) === ("b", 1, 10))
    } finally q.stop()
  }

  test("directSink commits batches transactionally and skips replayed batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val q = StreamOps.directSink(input.toDS().toDF("v"), s"$dir/out", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      assert(new java.io.File(s"$dir/out/batch=0/_GRAFT_COMMITTED").exists())
      assert(spark.read.parquet(s"$dir/out/batch=0").as[Int].collect().sorted === Seq(1, 2, 3))
      input.addData(4)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=1").as[Int].collect() === Seq(4))
    } finally q.stop()
    // replay batch 1 (same id, e.g. restart before checkpoint advanced):
    // the committed marker short-circuits — output unchanged, no attempt dirs
    val replay = Seq(99).toDF("v")
    val target = s"$dir/out/batch=1"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(target), spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(target, "_GRAFT_COMMITTED")))
    // simulate the sink body for the replayed id
    if (!fs.exists(new org.apache.hadoop.fs.Path(target, "_GRAFT_COMMITTED")))
      graft.sinks.DirectOutput.write("stream-1", s"$dir/out/_tx",
        Seq(graft.sinks.DirectOutput.Spec(replay, target)))
    assert(spark.read.parquet(target).as[Int].collect() === Seq(4))
  }

  test("ingestSink dedups each batch against the persisted index and itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    def sink() = StreamOps.ingestSink(input.toDS().toDF("id", "text"),
      graft.dedup.IngestDedup.exact(Seq("text"), "id"),
      path = s"$dir/out", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    // batch 0: within-batch dup (11 copies 10's text) -> 10, 12 survive
    input.addData((10L, "alpha"), (11L, "alpha"), (12L, "beta"))
    val q = sink()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=0").select("id").as[Long]
        .collect().sorted === Seq(10L, 12L))
      // batch 1: 20 collides with the INDEXED batch-0 text; 21 is new
      input.addData((20L, "beta"), (21L, "gamma"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=1").select("id").as[Long]
        .collect() === Seq(21L))
    } finally q.stop()
    // the index home accumulated one fingerprint per accepted doc, atomically
    // with the data (both targets carry the same committed transactions)
    assert(spark.read.parquet(s"$dir/index").select("_h1").count() === 3)
    val idxDirs = new java.io.File(s"$dir/index").listFiles().filter(_.isDirectory)
    assert(idxDirs.length === 2 &&
      idxDirs.forall(d => new java.io.File(d, "_GRAFT_COMMITTED").exists()))
    // an UNCOMMITTED tx dir (a live/crashed transaction: fingerprints
    // present, no _GRAFT_COMMITTED) must survive compaction untouched —
    // folding would read a partial rename, deleting would destroy the
    // attempt recover() needs and silently re-admit those duplicates
    val liveTx = new java.io.File(s"$dir/index/tx=live-crashed")
    liveTx.mkdirs()
    spark.range(1).selectExpr("id AS _h1", "id AS _h2")
      .write.mode("overwrite").parquet(s"$dir/index/tx=live-crashed/.attempt-live")
    // compaction folds the per-batch tx dirs into one; the fingerprint SET
    // is unchanged
    StreamOps.compactIndex(spark, s"$dir/index")
    assert(liveTx.isDirectory && new java.io.File(liveTx, ".attempt-live").isDirectory,
      "compaction must not touch an uncommitted transaction dir")
    assert(new java.io.File(s"$dir/index").listFiles()
      .count(f => f.isDirectory && !f.getName.startsWith("_")) === 2) // compacted + live
    assert(spark.read.parquet(s"$dir/index").select("_h1").distinct().count() === 3)
    // clean the synthetic live tx so the replay below sees the real index
    def rmAll(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete(); ()
    }
    rmAll(liveTx)
    // restart with a fresh checkpoint: the whole history replays as one new
    // batch and EVERYTHING is dropped against the (compacted) index
    val input2 = MemoryStream[(Long, String)]
    input2.addData((30L, "alpha"), (31L, "gamma"))
    val q2 = StreamOps.ingestSink(input2.toDS().toDF("id", "text"),
      graft.dedup.IngestDedup.exact(Seq("text"), "id"),
      path = s"$dir/out2", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt2", trigger = Trigger.ProcessingTime(0))
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out2/batch=0").count() === 0)
    } finally q2.stop()
  }

  test("ingestSink with the minhash strategy drops NEAR-dups across batches") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.{shinglesOf, tokens}
    val dir = java.nio.file.Files.createTempDirectory("graft_near_ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val doc = "streaming near duplicate ingestion keeps one canonical copy of " +
      "every document family while the corpus grows batch after batch forever"
    val truncated = doc.split(" ").dropRight(2).mkString(" ") // J ~ 0.9
    val other = "completely unrelated short text"
    val input = MemoryStream[(Long, String)]
    input.addData((1L, doc))
    val q = StreamOps.ingestSink(input.toDS().toDF("id", "text"),
      graft.dedup.IngestDedup.minhash(shinglesOf(tokens(col("text")), 3), "id", 0.5),
      path = s"$dir/out", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // batch 1: a truncated NEAR-copy of batch 0's doc (not byte-equal,
      // an exact index would admit it) plus a genuinely new doc
      input.addData((2L, truncated), (3L, other))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=0").select("id").as[Long].collect() === Seq(1L))
      assert(spark.read.parquet(s"$dir/out/batch=1").select("id").as[Long].collect() === Seq(3L))
    } finally q.stop()
  }

  test("ingestSink with the simhash strategy drops Hamming-near docs across batches") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.tokens
    val dir = java.nio.file.Files.createTempDirectory("graft_sh_ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val doc = "the quick brown fox jumps over the lazy dog near the river bank"
    // SimHash over the token BAG is order-insensitive: a reordered doc has
    // Hamming distance 0 while its raw text (exact fingerprint) differs
    val reordered = doc.split(" ").reverse.mkString(" ")
    val other = "entirely different content about distributed query planning"
    val input = MemoryStream[(Long, String)]
    input.addData((1L, doc))
    val q = StreamOps.ingestSink(input.toDS().toDF("id", "text"),
      graft.dedup.IngestDedup.simhash(tokens(col("text")), "id"),
      path = s"$dir/out", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData((2L, reordered), (3L, other))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=0").select("id").as[Long].collect() === Seq(1L))
      assert(spark.read.parquet(s"$dir/out/batch=1").select("id").as[Long].collect() === Seq(3L))
    } finally q.stop()
  }

  test("ingestSink with the decontaminate strategy gates batches on a static benchmark index") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.tokens
    val dir = java.nio.file.Files.createTempDirectory("graft_decont_ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val benchDoc = "what is the capital of france the capital of france is paris"
    val leaky = benchDoc.split(" ").dropRight(2).mkString(" ") // shares 8-grams
    val cleanDoc = "distributed query engines schedule shuffle stages across many executor processes"
    // seed the STATIC benchmark gram index once, before any ingestion
    graft.dedup.Decontaminate.benchGrams(
        Seq(Tuple1(benchDoc)).toDF("text"), tokens(col("text")), n = 8)
      .write.parquet(s"$dir/index/tx=benchmark")
    val input = MemoryStream[(Long, String)]
    input.addData((1L, leaky), (2L, cleanDoc))
    val q = StreamOps.ingestSink(input.toDS().toDF("id", "text"),
      graft.dedup.IngestDedup.decontaminate(tokens(col("text")), "id", n = 8),
      path = s"$dir/out", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=0").select("id").as[Long].collect() === Seq(2L))
      // an identical clean doc is admitted AGAIN in the next batch:
      // decontamination is a static gate, not dedup — indexOf appends
      // nothing, so the index home stays exactly the benchmark grams
      input.addData((3L, cleanDoc))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=1").select("id").as[Long].collect() === Seq(3L))
    } finally q.stop()
  }

  test("ingestSink with the embedding strategy near-dedups and its index compacts") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def vec(f: Int => Double) = (0 until 64).map(i => f(i).toFloat)
    val v1 = vec(i => math.sin(i + 1.0))
    val v2 = vec(i => math.cos(i * 2.0 + 1.0))
    val input = MemoryStream[(Long, Seq[Float])]
    input.addData((1L, v1))
    val q = StreamOps.ingestSink(input.toDS().toDF("id", "v"),
      graft.dedup.IngestDedup.embedding(col("v"), "id", 0.9),
      path = s"$dir/out", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // 2L is a scaled copy of the INDEXED v1 (cosine 1.0); 3L is new
      input.addData((2L, v1.map(_ * 2f)), (3L, v2))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/batch=0").select("id").as[Long].collect() === Seq(1L))
      assert(spark.read.parquet(s"$dir/out/batch=1").select("id").as[Long].collect() === Seq(3L))
    } finally q.stop()
    // compaction is strategy-agnostic: the quantized (_id,_bucket,_q struct)
    // index folds into one tx dir and still near-dedups a fresh replay
    StreamOps.compactIndex(spark, s"$dir/index")
    assert(new java.io.File(s"$dir/index").listFiles()
      .count(f => f.isDirectory && !f.getName.startsWith("_")) === 1)
    val input2 = MemoryStream[(Long, Seq[Float])]
    input2.addData((4L, v2.map(_ * 0.5f))) // scaled copy of accepted 3L
    val q2 = StreamOps.ingestSink(input2.toDS().toDF("id", "v"),
      graft.dedup.IngestDedup.embedding(col("v"), "id", 0.9),
      path = s"$dir/out2", indexHome = s"$dir/index",
      checkpoint = s"$dir/ckpt2", trigger = Trigger.ProcessingTime(0))
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out2/batch=0").count() === 0)
    } finally q2.stop()
  }

  test("upsertSink applies CDC batches copy-on-write and skips replays") {
    import graft.sinks.Upsert
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_sink").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Upsert.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$dir/t", Seq("k"), 2)
    val input = MemoryStream[(Long, String, String, Long)]
    def sink() = StreamOps.upsertSink(input.toDS().toDF("k", "v", "_op", "_seq"),
      s"$dir/t", s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    def state() = Upsert.read(spark, s"$dir/t").as[(Long, String)].collect().toSet
    input.addData((1L, "a2", "U", 1L), (3L, "c", "I", 1L))
    val q = sink()
    try {
      q.processAllAvailable()
      assert(state() === Set((1L, "a2"), (2L, "b"), (3L, "c")))
      input.addData((2L, "", "D", 2L))
      q.processAllAvailable()
      assert(state() === Set((1L, "a2"), (3L, "c")))
    } finally q.stop()
    // restart on the SAME checkpoint: committed batches are not re-applied
    // (their _applied markers short-circuit), state unchanged
    val q2 = sink()
    try { q2.processAllAvailable(); assert(state() === Set((1L, "a2"), (3L, "c"))) }
    finally q2.stop()
  }

  test("csvQuarantineSink routes malformed lines and is idempotent across restarts") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_sq").toString
    spark.createDataset(Seq("1,O,10.00", "2,F", "3,O,notanum", "4,P,7.25"))(
      org.apache.spark.sql.Encoders.STRING).coalesce(1).write.text(s"$dir/feed")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    def run() = {
      val q = StreamOps.csvQuarantineSink(spark, s"$dir/feed", schema,
        s"$dir/valid", s"$dir/quarantine", s"$dir/ckpt")
      q.awaitTermination()
    }
    run()
    def valid() = spark.read.parquet(s"$dir/valid")
      .select("k", "s", "v").as[(Long, String, Double)].collect().toSet
    def quarantined() = spark.read.parquet(s"$dir/quarantine")
      .select("raw_line").as[String].collect().toSet
    assert(valid() === Set((1L, "O", 10.00), (4L, "P", 7.25)))
    assert(quarantined() === Set("2,F", "3,O,notanum"))
    // restart on the same checkpoint: AvailableNow finds nothing new,
    // sinks unchanged — no duplicate batch directories
    run()
    assert(valid() === Set((1L, "O", 10.00), (4L, "P", 7.25)))
    assert(quarantined() === Set("2,F", "3,O,notanum"))
  }

  test("statefulAggregate works on a batch Dataset (single-batch semantics)") {
    val ds = Seq(("x", 1), ("x", 2), ("y", 5)).toDS()
    val out = StreamOps.statefulAggregate(ds)(_._1)(0)((s, v) => s + v._2)((k, s) => (k, s))
      .collect().toSet
    assert(out === Set(("x", 3), ("y", 5)))
  }
}

class ApproxSpec extends SparkSpec {

  test("approx_count_distinct stays within the documented error bound") {
    // the query folds the estimate into the approx_ok bound boolean (the
    // oracle-checkable form); the spec asserts it holds on another SF too
    val df = graft.SparkEntry.queries("approx_distinct")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("exact_parts")) > 0)
      assert(r.getBoolean(r.fieldIndex("approx_ok")), r.toString)
    }
  }

  test("hopping windowedAgg equals the batch sliding-window aggregation") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val raw = graft.GraftSession.normalizeTs(
      StreamOps.parquetStream(spark, s"$dir/events.parquet"))
    val agg = StreamOps.windowedAgg(raw, "ts", "1 hour", "2 hours",
      keys = Seq("event_type"), aggs = Seq(count(lit(1)).as("n")),
      slide = Some("30 minutes"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = asSet(StreamOps.drainToBatch(agg)
      .select(unix_micros(col("window.start").cast("timestamp")).as("w"),
        col("event_type"), col("n")))
    val ev = graft.GraftSession.table(spark, dir, "events")
    val want = asSet(ev
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start").cast("timestamp")).as("w"),
        col("event_type"), col("n")))
    assert(got === want)
    // hopping means overlap: every event lands in exactly 2 windows
    assert(want.toSeq.map(_._3).sum === 2 * ev.count())
  }
}
