package graft.props

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalacheck.Gen

import graft.SparkSpec
import graft.streaming.StreamOps

/** Property fuzz over the STREAMING state seams (round-11 ask): the
  * chaos specs pin hand-picked scenarios; these generators drive
  * RANDOMIZED event streams with RANDOMIZED micro-batch splits through
  * the stateful operators and compare against driver-side references
  * that simulate watermark semantics exactly. The seams this reaches
  * that fixtures cannot: late data landing any distance behind the
  * watermark, identical event times colliding on one key's timer, state
  * expiry raced against re-arrival, and batch boundaries falling at
  * every position of the stream.
  *
  * Reference semantics encoded below (validated against the engine by
  * the fuzz itself — a divergence fails with the shrunken stream):
  * - watermark (delay 0) after batch i = max event time over batches
  *   0..i, starting at epoch 0; rows with ts <= watermark-at-batch-start
  *   are dropped as late;
  * - sessionizeStream breaks only when the gap is strictly EXCEEDED
  *   (batch parity rule);
  * - dropDuplicatesWithinWatermark emits a key's first survivor and
  *   drops re-arrivals while the key's state lives; state expires once
  *   the watermark passes first-seen-time + delay.
  */
class StreamPropertiesSpec extends SparkSpec {
  import spark.implicits._
  import Props.samples

  private val S = 1000000L // seconds → micros

  /** Split `xs` into `cuts.size + 1` ordered micro-batches. */
  private def splitBatches[A](xs: List[A], cuts: List[Int]): List[List[A]] = {
    val sorted = cuts.map(c => math.abs(c) % (xs.size + 1)).sorted.distinct
    val bounds = (0 +: sorted :+ xs.size).distinct.sorted
    bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
  }

  private def withRocksDb[A](body: => A): A = withConfs(rocksDbStateStore)(body)

  // streams: (user 1..3, seconds 1..60) with heavy time collisions —
  // identical times within a user (one timer instant, several events)
  // and across users (timer collisions across keys in one batch)
  private val eventsGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1L, 3L), Gen.choose(1L, 60L)))
  private val cutsGen: Gen[List[Int]] = Gen.listOfN(3, Gen.choose(0, 1000))

  test("sessionizeStream: randomized streams + batch splits match the watermark-simulated batch reference") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      for (((events, cuts), gap) <- samples(
          Gen.zip(Gen.zip(eventsGen, cutsGen), Gen.choose(3L, 15L)), 6, seed = 311L)) {
        val batches = splitBatches(events, cuts)
        val input = MemoryStream[(Long, Long)]
        val stream = StreamOps.sessionizeStream(
          input.toDS().toDF("user_id", "sec")
            .withColumn("ts", timestamp_seconds(col("sec"))),
          keyCol = "user_id", tsCol = "ts", gapSeconds = gap)
        val q = stream.toDF().writeStream.outputMode(OutputMode.Append())
          .format("memory").queryName("prop_sessions")
          .trigger(Trigger.ProcessingTime(0)).start()
        val got =
          try {
            batches.foreach { b =>
              if (b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
            }
            // sentinel key far in the future: every real session's timer
            // fires, so the naive reference needs no open-session model
            input.addData((999L, 1000000L))
            q.processAllAvailable()
            spark.table("prop_sessions").as[(Long, Long, Long, Long)]
              .collect().toSeq.filter(_._1 != 999L).sorted
          } finally q.stop()

        // driver-side watermark simulation: batch i's rows filter
        // against the watermark BEFORE the batch; the watermark then
        // advances to the batch max (delay 0) — late rows can't raise it
        var wm = 0L
        val kept = List.newBuilder[(Long, Long)]
        batches.foreach { b =>
          b.foreach { case (u, sec) => if (sec * S > wm) kept += ((u, sec * S)) }
          if (b.nonEmpty) wm = math.max(wm, b.map(_._2 * S).max)
        }
        val naive = kept.result().groupBy(_._1).toSeq.flatMap { case (u, evs) =>
          val ts = evs.map(_._2).sorted
          val sessions = ts.tail.foldLeft(List((ts.head, ts.head, 1L))) {
            case ((s, e, n) :: rest, t) =>
              if (t - e > gap * S) (t, t, 1L) :: (s, e, n) :: rest
              else (s, t, n + 1) :: rest
            case (Nil, t) => List((t, t, 1L))
          }
          sessions.map { case (s, e, n) => (u, s, e, n) }
        }.sorted
        assert(got === naive, s"batches=$batches gap=$gap")
      }
    }
  }

  test("dedupStream (dropDuplicatesWithinWatermark): expiry/re-arrival matches the state-simulated reference") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one distinct (key, time) per key per batch (the engine's pick
    // among same-key rows in one batch is partition-order-dependent;
    // collapsing the batch to one candidate per key keeps the reference
    // deterministic while still fuzzing every cross-batch seam)
    val batchGen: Gen[List[(Long, Long, Int)]] = for {
      ks <- Gen.someOf(1L to 3L)
      rows <- Gen.sequence[List[(Long, Long, Int)], (Long, Long, Int)](
        ks.toList.map(k => Gen.zip(Gen.const(k), Gen.choose(1L, 60L),
          Gen.choose(1, 3)).map { case (a, b, c) => (a, b, c) }))
    } yield rows
    val delaySec = 10L
    for (batches <- samples(Gen.listOfN(4, batchGen), 10, seed = 313L)) {
      val input = MemoryStream[(Long, Long)]
      val stream = StreamOps.dedupStream(
        input.toDS().toDF("k", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        tsCol = "ts", watermark = s"$delaySec seconds", keys = Seq("k"))
        .select(col("k"), col("sec"))
      val q = stream.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("prop_dedup")
        .trigger(Trigger.ProcessingTime(0)).start()
      val got =
        try {
          batches.foreach { b =>
            val rows = b.flatMap { case (k, sec, dup) => List.fill(dup)((k, sec)) }
            if (rows.nonEmpty) { input.addData(rows: _*); q.processAllAvailable() }
          }
          spark.table("prop_dedup").as[(Long, Long)].collect().toSeq.sorted
        } finally q.stop()

      // reference (engine-calibrated by this fuzz): state key →
      // expiresAt = first-seen + delay; duplicates while the state lives
      // are dropped WITHOUT extending it; state evicts at end of batch
      // once the watermark passes STRICTLY beyond expiresAt (equality
      // still dedups). The late filter is on the row's own WOULD-BE
      // EXPIRY, not its event time: a row with ts + delay still ahead of
      // the watermark is processed even when ts itself is far behind it
      // (the operator's contract is dedup-within-delay, not event-time
      // completeness), and dropped only once ts + delay falls behind
      var wm = 0L
      var state = Map.empty[Long, Long]
      val emitted = List.newBuilder[(Long, Long)]
      batches.foreach { b =>
        b.foreach { case (k, sec, _) =>
          val us = sec * S
          if (us + delaySec * S > wm && !state.contains(k)) {
            emitted += ((k, sec))
            state += k -> (us + delaySec * S)
          }
        }
        val usAll = b.map(_._2 * S)
        if (usAll.nonEmpty) wm = math.max(wm, usAll.max)
        state = state.filter { case (_, exp) => exp >= wm }
      }
      assert(got === emitted.result().sorted, s"batches=$batches")
    }
  }

  test("scd2 stream-static enrichment is batch-split invariant (matches the naive interval lookup)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dimGen: Gen[List[(Long, Long)]] = // (user, version second)
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 3L), Gen.choose(1L, 50L)))
    for (((dims, clicks), cuts) <- samples(
        Gen.zip(Gen.zip(dimGen, eventsGen), cutsGen), 6, seed = 317L)) {
      // SCD2 dim from the batch operator, exactly as stream_scd2_enrich
      // builds it (unique event_id tie-breaks equal version times)
      val purchases = dims.zipWithIndex
        .map { case ((u, sec), i) => (u, i.toLong, sec * S) }
        .toDF("user_id", "event_id", "_tus")
      val dim = graft.operators.Merge.scd2History(purchases, Seq("user_id"),
          "_tus", tieBreak = Seq("event_id"))
        .select(col("user_id").as("d_user"), col("event_id").as("version_id"),
          col("valid_from"), col("valid_to"))
      val input = MemoryStream[(Long, Long)]
      val stream = input.toDS().toDF("user_id", "sec")
        .select(col("user_id"), (col("sec") * S).as("_tus"))
        .join(broadcast(dim),
          col("user_id") === col("d_user") && col("_tus") >= col("valid_from") &&
            (col("valid_to").isNull || col("_tus") < col("valid_to")))
        .groupBy(col("version_id")).agg(count(lit(1)).as("n_clicks"))
      val q = stream.writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName("prop_scd2")
        .trigger(Trigger.ProcessingTime(0)).start()
      val got =
        try {
          splitBatches(clicks, cuts).foreach { b =>
            if (b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
          }
          spark.table("prop_scd2").as[(Long, Long)].collect().toSeq.sorted
        } finally q.stop()

      // naive: each click counts toward the version valid at its time —
      // the LAST version with valid_from <= t (versions tie-break by
      // event_id: the scd2 timeline keeps the later (time, id) version
      // open, earlier same-time versions get empty intervals)
      val versions = dims.zipWithIndex
        .map { case ((u, sec), i) => (u, sec * S, i.toLong) }
        .groupBy(_._1).view.mapValues { vs =>
          val sorted = vs.map { case (_, t, id) => (t, id) }.sorted
          sorted.zip(sorted.map(_._1).tail :+ Long.MaxValue)
            .map { case ((t, id), next) => (t, next, id) } // [t, next) → id
        }.toMap
      val naive = (for {
        (u, sec) <- clicks
        t = sec * S
        vs <- versions.get(u).toList
        (vf, vt, id) <- vs
        if t >= vf && t < vt
      } yield id).groupBy(identity).map { case (id, g) => (id, g.size.toLong) }
        .toSeq.sorted
      assert(got === naive, s"dims=$dims clicks=$clicks cuts=$cuts")
    }
  }
}
