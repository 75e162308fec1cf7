package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** [[StreamOps.quotaStream]]: per-key first-k emission is event-time
  * ordered, watermark-final, and the buffer is capped at the remaining
  * quota. The watermark DELAY is what admits out-of-order arrivals (an
  * event older than the watermark is dropped as late by the operator —
  * which is exactly why a finalized rank can never change); the fixture
  * runs with a 500 s delay and arrivals that cross batch boundaries out
  * of event-time order.
  */
class QuotaParitySpec extends SparkSpec {
  import spark.implicits._

  test("quotaStream: event-time order across batches, quota cap, open tail held") {
    withConfs(rocksDbStateStore) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Long, Long)] // (user, sec, event_id)
      val stream = StreamOps.quotaStream(
        input.toDS().toDF("user_id", "sec", "event_id")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id", k = 3,
        watermarkDelay = "500 seconds")
      val q = stream.toDF().writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("tws_quota")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        // batch 1; afterwards watermark = 1500 - 500 = 1000 s
        input.addData((1L, 1300L, 13L), (1L, 1100L, 11L), (2L, 1500L, 25L))
        q.processAllAvailable()
        // 1200 arrives AFTER 1300 in arrival order but BEFORE it in event
        // time, and beats the 1000 s watermark thanks to the delay — rank
        // must follow event time, not arrival. 2000 is the 4th-ranked open
        // event for user 1: beyond the remaining quota, buffer drops it.
        input.addData((1L, 1200L, 12L), (1L, 2000L, 14L))
        q.processAllAvailable()
        // watermark advances to 9000 - 500 = 8500 s: user 1 finalizes
        // 1100/1200/1300 (quota reached — 2000 must NOT emit), user 2
        // finalizes 1500; both flush via timers, no new records of their own
        input.addData((9L, 9000L, 99L))
        q.processAllAvailable()
        val got = spark.table("tws_quota")
          .as[(Long, Long, Long)].collect().toSeq.sorted
        val S = 1000000L
        assert(got === Seq(
          (1L, 1100L * S, 11L),
          (1L, 1200L * S, 12L),
          (1L, 1300L * S, 13L),
          (2L, 1500L * S, 25L)))
        // a 4th user-1 event beyond the quota never emits even once final
        input.addData((1L, 3000L, 15L), (9L, 20000L, 100L))
        q.processAllAvailable()
        val after = spark.table("tws_quota").as[(Long, Long, Long)]
          .collect().toSeq.filter(_._1 == 1L)
        assert(after.size === 3, after.toString)
      } finally q.stop()
    }
  }

  test("quotaStream: equal timestamps break ties by event id") {
    withConfs(rocksDbStateStore) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Long, Long)]
      val stream = StreamOps.quotaStream(
        input.toDS().toDF("user_id", "sec", "event_id")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id", k = 2)
      val q = stream.toDF().writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("tws_quota_ties")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        // three events at the SAME second — ids 30, 10, 20 in arrival
        // order; quota 2 must keep ids 10 and 20 (smallest ids), not the
        // first two arrivals
        input.addData((1L, 1000L, 30L), (1L, 1000L, 10L), (1L, 1000L, 20L))
        q.processAllAvailable()
        input.addData((9L, 9000L, 99L)) // advance watermark to finalize
        q.processAllAvailable()
        val got = spark.table("tws_quota_ties")
          .as[(Long, Long, Long)].collect().toSeq.filter(_._1 == 1L).map(_._3).sorted
        assert(got === Seq(10L, 20L), got.toString)
      } finally q.stop()
    }
  }
}
