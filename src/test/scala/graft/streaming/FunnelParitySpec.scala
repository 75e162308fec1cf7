package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** [[StreamOps.funnelStream]]: watermark-final funnel outcomes equal the
  * batch chained-min semantics ([[graft.operators.Funnel.reach]]) —
  * strictly-after step ordering, conversion window, t0 = earliest step-1
  * event even when it arrives out of order, one emission per key ever.
  */
class FunnelParitySpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000L

  private def withStream(windowSec: Long, delay: String)(
      body: (MemoryStream[(Long, Long, String)],
             org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = withConfs(rocksDbStateStore) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // (user, sec, type)
    val stream = StreamOps.funnelStream(
      input.toDS().toDF("user_id", "sec", "t")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      keyCol = "user_id", tsCol = "ts",
      steps = Seq(col("t") === "a", col("t") === "b", col("t") === "c"),
      windowUs = windowSec * S, watermarkDelay = delay)
    val q = stream.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("tws_funnel")
      .trigger(Trigger.ProcessingTime(0)).start()
    try body(input, q)
    finally q.stop()
  }

  test("funnelStream: out-of-order t0, strict ordering, window bound, finality") {
    withStream(windowSec = 1000L, delay = "500 seconds") { (input, q) =>
      // batch 1: step-2/3 events arrive BEFORE their users' step-1 events
      input.addData((1L, 300L, "b"), (2L, 100L, "b"), (3L, 100L, "a"))
      q.processAllAvailable()
      assert(spark.table("tws_funnel").count() === 0L) // nothing final yet
      // batch 2: the out-of-order step-1 anchors (admitted by the delay),
      // user 1's conversion, user 3's out-of-window purchase. The
      // watermark then reaches 1500 s, so every window below closes and
      // the timers fire in the follow-up micro-batch — no sentinel needed
      input.addData((1L, 100L, "a"), (1L, 500L, "c"),
        (2L, 200L, "a"), (3L, 2000L, "c"))
      q.processAllAvailable()
      val got = spark.table("tws_funnel")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got === Seq(
        (1L, 3, 100L * S),   // a@100 -> b@300 -> c@500, all in window
        (2L, 1, 200L * S),   // b@100 precedes a@200: not strictly after
        (3L, 1, 100L * S)))  // c@2000 outside the 1000 s window
      // tombstone: a finalized key never emits again
      input.addData((1L, 3000L, "a"), (9L, 999999L, "a"))
      q.processAllAvailable()
      assert(spark.table("tws_funnel")
        .as[(Long, Int, Long)].collect().count(_._1 == 1L) === 1)
    }
  }

  test("funnelStream: same-timestamp steps do not chain (strictly-after)") {
    withStream(windowSec = 1000L, delay = "0 seconds") { (input, q) =>
      input.addData((1L, 100L, "a"), (1L, 100L, "b"), (1L, 200L, "c"))
      q.processAllAvailable()
      input.addData((9L, 99999L, "a"))
      q.processAllAvailable()
      val got = spark.table("tws_funnel").as[(Long, Int, Long)].collect().toSeq
      // b@100 is not strictly after a@100; c can only follow step 2
      assert(got === Seq((1L, 1, 100L * S)))
    }
  }
}
