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

  test("funnelStream parity: per-step reach equals batch Funnel.reach on a replayed feed") {
    withStream(windowSec = 1000L, delay = "500 seconds") { (input, q) =>
      // pseudo-random feed over 20 users and twice the window, so reach
      // drops at every step and the window cuts some chains; "x" matches
      // no step
      val feed = (0 until 120).map { i =>
        val h = i * 2654435761L
        val u = 1L + math.abs(h % 20)
        val ts = 10L + math.abs((h >> 7) % 2000)
        val t = Seq("a", "b", "c", "x")(math.abs((h >> 17) % 4).toInt)
        (u, ts, t)
      }
      input.addData(feed: _*)
      q.processAllAvailable()
      input.addData((99L, 100000L, "a")) // close every window
      q.processAllAvailable()
      val streamed = spark.table("tws_funnel")
        .as[(Long, Int, Long)].collect().toSeq
      val batch = graft.operators.Funnel.reach(
        feed.toDF("u", "sec", "t")
          .select(col("u"), (col("sec") * S).as("us"), col("t")),
        col("u"), col("us"),
        steps = Seq("a" -> (col("t") === "a"), "b" -> (col("t") === "b"),
          "c" -> (col("t") === "c")),
        windowUs = Some(1000L * S))
        .as[(Int, String, Long)].collect().map(r => r._1 -> r._3).toMap
      assert(batch.keySet === Set(1, 2, 3))
      assert(batch(1) > batch(2) && batch(2) > batch(3) && batch(3) > 0L)
      for (i <- 1 to 3)
        assert(streamed.count(_._2 >= i).toLong === batch(i), s"step $i")
    }
  }
}
