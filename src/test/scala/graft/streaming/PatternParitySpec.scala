package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** [[StreamOps.patternStream]]: watermark-final pattern matches equal the
  * batch semantics ([[graft.operators.Sequences.matchPattern]]) — greedy
  * earliest chain, strict interior negation bounds, out-of-order poison
  * events judged at finality, one emission per key ever.
  */
class PatternParitySpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000L

  private def withStream(windowSec: Long, delay: String)(
      body: (MemoryStream[(Long, Long, String)],
             org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = withConfs(rocksDbStateStore) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // (user, sec, type)
    val stream = StreamOps.patternStream(
      input.toDS().toDF("user_id", "sec", "t")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      keyCol = "user_id", tsCol = "ts",
      steps = Seq(col("t") === "a", col("t") === "b", col("t") === "c"),
      exclude = col("t") === "x",
      windowUs = windowSec * S, watermarkDelay = delay)
    val q = stream.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("tws_pattern")
      .trigger(Trigger.ProcessingTime(0)).start()
    try body(input, q)
    finally {
      q.stop()
      spark.catalog.dropTempView("tws_pattern")
    }
  }

  test("patternStream: clean chain emits, poisoned chain doesn't, strict bounds hold") {
    withStream(windowSec = 1000L, delay = "500 seconds") { (input, q) =>
      input.addData(
        // u1: clean a->b->c
        (1L, 100L, "a"), (1L, 200L, "b"), (1L, 300L, "c"),
        // u2: x strictly inside (100, 300) — suppressed
        (2L, 100L, "a"), (2L, 200L, "b"), (2L, 250L, "x"), (2L, 300L, "c"),
        // u3: x exactly AT t0 and AT t_last — strict interior, emits
        (3L, 100L, "a"), (3L, 100L, "x"), (3L, 200L, "b"), (3L, 300L, "c"),
        (3L, 300L, "x"),
        // u4: incomplete chain — never emits
        (4L, 100L, "a"), (4L, 200L, "b"))
      q.processAllAvailable()
      // advance the watermark past every window above
      input.addData((9L, 5000L, "a"))
      q.processAllAvailable()
      val got = spark.table("tws_pattern")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set(
        (1L, 100L * S, 300L * S),
        (3L, 100L * S, 300L * S)))
    }
  }

  test("patternStream: out-of-order poison arrives AFTER the chain, still suppresses") {
    withStream(windowSec = 1000L, delay = "500 seconds") { (input, q) =>
      input.addData((1L, 100L, "a"), (1L, 300L, "c"), (1L, 200L, "b"))
      q.processAllAvailable()
      // the poison event for the interior arrives in a later batch,
      // admitted by the watermark delay; judgment happens at finality
      input.addData((1L, 250L, "x"))
      q.processAllAvailable()
      input.addData((9L, 5000L, "a"))
      q.processAllAvailable()
      assert(spark.table("tws_pattern").count() === 0L)
    }
  }

  test("patternStream: greedy earliest chain judged, not a later clean one") {
    withStream(windowSec = 1000L, delay = "0 seconds") { (input, q) =>
      // earliest chain a@100 -> b@200 poisoned by x@150; a clean
      // (a@400, b@500) exists but greedy semantics anchor at a@100 and
      // chain to the EARLIEST b (b@200) — suppressed, matching batch
      input.addData((1L, 100L, "a"), (1L, 150L, "x"), (1L, 200L, "b"),
        (1L, 400L, "a"), (1L, 500L, "b"))
      q.processAllAvailable()
      input.addData((9L, 99999L, "a"))
      q.processAllAvailable()
      assert(spark.table("tws_pattern").count() === 0L)
    }
  }

  test("patternStream parity: matches batch matchPattern on a replayed feed") {
    withStream(windowSec = 1000L, delay = "500 seconds") { (input, q) =>
      // pseudo-random feed over 6 users
      val feed = (0 until 120).map { i =>
        val h = i * 2654435761L
        val u = 1L + math.abs(h % 6)
        val ts = 10L + math.abs((h >> 7) % 900)
        val t = Seq("a", "b", "c", "x")(math.abs((h >> 17) % 4).toInt)
        (u, ts, t)
      }
      input.addData(feed: _*)
      q.processAllAvailable()
      input.addData((99L, 100000L, "a")) // close every window
      q.processAllAvailable()
      val streamed = spark.table("tws_pattern")
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.operators.Sequences.matchPattern(
        feed.toDF("u", "sec", "t")
          .select(col("u"), (col("sec") * S).as("us"), col("t")),
        col("u"), col("us"),
        steps = Seq("a" -> (col("t") === "a"), "b" -> (col("t") === "b"),
          "c" -> (col("t") === "c")),
        exclude = col("t") === "x", windowUs = Some(1000L * S))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._4)).toSet
      graft.Caches.clear(spark)
      assert(streamed === batch)
    }
  }
}
