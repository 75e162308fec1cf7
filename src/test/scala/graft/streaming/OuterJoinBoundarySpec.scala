package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Regression pins for the watermark boundary semantics the
  * `stream_left_join` / `stream_chained_agg` oracles encode (first
  * measured by the ProbeSSJ4/ProbeWin tools; these specs keep the
  * measurements enforced):
  *
  *  - stream-stream LEFT OUTER interval join: an unmatched left row
  *    emits iff left_ts + interval < watermark STRICTLY (equality does
  *    NOT emit), with the global watermark the MIN over both sides'
  *    per-operator watermarks;
  *  - append-mode window aggregation: a window whose end EQUALS the
  *    final watermark emits (inclusive boundary).
  *
  * If a Spark upgrade shifts either boundary, these fail before the
  * driver's oracle run does — with a message naming the semantic.
  */
class OuterJoinBoundarySpec extends SparkSpec {
  import spark.implicits._

  private val maxUs = 1700000000000000L + 20L * 3600 * 1000000

  private def writeEvents(path: String, rows: Seq[(Long, Long, String, Long)]): Unit =
    rows.map { case (id, u, t, us) => (id, u, t, new java.sql.Timestamp(us / 1000)) }
      .toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(path)

  test("left-outer interval join: strict eviction boundary, min-of-sides watermark") {
    val offs = Seq(8999L, 9000L, 9001L, 9600L)
    // both sides' watermark anchors equalized: a click AND a purchase at maxUs
    val clicks = offs.zipWithIndex.map { case (off, i) =>
      (1000L + i, 1L + i, "click", maxUs - off * 1000000L)
    } :+ ((1L, 998L, "click", maxUs))
    val p = s"${sys.props("java.io.tmpdir")}/graft_ojb_events"
    writeEvents(p, clicks :+ ((2L, 999L, "purchase", maxUs)))
    def side(tpe: String, prefix: String) =
      StreamOps.parquetStream(spark, p)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
    val joined = StreamOps.intervalJoin(
      side("click", "c"), "c_ts", side("purchase", "p"), "p_ts",
      keys = Seq("c_user" -> "p_user"), within = "30 minutes",
      watermark = "2 hours", joinType = "left_outer")
    val got = StreamOps.drainToBatch(joined, outputMode = "append")
      .filter(col("p_id").isNull).select("c_id").as[Long].collect().toSet
    // wm = maxUs − 2h; eviction needs c_ts + 30min < wm STRICTLY:
    // off 9000 s sits exactly ON the boundary and must NOT emit
    assert(!got.contains(1000L), "boundary-equal row emitted (eviction went inclusive)")
    assert(!got.contains(1001L), "off=8999s emitted before the watermark allowed")
    assert(got.contains(1002L), "off=9001s (1s past boundary) failed to emit")
    assert(got.contains(1003L), "off=9600s failed to emit")
  }

  test("append window aggregation: window end equal to the watermark emits") {
    val h = 3600L * 1000000
    val base = (1700000000000000L / h) * h
    val p = s"${sys.props("java.io.tmpdir")}/graft_win_events"
    // max at base+12h exactly ⇒ wm = base+10h; windows end at 9h/10h/11h
    writeEvents(p, Seq(
      (1L, 1L, "x", base + 8L * h + 100L),
      (2L, 1L, "x", base + 9L * h + 100L),
      (3L, 1L, "x", base + 10L * h + 100L),
      (4L, 1L, "x", base + 12L * h)))
    val agg = StreamOps.parquetStream(spark, p)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val ends = StreamOps.drainToBatch(agg, outputMode = "append")
      .select((col("window.end").cast("long") * 1000000L - base).as("e"))
      .as[Long].collect().toSet
    assert(ends.contains(9L * h), "window below the watermark failed to emit")
    assert(ends.contains(10L * h),
      "window ending exactly AT the watermark did not emit (boundary went exclusive)")
    assert(!ends.contains(11L * h), "unfinalized window emitted")
  }
}
