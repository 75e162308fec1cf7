package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming layer.
  *
  * The reference has NO streaming (its iterativebatch extension is
  * round-based batch re-execution, SURVEY.md §2 end) — this is north-star
  * surface: file-source streams, watermarked event-time windows, and a
  * synchronous drain helper so the same pipeline is testable against a
  * batch oracle.
  */
object StreamOps {

  private val nameCounter = new AtomicInteger(0)

  /** Stable 64-bit identity of a writer's output path (see [[ingestSink]]
    * index layout).
    */
  private[streaming] def writerId(path: String): String =
    java.lang.Long.toHexString(graft.functions.Hash64.hashString(
      org.apache.spark.unsafe.types.UTF8String.fromString(path)))

  /** Open a file-based stream over a directory of parquet with an explicit
    * schema (file streams require one). `maxFilesPerTrigger` bounds
    * per-batch work at scale.
    */
  def parquetStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int): DataFrame = {
    // file streams require a directory source; for a single-file path,
    // stream the parent directory with a glob filter on the file name.
    // Hadoop FS check, not java.io.File: the path may be hdfs://, s3a://,
    // etc. — a local-only check would silently take the directory branch
    // for a remote single file and fail to open the stream
    val hp = new org.apache.hadoop.fs.Path(path)
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      hp.toUri, spark.sparkContext.hadoopConfiguration)
    val isFile = try hfs.getFileStatus(hp).isFile catch {
      case _: java.io.FileNotFoundException => false
    }
    val (dir, glob) =
      if (isFile) (hp.getParent.toString, Some(hp.getName)) else (path, None)
    val r = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    glob.fold(r)(g => r.option("pathGlobFilter", g)).parquet(dir)
  }

  /** Convenience overload: schema taken from a batch probe of the same
    * path. The probe is a full file-listing job — fine for tests and small
    * directories, but a 100 TB path wants the explicit-schema overload so
    * opening the stream costs nothing.
    */
  def parquetStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 64): DataFrame =
    parquetStream(spark, path, spark.read.parquet(path).schema, maxFilesPerTrigger)

  /** Tumbling or hopping event-time window aggregation with a watermark —
    * the canonical streaming shape: counts/sums per (window, key). A
    * `slide` shorter than `window` makes the windows overlap (hopping):
    * each event updates window/slide state rows, and the state store
    * still evicts on the watermark — per-key state stays bounded by
    * (window/slide) live windows, not by history.
    */
  def windowedAgg(events: DataFrame, tsCol: String, window: String, watermark: String,
      keys: Seq[String], aggs: Seq[org.apache.spark.sql.Column],
      slide: Option[String] = None): DataFrame = {
    val win = slide
      .map(s => org.apache.spark.sql.functions.window(col(tsCol), window, s))
      .getOrElse(org.apache.spark.sql.functions.window(col(tsCol), window))
    events
      .withWatermark(tsCol, watermark)
      .groupBy((win +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Watermarked stream-stream inner join: a left row matches right rows
    * with equal `keys` whose event time lies in [leftTs, leftTs + within].
    * Both sides carry watermarks, so the join's state store evicts rows
    * once they can no longer match — bounded state, the only viable shape
    * for an unbounded 100 TB/day stream (an unwatermarked stream-stream
    * join buffers forever). Caller must disambiguate column names first.
    */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame, rightTs: String,
      keys: Seq[(String, String)], within: String, watermark: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map { case (lk, rk) => l(lk) === r(rk) }.reduce(_ && _)
    val timeCond = r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within")
    // left_outer: an unmatched left row emits (right side null) once the
    // watermark proves no future right row can land in its interval —
    // bounded state AND no lost lefts, unlike the inner form where an
    // unmatched row silently ages out
    l.join(r, keyCond && timeCond, joinType)
  }

  /** Streaming dedup: drop records whose `keys` were already seen within
    * the watermark horizon (`dropDuplicatesWithinWatermark`): state is
    * evicted as the watermark advances, so memory stays O(distinct keys
    * per horizon) instead of O(all keys ever) — exact-once filtering for
    * event streams where duplicates arrive close together (retries,
    * at-least-once sources).
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** One densified row per (key, interval bucket) of [[graft.operators
    * .Resample.resampleFill]], streaming: silent buckets emit with
    * n_events = 0 and the last observed max carried forward, driven by
    * EVENT-TIME TIMERS — a gap bucket must emit even when no record
    * arrives to trigger it, which plain windowed aggregation cannot do.
    * A bucket is final (and emitted, Append mode) once the watermark
    * passes its end; per key, emission runs from the first occupied
    * bucket to the last occupied one (matching the batch grid — trailing
    * silence is unbounded in a stream, so it is not emitted).
    *
    * Scale shape: state per key is the carry value plus ONLY the
    * not-yet-final occupied buckets inside the watermark horizon —
    * bounded by horizon/interval, independent of stream length; gap
    * buckets hold no state at all. The same span guard as batch
    * (`maxBucketsPerKey`) fails a pathological key by name instead of
    * emitting an unbounded backlog in one invocation.
    */
  // the watermarked timestamp column must survive into the stateful
  // operator's input (the analyzer ties event-time timeout to it), so
  // the event type carries it alongside the integer microseconds
  final case class ResampleEvent(key: Long, us: Long, v: Double,
      ts: java.sql.Timestamp)
  final case class ResampleState(nextBucket: Long, carry: Double,
      counts: Map[Long, Long], maxs: Map[Long, Double])
  final case class ResampleOut(key: Long, bucket_us: Long, n_events: Long,
      v_fill: Double)

  def resampleStream(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, intervalUs: Long, watermarkDelay: String = "0 seconds",
      maxBucketsPerKey: Long = 1L << 21): org.apache.spark.sql.Dataset[ResampleOut] = {
    require(intervalUs > 0, s"resampleStream: intervalUs must be positive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).cast("long").as("key"),
        graft.GraftSession.eventTimeMicros(events, tsCol).as("us"),
        col(valueCol).cast("double").as("v"),
        col(tsCol).as("ts"))
      .as[ResampleEvent]
    typed.groupByKey(_.key).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: Long, rows: Iterator[ResampleEvent], state: GroupState[ResampleState]) =>
        val st = state.getOption.getOrElse(
          ResampleState(Long.MinValue, Double.NaN, Map.empty, Map.empty))
        var counts = st.counts
        var maxs = st.maxs
        rows.foreach { e =>
          val b = e.us - java.lang.Math.floorMod(e.us, intervalUs)
          counts = counts.updated(b, counts.getOrElse(b, 0L) + 1L)
          maxs = maxs.updated(b,
            math.max(maxs.getOrElse(b, Double.NegativeInfinity), e.v))
        }
        var next =
          if (st.nextBucket != Long.MinValue) st.nextBucket
          else if (counts.nonEmpty) counts.keys.min
          else Long.MinValue
        var carry = st.carry
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val out = Seq.newBuilder[ResampleOut]
        if (next != Long.MinValue && counts.nonEmpty) {
          val maxPending = counts.keys.max
          if ((maxPending - next) / intervalUs >= maxBucketsPerKey)
            throw new IllegalStateException(
              s"resampleStream: key $key spans more than $maxBucketsPerKey buckets")
          while (next <= maxPending && next + intervalUs <= wmUs) {
            val n = counts.getOrElse(next, 0L)
            if (n > 0) { carry = maxs(next); counts -= next; maxs -= next }
            out += ResampleOut(key, next, n, carry)
            next += intervalUs
          }
        }
        state.update(ResampleState(next, carry, counts, maxs))
        // a pending bucket needs a timer so its gap predecessors emit
        // even if no further record ever arrives for this key
        if (counts.nonEmpty)
          state.setTimeoutTimestamp((next + intervalUs) / 1000L + 1L)
        out.result().iterator
    }
  }

  /** The input of a `transformWithState` stream: (key, us, `payload`...,
    * ts), with `tsCol` normalized BEFORE the watermark and passed through
    * UNCAST as `ts`. A real cast (TIMESTAMP_NTZ input) would mint a new
    * attribute without the event-time metadata the watermark attached,
    * and transformWithState would then silently skip late-row filtering:
    * a late event could re-open an already-emitted session, re-rank a
    * final quota rank or change a final chain outcome.
    */
  private def keyedEvents(events: DataFrame, keyCol: String, tsCol: String,
      watermarkDelay: String, payload: org.apache.spark.sql.Column*): DataFrame =
    graft.GraftSession.normalizeTsStrict(events, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .select(Seq(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("us")) ++ payload :+ col(tsCol).as("ts"): _*)

  // ---- streaming sessionization (transformWithState) --------------------

  final case class SessEvent(key: Long, us: Long, ts: java.sql.Timestamp)
  final case class OpenSession(startUs: Long, endUs: Long, n: Long)
  final case class SessionOut(key: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Gap-session state machine for [[sessionizeStream]], on the
    * `transformWithState` API (Spark 4's arbitrary-state operator:
    * named state variables, event-time timers, RocksDB-backed).
    *
    * State per key: the OPEN (non-final) sessions only, as (start, end,
    * count) aggregates — O(open sessions), never the events. A session is
    * FINAL once the watermark passes its end by more than the gap (the
    * watermark guarantees no older event can arrive to extend or bridge
    * it); final sessions emit either on the batch that advances the
    * watermark or on the event-time timer kept at the earliest open
    * session's deadline — a key that never sees another record still
    * flushes, exactly like [[resampleStream]]'s silent buckets.
    *
    * Batch parity: an event within `gapUs` (inclusive) of a session
    * extends it and may bridge two neighbours — the same strictly-greater
    * break rule as [[graft.operators.Sessionize]], so the emitted
    * (start, end, count) set equals the batch operator's restricted to
    * watermark-final sessions (SessionizeParity in StreamingSpec).
    */
  private class GapSessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessEvent, SessionOut] {
    import org.apache.spark.sql.streaming._

    @transient private var sessions: ListState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getListState("sessions",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    /** Coalesce a (startUs, endUs)-sorted session list: neighbours whose
      * inter-session gap is ≤ gapUs merge (counts add).
      */
    private def coalesce(sorted: List[OpenSession]): List[OpenSession] =
      sorted.foldLeft(List.empty[OpenSession]) {
        case (prev :: acc, cur) if cur.startUs - prev.endUs <= gapUs =>
          OpenSession(prev.startUs, math.max(prev.endUs, cur.endUs),
            prev.n + cur.n) :: acc
        case (acc, cur) => cur :: acc
      }.reverse

    /** Split final vs open at the CURRENT watermark, persist the open
      * tail (+ its wake-up timer), emit the final head.
      */
    private def flush(key: Long, merged: List[OpenSession],
        wmUs: Long): Iterator[SessionOut] = {
      val (fin, open) = merged.partition(_.endUs + gapUs < wmUs)
      sessions.clear()
      if (open.nonEmpty) {
        sessions.put(open.toArray)
        // ms ceiling: the session becomes final strictly AFTER its
        // deadline ms, so wake at deadline-ms + 1
        getHandle.registerTimer((open.map(_.endUs).min + gapUs) / 1000L + 1L)
      }
      fin.sortBy(_.startUs)
        .map(s => SessionOut(key, s.startUs, s.endUs, s.n)).iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
        tv: TimerValues): Iterator[SessionOut] = {
      val incoming = rows.map(e => OpenSession(e.us, e.us, 1L)).toList
      val all = (sessions.get().toList ++ incoming)
        .sortBy(s => (s.startUs, s.endUs))
      flush(key, coalesce(all), tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] =
      flush(key, sessions.get().toList, tv.getCurrentWatermarkInMs() * 1000L)
  }

  /** Streaming gap-sessionization — the incremental twin of
    * [[graft.operators.Sessionize.sessions]] (counts only; the batch
    * operator's distinct-type/seq columns need the closed-world corpus).
    * Emits one row per FINAL session (Append mode): a session is final
    * when the event-time watermark has passed its end by more than the
    * gap. Requires the RocksDB state store provider
    * (`transformWithState`'s backing store — [[drainToBatch]] picks it
    * for such a stream; any other sink must set it on the session).
    */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
      gapSeconds: Long, watermarkDelay: String = "0 seconds"):
      org.apache.spark.sql.Dataset[SessionOut] = {
    require(gapSeconds > 0, "sessionizeStream: gapSeconds must be positive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    keyedEvents(events, keyCol, tsCol, watermarkDelay).as[SessEvent]
      .groupByKey(_.key).transformWithState(
        new GapSessionProcessor(gapSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- streaming per-key quota (transformWithState) ----------------------

  final case class QuotaEvent(key: Long, us: Long, eventId: Long,
      ts: java.sql.Timestamp)
  final case class QuotaOut(key: Long, us: Long, event_id: Long)

  /** Per-key quota state machine for [[quotaStream]]: emit each key's
    * FIRST `k` events in event-time order (ties by event id) — the
    * streaming twin of [[graft.operators.Sampling.capPerGroup]]'s
    * deterministic per-group cap, for pipelines that must bound how much
    * any one key (user, domain, device) contributes to an ingest.
    *
    * An event's rank among its key's events is final once the watermark
    * passes its timestamp (nothing earlier can still arrive), so the
    * operator buffers only the NOT-YET-FINAL events that could still rank
    * ≤ k — at most `k` candidates plus the in-flight horizon — and a
    * count of already-emitted rows. Keys at quota with no pending
    * candidates drop to an 8-byte counter; the buffer never holds a
    * key's full history.
    */
  private class QuotaProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, QuotaEvent, QuotaOut] {
    import org.apache.spark.sql.streaming._

    @transient private var emitted: ValueState[Long] = _
    @transient private var pending: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      emitted = getHandle.getValueState("emitted",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState("pending",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    }

    private def flush(key: Long, merged: List[(Long, Long)], doneSoFar: Long,
        wmUs: Long): Iterator[QuotaOut] = {
      // candidates sorted (us, id); final prefix = events the watermark
      // has passed — their rank can no longer change
      val (fin, open) = merged.partition { case (us, _) => us < wmUs }
      val take = math.min(fin.size.toLong, k - doneSoFar).toInt.max(0)
      val out = fin.take(take)
      val done = doneSoFar + take
      emitted.update(done)
      pending.clear()
      // open events beyond the remaining quota can never emit (everything
      // ahead of them already outranks them) — cap the buffer at what can
      // still matter
      val keep = open.take((k - done).toInt.max(0))
      if (keep.nonEmpty) {
        pending.put(keep.toArray)
        getHandle.registerTimer(keep.head._1 / 1000L + 1L)
      }
      out.map { case (us, id) => QuotaOut(key, us, id) }.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[QuotaEvent],
        tv: TimerValues): Iterator[QuotaOut] = {
      val doneSoFar = Option(emitted.get()).getOrElse(0L)
      if (doneSoFar >= k) return Iterator.empty // at quota: counter only
      val incoming = rows.map(e => (e.us, e.eventId)).toList
      val merged = (pending.get().toList ++ incoming).sorted
      flush(key, merged, doneSoFar, tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[QuotaOut] = {
      val doneSoFar = Option(emitted.get()).getOrElse(0L)
      if (doneSoFar >= k) return Iterator.empty
      flush(key, pending.get().toList.sorted, doneSoFar,
        tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** Streaming per-key quota: each key's first `k` events in event-time
    * order (ties by event id), emitted as soon as their rank is final
    * w.r.t. the watermark. Same state-store requirements as
    * [[sessionizeStream]] (RocksDB provider).
    */
  def quotaStream(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, k: Int, watermarkDelay: String = "0 seconds"):
      org.apache.spark.sql.Dataset[QuotaOut] = {
    require(k > 0, "quotaStream: k must be positive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    keyedEvents(events, keyCol, tsCol, watermarkDelay,
        col(idCol).cast("long").as("eventId")).as[QuotaEvent]
      .groupByKey(_.key).transformWithState(
        new QuotaProcessor(k), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- streaming step chains: funnel and CEP pattern (transformWithState) -

  final case class FunnelEvent(key: Long, us: Long, mask: Int,
      ts: java.sql.Timestamp)
  final case class FunnelOut(key: Long, steps_reached: Int, t0_us: Long)
  final case class PatternOut(key: Long, t0_us: Long, t_last_us: Long)
  private[streaming] final case class ChainOut(key: Long, reached: Int,
      t0_us: Long, t_last_us: Long, poisoned: Boolean)

  /** Greedy step-chain state machine for [[funnelStream]] and
    * [[patternStream]] — the streaming twin of [[graft.operators.Funnel
    * .chain]]. An event's mask bit i (i < nSteps) says it matches step
    * i+1; bit `nSteps` marks an EXCLUDED event (patterns only). A key's
    * chain anchors at t0 = the earliest step-1 event; each later step is
    * the earliest matching event strictly after the previous step's time,
    * within `windowUs` of t0. The outcome is FINAL once the watermark
    * passes t0 + window: t0 itself can no longer decrease (later arrivals
    * have ts ≥ watermark) and every event that could participate is
    * already final — the chained strictly-after replay runs over the
    * immutable in-window events, one row (key, reached, t0, t_last,
    * poisoned) emits, a tombstone replaces the state, and the key goes
    * quiet. `poisoned`: the chain completed all steps and an excluded
    * event lies strictly inside (t0, t_last).
    *
    * State bound: before t0 is known, only events the watermark hasn't
    * passed are kept (an earlier t0 can still arrive, but only at
    * ts ≥ watermark); once a t0 candidate exists, only step-2+ and
    * excluded events with ts ≤ t0cand + window are kept — t0 only ever
    * DECREASES, so the window end tightens monotonically and the buffer
    * is bounded by the window span plus the in-flight horizon, never a
    * key's history.
    */
  private class ChainProcessor(nSteps: Int, windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, FunnelEvent, ChainOut] {
    import org.apache.spark.sql.streaming._

    // the names and encoders of `done`, `t0` and `buf` are the state
    // schema of every funnel and pattern checkpoint: changing one breaks
    // restarting a query from its checkpoint
    @transient private var done: ValueState[Boolean] = _
    @transient private var t0: ValueState[Long] = _
    @transient private var buf: ListState[(Long, Int)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      done = getHandle.getValueState("done",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
      t0 = getHandle.getValueState("t0",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      buf = getHandle.getListState("buf",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaInt), TTLConfig.NONE)
    }

    private def step(key: Long, incoming: List[(Long, Int)],
        wmUs: Long): Iterator[ChainOut] = {
      val stored: Long = Option(t0.get()).getOrElse(Long.MaxValue)
      val incomingMin: Long = incoming.filter(e => (e._2 & 1) == 1).map(_._1)
        .reduceOption((a: Long, b: Long) => math.min(a, b))
        .getOrElse(Long.MaxValue)
      val t0cand = math.min(stored, incomingMin)
      val laterSteps = (buf.get().toList ++ incoming.filter(e => (e._2 & ~1) != 0))
        .filter(e =>
          if (t0cand == Long.MaxValue) e._1 >= wmUs
          else e._1 <= t0cand + windowUs)
      if (t0cand != Long.MaxValue && t0cand + windowUs < wmUs) {
        // final: replay the chained strictly-after scan over the (now
        // complete and immutable) in-window events
        var t = t0cand
        var reached = 1
        for ((us, mask) <- laterSteps.sorted
            if reached < nSteps && us > t && ((mask >> reached) & 1) == 1) {
          t = us; reached += 1
        }
        val poisoned = reached == nSteps && laterSteps.exists { case (us, mask) =>
          ((mask >> nSteps) & 1) == 1 && us > t0cand && us < t
        }
        buf.clear(); t0.clear(); done.update(true)
        Iterator.single(ChainOut(key, reached, t0cand, t, poisoned))
      } else {
        buf.clear()
        if (laterSteps.nonEmpty) buf.put(laterSteps.toArray)
        if (t0cand != Long.MaxValue) {
          t0.update(t0cand)
          // ms ceiling, as in GapSessionProcessor: final strictly after
          getHandle.registerTimer((t0cand + windowUs) / 1000L + 1L)
        }
        Iterator.empty
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        tv: TimerValues): Iterator[ChainOut] = {
      if (done.exists()) return Iterator.empty
      step(key, rows.map(e => (e.us, e.mask)).toList,
        tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ChainOut] = {
      if (done.exists()) return Iterator.empty
      step(key, Nil, tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** One [[ChainOut]] per watermark-final key, over the events whose
    * `mask` (see [[ChainProcessor]]) is nonzero.
    */
  private def chainStream(events: DataFrame, keyCol: String, tsCol: String,
      mask: org.apache.spark.sql.Column, nSteps: Int, windowUs: Long,
      watermarkDelay: String): org.apache.spark.sql.Dataset[ChainOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    keyedEvents(events, keyCol, tsCol, watermarkDelay, mask.cast("int").as("mask"))
      .filter(col("mask") =!= 0)
      .as[FunnelEvent]
      .groupByKey(_.key).transformWithState(
        new ChainProcessor(nSteps, windowUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming conversion funnel: one row (key, steps_reached, t0_us)
    * per key whose funnel window has closed under the watermark — the
    * incremental twin of [[graft.operators.Funnel.reach]] (which returns
    * the aggregated per-step counts; `count(steps_reached >= i)` over
    * this output restricted to watermark-final keys equals it). Same
    * state-store requirements as [[sessionizeStream]] (RocksDB).
    */
  def funnelStream(events: DataFrame, keyCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column], windowUs: Long,
      watermarkDelay: String = "0 seconds"):
      org.apache.spark.sql.Dataset[FunnelOut] = {
    require(steps.size >= 2, "funnelStream: need at least 2 steps")
    require(steps.size <= 31,
      "funnelStream: at most 31 steps (the step mask is a 32-bit int; " +
        "1 << 32 would alias step 33 into step 1)")
    require(windowUs > 0, "funnelStream: windowUs must be positive")
    import events.sparkSession.implicits._
    val mask = steps.zipWithIndex
      .map { case (p, i) => when(p, 1 << i).otherwise(0) }
      .reduce(_ + _)
    chainStream(events, keyCol, tsCol, mask, steps.size, windowUs, watermarkDelay)
      .select(col("key"), col("reached").as("steps_reached"), col("t0_us"))
      .as[FunnelOut]
  }

  /** Streaming CEP pattern with negation: one row (key, t0_us, t_last_us)
    * per key whose earliest greedy step chain completed within the window
    * with no `exclude` event strictly inside — emitted once the watermark
    * closes the window. Incremental twin of [[graft.operators.Sequences
    * .matchPattern]] restricted to watermark-final keys. Same state-store
    * requirements as [[sessionizeStream]] (RocksDB).
    */
  def patternStream(events: DataFrame, keyCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column],
      exclude: org.apache.spark.sql.Column, windowUs: Long,
      watermarkDelay: String = "0 seconds"):
      org.apache.spark.sql.Dataset[PatternOut] = {
    require(steps.size >= 2, "patternStream: need at least 2 steps")
    require(steps.size <= 30,
      "patternStream: at most 30 steps (bit nSteps marks excluded events)")
    require(windowUs > 0, "patternStream: windowUs must be positive")
    import events.sparkSession.implicits._
    val mask = (steps.zipWithIndex
      .map { case (p, i) => when(p, 1 << i).otherwise(0) } :+
      when(exclude, 1 << steps.size).otherwise(0))
      .reduce(_ + _)
    chainStream(events, keyCol, tsCol, mask, steps.size, windowUs, watermarkDelay)
      .filter(col("reached") === steps.size && !col("poisoned"))
      .select(col("key"), col("t0_us"), col("t_last_us"))
      .as[PatternOut]
  }

  /** Custom stateful processing: per-key state folded over arriving
    * records, updated state emitted each batch (Update mode). The
    * Spark-native form of "user code with state per key" —
    * `flatMapGroupsWithState` keeps state in the state store with
    * checkpointing/recovery; works identically on a batch Dataset (single
    * batch, empty initial state).
    */
  def statefulAggregate[K: org.apache.spark.sql.Encoder, V, S: org.apache.spark.sql.Encoder,
      O: org.apache.spark.sql.Encoder](
      ds: org.apache.spark.sql.Dataset[V])(key: V => K)(zero: S)(
      update: (S, V) => S)(emit: (K, S) => O): org.apache.spark.sql.Dataset[O] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    ds.groupByKey(key).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (k: K, vs: Iterator[V], state: org.apache.spark.sql.streaming.GroupState[S]) =>
        val s = vs.foldLeft(state.getOption.getOrElse(zero))(update)
        state.update(s)
        Iterator.single(emit(k, s))
    }
  }

  /** Drain a streaming frame synchronously through a memory sink and
    * return the materialized result — lets a file-backed stream be
    * verified against the equivalent batch query. `outputMode` must match
    * the stream shape: "complete" for aggregations (the default here),
    * "append" for plain transforms, "update" for stateful operators. A
    * stream with a `transformWithState` operator runs on the RocksDB
    * state store, which that operator requires.
    */
  def drainToBatch(stream: DataFrame, outputMode: String = "complete"): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    // Pinned for the query's START only, restored as soon as it returns:
    // - shuffle partitions = statePartitions: the stateful-operator
    //   partition count is frozen into the checkpoint at first start, and
    //   every micro-batch commits one state-store delta PER partition PER
    //   stateful operator, so it is sized to state volume (keys in the
    //   watermark horizon), not the batch shuffle default. Every drained
    //   stream here is small and local, and would otherwise wear 32
    //   near-empty store commits per batch; a 100 TB/day stream would size
    //   it up instead. Results do not depend on the count.
    // - the RocksDB provider a transformWithState operator requires.
    val statePartitions = 8
    // complete-mode drains skip the trailing NO-DATA micro-batch: its only
    // purposes are advancing the watermark to EMIT append-mode results and
    // firing update-mode state timeouts — a complete-mode sink re-emits the
    // full result on every DATA batch, so the extra batch contributes
    // nothing and costs a full replan + state-store commit cycle (the
    // per-restart floor is per-BATCH machinery; measured ~25% of the
    // stream family's drain time). Append/update drains keep the default.
    val pins = Map("spark.sql.shuffle.partitions" -> statePartitions.toString) ++
      (if (outputMode == "complete")
        Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Map.empty) ++
      (if (stream.queryExecution.logical.exists(_.isInstanceOf[TransformWithState]))
        Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Map.empty)
    // the drain is a synchronous test/verify sink, so its checkpoint needs
    // no durability — put state-store deltas on the RAM disk when one
    // exists (a production stream would point checkpointLocation at
    // durable storage instead)
    val shm = new java.io.File("/dev/shm")
    val ckptBase = if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptBase, "graft_ckpt_")
    // The pins go on the caller's session, not a GraftSession.pinned
    // clone: each session that starts a stream gets its own
    // StreamingQueryListenerBus, registered on the LiveListenerBus for
    // good and reporting only that session's queries, so a drain on a
    // clone would hide from the caller's stream listeners and leak one bus
    // per drain. Holding them across start() alone is enough: the
    // StreamExecution constructor, run inside start(), snapshots the
    // session (cloneSession → sparkSessionForStream) and every micro-batch
    // plans on that snapshot, so a sibling flow can see them only while
    // start() runs.
    def put(confs: Map[String, Option[String]]): Unit = confs.foreach {
      case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    try {
      val saved = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
      put(pins.map { case (k, v) => k -> Some(v) })
      val q =
        try stream.writeStream.outputMode(outputMode).format("memory").queryName(name)
          .option("checkpointLocation", ckpt.toString).trigger(Trigger.AvailableNow()).start()
        finally put(saved)
      q.awaitTermination()
    } finally {
      // best-effort cleanup so repeated drains don't fill the tmpfs
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(ckpt.toFile)
    }
    // detach the result from the memory sink so the sink's full copy of
    // the data can be dropped — repeated drains otherwise accumulate one
    // materialized result per call in driver memory for the session's life.
    // Tracked: the checkpoint blocks themselves are freed by Caches.clear.
    val out = graft.Caches.localCheckpointTracked(spark.table(name))
    spark.catalog.dropTempView(name)
    out
  }

  /** Exactly-once file sink: `foreachBatch` into the transactional
    * DirectOutput. Each micro-batch commits under its own transaction id
    * (`<txPrefix>-<batchId>`) into `<path>/batch=<batchId>/`; a replayed
    * batch (restart after a crash between sink commit and checkpoint
    * advance — the at-least-once window every foreachBatch sink has) is
    * detected by its committed marker and skipped, upgrading the sink to
    * effectively exactly-once. Returns the started query; callers own
    * `checkpointLocation` (durable storage in production).
    */
  def directSink(stream: DataFrame, path: String, checkpoint: String,
      txPrefix: String = "stream", trigger: Trigger = Trigger.AvailableNow(),
      format: String = "parquet"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val target = s"$path/batch=$batchId"
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        val fs = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(target), conf)
        val committed = new org.apache.hadoop.fs.Path(target, "_GRAFT_COMMITTED")
        // crash recovery BEFORE the replay check: a live tx marker means the
        // prior attempt reached its commit point — roll it forward (recover
        // re-runs the idempotent renames, which ends by writing the committed
        // marker, so the check below then skips the replay); an attempt dir
        // without a marker is pre-commit garbage and is rolled back. Scoped
        // to THIS batch's tx id: another writer sharing the output path
        // (different txPrefix, concurrent query) keeps its in-flight
        // transaction untouched.
        graft.sinks.DirectOutput.recover(conf, s"$path/_tx", Seq(target),
          txFilter = _ == s"$txPrefix-$batchId")
        if (fs.exists(committed)) () // replayed batch: already committed, skip
        else {
          // still no committed marker: anything under target is leftover from
          // a commit that crashed between its rename pass and its marker
          // write — re-writing alongside it would duplicate rows (fresh
          // job-UUID part names never collide with the old ones). The batch
          // is replayed deterministically from the checkpoint, so clearing
          // and re-writing is safe.
          val tpath = new org.apache.hadoop.fs.Path(target)
          if (fs.exists(tpath)) fs.delete(tpath, true)
          graft.sinks.DirectOutput.write(s"$txPrefix-$batchId", s"$path/_tx",
            Seq(graft.sinks.DirectOutput.Spec(batch, target, format = format)))
        }
      }
      .start()

  /** Streaming ingestion with incremental dedup — the full production
    * loop in one sink: each micro-batch is deduped against the PERSISTED
    * index (everything accepted by earlier batches and earlier runs) and
    * within itself, using any [[graft.dedup.IngestDedup]] strategy
    * (exact fingerprints, MinHash, SimHash, or embedding cosine), then
    * ONE transaction commits both the surviving rows
    * (`<path>/batch=<id>/`) and their index rows appended to the index
    * home
    * (`<indexHome>/batch=<id>/`) — data and index advance atomically, so
    * a crash can never publish rows whose fingerprints are missing (a
    * later replay would re-accept duplicates) or vice versa. Replayed
    * batches are detected by their committed marker and skipped, exactly
    * like [[directSink]].
    *
    * Scale shape: the index read is 16 bytes/doc parquet (column-pruned);
    * the batch is the only text that moves. Attempt dirs are dot-prefixed,
    * so concurrent index readers never see in-flight writes.
    *
    * Index layout: `<indexHome>/tx=<txPrefix>-<batchId>-<writerId>/` where
    * writerId hashes the output `path`. The writer identity matters: batch
    * ids restart at 0 for every query, so a second ingest stream sharing
    * the index home (or the same stream after a checkpoint reset) would
    * otherwise compute the SAME append dir as an earlier run's batch and
    * clear the already-committed fingerprints as pre-commit leftovers —
    * silently re-admitting every duplicate (found by the fresh-checkpoint
    * replay spec).
    */
  def ingestSink(stream: DataFrame, strategy: graft.dedup.IngestDedup, path: String,
      indexHome: String, checkpoint: String, txPrefix: String = "ingest",
      trigger: Trigger = Trigger.AvailableNow(), format: String = "parquet")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val target = s"$path/batch=$batchId"
        val idxTarget = s"$indexHome/tx=$txPrefix-$batchId-${StreamOps.writerId(path)}"
        val conf = spark.sparkContext.hadoopConfiguration
        // per-path filesystems: data and index may live on DIFFERENT
        // stores (hot data on HDFS, small index on object storage) — one
        // FileSystem bound to the data URI would throw "Wrong FS" on
        // every index operation
        def fsOf(p: String) = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(p), conf)
        val fs = fsOf(target)
        val idxFs = fsOf(indexHome)
        // roll this batch's own crashed transaction forward/back first;
        // other writers' transactions are untouched (txFilter)
        graft.sinks.DirectOutput.recover(conf, s"$path/_tx", Seq(target, idxTarget),
          txFilter = _ == s"$txPrefix-$batchId")
        val committed = new org.apache.hadoop.fs.Path(target, "_GRAFT_COMMITTED")
        if (!fs.exists(committed)) {
          // pre-commit leftovers from a crash between rename and marker:
          // clear both targets, the checkpoint replays deterministically
          Seq(target -> fs, idxTarget -> idxFs).foreach { case (t, f) =>
            val p = new org.apache.hadoop.fs.Path(t)
            if (f.exists(p)) f.delete(p, true)
          }
          val idxPath = new org.apache.hadoop.fs.Path(indexHome)
          val index =
            if (idxFs.exists(idxPath) && idxFs.listStatus(idxPath).nonEmpty)
              spark.read.parquet(indexHome)
            else strategy.emptyIndex(spark)
          val survivors = strategy.dedup(batch, index).persist()
          try
            graft.sinks.DirectOutput.write(s"$txPrefix-$batchId", s"$path/_tx", Seq(
              graft.sinks.DirectOutput.Spec(survivors, target, format = format),
              graft.sinks.DirectOutput.Spec(strategy.indexOf(survivors), idxTarget)))
          finally { survivors.unpersist(false); () }
        }
      }
      .start()

  /** Streaming CSV ingest with corrupt-record QUARANTINE routing — the
    * continuous form of [[graft.sources.Sources.csvQuarantine]]: each
    * micro-batch parses once (PERMISSIVE + `_corrupt_record`), splits
    * inside foreachBatch, and lands in per-batch subdirectories of the
    * valid/quarantine sinks. The per-batch `overwrite` of `batch=N`
    * makes a retried micro-batch idempotent (same batch id → same
    * directory, rewritten); the quarantine carries the RAW line for
    * replay. Each micro-batch is cached for the two writes — one parse,
    * and the filter-on-corrupt-column-only restriction of file streams
    * doesn't apply to the cached frame.
    */
  def csvQuarantineSink(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      validDir: String, quarantineDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val raw = spark.readStream
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).csv(path)
    raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          cached.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
            .write.mode("overwrite").parquet(s"$validDir/batch=$batchId")
          cached.filter(col("_corrupt_record").isNotNull)
            .select(col("_corrupt_record").as("raw_line"))
            .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** Stream a CDC feed into a maintained [[graft.sinks.Upsert]] table:
    * each micro-batch of I/U/D change rows is applied copy-on-write —
    * only the buckets containing the batch's keys are rewritten, one
    * transaction per batch. Create the table ([[graft.sinks.Upsert
    * .create]]) before starting the sink.
    *
    * Exactly-once: an `_applied/<writerId>-<batchId>` marker records each
    * applied batch, so a replayed batch (restart before the checkpoint
    * advanced) is skipped; a crash between the upsert's commit and the
    * marker write re-applies the SAME changes, which is a state no-op
    * (same winners, same values — only a generation number is burned).
    * The writer id hashes the CHECKPOINT path: a fresh checkpoint replays
    * history under a new id instead of colliding with the old markers —
    * and a full-history replay is itself idempotent as long as `seq` is
    * globally ordered (the max-seq winner per key IS the current state).
    */
  def upsertSink(changes: DataFrame, tableDir: String, checkpoint: String,
      op: String = "_op", seq: String = "_seq",
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val wid = StreamOps.writerId(checkpoint)
        val dir = new org.apache.hadoop.fs.Path(s"$tableDir/_applied")
        val marker = new org.apache.hadoop.fs.Path(dir, s"$wid-$batchId")
        val f = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(tableDir), conf)
        if (!f.exists(marker)) {
          graft.sinks.Upsert.upsert(batch, tableDir, op, seq)
          f.mkdirs(dir)
          f.create(marker, true).close()
          // only the newest marker matters for replay detection — prune
          // this writer's older ones so the dir doesn't grow unboundedly
          Option(f.globStatus(new org.apache.hadoop.fs.Path(dir, s"$wid-*")))
            .getOrElse(Array.empty)
            .filter(_.getPath.getName.stripPrefix(s"$wid-").toLong < batchId)
            .foreach(s => f.delete(s.getPath, false))
        }
      }
      .start()

  /** Compact an [[ingestSink]] index home: every micro-batch appends one
    * small tx dir, and after thousands of batches the per-batch listing +
    * footer reads dominate the index scan — the classic streaming
    * small-files failure. Rewrites all current fingerprints as ONE
    * consolidated tx dir (committed through the same transactional
    * output), then deletes the superseded dirs.
    *
    * Crash safety leans on the index being a SET: if the delete pass dies
    * partway, superseded dirs coexist with the compacted one and every
    * fingerprint merely appears twice — `exactIncremental`'s anti-join is
    * unaffected by duplicates, and the next compaction reclaims the
    * space. Concurrent batch APPENDS need no coordination beyond the
    * usual single-compactor assumption: they land in new tx dirs the
    * compactor never touches (it snapshots the dir list before writing).
    * A concurrent index READ is different: an ingest batch that planned
    * its scan over the old dirs can hit FileNotFoundException when the
    * delete pass reclaims them mid-scan. That failure is transient and
    * SAFE — the batch commits atomically after the scan, so on
    * restart/retry it replays against the compacted index with identical
    * results (see the replay specs). Prefer running compaction between
    * triggers or with the ingest query stopped; do NOT paper over the
    * race with `ignoreMissingFiles`, which would silently drop the
    * reclaimed dirs' fingerprints from that batch's scan and admit
    * duplicates instead of failing recoverably.
    */
  def compactIndex(spark: SparkSession, indexHome: String,
      partitions: Int = 1): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val home = new org.apache.hadoop.fs.Path(indexHome)
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(indexHome), conf)
    if (!fs.exists(home)) return
    // snapshot BEFORE reading: appends racing the compaction stay live.
    // A previous compaction's own tx= dir is a normal member of the
    // snapshot — it gets folded in and reclaimed like any other.
    // COMMITTED dirs only: a tx dir without _GRAFT_COMMITTED is a LIVE or
    // crashed transaction — folding it would read a partial rename and
    // deleting it would destroy the attempt recover() needs, silently
    // losing fingerprints (duplicates re-admitted forever after). Such a
    // dir is skipped now and folded by a later compaction once committed
    // (or reclaimed by recover's rollback).
    val old = fs.listStatus(home).filter(s => s.isDirectory &&
      !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_") &&
      fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_GRAFT_COMMITTED")))
      .map(_.getPath).toSeq
    if (old.isEmpty) return
    // same `tx=` partition key as the appends: mixed key names under one
    // home would break partition discovery for index readers
    val compactId = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
    // strategy-agnostic: reading the leaf dirs directly skips the tx
    // partition column, so distinct() runs over exactly the columns the
    // strategy persists (fingerprints, banded sigs, quantized vectors)
    val fps = spark.read.parquet(old.map(_.toString): _*)
      .distinct()
      .repartition(partitions)
    graft.sinks.DirectOutput.write(compactId, s"$indexHome/_tx", Seq(
      graft.sinks.DirectOutput.Spec(fps, s"$indexHome/tx=$compactId")))
    old.foreach(p => fs.delete(p, true))
  }
}
