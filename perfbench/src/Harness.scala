package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{Caches, GraftSession, SparkEntry}
import graft.sinks.{DirectOutput, Upsert}

/** The JVM half of the benchmark: runs one workload on inputs that
  * `run.py` generated, the way `graft-submit` drives flows (a session
  * from `GraftSession.builder`, flows from `SparkEntry.queries`), and
  * writes raw samples and layer counters as JSON for `run.py` to check
  * and summarise.
  *
  * The harness overrides only master, shuffle partitions, local dir and
  * UI. It applies no per-query conf pins and no bench session tuning, so
  * changes to the engine's session profile show in its numbers.
  *
  * Arguments are `key=value` pairs; see `run.py` for the producer.
  */
object Harness {

  private val FlowProp = "perfbench.flow"

  final case class Span(id: Int, parent: Int, name: String, flow: String, startNs: Long, endNs: Long)

  /** In-memory span log, written once at the end of a traced run. */
  final class Spans(enabled: Boolean) {
    private val buf = mutable.ArrayBuffer.empty[Span]
    private var next = 1
    private var stack = List(0)
    def apply[A](name: String, flow: String)(body: => A): A = {
      if (!enabled) return body
      val id = synchronized { val i = next; next += 1; i }
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        synchronized { buf += Span(id, parent, name, flow, t0, System.nanoTime()) }
      }
    }
    def add(name: String, flow: String, parent: Int, t0: Long, t1: Long): Unit =
      if (enabled) synchronized {
        buf += Span(next, parent, name, flow, t0, t1); next += 1
      }
    def all: Seq[Span] = synchronized(buf.toList)
  }

  /** One timed unit of work: a flow (batch workloads) or a transaction
    * (commit workload). `commitMs` is the call-to-return time of the
    * `DirectOutput.write` / `Upsert.upsert` call inside it.
    */
  final case class Op(name: String, kind: String, flowS: Double, buildS: Double, commitMs: Double,
      ok: Boolean, error: String, out: String, extra: Map[String, String])

  private def nowS(): Double = System.nanoTime() / 1e9

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def vmHwmMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  // ---- JSON writing (the output is consumed by run.py) -------------------
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  // ---- tracing listeners -------------------------------------------------

  /** Counters from Spark's public listener APIs, attributed to flows
    * through the `perfbench.flow` local property (set on the thread that
    * calls into graft, inherited by the threads graft's `Jobs` forks).
    */
  final class Layers(spans: Spans) extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val jobs, stages, tasks, retries = new AtomicLong
    val runMs, cpuNs, gcMs, shufW, shufR, fetchMs, spill, scanB, scanRows, outB = new AtomicLong
    val stageFlow = new ConcurrentHashMap[Int, String]()
    val jobFlow = new ConcurrentHashMap[Int, (String, Long)]()
    val stageTaskMs = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()
    val flowRunMs = new ConcurrentHashMap[String, AtomicLong]()
    val flowOutB = new ConcurrentHashMap[String, AtomicLong]()
    val jobSpans = new ConcurrentHashMap[String, java.util.List[(Long, Long)]]()
    private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
    private val storage = new AtomicLong
    val peakStorage = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val flow = Option(e.properties).flatMap(p => Option(p.getProperty(FlowProp))).getOrElse("")
      jobFlow.put(e.jobId, (flow, System.nanoTime()))
      e.stageInfos.foreach(s => stageFlow.put(s.stageId, flow))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobFlow.get(e.jobId)).foreach { case (flow, t0) =>
        val t1 = System.nanoTime()
        jobSpans.computeIfAbsent(flow, _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
          .add((t0, t1))
        spans.add("spark.job", flow, -1, t0, t1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) retries.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        fetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spill.addAndGet(m.diskBytesSpilled)
        scanB.addAndGet(m.inputMetrics.bytesRead)
        scanRows.addAndGet(m.inputMetrics.recordsRead)
        outB.addAndGet(m.outputMetrics.bytesWritten)
        stageTaskMs.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList())).add(m.executorRunTime)
        val flow = Option(stageFlow.get(e.stageId)).getOrElse("")
        flowRunMs.computeIfAbsent(flow, _ => new AtomicLong).addAndGet(m.executorRunTime)
        flowOutB.computeIfAbsent(flow, _ => new AtomicLong).addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) {
        val sz = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
        val prev = Option(blocks.put(i.blockId.name, sz)).map(_.longValue).getOrElse(0L)
        val cur = storage.addAndGet(sz - prev)
        peakStorage.accumulateAndGet(cur, math.max)
      }
    }
    /** Median over stages with >= 2 tasks of (max task time / median task time). */
    def stageSkew: Double = {
      val ratios = stageTaskMs.values.asScala.toSeq.flatMap { l =>
        val xs = l.synchronized(l.asScala.map(_.toDouble).toSeq).sorted
        val med = if (xs.isEmpty) 0.0 else xs(xs.size / 2)
        if (xs.size < 2 || med <= 0) None else Some(xs.last / med)
      }.sorted
      if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    }
  }

  final class Plans extends org.apache.spark.sql.util.QueryExecutionListener {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.metric.SQLMetric
    val executions, analysisMs, optimizerMs, physicalMs, files = new AtomicLong
    // each write node's metric is counted once, however many of the
    // executions this listener sees reach that node
    private val seenWrites =
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SQLMetric, java.lang.Boolean]())
    private def record(qe: QueryExecution): Unit = {
      executions.incrementAndGet()
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => optimizerMs.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => physicalMs.addAndGet(p.durationMs))
      // files written: `numFiles` of write nodes only (scans have a metric
      // of the same name that counts the files read)
      def walk(p: SparkPlan): Unit = {
        p match {
          case w: DataWritingCommandExec =>
            w.metrics.get("numFiles").filter(seenWrites.add).foreach(m => files.addAndGet(m.value))
          case _ => ()
        }
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case _ => (p.children ++ p.innerChildren.collect { case c: SparkPlan => c }).foreach(walk)
        }
      }
      try walk(qe.executedPlan) catch { case _: Throwable => () }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  final class Streams extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val batchMs = java.util.Collections.synchronizedList(new java.util.ArrayList[java.lang.Long]())
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = { batchMs.add(e.progress.batchDuration); () }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Counts whole-stage codegen fallbacks from Spark's own warning. */
  final class Fallbacks extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-fallbacks", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    val count = new AtomicLong
    val byFlow = new ConcurrentHashMap[String, AtomicLong]()
    @volatile var flow = ""
    override def append(ev: org.apache.logging.log4j.core.LogEvent): Unit = {
      val msg = Option(ev.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (msg.contains("Whole-stage codegen disabled for plan")) {
        count.incrementAndGet()
        byFlow.computeIfAbsent(flow, _ => new AtomicLong).incrementAndGet()
      }
    }
  }

  private def installFallbacks(): Fallbacks = {
    import org.apache.logging.log4j.core.LoggerContext
    val app = new Fallbacks
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    app
  }

  // ---- session -----------------------------------------------------------

  private def session(cores: Int, localDir: String): SparkSession = {
    val s = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(spark: SparkSession): Unit = {
    Caches.clear(spark, blocking = true)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- main --------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    def list(k: String): Seq[String] = args.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val workload = args("workload")
    val trace = args.getOrElse("trace", "0") == "1"
    val cores = args("cores").toInt
    val template = args("template")
    val data = args("data")
    val work = args("work")
    val flows = list("flows")
    val warm = list("warm")
    val changes = args.get("changes")
    val resultPath = args("result")
    val spans = new Spans(trace)

    val registry = SparkEntry.queries
    val unknown = (flows ++ warm).filterNot(registry.contains)
    require(unknown.isEmpty, s"flows missing from SparkEntry.queries: ${unknown.mkString(",")}")

    val outRoot = s"$work/out"
    val markerDir = s"$work/tx"
    var txSeq = 0
    def nextTx(): String = { txSeq += 1; f"t$txSeq%05d" }

    // ---- set-up, once and cold: session + untimed warm-up ---------------
    // run.py times it from the JVM's launch to `ready_epoch_s`
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val spark = spans("setup", "") {
      val s = session(cores, s"$work/local")
      // engine warm-up (scan, join, aggregate, transactional write) on the
      // template; it runs no flow under test, so batch flows stay cold
      import org.apache.spark.sql.functions.{count, lit, sum}
      val li = GraftSession.table(s, template, "lineitem")
      val o = GraftSession.table(s, template, "orders")
      val df = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n"))
      DirectOutput.write(nextTx(), markerDir, Seq(DirectOutput.Spec(df, s"$work/warm/generic")))
      s
    }
    val sessionReadyS = System.currentTimeMillis() / 1000.0 - jvmStart
    // the workload's own untimed warm-up, once: its flows on the template,
    // and for the commit loop one upsert and read of a scratch table, so
    // the first timed op pays no first-use cost
    val warmS = {
      val t0 = nowS()
      spans("warm", "") {
        warm.foreach { n =>
          val w = registry(n)(spark, template)
          DirectOutput.write(nextTx(), markerDir, Seq(DirectOutput.Spec(w, s"$work/warm/$n")))
          Caches.clear(spark, blocking = true)
        }
        changes.foreach { dir =>
          val table = s"$work/warm/table"
          Upsert.create(GraftSession.table(spark, template, "orders"), table, Seq("o_orderkey"), nBuckets = 64)
          Upsert.upsert(spark.read.parquet(s"$dir/warm.parquet"), table)
          Upsert.read(spark, table).write.mode("overwrite").parquet(s"$work/warm/table_read")
          Caches.clear(spark, blocking = true)
        }
      }
      nowS() - t0
    }
    val sc = spark.sparkContext

    // the commit loop's table, built as part of set-up: pseudo-sf0.1
    // orders, bucketed by key
    val tableDir = s"$work/table"
    val createS =
      if (workload != "commit_upsert") Double.NaN
      else {
        val t0 = nowS()
        spans("sinks.upsert_create", "") {
          Upsert.create(GraftSession.table(spark, data, "orders"), tableDir, Seq("o_orderkey"), nBuckets = 64)
        }
        nowS() - t0
      }
    val readyEpochS = System.currentTimeMillis() / 1000.0

    val layers = new Layers(spans)
    val plans = new Plans
    val streams = new Streams
    val fallbacks = if (trace) installFallbacks() else null
    if (trace) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    }

    // ---- timed region --------------------------------------------------
    val ops = mutable.ArrayBuffer.empty[Op]
    var leaked = 0L
    val gc0 = gcMillis()
    heapPools.foreach(_.resetPeakUsage())
    val (cc0, ct0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)

    def afterOp(): Unit = spans("caches.clear", "") {
      Caches.clear(spark, blocking = true)
      val left = sc.getPersistentRDDs
      leaked += left.size
      left.values.foreach(_.unpersist(true))
    }

    /** builder call -> committed output of one flow. */
    def runFlow(name: String, dir: String, flowId: String): Op = {
      sc.setLocalProperty(FlowProp, flowId)
      if (fallbacks != null) fallbacks.flow = flowId
      val out = s"$outRoot/$flowId"
      val t0 = nowS()
      var t1 = t0
      var tc = t0
      val res = try spans("flow", flowId) {
        val df = spans("queries.build", flowId)(registry(name)(spark, dir))
        t1 = nowS()
        tc = t1
        spans("sinks.direct_write", flowId)(
          DirectOutput.write(nextTx(), markerDir, Seq(DirectOutput.Spec(df, out))))
        None
      } catch { case e: Throwable => Some(e.toString) }
      val t2 = nowS()
      sc.setLocalProperty(FlowProp, null)
      afterOp()
      Op(name, "flow", t2 - t0, t1 - t0, if (res.isEmpty) (t2 - tc) * 1000 else Double.NaN,
        res.isEmpty, res.getOrElse(""), out, Map.empty)
    }

    // the DataFrames each transaction committed, by op index: their input
    // files are summed after the clock stops
    val txInputs = mutable.Map.empty[Int, Seq[org.apache.spark.sql.DataFrame]]
    val loopStart = nowS()
    workload match {
      case "batch_mix" | "heavy_sf1" =>
        flows.zipWithIndex.foreach { case (n, i) => ops += runFlow(n, data, f"f$i%03d_$n") }
      case "commit_upsert" =>
        // a fixed amount of work: one cycle per flow group, each one
        // multi-output transaction, then one change batch applied and read back
        val batches = Files.list(Paths.get(changes.get)).iterator().asScala
          .filter(_.getFileName.toString.matches("b\\d+\\.parquet")).map(_.toString).toSeq.sorted
        val groups = flows.grouped(args("tx_size").toInt).toSeq
        require(batches.size >= groups.size, s"${groups.size} cycles need as many change batches")
        for (i <- groups.indices) {
          // one multi-output transaction over a seeded group of flows
          val group = groups(i)
          val txId = f"o$i%03d_tx"
          sc.setLocalProperty(FlowProp, txId)
          if (fallbacks != null) fallbacks.flow = txId
          val out = s"$outRoot/$txId"
          val t0 = nowS()
          var tc = t0
          val res = try spans("flow", txId) {
            val specs = spans("queries.build", txId)(
              group.map(n => DirectOutput.Spec(registry(n)(spark, data), s"$out/$n")))
            txInputs(ops.size) = specs.map(_.df)
            tc = nowS()
            spans("sinks.direct_write", txId)(DirectOutput.write(nextTx(), markerDir, specs))
            None
          } catch { case e: Throwable => Some(e.toString) }
          val t2 = nowS()
          ops += Op(group.mkString("+"), "tx", t2 - t0, tc - t0,
            if (res.isEmpty) (t2 - tc) * 1000 else Double.NaN, res.isEmpty, res.getOrElse(""), out,
            Map("flows" -> group.mkString(",")))
          sc.setLocalProperty(FlowProp, null)
          afterOp()

          // one change batch, then a read of the table it produced
          val batch = batches(i)
          val upId = f"o$i%03d_up"
          sc.setLocalProperty(FlowProp, upId)
          if (fallbacks != null) fallbacks.flow = upId
          val readOut = s"$outRoot/$upId"
          val u0 = nowS()
          var uc = u0
          var u3 = u0
          var gen = -1
          val ures = try spans("flow", upId) {
            val ch = spark.read.parquet(batch)
            uc = nowS()
            gen = spans("sinks.upsert", upId)(Upsert.upsert(ch, tableDir))
            u3 = nowS()
            // the read's own jobs are attributed apart from the upsert's
            sc.setLocalProperty(FlowProp, s"$upId.read")
            spans("sources.upsert_read", s"$upId.read")(
              Upsert.read(spark, tableDir).write.mode("overwrite").parquet(readOut))
            None
          } catch { case e: Throwable => Some(e.toString) }
          val u2 = nowS()
          ops += Op(Paths.get(batch).getFileName.toString, "upsert", u2 - u0, 0.0,
            if (ures.isEmpty) (u3 - uc) * 1000 else Double.NaN, ures.isEmpty, ures.getOrElse(""),
            readOut, Map("batch" -> batch, "generation" -> gen.toString,
              "input_bytes" -> Files.size(Paths.get(batch)).toString))
          sc.setLocalProperty(FlowProp, null)
          afterOp()
        }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val makespan = nowS() - loopStart
    // bytes of the generated input files each transaction's flows read
    val dataRoot = Paths.get(data).toAbsolutePath.normalize
    txInputs.foreach { case (i, dfs) =>
      val bytes = dfs.map { df =>
        df.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)).normalize)
          .filter(_.startsWith(dataRoot)).distinct.map(Files.size).sum
      }.sum
      ops(i) = ops(i).copy(extra = ops(i).extra + ("input_bytes" -> bytes.toString))
    }
    val gcMs = gcMillis() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
    val compileSnapshot = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
    // the histogram keeps every sample until its reservoir (1028) fills;
    // beyond that the sum is estimated from the sampled mean and flagged
    val compileExact = CodegenMetrics.METRIC_COMPILATION_TIME.getCount <= compileSnapshot.size
    val compileMs =
      if (compileExact) (compileSnapshot.getValues.sum - ct0).toDouble
      else compileSnapshot.getMean * compiles

    if (trace) Thread.sleep(1500) // let the listener buses drain
    val rss = vmHwmMb()

    // ---- result --------------------------------------------------------
    val opsJson = arr(ops.toSeq.map { o =>
      obj(Seq("name" -> q(o.name), "kind" -> q(o.kind), "flow_s" -> num(o.flowS), "build_s" -> num(o.buildS),
        "commit_ms" -> num(o.commitMs), "ok" -> o.ok.toString, "error" -> q(o.error), "out" -> q(o.out),
        "extra" -> obj(o.extra.toSeq.map { case (k, v) => k -> q(v) })))
    })
    val layerJson =
      if (!trace) "null"
      else {
        val runS = layers.runMs.get / 1000.0
        // sinks self time: a commit call's duration minus the Spark jobs it ran
        val commitSpans = spans.all.filter(s => s.name == "sinks.direct_write" || s.name == "sinks.upsert")
        def covered(flow: String, t0: Long, t1: Long): Long = {
          val js = Option(layers.jobSpans.get(flow)).map(l => l.synchronized(l.asScala.toList)).getOrElse(Nil)
            .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter { case (a, b) => b > a }.sortBy(_._1)
          var total = 0L; var end = Long.MinValue
          js.foreach { case (a, b) =>
            val s = math.max(a, end)
            if (b > s) total += b - s
            end = math.max(end, b)
          }
          total
        }
        val prepNs = commitSpans.map(s => covered(s.flow, s.startNs, s.endNs))
        val selfMs = commitSpans.zip(prepNs).map { case (s, p) => (s.endNs - s.startNs - p) / 1e6 }.sorted
        val streamMs = streams.batchMs.synchronized(streams.batchMs.asScala.map(_.toDouble).toSeq).sorted
        val m = Seq(
          "queries.build_s" -> ops.map(_.buildS).sum,
          "plans.analysis_ms" -> plans.analysisMs.get.toDouble,
          "plans.optimizer_ms" -> plans.optimizerMs.get.toDouble,
          "plans.physical_ms" -> plans.physicalMs.get.toDouble,
          "plans.executions" -> plans.executions.get.toDouble,
          "functions.compiles" -> compiles.toDouble,
          "functions.compile_ms" -> compileMs,
          "functions.codegen_fallbacks" -> fallbacks.count.get.toDouble,
          "jobs.jobs" -> layers.jobs.get.toDouble,
          "jobs.stages" -> layers.stages.get.toDouble,
          "jobs.tasks" -> layers.tasks.get.toDouble,
          "jobs.task_retries" -> layers.retries.get.toDouble,
          "jobs.core_idle_share" -> (1.0 - runS / (makespan * cores)),
          "tasks.run_s" -> runS,
          "tasks.cpu_s" -> layers.cpuNs.get / 1e9,
          "tasks.gc_s" -> layers.gcMs.get / 1000.0,
          "shuffle.write_mb" -> layers.shufW.get / 1e6,
          "shuffle.read_mb" -> layers.shufR.get / 1e6,
          "shuffle.fetch_wait_s" -> layers.fetchMs.get / 1000.0,
          "shuffle.spill_mb" -> layers.spill.get / 1e6,
          "shuffle.stage_skew" -> layers.stageSkew,
          "sources.scan_mb" -> layers.scanB.get / 1e6,
          "sources.scan_rows" -> layers.scanRows.get.toDouble,
          "sinks.prepare_s" -> prepNs.sum / 1e9,
          "sinks.commit_ms" -> (if (selfMs.isEmpty) Double.NaN else selfMs(selfMs.size / 2)),
          "sinks.write_mb" -> layers.outB.get / 1e6,
          "sinks.files" -> plans.files.get.toDouble,
          "caches.leaked_rdds" -> leaked.toDouble,
          "caches.peak_storage_mb" -> layers.peakStorage.get / 1e6,
          "streaming.batches" -> streamMs.size.toDouble,
          "streaming.batch_p50_ms" -> (if (streamMs.isEmpty) 0.0 else streamMs(streamMs.size / 2)),
          "jvm.gc_ms" -> gcMs.toDouble,
          "jvm.heap_peak_mb" -> heapPeakMb)
        obj(m.map { case (k, v) => k -> num(v) } ++ Seq(
          "flow_run_s" -> obj(layers.flowRunMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v.get / 1000.0) }),
          "flow_write_bytes" -> obj(layers.flowOutB.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.get.toString }),
          "codegen_fallbacks_by_flow" -> obj(fallbacks.byFlow.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.get.toString }),
          "compile_ms_exact" -> compileExact.toString,
          "spans" -> arr(spans.all.sortBy(_.id).map(s => arr(Seq(s.id.toString, s.parent.toString, q(s.name), q(s.flow),
            s.startNs.toString, s.endNs.toString))))))
      }
    val json = obj(Seq(
      "workload" -> q(workload),
      "cores" -> cores.toString,
      "jvm_start_epoch_s" -> num(jvmStart),
      "session_ready_s" -> num(sessionReadyS),
      "ready_epoch_s" -> num(readyEpochS),
      "makespan_s" -> num(makespan),
      "create_s" -> num(createS),
      "warm_s" -> num(warmS),
      "peak_rss_mb" -> num(rss),
      "gc_ms" -> gcMs.toString,
      "compiles" -> compiles.toString,
      "leaked_rdds" -> leaked.toString,
      "spark_version" -> q(spark.version),
      "jvm" -> q(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")),
      "ops" -> opsJson,
      "oracles" -> obj((flows ++ warm).distinct.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> q(_)))),
      "layers" -> layerJson))
    Files.write(Paths.get(resultPath), json.getBytes(StandardCharsets.UTF_8))
    stopSession(spark)
  }
}
