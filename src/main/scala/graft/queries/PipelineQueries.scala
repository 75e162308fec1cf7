package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession.table
import graft.iterative.Rounds
import graft.sinks.{DirectOutput, ZoneMap, ZOrder}
import graft.streaming.StreamOps

/** Lifecycle coverage: transactional direct output + re-input, iterative
  * parameter rounds with NEVER/PARAMETER caching, and structured-streaming
  * window aggregation — each verified against a batch DuckDB oracle.
  */
object PipelineQueries {

  private val writtenFeeds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val dirtyFeedSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  /** The deterministically-dirtied CSV orders feed shared by the batch
    * and streaming quarantine queries: every 97th key drops its last
    * field (wrong token count), every 89th writes an unparsable price.
    * Written once per JVM (the persistedIndex discipline) — the queries
    * measure INGEST, not feed generation.
    */
  private def dirtyFeed(s: SparkSession, dir: String): String = {
    val out = s"${sys.props("java.io.tmpdir")}/graft_csvq_${s.sparkContext.applicationId}"
    if (writtenFeeds.add(out)) {
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast(StringType).as("_p"))
        .select(
          when(col("o_orderkey") % 97 === 0,
            concat_ws(",", col("o_orderkey"), col("o_orderstatus")))
          .when(col("o_orderkey") % 89 === 0,
            concat_ws(",", col("o_orderkey"), col("o_orderstatus"), lit("notanumber")))
          .otherwise(concat_ws(",", col("o_orderkey"), col("o_orderstatus"), col("_p")))
          .as("value"))
        .coalesce(4).write.mode("overwrite").text(out)
    }
    out
  }

  /** Decimal-exact per-status aggregate of the valid port, quarantine
    * count riding every row.
    */
  private def quarantineSummary(valid: DataFrame, quarantine: DataFrame): DataFrame =
    valid.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_valid"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_total"))
      .crossJoin(broadcast(quarantine.agg(count(lit(1)).as("n_quarantined"))))
      .select(col("o_orderstatus"), col("n_valid"), col("sum_total"),
        col("n_quarantined"))

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    /** Write orders partitioned by status through the 3-phase transactional
      * sink, read it back as a direct input, aggregate. The oracle
      * aggregates the source table directly — equality proves the
      * round-trip wrote exactly the input.
      */
    "direct_io_roundtrip" -> { (s, dir) =>
      // per-process dir: Verify (sbt) and Bench (plain java) may run
      // concurrently, and setup/recover on a shared path would race
      val out = s"${sys.props("java.io.tmpdir")}/graft_direct_out_${s.sparkContext.applicationId}"
      val conf = s.sparkContext.hadoopConfiguration
      DirectOutput.setup(conf, Seq(out))
      DirectOutput.recover(conf, s"$out/_tx", Seq(out))
      DirectOutput.write(
        txId = "verify",
        markerDir = s"$out/_tx",
        specs = Seq(DirectOutput.Spec(
          // size the write to the dynamic partitions: one task per status
          // writes 1 file each instead of 32 tasks x 3 statuses = 96 — the
          // attempt job's commit and the read-back are O(files). At real
          // scale pick a task count per partition that matches data volume.
          table(s, dir, "orders").repartition(3, col("o_orderstatus")),
          out, partitionBy = Seq("o_orderstatus"))))
      graft.sources.Sources.direct(s, "parquet", out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_totalprice")).as("max_price"))
    },

    /** Zone-map data skipping: cluster-write lineitem on l_orderkey into
      * 16 range-disjoint files with a footer-stats index, then answer a
      * key-range aggregate through the pruned read (the index plans the
      * scan over ~1/10 of the files; ZoneMapSpec pins the pruning
      * itself). The oracle runs the same range aggregate on the source
      * table — equality proves pruning never changes the answer.
      */
    "zonemap_prune" -> { (s, dir) =>
      // per-process dir, same reasoning as direct_io_roundtrip
      val out = s"${sys.props("java.io.tmpdir")}/graft_zonemap_${s.sparkContext.applicationId}"
      ZoneMap.write(table(s, dir, "lineitem"), out, "l_orderkey", numFiles = 16)
      ZoneMap.read(s, out, "l_orderkey", 1000L, 3000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"))
    },

    /** Per-file Bloom point-lookup index ([[graft.sinks.BloomIndex]]):
      * lineitem HASH-clustered by order key (every file spans the full
      * key range — zone maps admit all 16 files), then one order's lines
      * fetched through the bloom-pruned read (~1 admitted file;
      * BloomIndexSpec pins the pruning and the fail-open contract for
      * unindexed files). The oracle runs the same point filter on the
      * source table — pruning never changes the answer.
      */
    "bloom_lookup" -> { (s, dir) =>
      // per-process dir, same reasoning as direct_io_roundtrip
      val out = s"${sys.props("java.io.tmpdir")}/graft_bloomidx_${s.sparkContext.applicationId}"
      table(s, dir, "lineitem").repartition(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(out)
      graft.sinks.BloomIndex.build(s, out, "l_orderkey",
        expectedItemsPerFile = 8192)
      graft.sinks.BloomIndex.read(s, out, "l_orderkey", 1994L)
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_partkey")).as("min_part"), max(col("l_suppkey")).as("max_supp"))
    },

    /** Schema evolution across ingest batches: batch 1 lands without a
      * column that batch 2 adds (the normal drift of a long-lived feed);
      * a `mergeSchema` read reconciles the union schema, old rows
      * surfacing NULL for the new column. The aggregation separates the
      * batches so a read that silently dropped either schema (parquet's
      * default picks ONE footer) fails the hash compare, not just a
      * count. At 100 TB, merge-on-read is for the transition window —
      * the steady state backfills or pins a reader schema; footers are
      * all that is read to reconcile, never data.
      */
    "schema_evolution" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_evolve_${s.sparkContext.applicationId}"
      val orders = table(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$out/batch=1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("batch"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), count(col("o_totalprice")).as("n_priced"),
          max(col("o_totalprice")).as("max_price"))
        .withColumn("batch", col("batch").cast(LongType))
    },

    /** Footer-only aggregation (parquet aggregate pushdown, DSv2):
      * COUNT/MIN/MAX answered from row-group statistics without reading a
      * single data page — the 100 TB "how big is this table" query at
      * metadata cost. Pushdown exists only on the DSv2 read path, so the
      * aggregate runs on a [[graft.GraftSession.pinned]] clone with
      * parquet aggregate pushdown on and parquet removed from the v1
      * fallback list; its one row comes back on `s` with the same schema.
      * The caller's session confs are never touched, so no concurrent
      * flow sees them. MetadataAggSpec checks PushedAggregation in the
      * scan.
      */
    "metadata_agg" -> { (s, dir) =>
      val footer = graft.GraftSession.pinned(s, Map(
        "spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> ""))
      val agg = footer.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"))
      s.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    },

    /** Write-side file sizing ([[graft.sinks.Sized.rebalancedWrite]]):
      * lineitem spread over 32 shuffle partitions lands as a handful of
      * size-targeted files because AQE's rebalance picks the output
      * partition count from measured bytes, not the task count — the
      * PREVENTIVE answer to the small-files problem `compact_files`
      * repairs after the fact. The output folds the written file count
      * into a band boolean (1 ≤ files < 32: fewer than the input
      * partitions, at least one), so a write that stops coalescing fails
      * the hash compare; SizedWriteSpec pins the monotone size→count
      * relationship and the split of an oversized single partition.
      */
    "rebalanced_write" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_sized_${s.sparkContext.applicationId}"
      val li = table(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .repartition(32)
      // target scales with the INPUT (≈1/8 of the source file), so the
      // expected output file count is SF-independent — a fixed byte
      // target would blow past the 32-file band at large scale factors
      // even though the sizing worked exactly as designed
      val srcBytes = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet"))
        .getLength
      graft.sinks.Sized.rebalancedWrite(li, out,
        targetShuffleBytes = math.max(srcBytes / 8, 64L << 10))
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(out))
        .count(st => st.getPath.getName.startsWith("part-"))
      s.read.parquet(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .withColumn("files_sized", lit(nFiles >= 1 && nFiles < 32))
    },

    /** Transactional small-file compaction ([[graft.sinks.Compact]]):
      * orders decayed into 24 KB-sized files, compacted back to one
      * target-sized file — large files never rewritten, swap crash-safe
      * (roll-forward/rollback pinned by CompactSpec). The oracle
      * aggregates the source table: equality proves compaction preserved
      * every row.
      */
    "compact_files" -> { (s, dir) =>
      // per-process dir, same reasoning as direct_io_roundtrip
      val out = s"${sys.props("java.io.tmpdir")}/graft_compact_${s.sparkContext.applicationId}"
      table(s, dir, "orders").repartition(24)
        .write.mode("overwrite").parquet(out)
      val stats = graft.sinks.Compact.compact(s, out,
        targetBytes = 1L << 30, smallBytes = 1L << 29)
      assert(stats.compacted == 24 && stats.written >= 1)
      s.read.parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_totalprice")).as("max_price"))
    },

    /** Z-order multi-column data skipping ([[graft.sinks.ZOrder]]):
      * lineitem clustered on the interleaved bits of (l_orderkey,
      * l_partkey) into 16 files, then a conjunctive range aggregate
      * answered through the pruned read — BOTH dimensions prune, which
      * no single-column sort can give (ZOrderSpec pins the pruning).
      * The oracle runs the same range aggregate on the source table —
      * equality proves pruning never changes the answer.
      */
    "zorder_prune" -> { (s, dir) =>
      // per-process dir, same reasoning as direct_io_roundtrip
      val out = s"${sys.props("java.io.tmpdir")}/graft_zorder_${s.sparkContext.applicationId}"
      ZOrder.write(table(s, dir, "lineitem"), out,
        Seq("l_orderkey", "l_partkey"), numFiles = 16)
      ZOrder.read(s, out, Seq(("l_orderkey", 1000L, 3000L), ("l_partkey", 0L, 500L)))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_key"), max(col("l_partkey")).as("max_part"))
    },

    /** Arbitrary-InputFormat direct input (the reference's Hadoop
      * InputFormat escape hatch): orders round-trips through a Hadoop
      * SequenceFile — written via saveAsNewAPIHadoopFile, read back via
      * [[graft.sources.Sources.hadoop]] — then aggregates. The oracle
      * aggregates the source table: equality proves the format boundary
      * preserved every record.
      */
    "hadoop_input" -> { (s, dir) =>
      import org.apache.hadoop.io.{LongWritable, Text}
      val out = s"${sys.props("java.io.tmpdir")}/graft_seqfile"
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      table(s, dir, "orders").select("o_orderkey", "o_orderstatus").rdd
        .map(r => (new LongWritable(r.getLong(0)), new Text(r.getString(1))))
        .saveAsNewAPIHadoopFile(out, classOf[LongWritable], classOf[Text],
          classOf[org.apache.hadoop.mapreduce.lib.output.SequenceFileOutputFormat[LongWritable, Text]])
      graft.sources.Sources.hadoop(s, out,
        classOf[org.apache.hadoop.mapreduce.lib.input.SequenceFileInputFormat[LongWritable, Text]],
        classOf[LongWritable], classOf[Text],
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType))))(
        (k, v) => org.apache.spark.sql.Row(k.get(), v.toString))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"))
    },

    /** Avro round-trip through the arbitrary-InputFormat path: orders
      * written as Avro container files (AvroKeyOutputFormat, schema via
      * job conf), read back with [[graft.sources.Sources.hadoop]] +
      * AvroKeyInputFormat and the reader schema as per-source extra
      * configuration — the reference's Direct I/O per-source conf shape.
      * GenericRecords are copied field-by-field inside the scan task
      * (Avro readers reuse the datum instance). The oracle aggregates
      * the source table: equality proves the Avro boundary preserved
      * every record and type (long / string / double).
      */
    "avro_roundtrip" -> { (s, dir) =>
      import org.apache.avro.Schema
      import org.apache.avro.generic.{GenericData, GenericRecord}
      import org.apache.avro.mapred.AvroKey
      import org.apache.hadoop.io.NullWritable
      val schemaJson =
        """{"type":"record","name":"Order","fields":[
          |{"name":"o_orderkey","type":"long"},
          |{"name":"o_orderstatus","type":"string"},
          |{"name":"o_totalprice","type":"double"}]}""".stripMargin
      val out = s"${sys.props("java.io.tmpdir")}/graft_avro_${s.sparkContext.applicationId}"
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val job = org.apache.hadoop.mapreduce.Job.getInstance(s.sparkContext.hadoopConfiguration)
      org.apache.avro.mapreduce.AvroJob.setOutputKeySchema(job,
        new Schema.Parser().parse(schemaJson))
      table(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice").rdd
        .mapPartitions { it =>
          val schema = new Schema.Parser().parse(schemaJson)
          it.map { r =>
            val rec = new GenericData.Record(schema)
            rec.put("o_orderkey", r.getLong(0))
            rec.put("o_orderstatus", r.getString(1))
            rec.put("o_totalprice", r.getDouble(2))
            (new AvroKey[GenericRecord](rec), NullWritable.get())
          }
        }
        .saveAsNewAPIHadoopFile(out,
          classOf[AvroKey[GenericRecord]], classOf[NullWritable],
          classOf[org.apache.avro.mapreduce.AvroKeyOutputFormat[GenericRecord]],
          job.getConfiguration)
      graft.sources.Sources.hadoop(s, out,
        classOf[org.apache.avro.mapreduce.AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType))),
        conf = Map("avro.schema.input.key" -> schemaJson))(
        (k, _) => org.apache.spark.sql.Row(
          k.datum().get("o_orderkey").asInstanceOf[Long],
          k.datum().get("o_orderstatus").toString,
          k.datum().get("o_totalprice").asInstanceOf[Double]))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_totalprice")).as("max_price"))
    },

    /** ORC round-trip through the transactional direct sink: the 3-phase
      * commit is format-agnostic (Spec.format), so the same setup →
      * prepare → commit path that writes parquet writes ORC; read back as
      * a direct input, aggregate. The oracle aggregates the source table
      * — equality proves the ORC boundary preserved every record and
      * type (long / string / double).
      */
    "orc_roundtrip" -> { (s, dir) =>
      // per-process dir, same reasoning as direct_io_roundtrip
      val out = s"${sys.props("java.io.tmpdir")}/graft_orc_${s.sparkContext.applicationId}"
      val conf = s.sparkContext.hadoopConfiguration
      DirectOutput.setup(conf, Seq(out))
      DirectOutput.recover(conf, s"$out/_tx", Seq(out))
      DirectOutput.write(
        txId = "verify-orc",
        markerDir = s"$out/_tx",
        specs = Seq(DirectOutput.Spec(
          table(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .repartition(4),
          out, format = "orc")))
      graft.sources.Sources.direct(s, "orc", out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_totalprice")).as("max_price"))
    },

    /** CSV Direct I/O round-trip: transactional write (header, explicit
      * delimiter) then schema-declared read-back — the reference's
      * directio-csv surface. Schema on read is REQUIRED (inference is a
      * full extra scan of a 100 TB source). The price column is DOUBLE
      * end to end, matching the fixture's storage type — a money column
      * stored as DECIMAL would declare DECIMAL here so the text parse
      * is exact rather than a double round-trip.
      */
    "csv_roundtrip" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_csv_${s.sparkContext.applicationId}"
      val conf = s.sparkContext.hadoopConfiguration
      DirectOutput.setup(conf, Seq(out))
      DirectOutput.recover(conf, s"$out/_tx", Seq(out))
      DirectOutput.write(
        txId = "verify-csv",
        markerDir = s"$out/_tx",
        specs = Seq(DirectOutput.Spec(
          table(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .repartition(4),
          out, format = "csv",
          options = Map("header" -> "true", "delimiter" -> "|"))))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      graft.sources.Sources.direct(s, "csv", out, Some(schema),
          Map("header" -> "true", "delimiter" -> "|"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_totalprice")).as("max_price"))
    },

    /** Corrupt-record CSV ingest with quarantine routing ([[graft.sources
      * .Sources.csvQuarantine]]): a deterministically dirtied feed —
      * every 97th key drops its last field (wrong token count), every
      * 89th writes an unparsable price — parses in ONE permissive pass;
      * malformed lines land in a quarantine port carrying the raw line,
      * valid rows stay typed. The oracle replays the corruption rule on
      * the clean table: the engine must reject EXACTLY the planted lines
      * (n_quarantined rides every row) and aggregate the rest in exact
      * DECIMAL.
      */
    "csv_quarantine" -> { (s, dir) =>
      val out = dirtyFeed(s, dir)
      val (valid, quarantine) = graft.sources.Sources.csvQuarantine(s, out, dirtyFeedSchema)
      quarantineSummary(valid, quarantine)
    },

    /** The CONTINUOUS form of `csv_quarantine` ([[graft.streaming
      * .StreamOps.csvQuarantineSink]]): the same dirty feed consumed as
      * a file STREAM — each micro-batch parses once in PERMISSIVE mode
      * and foreachBatch routes malformed lines (raw text preserved) to a
      * quarantine sink and typed rows to the valid sink, idempotently
      * per batch id. Read back, the sinks must agree with the batch
      * ingest exactly — same oracle.
      */
    "stream_quarantine" -> { (s, dir) =>
      val feed = dirtyFeed(s, dir)
      val base = s"${sys.props("java.io.tmpdir")}/graft_sq_${s.sparkContext.applicationId}"
      val q = StreamOps.csvQuarantineSink(s, feed, dirtyFeedSchema,
        validDir = s"$base/valid", quarantineDir = s"$base/quarantine",
        checkpoint = s"$base/ckpt")
      q.awaitTermination()
      quarantineSummary(
        s.read.parquet(s"$base/valid"),
        s.read.parquet(s"$base/quarantine"))
    },

    /** JSON-lines Direct I/O round-trip: same transactional path, schema
      * declared on read (same 100 TB no-inference rule as csv).
      */
    "json_roundtrip" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_json_${s.sparkContext.applicationId}"
      val conf = s.sparkContext.hadoopConfiguration
      DirectOutput.setup(conf, Seq(out))
      DirectOutput.recover(conf, s"$out/_tx", Seq(out))
      DirectOutput.write(
        txId = "verify-json",
        markerDir = s"$out/_tx",
        specs = Seq(DirectOutput.Spec(
          table(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .repartition(4),
          out, format = "json")))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      graft.sources.Sources.direct(s, "json", out, Some(schema))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_totalprice")).as("max_price"))
    },

    /** Hive-style partitioned write + partition-directory pruning: events
      * land partitioned by day (`partitionBy` → one directory per date),
      * and the read of TWO days must scan only those directories — the
      * coarsest and cheapest file-skipping layer (before zone maps or
      * blooms), and the layout every 100 TB fact table uses for its time
      * dimension. PlanShapeSpec pins the PartitionFilters push; the
      * oracle recomputes the same two days from the raw table.
      */
    "partitioned_prune" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_partitioned_${s.sparkContext.applicationId}"
      table(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      s.read.parquet(out)
        .filter(col("event_date").isin("2024-01-05", "2024-01-06"))
        .groupBy(col("event_date").cast(StringType).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
    },

    /** Dynamic partition pruning: the fact side is partitioned by day and
      * joined to a SELECTIVE dimension (the three earliest purchase
      * dates) with no literal date predicate anywhere — the partitions to
      * scan are only knowable at RUNTIME, from the dim side's rows.
      * Catalyst inserts a dynamic-pruning subquery into the fact scan's
      * PartitionFilters (reusing the join's broadcast), so the fact table
      * reads 3 of ~30 partition directories instead of all of them — on a
      * 100 TB date-partitioned fact this is the difference between
      * scanning a month and scanning the three days a dim filter selects.
      * PlanShapeSpec pins the dynamicpruning expression in the scan; the
      * oracle replays the join declaratively.
      */
    "dpp_prune" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_dpp_${s.sparkContext.applicationId}"
      table(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      val dim = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("event_date")).distinct()
        .orderBy(col("event_date")).limit(3)
      s.read.parquet(out)
        .join(dim, "event_date")
        .groupBy(col("event_date").cast(StringType).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
    },

    /** Partition-wise idempotent backfill via DYNAMIC partition
      * overwrite: a day-partitioned daily aggregate is built from a
      * (simulated) bad first run — two days written WRONG — then
      * backfilled by re-running exactly those two days' input with
      * `partitionOverwriteMode=dynamic`: the rewrite replaces ONLY the
      * partitions present in the new data, every other day's files are
      * untouched (no read-modify-write of the whole table, no explicit
      * partition list to maintain). The read-back equals the clean
      * recompute — the idempotence contract every scheduled backfill
      * relies on at 100 TB, where "rewrite the table" is not an option.
      */
    "backfill_dynamic" -> { (s, dir) =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_backfill_${s.sparkContext.applicationId}"
      val daily = table(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
      val badDays = Seq("2024-01-05", "2024-01-06")
      // bad first run: the two target days land with poisoned counts
      daily.withColumn("n",
          when(col("event_date").isin(badDays: _*), lit(-1L)).otherwise(col("n")))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      // backfill: recompute ONLY the bad days' rows, dynamic overwrite.
      // The writer option takes precedence over the session conf, so the
      // session (shared with concurrently running flows) is never touched.
      daily.filter(col("event_date").isin(badDays: _*))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date").parquet(out)
      s.read.parquet(out)
        .select(col("event_date").cast(StringType).as("event_date"),
          col("event_type"), col("n"), col("sum_uid"))
    },

    /** Semi-structured extraction: typed fields pulled out of a JSON
      * string column (`get_json_object` — codegen'd path evaluation, no
      * UDF) and aggregated. At scale the lesson is WHERE the parse runs:
      * per-row in the scan stage, map-side combined — only (event_type,
      * partial sums) cross the exchange, never the JSON text.
      */
    "json_props" -> { (s, dir) =>
      // n_k counts the RAW extracted string (presence of the key), not the
      // long cast — the oracle's COUNT(json_extract_string(...)) does the
      // same, so a future fixture with a non-numeric k diverges in sum/min/
      // max (visible) rather than silently in the presence count
      table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").as("k_raw"))
        .withColumn("k", col("k_raw").cast(LongType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k_raw")).as("n_k"),
          sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    },

    /** Key-skew pre-flight ([[graft.operators.Profile.keySkew]]): exact
      * count percentiles + max/mean ratio for the orders-per-customer
      * key, from one keys+longs exchange and a counts-of-counts cumsum —
      * the diagnostic that decides plain shuffle vs AQE skew split vs
      * explicit salting before a big join runs. All-integer output.
      */
    "key_skew" -> { (s, dir) =>
      graft.operators.Profile.keySkew(
        table(s, dir, "orders"), keys = Seq("o_custkey"))
    },

    /** Copy-on-write upsert table ([[graft.sinks.Upsert]]): orders loaded
      * into hash-bucket generations, then two CDC batches applied — each
      * rewriting only its dirty buckets — and read back after a vacuum.
      * The oracle applies the same two changesets functionally; equality
      * proves create → upsert → upsert → vacuum → read preserves exactly
      * the expected table state. String edits only (float-free compare).
      */
    "upsert_bucketed" -> { (s, dir) =>
      import graft.sinks.Upsert
      // per-process dir: Upsert is single-writer, and the harness may run
      // Verify (sbt) and Bench (plain java) concurrently — a shared path
      // would be two writers racing create/recover on one table
      val out = s"${sys.props("java.io.tmpdir")}/graft_upsert_table_${s.sparkContext.applicationId}"
      val orders = table(s, dir, "orders")
      Upsert.create(orders, out, Seq("o_orderkey"), nBuckets = 8)
      def change(c: DataFrame, op: String): DataFrame =
        c.withColumn("_op", lit(op)).withColumn("_seq", lit(1L))
      Upsert.upsert(
        change(orders.filter(col("o_orderkey") % 10 < 2)
            .withColumn("o_orderstatus", lit("X")), "U")
          .unionByName(change(orders.filter(col("o_orderkey") % 10 === 7), "D")),
        out)
      Upsert.upsert(
        change(orders.filter(col("o_orderkey") % 10 === 1)
            .withColumn("o_orderstatus", lit("X"))
            .withColumn("o_orderpriority", lit("HOT")), "U")
          .unionByName(change(orders.filter(col("o_orderkey") % 100 === 2)
            .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
            .withColumn("o_orderpriority", lit("NEW2")), "I")),
        out)
      Upsert.vacuum(s, out)
      Upsert.read(s, out)
    },

    /** Bucketed co-located join: both sides written bucketed by the join
      * key, so the join itself plans with no Exchange — the shuffle was
      * paid once at write time. The oracle is the plain join (bucketing
      * must not change results).
      */
    "bucketed_join" -> { (s, dir) =>
      import graft.sinks.Bucketed
      Bucketed.write(table(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        "graft_li_bucketed", bucketBy = Seq("l_orderkey"), nBuckets = 8,
        sortBy = Seq("l_orderkey"))
      Bucketed.write(table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        "graft_ord_bucketed", bucketBy = Seq("l_orderkey"), nBuckets = 8,
        sortBy = Seq("l_orderkey"))
      Bucketed.read(s, "graft_li_bucketed")
        .join(Bucketed.read(s, "graft_ord_bucketed"), "l_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    },

    /** Branch sink fan-out in ONE Spark job
      * ([[graft.operators.BranchPorts.writeAll]]): orders tagged by
      * status, every port staged by a single partitionBy write and
      * committed to its own directory through the DirectOutput
      * transaction, then all three port dirs read back. The oracle is the
      * source table — equality proves the fan-out wrote every row to
      * exactly one port and lost/duplicated none.
      */
    "branch_writeall" -> { (s, dir) =>
      import graft.operators.Records._
      val root = s"${sys.props("java.io.tmpdir")}/graft_branch_fanout_${s.sparkContext.applicationId}"
      val conf = s.sparkContext.hadoopConfiguration
      val dests = Seq("F", "O", "P").map(v => v -> s"$root/$v")
      DirectOutput.setup(conf, dests.map(_._2) :+ s"$root/_tx")
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .branch(col("o_orderstatus"), tagCol = "_port")
        .writeAll(txId = "verify", markerDir = s"$root/_tx", dests = dests)
      s.read.parquet(dests.map(_._2): _*)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    },

    /** Concurrent parameter sweep ([[Rounds.runAll]]): the same three
      * status rounds as `iterative`, but the rounds execute concurrently
      * on the driver job pool (the reference's slot-bounded round queue)
      * — each round runs its OWN action inside the overlap window and
      * returns collected rows; shared NEVER/PARAMETER caches build once
      * under contention. The oracle is identical to `iterative`:
      * concurrency must not change a single value.
      */
    "iterative_concurrent" -> { (s, dir) =>
      val rounds = new Rounds(s)
      val out = rounds.runAll(
        Seq("F", "O", "P").map(v => Map("status" -> v)), parallelism = 3) { (ctx, r) =>
        val li = r.cacheOnce("lineitem") {
          table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        }
        val masters = r.cacheByParameter("orders", ctx, Seq("status")) { c =>
          table(s, dir, "orders").filter(col("o_orderstatus") === c("status"))
            .select(col("o_orderkey"))
        }
        val df = li.join(masters, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
          .withColumn("round_status", lit(ctx("status")))
        (df.schema, df.collect().toSeq) // the round's action, in-flight concurrently
      }
      rounds.close()
      val (schema, _) = out.head._2
      s.createDataFrame(
        s.sparkContext.parallelize(out.flatMap(_._2._2), 1), schema)
    },

    /** Three parameter rounds (one per order status); the lineitem base
      * projection is a NEVER input (scanned and persisted once for the
      * whole sweep), the per-round master set is PARAMETER-cached.
      */
    "iterative" -> { (s, dir) =>
      val rounds = new Rounds(s)
      val results = rounds.run(Seq("F", "O", "P").map(v => Map("status" -> v))) { (ctx, r) =>
        val li = r.cacheOnce("lineitem") {
          table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        }
        val masters = r.cacheByParameter("orders", ctx, Seq("status")) { c =>
          table(s, dir, "orders").filter(col("o_orderstatus") === c("status"))
            .select(col("o_orderkey"))
        }
        li.join(masters, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
          .withColumn("round_status", lit(ctx("status")))
      }
      // materialize before close(): the sweep's persisted inputs must not
      // outlive the query (Caches.clear can't see Rounds' internal caches);
      // tracked so the checkpoint blocks are freed by Caches.clear too
      val out = graft.Caches.localCheckpointTracked(
        results.map(_._2).reduce(_ unionAll _))
      rounds.close()
      out
    },

    /** Hourly tumbling-window counts per event type, computed by a real
      * streaming query (file source → watermark → window agg → memory
      * sink drain); oracle is the equivalent batch GROUP BY date_trunc.
      */
    "stream_window" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val agg = StreamOps.windowedAgg(raw, "ts", "1 hour", "2 hours",
        keys = Seq("event_type"),
        aggs = Seq(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DecimalType(28, 6))
            .cast(DoubleType).as("sum_v")))
      StreamOps.drainToBatch(agg)
        .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_v"))
    },

    /** Streaming HOPPING-window aggregation ([[StreamOps.windowedAgg]]
      * with slide < window): every event updates window/slide = 2
      * overlapping epoch-aligned state rows, watermark-evicted — the
      * streaming twin of the batch `hopping_window`, whose oracle
      * replays the same integer floor-division slot assignment per
      * event_type. Sum rides as exact DECIMAL cents, final DOUBLE cast
      * on both sides.
      */
    "stream_hopping" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val agg = StreamOps.windowedAgg(raw, "ts", "1 hour", "2 hours",
        keys = Seq("event_type"),
        aggs = Seq(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_v")),
        slide = Some("30 minutes"))
      StreamOps.drainToBatch(agg)
        .select(unix_micros(col("window.start").cast(TimestampType))
            .as("win_start_us"),
          col("event_type"), col("n"), col("sum_v"))
    },

    /** Streaming resample + gap fill ([[StreamOps.resampleStream]]):
      * the batch `resample_fill` series produced incrementally with
      * event-time timers — silent buckets emit on watermark passage even
      * when no record triggers them (ResampleParitySpec pins the timer
      * flush and batch parity). The oracle is the batch dense-grid SQL
      * restricted to watermark-final buckets (end ≤ max event time).
      */
    "stream_resample" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val out = StreamOps.resampleStream(raw, keyCol = "user_id",
        tsCol = "ts", valueCol = "value", intervalUs = 21600000000L)
      StreamOps.drainToBatch(out.toDF(), outputMode = "append")
        .select(col("key").as("user_id"), col("bucket_us"),
          col("n_events"), col("v_fill"))
    },

    /** Streaming gap-sessionization ([[StreamOps.sessionizeStream]], on
      * the `transformWithState` arbitrary-state API with event-time
      * timers + RocksDB state): the batch `sessionize` sessions produced
      * incrementally — a session emits once the watermark passes its end
      * by more than the gap, via timer even for keys that never see
      * another record. The oracle is the batch lag/cumsum replay
      * restricted to watermark-final sessions (end + gap < final
      * watermark, ms-floored exactly as Spark tracks event time).
      */
    "stream_sessionize" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val out = StreamOps.sessionizeStream(raw, keyCol = "user_id",
        tsCol = "ts", gapSeconds = 86400L)
      StreamOps.drainToBatch(out.toDF(), outputMode = "append")
        .select(col("key").as("user_id"), col("start_us"), col("end_us"),
          col("n_events"))
    },

    /** Streaming approximate distinct (HLL inside a watermarked window
      * aggregation): daily unique users computed by sketch — at 100 TB/day
      * the per-window state is a fixed-size sketch instead of a distinct
      * user set. Same verification contract as `approx_distinct`: the
      * drained result joins the batch exact counts and the estimate must
      * land within 10 % — a broken sketch fails the hash compare.
      */
    "stream_distinct_users" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val agg = StreamOps.windowedAgg(raw, "ts", "1 day", "2 hours",
        keys = Seq(),
        aggs = Seq(approx_count_distinct(col("user_id")).as("approx_users")))
      val drained = StreamOps.drainToBatch(agg)
        .select(col("window.start").as("day_start"), col("approx_users"))
      val exact = table(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day_start"))
        .agg(count_distinct(col("user_id")).as("n_users"))
      drained.join(exact, "day_start")
        .select(col("day_start"), col("n_users"),
          (abs(col("approx_users") - col("n_users")) <=
            greatest(lit(1L), (col("n_users") * 0.1).cast(LongType)))
            .as("approx_ok"))
    },

    /** Streaming CDC feed into the copy-on-write upsert table
      * ([[StreamOps.upsertSink]] — previously spec-only, now under the
      * oracle): a change batch (updates + deletes) streams through
      * foreachBatch into [[graft.sinks.Upsert]], rewriting only dirty
      * buckets with an `_applied` marker per batch for exactly-once
      * replay; the read-back table must equal the functional replay of
      * the changes. The crash/replay matrix lives in StreamingSpec.
      */
    "stream_upsert" -> { (s, dir) =>
      import graft.sinks.Upsert
      val base = s"${sys.props("java.io.tmpdir")}/graft_supsert_${s.sparkContext.applicationId}"
      val tableDir = s"$base/table"
      val orders = table(s, dir, "orders")
      Upsert.create(orders, tableDir, Seq("o_orderkey"), nBuckets = 8)
      def change(c: DataFrame, op: String): DataFrame =
        c.withColumn("_op", lit(op)).withColumn("_seq", lit(1L))
      change(orders.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("X")), "U")
        .unionByName(change(orders.filter(col("o_orderkey") % 10 === 7), "D"))
        .write.mode("overwrite").parquet(s"$base/changes")
      val q = StreamOps.upsertSink(
        StreamOps.parquetStream(s, s"$base/changes"),
        tableDir, checkpoint = s"$base/ckpt")
      q.awaitTermination()
      Upsert.read(s, tableDir)
    },

    /** Stream-static enrichment against a VERSIONED (SCD-2) dimension:
      * each click matches the dimension version VALID AT ITS EVENT TIME
      * (interval predicate on the broadcast version table — stream-static
      * joins take arbitrary conditions, no join state, no watermark),
      * counted per version in complete mode. The Kappa form of
      * `scd2_lookup`: at 100 TB/day the stream never pauses for the dim
      * and carries no versioning state — the validity interval rides the
      * broadcast.
      */
    "stream_scd2_enrich" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          graft.GraftSession.eventTimeMicros(ev, "ts").as("_tus"))
      val dim = graft.operators.Merge.scd2History(purchases, Seq("user_id"),
          "_tus", tieBreak = Seq("event_id"))
        .select(col("user_id").as("d_user"), col("event_id").as("version_id"),
          col("valid_from"), col("valid_to"))
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("user_id"),
          graft.GraftSession.eventTimeMicros(raw, "ts").as("_tus"))
      val joined = clicks.join(broadcast(dim),
        col("user_id") === col("d_user") && col("_tus") >= col("valid_from") &&
          (col("valid_to").isNull || col("_tus") < col("valid_to")))
      val agg = joined.groupBy(col("version_id"))
        .agg(count(lit(1)).as("n_clicks"))
      StreamOps.drainToBatch(agg, outputMode = "complete")
        .select(col("version_id"), col("n_clicks"))
    },

    /** Stream-static enrichment join — the canonical "enrich events with
      * a dimension" production shape: the event stream joins a BATCH
      * dimension table (broadcast — the dim rides to every task once, no
      * stream-side shuffle, no join state to store or watermark), then a
      * watermarked daily window aggregates per segment. At 100 TB/day the
      * stream side never pauses for the dim: only dim refreshes re-ship
      * the broadcast.
      */
    "stream_enrich" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val dim = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = raw.join(broadcast(dim), raw("user_id") === dim("c_custkey"))
      val agg = StreamOps.windowedAgg(joined, "ts", "1 day", "2 hours",
        keys = Seq("c_mktsegment"),
        aggs = Seq(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DecimalType(28, 6))
            .cast(DoubleType).as("sum_v")))
      StreamOps.drainToBatch(agg)
        .select(col("window.start").as("day_start"), col("c_mktsegment"),
          col("n"), col("sum_v"))
    },

    /** Streaming per-key quota ([[StreamOps.quotaStream]]): each user's
      * first 10 events in event-time order, emitted as their rank becomes
      * watermark-final — the streaming twin of `sample_per_group`'s
      * deterministic cap, bounding any one key's ingest contribution.
      * State is ≤ quota-many (us, id) pairs + one counter per key, never
      * the key's history.
      */
    "stream_quota" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val out = StreamOps.quotaStream(raw, keyCol = "user_id", tsCol = "ts",
        idCol = "event_id", k = 10)
      StreamOps.drainToBatch(out.toDF(), outputMode = "append")
        .select(col("key").as("user_id"), col("us"), col("event_id"))
    },

    /** Streaming conversion funnel ([[graft.streaming.StreamOps
      * .funnelStream]], transformWithState): per-user view→click→purchase
      * outcome (strictly-after chaining, 7-day conversion window),
      * emitted once the watermark closes the user's window — state is
      * the in-window step events plus a tombstone, never a user's
      * history. Oracle: the batch chained-min replay restricted to
      * watermark-final users.
      */
    "stream_funnel" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val out = StreamOps.funnelStream(raw, keyCol = "user_id", tsCol = "ts",
        steps = Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        windowUs = 7L * 86400L * 1000000L)
      StreamOps.drainToBatch(out.toDF(), outputMode = "append")
        .select(col("key").as("user_id"), col("steps_reached"), col("t0_us"))
    },

    /** Streaming CEP pattern with negation ([[StreamOps.patternStream]]):
      * the batch `event_pattern` chains (view → click → purchase within
      * 7 days, no error strictly inside) produced incrementally — a key
      * emits once the watermark closes its window, judged on the then-
      * immutable in-window events. The oracle is the batch chained-min +
      * NOT EXISTS SQL restricted to watermark-final keys
      * (t0 + window < final watermark, ms-floored as Spark tracks it).
      */
    "stream_pattern" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val out = StreamOps.patternStream(raw, keyCol = "user_id", tsCol = "ts",
        steps = Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        exclude = col("event_type") === "error",
        windowUs = 7L * 86400L * 1000000L)
      StreamOps.drainToBatch(out.toDF(), outputMode = "append")
        .select(col("key").as("user_id"), col("t0_us"), col("t_last_us"))
    },

    /** Stream-stream interval join: clicks joined to same-user purchases
      * within 30 minutes, both sides watermarked so join state is evicted
      * (bounded memory on unbounded streams). The fixture loads as one
      * micro-batch, so no rows age out and the batch SQL join is an exact
      * oracle.
      */
    "stream_join" -> { (s, dir) =>
      def side(tpe: String, prefix: String) =
        graft.GraftSession.normalizeTs(
          StreamOps.parquetStream(s, s"$dir/events.parquet"))
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"), col("value").as(s"${prefix}_value"))
      val joined = StreamOps.intervalJoin(
        side("click", "c"), "c_ts", side("purchase", "p"), "p_ts",
        keys = Seq("c_user" -> "p_user"), within = "30 minutes", watermark = "2 hours")
      StreamOps.drainToBatch(joined, outputMode = "append")
        .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
          col("p_id").as("purchase_id"), col("p_value").as("purchase_value"))
    },

    /** Watermarked stream-stream LEFT OUTER interval join: every click,
      * with its purchases within 30 minutes where they exist, and a
      * null purchase otherwise. The null-side rows only emit once the
      * watermark proves no matching purchase can still arrive (click_ts +
      * 30 min < watermark), so the oracle is the batch left join with
      * unmatched rows restricted to watermark-final clicks — the same
      * finality clause as `stream_sessionize` (final watermark =
      * ms-floored max event time − 2 h delay).
      */
    "stream_left_join" -> { (s, dir) =>
      def side(tpe: String, prefix: String) =
        graft.GraftSession.normalizeTs(
          StreamOps.parquetStream(s, s"$dir/events.parquet"))
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"), col("value").as(s"${prefix}_value"))
      val joined = StreamOps.intervalJoin(
        side("click", "c"), "c_ts", side("purchase", "p"), "p_ts",
        keys = Seq("c_user" -> "p_user"), within = "30 minutes",
        watermark = "2 hours", joinType = "left_outer")
      StreamOps.drainToBatch(joined, outputMode = "append")
        .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
          col("p_id").as("purchase_id"), col("p_value").as("purchase_value"))
    },

    /** Chained stateful aggregations in ONE streaming query (the
      * multiple-stateful-operator pipeline): hourly per-user event counts
      * re-aggregated into hourly (active users, total events) without
      * leaving the stream — at 100 TB/day the first agg's state is
      * (window, user) counts and the second's is a window-sized rollup,
      * both watermark-bounded. Append mode emits only watermark-final
      * windows, so the oracle restricts to hour_end ≤ final watermark.
      */
    "stream_chained_agg" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val perUser = raw.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("_n"))
      val perHour = perUser
        .groupBy(col("window"))
        .agg(count(lit(1)).as("n_users"), sum(col("_n")).as("n_events"))
      StreamOps.drainToBatch(perHour, outputMode = "append")
        .select(col("window.start").as("window_start"), col("n_users"),
          col("n_events"))
    },

    /** Per-window top-k INSIDE the stream via the native bounded
      * aggregate ([[graft.functions.BoundedTopKPair]] in a watermarked
      * window aggregation): each hour's 3 highest-value events, held as a
      * k-bounded heap in the state store instead of the window's row set
      * — at 100 TB/day the state per window is 3 pairs, not the hour's
      * events. Append emits watermark-final windows (same boundary as
      * `stream_chained_agg`); the (score DESC, id ASC) total order makes
      * the exploded rows engine-exact against the batch replay.
      */
    "stream_topk" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val agg = raw
        .select(col("ts"),
          round(col("value") * 100).cast("long").as("value_c"), col("event_id"))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.AggExpressions.topkPairAgg(
          col("value_c"), col("event_id"), 3).as("_top"))
      StreamOps.drainToBatch(agg, outputMode = "append")
        .select(col("window.start").as("window_start"), posexplode(col("_top")))
        .select(col("window_start"), (col("pos") + 1).as("rank"),
          col("col.score").as("value_c"), col("col.id").as("event_id"))
    },

    /** Streaming dedup within the watermark horizon
      * (dropDuplicatesWithinWatermark): emits each (user_id, event_type)
      * once; which physical row survives is nondeterministic, so the query
      * projects the keys only and the oracle is SELECT DISTINCT.
      */
    "stream_dedup" -> { (s, dir) =>
      val raw = graft.GraftSession.normalizeTs(
        StreamOps.parquetStream(s, s"$dir/events.parquet"))
      val deduped = StreamOps.dedupStream(raw, "ts", watermark = "2 hours",
        keys = Seq("user_id", "event_type"))
      StreamOps.drainToBatch(deduped, outputMode = "append")
        .select(col("user_id"), col("event_type"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "direct_io_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "stream_quarantine" ->
      """WITH q AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_quarantined FROM orders
        |  WHERE o_orderkey % 97 = 0 OR o_orderkey % 89 = 0
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_valid,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       (SELECT n_quarantined FROM q) AS n_quarantined
        |FROM orders
        |WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
        |GROUP BY 1""".stripMargin,
    "hadoop_input" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key
        |FROM orders GROUP BY 1""".stripMargin,
    "avro_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "orc_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "csv_quarantine" ->
      """WITH q AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_quarantined FROM orders
        |  WHERE o_orderkey % 97 = 0 OR o_orderkey % 89 = 0
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_valid,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       (SELECT n_quarantined FROM q) AS n_quarantined
        |FROM orders
        |WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
        |GROUP BY 1""".stripMargin,
    "json_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "partitioned_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events
        |-- not IN (...): the harness DuckDB returns zero rows for
        |-- date-typed IN lists here while plain equality works
        |WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |   OR CAST(ts AS DATE) = DATE '2024-01-06'
        |GROUP BY 1, 2""".stripMargin,
    "backfill_dynamic" ->
      // the clean recompute: if the backfill left any poisoned row or
      // touched any other day's files, the hash diverges
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "dpp_prune" ->
      """WITH dim AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events
        |  WHERE event_type = 'purchase' ORDER BY 1 LIMIT 3
        |)
        |SELECT CAST(f.event_date AS VARCHAR) AS event_date, f.event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(f.user_id) AS BIGINT) AS sum_uid
        |FROM (SELECT CAST(ts AS DATE) AS event_date, event_type, user_id
        |      FROM events) f
        |JOIN dim USING (event_date)
        |GROUP BY 1, 2""".stripMargin,
    "json_props" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_k,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "key_skew" ->
      """WITH c AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1),
        |cc AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS nk FROM c GROUP BY 1),
        |cum AS (SELECT cnt, SUM(nk) OVER (ORDER BY cnt) AS cum FROM cc),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |               CAST(COUNT(*) AS BIGINT) AS n_keys,
        |               CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c)
        |SELECT n_rows, n_keys, max_cnt,
        |  (SELECT CAST(MIN(cnt) AS BIGINT) FROM cum WHERE cum * 100 >= tot.n_keys * 50) AS p50_cnt,
        |  (SELECT CAST(MIN(cnt) AS BIGINT) FROM cum WHERE cum * 100 >= tot.n_keys * 90) AS p90_cnt,
        |  (SELECT CAST(MIN(cnt) AS BIGINT) FROM cum WHERE cum * 100 >= tot.n_keys * 99) AS p99_cnt,
        |  CAST(CAST(max_cnt AS HUGEINT) * 1000 * n_keys // n_rows AS BIGINT) AS skew_x1000
        |FROM tot""".stripMargin,
    "bloom_lookup" ->
      """SELECT COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
        |       MIN(l_partkey) AS min_part, MAX(l_suppkey) AS max_supp
        |FROM lineitem WHERE l_orderkey = 1994""".stripMargin,
    "schema_evolution" ->
      """SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS batch,
        |       o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS BIGINT)
        |         AS n_priced,
        |       MAX(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS max_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "metadata_agg" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |       MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part
        |FROM lineitem""".stripMargin,
    "rebalanced_write" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |       SUM(l_quantity) AS sum_qty, TRUE AS files_sized
        |FROM lineitem GROUP BY 1""".stripMargin,
    "compact_files" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "zorder_prune" ->
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
        |       MIN(l_orderkey) AS min_key, MAX(l_partkey) AS max_part
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_partkey BETWEEN 0 AND 500
        |GROUP BY 1""".stripMargin,
    "zonemap_prune" ->
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
        |       MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1""".stripMargin,
    "bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "upsert_bucketed" ->
      """WITH s1 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 < 2 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 != 7
        |), s2 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |         CASE WHEN o_orderkey % 10 = 1 THEN 'HOT' ELSE o_orderpriority END AS o_orderpriority
        |  FROM s1
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, 'NEW2'
        |  FROM orders WHERE o_orderkey % 100 = 2
        |)
        |SELECT * FROM s2""".stripMargin,
    "branch_writeall" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "iterative_concurrent" ->
      """SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, 'F' AS round_status
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, 'O' AS round_status
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, 'P' AS round_status
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'P'""".stripMargin,
    "iterative" ->
      """SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, 'F' AS round_status
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, 'O' AS round_status
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, 'P' AS round_status
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'P'""".stripMargin,
    "stream_resample" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, value FROM events
        |),
        |agg AS (
        |  SELECT user_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         MAX(value) AS v
        |  FROM e GROUP BY 1, 2
        |),
        |span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM agg GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
        |j AS (
        |  SELECT g.user_id, g.bucket, COALESCE(a.n_events, 0) AS n_events, a.v
        |  FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket
        |)
        |SELECT user_id, bucket * 21600000000 AS bucket_us, n_events,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
        |FROM j
        |WHERE bucket * 21600000000 + 21600000000 <=
        |      (SELECT MAX(epoch_us(ts)) FROM events)""".stripMargin,
    "stream_distinct_users" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin,
    "stream_scd2_enrich" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS vf,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts) ASC, event_id ASC) AS vt
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'click'
        |)
        |SELECT p.event_id AS version_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND c.ts >= p.vf AND (p.vt IS NULL OR c.ts < p.vt)
        |GROUP BY 1""".stripMargin,
    "stream_enrich" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, c_mktsegment,
        |       COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE) AS sum_v
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "stream_upsert" ->
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 10 < 2 THEN 'X' ELSE o_orderstatus END
        |         AS o_orderstatus,
        |       o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 10 != 7""".stripMargin,
    "stream_quota" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |),
        |r AS (
        |  SELECT user_id, event_id, us,
        |         row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        |  FROM e
        |)
        |SELECT user_id, us, event_id FROM r
        |WHERE rn <= 10
        |  AND us < (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM events)""".stripMargin,
    "stream_funnel" ->
      """WITH e AS (
        |  SELECT user_id AS u, epoch_us(ts) AS ts, event_type FROM events
        |),
        |wm AS (
        |  SELECT (MAX(ts) // 1000) * 1000 AS w FROM e
        |),
        |s1 AS (
        |  SELECT u, MIN(ts) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1
        |),
        |s2 AS (
        |  SELECT e.u, MIN(e.ts) AS t1
        |  FROM e JOIN s1 USING (u)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t0
        |    AND e.ts <= s1.t0 + 604800000000
        |  GROUP BY 1
        |),
        |s3 AS (
        |  SELECT e.u, MIN(e.ts) AS t2
        |  FROM e JOIN s2 USING (u) JOIN s1 USING (u)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t1
        |    AND e.ts <= s1.t0 + 604800000000
        |  GROUP BY 1
        |)
        |SELECT s1.u AS user_id,
        |       CAST(CASE WHEN s3.u IS NOT NULL THEN 3
        |                 WHEN s2.u IS NOT NULL THEN 2
        |                 ELSE 1 END AS INT) AS steps_reached,
        |       s1.t0 AS t0_us
        |FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u, wm
        |WHERE s1.t0 + 604800000000 < wm.w""".stripMargin,
    "stream_pattern" ->
      """WITH e AS (
        |  SELECT user_id AS u, epoch_us(ts) AS ts, event_type FROM events
        |),
        |wm AS (
        |  SELECT (MAX(ts) // 1000) * 1000 AS w FROM e
        |),
        |s1 AS (
        |  SELECT u, MIN(ts) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1
        |),
        |s2 AS (
        |  SELECT e.u, FIRST(s1.t0) AS t0, MIN(e.ts) AS t1
        |  FROM e JOIN s1 USING (u)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t0
        |    AND e.ts <= s1.t0 + 604800000000
        |  GROUP BY 1
        |),
        |s3 AS (
        |  SELECT e.u, FIRST(s2.t0) AS t0, MIN(e.ts) AS t2
        |  FROM e JOIN s2 USING (u)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t1
        |    AND e.ts <= s2.t0 + 604800000000
        |  GROUP BY 1
        |)
        |SELECT s3.u AS user_id, s3.t0 AS t0_us, s3.t2 AS t_last_us
        |FROM s3, wm
        |WHERE s3.t0 + 604800000000 < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM e
        |    WHERE e.u = s3.u AND e.event_type = 'error'
        |      AND e.ts > s3.t0 AND e.ts < s3.t2)""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |),
        |l AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                OR us - lag(us) OVER w > 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |s AS (
        |  SELECT user_id, us,
        |         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM l
        |),
        |sess AS (
        |  SELECT user_id, seq, MIN(us) AS start_us, MAX(us) AS end_us,
        |         CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, start_us, end_us, n_events FROM sess
        |WHERE end_us + 86400000000 <
        |      (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM events)""".stripMargin,
    "stream_hopping" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type,
        |         (us // 1800000000) * 1800000000 - k * 1800000000
        |           AS win_start_us, v
        |  FROM e CROSS JOIN (SELECT UNNEST([CAST(0 AS BIGINT),
        |                                    CAST(1 AS BIGINT)]) AS k))
        |SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS DOUBLE) AS sum_v
        |FROM w GROUP BY win_start_us, event_type""".stripMargin,

    "stream_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |       COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id, p.value AS purchase_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "stream_left_join" ->
      // the global watermark is the MIN over the two withWatermark
      // operators (each tracks ITS side's ms-floored max event time − 2 h
      // — measured: the purchase side's earlier max held the watermark
      // 796 s behind the global max at sf0.01); an unmatched click emits
      // iff click_ts + 30 min < that watermark STRICTLY (boundary probed
      // at ±1 s, enforced by OuterJoinBoundarySpec: equality does NOT emit)
      // the CASE guard: DuckDB's LEAST IGNORES nulls, but a side that
      // never saw data holds Spark's watermark at epoch 0 (no outer rows
      // emit) — an empty side must therefore null the whole watermark
      """WITH wm AS (
        |  SELECT CASE WHEN cmax IS NULL OR pmax IS NULL THEN NULL
        |              ELSE LEAST(cmax, pmax) - 7200000000 END AS us
        |  FROM (SELECT
        |    (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM events
        |     WHERE event_type = 'click') AS cmax,
        |    (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM events
        |     WHERE event_type = 'purchase') AS pmax)
        |)
        |SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id, p.value AS purchase_value
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |  AND (p.event_id IS NOT NULL
        |       OR epoch_us(c.ts) + 1800000000 < (SELECT us FROM wm))""".stripMargin,
    "stream_topk" ->
      // watermark-final windows only (the stream_chained_agg boundary);
      // rank replay under the aggregate's (score DESC, id ASC) order
      """WITH wm AS (
        |  SELECT (MAX(epoch_us(ts)) // 1000) * 1000 - 7200000000 AS us FROM events
        |)
        |SELECT window_start, CAST(rn AS BIGINT) AS rank, value_c, event_id FROM (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c, event_id,
        |         row_number() OVER (
        |           PARTITION BY date_trunc('hour', ts)
        |           ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC, event_id ASC) AS rn
        |  FROM events
        |  WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= (SELECT us FROM wm))
        |WHERE rn <= 3""".stripMargin,
    "stream_chained_agg" ->
      // single watermark operator ⇒ wm = ms-floored global max − 2 h; a
      // window whose end EQUALS the watermark emits (boundary probed at
      // ±1 h, enforced by OuterJoinBoundarySpec: inclusive), hence <=
      """WITH wm AS (
        |  SELECT (MAX(epoch_us(ts)) // 1000) * 1000 - 7200000000 AS us FROM events
        |)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events
        |WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= (SELECT us FROM wm)
        |GROUP BY 1""".stripMargin
  )
}
