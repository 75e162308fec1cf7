package graft.sinks

import java.net.URI

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A maintained upsert table: copy-on-write over hash buckets, the batch
  * answer to "apply this CDC feed to a 100 TB table without rewriting
  * 100 TB". Rows hash-bucket by primary key; an upsert rewrites ONLY the
  * buckets containing changed keys, as a new GENERATION directory per
  * bucket committed through the 3-phase transactional output
  * ([[DirectOutput]]) — one marker spans all dirty buckets, so a crash
  * either rolls the whole batch forward or leaves the previous
  * generations untouched. Readers resolve generations through ONE
  * manifest file per batch (`_manifests/m-g<N>`, the full bucket→
  * generation mapping WITH each generation's part files, published
  * atomically after every bucket is committed): a read snapshots a
  * single manifest, so it sees all of a batch or none of it even while
  * the next upsert is mid-commit (generation dirs are fresh paths —
  * there is no delete-then-rename window at all). [[vacuum]] reclaims
  * superseded generations once no reader needs them.
  *
  * Layout: `table/_bucket=<i>/gen=g<N>/part-*.parquet` (+ the
  * `_GRAFT_COMMITTED` marker per committed generation), metadata (bucket
  * count, primary key, schema) at `table/_graft_table`, one manifest per
  * committed batch under `table/_manifests/`:
  *
  * {{{
  *   #files
  *   <bucket>=g<N>
  *   \t<part file name>\t<length>\t<mtime ms>     (one line per part file)
  * }}}
  *
  * A read lists nothing: the manifest names every file the scan opens
  * (committed generations are immutable), so [[read]], `asOf` reads and
  * an upsert's read of its dirty buckets run no Spark file-listing job
  * and no per-bucket `listStatus`. The committed generations are listed
  * once, at commit, to write the manifest; the per-bucket generation
  * glob survives only as [[recover]]'s rebuild source. A legacy
  * manifest (`bucket=gen` lines only, no `#files` header) still reads:
  * its generation directories are listed on the driver, and the next
  * upsert publishes a manifest with file lists.
  *
  * Scale shape: an upsert costs one shuffle of the changes plus a
  * rewrite of the dirty buckets only — with B buckets and a changeset
  * touching k of them, the write is k/B of the table, not the table.
  * Single writer per table (the usual batch-pipeline discipline); call
  * [[recover]] on restart before reading or writing.
  */
object Upsert {

  private val gen0 = "g%09d".format(0)

  private def fs(conf: Configuration, path: String): FileSystem =
    FileSystem.get(URI.create(path), conf)

  private def bucketOf(pk: Seq[String], n: Int) = pmod(hash(pk.map(col): _*), lit(n))

  private case class Meta(nBuckets: Int, pk: Seq[String], schema: StructType)

  private def writeMeta(conf: Configuration, tableDir: String, m: Meta): Unit = {
    val f = fs(conf, tableDir)
    val out = f.create(new Path(tableDir, "_graft_table"), true)
    out.write((s"nBuckets=${m.nBuckets}\npk=${m.pk.mkString(",")}\n" +
      s"schema=${m.schema.json}\n").getBytes("UTF-8"))
    out.close()
  }

  private def readMeta(conf: Configuration, tableDir: String): Meta = {
    val f = fs(conf, tableDir)
    val in = f.open(new Path(tableDir, "_graft_table"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = text.linesIterator.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    Meta(kv("nBuckets").toInt, kv("pk").split(",").toSeq,
      org.apache.spark.sql.types.DataType.fromJson(kv("schema")).asInstanceOf[StructType])
  }

  /** (bucket index, latest committed gen dir ≤ the optional name cap)
    * per bucket; buckets with no qualifying committed generation map to
    * None.
    */
  private def latestGens(conf: Configuration, tableDir: String,
      cap: Option[String] = None): Seq[(Int, Option[Path])] = {
    val f = fs(conf, tableDir)
    Option(f.globStatus(new Path(s"$tableDir/_bucket=*"))).getOrElse(Array.empty).toSeq
      .map { b =>
        val idx = b.getPath.getName.stripPrefix("_bucket=").toInt
        val committed = Option(f.globStatus(new Path(b.getPath, "gen=g*")))
          .getOrElse(Array.empty)
          .filter(g => cap.forall(g.getPath.getName <= _))
          .filter(g => f.exists(new Path(g.getPath, "_GRAFT_COMMITTED")))
          .sortBy(_.getPath.getName)
        idx -> committed.lastOption.map(_.getPath)
      }
  }

  private def genDir(tableDir: String, b: Int, genName: String) =
    new Path(s"$tableDir/_bucket=$b/gen=$genName")

  /** A bucket's committed generation and the part files it serves. */
  private case class Gen(name: String, files: Seq[FileStatus])

  /** The part files of one committed generation directory — the only
    * listing a generation ever gets: at commit (or when upgrading a
    * legacy manifest), never per read.
    */
  private def listParts(f: FileSystem, gen: Path): Seq[FileStatus] =
    f.listStatus(gen).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") && s.getLen > 0)
      .sortBy(_.getPath.getName)

  /** Fixed file set, no discovery: the scan opens exactly the manifest's
    * part files, so planning it never touches the file system.
    */
  private class ManifestIndex(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  // a file source relation reads its data schema as nullable
  // (DataSource.resolveRelation does the same for spark.read)
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** The one scan-construction path for every Upsert read: the given
    * generations' part files as a parquet relation with the table schema.
    * No generations (an empty table, or only emptied buckets) is a scan
    * of zero files.
    */
  private def scan(spark: SparkSession, schema: StructType, gens: Iterable[Gen]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestIndex(gens.flatMap(_.files).toSeq), new StructType(),
      nullable(schema).asInstanceOf[StructType], None, new ParquetFileFormat, Map.empty)(spark))

  // ---- manifest: one small file per committed batch --------------------
  //
  // `_manifests/m-g<N>` holds the COMPLETE bucket→generation mapping as of
  // batch N: a `#files` header, then per bucket a `bucket=genName` line
  // followed by one tab-indented `name<TAB>length<TAB>mtime` line per part
  // file. Published via fresh-path create + rename after finishCommit and
  // before the tx marker drops, so a crash window is always covered:
  // marker live ⇒ recover re-runs finishCommit and rewrites the manifest
  // from the authoritative glob.

  private val filesHeader = "#files"

  private def manifestDir(tableDir: String) = new Path(s"$tableDir/_manifests")

  private def writeManifest(f: FileSystem, tableDir: String, genName: String,
      mapping: Map[Int, Gen]): Unit = {
    val dir = manifestDir(tableDir)
    f.mkdirs(dir)
    val tmp = new Path(dir, s".m-$genName.tmp")
    val out = f.create(tmp, true)
    val lines = filesHeader +: mapping.toSeq.sortBy(_._1).flatMap { case (b, g) =>
      s"$b=${g.name}" +: g.files.map(s =>
        s"\t${s.getPath.getName}\t${s.getLen}\t${s.getModificationTime}")
    }
    out.write(lines.mkString("\n").getBytes("UTF-8"))
    out.close()
    val dst = new Path(dir, s"m-$genName")
    if (f.exists(dst) && !f.delete(dst, false)) // recover rewrite: idempotent
      throw new java.io.IOException(s"manifest: cannot replace $dst")
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"manifest: rename $tmp -> $dst failed")
  }

  /** Latest manifest path with generation ≤ `cap` (None = latest overall). */
  private def manifestAt(f: FileSystem, tableDir: String,
      cap: Option[Int]): Option[Path] = {
    val capName = cap.map("m-g%09d".format(_))
    Option(f.globStatus(new Path(manifestDir(tableDir), "m-g*")))
      .getOrElse(Array.empty).map(_.getPath)
      .filter(p => capName.forall(p.getName <= _))
      .sortBy(_.getName).lastOption
  }

  /** Bucket → generation with its part files. A manifest without the
    * `#files` header (written before manifests carried file lists) gets
    * its generation directories listed here, once per read.
    */
  private def readManifest(f: FileSystem, tableDir: String, p: Path): Map[Int, Gen] = {
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val listed = lines.headOption.contains(filesHeader)
    val root = f.makeQualified(new Path(tableDir)).toString
    val entries = ArrayBuffer.empty[(Int, String, ArrayBuffer[String])]
    lines.foreach {
      case l if l.startsWith("\t") => entries.last._3 += l.drop(1)
      case l => l.split("=", 2) match {
        case Array(b, g) => entries += ((b.toInt, g, ArrayBuffer.empty[String]))
        case _ => () // the header
      }
    }
    entries.map { case (b, g, fl) =>
      val dir = genDir(root, b, g)
      b -> Gen(g,
        if (!listed) listParts(f, dir)
        else fl.toSeq.map { line =>
          val Array(name, len, mtime) = line.split("\t")
          new FileStatus(len.toLong, false, 0, 0, mtime.toLong, new Path(dir, name))
        })
    }.toMap
  }

  /** Bucket → latest committed generation, as of `cap` (None = current):
    * ONE manifest file read on the normal path; the per-bucket generation
    * glob (plus a listing of each latest generation) only when no
    * manifest qualifies (legacy table, or asOf older than the retained
    * manifests). Buckets with no committed generation are absent.
    */
  private def resolve(conf: Configuration, tableDir: String,
      cap: Option[Int] = None): Map[Int, Gen] = {
    val f = fs(conf, tableDir)
    manifestAt(f, tableDir, cap) match {
      case Some(m) => readManifest(f, tableDir, m)
      case None => listedGens(conf, tableDir, cap.map("gen=g%09d".format(_)))
    }
  }

  /** [[latestGens]] with each latest generation's part files listed. */
  private def listedGens(conf: Configuration, tableDir: String,
      cap: Option[String] = None): Map[Int, Gen] = {
    val f = fs(conf, tableDir)
    latestGens(conf, tableDir, cap).collect {
      case (b, Some(p)) => b -> Gen(p.getName.stripPrefix("gen="), listParts(f, p))
    }.toMap
  }

  /** Rebuild the manifest from the authoritative per-bucket glob —
    * [[recover]]'s path, and the upgrade path for a table written before
    * manifests existed.
    */
  private def rebuildManifest(conf: Configuration, tableDir: String): Unit = {
    val mapping = listedGens(conf, tableDir)
    if (mapping.nonEmpty)
      writeManifest(fs(conf, tableDir), tableDir, mapping.values.map(_.name).max, mapping)
  }

  private def nextGen(conf: Configuration, tableDir: String): Int = {
    val f = fs(conf, tableDir)
    manifestAt(f, tableDir, None) match {
      case Some(m) => m.getName.stripPrefix("m-g").toInt + 1
      case None =>
        val gens = Option(f.globStatus(new Path(s"$tableDir/_bucket=*/gen=g*")))
          .getOrElse(Array.empty)
          .map(_.getPath.getName.stripPrefix("gen=g").toInt)
        if (gens.isEmpty) 0 else gens.max + 1
    }
  }

  /** Initial load: hash-bucket `base` by `pk` into `nBuckets` generation-0
    * directories. ONE partitioned Spark job writes every bucket into a
    * staging dir; a driver pass renames each bucket into its gen-0 home,
    * lists its part files for the manifest and drops its committed
    * marker — O(buckets) renames, the data moves once. Destroys anything
    * already at `tableDir`; a crash mid-create leaves a partial gen-0
    * (re-run create — unmarked buckets are invisible to readers either
    * way).
    */
  def create(base: DataFrame, tableDir: String, pk: Seq[String], nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val conf = base.sparkSession.sparkContext.hadoopConfiguration
    DirectOutput.setup(conf, Seq(tableDir))
    val f = fs(conf, tableDir)
    f.mkdirs(new Path(tableDir))
    require(!base.columns.contains("_b"),
      "create: '_b' is the reserved bucket column — rename it in the base frame")
    writeMeta(conf, tableDir, Meta(nBuckets, pk, base.schema))
    val staging = s"$tableDir/.create-stage"
    base.withColumn("_b", bucketOf(pk, nBuckets))
      .write.mode("overwrite").partitionBy("_b").parquet(staging)
    val mapping = (0 until nBuckets).map { b =>
      val dst = genDir(tableDir, b, gen0)
      f.mkdirs(dst.getParent)
      val src = new Path(s"$staging/_b=$b")
      if (f.exists(src)) {
        if (!f.rename(src, dst))
          throw new java.io.IOException(s"create: rename $src -> $dst failed")
      } else f.mkdirs(dst) // bucket with no rows: empty committed gen-0
      f.create(new Path(dst, "_GRAFT_COMMITTED"), true).close()
      b -> Gen(gen0, listParts(f, dst))
    }.toMap
    writeManifest(f, tableDir, gen0, mapping)
    if (!f.delete(new Path(staging), true) && f.exists(new Path(staging)))
      throw new java.io.IOException(s"create: cannot remove staging $staging")
  }

  /** Current table contents: union of each bucket's latest committed
    * generation, resolved through ONE manifest file — the read snapshots
    * the mapping atomically, so it never mixes two batches even while an
    * upsert is mid-commit (it sees the pre-batch state until the batch's
    * manifest is published). The scan opens the manifest's part files
    * directly: no listing job, no per-bucket file-system call. `asOf`
    * time-travels: the manifest of the latest batch ≤ `asOf` — the state
    * right after [[upsert]] returned that generation number (valid until
    * a [[vacuum]] reclaims the older generations).
    */
  def read(spark: SparkSession, tableDir: String,
      asOf: Option[Int] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    scan(spark, readMeta(conf, tableDir).schema, resolve(conf, tableDir, asOf).values)
  }

  /** Apply a keyed I/U/D changeset ([[graft.operators.Merge.applyChanges]]
    * semantics): rewrites only the buckets containing changed keys, as
    * one new generation committed atomically across all of them. Returns
    * the generation number written.
    */
  def upsert(changes: DataFrame, tableDir: String,
      op: String = "_op", seq: String = "_seq"): Int = {
    val spark = changes.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    recover(spark, tableDir)
    val meta = readMeta(conf, tableDir)
    require(!changes.columns.contains("_b"),
      "upsert: '_b' is the reserved bucket column — rename it in the changes frame")
    val g = nextGen(conf, tableDir)
    val genName = "g%09d".format(g)
    val bucket = bucketOf(meta.pk, meta.nBuckets)
    // ONE evaluation of the changes plan: the dirty-set collect and the
    // staged merge below must see the SAME rows — a nondeterministic
    // changes frame re-executed could stage buckets outside the marker's
    // recorded dirty set, whose rows finishCommit would silently drop
    val pinned = graft.Caches.track(changes.persist())
    try {
      // dirty-bucket set: bounded by nBuckets, so the collect is a few ints
      val dirty = pinned.select(bucket.as("_b")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      if (dirty.isEmpty) return g
    val f = fs(conf, tableDir)
    val current = resolve(conf, tableDir)
    val cur = scan(spark, meta.schema, dirty.flatMap(current.get))
    // ONE partitioned job stages every dirty bucket's new generation
    // (with 500 dirty buckets of a 10k-bucket table that is one job, not
    // 500); the commit point is a marker file RECORDING the dirty set, so
    // recovery can finish even buckets whose new generation is EMPTY
    // (deletes wiped them — partitioned writes emit no dir for them)
    val staging = s"$tableDir/.upsert-stage-$genName"
    graft.operators.Merge.applyChanges(cur, pinned, meta.pk, op, seq)
      .withColumn("_b", bucket)
      .write.mode("overwrite").partitionBy("_b").parquet(staging)
    val marker = markerFor(tableDir, genName)
    f.mkdirs(marker.getParent)
    val out = f.create(marker, true)
    out.write(dirty.mkString(",").getBytes("UTF-8"))
    out.close()
    finishCommit(f, tableDir, genName, dirty, staging)
    // publish the batch to readers: ONE new manifest carrying the full
    // mapping — before this rename lands, readers still resolve the
    // previous manifest (consistent pre-batch state). Must precede the
    // marker delete so a crash here is rolled forward by recover. Each
    // new generation is listed once, here, so no reader ever lists it.
    writeManifest(f, tableDir, genName,
      current ++ dirty.map(b => b -> Gen(genName, listParts(f, genDir(tableDir, b, genName)))))
    f.delete(new Path(staging), true)
    f.delete(marker, false)
    g
    } finally { pinned.unpersist(false); () }
  }

  private def markerFor(tableDir: String, genName: String) =
    new Path(s"$tableDir/_tx/upsert-$genName")

  /** Post-marker half of the transaction — idempotent, so [[recover]] can
    * re-run it after a crash: rename each dirty bucket's staged dir into
    * its generation home (no staged dir = an emptied bucket gets an empty
    * generation), then drop the per-generation committed marker.
    */
  private def finishCommit(f: FileSystem, tableDir: String, genName: String,
      dirty: Seq[Int], staging: String): Unit =
    dirty.foreach { b =>
      val dst = genDir(tableDir, b, genName)
      if (!f.exists(new Path(dst, "_GRAFT_COMMITTED"))) {
        val src = new Path(s"$staging/_b=$b")
        f.mkdirs(dst.getParent)
        if (f.exists(src)) {
          if (f.exists(dst) && !f.delete(dst, true))
            throw new java.io.IOException(s"upsert commit: cannot clear partial $dst")
          if (!f.rename(src, dst))
            throw new java.io.IOException(s"upsert commit: rename $src -> $dst failed")
        } else if (!f.exists(dst)) f.mkdirs(dst)
        f.create(new Path(dst, "_GRAFT_COMMITTED"), true).close()
      }
    }

  /** Settle crashed transactions: a live marker means the batch reached
    * its commit point — roll FORWARD by re-running [[finishCommit]] from
    * the dirty-bucket list the marker recorded (and republish the
    * manifest); staging dirs with no live marker are pre-commit garbage —
    * roll back by deleting them. With nothing in flight this is two empty
    * globs and a return — [[upsert]] calls it every batch, so the
    * no-crash path must not pay a per-generation listing. Orphaned
    * UNMARKED generation shells (possible only from a crashed [[create]])
    * are invisible to readers and reclaimed by [[vacuum]], not here.
    * Call on restart before reading or writing; [[upsert]] calls it.
    */
  def recover(spark: SparkSession, tableDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(conf, tableDir)
    if (!f.exists(new Path(tableDir))) return
    val markers = Option(f.globStatus(new Path(s"$tableDir/_tx/upsert-g*")))
      .getOrElse(Array.empty)
    val stagings = Option(f.globStatus(new Path(s"$tableDir/.upsert-stage-*")))
      .getOrElse(Array.empty)
    // fast path — the per-upsert case: nothing in flight means nothing to
    // settle (generation shells only ever appear under a live marker, and
    // they precede the marker delete), so skip the O(buckets × gens)
    // generation sweep entirely. Only a manifest-less legacy table still
    // pays one rebuild glob, once.
    if (markers.isEmpty && stagings.isEmpty) {
      if (manifestAt(f, tableDir, None).isEmpty) rebuildManifest(conf, tableDir)
      return
    }
    val liveGens = markers.map { m =>
      val genName = m.getPath.getName.stripPrefix("upsert-")
      val in = f.open(m.getPath)
      val dirty = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      finishCommit(f, tableDir, genName,
        dirty.split(",").filter(_.nonEmpty).map(_.toInt).toSeq,
        s"$tableDir/.upsert-stage-$genName")
      f.delete(new Path(s"$tableDir/.upsert-stage-$genName"), true)
      f.delete(m.getPath, false)
      s"gen=$genName"
    }.toSet
    // pre-commit leftovers: staging dirs and unmarked generation shells
    // not claimed by any live marker above
    Option(f.globStatus(new Path(s"$tableDir/.upsert-stage-*")))
      .getOrElse(Array.empty).foreach(s => f.delete(s.getPath, true))
    sweepOrphanShells(f, tableDir, liveGens)
    // the authoritative state settled above — republish it (covers a
    // crash between finishCommit and the batch's manifest write)
    rebuildManifest(conf, tableDir)
  }

  /** Delete generation shells with no committed marker (and not claimed
    * by a live transaction): invisible to readers and self-healed by a
    * later commit to the same generation, so reclaiming them is
    * maintenance, not correctness — [[vacuum]]'s job on the fast path.
    */
  private def sweepOrphanShells(f: FileSystem, tableDir: String,
      liveGens: Set[String]): Unit =
    Option(f.globStatus(new Path(s"$tableDir/_bucket=*/gen=g*")))
      .getOrElse(Array.empty)
      .filterNot(g => liveGens.contains(g.getPath.getName) ||
        f.exists(new Path(g.getPath, "_GRAFT_COMMITTED")))
      .foreach(g => f.delete(g.getPath, true))

  /** Delete every generation below each bucket's latest committed one.
    * Run only while no writer is active and no reader still holds the
    * older generations (the usual between-batches maintenance window).
    */
  def vacuum(spark: SparkSession, tableDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    recover(spark, tableDir)
    val f = fs(conf, tableDir)
    // recover's fast path skips the orphan sweep — vacuum IS the
    // maintenance pass, so reclaim unmarked shells (e.g. a crashed
    // create) here unconditionally
    sweepOrphanShells(f, tableDir, Set.empty)
    latestGens(conf, tableDir).foreach {
      case (_, Some(latest)) =>
        Option(f.globStatus(new Path(latest.getParent, "gen=g*"))).getOrElse(Array.empty)
          .map(_.getPath)
          .filter(_.getName < latest.getName)
          .foreach(p => f.delete(p, true))
      case _ => ()
    }
    // superseded manifests reference the generations just reclaimed:
    // drop everything below the current one (asOf past a vacuum is
    // documented invalid)
    manifestAt(f, tableDir, None).foreach { cur =>
      Option(f.globStatus(new Path(manifestDir(tableDir), "m-g*")))
        .getOrElse(Array.empty).map(_.getPath)
        .filter(_.getName < cur.getName)
        .foreach(p => f.delete(p, false))
    }
  }
}
