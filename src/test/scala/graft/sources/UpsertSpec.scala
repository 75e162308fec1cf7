package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Upsert

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_upsert").toString

  private def base = (1L to 40L).map(k => (k, s"n$k", (k % 7).toInt)).toDF("k", "name", "grp")

  test("create + read round-trips the base through bucket generations") {
    val dir = s"${tmp()}/t"
    Upsert.create(base, dir, Seq("k"), 4)
    val back = Upsert.read(spark, dir).as[(Long, String, Int)].collect().sortBy(_._1)
    assert(back === base.as[(Long, String, Int)].collect().sortBy(_._1))
  }

  test("upsert rewrites only dirty buckets and applies I/U/D") {
    val dir = s"${tmp()}/t"
    Upsert.create(base, dir, Seq("k"), 4)
    def genDirs() = new java.io.File(dir).listFiles().filter(_.getName.startsWith("_bucket="))
      .map(b => b.getName -> b.listFiles().map(_.getName).sorted.toSeq).toMap
    val before = genDirs()
    // one changed key (plus one insert): at most two dirty buckets
    val changes = Seq((3L, "updated", 99, "U", 1L), (100L, "new", 1, "I", 1L))
      .toDF("k", "name", "grp", "_op", "_seq")
    val g = Upsert.upsert(changes, dir)
    assert(g === 1)
    val after = genDirs()
    val touched = after.filter { case (b, gens) => gens != before(b) }
    assert(touched.nonEmpty && touched.size <= 2,
      s"only dirty buckets get a new generation: $touched")
    val back = Upsert.read(spark, dir).as[(Long, String, Int)].collect()
      .map { case (k, n, gp) => k -> ((n, gp)) }.toMap
    assert(back(3L) === (("updated", 99)))
    assert(back(100L) === (("new", 1)))
    assert(back.size === 41)
  }

  test("deletes that empty a bucket commit an empty generation, not stale files") {
    val dir = s"${tmp()}/t"
    val two = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Upsert.create(two, dir, Seq("k"), 2)
    val dels = two.withColumn("_op", lit("D")).withColumn("_seq", lit(1L))
    Upsert.upsert(dels, dir)
    assert(Upsert.read(spark, dir).count() === 0)
    // and the table keeps working: a later insert lands normally
    Upsert.upsert(Seq((9L, "z", "I", 1L)).toDF("k", "v", "_op", "_seq"), dir)
    assert(Upsert.read(spark, dir).as[(Long, String)].collect() === Seq((9L, "z")))
  }

  test("uncommitted generations are invisible; vacuum reclaims the shells") {
    val dir = s"${tmp()}/t"
    Upsert.create(base, dir, Seq("k"), 2)
    val expected = Upsert.read(spark, dir).count()
    // simulate a crash: a generation shell with data but no commit marker
    val shell = new java.io.File(s"$dir/_bucket=0/gen=g000000005")
    shell.mkdirs()
    Seq((999L, "ghost", 0)).toDF("k", "name", "grp")
      .write.mode("overwrite").parquet(s"$shell/.attempt-upsert-crashed")
    assert(Upsert.read(spark, dir).count() === expected, "uncommitted gen must be invisible")
    // recover's fast path (nothing in flight) leaves the harmless shell;
    // the maintenance pass reclaims it
    Upsert.recover(spark, dir)
    assert(Upsert.read(spark, dir).count() === expected)
    Upsert.vacuum(spark, dir)
    assert(!shell.exists(), "vacuum reclaims the orphan shell")
    assert(Upsert.read(spark, dir).count() === expected)
  }

  test("asOf time-travel reads the state right after each generation") {
    val dir = s"${tmp()}/t"
    Upsert.create(Seq((1L, "v0")).toDF("k", "v"), dir, Seq("k"), 2)
    val g1 = Upsert.upsert(Seq((1L, "v1", "U", 1L)).toDF("k", "v", "_op", "_seq"), dir)
    val g2 = Upsert.upsert(Seq((2L, "w", "I", 1L)).toDF("k", "v", "_op", "_seq"), dir)
    def at(g: Int) = Upsert.read(spark, dir, asOf = Some(g))
      .as[(Long, String)].collect().toSet
    assert(at(0) === Set((1L, "v0")))
    assert(at(g1) === Set((1L, "v1")))
    assert(at(g2) === Set((1L, "v1"), (2L, "w")))
    assert(Upsert.read(spark, dir).as[(Long, String)].collect().toSet === at(g2))
  }

  test("a live marker rolls the batch FORWARD: staged gens finish committing") {
    val dir = s"${tmp()}/t"
    Upsert.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"), 2)
    val before = Upsert.read(spark, dir).as[(Long, String)].collect().toSet
    // simulate a crash right after the commit point: staging written for
    // bucket 0, marker live listing buckets 0 AND 1 (1's new gen is empty)
    val genName = "g%09d".format(7)
    Seq((5L, "staged")).toDF("k", "v")
      .write.parquet(s"$dir/.upsert-stage-$genName/_b=0")
    val txDir = new java.io.File(s"$dir/_tx"); txDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_tx/upsert-$genName"), "0,1".getBytes("UTF-8"))
    Upsert.recover(spark, dir)
    assert(!new java.io.File(s"$dir/_tx/upsert-$genName").exists())
    assert(!new java.io.File(s"$dir/.upsert-stage-$genName").exists())
    // bucket 0 now serves the staged row; bucket 1's gen-7 is empty — its
    // previous contents are gone from the CURRENT view (that is what the
    // crashed batch committed to), while asOf(0) still shows `before`
    val now = Upsert.read(spark, dir).as[(Long, String)].collect().toSet
    assert(now.contains((5L, "staged")) && now.size <= before.size + 1)
    assert(Upsert.read(spark, dir, asOf = Some(0))
      .as[(Long, String)].collect().toSet === before)
  }

  test("reads resolve through ONE manifest file; glob only as fallback") {
    val dir = s"${tmp()}/t"
    Upsert.create(Seq((1L, "v0")).toDF("k", "v"), dir, Seq("k"), 2)
    val g1 = Upsert.upsert(Seq((1L, "v1", "U", 1L)).toDF("k", "v", "_op", "_seq"), dir)
    def state() = Upsert.read(spark, dir).as[(Long, String)].collect().toSet
    assert(state() === Set((1L, "v1")))
    // deleting the batch's manifest rolls readers back to the previous
    // snapshot — read() must FOLLOW the manifest, which a per-bucket glob
    // (that would find gen-1 committed) could not produce
    val m1 = new java.io.File(s"$dir/_manifests/m-g%09d".format(g1))
    assert(m1.exists(), "every committed batch publishes a manifest")
    assert(m1.delete())
    assert(state() === Set((1L, "v0")), "read did not resolve via the manifest")
    // no manifest at all -> authoritative per-bucket glob fallback
    new java.io.File(s"$dir/_manifests").listFiles().foreach(_.delete())
    assert(state() === Set((1L, "v1")), "glob fallback must find the true latest")
    // recover() rebuilds the manifest so later reads are O(1) again
    Upsert.recover(spark, dir)
    assert(new java.io.File(s"$dir/_manifests").listFiles().nonEmpty,
      "recover rebuilds a missing manifest")
    assert(state() === Set((1L, "v1")))
  }

  test("vacuum drops superseded generations without changing contents") {
    val dir = s"${tmp()}/t"
    Upsert.create(base, dir, Seq("k"), 2)
    Upsert.upsert(Seq((1L, "x", 0, "U", 1L)).toDF("k", "name", "grp", "_op", "_seq"), dir)
    Upsert.upsert(Seq((1L, "y", 0, "U", 1L)).toDF("k", "name", "grp", "_op", "_seq"), dir)
    val before = Upsert.read(spark, dir).as[(Long, String, Int)].collect().sortBy(_._1)
    Upsert.vacuum(spark, dir)
    val gensPerBucket = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_bucket="))
      .map(_.listFiles().count(_.getName.startsWith("gen=")))
    assert(gensPerBucket.forall(_ === 1), gensPerBucket.mkString(","))
    val after = Upsert.read(spark, dir).as[(Long, String, Int)].collect().sortBy(_._1)
    assert(after === before)
  }

  // ---- reads resolve files from the manifest: no listing -------------

  private def manifestText(dir: String, g: Int): String = new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifests/m-g%09d".format(g))), "UTF-8")

  /** Part files on disk in the generations `manifest` names — what its
    * file lines must list.
    */
  private def partsOnDisk(dir: String, manifest: String): Int =
    manifest.linesIterator.map(_.split("=", 2)).collect {
      case Array(b, g) if b.forall(_.isDigit) =>
        new java.io.File(s"$dir/_bucket=$b/gen=$g").listFiles()
          .count(f => f.getName.startsWith("part-") && f.length > 0)
    }.sum

  private def fileLines(manifest: String): Int =
    manifest.linesIterator.count(_.startsWith("\tpart-"))

  /** Descriptions of the jobs `body` runs (Spark titles a parallel file
    * discovery "Listing leaf files and directories for N paths").
    */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    org.apache.spark.ListenerBusTestHook.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusTestHook.waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def noListing(what: String, jobs: Seq[String]): Unit =
    assert(!jobs.exists(_.startsWith("Listing leaf files")),
      s"$what launched a file-listing job: ${jobs.mkString(" | ")}")

  private type Row3 = (Long, String, Int)

  /** Functional replay of I/U/D change rows (one change per key). */
  private def replay(state: Map[Long, (String, Int)],
      changes: Seq[(Long, String, Int, String, Long)]) =
    changes.foldLeft(state) { case (m, (k, n, g, op, _)) =>
      if (op == "D") m - k else m.updated(k, (n, g))
    }

  private def contents(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Int)] =
    df.as[Row3].collect().map { case (k, n, g) => k -> ((n, g)) }.toMap

  test("a 64-bucket table reads, time-travels and upserts with no listing job") {
    val dir = s"${tmp()}/t"
    val rows = (1L to 2000L).map(k => (k, s"n$k", (k % 7).toInt))
    Upsert.create(rows.toDF("k", "name", "grp"), dir, Seq("k"), 64)
    val s0 = rows.map { case (k, n, g) => k -> ((n, g)) }.toMap
    // changes spread over every bucket: 64 dirty current generations is
    // above Spark's 32-path parallel-discovery threshold
    val changes = (1L to 600L).map { k =>
      if (k % 5 == 0) (k, s"n$k", (k % 7).toInt, "D", 1L)
      else (k, s"u$k", 70 + (k % 7).toInt, "U", 1L)
    } ++ (5001L to 5050L).map(k => (k, s"i$k", 1, "I", 1L))

    val (readDf, readJobs) = jobsDuring(Upsert.read(spark, dir))
    noListing("Upsert.read construction", readJobs)
    val (c0, c0Jobs) = jobsDuring(contents(readDf))
    noListing("the read's action", c0Jobs)
    assert(c0 === s0)

    val (g1, upJobs) = jobsDuring(
      Upsert.upsert(changes.toDF("k", "name", "grp", "_op", "_seq"), dir))
    noListing("an upsert dirtying all 64 buckets", upJobs)
    val gen1 = "gen=g%09d".format(g1)
    val dirtied = new java.io.File(dir).listFiles()
      .count(b => b.getName.startsWith("_bucket=") && new java.io.File(b, gen1).isDirectory)
    assert(dirtied === 64, "the change batch must dirty every bucket")

    val s1 = replay(s0, changes)
    val (c1, c1Jobs) = jobsDuring(contents(Upsert.read(spark, dir)))
    noListing("a read after the upsert", c1Jobs)
    assert(c1 === s1)
    val (old, asOfJobs) = jobsDuring(contents(Upsert.read(spark, dir, asOf = Some(0))))
    noListing("an asOf read", asOfJobs)
    assert(old === s0)
  }

  test("legacy bucket=gen manifests still read; the next upsert writes file lists") {
    val dir = s"${tmp()}/t"
    Upsert.create(base, dir, Seq("k"), 8)
    val expected = contents(Upsert.read(spark, dir))
    // rewrite the manifest in the format without file lists: one
    // `bucket=gen` line per bucket
    val m0 = java.nio.file.Paths.get(s"$dir/_manifests/m-g%09d".format(0))
    assert(manifestText(dir, 0).startsWith("#files"))
    assert(fileLines(manifestText(dir, 0)) === partsOnDisk(dir, manifestText(dir, 0)))
    val legacy = manifestText(dir, 0).linesIterator.filter(_.matches("\\d+=g\\d+")).toSeq
    assert(legacy.size === 8)
    java.nio.file.Files.write(m0, legacy.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(m0.resolveSibling(s".${m0.getFileName}.crc"))
    assert(contents(Upsert.read(spark, dir)) === expected)
    assert(contents(Upsert.read(spark, dir, asOf = Some(0))) === expected)

    val changes = Seq((3L, "updated", 99, "U", 1L), (4L, "n4", 4, "D", 1L),
      (100L, "new", 1, "I", 1L))
    val g1 = Upsert.upsert(changes.toDF("k", "name", "grp", "_op", "_seq"), dir)
    val m1 = manifestText(dir, g1)
    assert(m1.startsWith("#files"), m1)
    // every bucket, clean ones included, now names its part files
    val lines = m1.linesIterator.toSeq
    assert(lines.count(_.matches("\\d+=g\\d+")) === 8)
    assert(fileLines(m1) === partsOnDisk(dir, m1))
    assert(contents(Upsert.read(spark, dir)) === replay(expected, changes))
  }

  test("recover after a crash before the manifest publish rebuilds file lists") {
    val dir = s"${tmp()}/t"
    Upsert.create(base, dir, Seq("k"), 4)
    val s0 = contents(Upsert.read(spark, dir))
    val changes = Seq((7L, "seven", 7, "U", 1L), (200L, "new", 2, "I", 1L))
    val g1 = Upsert.upsert(changes.toDF("k", "name", "grp", "_op", "_seq"), dir)
    val genName = "g%09d".format(g1)
    // roll the table back to the crash window: the generations are
    // committed (finishCommit ran), the marker is live, and the batch's
    // manifest was never published
    val dirty = new java.io.File(dir).listFiles()
      .filter(b => b.getName.startsWith("_bucket=") && new java.io.File(b, s"gen=$genName").isDirectory)
      .map(_.getName.stripPrefix("_bucket=")).sorted
    assert(dirty.nonEmpty)
    assert(new java.io.File(s"$dir/_manifests/m-$genName").delete())
    new java.io.File(s"$dir/_tx").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_tx/upsert-$genName"),
      dirty.mkString(",").getBytes("UTF-8"))
    assert(contents(Upsert.read(spark, dir)) === s0, "unpublished batch must be invisible")
    Upsert.recover(spark, dir)
    assert(!new java.io.File(s"$dir/_tx/upsert-$genName").exists())
    val rebuilt = manifestText(dir, g1)
    assert(rebuilt.startsWith("#files"), rebuilt)
    assert(fileLines(rebuilt) > 0 && fileLines(rebuilt) === partsOnDisk(dir, rebuilt))
    assert(contents(Upsert.read(spark, dir)) === replay(s0, changes))
  }
}
