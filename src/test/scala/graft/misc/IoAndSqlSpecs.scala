package graft.misc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.{DirectOutput, OutputPattern}
import graft.sources.Sources

class OutputPatternSpec extends SparkSpec {
  import spark.implicits._

  test("pattern parse/render: literals, columns, seq, date, random") {
    val p = OutputPattern.parse("res-{status}-{seq:%03d}-{date:yyyyMMdd}-{random:10-99}.parquet")
    val name = p.render(Map("status" -> "F"), 7, java.time.LocalDate.of(2026, 1, 2))
    assert(name.matches("res-F-007-20260102-\\d{2}\\.parquet"))
    // deterministic across calls (stable reruns)
    assert(name === p.render(Map("status" -> "F"), 7, java.time.LocalDate.of(2026, 1, 2)))
  }

  test("writeGrouped renames part files per pattern inside partition dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pattern").toString
    val df = Seq(("F", 1), ("F", 2), ("O", 3)).toDF("status", "v")
    DirectOutput.writeGrouped("t1", s"$dir/_tx",
      DirectOutput.Spec(df.repartition(1), s"$dir/out", partitionBy = Seq("status")),
      OutputPattern.parse("result-{status}-{seq:%02d}.parquet"))
    val f = new java.io.File(s"$dir/out/status=F").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(f.toSeq === Seq("result-F-00.parquet"))
    // data still readable as a partitioned dataset
    assert(spark.read.parquet(s"$dir/out").count() === 3)
  }
}

class DeferredCommitSpec extends SparkSpec {
  import spark.implicits._
  import graft.sinks.DeferredDirectOutput

  private def committedOutputs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && Option(f.listFiles()).exists(_.exists(_.getName == "_GRAFT_COMMITTED")))
      .map(_.getName).toSeq.sorted

  test("crash between rounds leaves zero committed outputs; recovery rolls back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_defer").toString
    val tx = new DeferredDirectOutput("it1", s"$dir/_tx")
    // two rounds stage their outputs, then the job "crashes" (no commit)
    tx.stage(DirectOutput.Spec(Seq(1, 2).toDF("v"), s"$dir/round_0"))
    tx.stage(DirectOutput.Spec(Seq(3).toDF("v"), s"$dir/round_1"))
    assert(committedOutputs(dir).isEmpty, "nothing may be visible before commit")
    // both attempts exist, but no transaction marker was ever written
    assert(new java.io.File(s"$dir/round_0/.attempt-it1").exists())
    assert(!new java.io.File(s"$dir/_tx/.graft-tx-it1").exists())
    // restart-time recovery: marker-less attempts are rolled back
    DirectOutput.recover(spark.sparkContext.hadoopConfiguration, s"$dir/_tx",
      Seq(s"$dir/round_0", s"$dir/round_1"))
    assert(!new java.io.File(s"$dir/round_0/.attempt-it1").exists())
    assert(committedOutputs(dir).isEmpty)
  }

  test("commit publishes every round's output atomically at job end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_defer").toString
    val tx = new DeferredDirectOutput("it2", s"$dir/_tx")
    tx.stage(DirectOutput.Spec(Seq(1, 2).toDF("v"), s"$dir/round_0"))
    tx.stage(DirectOutput.Spec(Seq(3).toDF("v"), s"$dir/round_1"))
    tx.commit()
    assert(committedOutputs(dir) === Seq("round_0", "round_1"))
    assert(spark.read.parquet(s"$dir/round_0").count() === 2)
    assert(spark.read.parquet(s"$dir/round_1").count() === 1)
    // same path twice in one transaction is a contract violation
    val tx2 = new DeferredDirectOutput("it3", s"$dir/_tx")
    tx2.stage(DirectOutput.Spec(Seq(9).toDF("v"), s"$dir/round_2"))
    val e = intercept[IllegalArgumentException] {
      tx2.stage(DirectOutput.Spec(Seq(9).toDF("v"), s"$dir/round_2"))
    }
    assert(e.getMessage.contains("already staged"))
    tx2.abort()
    assert(!new java.io.File(s"$dir/round_2/.attempt-it3").exists())
  }
}

class BucketedSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no shuffle exchange") {
    withConfs(Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      graft.sinks.Bucketed.write(
        (1 to 100).map(i => (i.toLong, i * 2)).toDF("k", "a"),
        "graft_test_ba", bucketBy = Seq("k"), nBuckets = 4, sortBy = Seq("k"))
      graft.sinks.Bucketed.write(
        (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "b"),
        "graft_test_bb", bucketBy = Seq("k"), nBuckets = 4, sortBy = Seq("k"))
      val j = graft.sinks.Bucketed.read(spark, "graft_test_ba")
        .join(graft.sinks.Bucketed.read(spark, "graft_test_bb"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(j.count() === 100)
    }
  }
}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("direct csv/json inputs with explicit schema round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.json(s"$dir/json")
    val schema = df.schema
    val csv = Sources.direct(spark, "csv", s"$dir/csv", Some(schema),
      Map("header" -> "true"))
    val json = Sources.direct(spark, "json", s"$dir/json", Some(schema))
    assert(csv.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(json.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("direct orc input round-trips with predicate pushdown available") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    df.write.orc(s"$dir/orc")
    val orc = Sources.direct(spark, "orc", s"$dir/orc").filter(col("id") > 1L)
    assert(orc.as[(Long, String)].collect().toSet === Set((2L, "b"), (3L, "c")))
  }
}

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions installs without error") {
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("custom expressions usable from SQL after registration") {
    // registration happens once, when the builder installs spark.sql.extensions;
    // the test itself makes no registration call
    val out = spark.sql(
      """SELECT simhash64(array('a','b')) AS sh,
        |       size(minhash_signature(array('x','y'))) AS k,
        |       size(word_shingles(array('a','b','c'), 2)) AS ns
        |FROM (SELECT 1)""".stripMargin).collect().head
    assert(out.getLong(0) !== 0L)
    assert(out.getInt(1) === 64)
    assert(out.getInt(2) === 2)
  }

  test("full SQL surface: every registered function matches its Column-API twin") {
    import graft.functions.{TextFunctions => T}
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat and the dog sat in the road, happy. Contact a@b.com!"),
      (2L, "der und von zu das mit sich ist der die und den von der zu"),
      (3L, "x"),
      (4L, "")).toDF("id", "text")
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT id, token_count(text) AS a, lang_id(text) AS b,
        |       quality_bucket(text) AS c, punct_count(text) AS d,
        |       email_count(text) AS e, redact_emails(text) AS f,
        |       redact_emails(text, 'X') AS f2,
        |       size(graft_tokens(text)) AS g,
        |       size(char_ngrams(text, 3)) AS h,
        |       size(word_shingle_hashes(graft_tokens(text), 2)) AS i,
        |       winnow_fingerprints(text) AS j,
        |       winnow_fingerprints(text, 4, 3) AS j2
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    val viaCol = docs.select(col("id"), T.tokenCount(col("text")), T.langId(col("text")),
        T.qualityBucket(col("text")), T.punctCount(col("text")),
        T.emailCount(col("text")), T.redactEmails(col("text")),
        T.redactEmails(col("text"), "X"), size(T.tokens(col("text"))),
        size(T.charNgrams(col("text"), 3)),
        size(T.shingleHashesOf(T.tokens(col("text")), 2)),
        T.winnowFingerprints(col("text")), T.winnowFingerprints(col("text"), 4, 3))
      .orderBy("id").collect()
    assert(viaSql.toSeq === viaCol.toSeq)
    // vector functions round-trip: cosine of a vector with its 2x copy is 1
    val vec = spark.sql(
      """SELECT cosine_similarity(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS cs,
        |       dequantize_int8(named_struct('scale', 0.5d,
        |         'codes', array(cast(2 as tinyint), cast(-4 as tinyint)))) AS dq""".stripMargin)
      .collect().head
    assert(math.abs(vec.getDouble(0) - 1.0) < 1e-12)
    assert(vec.getSeq[Double](1) === Seq(1.0, -2.0))
    // scalar args must be literals: a column there is an analysis-time error
    val err = intercept[Exception] {
      spark.sql("SELECT char_ngrams(text, id) FROM ext_docs").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("sig_match_frac matches the composable HOF form and poisons mismatches") {
    import spark.implicits._
    // random-ish signature pairs; the HOF form is the executable spec
    val sigs = Seq.tabulate(50) { i =>
      val a = Seq.tabulate(16)(j => graft.functions.Hash64.mix(i * 16L + j))
      val b = Seq.tabulate(16)(j => if ((i + j) % 3 == 0) a(j) else -a(j))
      (a, b)
    }.toDF("a", "b")
    val rows = sigs.select(
      graft.functions.HashFunctions.sig_match_frac(col("a"), col("b")).as("fast"),
      (aggregate(zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1.0).otherwise(0.0)),
        lit(0.0), (acc, x) => acc + x) / 16.0).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1), r.toString))
    // length mismatch and empties are null, not a biased estimate
    val edge = spark.sql(
      """SELECT sig_match_frac(array(1L, 2L), array(1L)) AS m,
        |       sig_match_frac(array(), array()) AS e,
        |       sig_match_frac(array(1L, 2L), array(1L, 3L)) AS h""".stripMargin)
      .collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    assert(edge.getDouble(2) === 0.5)
  }
}

class SortedOutputSpec extends SparkSpec {
  import spark.implicits._

  test("range-sorted output: files cover disjoint key ranges, sorted within") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    val df = spark.range(0, 10000).select(
      (col("id") * 2654435761L % 9999L).as("k"), col("id").as("v"))
    graft.sinks.SortedOutput.write(df, s"$dir/out", Seq("k"), nFiles = 4)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 10000L)
    // per-file min/max must not overlap across files (global range order)
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length === 4)
    for (Seq((_, hi1), (lo2, _)) <- ranges.toSeq.sliding(2))
      assert(hi1 <= lo2, s"overlapping file ranges: $ranges")
    // the sort-key predicate reaches the parquet reader (row-group stats
    // in the sorted files are tight, so the reader skips non-matching
    // row groups); file-listing itself is not partition-pruned here
    val pruned = back.filter(col("k") <= ranges(0)._2)
    pruned.count()
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metadata("PushedFilters").contains("LessThanOrEqual(k"),
      scan.metadata("PushedFilters"))
  }
}
