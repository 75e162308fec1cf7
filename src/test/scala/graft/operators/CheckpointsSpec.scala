package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.SparkSpec

/** The round contract of [[Checkpoints.fixpoint]], pinned once on a
  * trivial step (x ↦ x + 1) instead of through every loop built on it.
  */
class CheckpointsSpec extends SparkSpec {

  private def init: DataFrame = spark.range(0, 64, 1, 4).toDF("x")
  private val step = (df: DataFrame, _: Checkpoints.Round) =>
    df.select((col("x") + 1).as("x"))
  private def top(df: DataFrame): Long = df.agg(max(col("x"))).head.getLong(0)
  private def live(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  test("fixpoint: done stops the loop, else maxRounds does; rounds compose") {
    try {
      val (stoppedAt, stopped) =
        Checkpoints.fixpoint(None, init, 10)(step)(df => top(df) >= 66)
      assert(stopped)
      assert(top(stoppedAt) === 66L)
      val (ranOut, doneFired) =
        Checkpoints.fixpoint(None, init, 2)(step) { df => df.count(); false }
      assert(!doneFired)
      assert(top(ranOut) === 65L)
    } finally graft.Caches.clear(spark, blocking = true)
  }

  test("reliable mode writes exactly one rdd-* directory per round") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixpoint").toFile
    def rddDirs(f: java.io.File): Int =
      if (!f.isDirectory) 0
      else (if (f.getName.startsWith("rdd-")) 1 else 0) +
        Option(f.listFiles()).toSeq.flatten.map(rddDirs).sum
    try {
      val (out, _) = Checkpoints.fixpoint(Some(dir.getAbsolutePath), init, 3)(step) {
        df => df.count(); false
      }
      assert(top(out) === 66L)
      assert(rddDirs(dir) === 4, "round 0 and each of the 3 rounds")
    } finally {
      graft.Caches.clear(spark, blocking = true)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("local mode holds at most two rounds' blocks mid-loop and none after Caches.clear") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var peak = 0
    val (out, _) = Checkpoints.fixpoint(None, init, 5)(step) { df =>
      df.count()
      peak = peak max live(before).size
      false
    }
    assert(peak === 2, "the round being checked and its predecessor")
    assert(top(out) === 68L)
    assert(live(before).size === 1, "only the survivor backs the result")
    graft.Caches.clear(spark, blocking = true)
    assert(live(before).isEmpty, s"leaked persistent RDDs: ${live(before)}")
  }

  test("a round's own checkpoints are released once its output materializes") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var peak = 0
    val (out, _) = Checkpoints.fixpoint(None, init, 4)({ (df, round) =>
      val mid = round.checkpoint(df.select((col("x") + 1).as("x")))
      mid.union(mid).groupBy("x").count().select(col("x"))
    }) { df =>
      df.count()
      peak = peak max live(before).size
      false
    }
    assert(peak === 3, "predecessor, the round's own checkpoint, the round")
    assert(top(out) === 67L)
    assert(live(before).size === 1)
    graft.Caches.clear(spark, blocking = true)
    assert(live(before).isEmpty, s"leaked persistent RDDs: ${live(before)}")
  }

  test("each round runs exactly one Spark job: its done action") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("fixpoint-rounds", "CheckpointsSpec")
      Checkpoints.fixpoint(None, init, 4)(step) { df =>
        df.queryExecution.toRdd.count(); false
      }
      // the listener bus delivers in order: once this marker job is seen,
      // every round's job has been seen too
      sc.setJobGroup("fixpoint-end", "CheckpointsSpec")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("fixpoint-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.asScala.count(_ == "fixpoint-rounds") === 5,
        "round 0 and each of the 4 rounds")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      graft.Caches.clear(spark, blocking = true)
    }
  }
}
