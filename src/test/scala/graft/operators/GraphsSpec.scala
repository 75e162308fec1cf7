package graft.operators

import graft.SparkSpec

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def g(edges: (Long, Long)*) = edges.toSeq.toDF("s", "d")

  private def tri(edges: (Long, Long)*): (Long, Long, Long) =
    Graphs.triangleCount(g(edges: _*), "s", "d")
      .as[(Long, Long, Long)].head()

  test("K4 has 4 triangles; stars and paths none") {
    assert(tri((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ===
      ((4L, 6L, 4L)))
    assert(tri((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)) === ((5L, 4L, 0L)))
    assert(tri((1L, 2L), (2L, 3L), (3L, 4L)) === ((4L, 3L, 0L)))
  }

  test("reversed duplicates, parallel edges and self-loops collapse") {
    assert(tri((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (3L, 1L), (1L, 1L)) ===
      ((3L, 3L, 1L)))
  }

  test("two triangles sharing an edge both count") {
    // {1,2,3} and {2,3,4} share edge 2-3
    assert(tri((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)) ===
      ((4L, 5L, 2L)))
  }

  test("skewed star with one closing rim edge: exactly one triangle") {
    // celebrity node 1 connected to 2..50, plus rim edge 2-3
    val edges = (2L to 50L).map(i => (1L, i)) :+ (2L, 3L)
    assert(tri(edges: _*) === ((50L, 50L, 1L)))
  }

  // the same fixed-point algebra as Graphs.pageRank, sequentially
  private def naivePr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, v) <- sym) contrib(v) += r(u) / deg(u)
      r = contrib.map { case (v, c) =>
        v -> (150000L + (c / 1000000L) * 850000L +
          ((c % 1000000L) * 850000L) / 1000000L)
      }.toMap
    }
    r
  }

  private def pr(iters: Int, edges: (Long, Long)*): Map[Long, Long] =
    Graphs.pageRank(g(edges: _*), "s", "d", iters)
      .as[(Long, Long)].collect().toMap

  test("pageRank matches the sequential fixed-point replay exactly") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 5L),
      (5L, 6L), (6L, 1L), (3L, 6L))
    for (iters <- Seq(1, 3, 5))
      assert(pr(iters, edges: _*) === naivePr(edges, iters))
  }

  test("pageRank: star center outranks every leaf; leaves tie") {
    val star = (2L to 20L).map(i => (1L, i))
    val ranks = pr(5, star: _*)
    val leaves = (2L to 20L).map(ranks)
    assert(leaves.distinct.size === 1)
    assert(ranks(1L) > leaves.head)
  }

  test("pageRank: self-loops and duplicate/reversed edges collapse") {
    val clean = pr(3, (1L, 2L), (2L, 3L))
    val noisy = pr(3, (1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (1L, 1L))
    assert(clean === noisy)
  }

  private def ppr(seeds: Seq[Long], iters: Int, edges: (Long, Long)*): Map[Long, Long] = {
    val srcDf = seeds.toDF("n")
    Graphs.personalizedPageRank(g(edges: _*), "s", "d", srcDf, "n", iters)
      .as[(Long, Long)].collect().toMap
  }

  test("personalized pagerank: mass concentrates near the seed; seedless components get zero") {
    // path 1-2-3-4-5 with seed 1, plus a disconnected pair 8-9. Raw ranks
    // are NOT monotone along the path (mass oscillates with parity and
    // piles onto low-degree neighbors: deg(1)=1 sends its whole rank to
    // 2), so assert the robust facts: the seed half of the path holds
    // more mass than the far half, the farthest node is the smallest,
    // and a component with no seed converges to exactly 0.
    val r = ppr(Seq(1L), 5, (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    assert(r(1L) + r(2L) > r(4L) + r(5L), r.toString)
    assert(Seq(1L, 2L, 3L, 4L).forall(n => r(n) > r(5L)), r.toString)
    assert(r(8L) === 0L && r(9L) === 0L, r.toString)
  }

  test("personalized pagerank: matches the sequential seed-restart replay exactly") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val seeds = Set(1L, 4L)
    // sequential dense replay of the exact integer algebra
    val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 4) {
      val contrib = sym.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = deg.keys.map { n =>
        val c = contrib.getOrElse(n, 0L)
        n -> ((if (seeds(n)) 150000L else 0L) +
          (c / 1000000L) * 850000L + ((c % 1000000L) * 850000L) / 1000000L)
      }.toMap
    }
    assert(ppr(Seq(1L, 4L), 4, edges: _*) === r)
  }

  private def bfs(sources: Seq[Long], maxHops: Int, edges: (Long, Long)*): Map[Long, Long] = {
    val srcDf = sources.toDF("n")
    Graphs.bfsDistances(g(edges: _*), "s", "d", srcDf, "n", maxHops)
      .as[(Long, Long)].collect().toMap
  }

  test("bfs: path graph distances from one end") {
    assert(bfs(Seq(1L), 10, (1L, 2L), (2L, 3L), (3L, 4L)) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfs: maxHops truncates; unreachable components never appear") {
    assert(bfs(Seq(1L), 2, (1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfs: multi-source takes the minimum hop; sources report 0") {
    // 1 - 2 - 3 - 4 - 5, sources {1, 5}: node 3 is 2 from both
    assert(bfs(Seq(1L, 5L), 10, (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ===
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("bfs: undirected — edges traverse both ways; cycles terminate") {
    assert(bfs(Seq(3L), 10, (1L, 2L), (2L, 3L), (3L, 1L)) ===
      Map(3L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  test("bfs: edgeless source still reports itself at hop 0") {
    assert(bfs(Seq(9L), 4, (1L, 2L)) === Map(9L -> 0L))
  }

  test("pageRankWeighted matches the sequential weighted replay; parallel edges fold") {
    // directed weighted edges incl. a parallel duplicate (1→2 twice)
    val edges = Seq((1L, 2L, 3L), (1L, 2L, 2L), (1L, 3L, 5L), (2L, 3L, 1L),
      (3L, 1L, 4L), (4L, 1L, 7L))
    def naive(iters: Int): Map[Long, Long] = {
      val folded = edges.groupBy(e => (e._1, e._2)).view
        .mapValues(_.map(_._3).sum).toMap
      val wsum = folded.groupBy(_._1._1).view
        .mapValues(_.values.sum).toMap
      val nodes = folded.keySet.flatMap(k => Set(k._1, k._2))
      var r = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val c = scala.collection.mutable.Map.empty[Long, BigInt].withDefaultValue(BigInt(0))
        for (((u, v), w) <- folded) c(v) += BigInt(r(u)) * w / wsum(u)
        r = nodes.map { n =>
          val cv = c(n)
          n -> (150000L + ((cv / 1000000L) * 850000L + (cv % 1000000L) * 850000L / 1000000L).toLong)
        }.toMap
      }
      r
    }
    for (iters <- Seq(1, 3)) {
      val got = Graphs.pageRankWeighted(edges.toDF("s", "d", "w"),
        "s", "d", "w", iters).as[(Long, Long)].collect().toMap
      assert(got === naive(iters), s"iters=$iters")
    }
  }

  test("pageRankWeighted: heavier in-edges rank higher at equal topology") {
    // star: center 1 points to 2 (w=9) and 3 (w=1)
    val got = Graphs.pageRankWeighted(
      Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("s", "d", "w"), "s", "d", "w", 2)
      .as[(Long, Long)].collect().toMap
    assert(got(2L) > got(3L))
  }

  test("checkpointDir: rounds become RELIABLE checkpoints, results unchanged") {
    // a lost executor mid-loop must be recoverable from durable storage:
    // with checkpointDir set the per-round truncation goes through
    // checkpoint() (files under the dir), not localCheckpoint (blocks) —
    // assert the checkpoint files actually appear AND every result is
    // bit-identical to the local-blocks path
    val dir = java.nio.file.Files.createTempDirectory("graft_gck").toFile
    def rddDirs(): Int = {
      def walk(f: java.io.File): Int =
        if (!f.isDirectory) 0
        else (if (f.getName.startsWith("rdd-")) 1 else 0) +
          Option(f.listFiles()).toSeq.flatten.map(walk).sum
      walk(dir)
    }
    try {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      val prPlain = pr(3, edges: _*)
      val prRel = Graphs.pageRank(g(edges: _*), "s", "d", 3,
          checkpointDir = Some(dir.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(prRel === prPlain)
      assert(rddDirs() >= 3, "each pageRank round should write a reliable checkpoint")
      val before = rddDirs()
      val bfsPlain = bfs(Seq(1L), 4, edges: _*)
      val bfsRel = Graphs.bfsDistances(g(edges: _*), "s", "d",
          Seq(1L).toDF("n"), "n", 4, checkpointDir = Some(dir.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(bfsRel === bfsPlain)
      assert(rddDirs() > before, "bfs rounds should write reliable checkpoints")
      val seeds = Seq(1L).toDF("n")
      val pprPlain = Graphs.personalizedPageRank(g(edges: _*), "s", "d",
        seeds, "n", 3).as[(Long, Long)].collect().toMap
      val pprRel = Graphs.personalizedPageRank(g(edges: _*), "s", "d",
          seeds, "n", 3, checkpointDir = Some(dir.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(pprRel === pprPlain)
      val wEdges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (4L, 1L, 5L))
        .toDF("s", "d", "w")
      val wPlain = Graphs.pageRankWeighted(wEdges, "s", "d", "w", 3)
        .as[(Long, Long)].collect().toMap
      val beforeW = rddDirs()
      val wRel = Graphs.pageRankWeighted(wEdges, "s", "d", "w", 3,
          checkpointDir = Some(dir.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(wRel === wPlain)
      assert(rddDirs() >= beforeW + 3,
        "each pageRankWeighted round should write a reliable checkpoint")
    } finally {
      graft.Caches.clear(spark, blocking = true)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("pageRankWeighted with unit weights on a symmetric graph equals pageRank") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    val sym = (edges ++ edges.map(e => (e._2, e._1))).map { case (a, b) => (a, b, 1L) }
    for (iters <- Seq(1, 4)) {
      val weighted = Graphs.pageRankWeighted(sym.toDF("s", "d", "w"), "s", "d", "w", iters)
        .as[(Long, Long)].collect().toMap
      assert(weighted === pr(iters, edges: _*), s"iters=$iters")
    }
  }

  test("personalizedPageRank with every node as a seed equals pageRank") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    for (iters <- Seq(1, 4))
      assert(ppr((1L to 6L), iters, edges: _*) === pr(iters, edges: _*), s"iters=$iters")
  }

  test("the PageRank and BFS loops leave no persisted blocks behind after Caches.clear") {
    // the CC leak test (ClusterSpec) for the Graphs loops: superseded
    // rounds are released immediately, the survivor via Caches.clear
    val chain = (0L until 12L).map(i => (i, i + 1))
    val runs = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Graphs.pageRank(g(chain: _*), "s", "d", 4)),
      "pageRankWeighted" -> (() => Graphs.pageRankWeighted(
        chain.map { case (a, b) => (a, b, 2L) }.toDF("s", "d", "w"), "s", "d", "w", 4)),
      "personalizedPageRank" -> (() => Graphs.personalizedPageRank(
        g(chain: _*), "s", "d", Seq(0L).toDF("n"), "n", 4)),
      "bfsDistances" -> (() => Graphs.bfsDistances(
        g(chain: _*), "s", "d", Seq(0L).toDF("n"), "n", 20)))
    for ((name, run) <- runs) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(run().count() === 13L, name)
      graft.Caches.clear(spark, blocking = true)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs: $leaked")
    }
  }

  test("chaos: pageRank under continuous block loss recovers from checkpoint files") {
    // executors die mid-loop: a killer thread unpersists EVERY persistent
    // RDD every 75ms for the whole run. With checkpointDir set the loop
    // must complete bit-identical anyway — dead blocks fall back to the
    // round's checkpoint file (or, pre-write, to lineage grounded in a
    // prior round's file). A local-checkpoint run has no such floor.
    val dir = java.nio.file.Files.createTempDirectory("graft_gchaos").toFile
    try {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
        (5L, 6L), (6L, 1L), (2L, 6L))
      val expected = pr(6, edges: _*)
      val got = graft.Chaos.killingBlocks(spark) {
        Graphs.pageRank(g(edges: _*), "s", "d", 6,
            checkpointDir = Some(dir.getAbsolutePath))
          .as[(Long, Long)].collect().toMap
      }
      assert(got === expected)
    } finally {
      graft.Caches.clear(spark, blocking = true)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }
}
