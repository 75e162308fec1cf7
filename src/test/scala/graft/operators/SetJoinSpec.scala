package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SetJoinSpec extends SparkSpec {
  import spark.implicits._

  private def run(num: Int, den: Int, sets: (Long, Seq[String])*)
      : Set[(Long, Long, Long, Long)] =
    SetJoin.prefixJaccard(sets.toSeq.toDF("id", "toks"), col("id"),
        col("toks"), num, den)
      .as[(Long, Long, Long, Long)].collect().toSet

  private def naive(num: Int, den: Int, sets: Seq[(Long, Seq[String])])
      : Set[(Long, Long, Long, Long)] = {
    val s = sets.map { case (id, t) => id -> t.toSet }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- s; (ib, sb) <- s if ia < ib
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if den.toLong * inter >= num.toLong * uni
    } yield (ia, ib, inter, uni)).toSet
  }

  test("completeness: every pair at the threshold survives the prefix filter") {
    // includes pairs exactly AT tau, near-misses below, and skewed sizes
    val sets = Seq(
      1L -> Seq("a", "b", "c", "d", "e"),
      2L -> Seq("a", "b", "c", "d", "f"),      // J = 4/6 = 2/3
      3L -> Seq("a", "b", "c", "d", "e", "f"), // vs 1: J = 5/6
      4L -> Seq("x", "y", "z"),
      5L -> Seq("x", "y", "w"),                // vs 4: J = 2/4 = 1/2
      6L -> Seq("a", "b"),                     // small vs large: size filter
      7L -> Seq("q"))
    for ((num, den) <- Seq((1, 2), (2, 3), (3, 5), (1, 1)))
      assert(run(num, den, sets: _*) === naive(num, den, sets),
        s"tau=$num/$den")
  }

  test("matches brute force on pseudo-random token sets") {
    val vocab = ('a' to 'z').map(_.toString)
    val sets = (1L to 40L).map { i =>
      val h = i * 0x9E3779B97F4A7C15L
      val len = 3 + math.abs(h % 8).toInt
      i -> (0 until len).map(j =>
        vocab(math.abs((h >> (j * 5)) % vocab.size).toInt))
    }
    assert(run(3, 5, sets: _*) === naive(3, 5, sets))
  }

  test("tau = 1 returns exactly the identical-set pairs") {
    val sets = Seq(1L -> Seq("a", "b"), 2L -> Seq("b", "a", "a"),
      3L -> Seq("a", "b", "c"))
    assert(run(1, 1, sets: _*) === Set((1L, 2L, 2L, 2L)))
  }

  test("duplicate tokens collapse; empty sets never pair") {
    val sets = Seq(1L -> Seq("a", "a", "b"), 2L -> Seq("a", "b", "b"),
      3L -> Seq.empty[String])
    assert(run(1, 1, sets: _*) === Set((1L, 2L, 2L, 2L)))
  }
}

/** The vocabulary ranks behind [[SetJoin.prefixJaccard]]: one long per
  * token, injective (so equal rank means equal token), increasing along
  * (occurrence count, token), and the same on every read of the frame.
  */
class SetJoinRanksSpec extends graft.SparkSpec {
  import spark.implicits._

  test("ranks are injective, follow (count, token) and repeat across evaluations") {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 300).map(i => s"w${i % 97}_${i / 97}") ++ Seq("é", "日本", "😀", "a b")
    // skewed occurrence counts, so many tokens tie on count
    val occ = Seq.fill(5000)(vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
    val tok = occ.toDF("_t").repartition(4)
    val rk = SetJoin.ranks(tok)
    val first = rk.as[(String, Long)].collect().toMap
    val second = rk.as[(String, Long)].collect().toMap
    assert(first === second)
    assert(first.keySet === occ.toSet)
    assert(first.values.toSet.size === first.size, "two tokens share a rank")
    val counts = occ.groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    // tokens compare by UTF-8 bytes, as orderBy compares strings
    def bytes(t: String) = org.apache.spark.unsafe.types.UTF8String.fromString(t)
    val byKey = first.keys.toSeq.sortWith((x, y) =>
      if (counts(x) != counts(y)) counts(x) < counts(y)
      else bytes(x).binaryCompare(bytes(y)) < 0)
    assert(byKey.map(first) === byKey.map(first).sorted, "ranks do not follow (count, token)")
    graft.Caches.clear(spark, blocking = true)
  }
}
