package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The merge-count kernel of the set join's verify step must equal
  * `size(array_intersect(a, b))` on sorted, distinct long sets, including
  * empty sets, disjoint sets, identical sets, negative values and the
  * extremes of the long range.
  */
class SortedLongIntersectSizeSpec extends SparkSpec {
  import spark.implicits._

  test("equals size(array_intersect) on random sorted long sets, empty ones included") {
    val rnd = new scala.util.Random(13)
    val pool = (-20L to 40L) ++ Seq(Long.MinValue, Long.MaxValue, 1L << 33, (1L << 33) + 1)
    def set(): Seq[Long] = Seq.fill(rnd.nextInt(16))(pool(rnd.nextInt(pool.size))).distinct
    val rows = (0 until 3000).map { i =>
      val a = set()
      // half the pairs share a subset, so intersections are not all tiny
      val b = if (i % 2 == 0) (set() ++ rnd.shuffle(a).take(rnd.nextInt(a.size + 1))).distinct
              else set()
      (i.toLong, a, b)
    }
    val out = rows.toDF("id", "a", "b")
      .select(sort_array(col("a")).as("sa"), sort_array(col("b")).as("sb"))
      .select(HashFunctions.sorted_long_intersect_size(col("sa"), col("sb")).as("got"),
        size(array_intersect(col("sa"), col("sb"))).as("ref"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .collect()
    assert(out.exists(_.getInt(1) > 0) && out.exists(_.getInt(1) == 0))
    assert(out.exists(r => r.getInt(2) == 0 || r.getInt(3) == 0))
    out.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
  }

  test("empty, disjoint, identical and boundary-valued sets") {
    def arr(xs: Long*) = new GenericArrayData(xs.toArray)
    assert(SortedLongIntersectSize.compute(arr(), arr()) === 0)
    assert(SortedLongIntersectSize.compute(arr(), arr(1L)) === 0)
    assert(SortedLongIntersectSize.compute(arr(1L, 3L, 5L), arr(2L, 4L, 6L)) === 0)
    assert(SortedLongIntersectSize.compute(arr(1L, 2L, 3L), arr(1L, 2L, 3L)) === 3)
    assert(SortedLongIntersectSize.compute(arr(Long.MinValue, 0L, Long.MaxValue),
      arr(Long.MinValue, Long.MaxValue)) === 2)
    // the last elements match: a merge that stops one step early misses it
    assert(SortedLongIntersectSize.compute(arr(1L, 9L), arr(2L, 9L)) === 1)
    // a repeated common value counts once, as in array_intersect
    assert(SortedLongIntersectSize.compute(arr(1L, 1L, 2L), arr(1L, 2L, 2L)) === 2)
  }

  test("rejects arrays that may hold nulls or are not long arrays") {
    val df = Seq((Seq(1L), Seq("a"))).toDF("a", "s")
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(HashFunctions.sorted_long_intersect_size(col("a"), col("s"))).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(HashFunctions.sorted_long_intersect_size(col("a"),
        array(lit(null).cast("long")))).collect())
  }
}
