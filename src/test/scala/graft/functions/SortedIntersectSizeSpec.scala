package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The merge-count kernel of the set join's verify step must equal
  * `size(array_intersect(a, b))` on `sort_array`-ordered (df, token) sets,
  * including the cases a merge gets wrong first: empty sets, null elements
  * and null fields, equal df with different tokens, multi-byte UTF-8
  * tokens whose byte order differs from their char order, duplicates.
  */
class SortedIntersectSizeSpec extends SparkSpec {

  private val elem = StructType(Seq(StructField("_df", LongType), StructField("_t", StringType)))
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("a", ArrayType(elem)), StructField("b", ArrayType(elem))))

  // ASCII, 2-, 3- and 4-byte UTF-8; "\uFFFF" sorts below "😀" by bytes
  // but above it by UTF-16 chars
  private val vocab = (0 until 30).map(i => s"t$i") ++
    Seq("é", "ée", "日本", "日本語", "😀", "😀a", "\uFFFF", "z", "", "a\u0000b")
  // few distinct df values: equal df with different tokens is the rule
  private def df(t: String): Long = (t.hashCode & 0x7fffffff) % 3L + 1L

  /** Random set with mostly well-formed (df(t), t) elements; `nulls` adds
    * null elements, null fields and duplicates. */
  private def randomSet(rnd: scala.util.Random, nulls: Boolean): Seq[Row] =
    Seq.fill(rnd.nextInt(14)) {
      val t = vocab(rnd.nextInt(vocab.size))
      if (!nulls) Row(df(t), t)
      else rnd.nextInt(10) match {
        case 0 => null
        case 1 => Row(null, t)
        case 2 => Row(df(t), null)
        case 3 => Row(null, null)
        case _ => Row(df(t), t)
      }
    }

  private def check(nulls: Boolean, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 3000).map { i =>
      val a = randomSet(rnd, nulls)
      // half the pairs share a subset, so intersections are not all tiny
      val b = if (i % 2 == 0) randomSet(rnd, nulls) ++ rnd.shuffle(a).take(rnd.nextInt(a.size + 1))
              else randomSet(rnd, nulls)
      Row(i.toLong, (if (nulls) a else a.distinct), (if (nulls) b else b.distinct))
    }
    val sorted = spark.createDataFrame(rows.asJava, schema)
      .select(col("id"), sort_array(col("a")).as("sa"), sort_array(col("b")).as("sb"))
    val out = sorted.select(
      HashFunctions.sorted_intersect_size(col("sa"), col("sb")).as("got"),
      size(array_intersect(col("sa"), col("sb"))).as("ref"),
      size(array_intersect(transform(col("sa"), e => e("_t")),
        transform(col("sb"), e => e("_t")))).as("tokRef")).collect()
    assert(out.exists(_.getInt(1) > 0) && out.exists(_.getInt(1) == 0))
    out.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
    // without nulls a token has one df, so the token-level intersection
    // (what the set join used to compute) is the same number
    if (!nulls) out.foreach(r => assert(r.getInt(0) === r.getInt(2), r.toString))
  }

  test("equals size(array_intersect) on random sorted (df, token) sets") {
    check(nulls = false, seed = 11)
  }

  test("equals size(array_intersect) with null elements, null fields and duplicates") {
    check(nulls = true, seed = 12)
  }

  test("empty sets, equal df with different tokens, byte order of multi-byte tokens") {
    def arr(es: (Long, String)*) = new GenericArrayData(es.map { case (d, t) =>
      InternalRow(d, UTF8String.fromString(t)) }.toArray[Any])
    assert(SortedIntersectSize.compute(arr(), arr()) === 0)
    assert(SortedIntersectSize.compute(arr(), arr(1L -> "a")) === 0)
    assert(SortedIntersectSize.compute(arr(1L -> "a", 1L -> "b"), arr(1L -> "b", 1L -> "c")) === 1)
    // binary order: "\uFFFF" (EF BF BF) < "😀" (F0 9F 98 80)
    val mb = arr(2L -> "é", 2L -> "\uFFFF", 2L -> "😀")
    assert(SortedIntersectSize.compute(mb, arr(2L -> "\uFFFF", 2L -> "😀")) === 2)
    assert(SortedIntersectSize.compute(mb, mb) === 3)
    // same token under different df is a different element
    assert(SortedIntersectSize.compute(arr(1L -> "a"), arr(2L -> "a")) === 0)
  }
}
