package graft.props

import org.scalacheck.Gen

import graft.SparkSpec
import graft.operators.{Intervals, RangeJoin}

/** Round-11 seam fuzz: the two Long-extreme edges of
  * [[Intervals.merge]]'s negative-`minGap` branch (the island
  * test now runs in pure long arithmetic with a compile-time sliver
  * guard; the underflow side is a NEW code path) and
  * [[RangeJoin.rangeJoin]]'s default bucket width for windows spanning
  * more than Long.MaxValue (the span is now computed in BigInt and
  * clamped — the wrapped span used to read tiny and explode the bucket
  * sequence toward 2^64 rows). Same discipline as Round10PropertiesSpec:
  * distributed operator vs a naive driver-side BigInt reference, on
  * inputs parked within an offset's reach of the Long range ends.
  */
class Round11PropertiesSpec extends SparkSpec {
  import spark.implicits._
  import Props.samples

  private val intervalGen: Gen[(Long, Long)] = for {
    s <- Gen.frequency(
      4 -> Gen.choose(0L, 60L),
      1 -> Gen.choose(Long.MaxValue - 40L, Long.MaxValue),
      1 -> Gen.choose(Long.MinValue, Long.MinValue + 40L))
    span <- Gen.choose(0L, 15L)
  } yield (s, if (s > Long.MaxValue - span) Long.MaxValue else s + span)

  test("Intervals.merge: NEGATIVE minGap (overlap requirement) exact at Long extremes (vs naive)") {
    val rows = Gen.listOf(Gen.zip(Gen.choose(0, 2), intervalGen))
    // pinned underflow case: prevMax = MinValue+3 with gap −5 makes
    // `prevMax + gap` wrap in BIGINT toward +2^63 — an unguarded long
    // compare would see a huge threshold and merge an island that in
    // exact arithmetic must split
    val pinned = (List(
      (0, (Long.MinValue, Long.MinValue + 3L)),
      (0, (Long.MinValue + 2L, Long.MinValue + 9L))), -5L)
    for ((ivs, gap) <- pinned +: samples(
        Gen.zip(rows, Gen.choose(-15L, -1L)), 8, seed = 111L)) {
      val df = ivs.map { case (k, (s, e)) => (k, s, e) }.toDF("k", "s", "e")
      val got = Intervals.merge(df, Seq("k"), "s", "e", minGap = gap)
        .select("k", "s", "e", "n_merged").as[(Int, Long, Long, Long)]
        .collect().toSet
      // naive: BigInt running-max sweep mirroring the operator's island
      // rule (open iff start > runningMaxEnd + gap) — wrap-free
      val naive = ivs.groupBy(_._1).flatMap { case (k, g) =>
        val sorted = g.map(_._2).sorted
        case class Isl(s: Long, e: Long, n: Long)
        val (islands, _) = sorted.foldLeft((List.empty[Isl], Option.empty[BigInt])) {
          case ((acc, runMax), (s, e)) =>
            val open = runMax.forall(m => BigInt(s) > m + gap)
            val nextMax = Some(runMax.fold(BigInt(e))(_ max BigInt(e)))
            if (open) (Isl(s, e, 1L) :: acc, nextMax)
            else {
              val h = acc.head
              (Isl(h.s, math.max(h.e, e), h.n + 1) :: acc.tail, nextMax)
            }
        }
        islands.map(i => (k, i.s, i.e, i.n))
      }.toSet
      assert(got === naive, s"ivs=$ivs gap=$gap")
    }
  }

  test("RangeJoin.rangeJoin: window spanning more than Long.MaxValue neither wraps nor explodes") {
    // lower near MinValue + upper near MaxValue: the span upper−lower
    // wraps negative in Long; before the BigInt clamp the derived shift
    // was ~0 and sequence() tried to materialize ~2^64 buckets per row.
    // After the clamp: shift 63, ≤ 2 bucket copies, residual exact —
    // every same-key pair matches (the window covers the whole axis).
    val idGen: Gen[Long] = Gen.frequency(
      3 -> Gen.choose(-100L, 100L),
      1 -> Gen.choose(Long.MaxValue - 50L, Long.MaxValue),
      1 -> Gen.choose(Long.MinValue, Long.MinValue + 50L))
    val rows = Gen.listOf(Gen.zip(Gen.choose(0, 2), idGen))
    val boundsGen = Gen.zip(
      Gen.choose(Long.MinValue, Long.MinValue + 1000L),
      Gen.choose(Long.MaxValue - 1000L, Long.MaxValue))
    for (((ls, rs), (lo, hi)) <- samples(
        Gen.zip(Gen.zip(rows, rows), boundsGen), 6, seed = 211L)) {
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }.toDF("id", "k", "t")
      val right = rs.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }.toDF("rid", "k", "rt")
      val got = RangeJoin.rangeJoin(left, right, Seq("k"), "t", "rt",
          lowerMicros = lo, upperMicros = hi)
        .select("id", "rid").as[(Long, Long)].collect().toSet
      val naive = (for {
        ((lk, lt), li) <- ls.zipWithIndex
        ((rk, rt), ri) <- rs.zipWithIndex
        if lk == rk &&
          BigInt(rt) >= BigInt(lt) + lo && BigInt(rt) <= BigInt(lt) + hi
      } yield (li.toLong, ri.toLong)).toSet
      assert(got === naive, s"ls=$ls rs=$rs lo=$lo hi=$hi")
    }
  }
}
