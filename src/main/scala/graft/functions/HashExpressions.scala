package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit mixing / hashing primitives shared by the sketch expressions.
  * splitmix64 finalizer (Steele et al., "Fast splittable pseudorandom
  * number generators", OOPSLA'14) — public-domain constant mixing, the
  * standard cheap way to derive k independent hash functions from one
  * base hash.
  */
object Hash64 {
  @inline final def mix(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over UTF-8 bytes, then splitmix-finalized. */
  final def hashString(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix(h)
  }
}

/** MinHash signature of a set of string shingles, one pass.
  *
  * For each of `k` hash functions h_i(x) = mix(hash(x) ^ seed_i), emits
  * min over the input array — the classic MinHash sketch (Broder '97):
  * P[sig_a(i) == sig_b(i)] = Jaccard(a, b). A single O(n·k) pass beats the
  * composable-built-ins form (k × transform+array_min) which materializes
  * k intermediate arrays per row; this is the "custom Expression beats
  * composition" case of the design rules. Null/empty input → all-MaxValue
  * signature (matches nothing).
  */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], k, seed)

  // whole-stage codegen: a direct static call, no row materialization
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSignature.compute($c, $k, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  def compute(arr: ArrayData, k: Int, seed: Long): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = Hash64.hashString(arr.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = Hash64.mix(base ^ (seed + j * 0x9e3779b97f4a7c15L))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** LSH band buckets of a MinHash signature, one pass: element `b` is
  * `xxhash64(concat_ws(",", slice(sig, b*rows + 1, rows)))` — XXH64 with
  * Spark's default seed 42 over the band's values written in decimal and
  * joined by commas. The composable form runs that lambda on the
  * interpreted higher-order-function path (cast to string array, concat,
  * hash, per band per doc); this writes the same bytes into one reused
  * buffer and hashes them in place.
  *
  * The result is BIT-IDENTICAL to the composable form, including its edge
  * cases: null elements are skipped as `concat_ws` skips them, a band past
  * the end of a short signature hashes the empty string, and a null
  * signature hashes every band as empty (`concat_ws` of a null array is
  * ""), so the result is never null. Persisted MinHash indexes key on
  * these values (see [[graft.dedup.Dedup.minhashIndex]]).
  */
case class BandHashes(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  require(bands >= 1 && rows >= 1, "band_hashes: need bands >= 1 and rows >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    BandHashes.compute(child.eval(input).asInstanceOf[ArrayData], bands, rows,
      new Array[Byte](BandHashes.bufferSize(rows)))

  // the digit buffer is per generated-class instance (one per task
  // thread), reused across rows and bands
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val buf = ctx.addMutableState("byte[]", "bandBuf",
      v => s"$v = new byte[${BandHashes.bufferSize(rows)}];")
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.BandHashes.compute(
      |  ${c.isNull} ? null : ${c.value}, $bands, $rows, $buf);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

object BandHashes {
  /** Spark's `xxhash64` default seed. */
  private final val Seed = 42L
  private val MinValueDigits = Long.MinValue.toString.getBytes("US-ASCII")
  private val Pow10 = Array.iterate(1L, 19)(_ * 10)

  /** One band's text: `rows` values of at most 20 characters plus commas. */
  def bufferSize(rows: Int): Int = rows * 21

  def compute(sig: ArrayData, bands: Int, rows: Int, buf: Array[Byte]): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var i = b * rows
      val until = math.min(i + rows, n)
      var len = 0
      while (i < until) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = ','; len += 1 }
          len = putDecimal(buf, len, sig.getLong(i))
        }
        i += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `v` in decimal (as `Long.toString`) at `buf(pos)`; returns the end. */
  private def putDecimal(buf: Array[Byte], pos: Int, v: Long): Int = {
    if (v == Long.MinValue) {
      System.arraycopy(MinValueDigits, 0, buf, pos, MinValueDigits.length)
      return pos + MinValueDigits.length
    }
    var start = pos
    var x = v
    if (x < 0) { buf(start) = '-'; start += 1; x = -x }
    var digits = 1
    while (digits < 19 && x >= Pow10(digits)) digits += 1
    var i = start + digits - 1
    while (i >= start) {
      buf(i) = ('0' + (x % 10)).toByte
      x /= 10
      i -= 1
    }
    start + digits
  }
}

/** 64-bit SimHash (Charikar '02) over string tokens: per token hash, each
  * bit votes ±1; the signature takes the sign of each bit's tally. Near-dup
  * docs differ in few bits → Hamming-distance banding finds them without
  * pairwise comparison. Null/empty input → 0L.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def compute(arr: ArrayData): Long = {
    val tally = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Hash64.hashString(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) tally(j) += 1 else tally(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (tally(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** Word k-shingles of a token array, one pass.
  *
  * The composable form (`transform(sequence(...), i => concat_ws(" ",
  * slice(toks, i+1, k)))`) is evaluated by Spark's interpreted
  * higher-order-function path — per-element expression-tree walks and
  * allocations made it the hottest spot of the dedup pipeline by far.
  * This expression builds all shingles in a single tight loop over the
  * backing array. Null/short input → empty array.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val sep = UTF8String.fromString(" ")

  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      System.arraycopy(toks, i, parts, 0, k)
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Character n-grams of a string, one pass (empty array when shorter than
  * n). Replaces the transform-over-sequence form whose per-element
  * interpreted evaluation re-walked the expression tree per gram.
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "ngram size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    CharNgrams.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharNgrams.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      out(i) = s.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Winnowing sliding-window minima over an array of hashes (Schleimer et
  * al., SIGMOD'03): for each window of `w` consecutive hashes keep the
  * minimum, dedup and sort. One pass with a monotonic deque — O(n) versus
  * the O(n·w) interpreted transform+slice+array_min chain.
  */
case class WinnowMins(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "window must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    WinnowMins.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowMins.compute($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)
}

object WinnowMins {
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val hs = arr.toLongArray()
    val mins = new java.util.TreeSet[java.lang.Long]()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    if (n < w) {
      var i = 0
      while (i < n) { mins.add(hs(i)); i += 1 }
    } else {
      // monotonic deque of indices, increasing hash values
      val deque = new java.util.ArrayDeque[Int]()
      var i = 0
      while (i < n) {
        while (!deque.isEmpty && hs(deque.peekLast()) >= hs(i)) deque.pollLast()
        deque.addLast(i)
        if (deque.peekFirst() <= i - w) deque.pollFirst()
        if (i >= w - 1) mins.add(hs(deque.peekFirst()))
        i += 1
      }
    }
    val out = new Array[Long](mins.size())
    val it = mins.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Fraction of equal positions in two MinHash signatures — the unbiased
  * Jaccard estimate (Broder '97: each position matches with probability
  * J). One codegen'd loop over the long arrays; the composable form
  * (aggregate ∘ zip_with) runs on the interpreted higher-order-function
  * path with a boxed accumulator per element, and it sits in the
  * candidate-verification filter — the O(|candidate pairs| · k) hot spot
  * of every MinHash dedup/ingest batch. Length mismatch (signatures built
  * with different k — a caller contract violation) → null, a visible
  * poison rather than a silently-biased estimate. Empty arrays → null.
  */
case class SigMatchFrac(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    SigMatchFrac.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("frac")
      s"""
         |java.lang.Double $r = graft.functions.SigMatchFrac.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : SigMatchFrac = copy(left = newLeft, right = newRight)
}

object SigMatchFrac {
  /** Null (boxed) when lengths differ or inputs are empty. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return null
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    java.lang.Double.valueOf(eq.toDouble / n)
  }
}

/** Size of the intersection of two ascending arrays of distinct longs —
  * the exact verify step of [[graft.operators.SetJoin.prefixJaccard]],
  * which holds each set as its sorted token ranks. One merge pass, no
  * allocation, equal to `size(array_intersect(a, b))` (a repeated common
  * value counts once). The arrays hold no nulls (the type check pins
  * `containsNull = false`). Null input → null.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == ArrayType(LongType, containsNull = false)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_long_intersect_size needs two null-free array<bigint>, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedLongIntersectSize.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : SortedLongIntersectSize = copy(left = newLeft, right = newRight)
}

object SortedLongIntersectSize {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var count = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        count += 1
        // step both sides past every copy of the common value
        i += 1
        while (i < na && a.getLong(i) == x) i += 1
        j += 1
        while (j < nb && b.getLong(j) == x) j += 1
      }
    }
    count
  }
}

/** Whitespace tokens of a string, one pass: exactly
  * `filter(split(text, " "), t => t =!= "")`, the maximal runs of bytes
  * other than the space 0x20 (tabs and newlines stay inside tokens; 0x20
  * never occurs inside a multi-byte UTF-8 sequence, so a byte scan splits
  * where the char-level split does). The higher-order form ran on Spark's
  * interpreted lambda path and built the split array before filtering it.
  * Null → null; empty or all-space → empty array. The tokens share one
  * copy of the text's bytes. A non-string argument is cast to string, as
  * `split` casts it.
  */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    Tokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.Tokens.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) {
      if (bytes(i) != ' ' && (i == 0 || bytes(i - 1) == ' ')) count += 1
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (bytes(i) == ' ') i += 1
      val start = i
      while (i < n && bytes(i) != ' ') i += 1
      out(k) = UTF8String.fromBytes(bytes, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Column wrappers + SQL registration for the sketch expressions.
  * Spark 4 moved Column↔Expression bridging to classic.ExpressionUtils.
  */
object HashFunctions {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def minhash_signature(shingles: Column, k: Int = 64, seed: Long = 42L): Column =
    column(MinHashSignature(expression(shingles), k, seed))

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))

  def word_shingles(tokens: Column, k: Int): Column =
    column(WordShingles(expression(tokens), k))

  def char_ngrams(text: Column, n: Int): Column =
    column(CharNgrams(expression(text), n))

  def winnow_mins(hashes: Column, w: Int): Column =
    column(WinnowMins(expression(hashes), w))

  def stopword_counts(text: Column, profiles: Seq[Seq[String]]): Column =
    column(StopwordCounts(expression(text), profiles))

  def ascii_char_count(text: Column, chars: String): Column =
    column(AsciiCharCount(expression(text), chars))

  def word_shingle_hashes(tokens: Column, k: Int): Column =
    column(WordShingleHashes(expression(tokens), k))

  def sig_match_frac(a: Column, b: Column): Column =
    column(SigMatchFrac(expression(a), expression(b)))

  def band_hashes(sig: Column, bands: Int, rows: Int): Column =
    column(BandHashes(expression(sig), bands, rows))

  def sorted_long_intersect_size(a: Column, b: Column): Column =
    column(SortedLongIntersectSize(expression(a), expression(b)))

  def tokens(text: Column): Column = column(Tokens(expression(text)))

  def normalize_text(text: Column): Column =
    column(NormalizeText(expression(text)))
}
