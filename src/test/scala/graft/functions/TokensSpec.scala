package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The one-pass tokenizer must equal the higher-order form it replaced,
  * `filter(split(text, " "), t => t =!= "")`, element for element: null
  * text, empty and all-space text, leading, trailing and repeated spaces,
  * tabs and newlines (which stay inside tokens: only 0x20 splits), and
  * multi-byte UTF-8.
  */
class TokensSpec extends SparkSpec {
  import spark.implicits._

  private val edge = Seq(null, "", " ", "   ", "a", " a", "a ", "  a  b  ", "a b c",
    "a\tb c", "\ta\t \n", "line1\nline2 x", "a b c", "日本語 テキスト  😀x",
    "é  ée", "\uFFFF 😀 \u0000", "a\u0000 b", "\r\n \r\n")

  /** Random strings over an alphabet heavy in spaces and other whitespace. */
  private def random(rnd: scala.util.Random): String = {
    val alphabet = Seq(" ", " ", " ", "a", "b", "\t", "\n", "é", "日", "😀", " ", "x")
    Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.size))).mkString
  }

  private def reference(text: org.apache.spark.sql.Column) =
    filter(split(text, " "), t => t =!= lit(""))

  test("codegen'd tokens equals filter(split(text, \" \"), _ =!= \"\") on edge and random texts") {
    val rnd = new scala.util.Random(7)
    val texts = edge ++ Seq.fill(3000)(random(rnd))
    val out = texts.toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("got"),
        reference(col("text")).as("ref"))
      .collect()
    assert(out.length === texts.size)
    out.foreach { r =>
      val got = Option(r.getSeq[String](1))
      val ref = Option(r.getSeq[String](2))
      assert(got === ref, s"text=${Option(r.getString(0)).map(_.map(_.toInt))}")
    }
    // the edge set exercises every rule: a null, an empty result, a
    // token holding a tab and one holding a newline
    assert(out.exists(_.isNullAt(1)))
    assert(out.exists(r => !r.isNullAt(1) && r.getSeq[String](1).isEmpty))
    assert(out.exists(r => !r.isNullAt(1) && r.getSeq[String](1).contains("a\tb")))
    assert(out.exists(r => !r.isNullAt(1) && r.getSeq[String](1).contains("line1\nline2")))
  }

  test("interpreted tokens equals the codegen'd form and keeps the array type") {
    val tok = Tokens(Literal(UTF8String.fromString("  日本 a\tb  c "), StringType))
    val got = tok.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq
    assert(got === Seq("日本", "a\tb", "c"))
    assert(Tokens(Literal(null, StringType)).eval() === null)
    val df = Seq("a b").toDF("text")
    assert(df.select(TextFunctions.tokens(col("text"))).schema.head.dataType ===
      df.select(reference(col("text"))).schema.head.dataType)
  }

  test("non-string input is cast to string, as split casts it") {
    val df = Seq((123, "b c"), (-4, "  "), (0, null)).toDF("n", "s")
      .select(col("n"), col("s").cast("binary").as("b"))
    Seq("n", "b").foreach { c =>
      val got = df.selectExpr(s"graft_tokens($c)").collect().map(r => Option(r.getSeq[String](0)))
      val ref = df.select(reference(col(c))).collect().map(r => Option(r.getSeq[String](0)))
      assert(got.toSeq === ref.toSeq, c)
    }
    assert(df.selectExpr("graft_tokens(n)").head().getSeq[String](0) === Seq("123"))
  }

  test("graft_tokens SQL function goes through the kernel") {
    val r = spark.sql("SELECT graft_tokens(' x  y\tz ') AS t").head().getSeq[String](0)
    assert(r === Seq("x", "y\tz"))
  }
}
