package graft.functions

import org.apache.spark.sql.functions._

class NormalizeTextSpec extends graft.SparkSpec {
  import spark.implicits._

  private def norm(texts: String*): Seq[String] =
    texts.toDF("t").select(TextFunctions.normalizeText(col("t")))
      .as[String].collect().toSeq

  test("decomposed and precomposed forms of the same word normalize identically") {
    // "Cafe" + U+0301 (combining acute) is the NFD spelling of "Café"
    assert(norm("Café", "Café", "café") ===
      Seq("caf\u00e9", "caf\u00e9", "caf\u00e9"))
  }

  test("case folds with the same simple mapping as lower()") {
    assert(norm("MiXeD Case", "\u00c9COLE") === Seq("mixed case", "\u00e9cole"))
  }

  test("whitespace runs collapse to one space; ends trim; all-ws becomes empty") {
    assert(norm("a  b\tc\n\nd\r\ne", "  lead", "trail   ", " \t\r\n ", "") ===
      Seq("a b c d e", "lead", "trail", "", ""))
  }

  test("already-normal text is unchanged, and normalization is idempotent") {
    val already = "plain lowercase single spaced text"
    assert(norm(already) === Seq(already))
    val messy = "  Café  MENU\tover\n\nENDÉ "
    val once = norm(messy).head
    assert(norm(once) === Seq(once))
  }

  test("null passes through null; non-Latin text (no case, already NFC) unchanged") {
    val out = Seq[(java.lang.Long, String)]((1L, null), (2L, "中文 text"))
      .toDF("id", "t").select(TextFunctions.normalizeText(col("t")))
      .collect().map(_.get(0))
    assert(out === Array(null, "中文 text"))
  }

  test("interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val samples = Seq("Café  X", "  A\tB  ", "café", "", "É \r\n q")
    for (s <- samples) {
      val interpreted = NormalizeText(Literal(s)).eval(null).toString
      val viaPlan = norm(s).head // whole-stage codegen on the projection path
      assert(interpreted === viaPlan, s"for input ${s.map(_.toInt)}")
    }
  }

  test("SQL registration: normalize_text works through spark.sql") {
    val out = spark.sql("SELECT normalize_text('  Café  MENU  ') AS n")
      .as[String].collect()
    assert(out === Array("caf\u00e9 menu"))
  }
}
