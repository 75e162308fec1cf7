package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract, read the way a round driver reads it: it
  * keeps only the last ~2000 characters of the sbt run's output and takes
  * the last line that parses as JSON (after sbt's `[info] ` prefix).
  */
class BenchOutputSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def lastJson(stdout: String): Option[JsonNode] =
    stdout.takeRight(2000).linesIterator.toSeq.reverseIterator.flatMap { l =>
      val i = l.indexOf('{')
      if (i < 0) None
      else scala.util.Try(mapper.readTree(l.substring(i))).toOption.filter(_.isObject)
    }.nextOption()

  private val required = Seq("metric", "value", "unit", "runs", "sf", "cpus",
    "contended", "failed", "nQueries")

  private def driverSees(headline: String): JsonNode = {
    // what precedes the headline: Spark's log lines and a long line that
    // the 2000-character cut leaves unparseable, then sbt's trailer
    val noise = "[info] " + "{\"queries_min\":{" +
      (1 to 3000).map(i => s"\"q$i\":0.123").mkString(",") + "}}\n" +
      (1 to 20).map(i => s"[error] 26/10/17 12:00:0$i WARN SomeSparkLogger: noise $i\n").mkString
    val stdout = noise + "[info] " + headline + "\n" +
      "[success] Total time: 934 s (0:15:34.0), completed Oct 17, 2026, 12:00:00 PM\n"
    val got = lastJson(stdout)
    assert(got.isDefined, s"no JSON line in the kept tail:\n${stdout.takeRight(2000)}")
    got.get
  }

  test("the final line is a short headline the driver's 2000-character tail parses") {
    val line = Bench.headline("278.013", 3, "/root/testdata/sf0.1", 32, contended = false,
      Seq.empty, 287, "BENCH_LAST_c32.json")
    assert(line.length < Bench.HeadlineMax)
    val j = driverSees(line)
    required.foreach(k => assert(j.has(k), s"headline lacks $k: $line"))
    assert(j.get("metric").asText === "total")
    assert(j.get("value").asDouble === 278.013)
    assert(j.get("cpus").asInt === 32)
    assert(j.get("nQueries").asInt === 287)
    assert(j.get("failed").isArray && j.get("failed").size === 0)
  }

  test("failures: value is null, names fit the budget or collapse to a count") {
    val few = Bench.headline("null", 3, "/root/testdata/sf0.1", 8, contended = true,
      Seq("q_a", "q_b"), 287, "BENCH_LAST_c8.json")
    val j = driverSees(few)
    assert(j.get("value").isNull)
    assert(j.get("failed").size === 2 && j.get("failed").get(0).asText === "q_a")
    val all = Bench.headline("null", 3, "/root/testdata/sf0.1", 8, contended = false,
      (1 to 287).map(i => s"some_long_query_name_$i"), 287, "BENCH_LAST_c8.json")
    assert(all.length < Bench.HeadlineMax)
    val k = driverSees(all)
    required.foreach(key => assert(k.has(key), s"headline lacks $key: $all"))
    assert(k.get("failed").asInt === 287)
  }
}
