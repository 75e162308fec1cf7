package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The per-query leak gate: after [[Caches.clear]] NOTHING an operator
    * persisted may remain — an untracked persist silently taxes every
    * later query in the session (round 4's 8-15x bench regressions).
    * Returns true (a leak) after force-dropping the leftovers so one
    * query's leak can't also tax the next; `main` fails the whole dump
    * when any query leaked, so the offending operator is named in CI the
    * day it lands.
    */
  private[graft] def leakCheck(spark: SparkSession, name: String): Boolean = {
    Caches.clear(spark, blocking = true)
    val left = spark.sparkContext.getPersistentRDDs
    if (left.nonEmpty) {
      System.err.println(
        s"[verify] LEAK: $name left ${left.size} persisted RDD(s) after Caches.clear")
      left.values.foreach(_.unpersist(true))
    }
    left.nonEmpty
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // fixture-drift tripwire: the driver regenerates the testdata between
    // rounds and has changed physical encodings before (events.ts
    // nanos-long → timestamp[us] in r6, which broke 7 queries) — log each
    // table's schema so the NEXT drift is one grep away, not a debugging
    // session
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      try {
        val sch = spark.read.parquet(s"$sfDir/$t.parquet").schema
        System.err.println(s"[verify] fixture $t: " +
          sch.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] fixture $t: unreadable (${e.getMessage})")
      }
    }
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump (local iteration); unset = all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(f => SparkEntry.queries.filter(kv => f(kv._1)))
    // leak audit (CI gate): after Caches.clear NOTHING an operator
    // persisted may remain — an untracked persist would silently tax every
    // later query (round 4's 8-15x bench regressions). Failing the dump
    // here surfaces the offending operator by name the day it lands.
    var leaks = List.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally if (leakCheck(spark, name)) leaks ::= name
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (leaks.nonEmpty)
      throw new IllegalStateException(
        s"persisted-RDD leak in: ${leaks.distinct.sorted.mkString(", ")}")
  }
}
