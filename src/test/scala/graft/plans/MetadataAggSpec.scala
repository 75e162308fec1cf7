package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.{SparkEntry, SparkSpec}

/** Parquet aggregate pushdown: `metadata_agg` answers a global
  * COUNT/MIN/MAX from row-group statistics (PushedAggregation in the
  * scan, no data pages read) on a clone of the caller's session, without
  * changing the caller's confs. The 100 TB table-stats query at
  * metadata cost.
  */
class MetadataAggSpec extends SparkSpec {

  private val keys = Seq("spark.sql.parquet.aggregatePushdown", "spark.sql.sources.useV1SourceList")

  test("count/min/max push into the parquet scan as PushedAggregation") {
    val before = keys.map(spark.conf.getOption)
    // the aggregate runs on a session clone, so its plan is read from the
    // SparkContext's SQL execution events rather than the returned frame
    val plans = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.synchronized(plans += s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val rows = SparkEntry.queries("metadata_agg")(spark, templateDir).collect()
        eventually(timeout(30.seconds)) {
          assert(plans.synchronized(plans.exists(_.contains("PushedAggregation"))),
            s"aggregation not pushed to the scan:\n${plans.synchronized(plans.mkString("\n"))}")
        }
        rows
      } finally spark.sparkContext.removeSparkListener(listener)
    // the pushed answer must equal the data-path answer
    val plain = spark.read.parquet(s"$templateDir/lineitem.parquet")
      .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_partkey")), max(col("l_partkey")))
      .collect()
    assert(got.toSeq === plain.toSeq)
    assert(keys.map(spark.conf.getOption) === before)
  }
}
