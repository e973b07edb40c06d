package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{AnalyticsView, SetupDatabase, TransformJourneys, TransformWeather}
import graft.streaming.{StreamSources, StreamingQueries}

/** Compiled code outlives the query and the session that generated it
  * (GraftSession's codegen cache size and shared artifact classloader).
  * Every Janino compile records one sample in
  * `CodegenMetrics.METRIC_COMPILATION_TIME`; a cache hit records none,
  * so the histogram's count delta is the number of classes compiled. */
class CodegenReuseSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a child session reruns its parent's query without compiling") {
    def query(s: SparkSession): Unit =
      Tables.lineitem(s, sfDir)
        .groupBy("l_returnflag")
        .agg(Map("l_quantity" -> "sum", "l_orderkey" -> "max"))
        .orderBy("l_returnflag")
        .collect()
    query(spark)
    assert(compiles(query(spark.newSession())) === 0, "newSession recompiled")
    assert(compiles(query(StreamSources.boundedStateSession(spark))) === 0,
      "boundedStateSession recompiled")
  }

  /** The reference dashboard aggregations over AnalyticsView's view. */
  private val dashboard = Seq(
    s"""SELECT r.bike_id, count(*) AS n FROM ${AnalyticsView.viewName} v
       |JOIN graft_codegen_dim_rental r ON v.rental_id = r.id
       |GROUP BY r.bike_id ORDER BY n DESC, r.bike_id LIMIT 1""".stripMargin,
    s"""SELECT end_location_name, count(*) AS n FROM ${AnalyticsView.viewName}
       |GROUP BY end_location_name ORDER BY n DESC, end_location_name LIMIT 1""".stripMargin,
    s"""SELECT end_location_name, count(*) AS n FROM ${AnalyticsView.viewName}
       |WHERE hour(start_timestamp) = 8 GROUP BY end_location_name
       |ORDER BY n DESC, end_location_name LIMIT 3""".stripMargin,
    s"""SELECT hour(start_timestamp) AS h, count(*) AS n FROM ${AnalyticsView.viewName}
       |GROUP BY hour(start_timestamp) ORDER BY n DESC, h LIMIT 1""".stripMargin,
    s"""SELECT d, n, avg(n) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma
       |FROM (SELECT CAST(start_timestamp AS DATE) AS d, count(*) AS n
       |FROM ${AnalyticsView.viewName} GROUP BY CAST(start_timestamp AS DATE))""".stripMargin)

  /** One month of the scheduled job on a fresh warehouse: E1, E2 and E3
    * as bootstrap and as append, the dashboard and a stream drain. */
  private def month(warehouse: String): Unit = {
    SetupDatabase.run(spark, sfDir, warehouse)
    TransformWeather.run(spark, sfDir, warehouse, firstRun = true)
    TransformJourneys.run(spark, sfDir, warehouse, firstRun = true)
    TransformWeather.run(spark, sfDir, warehouse, firstRun = false)
    TransformJourneys.run(spark, sfDir, warehouse, firstRun = false)
    AnalyticsView.create(spark, warehouse)
    spark.read.parquet(s"$warehouse/dim_rental")
      .createOrReplaceTempView("graft_codegen_dim_rental")
    dashboard.foreach(spark.sql(_).collect())
    StreamingQueries.q36StreamingHourly(spark, sfDir).collect()
  }

  test("a repeated month compiles nothing the first pass compiled") {
    val first = compiles(month(Staging.fresh("codegen_a")))
    assert(first > 0)
    assert(compiles(month(Staging.fresh("codegen_b"))) === 0,
      s"the second pass recompiled (the first compiled $first)")
  }
}
