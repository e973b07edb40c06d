package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{AnalyticsView, SetupDatabase, TransformJourneys, TransformWeather, Warehouse}

/** E1→E2→E3 pipeline parity (SURVEY.md §3, §7 phase 3): the full reference
  * lifecycle against the fixture tables, asserting schema contracts,
  * bootstrap overwrite/append semantics, the J5 cardinality invariant, and
  * that the single-pass E2/E3 loads equal the reference's join chains. */
class EtlPipelineSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private lazy val warehouse =
    graft.Staging.fresh("etl_spec")

  /** Equal as multisets: EXCEPT ALL is empty both ways. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).count() === 0, "rows the reference lacks")
    assert(want.exceptAll(got).count() === 0, "reference rows missing")
  }

  test("E1 setup_database writes both dimensions") {
    SetupDatabase.run(spark, sfDir, warehouse)
    val ts = spark.read.parquet(s"$warehouse/dim_timestamp")
    assert(ts.count() === 31L * 1440)
    assert(ts.columns.toSet ===
      Set("id", "timestamp", "year", "month", "dayofmonth", "weekofyear",
          "hour", "minute", "day"))
    // surrogate key is unique
    assert(ts.select("id").distinct().count() === ts.count())
    val loc = spark.read.parquet(s"$warehouse/dim_locations")
    assert(loc.count() === Tables.nation(spark, sfDir).count())
    assert(loc.schema("lat").dataType.typeName === "decimal(8,6)")
    assert(loc.schema("long").dataType.typeName === "decimal(9,6)")
  }

  test("E2 transform_weather: composite key unique, bootstrap append doubles rows") {
    TransformWeather.run(spark, sfDir, warehouse, firstRun = true)
    val first = spark.read.parquet(s"$warehouse/dim_weather")
    val n = first.count()
    assert(n > 0)
    assert(first.select("id").distinct().count() === n)
    // append run (reference months after the first) adds rows instead of replacing
    TransformWeather.run(spark, sfDir, warehouse, firstRun = false)
    assert(spark.read.parquet(s"$warehouse/dim_weather").count() === 2 * n)
    // bootstrap re-run truncates back
    TransformWeather.run(spark, sfDir, warehouse, firstRun = true)
    assert(spark.read.parquet(s"$warehouse/dim_weather").count() === n)
  }

  /** The reference's J1 (transform_load.py:266-273) over `dir`'s events:
    * one aggregate per measure, left joined from rainfall on
    * (location_id, time). */
  private def referenceWeather(dir: String): DataFrame = {
    def measure(typ: String, name: String) =
      Tables.events(spark, dir)
        .filter(col("event_type") === typ)
        .groupBy(col("user_id").as("location_id"), col("ts").cast("date").as("time"))
        .agg(avg(col("value")).as(name))
    measure("click", "rainfall")
      .join(measure("view", "tasmin"), Seq("location_id", "time"), "left")
      .join(measure("purchase", "tasmax"), Seq("location_id", "time"), "left")
      .withColumn("timestamp", col("time").cast("timestamp"))
      .withColumn("timestamp_id", unix_timestamp(col("timestamp")).cast("int"))
      .withColumn("id", concat_ws("_", col("location_id"), col("timestamp_id")))
      .select("id", "location_id", "timestamp_id", "timestamp",
        "rainfall", "tasmin", "tasmax")
  }

  test("E2 weather dimension equals the reference's three-branch left join") {
    val got = spark.read.parquet(s"$warehouse/dim_weather").drop("ym")
    assert(got.filter(col("tasmin").isNotNull).count() > 0)
    assertSameRows(got, referenceWeather(sfDir))
  }

  test("E2 weather dimension: a null location matches no other measure, as in the join") {
    val dir = graft.Staging.fresh("weather_null_keys")
    Tables.events(spark, sfDir)
      .withColumn("user_id", when(col("user_id") % 10 =!= 0, col("user_id")))
      .write.parquet(s"$dir/events.parquet")
    val want = referenceWeather(dir)
    assert(want.filter(col("location_id").isNull).count() > 0)
    assertSameRows(TransformWeather.weatherDimension(spark, dir), want)
  }

  test("E3 transform_journeys: weather annotation preserves fact cardinality") {
    val j = TransformJourneys.journeys(spark, sfDir)
    val nJourneys = j.count()
    val (nRental, nFact) = TransformJourneys.run(spark, sfDir, warehouse, firstRun = true)
    assert(nRental === nJourneys)
    assert(nFact === nJourneys) // J5 self-join re-merge must not duplicate or drop
    val fact = spark.read.parquet(s"$warehouse/fact_journey")
    assert(fact.columns.contains("start_weather_id"))
    assert(fact.columns.contains("end_weather_id"))
    // some journeys land on station/day combos with weather coverage
    assert(fact.filter(col("start_weather_id").isNotNull).count() > 0)
  }

  test("E3 weather ids equal the reference's inner join + re-merge chain") {
    // ref get_weather_ids (transform_load.py:295-400) per side: J3 inner
    // join to the timestamp dim, J4 4-key left join to the weather dim,
    // then J5 left re-merge on rental_id
    TransformJourneys.journeys(spark, sfDir).createOrReplaceTempView("ref_journeys")
    spark.read.parquet(s"$warehouse/dim_timestamp").createOrReplaceTempView("ref_ts")
    spark.read.parquet(s"$warehouse/dim_weather").createOrReplaceTempView("ref_weather")
    def side(name: String) =
      s"""SELECT f.rental_id, w.id AS weather_id
         |FROM ref_journeys f
         |JOIN ref_ts t ON t.id = CAST(unix_timestamp(f.${name}_timestamp) AS INT)
         |LEFT JOIN ref_weather w ON w.location_id = f.${name}_station_id
         |  AND year(w.timestamp) = t.year AND month(w.timestamp) = t.month
         |  AND dayofmonth(w.timestamp) = t.dayofmonth""".stripMargin
    val want = spark.sql(
      s"""SELECT f.rental_id, s.weather_id AS start_weather_id,
         |       e.weather_id AS end_weather_id
         |FROM ref_journeys f
         |LEFT JOIN (${side("start")}) s ON s.rental_id = f.rental_id
         |LEFT JOIN (${side("end")}) e ON e.rental_id = f.rental_id""".stripMargin)
    val got = spark.read.parquet(s"$warehouse/fact_journey")
      .select("rental_id", "start_weather_id", "end_weather_id")
    assert(got.filter(col("end_weather_id").isNull).count() > 0)
    assertSameRows(got, want)
  }

  test("dynamic partition upsert replaces one slice, leaves the others byte-identical") {
    import spark.implicits._
    val path = graft.Staging.fresh("upsert") + "/t"
    val v1 = Seq(("2024-01", 1L), ("2024-01", 2L), ("2024-02", 3L), ("2024-03", 4L))
      .toDF("month", "id")
    Warehouse.writePartitioned(v1, "month", path, firstRun = true)
    // re-load February with corrected rows: only that partition changes
    val feb2 = Seq(("2024-02", 30L), ("2024-02", 31L)).toDF("month", "id")
    Warehouse.upsertPartitions(feb2, "month", path)
    val after = spark.read.parquet(path)
      .collect().map(r => (r.getAs[String]("month"), r.getAs[Long]("id"))).toSet
    assert(after === Set(("2024-01", 1L), ("2024-01", 2L),
      ("2024-02", 30L), ("2024-02", 31L), ("2024-03", 4L)))
    // idempotence: the same upsert again changes nothing
    Warehouse.upsertPartitions(feb2, "month", path)
    assert(spark.read.parquet(path).count() === 5)
  }

  test("aggregation on the bucket key plans with no hash exchange") {
    // the bucketed layout satisfies the aggregation's distribution
    // requirement the same way it satisfies the join's — grouping by the
    // bucket column must not shuffle the fact table
    val s = spark
    val agg = graft.operators.EtlQueries.bucketedOrdersCustomer(s, sfDir)
      .groupBy("o_custkey").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed groupBy must not shuffle:\n$plan")
  }

  test("partition-pruned warehouse read returns only the requested slice") {
    val day = Warehouse.readPartition(spark, s"$warehouse/dim_timestamp", "day", "2024-01-15")
    assert(day.count() === 1440)
    // the predicate must reach the scan as a partition filter, not a
    // post-scan row filter — that is the S3 behavior this test pins
    val plan = day.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-15"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("analytics view joins role-playing locations without changing cardinality") {
    val view = AnalyticsView.create(spark, warehouse)
    assert(view.count() === spark.read.parquet(s"$warehouse/fact_journey").count())
    assert(view.columns.contains("start_location_point"))
    assert(view.filter(col("start_location_name").isNotNull).count() > 0)
  }
}
