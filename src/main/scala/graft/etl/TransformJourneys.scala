package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** E3 pipeline parity: `transform_load_journeys` — the reference's flagship
  * lifecycle (`/root/reference/spark/transform_load.py:452-509`):
  *
  *   1. scan + type the month's journeys (`:180-216`), computed ONCE and
  *      persisted for the three actions below
  *   2. split into rental dimension and fact projection (`:224-231`)
  *   3. eager global min/max action bounding the dimension re-scan — the
  *      hand-rolled dynamic filter (`:460-483`)
  *   4. `get_weather_ids` (`:295-400`): per side in {start, end}, left-join
  *      the timestamp dim (J3), then 4-key calendar left-join the weather
  *      dim (J4), adding `{side}_weather_id` as a column of the fact
  *   5. append-write dim_rental + month-partitioned fact (`:496-509`)
  *
  * Step 4 is the reference's inner join + J5 self-join re-merge on the fact
  * key (`:393-398`) with the re-merge folded away: `dim_timestamp.id` is
  * unique, so "inner join, then left-merge back on rental_id" equals "left
  * join", and an off-grid timestamp still gets a null weather id.
  * EtlPipelineSpec checks the result against the reference chain spelled
  * in SQL.
  *
  * Fixture mapping (SURVEY.md §7): journeys ← lineitem × orders (rental_id
  * from orderkey+linenumber, ship/receipt timestamps as start/end),
  * stations ← a bounded key range, weather dim ← TransformWeather's output.
  *
  * Scale notes: the journeys frame (lineitem scan + the per-order window
  * shuffle) is read once; the rental write, the bound and the fact write
  * read the persisted copy. The dim re-scan filter is two scalars from one
  * eager action (the reference's own trick — acceptable at any scale); both
  * dims join broadcast-eligible after the min/max pushdown, so the fact
  * is never shuffled on its key (PlanShapeSpec).
  */
object TransformJourneys {

  /** Typed journeys (ref steps 1-2). The fixture's lineitem dates span the
    * 1990s while the warehouse dims (timestamp grid, weather) cover
    * January 2024, so ship dates map deterministically into that month
    * (unix mod 29 days — date-aligned, so the minute grid always matches);
    * the journey end is start + a key-derived duration; station ids come
    * from bounded key arithmetic. */
  def journeys(s: SparkSession, dir: String): DataFrame = {
    // The synthetic fixture does NOT enforce TPC-H's (orderkey, linenumber)
    // uniqueness, so the surrogate rental key is a per-order row_number
    // (deterministic order, <=17 rows/order) — a per-key window that
    // shuffles on orderkey, never a global sort.
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    Tables.lineitem(s, dir)
      .withColumn("start_ts", expr(
        "timestamp'2024-01-01 00:00:00' + " +
          "make_dt_interval(0, 0, 0, cast(unix_timestamp(cast(l_shipdate as timestamp)) % 2505600 as int))"))
      .select(
        (col("l_orderkey") * 100 + row_number().over(w)).cast("bigint").as("rental_id"),
        col("l_suppkey").cast("int").as("bike_id"),
        (col("l_partkey") % 25).cast("int").as("start_station_id"),
        (col("l_suppkey") % 25).cast("int").as("end_station_id"),
        col("start_ts").as("start_timestamp"),
        (col("start_ts") +
          expr("make_dt_interval(0, 0, cast(5 + (l_linenumber * 17 + l_suppkey) % 115 as int), 0)"))
          .as("end_timestamp"))
  }

  def rentalDimension(j: DataFrame): DataFrame =
    j.select(
      col("rental_id").as("id"),
      col("bike_id"),
      (unix_timestamp(col("end_timestamp")) - unix_timestamp(col("start_timestamp")))
        .cast("int").as("duration"))

  def factProjection(j: DataFrame): DataFrame =
    j.select(
      col("rental_id"), col("start_station_id"), col("end_station_id"),
      unix_timestamp(col("start_timestamp")).cast("int").as("start_timestamp_id"),
      unix_timestamp(col("end_timestamp")).cast("int").as("end_timestamp_id"),
      col("start_timestamp"), col("end_timestamp"))

  /** Steps 3-4: add `{side}_weather_id` to the fact via the timestamp dim
    * + 4-key weather join per side. Two left joins per side on the bounded
    * dims; fact rows and columns pass through in order. */
  def withWeatherIds(s: SparkSession, fact: DataFrame,
                     timestampDim: DataFrame, weatherDim: DataFrame): DataFrame = {
    // eager min/max action -> literal bounds pushed into the dim re-scan
    // (ref transform_load.py:460-465)
    val bounds = fact.agg(
      min(col("start_timestamp")).as("mn"), max(col("end_timestamp")).as("mx")).first()
    val (mn, mx) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
    val tsDim = timestampDim
      .filter(col("timestamp") >= lit(mn) && col("timestamp") <= lit(mx))
      .select(col("id"), col("year"), col("month"), col("dayofmonth"))
    val weather = weatherDim.select(
      col("id").as("weather_id"), col("location_id"),
      year(col("timestamp")).cast("int").as("year"),
      month(col("timestamp")).cast("int").as("month"),
      dayofmonth(col("timestamp")).cast("int").as("dayofmonth"))

    val calendar = Seq("year", "month", "dayofmonth")
    Seq("start", "end").foldLeft(fact) { (f, side) =>
      f.join(tsDim.withColumnRenamed("id", s"${side}_timestamp_id"),
          Seq(s"${side}_timestamp_id"), "left")
        .join(weather
            .withColumnRenamed("location_id", s"${side}_station_id")
            .withColumnRenamed("weather_id", s"${side}_weather_id"),
          s"${side}_station_id" +: calendar, "left")
        .drop(calendar: _*)
    }.select((fact.columns.toSeq :+ "start_weather_id" :+ "end_weather_id").map(col): _*)
  }

  /** Storage of the persisted journeys: spills rather than recomputes
    * when a month outgrows executor memory. */
  private val JourneysStorage = StorageLevel.MEMORY_AND_DISK

  /** Run E3 end-to-end against a warehouse previously populated by
    * SetupDatabase + TransformWeather; returns (dim_rental rows, fact rows). */
  def run(s: SparkSession, dir: String, warehouse: String,
          firstRun: Boolean): (Long, Long) = {
    val j = journeys(s, dir).persist(JourneysStorage)
    try {
      val tsDim = s.read.parquet(s"$warehouse/dim_timestamp")
      val weatherDim = s.read.parquet(s"$warehouse/dim_weather")
      val annotated = withWeatherIds(s, factProjection(j), tsDim, weatherDim)
        .withColumn("ym", date_format(col("end_timestamp"), "yyyy-MM"))
      rentalDimension(j).write.mode(if (firstRun) "overwrite" else "append")
        .parquet(s"$warehouse/dim_rental")
      Warehouse.writePartitioned(annotated, "ym", s"$warehouse/fact_journey", firstRun)
    } finally j.unpersist()
    (s.read.parquet(s"$warehouse/dim_rental").count(),
     s.read.parquet(s"$warehouse/fact_journey").count())
  }
}
