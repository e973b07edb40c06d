package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** E2 pipeline parity: `transform_load_weather`
  * (`/root/reference/spark/transform_load.py:425-449`) — assemble the daily
  * weather dimension from three per-measure sources via a 2-key left join
  * (J1, `:266-273`), derive the unix surrogate key (`:277-279`) and the
  * composite `"{loc}_{ts}"` id (`:283-285`), and append-write month
  * partitions with the first-month overwrite bootstrap (`:438`).
  *
  * Fixture mapping: `events` plays the weather sources — three event types
  * become the three measures (rainfall/tasmin/tasmax), (user_id, date)
  * plays (location_id, time). The three sources share one scan and one
  * aggregation on that key, one conditional average per measure; the J1
  * left join from rainfall becomes "keep the keys with a rainfall row".
  * EtlPipelineSpec checks the result against the three-branch join.
  */
object TransformWeather {

  /** Event type standing in for each measure's source. */
  private val measures = Seq("rainfall" -> "click", "tasmin" -> "view", "tasmax" -> "purchase")

  /** The assembled weather dimension for one run (all days here; a month
    * slice in the reference's loop). */
  def weatherDimension(s: SparkSession, dir: String): DataFrame = {
    def of(typ: String) = col("event_type") === typ
    // J1's equi-join matches no null key: such a day keeps only its rainfall
    val keyed = col("location_id").isNotNull && col("time").isNotNull
    Tables.events(s, dir)
      .filter(col("event_type").isin(measures.map(_._2): _*))
      .groupBy(col("user_id").as("location_id"), col("ts").cast("date").as("time"))
      .agg(count(when(of("click"), 1)).as("n_rainfall"),
        measures.map { case (name, typ) => avg(when(of(typ), col("value"))).as(name) }: _*)
      .filter(col("n_rainfall") > 0)
      .withColumn("timestamp", col("time").cast("timestamp"))
      .withColumn("timestamp_id", unix_timestamp(col("timestamp")).cast("int"))
      .withColumn("id", concat_ws("_", col("location_id"), col("timestamp_id")))
      .select(col("id"), col("location_id"), col("timestamp_id"), col("timestamp"),
        col("rainfall"),
        when(keyed, col("tasmin")).as("tasmin"), when(keyed, col("tasmax")).as("tasmax"))
  }

  /** Run E2 with the overwrite-vs-append bootstrap switch
    * (ref `transform_load.py:438`). */
  def run(s: SparkSession, dir: String, warehouse: String, firstRun: Boolean): Unit = {
    val dim = weatherDimension(s, dir)
      .withColumn("ym", date_format(col("timestamp"), "yyyy-MM"))
    Warehouse.writePartitioned(dim, "ym", s"$warehouse/dim_weather", firstRun)
  }
}
