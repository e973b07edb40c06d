package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Tables
import graft.etl.{Warehouse, Zorder}
import graft.sources.{Station, XmlStations}

/** ETL/ingest-surface operators (SURVEY.md §2.1, §2.2, §3) — the pipeline
  * half of the reference that round 2 left unbuilt: partitioned warehouse
  * writes with bootstrap (K1), partition-pruned re-reads (S3), schema-drift
  * dir reads (S2), pattern timestamp parsing (P8), bulk positional rename
  * (P3), all-string CSV ingest (S5/K3), XML station parsing (S7), the full
  * station-to-grid distance argmin (S8), and the temp-view/SQL surface
  * (S13/K5).
  *
  * Queries that exercise the write path stage their output under a
  * per-invocation temp root (graft.Staging.fresh — unique per CALL, so two
  * concurrent invocations of the same query in one JVM can never race an
  * overwrite against a read; swept by a shutdown hook) and re-read it —
  * write, layout, and pruned scan are all part of the checked behavior; the
  * DuckDB oracle computes the same result straight from the source tables,
  * so a bug anywhere in the round-trip fails the hash gate.
  */
object EtlQueries {

  private def dec6(c: Column): Column = c.cast("decimal(18,6)")
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** K1 + S3: day-partitioned warehouse write with first-run overwrite →
    * append bootstrap (ref `transform_load.py:58-90,438,496`), then a
    * partition-pruned re-read of one day (ref `:261-263`) and an aggregate.
    * The `.where(day = ...)` hits `PruneFileSourcePartitions`: only one of
    * 30 directories is listed and scanned — at 100 TB this is the difference
    * between reading 3 TB and reading one day's slice. */
  def q30PartitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("wh")
    val ev = Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Warehouse.writePartitioned(
      ev.filter(col("day") === "2024-01-01"), "day", path, firstRun = true)
    Warehouse.writePartitioned(
      ev.filter(col("day") =!= "2024-01-01"), "day", path, firstRun = false)
    Warehouse.readPartition(s, path, "day", "2024-01-15")
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("cnt"),
           sum(dec6(col("value"))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** S2 + P3 + P8 + K2: the ingest shape of the journey pipeline. Two
    * parquet files with drifted schemas (ref mergeSchema read,
    * `transform_load.py:180`), bulk positional rename (ref zip-rename
    * `:183-191` → `toDF`), and `to_timestamp(col, "dd/MM/yyyy HH:mm")`
    * pattern parsing (ref `:199-207`). */
  def q31IngestParse(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("ingest")
    val raw = Tables.events(s, dir)
      .withColumn("ts_str", date_format(col("ts"), "dd/MM/yyyy HH:mm"))
    raw.filter(col("event_id") % 2 === 0)
      .select("event_id", "ts_str", "value")
      .write.mode("overwrite").parquet(s"$path/f0")
    raw.filter(col("event_id") % 2 === 1)
      .select("event_id", "ts_str", "value", "event_type")
      .write.mode("overwrite").parquet(s"$path/f1")
    s.read.option("mergeSchema", "true").parquet(s"$path/f0", s"$path/f1")
      .select("event_id", "ts_str", "value", "event_type") // pin order, then rename positionally
      .toDF("raw_id", "raw_ts", "raw_val", "raw_type")
      .select(
        to_date(to_timestamp(col("raw_ts"), "dd/MM/yyyy HH:mm")).as("d"),
        coalesce(col("raw_type"), lit("none")).as("typ"),
        col("raw_val"))
      .groupBy("d", "typ")
      .agg(count(lit(1)).cast("bigint").as("cnt"),
           sum(dec6(col("raw_val"))).cast("double").as("sum_val"))
      .orderBy("d", "typ")
  }

  /** S5 + K3 + P6: CSV round-trip with the reference's all-string ingest
    * schema (`ingest_bike_data.py:188-201` forces every column to string
    * "because the formatting is incorrect") followed by explicit casts —
    * the type-later ingest pattern. */
  def q32CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("csv")
    Tables.events(s, dir)
      .select(col("event_id").cast("string").as("event_id"),
              col("event_type"),
              col("value").cast("string").as("value"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val allStrings = StructType(Seq("event_id", "event_type", "value", "ts_str")
      .map(StructField(_, StringType, nullable = true)))
    s.read.schema(allStrings).option("header", "true").csv(path)
      .select(col("event_id").cast("bigint").as("event_id"),
              col("event_type"),
              col("value").cast("double").as("value"),
              to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("cnt"),
           sum(dec6(col("value"))).cast("double").as("sum_value"),
           // formatted, not bare TimestampType: Spark parquet timestamps are
           // tz-adjusted (UTC-instant) while the oracle's are naive — the
           // string form is identical in both engines
           date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
           date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .orderBy("event_type")
  }

  /** S7: XML station feed. A bounded dimension (nation, 25 rows) is
    * rendered to the reference's station-feed shape, parsed back with
    * scala.xml on the driver (exactly where the reference parses its live
    * feed at ingest), and joined to a fact-side table. The driver-side
    * collect is bounded by the dimension, not data volume. */
  def q33XmlStations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nations = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect()
      .map(r => Station(r.getLong(0), r.getString(1), s"T${r.getLong(0) * 10}"))
      .toSeq
    val stations = XmlStations.parse(XmlStations.render(nations))
    val stDf = stations.toDF()
    val c = Tables.customer(s, dir)
    stDf.join(c, stDf("id") === c("c_nationkey"), "left")
      .groupBy(col("id").as("station_id"), col("name").as("station_name"))
      .agg(count(col("c_custkey")).cast("bigint").as("n_customers"))
      .orderBy("station_id")
  }

  /** S8 in full: the station × grid nearest-neighbor search the reference
    * runs in numpy at ingest (`ingest_weather_data.py:147-173`): euclidean
    * distance (the abs-square-sqrt math at `:151-163`) from every station to
    * every grid point, argmin per station. The bounded side (stations) is
    * broadcast against the large grid — the grid never shuffles; the only
    * exchange is the per-station window, which is tiny after the distance
    * projection. Deterministic tie-break on grid_id. */
  def q34GridArgmin(s: SparkSession, dir: String): DataFrame = {
    val stations = Tables.nation(s, dir).select(
      col("n_nationkey").cast("long").as("station_id"),
      (expr("cast((n_nationkey * 37) % 180 - 90 as double)") + 0.5).as("s_lat"),
      (expr("cast((n_nationkey * 73) % 360 - 180 as double)") + 0.5).as("s_lon"))
    val grid = s.range(1600).select(
      col("id").cast("int").as("grid_id"),
      expr("cast(-90.0 + (id div 40) * 4.5 as double)").as("g_lat"),
      expr("cast(-180.0 + (id % 40) * 9.0 as double)").as("g_lon"))
    val w = Window.partitionBy("station_id").orderBy(asc("dist"), asc("grid_id"))
    grid.crossJoin(broadcast(stations))
      .withColumn("dist",
        expr("sqrt((g_lat - s_lat) * (g_lat - s_lat) + (g_lon - s_lon) * (g_lon - s_lon))"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("station_id"), col("grid_id"), col("dist"))
      .orderBy("station_id")
  }

  /** S13 + K5: the SQL surface. Temp views + a CREATE TEMPORARY VIEW whose
    * body is the denormalized analytics view (ref `make_view.sql:3-32`),
    * consumed by a second spark.sql aggregate — the whole path goes through
    * the Catalyst SQL parser instead of the DataFrame DSL. */
  def q35SqlView(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
    Tables.nation(s, dir).createOrReplaceTempView("graft_nation")
    s.sql(
      """CREATE OR REPLACE TEMPORARY VIEW graft_journeys AS
        |SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, c.c_mktsegment,
        |       n.n_name AS cust_nation,
        |       l.l_extendedprice * (1 - l.l_discount) AS revenue
        |FROM graft_lineitem l
        |JOIN graft_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN graft_customer c ON o.o_custkey = c.c_custkey
        |JOIN graft_nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)
    s.sql(
      """SELECT cust_nation, c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM graft_journeys
        |GROUP BY cust_nation, c_mktsegment
        |ORDER BY cust_nation, c_mktsegment""".stripMargin)
  }

  /** The bucketed-layout join shared by q62 and PlanShapeSpec: both tables
    * are written `bucketBy(8, join_key)` and the join carries merge hints,
    * so the plan must read co-partitioned buckets with NO Exchange on
    * either side (the hint pins sort-merge — a broadcast of the small dim
    * would also avoid a shuffle, but then the plan would prove nothing
    * about the layout). */
  private[graft] def bucketedOrdersCustomer(s: SparkSession, dir: String): DataFrame = {
    // one DURABLE layout pair per source fingerprint (graft.etl.Layouts):
    // the first call builds; later calls — and later JVMs — attach, and a
    // regenerated orders/customer dir rebuilds, so a recurring run pays
    // the join, never the bootstrap.
    val m = graft.etl.Layouts.attachOrBuild(s, "bktoc", "v1;nBuckets=8", dir,
      Seq("orders", "customer")) { base =>
      val suf = graft.etl.Layouts.nameSuffix(dir)
      val rO = Warehouse.writeBucketed(Tables.orders(s, dir), 8,
        "o_custkey", s"$base/orders", s"graft_bkt_orders_$suf")
      val rC = Warehouse.writeBucketed(Tables.customer(s, dir), 8,
        "c_custkey", s"$base/customer", s"graft_bkt_customer_$suf")
      (Seq(rO, rC), base)
    }
    val o = s.table(m.regs(0).table)
    val c = s.table(m.regs(1).table)
    o.hint("merge").join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
  }

  /** K1 taken to its join-layout conclusion: write orders and customer
    * bucketed on their join key, then join WITHOUT a shuffle — the scan
    * itself provides the hash partitioning both join sides require. The
    * oracle computes the same aggregate straight from the source tables,
    * so layout, catalog round-trip, and join are all under the hash
    * check. */
  def q62BucketedJoin(s: SparkSession, dir: String): DataFrame =
    bucketedOrdersCustomer(s, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
           sum(dec6(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("c_mktsegment")

  /** Semi-structured JSON parsing (the event-properties sidecar every
    * telemetry pipeline carries): `events.props` is a JSON string column;
    * `from_json` with an explicit schema projects it into a typed struct
    * inside the scan projection — no UDF, schema errors surface as nulls.
    * At 100 TB a schema'd `from_json` beats per-path `get_json_object`
    * calls (one parse per row, not one per extracted field). Output:
    * per-event-type stats of the extracted integer. */
  def q78JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", expr("from_json(props, 'k INT').k"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
           min("k").cast("int").as("min_k"),
           max("k").cast("int").as("max_k"),
           sum("k").cast("bigint").as("sum_k"))
      .orderBy("event_type")

  /** Corrupt-tolerant semi-structured parse (every real ingest sees
    * malformed payloads; the job must quarantine them, not die): a
    * deterministic ~9% of rows get their JSON truncated (event_id % 11 —
    * the q60-style reproducible contamination), then `from_json` in its
    * default PERMISSIVE mode nulls the struct for unparseable input
    * instead of failing the task, and the aggregate reports good/bad
    * counts per type alongside the stats over surviving rows. The DuckDB
    * twin guards with json_valid — both engines classify the identical
    * row set as corrupt, so the quarantine accounting itself is
    * hash-checked. */
  def q79CorruptTolerantParse(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("raw", expr(
        "case when event_id % 11 = 0 then substring(props, 1, 5) else props end"))
      .withColumn("k", expr("from_json(raw, 'k INT').k"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
           count(col("k")).cast("bigint").as("n_parsed"),
           (count(lit(1)) - count(col("k"))).cast("bigint").as("n_corrupt"),
           sum("k").cast("bigint").as("sum_k"))
      .orderBy("event_type")

  /** SCD Type-2 dimension build from the events stream (the warehouse
    * pattern the reference's static `stations` dimension would need the
    * moment an attribute changes over time — its pipeline overwrites the
    * dimension wholesale, `/root/reference/spark/transform_load.py`):
    * each user's event_type is treated as a changing segment attribute;
    * consecutive runs collapse into one version row with
    * [effective_from, effective_to) validity, the open current version
    * carried with the standard high-date sentinel (9999-12-31, the
    * warehouse idiom that keeps BETWEEN probes sargable — and keeps the
    * column non-null for engines that index it).
    *
    * Plan: ONE shuffle on user_id; the run-boundary lag, the run-id
    * running sum, the per-run groupBy (user_id clustering already
    * satisfies the (user_id, run_id) distribution — no second exchange),
    * and the effective_to lead all ride the same partitioning. Version
    * state is O(1) per row — at 100 TB the cost is the single exchange
    * plus per-partition sorts. */
  private[graft] def scd2Runs(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wVer = Window.partitionBy("user_id").orderBy("run_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(wOrd))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum("chg").over(wRun))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min("ts").as("effective_from"), count(lit(1)).as("n_events"))
      .withColumn("effective_to",
        coalesce(lead("effective_from", 1).over(wVer),
          lit("9999-12-31 00:00:00").cast("timestamp")))
      .select(col("user_id").cast("bigint").as("user_id"),
        col("run_id").cast("bigint").as("version"),
        col("event_type").as("segment"),
        // formatted, not bare TimestampType: Spark parquet timestamps are
        // tz-adjusted (UTC-instant) while the oracle's are naive — the
        // string form is identical in both engines (the q32 idiom)
        date_format(col("effective_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("effective_from"),
        date_format(col("effective_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("effective_to"),
        col("n_events").cast("bigint").as("n_events"),
        (col("effective_to") === lit("9999-12-31 00:00:00").cast("timestamp"))
          .as("is_current"))
      .orderBy("user_id", "version")
  }

  def q102Scd2Dimension(s: SparkSession, dir: String): DataFrame =
    scd2Runs(Tables.events(s, dir))

  /** Two-dimensional range scan over the Z-ordered partition layout
    * (etl/Zorder.scala): user buckets {2,3} x day-slices {4,5} rewrite
    * to 4 of 64 partition cells — pruning multiplies across dimensions
    * where the reference's 1-D month dirs prune only time. The oracle
    * runs the same rectangle straight on the source table, so the
    * layout round-trip (bucket arithmetic, cell rewrite, partitioned
    * write, pruned read) is all under the hash check; ZorderSpec
    * asserts the scan actually reads ONLY the rectangle's cells. */
  def q109ZorderScan(s: SparkSession, dir: String): DataFrame =
    Zorder.readRectangle(s, dir, Seq(2, 3), Seq(4, 5))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("cnt"),
        sum(expr("cast(value as decimal(18,6))")).cast("double").as("sum_value"))
      .orderBy("event_type")

  /** INCREMENTAL SCD2 maintenance — the nightly form of q102: the
    * existing dimension (built from events before a day-boundary
    * cutoff, persisted to the warehouse) absorbs the new day's delta by
    * rebuilding ONLY touched users (semi-join on the delta's user set)
    * and carrying every untouched user's rows forward unchanged
    * (anti-join against the same set). The registered ORACLE is q102's
    * full-rebuild SQL, so the hash gate PROVES incremental == full
    * rebuild — the equivalence every incremental pipeline quietly
    * assumes, here checked on every run (the q23/q65 incremental-dedup
    * discipline applied to the warehouse dimension).
    *
    * Scale shape: delta-bounded work — the rebuild touches
    * |active users| x their history, not the corpus; the staged dim0 is
    * the persisted dimension table any warehouse already has (its write
    * is the previous night's run, included here so the query is
    * self-contained); the cutoff is a bounded one-row driver scalar
    * (the q19 dynamic min/max mirror). */
  def q113Scd2Incremental(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dayUs = 86400L * 1000000L
    // "last night's run saw everything before today": the delta is the
    // final day — users with no event that day ride the carry path
    // (14/15 touched at sf0.001, 133/150 at sf0.01 — both paths real)
    val r = ev.agg(max(expr("unix_micros(ts)"))).head()
    val cutoffUs = (r.getLong(0) / dayUs) * dayUs
    val base = ev.filter(expr(s"unix_micros(ts) < ${cutoffUs}L"))
    val delta = ev.filter(expr(s"unix_micros(ts) >= ${cutoffUs}L"))
    val dim0 = {
      val p = graft.Staging.fresh("scd2dim")
      scd2Runs(base).write.mode("overwrite").parquet(p)
      s.read.parquet(p)
    }
    val touched = delta.select("user_id").distinct()
    val rebuilt = scd2Runs(ev.join(touched, Seq("user_id"), "left_semi"))
    val carried = dim0.join(touched, Seq("user_id"), "left_anti")
    carried.unionByName(rebuilt).orderBy("user_id", "version")
  }

  /** Corpus snapshot DIFF — the recrawl-vs-previous-version accounting
    * every versioned corpus needs (what changed between crawl N-1 and
    * crawl N), and the board's FULL OUTER JOIN exercise (J1-J9 cover
    * left/inner/semi/anti; a diff needs both unmatched sides at once).
    * Version 2 is derived deterministically from the fixture (docs
    * % 13 removed, % 17 edited, % 19 re-added under a shifted id), both
    * sides reduce to (doc_id, content-hash) BEFORE the join — the
    * full-outer shuffle carries two hashes per doc, never document
    * bodies — and the verdict is pure CASE arithmetic on null-ness and
    * hash equality. Scale: one doc_id equi-shuffle of id+hash rows; the
    * output is the bounded per-verdict summary. */
  def q125SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
    val v1 = base.select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = base.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 17 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text"))).as("h2"))
      .unionByName(base.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          md5(concat(col("text"), lit(" new"))).as("h2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("change", expr(
        "case when h1 is null then 'added' when h2 is null then 'removed' " +
          "when h1 = h2 then 'unchanged' else 'changed' end"))
      .groupBy("change")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        min("doc_id").cast("bigint").as("min_id"),
        max("doc_id").cast("bigint").as("max_id"))
      .orderBy("change")
  }

  /** Incremental AGGREGATE-VIEW maintenance — the q113 equivalence
    * discipline applied to a materialized aggregate: yesterday's
    * (hour, type) count/sum view absorbs today's delta by SUM-MERGING
    * partial aggregates on overlapping keys, and the registered oracle
    * is the full recompute, so the hash gate proves merged == full on
    * every run. The cutoff sits 90 minutes (NOT hour-aligned) before
    * max(ts), so the boundary hour genuinely exists in BOTH the staged
    * base and the delta — the merge path is never vacuous. Decimal
    * partial sums re-sum exactly (order-free integer arithmetic), so
    * the merge is bit-equal to the one-pass aggregate; the double cast
    * happens once, after the merge. Scale: the delta aggregate touches
    * only new data; the merge shuffles |view| + |delta keys| summary
    * rows, never events. */
  def q126IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(date_format(expr("date_trunc('hour', ts)"),
        "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"), expr("unix_micros(ts)").as("t"),
        dec6(col("value")).as("v"))
    val r = ev.agg(max("t")).head()
    val cutoffUs = r.getLong(0) - 90L * 60 * 1000000
    val dim0 = {
      val p = graft.Staging.fresh("aggmv")
      ev.filter(col("t") < cutoffUs)
        .groupBy("h", "event_type")
        .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p)
    }
    val delta = ev.filter(col("t") >= cutoffUs)
      .groupBy("h", "event_type")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
    dim0.unionByName(delta)
      .groupBy("h", "event_type")
      .agg(sum("cnt").cast("bigint").as("cnt"),
        sum("sv").cast("double").as("sum_value"))
      .orderBy("h", "event_type")
  }

  // ---------------------------------------------------------------- q214

  /** MERGE (SCD-upsert) — the one relational verb the warehouse surface
    * lacked: matched-UPDATE / not-matched-INSERT /
    * not-matched-by-source-DELETE resolved in ONE full-outer pass, the
    * semantics of SQL MERGE audited as a frame. The scenario is the
    * recurring dim rebuild a warehouse runs nightly: the standing
    * customer-balance dim (bootstrapped without every third customer —
    * the q113 fixture discipline) absorbs an update feed aggregated
    * from the recent-orders window; a matched customer's balance grows
    * by their recent spend, a new customer inserts at their spend, and
    * a customer absent from the feed leaves the active dim. The audit
    * frame carries (action, old, new) per key so every verb is under
    * the oracle hash, not just the surviving rows.
    *
    * Scale: the merge is ONE equi full-outer join on the dim key after
    * a map-side-combinable aggregate of the feed — the feed aggregate's
    * output partitioning (o_custkey) IS the join partitioning, so the
    * aggregated side reaches the join with no further exchange, and
    * the plan carries exactly two data shuffles (feed aggregate, dim) —
    * PlanShapeSpec pins both counts. Exact cents throughout; no
    * nondeterministic float addition under the hash. */
  def q214MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val target = Tables.customer(s, dir)
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").cast("bigint").as("k"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("bal_c"))
    val source = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01"))
      .groupBy(col("o_custkey").cast("bigint").as("k"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("recent_c"))
    target.join(source, Seq("k"), "full_outer")
      .select(col("k").as("c_custkey"),
        when(col("bal_c").isNotNull && col("recent_c").isNotNull, "update")
          .when(col("bal_c").isNull, "insert")
          .otherwise("delete").as("action"),
        col("bal_c").as("old_bal_c"),
        when(col("recent_c").isNotNull,
          coalesce(col("bal_c"), lit(0L)) + col("recent_c")).as("new_bal_c"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q256

  /** q256 — COMPACTION (the OPTIMIZE/small-files maintenance verb): a
    * day-partitioned lake written under task scatter (8 writer tasks ×
    * 30 day partitions ≈ hundreds of tiny files — exactly what
    * streaming upserts and over-parallel ingests leave behind) is
    * rewritten to ONE file per partition via a partition-keyed
    * repartition + dynamic partition overwrite, then audited from the
    * re-read lake. Small files are a real 100 TB tax — footer/open cost
    * per file per task, listing pressure, undersized row groups — and
    * the fix is this exact pass, run partition-by-partition so it
    * never holds the table.
    *
    * The oracle proves data CONSERVATION (the audit aggregate over the
    * compacted lake equals the source aggregate — a broken rewrite
    * loses or duplicates rows and fails the hash); the file-count
    * collapse itself is an engine-side fact the oracle cannot see, so
    * GovernanceWaveSpec asserts it from the filesystem (before > after,
    * after == |partitions|). */
  /** q256's FRAGMENTED input lake, one per events fingerprint per JVM —
    * the cachedLakeFixture discipline (fixture construction cached, the
    * declared COMPACTION VERB cloned-and-run every invocation): the
    * 8-files-per-day fragmentation is the deterministic starting state,
    * not the operator. */
  private val compactFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def q256Compaction(s: SparkSession, dir: String): DataFrame = {
    val fixture = compactFixtureCache.computeIfAbsent(
      graft.CorpusKey(dir, "events.parquet"), _ => {
        val p = graft.Staging.fresh("compact")
        Tables.events(s, dir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .repartition(8, col("event_id"))
          .write.partitionBy("day").mode("overwrite").parquet(p)
        p
      })
    val path = Warehouse.cloneLake(fixture, "compact-verb")
    val lake = s.read.parquet(path)
    // staged rewrite: the re-binned frame is a lazy plan over the very
    // files the overwrite replaces — materialize to staging first
    // (Warehouse.rewritePartitionsStaged) so task retry/speculation can
    // never re-read replaced files. Staging is written pre-repartitioned
    // (one file per day), so the final hop preserves the collapse.
    Warehouse.rewritePartitionsStaged(lake.repartition(col("day")), "day", path)
    s.read.parquet(path)
      .groupBy("day")
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(expr("cast(round(value * 100) as bigint)")).cast("bigint")
          .as("cents_total"),
        expr("count(distinct event_id)").cast("bigint").as("n_distinct_ids"))
      .orderBy("day")
  }

  /** File count per partition dir under `path` — q256's spec hook
    * (parquet part files only; excludes _SUCCESS and metadata). */
  private[graft] def partFileCounts(path: String): Map[String, Int] = {
    val root = new java.io.File(path)
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.getName.endsWith(".parquet")))
      .toMap
  }

  // ---------------------------------------------------------------- q252

  /** q252 — POINT-IN-TIME (as-of-version) join against the SCD2
    * dimension: label every purchase with the user's BROWSING segment
    * at purchase time — the consuming half of the SCD2 family (q102
    * builds the history, q113 maintains it; this is why it exists).
    * The dimension collapses the NON-purchase event stream into
    * validity-ranged segment versions; each purchase then joins the
    * version whose [effective_from, effective_to) contains its
    * timestamp. Purchases before a user's first profile event take
    * segment 'none' (the left-join contract, reported not dropped).
    *
    * Scale shape: one equi-join on the scaling user key with the range
    * containment as a residual condition — per-user fanout is the
    * user's version count, bounded by activity (the q132/q239 key-
    * fanout rule), and chained non-overlapping ranges guarantee each
    * purchase matches AT MOST one version (no join-induced
    * duplication). One bounded groupBy on the segment enum after. */
  def q252PitJoin(s: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val dim = scd2Runs(Tables.events(s, dir)
        .filter(col("event_type") =!= "purchase"))
      .select(col("user_id").as("du"), col("segment"),
        to_timestamp(col("effective_from"), tsFmt).as("ef"),
        to_timestamp(col("effective_to"), tsFmt).as("et"))
    val purch = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    purch.join(dim,
        col("user_id") === col("du") &&
          col("ef") <= col("ts") && col("ts") < col("et"), "left")
      .groupBy(coalesce(col("segment"), lit("none")).as("segment_at_purchase"))
      .agg(count(lit(1)).cast("bigint").as("n_purchases"),
        sum("cents").cast("bigint").as("cents_total"),
        countDistinct("user_id").cast("bigint").as("n_users"))
      .orderBy("segment_at_purchase")
  }

  // ---------------------------------------------------------------- q250

  /** q250 — TAKEDOWN deletion (the right-to-be-forgotten / opt-out
    * removal every training-corpus custodian must serve): delete a
    * bounded id list from a source-partitioned document lake by
    * rewriting ONLY the partitions the list touches, then audit the
    * lake. The GDPR/opt-out twin of the Scd2Stream discipline:
    * per-request work is O(touched partitions), never O(lake) — at
    * 100 TB a thousand-id takedown rewrites a handful of directories
    * while the other ten thousand are untouched files (dynamic
    * partition overwrite replaces exactly the partitions present in
    * the written frame; byte-identity of untouched partitions is the
    * LayoutReattachSpec-proven property of the layout machinery).
    *
    * The takedown list here is the deterministic 1-in-101 id slice (a
    * premise literal both engines read identically); a production list
    * arrives as a bounded side input and BROADCASTS — the discovery
    * join (which sources does the list touch?) and the anti-join both
    * carry the list on the build side, so the lake never shuffles.
    *
    * The audit is honest: n_after is re-read from the REWRITTEN lake —
    * so a broken rewrite fails the oracle gate rather than cancelling
    * out arithmetically. (The full-lake audit scan is the AUDIT's
    * cost, not the delete's; a production run audits the touched
    * partitions only.) The touched-source list is a bounded driver
    * scalar — at most |partitions| strings, the q19/q150 idiom. */
  def q250TakedownDelete(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("takedown")
    val docs = Tables.documents(s, dir)
    Warehouse.writePartitioned(docs, "source", path, firstRun = true)
    val lake = s.read.parquet(path)
    val hit = col("doc_id") % 101 === 0
    // pre-pass: per-source totals + hit counts (one scan, also the
    // touched-partition discovery)
    // the pre-pass MATERIALIZES before the rewrite (the lazy plan would
    // otherwise re-read files the overwrite has replaced) — bounded by
    // |partitions| rows, the bounded-driver-scalar idiom
    val preRows = lake.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_before"),
        sum(when(hit, 1L).otherwise(0L)).cast("bigint").as("n_deleted"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val touched = preRows.filter(_._3 > 0).map(_._1).sorted
    // rewrite ONLY touched partitions, survivors only — via the STAGED
    // path (Warehouse.rewritePartitionsStaged): the survivor frame is a
    // lazy plan over the files being replaced, and only a durable
    // staging copy makes the rewrite safe under task retry/speculation
    if (touched.nonEmpty)
      Warehouse.rewritePartitionsStaged(
        lake.filter(col("source").isin(touched: _*)).filter(!hit),
        "source", path)
    val after = s.read.parquet(path).groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_after"))
    import s.implicits._
    preRows.toDF("source", "n_before", "n_deleted")
      .join(after, Seq("source"))
      .select(col("source"), col("n_before"), col("n_deleted"), col("n_after"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q309

  /** q309 — VACUUM (orphan-file sweep, the third lake-maintenance verb
    * after q250's takedown and q256's compaction): commit a
    * source-partitioned document lake with a FILE manifest
    * (Warehouse.writeFileManifest — the Layouts discipline at file
    * granularity), deterministically plant the aborted-ingest leftovers
    * a real object store accumulates (per partition: one orphan AGED
    * past the 24 h retention window and one YOUNG orphan inside it —
    * committed-looking `part-orphan-*.parquet` copies of live data the
    * manifest never saw), sweep with Warehouse.vacuum, and audit the
    * lake through the MANIFEST-resolved read. Retention is the standard
    * in-flight-writer grace period (Delta's VACUUM semantics): the young
    * orphan is spared this pass, the old one is reclaimed, and
    * manifested files are never touched regardless of age.
    *
    * The oracle proves CONSERVATION plus the sweep arithmetic: per-source
    * counts from the re-read lake must equal the source table (a vacuum
    * that deleted a live file, or a manifest read that leaked an orphan
    * copy, double-counts or loses rows and fails the hash), and the
    * planted-orphan construction is deterministic so n_swept = n_spared
    * = 1 are oracle literals — sweeping the wrong file count mismatches.
    * VacuumSpec asserts the filesystem half: the old orphan is gone, the
    * young one remains, live bytes are untouched, a second pass sweeps
    * zero, and the naive directory-listing read WOULD have double-counted
    * (the hazard the manifest retires).
    *
    * Scale shape: the sweep is O(listing + orphans), never O(data); the
    * audit scan is the audit's cost, not the vacuum's. */
  def q309VacuumLake(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("vacuum")
    val docs = Tables.documents(s, dir)
    Warehouse.writePartitioned(docs, "source", path, firstRun = true)
    Warehouse.writeFileManifest(path)
    val nowMs = System.currentTimeMillis()
    plantOrphans(path, nowMs)
    val report = Warehouse.vacuum(path, retentionMs = 24L * 3600 * 1000, nowMs)
    import s.implicits._
    val sweepStats = report
      .collect { case (d, _, swept) if d.startsWith("source=") =>
        (d.stripPrefix("source="), if (swept) 1L else 0L) }
      .groupBy(_._1).toSeq
      .map { case (src, xs) => (src, xs.map(_._2).sum, xs.size - xs.map(_._2).sum) }
      .toDF("source", "n_swept", "n_spared")
    // the audit references source/n_chars, so it passes the lake schema:
    // a takedown-emptied lake then resolves the columns and audits as
    // zero rows instead of throwing UNRESOLVED_COLUMN
    Warehouse.readManifested(s, path, Some(docs.schema))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .join(sweepStats, Seq("source"))
      .select(col("source"), col("n_docs"), col("chars_total"),
        col("n_swept").cast("bigint").as("n_swept"),
        col("n_spared").cast("bigint").as("n_spared"))
      .orderBy("source")
  }

  /** Plant q309's deterministic aborted-ingest leftovers: per partition
    * dir, copy the first live part file to an OLD orphan (mtime 48 h ago,
    * past retention) and a YOUNG one (mtime now, inside it). Copies are
    * schema-identical committed-looking parquet — exactly the files a
    * directory-listing reader would double-count. Spec hook. */
  private[operators] def plantOrphans(path: String, nowMs: Long): Unit = {
    val root = new java.io.File(path)
    root.listFiles().filter(d => d.isDirectory && d.getName.contains("=")).foreach { d =>
      // a partition dir with no live part files (a leftover empty dir)
      // has nothing to copy — skip it rather than crash the plant
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).headOption.foreach { live =>
          for ((name, mtime) <- Seq(
              "part-orphan-old.parquet" -> (nowMs - 48L * 3600 * 1000),
              "part-orphan-young.parquet" -> nowMs)) {
            val p = new java.io.File(d, name).toPath
            java.nio.file.Files.copy(live.toPath, p,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(mtime))
          }
        }
    }
  }

  // ------------------------------------------------------- q323/q324/q325

  /** q323 — TIME TRAVEL (AS-OF snapshot read): the versioned-manifest log
    * (Warehouse.commitSnapshot / readSnapshot — the Delta/Iceberg-style
    * lakehouse log at `_graft_log/`) makes a takedown rewrite
    * COPY-ON-WRITE: survivors land as new part files, the replaced files
    * leave only the new manifest, and version 1 stays byte-readable
    * after the rewrite. The query commits v1, rewrites every partition
    * through the logged path (doc_id % 7 takedown), then audits BOTH
    * versions side by side through their manifests — the v1 half of the
    * output physically requires the old files to still exist, which is
    * exactly what the pre-log lake (q250's dynamic partition overwrite)
    * destroys.
    *
    * Scale: the AS-OF read costs one small-manifest lookup plus the
    * snapshot's own files — no listing, no lake scan; the rewrite writes
    * O(touched slice). At 100 TB the log is what lets yesterday's audit
    * query keep running while today's takedown commits under it. */
  def q323TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (path, v1, v2) = cachedLakeFixture(s, dir, "timetravel") {
      val p = graft.Staging.fresh("timetravel")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      val a = Warehouse.commitSnapshotFromListing(p)
      val survivors = Warehouse.readSnapshot(s, p, a, Some(docs.schema))
        .filter(col("doc_id") % 7 =!= 0)
      val b = Warehouse.rewritePartitionsLogged(
        survivors.repartition(col("source")), "source", p)
      (p, a, b)
    }
    def audit(version: Int, tag: String): DataFrame =
      Warehouse.readSnapshot(s, path, version, Some(docs.schema))
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("chars_total"))
        .withColumn("snap", lit(tag))
    audit(v1, "v1").unionByName(audit(v2, "head"))
      .select(col("snap"), col("source"), col("n_docs"), col("chars_total"))
      .orderBy("snap", "source")
  }

  /** q324 — CHANGE DATA FEED between snapshots, at CHANGED-FILE
    * granularity: one commit edits/deletes through the logged
    * copy-on-write rewrite (doc_id % 13 removed, % 17 edited — q125's
    * recrawl fixture, now expressed as lake commits), a second appends
    * re-crawled additions (% 19 under shifted ids), and the feed between
    * v1 and v3 is Warehouse.snapshotChanges: only files present in
    * exactly one manifest are read, a rewritten partition's untouched
    * survivors cancel under multiset EXCEPT ALL, and an edit surfaces as
    * the standard CDC delete+insert pair. The oracle states the expected
    * feed straight from the fixture predicates.
    *
    * This is q125's diff made O(delta): the full-outer snapshot diff
    * hashes BOTH whole corpora every time, while the log already knows
    * which files changed — at 100 TB with a 0.1% recrawl, the feed reads
    * a thousandth of what q125 must. */
  /** The shared recrawl-lake fixture for the log-composition queries
    * (q324/q326/q327): bootstrap-commit the documents table, then replay
    * q125's recrawl as TWO logged commits — v2 a copy-on-write rewrite
    * (doc_id % delMod removed; % editMod edited: text + " edited",
    * n_chars + 7) and v3 an append (% addMod re-added under ids shifted
    * +10,000,000, text + " new", n_chars + 4). Mods must be coprime to
    * the fixture's 20 sources so no partition empties (q325 owns that
    * case). `zone` < 20 restricts the whole recrawl to sources
    * src0..src{zone−1} (the fixture's source key is doc_id % 20), so
    * the rewrite frame covers ONLY the zone's partitions and everything
    * outside stays untouched in the manifest — the sparse-touch shape a
    * real recrawl has, which is what lets a log consumer prove its
    * O(touched) cost. Returns (path, schema, v1, v3). */
  /** One CONSTRUCTED lake fixture per (corpus fingerprint, tag) per JVM
    * — a memo over graft.Staging dirs, not a durable Layouts entry: the
    * snapshot-log family's fixtures are constructed starting states that
    * sweep at JVM exit. The cache holds CONSTRUCTION ONLY:
    * read-only consumers (the AS-OF read, the feed, the probe, the
    * tail) query the cached lake directly, while every query whose
    * declared operator is itself a lake MUTATION (q325 retention, q332
    * compaction, q333 WAP, q334 relayout, q336 stats maintenance, q338
    * gated ingest) runs its verb fresh on EVERY invocation against a
    * Warehouse.cloneLake hardlink clone — the fixture is the shared
    * starting state, the verb is the recurring, always-timed cost.
    * Keyed on the documents CorpusKey so a fixture regen invalidates;
    * computeIfAbsent serializes concurrent first builds; Staging dirs
    * (fixtures and clones) live for the JVM and sweep at exit. */
  private val lakeFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private[graft] def cachedLakeFixture[T <: AnyRef](s: SparkSession, dir: String,
                                                    tag: String)(build: => T): T =
    lakeFixtureCache.computeIfAbsent(
      graft.CorpusKey(dir, "documents.parquet") + "|" + tag,
      _ => build).asInstanceOf[T]

  private[graft] def loggedRecrawlLake(s: SparkSession, dir: String, delMod: Int,
                                       editMod: Int, addMod: Int,
                                       zone: Int = 20): (String, StructType, Int, Int) =
    cachedLakeFixture(s, dir, s"recrawl|$delMod|$editMod|$addMod|$zone") {
      buildRecrawlLake(s, dir, delMod, editMod, addMod, zone)
    }

  private def buildRecrawlLake(s: SparkSession, dir: String, delMod: Int,
                               editMod: Int, addMod: Int,
                               zone: Int): (String, StructType, Int, Int) = {
    val path = graft.Staging.fresh("loglake")
    val docs = Tables.documents(s, dir)
    // repartition by the partition key before every partitionBy write in
    // this fixture: without it each of the 32 shuffle tasks opens a file
    // in every partition dir (~640 small files per commit at sf0.1), and
    // the log, the listing diff, and every downstream read pay the file
    // count — the standard small-files discipline for partitioned writes
    Warehouse.writePartitioned(docs.repartition(col("source")),
      "source", path, firstRun = true)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    val inZone = col("doc_id") % 20 < zone
    val edited = Warehouse.readSnapshot(s, path, v1, Some(docs.schema))
      .filter(inZone)
      .filter(col("doc_id") % delMod =!= 0)
      .withColumn("text", when(col("doc_id") % editMod === 0,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
      .withColumn("n_chars", when(col("doc_id") % editMod === 0,
        col("n_chars") + 7L).otherwise(col("n_chars")))
    Warehouse.rewritePartitionsLogged(
      edited.repartition(col("source")), "source", path)
    val readded = Warehouse.readSnapshot(s, path, v1, Some(docs.schema))
      .filter(inZone)
      .filter(col("doc_id") % addMod === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" new")).as("text"),
        col("lang"), col("source"), (col("n_chars") + 4L).as("n_chars"))
    val v3 = Warehouse.appendLogged(
      readded.repartition(col("source")), "source", path)
    (path, docs.schema, v1, v3)
  }

  def q324ChangeDataFeed(s: SparkSession, dir: String): DataFrame = {
    val (path, schema, v1, v3) = loggedRecrawlLake(s, dir, 13, 17, 19)
    Warehouse.snapshotChanges(s, path, v1, v3, Some(schema))
      .groupBy("change_type")
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        min("doc_id").cast("bigint").as("min_id"),
        max("doc_id").cast("bigint").as("max_id"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .orderBy("change_type")
  }

  /** q325 — SNAPSHOT RETENTION (expire + vacuum, the log's reclamation
    * half): after a logged takedown rewrite (doc_id % 5), v1's replaced
    * files are on disk but referenced ONLY by the v1 manifest — vacuum
    * must spare them while v1 is retained (the time-travel guarantee the
    * widened live set provides) and may reclaim them only after
    * expireSnapshots drops v1 from the log. The query expires down to
    * the head, sweeps with the clock advanced past retention, and
    * audits: the head read must still conserve the survivors (a sweep
    * that touched a live or head-manifested file breaks the counts or
    * the read itself), every examined orphan must actually have been
    * swept (all v1-only files aged out), and the expired v1 must now be
    * UNREADABLE — the loud failure, never a silent fallback to head.
    *
    * Scale: expire is O(log entries); the sweep is O(listing + orphans);
    * nothing rereads data. The retention window bounds how far back
    * time travel reaches — exactly Delta's VACUUM contract. */
  def q325SnapshotRetention(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // FIXTURE (cached per corpus — construction only): bootstrap + the
    // %5 takedown rewrite. The declared RETENTION VERB — expire, the
    // aged vacuum sweep, the v1-unreadable probe — runs fresh on EVERY
    // invocation against a hardlink clone of the fixture, so each timed
    // call pays the operator, never a memoised first run.
    val fixture = cachedLakeFixture(s, dir, "retention") {
      val p = graft.Staging.fresh("retention")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      val v1 = Warehouse.commitSnapshotFromListing(p)
      val survivors = Warehouse.readSnapshot(s, p, v1, Some(docs.schema))
        .filter(col("doc_id") % 5 =!= 0)
      // the fixture's source key correlates with doc_id (source =
      // src{id%20}), so the % 5 takedown EMPTIES four partitions
      // outright — the case a rewrite cannot infer from its own
      // output files (an empty slice writes none) and the emptiedDirs
      // contract exists for: name the all-rows-deleted partitions so
      // their old files leave the manifest. v1's partition dirs come
      // off its MANIFEST (already in escaped key form — no data
      // scan); the survivor list is a bounded driver scalar.
      val v1Dirs = Warehouse.snapshotFiles(p, v1)
        .flatMap(f => f.split('/').headOption).toSet
      val survDirs = survivors.select("source").distinct()
        .collect().map(r => s"source=${r.getString(0)}").toSet
      val emptied = (v1Dirs -- survDirs).toSeq.sorted
      Warehouse.rewritePartitionsLogged(
        survivors.repartition(col("source")), "source", p, emptied)
      p
    }
    val path = Warehouse.cloneLake(fixture, "retention-verb")
    val v1 = Warehouse.snapshotVersions(path).head
    val expiredN = Warehouse.expireSnapshots(path, keepLast = 1).size.toLong
    val report = Warehouse.vacuum(path, retentionMs = 24L * 3600 * 1000,
      nowMs = System.currentTimeMillis() + 48L * 3600 * 1000)
    val allSwept = report.nonEmpty && report.forall(_._3)
    val v1Unreadable =
      try { Warehouse.readSnapshot(s, path, v1, Some(docs.schema)); false }
      catch { case _: IllegalArgumentException => true }
    Warehouse.readManifested(s, path, Some(docs.schema))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .withColumn("n_expired", lit(expiredN))
      .withColumn("all_swept", lit(if (allSwept) 1L else 0L))
      .withColumn("v1_unreadable", lit(if (v1Unreadable) 1L else 0L))
      .orderBy("source")
  }

  /** q326 — CDC APPLY (downstream replica maintained purely from the
    * feed): a replica materializes snapshot v1 ONCE, then follows the
    * lake by applying each consecutive version pair's snapshotChanges —
    * key-anti-join the deletes, union the inserts, never rereading the
    * lake beyond its changed files. The oracle is the HEAD state, so
    * hash equality proves the feed is complete and exactly sufficient:
    * a feed that dropped a cancelled survivor, double-fed an edit, or
    * missed an append leaves the replica off by that row. This is the
    * contract every downstream index/serving copy depends on — at
    * 100 TB the replica's recurring cost is O(changed files) per
    * commit, not a re-sync.
    *
    * Scale: each apply step is one broadcast-size anti-join (the feed's
    * delete keys) plus a union; the replica is only re-aggregated at
    * audit time. */
  def q326CdcApply(s: SparkSession, dir: String): DataFrame = {
    val (path, schema, v1, vHead) = loggedRecrawlLake(s, dir, 11, 23, 29)
    val replica0 = Warehouse.readSnapshot(s, path, v1, Some(schema))
    val replica = (v1 until vHead).foldLeft(replica0) { (rep, va) =>
      val feed = Warehouse.snapshotChanges(s, path, va, va + 1, Some(schema))
      val deletes = feed.filter(col("change_type") === "delete").select("doc_id")
      val inserts = feed.filter(col("change_type") === "insert").drop("change_type")
      rep.join(deletes, Seq("doc_id"), "left_anti")
        .unionByName(inserts.select(rep.columns.map(col).toSeq: _*))
    }
    replica.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .orderBy("source")
  }

  /** q327 — INCREMENTAL VIEW MAINTENANCE WITH RETRACTIONS: the
    * per-source (count, chars) aggregate view maintained from the feed
    * alone — inserts contribute +1/+n_chars, deletes RETRACT −1/−n_chars
    * — merged into the staged v1 view by summing signed partials. The
    * retraction half is what q126's append-only merge cannot express:
    * a takedown or an edit must DECREMENT the standing view, and signed
    * counting is the classic IVM answer. The oracle is the full head
    * recompute, so merged == rebuilt under the hash.
    *
    * Scale: the delta aggregate touches only changed files; the merge
    * shuffles |view| + |delta keys| summary rows. An edit feeds as
    * delete+insert whose count contributions cancel and whose chars
    * contributions sum to the edit's true delta — no special-casing. */
  def q327CdfViewMaintenance(s: SparkSession, dir: String): DataFrame = {
    val (path, schema, v1, vHead) = loggedRecrawlLake(s, dir, 9, 16, 27)
    val view0 = {
      val p = graft.Staging.fresh("cdfview")
      Warehouse.readSnapshot(s, path, v1, Some(schema))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p)
    }
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    val delta = Warehouse.snapshotChanges(s, path, v1, vHead, Some(schema))
      .groupBy("source")
      .agg(sum(sign).as("n"), sum(sign * col("n_chars")).as("chars"))
    view0.unionByName(delta)
      .groupBy("source")
      .agg(sum("n").cast("bigint").as("n_docs"),
        sum("chars").cast("bigint").as("chars_total"))
      .filter(col("n_docs") > 0)
      .orderBy("source")
  }

  /** q330 — SCHEMA EVOLUTION under the snapshot log: a scored re-crawl
    * batch arrives with a column the lake has never seen (`quality_e6`),
    * appends through the logged path, and the lake WIDENS — the head
    * read resolves the evolved schema with the pre-evolution files
    * null-filling the new column (the parquet reader's missing-column
    * contract, the same mechanism as q31's mergeSchema dir read, now
    * composed with the manifest-resolved read), while a time-travel read
    * of v1 under the ORIGINAL schema is untouched (TimeTravelSpec pins
    * both, plus the CDF across the schema boundary). No rewrite of old
    * files, no backfill job: at 100 TB adding a score column costs the
    * scored batch alone, which is the entire point of evolution-by-
    * metadata. The audit splits each source into scored/unscored mass so
    * both generations of files sit under the hash. */
  def q330SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val path = cachedLakeFixture(s, dir, "schemaevo") {
      val p = graft.Staging.fresh("schemaevo")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      val v1 = Warehouse.commitSnapshotFromListing(p)
      val scored = Warehouse.readSnapshot(s, p, v1, Some(docs.schema))
        .filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" new")).as("text"),
          col("lang"), col("source"), (col("n_chars") + 4L).as("n_chars"),
          ((col("n_chars") + 4L) * 1000L).as("quality_e6"))
      Warehouse.appendLogged(scored.repartition(col("source")), "source", p)
      p
    }
    val evolved = StructType(docs.schema.fields :+
      StructField("quality_e6", org.apache.spark.sql.types.LongType))
    Warehouse.readManifested(s, path, Some(evolved))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("quality_e6").isNotNull, 1L).otherwise(0L))
          .cast("bigint").as("n_scored"),
        sum("n_chars").cast("bigint").as("chars_total"),
        coalesce(sum("quality_e6"), lit(0L)).cast("bigint").as("q_sum"))
      .orderBy("source")
  }

  /** q331 — DELETION VECTORS (merge-on-read takedown): the OTHER delete
    * strategy next to the copy-on-write rewrite. The takedown keys land
    * as an O(k) sidecar (Warehouse.deleteLogged — zero data files
    * touched), the commit's `.deletes` entry lists the version's active
    * sidecars, and the merge-on-read read anti-joins the broadcast
    * sidecar union. Deletes time-travel exactly like data: v1 carries
    * no sidecars and reads WHOLE after the delete commit, which the
    * side-by-side audit proves. When to choose which is a real 100 TB
    * decision: a thousand-row takedown against TB partitions is O(k)
    * here vs O(touched partitions) for q250's rewrite; the price is the
    * read-side anti-join until q332's compaction folds it away. */
  def q331DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (path, v1, v2) = cachedLakeFixture(s, dir, "dvlake") {
      val p = graft.Staging.fresh("dvlake")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      val a = Warehouse.commitSnapshotFromListing(p)
      val b = Warehouse.deleteLogged(
        docs.filter(col("doc_id") % 43 === 0).select("doc_id"), "doc_id", p)
      (p, a, b)
    }
    def audit(version: Int, tag: String): DataFrame =
      Warehouse.readSnapshotMergeOnRead(s, path, version, "doc_id",
          Some(docs.schema))
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("chars_total"))
        .withColumn("snap", lit(tag))
    audit(v1, "v1").unionByName(audit(v2, "head"))
      .select(col("snap"), col("source"), col("n_docs"), col("chars_total"))
      .orderBy("snap", "source")
  }

  /** q332 — DELETE COMPACTION (materialize merge-on-read): pending
    * sidecar deletes fold into data files through the copy-on-write
    * rewrite of ONLY the partitions still holding deleted keys
    * (discovered by one semi-join against the broadcast keys), and the
    * compacted version's sidecar list commits EMPTY — the read-side
    * anti-join retires while every earlier version keeps its own
    * deletes for time travel. The audit reads the compacted version
    * PLAIN (readSnapshot, no merge-on-read) so the hash proves the
    * materialization itself; the two flags pin the sidecar retirement
    * and the plain==merge-on-read equivalence at head. */
  def q332DvCompaction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // FIXTURE (cached per corpus — construction only): bootstrap + the
    // %47 merge-on-read delete. The declared COMPACTION VERB — the
    // touched-partition rewrite, the sidecar retirement, and the
    // plain==merge-on-read equivalence probes — runs fresh on EVERY
    // invocation against a hardlink clone of the fixture.
    val fixture = cachedLakeFixture(s, dir, "dvcompact") {
      val p = graft.Staging.fresh("dvcompact")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      Warehouse.commitSnapshotFromListing(p)
      Warehouse.deleteLogged(
        docs.filter(col("doc_id") % 47 === 0).select("doc_id"), "doc_id", p)
      p
    }
    val path = Warehouse.cloneLake(fixture, "dvcompact-verb")
    val v3 = Warehouse.compactDeletes(s, path, "source", "doc_id",
      Some(docs.schema))
    val dvRetired = Warehouse.deleteSidecars(path, v3).isEmpty
    val plain = Warehouse.readSnapshot(s, path, v3, Some(docs.schema))
    val mr = Warehouse.readSnapshotMergeOnRead(s, path, v3, "doc_id",
      Some(docs.schema))
    // both directions of the multiset difference under ONE action (the
    // pair is empty iff the union is) — half the probe's job count
    val morEqualsPlain =
      plain.exceptAll(mr).unionAll(mr.exceptAll(plain)).isEmpty
    plain.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .withColumn("dv_retired", lit(if (dvRetired) 1L else 0L))
      .withColumn("mor_equals_plain", lit(if (morEqualsPlain) 1L else 0L))
      .orderBy("source")
  }

  /** q333 — WRITE-AUDIT-PUBLISH (the WAP ingest pattern the log gives
    * for free): two crawl batches land UNCOMMITTED
    * (Warehouse.writeUncommitted — on storage, referenced by no
    * manifest, invisible to every reader), each is audited by reading
    * exactly its own pending files, and only the batch that clears the
    * quality gate (avg chars ≥ 30 — batch B is truncated to 20-char
    * stubs by construction and fails) PUBLISHES via one atomic manifest
    * commit; the failed batch is simply walked away from and the
    * retention-aged vacuum reclaims its files as ordinary orphans. The
    * audit proves all four verdicts at once: head = base ∪ batch A
    * (published rows visible, exactly once), batch B's rows nowhere in
    * the head (the quarantine), every examined orphan swept (the
    * abandoned files actually reclaimed), and the pre-publish head
    * never saw EITHER batch (the flags pin the gate outcomes).
    *
    * Scale: publish is one manifest write regardless of batch size —
    * ingest visibility is atomic and all-or-nothing, which is the
    * entire reason the pattern exists; the audit reads O(batch). */
  def q333WriteAuditPublish(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // FIXTURE (cached per corpus — construction only): the bootstrapped
    // base lake. The declared WAP VERB — land both batches uncommitted,
    // audit each pending file set, publish the passing batch atomically,
    // sweep the abandoned one — runs fresh on EVERY invocation against a
    // hardlink clone of the fixture.
    val fixture = cachedLakeFixture(s, dir, "wap") {
      val p = graft.Staging.fresh("wap")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      Warehouse.commitSnapshotFromListing(p)
      p
    }
    val path = Warehouse.cloneLake(fixture, "wap-verb")
    val v1 = Warehouse.snapshotVersions(path).last
    val batchA = docs.filter(col("doc_id") % 53 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" crawlA")).as("text"),
        col("lang"), col("source"), (col("n_chars") + 7L).as("n_chars"))
    val batchB = docs.filter(col("doc_id") % 59 === 0)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        expr("substring(text, 1, 20)").as("text"),
        col("lang"), col("source"), least(col("n_chars"), lit(20L)).as("n_chars"))
    val pendingA = Warehouse.writeUncommitted(
      batchA.repartition(col("source")), "source", path)
    val pendingB = Warehouse.writeUncommitted(
      batchB.repartition(col("source")), "source", path)
    // the audit gate reads EXACTLY the pending files (bounded scalar
    // per batch); a batch publishes only if avg length clears 30
    def gate(rels: Seq[String]): Boolean = {
      val r = Warehouse.readFilesOf(s, path, rels, Some(docs.schema))
        .agg(sum("n_chars").cast("double"), count(lit(1))).head()
      r.getDouble(0) / r.getLong(1) >= 30.0
    }
    val (aPass, bPass) = (gate(pendingA), gate(pendingB))
    val head = Warehouse.manifestedFiles(path)
    if (aPass) Warehouse.commitSnapshot(path, head ++ pendingA,
      expectedHead = Some(v1))
    // batch B: abandoned (never committed); the aged sweep reclaims it
    val report = Warehouse.vacuum(path, retentionMs = 24L * 3600 * 1000,
      nowMs = System.currentTimeMillis() + 48L * 3600 * 1000)
    val allSwept = report.nonEmpty && report.forall(_._3)
    Warehouse.readManifested(s, path, Some(docs.schema))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .withColumn("a_published", lit(if (aPass) 1L else 0L))
      .withColumn("b_published", lit(if (bPass) 1L else 0L))
      .withColumn("abandoned_swept", lit(if (allSwept) 1L else 0L))
      .orderBy("source")
  }

  /** q334 — PARTITION EVOLUTION under the log: the lake RE-LAYOUTS from
    * source-partitioning to lang-partitioning in one commit — the full
    * row set lands uncommitted under the new directory scheme, one
    * manifest write flips the table over, and v1 keeps serving the OLD
    * layout. Both layouts' files coexist under one root; that breaks a
    * directory-listing reader outright (mixed partition schemes cannot
    * co-discover), and is exactly why it is SAFE here: every manifest
    * references one consistent layout, and the log's thesis is that no
    * reader ever trusts the listing. Each version's reads prune on its
    * own partition key (TimeTravelSpec pins both via inputFiles); the
    * old layout's files retire through the ordinary expire+vacuum path.
    *
    * At 100 TB this is the Iceberg headline feature: a query-pattern
    * shift (by-source ingest → by-language training reads) re-keys the
    * table without a second table, a dual-write window, or a reader
    * migration flag-day. The audit reads v1 grouped by its key and head
    * grouped by the new key, both under one hash. */
  def q334PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // FIXTURE (cached per corpus — construction only): the bootstrapped
    // source-partitioned lake. The declared RELAYOUT VERB — the full row
    // set landed uncommitted under the lang scheme plus the one-manifest
    // flip — runs fresh on EVERY invocation against a hardlink clone.
    val fixture = cachedLakeFixture(s, dir, "partevo") {
      val p = graft.Staging.fresh("partevo")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      Warehouse.commitSnapshotFromListing(p)
      p
    }
    val path = Warehouse.cloneLake(fixture, "partevo-verb")
    val v1 = Warehouse.snapshotVersions(path).last
    val relaid = Warehouse.readSnapshot(s, path, v1, Some(docs.schema))
      .repartition(col("lang"))
    val v2 = Warehouse.commitSnapshot(path,
      Warehouse.writeUncommitted(relaid, "lang", path), expectedHead = Some(v1))
    def audit(version: Int, tag: String, key: String): DataFrame =
      Warehouse.readSnapshot(s, path, version, Some(docs.schema))
        .groupBy(key)
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("chars_total"))
        .select(lit(tag).as("snap"), col(key).as("part_key"),
          col("n_docs"), col("chars_total"))
    audit(v1, "v1", "source").unionByName(audit(v2, "head", "lang"))
      .orderBy("snap", "part_key")
  }

  /** q335 — MANIFEST-STATS FILE SKIPPING (data skipping one level finer
    * than partition pruning): the lake writes RANGE-CLUSTERED on doc_id
    * (repartitionByRange — each file holds a contiguous id slice), the
    * commit records per-file min/max in the log's `.stats` entry (one
    * scan, Warehouse.writeFileStats), and a range read prunes its file
    * list against the stats BEFORE touching storage
    * (readSnapshotRange) — then re-applies the exact predicate, so the
    * sidecar is advisory and correctness never depends on it. The
    * 200-id probe range cannot span all eight range files, so the
    * skipped_files flag is a deterministic literal under the hash;
    * TimeTravelSpec pins the exact file counts on a constructed
    * disjoint-batch lake plus the no-stats-column fallback.
    *
    * This is q109's Z-order story at MANIFEST granularity: Z-order
    * clusters the directory layout, stats skipping clusters the file
    * list — at 100 TB the stats prune runs on a KB sidecar in the
    * driver, before a single LIST or read reaches the store. */
  def q335StatsSkipping(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (path, v1) = cachedLakeFixture(s, dir, "statskip") {
      val p = graft.Staging.fresh("statskip")
      docs.repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(p)
      val a = Warehouse.commitSnapshotFromListing(p)
      Warehouse.writeFileStats(s, p, a, Seq("doc_id", "n_chars"))
      (p, a)
    }
    val (ranged, (filesRead, filesTotal)) = Warehouse.readSnapshotRange(
      s, path, v1, "doc_id", 100L, 299L, Some(docs.schema))
    ranged.groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"),
        min("doc_id").cast("bigint").as("min_id"),
        max("doc_id").cast("bigint").as("max_id"))
      .withColumn("skipped_files",
        lit(if (filesRead < filesTotal) 1L else 0L))
      .orderBy("lang")
  }

  /** q336 — INCREMENTAL STATS MAINTENANCE (the delta discipline applied
    * to the manifest stats): the bootstrap commit records per-file
    * min/max once (the only full scan the lake ever pays); an appended
    * re-crawl batch commits through the log and
    * Warehouse.maintainFileStats brings the new version's entry up to
    * date by CARRYING every covered file's lines (immutable files —
    * carried stats can never go stale) and scanning ONLY the batch's
    * new files. The probe range then prunes across BOTH generations of
    * files from the maintained entry. The appended batch re-keys its
    * ids +10M so its files sit outside the base probe range — the
    * base-range probe must keep skipping them (stats for the new files
    * exist and exclude), while the shifted-range probe must find
    * exactly the batch. Two probes, one maintained sidecar, both under
    * the hash; TimeTravelSpec pins that maintenance byte-carries the
    * old lines and the no-rescan contract.
    *
    * At 100 TB: stats upkeep at O(batch) per commit is the difference
    * between data skipping that lapses after the first append and a
    * sidecar that stays authoritative for the table's life. */
  def q336IncrementalStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // FIXTURE (cached per corpus — construction only): the range-
    // clustered bootstrap with its v1 stats entry (the one full scan the
    // lake ever pays). The declared MAINTENANCE VERB — the appended
    // batch's commit plus maintainFileStats carrying the covered lines
    // and scanning only the batch — runs fresh on EVERY invocation
    // against a hardlink clone.
    val fixture = cachedLakeFixture(s, dir, "incstats") {
      val p = graft.Staging.fresh("incstats")
      docs.repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(p)
      val v1 = Warehouse.commitSnapshotFromListing(p)
      Warehouse.writeFileStats(s, p, v1, Seq("doc_id"))
      p
    }
    val path = Warehouse.cloneLake(fixture, "incstats-verb")
    val v1 = Warehouse.snapshotVersions(path).last
    // the re-crawl batch lands +10M — outside every base file's range
    val batch = docs.filter(col("doc_id") % 21 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val before = Warehouse.manifestedFiles(path)
    val added = Warehouse.writeUncommitted(
      batch.repartitionByRange(2, col("doc_id")), path)
    val v2 = Warehouse.commitSnapshot(path, before ++ added,
      expectedHead = Some(v1))
    Warehouse.maintainFileStats(s, path, v2, Seq("doc_id"))
    def probe(lo: Long, hi: Long, tag: String): DataFrame = {
      val (df, (read, total)) = Warehouse.readSnapshotRange(
        s, path, v2, "doc_id", lo, hi, Some(docs.schema))
      df.agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"),
        min("doc_id").cast("bigint").as("min_id"),
        max("doc_id").cast("bigint").as("max_id"))
        .select(lit(tag).as("probe"), col("n_docs"), col("chars_total"),
          col("min_id"), col("max_id"),
          lit(if (read < total) 1L else 0L).as("skipped_files"))
    }
    probe(100L, 299L, "base").unionByName(probe(10000000L, 10999999L, "recrawl"))
      .orderBy("probe")
  }

  /** q338 — DEDUP-GATED INGEST (write → dedup-audit → publish the
    * novel slice): the WAP pattern composed with the dedup family into
    * the governed ingest path a training-data lake actually runs. A
    * re-crawl batch lands uncommitted (verbatim re-crawls of the %61
    * docs under new ids + genuinely new %67 docs); the audit
    * content-hash anti-joins the PENDING rows against the standing
    * corpus — the q21/q85 exact-dedup verdict run at the gate, before
    * anything becomes visible — and only the novel slice is re-landed
    * and published in one manifest commit. The rejected duplicates
    * never reach a manifest; the abandoned raw batch is vacuum fodder.
    * At 100 TB the anti-join rides the bucketed fingerprint index
    * (q85's layout — zero corpus-side exchanges on the recurring
    * verdict); here the content-hash anti-join states the semantics.
    *
    * Oracle: head = standing ∪ (batch rows whose hash misses the
    * standing set), with the rejected count as a global literal — the
    * same anti-join stated in SQL, so even a pathological hash
    * collision in the fixture would bind both engines identically. */
  def q338DedupGatedIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // FIXTURE (cached per corpus — construction only): the bootstrapped
    // standing corpus. The declared GATED-INGEST VERB — batch landed
    // uncommitted, the content-hash dedup audit, the novel slice
    // re-landed and published, the raw batch swept — runs fresh on EVERY
    // invocation against a hardlink clone.
    val fixture = cachedLakeFixture(s, dir, "dedupwap") {
      val p = graft.Staging.fresh("dedupwap")
      Warehouse.writePartitioned(docs.repartition(col("source")),
        "source", p, firstRun = true)
      Warehouse.commitSnapshotFromListing(p)
      p
    }
    val path = Warehouse.cloneLake(fixture, "dedupwap-verb")
    val v1 = Warehouse.snapshotVersions(path).last
    val batch = docs.filter(col("doc_id") % 61 === 0)
      .select((col("doc_id") + 40000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") % 67 === 0)
        .select((col("doc_id") + 50000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"),
          col("lang"), col("source"), (col("n_chars") + 6L).as("n_chars")))
    val pending = Warehouse.writeUncommitted(
      batch.repartition(col("source")), "source", path)
    // the dedup audit: pending rows vs the standing corpus, hashes only
    val pendingDf = Warehouse.readFilesOf(s, path, pending, Some(docs.schema))
    val standing = Warehouse.readManifested(s, path, Some(docs.schema))
      .select(md5(col("text")).as("h")).distinct()
    val novel = pendingDf.withColumn("h", md5(col("text")))
      .join(standing, Seq("h"), "left_anti").drop("h")
    // re-land ONLY the novel slice and publish it; the raw batch is
    // abandoned to the aged sweep
    val published = Warehouse.writeUncommitted(
      novel.repartition(col("source")), "source", path)
    // the rejected count reads the two landed slices' parquet footers
    // (metadata-only counts) instead of re-running the batch plan and
    // the anti-join a second time each
    val nRejected =
      Warehouse.readFilesOf(s, path, pending, Some(docs.schema)).count() -
        Warehouse.readFilesOf(s, path, published, Some(docs.schema)).count()
    Warehouse.commitSnapshot(path,
      Warehouse.manifestedFiles(path) ++ published, expectedHead = Some(v1))
    Warehouse.vacuum(path, retentionMs = 24L * 3600 * 1000,
      nowMs = System.currentTimeMillis() + 48L * 3600 * 1000)
    Warehouse.readManifested(s, path, Some(docs.schema))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_total"))
      .withColumn("n_rejected", lit(nRejected))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_merge_upsert" -> (q214MergeUpsert _),
    "q338_dedup_gated_ingest" -> (q338DedupGatedIngest _),
    "q336_incremental_stats" -> (q336IncrementalStats _),
    "q335_stats_skipping" -> (q335StatsSkipping _),
    "q334_partition_evolution" -> (q334PartitionEvolution _),
    "q333_write_audit_publish" -> (q333WriteAuditPublish _),
    "q331_deletion_vectors" -> (q331DeletionVectors _),
    "q332_dv_compaction" -> (q332DvCompaction _),
    "q330_schema_evolution" -> (q330SchemaEvolution _),
    "q323_time_travel" -> (q323TimeTravel _),
    "q324_change_data_feed" -> (q324ChangeDataFeed _),
    "q325_snapshot_retention" -> (q325SnapshotRetention _),
    "q326_cdc_apply" -> (q326CdcApply _),
    "q327_cdf_view_maintenance" -> (q327CdfViewMaintenance _),
    "q125_snapshot_diff" -> (q125SnapshotDiff _),
    "q126_incremental_agg" -> (q126IncrementalAgg _),
    "q113_scd2_incremental" -> (q113Scd2Incremental _),
    "q109_zorder_scan" -> (q109ZorderScan _),
    "q102_scd2_dimension" -> (q102Scd2Dimension _),
    "q250_takedown_delete" -> (q250TakedownDelete _),
    "q309_vacuum_lake" -> (q309VacuumLake _),
    "q252_pit_join" -> (q252PitJoin _),
    "q256_compaction" -> (q256Compaction _),
    "q30_partitioned_write" -> (q30PartitionedWrite _),
    "q31_ingest_parse" -> (q31IngestParse _),
    "q32_csv_roundtrip" -> (q32CsvRoundtrip _),
    "q33_xml_stations" -> (q33XmlStations _),
    "q34_grid_argmin" -> (q34GridArgmin _),
    "q35_sql_view" -> (q35SqlView _),
    "q62_bucketed_join" -> (q62BucketedJoin _),
    "q78_json_extract" -> (q78JsonExtract _),
    "q79_corrupt_tolerant_parse" -> (q79CorruptTolerantParse _),
    "q93_jsonl_roundtrip" -> (q93JsonlRoundtrip _),
    "q94_orc_roundtrip" -> (q94OrcRoundtrip _),
  )

  /** JSON-lines lake round-trip (the interchange format every ingest
    * meets: line-delimited JSON in, typed frame out). Writes a typed
    * projection as JSONL, reads it back with an EXPLICIT schema — schema
    * inference on JSON costs a full extra pass and types drift run to
    * run, so production readers always pin the schema — and aggregates.
    * The oracle computes the same aggregate straight from the source
    * table, so serialization, escaping, and type restoration are all
    * under the hash check. */
  def q93JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("jsonl")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("doc_id", org.apache.spark.sql.types.LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("ntok", org.apache.spark.sql.types.LongType)))
    s.read.schema(schema).json(path)
      .groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("tokens"),
        countDistinct("source").cast("bigint").as("n_sources"))
      .orderBy("lang")
  }

  /** ORC lake round-trip — the other columnar lake format Spark ships
    * natively; a warehouse migration (parquet ⇄ ORC) must preserve
    * values exactly, which the hash check proves by aggregating the ORC
    * copy against the parquet-sourced oracle. Same predicate/column
    * pushdown machinery as parquet (ORC readers prune stripes). */
  def q94OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.fresh("orc")
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec6(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  val oracles: Map[String, String] = Map(
    // MERGE semantics replayed as the equivalent full-outer CTE: the
    // same three verbs, exact cents, identical null conventions
    "q214_merge_upsert" ->
      """WITH t AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |s AS (SELECT CAST(o_custkey AS BIGINT) AS k,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS recent_c
        |  FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY o_custkey)
        |SELECT COALESCE(t.k, s.k) AS c_custkey,
        |  CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN 'update'
        |       WHEN t.k IS NULL THEN 'insert' ELSE 'delete' END AS action,
        |  t.bal_c AS old_bal_c,
        |  CASE WHEN s.k IS NOT NULL THEN COALESCE(t.bal_c, 0) + s.recent_c END AS new_bal_c
        |FROM t FULL OUTER JOIN s ON t.k = s.k
        |ORDER BY c_custkey""".stripMargin,
    "q109_zorder_scan" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id % 8 IN (2, 3) AND (dayofmonth(ts) - 1) // 4 IN (4, 5)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q113's oracle is the FULL-REBUILD SQL: hash equality proves the
    // incremental merge (rebuild touched users + carry the rest) is
    // indistinguishable from rebuilding the whole dimension
    "q113_scd2_incremental" -> scd2OracleSql,
    "q125_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |v2 AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 0 THEN text || ' edited' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, md5(text || ' new')
        |  FROM documents WHERE doc_id % 19 = 0),
        |d AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN h1 IS NULL THEN 'added' WHEN h2 IS NULL THEN 'removed'
        |         WHEN h1 = h2 THEN 'unchanged' ELSE 'changed' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT change, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM d GROUP BY change ORDER BY change""".stripMargin,
    // the oracle is the FULL recompute: the hash gate proves the staged
    // base + delta sum-merge equals a one-pass aggregate
    "q126_incremental_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,
    "q102_scd2_dimension" -> scd2OracleSql,
  ) ++ oraclesRest

  /** The SCD2 run-collapse CTE chain ending at
    * `f(user_id, run_id, segment, effective_from, effective_to,
    * n_events)`, parameterized on the source relation — shared by the
    * q102/q113 dimension oracles (`events`) and q252's point-in-time
    * join (the non-purchase profile slice). */
  private def scd2Ctes(src: String): String =
    s"""l AS (SELECT user_id, ts, event_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM $src),
       |c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg FROM l),
       |rn AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM c),
       |g AS (SELECT user_id, run_id, event_type AS segment,
       |    MIN(ts) AS effective_from, COUNT(*) AS n_events
       |  FROM rn GROUP BY 1, 2, 3),
       |f AS (SELECT user_id, run_id, segment, effective_from,
       |    coalesce(lead(effective_from) OVER (PARTITION BY user_id ORDER BY run_id),
       |      TIMESTAMP '9999-12-31 00:00:00') AS effective_to, n_events
       |  FROM g)""".stripMargin

  private lazy val scd2OracleSql: String =
      s"""WITH ${scd2Ctes("events")}
        |SELECT CAST(user_id AS BIGINT) AS user_id, CAST(run_id AS BIGINT) AS version,
        |  segment,
        |  strftime(effective_from, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
        |  strftime(effective_to, '%Y-%m-%d %H:%M:%S.%f') AS effective_to,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  effective_to = TIMESTAMP '9999-12-31 00:00:00' AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin

  /** The q252 point-in-time join oracle — shared verbatim by q255's
    * stream-static twin (same output contract, stateless topology). */
  private[graft] lazy val pitJoinOracleSql: String =
    s"""WITH ev2 AS (SELECT * FROM events WHERE event_type <> 'purchase'),
       |${scd2Ctes("ev2")},
       |p AS (SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |j AS (SELECT p.user_id, p.cents, f.segment
       |  FROM p LEFT JOIN f ON p.user_id = f.user_id
       |    AND f.effective_from <= p.ts AND p.ts < f.effective_to)
       |SELECT coalesce(segment, 'none') AS segment_at_purchase,
       |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |  CAST(SUM(cents) AS BIGINT) AS cents_total,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  private lazy val oraclesRest: Map[String, String] = Map(
    "q252_pit_join" -> pitJoinOracleSql,
    // v1 must still read whole AFTER the rewrite (time travel), head must
    // read the survivors — both sides of the union are under the hash
    "q323_time_travel" ->
      """SELECT 'v1' AS snap, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT 'head', source, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0 GROUP BY source
        |ORDER BY snap, source""".stripMargin,
    // the expected feed stated straight from the fixture predicates: an
    // edit is a delete+insert pair, untouched survivors never appear
    "q324_change_data_feed" ->
      """WITH del AS (SELECT doc_id, n_chars FROM documents
        |    WHERE doc_id % 13 = 0 OR doc_id % 17 = 0),
        |ins AS (SELECT doc_id, n_chars + 7 AS n_chars FROM documents
        |    WHERE doc_id % 13 <> 0 AND doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, n_chars + 4 FROM documents
        |    WHERE doc_id % 19 = 0)
        |SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM del
        |UNION ALL
        |SELECT 'insert', CAST(COUNT(*) AS BIGINT),
        |  CAST(MIN(doc_id) AS BIGINT), CAST(MAX(doc_id) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM ins
        |ORDER BY change_type""".stripMargin,
    // the same gate anti-join stated in SQL: head = standing ∪ novel,
    // rejected = batch minus novel as a global literal
    "q338_dedup_gated_ingest" ->
      """WITH batch AS (
        |  SELECT doc_id + 40000000 AS doc_id, text, source, n_chars
        |  FROM documents WHERE doc_id % 61 = 0
        |  UNION ALL
        |  SELECT doc_id + 50000000, text || ' fresh', source, n_chars + 6
        |  FROM documents WHERE doc_id % 67 = 0),
        |novel AS (SELECT * FROM batch
        |  WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)),
        |head AS (SELECT source, n_chars FROM documents
        |  UNION ALL SELECT source, n_chars FROM novel)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST((SELECT COUNT(*) FROM batch) - (SELECT COUNT(*) FROM novel)
        |    AS BIGINT) AS n_rejected
        |FROM head GROUP BY source ORDER BY source""".stripMargin,
    // two probes against the MAINTAINED sidecar: the base range must
    // keep skipping (the new files have stats and exclude), the shifted
    // range must find exactly the appended batch
    "q336_incremental_stats" ->
      """SELECT 'base' AS probe, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id,
        |  CAST(1 AS BIGINT) AS skipped_files
        |FROM documents WHERE doc_id BETWEEN 100 AND 299
        |UNION ALL
        |SELECT 'recrawl', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT),
        |  CAST(MIN(doc_id) + 10000000 AS BIGINT),
        |  CAST(MAX(doc_id) + 10000000 AS BIGINT), CAST(1 AS BIGINT)
        |FROM documents WHERE doc_id % 21 = 0
        |ORDER BY probe""".stripMargin,
    // the probe range re-applied exactly after the prune; the flag is
    // deterministic (a 200-id range cannot span all 8 range files)
    "q335_stats_skipping" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id,
        |  CAST(1 AS BIGINT) AS skipped_files
        |FROM documents WHERE doc_id BETWEEN 100 AND 299
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // same rows under both layouts: v1 grouped by its partition key,
    // the re-laid head by the new one
    "q334_partition_evolution" ->
      """SELECT 'v1' AS snap, source AS part_key,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT 'head', lang, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents GROUP BY lang
        |ORDER BY snap, part_key""".stripMargin,
    // head = base ∪ published batch A; batch B (the 20-char stubs that
    // fail the ≥30 avg-chars gate) is nowhere — its rows never reach a
    // manifest and its files are swept; the three gate flags are
    // deterministic literals
    "q333_write_audit_publish" ->
      """WITH head AS (
        |  SELECT source, n_chars FROM documents
        |  UNION ALL
        |  SELECT source, n_chars + 7 FROM documents WHERE doc_id % 53 = 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(1 AS BIGINT) AS a_published,
        |  CAST(0 AS BIGINT) AS b_published,
        |  CAST(1 AS BIGINT) AS abandoned_swept
        |FROM head GROUP BY source ORDER BY source""".stripMargin,
    // v1 reads WHOLE after the delete commit (sidecars are versioned);
    // head is the merge-on-read survivor set
    "q331_deletion_vectors" ->
      """SELECT 'v1' AS snap, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT 'head', source, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 43 <> 0 GROUP BY source
        |ORDER BY snap, source""".stripMargin,
    // the compacted files PLAIN-read to the survivor set; both flags are
    // deterministic (sidecars retired, plain == merge-on-read)
    "q332_dv_compaction" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(1 AS BIGINT) AS dv_retired,
        |  CAST(1 AS BIGINT) AS mor_equals_plain
        |FROM documents WHERE doc_id % 47 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    // pre-evolution rows carry NULL quality (null-filled by the reader,
    // never materialized); the scored batch carries its own
    "q330_schema_evolution" ->
      """WITH head AS (
        |  SELECT source, n_chars, CAST(NULL AS BIGINT) AS q FROM documents
        |  UNION ALL
        |  SELECT source, n_chars + 4, (n_chars + 4) * 1000 FROM documents
        |    WHERE doc_id % 31 = 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scored,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(COALESCE(SUM(q), 0) AS BIGINT) AS q_sum
        |FROM head GROUP BY source ORDER BY source""".stripMargin,
    // the oracle is the HEAD STATE (del %11, edit %23, add %29): hash
    // equality proves the replica, maintained from the feed alone,
    // converged to the lake
    "q326_cdc_apply" ->
      """WITH head AS (
        |  SELECT source, n_chars
        |    + CASE WHEN doc_id % 23 = 0 THEN 7 ELSE 0 END AS n_chars
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT source, n_chars + 4 FROM documents WHERE doc_id % 29 = 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM head GROUP BY source ORDER BY source""".stripMargin,
    // the oracle is the full head recompute (del %9, edit %16, add %27):
    // merged-with-retractions == rebuilt
    "q327_cdf_view_maintenance" ->
      """WITH head AS (
        |  SELECT source, n_chars
        |    + CASE WHEN doc_id % 16 = 0 THEN 7 ELSE 0 END AS n_chars
        |  FROM documents WHERE doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT source, n_chars + 4 FROM documents WHERE doc_id % 27 = 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM head GROUP BY source ORDER BY source""".stripMargin,
    // survivors conserved through expire+vacuum; the three flags are
    // deterministic literals (one version expired, every orphan aged out
    // and swept, the expired version unreadable)
    "q325_snapshot_retention" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(1 AS BIGINT) AS n_expired,
        |  CAST(1 AS BIGINT) AS all_swept,
        |  CAST(1 AS BIGINT) AS v1_unreadable
        |FROM documents WHERE doc_id % 5 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    // conservation: the compacted lake's audit equals the source
    // aggregate (file-count collapse asserted filesystem-side in spec)
    // conservation after the sweep (a vacuum that deleted live data, or a
    // manifest read leaking an orphan copy, breaks the counts) + the
    // deterministic 1-old/1-young orphan construction as literals
    "q309_vacuum_lake" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(1 AS BIGINT) AS n_swept, CAST(1 AS BIGINT) AS n_spared
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q256_compaction" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_total,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q250_takedown_delete" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_before,
        |  CAST(SUM(CASE WHEN doc_id % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted,
        |  CAST(COUNT(*) - SUM(CASE WHEN doc_id % 101 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q30_partitioned_write" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q31_ingest_parse" ->
      """SELECT CAST(ts AS DATE) AS d,
        |  CASE WHEN event_id % 2 = 0 THEN 'none' ELSE event_type END AS typ,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY d, typ""".stripMargin,
    "q32_csv_roundtrip" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  strftime(MIN(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS min_ts,
        |  strftime(MAX(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q33_xml_stations" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS station_id, n_name AS station_name,
        |  CAST(COUNT(c_custkey) AS BIGINT) AS n_customers
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY station_id""".stripMargin,
    "q34_grid_argmin" ->
      """WITH stations AS (SELECT CAST(n_nationkey AS BIGINT) AS station_id,
        |    CAST((n_nationkey * 37) % 180 - 90 AS DOUBLE) + 0.5 AS s_lat,
        |    CAST((n_nationkey * 73) % 360 - 180 AS DOUBLE) + 0.5 AS s_lon
        |  FROM nation),
        |grid AS (SELECT CAST(id AS INTEGER) AS grid_id,
        |    -90.0 + (id // 40) * 4.5 AS g_lat,
        |    -180.0 + (id % 40) * 9.0 AS g_lon
        |  FROM generate_series(0, 1599) t(id)),
        |d AS (SELECT station_id, grid_id,
        |    sqrt((g_lat - s_lat) * (g_lat - s_lat) + (g_lon - s_lon) * (g_lon - s_lon)) AS dist
        |  FROM grid CROSS JOIN stations),
        |r AS (SELECT station_id, grid_id, dist,
        |    row_number() OVER (PARTITION BY station_id ORDER BY dist ASC, grid_id ASC) AS rn
        |  FROM d)
        |SELECT station_id, grid_id, dist FROM r WHERE rn = 1 ORDER BY station_id""".stripMargin,
    "q35_sql_view" ->
      """SELECT n_name AS cust_nation, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY cust_nation, c_mktsegment""".stripMargin,
    "q62_bucketed_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q93_jsonl_roundtrip" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q94_orc_roundtrip" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // TRY_CAST mirrors Spark's PERMISSIVE from_json (a non-numeric k
    // becomes NULL on both sides); a plain CAST would hard-error the
    // oracle on fixture evolution instead of producing a clean mismatch
    "q78_json_extract" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(TRY_CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(MAX(TRY_CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS max_k,
        |  CAST(SUM(TRY_CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q79_corrupt_tolerant_parse" ->
      """WITH r AS (SELECT event_type,
        |    CASE WHEN event_id % 11 = 0 THEN substr(props, 1, 5) ELSE props END AS raw
        |  FROM events),
        |p AS (SELECT event_type,
        |    CASE WHEN json_valid(raw) THEN TRY_CAST(raw->>'$.k' AS INTEGER) END AS k
        |  FROM r)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(k) AS BIGINT) AS n_parsed,
        |  CAST(COUNT(*) - COUNT(k) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
