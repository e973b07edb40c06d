package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, countDistinct, date_format, expr, lit}

import graft.{SparkEntry, Tables}
import graft.etl.{AnalyticsView, SetupDatabase, TransformJourneys, TransformWeather, Warehouse}
import graft.operators.{CorpusQueries, DedupQueries, SimilarityQueries, TextAnalysisQueries}
import Harness.failure

/** What one timed round measured. `storageBytes` is what the
  * workload's roots hold afterwards; `bootstrap` the cost of building the
  * workload's state from empty roots; `reported` metrics that apply to
  * this workload only (name, value, unit). */
final case class Section(makespan: Double, ops: Seq[OpSample], storageBytes: Long,
                         bootstrap: Double, reported: Seq[(String, Double, String)],
                         rootSpan: Long)

/** Shared state of one benchmark process. `facts` collects per-layer
  * quantities measured on disk or as denominators, only while tracing. */
final class Ctx(val h: Harness, val m: Manifest, val runDir: String, val oracle: Oracle) {
  val facts = mutable.Map[String, Double]().withDefaultValue(0.0)

  def fact(key: String, v: Double): Unit = if (h.tracer.enabled) facts(key) += v

  def fresh(tag: String, name: String): String = {
    val p = Paths.get(runDir, tag, name)
    Files.createDirectories(p)
    p.toString
  }

  /** (operation, twin, result dir) of the results written for the oracle. */
  private val written = mutable.ArrayBuffer[(String, String, String)]()

  /** Write the result of operation `op` as parquet, as graft.Verify does,
    * for comparison with its oracle twin `twin` once the timed rounds are
    * over (see [[compareWritten]]). */
  def toOracle(op: String, df: DataFrame, twin: String): Option[String] = {
    val dir = Paths.get(runDir, "results", written.size.toString).toString
    df.write.parquet(dir)
    written += ((op, twin, dir))
    None
  }

  /** Hash of each rehearsal result, by the name of its oracle twin. */
  private val reference = mutable.Map[String, Option[Long]]()

  /** The output check of an operation that returns its result and that
    * result's hash. In the rehearsal the result is written for the oracle
    * and its hash becomes the reference; every later run of the operation
    * must reproduce that hash. */
  def checkResult(rehearsal: Boolean, op: String, twin: String)
                 (out: (DataFrame, Option[Long])): Option[String] =
    if (rehearsal) {
      reference(twin) = out._2
      toOracle(op, out._1, twin)
    } else failure(reference.get(twin).contains(out._2),
      if (reference.contains(twin)) "result hash differs from the rehearsal" else "rehearsal failed")

  /** [[checkResult]] for an operation with several results, each given
    * with the name of its twin. */
  def checkResults(rehearsal: Boolean, op: String)
                  (outs: Seq[(String, DataFrame, Option[Long])]): Option[String] =
    outs.flatMap { case (twin, df, hash) => checkResult(rehearsal, op, twin)((df, hash)) }.headOption

  /** Compare every written result with its twin; a difference fails the
    * operation that wrote it. */
  def compareWritten(): Unit =
    written.foreach { case (op, twin, dir) => oracle.compare(twin, dir).foreach(h.fail(op, _)) }

  /** Record the files a warehouse holds, for the etl.warehouse metrics. */
  def warehouseFacts(wh: String): Unit = {
    val files = Disk.dataFiles(wh)
    fact("etl.warehouse.bytes_out", files.map(Files.size).sum.toDouble)
    fact("etl.warehouse.files_out", files.size.toDouble)
    fact("etl.warehouse.partitions", files.map(_.getParent).distinct.size.toDouble)
  }
}

/** A workload's set-up ends with untimed rehearsals of its timed work,
  * each on its own copy of the inputs: they load the classes, compile
  * the hot code and fill Spark's code-generation cache, so that the timed
  * rounds measure the program rather than the JVM warming up. The first
  * rehearsal's results are the ones checked against the oracle. */
trait Workload {
  /** Set-up after warmup: oracle twins and the rehearsals. */
  def prepare(): Unit
  /** One timed round, on fresh roots under `tag` and the inputs' copy for
    * `tag` (the inputs themselves when there is none). */
  def timed(tag: String): Section
}

object Workloads {
  /** DuckDB twins that need only the generated inputs, started before the
    * Spark session so they run while it comes up. */
  def oracleJobs(workload: String, m: Manifest): Seq[OracleJob] = workload match {
    case "etl_monthly" => EtlMonthly.oracleJobs(m)
    case "corpus_curation" => CorpusCuration.oracleJobs(m)
  }
}

object Registry {
  lazy val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    SparkEntry.queries
  lazy val oracles: Map[String, String] = SparkEntry.oracleSql
  private lazy val modules = Seq(
    "dedup" -> DedupQueries.queries.keySet, "similarity" -> SimilarityQueries.queries.keySet,
    "text" -> TextAnalysisQueries.queries.keySet, "corpus" -> CorpusQueries.queries.keySet)
  val moduleNames: Seq[String] = Seq("dedup", "similarity", "text", "corpus")
  def module(q: String): String = modules.find(_._2(q)).map(_._1).getOrElse("other")
}

/** The E1–E3 calls and the warehouse reads, with their output checks.
  * The checks keep the row counts the warehouse must hold, so each load
  * is checked against exactly what it added. */
final class EtlSteps(c: Ctx) {
  private val h = c.h
  private val spark = h.spark
  private def rows(p: String) = spark.read.parquet(p).count()
  /** Row count and distinct surrogate-key count of a table, in one job. */
  private def rowsAndIds(p: String): (Long, Long) = {
    val r = spark.read.parquet(p).agg(count(lit(1)), countDistinct(col("id"))).head()
    (r.getLong(0), r.getLong(1))
  }
  /** Rows the weather dimension holds after the last load. */
  var weatherRows = 0L
  private var journeyRows = 0L

  def setupDatabase(dir: String, wh: String): Unit =
    h.op("etl.setup")(h.span("etl.setup")(SetupDatabase.run(spark, dir, wh))) { _ =>
      val (n, d) = rowsAndIds(s"$wh/dim_timestamp")
      failure(n == 31L * 1440 && d == n, s"dim_timestamp has $n rows and $d distinct ids")
        .orElse(failure(rows(s"$wh/dim_locations") == 25, "dim_locations does not hold 25 stations"))
    }

  def weather(dir: String, added: Long, wh: String, firstRun: Boolean): Unit = {
    val want = (if (firstRun) 0L else weatherRows) + added
    h.op(if (firstRun) "etl.weather.first" else "etl.weather.append")(
      h.span("etl.weather")(TransformWeather.run(spark, dir, wh, firstRun))) { _ =>
      val (n, d) = rowsAndIds(s"$wh/dim_weather")
      weatherRows = n
      failure(n == want && d == n, s"dim_weather has $n rows ($d distinct ids), expected $want")
    }
  }

  def journeys(dir: String, added: Long, wh: String, firstRun: Boolean): Unit = {
    val want = (if (firstRun) 0L else journeyRows) + added
    c.fact("etl.journeys.input_bytes", Files.size(Paths.get(dir, "lineitem.parquet")).toDouble)
    h.op(if (firstRun) "etl.journeys.first" else "etl.journeys.append")(
      h.span("etl.journeys")(TransformJourneys.run(spark, dir, wh, firstRun))) { case (nr, nf) =>
      journeyRows = nf
      // J5: the load adds exactly one fact row (and one rental) per journey
      failure(nf == want && nr == want, s"load left $nf facts and $nr rentals, expected $want")
    }
  }

  /** Idempotent re-load of one month of the weather dimension. */
  def reloadWeather(dir: String, month: String, monthRows: Long, wh: String): Unit =
    h.op("etl.warehouse.upsert") {
      val dim = h.span("etl.weather")(TransformWeather.weatherDimension(spark, dir))
        .withColumn("ym", date_format(col("timestamp"), "yyyy-MM"))
      h.span("etl.warehouse.write")(Warehouse.upsertPartitions(dim, "ym", s"$wh/dim_weather"))
    } { _ =>
      val (n, d) = rowsAndIds(s"$wh/dim_weather")
      val part = Warehouse.readPartition(spark, s"$wh/dim_weather", "ym", month).count()
      failure(n == weatherRows && d == n && part == monthRows,
        s"re-load of $month changed dim_weather from $weatherRows to $n rows ($part in the month)")
    }

  /** A partition-pruned read of a table holding `tableRows` rows. */
  def readPartition(wh: String, table: String, partCol: String, value: String,
                    tableRows: Long): DataFrame = {
    c.fact("etl.warehouse.read.table_rows", tableRows.toDouble)
    h.span("etl.warehouse.read")(Warehouse.readPartition(spark, s"$wh/$table", partCol, value))
  }
}

/** One month of inputs; `copies` holds copies of `dir` for the sections
  * that must not share its per-directory caches, by section tag. */
final case class Slice(dir: String, copies: Map[String, String], journeys: Long, weather: Long,
                       month: String)

object EtlMonthly {
  def slices(m: Manifest): Vector[Slice] = m.node.get("slices").elements().asScala.map { n =>
    Slice(n.get("dir").asText(), Manifest.strings(n.get("copies")), n.get("journeys").asLong(),
      n.get("weather").asLong(), n.get("month").asText())
  }.toVector

  /** q36's twin over each appended month's events. */
  def oracleJobs(m: Manifest): Seq[OracleJob] =
    slices(m).tail.map(s => OracleJob(Map("events" -> s"${s.dir}/events.parquet"),
      Map(s"q36@${s.month}" -> Registry.oracles("q36_streaming_hourly"))))

  /** AnalyticsView's journey view as SQL over the warehouse tables. */
  private val journeyView =
    """SELECT f.rental_id, f.start_timestamp, f.end_timestamp,
      |  sl.name AS start_location_name, el.name AS end_location_name
      |FROM fact_journey f
      |LEFT JOIN dim_locations sl ON f.start_station_id = sl.id
      |LEFT JOIN dim_locations el ON f.end_station_id = el.id""".stripMargin

  /** The reference analytics over journey view `view` and rental table
    * `rental`, by name. */
  def analytics(view: String, rental: String, hour: Int): Seq[(String, String)] = Seq(
    "top_bike" -> s"""SELECT r.bike_id, count(*) AS n FROM $view v JOIN $rental r
                     |ON v.rental_id = r.id GROUP BY r.bike_id ORDER BY n DESC, r.bike_id LIMIT 1""".stripMargin,
    "top_destination" -> s"""SELECT end_location_name, count(*) AS n FROM $view
                            |GROUP BY end_location_name ORDER BY n DESC, end_location_name LIMIT 1""".stripMargin,
    "top_destination_in_hour" -> s"""SELECT end_location_name, count(*) AS n FROM $view
                                    |WHERE hour(start_timestamp) = $hour GROUP BY end_location_name
                                    |ORDER BY n DESC, end_location_name LIMIT 3""".stripMargin,
    "peak_hour" -> s"""SELECT hour(start_timestamp) AS h, count(*) AS n FROM $view
                      |GROUP BY hour(start_timestamp) ORDER BY n DESC, h LIMIT 1""".stripMargin,
    "moving_average_7d" -> s"""SELECT d, n, avg(n) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma
                              |FROM (SELECT CAST(start_timestamp AS DATE) AS d, count(*) AS n FROM $view
                              |GROUP BY CAST(start_timestamp AS DATE))""".stripMargin)

  /** The partition-pruned reads of the refresh after month `month`:
    * (table, partition column, value). */
  def reads(month: String, day: String): Seq[(String, String, String)] =
    Seq(("dim_timestamp", "day", day), ("dim_weather", "ym", month))

  /** DuckDB twins of the refresh after month `month`, over the files of
    * warehouse `wh` as they are at that point. */
  def refreshJob(wh: String, month: String, hour: Int, day: String): OracleJob = {
    val views = Seq("fact_journey", "dim_timestamp", "dim_weather").map(t => t -> s"$wh/$t/*/*.parquet") ++
      Seq("dim_rental", "dim_locations").map(t => t -> s"$wh/$t/*.parquet")
    OracleJob(views.toMap,
      analytics("v", "dim_rental", hour).map { case (n, sql) =>
        s"view:$n@$month" -> s"WITH v AS ($journeyView) $sql"
      }.toMap ++ reads(month, day).map { case (t, k, v) =>
        s"read:$t:$k=$v@$month" -> s"SELECT * FROM $t WHERE $k = '$v'"
      })
  }
}

/** Writes: the monthly ELT on a fresh warehouse, each month followed by
  * the dashboard refresh that reads it. */
final class EtlMonthly(c: Ctx) extends Workload {
  import EtlMonthly._
  private val h = c.h
  private val spark = h.spark
  private val slices = EtlMonthly.slices(c.m)
  private val hour = c.m.node.get("params").get("hour").asInt()
  private val day = c.m.node.get("params").get("day").asText()

  def prepare(): Unit = {
    c.oracle.await()
    load("rehearsal", rehearsal = true)
  }

  /** Bootstrap month 0, then per month slice the append forms of E2 and
    * E3, an idempotent re-load of the previous month, a drain of the
    * month's events and the dashboard refresh, on a fresh warehouse under
    * `tag` and the slices' copies for `tag` if they have one. Returns the
    * bootstrap's seconds, each month's and the warehouse. */
  private def load(tag: String, rehearsal: Boolean): (Double, Seq[Double], String) = {
    val slices = this.slices.map(s => s.copy(dir = s.copies.getOrElse(tag, s.dir)))
    val wh = c.fresh(tag, "warehouse")
    h.useLayoutRoot(c.fresh(tag, "layouts"))
    val steps = new EtlSteps(c)
    def since(i: Int) = h.samples.drop(i).map(_.seconds).sum
    val first = h.samples.size
    val s0 = slices.head
    steps.setupDatabase(s0.dir, wh)
    steps.weather(s0.dir, s0.weather, wh, firstRun = true)
    steps.journeys(s0.dir, s0.journeys, wh, firstRun = true)
    val bootstrap = since(first)
    val months = slices.indices.tail.map { m =>
      val (s, mark) = (slices(m), h.samples.size)
      steps.weather(s.dir, s.weather, wh, firstRun = false)
      steps.journeys(s.dir, s.journeys, wh, firstRun = false)
      val prev = slices(m - 1)
      steps.reloadWeather(prev.dir, prev.month, prev.weather, wh)
      h.op("streaming.drain")(h.span("streaming.drain") {
        val df = Registry.queries("q36_streaming_hourly")(spark, s.dir)
        (df, h.evaluate(df))
      })(c.checkResult(rehearsal, "streaming.drain", s"q36@${s.month}"))
      if (rehearsal) {
        c.oracle.start(Seq(refreshJob(wh, s.month, hour, day)))
        c.oracle.await()
      }
      refresh(steps, wh, s.month, rehearsal)
      since(mark)
    }
    (bootstrap, months, wh)
  }

  /** The dashboard refresh after loading `month`, as two operations: the
    * reference analytics through AnalyticsView, and partition-pruned
    * reads. */
  private def refresh(steps: EtlSteps, wh: String, month: String, rehearsal: Boolean): Unit = {
    h.op("etl.view") {
      h.span("etl.view.create")(AnalyticsView.create(spark, wh))
      h.span("etl.view.query") {
        spark.read.parquet(s"$wh/dim_rental").createOrReplaceTempView("perfbench_dim_rental")
        analytics(AnalyticsView.viewName, "perfbench_dim_rental", hour).map { case (n, sql) =>
          val df = spark.sql(sql)
          (s"view:$n@$month", df, h.evaluate(df))
        }
      }
    }(c.checkResults(rehearsal, "etl.view"))
    val tableRows = Map("dim_timestamp" -> 31L * 1440, "dim_weather" -> steps.weatherRows)
    h.op("etl.warehouse.read") {
      reads(month, day).map { case (t, k, v) =>
        val df = steps.readPartition(wh, t, k, v, tableRows(t))
        (s"read:$t:$k=$v@$month", df, h.span("etl.warehouse.read")(h.evaluate(df)))
      }
    }(c.checkResults(rehearsal, "etl.warehouse.read"))
  }

  def timed(tag: String): Section = {
    val first = h.samples.size
    var out = (0.0, Seq.empty[Double], "")
    val (wall, root) = h.section(tag) { out = load(tag, rehearsal = false) }
    val (bootstrap, months, wh) = out
    c.warehouseFacts(wh)
    Section(wall, h.samples.drop(first).toSeq, Disk.bytes(wh), bootstrap,
      Seq(("month_append_s", Stats.median(months), "s")), root)
  }
}

object CorpusCuration {
  val queries = Seq("q21_exact_dedup", "q22_minhash_lsh", "q28_fingerprint",
    "q25_cosine_topk", "q27_text_stats", "q101_kmv_distinct")

  private val hist = (0 until 16)
    .map(i => s"count(*) FILTER (WHERE least(greatest(n_chars // 50, 0), 15) = $i)")
    .mkString("[", ", ", "]")
  private val minhash = (0 until 4)
    .map(i => s"min(substring(md5(x) || md5('x' || x), ${i * 5 + 1}, 5))").mkString("[", ", ", "]")

  /** DuckDB twins of the direct graft_* calls. */
  val fnTwins: Seq[(String, String)] = Seq(
    ("graft_dot", """SELECT a.vec_id, list_reduce(list_transform(generate_series(1, len(a.embedding)),
         |  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS dot
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin),
    ("graft_topk", """SELECT lang, (list(struct_pack(k := n_chars, v := doc_id) ORDER BY n_chars, doc_id))[1:5] AS top
        |FROM documents GROUP BY lang""".stripMargin),
    ("graft_kmv", """SELECT lang, (list(h ORDER BY h))[1:16] AS sk FROM
        |(SELECT DISTINCT lang, (doc_id * 2654435761) % 4294967296 AS h FROM documents) GROUP BY lang""".stripMargin),
    ("graft_minhashsig", s"""SELECT doc_id, $minhash AS sig FROM
         |(SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents) GROUP BY doc_id""".stripMargin),
    ("graft_hist", s"SELECT lang, $hist AS hist FROM documents GROUP BY lang"))

  def oracleJobs(m: Manifest): Seq[OracleJob] = {
    val corpus = m.str("corpus")
    Seq(OracleJob(
      Map("documents" -> s"$corpus/documents.parquet", "embeddings" -> s"$corpus/embeddings.parquet"),
      queries.map(q => q -> Registry.oracles(q)).toMap ++
        fnTwins.map { case (n, sql) => s"fn:$n" -> sql }))
  }
}

/** The layout layer used once to build and then to attach. */
final class CorpusCuration(c: Ctx) extends Workload {
  import CorpusCuration._
  private val h = c.h
  private val spark = h.spark
  private val corpus = c.m.str("corpus")
  private val attachPasses = c.m.long("attach_passes").toInt

  /** Direct calls to the graft_* SQL functions over a corpus dir. */
  private val fnCalls: Map[String, String => DataFrame] = Map(
    "graft_dot" -> { dir =>
      val e = Tables.embeddings(spark, dir)
      e.as("a").join(e.as("b"), expr("b.vec_id = a.vec_id + 1")).selectExpr("a.vec_id AS vec_id",
        "graft_dot(cast(a.embedding AS array<double>), cast(b.embedding AS array<double>)) AS dot")
    },
    "graft_topk" -> (dir => Tables.documents(spark, dir).groupBy("lang")
      .agg(expr("graft_topk(n_chars, doc_id, 5)").as("top"))),
    "graft_kmv" -> (dir => Tables.documents(spark, dir).groupBy("lang")
      .agg(expr("graft_kmv(pmod(doc_id * 2654435761, 4294967296), 16)").as("sk"))),
    "graft_minhashsig" -> (dir => Tables.documents(spark, dir)
      .selectExpr("doc_id", "graft_minhashsig(split(text, ' '), 4) AS sig")),
    "graft_hist" -> (dir => Tables.documents(spark, dir).groupBy("lang")
      .agg(expr("graft_hist(n_chars div 50, 16)").as("hist"))))

  /** The corpus a section under `tag` reads: its own copy if it has one. */
  private def corpusFor(tag: String) = Manifest.strings(c.m.node.get("corpus_copies")).getOrElse(tag, corpus)

  /** A query over corpus `dir`; `first` marks the run whose result is
    * checked against the oracle (see [[Ctx.checkResult]]). */
  private def queryOp(kind: String, q: String, dir: String, first: Boolean): Unit =
    h.op(s"$kind:$q")(h.query(Registry.module(q), Registry.queries(q)(spark, dir)))(
      c.checkResult(first, s"$kind:$q", q))

  private def fnOp(n: String, dir: String, first: Boolean): Unit =
    h.op(s"fn:$n")(h.span(s"fn.$n") {
      val df = fnCalls(n)(dir)
      (df, h.evaluate(df))
    })(c.checkResult(first, s"fn:$n", s"fn:$n"))

  /** Each rehearsal builds the layouts on a throwaway root, makes the fn
    * calls and attaches once. */
  def prepare(): Unit = {
    c.oracle.await()
    Seq("rehearsal", "rehearsal2").foreach { tag =>
      h.useLayoutRoot(c.fresh(tag, "layouts"))
      val (dir, first) = (corpusFor(tag), tag == "rehearsal")
      queries.foreach(queryOp("build", _, dir, first))
      fnTwins.foreach { case (n, _) => fnOp(n, dir, first) }
      queries.foreach(queryOp("attach", _, dir, first = false))
    }
  }

  def timed(tag: String): Section = {
    val dir = corpusFor(tag)
    val root = c.fresh(tag, "layouts")
    h.useLayoutRoot(root)
    val first = h.samples.size
    var build = 0.0
    val attach = mutable.ArrayBuffer[Double]()
    var afterBuild = Map.empty[String, (Long, Long)]
    var manifests = Map.empty[String, String]
    def since(i: Int) = h.samples.drop(i).map(_.seconds).sum
    val (wall, rootSpan) = h.section(tag) {
      queries.foreach(queryOp("build", _, dir, first = false))
      build = since(first)
      afterBuild = Disk.listing(root)
      manifests = Disk.layoutManifests(root)
      fnTwins.foreach { case (n, _) => fnOp(n, dir, first = false) }
      (1 to attachPasses).foreach { _ =>
        val mark = h.samples.size
        queries.foreach(queryOp("attach", _, dir, first = false))
        attach += since(mark)
      }
    }
    val afterAttach = Disk.listing(root)
    val present = Disk.layoutManifests(root)
    c.fact("etl.layouts.bytes_built", afterBuild.values.map(_._1).sum.toDouble)
    c.fact("etl.layouts.attach_bytes_written", afterAttach.collect {
      case (p, (size, mtime)) if !afterBuild.get(p).contains((size, mtime)) => size
    }.sum.toDouble)
    c.fact("etl.layouts.manifests", present.size.toDouble)
    c.fact("etl.layouts.manifests_reused", present.count { case (p, text) => manifests.get(p).contains(text) }.toDouble)
    Section(wall, h.samples.drop(first).toSeq, Disk.bytes(root), build,
      Seq(("index_build_s", build, "s"), ("attach_pass_s", Stats.median(attach.toSeq), "s")), rootSpan)
  }
}
