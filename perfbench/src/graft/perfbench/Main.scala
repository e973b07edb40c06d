package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.{GraftSession, JsonUtil}

/** The benchmark process: set-up, the timed rounds and the result line.
  * Launched by perfbench/run.py, which builds it, generates the inputs
  * and owns the run directory. */
object Main {

  final case class Args(workload: String, trace: Boolean, inputs: String, runDir: String,
                        cpus: Int, launchedAt: Double, genSeconds: Double, python: String,
                        oracle: String, traceOut: String, corruptOracle: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("trace") == "1", kv("inputs"), kv("run-dir"), kv("cpus").toInt,
      kv("launched-at").toDouble, kv("gen-seconds").toDouble, kv("python"), kv("oracle"),
      kv("trace-out"), kv("corrupt-oracle") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    launched = a.launchedAt
    val tracer = new Tracer
    tracer.enabled = a.trace
    val setupSpan = if (a.trace) tracer.open("setup", 0L) else 0L
    val manifest = Manifest.load(a.inputs)
    val oracle = new Oracle(a.python, a.oracle, a.corruptOracle)
    oracle.start(Workloads.oracleJobs(a.workload, manifest))

    val startSpan = if (a.trace) tracer.open("session.start", 0L) else 0L
    val spark = GraftSession.builder(a.cpus.toString)
      .config("spark.local.dir", Paths.get(a.runDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.runDir, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a.trace) tracer.close(startSpan)

    val h = new Harness(spark, a.cpus, tracer)
    val ctx = new Ctx(h, manifest, a.runDir, oracle)
    val workload: Workload = a.workload match {
      case "etl_monthly" => new EtlMonthly(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
    }

    phase("session ready")
    h.span("session.warmup")(spark.range(1000).selectExpr("sum(id)").collect())
    phase("warmup done")
    if (a.trace) tracer.close(setupSpan)
    // the rehearsals are set-up: no spans, so per-layer metrics cover the
    // traced round only
    tracer.enabled = false
    workload.prepare()
    phase("set-up done")
    val setupS = a.genSeconds + (nowSeconds() - a.launchedAt)

    // the timed work in rounds, each on its own inputs and fresh roots;
    // every end-to-end metric is the median over the rounds. A traced
    // run reports no end-to-end metric and times one untraced round.
    val rounds = (1 to (if (a.trace) 1 else manifest.long("rounds").toInt)).map { i =>
      val r = workload.timed(if (i == 1) "timed" else s"timed$i")
      phase(s"timed round $i done")
      r
    }
    val out =
      if (!a.trace) {
        ctx.compareWritten()
        phase("results compared")
        endToEnd(ctx, rounds, setupS)
      } else {
        // a traced run times one round more traced, then one more
        // untraced, each on its own copy of the inputs and fresh roots.
        // The tracing overhead compares the traced makespan with the mean
        // of the untraced rounds before and after it, which cancels the
        // process warming up further from one round to the next.
        tracer.enabled = true
        val probe = new Probe(() => tracer.current)
        spark.sparkContext.addSparkListener(probe)
        h.probe = Some(probe)
        val traced = workload.timed("traced")
        tracer.enabled = false
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        phase("traced round done")
        val untraced = (rounds.last.makespan + workload.timed("after").makespan) / 2
        phase("untraced round after it done")
        ctx.compareWritten()
        phase("results compared")
        Files.write(Paths.get(a.traceOut),
          tracer.spans.map(s => Trace.toJson(s, probe.total(Seq(s.id)))).asJava)
        perLayer(ctx, traced) ++ Seq(
          ("trace.untraced_makespan_s", untraced, "s"),
          ("trace.overhead_s", traced.makespan - untraced, "s"),
          ("trace.overhead_ratio", (traced.makespan - untraced) / untraced, "ratio"))
      }
    spark.stop()
    oracle.close()
    phase("stopped")

    h.errors.take(20).foreach(e => System.err.println(s"[perfbench] failed: $e"))
    println(JsonUtil.obj(Seq(
      "correct" -> (h.failed == 0).toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> metricsJson(out))))
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    JsonUtil.obj(ms.map { case (k, v, u) => k -> s"""{"value":${num(v)},"unit":${JsonUtil.quote(u)}}""" })

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${nowSeconds() - launched}%.3f s after launch")
  private var launched = 0.0

  private def nowSeconds(): Double = {
    val t = Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** The end-to-end metrics: each the median over the timed rounds of
    * its value in one round. */
  def endToEnd(ctx: Ctx, rounds: Seq[Section], setupS: Double): Seq[(String, Double, String)] = {
    def med(f: Section => Double) = Stats.median(rounds.map(f))
    def lat(s: Section) = s.ops.map(_.seconds)
    val tail = Stats.tail(lat(rounds.head))
    val failedRatio = ctx.h.failed.toDouble / math.max(1L, ctx.h.attempted)
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("makespan_s", med(_.makespan), "s"),
      ("op_p50_s", med(s => Stats.median(lat(s))), "s"),
      ("op_tail_s", med(s => Stats.tail(lat(s)).value), "s"),
      ("ops_per_s", med(s => s.ops.size / s.makespan), "1/s"),
      ("rows_per_s", med(s => ctx.m.long("input_rows") / s.makespan), "rows/s"),
      ("bootstrap_s", med(_.bootstrap), "s"),
      ("storage_amp", med(_.storageBytes.toDouble) / ctx.m.long("input_bytes"), "ratio"),
      ("peak_rss_mb", peakRssMb(), "MiB"))
    val reported = rounds.head.reported.map { case (k, _, u) =>
      (k, med(_.reported.find(_._1 == k).get._2), u)
    }
    // metrics of one workload only, and the failure ratio (zero when the
    // run is correct), go on a report line ahead of the result
    val report = metrics ++ reported ++ Seq(
      ("ops_failed_ratio", failedRatio, "ratio"),
      ("op_tail_percentile", tail.percentile, "%"),
      ("op_tail_beyond", tail.beyond.toDouble, "count"),
      ("ops_per_round", tail.n.toDouble, "count"),
      ("rounds", rounds.size.toDouble, "count"))
    println("[perfbench] report " + metricsJson(report))
    metrics
  }

  /** The per-layer metrics every workload reports (0 where a workload does
    * not call the layer). */
  def perLayer(ctx: Ctx, traced: Section): Seq[(String, Double, String)] = {
    val spans = ctx.h.tracer.spans
    val self = Trace.selfTimes(spans).withDefaultValue(0.0)
    val probe = ctx.h.probe.get
    def named(name: String) = spans.filter(_.name == name)
    def prefixed(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def counters(ss: Seq[Span]) = probe.total(ss.map(_.id))
    def wall(ss: Seq[Span]) = ss.map(_.seconds).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val f = ctx.facts
    val cpus = ctx.h.cpus

    val journeys = counters(named("etl.journeys"))
    val reads = counters(named("etl.warehouse.read"))
    val timed = counters(spans.filter(s => Trace.subtree(spans, traced.rootSpan)(s.id)))

    Seq(
      ("session.start_s", self("session.start"), "s"),
      ("session.warmup_s", self("session.warmup"), "s"),
      ("etl.setup.s", self("etl.setup"), "s"),
      ("etl.weather.s", self("etl.weather"), "s"),
      ("etl.weather.shuffle_bytes", counters(named("etl.weather")).shuffleWrite.toDouble, "bytes"),
      ("etl.journeys.s", self("etl.journeys"), "s"),
      ("etl.journeys.jobs", journeys.jobs.toDouble, "count"),
      ("etl.journeys.scan_amp", ratio(journeys.bytesRead, f("etl.journeys.input_bytes")), "ratio"),
      ("etl.journeys.shuffle_bytes", journeys.shuffleWrite.toDouble, "bytes"),
      ("etl.journeys.busy_ratio",
        ratio(journeys.runTimeMs / 1000.0, wall(named("etl.journeys")) * cpus), "ratio"),
      ("etl.warehouse.write_s", self("etl.warehouse.write"), "s"),
      ("etl.warehouse.bytes_out", f("etl.warehouse.bytes_out"), "bytes"),
      ("etl.warehouse.files_out", f("etl.warehouse.files_out"), "count"),
      ("etl.warehouse.files_per_partition",
        ratio(f("etl.warehouse.files_out"), f("etl.warehouse.partitions")), "count"),
      ("etl.warehouse.read_s", self("etl.warehouse.read"), "s"),
      ("etl.warehouse.pruned_read_ratio",
        ratio(reads.recordsRead, f("etl.warehouse.read.table_rows")), "ratio"),
      ("etl.view.create_s", self("etl.view.create"), "s"),
      ("etl.view.query_s", self("etl.view.query"), "s")) ++
      Registry.moduleNames.flatMap { m => Seq(
        (s"ops.$m.plan_s", self(s"ops.$m.plan"), "s"),
        (s"ops.$m.exec_s", self(s"ops.$m.exec"), "s"),
        (s"ops.$m.shuffle_bytes", counters(prefixed(s"ops.$m.")).shuffleWrite.toDouble, "bytes"))
      } ++ Seq(
      ("etl.layouts.bytes_built", f("etl.layouts.bytes_built"), "bytes"),
      ("etl.layouts.attach_bytes_written", f("etl.layouts.attach_bytes_written"), "bytes"),
      ("etl.layouts.attach_hit_ratio",
        ratio(f("etl.layouts.manifests_reused"), f("etl.layouts.manifests")), "ratio")) ++
      Seq("graft_dot", "graft_topk", "graft_kmv", "graft_minhashsig", "graft_hist")
        .map(n => (s"fn.$n.s", self(s"fn.$n"), "s")) ++ Seq(
      ("streaming.drain_s", self("streaming.drain"), "s"),
      ("streaming.batches", probe.streamBatches.toDouble, "count"),
      ("streaming.state_rows", probe.streamStateRows.toDouble, "count"),
      ("runtime.jobs", timed.jobs.toDouble, "count"),
      ("runtime.tasks", timed.tasks.toDouble, "count"),
      ("runtime.shuffle_write_bytes", timed.shuffleWrite.toDouble, "bytes"),
      ("runtime.spill_bytes", timed.spill.toDouble, "bytes"),
      ("runtime.gc_s", timed.gcMs / 1000.0, "s"),
      ("runtime.busy_ratio", ratio(timed.runTimeMs / 1000.0, traced.makespan * cpus), "ratio"),
      ("bench.op_s", self("bench.op"), "s"),
      ("bench.check_s", self("bench.check"), "s"),
      ("trace.makespan_s", traced.makespan, "s"))
  }
}
