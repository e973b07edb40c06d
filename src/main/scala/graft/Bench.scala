package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Benchmark main — runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints a short stack of JSON lines ordered most-expendable-FIRST,
  * because the driver's artifact capture keeps only the output TAIL: the
  * full-detail line (raw trials, secondary sweep), then two compact
  * medians boards, then LAST the driver-contract line
  * (`"metric":"total"` whose "queries" field carries ONLY the top-10
  * slowest medians — the complete per-query board lives on the
  * "total_detail" and "medians_by_sorted_name" lines above) — the one
  * line the driver must parse, so it must fit any tail window whole. A failing query is reported in "errors" (name → message) and
  * excluded from the total instead of silently timing as ~0 s and
  * improving it.
  *
  * Standing-index modes: the durable Layouts registry (default
  * `$java.io.tmpdir/graft_warehouse`) lets a sweep ATTACH indexes built
  * by an earlier session with zero build jobs. To measure
  * BUILD-INCLUSIVE cost instead, point `SPARK_GRAFT_WAREHOUSE_DIR` at an
  * empty directory for the run (`SPARK_GRAFT_WAREHOUSE_DIR=$(mktemp -d)
  * sbt "runMain graft.Bench"`). Both modes are honest measurements of
  * different operating points — a recurring pipeline attaches, a cold
  * deployment builds — and a round's report should state which one a
  * number came from (SCALE.md records both).
  */
object Bench {

  /** Evaluate every output column, not just cardinality. `df.count()`
    * plans `Aggregate[count(1)]`, so ColumnPruning deletes projections and
    * aggregate expressions that don't affect row count — the bench then
    * skips exactly the work scalar/projection queries exist to measure
    * (q16 casts, q23 bit-votes, q27 text stats, q48 string funcs). Hashing
    * a struct of all columns forces each one to be computed while keeping
    * the driver-side result a single row (bit_xor, not sum: full-range
    * hash values overflow a long sum under ANSI mode).
    */
  private[graft] def evaluateAll(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()

  /** Unmeasured warmup, shared with RunOne so single-query timings stay
    * comparable to the sweep: session/codegen startup, then one aggregate
    * per fact table — first-parquet-scan codegen (vectorized reader +
    * hash-agg stages) is multi-second Janino work that otherwise lands
    * inside the first measured query touching that table, and the scan
    * also warms the OS page cache, so warming only SOME tables would skew
    * comparisons across query families. The warmed classes now stay
    * resident: GraftSession's codegen cache holds 1000 classes, not
    * Spark's default 100 that the next queries' classes soon pushed them
    * out of, and the scan classes every later query of a table reuses
    * stay among its recently used entries. */
  private[graft] def warmup(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).selectExpr("count(l_orderkey)").collect()
    Tables.events(spark, sfDir).selectExpr("count(event_id)").collect()
    Tables.documents(spark, sfDir).selectExpr("count(doc_id)").collect()
    Tables.embeddings(spark, sfDir).selectExpr("count(vec_id)").collect()
    Tables.orders(spark, sfDir).selectExpr("count(o_orderkey)").collect()
  }

  /** Middle element of the sorted trial times. Run-to-run variance on a
    * shared box is ±2x per query (measured: the same code totaled 61.7 and
    * 81.6 s on consecutive runs), so a single trial cannot support any
    * round-over-round comparison; the median of three is robust to one
    * outlier trial in either direction. */
  private[graft] def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    s(s.size / 2)
  }

  /** One full sweep at `sfDir`: every registered query, `nTrials` timed
    * end-to-end executions each. Returns (name → successful trial times)
    * plus one (name → message) per query with any failed trial. */
  private def sweep(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    nTrials: Int): (Seq[(String, Seq[Double])], List[(String, String)]) = {
    var errors = List.empty[(String, String)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // each trial re-invokes the builder (fresh logical plan — plan
      // construction, analysis, and optimization are part of the measured
      // cost) and re-executes end to end
      var firstErr = Option.empty[String]
      val trials = (1 to nTrials).flatMap { _ =>
        // reclaim broadcast/shuffle state from earlier queries so a full GC
        // doesn't land inside a later query's measured window
        System.gc()
        val t0 = System.nanoTime()
        try {
          evaluateAll(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            if (firstErr.isEmpty) firstErr = Some(msg)
            None
        }
      }
      // errors holds ONE entry per failing query (n_err counts queries, and
      // the JSON object keeps unique keys); a query with at least one good
      // trial still reports — its median is over the trials that ran, so a
      // single transient hiccup doesn't discard the survivors
      firstErr.foreach(msg => errors ::= (name -> msg))
      if (trials.nonEmpty) Some(name -> trials) else None
    }
    (results, errors.reverse)
  }

  /** The sweep's JSON fields shared by the primary and secondary scale
    * points. `n_trials_ok` reports how many trials each median actually
    * covers — a query that lost all but one trial to errors is visible as
    * a 1-trial survivor instead of masquerading as a healthy median. */
  private def sweepJson(results: Seq[(String, Seq[Double])],
                        errors: List[(String, String)], nTrials: Int,
                        sfDir: String): String = {
    val qs = JsonUtil.obj(results.map { case (k, ts) => k -> median(ts).toString })
    val trialsJson = JsonUtil.obj(results.map { case (k, ts) =>
      k -> ts.mkString("[", ",", "]")
    })
    val okJson = JsonUtil.obj(results.map { case (k, ts) => k -> ts.size.toString })
    val errJson = JsonUtil.obj(errors.map { case (k, v) => k -> JsonUtil.quote(v) })
    val total = results.map { case (_, ts) => median(ts) }.sum
    s""""value":$total,"unit":"sec","aggregation":"median","n_trials":$nTrials,""" +
      s""""queries":$qs,"trials":$trialsJson,"n_trials_ok":$okJson,""" +
      s""""n_ok":${results.size},"n_err":${errors.size},"errors":$errJson,"sf":"$sfDir""""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // clamp to >= 1: TRIALS=0 would sweep everything then crash median(Seq())
    val nTrials = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "3").toInt)
    val spark = GraftSession.getOrCreate()
    warmup(spark, sfDir)
    val (results, errors) = sweep(spark, sfDir, nTrials)
    // second scale point: a one-trial sweep at a smaller sf in the same
    // JSON line — two points expose super-linear queries (pass counts,
    // block-size effects) that a single sf cannot. Off when SF_DIR2 is set
    // empty or equals the primary.
    val sfDir2 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR2", "/root/testdata/sf0.01")
    // a broken secondary dir must NEVER cost the primary sweep's output
    // (the driver contract is the one JSON line) — any secondary failure
    // degrades to an error note inside the line, not a crash before it
    val sec = Option(sfDir2).filter(d => d.nonEmpty && d != sfDir).map { d =>
      scala.util.Try {
        warmup(spark, d)
        val n2 = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS2", "1").toInt)
        val (r2, e2) = sweep(spark, d, n2)
        (s""","secondary":{${sweepJson(r2, e2, n2, d)}}""",
         Some(r2.map { case (_, ts) => median(ts) }.sum))
      }.recover { case e =>
        (s""","secondary_error":${JsonUtil.quote(
          Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}""",
         Option.empty[Double])
      }.get
    }
    // full-detail line (raw trials, per-query trial counts, secondary
    // sweep) for forensic round-over-round analysis; may exceed capture
    println(s"""{"metric":"total_full",${sweepJson(results, errors, nTrials, sfDir)}${
      sec.map(_._1).getOrElse("")}}""")
    // The artifact keeps only the TAIL of this program's output, and the
    // full line above scales with query count x trial count x two sweeps
    // — round 7's artifact proved the failure mode by truncating the
    // PRIMARY totals out and leaving "parsed": null. This second,
    // few-hundred-byte line restates the headline facts compactly so any
    // tail window carries them; the primary total goes LAST so even a
    // mid-line cut keeps it readable.
    val primaryTotal = results.map { case (_, ts) => median(ts) }.sum
    // EVERY query's median at 3-decimal precision, under a metric name the
    // driver does NOT parse ("total_detail"): rounds 11–13 proved that any
    // line carrying all ~306 query medians is ~10 KB and cannot be the
    // LAST line, because the artifact keeps only the ~2 KB TAIL of output
    // and a head-truncated last line leaves "parsed": null. Forensics
    // keep full precision here; the driver-contract line at the bottom
    // stays a few hundred bytes so the tail always carries it whole.
    val qMedians = JsonUtil.obj(
      results.map { case (k, ts) => k -> f"${median(ts)}%.3f" })
    val errJson0 = JsonUtil.obj(errors.map { case (k, v) => k -> JsonUtil.quote(v) })
    println(s"""{"metric":"total_detail","value":${f"$primaryTotal%.3f"},"unit":"sec",""" +
      s""""aggregation":"median","n_trials":$nTrials,"queries":$qMedians,""" +
      s""""n_ok":${results.size},"n_err":${errors.size},"errors":$errJson0,""" +
      s""""sf":"$sfDir"}""")
    // EVERY query's median at 0.1 s precision (~2 KB): the compact line's
    // top-10 restored round-over-round triage for the slow tail, but
    // regression analysis of the other ~106 queries previously needed a
    // local re-run — this line puts the whole board in the artifact tail.
    // Kept separate from (and before) the final compact line so a tail
    // cut drops THIS line first and the headline totals last.
    val allMedians = JsonUtil.obj(
      results.map { case (k, ts) => k -> f"${median(ts)}%.1f" })
    println(s"""{"metric":"medians_compact","unit":"sec","sf":"$sfDir",""" +
      s""""queries":$allMedians}""")
    // The artifact tail can be as small as ~2000 chars — the NAMED
    // medians line above is ~4 KB at 183 queries, so round 9's artifact
    // truncated the early queries out. This line drops the names:
    // values align positionally with the SORTED registry names (the
    // same order CORRECTNESS_r*.json lists), "null" marks a query with
    // no surviving trial, and the whole board fits in ~1 KB — readable
    // from any tail window together with the final totals line below.
    val byName = results.toMap
    val sortedNames = SparkEntry.queries.keys.toSeq.sorted
    val medianArr = sortedNames
      .map(n => byName.get(n).map(ts => f"${median(ts)}%.1f").getOrElse("null"))
      .mkString("[", ",", "]")
    println(s"""{"metric":"medians_by_sorted_name","unit":"sec","sf":"$sfDir",""" +
      s""""n":${sortedNames.size},"values":$medianArr}""")
    // LAST line: the driver-contract JSON, and it must FIT the ~2 KB
    // artifact tail WHOLE. Three rounds of history: r11 printed the full
    // per-query line first (tail cut it), r12 moved it last (the line
    // itself outgrew the window at 267 queries), r13 same at 306 — the
    // driver has never parsed a bench artifact. So the final line carries
    // the headline totals plus ONLY the top-10 slowest as "queries"
    // (~500 bytes at any board size); the complete per-query board lives
    // on the "total_detail" and "medians_by_sorted_name" lines above,
    // ordered most-expendable-first so a tail cut drops them before this.
    val top10 = JsonUtil.obj(
      results.sortBy { case (_, ts) => -median(ts) }.take(10)
        .map { case (k, ts) => k -> f"${median(ts)}%.3f" })
    val secTotal = sec.flatMap(_._2)
      .map(t => s""""secondary_total":${f"$t%.3f"},""").getOrElse("")
    // errors stay on the final line only when few; a mass failure's
    // detail is on total_detail/total_full, and n_err still says so here
    val errTail = if (errors.size <= 3)
      s""""errors":${JsonUtil.obj(errors.map { case (k, v) =>
        k -> JsonUtil.quote(v.take(80)) })},"""
    else ""
    println(s"""{"metric":"total","value":${f"$primaryTotal%.3f"},"unit":"sec",""" +
      s""""aggregation":"median","n_trials":$nTrials,"queries":$top10,$secTotal""" +
      s""""n_queries":${(results.map(_._1) ++ errors.map(_._1)).distinct.size},$errTail""" +
      s""""n_ok":${results.size},"n_err":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
    // non-zero only when a query produced NO successful trial in the
    // PRIMARY sweep — a transient single-trial hiccup is reported in
    // "errors" but must not fail a sweep that still measured everything
    val hardFailures = errors.map(_._1).toSet -- results.map(_._1).toSet
    if (hardFailures.nonEmpty) sys.exit(1)
  }
}
