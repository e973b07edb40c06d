package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** MODEL-BASED corpus quality filtering, trained IN-ENGINE — the
  * CCNet/fastText practice the corpus-quality family lacked: q27/q61/q75
  * SCORE documents against fixed heuristics; this family TRAINS a
  * discriminative classifier over those features with distributed batch
  * gradient descent and then applies it as a per-source keep/drop bill.
  *
  * The classifier is a hard-sigmoid logistic regression in FIXED-POINT
  * integer arithmetic — the quantized-training formulation — because the
  * engine's oracle-parity discipline demands bit-identical training on
  * two engines, and floating-point accumulation is order-dependent under
  * parallel aggregation. Every quantity is exact:
  *   - features are small integers (a bias of 10, a capped token count,
  *     a stopword per-cent, a distinct-token per-cent);
  *   - weights live at scale e6 (w_e6 = round(1e6 * w));
  *   - the activation is the hard sigmoid p = clamp(S/2 + m/4, 0, S)
  *     computed as LEAST(S, GREATEST(0, 2S + m) div 4) — the GREATEST
  *     runs BEFORE the division so the integer division only ever sees
  *     a non-negative operand (trunc == floor on both engines);
  *   - the gradient sum G_j = Σ (p - y·S)·x_j is an exact BIGINT sum
  *     (each term is bounded by S·100 = 1e8, so the sum is exact to
  *     ~9e10 documents — past that, widen to decimal(38,0) with the
  *     identical plan, the q187 discipline);
  *   - the update w -= floorDiv(G_j, 256·n) uses explicit FLOOR
  *     division — Math.floorDiv driver-side, the posmod identity
  *     (g - ((g % d) + d) % d) / d in SQL — because trunc-vs-floor on
  *     negative gradients is exactly the cross-engine trap.
  * Eight fixed iterations from zero weights; on the fixture the learned
  * filter reaches ~98% training accuracy against a 51% majority class.
  *
  * The label is weak supervision in the standard shape: the "quality"
  * side is defined by an independent signal (document length in chars,
  * the metadata column) and the model must learn it from TOKEN
  * statistics — exactly how a production filter learns "looks like the
  * reference corpus" from surface features.
  *
  * Scale shape (the part that matters at 100 TB): the per-iteration cost
  * is ONE map-side-combinable aggregate over the staged feature frame —
  * margins and hard-sigmoid evaluate inside the scan projection with
  * the current weights as literals, and the shuffle carries exactly 4
  * partial sums per partition. Features stage to parquet ONCE per
  * corpus (the q50 staged-loop discipline: the text processing runs one
  * time, the 8-pass loop rides a 5-column integer frame), keyed by
  * CorpusKey. The only driver-side values are the 5 aggregate scalars
  * per pass — the bounded premise-scalar idiom, never row data.
  * QualityFilterSpec proves the staged driver loop bit-equal to a
  * single unrolled pure-lineage replay, and the learned accuracy above
  * the majority baseline.
  */
object QualityFilterQueries {

  /** Weight scale: integer weights are e6-scaled reals. */
  private val S = 1000000L
  /** Learning-rate divisor: step = -G / (lrDiv * n). */
  private val lrDiv = 256L
  /** Fixed GD iterations (unrolled in the oracle's CTE chain). */
  private val iters = 8
  /** The q27-family English stopword probe set. */
  private[graft] val stopList = "'the','a','of','and','to','is','in','it'"

  /** The 4 integer features + label, one narrow codegen'd projection.
    * x0 bias (10 — same magnitude as the ratio features' steps), x1
    * capped token count, x2 stopword per-cent, x3 distinct-token
    * per-cent; y = 1 iff n_chars >= 300 (the weak-supervision label). */
  private[graft] def features(docs: DataFrame): DataFrame = docs.select(
    col("doc_id"),
    lit(10L).as("x0"),
    expr("cast(least(size(split(text, ' ')), 100) as bigint)").as("x1"),
    // numerators in BIGINT before the *100: size() is INT, and 100 * a
    // >21M-token doc would overflow 32 bits — x1 is capped, these are not
    expr(s"cast((100 * cast(size(filter(split(text, ' '), t -> t IN ($stopList))) as bigint))" +
      " div greatest(size(split(text, ' ')), 1) as bigint)").as("x2"),
    expr("cast((100 * cast(size(array_distinct(split(text, ' '))) as bigint))" +
      " div greatest(size(split(text, ' ')), 1) as bigint)").as("x3"),
    expr("cast(case when n_chars >= 300 then 1 else 0 end as bigint)").as("y"))

  /** Staged feature frame per corpus fingerprint, durable through the
    * Layouts registry — the text processing is the expensive pass; the
    * GD loop re-reads a 5-column integer parquet leaf. */
  private def stagedFeatures(s: SparkSession, dir: String): DataFrame = {
    val p = graft.etl.Layouts.stage(s, "qfeat", "v1", dir, Seq("documents")) { base =>
      features(Tables.documents(s, dir))
        .write.mode("overwrite").parquet(s"$base/feat")
      s"$base/feat"
    }
    s.read.parquet(p)
  }

  /** The hard-sigmoid activation over a margin expression, as SQL. */
  private def pExpr(m: String): String =
    s"least($S, greatest(0, ${2 * S} + ($m)) div 4)"

  private def marginExpr(w: IndexedSeq[String]): String =
    s"${w(0)}*x0 + ${w(1)}*x1 + ${w(2)}*x2 + ${w(3)}*x3"

  /** Distributed batch GD, driver-paced: one bounded 5-scalar aggregate
    * per pass over the (staged) feature frame; weights ride as literals
    * so each pass is a single codegen'd scan+agg job. Returns the final
    * e6-scaled weights and the example count. */
  private[graft] def train(feats: DataFrame): (Array[Long], Long) = {
    val w = Array(0L, 0L, 0L, 0L)
    var n = 0L
    for (_ <- 1 to iters) {
      val m = marginExpr(w.map(_.toString))
      val r = feats
        .withColumn("p", expr(pExpr(m)))
        .agg(count(lit(1)).as("n"),
          sum(expr(s"(p - y*$S) * x0")).as("g0"),
          sum(expr(s"(p - y*$S) * x1")).as("g1"),
          sum(expr(s"(p - y*$S) * x2")).as("g2"),
          sum(expr(s"(p - y*$S) * x3")).as("g3"))
        .head()
      n = r.getLong(0)
      val d = lrDiv * n
      var j = 0
      while (j < 4) { w(j) -= Math.floorDiv(r.getLong(j + 1), d); j += 1 }
    }
    (w, n)
  }

  /** Pure-lineage replay of [[train]] — the SAME arithmetic with the
    * weights as 1-row frames and the floor division as the posmod
    * identity, no driver scalar anywhere. Exists so QualityFilterSpec
    * can prove the staged loop == the unrolled composition (the q95
    * staged-vs-replay discipline); production code uses [[train]]. */
  private[graft] def trainUnrolled(feats: DataFrame): DataFrame = {
    var w: DataFrame = feats.agg(count(lit(1)).as("n")).select(
      lit(0L).as("a0"), lit(0L).as("a1"), lit(0L).as("a2"), lit(0L).as("a3"),
      col("n"))
    val d = s"($lrDiv * n)"
    for (_ <- 1 to iters) {
      val g = feats.crossJoin(broadcast(w))
        .withColumn("p", expr(pExpr("a0*x0 + a1*x1 + a2*x2 + a3*x3")))
        .agg(sum(expr(s"(p - y*$S) * x0")).as("g0"),
          sum(expr(s"(p - y*$S) * x1")).as("g1"),
          sum(expr(s"(p - y*$S) * x2")).as("g2"),
          sum(expr(s"(p - y*$S) * x3")).as("g3"),
          max("a0").as("a0"), max("a1").as("a1"),
          max("a2").as("a2"), max("a3").as("a3"), max("n").as("n"))
      w = g.select(
        expr(s"a0 - (g0 - ((g0 % $d) + $d) % $d) div $d").as("a0"),
        expr(s"a1 - (g1 - ((g1 % $d) + $d) % $d) div $d").as("a1"),
        expr(s"a2 - (g2 - ((g2 % $d) + $d) % $d) div $d").as("a2"),
        expr(s"a3 - (g3 - ((g3 % $d) + $d) % $d) div $d").as("a3"),
        col("n"))
    }
    w
  }

  /** Trained weights per corpus fingerprint per JVM — training is a
    * deterministic function of the corpus, shared by q205 and q206. The
    * staged features are a durable layout; the weights keep an
    * in-memory memo because each GD pass is a Spark job, unlike a
    * layout attach. */
  private val weightsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  private def trainedWeights(s: SparkSession, dir: String): Array[Long] =
    weightsCache.computeIfAbsent(
      graft.CorpusKey(dir, "documents.parquet"),
      _ => train(stagedFeatures(s, dir))._1)

  // ---------------------------------------------------------------- q205

  /** Train the quality filter and report the learned e6 weights plus
    * training accuracy (n_correct of n_docs under the decision rule
    * margin >= 0 — i.e. p >= 1/2). One row. */
  def q205TrainQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val w = trainedWeights(s, dir)
    val m = marginExpr(w.map(_.toString))
    stagedFeatures(s, dir)
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(expr(s"case when (($m) >= 0) = (y = 1) then 1 else 0 end"))
          .cast("bigint").as("n_correct"))
      .select(lit(w(0)).as("w0_e6"), lit(w(1)).as("w1_e6"),
        lit(w(2)).as("w2_e6"), lit(w(3)).as("w3_e6"),
        col("n_docs"), col("n_correct"))
  }

  // ---------------------------------------------------------------- q206

  /** Apply the trained filter as a per-source keep/drop bill — the q199
    * scorecard shape with a LEARNED policy: for each source, how many
    * documents the filter keeps (margin >= 0) and the e6-floored keep
    * share. The readout a corpus owner compares across crawls before
    * paying to ingest more of a source. Rides the cached weights and
    * the staged feature frame; one id equi-join for the source column,
    * one bounded per-source aggregate. */
  def q206QualityScorecard(s: SparkSession, dir: String): DataFrame = {
    val w = trainedWeights(s, dir)
    val m = marginExpr(w.map(_.toString))
    stagedFeatures(s, dir)
      .withColumn("keep", expr(s"case when ($m) >= 0 then 1 else 0 end"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("keep").cast("bigint").as("n_keep"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        floor(col("n_keep").cast("double") / col("n_docs").cast("double")
          * lit(1000000.0)).cast("bigint").as("keep_share_e6"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q233

  /** q233 — CALIBRATION audit of the trained quality filter (the
    * reliability-diagram readout, Guo et al. 2017: a score used as a
    * sampling weight or a threshold knob is only as good as its
    * calibration, so production curation audits predicted probability
    * against observed label rate before trusting the scores): bucket
    * the model's hard-sigmoid score p ∈ [0, S] into 10 fixed deciles
    * and report, per bucket, the support, the exact predicted-mass sum,
    * the positive count, and the calibration gap.
    *
    * Everything stays on the integer lattice the q205 trainer already
    * lives on: p IS an e6 integer, the bucket is least(9, p div S/10)
    * (the p = S boundary folds into the top decile), `sum_p_e6` and
    * `n_pos` are exact BIGINT sums, and `gap_e6` =
    * |sum_p − n_pos·S| div n is the exact per-bucket ECE numerator —
    * no float anywhere, so the audit is bit-identical cross-engine.
    * Cost: one codegen'd scan over the staged 5-column feature frame
    * with the cached weights as literals, one ≤10-group aggregate —
    * the same per-pass shape as a single GD iteration, trivially
    * map-side-combinable at any corpus size. */
  def q233CalibrationAudit(s: SparkSession, dir: String): DataFrame = {
    val w = trainedWeights(s, dir)
    val m = marginExpr(w.map(_.toString))
    stagedFeatures(s, dir)
      .withColumn("p", expr(pExpr(m)))
      .withColumn("bucket", expr(s"least(9L, p div ${S / 10})"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("p").cast("bigint").as("sum_p_e6"),
        sum("y").cast("bigint").as("n_pos"))
      .select(col("bucket").cast("bigint").as("bucket"), col("n_docs"),
        col("sum_p_e6"), col("n_pos"),
        expr(s"abs(sum_p_e6 - n_pos * $S) div n_docs").as("gap_e6"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q213

  /** Hashed-n-gram bucket count: 16 buckets addressed by the 8th hex
    * nibble of each gram's md5 — `conv` of ONE hex char, because
    * value_of_8_hex_window % 16 IS the window's last nibble, so both
    * engines read a single digit instead of parsing 8 (the q207
    * position family reduced to its cheapest exact form). */
  private val nB = 16

  /** fastText-shaped feature frame: token unigrams AND word bigrams
    * hash into [[nB]] shared buckets; x_j = grams landing in bucket j
    * (a bag-of-hashed-ngrams count vector), bias 10, same weak label.
    * All counts are exact small integers — the wider sibling of
    * [[features]], same lattice discipline. */
  private[graft] def ngramFeatures(docs: DataFrame): DataFrame = {
    def buckets(arr: String) =
      s"transform($arr, t -> cast(conv(substring(md5(t), 8, 1), 16, 10) as bigint))"
    // slice(toks, 1, 0) is the TYPED empty array — sequence(1, 0)
    // DESCENDS in Spark (the q157 trap), so 1-token docs need the guard
    val bigrams = "case when size(toks) >= 2 then " +
      "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i])) " +
      "else slice(toks, 1, 0) end"
    val base = docs.select(col("doc_id"),
        expr("split(text, ' ')").as("toks"),
        expr("cast(case when n_chars >= 300 then 1 else 0 end as bigint)").as("y"))
      .withColumn("hu", expr(buckets("toks")))
      .withColumn("hb", expr(buckets(bigrams)))
    val xs = (0 until nB).map(j => expr(
      s"cast(size(filter(hu, h -> h = $j)) + size(filter(hb, h -> h = $j)) as bigint)")
      .as(s"x$j"))
    base.select((col("doc_id") +: lit(10L).as("xb") +: xs) :+ col("y"): _*)
  }

  private def stagedNgramFeatures(s: SparkSession, dir: String): DataFrame = {
    val p = graft.etl.Layouts.stage(s, "qngfeat", "v1", dir, Seq("documents")) { base =>
      ngramFeatures(Tables.documents(s, dir))
        .write.mode("overwrite").parquet(s"$base/feat")
      s"$base/feat"
    }
    s.read.parquet(p)
  }

  private val q213Cols: IndexedSeq[String] = "xb" +: (0 until nB).map("x" + _)

  /** q213's own schedule: the 17-weight space moves ~1/4 as far per
    * pass per weight as q205's 4-weight space (gradient mass spreads
    * over the buckets), so the wider model takes larger steps for more
    * passes. Constants chosen by a fixture sweep; the oracle unrolls
    * the same schedule. */
  private val lrDiv13 = 128L
  private val iters13 = 24

  /** [[train]] generalized to an arbitrary feature width: identical
    * fixed-point arithmetic, one (1 + width)-scalar aggregate per pass. */
  private[graft] def trainWide(feats: DataFrame, cols: IndexedSeq[String],
                               lrDivW: Long, itersW: Int): (Array[Long], Long) = {
    val w = Array.fill(cols.size)(0L)
    var n = 0L
    for (_ <- 1 to itersW) {
      val m = cols.indices.map(j => s"${w(j)}*${cols(j)}").mkString(" + ")
      val aggs = cols.map(c => sum(expr(s"(p - y*$S) * $c")).as(s"g_$c"))
      val r = feats.withColumn("p", expr(pExpr(m)))
        .agg(count(lit(1)).as("n"), aggs: _*).head()
      n = r.getLong(0)
      val d = lrDivW * n
      var j = 0
      while (j < cols.size) { w(j) -= Math.floorDiv(r.getLong(j + 1), d); j += 1 }
    }
    (w, n)
  }

  private val ngramWeightsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  private def trainedNgramWeights(s: SparkSession, dir: String): Array[Long] =
    ngramWeightsCache.computeIfAbsent(
      graft.CorpusKey(dir, "documents.parquet"),
      _ => trainWide(stagedNgramFeatures(s, dir), q213Cols, lrDiv13, iters13)._1)

  /** q213 — the q205 classifier re-based on the HASHED N-GRAM feature
    * vector (the fastText bag-of-ngrams form): 17 learned weights over
    * bucket counts instead of 4 over hand features, trained by the
    * identical fixed-point GD loop (weights as literals, one wider
    * map-side-combinable aggregate per pass, bounded driver scalars).
    * Reports every learned e6 weight plus training accuracy, so the
    * whole weight vector sits under the oracle hash. Headroom: each
    * gradient term is <= S * x_j with x_j <= 2L (grams per doc), so the
    * BIGINT sums are exact to ~4.6e7 docs per 1e5-gram doc —
    * MomentHeadroomSpec's discipline, documented at the premise. */
  def q213NgramQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val w = trainedNgramWeights(s, dir)
    val m = q213Cols.indices.map(j => s"${w(j)}*${q213Cols(j)}").mkString(" + ")
    val wCols = lit(w(0)).as("wb_e6") +:
      (0 until nB).map(j => lit(w(j + 1)).as(s"w${j}_e6"))
    stagedNgramFeatures(s, dir)
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(expr(s"case when (($m) >= 0) = (y = 1) then 1 else 0 end"))
          .cast("bigint").as("n_correct"))
      .select(wCols ++ Seq(col("n_docs"), col("n_correct")): _*)
  }

  // ---------------------------------------------------------------- q215

  /** q215 — RULES-BASED quality gate audit (the Gopher/C4 practice:
    * Rae et al. 2021 §A.1.1, Raffel et al. 2020 §2.2): five hand
    * threshold rules evaluated per document, reported as a per-source
    * audit — how many documents each RULE rejects, how many pass ALL
    * rules, and the e6-floored pass share. The rules-based sibling of
    * the LEARNED filter (q205/q206): production pipelines run this gate
    * first and train the model on what survives.
    *
    * The five rules, all on the exact integer lattice (ratios are
    * integer per-cents via `div`, operands non-negative so trunc ==
    * floor in both engines):
    *   - word count within [25, 90] (too short = fragment, too long =
    *     concatenation artifact at fixture scale);
    *   - mean word length (x10) within [40, 52] — gibberish screens;
    *   - at least one stopword from the q27 probe set present (the
    *     Gopher "stop word" rule);
    *   - distinct-token share >= 40% (the repetition screen, q61's
    *     ratio as a hard gate);
    *   - max single-token share <= 12% (the "most common word" C4/
    *     Gopher screen; row-local max over the distinct-token counts).
    *
    * Scale shape: every rule evaluates inside one codegen'd scan
    * projection (row-local array ops, no explode — the per-doc token
    * array never leaves its row), then ONE map-side-combinable
    * aggregate on the bounded source key. No joins, one shuffle of
    * |sources| x 8 small integers. The max-share rule is O(distinct x
    * n) per row on a <=100-token fixture doc — bounded by the word-
    * count rule itself at production scale (docs past the cap fail r1
    * regardless, so the gate can short-circuit the expensive rule on
    * the capped prefix). */
  def q215RulesGate(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .select(col("source"), expr("split(text, ' ')").as("toks"))
      .select(col("source"),
        expr("cast(greatest(size(toks), 1) as bigint)").as("n"),
        expr("cast(aggregate(toks, 0L, (acc, x) -> acc + length(x)) as bigint)")
          .as("chars"),
        expr("cast(size(array_distinct(toks)) as bigint)").as("nd"),
        expr(s"cast(size(filter(array_distinct(toks), t -> t IN ($stopList))) as bigint)")
          .as("nstop"),
        // max token frequency as the longest run in the SORTED token
        // array — O(n log n) row-local instead of the O(n * n_distinct)
        // filter-per-distinct-token form (round-15; same exact value)
        expr("cast(aggregate(array_sort(toks), " +
          "named_struct('p', cast(null as string), 'r', 0L, 'b', 0L), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', if(a.p <=> x, a.r + 1L, 1L), " +
          "'b', greatest(a.b, if(a.p <=> x, a.r + 1L, 1L))), " +
          "a -> a.b) as bigint)").as("mf"))
      .select(col("source"),
        expr("case when n between 25 and 90 then 0 else 1 end").as("f_wc"),
        expr("case when (10 * chars) div n between 40 and 52 then 0 else 1 end")
          .as("f_mwl"),
        expr("case when nstop >= 1 then 0 else 1 end").as("f_stop"),
        expr("case when (100 * nd) div n >= 40 then 0 else 1 end").as("f_rep"),
        expr("case when (100 * mf) div n <= 12 then 0 else 1 end").as("f_top"))
    m.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("f_wc").cast("bigint").as("fail_wordcount"),
        sum("f_mwl").cast("bigint").as("fail_wordlen"),
        sum("f_stop").cast("bigint").as("fail_stopword"),
        sum("f_rep").cast("bigint").as("fail_repetition"),
        sum("f_top").cast("bigint").as("fail_topshare"),
        sum(expr("case when f_wc + f_mwl + f_stop + f_rep + f_top = 0 " +
          "then 1 else 0 end")).cast("bigint").as("n_pass"))
      .withColumn("pass_share_e6",
        expr("(1000000 * n_pass) div n_docs").cast("bigint"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q217

  /** q217 — DSIR importance scoring (Data Selection with Importance
    * Resampling, Xie et al. 2023): rank raw-corpus documents by how
    * much they look like a TARGET distribution, with both
    * distributions summarized as hashed-n-gram bucket frequencies.
    * Target here = the `lang = 'en'` slice (the "high-quality
    * reference corpus" stand-in); raw = the whole corpus. Per-bucket
    * importance lift_e6(b) = floor(1e6 * t_b * R / (r_b * T)) — the
    * likelihood ratio p_target(b) / p_raw(b) on the integer lattice
    * (DSIR's log-sum score is a product of per-gram ratios; ranking by
    * the count-weighted SUM of e6 lifts is the same monotone family
    * without transcendentals — the q66/q163 log-free discipline).
    * Output: the top-20 documents by importance score.
    *
    * Scale shape: bucket totals are TWO bounded aggregates over the
    * staged n-gram frame (16 partial sums each, map-side combined);
    * the 16 lifts are bounded premise scalars (independent of corpus
    * size — the q150/q207 idiom) that ride back into one codegen'd
    * scan projection as literals; the top-20 is
    * TakeOrderedAndProject. One equi-join for metadata, no other
    * shuffle. Headroom: 1e6 * t_b * R <= 1e6 * G^2 for G total grams —
    * exact to G ~ 3e6 in BIGINT (fixture G ~ 6e4); past that the lift
    * computation widens to decimal(38,0) with the identical plan (the
    * q187 discipline), and the per-doc score (<= max_lift * grams_per_
    * doc) stays comfortably in BIGINT. */
  def q217DsirImportance(s: SparkSession, dir: String): DataFrame = {
    val f = stagedNgramFeatures(s, dir)
    val meta = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val withMeta = f.join(meta, Seq("doc_id"))
    val sums = (0 until nB).map(j => sum(col(s"x$j")).as(s"s$j"))
    val raw = f.agg(sums.head, sums.tail: _*).head()
    val tgt = withMeta.filter(col("lang") === "en")
      .agg(sums.head, sums.tail: _*).head()
    val bigR = (0 until nB).map(raw.getLong).sum
    val bigT = (0 until nB).map(tgt.getLong).sum
    // Long division truncates; every operand is non-negative, so this
    // is floor — the same value DuckDB's // produces
    val lift = (0 until nB).map { j =>
      (1000000L * tgt.getLong(j) * bigR) /
        math.max(raw.getLong(j) * bigT, 1L)
    }
    val scoreExpr = (0 until nB).map(j => s"${lift(j)}L * x$j").mkString(" + ")
    val gramsExpr = (0 until nB).map("x" + _).mkString(" + ")
    withMeta.select(col("doc_id"), col("lang"), col("source"),
        expr(s"cast($gramsExpr as bigint)").as("n_grams"),
        expr(s"cast($scoreExpr as bigint)").as("dsir_score_e6"))
      .orderBy(desc("dsir_score_e6"), asc("doc_id")).limit(20)
  }

  // ---------------------------------------------------------------- q230

  /** q230 — FILTER-ENSEMBLE agreement audit: the three independent
    * quality filters the board trains or hand-tunes — the five-rule
    * Gopher/C4 gate (q215), the unigram-LM score against the corpus
    * mean (q75's lattice), and the duplicated-trigram gate (q61's
    * ratio as a hard cut) — evaluated per DOCUMENT and cross-tabulated
    * per source: how often each passes, how often all three agree, and
    * every pairwise agreement count. This is the ensemble step a
    * production curation pipeline runs before composing filters (a
    * filter that never disagrees with another is redundant; one that
    * always disagrees is measuring something else), re-expressed as
    * one exact-integer audit.
    *
    * Verdict arithmetic, all exact: the rules verdict is q215's five
    * integer-per-cent cuts; the repetition verdict is q61's trigram
    * gate via 5·(n_grams − n_distinct) ≤ n_grams (docs under 3 tokens
    * pass — no gram is computable); the LM verdict compares each
    * doc's e12 token-probability mass against the corpus mean by
    * decimal(38,0) cross-multiply — spq·ΣN ≥ Σspq·n — so no division
    * ever happens. Σspq and ΣN are BOUNDED DRIVER SCALARS (two values,
    * the q150/q208 idiom), folded into the predicate as literals.
    *
    * Scale shape: one row-local codegen'd scan for rules + repetition
    * (token arrays never leave their row), q75's tokenize → vocab join
    * → per-doc regroup for the LM mass (the join carries scaling keys;
    * the vocab side partial-aggregates map-side), one doc_id equi-join
    * to combine, one bounded groupBy on source. */
  def q230FilterEnsemble(s: SparkSession, dir: String): DataFrame = {
    ensembleVerdicts(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("v_rules").cast("bigint").as("n_pass_rules"),
        sum("v_lm").cast("bigint").as("n_pass_lm"),
        sum("v_rep").cast("bigint").as("n_pass_rep"),
        sum(expr("v_rules * v_lm * v_rep")).cast("bigint").as("n_pass_all"),
        sum(expr("case when v_rules = v_lm then 1 else 0 end")).cast("bigint")
          .as("n_agree_rules_lm"),
        sum(expr("case when v_rules = v_rep then 1 else 0 end")).cast("bigint")
          .as("n_agree_rules_rep"),
        sum(expr("case when v_lm = v_rep then 1 else 0 end")).cast("bigint")
          .as("n_agree_lm_rep"),
        sum(expr("case when v_rules = v_lm and v_lm = v_rep then 1 else 0 end"))
          .as("n_unanimous"))
      .withColumn("unanimous_share_e6",
        expr("(1000000 * n_unanimous) div n_docs").cast("bigint"))
      .drop("n_unanimous")
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q243

  /** Shrinkage strength: pseudo-document count pulled from the global
    * prior (the empirical-Bayes m; a source with n ≪ m reads as the
    * prior, one with n ≫ m as its own rate). */
  private val priorM = 20L

  /** q243 — EMPIRICAL-BAYES source prior: each source's q215 pass rate
    * shrunk toward the global rate by a pseudo-count prior —
    * shrunk = (k + m·K/N) / (n + m) — the standard fix for ranking
    * sources by quality when per-source support varies by orders of
    * magnitude (a 3-document source with 3 passes must NOT outrank a
    * 10k-document source at 92%; raw-rate ranking does exactly that).
    * This is the per-DOMAIN quality prior a crawl curation pipeline
    * maintains between runs (domains are sources at web scale).
    *
    * All arithmetic exact: shrunk_e6 = floor(1e6·(k·N + m·K) /
    * (N·(n + m))) over BIGINTs — one rational per source, operands
    * non-negative so trunc == floor in both engines. Headroom: the
    * numerator bound is 1e6·(k·N + m·K) ≤ 1e6·(N² + 20·N²) = 21e6·N²
    * (the m=20 pseudo-count term included) — int64-exact to
    * N ~ 6.6e5 documents; past that the numerator widens to
    * decimal(38,0) with the identical plan (the q187 discipline;
    * MomentHeadroomSpec pins exactly this 21e6·N² bound).
    *
    * Scale shape: one row-local codegen'd scan evaluates the five-rule
    * verdict (q215's projection — token arrays never leave their row),
    * ONE map-side-combinable aggregate on the bounded source key, and
    * the global (K, N) rides in as a broadcast single row (the q163
    * totals idiom — 2 scalars, not a data-sized side). Zero other
    * shuffles. */
  def q243SourcePrior(s: SparkSession, dir: String): DataFrame = {
    val verdicts = Tables.documents(s, dir)
      .select(col("source"), expr("split(text, ' ')").as("toks"))
      .select(col("source"),
        expr("cast(greatest(size(toks), 1) as bigint)").as("n"),
        expr("cast(aggregate(toks, 0L, (acc, x) -> acc + length(x)) as bigint)")
          .as("chars"),
        expr("cast(size(array_distinct(toks)) as bigint)").as("nd"),
        expr(s"cast(size(filter(array_distinct(toks), t -> t IN ($stopList))) as bigint)")
          .as("nstop"),
        // max token frequency as the longest run in the SORTED token
        // array — O(n log n) row-local instead of the O(n * n_distinct)
        // filter-per-distinct-token form (round-15; same exact value)
        expr("cast(aggregate(array_sort(toks), " +
          "named_struct('p', cast(null as string), 'r', 0L, 'b', 0L), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', if(a.p <=> x, a.r + 1L, 1L), " +
          "'b', greatest(a.b, if(a.p <=> x, a.r + 1L, 1L))), " +
          "a -> a.b) as bigint)").as("mf"))
      .select(col("source"),
        expr("case when n between 25 and 90 and (10 * chars) div n between 40 and 52 " +
          "and nstop >= 1 and (100 * nd) div n >= 40 and (100 * mf) div n <= 12 " +
          "then 1L else 0L end").as("pass"))
    val perSource = verdicts.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("pass").cast("bigint").as("n_pass"))
    val global = perSource
      .agg(sum("n_docs").cast("bigint").as("big_n"),
        sum("n_pass").cast("bigint").as("big_k"))
    // denominators guarded with greatest(·,1) (the q258 discipline): on a
    // degenerate input Spark's `div` yields NULL where DuckDB's `//`
    // RAISES — the guard makes both engines agree on the zero answer
    // instead of diverging in failure mode. No-op when big_n >= 1.
    perSource.crossJoin(broadcast(global))
      .select(col("source"), col("n_docs"), col("n_pass"),
        expr("(1000000 * n_pass) div greatest(n_docs, 1)").cast("bigint")
          .as("raw_e6"),
        expr("(1000000 * big_k) div greatest(big_n, 1)").cast("bigint")
          .as("prior_e6"),
        expr(s"(1000000 * (n_pass * big_n + $priorM * big_k)) div " +
          s"greatest(big_n * (n_docs + $priorM), 1)").cast("bigint")
          .as("shrunk_e6"))
      .orderBy(desc("shrunk_e6"), asc("source"))
  }

  // ---------------------------------------------------------------- q286

  /** q286 — MULTIPLICATIVE-WEIGHTS DOMAIN REWEIGHTING (the DoReMi
    * shape, Xie et al. 2023, on the integer lattice): domains whose
    * documents fail the q215 quality gate more often are the "high
    * excess loss" domains a robust-optimization pass UP-weights so the
    * next mixture spends more capacity on them. Three multiplicative
    * rounds, fully unrolled and fixed-point: w₀ = 1e6, w_{k+1} =
    * ⌊w_k·(1e6 + fail_e6)/1e6⌋ — every round a BIGINT multiply and one
    * floor division, so the whole ladder is engine-exact (the honest
    * caveat is in the name: the loss proxy is the rules-gate failure
    * share, not a proxy/reference model loss pair — the UPDATE RULE is
    * DoReMi's, the loss is q215's). Output per source: the natural
    * document share, the loss, the three weight rungs, and the final
    * renormalized mixture share.
    *
    * Scale shape: one corpus scan into the bounded per-source verdict
    * rollup (the q243 chain); the MW ladder and renormalization run
    * entirely on |sources| summary rows with one broadcast 1-row
    * total. Headroom: fail ≤ 1e6 so w₃ ≤ 8e6 and 1e6·w₃ ≤ 8e12. */
  def q286MixtureReweight(s: SparkSession, dir: String): DataFrame = {
    val verdicts = Tables.documents(s, dir)
      .select(col("source"), expr("split(text, ' ')").as("toks"))
      .select(col("source"),
        expr("cast(greatest(size(toks), 1) as bigint)").as("n"),
        expr("cast(aggregate(toks, 0L, (acc, x) -> acc + length(x)) as bigint)")
          .as("chars"),
        expr("cast(size(array_distinct(toks)) as bigint)").as("nd"),
        expr(s"cast(size(filter(array_distinct(toks), t -> t IN ($stopList))) as bigint)")
          .as("nstop"),
        // max token frequency as the longest run in the SORTED token
        // array — O(n log n) row-local instead of the O(n * n_distinct)
        // filter-per-distinct-token form (round-15; same exact value)
        expr("cast(aggregate(array_sort(toks), " +
          "named_struct('p', cast(null as string), 'r', 0L, 'b', 0L), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', if(a.p <=> x, a.r + 1L, 1L), " +
          "'b', greatest(a.b, if(a.p <=> x, a.r + 1L, 1L))), " +
          "a -> a.b) as bigint)").as("mf"))
      .select(col("source"),
        expr("case when n between 25 and 90 and (10 * chars) div n between 40 and 52 " +
          "and nstop >= 1 and (100 * nd) div n >= 40 and (100 * mf) div n <= 12 " +
          "then 1L else 0L end").as("pass"))
    val perSource = verdicts.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("pass").cast("bigint").as("n_pass"))
      .withColumn("fail_e6",
        expr("(1000000 * (n_docs - n_pass)) div greatest(n_docs, 1)")
          .cast("bigint"))
      .withColumn("w1_e6", expr("1000000 + fail_e6").cast("bigint"))
      .withColumn("w2_e6",
        expr("(w1_e6 * (1000000 + fail_e6)) div 1000000").cast("bigint"))
      .withColumn("w3_e6",
        expr("(w2_e6 * (1000000 + fail_e6)) div 1000000").cast("bigint"))
    val tot = perSource
      .agg(sum("n_docs").cast("bigint").as("big_n"),
        sum("w3_e6").cast("bigint").as("tw"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("(1000000 * n_docs) div greatest(big_n, 1)").cast("bigint")
          .as("nat_share_e6"),
        col("fail_e6"), col("w1_e6"), col("w2_e6"), col("w3_e6"),
        expr("(1000000 * w3_e6) div greatest(tw, 1)").cast("bigint")
          .as("share_e6"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q291

  /** q291 — GATE ABLATION: which of q215's five rules is BINDING?
    * Per source and rule, the pass count with that one rule removed —
    * the leave-one-out ladder every rules-gate tuning session walks
    * (a rule whose removal barely moves the pass rate is redundant
    * with the others; one that releases 20% of a source is that
    * source's binding constraint and the first threshold to revisit).
    * The marginal m_<rule> = pass-without-rule − pass-with-all counts
    * exactly the documents blocked ONLY by that rule.
    *
    * Scale shape: the identical q215 row-local verdict projection
    * (one corpus scan, codegen'd), six conditional sums in ONE bounded
    * source rollup — the ablation costs nothing beyond q215 itself. */
  def q291GateAblation(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .select(col("source"), expr("split(text, ' ')").as("toks"))
      .select(col("source"),
        expr("cast(greatest(size(toks), 1) as bigint)").as("n"),
        expr("cast(aggregate(toks, 0L, (acc, x) -> acc + length(x)) as bigint)")
          .as("chars"),
        expr("cast(size(array_distinct(toks)) as bigint)").as("nd"),
        expr(s"cast(size(filter(array_distinct(toks), t -> t IN ($stopList))) as bigint)")
          .as("nstop"),
        // max token frequency as the longest run in the SORTED token
        // array — O(n log n) row-local instead of the O(n * n_distinct)
        // filter-per-distinct-token form (round-15; same exact value)
        expr("cast(aggregate(array_sort(toks), " +
          "named_struct('p', cast(null as string), 'r', 0L, 'b', 0L), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', if(a.p <=> x, a.r + 1L, 1L), " +
          "'b', greatest(a.b, if(a.p <=> x, a.r + 1L, 1L))), " +
          "a -> a.b) as bigint)").as("mf"))
      .select(col("source"),
        expr("case when n between 25 and 90 then 0 else 1 end").as("f_wc"),
        expr("case when (10 * chars) div n between 40 and 52 then 0 else 1 end")
          .as("f_mwl"),
        expr("case when nstop >= 1 then 0 else 1 end").as("f_stop"),
        expr("case when (100 * nd) div n >= 40 then 0 else 1 end").as("f_rep"),
        expr("case when (100 * mf) div n <= 12 then 0 else 1 end").as("f_top"))
    m.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(expr("case when f_wc + f_mwl + f_stop + f_rep + f_top = 0 " +
          "then 1 else 0 end")).cast("bigint").as("n_pass"),
        sum(expr("case when f_mwl + f_stop + f_rep + f_top = 0 " +
          "then 1 else 0 end")).cast("bigint").as("p_wo_wc"),
        sum(expr("case when f_wc + f_stop + f_rep + f_top = 0 " +
          "then 1 else 0 end")).cast("bigint").as("p_wo_mwl"),
        sum(expr("case when f_wc + f_mwl + f_rep + f_top = 0 " +
          "then 1 else 0 end")).cast("bigint").as("p_wo_stop"),
        sum(expr("case when f_wc + f_mwl + f_stop + f_top = 0 " +
          "then 1 else 0 end")).cast("bigint").as("p_wo_rep"),
        sum(expr("case when f_wc + f_mwl + f_stop + f_rep = 0 " +
          "then 1 else 0 end")).cast("bigint").as("p_wo_top"))
      .select(col("source"), col("n_docs"), col("n_pass"),
        expr("p_wo_wc - n_pass").cast("bigint").as("m_wordcount"),
        expr("p_wo_mwl - n_pass").cast("bigint").as("m_wordlen"),
        expr("p_wo_stop - n_pass").cast("bigint").as("m_stopword"),
        expr("p_wo_rep - n_pass").cast("bigint").as("m_repetition"),
        expr("p_wo_top - n_pass").cast("bigint").as("m_topshare"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q258

  /** q258 — CLASSIFIER EVALUATION: the trained quality filter's
    * confusion cells and per-source precision / recall / F1 / accuracy
    * against its weak label — the eval table any learned gate ships
    * with (q205 reports one global accuracy; a filter with 99%
    * accuracy on the head source and 40% recall on a tail source is a
    * mixture bug this table surfaces and that number hides).
    *
    * All exact: the confusion cells are four product sums of {0,1}
    * columns; precision = tp/(tp+fp), recall = tp/(tp+fn),
    * F1 = 2tp/(2tp+fp+fn), accuracy = (tp+tn)/n — each one e6-floored
    * BIGINT rational with GREATEST(·,1) guarding empty denominators
    * (a source with no predicted positives reads precision 0, not an
    * error).
    *
    * Scale shape: the margin evaluates over the STAGED integer feature
    * frame (a parquet leaf — no text reprocessing, no q244-style heavy
    * expression to inline), one doc_id equi-join for the source
    * column, one bounded source rollup. */
  def q258ClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val w = trainedWeights(s, dir)
    val m = marginExpr(w.map(_.toString))
    val meta = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    stagedFeatures(s, dir).join(meta, Seq("doc_id"))
      .select(col("source"),
        expr(s"case when ($m) >= 0 then 1L else 0L end").as("pred"), col("y"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(expr("pred * y")).cast("bigint").as("tp"),
        sum(expr("pred * (1 - y)")).cast("bigint").as("fp"),
        sum(expr("(1 - pred) * y")).cast("bigint").as("fn"),
        sum(expr("(1 - pred) * (1 - y)")).cast("bigint").as("tn"))
      .select(col("source"), col("n_docs"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        expr("(1000000 * tp) div greatest(tp + fp, 1)").cast("bigint")
          .as("precision_e6"),
        expr("(1000000 * tp) div greatest(tp + fn, 1)").cast("bigint")
          .as("recall_e6"),
        expr("(2000000 * tp) div greatest(2 * tp + fp + fn, 1)").cast("bigint")
          .as("f1_e6"),
        expr("(1000000 * (tp + tn)) div n_docs").cast("bigint")
          .as("accuracy_e6"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q254

  /** q254 — QUALITY-WEIGHTED MIXTURE quotas: a 1,000,000-token training
    * budget allocated across sources in proportion to their shrunk
    * quality prior (q243's empirical-Bayes rate), with the allocation
    * made EXACT by q153's largest-remainder arithmetic — Σ quotas ==
    * budget as an integer identity, no float drift, engine-identical
    * tie-breaks ((remainder DESC, source ASC), a total order). This is
    * the step between scoring sources and building the corpus: the
    * mixture table a sampler (q69/q108's machinery) consumes.
    *
    * Scale shape: q243's aggregates (one scan, one bounded source
    * rollup, a broadcast 1-row global), then the proration windows run
    * over the |sources| SUMMARY rows — the bounded-summary exemption
    * StragglerGuard encodes; no document-level window exists. */
  def q254QualityMixture(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val weights = q243SourcePrior(s, dir).select("source", "n_docs", "shrunk_e6")
    val w = Window.partitionBy(lit(1))
    val wRank = Window.partitionBy(lit(1)).orderBy(desc("rem"), asc("source"))
    weights
      .withColumn("wsum", sum("shrunk_e6").over(w))
      // greatest(wsum,1): if EVERY source's shrunk prior is 0, Spark's
      // `div` would yield NULL quotas while DuckDB's `//` raises — the
      // guard makes both engines emit the all-zero allocation (the q258
      // denominator discipline). No-op whenever any source passes.
      .withColumn("base", expr(s"($budget * shrunk_e6) div greatest(wsum, 1)"))
      .withColumn("rem", expr(s"($budget * shrunk_e6) % greatest(wsum, 1)"))
      .withColumn("leftover", lit(budget) - sum("base").over(w))
      .withColumn("quota_tokens",
        col("base") + when(row_number().over(wRank) <= col("leftover"), 1L)
          .otherwise(0L))
      .select(col("source"), col("n_docs"), col("shrunk_e6"),
        col("quota_tokens").cast("bigint").as("quota_tokens"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q244

  /** q244 — PAIRWISE COHEN'S KAPPA between the three quality gates
    * (rules/LM/repetition — q230's verdict triple): chance-corrected
    * agreement, the statistic that separates "these filters agree
    * because they measure the same thing" from "they agree because
    * both pass almost everything". Raw agreement (q230's n_agree_*)
    * saturates when base rates are extreme; kappa is what the ensemble
    * design decision actually needs.
    *
    * Exact arithmetic: with the 2×2 table (a=both pass, b=first only,
    * c=second only, d=both fail), kappa = (n(a+d) − X) / (n² − X)
    * where X = (a+b)(a+c) + (c+d)(b+d). Numerator can be NEGATIVE
    * (worse-than-chance agreement), and Spark's `div` truncates toward
    * zero while DuckDB's `//` floors — so the e6 readout divides
    * magnitudes only: kappa_e6 = sign(num)·((1e6·|num|) div den), both
    * engines seeing non-negative operands. Headroom: 1e6·n² — exact to
    * n ~ 3e6 documents, decimal(38,0) past that (the q243/q187 note).
    *
    * Scale shape: the verdict frame is q230's (one row-local scan for
    * rules+repetition, q75's vocab join for the LM mass, one doc_id
    * equi-join), COLLAPSED FIRST to the 8-cell (v_rules, v_lm, v_rep)
    * contingency cube — one map-side-combinable count — so every heavy
    * verdict expression evaluates exactly ONCE per row; the 13 pair
    * sums then assemble from the 8 bounded cells. (The first cut
    * summed 13 products straight off the verdict frame: CollapseProject
    * inlined the full rules/repetition CASE chains into EACH sum — the
    * q97 optimizer trap — and measured 25.5 s at sf0.1 vs q230's 2.4 s
    * over the same frame. The cube form is ~2 s.) */
  def q244FilterKappa(s: SparkSession, dir: String): DataFrame = {
    val cells = ensembleVerdicts(s, dir)
      .groupBy("v_rules", "v_lm", "v_rep")
      .agg(count(lit(1)).cast("bigint").as("cnt"))
    val g = cells.agg(
      sum("cnt").cast("bigint").as("n"),
      sum(expr("v_rules * v_lm * cnt")).cast("bigint").as("a_rl"),
      sum(expr("v_rules * (1 - v_lm) * cnt")).cast("bigint").as("b_rl"),
      sum(expr("(1 - v_rules) * v_lm * cnt")).cast("bigint").as("c_rl"),
      sum(expr("(1 - v_rules) * (1 - v_lm) * cnt")).cast("bigint").as("d_rl"),
      sum(expr("v_rules * v_rep * cnt")).cast("bigint").as("a_rr"),
      sum(expr("v_rules * (1 - v_rep) * cnt")).cast("bigint").as("b_rr"),
      sum(expr("(1 - v_rules) * v_rep * cnt")).cast("bigint").as("c_rr"),
      sum(expr("(1 - v_rules) * (1 - v_rep) * cnt")).cast("bigint").as("d_rr"),
      sum(expr("v_lm * v_rep * cnt")).cast("bigint").as("a_lr"),
      sum(expr("v_lm * (1 - v_rep) * cnt")).cast("bigint").as("b_lr"),
      sum(expr("(1 - v_lm) * v_rep * cnt")).cast("bigint").as("c_lr"),
      sum(expr("(1 - v_lm) * (1 - v_rep) * cnt")).cast("bigint").as("d_lr"))
    g.selectExpr("n",
        "stack(3, 'rules_lm', a_rl, b_rl, c_rl, d_rl, " +
          "'rules_rep', a_rr, b_rr, c_rr, d_rr, " +
          "'lm_rep', a_lr, b_lr, c_lr, d_lr) as (pair, a, b, c, d)")
      .select(col("pair"), col("n"),
        col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"),
        col("c").cast("bigint").as("c"), col("d").cast("bigint").as("d"),
        expr("(1000000 * (a + d)) div n").cast("bigint").as("po_e6"),
        expr("((a + b) * (a + c) + (c + d) * (b + d))").as("x"))
      .select(col("pair"), col("n"), col("a"), col("b"), col("c"), col("d"),
        col("po_e6"),
        expr("(1000000 * x) div (n * n)").cast("bigint").as("pe_e6"),
        expr("case when n * (a + d) - x >= 0 " +
          "then (1000000 * (n * (a + d) - x)) div greatest(n * n - x, 1) " +
          "else -((1000000 * (x - n * (a + d))) div greatest(n * n - x, 1)) end")
          .cast("bigint").as("kappa_e6"))
      .orderBy("pair")
  }

  /** Quantization of each token's LM probability (integer picounits). */
  private val unigramLmScale = "1e12"

  /** The unigram-LM standing layout: `counts` = the corpus token
    * vocabulary with frequencies, `perdoc` = each document's
    * (n_tokens, quantized LM mass) under it — both pure corpus
    * functions, durable per documents fingerprint (the bigram-LM
    * sidecar idiom). */
  private def unigramLmBase(s: SparkSession, dir: String): String =
    graft.etl.Layouts.stage(s, "unigramlm", s"v1;scale=$unigramLmScale", dir,
      Seq("documents")) { base =>
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
      tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$base/counts")
      val counts = s.read.parquet(s"$base/counts")
      val totalV = counts.agg(sum("cnt")).first().getLong(0)
      tok.join(counts, Seq("tok"))
        .withColumn("pq", expr(
          s"cast(floor(cast(cnt as double) / cast($totalV as double) * $unigramLmScale) as bigint)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("pq").as("spq"))
        .write.mode("overwrite").parquet(s"$base/perdoc")
      base
    }

  /** The per-document verdict triple shared by q230 (cross-tab) and
    * q244 (kappa): v_rules / v_rep from one row-local scan, v_lm from
    * q75's vocab-join mass against the corpus mean. */
  private def ensembleVerdicts(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"), col("source"),
        expr("cast(greatest(size(toks), 1) as bigint)").as("n"),
        expr("cast(aggregate(toks, 0L, (acc, x) -> acc + length(x)) as bigint)")
          .as("chars"),
        expr("cast(size(array_distinct(toks)) as bigint)").as("nd"),
        expr(s"cast(size(filter(array_distinct(toks), t -> t IN ($stopList))) as bigint)")
          .as("nstop"),
        // max token frequency as the longest run in the SORTED token
        // array — O(n log n) row-local instead of the O(n * n_distinct)
        // filter-per-distinct-token form (round-15; same exact value)
        expr("cast(aggregate(array_sort(toks), " +
          "named_struct('p', cast(null as string), 'r', 0L, 'b', 0L), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', if(a.p <=> x, a.r + 1L, 1L), " +
          "'b', greatest(a.b, if(a.p <=> x, a.r + 1L, 1L))), " +
          "a -> a.b) as bigint)").as("mf"),
        expr("cast(size(toks) - 2 as bigint)").as("ng"),
        // graft_shingles returns [] under 3 tokens where the HOF's
        // greatest(...) pad built one partial shingle — unobservable:
        // v_rep's `ng < 1` branch decides those docs before ndg is read
        expr("cast(size(array_distinct(graft_shingles(toks, 3))) as bigint)").as("ndg"))
      .select(col("doc_id"), col("source"),
        expr("case when n between 25 and 90 and (10 * chars) div n between 40 and 52 " +
          "and nstop >= 1 and (100 * nd) div n >= 40 and (100 * mf) div n <= 12 " +
          "then 1 else 0 end").as("v_rules"),
        expr("case when ng < 1 then 1 when 5 * (ng - ndg) <= ng then 1 else 0 end")
          .as("v_rep"))
    // Round-15 optimization (cut-branch staging): the LM-mass chain has
    // two driver scalars (totalV, the corpus mean) plus the final plan —
    // left lazy, the corpus explode ran 3x, the token-count shuffle 3x
    // and the tok⋈counts join 2x. Staging counts and perDoc makes the
    // scalar reads leaf aggregates and the final plan a leaf join.
    // Round-16: both frames are pure corpus functions (the unigram
    // vocabulary and each document's mass under it — the bigram-LM
    // sidecar precedent), so they moved from per-invocation staging to
    // ONE durable Layouts entry; the verdict logic, scalar reads and
    // cross-tab/kappa readouts still run per invocation. Shared by q230
    // and q244.
    val base = unigramLmBase(s, dir)
    val perDoc = s.read.parquet(s"$base/perdoc")
    val t = perDoc.agg(sum(col("spq").cast("decimal(38,0)")), sum("n_tokens")).first()
    val (sspq, sn) = (t.getDecimal(0).toBigInteger, t.getLong(1))
    val lm = perDoc.select(col("doc_id"),
      expr(s"case when cast(spq as decimal(38,0)) * $sn >= " +
        s"cast('$sspq' as decimal(38,0)) * n_tokens then 1 else 0 end").as("v_lm"))
    flags.join(lm, Seq("doc_id"))
  }

  // ---------------------------------------------------------------- q270

  /** q270 — RULES-BASED MAIN-CONTENT EXTRACTION gate (the jusText /
    * readability boilerplate strip, Pomikálek 2011: every crawl
    * pipeline runs this BEFORE the q215/q230 document-level quality
    * gates — nav bars and footers would otherwise poison the
    * document's own statistics). The fixture text has no page
    * structure, so — the q60 observability idiom — each document is
    * framed as a deterministic synthetic page IDENTICALLY in both
    * engines: a doc_id-derived nav header block, the real text cut
    * into 12-token content blocks, and a short footer block. Three
    * row-local block rules, all on the integer lattice:
    *   - SHORT: fewer than 6 tokens (the jusText length floor — kills
    *     the footer and stub tails);
    *   - LINKY: link-token share > 20%, where a link token bears a
    *     digit or an `http` prefix (the link-density proxy — kills
    *     the nav header);
    *   - NO-STOP: zero tokens from the q27 stopword probe set (the
    *     jusText stopword-density screen; on the synthetic vocabulary
    *     this also drops stopword-free genuine chunks — the audit
    *     measures exactly that retention cost).
    * A block is CONTENT iff no rule fires; rule counters are reported
    * independently (a block can be both linky and stopword-free).
    * Per source: block/rule tallies, retained vs total words, the
    * e6-floored retention share, and how many documents lost ALL
    * their blocks.
    *
    * Scale shape: the q215 contract — every block rule evaluates
    * inside one codegen'd scan projection (row-local array lambdas;
    * blocks never leave their row, no explode), then ONE map-side-
    * combinable aggregate on the bounded source key. The repeated
    * `blocks` references collapse into the same projection
    * (CollapseProject inlines the construction per consumer; each is
    * an O(page-length) array op, so the row stays O(tokens) total).
    * Denominators: every block has ≥ 1 token (slice bounds), every
    * doc ≥ 2 blocks, so the div lattice never sees zero. */
  def q270ContentExtraction(s: SparkSession, dir: String): DataFrame = {
    val header = "split(concat('nav menu login search home page', " +
      "cast(doc_id % 100 as string), ' id', cast(doc_id % 7 as string), " +
      "' sitemap httpwww', cast(doc_id % 13 as string)), ' ')"
    val footer = "split(concat('copyright 2024 terms privacy', " +
      "cast(doc_id % 10 as string)), ' ')"
    // Round-16: the seven rule projections used to be independent
    // interpreted HOFs, and CollapseProject inlined the O(page) blocks
    // construction into EACH — seven block builds + seven lambda
    // traversals (an rlike per token) per row. graft_blockaudit walks
    // one blocks array once in a compiled loop under the identical rule
    // lattice (BlockAuditSpec pins HOF == native branch by branch);
    // measured at sf0.1: 1.08 s → see OPTIMIZATION_r16.md.
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("source"), expr(
        s"graft_blockaudit(concat(array($header), " +
          "transform(sequence(0, (size(toks) - 1) div 12), " +
          s"i -> slice(toks, i * 12 + 1, 12)), array($footer)), " +
          s"array($stopList))").as("a"))
      .select(col("source"), col("a.b_all").as("b_all"),
        col("a.b_short").as("b_short"), col("a.b_link").as("b_link"),
        col("a.b_nostop").as("b_nostop"), col("a.b_content").as("b_content"),
        col("a.w_kept").as("w_kept"), col("a.w_all").as("w_all"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("b_all").cast("bigint").as("n_blocks"),
        sum("b_short").cast("bigint").as("n_short"),
        sum("b_link").cast("bigint").as("n_link"),
        sum("b_nostop").cast("bigint").as("n_nostop"),
        sum("b_content").cast("bigint").as("n_content"),
        sum("w_kept").cast("bigint").as("retained_words"),
        sum("w_all").cast("bigint").as("total_words"),
        sum(expr("case when b_content = 0 then 1 else 0 end"))
          .cast("bigint").as("n_docs_all_boiler"))
      .withColumn("retention_e6",
        expr("(1000000 * retained_words) div total_words").cast("bigint"))
      .orderBy("source")
  }

  /** q298 — COST-AWARE GATE-CASCADE ORDERING: given three independent
    * row-local quality gates (the q27/q215 rule family: length floor,
    * stopword floor, token-shape band), measure their joint pass counts in
    * ONE aggregate pass and rank all 3! evaluation orders by exact
    * expected work — rows examined = N + |pass first| + |pass first two|,
    * the short-circuit cost model a filter cascade optimizer uses
    * (cheapest-most-selective-first, cf. predicate ordering in any
    * cost-based optimizer). A 100 TB curation run evaluates its gate
    * cascade in corpus order; putting the most selective gate first is
    * the difference between one and three effective corpus passes.
    *
    * Scale shape: one corpus scan collapsing into a single 7-counter
    * aggregate row (map-side partial combine); the 6 orderings are a
    * bounded stack over that row. No shuffle carries anything but the
    * counter row. */
  def q298CascadeOrdering(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables.documents(s, dir)
      .withColumn("toks", expr("split(text, ' ')"))
      .withColumn("n", expr("size(toks)"))
      .withColumn("hits", expr(
        "size(filter(toks, t -> t = 'the' or t = 'a' or t = 'of' or t = 'and' or t = 'to'))"))
      .withColumn("chars", expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))
      .select(
        expr("case when n >= 20 then 1L else 0L end").as("g1"),
        expr("case when 20 * hits >= n then 1L else 0L end").as("g2"),
        expr("case when 3 * n <= chars and chars <= 8 * n then 1L else 0L end").as("g3"))
    val counters = flags.agg(
      count(lit(1)).as("n"),
      sum("g1").as("p1"), sum("g2").as("p2"), sum("g3").as("p3"),
      sum(expr("g1 * g2")).as("p12"), sum(expr("g1 * g3")).as("p13"),
      sum(expr("g2 * g3")).as("p23"))
    val w = Window.orderBy(asc("rows_examined"), asc("ordering"))
    counters.selectExpr(
      "stack(6, " +
        "'g1>g2>g3', n + p1 + p12, 'g1>g3>g2', n + p1 + p13, " +
        "'g2>g1>g3', n + p2 + p12, 'g2>g3>g1', n + p2 + p23, " +
        "'g3>g1>g2', n + p3 + p13, 'g3>g2>g1', n + p3 + p23) " +
        "as (ordering, rows_examined)")
      .withColumn("rank", row_number().over(w))
      .select(col("ordering"), col("rows_examined").cast("bigint").as("rows_examined"),
        col("rank").cast("int").as("rank"))
      .orderBy("rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q298_cascade_ordering" -> (q298CascadeOrdering _),
    "q270_content_extraction" -> (q270ContentExtraction _),
    "q233_calibration_audit" -> (q233CalibrationAudit _),
    "q205_train_quality_filter" -> (q205TrainQualityFilter _),
    "q206_quality_scorecard" -> (q206QualityScorecard _),
    "q213_ngram_quality_filter" -> (q213NgramQualityFilter _),
    "q215_rules_gate" -> (q215RulesGate _),
    "q217_dsir_importance" -> (q217DsirImportance _),
    "q230_filter_ensemble" -> (q230FilterEnsemble _),
    "q243_source_prior" -> (q243SourcePrior _),
    "q244_filter_kappa" -> (q244FilterKappa _),
    "q254_quality_mixture" -> (q254QualityMixture _),
    "q258_classifier_eval" -> (q258ClassifierEval _),
    "q286_mixture_reweight" -> (q286MixtureReweight _),
    "q291_gate_ablation" -> (q291GateAblation _),
  )

  // ------------------------------------------------------------- oracles

  /** The q243 per-source pass-rate chain ending at
    * `ps(source, n_docs, n_pass)` + the global `g(big_n, big_k)` —
    * shared by the q243 prior and the q254 mixture allocation. */
  private lazy val sourcePriorCtes: String =
    s"""t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |m AS (SELECT source,
       |    CAST(GREATEST(len(toks), 1) AS BIGINT) AS n,
       |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS chars,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
       |    CAST(len(list_filter(list_distinct(toks),
       |        t -> t IN ($stopList))) AS BIGINT) AS nstop,
       |    CAST(list_max(list_transform(list_distinct(toks),
       |        t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS mf
       |  FROM t),
       |v AS (SELECT source,
       |    CASE WHEN n BETWEEN 25 AND 90
       |      AND (10 * chars) // n BETWEEN 40 AND 52
       |      AND nstop >= 1 AND (100 * nd) // n >= 40
       |      AND (100 * mf) // n <= 12 THEN 1 ELSE 0 END AS pass
       |  FROM m),
       |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(pass) AS BIGINT) AS n_pass
       |  FROM v GROUP BY source),
       |g AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS big_n,
       |    CAST(SUM(n_pass) AS BIGINT) AS big_k FROM ps)""".stripMargin

  /** The shared verdict-triple CTE chain (q230's construction), ending
    * at `v(source, v_rules, v_rep, v_lm)` — consumed by the q230
    * cross-tab and the q244 kappa assembly. */
  private val ensembleVerdictCtes =
    s"""tq AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |    FROM documents),
       |m AS (SELECT doc_id, source,
       |    CAST(GREATEST(len(toks), 1) AS BIGINT) AS n,
       |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS chars,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
       |    CAST(len(list_filter(list_distinct(toks),
       |        t -> t IN ($stopList))) AS BIGINT) AS nstop,
       |    CAST(list_max(list_transform(list_distinct(toks),
       |        t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS mf,
       |    CAST(len(toks) - 2 AS BIGINT) AS ng,
       |    CAST(len(list_distinct(list_transform(
       |        generate_series(1, GREATEST(len(toks) - 2, 1)),
       |        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS BIGINT)
       |      AS ndg
       |  FROM tq),
       |flags AS (SELECT doc_id, source,
       |    CASE WHEN n BETWEEN 25 AND 90
       |      AND (10 * chars) // n BETWEEN 40 AND 52
       |      AND nstop >= 1 AND (100 * nd) // n >= 40
       |      AND (100 * mf) // n <= 12 THEN 1 ELSE 0 END AS v_rules,
       |    CASE WHEN ng < 1 THEN 1 WHEN 5 * (ng - ndg) <= ng THEN 1 ELSE 0 END
       |      AS v_rep
       |  FROM m),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
       |tt AS (SELECT SUM(cnt) AS total FROM c),
       |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    SUM(CAST(FLOOR(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) * 1e12)
       |      AS BIGINT)) AS spq
       |  FROM tok JOIN c USING (tok) CROSS JOIN tt GROUP BY doc_id),
       |ts AS (SELECT SUM(spq) AS sspq, SUM(n_tokens) AS sn FROM pd),
       |lm AS (SELECT doc_id,
       |    CASE WHEN spq * ts.sn >= ts.sspq * n_tokens THEN 1 ELSE 0 END AS v_lm
       |  FROM pd CROSS JOIN ts),
       |v AS (SELECT f.source, f.v_rules, f.v_rep, lm.v_lm
       |  FROM flags f JOIN lm USING (doc_id))""".stripMargin

  /** The feature CTE — the identical projection in DuckDB list syntax. */
  private val fCte =
    s"""f AS MATERIALIZED (SELECT doc_id,
       |    CAST(10 AS BIGINT) AS x0,
       |    CAST(LEAST(len(string_split(text, ' ')), 100) AS BIGINT) AS x1,
       |    CAST((100 * len(list_filter(string_split(text, ' '),
       |        t -> t IN ($stopList))))
       |      // GREATEST(len(string_split(text, ' ')), 1) AS BIGINT) AS x2,
       |    CAST((100 * len(list_distinct(string_split(text, ' '))))
       |      // GREATEST(len(string_split(text, ' ')), 1) AS BIGINT) AS x3,
       |    CAST(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS BIGINT) AS y
       |  FROM documents)""".stripMargin

  /** The unrolled 8-iteration training chain: w0 (zeros) then per
    * iteration one gradient aggregate gk and one update wk — the same
    * integer ops, the posmod floor division, non-negative operands for
    * every `//`. */
  private def trainCtes: String = {
    val w0 = s"""w0 AS (SELECT CAST(0 AS BIGINT) AS a0, CAST(0 AS BIGINT) AS a1,
                |    CAST(0 AS BIGINT) AS a2, CAST(0 AS BIGINT) AS a3,
                |    (SELECT COUNT(*) FROM f) AS n)""".stripMargin
    val its = (1 to iters).map { k =>
      val d = "(256 * n)"
      s"""g$k AS MATERIALIZED (SELECT
         |    CAST(SUM((p - y*$S) * x0) AS BIGINT) AS g0,
         |    CAST(SUM((p - y*$S) * x1) AS BIGINT) AS g1,
         |    CAST(SUM((p - y*$S) * x2) AS BIGINT) AS g2,
         |    CAST(SUM((p - y*$S) * x3) AS BIGINT) AS g3,
         |    MAX(a0) AS a0, MAX(a1) AS a1, MAX(a2) AS a2, MAX(a3) AS a3,
         |    MAX(n) AS n
         |  FROM (SELECT f.*, w.a0, w.a1, w.a2, w.a3, w.n,
         |      LEAST($S, GREATEST(0, ${2 * S}
         |        + (w.a0*x0 + w.a1*x1 + w.a2*x2 + w.a3*x3)) // 4) AS p
         |    FROM f, w${k - 1} w) z),
         |w$k AS MATERIALIZED (SELECT
         |    a0 - (g0 - ((g0 % $d) + $d) % $d) // $d AS a0,
         |    a1 - (g1 - ((g1 % $d) + $d) % $d) // $d AS a1,
         |    a2 - (g2 - ((g2 % $d) + $d) % $d) // $d AS a2,
         |    a3 - (g3 - ((g3 % $d) + $d) % $d) // $d AS a3,
         |    n
         |  FROM g$k)""".stripMargin
    }
    (w0 +: its).mkString(",\n")
  }

  /** q213's feature CTE: the identical hashed-gram buckets in DuckDB
    * list syntax (strpos nibble read == Spark's 1-char conv). */
  private val fCte13: String = {
    val xs = (0 until nB).map(j =>
      s"    CAST(len(list_filter(hu, h -> h = $j)) + len(list_filter(hb, h -> h = $j)) AS BIGINT) AS x$j")
      .mkString(",\n")
    s"""t13 AS (SELECT doc_id, string_split(text, ' ') AS toks, n_chars FROM documents),
       |n13 AS (SELECT doc_id,
       |    list_transform(toks, t -> strpos('0123456789abcdef', substr(md5(t), 8, 1)) - 1) AS hu,
       |    list_transform(list_transform(generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1]),
       |      g -> strpos('0123456789abcdef', substr(md5(g), 8, 1)) - 1) AS hb,
       |    CAST(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS BIGINT) AS y
       |  FROM t13),
       |f AS MATERIALIZED (SELECT doc_id, CAST(10 AS BIGINT) AS xb,
       |$xs,
       |    y
       |  FROM n13)""".stripMargin
  }

  /** The unrolled training chain at q213's width — [[trainCtes]]'s
    * generator parameterized by the 17 feature columns. */
  private def trainCtes13: String = {
    val cols = q213Cols
    val w0 = s"""w0 AS (SELECT ${cols.indices.map(j => s"CAST(0 AS BIGINT) AS a$j")
      .mkString(", ")}, (SELECT COUNT(*) FROM f) AS n)"""
    val its = (1 to iters13).map { k =>
      val d = s"($lrDiv13 * n)"
      val margin = cols.indices.map(j => s"w.a$j*${cols(j)}").mkString(" + ")
      val gs = cols.indices.map(j =>
        s"    CAST(SUM((p - y*$S) * ${cols(j)}) AS BIGINT) AS g$j").mkString(",\n")
      val carries = cols.indices.map(j => s"MAX(a$j) AS a$j").mkString(", ")
      val reads = cols.indices.map(j => s"w.a$j").mkString(", ")
      val ups = cols.indices.map(j =>
        s"    a$j - (g$j - ((g$j % $d) + $d) % $d) // $d AS a$j").mkString(",\n")
      s"""g$k AS MATERIALIZED (SELECT
         |$gs,
         |    $carries, MAX(n) AS n
         |  FROM (SELECT f.*, $reads, w.n,
         |      LEAST($S, GREATEST(0, ${2 * S} + ($margin)) // 4) AS p
         |    FROM f, w${k - 1} w) z),
         |w$k AS MATERIALIZED (SELECT
         |$ups,
         |    n
         |  FROM g$k)""".stripMargin
    }
    (w0 +: its).mkString(",\n")
  }

  private val q213Oracle: String = {
    val margin = q213Cols.indices.map(j => s"w.a$j*${q213Cols(j)}").mkString(" + ")
    val wOut = (s"CAST(w.a0 AS BIGINT) AS wb_e6" +:
      (0 until nB).map(j => s"CAST(w.a${j + 1} AS BIGINT) AS w${j}_e6"))
      .mkString(",\n  ")
    s"""WITH $fCte13,
       |${trainCtes13},
       |acc AS (SELECT CAST(SUM(CASE WHEN (($margin) >= 0) = (y = 1)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |  FROM f, w$iters13 w)
       |SELECT $wOut,
       |  CAST(w.n AS BIGINT) AS n_docs, acc.n_correct
       |FROM w$iters13 w, acc""".stripMargin
  }

  private val q217Oracle: String = {
    val ss = (0 until nB).map(j => s"CAST(SUM(x$j) AS BIGINT) AS s$j").mkString(", ")
    val ts = (0 until nB).map(j => s"CAST(SUM(x$j) AS BIGINT) AS t$j").mkString(", ")
    val bigR = (0 until nB).map("s" + _).mkString(" + ")
    val bigT = (0 until nB).map("t" + _).mkString(" + ")
    val lifts = (0 until nB).map(j =>
      s"CAST((1000000 * t$j * ($bigR)) // GREATEST(s$j * ($bigT), 1) AS BIGINT) AS l$j")
      .mkString(",\n    ")
    val score = (0 until nB).map(j => s"l$j * x$j").mkString(" + ")
    val grams = (0 until nB).map("x" + _).mkString(" + ")
    s"""WITH $fCte13,
       |dl AS (SELECT f.*, d.lang, d.source
       |  FROM f JOIN documents d USING (doc_id)),
       |raw AS (SELECT $ss FROM f),
       |tgt AS (SELECT $ts FROM dl WHERE lang = 'en'),
       |lift AS (SELECT
       |    $lifts
       |  FROM raw, tgt)
       |SELECT dl.doc_id, dl.lang, dl.source,
       |  CAST($grams AS BIGINT) AS n_grams,
       |  CAST($score AS BIGINT) AS dsir_score_e6
       |FROM dl, lift
       |ORDER BY dsir_score_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q298_cascade_ordering" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT len(toks) AS n,
        |    len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'to')) AS hits,
        |    list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b) AS chars
        |  FROM t),
        |g AS (SELECT CASE WHEN n >= 20 THEN 1 ELSE 0 END AS g1,
        |    CASE WHEN 20 * hits >= n THEN 1 ELSE 0 END AS g2,
        |    CASE WHEN 3 * n <= chars AND chars <= 8 * n THEN 1 ELSE 0 END AS g3 FROM f),
        |a AS (SELECT COUNT(*) AS n, SUM(g1) AS p1, SUM(g2) AS p2, SUM(g3) AS p3,
        |    SUM(g1 * g2) AS p12, SUM(g1 * g3) AS p13, SUM(g2 * g3) AS p23 FROM g),
        |o AS (SELECT 'g1>g2>g3' AS ordering, n + p1 + p12 AS rows_examined FROM a
        |  UNION ALL SELECT 'g1>g3>g2', n + p1 + p13 FROM a
        |  UNION ALL SELECT 'g2>g1>g3', n + p2 + p12 FROM a
        |  UNION ALL SELECT 'g2>g3>g1', n + p2 + p23 FROM a
        |  UNION ALL SELECT 'g3>g1>g2', n + p3 + p13 FROM a
        |  UNION ALL SELECT 'g3>g2>g1', n + p3 + p23 FROM a)
        |SELECT ordering, CAST(rows_examined AS BIGINT) AS rows_examined,
        |  CAST(row_number() OVER (ORDER BY rows_examined, ordering) AS INTEGER) AS rank
        |FROM o ORDER BY rank""".stripMargin,
    "q217_dsir_importance" -> q217Oracle,
    // q291: q215's oracle verdict chain + the same six conditional sums
    "q291_gate_ablation" ->
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |m AS (SELECT source,
         |    CAST(GREATEST(len(toks), 1) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS chars,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
         |    CAST(len(list_filter(list_distinct(toks),
         |        t -> t IN ($stopList))) AS BIGINT) AS nstop,
         |    CAST(list_max(list_transform(list_distinct(toks),
         |        t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS mf
         |  FROM t),
         |r AS (SELECT source,
         |    CASE WHEN n BETWEEN 25 AND 90 THEN 0 ELSE 1 END AS f_wc,
         |    CASE WHEN (10 * chars) // n BETWEEN 40 AND 52 THEN 0 ELSE 1 END AS f_mwl,
         |    CASE WHEN nstop >= 1 THEN 0 ELSE 1 END AS f_stop,
         |    CASE WHEN (100 * nd) // n >= 40 THEN 0 ELSE 1 END AS f_rep,
         |    CASE WHEN (100 * mf) // n <= 12 THEN 0 ELSE 1 END AS f_top
         |  FROM m),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_rep + f_top = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |    CAST(SUM(CASE WHEN f_mwl + f_stop + f_rep + f_top = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS p_wo_wc,
         |    CAST(SUM(CASE WHEN f_wc + f_stop + f_rep + f_top = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS p_wo_mwl,
         |    CAST(SUM(CASE WHEN f_wc + f_mwl + f_rep + f_top = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS p_wo_stop,
         |    CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_top = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS p_wo_rep,
         |    CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_rep = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS p_wo_top
         |  FROM r GROUP BY source)
         |SELECT source, n_docs, n_pass,
         |  CAST(p_wo_wc - n_pass AS BIGINT) AS m_wordcount,
         |  CAST(p_wo_mwl - n_pass AS BIGINT) AS m_wordlen,
         |  CAST(p_wo_stop - n_pass AS BIGINT) AS m_stopword,
         |  CAST(p_wo_rep - n_pass AS BIGINT) AS m_repetition,
         |  CAST(p_wo_top - n_pass AS BIGINT) AS m_topshare
         |FROM g ORDER BY source""".stripMargin,
    // q286: the shared per-source pass-rate chain + the identical
    // unrolled fixed-point MW ladder
    "q286_mixture_reweight" ->
      s"""WITH $sourcePriorCtes,
         |f AS (SELECT source, n_docs,
         |    (1000000 * (n_docs - n_pass)) // GREATEST(n_docs, 1) AS fail_e6
         |  FROM ps),
         |w AS (SELECT source, n_docs, fail_e6,
         |    1000000 + fail_e6 AS w1,
         |    ((1000000 + fail_e6) * (1000000 + fail_e6)) // 1000000 AS w2
         |  FROM f),
         |w3t AS (SELECT source, n_docs, fail_e6, w1, w2,
         |    (w2 * (1000000 + fail_e6)) // 1000000 AS w3 FROM w),
         |tw_t AS (SELECT SUM(n_docs) AS big_n, SUM(w3) AS tw FROM w3t)
         |SELECT source, n_docs,
         |  CAST((1000000 * n_docs) // GREATEST(big_n, 1) AS BIGINT)
         |    AS nat_share_e6,
         |  CAST(fail_e6 AS BIGINT) AS fail_e6,
         |  CAST(w1 AS BIGINT) AS w1_e6, CAST(w2 AS BIGINT) AS w2_e6,
         |  CAST(w3 AS BIGINT) AS w3_e6,
         |  CAST((1000000 * w3) // GREATEST(tw, 1) AS BIGINT) AS share_e6
         |FROM w3t, tw_t ORDER BY source""".stripMargin,
    "q243_source_prior" ->
      s"""WITH $sourcePriorCtes
         |SELECT source, n_docs, n_pass,
         |  CAST((1000000 * n_pass) // GREATEST(n_docs, 1) AS BIGINT) AS raw_e6,
         |  CAST((1000000 * big_k) // GREATEST(big_n, 1) AS BIGINT) AS prior_e6,
         |  CAST((1000000 * (n_pass * big_n + $priorM * big_k))
         |    // GREATEST(big_n * (n_docs + $priorM), 1) AS BIGINT) AS shrunk_e6
         |FROM ps CROSS JOIN g ORDER BY shrunk_e6 DESC, source""".stripMargin,
    "q254_quality_mixture" ->
      s"""WITH $sourcePriorCtes,
         |wgt AS (SELECT source, n_docs,
         |    CAST((1000000 * (n_pass * big_n + $priorM * big_k))
         |      // GREATEST(big_n * (n_docs + $priorM), 1) AS BIGINT) AS shrunk_e6
         |  FROM ps CROSS JOIN g),
         |a AS (SELECT source, n_docs, shrunk_e6,
         |    SUM(shrunk_e6) OVER () AS wsum FROM wgt),
         |b AS (SELECT *, (1000000 * shrunk_e6) // GREATEST(wsum, 1) AS base,
         |    (1000000 * shrunk_e6) % GREATEST(wsum, 1) AS rem FROM a),
         |c AS (SELECT *, 1000000 - SUM(base) OVER () AS leftover,
         |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM b)
         |SELECT source, n_docs, shrunk_e6,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |    AS quota_tokens
         |FROM c ORDER BY source""".stripMargin,
    "q244_filter_kappa" ->
      s"""WITH $ensembleVerdictCtes,
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(v_rules * v_lm) AS BIGINT) AS a_rl,
         |    CAST(SUM(v_rules * (1 - v_lm)) AS BIGINT) AS b_rl,
         |    CAST(SUM((1 - v_rules) * v_lm) AS BIGINT) AS c_rl,
         |    CAST(SUM((1 - v_rules) * (1 - v_lm)) AS BIGINT) AS d_rl,
         |    CAST(SUM(v_rules * v_rep) AS BIGINT) AS a_rr,
         |    CAST(SUM(v_rules * (1 - v_rep)) AS BIGINT) AS b_rr,
         |    CAST(SUM((1 - v_rules) * v_rep) AS BIGINT) AS c_rr,
         |    CAST(SUM((1 - v_rules) * (1 - v_rep)) AS BIGINT) AS d_rr,
         |    CAST(SUM(v_lm * v_rep) AS BIGINT) AS a_lr,
         |    CAST(SUM(v_lm * (1 - v_rep)) AS BIGINT) AS b_lr,
         |    CAST(SUM((1 - v_lm) * v_rep) AS BIGINT) AS c_lr,
         |    CAST(SUM((1 - v_lm) * (1 - v_rep)) AS BIGINT) AS d_lr
         |  FROM v),
         |p AS (SELECT 'rules_lm' AS pair, n, a_rl AS a, b_rl AS b, c_rl AS c, d_rl AS d FROM g
         |  UNION ALL SELECT 'rules_rep', n, a_rr, b_rr, c_rr, d_rr FROM g
         |  UNION ALL SELECT 'lm_rep', n, a_lr, b_lr, c_lr, d_lr FROM g),
         |x AS (SELECT pair, n, a, b, c, d,
         |    (a + b) * (a + c) + (c + d) * (b + d) AS x FROM p)
         |SELECT pair, n, a, b, c, d,
         |  CAST((1000000 * (a + d)) // n AS BIGINT) AS po_e6,
         |  CAST((1000000 * x) // (n * n) AS BIGINT) AS pe_e6,
         |  CAST(CASE WHEN n * (a + d) - x >= 0
         |    THEN (1000000 * (n * (a + d) - x)) // GREATEST(n * n - x, 1)
         |    ELSE -((1000000 * (x - n * (a + d))) // GREATEST(n * n - x, 1)) END
         |    AS BIGINT) AS kappa_e6
         |FROM x ORDER BY pair""".stripMargin,
    "q230_filter_ensemble" ->
      s"""WITH $ensembleVerdictCtes
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(v_rules) AS BIGINT) AS n_pass_rules,
         |  CAST(SUM(v_lm) AS BIGINT) AS n_pass_lm,
         |  CAST(SUM(v_rep) AS BIGINT) AS n_pass_rep,
         |  CAST(SUM(v_rules * v_lm * v_rep) AS BIGINT) AS n_pass_all,
         |  CAST(SUM(CASE WHEN v_rules = v_lm THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree_rules_lm,
         |  CAST(SUM(CASE WHEN v_rules = v_rep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree_rules_rep,
         |  CAST(SUM(CASE WHEN v_lm = v_rep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree_lm_rep,
         |  CAST((1000000 * SUM(CASE WHEN v_rules = v_lm AND v_lm = v_rep
         |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS unanimous_share_e6
         |FROM v GROUP BY source ORDER BY source""".stripMargin,
    // q270: identical synthetic page framing (header + 12-token chunks +
    // footer), identical three block rules on the integer lattice;
    // list_sum of an empty list is NULL in DuckDB → COALESCE to match
    // Spark's 0-seeded aggregate
    "q270_content_extraction" -> {
      val linky = "tk -> regexp_matches(tk, '[0-9]') OR substr(tk, 1, 4) = 'http'"
      val content = s"len(b) >= 6 AND (100 * len(list_filter(b, $linky))) " +
        s"// len(b) <= 20 AND len(list_filter(b, tk -> tk IN ($stopList))) >= 1"
      s"""WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS toks
         |    FROM documents),
         |p AS (SELECT source,
         |    [string_split(concat('nav menu login search home page',
         |        CAST(doc_id % 100 AS VARCHAR), ' id',
         |        CAST(doc_id % 7 AS VARCHAR), ' sitemap httpwww',
         |        CAST(doc_id % 13 AS VARCHAR)), ' ')]
         |    || list_transform(generate_series(0, (len(toks) - 1) // 12),
         |        i -> toks[i * 12 + 1 : i * 12 + 12])
         |    || [string_split(concat('copyright 2024 terms privacy',
         |        CAST(doc_id % 10 AS VARCHAR)), ' ')] AS blocks
         |  FROM t),
         |m AS (SELECT source,
         |    CAST(len(blocks) AS BIGINT) AS b_all,
         |    CAST(len(list_filter(blocks, b -> len(b) < 6)) AS BIGINT)
         |      AS b_short,
         |    CAST(len(list_filter(blocks, b -> (100 * len(list_filter(b,
         |        $linky))) // len(b) > 20)) AS BIGINT) AS b_link,
         |    CAST(len(list_filter(blocks, b -> len(list_filter(b,
         |        tk -> tk IN ($stopList))) = 0)) AS BIGINT) AS b_nostop,
         |    CAST(len(list_filter(blocks, b -> $content)) AS BIGINT)
         |      AS b_content,
         |    CAST(COALESCE(list_sum(list_transform(
         |        list_filter(blocks, b -> $content), b -> len(b))), 0)
         |      AS BIGINT) AS w_kept,
         |    CAST(list_sum(list_transform(blocks, b -> len(b))) AS BIGINT)
         |      AS w_all
         |  FROM p),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(b_all) AS BIGINT) AS n_blocks,
         |    CAST(SUM(b_short) AS BIGINT) AS n_short,
         |    CAST(SUM(b_link) AS BIGINT) AS n_link,
         |    CAST(SUM(b_nostop) AS BIGINT) AS n_nostop,
         |    CAST(SUM(b_content) AS BIGINT) AS n_content,
         |    CAST(SUM(w_kept) AS BIGINT) AS retained_words,
         |    CAST(SUM(w_all) AS BIGINT) AS total_words,
         |    CAST(SUM(CASE WHEN b_content = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_docs_all_boiler
         |  FROM m GROUP BY source)
         |SELECT source, n_docs, n_blocks, n_short, n_link, n_nostop,
         |  n_content, retained_words, total_words, n_docs_all_boiler,
         |  CAST((1000000 * retained_words) // total_words AS BIGINT)
         |    AS retention_e6
         |FROM g ORDER BY source""".stripMargin
    },
    "q215_rules_gate" ->
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |m AS (SELECT source,
         |    CAST(GREATEST(len(toks), 1) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS chars,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
         |    CAST(len(list_filter(list_distinct(toks),
         |        t -> t IN ($stopList))) AS BIGINT) AS nstop,
         |    CAST(list_max(list_transform(list_distinct(toks),
         |        t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS mf
         |  FROM t),
         |r AS (SELECT source,
         |    CASE WHEN n BETWEEN 25 AND 90 THEN 0 ELSE 1 END AS f_wc,
         |    CASE WHEN (10 * chars) // n BETWEEN 40 AND 52 THEN 0 ELSE 1 END AS f_mwl,
         |    CASE WHEN nstop >= 1 THEN 0 ELSE 1 END AS f_stop,
         |    CASE WHEN (100 * nd) // n >= 40 THEN 0 ELSE 1 END AS f_rep,
         |    CASE WHEN (100 * mf) // n <= 12 THEN 0 ELSE 1 END AS f_top
         |  FROM m),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(f_wc) AS BIGINT) AS fail_wordcount,
         |    CAST(SUM(f_mwl) AS BIGINT) AS fail_wordlen,
         |    CAST(SUM(f_stop) AS BIGINT) AS fail_stopword,
         |    CAST(SUM(f_rep) AS BIGINT) AS fail_repetition,
         |    CAST(SUM(f_top) AS BIGINT) AS fail_topshare,
         |    CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_rep + f_top = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |  FROM r GROUP BY source)
         |SELECT source, n_docs, fail_wordcount, fail_wordlen, fail_stopword,
         |  fail_repetition, fail_topshare, n_pass,
         |  CAST((1000000 * n_pass) // n_docs AS BIGINT) AS pass_share_e6
         |FROM g ORDER BY source""".stripMargin,
    "q213_ngram_quality_filter" -> q213Oracle,
    "q205_train_quality_filter" ->
      s"""WITH $fCte,
         |$trainCtes,
         |acc AS (SELECT CAST(SUM(CASE WHEN
         |      ((w.a0*x0 + w.a1*x1 + w.a2*x2 + w.a3*x3) >= 0) = (y = 1)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM f, w$iters w)
         |SELECT CAST(w.a0 AS BIGINT) AS w0_e6, CAST(w.a1 AS BIGINT) AS w1_e6,
         |  CAST(w.a2 AS BIGINT) AS w2_e6, CAST(w.a3 AS BIGINT) AS w3_e6,
         |  CAST(w.n AS BIGINT) AS n_docs, acc.n_correct
         |FROM w$iters w, acc""".stripMargin,
    "q233_calibration_audit" ->
      s"""WITH $fCte,
         |$trainCtes,
         |z AS (SELECT f.y,
         |    LEAST($S, GREATEST(0, ${2 * S}
         |      + (w.a0*x0 + w.a1*x1 + w.a2*x2 + w.a3*x3)) // 4) AS p
         |  FROM f, w$iters w),
         |b AS (SELECT LEAST(9, p // ${S / 10}) AS bucket, p, y FROM z)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(p) AS BIGINT) AS sum_p_e6,
         |  CAST(SUM(y) AS BIGINT) AS n_pos,
         |  CAST(abs(SUM(p) - SUM(y) * $S) // COUNT(*) AS BIGINT) AS gap_e6
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q258_classifier_eval" ->
      s"""WITH $fCte,
         |$trainCtes,
         |z AS (SELECT f.doc_id, f.y,
         |    CASE WHEN (w.a0*x0 + w.a1*x1 + w.a2*x2 + w.a3*x3) >= 0
         |      THEN 1 ELSE 0 END AS pred
         |  FROM f, w$iters w),
         |c AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(pred * y) AS BIGINT) AS tp,
         |    CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
         |    CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
         |  FROM z JOIN documents d ON d.doc_id = z.doc_id
         |  GROUP BY d.source)
         |SELECT source, n_docs, tp, fp, fn, tn,
         |  CAST((1000000 * tp) // GREATEST(tp + fp, 1) AS BIGINT) AS precision_e6,
         |  CAST((1000000 * tp) // GREATEST(tp + fn, 1) AS BIGINT) AS recall_e6,
         |  CAST((2000000 * tp) // GREATEST(2 * tp + fp + fn, 1) AS BIGINT) AS f1_e6,
         |  CAST((1000000 * (tp + tn)) // n_docs AS BIGINT) AS accuracy_e6
         |FROM c ORDER BY source""".stripMargin,
    "q206_quality_scorecard" ->
      s"""WITH $fCte,
         |$trainCtes,
         |z AS (SELECT f.doc_id,
         |    CASE WHEN (w.a0*x0 + w.a1*x1 + w.a2*x2 + w.a3*x3) >= 0
         |      THEN 1 ELSE 0 END AS keep
         |  FROM f, w$iters w)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(keep) AS BIGINT) AS n_keep,
         |  CAST(FLOOR(CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS keep_share_e6
         |FROM z JOIN documents d ON d.doc_id = z.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
  )
}
