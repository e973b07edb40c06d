package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-composition and relevance operators for LLM-training-data
  * pipelines over the `documents` fixture: TF-IDF term weighting, BM25
  * ranking, token-budget shard packing, temperature-based language-mixture
  * sampling, and a per-language statistical outlier gate.
  *
  * The reference has no text-relevance surface (its only text handling is
  * fixed-schema CSV columns, `/root/reference/assets/schema/make_schema
  * .py:41-51`); these are the passes that decide WHAT goes into a training
  * mix and HOW it is laid out on disk once the dedup family
  * ([[DedupQueries]]) has decided what survives.
  *
  * Cross-engine determinism contract (these results are hash-compared
  * against DuckDB bit-for-bit):
  *   - Every cross-row sum is over integers (exact in both engines,
  *     order-independent); doubles appear only in per-row arithmetic on
  *     values derived from those exact sums. IEEE 754 +, -, *, /, sqrt
  *     are correctly rounded everywhere, so per-row double math is
  *     bit-identical across engines. `ln` is NOT guaranteed correctly
  *     rounded; where a log-shaped weight is wanted ([[q66Tfidf]],
  *     [[q67Bm25]]) the idf stays in its rational form — same ordering
  *     behavior, exactly reproducible.
  *   - Mixture weights that need cross-row normalization are quantized to
  *     integers FIRST ([[q69TemperatureMixture]]), so the normalizing sum
  *     is exact and the final shares are deterministic doubles.
  */
object CorpusQueries {

  /** TF-IDF term weighting: the top-20 (document, term) pairs by
    * tf * idf with idf in rational form (N+1)/(df+1) — the log-free
    * variant keeps the score bit-reproducible across engines (ln is not
    * correctly rounded; the ranking it induces is identical since ln is
    * monotone and the tie-break columns already total-order the output).
    *
    * Scale: tf is a (doc, term) groupBy with map-side combine (the
    * exploded token stream collapses before its shuffle); df reuses the tf
    * rows, so the document scan runs once; the corpus count joins in as a
    * broadcast single row; the final top-k is TakeOrderedAndProject, never
    * a global sort. */
  def q66Tfidf(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    // sum(when(tf > 0, 1)) not count(1): the value is identical (tf >= 1
    // by construction), but genuinely consuming tf stops the optimizer
    // from pruning the count out of df's copy of the subtree — the two
    // (doc_id, tok) exchanges stay identical and AQE serves df from tf's
    // shuffled stage instead of tokenizing the corpus a second time
    // (PlanShapeSpec asserts the ReusedExchange and the single executed
    // tokenize; with count(1) the pruned copy re-ran the full explode)
    val df = tf.groupBy("tok").agg(sum(when(col("tf") > 0, 1L)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", expr(
        "cast(tf as double) * ((cast(n_docs as double) + 1.0) / (cast(df as double) + 1.0))"))
      .select(col("doc_id").cast("bigint").as("doc_id"), col("tok"),
        col("tf").cast("bigint").as("tf"), col("df").cast("bigint").as("df"),
        col("tfidf"))
      .orderBy(desc("tfidf"), asc("doc_id"), asc("tok"))
      .limit(20)
  }

  /** BM25 ranking of the corpus against a fixed query-term set: the
    * standard k1=1.2, b=0.75 saturation/length-normalization form, with
    * the idf in Robertson's rational form (N - df + 0.5)/(df + 0.5)
    * instead of its log (same monotone ranking, bit-reproducible — see
    * the class docstring). avgdl comes from exact integer sums (token
    * counts are ints), so the length normalization is deterministic.
    *
    * Scale: one (doc, term) tf pass filtered to the query terms BEFORE
    * the aggregation (the groupBy state is |docs| x |query terms|, not
    * |docs| x |vocab|); df and avgdl are tiny aggregates broadcast into
    * the per-row score; top-15 is TakeOrderedAndProject. */
  def q67Bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "hash", "window")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"), expr("cast(size(toks) as bigint)").as("dl"), col("toks"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(expr(s"tok in ($termList)"))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val perTermScores = terms.zipWithIndex.map { case (t, i) =>
      // each (doc, term) has exactly one tf row, so max() just extracts it
      max(when(col("tok") === t, col("term_score"))).as(s"ts$i")
    }
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(stats))
      // avgdl = tot_dl / n_docs: one double division of two exact longs
      .withColumn("term_score", expr(
        "((cast(n_docs as double) - cast(df as double) + 0.5) / (cast(df as double) + 0.5)) * " +
          "(cast(tf as double) * 2.2) / (cast(tf as double) + 1.2 * (0.25 + 0.75 * " +
          "cast(dl as double) / (cast(tot_dl as double) / cast(n_docs as double))))"))
      .groupBy("doc_id")
      // per-doc score = sum over the <= 3 query terms: the terms pivot
      // into FIXED columns so the double additions happen in one
      // deterministic order — float addition is not associative, so an
      // unordered SUM of doubles is the one place engines could diverge
      .agg(perTermScores.head, (perTermScores.tail :+
        count(lit(1)).cast("bigint").as("n_terms")): _*)
      .withColumn("score", expr(
        terms.indices.map(i => s"coalesce(ts$i, cast(0.0 as double))").mkString(" + ")))
      .select(col("doc_id").cast("bigint").as("doc_id"), col("score"), col("n_terms"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(15)
  }

  /** Width of the doc_id range folded into one packing bucket — the
    * distributed prefix-sum's inner unit ([[q68TokenPacking]]). */
  private val packBucketWidth = 64

  /** Two-phase distributed running total, shared by [[q68TokenPacking]]
    * and [[q77WeightedInterleave]]: appends `cum` — the inclusive running
    * sum of `measureCol` within `partCol`, ordered by doc_id — WITHOUT a
    * per-`partCol` global window (which would put each partition value's
    * entire row set into one task): per-(partCol, id-bucket) subtotals, a
    * window over the bucket SUMMARIES for each bucket's starting offset,
    * and a bucket-local running sum. Bit-identical to the naive global
    * window on integers (CorpusSpec asserts it, including on a randomized
    * corpus). */
  private def twoPhaseRunningSum(df: DataFrame, partCol: String,
                                 measureCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = df.withColumn("bucket", expr(s"doc_id div $packBucketWidth"))
    val offsets = bucketed.groupBy(partCol, "bucket")
      .agg(sum(measureCol).as("bucket_m"))
      .withColumn("off",
        coalesce(sum("bucket_m").over(
          Window.partitionBy(partCol).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(partCol), col("bucket"), col("off"))
    bucketed.join(offsets, Seq(partCol, "bucket"))
      .withColumn("intra", sum(measureCol).over(
        Window.partitionBy(partCol, "bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum", col("off") + col("intra"))
      .drop("bucket", "off", "intra")
  }

  /** Tokens per training shard for [[q68TokenPacking]]. */
  private val shardBudget = 4096

  /** Token-budget shard packing: documents are laid into training shards
    * in deterministic (lang, doc_id) order, cutting a new shard every
    * [[shardBudget]] tokens — the "pack the corpus into fixed-token
    * training files" pass that follows mixture selection.
    *
    * A literal `SUM OVER (PARTITION BY lang ORDER BY doc_id)` puts every
    * document of a language into ONE window partition — a single-task
    * straggler at 100 TB. This is the classic two-phase distributed
    * prefix sum instead:
    *   1. per-(lang, id-bucket) token subtotals — a normal scaling
    *      groupBy;
    *   2. a window over the BUCKET SUMMARIES (corpus size / bucket width
    *      rows, thousands not billions) computes each bucket's starting
    *      offset;
    *   3. the intra-bucket running sum windows over one bucket at a time
    *      (bounded by [[packBucketWidth]] ids), and the global position is
    *      offset + intra.
    * The only single-partition window runs over bucket summaries. The
    * result is bit-identical to the naive global window (PackingSpec
    * asserts it on the fixtures — integer arithmetic, so no rounding
    * escape hatch is needed). */
  def q68TokenPacking(s: SparkSession, dir: String): DataFrame =
    tokenPack(Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        expr("cast(size(split(text, ' ')) as bigint)").as("ntok")), shardBudget)

  /** Library form of the shard packer over any (lang, doc_id, ntok)
    * frame: shard of the FIRST token of each doc is (global running sum
    * before this doc) div budget; returns the per-(lang, shard)
    * manifest. The corpus-pipeline composition ends here. */
  private[graft] def tokenPack(docs: DataFrame, budget: Int): DataFrame = {
    val packed = twoPhaseRunningSum(docs, "lang", "ntok")
      .withColumn("shard", expr(s"(cum - ntok) div $budget"))
    packed.groupBy("lang", "shard")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("tokens"))
      .select(col("lang"), col("shard").cast("bigint").as("shard"),
        col("n_docs"), col("tokens"))
      .orderBy("lang", "shard")
  }

  /** The naive single-window form of [[q68TokenPacking]] — one global
    * cumulative sum per language. Correct, and what the oracle runs; kept
    * (test-only) as the equivalence baseline for the distributed prefix
    * sum. NOT registered: at scale each language is one window partition. */
  private[graft] def tokenPackingNaive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
      .withColumn("cum", sum("ntok").over(
        Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("shard", expr(s"(cum - ntok) div $shardBudget"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("tokens"))
      .select(col("lang"), col("shard").cast("bigint").as("shard"),
        col("n_docs"), col("tokens"))
      .orderBy("lang", "shard")
  }

  /** Temperature-based language-mixture sampling (T = 2): the standard
    * multilingual rebalancing that samples language l proportionally to
    * p_l^(1/T) — flattening the head, upweighting the tail. T = 2 makes
    * the weight sqrt(p_l), which IEEE guarantees correctly rounded, so
    * the per-language weight is bit-reproducible.
    *
    * The normalization sum over weights is the one cross-row DOUBLE sum
    * the contract forbids, so the weights are quantized to integer
    * micro-units (floor(w * 1e9)) first: the normalizer is then an exact
    * integer sum and every derived share is a deterministic double. The
    * quota column allocates a 100k-document sampling budget by
    * floor(share x budget).
    *
    * Scale: one count-by-lang shuffle; the window that normalizes runs
    * over LANGUAGE SUMMARIES (bounded: there are ~200 human languages),
    * not documents. */
  def q69TemperatureMixture(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val everything = Window.partitionBy()
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("total", sum("c").over(everything))
      .withColumn("w", expr("sqrt(cast(c as double) / cast(total as double))"))
      .withColumn("wq", expr("cast(floor(w * 1e9) as bigint)"))
      .withColumn("share", expr("cast(wq as double) / cast(sum(wq) over () as double)"))
      .select(col("lang"), col("c").cast("bigint").as("n_docs"),
        col("w").as("weight"), col("share"),
        expr("cast(floor(share * 100000) as bigint)").as("quota"))
      .orderBy("lang")
  }

  /** Per-language statistical outlier gate on document length: drop
    * documents more than 2 sample standard deviations from their
    * language's mean n_chars — the "kill the 400 MB concatenated crawl
    * blob and the 3-byte stub" filter.
    *
    * Everything flows from two exact integer moments per language
    * (sum x, sum x^2, accumulated as decimal(38,0) so a 100 TB corpus
    * cannot overflow them — sum of squares alone exceeds int64 around
    * 10^12 documents); mean, variance, and each z-score are then per-row
    * double arithmetic on exact inputs (+ - * / sqrt only), so the
    * verdict is bit-reproducible. Languages with fewer than 2 documents
    * or zero variance keep everything (no z is computable).
    *
    * Scale: one moments groupBy (bounded output: one row per language,
    * broadcast back), one broadcast join, one filtered re-aggregation. */
  def q70OutlierGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("lang"), col("n_chars"))
    val moments = docs.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars").cast("decimal(38,0)")).as("s"),
      sum(expr("cast(n_chars as decimal(38,0)) * cast(n_chars as decimal(38,0))")).as("q"))
    // var = (n*q - s^2) / (n*(n-1)); every product stays in exact decimal,
    // the division happens once in double on exact operands
    val gated = docs.join(broadcast(moments), Seq("lang"))
      .withColumn("mean", expr("cast(s as double) / cast(n as double)"))
      .withColumn("sd", expr(
        "case when n > 1 then sqrt(cast(n * q - s * s as double) / " +
          "cast(cast(n as decimal(38,0)) * cast(n - 1 as decimal(38,0)) as double)) end"))
      .withColumn("keep", expr(
        "sd is null or sd = 0.0 or abs((cast(n_chars as double) - mean) / sd) <= 2.0"))
    gated.groupBy("lang").agg(
      count(lit(1)).cast("bigint").as("n_total"),
      sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
      min(when(col("keep"), col("n_chars"))).cast("bigint").as("min_kept"),
      max(when(col("keep"), col("n_chars"))).cast("bigint").as("max_kept"))
      .orderBy("lang")
  }

  /** Unigram language-model quality score (the CCNet-style "perplexity
    * filter" in cross-engine-deterministic form): train unigram
    * probabilities on the corpus itself, score each document by its mean
    * token probability — natural text full of common tokens scores high,
    * gibberish and boilerplate-of-rare-symbols score low. The standard
    * formulation averages log-probs; ln is not correctly rounded across
    * engines, and the per-doc sum of doubles would be order-dependent, so
    * BOTH problems are solved by the q69 trick: each occurrence's
    * probability is quantized to integer picounits (floor(p * 1e12)), the
    * per-document sum is an exact integer in any order, and one double
    * division at the end produces the score. Same monotone filtering
    * behavior, bit-reproducible, no per-document ordered buffer.
    *
    * Scale: one token count shuffle (map-side combined), one equi-join of
    * the exploded stream back to the counts on the token key, one
    * per-document sum. The count table scales with |vocab|, not corpus —
    * AQE broadcasts it when it measures small. */
  def q75UnigramQuality(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // totalling the counts re-references their exchange, and AQE's stage
    // reuse serves it from the already-shuffled counts at runtime
    // (PlanShapeSpec asserts the ReusedExchange and the executed tokenize
    // count) — a separate direct scan-sum would do strictly more IO
    val total = counts.agg(sum("cnt").as("total"))
    tok.join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("pq", expr(
        "cast(floor(cast(cnt as double) / cast(total as double) * 1e12) as bigint)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_tokens"), sum("pq").as("spq"))
      .withColumn("score", expr(
        "cast(spq as double) / (1e12 * cast(n_tokens as double))"))
      .select(col("doc_id").cast("bigint").as("doc_id"), col("n_tokens"), col("score"))
      .orderBy("doc_id")
  }

  /** Per-language heavy hitters: the top-3 tokens of each language by
    * occurrence count (ties to the token) — the per-stratum top-k shape
    * (rank window over GROUP SUMMARIES). The window partitions by lang
    * over |vocab| x |langs| aggregated rows, never over documents, so the
    * bounded-partition-count hazard doesn't apply. */
  def q76TopkPerLang(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("tok"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(expr("split(text, ' ')")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("lang"), col("rank").cast("int").as("rank"), col("tok"), col("cnt"))
      .orderBy("lang", "rank")
  }

  /** Deterministic weighted source interleave (assembling the training
    * sequence from per-source streams): source s gets weight
    * w = 1 + s%4, each document's interleave position is
    * rank-within-source x (12/w) — exact integer arithmetic (12 is the
    * weight LCM), so a weight-2 source appears twice as densely as a
    * weight-1 source in the merged prefix, reproducibly on any engine.
    *
    * The rank within source is NOT a per-source window (20 sources =
    * 20 tasks forever, each scanning a corpus fraction): it reuses q68's
    * two-phase prefix pattern — per-(source, id-bucket) counts, offsets
    * from a window over bucket summaries, a bucket-local row_number —
    * so rank assignment parallelizes with the data. Output: the first 60
    * positions of the merged sequence (TakeOrderedAndProject, no global
    * sort materialization). */
  def q77WeightedInterleave(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        // a source id outside the 'srcN' namespace must fail LOUDLY: a
        // silent null sn would give null w/pos, and Spark sorts nulls
        // first where DuckDB sorts them last — a latent cross-engine
        // ordering divergence. raise_error only evaluates on the null.
        expr("coalesce(try_cast(substring(source, 4) as int), " +
          "raise_error(concat('q77: source id outside srcN namespace: ', source)))")
          .as("sn"),
        lit(1L).as("one"))
    // rank within source = inclusive running count, via the same two-phase
    // prefix machinery as q68 (a per-source window would be 20 tasks
    // scanning a corpus fraction each, forever)
    twoPhaseRunningSum(docs, "source", "one")
      .withColumn("w", expr("1 + sn % 4"))
      .withColumn("pos", expr("cum * (12 div w)"))
      .select(col("pos").cast("bigint").as("pos"), col("source"),
        col("doc_id").cast("bigint").as("doc_id"), col("w").cast("int").as("w"))
      .orderBy("pos", "source", "doc_id")
      .limit(60)
  }

  /** Source concentration curve (the "how much of the mix comes from the
    * top-k sources" Lorenz view a corpus owner reads before rebalancing):
    * per-source token totals ranked descending, with cumulative tokens
    * and cumulative share. Every cross-row sum is a bigint (exact, so the
    * running share is a deterministic double of exact operands); the rank
    * and cumulative windows run over SOURCE SUMMARIES — one row per
    * source, bounded — never over documents. */
  def q81SourceConcentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Tables.documents(s, dir)
      .select(col("source"), expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
      .groupBy("source")
      .agg(sum("ntok").as("tokens"))
    val rankW = Window.orderBy(desc("tokens"), asc("source"))
    bySource
      .withColumn("rank", row_number().over(rankW))
      .withColumn("cum_tokens", sum("tokens").over(
        rankW.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_share", expr(
        "cast(cum_tokens as double) / cast(sum(tokens) over () as double)"))
      .select(col("rank").cast("int").as("rank"), col("source"),
        col("tokens").cast("bigint").as("tokens"),
        col("cum_tokens").cast("bigint").as("cum_tokens"), col("cum_share"))
      .orderBy("rank")
  }

  /** Per-source quality scorecard (the curation dashboard that decides
    * which crawl sources stay in the mix): document counts, token totals,
    * mean document length, the count of top-quality documents (q27's 0-3
    * quality score), and the mean alphabetic ratio. Deterministic by the
    * family's rules: ntok and quality are integers (exact sums); the
    * per-row alphabetic ratio is quantized to integer nanounits before
    * its cross-row sum, then divided once in double. One groupBy on
    * source; output bounded by the source count. */
  def q82SourceScorecard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", expr("split(text, ' ')"))
      .select(
        col("source"),
        expr("cast(size(toks) as bigint)").as("ntok"),
        expr("cast(size(filter(toks, t -> t in ('the', 'a', 'of', 'and', 'to'))) as double) / cast(size(toks) as double)")
          .as("stop_ratio"),
        expr("cast(aggregate(toks, 0, (acc, t) -> acc + length(t)) as double) / cast(size(toks) as double)")
          .as("avg_tok_len"),
        expr("cast(floor(cast(length(regexp_replace(text, '[^a-z]', '')) as double) / cast(length(text) as double) * 1e9) as bigint)")
          .as("alpha_q"))
      .withColumn("quality", expr(
        "cast((case when ntok >= 20 then 1 else 0 end) + " +
          "(case when stop_ratio >= 0.05 then 1 else 0 end) + " +
          "(case when avg_tok_len between 3 and 8 then 1 else 0 end) as int)"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("tokens"),
        expr("cast(sum(ntok) as double) / cast(count(1) as double)").as("mean_ntok"),
        sum(when(col("quality") === 3, 1L).otherwise(0L)).cast("bigint").as("n_top_quality"),
        expr("cast(sum(alpha_q) as double) / (1e9 * cast(count(1) as double))").as("mean_alpha"))
      .orderBy("source")

  /** Per-language distinct-token cardinality via the native KMV sketch
    * (`graft_kmv`, functions/Kmv.scala) next to the exact count it
    * approximates — the recall-spec pattern for approximations (q100,
    * q51): ship the estimate AND its error so the oracle gate pins both.
    *
    * Hash: the first 8 hex digits of md5(token) as a uniform 32-bit
    * value (the q88/q59 md5-arithmetic idiom, so the DuckDB twin can
    * mirror it with nibble arithmetic). Estimate: (k-1) * 2^32 / kth
    * smallest distinct hash; when a group holds fewer than k distinct
    * hashes the sketch is the whole set and the estimate is its size.
    *
    * Scale path: state per group is k=32 longs, deduplicated on insert,
    * partial-aggregated map-side, merged by union-truncate — per-day
    * sketches roll into per-month without re-reading data. The exact
    * count beside it is the audit column; at 100 TB a pipeline runs the
    * sketch alone. (The window-ranked oracle twin is exactly the
    * linear-state plan the sketch replaces.) */
  def q101KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    Tables.documents(s, dir)
      .select(col("lang"), explode(expr("split(text, ' ')")).as("tok"))
      .withColumn("h",
        expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
      .groupBy("lang")
      .agg(countDistinct(col("tok")).as("n_exact"),
        expr(s"graft_kmv(h, $k)").as("ks"))
      .select(col("lang"),
        col("n_exact").cast("bigint").as("n_exact"),
        expr("cast(size(ks) as bigint)").as("n_kept"),
        expr(s"case when size(ks) < $k then cast(size(ks) as double) " +
          s"else (31.0 * 4294967296.0) / cast(element_at(ks, $k) as double) end")
          .as("est"))
      .withColumn("rel_err",
        expr("abs(est - cast(n_exact as double)) / cast(n_exact as double)"))
      .orderBy("lang")
  }

  /** KMV TIME-ROLLUP — the mergeable-sketch property graft_kmv's
    * scaladoc names as the entire operational point ("per-day sketches
    * rolled into per-month"), demonstrated as a query: per-DAY KMV
    * sketches of distinct users build once from the scan, and the
    * per-WEEK estimate then derives from the day sketches ALONE —
    * columnar union of the kept sets, k smallest of the union — never
    * re-reading events. Exactness of the merge: any of the week's k
    * smallest distinct hashes is also among its own day's k smallest
    * (fewer than k values sit below it anywhere), so merged-then-
    * truncated day sketches equal the week's direct sketch, and the
    * oracle may sketch the week directly. The exact weekly distinct
    * count rides alongside for the rel_err audit (the q101 pattern,
    * lifted from one level to a rollup).
    *
    * Scale: the audit's exact countDistinct is the fixture lane; the
    * production path ships ONLY the day sketches (k longs each) up the
    * rollup — per-day → per-week → per-month unions without touching
    * data again. */
  def q203KmvRollup(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val daily = Tables.events(s, dir)
      .select(date_trunc("week", col("ts")).cast("date").as("wk"),
        col("ts").cast("date").as("d"),
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) as bigint)")
          .as("h"))
      .groupBy("wk", "d")
      .agg(expr(s"graft_kmv(h, $k)").as("ks"))
    val weekly = daily.groupBy("wk")
      .agg(count(lit(1)).as("n_days"),
        expr(s"slice(array_sort(array_distinct(flatten(collect_list(ks)))), 1, $k)")
          .as("mks"))
    val exact = Tables.events(s, dir)
      .groupBy(date_trunc("week", col("ts")).cast("date").as("wk"))
      .agg(countDistinct("user_id").as("n_exact"))
    weekly.join(exact, Seq("wk"))
      .select(col("wk"), col("n_days").cast("bigint").as("n_days"),
        col("n_exact").cast("bigint").as("n_exact"),
        expr("cast(size(mks) as bigint)").as("n_kept"),
        expr(s"case when size(mks) < $k then cast(size(mks) as double) " +
          s"else (31.0 * 4294967296.0) / cast(element_at(mks, $k) as double) end")
          .as("est"))
      .withColumn("rel_err",
        expr("abs(est - cast(n_exact as double)) / cast(n_exact as double)"))
      .orderBy("wk")
  }

  /** Epoch-resampling manifest: the step AFTER q69 decides the
    * temperature-mixture shares — materialize a training corpus where
    * each document appears floor(rho) or ceil(rho) times, rho being the
    * language's share-preserving copy rate (share * total / count, so
    * low-resource languages oversample toward the sqrt-temperature mix
    * while the corpus keeps ~its size). The fractional remainder is
    * resolved per document by the q88 salted-hash rule — stable under
    * corpus growth, no RNG — and copies materialize as a
    * sequence+explode (S12's generator, zero shuffle: the manifest
    * inherits the scan's partitioning; the only exchange is the final
    * bounded per-language audit aggregate). The oracle replays the
    * identical double arithmetic (same operation order) and hash rule. */
  def q108EpochResample(s: SparkSession, dir: String): DataFrame = {
    val everything = org.apache.spark.sql.expressions.Window.partitionBy()
    val d = Tables.documents(s, dir).select("doc_id", "lang")
    val weights = d.groupBy("lang").agg(count(lit(1)).as("c"))
      .withColumn("total", sum("c").over(everything))
      .withColumn("w", expr("sqrt(cast(c as double) / cast(total as double))"))
      .withColumn("wq", expr("cast(floor(w * 1e9) as bigint)"))
      .withColumn("share", expr("cast(wq as double) / cast(sum(wq) over () as double)"))
      .withColumn("rho", expr("share * cast(total as double) / cast(c as double)"))
      .select("lang", "rho")
    d.join(broadcast(weights), Seq("lang"))
      .withColumn("u", expr(
        "cast(cast(conv(substring(md5(concat('epoch_', cast(doc_id as string))), 1, 4), 16, 10) as bigint) as double) / 65536.0"))
      .withColumn("n_copies", expr(
        "cast(floor(rho) as int) + (case when u < rho - floor(rho) then 1 else 0 end)"))
      .filter(col("n_copies") > 0)
      .select(col("lang"), col("doc_id"),
        explode(expr("sequence(1, n_copies)")).as("copy"))
      .groupBy("lang")
      .agg(countDistinct("doc_id").cast("bigint").as("n_docs_kept"),
        count(lit(1)).cast("bigint").as("n_copies"))
      .orderBy("lang")
  }

  /** Deterministic fixed-size stratified sample: exactly min(k, n) docs
    * per language, chosen by salted-hash order ('sample_' salt
    * decorrelates from q88's split assignment and q108's remainder
    * rule) — the "give me 50 eval docs per language, stable under
    * corpus growth for UNSAMPLED languages" primitive (a sampled
    * language's set shifts only at hash-order boundaries).
    *
    * Two-phase selection, never a per-language global sort: a window
    * inside (lang, hash mod 64) sub-buckets keeps each bucket's k
    * smallest (pigeonhole: the global k smallest survive), then the
    * final per-language window ranks at most 64k rows per language —
    * constant state at any corpus size, the same shape that makes
    * graft_kmv scale. Ties break on (h, doc_id), mirrored in the
    * oracle. */
  def q111StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 50
    import org.apache.spark.sql.expressions.Window
    val wBucket = Window.partitionBy("lang", "b").orderBy(col("h"), col("doc_id"))
    val wLang = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        expr("cast(conv(substring(md5(concat('sample_', cast(doc_id as string))), 1, 8), 16, 10) as bigint)")
          .as("h"))
      .withColumn("b", expr("pmod(h, 64)"))
      .withColumn("brk", row_number().over(wBucket))
      .filter(col("brk") <= k)
      .withColumn("rk", row_number().over(wLang))
      .filter(col("rk") <= k)
      .select(col("lang"), col("doc_id").cast("bigint").as("doc_id"),
        col("rk").cast("int").as("rk"))
      .orderBy("lang", "rk")
  }

  /** Max sequence length for [[q120PaddingWaste]] (the training-run
    * context window the packing policy is tuned against). */
  private val maxSeqLen = 512

  /** Padding/truncation waste profile — the cost sheet a packing policy
    * (q68) is chosen WITH: for each language, what fraction of tokens a
    * truncate-to-L policy throws away, and what fraction of compute a
    * pad-to-L policy burns on padding, under the two standard layouts
    * (one-doc-per-sequence truncation vs chunked continuation). All
    * integer sums (exact, order-free, map-side combinable) with the
    * final fractions as single deterministic double divisions — the
    * engine-parity contract every profile query here follows.
    *
    * Scale: one scan, one bounded groupBy (per language). The per-doc
    * arithmetic is codegen'd projection work; nothing shuffles but the
    * partial aggregates. */
  def q120PaddingWaste(s: SparkSession, dir: String): DataFrame = {
    val L = maxSeqLen
    Tables.documents(s, dir)
      .select(col("lang"),
        expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
      .withColumn("kept", expr(s"least(ntok, ${L}L)"))
      .withColumn("trunc", expr(s"greatest(ntok - ${L}L, 0L)"))
      .withColumn("seqs", expr(s"(ntok + ${L - 1}L) div ${L}L"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("total_tokens"),
        sum("trunc").cast("bigint").as("truncated_tokens"),
        sum(expr(s"${L}L - kept")).cast("bigint").as("pad_truncate"),
        sum(expr(s"seqs * ${L}L - ntok")).cast("bigint").as("pad_chunked"),
        sum("seqs").cast("bigint").as("n_seqs_chunked"))
      .withColumn("trunc_frac", expr(
        "cast(truncated_tokens as double) / cast(total_tokens as double)"))
      .withColumn("pad_frac_truncate", expr(
        s"cast(pad_truncate as double) / cast(n_docs * ${L}L as double)"))
      .withColumn("pad_frac_chunked", expr(
        s"cast(pad_chunked as double) / cast(n_seqs_chunked * ${L}L as double)"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q209

  /** GROUP QUANTILES FROM A HASH RESERVOIR — bounded-state distributed
    * quantile estimation, the sketch answer next to q100's binned
    * histogram and q184/q192's exact two-phase selection: per source,
    * keep the k=32 documents with the smallest salted-md5 hash of
    * their id (`graft_topk(h, doc_id, k)` — a mergeable, map-side
    * combinable, ORDER-INVARIANT uniform sample: the k smallest hashes
    * of a fixed hash function are the same set under any partitioning,
    * unlike rand()-based reservoirs), then read nearest-rank p50/p90
    * off the sample. The exchange carries |sources|·k fixed-width
    * pairs; the sampled values come back through a BROADCAST semi-join
    * of the id manifest against the scan — the corpus never shuffles.
    * Estimates are deterministic and the DuckDB oracle replays the
    * identical construction (hash row_number ≤ k, same rank formula
    * (p·(m−1)) div 100 + 1), so parity is exact even where the
    * estimate differs from the true quantile. When a group has ≤ k
    * documents the sample IS the group and the estimate equals the
    * exact nearest-rank quantile (SamplingSpec proves both regimes).
    * At 100 TB: k rows of state per group, one broadcast, one scan —
    * the quantile-monitoring shape that never sorts the corpus. */
  def q209ReservoirQuantiles(s: SparkSession, dir: String): DataFrame =
    reservoirQuantiles(Tables.documents(s, dir), 32)

  /** The q209 core over any (source, doc_id, n_chars) frame — shared
    * with SamplingSpec's synthetic above-k regime and invariance
    * proofs. */
  private[graft] def reservoirQuantiles(docs: DataFrame, k: Int): DataFrame = {
    val res = docs
      .select(col("source"), col("doc_id"),
        expr("cast(conv(substring(md5(concat('rsv_', cast(doc_id as string))), 1, 8), 16, 10) as bigint)")
          .as("h"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        expr(s"graft_topk(h, doc_id, $k)").as("tk"))
    val ids = res.select(col("source").as("rsource"), col("n_docs"),
      explode(col("tk")).as("p")).select(col("rsource"), col("n_docs"),
      col("p.v").as("doc_id"))
    val sampled = docs.select(col("doc_id"), col("n_chars").as("v"))
      .join(broadcast(ids), Seq("doc_id"))
    val wr = Window.partitionBy("rsource").orderBy("v", "doc_id")
    sampled
      .withColumn("r", row_number().over(wr))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("rsource")))
      .groupBy(col("rsource").as("source"))
      .agg(max("n_docs").cast("bigint").as("n_docs"),
        max("m").cast("bigint").as("sample_n"),
        max(when(col("r") === expr("(50 * (m - 1)) div 100 + 1"), col("v")))
          .cast("bigint").as("p50_est"),
        max(when(col("r") === expr("(90 * (m - 1)) div 100 + 1"), col("v")))
          .cast("bigint").as("p90_est"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q210

  /** WEIGHTED SAMPLE WITHOUT REPLACEMENT by priority sampling
    * (Duffield, Lund & Thorup, "Priority sampling for estimation of
    * arbitrary subset sums", JACM 2007 — the scheme whose k-sample
    * supports unbiased subset-sum estimates): per language, draw k=16
    * documents with probability increasing in WEIGHT (token mass —
    * n_chars — the standard corpus-mixing weight), deterministically.
    * Each doc gets priority q = floor(w · 2^32 / (h+1)) where h is a
    * salted 32-bit md5 uniform; the sample is the k LARGEST priorities
    * (`graft_topk(-q, doc_id, k)` — bounded state, mergeable,
    * partition-invariant). The double chain w·2^32/(h+1) is one exact
    * product (w ≤ 2^13 so w·2^32 ≤ 2^45 is exactly representable) and
    * one correctly-rounded division, then a terminal floor — the
    * q188/SCALE.md discipline, so both engines compute the identical
    * BIGINT priority. Output is the per-language sample manifest
    * (rank, doc, weight, priority) a mixture-construction job feeds
    * from. At 100 TB: one scan, |langs|·k state, no corpus shuffle —
    * where naive weighted sampling sorts the corpus by priority. */
  def q210PrioritySample(s: SparkSession, dir: String): DataFrame =
    prioritySample(Tables.documents(s, dir), 16)

  /** The q210 core over any (lang, doc_id, n_chars) frame — shared
    * with SamplingSpec's brute-force and invariance proofs. */
  private[graft] def prioritySample(docsIn: DataFrame, k: Int): DataFrame = {
    val manifest = docsIn
      .select(col("lang"), col("doc_id"), col("n_chars").as("w"),
        expr("cast(conv(substring(md5(concat('prio_', cast(doc_id as string))), 1, 8), 16, 10) as bigint)")
          .as("h"))
      .withColumn("pri",
        floor(col("w").cast("double") * lit(4294967296.0)
          / (col("h") + lit(1L)).cast("double")).cast("bigint"))
      .groupBy("lang")
      .agg(expr(s"graft_topk(-pri, doc_id, $k)").as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.v").cast("bigint").as("doc_id"),
        (-col("col.k")).cast("bigint").as("priority"))
    // weight fetch: the |langs|·k manifest broadcasts against the scan
    // (the q209 semi-join shape — the corpus side never shuffles)
    docsIn
      .select(col("doc_id"), col("n_chars").cast("bigint").as("weight"))
      .join(broadcast(manifest), Seq("doc_id"))
      .select(col("lang"), col("rank"), col("doc_id"), col("weight"),
        col("priority"))
      .orderBy("lang", "rank")
  }

  // ---------------------------------------------------------------- q211

  /** BIGRAM-LM QUALITY SCORE — the Markov generalization of q75's
    * unigram scorer and the in-engine form of the CCNet practice of
    * scoring documents against a corpus language model: train add-one-
    * smoothed bigram transition probabilities on the corpus itself
    * (c2(w1,w2) bigram counts; c1(w1) = Σ_w2 c2, the prefix mass,
    * DERIVED from the bigram counts so numerator and denominator come
    * from one exchange; V = |vocab| for the smoothing floor), then
    * score each document by its mean smoothed transition probability
    * p = (c2+1)/(c1+V). Gibberish token sequences make rare
    * transitions and score near the 1/(c1+V) smoothing floor;
    * boilerplate scores high — the same separation a log-perplexity
    * gives, WITHOUT logs: each per-bigram p quantizes to
    * floor(p·1e12) (one correctly-rounded double division of two
    * exact longs, the q75 lattice discipline — engine log() ULP
    * differences never arise), the quantized terms sum exactly, and
    * one terminal division yields the score.
    *
    * Scale: bigram counting is one shuffle on the (w1,w2) pair — a
    * scaling key; the prefix mass re-aggregates the counted frame
    * (|vocab²| rows, not the corpus); scoring joins the doc bigram
    * stream against the two count frames on scaling keys; V rides as
    * a bounded driver scalar. Stop-wordy skew on the hot prefixes is
    * handled by AQE's runtime skew split, which the STAGED-LEAF count
    * frames make structurally possible — see [[stagedBigramLm]]. */
  def q211BigramQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (c2p, c1p, v) = stagedBigramLm(s, dir)
    bigramScore(bigrams(docs), s.read.parquet(c2p), s.read.parquet(c1p), v)
  }

  // ---------------------------------------------------------------- q219

  /** q219 — CCNet HEAD/MIDDLE/TAIL partition (Wenzek et al. 2020 §3.3):
    * split each language's documents into equal thirds by LM quality
    * score and report the per-(lang, bucket) bill — doc counts, bigram
    * mass, and the score range each bucket spans. This is the
    * composition CCNet actually ships: q211's trained LM scores the
    * corpus, and the per-language score distribution decides which
    * third of the data a doc lands in (head = best-scoring — training
    * mixes then oversample head, drop tail).
    *
    * Tertile assignment uses the EXACT per-language rank via the
    * two-phase bucket discipline (the q116/q150 shape): coarse score
    * buckets (floor(score * 1e4), monotone in score) aggregate to
    * per-(lang, bucket) summaries; offsets come from a window over
    * SUMMARIES (|langs x buckets| rows, bounded); the intra-bucket
    * row_number runs per (lang, vb) — bucket-bounded partitions, never
    * a whole-language sort on one task (the StragglerGuard ban). Rank
    * r of n, ascending by (score, doc_id): tail = r <= n/3, middle to
    * 2n/3, head above. The score doubles are engine-identical (q211's
    * lattice), so both engines compute the same ranks.
    *
    * Scale: LM counts come from the staged once-per-corpus leaves;
    * scoring is q211's join; the partition adds one (lang, vb)
    * aggregate, one summary window, one bucket-bounded intra window,
    * and one bounded final aggregate — no corpus-wide sort anywhere. */
  def q219CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (c2p, c1p, v) = stagedBigramLm(s, dir)
    val scored = bigramScore(bigrams(docs),
      s.read.parquet(c2p), s.read.parquet(c1p), v)
    val base = scored
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("vb", expr("cast(floor(score * 1e4) as bigint)"))
    val wOff = Window.partitionBy("lang").orderBy("vb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sums = base.groupBy("lang", "vb").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum("bc").over(wOff), lit(0L)))
      .withColumn("n", sum("bc").over(Window.partitionBy("lang")))
      .select("lang", "vb", "off", "n")
    val wIntra = Window.partitionBy("lang", "vb").orderBy("score", "doc_id")
    base.join(sums, Seq("lang", "vb"))
      .withColumn("r", col("off") + row_number().over(wIntra))
      .withColumn("bucket", expr(
        "case when r <= n div 3 then 'tail' " +
        "when r <= (2 * n) div 3 then 'middle' else 'head' end"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_bigrams").cast("bigint").as("sum_bigrams"),
        min("score").as("min_score"), max("score").as("max_score"))
      .orderBy("lang", "bucket")
  }

  /** Exploded (doc_id, w1, w2) bigram stream of a (doc_id, text) frame. */
  private[graft] def bigrams(docs: DataFrame): DataFrame = docs
    .withColumn("toks", expr("split(text, ' ')"))
    .filter(expr("size(toks) >= 2"))
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] as w1, toks[i] as w2))"))
      .as("b"))
    .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The trained bigram LM as STAGED LEAVES (c2/c1 count parquets +
    * the vocab scalar), once per corpus fingerprint — the
    * CCNet shape made explicit: the language model is trained ONCE and
    * scores many batches, so its counts are an artifact, not a
    * subtree. Staging is also what makes the hot-prefix skew
    * mitigation REAL: with the counts derived inline, each scoring
    * join's build side is a final aggregate sitting directly above its
    * shuffle, a shape AQE's OptimizeSkewedJoin cannot split (the rule
    * pattern-matches SMJ over bare shuffle stages — measured, not
    * assumed; SkewJoinSpec pins the negative control). As leaf scans
    * the count frames re-shuffle onto the join keys through ordinary
    * exchanges and a stop-wordy hot prefix skew-splits at runtime
    * (SkewJoinSpec pins the split firing AND result preservation). */
  /** The registered-query LM stage, durable through the Layouts
    * registry (round 15): counts land under the registry base, the
    * vocab scalar in a sidecar file that every call re-reads, so a
    * later call attaches instead of re-training. */
  private def stagedBigramLm(s: SparkSession, dir: String): (String, String, Long) = {
    val base = graft.etl.Layouts.stage(s, "bglm", "v1", dir,
      Seq("documents")) { b =>
      val (_, _, v) = trainBigramLm(s, Tables.documents(s, dir), Some(b))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(b, "vocab.txt"),
        v.toString.getBytes("UTF-8"))
      b
    }
    val v = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "vocab.txt")), "UTF-8").trim.toLong
    (s"$base/c2", s"$base/c1", v)
  }

  /** Train the add-one-smoothed LM counts into staged parquets (under
    * `under` when given — the durable form — else fresh session staging;
    * the vocab size rides as a bounded driver scalar, one long). */
  private[graft] def trainBigramLm(s: SparkSession, docs: DataFrame,
                                   under: Option[String] = None): (String, String, Long) = {
    val bi = bigrams(docs)
    val c2p = under.map(b => s"$b/c2").getOrElse(graft.Staging.fresh("bglm_c2"))
    bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .write.mode("overwrite").parquet(c2p)
    val c1p = under.map(b => s"$b/c1").getOrElse(graft.Staging.fresh("bglm_c1"))
    s.read.parquet(c2p).groupBy("w1").agg(sum("c2").as("c1"))
      .write.mode("overwrite").parquet(c1p)
    val v = docs.select(explode(expr("split(text, ' ')")).as("tok"))
      .agg(countDistinct("tok")).head().getLong(0)
    (c2p, c1p, v)
  }

  /** Score a bigram stream against trained count frames: p(w2|w1) =
    * (c2+1)/(c1+V) per transition, e12-quantized exactly, mean per doc. */
  private[graft] def bigramScore(bi: DataFrame, c2: DataFrame, c1: DataFrame,
                                 v: Long): DataFrame =
    bi.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("pq", expr(
        s"cast(floor(cast(c2 + 1 as double) / cast(c1 + ${v}L as double) * 1e12) as bigint)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"), sum("pq").as("spq"))
      .withColumn("score", expr(
        "cast(spq as double) / (1e12 * cast(n_bigrams as double))"))
      .select(col("doc_id").cast("bigint").as("doc_id"), col("n_bigrams"),
        col("score"))
      .orderBy("doc_id")

  /** The q211 core over any in-memory (doc_id, text) frame — shared
    * with CorpusSpec's separation and self-consistency proofs. Counts
    * derive inline (no staging) — the right shape for adversarial
    * fixtures; the registered query scores against the staged LM. */
  private[graft] def bigramQuality(docs: DataFrame): DataFrame = {
    val bi = bigrams(docs)
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val v = docs.select(explode(expr("split(text, ' ')")).as("tok"))
      .agg(countDistinct("tok")).head().getLong(0)
    bigramScore(bi, c2, c1, v)
  }

  // ---------------------------------------------------------------- q225

  /** q225 — per-source TOKEN-DISTRIBUTION drift: each source's hashed
    * unigram distribution against the REST of the corpus (global minus
    * source — the q204 embedding-drift idiom on the categorical side),
    * reported as exact total-variation distance on the integer
    * lattice: TV = Σ_b |obs_b·R − rest_b·S| / (2·S·R), with the sum of
    * cross-multiplied absolute differences an exact BIGINT and one
    * integer e6 floor at the end. The "different tokenizer / different
    * crawl parser" health check: a source whose token mix diverges
    * from the corpus flags here before it skews the mixture math
    * (q69) downstream. TV rather than χ²/KL because it needs no
    * division or log per bucket — the whole statistic stays exact.
    *
    * Scale: one (source, bucket) aggregate over the exploded token
    * stream (map-side combined; output bounded at |sources|·16 rows),
    * then summary-frame joins only — the grid densify, the global
    * bucket totals, and the two-pass S/R fold all run on ≤ 320 rows
    * regardless of corpus size. Headroom: obs·R ≤ G² for G total
    * grams; 1e6·Σ|…| ≤ 2e6·G² stays in BIGINT to G ≈ 2e6 (fixture
    * G ≈ 6e4); past that the final fold widens to decimal(38,0), same
    * plan (the q187 discipline). */
  def q225TokenDrift(s: SparkSession, dir: String): DataFrame = {
    val tb = Tables.documents(s, dir)
      .select(col("source"), explode(expr("split(text, ' ')")).as("tok"))
      .select(col("source"),
        expr("cast(conv(substring(md5(tok), 8, 1), 16, 10) as bigint)").as("b"))
    val cnt = tb.groupBy("source", "b").agg(count(lit(1)).as("cnt"))
    // sources from the metadata column directly — deriving them from
    // `cnt` would drag the token explode into a second corpus pass
    val grid = Tables.documents(s, dir).select("source").distinct()
      .crossJoin(s.range(16).select(col("id").as("b")))
    val obs = grid.join(cnt, Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("cnt"), lit(0L)).as("obs"))
    val gb = obs.groupBy("b").agg(sum("obs").as("g"))
    val j = obs.join(gb, Seq("b")).withColumn("rest", col("g") - col("obs"))
    val sr = j.groupBy("source")
      .agg(sum("obs").as("sg"), sum("rest").as("rg"))
    j.join(sr, Seq("source"))
      .groupBy("source")
      .agg(max("sg").as("sg"), max("rg").as("rg"),
        sum(abs(col("obs") * col("rg") - col("rest") * col("sg"))).as("sa"))
      .select(col("source"), col("sg").cast("bigint").as("n_grams"),
        expr("(1000000 * sa) div (2 * sg * rg)").cast("bigint").as("tv_e6"))
      .orderBy(desc("tv_e6"), asc("source"))
  }

  // ---------------------------------------------------------------- q269

  /** q269 — QUASI-IDENTIFIER k-ANONYMITY audit (Sweeney 2002): per
    * source, the share of documents whose quasi-identifier tuple —
    * here (lang, n_chars÷100, word-count÷10), the released metadata a
    * re-identification attack would join on — occurs fewer than k = 5
    * times in the WHOLE corpus. The privacy-governance companion to
    * q60's PII scrub and q250's takedown: scrubbing removes direct
    * identifiers, this audit measures whether the residual metadata
    * still singles documents out. Reported per source: document count,
    * violating-document count (global equivalence class < k), the
    * e6-floored violation share, the number of distinct QI classes the
    * source touches, and the smallest global class it participates in.
    *
    * Scale shape: ONE corpus scan feeding a (source, QI-tuple)
    * count (map-side combinable; output bounded by |sources| × the QI
    * lattice, not by rows). Global class sizes are a second-level
    * aggregate OF THAT SUMMARY FRAME — no re-scan — and ride back via
    * a broadcast join (the class frame is bounded by the QI lattice:
    * |langs| × length-buckets × word-count-buckets, corpus-size-
    * independent). All counters exact BIGINT; the share is the usual
    * e6 integer floor, denominators ≥ 1 by construction. */
  def q269KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val perClass = Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        expr("n_chars div 100").cast("bigint").as("len_b"),
        expr("cast(size(split(text, ' ')) div 10 as bigint)").as("wc_b"))
      .groupBy("source", "lang", "len_b", "wc_b")
      .agg(count(lit(1)).cast("bigint").as("n_sq"))
    val cls = perClass.groupBy("lang", "len_b", "wc_b")
      .agg(sum("n_sq").cast("bigint").as("c"))
    perClass.join(broadcast(cls), Seq("lang", "len_b", "wc_b"))
      .groupBy("source")
      .agg(sum("n_sq").cast("bigint").as("n_docs"),
        sum(expr(s"case when c < $k then n_sq else 0 end"))
          .cast("bigint").as("n_violating"),
        count(lit(1)).cast("bigint").as("n_classes"),
        min("c").cast("bigint").as("min_class_size"))
      .withColumn("viol_share_e6",
        expr("(1000000 * n_violating) div n_docs").cast("bigint"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q337

  /** The truncated two-sided geometric noise ladder at ε = ln 2 (Ghosh
    * et al. 2012's geometric mechanism — the discrete Laplace, the
    * canonical ε-DP mechanism for integer counts). With α = e^(−ε) =
    * 1/2, P(X = k) = (1/3)·2^(−|k|) — every CDF threshold is an exact
    * binary fraction over v ∈ [0, 3·2^20) with v = 3·u and u a 20-bit
    * uniform, so the inverse-CDF walk is pure integer CASE arithmetic
    * both engines evaluate bit-identically. Truncated at |k| ≤ 8 (the
    * standard truncated-geometric variant; the residual 2^13/3·2^20 ≈
    * 0.26% tail mass folds to 0). */
  private def dpNoiseLadder(v: String): String = {
    val sb = new StringBuilder("CASE ")
    var bound = 1L << 20
    sb ++= s"WHEN $v < $bound THEN 0 "
    for (k <- 1 to 8) {
      val span = 1L << (20 - k)
      bound += span; sb ++= s"WHEN $v < $bound THEN $k "
      bound += span; sb ++= s"WHEN $v < $bound THEN ${-k} "
    }
    sb ++= "ELSE 0 END"
    sb.toString
  }

  /** DuckDB-side 20-bit integer from the first 5 hex digits of
    * md5(`e`) — the q88 hex-walk idiom. */
  private def duckHex5(e: String): String =
    (1 to 5).map(i =>
      s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1) * ${1L << (4 * (5 - i))}")
      .mkString("(", " + ", ")")

  /** q337 — DIFFERENTIALLY-PRIVATE corpus release: per-source document
    * counts and character mass released through the ε-DP geometric
    * mechanism (ε = ln 2 per statistic), the statistical-disclosure
    * companion to the syntactic privacy family (q269 k-anonymity /
    * q271 l-diversity / q279 t-closeness): those audit what a release
    * of the raw table would leak, this RELEASES a protected aggregate.
    * Counts have sensitivity 1 and take integer geometric noise
    * directly; the character sum is first CLIPPED per document at
    * C = 1000 (bounding any one document's influence — the standard
    * sum-release recipe) and takes noise scaled by C. The noise source
    * in this harness is a per-category hash (deterministic, so the
    * DuckDB oracle replays the release bit for bit and the hash gate
    * verifies the MECHANISM arithmetic — ladder thresholds, clipping,
    * scaling); a production release swaps the hash for a CSPRNG and
    * keeps every other line.
    *
    * Scale: one map-side-combinable aggregate; the noise is a
    * per-group scalar projection. Nothing about the mechanism touches
    * row-level data after the clip. */
  def q337DpRelease(s: SparkSession, dir: String): DataFrame = {
    val clip = 1000L
    Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_true"),
        sum(least(col("n_chars"), lit(clip))).as("cc"))
      .withColumn("v1", expr(
        "3 * cast(conv(substring(md5(concat('dp_', source)), 1, 5), 16, 10) as bigint)"))
      .withColumn("v2", expr(
        "3 * cast(conv(substring(md5(concat('dpc_', source)), 1, 5), 16, 10) as bigint)"))
      .select(col("source"),
        (col("n_true") + expr(dpNoiseLadder("v1"))).cast("bigint").as("n_docs_dp"),
        (col("cc") + lit(clip) * expr(dpNoiseLadder("v2"))).cast("bigint").as("chars_dp"))
      .orderBy("source")
  }

  private[operators] def q337OracleSql: String =
    s"""WITH g AS (SELECT source, COUNT(*) AS n_true,
       |    SUM(LEAST(n_chars, 1000)) AS cc
       |  FROM documents GROUP BY source),
       |n AS (SELECT source, n_true, cc,
       |    3 * ${duckHex5("'dp_' || source")} AS v1,
       |    3 * ${duckHex5("'dpc_' || source")} AS v2
       |  FROM g)
       |SELECT source,
       |  CAST(n_true + ${dpNoiseLadder("v1")} AS BIGINT) AS n_docs_dp,
       |  CAST(cc + 1000 * (${dpNoiseLadder("v2")}) AS BIGINT) AS chars_dp
       |FROM n ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q271

  /** q271 — l-DIVERSITY audit (Machanavajjhala et al. 2007): the
    * attribute-disclosure companion to q269's k-anonymity. A class can
    * be k-anonymous yet still leak: if every document in a
    * quasi-identifier class comes from ONE source, matching the class
    * reveals the sensitive attribute (here `source` — the provenance a
    * governance regime may need to keep unlinkable) even without
    * singling out a row. Per lang: how many QI classes exist, the
    * smallest distinct-source count any class has (min l), how many
    * classes are single-source (l < 2), how many documents sit in
    * them, and the e6-floored at-risk share.
    *
    * Scale shape: ONE corpus scan into a (QI-tuple) aggregate carrying
    * an exact COUNT(DISTINCT source) — two-phase, map-side partials on
    * the bounded (tuple, source) key — then a rollup of the bounded
    * class frame on lang. Nothing after the first aggregate scales
    * with rows; all counters exact BIGINT. */
  def q271LDiversity(s: SparkSession, dir: String): DataFrame = {
    val cls = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        expr("n_chars div 100").cast("bigint").as("len_b"),
        expr("cast(size(split(text, ' ')) div 10 as bigint)").as("wc_b"))
      .groupBy("lang", "len_b", "wc_b")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        countDistinct("source").cast("bigint").as("l"))
    cls.groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_classes"),
        sum("n_docs").cast("bigint").as("n_docs"),
        min("l").cast("bigint").as("min_l"),
        sum(expr("case when l < 2 then 1 else 0 end"))
          .cast("bigint").as("n_classes_low"),
        sum(expr("case when l < 2 then n_docs else 0 end"))
          .cast("bigint").as("n_docs_at_risk"))
      .withColumn("risk_share_e6",
        expr("(1000000 * n_docs_at_risk) div n_docs").cast("bigint"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q279

  /** q279 — t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007): the
    * third rung of the disclosure ladder after q269's k-anonymity
    * (don't be singled out) and q271's l-diversity (don't share one
    * sensitive value): even an l-diverse class leaks when its
    * sensitive-attribute DISTRIBUTION skews far from the corpus-wide
    * one (a class that is 95% one source tells an attacker the
    * provenance with 95% confidence no matter how many sources appear
    * once). Per QI class — q269's (lang, n_chars÷100, word-count÷10)
    * — the total-variation distance between the class's source
    * distribution and the global one, as the exact integer
    * cross-multiplication tv_e6 = ⌊1e6·Σ_s|n_cs·N − n_gs·N_c| /
    * (2·N_c·N)⌋; sources absent from the class contribute n_gs·N_c,
    * folded in closed form as N_c·(N − Σ_{s∈class} n_gs) so no
    * class × source grid is ever materialized. Reported per lang:
    * classes, docs, worst tv, classes and docs beyond t = 0.4, and
    * the e6 at-risk share.
    *
    * Scale shape: ONE corpus scan into the (class, source) count —
    * map-side combinable, output bounded by the QI lattice × sources,
    * not rows. Everything downstream aggregates THAT summary frame;
    * the source marginal and class totals ride back via broadcast
    * joins of bounded frames. Headroom: 1e6·N_c·N ≤ 1e6·N² is exact
    * BIGINT to N ~ 4.3e6 docs; past that the tv numerator needs
    * decimal(38,0) (the q259 lift note). */
  def q279TCloseness(s: SparkSession, dir: String): DataFrame = {
    val t = 400000L // t = 0.4 on the e6 lattice
    val cs = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        expr("n_chars div 100").cast("bigint").as("len_b"),
        expr("cast(size(split(text, ' ')) div 10 as bigint)").as("wc_b"))
      .groupBy("lang", "len_b", "wc_b", "source")
      .agg(count(lit(1)).cast("bigint").as("n_cs"))
    val gs = cs.groupBy("source").agg(sum("n_cs").cast("bigint").as("n_gs"))
    val tot = gs.agg(sum("n_gs").cast("bigint").as("n_t"))
    val nc = cs.groupBy("lang", "len_b", "wc_b")
      .agg(sum("n_cs").cast("bigint").as("n_c"))
    val cls = cs
      .join(broadcast(gs), Seq("source"))
      .join(broadcast(nc), Seq("lang", "len_b", "wc_b"))
      .crossJoin(broadcast(tot))
      .groupBy("lang", "len_b", "wc_b")
      .agg(max("n_c").as("n_c"), max("n_t").as("n_t"),
        sum(abs(col("n_cs") * col("n_t") - col("n_gs") * col("n_c")))
          .as("sa"),
        sum("n_gs").as("sp"))
      .withColumn("tv_e6",
        expr("(1000000 * (sa + n_c * (n_t - sp))) div (2 * n_c * n_t)")
          .cast("bigint"))
    cls.groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_classes"),
        sum("n_c").cast("bigint").as("n_docs"),
        max("tv_e6").cast("bigint").as("max_tv_e6"),
        sum(expr(s"case when tv_e6 > $t then 1 else 0 end"))
          .cast("bigint").as("n_classes_over"),
        sum(expr(s"case when tv_e6 > $t then n_c else 0 end"))
          .cast("bigint").as("n_docs_at_risk"))
      .withColumn("risk_share_e6",
        expr("(1000000 * n_docs_at_risk) div n_docs").cast("bigint"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q284

  /** q284 — CLUSTER-CONSISTENT SPLIT REPAIR: the remediation q226's
    * split-leakage audit calls for. q88's salted-hash manifest assigns
    * splits per document, so a near-dup cluster can straddle
    * train/test — memorized-duplicate leakage. The repair rule is the
    * standard one: every clustered document moves to the split of its
    * cluster REPRESENTATIVE (the min-id member, which IS the q50
    * cluster label), making cluster membership split-atomic by
    * construction. Per split: population before and after, docs moved
    * in/out, and the cluster count anchored to the split — the
    * manifest delta a training run applies.
    *
    * Scale shape: splits are the codegen'd q88 hash projection; the
    * cluster labels are the STAGED ccLabels fixpoint (once per corpus,
    * durable); the representative's split rides ONE equi-join of the
    * split frame on the label key (the rep id is the label — no
    * argmin pass); rollups are bounded by 3 splits. */
  def q284SplitRepair(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split_', " +
          "cast(doc_id as string))), 1, 4), 16, 10) as int) % 100"))
      .withColumn("split_b", expr(
        "case when bucket < 90 then 'train' " +
          "when bucket < 95 then 'valid' else 'test' end"))
      .select("doc_id", "split_b")
    val lbl = SimilarityQueries.ccLabels(s, dir)
      .select(col("v").as("doc_id"), col("lbl"))
    val rep = lbl.select(col("lbl")).distinct()
      .join(base.select(col("doc_id").as("lbl"),
        col("split_b").as("rep_split")), Seq("lbl"))
    val f = base.join(lbl, Seq("doc_id"), "left")
      .join(rep, Seq("lbl"), "left")
      .withColumn("split_a", coalesce(col("rep_split"), col("split_b")))
    val before = f.groupBy(col("split_b").as("split"))
      .agg(count(lit(1)).cast("bigint").as("n_before"),
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .cast("bigint").as("n_moved_out"))
    val after = f.groupBy(col("split_a").as("split"))
      .agg(count(lit(1)).cast("bigint").as("n_after"),
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .cast("bigint").as("n_moved_in"))
    val anchors = rep.groupBy(col("rep_split").as("split"))
      .agg(count(lit(1)).cast("bigint").as("n_clusters"))
    before.join(after, Seq("split"), "left")
      .join(anchors, Seq("split"), "left")
      .select(col("split"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"),
        col("n_moved_out"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"))
      .orderBy("split")
  }

  // ---------------------------------------------------------------- q274

  /** q274 — CURRICULUM SCHEDULE materialization (Bengio et al. 2009
    * applied as LLM data ordering): stage documents into difficulty
    * buckets — the simple length curriculum (word-count thresholds
    * 30/60/90), each row also carrying the (1000·distinct/n + n)
    * vocabulary-richness difficulty score — and fix a DETERMINISTIC
    * shuffled order inside each bucket via a salted-md5 key (the
    * q88/q111 idiom: training-order reproducibility across reruns and
    * engines is the whole point of materializing a schedule instead of
    * shuffling at load time). Output: the first 6 schedule positions
    * of every bucket plus each bucket's population — the head of the
    * order a trainer would consume.
    *
    * Scale shape: one narrow scan with row-local array stats, then the
    * top-k-per-group idiom (q76): rank inside the 4 bounded buckets.
    * The production form writes the full (bucket, rank) order as
    * range-partitioned shards — the sort-by-(bucket, hash) here is
    * exactly that write's shuffle; the audit head keeps the result
    * frame bounded. All integers exact. */
  def q274CurriculumSchedule(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"),
        expr("cast(greatest(size(toks), 1) as bigint)").as("n_toks"),
        expr("cast(size(array_distinct(toks)) as bigint)").as("nd"))
      .withColumn("difficulty", expr("(1000 * nd) div n_toks + n_toks"))
      .withColumn("bucket", expr(
        "cast(case when n_toks < 30 then 0 when n_toks < 60 then 1 " +
          "when n_toks < 90 then 2 else 3 end as int)"))
      .withColumn("shuf", expr("cast(conv(substring(md5(concat('curr_', " +
        "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
    val w = Window.partitionBy("bucket").orderBy(col("shuf"), col("doc_id"))
    base
      .withColumn("sched_rank", row_number().over(w).cast("bigint"))
      .withColumn("bucket_docs",
        count(lit(1)).over(Window.partitionBy("bucket")).cast("bigint"))
      .filter(col("sched_rank") <= 6)
      .select("bucket", "sched_rank", "doc_id", "n_toks", "difficulty",
        "bucket_docs")
      .orderBy("bucket", "sched_rank")
  }

  // ---------------------------------------------------------------- q275

  /** q275 — k-ANONYMITY GENERALIZATION LADDER (the Datafly/Incognito
    * full-domain generalization family, Sweeney 2002 §5): when q269
    * finds violating quasi-identifier classes, the remedy is not
    * deletion but COARSENING — halve the resolution of the released
    * length and word-count buckets until every class reaches k = 5,
    * and suppress only what the coarsest level still cannot fix. This
    * operator evaluates the whole ladder (levels 0-3: bucket widths
    * ×1, ×2, ×4, ×8) in one pass and reports, per lang and level, the
    * class count, the still-violating document count, and the minimal
    * safe level (−1 when even level 3 leaves residue — those documents
    * are the suppression set).
    *
    * Scale shape: the q269 contract plus a free ladder — ONE corpus
    * scan into the finest (lang, len_b, wc_b) count frame; every
    * coarser level derives by INTEGER-DIVIDING THE BOUNDED SUMMARY
    * FRAME's keys (generalization lattices compose through div — no
    * re-scan, the explode-by-level runs on hundreds of rows). Rollups
    * and the min-safe window all on frames bounded by the QI lattice ×
    * 4 levels. All counters exact BIGINT. */
  def q275GeneralizationLadder(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val base = Tables.documents(s, dir)
      .select(col("lang"),
        expr("n_chars div 100").cast("bigint").as("lb"),
        expr("cast(size(split(text, ' ')) div 10 as bigint)").as("wb"))
      .groupBy("lang", "lb", "wb")
      .agg(count(lit(1)).cast("bigint").as("n"))
    val perLevel = base
      .select(col("lang"), col("lb"), col("wb"), col("n"),
        explode(expr("array(0, 1, 2, 3)")).as("lvl"))
      .withColumn("d", expr(
        "case lvl when 0 then 1L when 1 then 2L when 2 then 4L else 8L end"))
      .groupBy(col("lang"), col("lvl"), expr("lb div d").as("glb"),
        expr("wb div d").as("gwb"))
      .agg(sum("n").cast("bigint").as("c"))
      .groupBy("lang", "lvl")
      .agg(count(lit(1)).cast("bigint").as("n_classes"),
        sum(expr(s"case when c < $k then c else 0 end"))
          .cast("bigint").as("n_violating"))
    perLevel
      .withColumn("min_safe_level", coalesce(
        min(expr("case when n_violating = 0 then lvl end"))
          .over(Window.partitionBy("lang")), lit(-1)).cast("bigint"))
      .select(col("lang"), col("lvl").cast("int").as("lvl"),
        col("n_classes"), col("n_violating"), col("min_safe_level"))
      .orderBy("lang", "lvl")
  }

  // ---------------------------------------------------------------- q276

  /** q276 — LICENSE/USAGE-RIGHTS gate: the provenance filter a corpus
    * assembly runs before any quality or dedup pass — documents enter
    * the trainable pool only under an allowed license, conditional
    * licenses carry an attribution obligation downstream, blocked
    * licenses are excluded outright, and UNKNOWN is its own verdict
    * (the quarantine queue for manual review — a pipeline that lumps
    * unknown into allowed or blocked is making a legal decision by
    * accident). The fixture carries no rights metadata, so — the q60
    * observability idiom — each document draws a deterministic license
    * from a salted md5 of its id, identically in both engines; a real
    * deployment replaces that one projection with the crawl's license
    * column. Per source: the four verdict masses and the e6-floored
    * trainable share (allowed + conditional).
    *
    * Scale shape: one narrow scan, one codegen'd CASE over the bounded
    * 5-value license enum, ONE map-side-combinable aggregate on the
    * source key. No joins; scan-bound at 100 TB. */
  def q276LicenseGate(s: SparkSession, dir: String): DataFrame = {
    val lic = "element_at(array('cc0', 'ccby', 'ccbysa', 'proprietary', " +
      "'unknown'), 1 + cast(conv(substring(md5(concat('lic_', " +
      "cast(doc_id as string))), 1, 2), 16, 10) as int) % 5)"
    Tables.documents(s, dir)
      .select(col("source"), expr(lic).as("license"))
      .withColumn("verdict", expr(
        "case when license in ('cc0', 'ccby') then 'allowed' " +
          "when license = 'ccbysa' then 'conditional' " +
          "when license = 'proprietary' then 'blocked' " +
          "else 'unknown' end"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(expr("case when verdict = 'allowed' then 1 else 0 end"))
          .cast("bigint").as("n_allowed"),
        sum(expr("case when verdict = 'conditional' then 1 else 0 end"))
          .cast("bigint").as("n_conditional"),
        sum(expr("case when verdict = 'blocked' then 1 else 0 end"))
          .cast("bigint").as("n_blocked"),
        sum(expr("case when verdict = 'unknown' then 1 else 0 end"))
          .cast("bigint").as("n_unknown"))
      .withColumn("trainable_share_e6",
        expr("(1000000 * (n_allowed + n_conditional)) div n_docs")
          .cast("bigint"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q278

  /** q278 — CRAWL-OVER-CRAWL corpus diff: the reconciliation report an
    * incremental pipeline produces between two snapshots of the same
    * corpus — which documents disappeared, which changed content under
    * the same id, which are byte-identical — so downstream consumers
    * (dedup indexes, datacards q265, takedown logs q250) know exactly
    * what to reprocess. Snapshot B is derived from snapshot A
    * deterministically in both engines: documents with doc_id % 11 = 0
    * are dropped (takedowns/rot) and documents with doc_id % 13 = 0
    * get an appended revision marker (in-place edits). The diff joins
    * ONLY md5 fingerprints, never text. Per source: removed, changed,
    * unchanged masses, the char delta of changed docs, and the
    * e6-floored churn share (removed + changed over the old snapshot).
    *
    * Scale shape: two passes over the corpus project (doc_id,
    * fingerprint, n_chars) — at scale these are two snapshot SCANS of
    * narrow columns — then ONE full-outer equi-join on the doc_id key
    * and a bounded source rollup. Fingerprint compare makes "changed"
    * exact without shuffling text; all counters exact BIGINT. */
  def q278CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(col("text")).as("fp_a"),
        expr("cast(length(text) as bigint)").as("len_a"))
    val b = Tables.documents(s, dir)
      .filter(expr("doc_id % 11 <> 0"))
      .select(col("doc_id"),
        expr("case when doc_id % 13 = 0 then concat(text, ' rev', " +
          "cast(doc_id % 7 as string)) else text end").as("tb"))
      .select(col("doc_id"), md5(col("tb")).as("fp_b"),
        expr("cast(length(tb) as bigint)").as("len_b"))
    a.join(b, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_old"),
        sum(expr("case when fp_b is null then 1 else 0 end"))
          .cast("bigint").as("n_removed"),
        sum(expr("case when fp_b is not null and fp_b <> fp_a " +
          "then 1 else 0 end")).cast("bigint").as("n_changed"),
        sum(expr("case when fp_b = fp_a then 1 else 0 end"))
          .cast("bigint").as("n_unchanged"),
        sum(expr("case when fp_b is not null and fp_b <> fp_a " +
          "then len_b - len_a else 0 end")).cast("bigint").as("chars_delta"))
      .withColumn("churn_e6",
        expr("(1000000 * (n_removed + n_changed)) div n_old").cast("bigint"))
      .orderBy("source")
  }

  /** Cumulative Poisson(1) CDF × 2^32, floored — the literal inverse-CDF
    * table both engines share for the bootstrap weight draw (k = 0..6;
    * the ≥7 tail, ~8.3e-5 of draws, is capped at 7 and documented). */
  private val poissonThresholds = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L,
    4279248373L, 4292415291L, 4294609777L)

  /** q299 — POISSON-BOOTSTRAP confidence interval for a per-source mean
    * (here mean document length): 32 bootstrap replicas where each
    * document enters replica b with weight w ~ Poisson(1), drawn by
    * inverting a salted-md5 uniform through the literal CDF table — the
    * STREAMING bootstrap (Chamandy et al., Google 2012): a true resample
    * of 100 TB is impossible, but Poisson weights need one pass, no
    * coordination, and are reproducible from (b, doc_id) alone. The CI is
    * the rank-2 / rank-31 replica means (~5th/95th percentile of 32),
    * exact e6 integers end to end.
    *
    * Scale shape: the 32× replica fanout carries only (source, weight,
    * scalar) rows and collapses through map-side partial aggregation into
    * ≤ |sources|×32 shuffled rows; the rank selection then runs on that
    * bounded frame. One corpus scan for the replicas, one for the point
    * estimate. */
  def q299PoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val wCase = poissonThresholds.zipWithIndex
      .map { case (t, k) => s"when u < ${t}L then ${k}L" }
      .mkString("case ", " ", " else 7L end")
    val reps = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars").as("x"),
        explode(expr("sequence(0, 31)")).as("b"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat('boot_', cast(b as string), '_', " +
          "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("w", expr(wCase))
      .groupBy("source", "b")
      .agg(sum(expr("w * x")).as("wx"), sum("w").as("wsum"))
      .withColumn("mean_b", expr("(1000000 * wx) div greatest(wsum, 1)"))
    val wr = Window.partitionBy("source").orderBy(asc("mean_b"), asc("b"))
    val ci = reps.withColumn("rk", row_number().over(wr))
      .groupBy("source")
      .agg(max(when(col("rk") === 2, col("mean_b"))).as("lo"),
        max(when(col("rk") === 31, col("mean_b"))).as("hi"))
    val pt = Tables.documents(s, dir).groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        expr("(1000000 * sum(n_chars)) div count(1)").cast("bigint").as("mean_e6"))
    pt.join(ci, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_e6"),
        col("lo").cast("bigint").as("boot_lo_e6"),
        col("hi").cast("bigint").as("boot_hi_e6"))
      .orderBy("source")
  }

  /** q303 — WORST-WINDOW quality span: for each document, the 16-token
    * window whose 15 bigram transitions score lowest under the staged
    * q211 LM — LINE-LEVEL filtering (the RefinedWeb/CCNet practice of
    * cutting junk spans out of otherwise-good documents) instead of
    * q211's whole-document gate. Reports each document's worst window
    * start and its exact e12 probability mass; a curation pass drops or
    * truncates at that span.
    *
    * Scale shape: the LM counts are the staged once-per-corpus leaves;
    * scoring is one positioned-bigram join; the sliding 15-bigram sum, the
    * per-document bigram count, and the argmin pick are three window
    * functions over ONE (doc_id)-partitioned exchange, each partition
    * bounded by document length. Everything on the exact e12 lattice —
    * the argmin has no float ambiguity. */
  def q303WorstWindow(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (c2p, c1p, v) = stagedBigramLm(s, dir)
    val biPos = docs
      .withColumn("toks", expr("split(text, ' ')"))
      .filter(expr("size(toks) >= 16"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] as w1, toks[i] as w2))")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("i"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val scored = biPos
      .join(s.read.parquet(c2p), Seq("w1", "w2"))
      .join(s.read.parquet(c1p), Seq("w1"))
      .withColumn("pq", expr(
        s"cast(floor(cast(c2 + 1 as double) / cast(c1 + ${v}L as double) * 1e12) as bigint)"))
    val wDoc = Window.partitionBy("doc_id")
    val wSlide = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, 14)
    val wPick = Window.partitionBy("doc_id").orderBy(asc("wsum"), asc("i"))
    scored
      .withColumn("nb", count(lit(1)).over(wDoc))
      .withColumn("wsum", sum("pq").over(wSlide))
      .filter(col("i") + 14 <= col("nb"))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("nb").cast("bigint").as("n_bigrams"),
        col("i").cast("int").as("worst_start"),
        col("wsum").cast("bigint").as("worst_sum_e12"))
      .orderBy("doc_id")
  }

  /** q306 — DETERMINISTIC AUGMENTATION (salted token dropout) with a
    * conservation audit: drop each token at position i with probability
    * 1/8 via a salted-md5 draw keyed on (doc_id, i) — reproducible
    * augmentation, the EDA-style variant a training pipeline generates
    * WITHOUT load-time randomness (position 1 always survives so no
    * document augments to empty). Per source: documents, tokens in/out,
    * the exact e6 drop rate, the count of DISTINCT augmented texts, and
    * n_global_dup — this source's documents whose augmented text
    * collides with ANY document CORPUS-WIDE — the collision audit that
    * catches augmentation manufacturing new exact duplicates (two
    * documents dropping into the same string would silently re-inflate
    * the dup rate q21 just paid to remove; a CROSS-source collision is
    * invisible to any per-source distinct, hence the global column).
    *
    * Scale shape: one positioned-token fanout collapsing through a
    * per-document aggregate (the augmented fingerprint is md5 of the
    * order-rebuilt kept tokens — sort_array over (i, tok) structs, a
    * per-document bounded sort), a corpus-wide fingerprint count joined
    * back on the scaling fp key, then a bounded per-source rollup with
    * a two-phase distinct on the fingerprint. */
  def q306AugmentationAudit(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        posexplode(expr("split(text, ' ')")))
      .withColumn("i", (col("pos") + 1).cast("int"))
      .withColumn("keep", expr(
        "case when i = 1 or cast(conv(substring(md5(concat('aug_', " +
          "cast(doc_id as string), '_', cast(i as string))), 1, 4), 16, 10) " +
          "as bigint) % 8 != 0 then 1L else 0L end"))
    val perDoc = toks.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_in"), sum("keep").as("n_out"),
        expr("md5(array_join(transform(sort_array(collect_list(" +
          "case when keep = 1 then struct(i, col) end)), x -> x.col), ' '))")
          .as("fp"))
    val fpCnt = perDoc.groupBy("fp").agg(count(lit(1)).as("fcnt"))
    perDoc.join(fpCnt, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_in").cast("bigint").as("tokens_in"),
        sum("n_out").cast("bigint").as("tokens_out"),
        countDistinct("fp").cast("bigint").as("n_distinct_aug"),
        sum(expr("case when fcnt > 1 then 1L else 0L end")).cast("bigint")
          .as("n_global_dup"))
      .withColumn("drop_e6",
        expr("(1000000 * (tokens_in - tokens_out)) div tokens_in").cast("bigint"))
      .select("source", "n_docs", "tokens_in", "tokens_out", "drop_e6",
        "n_distinct_aug", "n_global_dup")
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q337_dp_release" -> (q337DpRelease _),
    "q306_augmentation_audit" -> (q306AugmentationAudit _),
    "q303_worst_window" -> (q303WorstWindow _),
    "q299_poisson_bootstrap" -> (q299PoissonBootstrap _),
    "q279_t_closeness" -> (q279TCloseness _),
    "q284_split_repair" -> (q284SplitRepair _),
    "q275_generalization_ladder" -> (q275GeneralizationLadder _),
    "q276_license_gate" -> (q276LicenseGate _),
    "q278_corpus_diff" -> (q278CorpusDiff _),
    "q271_l_diversity" -> (q271LDiversity _),
    "q274_curriculum_schedule" -> (q274CurriculumSchedule _),
    "q269_k_anonymity" -> (q269KAnonymity _),
    "q225_token_drift" -> (q225TokenDrift _),
    "q211_bigram_quality" -> (q211BigramQuality _),
    "q219_ccnet_buckets" -> (q219CcnetBuckets _),
    "q209_reservoir_quantiles" -> (q209ReservoirQuantiles _),
    "q210_priority_sample" -> (q210PrioritySample _),
    "q120_padding_waste" -> (q120PaddingWaste _),
    "q111_stratified_sample" -> (q111StratifiedSample _),
    "q108_epoch_resample" -> (q108EpochResample _),
    "q101_kmv_distinct" -> (q101KmvDistinct _),
    "q203_kmv_rollup" -> (q203KmvRollup _),
    "q66_tfidf" -> (q66Tfidf _),
    "q67_bm25" -> (q67Bm25 _),
    "q68_token_packing" -> (q68TokenPacking _),
    "q69_temperature_mixture" -> (q69TemperatureMixture _),
    "q70_outlier_gate" -> (q70OutlierGate _),
    "q75_unigram_quality" -> (q75UnigramQuality _),
    "q76_topk_per_lang" -> (q76TopkPerLang _),
    "q77_weighted_interleave" -> (q77WeightedInterleave _),
    "q81_source_concentration" -> (q81SourceConcentration _),
    "q82_source_scorecard" -> (q82SourceScorecard _),
    "q88_split_manifest" -> (q88SplitManifest _),
    "q96_length_profile" -> (q96LengthProfile _),
    "q100_binned_quantiles" -> (q100BinnedQuantiles _),
    "q235_shard_manifest" -> (q235ShardManifest _),
    "q240_source_vocab_overlap" -> (q240SourceVocabOverlap _),
  )

  // ---------------------------------------------------------------- q240

  /** q240 — SOURCE VOCABULARY-OVERLAP matrix: exact Jaccard similarity
    * between every pair of sources' token vocabularies — the
    * source-redundancy readout a mixture designer checks before
    * weighting (q69) or deduplicating (q199) across sources: two crawls
    * with 0.9 vocabulary Jaccard are the same distribution wearing two
    * names.
    *
    * Shape: ONE corpus-sized shuffle (the distinct (source, token)
    * collapse — map-side combined); the intersection self-join keys on
    * the TOKEN (a scaling key), and its per-token fanout is bounded by
    * the source alphabet (≤ |sources| rows share a token), so pair
    * volume is linear in vocabulary — the q132 key-fanout rule with the
    * bounded side as the fanout, not the key. Union sizes come from
    * inclusion-exclusion on the per-source counts (no union
    * materialization), and the e6 Jaccard is one exact integer
    * division. The source-pair spine is a bounded cross of the
    * |sources|-row summary, so zero-overlap pairs still report. */
  def q240SourceVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val vs = st.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = st.select(col("source").as("sa"), col("tok"))
      .join(st.select(col("source").as("sb"), col("tok")), "tok")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("ninter"))
    vs.select(col("source").as("sa"), col("v").as("va"))
      .crossJoin(vs.select(col("source").as("sb"), col("v").as("vb")))
      .filter(col("sa") < col("sb"))
      .join(inter, Seq("sa", "sb"), "left")
      .withColumn("ninter", coalesce(col("ninter"), lit(0L)))
      .select(col("sa"), col("sb"),
        col("va").cast("bigint").as("va"),
        col("vb").cast("bigint").as("vb"),
        col("ninter").cast("bigint").as("n_shared"),
        expr("(1000000 * ninter) div (va + vb - ninter)").as("jaccard_e6"))
      .orderBy("sa", "sb")
  }

  // ---------------------------------------------------------------- q235

  /** q235 — deterministic GLOBAL SHUFFLE + exact balanced shard
    * manifest: the training-data writer's final act. A trainer wants
    * shards that are (a) a deterministic permutation of the corpus —
    * re-running the writer bit-reproduces every shard; (b) SHUFFLED —
    * adjacent documents decorrelated so each shard is an unbiased
    * corpus sample; (c) EXACTLY balanced — |shard sizes| differ by at
    * most 1 document, not the ±sqrt(n) of a bare hash mod. The salted
    * hash gives (a)+(b); an exact global rank over the hash order plus
    * round-robin assignment (shard = (rank−1) mod 8) gives (c).
    *
    * The global rank is the board's two-phase form (q116/q170 — never
    * one unpartitioned window over document rows): hash-prefix buckets
    * (h div 2^22, 1024 cells — monotone in h, so bucket-major order IS
    * global hash order), bucket offsets from one running sum over the
    * ≤1024-row bucket summary, exact in-bucket ranks from a
    * bucket-partitioned row_number. Bucket count is the parallelism
    * knob: it scales with the cluster (each bucket's window sees
    * n/buckets rows), while the oracle's single global row_number is
    * the independent formulation the hash check proves equivalent.
    * Per-shard n_langs (distinct languages present) is the audit that
    * the shuffle actually mixed strata. */
  def q235ShardManifest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat('shard_', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("bucket", expr("h div 4194304"))
      .select(col("doc_id"), col("lang"),
        expr("cast(size(split(text, ' ')) as bigint)").as("ntok"),
        col("h"), col("bucket"))
    val wo = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = d.groupBy("bucket").agg(count(lit(1)).as("bc"))
      .withColumn("off", sum("bc").over(wo) - col("bc"))
      .select("bucket", "off")
    val wi = Window.partitionBy("bucket").orderBy("h", "doc_id")
    d.join(off, "bucket")
      .withColumn("rank", col("off") + row_number().over(wi))
      .withColumn("shard", expr("cast((rank - 1) % 8 as bigint)"))
      .groupBy("shard")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("tokens"),
        countDistinct("lang").cast("bigint").as("n_langs"))
      .orderBy("shard")
  }

  /** Deterministic stratified train/valid/test split manifest (90/5/5):
    * each document's split is a pure function of a salted md5 of its id
    * ('split_' salt decorrelates it from every other doc_id hash in the
    * suite — the q86 sampling hash, the q63 event-time hash), so the
    * assignment is stable across runs, machines, and corpus growth: a doc
    * keeps its split when the corpus around it changes, which is what
    * makes eval sets trustworthy over recrawls. Output: per (lang, split)
    * document and token counts — the manifest a training run reads.
    *
    * Scale: one scan with a codegen'd hash projection, one bounded
    * groupBy (langs x 3 rows). No shuffle of document rows beyond the
    * aggregation's map-side-combined exchange. */
  def q88SplitManifest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split_', cast(doc_id as string))), 1, 4), 16, 10) as int) % 100"))
      .withColumn("split", expr(
        "case when bucket < 90 then 'train' when bucket < 95 then 'valid' else 'test' end"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(expr("cast(size(split(text, ' ')) as bigint)")).cast("bigint").as("tokens"))
      .orderBy("lang", "split")

  /** Per-language sequence-length profile — the distribution a packing/
    * truncation policy is tuned against (shard budgets, max-sequence
    * cutoffs, padding-waste estimates all read off these percentiles):
    * exact interpolated token-count quantiles per language, plus the
    * extremes. `percentile` is bit-identical to DuckDB's quantile_cont
    * (the q49-proven pair — both linearly interpolate between order
    * statistics). Scale: exact percentiles sort within each language
    * group; the GK-sketch form (q51) is the fixed-state scale path when
    * languages stop fitting a group sort. */
  def q96LengthProfile(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        expr("percentile(ntok, 0.5)").as("p50"),
        expr("percentile(ntok, 0.9)").as("p90"),
        expr("percentile(ntok, 0.99)").as("p99"),
        min("ntok").cast("bigint").as("min_tok"),
        max("ntok").cast("bigint").as("max_tok"))
      .orderBy("lang")

  /** Fixed-bin APPROXIMATE per-language length quantiles — the O(bins)
    * scale path next to [[q96LengthProfile]]'s exact `percentile` (whose
    * per-group state is every distinct value; at 100 TB a full-corpus
    * exact percentile is a sort in disguise). Two phases, both exact
    * integer arithmetic so the DuckDB twin is bit-equal:
    *
    *   1. per-language min/max (constant agg state);
    *   2. histogram into 64 equal integer bins over [mn, mx] —
    *      bin = (ntok - mn) * 64 div (mx - mn + 1), always in [0, 63] —
    *      then the estimate for quantile q is the LOWER EDGE of the
    *      first bin whose cumulative count reaches ceil(q * n), i.e.
    *      mn + bin * (mx - mn + 1) div 64.
    *
    * The error bound is one bin width ((mx - mn + 1) / 64), asserted
    * against the exact percentiles by BinnedQuantileSpec. State per
    * language: 64 counters — the shape that survives any corpus size;
    * the only windows run over 64-row bin summaries, never documents. */
  def q100BinnedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
    val bounds = d.groupBy("lang").agg(
      min("ntok").as("mn"), max("ntok").as("mx"),
      count(lit(1)).as("n"))
    val hist = d.join(bounds, Seq("lang"))
      .withColumn("bin", expr("(ntok - mn) * 64 div (mx - mn + 1)"))
      .groupBy("lang", "mn", "mx", "n", "bin")
      .agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
    hist
      .withColumn("cum", sum("cnt").over(wCum))
      .groupBy("lang", "mn", "mx", "n")
      .agg(
        min(when(col("cum") >= expr("cast(ceil(0.5 * n) as bigint)"), col("bin")))
          .as("bin50"),
        min(when(col("cum") >= expr("cast(ceil(0.95 * n) as bigint)"), col("bin")))
          .as("bin95"))
      .select(col("lang"),
        col("n").cast("bigint").as("n_docs"),
        col("mn").cast("bigint").as("min_tok"),
        col("mx").cast("bigint").as("max_tok"),
        expr("cast(mn + bin50 * (mx - mn + 1) div 64 as bigint)").as("approx_p50"),
        expr("cast(mn + bin95 * (mx - mn + 1) div 64 as bigint)").as("approx_p95"),
        expr("cast((mx - mn + 1) div 64 + 1 as bigint)").as("bin_width"))
      .orderBy("lang")
  }

  /** DuckDB has no base-16 conv(); the numeric value of the first n hex
    * digits of md5(x) via nibble Horner (the q88/q59 strpos idiom). */
  private def duckMd5Int(x: String, n: Int): String =
    (1 to n).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc) * 16 + (strpos('0123456789abcdef', substr(md5($x), $i, 1)) - 1))"
    }

  /** The add-one bigram-LM scoring chain (exact counts, one e12-floored
    * division per bigram, exact integer sum, one terminal division) —
    * ends at `ds(doc_id, n_bigrams, score)`. Shared by q211 and q219. */
  private val bigramScoreCtes =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 1),
      |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
      |  FROM t WHERE len(toks) >= 2),
      |bb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bb GROUP BY w1, w2),
      |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
      |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
      |sc AS (SELECT bb.doc_id,
      |    CAST(FLOOR(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE) * 1e12) AS BIGINT) AS pq
      |  FROM bb JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v),
      |ds AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(pq) AS DOUBLE) / (1e12 * CAST(COUNT(*) AS DOUBLE)) AS score
      |  FROM sc GROUP BY doc_id)""".stripMargin

  private def q299Oracle: String = {
    val wCase = poissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")
    s"""WITH r AS (SELECT source, doc_id, n_chars AS x,
       |    unnest(generate_series(0, 31)) AS b FROM documents),
       |u AS (SELECT source, b, x,
       |    ${duckMd5Int("concat('boot_', CAST(b AS VARCHAR), '_', CAST(doc_id AS VARCHAR))", 8)} AS u
       |  FROM r),
       |w AS (SELECT source, b, x, $wCase AS w FROM u),
       |g AS (SELECT source, b,
       |    (1000000 * SUM(w * x)) // greatest(SUM(w), 1) AS mean_b FROM w GROUP BY 1, 2),
       |rk AS (SELECT source, mean_b,
       |    row_number() OVER (PARTITION BY source ORDER BY mean_b, b) AS rk FROM g),
       |ci AS (SELECT source, MAX(CASE WHEN rk = 2 THEN mean_b END) AS lo,
       |    MAX(CASE WHEN rk = 31 THEN mean_b END) AS hi FROM rk GROUP BY source),
       |pt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST((1000000 * SUM(n_chars)) // COUNT(*) AS BIGINT) AS mean_e6
       |  FROM documents GROUP BY source)
       |SELECT pt.source, n_docs, mean_e6, CAST(lo AS BIGINT) AS boot_lo_e6,
       |  CAST(hi AS BIGINT) AS boot_hi_e6
       |FROM pt JOIN ci USING (source) ORDER BY pt.source""".stripMargin
  }

  private def q303Oracle: String =
    """WITH lm AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |lb AS (SELECT unnest(generate_series(1, len(toks) - 1)) AS i, toks
      |  FROM lm WHERE len(toks) >= 2),
      |lp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM lb),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM lp GROUP BY 1, 2),
      |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
      |vv AS (SELECT COUNT(DISTINCT tok) AS v FROM
      |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
      |  FROM t WHERE len(toks) >= 16),
      |bp AS (SELECT doc_id, i, toks[i] AS w1, toks[i + 1] AS w2 FROM bi),
      |sc AS (SELECT bp.doc_id, bp.i,
      |    CAST(floor(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vv.v AS DOUBLE) * 1e12) AS BIGINT) AS pq
      |  FROM bp JOIN c2 ON c2.w1 = bp.w1 AND c2.w2 = bp.w2
      |  JOIN c1 ON c1.w1 = bp.w1, vv),
      |wz AS (SELECT doc_id, i,
      |    SUM(pq) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 14 FOLLOWING) AS wsum,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS nb FROM sc),
      |pick AS (SELECT doc_id, nb, i, wsum,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY wsum, i) AS rn
      |  FROM wz WHERE i + 14 <= nb)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(nb AS BIGINT) AS n_bigrams,
      |  CAST(i AS INTEGER) AS worst_start, CAST(wsum AS BIGINT) AS worst_sum_e12
      |FROM pick WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private def q306Oracle: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |p AS (SELECT doc_id, source, unnest(generate_series(1, len(toks))) AS i, toks FROM t),
       |k AS (SELECT doc_id, source, i, toks[i] AS tok,
       |    CASE WHEN i = 1 OR (${duckMd5Int("concat('aug_', CAST(doc_id AS VARCHAR), '_', CAST(i AS VARCHAR))", 4)}) % 8 != 0
       |    THEN 1 ELSE 0 END AS keep
       |  FROM p),
       |d AS (SELECT doc_id, source, COUNT(*) AS n_in, SUM(keep) AS n_out,
       |    md5(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE keep = 1)) AS fp
       |  FROM k GROUP BY 1, 2),
       |fc AS (SELECT fp, COUNT(*) AS fcnt FROM d GROUP BY fp)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_in) AS BIGINT) AS tokens_in,
       |  CAST(SUM(n_out) AS BIGINT) AS tokens_out,
       |  CAST((1000000 * (SUM(n_in) - SUM(n_out))) // SUM(n_in) AS BIGINT) AS drop_e6,
       |  CAST(COUNT(DISTINCT d.fp) AS BIGINT) AS n_distinct_aug,
       |  CAST(SUM(CASE WHEN fc.fcnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_global_dup
       |FROM d JOIN fc ON fc.fp = d.fp GROUP BY source ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "q306_augmentation_audit" -> q306Oracle,
    "q303_worst_window" -> q303Oracle,
    "q299_poisson_bootstrap" -> q299Oracle,
    // q284: the q50 recursive component chain (from SimilarityQueries),
    // the identical q88 salted-md5 split draw, rep split via one join
    // on the cluster label
    "q284_split_repair" ->
      s"""WITH RECURSIVE ${SimilarityQueries.ccCompCtes},
         |sp AS (SELECT doc_id, (${duckMd5Int(
              "'split_' || CAST(doc_id AS VARCHAR)", 4)}) % 100 AS bucket
         |  FROM documents),
         |s1 AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
         |    WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split_b
         |  FROM sp),
         |cl AS (SELECT v AS doc_id, cluster_id FROM comp),
         |rep AS (SELECT DISTINCT cluster_id FROM comp),
         |reps AS (SELECT rep.cluster_id, s2.split_b AS rep_split
         |  FROM rep JOIN s1 s2 ON s2.doc_id = rep.cluster_id),
         |f AS (SELECT s1.doc_id, s1.split_b,
         |    COALESCE(reps.rep_split, s1.split_b) AS split_a
         |  FROM s1 LEFT JOIN cl USING (doc_id)
         |    LEFT JOIN reps ON cl.cluster_id = reps.cluster_id),
         |bf AS (SELECT split_b AS split, CAST(COUNT(*) AS BIGINT) AS n_before,
         |    CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved_out
         |  FROM f GROUP BY 1),
         |af AS (SELECT split_a AS split, CAST(COUNT(*) AS BIGINT) AS n_after,
         |    CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved_in
         |  FROM f GROUP BY 1),
         |an AS (SELECT rep_split AS split,
         |    CAST(COUNT(*) AS BIGINT) AS n_clusters FROM reps GROUP BY 1)
         |SELECT bf.split, bf.n_before,
         |  CAST(COALESCE(af.n_after, 0) AS BIGINT) AS n_after,
         |  CAST(COALESCE(af.n_moved_in, 0) AS BIGINT) AS n_moved_in,
         |  bf.n_moved_out,
         |  CAST(COALESCE(an.n_clusters, 0) AS BIGINT) AS n_clusters
         |FROM bf LEFT JOIN af USING (split) LEFT JOIN an USING (split)
         |ORDER BY split""".stripMargin,
    "q279_t_closeness" ->
      """WITH qi AS (SELECT lang, source, n_chars // 100 AS len_b,
        |    len(string_split(text, ' ')) // 10 AS wc_b FROM documents),
        |cs AS (SELECT lang, len_b, wc_b, source, COUNT(*) AS n_cs
        |  FROM qi GROUP BY 1, 2, 3, 4),
        |gs AS (SELECT source, SUM(n_cs) AS n_gs FROM cs GROUP BY source),
        |tot AS (SELECT SUM(n_gs) AS n_t FROM gs),
        |nc AS (SELECT lang, len_b, wc_b, SUM(n_cs) AS n_c
        |  FROM cs GROUP BY 1, 2, 3),
        |cls AS (SELECT cs.lang, cs.len_b, cs.wc_b,
        |    MAX(n_c) AS n_c, MAX(n_t) AS n_t,
        |    SUM(ABS(n_cs * n_t - n_gs * n_c)) AS sa,
        |    SUM(n_gs) AS sp
        |  FROM cs JOIN gs USING (source)
        |    JOIN nc USING (lang, len_b, wc_b), tot
        |  GROUP BY 1, 2, 3),
        |tv AS (SELECT lang, n_c,
        |    (1000000 * (sa + n_c * (n_t - sp))) // (2 * n_c * n_t) AS tv_e6
        |  FROM cls),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n_c) AS BIGINT) AS n_docs,
        |    CAST(MAX(tv_e6) AS BIGINT) AS max_tv_e6,
        |    CAST(SUM(CASE WHEN tv_e6 > 400000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_classes_over,
        |    CAST(SUM(CASE WHEN tv_e6 > 400000 THEN n_c ELSE 0 END) AS BIGINT)
        |      AS n_docs_at_risk
        |  FROM tv GROUP BY lang)
        |SELECT lang, n_classes, n_docs, max_tv_e6, n_classes_over,
        |  n_docs_at_risk,
        |  CAST((1000000 * n_docs_at_risk) // n_docs AS BIGINT)
        |    AS risk_share_e6
        |FROM g ORDER BY lang""".stripMargin,
    "q271_l_diversity" ->
      """WITH qi AS (SELECT lang, source, n_chars // 100 AS len_b,
        |    len(string_split(text, ' ')) // 10 AS wc_b FROM documents),
        |cls AS (SELECT lang, len_b, wc_b, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT source) AS l
        |  FROM qi GROUP BY 1, 2, 3),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |    CAST(MIN(l) AS BIGINT) AS min_l,
        |    CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_classes_low,
        |    CAST(SUM(CASE WHEN l < 2 THEN n_docs ELSE 0 END) AS BIGINT)
        |      AS n_docs_at_risk
        |  FROM cls GROUP BY lang)
        |SELECT lang, n_classes, n_docs, min_l, n_classes_low,
        |  n_docs_at_risk,
        |  CAST((1000000 * n_docs_at_risk) // n_docs AS BIGINT)
        |    AS risk_share_e6
        |FROM g ORDER BY lang""".stripMargin,
    // q276: identical salted-md5 license draw (nibble Horner)
    "q276_license_gate" ->
      s"""WITH d AS (SELECT source,
         |    (['cc0', 'ccby', 'ccbysa', 'proprietary', 'unknown'])[
         |      1 + CAST(${duckMd5Int(
                  "'lic_' || CAST(doc_id AS VARCHAR)", 2)} AS INT) % 5]
         |      AS license
         |  FROM documents),
         |v AS (SELECT source,
         |    CASE WHEN license IN ('cc0', 'ccby') THEN 'allowed'
         |      WHEN license = 'ccbysa' THEN 'conditional'
         |      WHEN license = 'proprietary' THEN 'blocked'
         |      ELSE 'unknown' END AS verdict
         |  FROM d),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN verdict = 'allowed' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_allowed,
         |    CAST(SUM(CASE WHEN verdict = 'conditional' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_conditional,
         |    CAST(SUM(CASE WHEN verdict = 'blocked' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_blocked,
         |    CAST(SUM(CASE WHEN verdict = 'unknown' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_unknown
         |  FROM v GROUP BY source)
         |SELECT source, n_docs, n_allowed, n_conditional, n_blocked,
         |  n_unknown,
         |  CAST((1000000 * (n_allowed + n_conditional)) // n_docs AS BIGINT)
         |    AS trainable_share_e6
         |FROM g ORDER BY source""".stripMargin,
    // q278: identical snapshot-B derivation; fingerprints via md5(text)
    "q278_corpus_diff" ->
      """WITH a AS (SELECT doc_id, source, md5(text) AS fp_a,
        |    CAST(length(text) AS BIGINT) AS len_a FROM documents),
        |b AS (SELECT doc_id, md5(tb) AS fp_b,
        |    CAST(length(tb) AS BIGINT) AS len_b FROM (
        |  SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |      THEN concat(text, ' rev', CAST(doc_id % 7 AS VARCHAR))
        |      ELSE text END AS tb
        |    FROM documents WHERE doc_id % 11 <> 0)),
        |j AS (SELECT a.source, a.fp_a, a.len_a, b.fp_b, b.len_b
        |  FROM a LEFT JOIN b USING (doc_id)),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN fp_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    CAST(SUM(CASE WHEN fp_b IS NOT NULL AND fp_b <> fp_a
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |    CAST(SUM(CASE WHEN fp_b = fp_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unchanged,
        |    CAST(SUM(CASE WHEN fp_b IS NOT NULL AND fp_b <> fp_a
        |      THEN len_b - len_a ELSE 0 END) AS BIGINT) AS chars_delta
        |  FROM j GROUP BY source)
        |SELECT source, n_old, n_removed, n_changed, n_unchanged,
        |  chars_delta,
        |  CAST((1000000 * (n_removed + n_changed)) // n_old AS BIGINT)
        |    AS churn_e6
        |FROM g ORDER BY source""".stripMargin,
    "q275_generalization_ladder" ->
      """WITH qi AS (SELECT lang, n_chars // 100 AS lb,
        |    len(string_split(text, ' ')) // 10 AS wb FROM documents),
        |base AS (SELECT lang, lb, wb, COUNT(*) AS n FROM qi
        |  GROUP BY 1, 2, 3),
        |lv AS (SELECT base.*, l.lvl,
        |    CASE l.lvl WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
        |      ELSE 8 END AS d
        |  FROM base, (SELECT unnest([0, 1, 2, 3]) AS lvl) l),
        |cls AS (SELECT lang, lvl, lb // d AS glb, wb // d AS gwb,
        |    SUM(n) AS c
        |  FROM lv GROUP BY 1, 2, 3, 4),
        |per AS (SELECT lang, lvl,
        |    CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
        |      AS n_violating
        |  FROM cls GROUP BY 1, 2)
        |SELECT lang, CAST(lvl AS INT) AS lvl, n_classes, n_violating,
        |  CAST(COALESCE(MIN(CASE WHEN n_violating = 0 THEN lvl END)
        |    OVER (PARTITION BY lang), -1) AS BIGINT) AS min_safe_level
        |FROM per ORDER BY lang, lvl""".stripMargin,
    // q274: identical buckets, difficulty lattice, and salted-md5
    // shuffle key (nibble Horner — DuckDB has no base-16 conv)
    "q274_curriculum_schedule" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |    FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(GREATEST(len(toks), 1) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd FROM t),
         |b AS (SELECT doc_id, n_toks,
         |    CAST((1000 * nd) // n_toks + n_toks AS BIGINT) AS difficulty,
         |    CAST(CASE WHEN n_toks < 30 THEN 0 WHEN n_toks < 60 THEN 1
         |      WHEN n_toks < 90 THEN 2 ELSE 3 END AS INT) AS bucket,
         |    ${duckMd5Int("'curr_' || CAST(doc_id AS VARCHAR)", 8)} AS shuf
         |  FROM m),
         |r AS (SELECT bucket, doc_id, n_toks, difficulty,
         |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY shuf, doc_id)
         |      AS sched_rank,
         |    COUNT(*) OVER (PARTITION BY bucket) AS bucket_docs
         |  FROM b)
         |SELECT bucket, CAST(sched_rank AS BIGINT) AS sched_rank, doc_id,
         |  n_toks, difficulty, CAST(bucket_docs AS BIGINT) AS bucket_docs
         |FROM r WHERE sched_rank <= 6 ORDER BY bucket, sched_rank""".stripMargin,
    // the mechanism replayed digit for digit: same hex walk, same
    // integer ladder, same clip and scale
    "q337_dp_release" -> q337OracleSql,
    "q269_k_anonymity" ->
      """WITH qi AS (SELECT source, lang, n_chars // 100 AS len_b,
        |    len(string_split(text, ' ')) // 10 AS wc_b FROM documents),
        |pc AS (SELECT source, lang, len_b, wc_b, COUNT(*) AS n_sq
        |  FROM qi GROUP BY 1, 2, 3, 4),
        |cls AS (SELECT lang, len_b, wc_b, SUM(n_sq) AS c
        |  FROM pc GROUP BY 1, 2, 3),
        |g AS (SELECT pc.source, CAST(SUM(n_sq) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN c < 5 THEN n_sq ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(MIN(c) AS BIGINT) AS min_class_size
        |  FROM pc JOIN cls USING (lang, len_b, wc_b) GROUP BY pc.source)
        |SELECT source, n_docs, n_violating, n_classes, min_class_size,
        |  CAST((1000000 * n_violating) // n_docs AS BIGINT) AS viol_share_e6
        |FROM g ORDER BY source""".stripMargin,
    "q225_token_drift" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |tb AS (SELECT source,
        |    CAST(strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1 AS BIGINT) AS b
        |  FROM tk),
        |grid AS (SELECT s.source, g.b
        |  FROM (SELECT DISTINCT source FROM tb) s,
        |       (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS b) g),
        |obs AS (SELECT grid.source, grid.b, CAST(COALESCE(o.cnt, 0) AS BIGINT) AS obs
        |  FROM grid LEFT JOIN (SELECT source, b, COUNT(*) AS cnt
        |    FROM tb GROUP BY source, b) o
        |    ON o.source = grid.source AND o.b = grid.b),
        |gb AS (SELECT b, SUM(obs) AS g FROM obs GROUP BY b),
        |j AS (SELECT obs.source, obs.b, obs.obs, gb.g - obs.obs AS rest
        |  FROM obs JOIN gb USING (b)),
        |sr AS (SELECT source, SUM(obs) AS sg, SUM(rest) AS rg
        |  FROM j GROUP BY source),
        |st AS (SELECT j.source, MAX(sr.sg) AS sg, MAX(sr.rg) AS rg,
        |    SUM(ABS(j.obs * sr.rg - j.rest * sr.sg)) AS sa
        |  FROM j JOIN sr ON sr.source = j.source GROUP BY j.source)
        |SELECT source, CAST(sg AS BIGINT) AS n_grams,
        |  CAST((1000000 * sa) // (2 * sg * rg) AS BIGINT) AS tv_e6
        |FROM st ORDER BY tv_e6 DESC, source""".stripMargin,
    "q211_bigram_quality" ->
      s"""WITH $bigramScoreCtes
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_bigrams, score
         |FROM ds ORDER BY doc_id""".stripMargin,
    "q219_ccnet_buckets" ->
      s"""WITH $bigramScoreCtes,
         |scd AS (SELECT ds.doc_id, ds.n_bigrams, ds.score, d.lang
         |  FROM ds JOIN documents d USING (doc_id)),
         |r AS (SELECT lang, n_bigrams, score,
         |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS r,
         |    COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM scd),
         |b AS (SELECT lang, n_bigrams, score,
         |    CASE WHEN r <= n // 3 THEN 'tail'
         |         WHEN r <= (2 * n) // 3 THEN 'middle'
         |         ELSE 'head' END AS bucket
         |  FROM r)
         |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
         |  MIN(score) AS min_score, MAX(score) AS max_score
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    // identical construction: salted-hash row_number <= k is the same
    // sample set as graft_topk's k smallest (h, doc_id) pairs; the
    // nearest-rank formula (p*(m-1)) div 100 + 1 mirrors digit for digit
    "q209_reservoir_quantiles" ->
      s"""WITH h AS (SELECT source, doc_id, n_chars,
         |    ${duckMd5Int("concat('rsv_', CAST(doc_id AS VARCHAR))", 8)} AS h
         |  FROM documents),
         |r AS (SELECT source, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS hr,
         |    COUNT(*) OVER (PARTITION BY source) AS n_docs
         |  FROM h),
         |s AS (SELECT source, n_docs, doc_id, n_chars FROM r WHERE hr <= 32),
         |rk AS (SELECT source, n_docs, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
         |    COUNT(*) OVER (PARTITION BY source) AS m
         |  FROM s)
         |SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         |  CAST(MAX(m) AS BIGINT) AS sample_n,
         |  CAST(MAX(CASE WHEN r = (50 * (m - 1)) // 100 + 1 THEN n_chars END) AS BIGINT) AS p50_est,
         |  CAST(MAX(CASE WHEN r = (90 * (m - 1)) // 100 + 1 THEN n_chars END) AS BIGINT) AS p90_est
         |FROM rk GROUP BY source ORDER BY source""".stripMargin,
    // same exact-product/one-division/terminal-floor priority chain;
    // k largest priorities per lang, ties to the lowest doc_id
    "q210_priority_sample" ->
      s"""WITH h AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
         |    ${duckMd5Int("concat('prio_', CAST(doc_id AS VARCHAR))", 8)} AS h
         |  FROM documents),
         |p AS (SELECT lang, doc_id, w,
         |    CAST(FLOOR(CAST(w AS DOUBLE) * 4294967296.0 / CAST(h + 1 AS DOUBLE)) AS BIGINT) AS pri
         |  FROM h),
         |r AS (SELECT lang, doc_id, w, pri,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rank
         |  FROM p)
         |SELECT lang, CAST(rank AS INTEGER) AS rank,
         |  CAST(doc_id AS BIGINT) AS doc_id, w AS weight, pri AS priority
         |FROM r WHERE rank <= 16 ORDER BY lang, rank""".stripMargin,
    "q120_padding_waste" ->
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |x AS (SELECT lang, ntok,
        |    CASE WHEN ntok < 512 THEN ntok ELSE 512 END AS kept,
        |    CASE WHEN ntok > 512 THEN ntok - 512 ELSE 0 END AS trunc,
        |    (ntok + 511) // 512 AS seqs
        |  FROM d),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |    CAST(SUM(trunc) AS BIGINT) AS truncated_tokens,
        |    CAST(SUM(512 - kept) AS BIGINT) AS pad_truncate,
        |    CAST(SUM(seqs * 512 - ntok) AS BIGINT) AS pad_chunked,
        |    CAST(SUM(seqs) AS BIGINT) AS n_seqs_chunked
        |  FROM x GROUP BY lang)
        |SELECT lang, n_docs, total_tokens, truncated_tokens, pad_truncate,
        |  pad_chunked, n_seqs_chunked,
        |  CAST(truncated_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS trunc_frac,
        |  CAST(pad_truncate AS DOUBLE) / CAST(n_docs * 512 AS DOUBLE) AS pad_frac_truncate,
        |  CAST(pad_chunked AS DOUBLE) / CAST(n_seqs_chunked * 512 AS DOUBLE) AS pad_frac_chunked
        |FROM g ORDER BY lang""".stripMargin,
    "q111_stratified_sample" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |    ${duckMd5Int("concat('sample_', CAST(doc_id AS VARCHAR))", 8)} AS h
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM h)
         |SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(rk AS INTEGER) AS rk
         |FROM r WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "q108_epoch_resample" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         |w AS (SELECT lang, c, SUM(c) OVER () AS total,
         |    sqrt(CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE)) AS w FROM c),
         |q AS (SELECT lang, c, total, CAST(floor(w * 1e9) AS BIGINT) AS wq FROM w),
         |sh AS (SELECT lang, c, total,
         |    CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE) AS share FROM q),
         |r AS (SELECT lang, share * CAST(total AS DOUBLE) / CAST(c AS DOUBLE) AS rho FROM sh),
         |m AS (SELECT d.lang, d.doc_id, rho,
         |    CAST(floor(rho) AS INTEGER) + (CASE WHEN
         |      CAST(${duckMd5Int("concat('epoch_', CAST(d.doc_id AS VARCHAR))", 4)} AS DOUBLE) / 65536.0
         |        < rho - floor(rho) THEN 1 ELSE 0 END) AS n_copies
         |  FROM documents d JOIN r USING (lang)),
         |x AS (SELECT lang, doc_id, unnest(generate_series(1, n_copies)) AS copy
         |  FROM m WHERE n_copies > 0)
         |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_kept,
         |  CAST(COUNT(*) AS BIGINT) AS n_copies
         |FROM x GROUP BY lang ORDER BY lang""".stripMargin,
    "q101_kmv_distinct" ->
      s"""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
         |d AS (SELECT DISTINCT lang, tok FROM t),
         |hh AS (SELECT DISTINCT lang, ${duckMd5Int("tok", 8)} AS h FROM d),
         |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM hh),
         |kth AS (SELECT lang, max(h) AS h_k, COUNT(*) AS n_kept FROM r WHERE rn <= 32 GROUP BY lang),
         |ex AS (SELECT lang, COUNT(*) AS n_exact FROM d GROUP BY lang)
         |SELECT lang, CAST(n_exact AS BIGINT) AS n_exact, CAST(n_kept AS BIGINT) AS n_kept,
         |  CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
         |       ELSE (31.0 * 4294967296.0) / CAST(h_k AS DOUBLE) END AS est,
         |  abs((CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
         |       ELSE (31.0 * 4294967296.0) / CAST(h_k AS DOUBLE) END) - CAST(n_exact AS DOUBLE))
         |    / CAST(n_exact AS DOUBLE) AS rel_err
         |FROM ex JOIN kth USING (lang) ORDER BY lang""".stripMargin,
    // the oracle sketches each week DIRECTLY: merged-then-truncated day
    // sketches equal the direct week sketch (any of the week's k
    // smallest distinct hashes is within its own day's k smallest), so
    // the rollup needs no mirror of the merge mechanics
    "q203_kmv_rollup" ->
      s"""WITH e AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
         |    CAST(ts AS DATE) AS d, user_id FROM events),
         |days AS (SELECT wk, COUNT(DISTINCT d) AS n_days FROM e GROUP BY wk),
         |hh AS (SELECT DISTINCT wk,
         |    ${duckMd5Int("CAST(user_id AS VARCHAR)", 8)} AS h FROM e),
         |r AS (SELECT wk, h,
         |    row_number() OVER (PARTITION BY wk ORDER BY h) AS rn FROM hh),
         |kth AS (SELECT wk, MAX(h) AS h_k, COUNT(*) AS n_kept
         |  FROM r WHERE rn <= 32 GROUP BY wk),
         |ex AS (SELECT wk, COUNT(DISTINCT user_id) AS n_exact
         |  FROM e GROUP BY wk)
         |SELECT wk, CAST(days.n_days AS BIGINT) AS n_days,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_kept AS BIGINT) AS n_kept,
         |  CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
         |       ELSE (31.0 * 4294967296.0) / CAST(h_k AS DOUBLE) END AS est,
         |  abs((CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
         |       ELSE (31.0 * 4294967296.0) / CAST(h_k AS DOUBLE) END)
         |      - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
         |    AS rel_err
         |FROM ex JOIN kth USING (wk) JOIN days USING (wk)
         |ORDER BY wk""".stripMargin,
    "q100_binned_quantiles" ->
      """WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |b AS (SELECT lang, MIN(ntok) AS mn, MAX(ntok) AS mx, COUNT(*) AS n
        |  FROM d GROUP BY lang),
        |h AS (SELECT d.lang, mn, mx, n, (ntok - mn) * 64 // (mx - mn + 1) AS bin,
        |    COUNT(*) AS cnt
        |  FROM d JOIN b ON d.lang = b.lang
        |  GROUP BY d.lang, mn, mx, n, bin),
        |c AS (SELECT lang, mn, mx, n, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |q AS (SELECT lang, mn, mx, n,
        |    MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN bin END) AS bin50,
        |    MIN(CASE WHEN cum >= CAST(ceil(0.95 * n) AS BIGINT) THEN bin END) AS bin95
        |  FROM c GROUP BY lang, mn, mx, n)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  CAST(mn AS BIGINT) AS min_tok, CAST(mx AS BIGINT) AS max_tok,
        |  CAST(mn + bin50 * (mx - mn + 1) // 64 AS BIGINT) AS approx_p50,
        |  CAST(mn + bin95 * (mx - mn + 1) // 64 AS BIGINT) AS approx_p95,
        |  CAST((mx - mn + 1) // 64 + 1 AS BIGINT) AS bin_width
        |FROM q ORDER BY lang""".stripMargin,
    "q96_length_profile" ->
      """WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  quantile_cont(ntok, 0.5) AS p50,
        |  quantile_cont(ntok, 0.9) AS p90,
        |  quantile_cont(ntok, 0.99) AS p99,
        |  CAST(MIN(ntok) AS BIGINT) AS min_tok,
        |  CAST(MAX(ntok) AS BIGINT) AS max_tok
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q240_source_vocab_overlap" ->
      """WITH st AS (SELECT DISTINCT source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |vs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
        |  FROM st GROUP BY source),
        |i AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY a.source, b.source),
        |sp AS (SELECT a.source AS sa, a.v AS va, b.source AS sb, b.v AS vb
        |  FROM vs a JOIN vs b ON a.source < b.source)
        |SELECT sp.sa, sp.sb, sp.va, sp.vb,
        |  COALESCE(i.ninter, 0) AS n_shared,
        |  CAST((1000000 * COALESCE(i.ninter, 0))
        |    // (sp.va + sp.vb - COALESCE(i.ninter, 0)) AS BIGINT) AS jaccard_e6
        |FROM sp LEFT JOIN i ON i.sa = sp.sa AND i.sb = sp.sb
        |ORDER BY sp.sa, sp.sb""".stripMargin,
    "q235_shard_manifest" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
         |    ${duckMd5Int("'shard_' || CAST(doc_id AS VARCHAR)", 8)} AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang, ntok,
         |    CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rank
         |  FROM d)
         |SELECT CAST((rank - 1) % 8 AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ntok) AS BIGINT) AS tokens,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    "q88_split_manifest" ->
      """WITH b AS (SELECT lang, text,
        |    ((strpos('0123456789abcdef', substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (strpos('0123456789abcdef', substr(md5('split_' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substr(md5('split_' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5('split_' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT lang,
        |    CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM b)
        |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tokens
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "q66_tfidf" ->
      """WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, COUNT(*) AS df FROM tfc GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT CAST(tfc.doc_id AS BIGINT) AS doc_id, tfc.tok AS tok,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS tfidf
        |FROM tfc JOIN dfc USING (tok) CROSS JOIN n
        |ORDER BY tfidf DESC, doc_id ASC, tok ASC LIMIT 20""".stripMargin,
    "q67_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        |  WHERE tok IN ('spark', 'hash', 'window') GROUP BY doc_id, dl, tok),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
        |ts AS (SELECT doc_id, tok,
        |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |    (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |      CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS term_score
        |  FROM tf JOIN df USING (tok) CROSS JOIN st),
        |sc AS (SELECT doc_id,
        |    MAX(CASE WHEN tok = 'spark' THEN term_score END) AS ts0,
        |    MAX(CASE WHEN tok = 'hash' THEN term_score END) AS ts1,
        |    MAX(CASE WHEN tok = 'window' THEN term_score END) AS ts2,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM ts GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  coalesce(ts0, 0.0) + coalesce(ts1, 0.0) + coalesce(ts2, 0.0) AS score, n_terms
        |FROM sc ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    "q68_token_packing" ->
      """WITH d AS (SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (SELECT lang, doc_id, ntok,
        |    SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT lang, CAST((cum - ntok) // 4096 AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tokens
        |FROM c GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,
    "q69_temperature_mixture" ->
      """WITH c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
        |w AS (SELECT lang, c, SUM(c) OVER () AS total,
        |    sqrt(CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE)) AS w
        |  FROM c),
        |q AS (SELECT lang, c, w, CAST(floor(w * 1e9) AS BIGINT) AS wq FROM w)
        |SELECT lang, CAST(c AS BIGINT) AS n_docs, w AS weight,
        |  CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE) AS share,
        |  CAST(floor(CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE) * 100000) AS BIGINT) AS quota
        |FROM q ORDER BY lang""".stripMargin,
    "q75_unigram_quality" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        |t AS (SELECT SUM(cnt) AS total FROM c),
        |j AS (SELECT doc_id,
        |    CAST(floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) * 1e12) AS BIGINT) AS pq
        |  FROM tok JOIN c USING (tok) CROSS JOIN t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(pq) AS DOUBLE) / (1e12 * CAST(COUNT(*) AS DOUBLE)) AS score
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q76_topk_per_lang" ->
      """WITH c AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |g AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY lang, tok),
        |r AS (SELECT lang, tok, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS INTEGER) AS rank
        |  FROM g)
        |SELECT lang, rank, tok, cnt FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,
    "q77_weighted_interleave" ->
      """WITH d AS (SELECT source, doc_id, CAST(substr(source, 4, 10) AS INTEGER) AS sn FROM documents),
        |r AS (SELECT source, doc_id, sn,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM d),
        |p AS (SELECT CAST(rn * (12 // (1 + sn % 4)) AS BIGINT) AS pos, source,
        |    CAST(doc_id AS BIGINT) AS doc_id, CAST(1 + sn % 4 AS INTEGER) AS w
        |  FROM r)
        |SELECT pos, source, doc_id, w FROM p
        |ORDER BY pos, source, doc_id LIMIT 60""".stripMargin,
    "q81_source_concentration" ->
      """WITH t AS (SELECT source, SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS tokens
        |  FROM documents GROUP BY source),
        |r AS (SELECT source, tokens,
        |    CAST(row_number() OVER (ORDER BY tokens DESC, source ASC) AS INTEGER) AS rank,
        |    CAST(SUM(tokens) OVER (ORDER BY tokens DESC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |    CAST(SUM(tokens) OVER () AS BIGINT) AS total
        |  FROM t)
        |SELECT rank, source, CAST(tokens AS BIGINT) AS tokens, cum_tokens,
        |  CAST(cum_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM r ORDER BY rank""".stripMargin,
    "q82_source_scorecard" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS toks, text FROM documents),
        |p AS (SELECT source,
        |    CAST(len(toks) AS BIGINT) AS ntok,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_tok_len,
        |    CAST(floor(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1e9) AS BIGINT) AS alpha_q
        |  FROM d),
        |q AS (SELECT source, ntok, alpha_q,
        |    (CASE WHEN ntok >= 20 THEN 1 ELSE 0 END) +
        |    (CASE WHEN stop_ratio >= 0.05 THEN 1 ELSE 0 END) +
        |    (CASE WHEN avg_tok_len BETWEEN 3 AND 8 THEN 1 ELSE 0 END) AS quality
        |  FROM p)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS tokens,
        |  CAST(SUM(ntok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_ntok,
        |  CAST(SUM(CASE WHEN quality = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_top_quality,
        |  CAST(SUM(alpha_q) AS DOUBLE) / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_alpha
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "q70_outlier_gate" ->
      """WITH m AS (SELECT lang, COUNT(*) AS n,
        |    SUM(CAST(n_chars AS HUGEINT)) AS s,
        |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS q
        |  FROM documents GROUP BY lang),
        |g AS (SELECT d.lang, d.n_chars,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CASE WHEN n > 1 THEN sqrt(CAST(n * q - s * s AS DOUBLE) / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)) END AS sd
        |  FROM documents d JOIN m ON d.lang = m.lang),
        |k AS (SELECT lang, n_chars,
        |    (sd IS NULL OR sd = 0.0 OR abs((CAST(n_chars AS DOUBLE) - mean) / sd) <= 2.0) AS keep
        |  FROM g)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(MIN(CASE WHEN keep THEN n_chars END) AS BIGINT) AS min_kept,
        |  CAST(MAX(CASE WHEN keep THEN n_chars END) AS BIGINT) AS max_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
