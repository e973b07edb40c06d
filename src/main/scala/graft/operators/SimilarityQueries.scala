package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Staging, Tables}

/** Similarity search over the `embeddings` fixture (64-dim float vectors).
  *
  * The reference has no vector surface (its nearest-neighbor search is the
  * numpy grid argmin at ingest, `/root/reference/airflow/dags/
  * ingest_weather_data.py:147-163`); this extends the engine with the two
  * shapes an embedding-heavy pipeline needs:
  *
  *   - q25: brute-force cosine top-k for a BOUNDED probe set — the exact
  *     baseline. The probe side is provably tiny (a literal filter), so it
  *     broadcasts and the corpus streams through one scan + one window;
  *     cost is O(|corpus| * |probes|) with no corpus shuffle.
  *   - q26: sign-LSH (random-hyperplane) banded bucketing for all-pairs
  *     near-duplicate detection — the scale path. Candidate pairs come from
  *     an equi-join on (band, 4-bit sign key), never a cross join; the
  *     exact cosine runs on candidates only.
  *
  * Determinism / oracle portability: the "random" hyperplanes are +/-1
  * vectors derived from md5 at PLAN BUILD time in Scala and baked into both
  * the Spark expressions and the DuckDB oracle SQL as literals — no
  * engine-side RNG, no transcendental functions whose last-ulp could differ
  * between engines. Dot products fold left in index order on both sides
  * ((0.0+p1)+p2..., exactly (p1+p2)+... in IEEE), so cosines are
  * bit-identical.
  */
object SimilarityQueries {

  private val dim = 64
  private val nPlanes = 16
  private val planesPerBand = 4
  private val nBands = nPlanes / planesPerBand

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** planes(h)(d) = +1.0 or -1.0, from the first hex digit of md5("p{h}_{d}"). */
  private val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until nPlanes).map { h =>
      (0 until dim).map { d =>
        if ("89abcdef".contains(md5hex(s"p${h}_$d").charAt(0))) 1.0 else -1.0
      }
    }

  /** Dot products run through the native codegen'd expression
    * (graft.functions.DotProduct, registered as `graft_dot` by
    * GraftExtensions) instead of interpreted aggregate/zip_with folds;
    * the accumulation order is identical, so results stay bit-equal to
    * the DuckDB oracle. */
  private val dotFold = "graft_dot(%s, %s)"

  /** vectors with norms, shared by both queries */
  private[graft] def normed(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .select("vec_id", "v", "nrm")

  /** Brute-force cosine top-3 for 8 probe vectors (exact ANN baseline).
    * broadcast() is justified here and only here: the probe side is bounded
    * by a literal predicate, not data volume. */
  def q25CosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id").cast("bigint").as("probe_id"),
              col("vec_id").cast("bigint").as("neighbor_id"),
              col("rank").cast("int").as("rank"), col("cos"))
      .orderBy("probe_id", "rank")
  }

  /** Banded sign-LSH near-duplicate pairs: 16 hyperplane projections ->
    * 4 bands of 4 sign bits -> band-key equi-join -> exact cosine >= 0.35
    * on candidates. Recall is a function of the band geometry, and the
    * oracle runs the identical construction, so results match exactly. */
  /** The (vec_id, band, bkey) sign-LSH band frame — 16 hyperplane
    * projections folded into 4 bands of 4 sign bits, one stack() row
    * per band. The shared candidate-generation substrate of q26/q40/
    * q50 (pair form) and q218 (probe form). */
  private def bandFrame(e: DataFrame): DataFrame = {
    val withProj = (0 until nPlanes).foldLeft(e) { (d, h) =>
      val arr = planes(h).map(w => s"cast($w as double)").mkString("array(", ", ", ")")
      d.withColumn(s"pj$h", expr(dotFold.format("v", arr)))
    }
    val bandKeys = (0 until nBands).map { b =>
      val bits = (0 until planesPerBand)
        .map(k => s"(case when pj${b * planesPerBand + k} >= 0 then '1' else '0' end)")
        .mkString("concat(", ", ", ")")
      s"$b, $bits"
    }.mkString(", ")
    withProj.selectExpr("vec_id", s"stack($nBands, $bandKeys) as (band, bkey)")
  }

  /** Unordered near-dup pairs (vec_a < vec_b, cos >= 0.35) — q26 minus its
    * presentation sort, shared with q50 (which consumes the pairs as a
    * graph and has no use for a total order). */
  private def lshPairsScored(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val bands = bandFrame(e)
    val cand = DedupQueries.bucketPairs(bands, "vec_id", "vec_a", "vec_b")
    cand
      .join(e.as("x"), col("vec_a") === col("x.vec_id"))
      .join(e.as("y"), col("vec_b") === col("y.vec_id"))
      .withColumn("cos", expr(dotFold.format("x.v", "y.v") + " / (x.nrm * y.nrm)"))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a").cast("bigint").as("vec_a"),
              col("vec_b").cast("bigint").as("vec_b"), col("cos"))
  }

  def q26LshCosine(s: SparkSession, dir: String): DataFrame =
    lshPairsScored(s, dir).orderBy("vec_a", "vec_b")

  /** The geometry-bearing durable-layout kinds the registered query
    * paths use — exposed so LayoutReattachSpec locates the layout dirs
    * without duplicating the private geometry constants. */
  private[graft] def ivfKindsForTest: Seq[String] =
    Seq(s"ivfcb$ivfTrainSampleMod", s"ivfassign$ivfTrainSampleMod")
  private[graft] def pqCbKindForTest: String =
    s"pqcb$pqM-$pqK-$pqTrainIters-$pqTrainSampleMod"

  /** One STAGED (vec_a, vec_b, cos) near-dup pair frame per embeddings
    * fingerprint, durable through the Layouts registry: the banded-LSH +
    * verify subtree is ~10 exchanges live, so any query that references
    * the pair graph more than once (q281 reads it for the edge count,
    * the degree mass, AND the intra cells) would re-derive it per
    * reference — staging makes every reference a leaf scan. */
  private[graft] def stagedPairsPath(s: SparkSession, dir: String): String =
    graft.etl.Layouts.stage(s, "ndpairs", "v1", dir, Seq("embeddings")) { base =>
      lshPairsScored(s, dir).write.mode("overwrite").parquet(s"$base/pairs")
      s"$base/pairs"
    }

  private[graft] def stagedPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(stagedPairsPath(s, dir))

  // ---------------------------------------------------------------- q242

  /** q242 — SEMANTIC decontamination: flag corpus vectors whose
    * embedding is near-duplicate to any BENCHMARK vector (the 1-in-37
    * held-out slice, q64's bench idiom). The embedding-space companion
    * to the shingle family (q64 exact / q207 Bloom): paraphrased or
    * reformatted benchmark leakage shares no shingle but lands in the
    * same embedding neighborhood — exactly what modern decontamination
    * recipes check after the lexical pass. One row per CONTAMINATED
    * corpus vector: match count, best benchmark match, best cosine.
    *
    * Scale shape: candidates come from the q26 sign-LSH band equi-join
    * restricted to (corpus × bench) — never all-pairs, and the shuffle
    * keys are the content-derived band keys (the round-10 blocking
    * rule). The exact cosine runs on candidates only; the verdict
    * aggregate groups on the scaling vec_id key with a max(struct)
    * (map-side combinable — no window, no second sort). Recall is the
    * band geometry's, same contract as q26, and the oracle runs the
    * identical construction so results match exactly. The bench side
    * is 1/37 of the corpus here; a real eval suite is BOUNDED, and its
    * band frame would broadcast (the q64 note). */
  def q242SemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val bands = bandFrame(e)
    val bench = bands.filter(col("vec_id") % 37 === 0)
      .select(col("band"), col("bkey"), col("vec_id").as("bid"))
    val corpus = bands.filter(col("vec_id") % 37 =!= 0)
      .select(col("band"), col("bkey"), col("vec_id").as("cid"))
    val cand = corpus.join(bench, Seq("band", "bkey"))
      .select("cid", "bid").distinct()
    cand
      .join(e.as("x"), col("cid") === col("x.vec_id"))
      .join(e.as("y"), col("bid") === col("y.vec_id"))
      .withColumn("cos", expr(dotFold.format("x.v", "y.v") + " / (x.nrm * y.nrm)"))
      .filter(col("cos") >= 0.35)
      .groupBy("cid")
      .agg(count(lit(1)).cast("bigint").as("n_bench_matches"),
        max(struct(col("cos"), (-col("bid")).as("nb"))).as("m"))
      .select(col("cid").cast("bigint").as("vec_id"), col("n_bench_matches"),
        (-col("m.nb")).cast("bigint").as("best_bench_id"),
        col("m.cos").as("best_cos"))
      .orderBy("vec_id")
  }

  /** HARD-NEGATIVE MINING — for every vector, the most similar vector
    * carrying a DIFFERENT label: the contrastive-training pair a
    * retrieval/embedding fine-tune feeds next to its positives (a
    * negative that is nearly a positive is where the gradient is).
    * Candidates come from the q26 sign-LSH bands — never all-pairs —
    * so "hardest" means hardest among band-colliding candidates,
    * exactly the approximation contract q80's KNN documents; only the
    * cross-label survivors rank. One row per vector that HAS a
    * cross-label candidate (a vector whose buckets are all same-label
    * — the usual case for a well-separated label — simply emits
    * nothing, which is itself the health signal).
    *
    * Scale: the symmetric expansion and the rank window both ride the
    * candidate-pair frame partitioned by vec_id (an entity key); label
    * attachment is two equi-joins on the id. */
  def q194HardNegatives(s: SparkSession, dir: String): DataFrame = {
    // round-16: the symmetric expansion references the pair frame TWICE
    // (both union branches) — on the lazy form each branch re-derived the
    // whole LSH band + verify subtree (~10 exchanges, twice per run). Now
    // rides the SAME durable standing pair index q242/q281/q302 attach
    // (stagedPairs scaladoc rule: >1 reference => leaf scans).
    val pairs = stagedPairs(s, dir)
    val lbl = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val sym = pairs.select(col("vec_a").as("v"), col("vec_b").as("n"), col("cos"))
      .union(pairs.select(col("vec_b").as("v"), col("vec_a").as("n"), col("cos")))
    val w = Window.partitionBy("v").orderBy(desc("cos"), asc("n"))
    sym
      .join(lbl.select(col("vec_id").as("v"), col("lbl").as("v_lbl")), Seq("v"))
      .join(lbl.select(col("vec_id").as("n"), col("lbl").as("n_lbl")), Seq("n"))
      .filter(col("v_lbl") =!= col("n_lbl"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("v").cast("bigint").as("vec_id"),
        col("v_lbl").as("label"),
        col("n").cast("bigint").as("hard_negative_id"),
        col("n_lbl").as("neg_label"), col("cos"))
      .orderBy("vec_id")
  }

  /** LABEL-NOISE SUSPECTS by neighborhood voting — every vector whose
    * LSH-candidate neighborhood MAJORITY-disagrees with its own label
    * (2·cross > total): the confident-learning-style suspect list a
    * labeled-set owner reviews before training, and the per-example
    * sharp end of q83's cluster-cohesion aggregate. Same candidate
    * frame as q194 (sign-LSH bands — never all-pairs); the vote is one
    * per-vector aggregate over it.
    *
    * Scale: symmetric candidate expansion + two label equi-joins + one
    * entity-key groupBy; the share is one mirrored floored division. */
  def q201LabelNoise(s: SparkSession, dir: String): DataFrame = {
    // round-16: twice-referenced pair frame -> staged leaf (see q194)
    val pairs = stagedPairs(s, dir)
    val lbl = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val sym = pairs.select(col("vec_a").as("v"), col("vec_b").as("n"))
      .union(pairs.select(col("vec_b").as("v"), col("vec_a").as("n")))
    sym
      .join(lbl.select(col("vec_id").as("v"), col("lbl").as("v_lbl")), Seq("v"))
      .join(lbl.select(col("vec_id").as("n"), col("lbl").as("n_lbl")), Seq("n"))
      .groupBy("v", "v_lbl")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("v_lbl") =!= col("n_lbl"), 1L).otherwise(0L)).as("n_cross"))
      .filter(lit(2L) * col("n_cross") > col("n_neighbors"))
      .select(col("v").cast("bigint").as("vec_id"), col("v_lbl").as("label"),
        col("n_neighbors").cast("bigint").as("n_neighbors"),
        col("n_cross").cast("bigint").as("n_cross"),
        floor(col("n_cross").cast("double") / col("n_neighbors").cast("double")
          * lit(1000000.0)).cast("bigint").as("cross_share_e6"))
      .orderBy("vec_id")
  }

  /** PER-SOURCE EMBEDDING-NORM DRIFT — the two-sample KS statistic
    * between each source's embedding-norm distribution and the REST of
    * the corpus: the "was this source embedded by a different model
    * version / preprocessing" health check an embedding pipeline runs
    * before trusting cross-source similarity (norms shift first when
    * an encoder changes). Norms e6-quantize and the statistic is the
    * exact KS of the QUANTIZED distributions: per-(source, cell)
    * integer counts on a 256-cell grid derived from the data's own
    * min/max (the q174/q179 discipline — one bounded scalar pass, no
    * hard-coded domain), dense per-source grids via sequence+explode,
    * cumulative windows partitioned by source over grid summaries, the
    * rest-of-corpus CDF as the global-minus-source INTEGER difference,
    * and the sup over cross-multiplied BIGINTs; one division per
    * source at the end. */
  def q204EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val base = normed(s, dir).select(col("vec_id"), col("nrm"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
      .select(col("source"), expr("cast(round(nrm * 1000000) as bigint)").as("nq"))
    val g = base.agg(min("nq").as("lo"), max("nq").as("hi"),
      count(lit(1)).as("n")).head()
    require(!g.isNullAt(0), "q204: no embeddings joined a document source")
    val (lo, span) = (g.getLong(0), math.max(1L, g.getLong(1) - g.getLong(0) + 1))
    val nAll = g.getLong(2)
    val cells = base
      .withColumn("vb", expr(s"(nq - ${lo}L) * 256L div ${span}L"))
      .groupBy("source", "vb").agg(count(lit(1)).as("c"))
    val globalCells = cells.groupBy("vb").agg(sum("c").as("gc"))
    val grid = cells.select("source").distinct()
      .select(col("source"), explode(expr("sequence(0L, 255L)")).as("vb"))
    val cdf = grid
      .join(cells, Seq("source", "vb"), "left")
      .join(globalCells, Seq("vb"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("gc", coalesce(col("gc"), lit(0L)))
      .withColumn("cumS", sum("c").over(
        Window.partitionBy("source").orderBy("vb")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumG", sum("gc").over(
        Window.partitionBy("source").orderBy("vb")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nS", sum("c").over(Window.partitionBy("source")))
      .withColumn("cumR", col("cumG") - col("cumS"))
      .withColumn("nR", lit(nAll) - col("nS"))
      .withColumn("dnum",
        abs(col("cumS") * col("nR") - col("cumR") * col("nS")))
    cdf.groupBy("source")
      .agg(first("nS").as("n_source"), first("nR").as("n_rest"),
        max("dnum").as("d_num"))
      .select(col("source"), col("n_source").cast("bigint").as("n_source"),
        col("n_rest").cast("bigint").as("n_rest"),
        col("d_num").cast("bigint").as("d_num"),
        (col("d_num").cast("double") /
          (col("n_source") * col("n_rest")).cast("double")).as("ks"))
      .orderBy("source")
  }

  /** DEDUP CLUSTER REPRESENTATIVES — the "keep the BEST copy" policy
    * completing the family: q21/q65 keep the minimum id, q177's golden
    * records merge attributes; this picks each near-dup cluster's
    * canonical member by QUALITY (longest document text, doc_id
    * ascending as the tie-break) — the policy a training corpus
    * actually wants, where near-dups differ by truncation and the
    * longest copy carries the most signal. Components are q50's staged
    * min-label propagation (same object code); quality attaches by one
    * id equi-join to the documents table; the per-cluster argmax is
    * one max(struct) aggregate (no window, no sort).
    *
    * Output: one row per MULTI-member cluster (singletons are not
    * "dedup decisions"), with the representative, its length, and the
    * cluster size. */
  def q195ClusterRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val members = ccLabels(s, dir)
      .select(col("lbl").as("cluster_id"), col("v").as("doc_id"))
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("nc"))
    members.join(quality, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("nc"), (-col("doc_id")).as("nid"))).as("m"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id").cast("bigint").as("cluster_id"),
        (-col("m.nid")).cast("bigint").as("rep_doc_id"),
        col("m.nc").cast("bigint").as("rep_n_chars"),
        col("n_members").cast("bigint").as("n_members"))
      .orderBy("cluster_id")
  }

  /** PER-SOURCE DEDUP SCORECARD — which crawl is redundant: for each
    * source, its total documents, how many sit inside a multi-member
    * near-dup cluster, how many would be DROPPED under q195's
    * keep-the-best policy (cluster members that are not the
    * representative), and the e6-floored drop share. The
    * budget-allocation readout a corpus owner reads before paying for
    * the next crawl of each source — q91's source-overlap counts,
    * restated as an actionable per-source keep/drop bill.
    *
    * Scale: rides the once-per-corpus staged component labeling
    * (ccLabels — no new propagation) plus q195's argmax shape;
    * everything else is id equi-joins and a bounded per-source
    * aggregate.
    *
    * Sizing semantics (round 11): clusters are sized BEFORE the
    * documents join and the representative is the argmax over the
    * DOC-HAVING members of those pre-sized clusters — exactly this
    * query's oracle. q195 sizes after its inner documents join (its
    * own oracle's convention), so q199 derives its reps inline rather
    * than through q195: on a corpus where some embedding vec_id has no
    * documents row the two conventions genuinely differ, and each
    * query must mirror its own oracle (the fixtures are join-total, so
    * both emit identical rows there — the q133 integrity audit is the
    * check a deployment runs before trusting either). */
  def q199SourceDedupScorecard(s: SparkSession, dir: String): DataFrame = {
    val members = ccLabels(s, dir)
      .select(col("lbl").as("cluster_id"), col("v").as("doc_id"))
    val sized = members
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("n_members") >= 2)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val reps = sized
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("nc")),
        Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(max(struct(col("nc"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("doc_id"), lit(1L).as("is_rep"))
    val flags = sized.join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_rep"), lit(0L)).as("is_rep"))
    docs.join(flags, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_rep").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("is_rep") === 0L, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
        col("n_clustered").cast("bigint").as("n_clustered"),
        col("n_dropped").cast("bigint").as("n_dropped"),
        floor(col("n_dropped").cast("double") / col("n_docs").cast("double")
          * lit(1000000.0)).cast("bigint").as("drop_share_e6"))
      .orderBy("source")
  }

  /** Number of Lloyd (k-means) refinement passes for the q37 codebook. */
  private val lloydIters = 2

  /** q71's training-sample stride applied to the IVF codebook: the
    * registered q37 trains on vec_id % 2 = 0 plus the 16-vector seed.
    * The stride is fixture-bounded: with only 16 centroids and 8 probes
    * on 500 vectors, a 1-in-4 sample already drops nprobe=1 recall@3
    * under IvfRecallSpec's 0.6 floor (measured 0.54), so the registered
    * instance halves the Lloyd pass cost and keeps the floor — and at
    * 100 TB the stride grows with the corpus (faiss trains 16-centroid
    * quantizers on thousands of points regardless of corpus size), which
    * is the real lever: Lloyd passes bounded by the sample, one full
    * pass left (the bucket assignment). */
  private[graft] val ivfTrainSampleMod = 2

  /** Nearest-centroid assignment: broadcast the bounded codebook, argmax
    * cosine per vector (the same broadcast-argmin shape as the reference's
    * numpy grid search, `ingest_weather_data.py:147-173`). The argmax is a
    * `max_by` over the struct (ccos, -centroid_id) — highest cosine, ties
    * to the lowest centroid id, identical to the former
    * row_number-over-window form but aggregated: partial aggregation
    * collapses the 16x crossJoin expansion back to ONE row per vector
    * map-side, so the exchange carries |corpus| rows instead of 16x and
    * no per-partition sort runs. Deterministic: centroid_id is unique, so
    * the struct order is total even when cosines tie. */
  private[graft] def assign(e: DataFrame, codebook: DataFrame): DataFrame =
    e.crossJoin(broadcast(codebook))
      .withColumn("ccos", expr(dotFold.format("v", "cv") + " / (nrm * cn)"))
      .groupBy("vec_id")
      .agg(expr("max_by(struct(v, nrm, centroid_id, ccos), struct(ccos, -centroid_id))").as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
              col("m.centroid_id").as("centroid_id"), col("m.ccos").as("ccos"))

  /** Lloyd re-center: per (centroid, dimension), the mean of member values
    * in FIXED POINT — each value quantized to 1/2^32 (`floor(val * 2^32)`,
    * a long), summed exactly as decimal(38,0), divided back in double.
    * Why not the obvious alternatives:
    *   - plain double `avg` is nondeterministic across PARTITIONINGS (FP
    *     addition doesn't associate), so the same data could produce
    *     different codebooks run-to-run, let alone engine-to-engine;
    *   - the previous ordered collect_list fold was deterministic but
    *     buffered every member value per (centroid, dimension) group — a
    *     hot centroid at 100 TB puts a large corpus fraction into one
    *     aggregation buffer.
    * The fixed-point sum is both at once: integer addition is exact in any
    * order (order-free, map-side combinable, constant aggregation state,
    * overflow-safe in decimal(38,0) to ~10^28 members), and the 2^-32
    * absolute quantization error on O(1) embedding values is far below
    * anything a cosine ranking can see. The DuckDB twin runs the identical
    * quantize-sum-divide, so codebooks stay bit-equal across engines.
    * IvfCodebookSpec asserts the fixed-point and ordered-fold codebooks
    * assign every fixture vector identically. */
  private def recenter(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("v")))
      .withColumnRenamed("col", "val")
      .groupBy("centroid_id", "pos")
      .agg(sum(expr("cast(floor(val * 4294967296e0) as decimal(38,0))")).as("qsm"),
           count(lit(1)).as("cnt"))
      .withColumn("mean", col("qsm").cast("double") / (col("cnt") * lit(4294967296.0)))
      .groupBy("centroid_id")
      // bounded collect: exactly `dim` rows per centroid, independent of
      // cluster membership — not the per-member buffer the fixed-point sum
      // just removed
      .agg(expr("transform(sort_array(collect_list(struct(pos, mean))), s -> s.mean)").as("cv"))
      .withColumn("cn", expr("sqrt(graft_dot(cv, cv))"))
      .select("centroid_id", "cv", "cn")

  /** The pre-round-6 ordered-fold re-center (exact mean, vec_id fold
    * order). Kept ONLY as the reference point for IvfCodebookSpec's
    * fixed-point-vs-exact assignment comparison — not on any query path:
    * its per-(centroid, dimension) collect_list buffers every member value,
    * which is the scale hazard `recenter` exists to avoid. */
  private[graft] def recenterFold(assigned: DataFrame): DataFrame =
    assigned
      .select(col("vec_id"), col("centroid_id"), posexplode(col("v")))
      .withColumnRenamed("col", "val")
      .groupBy("centroid_id", "pos")
      .agg(
        expr("aggregate(transform(sort_array(collect_list(struct(vec_id, val))), " +
          "s -> s.val), cast(0.0 as double), (a, x) -> a + x)").as("sm"),
        count(lit(1)).as("cnt"))
      .withColumn("mean", col("sm") / col("cnt"))
      .groupBy("centroid_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, mean))), s -> s.mean)").as("cv"))
      .withColumn("cn", expr("sqrt(graft_dot(cv, cv))"))
      .select("centroid_id", "cv", "cn")

  /** Trained codebook: seed with the first 16 vectors, then `lloydIters`
    * deterministic Lloyd passes (broadcast-argmax assign, fixed-point
    * re-center — or a caller-supplied re-center for A/B tests). Centroids
    * are NOT re-normalized — assignment divides by the centroid norm, so
    * cosine is scale-invariant. trainSampleMod > 1 trains on the
    * deterministic 1-in-mod sample unioned with the seed — q71's
    * index-build lever applied to IVF: Lloyd passes cost
    * O(corpus/mod x 16) instead of O(corpus x 16), leaving the one full
    * corpus pass to the bucket assignment itself. The sample predicate
    * is a plan-time literal mirrored in the q37 oracle, so the codebook
    * stays bit-equal across engines. */
  private[graft] def trainedCodebook(e: DataFrame,
                                     rc: DataFrame => DataFrame = recenter,
                                     trainSampleMod: Int = 1): DataFrame = {
    val codebook0 = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
    val trainSet =
      if (trainSampleMod > 1)
        e.filter(col("vec_id") % trainSampleMod === 0 || col("vec_id") < 16)
      else e
    (1 to lloydIters).foldLeft(codebook0)((cb, _) => rc(assign(trainSet, cb)))
  }

  /** IVF-style approximate top-k (the inverted-file scale path next to
    * q26's LSH): a bounded codebook — seeded from the first 16 vectors and
    * refined by two deterministic Lloyd passes — broadcasts; every corpus
    * vector is assigned to its nearest centroid (an argmax over the tiny
    * codebook); probes then search ONLY their `nprobe` nearest centroids'
    * buckets. The expensive top-k scan is confined to nprobe buckets per
    * probe — at 100 TB the buckets are the index, and raising nprobe
    * widens recall without changing the plan shape (the probe side stays
    * a broadcast of 8 x nprobe rows). Recall loss vs q25's exact baseline
    * is part of the design and is measured: IvfRecallSpec asserts
    * recall@3 >= 0.6 at nprobe=1, monotone recall in nprobe, and exact
    * equality with q25 at nprobe=16 (all buckets searched). The oracle
    * runs the identical nprobe=1 construction so q37 matches exactly. */
  /** Staged trained-IVF-codebook and full-corpus assignment per
    * (corpus fingerprint, training sample mod), durable through the
    * Layouts registry — the pqCodebookCached idiom: both are
    * deterministic functions of exactly that key, so Lloyd training and
    * the assignment scan are once-per-corpus INDEX BUILDS shared by q37
    * and q105 instead of per-query costs. Spec paths that construct
    * their own frames keep calling the unstaged builders. */
  private def trainedCodebookCached(s: SparkSession, dir: String,
                                    mod: Int): DataFrame = {
    // geometry rides the KIND, not the version: the registry keeps ONE
    // active layout per (kind, source), and different sample mods are
    // live simultaneously (specs; q37 vs recall sweeps) — a shared kind
    // would ping-pong rebuilds between them
    val p = graft.etl.Layouts.stage(s, s"ivfcb$mod", "v1", dir,
      Seq("embeddings")) { base =>
      trainedCodebook(normed(s, dir), trainSampleMod = mod)
        .write.mode("overwrite").parquet(s"$base/cb")
      s"$base/cb"
    }
    s.read.parquet(p)
  }

  private[graft] def ivfAssigned(s: SparkSession, dir: String, mod: Int): DataFrame = {
    val p = graft.etl.Layouts.stage(s, s"ivfassign$mod", "v1", dir,
      Seq("embeddings")) { base =>
      assign(normed(s, dir), trainedCodebookCached(s, dir, mod))
        .select("vec_id", "v", "nrm", "centroid_id")
        .write.mode("overwrite").parquet(s"$base/assign")
      s"$base/assign"
    }
    s.read.parquet(p)
  }

  private[graft] def ivfTopk(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = normed(s, dir)
    val cb = trainedCodebookCached(s, dir, ivfTrainSampleMod)
    val assigned = ivfAssigned(s, dir, ivfTrainSampleMod)
    // top-nprobe centroids per probe, same ordering as `assign`'s argmax
    // (highest cosine, ties to the lowest centroid id) so nprobe=1 is
    // exactly the assigned bucket; 8 x 16 rows, window cost is nil
    val wProbe = Window.partitionBy("probe_id").orderBy(desc("pccos"), asc("pcentroid"))
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      .crossJoin(broadcast(cb.withColumnRenamed("centroid_id", "pcentroid")))
      .withColumn("pccos", expr(dotFold.format("pv", "cv") + " / (pn * cn)"))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("probe_id"), col("pv"), col("pn"), col("pcentroid"))
    val wTop = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    // broadcast the provably-bounded probe side (vec_id < 8): without the
    // hint Catalyst picks a sort-merge join that shuffles the ENTIRE corpus
    // onto the 16-value centroid key — at 100 TB that crams all assigned
    // vectors into <=16 partitions. Broadcast means the corpus never
    // repartitions on the bucket key at all.
    assigned
      .join(broadcast(probes),
        col("centroid_id") === col("pcentroid") && col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("probe_id").cast("bigint").as("probe_id"),
              col("vec_id").cast("bigint").as("neighbor_id"),
              col("rank").cast("int").as("rank"), col("cos"))
      .orderBy("probe_id", "rank")
  }

  /** The oracle-registered IVF search: nprobe=1 (assigned bucket only). */
  def q37IvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopk(s, dir, nprobe = 1)

  /** Staged BASE-corpus IVF index — the standing index a weekly embedding
    * ingest updates: codebook trained ONLY on the standing corpus
    * (vec_id % 10 != 7, q65's crawl-split convention) with the q37
    * sample/seed discipline, plus that corpus's full bucket assignment.
    * Both staged once per corpus fingerprint (the ivfAssigned idiom)
    * under one durable root: `cb/` and `assign/`. */
  private def ivfBaseIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = graft.etl.Layouts.stage(s, "ivfbase",
      s"v1;mod=$ivfTrainSampleMod;split=7", dir, Seq("embeddings")) { pth =>
      val base = normed(s, dir).filter(col("vec_id") % 10 =!= 7)
      trainedCodebook(base, trainSampleMod = ivfTrainSampleMod)
        .write.mode("overwrite").parquet(s"$pth/cb")
      assign(base, s.read.parquet(s"$pth/cb"))
        .select("vec_id", "centroid_id")
        .write.mode("overwrite").parquet(s"$pth/assign")
      pth
    }
    (s.read.parquet(s"$p/cb"), s.read.parquet(s"$p/assign"))
  }

  /** q308 — INCREMENTAL IVF ASSIGNMENT MAINTENANCE (the q65/q113 delta
    * discipline applied to the similarity index): the standing corpus
    * (vec_id % 10 != 7) has a FROZEN codebook and a staged assignment
    * ([[ivfBaseIndex]] — built once, the faiss deployment convention:
    * a 16-centroid quantizer is not retrained per ingest batch); this
    * week's batch (vec_id % 10 == 7) is assigned ONLY against that
    * frozen codebook — a broadcast argmax over |delta| rows, never a
    * corpus re-scan — and unioned with the staged assignment. The
    * readout is the updated index state per centroid: total members,
    * newly added members, and the first new vec_id routed there.
    *
    * The ORACLE is the full-rebuild form (q113's trick): train the
    * codebook on the base corpus, then assign base + delta in ONE pass.
    * Because nearest-centroid assignment is per-vector, incremental
    * union == one-shot rebuild exactly, so the hash gate proves the
    * delta path loses nothing — and IvfIncrementalSpec additionally
    * feeds a constructed delta batch and pins incremental == rebuild
    * frame-for-frame.
    *
    * Scale shape: recurring cost is O(|delta| × 16) assignment work +
    * one leaf scan of the staged assignment (16 bytes/vector); the
    * Lloyd training and the corpus-wide assignment are once-per-corpus
    * index builds, which is the entire point. */
  def q308IvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val (cb, baseAssigned) = ivfBaseIndex(s, dir)
    val delta = normed(s, dir).filter(col("vec_id") % 10 === 7)
    val updated = baseAssigned
      .select(col("vec_id"), col("centroid_id"), lit(0L).as("is_new"))
      .unionByName(assign(delta, cb)
        .select(col("vec_id"), col("centroid_id"), lit(1L).as("is_new")))
    updated.groupBy("centroid_id")
      .agg(count(lit(1)).cast("bigint").as("n_vectors"),
        sum("is_new").cast("bigint").as("n_new"),
        coalesce(min(when(col("is_new") === 1L, col("vec_id"))), lit(-1L))
          .cast("bigint").as("first_new_vec"))
      .select(col("centroid_id").cast("bigint").as("centroid_id"),
        col("n_vectors"), col("n_new"), col("first_new_vec"))
      .orderBy("centroid_id")
  }

  /** q105's near-duplicate cosine threshold (the q26 pair-graph floor —
    * the synthetic fixture's cosines top out near 0.5, so the production
    * 0.9x SemDeDup bar would be vacuous here; the plan is
    * threshold-independent). */
  private val semDedupTau = 0.35

  /** SemDeDup-style semantic dedup (Abbas et al. 2023: k-means-cluster
    * the embedding space, compare pairs ONLY within a cluster, drop all
    * but one of each near-duplicate set): the trained IVF codebook
    * assigns every vector to a centroid, within-cluster pairs above
    * [[semDedupTau]] mark their higher-id member as a victim (greedy
    * keep-lowest-id, q40's rule), and the output is the per-cluster
    * dedup scorecard (members / dropped / kept).
    *
    * Scale shape: the cluster assignment is the ONLY full-corpus pass
    * (one broadcast-argmax over the bounded codebook) and is staged
    * through parquet, because four consumers read it (pair lhs, pair
    * rhs, member counts, kept counts) — unstaged, each would re-run
    * training + assignment. The quadratic pair scan is confined to
    * within-cluster blocks — exactly the SemDeDup design point: at
    * production scale k grows with the corpus (k ~ sqrt n) so cluster
    * blocks stay bounded, and a hot cluster is an AQE skew-split of the
    * one (centroid_id, centroid_id) self-join, the LshSkewSpec-proven
    * path. Never an all-pairs corpus join. */
  private[graft] def semDedup(e: DataFrame, tau: Double,
                              trainSampleMod: Int = 1): DataFrame = {
    val cb = trainedCodebook(e, trainSampleMod = trainSampleMod)
    val assigned = {
      val p = graft.Staging.fresh("semdedup")
      assign(e, cb).select("vec_id", "v", "nrm", "centroid_id")
        .write.mode("overwrite").parquet(p)
      e.sparkSession.read.parquet(p)
    }
    semDedupFromAssigned(assigned, tau)
  }

  /** The SemDeDup scorecard from a pre-staged assignment frame — the
    * path q105 takes through the once-per-corpus [[ivfAssigned]]
    * index; [[semDedup]] keeps the self-contained form for constructed
    * spec inputs. */
  private def semDedupFromAssigned(assigned: DataFrame, tau: Double): DataFrame = {
    val lhs = assigned.select(col("centroid_id"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val rhs = assigned.select(col("centroid_id"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val victims = lhs.join(rhs, Seq("centroid_id"))
      .filter(col("a") < col("b"))
      .withColumn("cos", expr("graft_dot(va, vb) / (na * nb)"))
      .filter(col("cos") >= tau)
      .select(col("b").as("vec_id")).distinct()
    val members = assigned.groupBy("centroid_id")
      .agg(count(lit(1)).cast("bigint").as("n_members"))
    val kept = assigned.join(victims, Seq("vec_id"), "left_anti")
      .groupBy("centroid_id").agg(count(lit(1)).cast("bigint").as("n_kept"))
    members.join(kept, Seq("centroid_id"))
      .select(col("centroid_id").cast("bigint").as("centroid_id"),
        col("n_members"), (col("n_members") - col("n_kept")).as("n_dropped"),
        col("n_kept"))
      .orderBy("centroid_id")
  }

  /** The oracle-registered SemDeDup instance over the fixture corpus —
    * reads the shared staged assignment index instead of re-running
    * training + the assignment scan per invocation. */
  def q105SemDedup(s: SparkSession, dir: String): DataFrame =
    semDedupFromAssigned(ivfAssigned(s, dir, ivfTrainSampleMod), semDedupTau)

  // ---------------------------------------------------------------- q266

  /** q266 — DUPLICATION CONCENTRATION: the exact Gini coefficient of
    * q50's near-dup CLUSTER SIZES, plus the cluster count, clustered-
    * doc mass, and the largest cluster — the one-row answer to "is
    * duplication spread thin or concentrated in a few mega-clusters?".
    * The distinction drives remediation: a high-Gini corpus has a few
    * template/mirror explosions that one targeted fix removes; a
    * low-Gini one has diffuse near-dups only threshold tuning
    * addresses. (Cluster-size skew is also exactly the LSH hot-bucket
    * and SemDeDup hot-cluster risk surface — SCALE.md's skew section —
    * so this is that risk, quantified.)
    *
    * Scale shape: cluster sizes come from the STAGED ccLabels fixpoint
    * (once per corpus, durable); the Gini rank rides q166's two-phase
    * discipline — offsets from a window over size-BUCKET summaries
    * (bounded grid), intra-bucket row_number under the total
    * (n_members, cluster_id) order — never a global sort of the
    * scaling cluster frame. One exact integer rank-sum, one terminal
    * float division (identical op chain in both engines). */
  def q266DupConcentration(s: SparkSession, dir: String): DataFrame = {
    val sizes = q50CcClusters(s, dir)
      .select(col("cluster_id").as("cid"), col("n_members").as("m"))
      .withColumn("vb", expr("m div 4"))
    val wOff = Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sizes.groupBy("vb").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum("bc").over(wOff), lit(0L)))
      .select("vb", "off")
    val wIntra = Window.partitionBy("vb").orderBy("m", "cid")
    sizes.join(offsets, Seq("vb"))
      .withColumn("rank", col("off") + row_number().over(wIntra))
      .agg(count(lit(1)).as("n"), sum("m").as("s0"),
        sum(col("rank") * col("m")).as("s1"), max("m").as("mx"))
      .select(col("n").cast("bigint").as("n_clusters"),
        col("s0").cast("bigint").as("n_docs_clustered"),
        col("mx").cast("bigint").as("max_cluster"),
        floor((lit(2L) * col("s1") - (col("n") + lit(1L)) * col("s0"))
            .cast("double") / (col("n") * col("s0")).cast("double") *
            lit(1000000.0))
          .cast("bigint").as("gini_e6"))
  }

  // ---------------------------------------------------------------- q280

  /** q280 — OPT-OUT CLUSTER CLOSURE: the consent companion to q250's
    * takedown. A data-subject opt-out (here a deterministic salted-md5
    * draw, ~2% of doc_ids — the q88/q276 stand-in for a real consent
    * feed) cannot stop at the opted-out document: its near-duplicates
    * carry the same content, so the governance rule is "quarantine the
    * whole near-dup cluster". Per source: documents, direct opt-outs,
    * quarantined documents after the cluster closure, the collateral
    * (quarantined − opted-out — the mass removed only because it
    * duplicates someone else's opt-out), and the e6 quarantine share.
    * The amplification readout is what tells a governance team whether
    * opt-outs are cheap (collateral ≈ 0) or structurally expensive
    * (one opt-out in a mirror cluster removes thousands).
    *
    * Scale shape: cluster labels are the STAGED ccLabels fixpoint
    * (once per corpus, durable — q50's substrate); the closure is one
    * distinct over the opted-out labels followed by one equi-join on
    * the label key — the verdict frame carries cluster ids, never
    * documents. The final rollup is bounded by |sources|. */
  def q280OptoutClosure(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("optout", expr(
        "case when cast(conv(substring(md5(concat('opt_', " +
          "cast(doc_id as string))), 1, 4), 16, 10) as int) % 50 = 0 " +
          "then 1 else 0 end").cast("bigint"))
    val lbl = ccLabels(s, dir).select(col("v").as("doc_id"), col("lbl"))
    val dl = docs.join(lbl, Seq("doc_id"), "left")
    val hit = dl.filter(col("optout") === 1L && col("lbl").isNotNull)
      .select(col("lbl")).distinct().withColumn("cluster_hit", lit(1L))
    dl.join(hit, Seq("lbl"), "left")
      .withColumn("quar",
        when(col("optout") === 1L || col("cluster_hit") === 1L, 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("optout").cast("bigint").as("n_optout"),
        sum("quar").cast("bigint").as("n_quarantined"))
      .withColumn("n_collateral",
        expr("n_quarantined - n_optout").cast("bigint"))
      .withColumn("quar_share_e6",
        expr("(1000000 * n_quarantined) div n_docs").cast("bigint"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q281

  /** q281 — PARTITION MODULARITY (Newman & Girvan 2004) of the
    * embedding LABEL taxonomy over the near-dup pair graph: does the
    * curated label structure respect the similarity structure? Per
    * label c: endpoint degree mass d_c, intra-label edges e_c, the
    * observed intra share ⌊1e6·e_c/m⌋, the null-model expectation
    * ⌊1e6·d_c²/(4m²)⌋, and the label's modularity contribution
    * dq_e6 = ⌊1e6·(4m·e_c − d_c²)/(4m²)⌋ (the q266 float-floor idiom —
    * the numerator can be negative, and ⌊·⌋-on-double is the one
    * division both engines floor identically; every input to it is an
    * exact BIGINT). Σ_c dq ≈ Q·1e6: near zero means labels are
    * orthogonal to near-dup structure, strongly positive means
    * duplication is intra-topic, negative cells flag labels whose
    * members duplicate OTHER labels' content — a taxonomy-drift signal.
    *
    * Scale shape: the pair stream is the shared banded-LSH candidate
    * frame (never all-pairs); two equi-joins attach endpoint labels;
    * everything after is bounded by |labels|. Headroom: 1e6·d_c² ≤
    * 1e6·4m² — exact to m ~ 1.5e6 pairs, decimal(38,0) past that. */
  def q281Modularity(s: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("int").as("l"))
    val e = stagedPairs(s, dir)
      .join(lbl.select(col("vec_id").as("vec_a"), col("l").as("la")), Seq("vec_a"))
      .join(lbl.select(col("vec_id").as("vec_b"), col("l").as("lb")), Seq("vec_b"))
      .select("la", "lb")
    val m = e.agg(count(lit(1)).cast("bigint").as("m"))
    val deg = e.select(col("la").as("lbl")).union(e.select(col("lb").as("lbl")))
      .groupBy("lbl").agg(count(lit(1)).cast("bigint").as("d_c"))
    val intra = e.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl"))
      .agg(count(lit(1)).cast("bigint").as("e_c"))
    deg.join(intra, Seq("lbl"), "left")
      .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("lbl").cast("int").as("lbl"), col("d_c"), col("e_c"),
        expr("(1000000 * e_c) div m").cast("bigint").as("frac_e6"),
        expr("(1000000 * d_c * d_c) div (4 * m * m)").cast("bigint")
          .as("exp_e6"),
        floor(expr("cast(4 * m * e_c - d_c * d_c as double)") /
            expr("cast(4 * m * m as double)") * lit(1000000.0))
          .cast("bigint").as("dq_e6"))
      .orderBy("lbl")
  }

  // ---------------------------------------------------------------- q282

  /** q282 — CENTROID-FIT audit (simplified silhouette, Rousseeuw 1987
    * in its centroid form) of the label taxonomy in embedding space:
    * per vector, the cosine to its OWN label's centroid (self
    * excluded) versus the best cosine to any OTHER label's centroid;
    * per label: member count, misfit count (another centroid wins),
    * the e6 misfit share, and the exact sum of per-vector e6-floored
    * margins (cos_own − best_other — positive mass = compact,
    * well-separated label; the mean is deliberately not divided out:
    * a signed integer division is the one op the two engines floor
    * differently, so the readout stays on the exact lattice).
    *
    * Determinism is the q232 int8 lattice story: vectors quantize with
    * the per-vector absmax quantizer to BIGINT codes, centroids are
    * exact integer CODE SUMS (scales cancel in cosine direction up to
    * quantization, which both engines apply identically), every dot /
    * norm² is an exact BIGINT, and each cosine is one division by one
    * sqrt of an exactly-computed integer product — bit-identical in
    * both engines. Self-exclusion is closed-form on the lattice:
    * dot(q, S−q) = dot − qn2, ‖S−q‖² = n2s − 2·dot + qn2; singleton
    * labels (‖S−q‖² = 0) pin cos_own = −2, below any true cosine.
    *
    * Scale shape: centroid code-sums fold componentwise in one bounded
    * aggregate (graft_vecsum — no (vec × dim) explode), collapse to ONE
    * broadcast row of centroid arrays, and every per-vector score is a
    * row-local ×|labels| native dot — never vector × vector, and no
    * fanout join. One bounded aggregate finishes. */
  def q282CentroidFit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0d"))
      .withColumn("q", expr(
        "transform(v, x -> cast(floor(x / scale + 0.5d) as bigint))"))
      .withColumn("qn2", expr("graft_ldot(q, q)"))
      .select(col("vec_id"), col("label").cast("int").as("own"),
        col("q"), col("qn2"))
    // Round-15 optimization (guide §2.3/§2.4): the previous form joined
    // the (vec × dim) code explode against the per-dim centroid frame —
    // a ×dim fanout (vec × dim × |labels| rows) through a wide hash
    // aggregate and two extra exchanges. Centroids now fold to ONE
    // broadcast row of (label, code-sum array, n2s) structs, and each
    // vector computes every label dot as an exact BIGINT zip_with fold
    // in a single projection — the exchanges carry only the bounded
    // centroid frame and the final per-label rollup. Same integer
    // lattice, same cos expressions, oracle unchanged. Measured at
    // sf0.1: 3.74 s before → see OPTIMIZATION_r15.md.
    // centroid code-sums fold componentwise in one aggregate
    // (graft_vecsum) — no (vec × dim) explode, no per-dim regroup
    val centArr = e.groupBy(col("own").as("clabel"))
      .agg(expr("graft_vecsum(q)").as("sds"))
      .withColumn("n2s", expr("graft_ldot(sds, sds)"))
    val cents = centArr
      .agg(collect_list(struct(col("clabel"), col("sds"), col("n2s"))).as("cents"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("dots", expr(
        "transform(cents, c -> named_struct('clabel', c.clabel, 'n2s', c.n2s, " +
          "'dot', graft_ldot(q, c.sds)))"))
      .withColumn("coss", expr(
        "transform(dots, c -> named_struct('clabel', c.clabel, 'cos', " +
          "case when c.clabel = own then " +
          "(case when c.n2s - 2 * c.dot + qn2 <= 0 then cast(-2.0 as double) " +
          "else cast(c.dot - qn2 as double) / " +
          "sqrt(cast(qn2 * (c.n2s - 2 * c.dot + qn2) as double)) end) " +
          "else cast(c.dot as double) / sqrt(cast(qn2 * c.n2s as double)) end))"))
      .withColumn("cos_own", expr("filter(coss, x -> x.clabel = own)[0].cos"))
      .withColumn("best_other", expr(
        "array_max(transform(filter(coss, x -> x.clabel != own), x -> x.cos))"))
    scored
      .groupBy(col("own").as("label"))
      .agg(count(lit(1)).cast("bigint").as("n_vecs"),
        sum(when(col("best_other") > col("cos_own"), 1L).otherwise(0L))
          .cast("bigint").as("n_misfit"),
        sum(expr("cast(floor((cos_own - best_other) * 1000000.0) as bigint)"))
          .cast("bigint").as("margin_sum_e6"))
      .withColumn("misfit_share_e6",
        expr("(1000000 * n_misfit) div n_vecs").cast("bigint"))
      .select("label", "n_vecs", "n_misfit", "misfit_share_e6",
        "margin_sum_e6")
      .orderBy("label")
  }

  // ---------------------------------------------------------------- q285

  /** q285 — DEDUP-METHOD AGREEMENT audit: on the shared embedding
    * near-dup candidate universe (the staged pair frame, cos ≥ 0.35),
    * how often does the LEXICAL verdict agree? Per cosine band (q263's
    * [0.35,0.5) / [0.5,0.7) / [0.7,1]): pair count and the share of
    * pairs whose exact distinct-word Jaccard clears 0.5 (the q22/q24
    * near-dup bar) and 0.3 (the soft bar) — both tested as integer
    * cross-multiplications (2·|∩| ≥ |∪|, 10·|∩| ≥ 3·|∪|), no float
    * thresholding. The governance reading: high-cosine bands should
    * agree lexically (paraphrase-only divergence lives in the low
    * band); a corpus where 0.70+ pairs fail the word-set bar is
    * embedding-near but token-far — the semantic-dedup-only risk
    * surface q105 acts on, quantified against the lexical family.
    *
    * Scale shape: the pair universe is the STAGED banded-LSH frame
    * (never all-pairs); two doc_id equi-joins attach distinct-word
    * sets only for candidate endpoints; one bounded 3-row rollup.
    * The set intersection runs per candidate pair — the same verify
    * economics as q24's post-blocking step. */
  def q285DedupAgreement(s: SparkSession, dir: String): DataFrame = {
    val txt = Tables.documents(s, dir)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("w"))
    stagedPairs(s, dir)
      .join(txt.select(col("doc_id").as("vec_a"), col("w").as("wa")), Seq("vec_a"))
      .join(txt.select(col("doc_id").as("vec_b"), col("w").as("wb")), Seq("vec_b"))
      .select(col("cos"),
        expr("cast(size(array_intersect(wa, wb)) as bigint)").as("ni"),
        expr("cast(size(array_union(wa, wb)) as bigint)").as("nu"))
      .select(
        expr("case when cos >= 0.7 then '0.70+' " +
          "when cos >= 0.5 then '0.50-0.70' else '0.35-0.50' end")
          .as("cos_band"),
        expr("case when 2 * ni >= nu then 1L else 0L end").as("lex05"),
        expr("case when 10 * ni >= 3 * nu then 1L else 0L end").as("lex03"))
      .groupBy("cos_band")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum("lex05").cast("bigint").as("n_lex_05"),
        sum("lex03").cast("bigint").as("n_lex_03"))
      .withColumn("agree05_e6",
        expr("(1000000 * n_lex_05) div n_pairs").cast("bigint"))
      .withColumn("agree03_e6",
        expr("(1000000 * n_lex_03) div n_pairs").cast("bigint"))
      .orderBy("cos_band")
  }

  // ---------------------------------------------------------------- q288

  /** q288 — DEDUP-CORRECTED EFFECTIVE MASS: every corpus statistic a
    * mixture designer reads (q69's temperatures, q254's quotas, q82's
    * scorecard) is computed over RAW document counts, but near-dup
    * clusters mean the corpus's effective size is smaller — and
    * unevenly so across sources. Per source: raw docs/tokens, effective
    * docs/tokens (each q50 cluster counted ONCE, attributed to its
    * representative's source; unclustered docs count as themselves),
    * and the e6 inflation factor raw/effective — the correction factor
    * that turns raw source weights into dedup-honest ones.
    *
    * Scale shape: labels are the STAGED ccLabels fixpoint; effectivity
    * is a row-local flag (unclustered OR rep, where rep id IS the
    * label); one bounded source rollup. A source whose mass is
    * entirely non-representative cluster members reads effective 0 —
    * the GREATEST(·,1) guard keeps both engines on the defined answer. */
  def q288EffectiveMass(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        expr("cast(size(split(text, ' ')) as bigint)").as("ntok"))
    val lbl = ccLabels(s, dir).select(col("v").as("doc_id"), col("lbl"))
    docs.join(lbl, Seq("doc_id"), "left")
      .withColumn("eff",
        when(col("lbl").isNull || col("lbl") === col("doc_id"), 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("ntok").cast("bigint").as("tokens"),
        sum("eff").cast("bigint").as("n_eff"),
        sum(expr("case when eff = 1 then ntok else 0 end"))
          .cast("bigint").as("tokens_eff"))
      .withColumn("inflation_e6",
        expr("(1000000 * tokens) div greatest(tokens_eff, 1)")
          .cast("bigint"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q289

  /** q289 — CROSS-LINGUAL PAIR AFFINITY: the language-pair matrix of
    * the near-dup graph. Same-language cells measure intra-lang
    * duplication; CROSS-language cells are the parallel/translated
    * content a multilingual pipeline mines on purpose (bitext) or
    * deduplicates by accident (transliterated mirrors) — either way
    * the first table a cross-lingual curator asks for. Per unordered
    * (lang_a ≤ lang_b) cell: pair count, the e6 share of all pairs,
    * and the strong-pair count (cos ≥ 0.7, the q263 top band).
    *
    * Scale shape: the pair universe is the STAGED banded-LSH frame;
    * two doc_id equi-joins attach endpoint languages; the rollup is
    * bounded by |langs|². */
  def q289CrosslingualPairs(s: SparkSession, dir: String): DataFrame = {
    val lang = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val tot = stagedPairs(s, dir).agg(count(lit(1)).cast("bigint").as("n_t"))
    stagedPairs(s, dir)
      .join(lang.select(col("doc_id").as("vec_a"), col("lang").as("la")),
        Seq("vec_a"))
      .join(lang.select(col("doc_id").as("vec_b"), col("lang").as("lb")),
        Seq("vec_b"))
      .select(least(col("la"), col("lb")).as("lang_a"),
        greatest(col("la"), col("lb")).as("lang_b"), col("cos"))
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(expr("case when cos >= 0.7 then 1 else 0 end"))
          .cast("bigint").as("n_strong"))
      .crossJoin(broadcast(tot))
      .withColumn("share_e6",
        expr("(1000000 * n_pairs) div greatest(n_t, 1)").cast("bigint"))
      .select("lang_a", "lang_b", "n_pairs", "n_strong", "share_e6")
      .orderBy("lang_a", "lang_b")
  }

  // ---------------------------------------------------------------- q263

  /** q263 — SEMANTIC-DECONTAMINATION RECALL calibration: q242's banded
    * verdicts measured against the EXACT corpus × bench sweep — per
    * cosine band ([0.35,0.5), [0.5,0.7), [0.7,1]), how many true
    * contaminated vectors exist and how many the bands caught. The
    * q123 discipline (every approximate operator ships with its
    * calibration query): band recall is a geometry property, and this
    * is the table that says whether the geometry clears the bar before
    * anyone trusts q242/q253's verdicts. Near-dups at higher cosine
    * collide in more bands, so recall should RISE with the band — the
    * monotone shape the spec pins.
    *
    * Scale shape: the exact sweep is corpus ⋈ bench with the BENCH
    * side bounded (an eval suite; 1/37 here) — the corpus never
    * shuffles, the bench frame broadcasts (AQE elects it from size),
    * and the per-vector verdict aggregates on the scaling vec_id key.
    * The banded side reuses q242's candidate machinery. One bounded
    * 3-row rollup at the end. */
  def q263SemanticRecall(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val bench = e.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("bid"), col("v").as("bv"), col("nrm").as("bn"))
    val corpus = e.filter(col("vec_id") % 37 =!= 0)
    // exact: best bench cosine per corpus vector (one sweep)
    val exact = corpus.crossJoin(bench)
      .withColumn("cos", expr(dotFold.format("v", "bv") + " / (nrm * bn)"))
      .groupBy("vec_id").agg(max("cos").as("best_cos"))
      .filter(col("best_cos") >= 0.35)
    val flagged = q242SemanticDecontaminate(s, dir)
      .select(col("vec_id"), lit(1L).as("caught"))
    exact.join(flagged, Seq("vec_id"), "left")
      .select(
        expr("case when best_cos >= 0.7 then '0.70+' " +
          "when best_cos >= 0.5 then '0.50-0.70' else '0.35-0.50' end")
          .as("cos_band"),
        coalesce(col("caught"), lit(0L)).as("caught"))
      .groupBy("cos_band")
      .agg(count(lit(1)).cast("bigint").as("n_true"),
        sum("caught").cast("bigint").as("n_caught"))
      .withColumn("recall_e6",
        expr("(1000000 * n_caught) div n_true").cast("bigint"))
      .orderBy("cos_band")
  }

  // ---------------------------------------------------------------- q259

  /** q259 — CLUSTER × SOURCE balance audit: which sources are over- or
    * under-represented in which embedding clusters — the TOPIC-BALANCE
    * diagnostic a mixture designer reads before setting q254's quotas
    * (a source whose mass concentrates in two clusters adds volume,
    * not coverage; a cluster fed by one source is a provenance risk).
    * Cells are scored by exact independence lift — lift_e6 =
    * ⌊1e6 · n_cell · N / (n_cluster · n_source)⌋ — and the top-20
    * deviations from 1e6 surface (the chi-square shape on the integer
    * lattice, the q188 family).
    *
    * Scale shape: the trained-codebook assignment is the STAGED
    * once-per-corpus leaf (q105's ivfAssigned — no re-train, no
    * re-assign), one doc_id equi-join for the source column, one
    * map-side-combinable (cluster, source) count, and every join after
    * that runs over ≤ |clusters|·|sources| summary cells with bounded
    * marginals. Headroom: 1e6·n·N ≤ 1e6·N² — exact to N ~ 3e6 rows,
    * decimal(38,0) past that (the q187 note). */
  def q259ClusterSourceBalance(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(s, dir, ivfTrainSampleMod)
      .select("vec_id", "centroid_id")
    val meta = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val cells = assigned.join(meta, Seq("vec_id"))
      .groupBy("centroid_id", "source")
      .agg(count(lit(1)).cast("bigint").as("n_cell"))
    val rowM = cells.groupBy("centroid_id")
      .agg(sum("n_cell").cast("bigint").as("n_cluster"))
    val colM = cells.groupBy("source")
      .agg(sum("n_cell").cast("bigint").as("n_source"))
    val tot = cells.agg(sum("n_cell").cast("bigint").as("n_total"))
    cells.join(rowM, Seq("centroid_id")).join(colM, Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("lift_e6",
        expr("(1000000 * n_cell * n_total) div (n_cluster * n_source)")
          .cast("bigint"))
      .withColumn("dev_e6", expr("abs(lift_e6 - 1000000)").cast("bigint"))
      .select(col("centroid_id").cast("bigint").as("centroid_id"),
        col("source"), col("n_cell"), col("n_cluster"), col("n_source"),
        col("lift_e6"), col("dev_e6"))
      .orderBy(desc("dev_e6"), asc("centroid_id"), asc("source"))
      .limit(20)
  }

  /** Embedding-cosine near-duplicate DEDUP (the brief's last dedup family):
    * greedy keep-lowest-id over the q26 near-dup pair graph — any vector
    * with a >= 0.35 neighbor of smaller id is dropped via a left anti-join.
    * (One greedy pass, not connected components: survivors of a chain keep
    * transitively-similar members whose direct link was pruned — the
    * standard one-pass tradeoff; q50 is the iterative connected-components
    * upgrade that resolves those transitive chains.) Both the pair
    * generation (banded LSH) and the anti-join are equi-key shuffles. */
  def q40EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    val victims = q26LshCosine(s, dir).select(col("vec_b").as("vec_id")).distinct()
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("bigint").as("vec_id"), col("label"))
      .join(victims, Seq("vec_id"), "left_anti")
      .groupBy("label")
      .agg(count(lit(1)).cast("bigint").as("n_kept"))
      .orderBy("label")
  }

  /** Connected-components dedup CLUSTERS — the iterative upgrade q40's doc
    * promises: min-label propagation over the q26 near-dup pair graph to a
    * fixpoint, so transitively-linked vectors (a~b, b~c, but a,c never
    * paired) land in ONE cluster. cluster_id = min vec_id in the component.
    *
    * Shape per pass (hash-to-min): one equi-key shuffle (edges ⋈ labels on
    * dst) + one groupBy(src) min — self-loops fold each vertex's own label
    * into the neighborhood min, so a single aggregate computes min over
    * {v} ∪ N(v). The edge set is AUGMENTED each pass with shortcut edges
    * (v ↔ lbl(v)) from the current AND previous labeling, which lets the
    * component minimum cross whole already-labeled basins per hop instead
    * of one graph edge. Labels only decrease, so the label SUM strictly
    * decreases until the fixpoint; equality of consecutive sums IS
    * convergence (one scalar collect per pass — the bounded-driver-collect
    * pattern, not a data collect).
    *
    * Engineering choices, each load-bearing (alternatives measured slower
    * on the sf0.1 graph):
    *  - The expensive LSH + cosine-verify subtree is staged to parquet
    *    ONCE and re-read as a leaf scan — `cache`/`localCheckpoint` of it
    *    either leaves the full logical plan in every pass (analysis grows
    *    ~4x per pass: the pass references labels four times) or compiles
    *    the subtree WITHOUT AQE (localCheckpoint goes through the RDD
    *    path; measured 4x slower). Staging through a durable store is
    *    also exactly what a real cluster run needs — executor loss cannot
    *    drop state mid-iteration. The root is swept at JVM exit
    *    (graft.Staging).
    *  - Per-pass label frames stage through rotating parquet dirs
    *    (lineage must truncate, and Spark 4's localCheckpoint stats
    *    rewrite compounds sizeInBytes through multi-reference passes —
    *    pagerankConverged documents the measured failure). The loop runs
    *    at a small derived width where fixed per-task overhead dominates;
    *    on a real cluster the width scales with |V| instead.
    *  - Chaining multiple hops per checkpoint LOOKS like it should
    *    amortize job overhead, but Spark re-executes the repeated
    *    un-materialized subplans (no common-subexpression reuse across
    *    union branches), so each chained hop multiplied work ~4x. */
  /** One staged (v, lbl) component labeling of the LSH near-dup graph
    * per embeddings fingerprint, durable through the Layouts registry:
    * q50 and q195 both consume the SAME pairs → undirected base →
    * min-label fixpoint chain, so the multi-pass propagation is a
    * once-per-corpus cost instead of once-per-query (measured ~7 s per
    * extra consumer at sf0.1). */
  private[graft] def ccLabels(s: SparkSession, dir: String): DataFrame = {
    val path = graft.etl.Layouts.stage(s, "cclabels", "v1", dir, Seq("embeddings")) { ck =>
      // the shared staged pair frame IS the pairs stage (one LSH
      // derivation per corpus even when both consumers run); the
      // undirected+self-loop staging and the propagation are
      // DedupQueries.labelsOfPairs — one copy of the labeling shape
      DedupQueries.labelsOfPairs(s,
          stagedPairs(s, dir)
            .select(col("vec_a").as("ka"), col("vec_b").as("kb")), ck)
        .write.mode("overwrite").parquet(s"$ck/labels")
      s"$ck/labels"
    }
    s.read.parquet(path)
  }

  def q50CcClusters(s: SparkSession, dir: String): DataFrame =
    ccLabels(s, dir)
      .groupBy("lbl")
      .agg(count(lit(1)).cast("bigint").as("n_members"))
      .select(col("lbl").cast("bigint").as("cluster_id"), col("n_members"))
      .orderBy("cluster_id")

  /** q329 — TAINT RADIUS (bounded-hop BFS over the near-dup graph): how
    * far does benchmark contamination PROPAGATE through near-duplicate
    * links? A doc that near-dups a benchmark member is tainted at hop 1;
    * its own near-dups at hop 2; curation policy drops everything within
    * radius R. Direct-overlap decontamination (q64/q207/q242) is the
    * hop-1 special case — paraphrase chains (A quotes the benchmark, B
    * paraphrases A, C boilerplates B) walk FARTHER than any single
    * pairwise check sees, which is exactly why the radius matters.
    *
    * Algorithm: frontier BFS with R=6 unrolled relaxations over the
    * staged near-dup pair frame (stagedPairs — one LSH derivation per
    * corpus, both directions unioned). Each pass joins ONLY the current
    * frontier against the edges, anti-joins already-reached vertices
    * (min-hop = first-reach, so no re-relaxation ever), and the reached
    * set ping-pongs through two staged dirs (pass N reads only pass
    * N−1, so N may overwrite N−2's dir — the rotation discipline of
    * propagateLabels at its minimal width). An emptied frontier exits
    * early via one bounded scalar check per pass.
    *
    * Scale shape: per pass one frontier⋈edges equi-shuffle + one
    * anti-join against reached — O(frontier-degree sum), never O(V·E);
    * the unreached are never carried through the loop (they join once,
    * at the final audit). The oracle walks the same radius with a
    * recursive CTE capped at hop < 6 and takes MIN(hop) per vertex.
    * Hop −1 = clean (outside the radius). */
  def q329TaintRadius(s: SparkSession, dir: String): DataFrame = {
    val radius = 6
    val pr = stagedPairs(s, dir)
    val edges = pr.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pr.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val verts = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("bigint").as("v"))
    // Round-15 optimization (two per-pass cuts, output unchanged —
    // layers are the same BFS layers):
    //   1. each pass WRITES ONLY ITS NEW LAYER instead of rewriting the
    //      whole reached set (write volume O(V) total instead of
    //      O(radius * V) — at 100 TB the reached set is corpus-sized by
    //      the middle hops and rewriting it per hop is the dominant I/O);
    //      the anti-join reads the union of the layer leaves.
    //   2. the frontier-empty probe rides the layer write as a named
    //      Observation (the kcoreConverged discipline: one job per pass,
    //      never a write plus a separate isEmpty action).
    val stage = Staging.fresh("taintbfs")
    val obs0 = org.apache.spark.sql.Observation()
    verts.filter(col("v") % 37 === 0)
      .withColumn("hop", lit(0))
      .observe(obs0, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$stage/h0")
    var frontierN = obs0.get("n").asInstanceOf[Long]
    var layers = Seq(s"$stage/h0")
    var pass = 1
    while (pass <= radius && frontierN > 0L) {
      val frontier = s.read.parquet(layers.last).select(col("v").as("src"))
      val reachedSoFar = s.read.parquet(layers: _*).select("v")
      val obs = org.apache.spark.sql.Observation()
      edges.join(frontier, Seq("src"))
        .select(col("dst").as("v")).distinct()
        .join(reachedSoFar, Seq("v"), "left_anti")
        .withColumn("hop", lit(pass))
        .observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/h$pass")
      frontierN = obs.get("n").asInstanceOf[Long]
      layers = layers :+ s"$stage/h$pass"
      pass += 1
    }
    val reached = s.read.parquet(layers: _*)
    verts.join(reached, Seq("v"), "left")
      .groupBy(coalesce(col("hop"), lit(-1)).cast("int").as("hop"))
      .agg(count(lit(1)).cast("bigint").as("n_vecs"),
        min("v").cast("bigint").as("min_vec"),
        max("v").cast("bigint").as("max_vec"))
      .orderBy("hop")
  }

  /** Min-label propagation to a fixpoint over a staged undirected edge list
    * (parquet at `baseDir` with long columns src/dst, self-loops present on
    * every vertex — the self-loop rows double as the vertex list).
    *
    * Scale-honesty contract (each point is tested by CcPropagationSpec):
    *   - Runs on a CLONED session (`newSession`: shared context and staged
    *     data, private SQLConf), so the loop's shuffle-partition tuning
    *     never mutates the caller's session — concurrent queries on the
    *     caller see no conf change.
    *   - Loop width derives from the staged graph's on-disk size (~8 MB
    *     ≈ 200k edges per partition, a driver-side metadata read — no
    *     counting job; clamped to [1, defaultParallelism];
    *     `graft.cc.loop.partitions` overrides), not a literal tuned to
    *     one fixture. Label/edge frames
    *     are leaf-scan derivatives, so at fixture scale fixed per-task
    *     overhead dominates and the width collapses to 1; at 100 TB the
    *     same formula spreads the per-pass shuffle.
    *   - Convergence = COUNT of changed labels reaching zero. Labels only
    *     decrease, so changed=0 is exactly the fixpoint; the previous
    *     sum(lbl)-equality test overflowed a long once |V| × max(id)
    *     crossed Long.MaxValue (ANSI mode: the query THROWS at real vertex
    *     counts; non-ANSI: silent wrap).
    *   - Per-pass state lives in THREE rotating staged dirs (the hop
    *     reads current AND previous labels, so pass N may only overwrite
    *     pass N-3's dir) — disk holds at most four label frames (l0 +
    *     rotation), never the pass count, and nothing pins executor
    *     block-manager memory at all.
    */
  /** Optional WARM START (`seedDir`: a staged (v, lbl) parquet): start
    * each seeded vertex from that labeling instead of its own id. Exact
    * for any seed whose labels are ids of vertices IN THE SAME CURRENT
    * COMPONENT and present in the current graph (a prior labeling of a
    * subgraph under an append-only delta qualifies — q315's contract):
    * labels only decrease, every initial label bounds the component min
    * from above, and the true min M's own seed is M (its base component
    * can hold no smaller id) or M is unseeded — so the fixpoint is the
    * same component minimum, in fewer passes because base components
    * start pre-collapsed. A seed labeling that references REMOVED
    * vertices is NOT safe (a phantom min would leak into real labels);
    * callers with deletions must pass None. */
  private[graft] def propagateLabels(s: SparkSession, baseDir: String,
                                     seedDir: Option[String] = None): DataFrame = {
    val ls = s.newSession()
    val base = ls.read.parquet(baseDir)
    // the override is read from the CALLER's conf — newSession() starts
    // from the SparkContext defaults, not the caller's runtime settings
    val width = s.conf.getOption("graft.cc.loop.partitions").map(_.toInt).getOrElse {
      // Round-15 optimization: derive the loop width from the staged
      // graph's FILE SIZE (a driver-side FS metadata read) instead of
      // base.count() — the count was a full extra Spark job per
      // propagateLabels call, paid by every consumer (q50/q177/q310/
      // q315/...) before the first pass. ~8 MB of staged parquet per
      // partition lands at the same ~200k-edges/partition target the
      // count-based formula aimed at; the clamp to defaultParallelism
      // and the conf override are unchanged.
      val p = new org.apache.hadoop.fs.Path(baseDir)
      val fs = p.getFileSystem(ls.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      math.max(1L, math.min(ls.sparkContext.defaultParallelism.toLong,
        bytes / (8L << 20) + 1L)).toInt
    }
    // the iterate phase runs on the SMALL label/edge frames (leaf scans of
    // the staged parquet), where fixed per-task overhead dominates — and
    // per-pass label frames stage through THREE rotating parquet dirs
    // (the hop reads the current AND previous labeling, so pass N may
    // only overwrite pass N-3's dir). Staging rather than localCheckpoint
    // for the reason pagerankConverged documents at length: Spark 4's
    // checkpoint stats rewrite compounds sizeInBytes through every pass
    // that references prior state more than once (this hop references it
    // SIX times), which melts the driver's stats visitor once pass counts
    // grow — the shortcut edges keep THIS loop's pass count ~log-diameter
    // small, but a 100 TB graph's diameter is not this fixture's.
    ls.conf.set("spark.sql.shuffle.partitions", width.toString)
    val ck = graft.Staging.fresh("ccloop")
    // self-loop rows enumerate the vertices — no distinct shuffle needed
    val verts = base.filter(col("src") === col("dst")).select("src")
    // shortcut edges (v ↔ lbl(v)) from a labeling frame; ANY past labeling
    // is safe to add — labels are always ids of same-component vertices,
    // so shortcuts never bridge components
    def sc(l: DataFrame): Seq[DataFrame] = {
      val d = l.filter(col("v") =!= col("lbl"))
      Seq(d.select(col("v").as("src"), col("lbl").as("dst")),
          d.select(col("lbl").as("src"), col("v").as("dst")))
    }
    // one neighbor-min hop over base + shortcuts from the current AND the
    // previous labeling: when boundary vertex x improves from basin-min mA
    // to mB, its current shortcut flips to x↔mB in the same hop — only the
    // PREVIOUS labeling's x↔mA edge still carries mB into mA, which then
    // fans it out to its whole basin through the basin's own shortcuts
    def hop(prev: DataFrame, cur: DataFrame): DataFrame =
      (sc(cur) ++ sc(prev)).foldLeft(base)(_ union _)
        .join(cur.select("v", "lbl"), col("dst") === col("v"))
        .groupBy("src").agg(min("lbl").as("lbl"))
        .withColumnRenamed("src", "v")
    // stage the initial labels too: pass 1 references this frame five
    // times, which would otherwise re-run the base scan per reference
    seedDir match {
      case Some(sd) =>
        verts.select(col("src").as("v"))
          .join(ls.read.parquet(sd).withColumnRenamed("lbl", "seed_lbl"),
            Seq("v"), "left")
          .select(col("v"), coalesce(col("seed_lbl"), col("v")).as("lbl"))
          .write.mode("overwrite").parquet(s"$ck/l0")
      case None =>
        verts.select(col("src").as("v"), col("src").as("lbl"))
          .write.mode("overwrite").parquet(s"$ck/l0")
    }
    var labels = ls.read.parquet(s"$ck/l0")
    var prevLabels = labels
    var converged = false
    var pass = 0
    while (!converged) {
      // the convergence count rides the pass's write job as a named
      // observation — one job per pass, not a write job plus a separate
      // count job (verified against a filter-count probe by
      // CcPropagationSpec's convergence tests)
      pass += 1
      val obs = org.apache.spark.sql.Observation(s"graft_cc_pass_$pass")
      // dirs l1..l3 rotate; pass N overwrites pass N-3's dir, which
      // neither the current nor the previous labeling reads any more
      val out = s"$ck/l${pass % 3 + 1}"
      hop(prevLabels, labels)
        .join(labels.select(col("v"), col("lbl").as("prev_lbl")), Seq("v"))
        .observe(obs, sum(when(col("lbl") =!= col("prev_lbl"), 1L).otherwise(0L)).as("changed"))
        .select("v", "lbl")
        .write.mode("overwrite").parquet(out)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      prevLabels = labels
      labels = ls.read.parquet(out)
    }
    labels.select("v", "lbl")
  }

  /** PQ geometry: [[pqM]] subspaces of dim/[[pqM]] dims, [[pqK]] centroids
    * per subspace. The codebook is TRAINED: seeded from the first pqK
    * vectors' subvectors, then [[pqTrainIters]] per-subspace Lloyd passes
    * over a deterministic 1-in-[[pqTrainSampleMod]] corpus sample (squared-L2
    * argmin assignment, fixed-point re-center — the same order-free
    * quantize-sum-divide as q37's `recenter`, so the codebook is bit-equal
    * across partitionings and engines). Training runs per subspace over
    * (m, subvector) rows: one broadcast join against the <= pqM x pqK
    * codebook per pass, never a corpus shuffle — and the sample bounds
    * the training expansion, leaving the one full O(corpus x pqK) pass to
    * the encode itself. */
  private val pqM = 16
  private val pqSub = dim / pqM
  private val pqK = 32
  private val pqShortlist = 16
  private val pqTrainIters = 2

  /** Training-sample stride for the registered q71 instance: the codebook
    * trains on vectors with vec_id % 4 = 0 plus the first-[[pqK]] seed.
    * At the fixtures that is ~150 of 500 (sf0.01) / ~530 of 2000 (sf0.1)
    * training members for 32 centroids per subspace — non-degenerate
    * (PqRecallSpec asserts sampled training keeps full-training recall
    * AND still lifts over the untrained seed); at 100 TB the stride is
    * what bounds index-build cost: trainIters x O(corpus/mod x pqK)
    * training instead of trainIters x O(corpus x pqK), leaving one full
    * pass (the encode). */
  private val pqTrainSampleMod = 4

  /** stack() args splitting a vector column into (m, subvector) rows —
    * subspace boundaries are plan-time literals. */
  private def pqSplit(c: String, m: Int, sub: Int): String =
    (0 until m).map(i => s"$i, slice($c, ${i * sub + 1}, $sub)").mkString(", ")

  /** Nearest-centroid code per (vector, subspace): broadcast the bounded
    * codebook, argmin squared L2 (ties to the lowest centroid id) via
    * `max_by` over struct(-dist, -cid) — partial aggregation collapses the
    * pqK-wide expansion back to one row per (vec_id, m) map-side, the same
    * shape as q37's `assign`. The subvector rides along in the max_by
    * payload (constant within the group) so training's re-center can read
    * it without a second scan.
    *
    * The ranking key is the FULL squared L2 (sub·sub − 2·sub·csub +
    * csub·csub). Two "obvious" strength reductions were tried and
    * REVERTED: dropping the per-group-constant sub·sub term changed
    * floating-point near-tie orderings enough to flip codes and push
    * fixture recall under its asserted floor, and hoisting csub·csub
    * onto the broadcast side broke AQE's reuse of the trained-codebook
    * subtree between the encode and the ADC table (slower than the dot
    * it saved). The distance stays in the exact form the oracle
    * mirrors. */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("m"))
      .withColumn("dist", expr(
        "graft_dot(sub, sub) - 2 * graft_dot(sub, csub) + graft_dot(csub, csub)"))
      .groupBy("vec_id", "nrm", "m")
      .agg(expr("max_by(struct(sub, cid), struct(-dist, -cid))").as("mm"))
      .select(col("vec_id"), col("nrm"), col("m"),
              col("mm.sub").as("sub"), col("mm.cid").as("code"))

  /** Per-subspace Lloyd re-center: for each (subspace, centroid,
    * dimension), the fixed-point mean of member subvector values — exactly
    * q37's `recenter` keyed by (m, cid) instead of centroid_id. Order-free
    * integer sums, constant aggregation state, map-side combinable;
    * centroids that lose every member drop out (deterministically — the
    * oracle's GROUP BY does the same). */
  private def pqRecenter(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("code").as("cid"), posexplode(col("sub")))
      .withColumnRenamed("col", "val")
      .groupBy("m", "cid", "pos")
      .agg(sum(expr("cast(floor(val * 4294967296e0) as decimal(38,0))")).as("qsm"),
           count(lit(1)).as("cnt"))
      .withColumn("mean", col("qsm").cast("double") / (col("cnt") * lit(4294967296.0)))
      .groupBy("m", "cid")
      .agg(expr("transform(sort_array(collect_list(struct(pos, mean))), s -> s.mean)").as("csub"))

  /** Product-quantization approximate top-k (the memory-bound ANN scale
    * path next to q37's IVF): each vector is ENCODED as pqM one-byte
    * centroid codes (nearest subspace centroid by squared L2, ties to the
    * lowest centroid id), and search runs Asymmetric Distance Computation —
    * the probe precomputes its dot product against every (subspace,
    * centroid) once (a pqM x pqK lookup table), and each corpus vector's
    * approximate dot is the sum of pqM table lookups selected by its codes.
    *
    * Ranking by raw ADC alone is still lossy (pqM one-byte codes cannot
    * represent 64 floats), so the registered search is the production
    * two-stage topology: ADC selects a [[pqShortlist]]-wide shortlist per
    * probe, then the TRUE vectors of shortlist members are fetched and
    * reranked by exact cosine — codes decide WHO gets scored, floats only
    * score the shortlist. PqRecallSpec asserts the recall@3 floor, the
    * monotone shortlist-recall relationship, AND that the trained codebook
    * lifts raw-ADC recall over the untrained first-k seed at the same
    * geometry (training does real work; the rerank is not masking it).
    *
    * At 100 TB the point of PQ is that the INDEX is tiny: pqM 5-bit codes
    * (10 bytes) per vector instead of 64 floats (256 bytes), so the search
    * scan reads codes, not vectors, and the only full-vector reads are the
    * |probes| x shortlist rerank fetches. Plan shape: the codebook
    * (pqM x pqK = 512 rows) and the ADC table (|probes| x 512 rows)
    * broadcast; the corpus is never shuffled on anything except its own
    * (vec_id, m) encode combine — map-side partial aggregation collapses
    * the stack expansion before the exchange, so it carries pqM narrow
    * code rows per vector.
    *
    * Determinism: squared L2 expands to graft_dot(sub,sub) -
    * 2*graft_dot(sub,c) + graft_dot(c,c) — index-ordered folds and per-row
    * IEEE arithmetic, bit-equal in DuckDB; the pqM ADC partials pivot into
    * FIXED columns so the approximate score sums in one order. */
  /** Parameterized PQ search (geometry, shortlist width, training depth,
    * and training-sample stride exposed for the recall tests; q71
    * registers the (pqM, pqK, pqShortlist, pqTrainIters,
    * pqTrainSampleMod) instance).
    * shortlist = 0 disables the rerank and ranks by raw ADC score;
    * trainIters = 0 uses the raw first-k seed codebook;
    * trainSampleMod > 1 trains the codebook on the deterministic
    * 1-in-mod corpus sample (vec_id % mod = 0, unioned with the first-k
    * seed so every initial centroid keeps at least its own point) — the
    * faiss practice: Lloyd passes cost O(|sample| x pqK) instead of
    * O(|corpus| x pqK), and the single full-corpus pass left is the
    * encode itself. The sample predicate is a plan-time literal mirrored
    * verbatim in the oracle, so the codebook — and therefore every code,
    * ADC score, and shortlist — stays bit-equal across engines. */
  /** Stage the trained PQ codebook through parquet: it is k*m rows but
    * its LINEAGE is trainIters unrolled assign+recenter rounds, and the
    * plan references it twice (corpus encode + probe ADC table) —
    * unstaged, every trial re-optimizes and re-executes that whole
    * subtree per reference (the q86/q95 branch-point rule). The write
    * costs one tiny job; both consumers then read a leaf scan. The
    * staged codebook is a durable layout per (corpus fingerprint,
    * training geometry) — the fuzzyPairs/ccLabels idiom: it is a
    * deterministic function of exactly that key, so Lloyd training is a
    * once-per-corpus INDEX BUILD, not a per-query cost (a production
    * PQ index trains once and serves queries for months). Shared by
    * q71's pure-PQ search and q212's IVF-ADC composition. */
  private def pqCodebookCached(s: SparkSession, dir: String, e: DataFrame,
                               m: Int, k: Int, trainIters: Int,
                               trainSampleMod: Int): DataFrame = {
    // geometry in the KIND (one active layout per kind): q71/q212 and the
    // recall/ablation specs hold several training geometries live at once
    val p = graft.etl.Layouts.stage(s, s"pqcb$m-$k-$trainIters-$trainSampleMod",
      "v1", dir, Seq("embeddings")) { base =>
      trainPqCodebook(e, m, k, trainIters, trainSampleMod)
        .write.mode("overwrite").parquet(s"$base/cb")
      s"$base/cb"
    }
    s.read.parquet(p)
  }

  private[graft] def pqTopk(s: SparkSession, dir: String,
                            m: Int, k: Int, shortlist: Int,
                            trainIters: Int = pqTrainIters,
                            trainSampleMod: Int = 1): DataFrame = {
    val sub = dim / m
    val e = normed(s, dir)
    val subs = pqSubsOf(e, m)
    val cb = pqCodebookCached(s, dir, e, m, k, trainIters, trainSampleMod)
    val encoded = pqAssign(subs, cb).drop("sub")
    val tableScored = e.filter(col("vec_id") < 8)
      .selectExpr("vec_id as probe_id", "nrm as pn", s"stack($m, ${pqSplit("v", m, sub)}) as (tm, psub)")
      .join(broadcast(cb.withColumnRenamed("m", "tm")), Seq("tm"))
      .withColumn("part", expr("graft_dot(psub, csub)"))
      .select("probe_id", "pn", "tm", "cid", "part")
    val parts = (0 until m).map(i => max(when(col("m") === i, col("part"))).as(s"p$i"))
    val adc = encoded
      .join(broadcast(tableScored),
        col("m") === col("tm") && col("code") === col("cid") &&
          col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "pn", "vec_id", "nrm")
      .agg(parts.head, parts.tail: _*)
      .withColumn("approx_cos", expr(
        s"(${(0 until m).map(i => s"p$i").mkString(" + ")}) / (pn * nrm)"))
    val wAdc = Window.partitionBy("probe_id").orderBy(desc("approx_cos"), asc("vec_id"))
    if (shortlist <= 0) {
      adc.withColumn("rank", row_number().over(wAdc))
        .filter(col("rank") <= 3)
        .select(col("probe_id").cast("bigint").as("probe_id"),
                col("vec_id").cast("bigint").as("neighbor_id"),
                col("rank").cast("int").as("rank"), col("approx_cos"))
        .orderBy("probe_id", "rank")
    } else {
      // exact rerank of the ADC shortlist: fetch the true vectors for the
      // |probes| x shortlist survivors (a broadcast semi-fetch into the
      // corpus — the only full-vector reads the search performs) and rank
      // by exact cosine. This is the production PQ topology: codes decide
      // WHO gets scored, floats only score the shortlist.
      val short = adc.withColumn("arank", row_number().over(wAdc))
        .filter(col("arank") <= shortlist)
        .select("probe_id", "vec_id")
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      val wExact = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
      e.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(probes), Seq("probe_id"))
        .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
        .withColumn("rank", row_number().over(wExact))
        .filter(col("rank") <= 3)
        .select(col("probe_id").cast("bigint").as("probe_id"),
                col("vec_id").cast("bigint").as("neighbor_id"),
                col("rank").cast("int").as("rank"), col("cos"))
        .orderBy("probe_id", "rank")
    }
  }

  def q71PqTopk(s: SparkSession, dir: String): DataFrame =
    pqTopk(s, dir, pqM, pqK, pqShortlist, trainSampleMod = pqTrainSampleMod)

  /** The (vec_id, nrm, m, sub) subvector frame of a normed slice —
    * q71's stack split, frame-parameterized for the incremental path. */
  private def pqSubsOf(e: DataFrame, m: Int = pqM): DataFrame =
    e.selectExpr("vec_id", "nrm", s"stack($m, ${pqSplit("v", m, dim / m)}) as (m, sub)")

  /** The ONE PQ training recipe — first-k seed, 1-in-mod sample unioned
    * with the seed, `trainIters` Lloyd rounds of assign+recenter — shared
    * by the cached query-path builds (q71/q212 via [[pqCodebookCached]])
    * and the frozen base-corpus build (q312). Three sites previously
    * spelled this block out by hand; a recipe change now lands once, next
    * to the oracle CTE generators that mirror it. */
  private[graft] def trainPqCodebook(e: DataFrame, m: Int = pqM, k: Int = pqK,
                                     trainIters: Int = pqTrainIters,
                                     trainSampleMod: Int = pqTrainSampleMod): DataFrame = {
    val cb0 = e.filter(col("vec_id") < k)
      .selectExpr("vec_id as cid", s"stack($m, ${pqSplit("v", m, dim / m)}) as (m, csub)")
    val subs = pqSubsOf(e, m)
    val trainSubs =
      if (trainSampleMod > 1)
        subs.filter(col("vec_id") % trainSampleMod === 0 || col("vec_id") < k)
      else subs
    (1 to trainIters).foldLeft(cb0)((c, _) => pqRecenter(pqAssign(trainSubs, c)))
  }

  /** q312 — INCREMENTAL PQ ENCODE MAINTENANCE, completing the
    * similarity-index maintenance trifecta (q311 LSH pair stream, q308
    * IVF assignment, and now the PQ code index): the standing corpus
    * (vec_id % 10 != 7) has a FROZEN per-subspace codebook (trained on
    * the base with q71's seed/sample discipline — a production PQ
    * quantizer trains once and serves for months) and a staged encode;
    * the weekly batch encodes ALONE against the broadcast codebook
    * (O(|delta| × pqM × pqK) distance work, the corpus never re-encodes)
    * and unions in. Readout: the updated code-population index per
    * (subspace, code) — exactly what an ADC planner reads to know bucket
    * sizes. The ORACLE is the full-rebuild form (train on base, encode
    * base + delta in ONE pass); per-(vector, subspace) argmin makes the
    * two constructions identical, so the hash gate proves the delta path
    * drops nothing. PqIncrementalSpec feeds a constructed re-crawl delta.
    *
    * Scale shape: recurring cost = |delta| × pqM narrow code rows through
    * one broadcast argmin + a leaf scan of the staged codes (pqM bytes a
    * vector); both trained structures are once-per-corpus index builds. */
  def q312PqIncremental(s: SparkSession, dir: String): DataFrame = {
    val pth = graft.etl.Layouts.stage(s, "pqbase",
      s"v1;m=$pqM;k=$pqK;mod=$pqTrainSampleMod;split=7", dir,
      Seq("embeddings")) { p =>
      val base = normed(s, dir).filter(col("vec_id") % 10 =!= 7)
      trainPqCodebook(base).write.mode("overwrite").parquet(s"$p/cb")
      pqAssign(pqSubsOf(base), s.read.parquet(s"$p/cb"))
        .select("vec_id", "m", "code")
        .write.mode("overwrite").parquet(s"$p/enc")
      p
    }
    val cb = s.read.parquet(s"$pth/cb")
    val deltaEnc = pqAssign(
      pqSubsOf(normed(s, dir).filter(col("vec_id") % 10 === 7)), cb)
      .select("vec_id", "m", "code")
    s.read.parquet(s"$pth/enc").withColumn("is_new", lit(0L))
      .unionByName(deltaEnc.withColumn("is_new", lit(1L)))
      .groupBy("m", "code")
      .agg(count(lit(1)).cast("bigint").as("n_vectors"),
        sum("is_new").cast("bigint").as("n_new"),
        coalesce(min(when(col("is_new") === 1L, col("vec_id"))), lit(-1L))
          .cast("bigint").as("first_new_vec"))
      .select(col("m").cast("int").as("m"), col("code").cast("bigint").as("code"),
        col("n_vectors"), col("n_new"), col("first_new_vec"))
      .orderBy("m", "code")
  }

  // ---------------------------------------------------------------- q212

  /** IVF-ADC — the production ANN composition (faiss's IVFADC index
    * class, Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 §V): q37's inverted file decides WHERE to look
    * (the probe searches only its assigned centroid's bucket), q71's
    * product-quantization codes decide the ADC ranking WITHIN the
    * bucket, and the exact rerank touches only the shortlist. Both
    * trained structures come from the staged once-per-corpus index
    * caches (the IVF codebook + full-corpus assignment, the PQ
    * codebook), so the query-time plan is: encode-scan ⋈ broadcast ADC
    * table restricted by bucket ⋈ broadcast shortlist rerank.
    *
    * At 100 TB this is THE billion-scale retrieval shape: the scan
    * reads pqM one-byte codes + one centroid id per vector (not 64
    * floats), bucket restriction divides the ADC work by the centroid
    * count, and full vectors are read only for |probes| × shortlist
    * rerank fetches. The bucket restriction can only REMOVE candidates
    * vs q71's global ADC (IvfAdcSpec proves the subset relation and
    * recall against q25's exact baseline); with nprobe widening the
    * search this converges to q71 exactly as q37 converges to q25.
    *
    * Determinism: the IVF and PQ constructions are the registered
    * q37/q71 instances verbatim — the oracle composes their CTE
    * machinery (IVF cb*, PQ pcb*) and replays the restricted ADC scan
    * digit for digit. */
  def q212IvfAdc(s: SparkSession, dir: String): DataFrame = {
    val m = pqM
    val sub = pqSub
    val assigned = ivfAssigned(s, dir, ivfTrainSampleMod)
    val e = normed(s, dir)
    val cb = pqCodebookCached(s, dir, e, m, pqK, pqTrainIters, pqTrainSampleMod)
    // encode with the centroid id riding the combine (constant per vec)
    val subsC = assigned.selectExpr("vec_id", "nrm", "centroid_id",
      s"stack($m, ${pqSplit("v", m, sub)}) as (m, sub)")
    val encoded = subsC.join(broadcast(cb), Seq("m"))
      .withColumn("dist", expr(
        "graft_dot(sub, sub) - 2 * graft_dot(sub, csub) + graft_dot(csub, csub)"))
      .groupBy("vec_id", "nrm", "centroid_id", "m")
      .agg(expr("max_by(cid, struct(-dist, -cid))").as("code"))
    val probesC = assigned.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"), col("centroid_id").as("pcentroid"))
    val tableScored = probesC
      .selectExpr("probe_id", "pn", "pcentroid",
        s"stack($m, ${pqSplit("pv", m, sub)}) as (tm, psub)")
      .join(broadcast(cb.withColumnRenamed("m", "tm")), Seq("tm"))
      .withColumn("part", expr("graft_dot(psub, csub)"))
      .select("probe_id", "pn", "pcentroid", "tm", "cid", "part")
    val parts = (0 until m).map(i => max(when(col("m") === i, col("part"))).as(s"p$i"))
    val adc = encoded.join(broadcast(tableScored),
        col("m") === col("tm") && col("code") === col("cid") &&
          col("centroid_id") === col("pcentroid") &&
          col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "pn", "vec_id", "nrm")
      .agg(parts.head, parts.tail: _*)
      .withColumn("approx_cos", expr(
        s"(${(0 until m).map(i => s"p$i").mkString(" + ")}) / (pn * nrm)"))
    val wAdc = Window.partitionBy("probe_id").orderBy(desc("approx_cos"), asc("vec_id"))
    val short = adc.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= pqShortlist)
      .select("probe_id", "vec_id")
    val wExact = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    assigned.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(probesC.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= 3)
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("vec_id").cast("bigint").as("neighbor_id"),
        col("rank").cast("int").as("rank"), col("cos"))
      .orderBy("probe_id", "rank")
  }

  /** KNN self-join: the top-3 neighbors of EVERY corpus vector (not a
    * bounded probe set — the all-corpus retrieval shape behind
    * near-dup mining and similarity-based mixture construction). Exact
    * all-pairs is O(n^2); this is the scale form: candidates are the
    * standing `ndpairs` layout's scored pairs (the same banded sign-LSH
    * equi-join as q26, run once at the layout build), symmetrized so
    * each pair serves both endpoints, then a per-vector top-3 window
    * over CANDIDATES only (bounded by bucket geometry, not corpus size).
    * Neighbors outside every shared band are unreachable by
    * construction — the LSH recall tradeoff, which the oracle mirrors
    * exactly, so the approximation itself is hash-checked. Vectors with
    * no pair above the graph's 0.35 floor simply have no rows (a
    * full-coverage variant unions a low-cosine fallback). In attach mode
    * the plan is a leaf scan, a union and the window: the layout build,
    * not this operator, fixes the candidate-generation shape. */
  def q80KnnJoin(s: SparkSession, dir: String): DataFrame = {
    // round-16: twice-referenced pair frame -> staged leaf (see q194)
    val pairs = stagedPairs(s, dir)
    val sym = pairs.select(col("vec_a").as("v"), col("vec_b").as("n"), col("cos"))
      .union(pairs.select(col("vec_b").as("v"), col("vec_a").as("n"), col("cos")))
    val w = Window.partitionBy("v").orderBy(desc("cos"), asc("n"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("v").cast("bigint").as("vec_id"),
              col("n").cast("bigint").as("neighbor_id"),
              col("rank").cast("int").as("rank"), col("cos"))
      .orderBy("vec_id", "rank")
  }

  /** Embedding-cluster diagnostics: per-label centroids (the ground-truth
    * clusters the fixture's `label` column encodes) and each cluster's
    * cohesion — member count, mean cosine to the own-label centroid, and
    * the weakest member's cosine. This is the health check an embedding
    * pipeline runs on its clustering/codebook assumptions: a label whose
    * mean own-centroid cosine sags has drifted apart and will shear under
    * any centroid-bucketed index (q37/q71).
    *
    * Determinism: centroids reuse q37's fixed-point re-center (quantized
    * exact integer sums per (label, dimension) — order-free, map-side
    * combinable); per-row cosines are IEEE arithmetic on exact-derived
    * operands; the cross-row mean quantizes each cosine to integer
    * nanounits first (the family rule). Centroids are one bounded row per
    * label and broadcast back to the member scan. */
  def q83ClusterDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .select(col("vec_id"), col("label").cast("int").as("label"), col("v"), col("nrm"))
    val cents = recenter(e.select(col("label").as("centroid_id"), col("v")))
    e.join(broadcast(cents), col("label") === col("centroid_id"))
      .withColumn("cos", expr(dotFold.format("v", "cv") + " / (nrm * cn)"))
      .groupBy("label")
      .agg(count(lit(1)).cast("bigint").as("n_members"),
        expr("cast(sum(cast(floor(cos * 1e9) as bigint)) as double) / (1e9 * cast(count(1) as double))")
          .as("mean_cos"),
        min("cos").as("min_cos"))
      .orderBy("label")
  }

  /** Modality coverage audit: a full-outer join of the text table against
    * the embedding table on the shared id — the completeness check a
    * multimodal pipeline runs before training (rows with text but no
    * embedding need an encode pass; embeddings without text are orphans to
    * garbage-collect). Per (lang, coverage-class) counts; the outer join
    * shuffles both sides on the id — a scaling key — and the output is
    * bounded by langs x 3. */
  def q84ModalityCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val e = Tables.embeddings(s, dir).select(col("vec_id"))
    d.join(e, d("doc_id") === e("vec_id"), "full_outer")
      .select(
        coalesce(col("lang"), lit("<no_doc>")).as("lang"),
        when(col("doc_id").isNotNull && col("vec_id").isNotNull, "both")
          .when(col("doc_id").isNotNull, "text_only")
          .otherwise("embedding_only").as("coverage"))
      .groupBy("lang", "coverage")
      .agg(count(lit(1)).cast("bigint").as("n"))
      .orderBy("lang", "coverage")
  }

  /** Symmetric int8 quantization audit — the fidelity check a pipeline
    * runs before storing/serving embeddings at 1 byte per dimension (a
    * 4x memory cut at 100 TB): each vector is quantized with its own
    * per-vector scale (max |x| / 127), dequantized, and compared to the
    * original — per label, the mean and worst cosine between original
    * and reconstruction and the worst absolute per-dimension error. A
    * label whose min cosine sags under quantization has outlier
    * dimensions and needs per-dimension scales or fp16.
    *
    * Determinism: round-to-nearest is written as floor(x/scale + 0.5)
    * (identical IEEE result in both engines — `round()`'s half-even vs
    * half-away behavior differs across engines, floor does not); dots
    * through graft_dot; the cross-row mean quantizes each cosine to
    * integer nanounits first (the family rule). Scale: one narrow
    * codegen'd scan, one bounded per-label aggregation — no shuffle of
    * vector data beyond the map-side-combined exchange. */
  def q92QuantizationAudit(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("label").cast("int").as("label"), col("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0d"))
      .filter(col("scale") > 0)
      .withColumn("vq", expr("transform(v, x -> floor(x / scale + 0.5d) * scale)"))
      .withColumn("cosq", expr(
        "graft_dot(v, vq) / (sqrt(graft_dot(v, v)) * sqrt(graft_dot(vq, vq)))"))
      .withColumn("maxerr", expr(
        s"array_max(transform(sequence(0, ${dim - 1}), i -> abs(v[i] - vq[i])))"))
      .groupBy("label")
      .agg(count(lit(1)).cast("bigint").as("n_vectors"),
        expr("cast(sum(cast(floor(cosq * 1e9) as bigint)) as double) " +
          "/ (1e9 * cast(count(1) as double))").as("mean_cos"),
        min("cosq").as("min_cos"),
        max("maxerr").as("max_abs_err"))
      .orderBy("label")

  /** PageRank iterations for [[q95SimilarityPagerank]]. */
  private val prIters = 3

  /** PageRank over the near-duplicate similarity graph — link-analysis
    * centrality applied to the q26 pair graph: a vector with high rank
    * sits at the center of a dense duplication neighborhood (the "hub
    * page" of a template family), which is exactly the document a
    * curation run inspects first. The same operator over a hyperlink
    * table is crawl-frontier domain authority — the selection signal
    * web-scale corpus builders rank domains by.
    *
    * Determinism (the family rule, integer end-to-end): ranks live in
    * integer picounits (start 1e12); each pass moves
    * floor(rank * 85 / (100 * degree)) along every edge — exact integer
    * arithmetic, order-free sums, no doubles anywhere until the final
    * presentation division. The damping leak (rank mass lost to floor)
    * is the standard quantized-PageRank tradeoff and is identical in
    * both engines.
    *
    * Scale: edges come from the banded LSH equi-join (never all-pairs);
    * each pass is one shuffle on the destination id — a scaling key. The
    * registered query is the fixed-[[prIters]] unroll ([[pagerankUnrolled]]):
    * one declarative plan, oracle-checkable. The production
    * convergence-driven form is [[pagerankConverged]] — the same
    * [[prPass]] riding q50's loop machinery (checkpointed passes, derived
    * width, a rank-movement scalar observation per pass); PagerankSpec
    * proves loop≡unroll at 3 passes and convergence on a graph that
    * needs more than 3. */
  /** One quantized-PageRank pass over (src, dst) edges with per-node
    * degrees: each node sends floor(rank * 85 / (100 * deg)) along every
    * out-edge, and the next rank is the 0.15 teleport mass plus the
    * inflow sum. Shared verbatim by [[pagerankUnrolled]] (q95's
    * oracle-checkable 3-pass form) and [[pagerankConverged]] (the
    * production loop) — the two differ ONLY in loop mechanics, which is
    * exactly what PagerankSpec's loop≡unroll test pins.
    *
    * The contribution uses the decomposed form of
    * (rank * 85) div (100 * deg) — algebraically identical for
    * non-negative ints ((a div m)*85 + ((a mod m)*85) div m), but never
    * materializes rank * 85, which overflows Long once a hub's
    * accumulated mass passes Long.Max/85 (~1.08e17 picounits, reachable
    * at web scale). Residual bound: TOTAL graph mass must stay under
    * Long.Max — ~8e6 nodes at this unit scale; beyond that, shrink the
    * per-node unit (1e12 here) with the graph, exactly like salting a
    * counter. */
  private def prPass(edges: DataFrame, nodes: DataFrame, r: DataFrame): DataFrame = {
    val contrib = edges.join(r, edges("src") === r("v"))
      .select(col("dst"), expr(
        "cast((rank div (100 * deg)) * 85 " +
          "+ ((rank % (100 * deg)) * 85) div (100 * deg) as bigint)").as("c"))
      .groupBy("dst").agg(sum("c").as("inflow"))
    nodes.join(contrib, nodes("v") === contrib("dst"), "left")
      .select(col("v"), col("deg"),
        (lit(150000000000L) + coalesce(col("inflow"), lit(0L))).as("rank"))
  }

  /** Undirected edges + per-node degree frames from a staged (vec_a,
    * vec_b) pair list — the common prefix of both PageRank forms. */
  private def prGraph(s: SparkSession, pairsDir: String): (DataFrame, DataFrame) = {
    val pairs = s.read.parquet(pairsDir)
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val nodes = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("v"), col("deg"))
    (edges, nodes)
  }

  /** Fixed-iteration quantized PageRank over a staged pair list: the
    * whole computation is one declarative plan (every pass a subtree), so
    * it is oracle-checkable — q95 registers the [[prIters]]-pass
    * instance. For convergence-driven production runs use
    * [[pagerankConverged]]. */
  private[graft] def pagerankUnrolled(s: SparkSession, pairsDir: String,
                                      iters: Int): DataFrame = {
    val (edges, nodes) = prGraph(s, pairsDir)
    val r0 = nodes.withColumn("rank", lit(1000000000000L))
    (1 to iters).foldLeft(r0)((r, _) => prPass(edges, nodes, r))
  }

  /** Convergence-driven quantized PageRank — [[prPass]] riding the q50
    * loop discipline: a CLONED session whose shuffle width derives from
    * the staged graph size (never the caller's conf), per-pass state
    * staged through PARQUET (two ping-pong dirs under one staging root:
    * pass N overwrites the dir pass N-1 no longer reads — the
    * (current, previous) window as directories), and convergence observed
    * as a SCALAR riding the pass's write job — the total rank movement
    * sum(abs(rank - prev_rank)) in picounits, no driver data collect.
    *
    * Why parquet staging and NOT per-pass localCheckpoint (measured, the
    * hard way): Spark 4's Dataset.localCheckpoint rewrites the new leaf's
    * statistics FROM THE SOURCE PLAN (LogicalRDD.rewriteStatsAndConstraints),
    * and a pass that joins the prior state twice therefore SQUARES the
    * estimated sizeInBytes every pass — the BigInt's digit count doubles
    * per pass, and by pass ~30 the driver spends MINUTES per pass inside
    * the size-only stats visitor multiplying million-digit integers
    * (jstack: BigInteger.multiplyToomCook3 under
    * SizeInBytesOnlyStatsPlanVisitor). A parquet leaf re-derives sane
    * stats from file size each pass, is immune by construction, and is
    * also the executor-loss-safe checkpoint a cluster run needs anyway.
    * q50's label loop survives on localCheckpoint only because its
    * shortcut edges keep pass counts low; this loop is built for pass
    * counts in the tens.
    *
    * Termination: movement <= `tolPicos`, or `maxPasses`. tolPicos must
    * sit at the quantization scale or above: the integer dynamics can
    * settle into a small limit CYCLE instead of a fixpoint (measured 198
    * picounits of steady-state oscillation on the spec's 41-node graph —
    * floor boundaries flip a handful of per-edge contributions forever),
    * so an exact-zero tolerance is not guaranteed to fire. Returns the
    * rank frame (a staged leaf) and the pass count used. */
  private[graft] def pagerankConverged(s: SparkSession, pairsDir: String,
                                       tolPicos: Long,
                                       maxPasses: Int = 50,
                                       debug: Boolean = false): (DataFrame, Int) = {
    val ls = s.newSession()
    val width = s.conf.getOption("graft.pr.loop.partitions").map(_.toInt).getOrElse {
      val nEdges = ls.read.parquet(pairsDir).count() * 2
      math.max(1L, math.min(ls.sparkContext.defaultParallelism.toLong,
        nEdges / 200000L + 1L)).toInt
    }
    ls.conf.set("spark.sql.shuffle.partitions", width.toString)
    val ck = graft.Staging.fresh("prloop")
    val (edges, nodes0) = prGraph(ls, pairsDir)
    // stage the degree frame once: every pass references it in prPass's
    // left join, and it is one shuffle over the pairs leaf scan
    nodes0.write.mode("overwrite").parquet(s"$ck/nodes")
    val nodes = ls.read.parquet(s"$ck/nodes")
    nodes.withColumn("rank", lit(1000000000000L))
      .write.mode("overwrite").parquet(s"$ck/r0")
    var ranks = ls.read.parquet(s"$ck/r0")
    var passes = 0
    var done = false
    while (!done && passes < maxPasses) {
      passes += 1
      val obs = org.apache.spark.sql.Observation(s"graft_pr_pass_$passes")
      val out = s"$ck/r${(passes % 2) + 1}"
      prPass(edges, nodes, ranks)
        .join(ranks.select(col("v"), col("rank").as("prev_rank")), Seq("v"))
        .observe(obs, sum(abs(col("rank") - col("prev_rank"))).as("moved"))
        .select("v", "deg", "rank")
        .write.mode("overwrite").parquet(out)
      ranks = ls.read.parquet(out)
      done = obs.get("moved").asInstanceOf[Long] <= tolPicos
      if (debug) println(s"[prloop] pass=$passes moved=${obs.get("moved")} " +
        s"ms=${System.currentTimeMillis()}")
    }
    (ranks, passes)
  }

  def q95SimilarityPagerank(s: SparkSession, dir: String): DataFrame = {
    // stage the pair graph once (the q50 pattern): every unrolled pass
    // references the edges, and left lazy each pass branch would
    // re-execute the whole LSH candidate lineage (measured at sf0.1:
    // 4.2 s unstaged -> 2.4 s staged steady-state). Round-16: the stage
    // is the SAME durable standing pair index q50's ccLabels already
    // rides (stagedPairsPath), not a per-invocation rebuild — the
    // propagation passes (the declared operator) still run every call.
    pagerankUnrolled(s, stagedPairsPath(s, dir), prIters)
      .select(col("v").cast("bigint").as("vec_id"),
        col("deg").cast("bigint").as("degree"),
        expr("cast(rank as double) / 1e12").as("rank"))
      .orderBy(desc("rank"), asc("vec_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q218

  /** q218 — retrieval EVALUATION: recall@10 and reciprocal rank of the
    * sign-LSH index (q26's band geometry) against the exact cosine
    * top-10, per probe — the readout that decides whether an ANN
    * index's recall is good enough to replace the exact scan (the
    * IR-evaluation half the ANN family lacked; recall@k and MRR are
    * the standard pair). Per probe (vec_id < 32): how many of the true
    * top-10 the index's own ranked top-10 recovers, and 2520/r where r
    * is the index rank of the FIRST true-top-10 hit (2520 = lcm(1..10),
    * so every reciprocal rank is an exact integer — no float division;
    * 0 when the index misses all ten).
    *
    * Scale shape: candidates come from the band frame joined against a
    * BROADCAST probe band-key set (32 probes x 4 bands — premise-
    * bounded, the q25 justification), so the corpus-side work is one
    * band equi-join, never all-pairs; both rankings are two-phase-free
    * here because the per-probe candidate partition is index-bounded.
    * The exact baseline costs one broadcast probe sweep over the
    * corpus — the same audit-time cost q25 already pays; production
    * runs it on a sampled probe set exactly like this. */
  def q218RetrievalRecall(s: SparkSession, dir: String): DataFrame = {
    val nProbes = 32
    val e = normed(s, dir)
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    // exact top-10 per probe
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    val ex10 = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
      .withColumn("erank", row_number().over(w))
      .filter(col("erank") <= 10)
      .select("probe_id", "vec_id", "erank")
    // index top-10 per probe: banded candidates, exact cosine rerank
    val bands = bandFrame(e)
    val pb = bands.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("band"), col("bkey"))
    val cand = bands.join(broadcast(pb), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    val ann10 = cand
      .join(e, "vec_id")
      .join(broadcast(probes), "probe_id")
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
      .withColumn("arank", row_number().over(w))
      .filter(col("arank") <= 10)
      .select("probe_id", "vec_id", "arank")
    ex10.join(ann10, Seq("probe_id", "vec_id"), "left")
      .groupBy("probe_id")
      .agg(count(col("arank")).cast("bigint").as("n_hits10"),
        coalesce(expr("2520 div min(arank)"), lit(0)).cast("bigint")
          .as("rr_x2520"))
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("n_hits10"), col("rr_x2520"))
      .orderBy("probe_id")
  }

  // ---------------------------------------------------------------- q228

  /** q228 — embedding-TRUNCATION recall audit (the Matryoshka question,
    * Kusupati et al. 2022: can retrieval run on the first 16 of 64
    * dimensions, quartering vector storage and dot-product cost?):
    * per probe, how much of the exact full-dimension top-10 the exact
    * TRUNCATED-cosine top-10 recovers — q218's recall@10 + MRR readout
    * pointed at a different index, where the candidate ranking is not
    * an ANN structure but the same brute-force scan under a cheaper
    * metric. Reported per probe (vec_id < 32): `n_hits10` (overlap of
    * the two top-10 sets) and `rr_x2520` (2520/r for the truncated
    * rank r of the first full-metric top-10 hit; 2520 = lcm(1..10)
    * keeps every reciprocal rank an exact integer; 0 on a total miss).
    *
    * Both rankings ride ONE broadcast probe sweep: each (probe,
    * candidate) row carries the full cosine and the truncated cosine,
    * and two row_number windows over the SAME per-probe partition
    * (one shuffle, two sorts) rank them — no second join, no second
    * pass over the corpus. The sweep is the audit-time cost q25/q218
    * already pay and production samples probes exactly like this.
    * Truncated arithmetic reuses the full-vector machinery on a
    * slice() prefix — same native dot, same fold order, so the oracle
    * twin is bit-equal and ties break on the shared (score, vec_id)
    * key identically in both engines. */
  private[graft] def truncationRecall(s: SparkSession, dir: String,
                                      tdim: Int): DataFrame = {
    val e = normed(s, dir)
      .withColumn("tv", expr(s"slice(v, 1, $tdim)"))
      .withColumn("tnrm", expr("sqrt(" + dotFold.format("tv", "tv") + ")"))
    val probes = e.filter(col("vec_id") < 32)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"), col("tv").as("ptv"), col("tnrm").as("ptn"))
    val wf = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    val wt = Window.partitionBy("probe_id").orderBy(desc("tcos"), asc("vec_id"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
      .withColumn("tcos", expr(dotFold.format("ptv", "tv") + " / (ptn * tnrm)"))
      .withColumn("erank", row_number().over(wf))
      .withColumn("trank", row_number().over(wt))
      .filter(col("erank") <= 10)
      .groupBy("probe_id")
      .agg(count(when(col("trank") <= 10, 1)).cast("bigint").as("n_hits10"),
        coalesce(expr("2520 div min(case when trank <= 10 then trank end)"),
          lit(0)).cast("bigint").as("rr_x2520"))
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("n_hits10"), col("rr_x2520"))
      .orderBy("probe_id")
  }

  def q228TruncationRecall(s: SparkSession, dir: String): DataFrame =
    truncationRecall(s, dir, tdim = 16)

  // ---------------------------------------------------------------- q229

  /** q229 — contrastive TRIPLET mining (anchor, positive, negative):
    * the training-pair assembly step an embedding fine-tune runs over
    * a labeled corpus (Schroff et al. 2015's mining taxonomy). For
    * every vector that has both, emit its best SAME-label neighbor
    * (the positive) and its best CROSS-label neighbor (q194's hard
    * negative) from the sign-LSH candidate frame — never all-pairs,
    * the q194/q201 contract — and classify the triplet: `hard` when
    * the negative outscores the positive (the gradient-rich case),
    * `semi_hard` otherwise. Anchors missing either side emit nothing:
    * no positive candidate means the label is an LSH singleton, no
    * negative means the neighborhood is label-pure — both are health
    * signals, not rows.
    *
    * One symmetric candidate expansion, two label equi-joins, ONE
    * row_number window partitioned by (anchor, side) — positives and
    * negatives rank in the same shuffle — then a two-way conditional
    * pivot per anchor. The margin is exact: both cosines are the
    * bit-reproducible shared-fold doubles, and their difference
    * e6-floors identically in both engines. */
  def q229TripletMining(s: SparkSession, dir: String): DataFrame = {
    // round-16: twice-referenced pair frame -> staged leaf (see q194)
    val pairs = stagedPairs(s, dir)
    val lbl = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val sym = pairs.select(col("vec_a").as("v"), col("vec_b").as("n"), col("cos"))
      .union(pairs.select(col("vec_b").as("v"), col("vec_a").as("n"), col("cos")))
    val w = Window.partitionBy("v", "is_cross").orderBy(desc("cos"), asc("n"))
    sym
      .join(lbl.select(col("vec_id").as("v"), col("lbl").as("v_lbl")), Seq("v"))
      .join(lbl.select(col("vec_id").as("n"), col("lbl").as("n_lbl")), Seq("n"))
      .withColumn("is_cross", (col("v_lbl") =!= col("n_lbl")).cast("int"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .groupBy("v", "v_lbl")
      .agg(max(when(col("is_cross") === 0, col("n"))).as("pos_id"),
        max(when(col("is_cross") === 0, col("cos"))).as("pos_cos"),
        max(when(col("is_cross") === 1, col("n"))).as("neg_id"),
        max(when(col("is_cross") === 1, col("cos"))).as("neg_cos"))
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
      .select(col("v").cast("bigint").as("anchor_id"),
        col("v_lbl").as("label"),
        col("pos_id").cast("bigint").as("pos_id"), col("pos_cos"),
        col("neg_id").cast("bigint").as("neg_id"), col("neg_cos"),
        expr("cast(floor((pos_cos - neg_cos) * 1e6) as bigint)").as("margin_e6"),
        expr("case when neg_cos >= pos_cos then 'hard' else 'semi_hard' end")
          .as("kind"))
      .orderBy("anchor_id")
  }

  // ---------------------------------------------------------------- q232

  /** q232 — INT8-quantized retrieval recall (the serving-compression
    * question next to q228's dimension-truncation one: can retrieval
    * run on 1-byte codes, quartering vector memory?): per probe, how
    * much of the exact full-precision top-10 the int8 ranking recovers,
    * in q228's readout (`n_hits10` overlap + `rr_x2520` exact-integer
    * reciprocal rank).
    *
    * The quantizer is q92's per-vector symmetric absmax
    * (scale = max|x|/127, code = floor(x/scale + 0.5) ∈ [-127, 127]) —
    * and the reason this metric is EXACTLY portable is that per-vector
    * scales CANCEL in the cosine: cos(s_a·q_a, s_b·q_b) =
    * Σq_aq_b / (|q_a||q_b|). So the candidate ranking key is a pure
    * BIGINT code dot (order-free, no float accumulation anywhere; the
    * code self-dots are ≤ 64·127² ≈ 1.03e6 so their product ≲ 1.07e12
    * is exactly double-representable) divided once by one sqrt — two
    * IEEE ops from exact integers, bit-identical in both engines. This
    * is a determinism property the float metrics (q228's truncated
    * cosine) only get from the shared-fold-order discipline; int8
    * scoring gets it from the integer lattice itself.
    *
    * Same sweep economics as q228: both rankings ride ONE broadcast
    * probe expansion and two row_number windows over the SAME per-probe
    * partition — one shuffle, no second corpus pass. */
  /** The shared q232/q238 sweep: every (probe, candidate) row carrying
    * BOTH rank columns — `erank` under the full-precision cosine,
    * `qrank` under the exact-integer int8 code dot — from one broadcast
    * probe expansion and two row_number windows over one exchange. */
  private[graft] def int8Ranked(s: SparkSession, dir: String): DataFrame = {
    // round-16: the integer dots ran as interpreted HOF folds —
    // `aggregate(zip_with(pq, q, ...))` per JOINED row (the probe fanout's
    // hot inner loop: |probes| x |corpus| x dim lambda dispatches) and the
    // self-dot `aggregate(q, ...)` per corpus row. Both are exactly
    // graft_ldot's contract (LongDot.scala: bit-identical to the fold,
    // null/length semantics verbatim, pinned by LongDotSpec), which joins
    // whole-stage codegen instead of CodegenFallback.
    val e = normed(s, dir)
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0d"))
      .withColumn("q", expr(
        "transform(v, x -> cast(floor(x / scale + 0.5d) as bigint))"))
      .withColumn("qn2", expr("graft_ldot(q, q)"))
    val probes = e.filter(col("vec_id") < 32)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"), col("q").as("pq"), col("qn2").as("pqn2"))
    val wf = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    val wq = Window.partitionBy("probe_id").orderBy(desc("qcos"), asc("vec_id"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(dotFold.format("pv", "v") + " / (pn * nrm)"))
      .withColumn("iq", expr("graft_ldot(pq, q)"))
      .withColumn("qcos", expr(
        "cast(iq as double) / sqrt(cast(pqn2 * qn2 as double))"))
      .withColumn("erank", row_number().over(wf))
      .withColumn("qrank", row_number().over(wq))
  }

  def q232Int8Recall(s: SparkSession, dir: String): DataFrame =
    int8Ranked(s, dir)
      .filter(col("erank") <= 10)
      .groupBy("probe_id")
      .agg(count(when(col("qrank") <= 10, 1)).cast("bigint").as("n_hits10"),
        coalesce(expr("2520 div min(case when qrank <= 10 then qrank end)"),
          lit(0)).cast("bigint").as("rr_x2520"))
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("n_hits10"), col("rr_x2520"))
      .orderBy("probe_id")

  // ---------------------------------------------------------------- q238

  /** q238 — RANK-BIASED OVERLAP (Webber et al. 2010) between the
    * full-precision and int8 rankings, the top-weighted agreement
    * metric a retrieval team actually reports next to recall: RBO@10
    * with persistence p = 1/2 is (1−p)·Σ_{d=1..10} p^{d−1}·(ov_d/d),
    * where ov_d counts candidates both rankings place in their top d.
    * p = 1/2 makes every weight DYADIC, so the whole statistic is an
    * exact integer: rbo_num = Σ_d 2^{10−d}·(2520/d)·ov_d (2520 =
    * lcm(1..10) clears every /d; max = 2520·1023 when the rankings
    * agree at every depth), and the e6 readout is one exact integer
    * division — no float anywhere, the q232 lattice story extended to
    * the whole agreement curve.
    *
    * Shape: rides [[int8Ranked]]'s single sweep; each doubly-top-10
    * row fans out to the depths it serves (explode(sequence(max(eq,
    * qr), 10)) — the q216 bounded-fanout discipline, ≤10 rows per
    * hit), then two bounded aggregates. Probes with zero overlap
    * report 0 via the probe-spine left join. */
  def q238RankAgreement(s: SparkSession, dir: String): DataFrame = {
    val r = int8Ranked(s, dir)
    val spine = r.select(col("probe_id")).distinct()
    val terms = r
      .filter(col("erank") <= 10 && col("qrank") <= 10)
      .withColumn("d", explode(expr("sequence(greatest(erank, qrank), 10)")))
      .groupBy("probe_id", "d")
      .agg(count(lit(1)).as("ov"))
      .withColumn("term", expr(
        "cast(shiftleft(1, 10 - d) as bigint) * (2520 div d) * ov"))
      .groupBy("probe_id")
      .agg(sum("term").as("rbo_num"))
    spine.join(terms, Seq("probe_id"), "left")
      .withColumn("rbo_num", coalesce(col("rbo_num"), lit(0L)))
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("rbo_num").cast("bigint").as("rbo_num"),
        expr(s"(rbo_num * 1000000) div ${2520 * 1023}").as("rbo_e6"))
      .orderBy("probe_id")
  }

  // ------------------------------------------------------- q293/q294/q295

  /** Embeddings quantized to exact e3 integers (round-half-up milli units):
    * every downstream dot product is a BIGINT lattice value (e6 scale), so
    * ranking keys compare exactly in both engines — the q232 int8 story,
    * reused as the shared substrate of the serving-side rerankers
    * (q293 MaxSim, q294 MMR). */
  /** The e3 lattice held as DOUBLES so the hot dots run through the
    * native codegen'd `graft_dot` instead of interpreted HOF folds: every
    * lattice value, product (≤ ~2.5e7), and 64-term sum (≤ ~1.6e9) is an
    * integer far below 2^53, so the double arithmetic is EXACT and the
    * final bigint cast reproduces the integer oracle bit-for-bit. */
  private val dvExpr =
    "transform(embedding, x -> cast(floor(cast(x as double) * 1000.0d + 0.5d) as double))"
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).withColumn("dv", expr(dvExpr)).select("vec_id", "dv")

  /** q293 — LATE-INTERACTION (ColBERT-style MaxSim) retrieval: each stored
    * embedding is read as 8 token sub-vectors of dim 8 (the multi-vector
    * layout a late-interaction index keeps per document), and
    * score(probe, doc) = Σ_{query token} max_{doc token} ⟨q_sub, d_sub⟩ —
    * the MaxSim operator of Khattab & Zaharia (SIGIR 2020). The reference
    * has no analog; this is the serving-side shape a retrieval-augmented
    * training pipeline runs next to single-vector cosine (q25).
    *
    * Scale shape: the probe side is a literal-bounded broadcast (8 probes);
    * the corpus streams through ONE scan with the whole 8×8 MaxSim grid
    * UNROLLED into a flat 64-dot + 8-greatest expression over pre-sliced
    * sub-vector columns — every operator in the hot path (slice, graft_dot,
    * greatest, +) is codegen'd, no interpreted HOF, no token-level row
    * fanout, no corpus-side shuffle before the per-probe top-k window.
    * Sub-vectors are e3-quantized lattice values, so maxsim_e6 is an exact
    * BIGINT and the ranking has no float tie ambiguity. */
  def q293LateInteraction(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id") +: subvecCols("p"): _*)
    val docs = e.select(col("vec_id") +: subvecCols("d"): _*)
    val w = Window.partitionBy("probe_id").orderBy(desc("maxsim_e6"), asc("vec_id"))
    docs.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("maxsim_e6", expr(s"cast($maxsimGrid as bigint)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("vec_id").cast("bigint").as("neighbor_id"),
        col("rank").cast("int").as("rank"),
        col("maxsim_e6").cast("bigint").as("maxsim_e6"))
      .orderBy("probe_id", "rank")
  }

  /** q294 — MMR DIVERSIFIED RERANK (maximal marginal relevance, Carbonell &
    * Goldstein 1998): from each probe's top-8 shortlist by exact integer
    * dot, greedily select 4 results maximizing 2·MMR = rel − max_{s∈sel}
    * sim(c, s) at λ = 1/2 (dyadic, so the score stays an exact e6 BIGINT).
    * The dedup-at-serving-time companion of the near-dup family: a
    * retrieval stack runs exactly this to stop near-identical training
    * documents from filling the context window.
    *
    * Scale shape: the corpus pays ONE scored scan + per-probe top-8 window
    * (the q25 serving path), STAGED to parquet once per corpus fingerprint.
    * The greedy itself runs DRIVER-SIDE on the collected shortlist — a
    * bounded-premise scalar in the q207 sense: the collect is ≤ 4 probes ×
    * 8 candidates × 64 lattice values BY CONSTRUCTION (the top-8 window
    * bounds it before anything leaves the executors), and that is exactly
    * where a production serving stack runs MMR (the rerank layer, not the
    * index). A dataflow form (three unrolled argmax passes) was measured
    * ~2.5 s slower at sf0.1 purely in tiny-job scheduling floors. From
    * step 2 on, scores are provably non-increasing (the selected-set max
    * only grows), which ServingWaveSpec pins. */
  def q294MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val poolPath = graft.etl.Layouts.stage(s, "mmrpool", "v1;probes=4;top=8", dir,
      Seq("embeddings")) { base =>
      val e = quantized(s, dir)
      val probes = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("probe_id"), col("dv").as("pv"))
      val wRel = Window.partitionBy("probe_id").orderBy(desc("rel"), asc("vec_id"))
      e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("rel", expr("cast(graft_dot(pv, dv) as bigint)"))
        .withColumn("rn", row_number().over(wRel))
        .filter(col("rn") <= 8)
        .select("probe_id", "vec_id", "rel", "dv")
        .write.mode("overwrite").parquet(s"$base/pool")
      s"$base/pool"
    }
    val shortlist = s.read.parquet(poolPath)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Double](3).map(_.toLong).toArray))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val out = shortlist.groupBy(_._1).toSeq.flatMap { case (probe, cands) =>
      // step 1: max rel; steps 2..4: max (rel − max sim to selected);
      // ties break on ascending vec_id, matching the window/oracle order
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      val chosen = scala.collection.mutable.Set.empty[Long]
      // a probe with fewer than 4 shortlist candidates degrades to fewer
      // steps (the oracle just emits fewer rows) instead of maxBy-on-empty
      for (st <- 1 to math.min(4, cands.length)) {
        val scored = cands.iterator.filterNot(c => chosen(c._2)).map { c =>
          val score = if (st == 1) c._3
          else c._3 - selected.iterator.map(sel =>
            dot(c._4, cands.find(_._2 == sel._3).get._4)).max
          (score, c._2)
        }.toSeq
        val (score, vec) = scored.maxBy { case (sc, v) => (sc, -v) }
        selected += ((probe, st, vec, score))
        chosen += vec
      }
      selected
    }.sortBy(r => (r._1, r._2))
    import s.implicits._
    s.createDataset(out)
      .toDF("probe_id", "step", "neighbor_id", "score_e6")
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("step").cast("int").as("step"),
        col("neighbor_id").cast("bigint").as("neighbor_id"),
        col("score_e6").cast("bigint").as("score_e6"))
      .orderBy("probe_id", "step")
  }

  /** q295 — RECIPROCAL-RANK-FUSION hybrid retrieval (Cormack et al. 2009):
    * fuse the full-precision cosine ranking and the int8-quantized ranking
    * per probe with RRF(c) = Σ_r 1/(60 + rank_r(c)), the standard k=60
    * form, as the exact integer Σ 1e8 div (60 + rank) — how a serving
    * stack combines a lexical and a vector ranker without score
    * calibration. Rides [[int8Ranked]]'s single corpus sweep (shared with
    * q232/q238): both rankings come from the same scan, and the fusion
    * itself is one projection + one per-probe top-5 window. */
  def q295RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(desc("rrf_e8"), asc("vec_id"))
    int8Ranked(s, dir)
      .withColumn("rrf_e8",
        expr("100000000 div (60 + erank) + 100000000 div (60 + qrank)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("vec_id").cast("bigint").as("neighbor_id"),
        col("rank").cast("int").as("rank"),
        col("rrf_e8").cast("bigint").as("rrf_e8"))
      .orderBy("probe_id", "rank")
  }

  /** q301 — CLUSTER KEYWORDS by class-based TF-IDF (the BERTopic c-TF-IDF
    * readout): per embedding cluster (the fixture's label column, joined
    * to documents on the doc_id = vec_id linkage q83/q259 established),
    * the top-5 tokens by tf_cluster × (n_clusters + 1)/(df_clusters + 1)
    * — q66's bit-reproducible RATIONAL idf form lifted from documents to
    * clusters, floored onto the e6 lattice so the ranking key is an
    * exact integer. The "what IS this cluster?" query every clustered
    * corpus triage starts with.
    *
    * Scale shape: one tokenize joined to the broadcast label map, two
    * partial-aggregating groupBys ((label, tok) then tok), a broadcast
    * 1-row cluster count, and a per-label top-5 window over the bounded
    * (label, tok) frame. */
  def q301ClusterKeywords(s: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("label"))
    val tf = Tables.documents(s, dir)
      .join(broadcast(lbl), Seq("doc_id"))
      .select(col("label"), explode(expr("split(text, ' ')")).as("tok"))
      .groupBy("label", "tok")
      .agg(count(lit(1)).as("tf"))
    val dfl = tf.groupBy("tok").agg(sum(when(col("tf") > 0, 1L)).as("dfl"))
    val nl = tf.select("label").distinct().agg(count(lit(1)).as("n_labels"))
    val w = Window.partitionBy("label").orderBy(desc("score_e6"), asc("tok"))
    tf.join(dfl, Seq("tok")).crossJoin(broadcast(nl))
      .withColumn("score_e6",
        expr("(1000000 * tf * (n_labels + 1)) div (dfl + 1)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("label").cast("int").as("label"),
        col("rank").cast("int").as("rank"), col("tok"),
        col("tf").cast("bigint").as("tf"),
        col("dfl").cast("bigint").as("df_clusters"),
        col("score_e6").cast("bigint").as("score_e6"))
      .orderBy("label", "rank")
  }

  /** q302 — SEMI-SUPERVISED LABEL PROPAGATION over the near-dup graph:
    * seed the fixture labels on vec_id < 100, then two unrolled majority
    * votes over the staged cos ≥ 0.35 pair graph (each unlabeled node
    * adopts the most common label among its already-labeled neighbors,
    * ties to the smallest label; no labeled neighbor → stays unlabeled).
    * The cheap-label amplification trick a curation pipeline uses to
    * stretch a small human-labeled seed set across a near-dup graph —
    * the graph family's missing semi-supervised member next to q50 CC,
    * q95 PageRank, q268 k-core, and q281 modularity. Output: per final
    * label, seeds + round-1 + round-2 adoptions (label −1 = never
    * reached).
    *
    * Scale shape: votes ride the STAGED pair leaf (never re-derived),
    * and each round's adoptions are THEMSELVES staged to parquet once
    * per corpus fingerprint before the next round references them — the
    * q50/q95 staged-iteration discipline at depth 2 (without the stage,
    * round 2's plan re-derives round 1's whole vote subtree per
    * reference and blows the StragglerGuard exchange budget). Each round
    * is one edge-to-labels equi-join + a partial-aggregating (node,
    * label) count + a per-node argmax window over the bounded vote
    * frame. */
  def q302LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(s, dir).select(col("vec_id").as("node"))
    val seeds = Tables.embeddings(s, dir).filter(col("vec_id") < 100)
      .select(col("vec_id").as("node"), col("label").cast("bigint").as("lbl"))
    val pairs = stagedPairs(s, dir)
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    def adopt(labeled: DataFrame): DataFrame = {
      val w = Window.partitionBy("node").orderBy(desc("c"), asc("lbl"))
      edges
        .join(labeled.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("node", "lbl")
        .join(labeled.select("node"), Seq("node"), "left_anti")
    }
    val base = graft.etl.Layouts.stage(s, "lprop2round", "v1", dir,
      Seq("embeddings")) { b =>
      adopt(seeds).write.mode("overwrite").parquet(s"$b/r1")
      adopt(seeds.unionByName(s.read.parquet(s"$b/r1")))
        .write.mode("overwrite").parquet(s"$b/r2")
      b
    }
    val r1 = s.read.parquet(s"$base/r1")
    val r2 = s.read.parquet(s"$base/r2")
    val l2 = seeds.unionByName(r1).unionByName(r2)
    val byLabel = seeds.groupBy("lbl").agg(count(lit(1)).as("n_seeds"))
      .join(r1.groupBy("lbl").agg(count(lit(1)).as("n_round1")), Seq("lbl"), "left")
      .join(r2.groupBy("lbl").agg(count(lit(1)).as("n_round2")), Seq("lbl"), "left")
    val unreached = all.join(l2.select("node"), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_unreached"))
    byLabel
      .select(col("lbl").cast("bigint").as("label"),
        col("n_seeds").cast("bigint").as("n_seeds"),
        coalesce(col("n_round1"), lit(0L)).cast("bigint").as("n_round1"),
        coalesce(col("n_round2"), lit(0L)).cast("bigint").as("n_round2"))
      .withColumn("n_total",
        expr("n_seeds + n_round1 + n_round2").cast("bigint"))
      .unionByName(unreached.select(lit(-1L).as("label"),
        lit(0L).as("n_seeds"), lit(0L).as("n_round1"), lit(0L).as("n_round2"),
        col("n_unreached").cast("bigint").as("n_total")))
      .orderBy("label")
  }

  /** Observation-driven label propagation to CONVERGENCE — the q268
    * discipline applied to q302's adopt rule: each pass stages the full
    * labeled frame (node, lbl, r — r = round adopted, seeds r = 0) to a
    * rotating parquet leaf, computes the next round's majority-vote
    * adoptions from that leaf, and rides the newly-labeled count on the
    * write job as a named Observation — one job per pass, never a write
    * plus a separate count. Newly == 0 IS the fixpoint test: the labeled
    * set only grows over never-before-labeled nodes, so the count is
    * monotone-bounded by |V| and the loop terminates. Two dirs rotate;
    * pass N overwrites pass N-1's predecessor, which nothing reads. */
  private[graft] def propagateConverged(s: SparkSession, seeds: DataFrame,
                                        edges: DataFrame, stage: String): String = {
    seeds.withColumn("r", lit(0L)).write.mode("overwrite").parquet(s"$stage/l1")
    var curDir = s"$stage/l1"
    var pass = 0
    var done = false
    while (!done) {
      pass += 1
      val labeled = s.read.parquet(curDir)
      val w = Window.partitionBy("node").orderBy(desc("c"), asc("lbl"))
      val newly = edges
        .join(labeled.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("node", "lbl")
        .join(labeled.select("node"), Seq("node"), "left_anti")
        .withColumn("r", lit(pass.toLong))
      val out = s"$stage/l${pass % 2 + 1}"
      val obs = org.apache.spark.sql.Observation()
      labeled.unionByName(newly)
        // coalesce: sum over a ZERO-row frame (empty seed set) is NULL,
        // and a null observation would NPE the fixpoint test instead of
        // terminating the (already-converged) loop
        .observe(obs, coalesce(
          sum(when(col("r") === pass.toLong, 1L).otherwise(0L)), lit(0L)).as("newly"))
        .write.mode("overwrite").parquet(out)
      done = obs.get("newly").asInstanceOf[Long] == 0L
      curDir = out
    }
    curDir
  }

  /** q310 — LABEL PROPAGATION TO CONVERGENCE: q302's adopt rule driven
    * to the fixpoint by [[propagateConverged]] instead of the 2-round
    * unroll — the convergence twin the family precedent demands (q95 →
    * pagerankConverged, q158 → q268): on a graph whose propagation
    * frontier outlives two rounds, q302 reports a PARTIAL labeling by
    * declared contract; this query reports the complete reachable
    * labeling at any frontier depth, checked against a recursive-CTE
    * oracle that also propagates to ITS own fixpoint (so the hash gate
    * holds at any depth, not just the fixture's). Output per label:
    * seeds, total adoptions, the last round that adopted anything, and
    * the total; label −1 carries the honest unreached count. q302 stays
    * registered as the mirrored 2-round form.
    *
    * Scale shape: per pass — one edge-to-labels equi-join against a
    * staged leaf, one map-side-combinable vote count, one per-node
    * argmax window over the bounded vote frame, one anti-join; the
    * stopping count rides the write job (no extra action). Pass count
    * is the graph's frontier depth, the same bound a BFS pays. */
  def q310PropagationConverged(s: SparkSession, dir: String): DataFrame = {
    val finDir = graft.etl.Layouts.stage(s, "lpropconv", "v1", dir,
      Seq("embeddings")) { base =>
      val seeds = Tables.embeddings(s, dir).filter(col("vec_id") < 100)
        .select(col("vec_id").as("node"), col("label").cast("bigint").as("lbl"))
      val pairs = stagedPairs(s, dir)
      val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      // the manifest records whichever rotating leaf the fixpoint
      // landed on; the loser dir stays as bounded dead weight
      propagateConverged(s, seeds, edges, base)
    }
    val fin = s.read.parquet(finDir)
    val all = Tables.embeddings(s, dir).select(col("vec_id").as("node"))
    val byLabel = fin.groupBy("lbl")
      .agg(sum(when(col("r") === 0L, 1L).otherwise(0L)).as("n_seeds"),
        sum(when(col("r") > 0L, 1L).otherwise(0L)).as("n_adopted"),
        max("r").as("last_round"),
        count(lit(1)).as("n_total"))
    val unreached = all.join(fin.select("node"), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_unreached"))
    byLabel
      .select(col("lbl").cast("bigint").as("label"),
        col("n_seeds").cast("bigint").as("n_seeds"),
        col("n_adopted").cast("bigint").as("n_adopted"),
        col("last_round").cast("bigint").as("last_round"),
        col("n_total").cast("bigint").as("n_total"))
      .unionByName(unreached.select(lit(-1L).as("label"),
        lit(0L).as("n_seeds"), lit(0L).as("n_adopted"),
        lit(0L).as("last_round"),
        col("n_unreached").cast("bigint").as("n_total")))
      .orderBy("label")
  }

  /** Late-interaction geometry: each dim-wide vector reads as nTok
    * sub-vectors of subDim — derived from [[dim]] so a fixture-width
    * change cannot silently leave slices short. */
  private val nTok = 8
  private val subDim = dim / nTok

  /** The pre-sliced sub-vector columns p0..p7 / d0..d7 over a quantized
    * `dv` column — the one slicing rule both MaxSim paths share. */
  private def subvecCols(pfx: String) = (0 until nTok)
    .map(i => expr(s"slice(dv, ${i * subDim + 1}, $subDim)").as(s"$pfx$i"))

  /** The flat nTok×nTok MaxSim grid over those columns — shared by q293
    * (brute-force) and q305 (IVF-routed). */
  private val maxsimGrid: String = (0 until nTok).map { qi =>
    "greatest(" + (0 until nTok).map(di => s"graft_dot(p$qi, d$di)").mkString(", ") + ")"
  }.mkString(" + ")

  /** q305 — IVF-ROUTED MaxSim: the production ColBERT serving stack in
    * one plan — candidate generation by the trained IVF codebook (each
    * probe searches its own centroid's bucket, q37's nprobe = 1 route)
    * followed by the q293 late-interaction rerank on the bucket
    * shortlist only. q293 pays the full-corpus grid; here the grid work
    * drops to |bucket| × probes, which is the whole point of an ANN
    * prefilter at 100 TB — candidate generation touches an index,
    * exact scoring touches a shortlist.
    *
    * Scale shape: the staged IVF assignment is the only corpus pass
    * (shared with q37/q105/q212 per corpus fingerprint); the probe side
    * broadcasts; the corpus never repartitions on the bounded centroid
    * key; the e3 lattice keeps maxsim_e6 an exact BIGINT. */
  def q305IvfMaxsim(s: SparkSession, dir: String): DataFrame = {
    // same e3 lattice as [[dvExpr]], but from the assignment's already
    // double-cast `v` column (no second embedding cast)
    val withQ = ivfAssigned(s, dir, ivfTrainSampleMod)
      .withColumn("dv", expr("transform(v, x -> cast(floor(x * 1000.0d + 0.5d) as double))"))
    val probes = withQ.filter(col("vec_id") < 8)
      .select(Seq(col("vec_id").as("probe_id"),
        col("centroid_id").as("pcentroid")) ++ subvecCols("p"): _*)
    val docs = withQ
      .select(Seq(col("vec_id"), col("centroid_id")) ++ subvecCols("d"): _*)
    val w = Window.partitionBy("probe_id").orderBy(desc("maxsim_e6"), asc("vec_id"))
    docs.join(broadcast(probes),
        col("centroid_id") === col("pcentroid") && col("vec_id") =!= col("probe_id"))
      .withColumn("maxsim_e6", expr(s"cast($maxsimGrid as bigint)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id").cast("bigint").as("probe_id"),
        col("vec_id").cast("bigint").as("neighbor_id"),
        col("rank").cast("int").as("rank"),
        col("maxsim_e6").cast("bigint").as("maxsim_e6"))
      .orderBy("probe_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q305_ivf_maxsim" -> (q305IvfMaxsim _),
    "q301_cluster_keywords" -> (q301ClusterKeywords _),
    "q302_label_propagation" -> (q302LabelPropagation _),
    "q310_propagation_converged" -> (q310PropagationConverged _),
    "q293_late_interaction" -> (q293LateInteraction _),
    "q294_mmr_rerank" -> (q294MmrRerank _),
    "q295_rrf_fusion" -> (q295RrfFusion _),
    "q242_semantic_decontaminate" -> (q242SemanticDecontaminate _),
    "q259_cluster_source_balance" -> (q259ClusterSourceBalance _),
    "q263_semantic_recall" -> (q263SemanticRecall _),
    "q266_dup_concentration" -> (q266DupConcentration _),
    "q280_optout_closure" -> (q280OptoutClosure _),
    "q281_modularity" -> (q281Modularity _),
    "q282_centroid_fit" -> (q282CentroidFit _),
    "q285_dedup_agreement" -> (q285DedupAgreement _),
    "q288_effective_mass" -> (q288EffectiveMass _),
    "q289_crosslingual_pairs" -> (q289CrosslingualPairs _),
    "q232_int8_recall" -> (q232Int8Recall _),
    "q238_rank_agreement" -> (q238RankAgreement _),
    "q229_triplet_mining" -> (q229TripletMining _),
    "q228_truncation_recall" -> (q228TruncationRecall _),
    "q218_retrieval_recall" -> (q218RetrievalRecall _),
    "q25_cosine_topk" -> (q25CosineTopk _),
    "q26_lsh_cosine" -> (q26LshCosine _),
    "q37_ivf_topk" -> (q37IvfTopk _),
    "q308_ivf_incremental" -> (q308IvfIncremental _),
    "q312_pq_incremental" -> (q312PqIncremental _),
    "q105_sem_dedup" -> (q105SemDedup _),
    "q40_embedding_dedup" -> (q40EmbeddingDedup _),
    "q50_cc_clusters" -> (q50CcClusters _),
    "q329_taint_radius" -> (q329TaintRadius _),
    "q194_hard_negatives" -> (q194HardNegatives _),
    "q195_cluster_reps" -> (q195ClusterRepresentatives _),
    "q199_source_dedup_scorecard" -> (q199SourceDedupScorecard _),
    "q201_label_noise" -> (q201LabelNoise _),
    "q204_embedding_drift" -> (q204EmbeddingDrift _),
    "q71_pq_topk" -> (q71PqTopk _),
    "q212_ivf_adc" -> (q212IvfAdc _),
    "q80_knn_join" -> (q80KnnJoin _),
    "q83_cluster_diagnostics" -> (q83ClusterDiagnostics _),
    "q84_modality_coverage" -> (q84ModalityCoverage _),
    "q92_quantization_audit" -> (q92QuantizationAudit _),
    "q95_similarity_pagerank" -> (q95SimilarityPagerank _),
  )

  /** Unrolled integer-PageRank CTE chain for the q95 oracle. */
  private def q95Oracle: String = {
    val passes = (1 to prIters).map { k =>
      s"""c$k AS (SELECT e.dst, CAST(SUM(r.rank * 85 // (100 * r.deg)) AS BIGINT) AS inflow
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.v GROUP BY e.dst),
         |r$k AS (SELECT d.src AS v, d.deg,
         |    CAST(150000000000 AS BIGINT) + COALESCE(c$k.inflow, CAST(0 AS BIGINT)) AS rank
         |  FROM deg d LEFT JOIN c$k ON d.src = c$k.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $oracleNormed,
       |$oraclePairSc,
       |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
       |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM pr),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS v, deg, CAST(1000000000000 AS BIGINT) AS rank FROM deg),
       |$passes
       |SELECT CAST(v AS BIGINT) AS vec_id, CAST(deg AS BIGINT) AS degree,
       |  CAST(rank AS DOUBLE) / 1e12 AS rank
       |FROM r$prIters ORDER BY rank DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  private val oracleNormed =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e)""".stripMargin

  private val oracleProjs = (0 until nPlanes).map { h =>
    val arr = planes(h).mkString("[", ", ", "]")
    s"list_reduce(list_transform(generate_series(1, $dim), i -> v[i] * (CAST($arr AS DOUBLE[]))[i]), (a, b) -> a + b) AS pj$h"
  }.mkString(",\n    ")

  private val oracleBandSelects = (0 until nBands).map { b =>
    val bits = (0 until planesPerBand)
      .map(k => s"(CASE WHEN pj${b * planesPerBand + k} >= 0 THEN '1' ELSE '0' END)")
      .mkString("concat(", ", ", ")")
    s"SELECT vec_id, $b AS band, $bits AS bkey FROM proj"
  }.mkString("\n  UNION ALL ")

  /** Oracle twin of `assign`: nearest-centroid argmax against codebook CTE
    * `cb`, dot folding left in index order (bit-equal to graft_dot).
    * `src` is the population CTE — Lloyd passes read the sampled `tn`,
    * the final bucket assignment reads the full `n` (the Spark side's
    * trainSet/e split). */
  private def oracleAssignCte(name: String, cb: String, src: String = "n"): String =
    s"""$name AS (SELECT vec_id, v, nrm, centroid_id FROM (
       |    SELECT vec_id, v, nrm, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS arn
       |    FROM (SELECT e.vec_id, e.v, e.nrm, c.centroid_id,
       |        list_reduce(list_transform(generate_series(1, $dim), i -> e.v[i] * c.cv[i]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
       |      FROM $src e CROSS JOIN $cb c)) WHERE arn = 1)""".stripMargin

  /** Oracle twin of `recenter`: the identical fixed-point mean — quantize
    * to 1/2^32 with floor, exact integer sum (DuckDB sums BIGINT in 128
    * bits), divide back in double. Order-free on both sides, so no ORDER BY
    * is needed for bit-equality. */
  private def oracleRecenterCtes(k: Int): String =
    s"""m$k AS (SELECT centroid_id, pos,
       |    CAST(SUM(CAST(floor(val * 4294967296e0) AS BIGINT)) AS DOUBLE)
       |      / (COUNT(*) * 4294967296e0) AS mean
       |  FROM (SELECT a.vec_id, a.centroid_id, t.i AS pos, a.v[t.i] AS val
       |    FROM a$k a CROSS JOIN generate_series(1, $dim) t(i))
       |  GROUP BY centroid_id, pos),
       |cb$k AS (SELECT centroid_id, cv,
       |    sqrt(list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)) AS cn
       |  FROM (SELECT centroid_id, list(mean ORDER BY pos) AS cv FROM m$k GROUP BY centroid_id))""".stripMargin

  /** Oracle twin of q308 — the FULL-REBUILD form: train the codebook on
    * the base corpus (vec_id % 10 != 7, same seed/sample discipline as
    * q37 restricted to the base), then assign base + delta in ONE pass
    * and aggregate the index state. The Spark side unions a staged base
    * assignment with a delta-only assign; per-vector assignment makes
    * the two constructions identical, which is exactly what the hash
    * gate proves. */
  private def q308Oracle: String = {
    val lloyd = (1 to lloydIters).map(k =>
      oracleAssignCte(s"a$k", s"cb${k - 1}", src = "tn") + ",\n" +
        oracleRecenterCtes(k)).mkString(",\n")
    s"""WITH $oracleNormed,
       |bn AS (SELECT * FROM n WHERE vec_id % 10 <> 7),
       |tn AS (SELECT * FROM bn WHERE vec_id % $ivfTrainSampleMod = 0 OR vec_id < 16),
       |cb0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM bn WHERE vec_id < 16),
       |$lloyd,
       |${oracleAssignCte("assigned", s"cb$lloydIters")},
       |f AS (SELECT vec_id, centroid_id,
       |    CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END AS is_new FROM assigned)
       |SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(is_new) AS BIGINT) AS n_new,
       |  CAST(COALESCE(MIN(CASE WHEN is_new = 1 THEN vec_id END), -1) AS BIGINT)
       |    AS first_new_vec
       |FROM f GROUP BY centroid_id ORDER BY centroid_id""".stripMargin
  }

  /** Oracle twin of q312 — the FULL-REBUILD form: train the per-subspace
    * codebook on the base corpus's subvectors (q71's seed/sample
    * discipline restricted to the base), encode base + delta in ONE
    * pass, and aggregate the code populations. */
  private def q312Oracle: String = {
    val subCase = (0 until pqM).map { m =>
      if (m < pqM - 1) s"WHEN $m THEN v[${m * pqSub + 1}:${(m + 1) * pqSub}]"
      else s"ELSE v[${m * pqSub + 1}:${(m + 1) * pqSub}]"
    }.mkString("CASE t.m ", " ", " END")
    val mValues = (0 until pqM).map(m => s"($m)").mkString(", ")
    val train = (1 to pqTrainIters).map(k =>
      oraclePqAssignCte(s"pa$k", s"pcb${k - 1}", src = "tsub") + ",\n" +
        oraclePqRecenterCtes(k)).mkString(",\n")
    s"""WITH $oracleNormed,
       |sub AS (SELECT vec_id, nrm, t.m AS m, $subCase AS sub
       |  FROM n CROSS JOIN (VALUES $mValues) t(m)),
       |bsub AS (SELECT * FROM sub WHERE vec_id % 10 <> 7),
       |tsub AS (SELECT * FROM bsub
       |  WHERE vec_id % $pqTrainSampleMod = 0 OR vec_id < $pqK),
       |pcb0 AS (SELECT vec_id AS cid, m, sub AS csub FROM bsub WHERE vec_id < $pqK),
       |$train,
       |${oraclePqAssignCte("paE", s"pcb$pqTrainIters")},
       |f AS (SELECT m, code, vec_id,
       |    CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END AS is_new FROM paE)
       |SELECT CAST(m AS INTEGER) AS m, CAST(code AS BIGINT) AS code,
       |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(is_new) AS BIGINT) AS n_new,
       |  CAST(COALESCE(MIN(CASE WHEN is_new = 1 THEN vec_id END), -1) AS BIGINT)
       |    AS first_new_vec
       |FROM f GROUP BY m, code ORDER BY m, code""".stripMargin
  }

  private def q37Oracle: String = {
    val lloyd = (1 to lloydIters).map(k =>
      oracleAssignCte(s"a$k", s"cb${k - 1}", src = "tn") + ",\n" +
        oracleRecenterCtes(k)).mkString(",\n")
    s"""WITH $oracleNormed,
       |tn AS (SELECT * FROM n WHERE vec_id % $ivfTrainSampleMod = 0 OR vec_id < 16),
       |cb0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |$lloyd,
       |${oracleAssignCte("assigned", s"cb$lloydIters")},
       |probes AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn, centroid_id AS pcentroid
       |  FROM assigned WHERE vec_id < 8),
       |cand AS (SELECT p.probe_id, a.vec_id AS neighbor_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.pv[i] * a.v[i]), (a2, b2) -> a2 + b2) / (p.pn * a.nrm) AS cos
       |  FROM assigned a JOIN probes p
       |    ON a.centroid_id = p.pcentroid AND a.vec_id <> p.probe_id),
       |r AS (SELECT probe_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM cand)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, rank, cos
       |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** Oracle twin of q305: the q37 Lloyd chain to `assigned`, the same e3
    * quantization, and the q293 token-grid MaxSim restricted to the
    * probe's own centroid bucket. */
  private def q305Oracle: String = {
    val lloyd = (1 to lloydIters).map(k =>
      oracleAssignCte(s"a$k", s"cb${k - 1}", src = "tn") + ",\n" +
        oracleRecenterCtes(k)).mkString(",\n")
    s"""WITH $oracleNormed,
       |tn AS (SELECT * FROM n WHERE vec_id % $ivfTrainSampleMod = 0 OR vec_id < 16),
       |cb0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |$lloyd,
       |${oracleAssignCte("assigned", s"cb$lloydIters")},
       |qa AS (SELECT vec_id, centroid_id,
       |    list_transform(v, x -> CAST(floor(x * 1000.0 + 0.5) AS BIGINT)) AS q FROM assigned),
       |ti AS (SELECT unnest(generate_series(0, 7)) AS i),
       |tok AS (SELECT vec_id, centroid_id, i, list_slice(q, i * 8 + 1, i * 8 + 8) AS sub FROM qa, ti),
       |pt AS (SELECT vec_id AS probe_id, centroid_id AS pcentroid, i AS pi, sub AS psub
       |  FROM tok WHERE vec_id < 8),
       |dots AS (SELECT p.probe_id, d.vec_id, p.pi, ${duckIdot("p.psub", "d.sub", 8)} AS dot
       |  FROM pt p JOIN tok d ON d.centroid_id = p.pcentroid AND d.vec_id <> p.probe_id),
       |mx AS (SELECT probe_id, vec_id, pi, max(dot) AS m FROM dots GROUP BY 1, 2, 3),
       |scm AS (SELECT probe_id, vec_id, CAST(sum(m) AS BIGINT) AS maxsim_e6 FROM mx GROUP BY 1, 2),
       |rr AS (SELECT scm.*, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY maxsim_e6 DESC, vec_id) AS INTEGER) AS rank FROM scm)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(vec_id AS BIGINT) AS neighbor_id,
       |  rank, maxsim_e6
       |FROM rr WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** Oracle twin of q105: identical codebook training + assignment CTEs
    * as q37, then the within-cluster pair scan, greedy victim set, and
    * per-cluster scorecard. */
  private def q105Oracle: String = {
    val lloyd = (1 to lloydIters).map(k =>
      oracleAssignCte(s"a$k", s"cb${k - 1}", src = "tn") + ",\n" +
        oracleRecenterCtes(k)).mkString(",\n")
    s"""WITH $oracleNormed,
       |tn AS (SELECT * FROM n WHERE vec_id % $ivfTrainSampleMod = 0 OR vec_id < 16),
       |cb0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |$lloyd,
       |${oracleAssignCte("assigned", s"cb$lloydIters")},
       |pairs AS (SELECT x.centroid_id, x.vec_id AS a, y.vec_id AS b,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> x.v[i] * y.v[i]), (a2, b2) -> a2 + b2) / (x.nrm * y.nrm) AS cos
       |  FROM assigned x JOIN assigned y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
       |victims AS (SELECT DISTINCT b AS vec_id FROM pairs WHERE cos >= $semDedupTau),
       |members AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM assigned GROUP BY 1),
       |kept AS (SELECT a2.centroid_id, CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM assigned a2 LEFT JOIN victims vv ON a2.vec_id = vv.vec_id
       |  WHERE vv.vec_id IS NULL GROUP BY 1)
       |SELECT CAST(m.centroid_id AS BIGINT) AS centroid_id, m.n_members,
       |  m.n_members - k2.n_kept AS n_dropped, k2.n_kept
       |FROM members m JOIN kept k2 USING (centroid_id)
       |ORDER BY centroid_id""".stripMargin
  }

  /** q259's oracle: the q105 Lloyd chain to `assigned`, the documents
    * join, exact cell/marginal counts, the same lift arithmetic and
    * deviation ranking. */
  private def q259Oracle: String = {
    val lloyd = (1 to lloydIters).map(k =>
      oracleAssignCte(s"a$k", s"cb${k - 1}", src = "tn") + ",\n" +
        oracleRecenterCtes(k)).mkString(",\n")
    s"""WITH $oracleNormed,
       |tn AS (SELECT * FROM n WHERE vec_id % $ivfTrainSampleMod = 0 OR vec_id < 16),
       |cb0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |$lloyd,
       |${oracleAssignCte("assigned", s"cb$lloydIters")},
       |cells AS (SELECT a2.centroid_id, d.source, CAST(COUNT(*) AS BIGINT) AS n_cell
       |  FROM assigned a2 JOIN documents d ON d.doc_id = a2.vec_id
       |  GROUP BY 1, 2),
       |rm AS (SELECT centroid_id, CAST(SUM(n_cell) AS BIGINT) AS n_cluster
       |  FROM cells GROUP BY 1),
       |cm AS (SELECT source, CAST(SUM(n_cell) AS BIGINT) AS n_source
       |  FROM cells GROUP BY 1),
       |tt AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS n_total FROM cells),
       |sc2 AS (SELECT c.centroid_id, c.source, c.n_cell, rm.n_cluster,
       |    cm.n_source,
       |    CAST((1000000 * c.n_cell * tt.n_total)
       |      // (rm.n_cluster * cm.n_source) AS BIGINT) AS lift_e6
       |  FROM cells c JOIN rm USING (centroid_id) JOIN cm USING (source)
       |  CROSS JOIN tt)
       |SELECT CAST(centroid_id AS BIGINT) AS centroid_id, source, n_cell,
       |  n_cluster, n_source, lift_e6,
       |  CAST(abs(lift_e6 - 1000000) AS BIGINT) AS dev_e6
       |FROM sc2
       |ORDER BY dev_e6 DESC, centroid_id ASC, source ASC LIMIT 20""".stripMargin
  }

  /** Index-ordered subvector dot for the q71 oracle (bit-equal to
    * graft_dot over the same slices). */
  private def oraclePqDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, $pqSub), i -> $a[i] * $b[i]), (a2, b2) -> a2 + b2)"

  /** Oracle twin of `pqAssign`: per-(vector, subspace) squared-L2 argmin
    * against codebook CTE `cb`, ties to the lowest centroid id. `src` is
    * the (vec_id, nrm, m, sub) population CTE — the training passes read
    * the sampled `tsub`, the encode reads the full `sub` (the Spark
    * side's trainSubs/subs split). */
  private def oraclePqAssignCte(name: String, cb: String, src: String = "sub"): String =
    s"""$name AS (SELECT vec_id, nrm, m, sub, cid AS code FROM (
       |    SELECT s.vec_id, s.nrm, s.m, s.sub, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        (${oraclePqDot("s.sub", "s.sub")}
       |         - 2 * ${oraclePqDot("s.sub", "c.csub")}
       |         + ${oraclePqDot("c.csub", "c.csub")}) ASC, c.cid ASC) AS rn
       |    FROM $src s JOIN $cb c ON s.m = c.m) WHERE rn = 1)""".stripMargin

  /** Oracle twin of `pqRecenter`: the identical fixed-point per-(subspace,
    * centroid, dimension) mean; centroids with no members drop out of the
    * GROUP BY on both sides. */
  private def oraclePqRecenterCtes(k: Int): String =
    s"""pm$k AS (SELECT m, code AS cid, t.i AS pos,
       |    CAST(SUM(CAST(floor(sub[t.i] * 4294967296e0) AS BIGINT)) AS DOUBLE)
       |      / (COUNT(*) * 4294967296e0) AS mean
       |  FROM pa$k CROSS JOIN generate_series(1, $pqSub) t(i)
       |  GROUP BY m, code, t.i),
       |pcb$k AS (SELECT m, cid, list(mean ORDER BY pos) AS csub FROM pm$k GROUP BY m, cid)""".stripMargin

  private def q71Oracle: String = {
    val subCase = (0 until pqM).map { m =>
      if (m < pqM - 1) s"WHEN $m THEN v[${m * pqSub + 1}:${(m + 1) * pqSub}]"
      else s"ELSE v[${m * pqSub + 1}:${(m + 1) * pqSub}]"
    }.mkString("CASE t.m ", " ", " END")
    val mValues = (0 until pqM).map(m => s"($m)").mkString(", ")
    val pivots = (0 until pqM)
      .map(m => s"MAX(CASE WHEN e2.m = $m THEN part END) AS p$m").mkString(",\n         |    ")
    val scoreSum = (0 until pqM).map(m => s"p$m").mkString(" + ")
    val train = (1 to pqTrainIters).map(k =>
      oraclePqAssignCte(s"pa$k", s"pcb${k - 1}", src = "tsub") + ",\n" +
        oraclePqRecenterCtes(k)).mkString(",\n")
    val cbF = s"pcb$pqTrainIters"
    s"""WITH $oracleNormed,
       |sub AS (SELECT vec_id, nrm, t.m AS m, $subCase AS sub
       |  FROM n CROSS JOIN (VALUES $mValues) t(m)),
       |tsub AS (SELECT * FROM sub
       |  WHERE vec_id % $pqTrainSampleMod = 0 OR vec_id < $pqK),
       |pcb0 AS (SELECT vec_id AS cid, m, sub AS csub FROM sub WHERE vec_id < $pqK),
       |$train,
       |${oraclePqAssignCte("paE", cbF)},
       |enc AS (SELECT vec_id, nrm, m, code FROM paE),
       |tbl AS (SELECT p.vec_id AS probe_id, p.nrm AS pn, p.m AS tm, c.cid,
       |    ${oraclePqDot("p.sub", "c.csub")} AS part
       |  FROM sub p JOIN $cbF c ON p.m = c.m WHERE p.vec_id < 8),
       |sc AS (SELECT t.probe_id, t.pn, e2.vec_id, e2.nrm,
       |    $pivots
       |  FROM enc e2 JOIN tbl t ON e2.m = t.tm AND e2.code = t.cid AND e2.vec_id <> t.probe_id
       |  GROUP BY t.probe_id, t.pn, e2.vec_id, e2.nrm),
       |short AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY ($scoreSum) / (pn * nrm) DESC, vec_id ASC) AS arank
       |    FROM sc) WHERE arank <= $pqShortlist),
       |probes AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 8),
       |rr AS (SELECT s2.probe_id, s2.vec_id AS neighbor_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.pv[i] * c.v[i]), (a2, b2) -> a2 + b2) / (p.pn * c.nrm) AS cos
       |  FROM short s2 JOIN n c ON s2.vec_id = c.vec_id JOIN probes p ON s2.probe_id = p.probe_id),
       |r AS (SELECT probe_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM rr)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  rank, cos
       |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** Oracle twin of q212: q37's IVF CTE chain (cb*) + q71's PQ CTE
    * chain (pcb*) + the bucket-restricted ADC scan. The two codebook
    * namespaces compose in one WITH because the PQ builders emit pcb*
    * names. */
  private def q212Oracle: String = {
    val subCase = (0 until pqM).map { m =>
      if (m < pqM - 1) s"WHEN $m THEN v[${m * pqSub + 1}:${(m + 1) * pqSub}]"
      else s"ELSE v[${m * pqSub + 1}:${(m + 1) * pqSub}]"
    }.mkString("CASE t.m ", " ", " END")
    val mValues = (0 until pqM).map(m => s"($m)").mkString(", ")
    val pivots = (0 until pqM)
      .map(m => s"MAX(CASE WHEN e2.m = $m THEN part END) AS p$m").mkString(",\n         |    ")
    val scoreSum = (0 until pqM).map(m => s"p$m").mkString(" + ")
    val lloyd = (1 to lloydIters).map(k =>
      oracleAssignCte(s"a$k", s"cb${k - 1}", src = "tn") + ",\n" +
        oracleRecenterCtes(k)).mkString(",\n")
    val train = (1 to pqTrainIters).map(k =>
      oraclePqAssignCte(s"pa$k", s"pcb${k - 1}", src = "tsub") + ",\n" +
        oraclePqRecenterCtes(k)).mkString(",\n")
    val pcbF = s"pcb$pqTrainIters"
    s"""WITH $oracleNormed,
       |tn AS (SELECT * FROM n WHERE vec_id % $ivfTrainSampleMod = 0 OR vec_id < 16),
       |cb0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |$lloyd,
       |${oracleAssignCte("assigned", s"cb$lloydIters")},
       |sub AS (SELECT vec_id, nrm, t.m AS m, $subCase AS sub
       |  FROM n CROSS JOIN (VALUES $mValues) t(m)),
       |tsub AS (SELECT * FROM sub
       |  WHERE vec_id % $pqTrainSampleMod = 0 OR vec_id < $pqK),
       |pcb0 AS (SELECT vec_id AS cid, m, sub AS csub FROM sub WHERE vec_id < $pqK),
       |$train,
       |${oraclePqAssignCte("paE", pcbF)},
       |enc AS (SELECT p2.vec_id, p2.nrm, p2.m, p2.code, a2.centroid_id
       |  FROM paE p2 JOIN assigned a2 ON p2.vec_id = a2.vec_id),
       |probes0 AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn, centroid_id AS pcentroid
       |  FROM assigned WHERE vec_id < 8),
       |tbl AS (SELECT pr.probe_id, pr.pn, pr.pcentroid, p.m AS tm, c.cid,
       |    ${oraclePqDot("p.sub", "c.csub")} AS part
       |  FROM probes0 pr JOIN sub p ON p.vec_id = pr.probe_id
       |  JOIN $pcbF c ON p.m = c.m),
       |sc AS (SELECT t.probe_id, t.pn, e2.vec_id, e2.nrm,
       |    $pivots
       |  FROM enc e2 JOIN tbl t ON e2.m = t.tm AND e2.code = t.cid
       |    AND e2.centroid_id = t.pcentroid AND e2.vec_id <> t.probe_id
       |  GROUP BY t.probe_id, t.pn, e2.vec_id, e2.nrm),
       |short AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY ($scoreSum) / (pn * nrm) DESC, vec_id ASC) AS arank
       |    FROM sc) WHERE arank <= $pqShortlist),
       |rr AS (SELECT s2.probe_id, s2.vec_id AS neighbor_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.pv[i] * c.v[i]), (a2, b2) -> a2 + b2) / (p.pn * c.nrm) AS cos
       |  FROM short s2 JOIN n c ON s2.vec_id = c.vec_id
       |  JOIN probes0 p ON s2.probe_id = p.probe_id),
       |r AS (SELECT probe_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM rr)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  rank, cos
       |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** Shared LSH pair-graph CTEs (projections → bands → candidate pairs →
    * exact cosine), the common prefix of the q26/q40/q50 oracles. */
  private val oraclePairSc =
    s"""proj AS (SELECT vec_id, v, nrm,
       |    $oracleProjs
       |  FROM n),
       |bands AS ($oracleBandSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |sc AS (SELECT vec_a, vec_b,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> x.v[i] * y.v[i]), (a, b) -> a + b) / (x.nrm * y.nrm) AS cos
       |  FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id)""".stripMargin

  /** q218's oracle: the identical band construction (shared CTE text),
    * probe-restricted candidates, both rankings, LEFT-join scoring. */
  private val q218Oracle: String =
    s"""WITH $oracleNormed,
       |proj AS (SELECT vec_id, v, nrm,
       |    $oracleProjs
       |  FROM n),
       |bands AS ($oracleBandSelects),
       |pb AS (SELECT vec_id AS probe_id, band, bkey FROM bands WHERE vec_id < 32),
       |cand AS (SELECT DISTINCT pb.probe_id, b.vec_id
       |  FROM bands b JOIN pb ON b.band = pb.band AND b.bkey = pb.bkey
       |    AND b.vec_id <> pb.probe_id),
       |asc1 AS (SELECT c.probe_id, c.vec_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.v[i] * x.v[i]), (a, b) -> a + b) / (p.nrm * x.nrm) AS cos
       |  FROM cand c JOIN n x ON c.vec_id = x.vec_id JOIN n p ON c.probe_id = p.vec_id),
       |ann AS (SELECT probe_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS arank
       |  FROM asc1),
       |exj AS (SELECT p.vec_id AS probe_id, c.vec_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.v[i] * c.v[i]), (a, b) -> a + b) / (p.nrm * c.nrm) AS cos
       |  FROM n p JOIN n c ON c.vec_id <> p.vec_id WHERE p.vec_id < 32),
       |ex AS (SELECT probe_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS erank
       |  FROM exj)
       |SELECT CAST(e.probe_id AS BIGINT) AS probe_id,
       |  CAST(COUNT(a.arank) AS BIGINT) AS n_hits10,
       |  CAST(COALESCE(2520 // MIN(a.arank), 0) AS BIGINT) AS rr_x2520
       |FROM ex e LEFT JOIN (SELECT * FROM ann WHERE arank <= 10) a
       |  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
       |WHERE e.erank <= 10
       |GROUP BY e.probe_id
       |ORDER BY probe_id""".stripMargin

  /** q228's oracle: both cosines on each (probe, candidate) row, two
    * rankings over the same partition, overlap scoring — the Spark
    * plan re-expressed with the shared fold order. */
  private val q228Oracle: String =
    s"""WITH $oracleNormed,
       |t AS (SELECT vec_id, v, nrm,
       |    sqrt(list_reduce(list_transform(generate_series(1, 16), i -> v[i] * v[i]), (a, b) -> a + b)) AS tnrm
       |  FROM n),
       |j AS (SELECT p.vec_id AS probe_id, c.vec_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.v[i] * c.v[i]), (a, b) -> a + b) / (p.nrm * c.nrm) AS cos,
       |    list_reduce(list_transform(generate_series(1, 16), i -> p.v[i] * c.v[i]), (a, b) -> a + b) / (p.tnrm * c.tnrm) AS tcos
       |  FROM t p JOIN t c ON c.vec_id <> p.vec_id WHERE p.vec_id < 32),
       |r AS (SELECT probe_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS erank,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY tcos DESC, vec_id ASC) AS INTEGER) AS trank
       |  FROM j)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id,
       |  CAST(COUNT(CASE WHEN trank <= 10 THEN 1 END) AS BIGINT) AS n_hits10,
       |  CAST(COALESCE(2520 // MIN(CASE WHEN trank <= 10 THEN trank END), 0) AS BIGINT) AS rr_x2520
       |FROM r WHERE erank <= 10
       |GROUP BY probe_id ORDER BY probe_id""".stripMargin

  /** q232's oracle: the identical absmax quantizer, the identical
    * BIGINT code dot (order-free), one division by one sqrt of an
    * exactly-representable integer product — the lattice, not fold
    * order, is what makes the two engines agree. */
  /** The shared ranked-CTE chain for q232/q238 — ends at
    * `r(probe_id, vec_id, erank, qrank)`. */
  private val int8RankedCtes: String =
    s"""$oracleNormed,
       |qz AS (SELECT vec_id, v, nrm,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM n),
       |q AS (SELECT vec_id, v, nrm,
       |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
       |  FROM qz),
       |qq AS (SELECT vec_id, v, nrm, q,
       |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS qn2
       |  FROM q),
       |j AS (SELECT p.vec_id AS probe_id, c.vec_id,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> p.v[i] * c.v[i]), (a, b) -> a + b) / (p.nrm * c.nrm) AS cos,
       |    CAST(list_reduce(list_transform(generate_series(1, $dim), i -> p.q[i] * c.q[i]), (a, b) -> a + b) AS DOUBLE)
       |      / sqrt(CAST(p.qn2 * c.qn2 AS DOUBLE)) AS qcos
       |  FROM qq p JOIN qq c ON c.vec_id <> p.vec_id WHERE p.vec_id < 32),
       |r AS (SELECT probe_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS erank,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, vec_id ASC) AS INTEGER) AS qrank
       |  FROM j)""".stripMargin

  private val q232Oracle: String =
    s"""WITH $int8RankedCtes
       |SELECT CAST(probe_id AS BIGINT) AS probe_id,
       |  CAST(COUNT(CASE WHEN qrank <= 10 THEN 1 END) AS BIGINT) AS n_hits10,
       |  CAST(COALESCE(2520 // MIN(CASE WHEN qrank <= 10 THEN qrank END), 0) AS BIGINT) AS rr_x2520
       |FROM r WHERE erank <= 10
       |GROUP BY probe_id ORDER BY probe_id""".stripMargin

  /** q238's oracle: the shared ranked chain, the identical bounded
    * depth fanout, and the same dyadic-integer RBO assembly. */
  private val q238Oracle: String =
    s"""WITH $int8RankedCtes,
       |ov AS (SELECT probe_id,
       |    unnest(generate_series(GREATEST(erank, qrank), 10)) AS d
       |  FROM r WHERE erank <= 10 AND qrank <= 10),
       |oc AS (SELECT probe_id, d, CAST(COUNT(*) AS BIGINT) AS ov
       |  FROM ov GROUP BY probe_id, d),
       |t AS (SELECT probe_id,
       |    CAST(SUM((1 << (10 - d)) * (2520 // d) * ov) AS BIGINT) AS rbo_num
       |  FROM oc GROUP BY probe_id),
       |sp AS (SELECT DISTINCT probe_id FROM r)
       |SELECT CAST(sp.probe_id AS BIGINT) AS probe_id,
       |  COALESCE(t.rbo_num, 0) AS rbo_num,
       |  CAST((COALESCE(t.rbo_num, 0) * 1000000) // ${2520 * 1023} AS BIGINT) AS rbo_e6
       |FROM sp LEFT JOIN t USING (probe_id) ORDER BY probe_id""".stripMargin

  /** q242's CTE chain up to the verified corpus×bench near-dup pairs
    * `sdf(cid, bid, cos)` — shared with q253's contamination report
    * (DedupQueries), which consumes the distinct contaminated cids. */
  private[graft] lazy val semanticDeconCtes: String =
    s"""$oracleNormed,
       |proj AS (SELECT vec_id, v, nrm,
       |    $oracleProjs
       |  FROM n),
       |bands AS ($oracleBandSelects),
       |cand AS (SELECT DISTINCT c.vec_id AS cid, b.vec_id AS bid
       |  FROM bands c JOIN bands b ON c.band = b.band AND c.bkey = b.bkey
       |  WHERE c.vec_id % 37 <> 0 AND b.vec_id % 37 = 0),
       |ssc AS (SELECT cid, bid,
       |    list_reduce(list_transform(generate_series(1, $dim), i -> x.v[i] * y.v[i]), (a, b) -> a + b) / (x.nrm * y.nrm) AS cos
       |  FROM cand JOIN n x ON cid = x.vec_id JOIN n y ON bid = y.vec_id),
       |sdf AS (SELECT * FROM ssc WHERE cos >= 0.35)""".stripMargin

  /** DuckDB BIGINT from the first n hex nibbles of md5(x) — nibble
    * Horner, the CorpusQueries idiom (DuckDB has no base-16 conv). */
  private def duckMd5Int(x: String, n: Int): String =
    (1 to n).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc) * 16 + (strpos('0123456789abcdef', substr(md5($x), $i, 1)) - 1))"
    }

  /** Shared quantized-embedding CTE for the q293/q294 oracles — the exact
    * e3 round-half-up lattice the Spark side computes. */
  private val oracleQuant =
    """iv AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings)""".stripMargin

  private def duckIdot(a: String, b: String, n: Int): String =
    s"list_reduce(list_transform(generate_series(1, $n), k -> $a[k] * $b[k]), (s, t) -> s + t)"

  private def q293Oracle: String =
    s"""WITH $oracleQuant,
       |ti AS (SELECT unnest(generate_series(0, 7)) AS i),
       |tok AS (SELECT vec_id, i, list_slice(q, i * 8 + 1, i * 8 + 8) AS sub FROM iv, ti),
       |pt AS (SELECT vec_id AS probe_id, i AS pi, sub AS psub FROM tok WHERE vec_id < 8),
       |dots AS (SELECT p.probe_id, d.vec_id, p.pi, ${duckIdot("p.psub", "d.sub", 8)} AS dot
       |  FROM pt p JOIN tok d ON d.vec_id <> p.probe_id),
       |mx AS (SELECT probe_id, vec_id, pi, max(dot) AS m FROM dots GROUP BY 1, 2, 3),
       |sc AS (SELECT probe_id, vec_id, CAST(sum(m) AS BIGINT) AS maxsim_e6 FROM mx GROUP BY 1, 2),
       |r AS (SELECT sc.*, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY maxsim_e6 DESC, vec_id) AS INTEGER) AS rank FROM sc)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(vec_id AS BIGINT) AS neighbor_id,
       |  rank, maxsim_e6
       |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  private def q294Oracle: String = {
    val steps = (2 to 4).map { st =>
      s"""mx$st AS (SELECT si.probe_id, si.a AS vec_id, max(si.sim) AS mxs
         |  FROM sims si JOIN sel${st - 1} t ON t.probe_id = si.probe_id AND t.vec_id = si.b
         |  GROUP BY si.probe_id, si.a),
         |c$st AS (SELECT p.probe_id, p.vec_id, p.rel - m.mxs AS score,
         |    row_number() OVER (PARTITION BY p.probe_id ORDER BY p.rel - m.mxs DESC, p.vec_id) AS rn
         |  FROM pool p JOIN mx$st m ON m.probe_id = p.probe_id AND m.vec_id = p.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${st - 1} t
         |    WHERE t.probe_id = p.probe_id AND t.vec_id = p.vec_id)),
         |s$st AS (SELECT probe_id, vec_id, $st AS step, score FROM c$st WHERE rn = 1),
         |sel$st AS (SELECT probe_id, vec_id FROM sel${st - 1}
         |  UNION ALL SELECT probe_id, vec_id FROM s$st)""".stripMargin
    }.mkString(",\n")
    s"""WITH $oracleQuant,
       |pr AS (SELECT vec_id AS probe_id, q AS pq FROM iv WHERE vec_id < 4),
       |relj AS (SELECT p.probe_id, c.vec_id, ${duckIdot("p.pq", "c.q", dim)} AS rel
       |  FROM pr p JOIN iv c ON c.vec_id <> p.probe_id),
       |pool AS (SELECT probe_id, vec_id, rel FROM (
       |    SELECT relj.*, row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, vec_id) AS rn
       |    FROM relj) WHERE rn <= 8),
       |pq2 AS (SELECT pool.probe_id, pool.vec_id, pool.rel, iv.q FROM pool JOIN iv USING (vec_id)),
       |sims AS (SELECT x.probe_id, x.vec_id AS a, y.vec_id AS b, ${duckIdot("x.q", "y.q", dim)} AS sim
       |  FROM pq2 x JOIN pq2 y ON x.probe_id = y.probe_id AND x.vec_id <> y.vec_id),
       |s1 AS (SELECT probe_id, vec_id, 1 AS step, rel AS score FROM (
       |    SELECT pool.*, row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, vec_id) AS rn
       |    FROM pool) WHERE rn = 1),
       |sel1 AS (SELECT probe_id, vec_id FROM s1),
       |$steps,
       |allsel AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(step AS INTEGER) AS step,
       |  CAST(vec_id AS BIGINT) AS neighbor_id, CAST(score AS BIGINT) AS score_e6
       |FROM allsel ORDER BY probe_id, step""".stripMargin
  }

  private def q295Oracle: String =
    s"""WITH $int8RankedCtes,
       |f AS (SELECT probe_id, vec_id,
       |    (100000000 // (60 + erank)) + (100000000 // (60 + qrank)) AS rrf_e8 FROM r),
       |rk AS (SELECT f.*, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY rrf_e8 DESC, vec_id) AS rank FROM f)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(vec_id AS BIGINT) AS neighbor_id,
       |  CAST(rank AS INTEGER) AS rank, CAST(rrf_e8 AS BIGINT) AS rrf_e8
       |FROM rk WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  private def q302Oracle: String =
    s"""WITH $oracleNormed,
       |$oraclePairSc,
       |pairs AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs),
       |seeds AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS lbl
       |  FROM embeddings WHERE vec_id < 100),
       |v1 AS (SELECT eg.src AS node, l.lbl, COUNT(*) AS c
       |  FROM edges eg JOIN seeds l ON l.node = eg.dst GROUP BY 1, 2),
       |a1 AS (SELECT node, lbl FROM (SELECT v1.*, row_number() OVER (
       |    PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v1) t WHERE rn = 1),
       |r1 AS (SELECT node, lbl FROM a1 WHERE node NOT IN (SELECT node FROM seeds)),
       |l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r1),
       |v2 AS (SELECT eg.src AS node, l.lbl, COUNT(*) AS c
       |  FROM edges eg JOIN l1 l ON l.node = eg.dst GROUP BY 1, 2),
       |a2 AS (SELECT node, lbl FROM (SELECT v2.*, row_number() OVER (
       |    PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v2) t WHERE rn = 1),
       |r2 AS (SELECT node, lbl FROM a2 WHERE node NOT IN (SELECT node FROM l1)),
       |l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM r2),
       |by1 AS (SELECT lbl, COUNT(*) AS n_seeds FROM seeds GROUP BY lbl),
       |c1 AS (SELECT lbl, COUNT(*) AS n_round1 FROM r1 GROUP BY lbl),
       |c2 AS (SELECT lbl, COUNT(*) AS n_round2 FROM r2 GROUP BY lbl),
       |lab AS (SELECT CAST(by1.lbl AS BIGINT) AS label,
       |    CAST(n_seeds AS BIGINT) AS n_seeds,
       |    CAST(COALESCE(n_round1, 0) AS BIGINT) AS n_round1,
       |    CAST(COALESCE(n_round2, 0) AS BIGINT) AS n_round2,
       |    CAST(n_seeds + COALESCE(n_round1, 0) + COALESCE(n_round2, 0) AS BIGINT) AS n_total
       |  FROM by1 LEFT JOIN c1 USING (lbl) LEFT JOIN c2 USING (lbl)),
       |un AS (SELECT CAST(-1 AS BIGINT) AS label, CAST(0 AS BIGINT) AS n_seeds,
       |    CAST(0 AS BIGINT) AS n_round1, CAST(0 AS BIGINT) AS n_round2,
       |    CAST(COUNT(*) AS BIGINT) AS n_total
       |  FROM embeddings WHERE vec_id NOT IN (SELECT node FROM l2))
       |SELECT * FROM lab UNION ALL SELECT * FROM un ORDER BY label""".stripMargin

  /** q310's oracle: label propagation driven to DuckDB's OWN fixpoint by
    * a recursive CTE (the q268 discipline) — each iteration re-derives
    * the majority-vote adoptions from the previous iteration's labeled
    * set inside a nested WITH (every inner CTE MATERIALIZED) and
    * re-emits the grown set only while something was adopted; at the
    * fixpoint it emits nothing and the recursion stops, so the last
    * recorded iteration IS the complete reachable labeling at any
    * frontier depth. */
  private def q310Oracle: String =
    s"""WITH RECURSIVE $oracleNormed,
       |$oraclePairSc,
       |prs AS MATERIALIZED (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
       |edges AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM prs
       |  UNION ALL SELECT vec_b, vec_a FROM prs),
       |lp AS (
       |  SELECT 0 AS it, vec_id AS node, CAST(label AS BIGINT) AS lbl, 0 AS r
       |    FROM embeddings WHERE vec_id < 100
       |  UNION ALL
       |  SELECT * FROM (
       |    WITH cur AS MATERIALIZED (SELECT it, node, lbl, r FROM lp),
       |    mx AS MATERIALIZED (SELECT MAX(it) AS m FROM cur),
       |    votes AS MATERIALIZED (SELECT eg.src AS node, l.lbl, COUNT(*) AS c
       |      FROM edges eg JOIN cur l ON l.node = eg.dst
       |      WHERE eg.src NOT IN (SELECT node FROM cur)
       |      GROUP BY 1, 2),
       |    newly AS MATERIALIZED (SELECT node, lbl FROM (
       |        SELECT v.*, row_number() OVER (
       |          PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |        FROM votes v) t WHERE rn = 1),
       |    nxt AS (SELECT (SELECT m FROM mx) + 1 AS it, node, lbl, r FROM cur
       |      UNION ALL
       |      SELECT (SELECT m FROM mx) + 1, node, lbl, (SELECT m FROM mx) + 1
       |      FROM newly)
       |    SELECT it, node, lbl, r FROM nxt
       |    WHERE (SELECT COUNT(*) FROM newly) > 0
       |  ) s2
       |),
       |fin AS MATERIALIZED (SELECT node, lbl, r FROM lp
       |  WHERE it = (SELECT MAX(it) FROM lp)),
       |by1 AS (SELECT lbl AS label,
       |    SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS n_seeds,
       |    SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS n_adopted,
       |    MAX(r) AS last_round, COUNT(*) AS n_total
       |  FROM fin GROUP BY lbl),
       |un AS (SELECT CAST(-1 AS BIGINT) AS label, CAST(0 AS BIGINT) AS n_seeds,
       |    CAST(0 AS BIGINT) AS n_adopted, CAST(0 AS BIGINT) AS last_round,
       |    CAST(COUNT(*) AS BIGINT) AS n_total
       |  FROM embeddings WHERE vec_id NOT IN (SELECT node FROM fin))
       |SELECT CAST(label AS BIGINT) AS label, CAST(n_seeds AS BIGINT) AS n_seeds,
       |  CAST(n_adopted AS BIGINT) AS n_adopted,
       |  CAST(last_round AS BIGINT) AS last_round,
       |  CAST(n_total AS BIGINT) AS n_total FROM by1
       |UNION ALL SELECT * FROM un ORDER BY label""".stripMargin

  val oracles: Map[String, String] = Map(
    "q305_ivf_maxsim" -> q305Oracle,
    "q301_cluster_keywords" ->
      """WITH lb AS (SELECT vec_id AS doc_id, label FROM embeddings),
        |tk AS (SELECT lb.label, unnest(string_split(d.text, ' ')) AS tok
        |  FROM documents d JOIN lb USING (doc_id)),
        |tf AS (SELECT label, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |dfl AS (SELECT tok, COUNT(*) AS dfl FROM tf GROUP BY tok),
        |nl AS (SELECT COUNT(DISTINCT label) AS n_labels FROM tf),
        |sc AS (SELECT label, tok, tf, dfl,
        |    (1000000 * tf * (n_labels + 1)) // (dfl + 1) AS score_e6
        |  FROM tf JOIN dfl USING (tok), nl),
        |r AS (SELECT sc.*, row_number() OVER (
        |    PARTITION BY label ORDER BY score_e6 DESC, tok) AS rank FROM sc)
        |SELECT CAST(label AS INTEGER) AS label, CAST(rank AS INTEGER) AS rank, tok,
        |  CAST(tf AS BIGINT) AS tf, CAST(dfl AS BIGINT) AS df_clusters,
        |  CAST(score_e6 AS BIGINT) AS score_e6
        |FROM r WHERE rank <= 5 ORDER BY label, rank""".stripMargin,
    "q302_label_propagation" -> q302Oracle,
    "q310_propagation_converged" -> q310Oracle,
    "q293_late_interaction" -> q293Oracle,
    "q294_mmr_rerank" -> q294Oracle,
    "q295_rrf_fusion" -> q295Oracle,
    // q280: the q50 recursive component chain + the identical salted-md5
    // opt-out draw + the same label-keyed closure
    "q280_optout_closure" ->
      s"""WITH RECURSIVE $ccCompCtes,
         |od AS (SELECT doc_id, source,
         |    CASE WHEN (${duckMd5Int(
                "'opt_' || CAST(doc_id AS VARCHAR)", 4)}) % 50 = 0
         |      THEN 1 ELSE 0 END AS optout
         |  FROM documents),
         |dl AS (SELECT od.doc_id, od.source, od.optout, comp.cluster_id
         |  FROM od LEFT JOIN comp ON comp.v = od.doc_id),
         |hit AS (SELECT DISTINCT cluster_id FROM dl
         |  WHERE optout = 1 AND cluster_id IS NOT NULL),
         |f AS (SELECT dl.source, dl.optout,
         |    CASE WHEN dl.optout = 1 OR hit.cluster_id IS NOT NULL
         |      THEN 1 ELSE 0 END AS quar
         |  FROM dl LEFT JOIN hit ON dl.cluster_id = hit.cluster_id),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(optout) AS BIGINT) AS n_optout,
         |    CAST(SUM(quar) AS BIGINT) AS n_quarantined
         |  FROM f GROUP BY source)
         |SELECT source, n_docs, n_optout, n_quarantined,
         |  CAST(n_quarantined - n_optout AS BIGINT) AS n_collateral,
         |  CAST((1000000 * n_quarantined) // n_docs AS BIGINT)
         |    AS quar_share_e6
         |FROM g ORDER BY source""".stripMargin,
    // q288: the q50 recursive component chain + the same row-local
    // rep/unclustered effectivity flag
    "q288_effective_mass" ->
      s"""WITH RECURSIVE $ccCompCtes,
         |dt AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
         |  FROM documents),
         |f AS (SELECT dt.source, dt.ntok,
         |    CASE WHEN comp.cluster_id IS NULL
         |      OR comp.cluster_id = dt.doc_id THEN 1 ELSE 0 END AS eff
         |  FROM dt LEFT JOIN comp ON comp.v = dt.doc_id),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(ntok) AS BIGINT) AS tokens,
         |    CAST(SUM(eff) AS BIGINT) AS n_eff,
         |    CAST(SUM(CASE WHEN eff = 1 THEN ntok ELSE 0 END) AS BIGINT)
         |      AS tokens_eff
         |  FROM f GROUP BY source)
         |SELECT source, n_docs, tokens, n_eff, tokens_eff,
         |  CAST((1000000 * tokens) // GREATEST(tokens_eff, 1) AS BIGINT)
         |    AS inflation_e6
         |FROM g ORDER BY source""".stripMargin,
    // q289: the shared pair CTEs + endpoint-language joins + the same
    // unordered-cell rollup
    "q289_crosslingual_pairs" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b, cos FROM sc WHERE cos >= 0.35),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_t FROM pr),
         |j AS (SELECT LEAST(a.lang, b.lang) AS lang_a,
         |    GREATEST(a.lang, b.lang) AS lang_b, pr.cos
         |  FROM pr JOIN documents a ON pr.vec_a = a.doc_id
         |    JOIN documents b ON pr.vec_b = b.doc_id),
         |g AS (SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN cos >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_strong
         |  FROM j GROUP BY 1, 2)
         |SELECT lang_a, lang_b, n_pairs, n_strong,
         |  CAST((1000000 * n_pairs) // GREATEST(n_t, 1) AS BIGINT)
         |    AS share_e6
         |FROM g, t ORDER BY lang_a, lang_b""".stripMargin,
    // q285: the shared pair CTEs + the q24-proven list set ops + the
    // same integer cross-multiplied thresholds
    "q285_dedup_agreement" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b, cos FROM sc WHERE cos >= 0.35),
         |d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
         |  FROM documents),
         |j AS (SELECT pr.cos,
         |    CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS ni,
         |    CAST(len(list_distinct(list_concat(a.w, b.w))) AS BIGINT) AS nu
         |  FROM pr JOIN d a ON pr.vec_a = a.doc_id
         |    JOIN d b ON pr.vec_b = b.doc_id),
         |c AS (SELECT CASE WHEN cos >= 0.7 THEN '0.70+'
         |    WHEN cos >= 0.5 THEN '0.50-0.70' ELSE '0.35-0.50' END
         |      AS cos_band,
         |    CASE WHEN 2 * ni >= nu THEN 1 ELSE 0 END AS lex05,
         |    CASE WHEN 10 * ni >= 3 * nu THEN 1 ELSE 0 END AS lex03
         |  FROM j)
         |SELECT cos_band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(lex05) AS BIGINT) AS n_lex_05,
         |  CAST(SUM(lex03) AS BIGINT) AS n_lex_03,
         |  CAST((1000000 * SUM(lex05)) // COUNT(*) AS BIGINT) AS agree05_e6,
         |  CAST((1000000 * SUM(lex03)) // COUNT(*) AS BIGINT) AS agree03_e6
         |FROM c GROUP BY cos_band ORDER BY cos_band""".stripMargin,
    // q281: the shared pair CTEs, endpoint-label joins, and the same
    // integer/float-floor modularity cells
    "q281_modularity" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
         |el AS (SELECT ea.label AS la, eb.label AS lb
         |  FROM pr JOIN embeddings ea ON pr.vec_a = ea.vec_id
         |    JOIN embeddings eb ON pr.vec_b = eb.vec_id),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM el),
         |deg AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS d_c FROM
         |    (SELECT la AS lbl FROM el UNION ALL SELECT lb AS lbl FROM el)
         |  GROUP BY lbl),
         |intra AS (SELECT la AS lbl, CAST(COUNT(*) AS BIGINT) AS e_c
         |  FROM el WHERE la = lb GROUP BY la)
         |SELECT CAST(deg.lbl AS INT) AS lbl, d_c,
         |  CAST(COALESCE(e_c, 0) AS BIGINT) AS e_c,
         |  CAST((1000000 * COALESCE(e_c, 0)) // m AS BIGINT) AS frac_e6,
         |  CAST((1000000 * d_c * d_c) // (4 * m * m) AS BIGINT) AS exp_e6,
         |  CAST(FLOOR(CAST(4 * m * COALESCE(e_c, 0) - d_c * d_c AS DOUBLE)
         |    / CAST(4 * m * m AS DOUBLE) * 1000000.0) AS BIGINT) AS dq_e6
         |FROM deg LEFT JOIN intra USING (lbl), m ORDER BY lbl""".stripMargin,
    // q282: identical absmax quantizer, exact integer centroid sums,
    // the same closed-form self-exclusion on the code lattice
    "q282_centroid_fit" ->
      """WITH e2 AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |qz AS (SELECT vec_id, label, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e2),
        |qq AS (SELECT vec_id, label,
        |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
        |      AS q
        |  FROM qz),
        |qn AS (SELECT vec_id, label, q,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b)
        |      AS qn2
        |  FROM qq),
        |g AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cd AS (SELECT label AS clabel, i, SUM(q[i]) AS sd
        |  FROM qn, g GROUP BY 1, 2),
        |n2 AS (SELECT clabel, SUM(sd * sd) AS n2s FROM cd GROUP BY clabel),
        |dt AS (SELECT v.vec_id, v.label AS own, v.qn2, cd.clabel,
        |    SUM(v.q[cd.i] * cd.sd) AS dot
        |  FROM qn v, cd GROUP BY 1, 2, 3, 4),
        |sc2 AS (SELECT dt.own, dt.vec_id,
        |    CASE WHEN dt.clabel = dt.own THEN
        |      (CASE WHEN n2.n2s - 2 * dt.dot + dt.qn2 <= 0
        |        THEN CAST(-2.0 AS DOUBLE)
        |        ELSE CAST(dt.dot - dt.qn2 AS DOUBLE)
        |          / sqrt(CAST(dt.qn2 * (n2.n2s - 2 * dt.dot + dt.qn2)
        |            AS DOUBLE)) END)
        |      ELSE CAST(dt.dot AS DOUBLE)
        |        / sqrt(CAST(dt.qn2 * n2.n2s AS DOUBLE)) END AS cos,
        |    dt.clabel
        |  FROM dt JOIN n2 USING (clabel)),
        |per AS (SELECT vec_id, own,
        |    MAX(CASE WHEN clabel = own THEN cos END) AS cos_own,
        |    MAX(CASE WHEN clabel <> own THEN cos END) AS best_other
        |  FROM sc2 GROUP BY 1, 2),
        |gr AS (SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(CASE WHEN best_other > cos_own THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_misfit,
        |    CAST(SUM(CAST(FLOOR((cos_own - best_other) * 1000000.0)
        |      AS BIGINT)) AS BIGINT) AS margin_sum_e6
        |  FROM per GROUP BY own)
        |SELECT CAST(label AS INT) AS label, n_vecs, n_misfit,
        |  CAST((1000000 * n_misfit) // n_vecs AS BIGINT)
        |    AS misfit_share_e6,
        |  margin_sum_e6
        |FROM gr ORDER BY label""".stripMargin,
    // the identical band construction (shared CTE text), corpus × bench
    // candidates, exact-cosine verify, window-ranked best match — an
    // independent formulation of the Spark side's max(struct) verdict
    "q242_semantic_decontaminate" ->
      s"""WITH $semanticDeconCtes,
         |r AS (SELECT cid, bid, cos,
         |    row_number() OVER (PARTITION BY cid ORDER BY cos DESC, bid ASC) AS rn,
         |    COUNT(*) OVER (PARTITION BY cid) AS nm
         |  FROM sdf)
         |SELECT CAST(cid AS BIGINT) AS vec_id, CAST(nm AS BIGINT) AS n_bench_matches,
         |  CAST(bid AS BIGINT) AS best_bench_id, cos AS best_cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q238_rank_agreement" -> q238Oracle,
    "q259_cluster_source_balance" -> q259Oracle,
    // the exact corpus × bench sweep + the shared band-candidate chain;
    // every cosine is the same index-ordered fold, so MAX and the band
    // cuts agree bit-for-bit
    "q263_semantic_recall" ->
      s"""WITH $semanticDeconCtes,
         |caught AS (SELECT DISTINCT cid FROM sdf),
         |bench2 AS (SELECT vec_id AS bid, v AS bv, nrm AS bn FROM n
         |  WHERE vec_id % 37 = 0),
         |corp AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 37 <> 0),
         |ex AS (SELECT c.vec_id,
         |    MAX(list_reduce(list_transform(generate_series(1, $dim), i -> c.v[i] * b.bv[i]), (a2, b2) -> a2 + b2) / (c.nrm * b.bn)) AS best_cos
         |  FROM corp c CROSS JOIN bench2 b GROUP BY c.vec_id),
         |t AS (SELECT vec_id, best_cos FROM ex WHERE best_cos >= 0.35),
         |j AS (SELECT
         |    CASE WHEN best_cos >= 0.7 THEN '0.70+'
         |         WHEN best_cos >= 0.5 THEN '0.50-0.70'
         |         ELSE '0.35-0.50' END AS cos_band,
         |    CASE WHEN caught.cid IS NULL THEN 0 ELSE 1 END AS caught
         |  FROM t LEFT JOIN caught ON t.vec_id = caught.cid)
         |SELECT cos_band, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(caught) AS BIGINT) AS n_caught,
         |  CAST((1000000 * SUM(caught)) // COUNT(*) AS BIGINT) AS recall_e6
         |FROM j GROUP BY cos_band ORDER BY cos_band""".stripMargin,
    "q232_int8_recall" -> q232Oracle,
    "q228_truncation_recall" -> q228Oracle,
    "q218_retrieval_recall" -> q218Oracle,
    "q92_quantization_audit" ->
      s"""WITH e AS (SELECT CAST(label AS INTEGER) AS label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sc AS (SELECT label, v,
         |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         |q AS (SELECT label,
         |    list_transform(v, x -> floor(x / scale + 0.5) * scale) AS vq, v
         |  FROM sc WHERE scale > 0),
         |m AS (SELECT label,
         |    list_reduce(list_transform(generate_series(1, $dim), i -> v[i] * vq[i]), (a, b) -> a + b)
         |      / (sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b))
         |         * sqrt(list_reduce(list_transform(vq, x -> x * x), (a, b) -> a + b))) AS cosq,
         |    list_max(list_transform(generate_series(1, $dim), i -> abs(v[i] - vq[i]))) AS maxerr
         |  FROM q)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  CAST(SUM(CAST(floor(cosq * 1e9) AS BIGINT)) AS DOUBLE) / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_cos,
         |  MIN(cosq) AS min_cos,
         |  MAX(maxerr) AS max_abs_err
         |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "q25_cosine_topk" ->
      s"""WITH $oracleNormed,
         |j AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_transform(generate_series(1, $dim), i -> p.v[i] * c.v[i]), (a, b) -> a + b) / (p.nrm * c.nrm) AS cos
         |  FROM n p JOIN n c ON c.vec_id <> p.vec_id WHERE p.vec_id < 8),
         |r AS (SELECT probe_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM j)
         |SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, rank, cos
         |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    "q37_ivf_topk" -> q37Oracle,
    "q308_ivf_incremental" -> q308Oracle,
    "q312_pq_incremental" -> q312Oracle,
    "q105_sem_dedup" -> q105Oracle,
    "q71_pq_topk" -> q71Oracle,
    "q212_ivf_adc" -> q212Oracle,
    "q95_similarity_pagerank" -> q95Oracle,
    "q26_lsh_cosine" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc
         |SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b, cos
         |FROM sc WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin,
    "q84_modality_coverage" ->
      """SELECT coalesce(d.lang, '<no_doc>') AS lang,
        |  CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 'both'
        |       WHEN d.doc_id IS NOT NULL THEN 'text_only'
        |       ELSE 'embedding_only' END AS coverage,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1, 2 ORDER BY lang, coverage""".stripMargin,
    "q83_cluster_diagnostics" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS INTEGER) AS label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
         |m AS (SELECT label, pos,
         |    CAST(SUM(CAST(floor(val * 4294967296e0) AS BIGINT)) AS DOUBLE)
         |      / (COUNT(*) * 4294967296e0) AS mean
         |  FROM (SELECT label, t.i AS pos, v[t.i] AS val
         |    FROM n CROSS JOIN generate_series(1, $dim) t(i))
         |  GROUP BY label, pos),
         |c AS (SELECT label, cv,
         |    sqrt(list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)) AS cn
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM m GROUP BY label)),
         |sc AS (SELECT n.label,
         |    list_reduce(list_transform(generate_series(1, $dim), i -> n.v[i] * c.cv[i]), (a, b) -> a + b) / (n.nrm * c.cn) AS cos
         |  FROM n JOIN c ON n.label = c.label)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(CAST(floor(cos * 1e9) AS BIGINT)) AS DOUBLE) / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_cos,
         |  MIN(cos) AS min_cos
         |FROM sc GROUP BY label ORDER BY label""".stripMargin,
    "q80_knn_join" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b, cos FROM sc WHERE cos >= 0.35),
         |sym AS (SELECT vec_a AS v, vec_b AS n, cos FROM pr
         |  UNION ALL SELECT vec_b AS v, vec_a AS n, cos FROM pr),
         |r AS (SELECT v, n, cos,
         |    CAST(row_number() OVER (PARTITION BY v ORDER BY cos DESC, n ASC) AS INTEGER) AS rank
         |  FROM sym)
         |SELECT CAST(v AS BIGINT) AS vec_id, CAST(n AS BIGINT) AS neighbor_id, rank, cos
         |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    "q40_embedding_dedup" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |victims AS (SELECT DISTINCT vec_b AS vec_id FROM sc WHERE cos >= 0.35)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_kept
         |FROM embeddings e
         |WHERE NOT EXISTS (SELECT 1 FROM victims w WHERE w.vec_id = e.vec_id)
         |GROUP BY label ORDER BY label""".stripMargin,
    // identical LSH candidate construction + label joins; the rank
    // window expresses the same total (cos DESC, id ASC) order
    "q229_triplet_mining" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b, cos FROM sc WHERE cos >= 0.35),
         |sym AS (SELECT vec_a AS v, vec_b AS n, cos FROM pr
         |  UNION ALL SELECT vec_b AS v, vec_a AS n, cos FROM pr),
         |lb AS (SELECT vec_id, CAST(label AS INTEGER) AS lbl FROM embeddings),
         |x AS (SELECT sym.v, sym.n, sym.cos, a.lbl AS v_lbl,
         |    CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END AS is_cross
         |  FROM sym JOIN lb a ON a.vec_id = sym.v
         |  JOIN lb b ON b.vec_id = sym.n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY v, is_cross
         |    ORDER BY cos DESC, n ASC) AS rk FROM x),
         |p AS (SELECT v, v_lbl,
         |    MAX(CASE WHEN is_cross = 0 THEN n END) AS pos_id,
         |    MAX(CASE WHEN is_cross = 0 THEN cos END) AS pos_cos,
         |    MAX(CASE WHEN is_cross = 1 THEN n END) AS neg_id,
         |    MAX(CASE WHEN is_cross = 1 THEN cos END) AS neg_cos
         |  FROM r WHERE rk = 1 GROUP BY v, v_lbl)
         |SELECT CAST(v AS BIGINT) AS anchor_id, v_lbl AS label,
         |  CAST(pos_id AS BIGINT) AS pos_id, pos_cos,
         |  CAST(neg_id AS BIGINT) AS neg_id, neg_cos,
         |  CAST(floor((pos_cos - neg_cos) * 1e6) AS BIGINT) AS margin_e6,
         |  CASE WHEN neg_cos >= pos_cos THEN 'hard' ELSE 'semi_hard' END AS kind
         |FROM p WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
         |ORDER BY anchor_id""".stripMargin,
    "q194_hard_negatives" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b, cos FROM sc WHERE cos >= 0.35),
         |sym AS (SELECT vec_a AS v, vec_b AS n, cos FROM pr
         |  UNION ALL SELECT vec_b AS v, vec_a AS n, cos FROM pr),
         |lb AS (SELECT vec_id, CAST(label AS INTEGER) AS lbl FROM embeddings),
         |x AS (SELECT sym.v, sym.n, sym.cos, a.lbl AS v_lbl, b.lbl AS n_lbl,
         |    row_number() OVER (PARTITION BY sym.v
         |      ORDER BY sym.cos DESC, sym.n ASC) AS rank
         |  FROM sym JOIN lb a ON a.vec_id = sym.v
         |  JOIN lb b ON b.vec_id = sym.n
         |  WHERE a.lbl <> b.lbl)
         |SELECT CAST(v AS BIGINT) AS vec_id, v_lbl AS label,
         |  CAST(n AS BIGINT) AS hard_negative_id, n_lbl AS neg_label, cos
         |FROM x WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    // q50's recursive component closure + the longest-text argmax per
    // multi-member component (ties to the smallest doc_id)
    "q195_cluster_reps" ->
      s"""WITH RECURSIVE $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
         |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM pr),
         |reach(v, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v),
         |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v),
         |q AS (SELECT c.cluster_id, c.doc_id, length(d.text) AS nc,
         |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY length(d.text) DESC, c.doc_id ASC) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
         |  CAST(doc_id AS BIGINT) AS rep_doc_id,
         |  CAST(nc AS BIGINT) AS rep_n_chars,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM q WHERE rn = 1 AND n_members >= 2
         |ORDER BY cluster_id""".stripMargin,
    // identical e6 quantization, identical 256-cell grid arithmetic
    // (nonneg operands, so // == div), identical integer CDFs and sup
    "q204_embedding_drift" ->
      s"""WITH $oracleNormed,
         |b AS (SELECT d.source, CAST(round(n.nrm * 1000000) AS BIGINT) AS nq
         |  FROM n JOIN documents d ON d.doc_id = n.vec_id),
         |g AS (SELECT MIN(nq) AS lo, MAX(nq) AS hi, COUNT(*) AS nall FROM b),
         |cells AS (SELECT source,
         |    (nq - (SELECT lo FROM g)) * 256
         |      // GREATEST(1, (SELECT hi FROM g) - (SELECT lo FROM g) + 1)
         |      AS vb,
         |    COUNT(*) AS c
         |  FROM b GROUP BY 1, 2),
         |gcx AS (SELECT vb, SUM(c) AS gc FROM cells GROUP BY vb),
         |grid AS (SELECT s.source, t.i AS vb
         |  FROM (SELECT DISTINCT source FROM cells) s,
         |    unnest(generate_series(0, 255)) AS t(i)),
         |cdf AS (SELECT grid.source, grid.vb,
         |    SUM(COALESCE(cells.c, 0)) OVER w AS cums,
         |    SUM(COALESCE(gcx.gc, 0)) OVER w AS cumg,
         |    SUM(COALESCE(cells.c, 0)) OVER (PARTITION BY grid.source) AS ns
         |  FROM grid
         |  LEFT JOIN cells ON cells.source = grid.source AND cells.vb = grid.vb
         |  LEFT JOIN gcx ON gcx.vb = grid.vb
         |  WINDOW w AS (PARTITION BY grid.source ORDER BY grid.vb
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |dd AS (SELECT source, ns, (SELECT nall FROM g) - ns AS nr,
         |    ABS(cums * ((SELECT nall FROM g) - ns) - (cumg - cums) * ns)
         |      AS dnum
         |  FROM cdf)
         |SELECT source, CAST(MIN(ns) AS BIGINT) AS n_source,
         |  CAST(MIN(nr) AS BIGINT) AS n_rest,
         |  CAST(MAX(dnum) AS BIGINT) AS d_num,
         |  CAST(MAX(dnum) AS DOUBLE) / CAST(MIN(ns) * MIN(nr) AS DOUBLE)
         |    AS ks
         |FROM dd GROUP BY source ORDER BY source""".stripMargin,
    // identical candidate frame and label joins; the majority filter
    // and share division are exact/mirrored
    "q201_label_noise" ->
      s"""WITH $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
         |sym AS (SELECT vec_a AS v, vec_b AS n FROM pr
         |  UNION ALL SELECT vec_b AS v, vec_a AS n FROM pr),
         |lb AS (SELECT vec_id, CAST(label AS INTEGER) AS lbl FROM embeddings),
         |g AS (SELECT sym.v, a.lbl AS v_lbl, COUNT(*) AS n_neighbors,
         |    SUM(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END) AS n_cross
         |  FROM sym JOIN lb a ON a.vec_id = sym.v
         |  JOIN lb b ON b.vec_id = sym.n
         |  GROUP BY sym.v, a.lbl)
         |SELECT CAST(v AS BIGINT) AS vec_id, v_lbl AS label,
         |  CAST(n_neighbors AS BIGINT) AS n_neighbors,
         |  CAST(n_cross AS BIGINT) AS n_cross,
         |  CAST(FLOOR(CAST(n_cross AS DOUBLE) / CAST(n_neighbors AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS cross_share_e6
         |FROM g WHERE 2 * n_cross > n_neighbors ORDER BY vec_id""".stripMargin,
    // q195's component closure + rep selection, LEFT-joined back over
    // all documents; identical mirrored drop-share division
    "q199_source_dedup_scorecard" ->
      s"""WITH RECURSIVE $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
         |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM pr),
         |reach(v, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v),
         |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v),
         |sized AS (SELECT doc_id, cluster_id,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members FROM comp),
         |mult AS (SELECT doc_id, cluster_id FROM sized WHERE n_members >= 2),
         |q AS (SELECT m.cluster_id, m.doc_id,
         |    row_number() OVER (PARTITION BY m.cluster_id
         |      ORDER BY length(d.text) DESC, m.doc_id ASC) AS rn
         |  FROM mult m JOIN documents d ON d.doc_id = m.doc_id),
         |fl AS (SELECT doc_id, CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_rep
         |  FROM q)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clustered,
         |  CAST(SUM(CASE WHEN fl.is_rep = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(FLOOR(CAST(SUM(CASE WHEN fl.is_rep = 0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000.0)
         |    AS BIGINT) AS drop_share_e6
         |FROM documents d LEFT JOIN fl ON fl.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY source""".stripMargin,
    // q329: the same pair graph walked to radius 6 from the benchmark
    // seeds — the recursive CTE caps at hop < 6, MIN(hop) per vertex is
    // the BFS distance, −1 marks vertices outside the radius
    "q329_taint_radius" ->
      s"""WITH RECURSIVE $oracleNormed,
         |$oraclePairSc,
         |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
         |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM pr),
         |bfs(v, hop) AS (
         |  SELECT vec_id, 0 FROM embeddings WHERE vec_id % 37 = 0
         |  UNION
         |  SELECT e.dst, b.hop + 1 FROM bfs b JOIN edges e ON e.src = b.v
         |  WHERE b.hop < 6),
         |dist AS (SELECT v, MIN(hop) AS hop FROM bfs GROUP BY v)
         |SELECT CAST(COALESCE(d.hop, -1) AS INTEGER) AS hop,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(MIN(e.vec_id) AS BIGINT) AS min_vec,
         |  CAST(MAX(e.vec_id) AS BIGINT) AS max_vec
         |FROM embeddings e LEFT JOIN dist d ON d.v = e.vec_id
         |GROUP BY 1 ORDER BY hop""".stripMargin,
    // q50: transitive closure of the undirected pair graph via a recursive
    // CTE — reach(v) accumulates every label reachable from v, min(reach)
    // is the component minimum, exactly the label-propagation fixpoint.
    "q50_cc_clusters" ->
      s"""WITH RECURSIVE $ccCompCtes
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // the q50 component chain + a single global rank (fine in the
    // oracle engine) + the identical Gini rank-sum arithmetic
    "q266_dup_concentration" ->
      s"""WITH RECURSIVE $ccCompCtes,
         |cs AS (SELECT cluster_id AS cid, CAST(COUNT(*) AS BIGINT) AS m
         |  FROM comp GROUP BY cluster_id),
         |rk AS (SELECT cid, m,
         |    row_number() OVER (ORDER BY m, cid) AS rank FROM cs),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(m) AS BIGINT) AS s0,
         |    CAST(SUM(rank * m) AS BIGINT) AS s1,
         |    CAST(MAX(m) AS BIGINT) AS mx FROM rk)
         |SELECT n AS n_clusters, s0 AS n_docs_clustered, mx AS max_cluster,
         |  CAST(FLOOR(CAST(2 * s1 - (n + 1) * s0 AS DOUBLE)
         |    / CAST(n * s0 AS DOUBLE) * 1000000.0) AS BIGINT) AS gini_e6
         |FROM g""".stripMargin,
  )

  /** The q50 recursive component chain ending at `comp(v, cluster_id)`
    * — shared by the q50 cluster listing and q266's concentration
    * statistic. */
  private[graft] lazy val ccCompCtes: String =
    s"""$oracleNormed,
       |$oraclePairSc,
       |pr AS (SELECT vec_a, vec_b FROM sc WHERE cos >= 0.35),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
       |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM pr),
       |reach(v, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v),
       |comp AS (SELECT v, MIN(lbl) AS cluster_id FROM reach GROUP BY v)""".stripMargin
}
