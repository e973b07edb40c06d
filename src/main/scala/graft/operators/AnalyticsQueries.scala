package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 third-wave analytics operators: the relational corners a user
  * of the reference's analytics layer (`/root/reference/sql/
  * aggregations.sql`, `sql/make_view.sql`) reaches next once the
  * pivot/rollup/window family exists, plus two graph/sampling operators a
  * training-data pipeline needs at corpus scale.
  *
  * Cross-engine determinism contract (results are hash-compared against
  * DuckDB bit-for-bit): cross-row sums stay on integers; doubles appear
  * only in per-row arithmetic derived from exact integer ranks/counts or
  * in correctly-rounded single ops (+, /) on values both engines read
  * identically from parquet. Arg-selection ties are pinned by a total
  * order (the q129 rule). Every window either partitions by a scaling
  * entity key or consumes bounded summary rows (StragglerGuardSpec
  * sweeps these plans like every other registration).
  */
object AnalyticsQueries {

  /** The STANDING co-purchase graph index shared by the whole graph
    * family (q141 triangles, q147 clustering coefficient, q158/q268
    * k-core): `edges` = the canonical pa < pb distinct part-pair list
    * from within-order fanout over l_orderkey < 15000, and `oriented` =
    * the same edges directed from their (degree, id)-smaller endpoint
    * (q141's orientation, byte-identical derivation in q147). Durable
    * through the Layouts registry keyed on the lineitem fingerprint —
    * the ndpairs/fuzzybase standing-index idiom: all four queries
    * re-derived this identical frame per invocation (round-16 measured
    * ~0.7-1.2 s each at sf0.1). The declared operators — wedge joins,
    * corner explodes, peel passes — still run per invocation against
    * these leaf scans; SPARK_GRAFT_WAREHOUSE_DIR at an empty dir
    * measures the one shared build (the round-16 §2 contract). */
  private[graft] def copurchaseGraphBase(s: SparkSession, dir: String): String =
    graft.etl.Layouts.stage(s, "copgraph", "v1;ok<15000", dir,
      Seq("lineitem")) { base =>
      val s2 = s
      import s2.implicits._
      val op = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 15000)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      op.as("a").join(op.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
        .select($"a.p".as("pa"), $"b.p".as("pb")).distinct()
        .write.mode("overwrite").parquet(s"$base/edges")
      val edges = s.read.parquet(s"$base/edges")
      val deg = edges.select(col("pa").as("node"))
        .unionAll(edges.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      edges
        .join(deg.withColumnRenamed("node", "pa").withColumnRenamed("d", "da"), "pa")
        .join(deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db"), "pb")
        .select(
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
            .otherwise(col("pb")).as("src"),
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
            .otherwise(col("pa")).as("dst"))
        .write.mode("overwrite").parquet(s"$base/oriented")
      base
    }

  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${copurchaseGraphBase(s, dir)}/edges")

  private[graft] def copurchaseOriented(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${copurchaseGraphBase(s, dir)}/oriented")

  // ---------------------------------------------------------------- q137

  /** UNPIVOT — the inverse of q44's pivot, closing the reshape pair. The
    * wide per-day matrix (one column per event type, q44's exact shape)
    * melts back to tall (d, event_type, cnt) rows via `stack`, the
    * Generate-based unpivot Spark plans WITHOUT any extra shuffle: the
    * melt is a projection-time row expansion over the already-aggregated
    * wide rows (one Exchange total, for the groupBy; the explicit zeros
    * from the pivot's coalesce survive the melt, so the tall result is a
    * dense day x type grid exactly like the wide one).
    *
    * Scale: the wide input has one row per day — the stack output is
    * |days| x 5 rows, still summary-sized. Melting a 100 TB fact table
    * would instead stack BEFORE aggregating; either way stack itself adds
    * no exchange. */
  def q137Unpivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "error", "signup")
    val wide = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("d"))
      .pivot("event_type", types)
      .agg(count(lit(1)).cast("bigint"))
    val stackArgs = types.map(t => s"'$t', coalesce($t, 0L)").mkString(", ")
    wide.select(col("d"),
        expr(s"stack(${types.size}, $stackArgs) AS (event_type, cnt)"))
      .select(col("d"), col("event_type"), col("cnt"))
      .orderBy("d", "event_type")
  }

  // ---------------------------------------------------------------- q138

  /** EXACT per-group median + mode, in the form that survives a 100 TB
    * fact table. Spark's native `median`/`percentile` is a
    * TypedImperativeAggregate that BUFFERS every value of a group in one
    * task — with a bounded enum group key (event_type) that is the q116
    * straggler in aggregate clothing. This is the two-pass
    * histogram-refinement selection instead:
    *
    *   1. per-(type, floor(value)) bucket counts — one shuffle on a
    *      scaling key, map-side combinable;
    *   2. a rank-offset window over the per-type bucket SUMMARIES finds
    *      the <= 2 buckets per type containing the median ranks
    *      rlo = (n+1) div 2 and rhi = n div 2 + 1;
    *   3. only those buckets' rows are re-scanned (broadcast semi-join on
    *      the bounded target-bucket set), ranked intra-bucket, and the
    *      two rank values averaged: median = (v_lo + v_hi) / 2 — the
    *      standard interpolation at q=0.5 (odd n: v_lo = v_hi).
    *
    * The mode rides the same bucket-count pass one level finer: exact
    * per-(type, value) counts, then the smallest value among the
    * max-count ties — deterministic where both engines' native `mode()`
    * is tie-arbitrary (the q129 rule). GroupMedianSpec proves the
    * assembled median equals Spark's native percentile(0.5) and the
    * two-phase selection equals a brute-force sort. The bucket sum is
    * exact integer math; (v_lo + v_hi) / 2 is two correctly-rounded
    * double ops, bit-identical across engines. */
  def q138GroupMedian(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(col("event_type"), col("value"))
      .withColumn("vb", expr("cast(floor(value) as bigint)"))
    val wOff = Window.partitionBy("event_type").orderBy("vb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val summaries = base.groupBy("event_type", "vb")
      .agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum("bc").over(wOff), lit(0L)))
      .withColumn("n", sum("bc").over(Window.partitionBy("event_type")))
    // buckets containing the median ranks: <= 2 rows per type, broadcast
    val targets = summaries
      .withColumn("rlo", expr("(n + 1) div 2"))
      .withColumn("rhi", expr("n div 2 + 1"))
      .filter((col("off") < col("rlo") && col("rlo") <= col("off") + col("bc")) ||
              (col("off") < col("rhi") && col("rhi") <= col("off") + col("bc")))
      .select("event_type", "vb", "off", "n", "rlo", "rhi")
    val wIntra = Window.partitionBy("event_type", "vb").orderBy("value")
    val medians = base.join(broadcast(targets), Seq("event_type", "vb"))
      .withColumn("rn", col("off") + row_number().over(wIntra))
      .filter(col("rn") === col("rlo") || col("rn") === col("rhi"))
      .groupBy("event_type")
      .agg(first("n").as("n"),
        ((min(when(col("rn") === col("rlo"), col("value"))) +
          min(when(col("rn") === col("rhi"), col("value")))) / 2.0).as("median"))
    val counts = Tables.events(s, dir).groupBy("event_type", "value")
      .agg(count(lit(1)).as("cnt"))
    val maxc = counts.groupBy("event_type").agg(max("cnt").as("mode_count"))
    val modes = counts
      .join(broadcast(maxc), Seq("event_type"))
      .filter(col("cnt") === col("mode_count"))
      .groupBy("event_type")
      .agg(min("value").as("mode_value"), first("mode_count").as("mode_count"))
    medians.join(modes, Seq("event_type"))
      .select(col("event_type"), col("n").cast("bigint").as("n"),
        col("median"), col("mode_value"), col("mode_count").cast("bigint").as("mode_count"))
      .orderBy("event_type")
  }

  /** Test-only baseline for GroupMedianSpec: Spark's native buffering
    * percentile — correct, but the single-task-per-group shape q138
    * exists to avoid. */
  private[graft] def groupMedianNative(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("median"))

  // ---------------------------------------------------------------- q139

  /** LATERAL explode with OUTER semantics — the row-preserving
    * table-function join (SparkSQL `LATERAL VIEW OUTER explode`,
    * `explode_outer` in the DataFrame API; reference analog: the
    * station-list expansion in `ingest_bike_data.py` keeps stations with
    * no docks by emitting them anyway). Documents are split into their
    * long tokens (> 6 chars — possibly none); OUTER emits a null row
    * for empty arrays so the per-document aggregate keeps zero-count
    * documents, which an inner explode would silently drop. That
    * inner-vs-outer row-count difference is exactly what the oracle's
    * LEFT JOIN + COUNT(col) checks.
    *
    * Scale: Generate is a narrow per-row expansion (no shuffle); the one
    * exchange is the per-doc_id re-aggregation on a scaling key. */
  def q139LateralExplode(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode_outer(expr("filter(split(text, ' '), x -> length(x) > 6)"))
          .as("tok"))
      .groupBy("doc_id")
      .agg(count(col("tok")).cast("bigint").as("n_long"),
        countDistinct(col("tok")).cast("bigint").as("n_long_distinct"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q140

  /** Weighted systematic sampling — the deterministic, integer-exact way
    * to draw a size-k weight-proportional sample per stratum without any
    * per-stratum global sort. Each language's documents are laid on a
    * line of cumulative n_chars weight (the q68 two-phase prefix sum:
    * per-(lang, id-bucket) subtotals, offsets from a window over bucket
    * SUMMARIES, intra-bucket running sums); k equally-spaced target
    * points t_j = (j * W) div k, j in [0, k), each select the document
    * whose weight interval [cum - w, cum) contains them. A document's
    * multiplicity is the count of points in its interval:
    *
    *   n_picks = clamp(ceil(cum * k / W) - ceil((cum - w) * k / W))
    *
    * — all BIGINT arithmetic (ceil(a/b) = (a + b - 1) div b), so both
    * engines compute the identical sample; no ln/pow in sight (the
    * Efraimidis-Spirakis exponential-sort key needs ln, which is not
    * correctly rounded and can diverge across engines — systematic
    * sampling gives weight-proportional inclusion with hash-free exact
    * math). Exactly k picks per language by construction
    * (WeightedSampleSpec also proves per-doc multiplicity is within 1 of
    * the ideal w*k/W share).
    *
    * Scale: two shuffles (bucket subtotals, re-join), the only
    * single-partition window consumes per-bucket summary rows. This is
    * the epoch-sampling shape for a quality-weighted training mix. */
  def q140WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val bucketWidth = 64
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars").as("w"))
      .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
    val offsets = docs.groupBy("lang", "bucket")
      .agg(sum("w").as("bw"))
      .withColumn("off", coalesce(sum("bw").over(
        Window.partitionBy("lang").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total_w", sum("bw").over(Window.partitionBy("lang")))
      .select(col("lang"), col("bucket"), col("off"), col("total_w"))
    docs.join(offsets, Seq("lang", "bucket"))
      .withColumn("cum", col("off") + sum("w").over(
        Window.partitionBy("lang", "bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_picks",
        expr(s"greatest(0L, least((cum * $k + total_w - 1) div total_w, $k) - " +
          s"least(((cum - w) * $k + total_w - 1) div total_w, $k))"))
      .filter(col("n_picks") > 0)
      .select(col("lang"), col("doc_id"), col("w").cast("bigint").as("w"),
        col("n_picks").cast("bigint").as("n_picks"))
      .orderBy("lang", "doc_id")
  }

  // ---------------------------------------------------------------- q141

  /** Triangle counting over the co-purchase graph, degree-ordered. The
    * graph: parts are nodes, an edge joins two parts that co-occur in at
    * least one order (q132's bounded-fanout candidate generator — pairs
    * come only from within an order's ~4-7 lineitems, never from a
    * global cross join). The count uses the classic oriented-wedge
    * construction: orient every undirected edge from its (degree, id)-
    * smaller endpoint to the larger, form wedges by self-joining
    * oriented edges on their source, and close each wedge against the
    * oriented edge set — every triangle is counted exactly once (from
    * its minimum-degree vertex) and the per-vertex wedge fanout is
    * bounded by the oriented out-degree <= sqrt(2|E|) regardless of how
    * skewed the raw degree distribution is. That orientation bound is
    * THE reason this survives hub nodes at 100 TB where a naive
    * neighbor self-join melts on the highest-degree part.
    * TriangleSpec proves oriented == canonical a<b<c brute force.
    *
    * All joins are equi-joins on scaling keys (order key, node id,
    * wedge endpoints); output is the bounded (nodes, edges, triangles,
    * max out-degree) summary row. */
  def q141TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val s2 = s
    import s2.implicits._
    // the oriented edge list feeds THREE consumers (wedge sources, wedge
    // closures, the degree summary) — every consumer reads a leaf scan of
    // the standing co-purchase graph index (round-16: the identical
    // per-invocation staging build moved to [[copurchaseGraphBase]],
    // shared with q147/q158/q268)
    val edges = copurchaseEdges(s, dir)
    val deg = edges.select(col("pa").as("node"))
      .unionAll(edges.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val oriented = copurchaseOriented(s, dir)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        $"e1.src" === $"e2.src" && $"e1.dst" < $"e2.dst")
      .select($"e1.dst".as("v"), $"e2.dst".as("w"))
    // a wedge closes iff (v, w) is an edge in EITHER orientation: the
    // orientation order of the closing edge is independent of the wedge's
    val closures = oriented.select(col("src").as("v"), col("dst").as("w"))
      .unionAll(oriented.select(col("dst").as("v"), col("src").as("w")))
    val nTri = wedges.join(closures, Seq("v", "w"))
      .agg(count(lit(1)).cast("bigint").as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).cast("bigint").as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).cast("bigint").as("n_edges"))
    val maxOut = oriented.groupBy("src").agg(count(lit(1)).as("c"))
      .agg(max("c").cast("bigint").as("max_out_degree"))
    // four single-row aggregates — bounded cross joins by construction
    nNodes.crossJoin(nEdges).crossJoin(nTri).crossJoin(maxOut)
      .select("n_nodes", "n_edges", "n_triangles", "max_out_degree")
  }

  /** Test-only brute baseline for TriangleSpec: canonical a<b<c 3-way
    * join (each triangle once by construction, no orientation). */
  private[graft] def triangleBrute(s: SparkSession, dir: String): Long = {
    val s2 = s
    import s2.implicits._
    val op = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 15000)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = op.as("a").join(op.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .select($"a.p".as("pa"), $"b.p".as("pb")).distinct()
    e.as("e1").join(e.as("e2"), $"e1.pb" === $"e2.pa")
      .join(e.as("e3"), $"e1.pa" === $"e3.pa" && $"e2.pb" === $"e3.pb")
      .count()
  }

  // ---------------------------------------------------------------- q147

  /** Per-node local clustering coefficient over the co-purchase graph —
    * q141's global triangle count refined to the node level: coef(v) =
    * 2 * triangles(v) / (deg(v) * (deg(v) - 1)), the fraction of v's
    * neighbor pairs that are themselves connected (the community-density
    * diagnostic next to q95's PageRank centrality). Top-20 under the
    * total (coef DESC, node ASC) order.
    *
    * Same degree-oriented wedge enumeration as q141 (each triangle found
    * exactly once, wedge fan-out bounded by ~sqrt(|E|) via orientation);
    * the one addition is the 3-corner explode — 3 rows per triangle,
    * then a per-node count on a scaling key. The coefficient itself is
    * ONE double division of two exact BIGINTs (correctly rounded, so the
    * sort key and value are engine-identical); staged oriented edges
    * feed both the wedge self-join and the closure probe as leaf scans
    * (the q141/q86 staging discipline). */
  def q147ClusteringCoef(s: SparkSession, dir: String): DataFrame =
    q147ClusteringCoefAll(s, dir).orderBy(desc("coef"), asc("node")).limit(20)

  /** The full per-node frame (every node of degree >= 2) — q147 is its
    * top-20; TemporalSpec checks the 3x-triangle-sum identity on it. */
  private[graft] def q147ClusteringCoefAll(s: SparkSession, dir: String): DataFrame = {
    val s2 = s
    import s2.implicits._
    // round-16: edges + orientation are the standing co-purchase graph
    // index (byte-identical derivation shared with q141/q158/q268)
    val edges = copurchaseEdges(s, dir)
    val deg = edges.select(col("pa").as("node"))
      .unionAll(edges.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val oriented = copurchaseOriented(s, dir)
    // keep the wedge apex: the closed wedge (u; v, w) IS the triangle,
    // enumerated once, so its corner explode counts each node's
    // membership exactly once per triangle
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        $"e1.src" === $"e2.src" && $"e1.dst" < $"e2.dst")
      .select($"e1.src".as("u"), $"e1.dst".as("v"), $"e2.dst".as("w"))
    val closures = oriented.select(col("src").as("v"), col("dst").as("w"))
      .unionAll(oriented.select(col("dst").as("v"), col("src").as("w")))
    val triCnt = wedges.join(closures, Seq("v", "w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(triCnt, Seq("node"), "left")
      .filter(col("d") >= 2)
      .select(col("node"), col("d").cast("bigint").as("degree"),
        coalesce(col("tri"), lit(0L)).cast("bigint").as("triangles"))
      .withColumn("coef",
        (col("triangles") * lit(2L)).cast("double") /
          (col("degree") * (col("degree") - lit(1L))).cast("double"))
  }

  // ---------------------------------------------------------------- q158

  /** k-CORE decomposition (k = 4) of the co-purchase graph by iterative
    * peeling: repeatedly delete nodes of degree < k until none remain —
    * the graph-family fixpoint next to q50's connected components and
    * q95's PageRank, and the standard "dense interaction core"
    * extraction before community analysis. Registered form: 6 UNROLLED
    * peel passes (the q95 discipline — KcoreSpec proves pass 6 is
    * already the fixpoint on the fixture, so the unroll IS the
    * converged answer and mirrors the oracle CTE chain exactly).
    * Output: surviving nodes with their core degrees.
    *
    * Scale: each pass is one degree aggregation on the node key plus a
    * semi-join of edges against surviving nodes — O(E) per pass on
    * scaling keys, pass count bounded by the degeneracy ordering depth.
    * Each pass's surviving edge set stages through parquet (the
    * pagerankConverged rotation: plans stay leaf-scans, and on a
    * cluster the staging root is the executor-loss checkpoint). */
  def q158Kcore(s: SparkSession, dir: String): DataFrame = {
    val kMin = 4
    val passes = 6
    val stage = graft.Staging.fresh("kcore")
    // round-16: the initial edge list is the standing co-purchase graph
    // index (copurchaseGraphBase); the 6 peel passes — the declared
    // operator — still run per invocation, each staging its survivors
    def passInput(r: Int): DataFrame =
      if (r == 1) copurchaseEdges(s, dir)
      else s.read.parquet(s"$stage/e${r - 1}")
    for (r <- 1 to passes) {
      val e = passInput(r)
      val deg = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= kMin).select("node")
      e.join(keep.withColumnRenamed("node", "pa"), Seq("pa"), "left_semi")
        .join(keep.withColumnRenamed("node", "pb"), Seq("pb"), "left_semi")
        .select("pa", "pb")
        .write.mode("overwrite").parquet(s"$stage/e$r")
    }
    val core = s.read.parquet(s"$stage/e$passes")
    core.select(col("pa").as("node"))
      .unionAll(core.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("bigint").as("core_degree"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q268

  /** Observation-driven k-core peel to CONVERGENCE over a staged edge
    * list (parquet at `edges0Dir`, long columns pa/pb, canonical
    * pa < pb, distinct) — the convergence twin q158's fixed 6-pass
    * unroll lacks: on a graph whose degeneracy ordering is deeper than
    * the unroll, the unroll returns a PARTIALLY peeled edge set and (as
    * long as an oracle mirrors the same depth) no hash gate can notice;
    * this loop peels until the surviving edge count is STABLE, so its
    * answer is the fixpoint at any depth (KcoreSpec constructs a graph
    * the 6-pass unroll does not finish and proves this loop does).
    *
    * Discipline is propagateLabels/pagerankConverged's staged rotation:
    * each pass reads the previous pass's parquet leaf and writes the
    * next (plans stay leaf-scans — no lineage growth, and the staging
    * root is the executor-loss checkpoint on a cluster); the stopping
    * count rides the pass's WRITE job as a named Observation — one job
    * per pass, never a write plus a separate count. Edge counts
    * strictly decrease on every non-fixpoint pass (a peeled node takes
    * at least one edge with it), so `after == before` IS the fixpoint
    * test and the loop terminates in at most |V| passes; an emptied
    * graph stabilizes at 0 the same way. Two dirs rotate: pass N
    * overwrites pass N-2's dir, which nothing reads any more. */
  private[graft] def kcoreConverged(s: SparkSession, edges0Dir: String,
                                    kMin: Int, stage: String): DataFrame = {
    var curDir = edges0Dir
    var prevCount = -1L
    var pass = 0
    var converged = false
    while (!converged) {
      pass += 1
      val e = s.read.parquet(curDir)
      val deg = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= kMin).select("node")
      val out = s"$stage/c${pass % 2 + 1}"
      val obs = org.apache.spark.sql.Observation()
      e.join(keep.withColumnRenamed("node", "pa"), Seq("pa"), "left_semi")
        .join(keep.withColumnRenamed("node", "pb"), Seq("pb"), "left_semi")
        .select("pa", "pb")
        .observe(obs, count(lit(1)).as("edges"))
        .write.mode("overwrite").parquet(out)
      val after = obs.get("edges").asInstanceOf[Long]
      converged = after == prevCount
      prevCount = after
      curDir = out
    }
    s.read.parquet(curDir)
  }

  /** q268 — k-CORE to CONVERGENCE (k = 4): the same co-purchase graph
    * and peel rule as q158, but Observation-driven to the fixpoint
    * instead of a fixed unroll ([[kcoreConverged]]) — and checked
    * against a DuckDB RECURSIVE-CTE oracle that also peels to its own
    * fixpoint, so the hash gate holds at ANY degeneracy depth (q158's
    * gate holds only while the fixture converges within its unroll).
    * On the fixture both agree (KcoreSpec proves loop == unroll at
    * depth 6); q158 stays registered as the mirrored-unroll form. */
  def q268KcoreConverged(s: SparkSession, dir: String): DataFrame = {
    val stage = graft.Staging.fresh("kcorec")
    // round-16: pass 0 reads the standing co-purchase edge index; every
    // peel pass (the declared operator) runs per invocation
    val core = kcoreConverged(s,
      s"${copurchaseGraphBase(s, dir)}/edges", 4, stage)
    core.select(col("pa").as("node"))
      .unionAll(core.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("bigint").as("core_degree"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q142

  /** Calendar / interval arithmetic parity suite — the date dialect
    * pinned to the Spark ∩ DuckDB semantic intersection (the q127/q131
    * discipline applied to time): day difference, end-of-month-clamped
    * month addition (1996-01-31 + 1 month = Feb 29 in both), last_day,
    * ISO Monday week truncation, quarter truncation + extraction,
    * day-of-week aligned to Sunday=1 (DuckDB's dow is Sunday=0 — the
    * oracle adds 1; Spark's dayofweek is already 1-based), and timestamp
    * + fixed INTERVAL. Functions with engine-DIVERGENT semantics are
    * deliberately absent: months_between (Spark's 31-day fraction rule
    * has no DuckDB analog), week-of-year on years straddling ISO
    * boundaries via differing defaults, and dst-sensitive zone math (the
    * session is pinned UTC).
    *
    * Narrow per-row projection — no shuffle beyond the presentation
    * sort; every function is codegen'd (one WholeStageCodegen span over
    * scan + project). */
  def q142CalendarSuite(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .select(col("o_orderkey"),
        col("d"),
        datediff(col("d"), lit("1996-01-01").cast("date")).cast("int")
          .as("days_since_epoch96"),
        add_months(col("d"), 1).as("plus_month"),
        add_months(col("d"), 14).as("plus_14m"),
        last_day(col("d")).as("month_end"),
        date_trunc("week", col("d")).cast("date").as("week_start"),
        date_trunc("quarter", col("d")).cast("date").as("quarter_start"),
        quarter(col("d")).cast("int").as("q"),
        dayofweek(col("d")).cast("int").as("dow1"),
        date_format(col("d").cast("timestamp") + expr("INTERVAL 90 MINUTE"),
          "yyyy-MM-dd HH:mm:ss").as("plus_90min"))
      .orderBy("o_orderkey")

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_unpivot" -> (q137Unpivot _),
    "q138_group_median" -> (q138GroupMedian _),
    "q139_lateral_explode" -> (q139LateralExplode _),
    "q140_weighted_sample" -> (q140WeightedSample _),
    "q141_triangle_count" -> (q141TriangleCount _),
    "q142_calendar_suite" -> (q142CalendarSuite _),
    "q147_clustering_coef" -> (q147ClusteringCoef _),
    "q158_kcore" -> (q158Kcore _),
    "q268_kcore_converged" -> (q268KcoreConverged _),
  )

  /** Unrolled 6-pass peeling CTE chain mirroring [[q158Kcore]]. Every
    * CTE is MATERIALIZED: DuckDB inlines plain CTEs, and a chain where
    * pass r references pass r-1 three times would re-expand the base
    * scan 3^6 times (observed as a file-handle explosion). */
  private def q158Oracle: String = {
    val passes = (1 to 6).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
         |    SELECT pa AS node FROM e${r - 1}
         |    UNION ALL SELECT pb FROM e${r - 1}) x$r
         |  GROUP BY node),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE d >= 4),
         |e$r AS MATERIALIZED (SELECT pa, pb FROM e${r - 1}
         |  WHERE pa IN (SELECT node FROM k$r)
         |    AND pb IN (SELECT node FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey < 15000),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS pa, b.p AS pb
       |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |$passes
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM (SELECT pa AS node FROM e6 UNION ALL SELECT pb FROM e6) fin
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** q268: the recursive-CTE peel to DuckDB's OWN fixpoint — the oracle
    * twin of [[kcoreConverged]]'s Observation loop, depth-independent by
    * construction. Each recursive step re-derives degrees from the
    * previous iteration's edges inside a nested WITH (every inner CTE
    * MATERIALIZED — the q158 inlining lesson) and emits the kept edges
    * only while they SHRANK; at the fixpoint it emits nothing and the
    * recursion stops. One subtlety: if the core empties, the last
    * recorded iteration is the final non-empty edge set (the step that
    * found zero survivors emitted zero rows), so the outer query applies
    * ONE more peel to the max-iteration rows — identity at a true
    * fixpoint, exactly-empty in the emptied-core case. */
  private def q268Oracle: String =
    """WITH RECURSIVE op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
      |    l_partkey AS p FROM lineitem WHERE l_orderkey < 15000),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |peel AS (
      |  SELECT 0 AS it, pa, pb FROM e0
      |  UNION ALL
      |  SELECT * FROM (
      |    WITH cur AS MATERIALIZED (SELECT it, pa, pb FROM peel),
      |    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
      |        SELECT pa AS node FROM cur UNION ALL SELECT pb FROM cur) x
      |      GROUP BY node),
      |    kept AS MATERIALIZED (SELECT c.it, c.pa, c.pb FROM cur c
      |      WHERE c.pa IN (SELECT node FROM deg WHERE d >= 4)
      |        AND c.pb IN (SELECT node FROM deg WHERE d >= 4))
      |    SELECT k.it + 1 AS it, k.pa, k.pb FROM kept k
      |    WHERE (SELECT COUNT(*) FROM kept) < (SELECT COUNT(*) FROM cur)
      |  ) s
      |),
      |fin AS MATERIALIZED (SELECT pa, pb FROM peel
      |  WHERE it = (SELECT MAX(it) FROM peel)),
      |fdeg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
      |    SELECT pa AS node FROM fin UNION ALL SELECT pb FROM fin) x
      |  GROUP BY node),
      |core AS MATERIALIZED (SELECT pa, pb FROM fin
      |  WHERE pa IN (SELECT node FROM fdeg WHERE d >= 4)
      |    AND pb IN (SELECT node FROM fdeg WHERE d >= 4))
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
      |FROM (SELECT pa AS node FROM core UNION ALL SELECT pb FROM core) n
      |GROUP BY node ORDER BY node""".stripMargin

  val oracles: Map[String, String] = Map(
    "q268_kcore_converged" -> q268Oracle,
    // dense day x type grid: the pivot's explicit zeros survive the melt
    "q137_unpivot" ->
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
        |t AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
        |c AS (SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT d.d, t.event_type, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
        |FROM d CROSS JOIN t
        |LEFT JOIN c ON c.d = d.d AND c.event_type = t.event_type
        |ORDER BY d.d, t.event_type""".stripMargin,
    // the oracle replays the SAME selection arithmetic (rank values +
    // (v_lo+v_hi)/2), not DuckDB's median() — the interpolation formula
    // x1+(x2-x1)*f differs from (x1+x2)/2 in the last ulp
    "q138_group_median" ->
      """WITH b AS (SELECT event_type AS t, value AS v FROM events),
        |n AS (SELECT t, COUNT(*) AS n FROM b GROUP BY t),
        |r AS (SELECT t, v, row_number() OVER (PARTITION BY t ORDER BY v) AS rn FROM b),
        |med AS (SELECT r.t,
        |    (MIN(CASE WHEN rn = (n.n + 1) // 2 THEN v END) +
        |     MIN(CASE WHEN rn = n.n // 2 + 1 THEN v END)) / 2 AS median
        |  FROM r JOIN n ON n.t = r.t GROUP BY r.t),
        |c AS (SELECT t, v, COUNT(*) AS cnt FROM b GROUP BY t, v),
        |mx AS (SELECT t, MAX(cnt) AS mode_count FROM c GROUP BY t),
        |mo AS (SELECT c.t, MIN(c.v) AS mode_value, MAX(c.cnt) AS mode_count
        |  FROM c JOIN mx ON mx.t = c.t AND c.cnt = mx.mode_count GROUP BY c.t)
        |SELECT n.t AS event_type, CAST(n.n AS BIGINT) AS n, med.median,
        |  mo.mode_value, CAST(mo.mode_count AS BIGINT) AS mode_count
        |FROM n JOIN med ON med.t = n.t JOIN mo ON mo.t = n.t
        |ORDER BY event_type""".stripMargin,
    "q139_lateral_explode" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> length(x) > 6)) AS tok
        |  FROM documents WHERE doc_id < 100)
        |SELECT d.doc_id, CAST(COUNT(t.tok) AS BIGINT) AS n_long,
        |  CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS n_long_distinct
        |FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id
        |WHERE d.doc_id < 100
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // identical BIGINT interval arithmetic over a window prefix sum
    "q140_weighted_sample" ->
      """WITH d AS (SELECT lang, doc_id, n_chars AS w FROM documents),
        |c AS (SELECT lang, doc_id, w,
        |    SUM(w) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY lang) AS total_w
        |  FROM d)
        |SELECT lang, doc_id, CAST(w AS BIGINT) AS w,
        |  CAST(GREATEST(0, LEAST((cum * 16 + total_w - 1) // total_w, 16) -
        |    LEAST(((cum - w) * 16 + total_w - 1) // total_w, 16)) AS BIGINT) AS n_picks
        |FROM c
        |WHERE GREATEST(0, LEAST((cum * 16 + total_w - 1) // total_w, 16) -
        |    LEAST(((cum - w) * 16 + total_w - 1) // total_w, 16)) > 0
        |ORDER BY lang, doc_id""".stripMargin,
    // canonical a<b<c closure counts each triangle exactly once; the max
    // out-degree replays the (degree, id) orientation
    "q141_triangle_count" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_orderkey < 15000),
        |e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |nodes AS (SELECT pa AS node FROM e UNION SELECT pb FROM e),
        |deg AS (SELECT node, COUNT(*) AS d
        |  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
        |  GROUP BY node),
        |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
        |      THEN e.pa ELSE e.pb END AS src,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
        |      THEN e.pb ELSE e.pa END AS dst
        |  FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |   FROM e e1 JOIN e e2 ON e2.pa = e1.pb
        |     JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS n_triangles,
        |  (SELECT CAST(MAX(c) AS BIGINT) FROM
        |    (SELECT COUNT(*) AS c FROM o GROUP BY src)) AS max_out_degree""".stripMargin,
    "q142_calendar_suite" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderkey, d,
        |  CAST(date_diff('day', DATE '1996-01-01', d) AS INTEGER) AS days_since_epoch96,
        |  CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_month,
        |  CAST(d + INTERVAL 14 MONTH AS DATE) AS plus_14m,
        |  last_day(d) AS month_end,
        |  CAST(date_trunc('week', d) AS DATE) AS week_start,
        |  CAST(date_trunc('quarter', d) AS DATE) AS quarter_start,
        |  CAST(quarter(d) AS INTEGER) AS q,
        |  CAST(dayofweek(d) + 1 AS INTEGER) AS dow1,
        |  strftime(CAST(d AS TIMESTAMP) + INTERVAL 90 MINUTE,
        |    '%Y-%m-%d %H:%M:%S') AS plus_90min
        |FROM o ORDER BY o_orderkey""".stripMargin,
    // canonical a<b<c triangles, corners exploded once per triangle;
    // coef is ONE correctly-rounded division of exact BIGINTs
    "q147_clustering_coef" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_orderkey < 15000),
        |e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, COUNT(*) AS d
        |  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
        |  GROUP BY node),
        |tri3 AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1 JOIN e e2 ON e2.pa = e1.pb
        |    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |corners AS (SELECT UNNEST([a, b, c]) AS node FROM tri3),
        |tc AS (SELECT node, COUNT(*) AS tri FROM corners GROUP BY node)
        |SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(COALESCE(tc.tri, 0) AS BIGINT) AS triangles,
        |  CAST(COALESCE(tc.tri, 0) * 2 AS DOUBLE)
        |    / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS coef
        |FROM deg LEFT JOIN tc ON tc.node = deg.node
        |WHERE deg.d >= 2
        |ORDER BY coef DESC, deg.node LIMIT 20""".stripMargin,
    "q158_kcore" -> q158Oracle,
  )
}
