package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The layouts survive the JVM (round-9 registry, graft.etl.Layouts):
  * a "new session" — catalog entries dropped, exactly the state a fresh
  * JVM starts in (Layouts keeps no in-memory state, and no call site
  * memoizes around it); the durable files and manifest are what
  * persist — must serve the same queries by RE-ATTACHING the existing
  * layout, running ZERO rebuild jobs. The
  * no-rebuild proof is a byte-level snapshot of the layout dir (every
  * file's path, size, mtime): any write job would touch it. Staleness is
  * also proven: corrupting the recorded source fingerprint must force a
  * rebuild. */
class LayoutReattachSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private def snapshot(base: String): Set[(String, Long, Long)] = {
    val p = Paths.get(base)
    assert(Files.exists(p), s"layout base missing: $base")
    val stream = Files.walk(p)
    try stream.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toSet
    finally stream.close()
  }

  private def manifestLines(base: String): List[String] =
    Files.readAllLines(Paths.get(base, "_graft_manifest")).asScala.toList

  /** Simulate a fresh JVM's catalog: drop the tables the manifest names
    * (the durable files and manifest remain). */
  private def dropManifestTables(base: String): Unit =
    manifestLines(base).map(_.split("\t", -1)).collect {
      case Array("reg", table, _*) => table
    }.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("q85 fingerprint index re-attaches across sessions with zero rebuild jobs") {
    val r1 = SparkEntry.queries("q85_bucketed_dedup")(spark, sfDir).collect()
    val base = etl.Layouts.baseFor("fpidx", sfDir)
    assert(Files.exists(Paths.get(base, "_graft_manifest")),
      "the build must leave a manifest")
    val before = snapshot(base)

    dropManifestTables(base)
    assert(spark.catalog.listTables().collect()
      .forall(!_.name.startsWith("graft_fpidx_")), "catalog reset failed")

    val r2 = SparkEntry.queries("q85_bucketed_dedup")(spark, sfDir).collect()
    assert(r2.toSeq == r1.toSeq, "attached layout must serve the same verdicts")
    assert(snapshot(base) == before,
      "attach must not touch a single layout file (no rebuild job ran)")
    // and the re-registered tables still carry the bucket spec the
    // zero-exchange plan depends on
    val p = SparkEntry.queries("q85_bucketed_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"re-attached tables must read as bucketed:\n$p")
  }

  test("q62 bucketed pair re-attaches across sessions with zero rebuild jobs") {
    val r1 = SparkEntry.queries("q62_bucketed_join")(spark, sfDir).collect()
    val base = etl.Layouts.baseFor("bktoc", sfDir)
    val before = snapshot(base)

    dropManifestTables(base)
    val r2 = SparkEntry.queries("q62_bucketed_join")(spark, sfDir).collect()
    assert(r2.toSeq == r1.toSeq)
    assert(snapshot(base) == before)
    // the PlanShapeSpec q62 contract must hold on the ATTACHED tables too:
    // bucketed scans, zero exchanges
    val p = operators.EtlQueries.bucketedOrdersCustomer(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange"),
      s"attached bucketed join must stay exchange-free:\n$p")
  }

  test("the substring posting index re-attaches across sessions with zero rebuild jobs") {
    val table = operators.DedupQueries.attachSubstringIndex(
      spark, sfDir, k = 12, w = 6, nBuckets = 8)
    val base = etl.Layouts.baseFor("subidx", sfDir)
    assert(Files.exists(Paths.get(base, "_graft_manifest")))
    val before = snapshot(base)
    val count1 = spark.table(table).count()

    // simulate a fresh JVM: the catalog entry dies with the session
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val table2 = operators.DedupQueries.attachSubstringIndex(
      spark, sfDir, k = 12, w = 6, nBuckets = 8)
    assert(table2 === table, "the manifest must reproduce the table name")
    assert(spark.table(table2).count() === count1)
    assert(snapshot(base) == before,
      "attach must not touch a single index file (the winnow pass never re-runs)")
    // a DIFFERENT geometry is a different layout version: must rebuild,
    // not silently serve the k=12 index for a k=8 request
    val other = operators.DedupQueries.attachSubstringIndex(
      spark, sfDir, k = 8, w = 6, nBuckets = 8)
    assert(snapshot(base) != before, "a changed geometry must rebuild")
    assert(spark.table(other).count() > 0)
  }

  test("q207 bloom word file re-attaches across sessions with zero rebuild jobs") {
    val r1 = SparkEntry.queries("q207_bloom_decontaminate")(spark, sfDir).collect()
    val base = etl.Layouts.baseFor("bloomwords", sfDir)
    assert(Files.exists(Paths.get(base, "_graft_manifest")),
      "the first run must persist the word-array layout")
    val wordsFile = {
      val stream = Files.walk(Paths.get(base))
      try stream.iterator().asScala
        .find(_.getFileName.toString == "words.bin")
        .getOrElse(fail(s"words.bin missing under $base"))
      finally stream.close()
    }
    assert(Files.size(wordsFile) === 8L * 32768,
      "the word file is the 128 KB packed filter, independent of corpus size")
    val before = snapshot(base)

    val r2 = SparkEntry.queries("q207_bloom_decontaminate")(spark, sfDir).collect()
    assert(r2.toSeq == r1.toSeq, "the attached filter must serve identical verdicts")
    assert(snapshot(base) == before,
      "attach must reuse the standing word file (the bench-side fold never re-runs)")
  }

  /** Round-15 durable staged layouts: run the query once (cold build
    * under the Layouts root), snapshot the layout dir, re-run — with no
    * in-JVM memo the second call takes the same attach path a fresh JVM
    * takes — and require identical results with not one layout file
    * touched. One helper covers the whole family. */
  private def assertReattaches(query: String, kinds: Seq[String]): Unit = {
    val r1 = SparkEntry.queries(query)(spark, sfDir).collect()
    val bases = kinds.map(k => etl.Layouts.baseFor(k, sfDir))
    bases.foreach(b => assert(Files.exists(Paths.get(b, "_graft_manifest")),
      s"$query must leave a manifest under $b"))
    val before = bases.map(snapshot)

    val r2 = SparkEntry.queries(query)(spark, sfDir).collect()
    assert(r2.toSeq == r1.toSeq,
      s"$query: attached stage must serve the same rows")
    bases.zip(before).foreach { case (b, snap) =>
      assert(snapshot(b) == snap,
        s"$query: attach must not touch a single file under $b")
    }
  }

  test("q311 LSH base index re-attaches across sessions") {
    assertReattaches("q311_lsh_incremental", Seq("lshbase"))
  }

  test("q313 fuzzy base index re-attaches across sessions") {
    assertReattaches("q313_fuzzy_incremental", Seq("fuzzybase"))
  }

  test("q177 fuzzy pairs + ER labels re-attach across sessions") {
    assertReattaches("q177_golden_components", Seq("fuzzypairs", "erlabels"))
  }

  test("q50 near-dup pairs + CC labels re-attach across sessions") {
    assertReattaches("q50_cc_clusters", Seq("ndpairs", "cclabels"))
  }

  test("q310 propagation fixpoint re-attaches across sessions") {
    assertReattaches("q310_propagation_converged", Seq("lpropconv"))
  }

  test("q37 IVF codebook + assignment re-attach across sessions") {
    assertReattaches("q37_ivf_topk", operators.SimilarityQueries.ivfKindsForTest)
  }

  test("q308 frozen IVF base index re-attaches across sessions") {
    assertReattaches("q308_ivf_incremental", Seq("ivfbase"))
  }

  test("q71 PQ codebook re-attaches across sessions") {
    assertReattaches("q71_pq_topk", Seq(operators.SimilarityQueries.pqCbKindForTest))
  }

  test("q312 frozen PQ base index re-attaches across sessions") {
    assertReattaches("q312_pq_incremental", Seq("pqbase"))
  }

  test("q316 perceptual-hash pair frame + cluster labels re-attach across sessions") {
    assertReattaches("q316_image_cluster_reps", Seq("phpairs", "phlabels"))
  }

  test("q321 unigram gram-count table re-attaches across sessions") {
    assertReattaches("q321_unigram_incremental", Seq("uggrams"))
  }

  test("register drops a catalog entry pointing at a superseded generation") {
    // generation-subdir builds move the data path on rebuild; a session
    // whose catalog entry predates the rebuild must be re-pointed, not
    // trusted — otherwise it silently keeps serving the old generation
    import spark.implicits._
    val table = "graft_regen_probe"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val genA = graft.Staging.fresh("regenA")
    val genB = graft.Staging.fresh("regenB")
    // real bucketed file layouts for both generations (bucket ids live
    // in file names; register() only re-points catalog metadata)
    val regA = etl.Warehouse.writeBucketed(
      (0L until 10L).toDF("id"), 4, "id", genA, s"${table}_wa")
    val regB = etl.Warehouse.writeBucketed(
      (0L until 20L).toDF("id"), 4, "id", genB, s"${table}_wb")
    spark.sql(s"DROP TABLE ${table}_wa")
    spark.sql(s"DROP TABLE ${table}_wb")
    etl.Layouts.register(spark, Seq(regA.copy(table = table)))
    assert(spark.table(table).count() === 10L)
    // the rebuild moved the manifest's data path to generation B: the
    // same register call must detect the location mismatch and recreate
    etl.Layouts.register(spark, Seq(regB.copy(table = table)))
    assert(spark.table(table).count() === 20L,
      "a location mismatch must drop and recreate the catalog entry")
    // idempotence: a matching location is attached without churn
    etl.Layouts.register(spark, Seq(regB.copy(table = table)))
    assert(spark.table(table).count() === 20L)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a rebuild reaps generations older than the grace one") {
    val src = graft.Staging.fresh("reapsrc")
    import spark.implicits._
    def regen(n: Long): Unit = (0L until n).toDF("id")
      .write.mode("overwrite").parquet(s"$src/t.parquet")
    def build(): String = etl.Layouts.stage(spark, "reapprobe", "v1",
      src, Seq("t")) { base =>
      Files.writeString(Paths.get(base, "data.txt"), "x")
      base
    }
    regen(1); build()
    regen(2); build()
    regen(3); build()
    val base = Paths.get(etl.Layouts.baseFor("reapprobe", src))
    val stream = Files.list(base)
    val gens = try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("g_")).toList
      finally stream.close()
    assert(gens.size === 2,
      s"three regens must leave the current + one grace generation, got $gens")
  }

  test("two concurrent first builds publish one builder's complete generation") {
    // Layouts keeps no in-memory state, so two threads racing one kind
    // and source model two JVMs racing one durable root
    import spark.implicits._
    val src = graft.Staging.fresh("racesrc")
    (0L until 10L).toDF("id").write.mode("overwrite").parquet(s"$src/t.parquet")
    val base = etl.Layouts.baseFor("raceprobe", src)
    assert(!Files.exists(Paths.get(base)), "a fresh source must start with no layout")
    val inBuild = new java.util.concurrent.CountDownLatch(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def stage(name: String): String =
      etl.Layouts.stage(spark, "raceprobe", "v1", src, Seq("t")) { gen =>
        builds.incrementAndGet()
        inBuild.countDown()
        // both builders are inside `build` before either writes a file
        assert(inBuild.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "the other builder never entered build")
        (1 to 3).foreach(i => Files.writeString(Paths.get(gen, s"$name-$i"), name))
        gen
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try Seq("a", "b")
      .map(n => pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = stage(n)
      }))
      .foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdownNow()
    assert(builds.get === 2, "both racers must have built")

    val data = manifestLines(base).collectFirst {
      case l if l.startsWith("data\t") => l.stripPrefix("data\t")
    }.getOrElse(fail("the manifest names no data path"))
    val files = {
      val ls = Files.list(Paths.get(data))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    assert(Seq("a", "b").map(n => (1 to 3).map(i => s"$n-$i").toSet).contains(files),
      s"the published generation must hold exactly one builder's files, got $files")

    val before = snapshot(base)
    assert(stage("c") === data, "a third call must attach the published generation")
    assert(builds.get === 2 && snapshot(base) == before,
      "the third call must attach without a rebuild")
    val manifests = {
      val ls = Files.list(Paths.get(base))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_graft_manifest")).toList
      finally ls.close()
    }
    assert(manifests === List("_graft_manifest"),
      s"no manifest temp file may be left behind, got $manifests")
  }

  test("the unigram E-step re-attaches for both its consumers (q319, q320)") {
    assertReattaches("q319_unigram_em", Seq("ugseg", "ugcnts"))
    assertReattaches("q320_unigram_em_eval", Seq("ugseg", "ugcnts"))
  }

  test("the full gram-count table re-attaches for the decode (q318)") {
    assertReattaches("q318_unigram_viterbi", Seq("ugcnts"))
  }

  test("q317 standing image index re-attaches across sessions") {
    assertReattaches("q317_image_incremental", Seq("phbase"))
  }

  test("q314 substring-run index re-attaches across sessions") {
    assertReattaches("q314_substring_incremental", Seq("subincr"))
  }

  test("q22 staged pair stream re-attaches across sessions") {
    assertReattaches("q22_minhash_lsh", Seq("lshdocpairs"))
  }

  test("q297 candidate + PPJoin truth frames re-attach across sessions") {
    assertReattaches("q297_blocking_audit", Seq("lshcand", "ppjoinpairs"))
  }

  test("q302 two-round propagation re-attaches across sessions") {
    assertReattaches("q302_label_propagation", Seq("lprop2round"))
  }

  test("q294 MMR shortlist pool re-attaches across sessions") {
    assertReattaches("q294_mmr_rerank", Seq("mmrpool"))
  }

  test("q205 quality feature frame re-attaches across sessions") {
    assertReattaches("q205_train_quality_filter", Seq("qfeat"))
  }

  test("q213 n-gram feature frame re-attaches across sessions") {
    assertReattaches("q213_ngram_quality_filter", Seq("qngfeat"))
  }

  test("q144 trained BPE rules re-attach across sessions") {
    assertReattaches("q144_bpe_encode", Seq("bperules"))
  }

  test("q211 bigram LM counts + vocab sidecar re-attach across sessions") {
    assertReattaches("q211_bigram_quality", Seq("bglm"))
  }

  test("a stale staged-cache fingerprint forces a rebuild (lshbase)") {
    SparkEntry.queries("q311_lsh_incremental")(spark, sfDir).collect()
    val base = etl.Layouts.baseFor("lshbase", sfDir)
    val before = snapshot(base)
    val mf: Path = Paths.get(base, "_graft_manifest")
    val doctored = Files.readString(mf).linesIterator.map { l =>
      if (l.startsWith("fingerprint\t")) "fingerprint\tdeadbeef" else l
    }.mkString("\n")
    Files.writeString(mf, doctored)
    SparkEntry.queries("q311_lsh_incremental")(spark, sfDir).collect()
    assert(snapshot(base) != before,
      "a stale fingerprint must trigger a rebuild of the staged index")
  }

  test("q109 z-order layout re-attaches; a fingerprint mismatch forces a rebuild") {
    val r1 = SparkEntry.queries("q109_zorder_scan")(spark, sfDir).collect()
    val base = etl.Layouts.baseFor("zorder", sfDir)
    val before = snapshot(base)

    val r2 = SparkEntry.queries("q109_zorder_scan")(spark, sfDir).collect()
    assert(r2.toSeq == r1.toSeq)
    assert(snapshot(base) == before, "attach must reuse the layout files")

    // stale-on-regen: corrupt the stored fingerprint (what a regenerated
    // source dir does to the real one) — the next miss must REBUILD
    val mf: Path = Paths.get(base, "_graft_manifest")
    val doctored = Files.readString(mf).linesIterator.map { l =>
      if (l.startsWith("fingerprint\t")) "fingerprint\tdeadbeef" else l
    }.mkString("\n")
    Files.writeString(mf, doctored)
    val r3 = SparkEntry.queries("q109_zorder_scan")(spark, sfDir).collect()
    assert(r3.toSeq == r1.toSeq)
    assert(snapshot(base) != before, "a stale fingerprint must trigger a rebuild")
  }
}
