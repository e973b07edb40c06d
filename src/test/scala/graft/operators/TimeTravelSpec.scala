package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession.spark
import graft.etl.Warehouse

/** The versioned-snapshot log's filesystem half (q323/q324/q325's spec):
  * copy-on-write retention of replaced files, changed-file-granularity
  * CDF cancellation, the vacuum/time-travel retention interplay (a file a
  * retained snapshot references is NOT an orphan), expire-then-reclaim,
  * and the emptiedDirs contract for all-rows-deleted partitions. */
class TimeTravelSpec extends AnyFunSuite {

  private val dayMs = 24L * 3600 * 1000

  /** Two-partition lake: pa has ids 1-4, pb has ids 11-14. */
  private def buildLake(): String = {
    import spark.implicits._
    val path = graft.Staging.fresh("ttspec")
    val df = Seq((1L, "pa", 10L), (2L, "pa", 20L), (3L, "pa", 30L), (4L, "pa", 40L),
      (11L, "pb", 10L), (12L, "pb", 20L), (13L, "pb", 30L), (14L, "pb", 40L))
      .toDF("id", "part", "v")
    Warehouse.writePartitioned(df, "part", path, firstRun = true)
    path
  }

  private def schemaOf(path: String) =
    Some(spark.read.parquet(path).schema)

  private def fileBytes(path: String, rel: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, rel))

  test("copy-on-write rewrite keeps every retained version byte-readable") {
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    assert(v1 == 1)
    val v1Rows = Warehouse.readSnapshot(spark, path, v1, sc)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // rewrite ONLY pa: drop id=2
    val survivors = Warehouse.readSnapshot(spark, path, v1, sc)
      .filter(col("part") === "pa" && col("id") =!= 2L)
    val v2 = Warehouse.rewritePartitionsLogged(survivors, "part", path)
    assert(v2 == 2)
    // v1 still reads WHOLE after the rewrite — the old pa files exist
    val v1Again = Warehouse.readSnapshot(spark, path, v1, sc)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(v1Again == v1Rows, "time travel: v1 must be unchanged by the rewrite")
    // head = survivors ∪ untouched pb
    val headIds = Warehouse.readManifested(spark, path, sc)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(headIds == Set(1L, 3L, 4L, 11L, 12L, 13L, 14L))
    // the untouched partition's files are the SAME entries in both
    // manifests (not rewritten copies)
    val f1 = Warehouse.snapshotFiles(path, v1).filter(_.startsWith("part=pb/"))
    val f2 = Warehouse.snapshotFiles(path, v2).filter(_.startsWith("part=pb/"))
    assert(f1 == f2 && f1.nonEmpty, "untouched partition files carried, not copied")
    // the replaced pa files are on disk though absent from the head
    val paV1 = Warehouse.snapshotFiles(path, v1).filter(_.startsWith("part=pa/"))
    val paV2 = Warehouse.snapshotFiles(path, v2).filter(_.startsWith("part=pa/")).toSet
    assert(paV1.nonEmpty && paV1.forall(!paV2.contains(_)))
    paV1.foreach(f => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, f)),
      s"replaced file $f must remain on disk while v1 is retained"))
    // the head is the newest log entry
    assert(Warehouse.manifestedFiles(path) == Warehouse.snapshotFiles(path, v2))
    assert(Warehouse.snapshotVersions(path) == Seq(1, 2))
  }

  test("CDF reads only changed files and cancels untouched survivors") {
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    // delete id=2, edit id=3 (v 30→31), pa only; pb untouched
    val next = Warehouse.readSnapshot(spark, path, v1, sc)
      .filter(col("part") === "pa" && col("id") =!= 2L)
      .withColumn("v", when(col("id") === 3L, lit(31L)).otherwise(col("v")))
    val v2 = Warehouse.rewritePartitionsLogged(next, "part", path)
    val feed = Warehouse.snapshotChanges(spark, path, v1, v2, sc)
      .select("change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // survivors 1 and 4 appear in both sides and CANCEL; the edit is a
    // delete+insert pair; pb never read (its files are in both manifests)
    assert(feed == Set(("delete", 2L, 20L), ("delete", 3L, 30L), ("insert", 3L, 31L)))
  }

  test("vacuum spares files referenced by a retained snapshot, reclaims them after expiry") {
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    val survivors = Warehouse.readSnapshot(spark, path, v1, sc)
      .filter(col("part") === "pa" && col("id") =!= 2L)
    val v2 = Warehouse.rewritePartitionsLogged(survivors, "part", path)
    val paV1 = Warehouse.snapshotFiles(path, v1).filter(_.startsWith("part=pa/"))
    val headFiles = Warehouse.snapshotFiles(path, v2)
    val headBytes = headFiles.map(f => f -> fileBytes(path, f).toSeq).toMap
    val aged = System.currentTimeMillis() + 48L * dayMs
    // v1 retained: its exclusive files are NOT orphans — nothing to sweep
    // even with the clock far ahead
    val r1 = Warehouse.vacuum(path, retentionMs = dayMs, nowMs = aged)
    assert(r1.isEmpty, "retained-snapshot files must not be examined as orphans")
    paV1.foreach(f => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, f))))
    // expire v1 → its exclusive files become reclaimable orphans
    assert(Warehouse.expireSnapshots(path, keepLast = 1) == Seq(v1))
    assert(Warehouse.snapshotVersions(path) == Seq(v2))
    val r2 = Warehouse.vacuum(path, retentionMs = dayMs, nowMs = aged)
    assert(r2.nonEmpty && r2.forall(_._3), "expired-version files all swept")
    assert(r2.map(t => s"${t._1}/${t._2}").toSet == paV1.toSet)
    paV1.foreach(f => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(path, f)),
      s"expired file $f must be reclaimed"))
    // head files byte-identical through expire+vacuum; v1 unreadable; a
    // second sweep finds nothing
    headFiles.foreach(f =>
      assert(fileBytes(path, f).toSeq == headBytes(f), s"live file $f touched"))
    intercept[IllegalArgumentException] {
      Warehouse.readSnapshot(spark, path, v1, sc)
    }
    assert(Warehouse.vacuum(path, retentionMs = dayMs, nowMs = aged).isEmpty)
  }

  test("schema evolution: appended column null-fills old files, old snapshots keep their schema") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val path = buildLake()
    val sc0 = schemaOf(path).get
    val v1 = Warehouse.commitSnapshotFromListing(path)
    // the new batch carries a column the lake has never seen
    val batch = Seq((21L, "pa", 5L, 100L), (22L, "pb", 6L, 200L))
      .toDF("id", "part", "v", "w")
    val v2 = Warehouse.appendLogged(batch, "part", path)
    val evolved = StructType(sc0.fields :+ StructField("w", LongType))
    // head under the evolved schema: old rows null-fill w, new rows carry it
    val head = Warehouse.readManifested(spark, path, Some(evolved))
    assert(head.count() == 10)
    assert(head.filter(col("w").isNull).count() == 8)
    assert(head.filter(col("w").isNotNull).select(sum("w")).head().getLong(0) == 300L)
    // v1 under its ORIGINAL schema is untouched by the evolution
    val v1Read = Warehouse.readSnapshot(spark, path, v1, Some(sc0))
    assert(v1Read.schema.fieldNames.toSeq == sc0.fieldNames.toSeq &&
      v1Read.count() == 8)
    // the CDF across the schema boundary (evolved schema): inserts only
    val feed = Warehouse.snapshotChanges(spark, path, v1, v2, Some(evolved))
    assert(feed.filter(col("change_type") === "delete").count() == 0)
    assert(feed.filter(col("change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).toSet == Set(21L, 22L))
  }

  test("an interleaved commit surfaces as a conflict, never a lost update") {
    val path = buildLake()
    val v1 = Warehouse.commitSnapshotFromListing(path)
    // writers A and B both derive their file lists from v1
    val aFiles = Warehouse.snapshotFiles(path, v1)
    val bFiles = Warehouse.snapshotFiles(path, v1).drop(1)
    // A commits first; B's stale commit must throw and leave the log alone
    val v2 = Warehouse.commitSnapshot(path, aFiles, expectedHead = Some(v1))
    assert(v2 == 2)
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.commitSnapshot(path, bFiles, expectedHead = Some(v1))
    }
    assert(Warehouse.snapshotVersions(path) == Seq(1, 2))
    assert(Warehouse.manifestedFiles(path) == Warehouse.snapshotFiles(path, v2))
    // the rebase: B re-derives against the new head and retries
    val v3 = Warehouse.commitSnapshot(path,
      Warehouse.snapshotFiles(path, v2).drop(1), expectedHead = Some(v2))
    assert(v3 == 3)
    // an expectation-free commit (single-writer mode) still succeeds
    assert(Warehouse.commitSnapshot(path,
      Warehouse.snapshotFiles(path, v3)) == 4)
  }

  test("deletion vectors: O(k) sidecar, versioned like data, compaction materializes touched partitions only") {
    import spark.implicits._
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    val bytesBefore = Warehouse.snapshotFiles(path, v1)
      .map(f => f -> fileBytes(path, f).toSeq).toMap
    // delete id=2 (partition pa) as a sidecar — zero data files touched
    val v2 = Warehouse.deleteLogged(Seq(2L).toDF("id"), "id", path)
    assert(Warehouse.snapshotFiles(path, v2) == Warehouse.snapshotFiles(path, v1),
      "a sidecar delete commits the SAME data-file manifest")
    bytesBefore.foreach { case (f, b) =>
      assert(fileBytes(path, f).toSeq == b, s"data file $f touched by deleteLogged") }
    def morIds(v: Int): Set[Long] =
      Warehouse.readSnapshotMergeOnRead(spark, path, v, "id", sc)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(morIds(v2) == Set(1L, 3L, 4L, 11L, 12L, 13L, 14L))
    assert(morIds(v1) == Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L),
      "deletes are versioned: v1 merge-on-read still sees the deleted row")
    // deletes carry forward through an unrelated commit
    val v3 = Warehouse.appendLogged(Seq((31L, "pb", 0L)).toDF("id", "part", "v"),
      "part", path)
    assert(morIds(v3) == Set(1L, 3L, 4L, 11L, 12L, 13L, 14L, 31L),
      "an append must not detach the standing deletes")
    // compaction: pa (the only partition holding a deleted key) rewrites,
    // pb's files carry — and the compacted version's sidecar list is empty
    val pbBefore = Warehouse.snapshotFiles(path, v3).filter(_.startsWith("part=pb/"))
    val v4 = Warehouse.compactDeletes(spark, path, "part", "id", sc)
    assert(Warehouse.deleteSidecars(path, v4).isEmpty)
    assert(Warehouse.snapshotFiles(path, v4).filter(_.startsWith("part=pb/"))
      == pbBefore, "untouched partition files carried through compaction")
    val plain = Warehouse.readSnapshot(spark, path, v4, sc)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 3L, 4L, 11L, 12L, 13L, 14L, 31L),
      "compaction materialized the deletes into the data files")
    assert(morIds(v4) == plain)
    // earlier versions keep their own deletes for time travel
    assert(morIds(v3).contains(31L) && !morIds(v3).contains(2L))
    assert(morIds(v1).contains(2L))
  }

  test("uncommitted batches are invisible until published and survive young-file vacuum") {
    import spark.implicits._
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    val pending = Warehouse.writeUncommitted(
      Seq((21L, "pa", 9L)).toDF("id", "part", "v"), "part", path)
    assert(pending.nonEmpty)
    // invisible to every committed reader
    assert(Warehouse.readManifested(spark, path, sc).count() == 8)
    assert(Warehouse.readSnapshot(spark, path, v1, sc).count() == 8)
    // a slow audit must not lose its batch: the young pending files ride
    // the vacuum retention grace period
    val r = Warehouse.vacuum(path, retentionMs = dayMs,
      nowMs = System.currentTimeMillis())
    assert(r.nonEmpty && r.forall(!_._3), "young uncommitted files spared")
    pending.foreach(f => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, f))))
    // publish: one manifest write makes the batch visible atomically
    val v2 = Warehouse.commitSnapshot(path,
      Warehouse.manifestedFiles(path) ++ pending, expectedHead = Some(v1))
    assert(Warehouse.readManifested(spark, path, sc).count() == 9)
    // and the publish IS the insert the feed reports
    val feed = Warehouse.snapshotChanges(spark, path, v1, v2, sc)
    assert(feed.collect().map(r2 => (r2.getAs[String]("change_type"),
      r2.getAs[Long]("id"))).toSeq == Seq(("insert", 21L)))
  }

  test("partition evolution: each version prunes on its own layout's key") {
    import spark.implicits._
    val path = graft.Staging.fresh("ttevo")
    val df = Seq((1L, "pa", "en"), (2L, "pa", "fr"), (3L, "pb", "en"),
      (4L, "pb", "fr")).toDF("id", "part", "lang")
    Warehouse.writePartitioned(df, "part", path, firstRun = true)
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    val relaid = Warehouse.readSnapshot(spark, path, v1, sc)
    val v2 = Warehouse.commitSnapshot(path,
      Warehouse.writeUncommitted(relaid, "lang", path), expectedHead = Some(v1))
    // both layouts' files coexist under one root — the listing reader is
    // broken by construction, the manifest readers are not
    intercept[Exception] { spark.read.parquet(path).collect() }
    assert(Warehouse.readSnapshot(spark, path, v1, sc).count() == 4)
    assert(Warehouse.readSnapshot(spark, path, v2, sc).count() == 4)
    // pruning follows each version's OWN partition key: the filter lands
    // in partitionFilters and the scan touches one directory (inputFiles
    // reflects the pre-pruning index, so assert on the EXECUTED scan —
    // the ZorderSpec idiom)
    def scanOf(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.execution.FileSourceScanExec = {
      df.collect()
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          p +: nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: nodes(q.plan)
        case _ => p +: p.children.flatMap(nodes)
      }
      nodes(df.queryExecution.executedPlan)
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail(s"no file scan in:\n${df.queryExecution.executedPlan}"))
    }
    val v1Scan = scanOf(Warehouse.readSnapshot(spark, path, v1, sc)
      .filter(col("part") === "pa"))
    assert(v1Scan.partitionFilters.nonEmpty &&
      v1Scan.metrics("numPartitions").value == 1L,
      "v1 prunes on its own key (part)")
    val v2Scan = scanOf(Warehouse.readSnapshot(spark, path, v2, sc)
      .filter(col("lang") === "en"))
    assert(v2Scan.partitionFilters.nonEmpty &&
      v2Scan.metrics("numPartitions").value == 1L,
      "head prunes on the evolved key (lang)")
    // the old layout retires through the ordinary expire+vacuum path
    assert(Warehouse.expireSnapshots(path, keepLast = 1) == Seq(v1))
    val aged = System.currentTimeMillis() + 48L * dayMs
    val r = Warehouse.vacuum(path, retentionMs = dayMs, nowMs = aged)
    assert(r.nonEmpty && r.forall(_._3) &&
      r.forall(_._1.startsWith("part=")), "exactly the old layout swept")
    assert(Warehouse.readSnapshot(spark, path, v2, sc).count() == 4)
  }

  test("manifest stats skip exactly the non-intersecting files; missing stats never skip") {
    import spark.implicits._
    val path = graft.Staging.fresh("ttstats")
    // three appends with disjoint id ranges -> three single-range files
    Seq((1L, "x", 10L), (2L, "x", 20L)).toDF("id", "part", "v")
      .coalesce(1).write.mode("append").parquet(path)
    Seq((10L, "x", 30L), (12L, "x", 40L)).toDF("id", "part", "v")
      .coalesce(1).write.mode("append").parquet(path)
    Seq((20L, "x", 50L), (22L, "x", 60L)).toDF("id", "part", "v")
      .coalesce(1).write.mode("append").parquet(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    Warehouse.writeFileStats(spark, path, v1, Seq("id"))
    assert(Warehouse.fileStats(path, v1).size == 3)
    // the middle range touches exactly one file
    val (mid, (read, total)) = Warehouse.readSnapshotRange(
      spark, path, v1, "id", 9L, 13L, None)
    assert(total == 3 && read == 1, s"expected 1/3 files, got $read/$total")
    assert(mid.select("id").collect().map(_.getLong(0)).toSet == Set(10L, 12L))
    // a boundary-straddling range reads both its files
    val (_, (read2, _)) = Warehouse.readSnapshotRange(
      spark, path, v1, "id", 2L, 10L, None)
    assert(read2 == 2)
    // a column with NO recorded stats falls back to reading everything —
    // the advisory contract: absent stats can cost, never corrupt
    val (all, (read3, total3)) = Warehouse.readSnapshotRange(
      spark, path, v1, "v", 30L, 40L, None)
    assert(read3 == total3 && all.count() == 2)
  }

  test("compacting a fully-deleted partition does not resurrect its rows") {
    import spark.implicits._
    val path = buildLake()
    val sc = schemaOf(path)
    Warehouse.commitSnapshotFromListing(path)
    // delete ALL of pb: the compaction's survivor frame has no pb rows,
    // so the rewrite writes no pb file — the emptied-partition inference
    // inside compactDeletes must drop pb's old files from the manifest
    Warehouse.deleteLogged(Seq(11L, 12L, 13L, 14L).toDF("id"), "id", path)
    val v3 = Warehouse.compactDeletes(spark, path, "part", "id", sc)
    assert(Warehouse.deleteSidecars(path, v3).isEmpty)
    val plain = Warehouse.readSnapshot(spark, path, v3, sc)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L, 3L, 4L),
      "a fully-deleted partition must not resurrect at compaction")
    assert(Warehouse.snapshotFiles(path, v3).forall(_.startsWith("part=pa/")))
  }

  test("a one-sided feed works without a caller schema") {
    import spark.implicits._
    val path = buildLake()
    val v1 = Warehouse.commitSnapshotFromListing(path)
    val v2 = Warehouse.appendLogged(
      Seq((21L, "pa", 9L)).toDF("id", "part", "v"), "part", path)
    // pure append: the removed side has no files — the feed borrows the
    // added side's schema instead of failing on a columnless frame
    val feed = Warehouse.snapshotChanges(spark, path, v1, v2)
    assert(feed.collect().map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("id"))).toSeq == Seq(("insert", 21L)))
    // and a NO-change diff is an empty feed, not an error
    val v3 = Warehouse.commitSnapshot(path, Warehouse.manifestedFiles(path))
    assert(Warehouse.snapshotChanges(spark, path, v2, v3).count() == 0)
  }

  test("stats maintenance carries covered files verbatim and stats only the delta") {
    import spark.implicits._
    val path = graft.Staging.fresh("ttincstats")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    Warehouse.writeFileStats(spark, path, v1, Seq("id"))
    val base = Warehouse.fileStats(path, v1)
    assert(base.size == 1)
    // append a batch and maintain: the old file's line must carry
    // VERBATIM (not recomputed — immutable files make recompute waste),
    // the new file gets exactly one new line
    val added = Warehouse.writeUncommitted(
      Seq((10L, 30L)).toDF("id", "v").coalesce(1), path)
    val v2 = Warehouse.commitSnapshot(path,
      Warehouse.manifestedFiles(path) ++ added, expectedHead = Some(v1))
    Warehouse.maintainFileStats(spark, path, v2, Seq("id"))
    val m = Warehouse.fileStats(path, v2)
    assert(m.size == 2)
    base.foreach { case (k, mm) => assert(m(k) == mm, s"carried line $k changed") }
    assert(m.exists { case ((_, k), (lo, hi)) => k == "id" && lo == 10L && hi == 10L })
    // a rewrite that drops the old file drops its line at the next
    // maintenance — no stale stats for unmanifested files
    val v3 = Warehouse.commitSnapshot(path, added)  // only the new file survives
    Warehouse.maintainFileStats(spark, path, v3, Seq("id"))
    assert(Warehouse.fileStats(path, v3).keySet.map(_._1) == added.toSet)
  }

  test("a commit that crashed before publishing is invisible") {
    import spark.implicits._
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    // simulate a writer that died inside its commit: the batch landed and
    // the v2 entry's body sits in the publish's hidden temp file, but the
    // entry itself was never published
    val added = Warehouse.writeUncommitted(
      Seq((21L, "pa", 9L)).toDF("id", "part", "v"), "part", path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_log",
        s".00000002.manifest.${java.util.UUID.randomUUID()}.tmp"),
      (Warehouse.manifestedFiles(path) ++ added).sorted.mkString("\n"))
    // readers serve v1, the log holds v1 only, and vacuum spares the
    // batch's young files (the writer may still be mid-commit)
    assert(Warehouse.readManifested(spark, path, sc).count() == 8)
    assert(Warehouse.snapshotVersions(path) == Seq(1))
    val r = Warehouse.vacuum(path, retentionMs = dayMs,
      nowMs = System.currentTimeMillis())
    assert(r.nonEmpty && r.forall(!_._3), "young unpublished batch files spared")
    added.foreach(f => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, f))))
    // and the next commit takes v2 against the surviving head
    val v2 = Warehouse.commitSnapshot(path,
      Warehouse.manifestedFiles(path) ++ added, expectedHead = Some(1))
    assert(v2 == 2 && v1 == 1)
    assert(Warehouse.readManifested(spark, path, sc).count() == 9)
  }

  test("an all-rows-deleted partition needs emptiedDirs to leave the manifest") {
    val path = buildLake()
    val sc = schemaOf(path)
    val v1 = Warehouse.commitSnapshotFromListing(path)
    // takedown of ALL of pb: the survivor frame carries no pb rows, so the
    // rewrite writes no pb files and cannot infer pb was touched
    val survivors = Warehouse.readSnapshot(spark, path, v1, sc)
      .filter(col("part") === "pa")
    val v2 = Warehouse.rewritePartitionsLogged(survivors, "part", path)
    assert(Warehouse.readManifested(spark, path, sc)
        .filter(col("part") === "pb").count() == 4,
      "without emptiedDirs the emptied partition's old files stay live")
    val v3 = Warehouse.rewritePartitionsLogged(
      Warehouse.readSnapshot(spark, path, v2, sc).filter(col("part") === "pa"),
      "part", path, emptiedDirs = Seq("part=pb"))
    assert(Warehouse.readManifested(spark, path, sc)
      .filter(col("part") === "pb").count() == 0)
    // and time travel still reaches the pre-delete state
    assert(Warehouse.readSnapshot(spark, path, v1, sc).count() == 8)
    assert(v3 == 3)
  }
}
