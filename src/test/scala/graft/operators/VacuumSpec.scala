package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession.{sfDir, spark}
import graft.etl.Warehouse

/** q309's filesystem half — the part the DuckDB oracle cannot see:
  * retention-windowed orphan reclamation, manifest-protected live files,
  * idempotency, and the directory-listing double-count hazard the
  * manifest-resolved read retires. */
class VacuumSpec extends AnyFunSuite {

  private val dayMs = 24L * 3600 * 1000

  private def buildLake(): (String, Long) = {
    val path = graft.Staging.fresh("vacspec")
    Warehouse.writePartitioned(
      graft.Tables.documents(spark, sfDir), "source", path, firstRun = true)
    Warehouse.commitSnapshotFromListing(path)
    (path, graft.Tables.documents(spark, sfDir).count())
  }

  test("vacuum sweeps aged orphans, spares young ones, never touches live files") {
    val (path, truth) = buildLake()
    val now = System.currentTimeMillis()
    EtlQueries.plantOrphans(path, now)
    // the hazard: a directory-listing read counts the orphan copies
    assert(spark.read.parquet(path).count() > truth,
      "planted orphans must be visible to a naive listing read")
    assert(Warehouse.readManifested(spark, path).count() == truth,
      "the manifest-resolved read never sees orphans")
    val liveBefore = Warehouse.manifestedFiles(path)
    val report = Warehouse.vacuum(path, retentionMs = dayMs, nowMs = now)
    val (swept, spared) = (report.count(_._3), report.count(!_._3))
    assert(swept == spared && swept > 0, "one old + one young orphan per partition")
    assert(report.filter(_._3).forall(_._2 == "part-orphan-old.parquet"))
    assert(report.filterNot(_._3).forall(_._2 == "part-orphan-young.parquet"))
    val after = new java.io.File(path).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName)
    assert(!after.contains("part-orphan-old.parquet"), "aged orphans reclaimed")
    assert(after.contains("part-orphan-young.parquet"), "grace-period orphans spared")
    assert(Warehouse.manifestedFiles(path) == liveBefore &&
      Warehouse.readManifested(spark, path).count() == truth,
      "live data unchanged by the sweep")
    // idempotent: a second pass finds only the still-young orphans, sweeps none
    val again = Warehouse.vacuum(path, retentionMs = dayMs, nowMs = now)
    assert(again.count(_._3) == 0 && again.count(!_._3) == spared)
  }

  test("manifested files are never deleted regardless of age") {
    val (path, truth) = buildLake()
    val now = System.currentTimeMillis()
    // age EVERY live file far past retention
    Warehouse.manifestedFiles(path).foreach { rel =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path, rel),
        java.nio.file.attribute.FileTime.fromMillis(now - 365 * dayMs))
    }
    val report = Warehouse.vacuum(path, retentionMs = dayMs, nowMs = now)
    assert(report.isEmpty, "no orphans -> nothing examined")
    assert(Warehouse.readManifested(spark, path).count() == truth)
  }

  test("vacuum refuses a lake with no manifest rather than sweeping it whole") {
    val path = graft.Staging.fresh("vacnoman")
    Warehouse.writePartitioned(
      graft.Tables.documents(spark, sfDir), "source", path, firstRun = true)
    // no commit: every file would read as an orphan
    val ex = intercept[IllegalArgumentException] {
      Warehouse.vacuum(path, retentionMs = 0L, nowMs = System.currentTimeMillis())
    }
    assert(ex.getMessage.contains("vacuum refused"))
    assert(spark.read.parquet(path).count() ==
      graft.Tables.documents(spark, sfDir).count(), "nothing was deleted")
  }

  test("a committed-but-EMPTY manifest stays vacuumable (emptied-lake orphans reclaim)") {
    val path = graft.Staging.fresh("vacempty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "source=x"))
    Warehouse.commitSnapshotFromListing(path) // lake legitimately empty: the entry lists nothing
    // an aborted ingest then leaves an aged orphan behind
    val orphan = java.nio.file.Paths.get(path, "source=x", "part-orphan-old.parquet")
    java.nio.file.Files.writeString(orphan, "junk")
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    val report = Warehouse.vacuum(path, retentionMs = dayMs,
      nowMs = System.currentTimeMillis())
    assert(report == Seq(("source=x", "part-orphan-old.parquet", true)))
    assert(!java.nio.file.Files.exists(orphan), "the orphan is reclaimed")
    // and the schema'd manifest read resolves audit columns over the
    // emptied lake (the q309 audit shape) instead of UNRESOLVED_COLUMN
    val audited = Warehouse.readManifested(spark, path,
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, n_chars BIGINT, source STRING")))
      .groupBy("source").count().collect()
    assert(audited.isEmpty, "an emptied lake audits as zero rows, resolved")
  }

  test("registered q309 reports the deterministic 1-swept/1-spared per source") {
    val rows = EtlQueries.q309VacuumLake(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) == 1L && r.getLong(4) == 1L))
    val truthBySource = graft.Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => r.getLong(1) == truthBySource(r.getString(0))))
  }
}
