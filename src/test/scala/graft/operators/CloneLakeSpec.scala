package graft.operators

import graft.SparkTestSession.spark
import graft.etl.Warehouse
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Warehouse.cloneLake — the isolation contract the per-invocation
  * maintenance-verb discipline stands on: a verb run in a clone
  * (commits, rewrites, expire, vacuum) must leave the source lake
  * byte-identical, while the clone starts as an exact logical copy. */
class CloneLakeSpec extends AnyFunSuite {

  private def freshLake(): String = {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"doc $i text", i % 4))
      .toDF("doc_id", "text", "part")
    val p = graft.Staging.fresh("clonespec")
    Warehouse.writePartitioned(df.repartition(col("part")), "part", p,
      firstRun = true)
    Warehouse.commitSnapshotFromListing(p)
    p
  }

  test("clone reads identical to source") {
    val src = freshLake()
    val dst = Warehouse.cloneLake(src, "clonespec-clone")
    val a = Warehouse.readManifested(spark, src).orderBy("doc_id").collect()
    val b = Warehouse.readManifested(spark, dst).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(Warehouse.snapshotVersions(dst) == Warehouse.snapshotVersions(src))
  }

  test("commits and rewrites in the clone never move the source") {
    val src = freshLake()
    val srcHead = Warehouse.manifestedFiles(src)
    val dst = Warehouse.cloneLake(src, "clonespec-mut")
    // a copy-on-write rewrite in the clone (drop part=3 rows)
    val survivors = Warehouse.readManifested(spark, dst)
      .filter(col("part") =!= 3)
    Warehouse.rewritePartitionsLogged(
      survivors.repartition(col("part")), "part", dst, Seq("part=3"))
    assert(Warehouse.snapshotVersions(dst) == Seq(1, 2))
    assert(Warehouse.snapshotVersions(src) == Seq(1))
    assert(Warehouse.manifestedFiles(src) == srcHead)
  }

  test("expire + vacuum in the clone leaves every source file readable") {
    val src = freshLake()
    val dst = Warehouse.cloneLake(src, "clonespec-vac")
    // doc_id < 100 keeps survivors in every part=doc_id%4 partition, so
    // the rewrite touches all four dirs (no emptiedDirs case here)
    val survivors = Warehouse.readManifested(spark, dst)
      .filter(col("doc_id") < 100)
    Warehouse.rewritePartitionsLogged(
      survivors.repartition(col("part")), "part", dst)
    Warehouse.expireSnapshots(dst, keepLast = 1)
    val report = Warehouse.vacuum(dst, retentionMs = 24L * 3600 * 1000,
      nowMs = System.currentTimeMillis() + 48L * 3600 * 1000)
    assert(report.nonEmpty && report.forall(_._3), s"sweep incomplete: $report")
    // the swept files were hardlinks — the source's inodes must survive
    assert(Warehouse.readManifested(spark, src).count() == 200L)
    assert(Warehouse.readSnapshot(spark, src, 1).count() == 200L)
    // and the clone's post-vacuum head still serves the survivors
    assert(Warehouse.readManifested(spark, dst).count() == 100L)
  }

  test("stats maintenance and a commit in the clone leave the source's log bytes unchanged") {
    import spark.implicits._
    val src = graft.Staging.fresh("clonespec-log")
    val df = (0L until 200L).map(i => (i, i * 7 % 13, i % 4))
      .toDF("doc_id", "score", "part")
    Warehouse.writePartitioned(df.repartition(col("part")), "part", src,
      firstRun = true)
    Warehouse.commitSnapshotFromListing(src)
    Warehouse.writeFileStats(spark, src, 1, Seq("doc_id"))
    def logBytes(lake: String): Map[String, Seq[Byte]] =
      new java.io.File(s"$lake/_graft_log").listFiles().map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before = logBytes(src)
    // the clone hardlinks the source's log entries: a write in place
    // would reach the source through the shared inode
    val dst = Warehouse.cloneLake(src, "clonespec-logclone")
    Warehouse.maintainFileStats(spark, dst, 1, Seq("doc_id", "score"))
    assert(Warehouse.fileStats(dst, 1) != Warehouse.fileStats(src, 1),
      "the clone's v1 stats entry was rewritten")
    Warehouse.commitSnapshot(dst, Warehouse.manifestedFiles(dst).drop(1),
      expectedHead = Some(1))
    assert(Warehouse.snapshotVersions(dst) == Seq(1, 2))
    assert(logBytes(src) == before, "the source's _graft_log/ changed")
    assert(Warehouse.snapshotVersions(src) == Seq(1))
  }
}
