package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

import scala.jdk.CollectionConverters._

/** Durable layout registry — the piece that makes every "one-time
  * bootstrap" layout actually one-time ACROSS JVMs.
  *
  * Through round 8 the bucketed warehouse tables (q62), the fingerprint
  * index (q85), and the Z-order layout (q109) lived in `graft.Staging`
  * dirs swept at JVM exit, with catalog entries that died with the
  * session: a recurring weekly-crawl pipeline re-paid the full layout
  * build every session — exactly the cost the layout exists to amortize.
  * The reference's warehouse persists between Airflow runs
  * (`/root/reference/airflow/dags/spark_transform_load.py:196-211` keeps
  * BigQuery tables across DAG invocations); this registry is the
  * Spark-first analog: layout files under a durable root, plus a small
  * MANIFEST recording what was built from what, so a new JVM RE-ATTACHES
  * (re-registers catalog tables over the existing files, zero data jobs)
  * instead of rebuilding. LayoutReattachSpec proves the attach path runs
  * no write job and serves the same plans.
  *
  * Staleness: the manifest stores a fingerprint of the SOURCE parquet
  * files (name, size, mtime) and a builder-supplied version string
  * (layout geometry + code revision). Either changing — a regenerated
  * fixture, a widened bucket count — misses the attach check and forces
  * a rebuild.
  *
  * This registry is the ONLY cache for standing indexes: callers call
  * [[stage]]/[[attachOrBuild]] on every invocation, and an attach costs
  * one manifest read plus the source fingerprint walk — no Spark job.
  * The object holds no in-memory state, so two concurrent first builds
  * (two threads or two JVMs) are made safe through the file system:
  * each build writes its own nonce-named generation dir, and the
  * manifest is written to a temp file and published by an atomic
  * rename, so the manifest always names one builder's complete file
  * set (last publisher wins; a crashed or in-flight build never
  * attaches). Both racing builders pay the build. */
object Layouts {

  /** Durable root (NOT swept at JVM exit — contrast graft.Staging).
    * Overridable per-run via -Dgraft.warehouse.dir (tests) or the
    * SPARK_GRAFT_WAREHOUSE_DIR env var — the documented BENCH knob: a
    * sweep pointed at an empty dir measures BUILD-INCLUSIVE cost (every
    * standing index constructed inside the run), while the default
    * durable root measures ATTACH mode (indexes built by an earlier
    * session re-registered with zero data jobs). Both numbers belong in
    * a round's report; neither mode is hidden from the driver. */
  def root: String = sys.props.get("graft.warehouse.dir")
    .orElse(sys.env.get("SPARK_GRAFT_WAREHOUSE_DIR").filter(_.nonEmpty))
    .getOrElse(System.getProperty("java.io.tmpdir") + "/graft_warehouse")

  /** One bucketed catalog table of a layout: everything a new session
    * needs to re-register it over the existing files. */
  case class BucketedReg(table: String, path: String, nBuckets: Int,
                         key: String, schemaDdl: String)

  case class Manifest(kind: String, version: String, fingerprint: String,
                      dataPath: String, regs: Seq[BucketedReg])

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Stable base dir for one (kind, source dir). ONE ACTIVE layout per
    * pair: a version (geometry) change REPLACES the layout on next
    * build rather than coexisting beside it — callers that need two
    * geometries of one source use two kinds. */
  def baseFor(kind: String, sourceDir: String): String =
    s"$root/${kind}_${md5hex(sourceDir).take(12)}"

  /** Short stable suffix for catalog-table names derived from a source
    * dir — deterministic across JVMs (a counter would collide when one
    * JVM attaches dir A's tables and then builds dir B's). */
  def nameSuffix(sourceDir: String): String = md5hex(sourceDir).take(8)

  /** Fingerprint of the source files a layout was built from — the
    * CorpusKey part-file walk (max mtime + bytes + count + path digest,
    * through the Hadoop FileSystem API so the registry's staleness
    * check carries to HDFS/object storage like the rest of the staging
    * economics). A fixture regen changes part-file names/mtimes →
    * forced rebuild; an absent table fingerprints as a distinct
    * constant instead of failing, so a layout over optional sources
    * still manifests deterministically. */
  def sourceFingerprint(sourceDir: String, tables: Seq[String]): String = {
    val lines = tables.sorted.map { t =>
      // ONLY a genuinely missing source fingerprints as absent (the
      // typed probe, not a message-text match); anything else —
      // malformed path, bad URI, permission failure — rethrows loudly,
      // because mapping it to the stable 'absent' constant would let a
      // broken caller attach a stale layout forever
      if (graft.CorpusKey.exists(sourceDir, s"$t.parquet"))
        graft.CorpusKey(sourceDir, s"$t.parquet")
      else s"$t:absent"
    }
    md5hex(lines.mkString("\n"))
  }

  private def manifestPath(base: String) = Paths.get(base, "_graft_manifest")

  /** Tab-separated, one record per line (schema DDL contains commas but
    * never tabs/newlines); versioned header so a format change is a
    * clean rebuild, not a parse error. */
  private def writeManifest(base: String, m: Manifest): Unit = {
    val lines = Seq("graft-layout-v1",
      s"kind\t${m.kind}", s"version\t${m.version}",
      s"fingerprint\t${m.fingerprint}", s"data\t${m.dataPath}") ++
      m.regs.map(r =>
        s"reg\t${r.table}\t${r.path}\t${r.nBuckets}\t${r.key}\t${r.schemaDdl}")
    Files.createDirectories(Paths.get(base))
    // publish by rename: a reader sees the previous manifest or this one,
    // never a partial file, and two racing publishers leave exactly one
    val tmp = Paths.get(base, s"_graft_manifest.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, lines.mkString("\n"))
    Files.move(tmp, manifestPath(base),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def readManifest(base: String): Option[Manifest] = {
    val p = manifestPath(base)
    if (!Files.exists(p)) return None
    val lines = Files.readAllLines(p).asScala.toList
    if (lines.headOption.forall(_ != "graft-layout-v1")) return None
    val kv = lines.tail.map(_.split("\t", -1)).collect {
      case Array(k, v) => k -> v
    }.toMap
    val regs = lines.tail.map(_.split("\t", -1)).collect {
      case Array("reg", t, path, n, key, ddl) =>
        BucketedReg(t, path, n.toInt, key, ddl)
    }
    for {
      kind <- kv.get("kind"); version <- kv.get("version")
      fp <- kv.get("fingerprint"); data <- kv.get("data")
    } yield Manifest(kind, version, fp, data, regs)
  }

  /** Re-register a layout's catalog tables in THIS session (catalog
    * entries are per-JVM; the files are not). CREATE TABLE over the
    * existing LOCATION with the original bucket spec — zero data jobs;
    * Spark recovers each file's bucket id from its name.
    *
    * An EXISTING catalog entry is only trusted if its location matches
    * the manifest's data path: generation-subdir builds mean a rebuild
    * moves the path, and a session that registered the old generation
    * would otherwise keep silently serving stale data after attaching
    * the new manifest — so a location mismatch drops and recreates. */
  def register(s: SparkSession, regs: Seq[BucketedReg]): Unit = {
    val catalog = s.sessionState.catalog
    regs.foreach { r =>
      val id = TableIdentifier(r.table)
      val current = catalog.tableExists(id) &&
        catalog.getTableMetadata(id).location.getPath ==
          new org.apache.hadoop.fs.Path(r.path).toUri.getPath
      if (!current) {
        s.sql(s"DROP TABLE IF EXISTS ${r.table}")
        s.sql(s"CREATE TABLE ${r.table} (${r.schemaDdl}) USING parquet " +
          s"CLUSTERED BY (${r.key}) SORTED BY (${r.key}) " +
          s"INTO ${r.nBuckets} BUCKETS LOCATION '${r.path}'")
      }
    }
  }

  /** Plain-file durable stage — [[attachOrBuild]] for layouts with no
    * catalog tables (staged pair streams, trained codebooks, propagated
    * labels): `build` writes under the given durable base dir and
    * returns the data path consumers read (usually the base or a
    * subdir; a rotating fixpoint builder returns whichever leaf won).
    * A later call — in this JVM or another — with a matching manifest
    * gets that path back with ZERO build jobs, so a staged derivation
    * is a once-per-corpus index build. */
  def stage(s: SparkSession, kind: String, version: String,
            sourceDir: String, sourceTables: Seq[String])(
      build: String => String): String =
    attachOrBuild(s, kind, version, sourceDir, sourceTables) { base =>
      (Seq.empty, build(base))
    }.dataPath

  /** The registry's one entry point: attach if a manifest matches
    * (same version, same source fingerprint), else run `build` against
    * the durable base dir and persist the manifest. `build` returns the
    * catalog registrations (empty for plain-file layouts) and the data
    * path consumers read. */
  def attachOrBuild(s: SparkSession, kind: String, version: String,
                    sourceDir: String, sourceTables: Seq[String])(
      build: String => (Seq[BucketedReg], String)): Manifest = {
    val base = baseFor(kind, sourceDir)
    val fp = sourceFingerprint(sourceDir, sourceTables)
    readManifest(base) match {
      case Some(m) if m.kind == kind && m.version == version && m.fingerprint == fp =>
        register(s, m.regs)
        m
      case _ =>
        // stale or absent: invalidate first so a failed build can never
        // be attached by a later session. The build lands in its own
        // GENERATION subdir — (version, fingerprint) hash plus a
        // per-build nonce: a stale rebuild must never overwrite files an
        // in-flight reader of the previous layout may still be scanning,
        // and two concurrent builders must never interleave their writes
        // in one dir
        Files.deleteIfExists(manifestPath(base))
        val genName = s"g_${md5hex(s"$version\n$fp").take(10)}_" +
          java.util.UUID.randomUUID().toString.take(8)
        val gen = s"$base/$genName"
        Files.createDirectories(Paths.get(gen))
        val (regs, dataPath) = build(gen)
        val m = Manifest(kind, version, fp, dataPath, regs)
        writeManifest(base, m)
        // bounded-orphan retention: keep the new generation plus the
        // NEWEST superseded one (an in-flight reader attached before
        // this rebuild may still be scanning it); anything older has
        // survived a full rebuild cycle unreferenced and is reclaimed
        // here, so N source regens leave at most two generations on
        // disk, not N
        reapOldGenerations(base, keep = Set(genName))
        m
    }
  }

  /** Delete every `g_*` generation under `base` except `keep` and the
    * most recently modified other one (the grace generation). */
  private def reapOldGenerations(base: String, keep: Set[String]): Unit = {
    val dir = Paths.get(base)
    if (!Files.isDirectory(dir)) return
    val ls = Files.list(dir)
    val gens =
      try ls.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("g_"))
        .filterNot(p => keep(p.getFileName.toString))
        .toList
      finally ls.close()
    gens.sortBy(p => -Files.getLastModifiedTime(p).toMillis).drop(1).foreach { g =>
      val walk = Files.walk(g)
      try walk.iterator().asScala.toList.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
