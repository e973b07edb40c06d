package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Partitioned warehouse write path (ref K1:
  * `/root/reference/spark/transform_load.py:58-90` — generic BigQuery writer
  * with mode + MONTH partition options; bootstrap switch at `:438,:496`).
  *
  * Re-expressed Spark-first: `partitionBy` parquet layout instead of a
  * warehouse connector. The partition column becomes the directory key, so a
  * later `.where(partCol === v)` prunes at the FILE level
  * (`PruneFileSourcePartitions`) — the Catalyst-native form of the
  * reference's month-partitioned table scans. At 100 TB the layout is what makes
  * incremental loads and time-bounded queries touch only their slice.
  */
object Warehouse {

  /** First run overwrites (bootstrap), subsequent runs append — the
    * reference's `if month == "201612": WRITE_TRUNCATE else WRITE_APPEND`
    * (`transform_load.py:438`). */
  def writePartitioned(df: DataFrame, partCol: String, path: String,
                       firstRun: Boolean): Unit =
    df.write
      .mode(if (firstRun) "overwrite" else "append")
      .partitionBy(partCol)
      .parquet(path)

  /** Idempotent partition-level re-load (the reference's real monthly
    * semantics: re-running a month's DAG must REPLACE that month, not
    * append a duplicate — `transform_load.py:438` approximates this with
    * the bootstrap truncate; BigQuery gives it per-partition). Spark-native
    * form: dynamic partition overwrite — `mode("overwrite")` with
    * `partitionOverwriteMode=dynamic` rewrites ONLY the partitions present
    * in the incoming frame and leaves every other directory untouched.
    * The option rides the WRITER (not the session conf), so concurrent
    * queries on the same session see no config change. At 100 TB this is
    * what makes a re-run of one ingest slice O(slice), not O(table), and
    * safe to repeat.
    *
    * Contract: each call must carry every row of every partition it
    * touches — partition-complete inputs. A caller that splits one
    * partition's data across two calls loses the first call's rows to the
    * second's overwrite (the streaming corollary: under `foreachBatch`
    * this sink is exactly-once only when triggers align with partitions —
    * see StreamingSinkSpec). */
  def upsertPartitions(df: DataFrame, partCol: String, path: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)

  /** Self-overwrite-safe partition rewrite: for frames DERIVED FROM the
    * same path they overwrite (a takedown's survivors, a compaction's
    * re-bin), `upsertPartitions` alone is a correctness hazard — the
    * input is a lazy plan over the target's files, and while the default
    * commit protocol happens to delete partition dirs only at commitJob
    * (after read tasks finish), Spark does not GUARANTEE read-your-
    * overwrite through the DataFrameWriter path: under task retry,
    * speculation, or an object-store committer a re-attempted read task
    * can find its source files already replaced and the surviving rows
    * are silently lost — and a takedown has no upstream to rebuild from.
    *
    * So: materialize to a fresh staging path FIRST (a durable,
    * independent copy — stronger than persist(), whose evicted blocks
    * recompute from the very files the overwrite replaces), then
    * overwrite the target from the staged copy. The staged read pins
    * `df.schema` explicitly so partition-column type inference cannot
    * drift types (e.g. a "yyyy-MM-dd" string partition re-inferred as
    * DATE) between the two hops. Cost: one extra write of the REWRITTEN
    * slice only — O(touched), never O(table) — which is the price of a
    * rewrite that survives retries. */
  def rewritePartitionsStaged(df: DataFrame, partCol: String,
                              path: String): Unit = {
    val staging = graft.Staging.fresh("rewrite-stage")
    df.write.mode("overwrite").partitionBy(partCol).parquet(staging)
    val staged = df.sparkSession.read.schema(df.schema).parquet(staging)
    upsertPartitions(staged, partCol, path)
  }

  /** Partition-pruned read (ref S3/S4: path-level month selection,
    * `transform_load.py:261-263,465-483`). The equality predicate on the
    * partition column never reads non-matching directories. */
  def readPartition(s: SparkSession, path: String, partCol: String,
                    value: String): DataFrame =
    s.read.parquet(path).where(col(partCol) === value)

  // ---------------------------------------------- versioned snapshot log

  /** The lake's registry is its log — the lakehouse-log convention
    * (Delta/Iceberg): every commit publishes one immutable, monotonically
    * numbered entry `_graft_log/NNNNNNNN.manifest`, and the lake's HEAD is
    * its newest entry, taken from one listing of the log. An entry's
    * lines are the version's live data files (relative paths), then its
    * active delete sidecars (`_dv/…`; no data file's relative path starts
    * with `_`, because listDataFiles skips `_` names). Readers resolve an
    * entry, never the directory listing, so aborted-ingest leftovers are
    * invisible to queries and VACUUM can reclaim them from storage
    * without a read ever racing the sweep. At 100 TB the directory
    * listing itself is the thing you cannot trust — object stores surface
    * half-committed multipart uploads and speculative task attempts as
    * real objects.
    *
    * Data files are immutable once written; a rewrite ADDS new files and
    * drops the replaced ones from the new entry only (copy-on-write), so
    * every retained version stays byte-readable — time travel,
    * change-data-feed at changed-file granularity, and safe concurrent
    * readers all fall out of the same discipline. Physical reclamation
    * happens only at VACUUM, whose live set is the UNION of every retained
    * entry, and only after `expireSnapshots` has dropped a version from
    * the log. */
  private val logDirName = "_graft_log"
  private val dvPrefix = "_dv/"

  /** All log verbs speak `org.apache.hadoop.fs.FileSystem`, not
    * `java.io.File` — the same ruling as the CorpusKey/Layouts walk: the
    * object-store argument above only holds when the implementation
    * resolves the path's own scheme (s3a://, hdfs://, file://). The conf
    * comes from the active session when one exists (so fs.* overrides
    * apply), else a default Configuration — these verbs are also called
    * from non-Spark maintenance contexts. The returned path is qualified,
    * so its scheme names the store it resolved to. */
  private def fsFor(path: String): (org.apache.hadoop.fs.FileSystem,
                                    org.apache.hadoop.fs.Path) = {
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    (fs, fs.makeQualified(p))
  }

  private def listDataFiles(path: String): Seq[String] = {
    val (fs, root) = fsFor(path)
    if (!fs.exists(root)) return Seq.empty
    val out = Seq.newBuilder[String]
    // per-level pruning, not list-then-filter: a hidden/_-prefixed
    // subtree (commit metadata, an aborted ingest's _temporary garbage)
    // is never DESCENDED INTO — on an object store that is the
    // difference between zero LIST calls and one page per ~1000 garbage
    // objects on every maintenance pass
    def walk(p: org.apache.hadoop.fs.Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          val r = if (rel.isEmpty) name else s"$rel/$name"
          if (st.isDirectory) walk(st.getPath, r)
          else if (name.endsWith(".parquet")) out += r
        }
      }
    walk(root, "")
    out.result().sorted
  }

  private def readTextLines(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    body.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** The one way a registry file lands — a log entry, a stats entry, a
    * Layouts manifest. `body` is written in full to a hidden temp file
    * beside `target` (`.`-prefixed and not ending in `.manifest`, so
    * neither a log listing nor a tail of the log's entries sees it), then
    * published in one step:
    *  - `exclusive` (a numbered log entry): fail-if-exists. If `target`
    *    already exists another writer published that version first, and
    *    the call throws ConcurrentModificationException — a committed
    *    version is never overwritten and the log never renumbers.
    *  - otherwise (a stats entry, a Layouts manifest): atomic replace —
    *    a reader sees the old file or the new one, never a partial one.
    *
    * A `file` path publishes through java.nio: a hard link for the
    * exclusive step, an atomic rename for the replace. Any other scheme
    * goes through Hadoop `FileContext.rename` with `Rename.NONE` or
    * `Rename.OVERWRITE`, which is atomic on HDFS and on ABFS with a
    * hierarchical namespace; on S3A a rename is a copy, so neither step
    * is atomic there and a lake on S3 needs the store's conditional put
    * in this place. (Hadoop's own local FS checks the target and then
    * renames, which is why `file` paths take the java.nio branch.)
    * Nothing is written in place, so no reader sees a truncated file,
    * and the java.nio branch leaves no `.crc` sibling to go stale. */
  private[etl] def publish(target: org.apache.hadoop.fs.Path, body: String,
                           exclusive: Boolean): Unit = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmpName = s".${target.getName}.${java.util.UUID.randomUUID()}.tmp"
    def conflict() = new java.util.ConcurrentModificationException(
      s"$target was published by another writer first — re-derive " +
        "against the current head and retry")
    if (Option(target.toUri.getScheme).forall(_ == "file")) {
      import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}
      val t = Paths.get(target.toUri.getPath)
      val tmp = t.resolveSibling(tmpName)
      Files.createDirectories(t.getParent)
      try {
        Files.write(tmp, bytes)
        if (exclusive) Files.createLink(t, tmp)
        else Files.move(tmp, t,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case e: Exception =>
          Files.deleteIfExists(tmp)
          throw (if (e.isInstanceOf[FileAlreadyExistsException]) conflict() else e)
      }
      if (exclusive) Files.delete(tmp)
    } else {
      import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options}
      val (fs, _) = fsFor(target.toString)
      val tmp = new org.apache.hadoop.fs.Path(target.getParent, tmpName)
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        FileContext.getFileContext(target.toUri, fs.getConf).rename(tmp, target,
          if (exclusive) Options.Rename.NONE else Options.Rename.OVERWRITE)
      } catch {
        case e: Exception =>
          fs.delete(tmp, false)
          throw (if (e.isInstanceOf[FileAlreadyExistsException]) conflict() else e)
      }
    }
  }

  private def logEntryPath(root: org.apache.hadoop.fs.Path, v: Int) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, logDirName), f"$v%08d.manifest")

  /** Retained snapshot versions, ascending. Expired versions are absent. */
  def snapshotVersions(path: String): Seq[Int] = {
    val (fs, root) = fsFor(path)
    val lp = new org.apache.hadoop.fs.Path(root, logDirName)
    if (!fs.exists(lp)) Seq.empty
    else fs.listStatus(lp).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toInt).sorted
  }

  /** A retained version's whole entry: data files, then `_dv/` sidecars.
    * Reading an EXPIRED (or never-committed) version fails loudly —
    * falling back to head would silently answer a historical query with
    * current data. */
  private def entryLines(path: String, version: Int): Seq[String] = {
    val (fs, root) = fsFor(path)
    val p = logEntryPath(root, version)
    require(fs.exists(p),
      s"snapshot version $version is not in the log at $path — expired or never committed")
    readTextLines(fs, p)
  }

  /** The live-file list of a retained snapshot. */
  def snapshotFiles(path: String, version: Int): Seq[String] =
    entryLines(path, version).filterNot(_.startsWith(dvPrefix))

  /** The head version and its live files, from one listing of the log;
    * (0, empty) on a lake with no log. */
  private def headOf(path: String): (Int, Seq[String]) =
    snapshotVersions(path).lastOption
      .fold((0, Seq.empty[String]))(v => (v, snapshotFiles(path, v)))

  /** The head's live files: the newest log entry's; empty with no log. */
  def manifestedFiles(path: String): Seq[String] = headOf(path)._2

  /** Head read: exactly the live files, with partition columns still
    * derived from the directory keys (`basePath`). A committed-but-EMPTY
    * entry (a takedown emptied the lake) is a valid state — it reads as
    * an empty frame, not a schema-inference crash over zero paths.
    * Callers whose downstream references columns pass the lake `schema`
    * so the empty frame RESOLVES them (an unschema'd empty frame would
    * trade the inference crash for an UNRESOLVED_COLUMN one); with no
    * schema and no files the frame is columnless, fit only for counting. */
  def readManifested(s: SparkSession, path: String,
                     schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readFilesOf(s, path, manifestedFiles(path), schema)

  /** Resolve an explicit relative-file list under `path` into a frame,
    * partition columns still derived from the directory keys
    * (`basePath`). The shared resolution for the head, AS-OF snapshot
    * reads, and the changed-file sides of a snapshot diff. An empty list
    * with a schema resolves columns as an empty frame (the emptied-lake
    * contract readManifested documents). */
  private[graft] def readFilesOf(s: SparkSession, path: String, rels: Seq[String],
                                 schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val files = rels.map(f => s"$path/$f")
    if (files.isEmpty)
      schema.map(sc => s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
        .getOrElse(s.emptyDataFrame)
    else {
      val r = s.read.option("basePath", path)
      val df = schema.map(r.schema).getOrElse(r).parquet(files: _*)
      // the file read APPENDS partition columns after the data columns
      // regardless of their position in the supplied schema, while the
      // empty-list branch above follows the schema's declared order —
      // normalize to the declared order so positional set ops
      // (exceptAll in snapshotChanges) line columns up whichever branch
      // produced each side
      schema.map(sc => df.select(sc.fieldNames.toIndexedSeq.map(col): _*))
        .getOrElse(df)
    }
  }

  /** Commit an explicit live-file list as the next snapshot version. The
    * commit is ONE step — its entry published fail-if-exists — so a
    * reader sees the previous head or the new one, never a partial
    * entry, and a writer that dies before the publish leaves the log as
    * it was. The entry also lists the version's active delete sidecars:
    * the previous version's, carried forward (so a version's deletes are
    * always stated on the version itself — no read-time inheritance
    * walk, and expiring any prefix of the log can never detach a
    * retained version from its deletes), or the caller's override
    * (deleteLogged appends its new sidecar, compactDeletes passes the
    * empty list). Returns the committed version number (1-based,
    * monotonic).
    *
    * Two commits can never both take one version: the later publish
    * throws ConcurrentModificationException, with or without an
    * expectation. `expectedHead` is the optimistic-concurrency check (the
    * lakehouse commit protocol): a writer states the version its file
    * list was DERIVED FROM, and a commit whose expectation no longer
    * matches the head throws too — that catches a writer whose list came
    * from an older head, which the exclusive publish alone cannot see.
    * Either loser re-derives against the new head and retries (the spec
    * walks the rebase). */
  def commitSnapshot(path: String, files: Seq[String],
                     expectedHead: Option[Int] = None,
                     sidecarsOverride: Option[Seq[String]] = None): Int = {
    val (_, root) = fsFor(path)
    val cur = snapshotVersions(path).lastOption.getOrElse(0)
    expectedHead.foreach { e =>
      if (cur != e) throw new java.util.ConcurrentModificationException(
        s"commit conflict at $path: expected head $e but found $cur — " +
          "re-derive the file list against the current head and retry")
    }
    val sidecars = sidecarsOverride.getOrElse(deleteSidecars(path, cur))
    publish(logEntryPath(root, cur + 1),
      (files.sorted ++ sidecars).mkString("\n"), exclusive = true)
    cur + 1
  }

  /** Bootstrap commit: snapshot the directory's CURRENT data files.
    * Only valid while every on-disk file is live (a fresh write, before
    * any copy-on-write rewrite leaves logically-deleted files behind);
    * later commits pass their file lists explicitly. */
  def commitSnapshotFromListing(path: String): Int =
    commitSnapshot(path, listDataFiles(path))

  /** Time-travel read: the lake AS OF `version`, resolved through that
    * version's manifest. Cost is the snapshot's own file set — the log
    * lookup is one small-file read, never a listing. */
  def readSnapshot(s: SparkSession, path: String, version: Int,
                   schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readFilesOf(s, path, snapshotFiles(path, version), schema)

  /** Append new rows under the log: write files, commit head ∪ added.
    * Newly added files are identified by listing diff (before/after),
    * which is safe because data files are immutable AND file landings
    * to one lake root serialize: the optimistic check catches an
    * interleaved COMMIT (the long-latency window), but a concurrent
    * writeUncommitted landing files between this writer's two listings
    * would be misattributed into the diff and published unaudited —
    * concurrent file-landing writers need the store's conditional-put
    * under the landing, the same primitive the commit protocol notes.
    * The head list and its version are captured TOGETHER up front and
    * the commit carries the version as its optimistic expectation, so a
    * writer that interleaved a commit between this writer's read and
    * its own commit surfaces as a loud conflict, never a lost update.
    * Returns the new version. */
  def appendLogged(df: DataFrame, partCol: String, path: String): Int = {
    val (base, head) = headOf(path)
    val added = writeUncommitted(df, partCol, path)
    commitSnapshot(path, head ++ added, expectedHead = Some(base))
  }

  /** WRITE-AUDIT-PUBLISH, step one: land a batch's files in the lake
    * WITHOUT committing them — they exist on storage but no log entry
    * references them, so every reader (head, time travel, CDF) is blind
    * to them. Returns the written relative paths: the caller audits the
    * pending batch by reading exactly those files (readFilesOf), then
    * either PUBLISHES (commitSnapshot(head ∪ pending) — one published
    * entry makes the whole batch visible at once) or simply
    * walks away — an abandoned batch is indistinguishable from an
    * aborted writer's leftovers and the retention-aged vacuum reclaims
    * it. The quarantine the reference approximates with staging tables
    * falls out of the log for free: data files are invisible until an
    * entry says otherwise. */
  def writeUncommitted(df: DataFrame, partCol: String, path: String): Seq[String] = {
    val before = listDataFiles(path).toSet
    df.write.mode("append").partitionBy(partCol).parquet(path)
    listDataFiles(path).filterNot(before)
  }

  /** Flat-layout overload (no partition key — range-clustered and other
    * unpartitioned lakes). */
  def writeUncommitted(df: DataFrame, path: String): Seq[String] = {
    val before = listDataFiles(path).toSet
    df.write.mode("append").parquet(path)
    listDataFiles(path).filterNot(before)
  }

  /** Copy-on-write partition rewrite under the log: survivors of the
    * touched partitions land as NEW part files (plain append — no
    * existing file is modified or deleted), and the new snapshot's
    * manifest keeps every untouched partition's files while dropping the
    * touched partitions' old ones. The replaced files stay on disk,
    * readable through every retained earlier snapshot, until
    * expireSnapshots + vacuum reclaim them.
    *
    * Same partition-complete contract as upsertPartitions, with the same
    * staging discipline as rewritePartitionsStaged (`df` is typically a
    * lazy plan over the very files being logically replaced; the staged
    * copy also pins the schema so partition-type inference cannot drift
    * between the two hops). Touched partitions are derived from the
    * files the write produced — already in escaped directory-key form —
    * so an all-rows-deleted partition (which writes no file) must be
    * named explicitly in `emptiedDirs` (relative dir keys, e.g.
    * `source=web`) for its old files to leave the manifest. Cost:
    * O(touched slice), never O(table). Returns the new version. */
  def rewritePartitionsLogged(df: DataFrame, partCol: String, path: String,
                              emptiedDirs: Seq[String] = Nil,
                              sidecarsOverride: Option[Seq[String]] = None): Int = {
    val (base, head) = headOf(path)
    val staging = graft.Staging.fresh("logged-rewrite")
    df.write.mode("overwrite").partitionBy(partCol).parquet(staging)
    val added = writeUncommitted(
      df.sparkSession.read.schema(df.schema).parquet(staging), partCol, path)
    val touched = added.flatMap(dirOf).toSet ++ emptiedDirs
    val kept = head.filterNot(f => dirOf(f).exists(touched.contains))
    // the commit carries the head version this rewrite derived from —
    // an interleaved writer's commit surfaces as a conflict (see
    // appendLogged), and the survivor files staged here remain valid
    // inputs for the retry's re-derivation
    commitSnapshot(path, kept ++ added, expectedHead = Some(base),
      sidecarsOverride = sidecarsOverride)
  }

  private def dirOf(rel: String): Option[String] =
    rel.lastIndexOf('/') match {
      case -1 => None
      case i  => Some(rel.substring(0, i))
    }

  /** Change-data-feed between two retained snapshots, at CHANGED-FILE
    * granularity: only files present in exactly one manifest are read,
    * and rows common to both sides (a rewritten partition's untouched
    * survivors) cancel under multiset difference — so the feed is
    * row-level inserts and deletes (an update = one delete + one
    * insert, the standard CDC convention) at O(changed files) cost.
    * Contrast q125's snapshot diff, which hashes BOTH whole corpora:
    * the log is what turns an O(lake) diff into an O(delta) one. */
  def snapshotChanges(s: SparkSession, path: String, vOld: Int, vNew: Int,
                      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val oldF = snapshotFiles(path, vOld).toSet
    val newF = snapshotFiles(path, vNew).toSet
    val addedRels = (newF -- oldF).toSeq.sorted
    val removedRels = (oldF -- newF).toSeq.sorted
    // without a caller schema, a ONE-SIDED diff (pure append / pure
    // delete) must still column-align its empty side for the positional
    // set ops below — borrow the non-empty side's resolved schema; a
    // no-change diff has nothing to resolve and returns a single-column
    // empty feed
    val sidesSchema = schema.orElse {
      (addedRels ++ removedRels).headOption
        .map(f => Some(readFilesOf(s, path, Seq(f), None).schema))
        .getOrElse(None)
    }
    if (sidesSchema.isEmpty)
      return s.emptyDataFrame
        .withColumn("change_type", lit(""))
    val addedDf = readFilesOf(s, path, addedRels, sidesSchema)
    val removedDf = readFilesOf(s, path, removedRels, sidesSchema)
    addedDf.exceptAll(removedDf).withColumn("change_type", lit("insert"))
      .unionByName(
        removedDf.exceptAll(addedDf).withColumn("change_type", lit("delete")))
  }

  // ---------------------------------------------- manifest column stats

  /** Per-file column statistics in the log (the Iceberg manifest-stats
    * discipline): a `.stats` entry records min/max of chosen LONG
    * columns per data file, computed in ONE scan at commit time, and a
    * range read prunes its FILE LIST against them before touching
    * storage — data skipping one level finer than partition pruning,
    * and the payoff of any write that clusters the column (a
    * range-partitioned write, an ingest whose batches are
    * time-ordered). Stats are advisory: a file without a recorded stat
    * is always read, and the exact predicate is re-applied after the
    * prune, so correctness never depends on the sidecar. */
  private def statsEntryPath(root: org.apache.hadoop.fs.Path, v: Int) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, logDirName), f"$v%08d.stats")

  /** Compute and record per-file min/max for `cols` (long-typed) on a
    * snapshot's files. One scan, grouped by `_metadata.file_path`; the
    * collect is bounded by |files| × |cols|. All-null files skip the
    * line (no stat = never skipped). Delegates to the incremental
    * maintainer — with no previous entry the carry is empty and every
    * file scans, the bootstrap case; files being immutable makes the
    * two always equivalent. */
  def writeFileStats(s: SparkSession, path: String, version: Int,
                     cols: Seq[String]): Unit =
    maintainFileStats(s, path, version, cols)

  /** INCREMENTAL stats maintenance: bring `version`'s stats entry up to
    * date at DELTA cost — lines for files already covered by the
    * previous version's entry CARRY (stats are per-file and files are
    * immutable, so a carried line can never go stale); only files with
    * no carried line are scanned. Dropped files' lines fall away with
    * the carry filter. An append's stats cost is the batch; a rewrite's
    * is its new files; the full-scan writeFileStats is only ever needed
    * once, at bootstrap. Contract: the column set is stable per lake —
    * a carried file cannot distinguish "col was all-null" from "col was
    * never requested", so widening `cols` on an existing lake needs the
    * entries rebuilt (delete the `.stats` entry, re-run). */
  def maintainFileStats(s: SparkSession, path: String, version: Int,
                        cols: Seq[String]): Unit = {
    val files = snapshotFiles(path, version).toSet
    val carried = fileStats(path, version - 1).filter {
      case ((f, _), _) => files.contains(f)
    }
    val covered = carried.keySet.map(_._1)
    val missing = files.filterNot(covered).toSeq.sorted
    val fresh: Map[(String, String), (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{col => c, min => mn, max => mx}
        val aggs = cols.flatMap(k => Seq(mn(k).as(s"mn_$k"), mx(k).as(s"mx_$k")))
        val absRoot = fsFor(path)._2.toUri.getPath
        readFilesOf(s, path, missing, None)
          .groupBy(c("_metadata.file_path").as("fp"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().flatMap { r =>
            val fp = r.getString(0)
            val rel = fp.substring(fp.indexOf(absRoot) + absRoot.length)
              .stripPrefix("/")
            cols.zipWithIndex.flatMap { case (k, i) =>
              if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
              else Some((rel, k) -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
            }
          }.toMap
      }
    val lines = (carried ++ fresh).toSeq
      .map { case ((f, k), (lo, hi)) => s"$f|$k|$lo|$hi" }.sorted
    publish(statsEntryPath(fsFor(path)._2, version), lines.mkString("\n"),
      exclusive = false)
  }

  /** The recorded stats of a snapshot: (file, col) → (min, max). */
  def fileStats(path: String, version: Int): Map[(String, String), (Long, Long)] = {
    val (fs, root) = fsFor(path)
    val p = statsEntryPath(root, version)
    if (!fs.exists(p)) Map.empty
    else readTextLines(fs, p).map { l =>
      val Array(rel, k, lo, hi) = l.split('|')
      (rel, k) -> (lo.toLong, hi.toLong)
    }.toMap
  }

  /** Range read with manifest-stats file skipping: drop every file
    * whose recorded [min,max] cannot intersect [lo,hi], read the rest,
    * and re-apply the exact predicate. Returns the frame and the
    * (filesRead, filesTotal) prune accounting so callers can audit the
    * skip rate. */
  def readSnapshotRange(s: SparkSession, path: String, version: Int,
                        keyCol: String, lo: Long, hi: Long,
                        schema: Option[org.apache.spark.sql.types.StructType] = None): (DataFrame, (Int, Int)) = {
    import org.apache.spark.sql.functions.{col => c}
    val files = snapshotFiles(path, version)
    val stats = fileStats(path, version)
    val kept = files.filter { f =>
      stats.get((f, keyCol)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true
      }
    }
    (readFilesOf(s, path, kept, schema)
      .filter(c(keyCol) >= lo && c(keyCol) <= hi), (kept.size, files.size))
  }

  // ------------------------------------------------- deletion vectors

  /** MERGE-ON-READ deletes (Delta deletion vectors / Iceberg v2
    * equality deletes): the OTHER takedown strategy next to
    * copy-on-write. A rewrite (rewritePartitionsLogged) pays O(touched
    * partitions) to delete k rows; for a small takedown against huge
    * partitions, a DELETE SIDECAR pays O(k): the delete keys land as a
    * parquet file under the hidden `_dv/` tree (invisible to
    * listDataFiles, so never vacuum-examined or listed as data), and
    * the version's own log entry lists its ACTIVE sidecars as `_dv/`
    * lines after its data files — full-list, not delta, so deletes
    * time-travel exactly like data: a version's read is its data files
    * anti-joined with its sidecar union, and an earlier version never
    * sees a later delete. Readers pay the anti-join until a compaction
    * (compactDeletes) materializes survivors through the copy-on-write
    * path and commits an empty sidecar list — the standard
    * read-amplification/write-amplification trade, chosen per table. */
  /** The active delete-sidecar files (relative paths) of a retained
    * snapshot: its entry's `_dv/` lines. Version 0 (no log) has none. */
  def deleteSidecars(path: String, version: Int): Seq[String] =
    if (version == 0) Seq.empty
    else entryLines(path, version).filter(_.startsWith(dvPrefix))

  /** Commit a merge-on-read delete: write `keys` (a bounded frame with
    * the single key column `keyCol`) as a new sidecar parquet, and
    * commit the NEXT version with the SAME data files and the previous
    * version's sidecars plus the new one. O(keys) written, zero data
    * files touched. Returns the new version. */
  def deleteLogged(keys: DataFrame, keyCol: String, path: String): Int = {
    val (base, head) = headOf(path)
    require(base >= 1, s"deleteLogged needs a committed snapshot at $path")
    val rel = s"${dvPrefix}dv-$base-${java.util.UUID.randomUUID().toString.take(8)}"
    keys.select(keyCol).write.mode("overwrite").parquet(s"$path/$rel")
    commitSnapshot(path, head, expectedHead = Some(base),
      sidecarsOverride = Some(deleteSidecars(path, base) :+ rel))
  }

  /** Merge-on-read snapshot read: the version's data files anti-joined
    * with the union of its active delete sidecars on `keyCol`. With no
    * sidecars this IS readSnapshot. The sidecar union is O(total
    * deletes) — bounded by takedown volume, broadcast-sized in
    * practice — and the anti-join is the only read-side cost deletes
    * add before compaction. */
  def readSnapshotMergeOnRead(s: SparkSession, path: String, version: Int,
                              keyCol: String,
                              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val base = readSnapshot(s, path, version, schema)
    val dvs = deleteSidecars(path, version)
    if (dvs.isEmpty) base
    else {
      val keys = dvs.map(d => s.read.parquet(s"$path/$d"))
        .reduce(_.unionByName(_)).distinct()
      base.join(org.apache.spark.sql.functions.broadcast(keys),
        Seq(keyCol), "left_anti")
    }
  }

  /** Materialize pending deletes: rewrite ONLY the partitions that
    * still hold deleted keys through the copy-on-write path, then mark
    * the new version's sidecar list EMPTY (its entry has no `_dv/` lines
    * — the version carries no deletes, and earlier versions keep theirs
    * for time travel). The touched-partition set comes from one
    * semi-join of the lake against the broadcast sidecar keys — a
    * bounded driver scalar. Sidecar FILES stay on disk for the retained
    * versions that reference them; they live outside the data tree, so
    * vacuum never needs to know. Returns the new version. */
  def compactDeletes(s: SparkSession, path: String, partCol: String,
                     keyCol: String,
                     schema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    val (base, head) = headOf(path)
    val dvs = deleteSidecars(path, base)
    if (dvs.isEmpty)
      return commitSnapshot(path, head,
        expectedHead = Some(base), sidecarsOverride = Some(Nil))
    val keys = dvs.map(d => s.read.parquet(s"$path/$d"))
      .reduce(_.unionByName(_)).distinct()
    val lake = readSnapshot(s, path, base, schema)
    val touched = lake.join(org.apache.spark.sql.functions.broadcast(keys),
        Seq(keyCol), "left_semi")
      .select(partCol).distinct().collect().map(_.get(0).toString).toSeq
    val survivors = lake
      .filter(org.apache.spark.sql.functions.col(partCol)
        .isin(touched: _*))
      .join(org.apache.spark.sql.functions.broadcast(keys),
        Seq(keyCol), "left_anti")
    // a partition whose rows are ALL deleted writes no survivor file,
    // so the rewrite cannot infer it was touched — name it explicitly
    // (the emptiedDirs contract) or its old files would stay in the
    // entry while the sidecar list empties, resurrecting the rows.
    // Both distinct lists are bounded driver scalars.
    val survParts = survivors.select(partCol).distinct()
      .collect().map(_.get(0).toString).toSet
    val emptied = touched.filterNot(survParts)
      .map(v => s"$partCol=$v").sorted
    rewritePartitionsLogged(survivors, partCol, path, emptied,
      sidecarsOverride = Some(Nil))
  }

  /** Drop every snapshot older than the newest `keepLast` from the log.
    * Purely a LOG operation — data files are untouched; a later vacuum
    * reclaims the ones no retained snapshot references. Returns the
    * expired versions. */
  def expireSnapshots(path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must retain at least the head snapshot")
    val (fs, root) = fsFor(path)
    val drop = snapshotVersions(path).dropRight(keepLast)
    drop.foreach { v =>
      fs.delete(logEntryPath(root, v), false)
      // the version's stats go with it (sidecar FILES may still be
      // referenced by retained versions' own carried lines — they are
      // small and live outside the data tree; a sweep of unreferenced
      // sidecars would mirror vacuum over _dv/)
      fs.delete(statsEntryPath(root, v), false)
    }
    drop
  }

  /** VACUUM — the third lake-maintenance verb next to takedown (q250)
    * and compaction (q256): list the lake's data files, diff against the
    * retained log entries, and DELETE unlisted files whose age exceeds the
    * retention window. The window is the standard in-flight-writer grace
    * period (Delta's VACUUM semantics): a young orphan may be a writer
    * mid-commit, so it is SPARED this pass and swept by a later one.
    * Files a retained entry lists are never deleted regardless of age —
    * the log is the definition of live. Idempotent and retry-safe: deletion of
    * an already-gone file is a no-op, and re-running sweeps nothing new.
    * Returns one row per examined orphan: (partition dir, file name,
    * swept?). Cost is O(listing + orphans), never O(data). */
  def vacuum(path: String, retentionMs: Long, nowMs: Long): Seq[(String, String, Boolean)] = {
    // NO log is not the same as an empty entry: without a live-file
    // RECORD, every data file would read as an orphan and an aged lake
    // would be swept whole — refuse loudly. A committed-but-empty entry
    // (a takedown emptied the lake) is a valid record and its orphans
    // remain reclaimable, so the guard tests the log, not the list.
    val (fs, root) = fsFor(path)
    val versions = snapshotVersions(path)
    require(versions.nonEmpty, s"vacuum refused: no snapshot log at $path — " +
      "commit one with commitSnapshotFromListing before sweeping")
    // live = the UNION of every retained entry: a file a historical
    // version still references is not reclaimable — sweeping it would
    // break time travel mid-retention. Only after expireSnapshots drops
    // the version does its exclusive file set become orphaned.
    val live = versions.flatMap(v => snapshotFiles(path, v)).toSet
    listDataFiles(path).filterNot(live).flatMap { rel =>
      val p = new org.apache.hadoop.fs.Path(root, rel)
      // the stat races a concurrent sweep or a self-cleaning aborted
      // writer: a file gone between the listing and here is simply no
      // longer an orphan to examine (the retry-safety contract)
      val mtime = try Some(fs.getFileStatus(p).getModificationTime)
        catch { case _: java.io.IOException => None }
      mtime.map { t =>
        // the report carries what actually HAPPENED, not what was
        // decided: delete of an already-gone file returns false (the
        // idempotent no-op) and a thrown delete — read-only mount,
        // store error — reports false too, so n_swept never claims
        // space that is still occupied
        val swept = nowMs - t > retentionMs &&
          (try fs.delete(p, false) catch { case _: java.io.IOException => false })
        val (dir, name) = rel.lastIndexOf('/') match {
          case -1 => ("", rel)
          case i => (rel.substring(0, i), rel.substring(i + 1))
        }
        (dir, name, swept)
      }
    }
  }

  /** Byte-cheap lake clone, for running a maintenance verb fresh on every
    * invocation against a shared constructed fixture: hardlink every
    * file, log included. No verb modifies a file in place — data files
    * and `_dv/` sidecars are copy-on-write, and every log entry lands
    * through [[publish]] as a new file that replaces the clone's own
    * link — so a commit, a stats refresh or a vacuum in the clone never
    * reaches the source's inodes. O(file count) on a store with links;
    * falls back to a byte copy elsewhere. The clone is a Staging dir — swept at JVM
    * exit like every other staged intermediate. */
  def cloneLake(srcPath: String, tag: String): String = {
    val dst = graft.Staging.fresh(tag)
    val src = java.nio.file.Paths.get(srcPath)
    val dstRoot = java.nio.file.Paths.get(dst)
    val stream = java.nio.file.Files.walk(src)
    try stream.forEach { p =>
      val rel = src.relativize(p).toString
      if (rel.nonEmpty) {
        val t = dstRoot.resolve(rel)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else
          try java.nio.file.Files.createLink(t, p)
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              java.nio.file.Files.copy(p, t)
          }
      }
    } finally stream.close()
    dst
  }

  /** Bucketed warehouse layout — the reference's partition-layout
    * optimization (`airflow/dags/spark_transform_load.py:199,210`: monthly
    * partitioning so repeated time-bounded scans touch one slice) taken to
    * its Spark-native conclusion for JOINS: `bucketBy(n, key)` pre-hashes
    * rows into n files per key at WRITE time, so every later join or
    * aggregation on that key reads co-partitioned data and plans with NO
    * shuffle on either side (PlanShapeSpec asserts zero Exchange under the
    * join). At 100 TB this converts the per-query fact-side shuffle — the
    * dominant cost of every fact⨝dim query — into a one-time layout cost
    * paid at load. `sortBy` additionally orders each bucket file so a
    * sort-merge join can skip or narrow its sort phase.
    *
    * Bucketed tables go through the session catalog (`saveAsTable` — the
    * bucket metadata lives in the table definition, which a plain
    * `.parquet(path)` write has nowhere to record); `path` keeps the data
    * external to the warehouse dir. */
  def writeBucketed(df: DataFrame, nBuckets: Int, key: String,
                    path: String, table: String): Layouts.BucketedReg = {
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .option("path", path)
      .saveAsTable(table)
    // everything a manifest needs to re-register this table in a LATER
    // JVM without touching the data (Layouts.register)
    Layouts.BucketedReg(table, path, nBuckets, key,
      df.sparkSession.table(table).schema.toDDL)
  }
}
