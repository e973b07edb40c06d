package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared streaming source construction: the events table as a file-source
  * stream. The TIMESTAMP(NANOS) restore is delegated to
  * graft.Tables.restoreEventTs — the single conversion both the batch and
  * streaming readers go through.
  */
object StreamSources {

  /** File-source streams must be given a schema up front (no inference at
    * plan time), which costs a batch footer probe per call. The probed
    * schema is a pure function of the source files, so it caches per
    * corpus fingerprint ([[graft.CorpusKey]] — mtime/size/name-set, the
    * same key discipline as every staged index): a fixture regeneration
    * re-probes, repeat constructions in one JVM (q63 builds four sources
    * from two tables; every bench trial rebuilds its sources) don't. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def probedSchema(s: SparkSession, dir: String, table: String): StructType =
    schemaCache.computeIfAbsent(graft.CorpusKey(dir, table),
      _ => s.read.parquet(s"$dir/$table").schema)

  /** A per-stream child session whose shuffle-partition count — which
    * fixes the state store's partition fan-out for the lifetime of the
    * query's checkpoint — is bounded low; build the whole topology (and
    * read its memory sink) on the returned session. State partitioning is a per-pipeline DEPLOYMENT
    * knob, not a semantics knob: every stateful operator writes one delta
    * file per state partition per micro-batch to the checkpoint, so a
    * harness-scale keyspace under the session's 32 batch partitions pays
    * 8× the checkpoint fan-out for zero parallelism win (the state fits
    * in one). A 100 TB deployment sizes this UP with key cardinality and
    * throughput (GRAFT_STREAM_STATE_PARTITIONS overrides) — the knob and
    * the reasoning are the point; 4 is the measured local-fixture
    * optimum (q52 A/B medians: 4 ≈ 2 < 8 < 32, the last gap ~2×).
    * Results are partition-count-independent (hash
    * partitioning on the group key only moves rows between stores), which
    * the oracle parity of every streaming query continues to check. */
  private[graft] def boundedStateSession(s: SparkSession): SparkSession = {
    // A CHILD session (newSession: same SparkContext, shared cached data
    // and extensions-injected functions, but its OWN SQLConf and temp-view
    // catalog), so the override is visible only to the one topology built
    // on it — a concurrent drain or batch query on the parent (or on a
    // sibling child) can never observe it. This replaced a set/restore of
    // the parent session's conf, which was safe only under strictly
    // sequential drains; ConcurrentDrainSpec drives two drains at once.
    // Builder-level configs (UTC, nanosAsLong, extensions) live in the
    // shared SparkConf, so the child inherits them, and with artifact
    // isolation off (GraftSession) the child shares the parent's compiled
    // code: a drain recompiles only the stages that inline its watermark.
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_STREAM_STATE_PARTITIONS", "4"))
    // second deployment knob, same shape: the state-store provider.
    // Unset = Spark's default HDFS-backed in-memory provider (right for
    // fixture-sized state); a deployment whose per-partition state
    // outgrows executor memory sets the RocksDB provider class here —
    // RocksDbStateSpec proves provider-identical results on this
    // suite's heaviest stateful topologies, so the knob is a pure
    // memory/latency trade (r16 A/B at sf0.1: RocksDB costs ~0.2-0.4 s
    // per drain on fixture-sized state — see OPTIMIZATION_r16.md)
    sys.env.get("GRAFT_STREAM_STATE_PROVIDER").filter(_.nonEmpty).foreach(
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    ss
  }

  /** readStream over the events parquet (file-source streams need a
    * directory/glob, not a bare file path — hence basePath + glob). */
  def events(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    graft.Tables.restoreEventTs(
      s.readStream.schema(probedSchema(s, dir, "events.parquet"))
        .option("basePath", dir).parquet(s"$path*"))
  }

  /** readStream over the documents parquet — the text-ingest stream for
    * content-based dedup (no timestamp restore needed; documents carry no
    * nanosecond columns). */
  def documents(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    s.readStream.schema(probedSchema(s, dir, "documents.parquet"))
      .option("basePath", dir).parquet(s"$path*")
  }
}
