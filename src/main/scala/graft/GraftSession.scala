package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the harness (`local[N]`, single JVM) but with settings that
  * transfer to a real cluster: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to cores rather than the
  * 200 default, UTC session time zone (oracle parity), and microsecond
  * parquet timestamps (portable across readers).
  *
  * Two settings keep compiled code for the life of the JVM. Spark sizes
  * its codegen cache once per JVM, at the first code generation, and
  * every child session inherits the builder's conf, so both belong here,
  * not on a running session:
  *   - `spark.sql.codegen.cache.maxEntries` = 1000. Spark's cache of
  *     generated classes holds 100 by default, and one `etl_monthly`
  *     round generates 174 distinct classes (one `corpus_curation`
  *     round 186). At 100 a session that runs the month again recompiled
  *     about 155 classes per round, and its tasks then ran that code
  *     before the JIT had compiled it; at 1000 a repeated round compiles
  *     none.
  *   - `spark.sql.artifact.isolation.enabled` = false. Spark keys the
  *     cache by the session's artifact classloader, and with isolation on
  *     each `newSession()` has its own, so every child session (each
  *     stream drain, `propagateLabels`, `pagerankConverged`) recompiled
  *     everything it ran: a `q36` drain compiled 21 classes on every
  *     run. The program adds no per-session jars, files or artifacts, so
  *     one shared classloader loses nothing; turn isolation back on only
  *     if it starts to.
  *
  * What still compiles again: a stage whose generated code inlines a
  * literal compiles once per distinct value, for example E3's min/max
  * bounds and a drain's watermark. `CodegenReuseSpec` pins both settings.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Spark 4.1's checksum checkpoint manager can deadlock closing state
      // store delta files on local FS (seen hanging flatMapGroupsWithState
      // commits); corruption detection is for durable cluster checkpoints
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // the driver fixtures store events.ts as TIMESTAMP(NANOS); Spark 4
      // refuses it unless read as long (we convert back in Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.artifact.isolation.enabled", "false")

  def getOrCreate(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
