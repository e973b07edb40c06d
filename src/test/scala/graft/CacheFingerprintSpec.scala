package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache-key discipline: every standing index is a graft.etl.Layouts
  * entry whose attach check is graft.CorpusKey — a part-file-level
  * fingerprint (max mtime + total bytes + file count + sorted-name
  * hash) — and no call site memoizes around it, so an IN-SESSION
  * fixture regeneration can never serve stale staged state. The holes
  * this closes: per-JVM memos keyed on the BARE dir (q85's fingerprint
  * index, the Z-order layout, q62's bucketed pair — any regen was
  * invisible for the JVM lifetime), and keys on the parquet DIRECTORY's
  * own mtime:length, which is 1-second-granular and size-blind. The
  * name hash carries Spark's per-job part-file UUIDs, so even a
  * same-second, same-byte-count rewrite misses. */
class CacheFingerprintSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  /** Drop the catalog tables a throwaway dir's layouts registered, so
    * later suites see only the tables of the dirs they query. */
  private def dropTablesOf(dir: String): Unit = {
    val suffix = etl.Layouts.nameSuffix(dir)
    spark.catalog.listTables().collect().map(_.name).filter(_.contains(suffix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CorpusKey fails loudly on a missing source") {
    val e = intercept[IllegalArgumentException] {
      CorpusKey("/nonexistent_graft_dir", "documents.parquet")
    }
    assert(e.getMessage.contains("source missing"))
  }

  test("CorpusKey's Hadoop walk reproduces the java.io.File walk over the content files") {
    // the storage-agnostic port must not change the fingerprint
    // DISCIPLINE: replay the pre-port java.io.File walk and demand the
    // identical key text over the content part files. The one legitimate
    // delta: Hadoop's ChecksumFileSystem hides its own `.xxx.crc` shadow
    // files (implementation artifacts of LOCAL fs, absent on HDFS/object
    // stores), so the replica skips them too — every semantic file, its
    // bytes, and its mtime land in both keys identically
    val dir = Staging.fresh("ckhadoop")
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("day", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(s"$dir/t.parquet")
    val root = new java.io.File(dir, "t.parquet")
    val rootPath = root.toPath
    var maxMtime = 0L
    var bytes = 0L
    val rels = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(walk) }
      else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) ()
      else {
        maxMtime = math.max(maxMtime, f.lastModified())
        bytes += f.length()
        rels += rootPath.relativize(f.toPath).toString
      }
    walk(root)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rels.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = s"${root.getPath}@$maxMtime:$bytes:${rels.size}:$digest"
    assert(CorpusKey(dir, "t.parquet") == expected)
    assert(rels.exists(_.contains("/")), "fixture must exercise nested partition dirs")
  }

  test("CorpusKey misses on a same-content rewrite (part-name UUIDs)") {
    val dir = Staging.fresh("ckey")
    spark.range(100).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val k1 = CorpusKey(dir, "t.parquet")
    // identical rows, identical layout, possibly the same mtime second
    // and the same byte count — only the embedded job UUID differs
    spark.range(100).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val k2 = CorpusKey(dir, "t.parquet")
    assert(k1 != k2, "a rewrite must change the fingerprint")
  }

  test("Zorder layout rebuilds after an in-session events regen") {
    val dir = Staging.fresh("ckzord")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val n1 = spark.read.parquet(etl.Zorder.layoutFor(spark, dir)).count()
    assert(n1 == ev.count())
    // regenerate with half the rows: a stale layout would keep serving n1
    ev.filter("event_id % 2 = 0")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val n2 = spark.read.parquet(etl.Zorder.layoutFor(spark, dir)).count()
    assert(n2 == ev.filter("event_id % 2 = 0").count() && n2 != n1,
      "the layout map must miss on the regenerated corpus, not serve stale")
  }

  test("q85 fingerprint index rebuilds after an in-session documents regen") {
    val dir = Staging.fresh("ckfp")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r1 = SparkEntry.queries("q85_bucketed_dedup")(spark, dir).count()
    // drop half the corpus AND half the batch: verdicts must change
    docs.filter("doc_id % 2 = 0")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r2 = SparkEntry.queries("q85_bucketed_dedup")(spark, dir).count()
    val expected = docs.filter("doc_id % 2 = 0 and doc_id % 10 = 7").count()
    assert(r2 == expected && r2 != r1,
      "the fingerprint index must miss on the regenerated corpus, not serve stale")
    dropTablesOf(dir)
  }

  test("q62 bucketed pair rebuilds after an in-session regen") {
    import org.apache.spark.sql.functions._
    val dir = Staging.fresh("ckbkt")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    customer.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    def q62(): Seq[(String, Long, Double)] =
      SparkEntry.queries("q62_bucketed_join")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val r1 = q62()
    // regenerate with half the orders: a stale layout would keep serving r1
    val half = orders.filter("o_orderkey % 2 = 0")
    half.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r2 = q62()
    val expected = half.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("bigint"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("double"))
      .orderBy("c_mktsegment").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(r2 == expected && r2 != r1,
      "the bucketed pair must miss on the regenerated orders, not serve stale")
    dropTablesOf(dir)
  }
}
