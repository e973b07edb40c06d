package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** One timed operation: a public call into the program. */
final case class OpSample(name: String, seconds: Double)

/** The benchmark's side of every call into the program: times each
  * operation from outside, checks its output, and — while tracing —
  * records a span per layer call and tags the call's Spark jobs with the
  * span's job group so the [[Probe]] can attribute runtime counters. */
final class Harness(val spark: SparkSession, val cpus: Int, val tracer: Tracer) {
  var probe: Option[Probe] = None
  val samples = ArrayBuffer[OpSample]()
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()

  /** Wrap one call into a layer in a span. */
  def span[T](name: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val sc = spark.sparkContext
      val (prevGroup, prevDesc) =
        (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
      val id = tracer.open(name, tracer.currentOp)
      sc.setJobGroup(Probe.group(id), name)
      try body
      finally {
        tracer.close(id)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  /** A root span (set-up or a timed round); returns its wall seconds. */
  def section(name: String)(body: => Unit): (Double, Long) = {
    val t0 = System.nanoTime()
    var id = 0L
    if (tracer.enabled) {
      id = tracer.open(name, 0L)
      try body finally tracer.close(id)
    } else body
    ((System.nanoTime() - t0) / 1e9, id)
  }

  /** Run one operation: `body` is its timed latency; `check` then
    * inspects the output and returns a reason when it is wrong. A throw
    * from either counts as a failed operation. Returns the output if the
    * operation passed. */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val opSpan = if (tracer.enabled) tracer.open("bench.op", tracer.newOp()) else 0L
    try {
      val t0 = System.nanoTime()
      val out = try Right(body) catch { case NonFatal(e) => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val verdict = out match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        case Right(v) =>
          try span("bench.check")(check(v))
          catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      samples += OpSample(name, dt)
      System.err.println(f"[perfbench] op $name%-40s $dt%8.3f s${verdict.fold("")(" FAILED: " + _)}")
      verdict.foreach(fail(name, _))
      out.toOption.filter(_ => verdict.isEmpty)
    } finally if (opSpan != 0L) tracer.close(opSpan)
  }

  /** Count an operation already timed as failed. */
  def fail(name: String, why: String): Unit = {
    failed += 1
    errors += s"$name: ${why.take(300)}"
  }

  /** Bench.evaluateAll's action — an xxhash64 over every output column,
    * folded with bit_xor — returning the folded hash (null for no rows). */
  def evaluate(df: DataFrame): Option[Long] = {
    val r = hashPlan(df).collect().head
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private def hashPlan(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*)).as("h"))
      .agg(expr("bit_xor(h)"))

  /** A registered query, built and evaluated; returns the DataFrame (for
    * the output check) and its hash. While tracing, building the
    * DataFrame and forcing its executed plan is `ops.<module>.plan` —
    * work a query does eagerly while building, such as a layout build,
    * lands there — and the execution is `ops.<module>.exec`. */
  def query(module: String, build: => DataFrame): (DataFrame, Option[Long]) =
    if (!tracer.enabled) {
      val df = build
      (df, evaluate(df))
    } else {
      val (df, plan) = span(s"ops.$module.plan") {
        val df = build
        val p = hashPlan(df)
        p.queryExecution.executedPlan
        (df, p)
      }
      val r = span(s"ops.$module.exec")(plan.collect().head)
      (df, if (r.isNullAt(0)) None else Some(r.getLong(0)))
    }

  def useLayoutRoot(dir: String): Unit = System.setProperty("graft.warehouse.dir", dir)
}

object Harness {
  def failure(cond: Boolean, why: => String): Option[String] = if (cond) None else Some(why)
}
