package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import scala.jdk.CollectionConverters._

/** Runtime counters of the Spark jobs run under one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var bytesOut = 0L
  var spill = 0L
  var runTimeMs = 0L
  var gcMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; bytesRead += o.bytesRead
    recordsRead += o.recordsRead; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; bytesOut += o.bytesOut; spill += o.spill
    runTimeMs += o.runTimeMs; gcMs += o.gcMs
  }
}

/** The benchmark's SparkListener. A job belongs to the span named by its
  * job group (`Probe.group(spanId)`, set by the wrapper around each layer
  * call); jobs started with no such group (a stream's micro-batches run
  * on the stream's own thread and group) go to the span open on the
  * client thread at that moment. Task metrics follow their stage's job. */
final class Probe(activeSpan: () => Long) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val lastProgress = new ConcurrentHashMap[java.util.UUID, Long]()
  @volatile var streamBatches = 0L

  private def counters(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(Probe.spanOf).getOrElse(activeSpan())
    e.stageIds.foreach(stageSpan.put(_, span))
    val c = counters(span)
    c.synchronized(c.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span: Long = Option(stageSpan.get(e.stageId)).getOrElse(activeSpan())
    val c = counters(span)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.bytesOut += m.outputMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runTimeMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      streamBatches += 1
      val rows = p.progress.stateOperators.map(_.numRowsTotal).sum
      lastProgress.put(p.progress.runId, rows)
    case _ =>
  }

  /** State rows each stream held at its last progress report, summed. */
  def streamStateRows: Long = lastProgress.values.asScala.sum

  /** Sum of the counters of the given spans. */
  def total(spans: Iterable[Long]): Counters = {
    val t = new Counters
    spans.foreach(id => Option(bySpan.get(id)).foreach(c => c.synchronized(t += c)))
    t
  }
}

object Probe {
  private val prefix = "perfbench-span-"
  def group(span: Long): String = prefix + span
  def spanOf(group: String): Option[Long] =
    if (group.startsWith(prefix)) group.drop(prefix.length).toLongOption else None
}
