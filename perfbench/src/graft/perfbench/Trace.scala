package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.JsonUtil

/** One timed call into a layer, as the benchmark's own wrapper saw it.
  * `opId` is shared by every span of one operation; root spans (the
  * set-up and timed rounds) have parent 0. Times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, opId: Long,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

object Trace {

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it that its child spans cover (children are clipped to the
    * parent and overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.end - s.start - covered) / 1e9
    }(_ + _)
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Long): Iterator[Long] =
      Iterator(id) ++ children.getOrElse(id, Nil).iterator.flatMap(c => walk(c.id))
    walk(root).toSet
  }

  /** One span as a JSON line, with the runtime counters of its own jobs. */
  def toJson(s: Span, c: Counters): String =
    s"""{"id":${s.id},"name":${JsonUtil.quote(s.name)},"parent":${s.parent},""" +
      s""""op":${s.opId},"start_ns":${s.start},"end_ns":${s.end},"jobs":${c.jobs},""" +
      s""""tasks":${c.tasks},"bytes_read":${c.bytesRead},"shuffle_write":${c.shuffleWrite},""" +
      s""""bytes_out":${c.bytesOut},"run_ms":${c.runTimeMs},"gc_ms":${c.gcMs}}"""
}

/** Records spans in memory while enabled; a disabled tracer costs one
  * branch per call. Single client thread: the open-span stack belongs to
  * the thread that drives the workload. */
final class Tracer {
  @volatile var enabled = false
  private val done = ArrayBuffer[Span]()
  private var stack = List.empty[(Long, String, Long, Long)] // id, name, opId, start
  private var nextId = 1L
  private var nextOp = 1L

  /** The innermost open span, or 0. Read by the listener thread. */
  @volatile var current: Long = 0L

  def spans: Seq[Span] = synchronized(done.toList)

  def newOp(): Long = synchronized { nextOp += 1; nextOp - 1 }

  def open(name: String, opId: Long): Long = synchronized {
    val id = nextId
    nextId += 1
    stack = (id, name, opId, System.nanoTime()) :: stack
    current = id
    id
  }

  def close(id: Long): Unit = synchronized {
    val (sid, name, opId, start) = stack.head
    require(sid == id, s"span $id closed out of order (innermost is $sid)")
    stack = stack.tail
    done += Span(id, name, stack.headOption.map(_._1).getOrElse(0L), opId, start, System.nanoTime())
    current = stack.headOption.map(_._1).getOrElse(0L)
  }

  def currentOp: Long = synchronized(stack.headOption.map(_._3).getOrElse(0L))
}
