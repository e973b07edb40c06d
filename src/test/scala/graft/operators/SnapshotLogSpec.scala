package graft.operators

import java.util.ConcurrentModificationException
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Warehouse

/** The snapshot log's commit protocol under concurrency, with no Spark
  * job: the head is the newest published entry, so a reader running
  * beside a committer only ever sees a list that was committed, and
  * two committers that race for one version cannot both win. */
class SnapshotLogSpec extends AnyFunSuite {

  /** Round `r`'s 2000-line file list, sorted as a commit stores it; every
    * line starts with the round tag, so any read names the round it
    * claims to be. */
  private def listOf(r: Int): Seq[String] =
    (0 until 2000).map(i => f"r$r%04d/part-$i%05d.parquet").sorted

  test("a reader running beside commits only ever sees a committed list") {
    val path = graft.Staging.fresh("snaplog-reader")
    val rounds = 100
    val lists = (0 to rounds).map(listOf)
    Warehouse.commitSnapshot(path, lists(0))
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      while (!done.get()) {
        val got = Try(Warehouse.manifestedFiles(path))
        val round = got.toOption.flatMap(_.headOption)
          .flatMap(l => l.take(5).stripPrefix("r").toIntOption)
        if (!round.exists(r => r <= rounds && got.toOption.contains(lists(r))))
          bad.add(got.fold(e => s"failed: $e",
            fs => s"${fs.size} lines, first ${fs.headOption}"))
        reads.incrementAndGet()
      })
    reader.start()
    try (1 to rounds).foreach(r => Warehouse.commitSnapshot(path, lists(r)))
    finally { done.set(true); reader.join() }
    assert(reads.get() > 0)
    val nBad = bad.size
    assert(nBad == 0,
      s"of ${reads.get()} reads, not a committed list; e.g. ${bad.peek}")
    assert(Warehouse.manifestedFiles(path) == lists(rounds))
  }

  test("of two committers racing on one expected head, exactly one wins") {
    val path = graft.Staging.fresh("snaplog-race")
    Warehouse.commitSnapshot(path, Seq("base.parquet"))
    val trials = 60
    val pool = Executors.newFixedThreadPool(2)
    try (1 to trials).foreach { trial =>
      val head = trial
      val barrier = new CyclicBarrier(2)
      val lists = Seq("a", "b").map(w => Seq(s"$w-$trial.parquet"))
      val results = lists.map { l =>
        pool.submit(new Callable[Try[Int]] {
          def call(): Try[Int] = {
            barrier.await()
            Try(Warehouse.commitSnapshot(path, l, expectedHead = Some(head)))
          }
        })
      }.map(_.get(60, TimeUnit.SECONDS))
      val winners = results.zip(lists).collect { case (Success(v), l) => (v, l) }
      assert(winners.size == 1, s"trial $trial: $results")
      results.collect { case Failure(e) => e }.foreach(e =>
        assert(e.isInstanceOf[ConcurrentModificationException], s"trial $trial: $e"))
      val (v, winnerList) = winners.head
      assert(v == head + 1)
      assert(Warehouse.snapshotFiles(path, v) == winnerList,
        s"trial $trial: entry $v does not hold the winner's list")
    } finally pool.shutdown()
    assert(Warehouse.snapshotVersions(path) == (1 to trials + 1))
  }
}
