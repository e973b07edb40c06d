package graft.perfbench

/** The benchmark's own checks of its pure parts (the tail-percentile rule
  * and span self time), run by perfbench/tests/test_perfbench.py; exits 1
  * on a failure. */
object SelfTest {

  private var failures = 0

  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL $what") }
    else println(s"ok   $what")

  def tailRule(): Unit = {
    def t(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    check("100 samples: p90 with 10 beyond", t(100) == Stats.Tail(90.0, 90.0, 10, 100))
    check("1000 samples: p99 with 10 beyond", t(1000) == Stats.Tail(99.0, 990.0, 10, 1000))
    check("20 samples: p50 with 10 beyond", t(20) == Stats.Tail(50.0, 10.0, 10, 20))
    check("15 samples: p33.3 with 10 beyond", t(15) == Stats.Tail(33.3, 5.0, 10, 15))
    check("10 samples: no percentile qualifies, max as p100", t(10) == Stats.Tail(100.0, 10.0, 0, 10))
    check("order of samples does not matter",
      Stats.tail((1 to 50).reverse.map(_.toDouble)) == Stats.tail((1 to 50).map(_.toDouble)))
    check("every reported tail has at least 10 samples beyond",
      (11 to 500).forall(n => t(n).beyond >= 10 && t(n).value == n - t(n).beyond))
    check("median of even count averages the middle pair", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def selfTime(): Unit = {
    val spans = Seq(
      Span(1, "root", 0, 0, 0, 1000),
      Span(2, "a", 1, 1, 100, 300),
      Span(3, "b", 1, 1, 200, 500), // overlaps a: covered once
      Span(4, "a", 1, 2, 900, 1200), // runs past its parent: clipped
      Span(5, "c", 3, 1, 250, 350))
    val self = Trace.selfTimes(spans)
    check("parent self time excludes the union of its children",
      math.abs(self("root") - (1000 - 400 - 100) / 1e9) < 1e-12)
    check("child self time excludes its own child",
      math.abs(self("b") - (300 - 100) / 1e9) < 1e-12)
    check("self time sums over spans of one name",
      math.abs(self("a") - (200 + 300) / 1e9) < 1e-12)
    check("a leaf's self time is its duration", math.abs(self("c") - 100 / 1e9) < 1e-12)
    check("subtree collects descendants", Trace.subtree(spans, 3) == Set(3L, 5L))

    val tr = new Tracer
    tr.enabled = true
    val op = tr.newOp()
    val outer = tr.open("outer", op)
    val inner = tr.open("inner", tr.currentOp)
    check("open spans nest", tr.current == inner)
    tr.close(inner)
    tr.close(outer)
    val recorded = tr.spans.map(s => s.name -> (s.parent, s.opId)).toMap
    check("recorded spans keep parent and operation",
      recorded == Map("outer" -> (0L, op), "inner" -> (outer, op)))
  }

  def main(args: Array[String]): Unit = {
    tailRule()
    selfTime()
    if (failures > 0) sys.exit(1)
  }
}
