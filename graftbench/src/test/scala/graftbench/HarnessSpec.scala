package graftbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/** Self-checks of the harness itself: seeded inputs, the tail rank,
  * failure accounting and self time. No Spark session is needed. */
class HarnessSpec extends AnyFunSuite {

  test("the same seed gives byte-identical generated inputs") {
    def evs(seed: Long) = Gen.bytes(Gen.events(new SplittableRandom(seed), 500, Gen.T0, Gen.T0 + 86400))
    assert(evs(7).sameElements(evs(7)))
    assert(!evs(7).sameElements(evs(8)))
    def tables(seed: Long) = Gen.tableBytes(Gen.curationTables(seed, 0.001))
    assert(tables(7).sameElements(tables(7)))
    assert(!tables(7).sameElements(tables(8)))
  }

  test(".tail picks the highest rank with ten samples above it") {
    val t30 = Stats.tail((1 to 30).map(_.toDouble).reverse)
    assert(t30.value == 20.0 && t30.n == 30)
    assert(math.abs(t30.pct - 200.0 / 3) < 1e-9)
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    assert(Stats.tail((1 to 10).map(_.toDouble)) == Stats.Tail(10.0, 100.0, 10))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a thrown op is counted with its error class, not fatal") {
    val log = new OpLog(None)
    assert(log.run("read")(throw new IllegalStateException("boom")).isEmpty)
    assert(log.run("read")(42).contains(42))
    assert(log.attempted == 2 && log.failed == 1)
    assert(log.errorClasses == Map("read:IllegalStateException" -> 1))
    assert(log.wrong.isEmpty)
    log.check("read", ok = false, "got 41 want 42")
    assert(log.wrong == Seq("read: got 41 want 42"))
  }

  test("self time is a span minus the part its children cover") {
    val spans = Seq(Span(1, "op", 0, 100, 0, "a"), Span(2, "spark.job", 10, 40, 1, "a"),
      Span(3, "spark.job", 30, 60, 1, "a"), Span(4, "spark.job", 90, 120, 1, "a"))
    assert(Trace.selfTime(spans)("op") == 100 - 60)
    assert(Trace.union(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30)
  }
}
