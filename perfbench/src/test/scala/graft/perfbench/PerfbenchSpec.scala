package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("tail: the highest ladder percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 20 samples: p50 leaves 10 beyond it, p75 only 5
    assert(Stats.tail((1 to 20).map(_.toDouble)) === Some((50.0, 10.0, 10)))
    // 100 samples: p90 leaves 10 beyond it, p95 only 5
    assert(Stats.tail((1 to 100).map(_.toDouble)) === Some((90.0, 90.0, 10)))
    // 1000 samples: p99 leaves 10 beyond it, p99.9 only 1
    val (p, v, n) = Stats.tail((1 to 1000).reverse.map(_.toDouble)).get
    assert((p, v, n) === ((99.0, 990.0, 10)))
  }

  test("percentile is nearest-rank; median averages the middle pair") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0, 6.0)
    assert(Stats.percentile(xs, 50) === 3.0)
    assert(Stats.percentile(xs, 100) === 6.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.median(xs) === 3.5)
    assert(Stats.median(Seq(7.0)) === 7.0)
  }

  test("generator: same seed gives the same inputs, another seed others") {
    val sp = Gen.Space(dim = 32, clusters = 4, signed = true, spread = 0.3)
    val cents = Gen.centroids(7L, sp)
    val a = (0L until 50L).map(id => Gen.vector(cents, sp, 7L, Gen.CorpusStream, id).toSeq)
    val b = (0L until 50L).reverse.map(id => Gen.vector(Gen.centroids(7L, sp), sp, 7L, Gen.CorpusStream, id).toSeq).reverse
    assert(a === b)
    val other = Gen.vector(Gen.centroids(8L, sp), sp, 8L, Gen.CorpusStream, 0L).toSeq
    assert(other !== a.head)
    assert(Gen.probes(7L, sp, 3).map(_.toSeq).toSeq === Gen.probes(7L, sp, 3).map(_.toSeq).toSeq)
    // probes come from their own stream, never copies of corpus rows
    assert(Gen.probes(7L, sp, 1)(0).toSeq !== a.head)
  }

  test("generator: unsigned space stays in [0, 1] with both ends pinned in row 0") {
    val sp = Gen.Space(dim = 64, clusters = 3, signed = false, spread = 0.5)
    val cents = Gen.centroids(3L, sp)
    val rows = (0L until 200L).map(id => Gen.vector(cents, sp, 3L, Gen.CorpusStream, id))
    assert(rows.forall(_.forall(x => x >= 0f && x <= 1f)))
    assert(rows.head(0) === 0f && rows.head(1) === 1f)
  }

  test("span self time excludes the union of child intervals") {
    val spans = Seq(
      Span(1, 0, "op", 0L, 100L),
      Span(2, 1, "a", 10L, 40L),
      Span(3, 1, "b", 30L, 60L), // overlaps a: children cover [10, 60)
      Span(4, 1, "c", 90L, 120L), // runs past its parent: only [90, 100) counts
      Span(5, 2, "a.inner", 15L, 20L))
    val self = Tracer.selfTimes(spans)
    assert(self(1) === 100L - 50L - 10L)
    assert(self(2) === 30L - 5L)
    assert(self(3) === 30L)
    assert(self(5) === 5L)
  }

  test("tracer: disabled records nothing, enabled nests spans") {
    val off = new Tracer(false)
    assert(off.span("x")(41 + 1) === 42)
    assert(off.spans.isEmpty)
    val on = new Tracer(true)
    on.span("outer")(on.span("inner")(()))
    val byName = on.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent === byName("outer").id)
    assert(byName("outer").parent === 0)
    assert(on.durationsMs("inner").size === 1)
  }
}
