package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic and determinism; no Spark needed. */
class BenchLogicSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(!Stats.supportsPercentile(99, 0.9))
    assert(Stats.supportsPercentile(100, 0.9))
    assert(!Stats.supportsPercentile(999, 0.99))
    assert(Stats.supportsPercentile(1000, 0.99))
    assert(Stats.highestSupported(50).isEmpty)
    assert(Stats.highestSupported(150).contains(0.9))
    assert(Stats.highestSupported(1000).contains(0.99))
  }

  test("percentiles interpolate between order statistics") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.median(xs) == 51.0)
    assert(Stats.percentile(xs, 0.9) == 91.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("the geometric mean weighs every value's ratio the same") {
    assert(math.abs(Stats.geomean(Seq(100.0, 400.0)) - 200.0) < 1e-9)
    // doubling one of seven values moves the mean by 2^(1/7), whichever it is
    val xs = Seq(200.0, 400.0, 500.0, 500.0, 500.0, 550.0, 1200.0)
    val base = Stats.geomean(xs)
    for (i <- xs.indices)
      assert(math.abs(Stats.geomean(xs.updated(i, xs(i) * 2)) / base - math.pow(2, 1.0 / 7)) < 1e-9)
    assert(Stats.geomean(Nil).isNaN)
  }

  test("coalescer fan-in is acknowledged requests over data-version steps") {
    assert(Stats.fanIn(40, versionBefore = 10, versionAfter = 20) == 4.0)
    assert(Stats.fanIn(7, 3, 10) == 1.0)
    // no mutation at all: the ratio has no base, reported as 0
    assert(Stats.fanIn(0, 5, 5) == 0.0)
    assert(Stats.ratio(3, 0, empty = -1) == -1)
    assert(Stats.ratio(1077, 1000) == 1.077)
  }

  private def mixedDigest(seed: Long, client: Int, n: Int): String = {
    val corpus = OpGen.mixedCorpus(seed, 16, 32)
    val g = new OpGen.Mixed(seed, client, 4, corpus)
    OpGen.digest(Iterator.fill(n)(g.next()))
  }

  test("one seed always yields the same op sequence") {
    assert(mixedDigest(42, 1, 200) == mixedDigest(42, 1, 200))
    assert(mixedDigest(42, 1, 200) != mixedDigest(43, 1, 200))
    assert(mixedDigest(42, 1, 200) != mixedDigest(42, 2, 200))
  }

  test("the mixed op mix follows the stated shares") {
    val g = new OpGen.Mixed(7, 0, 4, OpGen.mixedCorpus(7, 64, 32))
    val kinds = Iterator.fill(4000)(g.next().kind).toSeq.groupBy(identity).view.mapValues(_.size).toMap
    def share(k: String) = kinds.getOrElse(k, 0) / 4000.0
    assert(math.abs(share("write") - 0.40) < 0.05, kinds)
    assert(math.abs(share("query") - 0.30) < 0.05, kinds)
    assert(math.abs(share("update") - 0.10) < 0.03, kinds)
    assert(math.abs(share("remove") - 0.10) < 0.03, kinds)
    assert(math.abs(share("list") - 0.10) < 0.03, kinds)
  }

  test("the query oracle applies ctx padding and stops an entry at its limit") {
    val recs = (0 until 10).map(i => Rec(Corpus.ts(0, i), Map("n" -> (if (i == 5) "1" else "50")), Array.emptyByteArray))
    val data = Map("e000" -> recs)
    val all = Corpus.Query("plain", Seq("e000"), Corpus.T0, Corpus.ts(0, 100), None)
    assert(Corpus.expected(all, data).size == 10)
    val ctx = all.copy(when = Some("""{"&n":{"$lt":5},"#ctx_before":2,"#ctx_after":1}"""))
    assert(Corpus.expected(ctx, data).map(_.ts) == (3 to 6).map(Corpus.ts(0, _)))
    val limit = all.copy(when = Some("""{"&n":{"$gt":0},"$limit":3}"""))
    assert(Corpus.expected(limit, data).size == 3)
    val range = all.copy(start = Corpus.ts(0, 2), stop = Corpus.ts(0, 4))
    assert(Corpus.expected(range, data).size == 2)
    assert(Corpus.expected(all.copy(entries = Seq("e001")), data).isEmpty)
  }
}
