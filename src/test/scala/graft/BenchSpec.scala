package graft

import org.scalatest.funsuite.AnyFunSuite

/** The previous-run reader behind the bench headline's entry selection. */
class BenchSpec extends AnyFunSuite {

  test("committedQueries reads the numeric queries members of bench_results.json") {
    val doc = """{"metric":"total","value":33.0,"queries":{"q_a":0.44,"q_b":2,""" +
      """"q,c":1e-3,"q_nested":{"x":1},"q_text":"slow"},"passes":[{"queries":{"q_z":9}}]}"""
    assert(Bench.committedQueries(doc) == Map("q_a" -> 0.44, "q_b" -> 2.0, "q,c" -> 0.001))
  }

  test("committedQueries is empty for a document without queries or not JSON") {
    assert(Bench.committedQueries("""{"metric":"total"}""").isEmpty)
    assert(Bench.committedQueries("""{"queries":[1,2]}""").isEmpty)
    assert(Bench.committedQueries("not json").isEmpty)
    assert(Bench.committedQueries("").isEmpty)
  }
}
