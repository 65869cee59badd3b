package graft

import org.scalatest.funsuite.AnyFunSuite

/** The launch harness's session-free contracts: the JSON escaper every
  * artifact goes through, query-name selection, and the predicate that
  * alone lets Bench overwrite the committed BENCH_*.json. */
class HarnessSpec extends AnyFunSuite {

  test("json: quote, backslash, CR/LF/tab and other control chars round-trip through Jackson") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (s <- Seq("", "plain", "say \"hi\"", "C:\\dir\\", "a\nb\r\nc\td", "x\u0001y",
                  "WHERE s = 'it''s' \\\" \u001f end")) {
      val lit = Harness.json(s)
      assert(mapper.readValue(lit, classOf[String]) == s, lit)
    }
  }

  test("select: no names is every declared query; unknown names fail by name") {
    assert(Harness.select(Nil).size == 391)
    assert(Harness.select(Nil).keySet == SparkEntry.queries.keySet)
    assert(Harness.select(Seq("agg_group", "window_rank")).keySet == Set("agg_group", "window_rank"))
    val e = intercept[IllegalArgumentException](Harness.select(Seq("agg_group", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("agg_group"))
  }

  test("Bench.canonical: only the full set at an sf0.1 dir writes the artifacts") {
    val all = SparkEntry.queries.keySet
    assert(Bench.canonical(all, "/data/sf0.1"))
    assert(Bench.canonical(all, "/data/sf0.1/"))
    assert(!Bench.canonical(all - "agg_group", "/data/sf0.1"))
    assert(!Bench.canonical(Set("agg_group"), "/data/sf0.1"))
    assert(!Bench.canonical(all, "/data/sf0.01"))
    assert(!Bench.canonical(all, "/data/sf0.1_x10"))
    assert(!Bench.canonical(all, "target/sf1x"))
  }
}
