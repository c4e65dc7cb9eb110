package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Bench stdout line: always valid JSON within its tail budget,
  * always carrying total, window_status and n_failed. */
class BenchSpec extends AnyFunSuite {

  private def keep(nFailed: Int) = Seq(""""metric":"total","value":12.345,"unit":"sec"""",
    """"window_status":"clean","n_queries":137""", s""""n_failed":$nFailed""")

  private def queries(n: Int) =
    (0 until n).map(i => s""""q_query_number_$i":1.234""").mkString("{", ",", "}")

  private def errors(n: Int) =
    (0 until n).map(i => s"q_err_$i" -> ("java.lang.IllegalStateException: " + "x" * 200).take(200))

  private def parse(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("slim line keeps the per-query map while it fits") {
    val line = Bench.slimLine(keep(1), queries(5), errors(1))
    val j = parse(line)
    assert(j.get("queries").size == 5 && j.get("errors").size == 1, line)
    assert(j.get("errors").get("q_err_0").asText.length == 200, line)
  }

  test("slim line degrades over budget: queries, then error text, then errors") {
    // ALL mode: the query map alone is over budget
    val all = Bench.slimLine(keep(2), queries(137), errors(2))
    assert(all.length <= Bench.SlimBudget && !parse(all).has("queries"), all)
    assert(parse(all).get("errors").get("q_err_1").asText.length == 200, all)
    // many errors: strings cut to 80 chars
    val some = Bench.slimLine(keep(12), queries(137), errors(12))
    assert(some.length <= Bench.SlimBudget, some)
    assert(parse(some).get("errors").get("q_err_11").asText.length == 80, some)
    // every query failed: the errors map goes too
    val worst = Bench.slimLine(keep(137), queries(137), errors(137))
    assert(worst.length <= Bench.SlimBudget && !parse(worst).has("errors"), worst)
    for (line <- Seq(all, some, worst)) {
      val j = parse(line)
      assert(j.get("value").asDouble == 12.345 && j.get("window_status").asText == "clean" &&
        j.has("n_failed"), line)
    }
  }
}
