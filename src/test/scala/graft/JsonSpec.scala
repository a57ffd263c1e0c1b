package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val nasty = "AnalysisException: line 1\n\tat col \"x\" \\ \u0001 end"

  test("Json.string round-trips newlines, tabs, quotes, backslashes and control chars") {
    assert(mapper.readTree(Json.string(nasty)).asText() == nasty)
    assert(mapper.readTree(s"""{"k":"${Json.escape(nasty)}"}""").get("k").asText() == nasty)
  }

  test("Bench's result and summary lines parse with an error message holding control chars") {
    val medians = Seq("dd02_minhash_lsh" -> 1.5, "dd04_ngram_jaccard" -> 2.0,
      "q01_agg" -> 0.25, "ss05_ivf_probe" -> -1.0)
    val errors = Map("ss05_ivf_probe" -> nasty)
    val full = mapper.readTree(Bench.resultLine(medians, errors, 3, "/data/sf"))
    assert(full.get("errors").get("ss05_ivf_probe").asText() == nasty)
    assert(full.get("queries").get("q01_agg").asDouble() == 0.25)
    assert(full.get("value").asDouble() == 3.75)
    val summary = mapper.readTree(Bench.summaryLine(medians, errors.size, 3, "/data/sf"))
    assert(summary.get("value").asDouble() == 3.75)
    assert(summary.get("families").get("dd").asDouble() == 3.5)
    assert(summary.get("families").get("q").asDouble() == 0.25)
    assert(summary.get("families").get("ss").asDouble() == 0.0)
    assert(summary.get("errors").asInt() == 1)
  }
}
