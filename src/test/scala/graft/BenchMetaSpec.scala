package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Bench.baselineRefusal` — the baseline-provenance gate: a detail
  * file whose `_meta` carries filter/exclude was a PARTIAL run and
  * must be refused as a regression baseline, and an unparseable file
  * is refused with its OWN reason. Detection is a real JSON parse, so
  * it survives re-formatting (the r18 form line-grepped the `_meta`
  * line and was one pretty-printer away from a false verdict in
  * either direction).
  */
class BenchMetaSpec extends AnyFunSuite with Matchers {

  private def tmp(content: String): java.nio.file.Path = {
    val p = Files.createTempFile("graft-bench-meta", ".json")
    p.toFile.deleteOnExit()
    Files.writeString(p, content)
  }

  test("full-run detail (no filter/exclude) is accepted as baseline") {
    Bench.baselineRefusal(tmp(
      """{
        |  "q1": [1.5, 1.2],
        |  "_meta": {"unit": "sec", "passes": 2, "retried": 0, "reported": "min", "cpus": 32, "sf": "/x", "flags": 0, "adjudicated": {}}
        |}""".stripMargin)) shouldBe None
  }

  test("filter/exclude in _meta refuses the baseline as partial — regardless of formatting") {
    // the writer's current one-line _meta shape
    Bench.baselineRefusal(tmp(
      """{"q1": [1.5], "_meta": {"unit": "sec", "filter": "q1", "adjudicated": {}}}"""))
      .get should include("partial")
    // the SAME object pretty-printed across lines (what broke the grep)
    Bench.baselineRefusal(tmp(
      """{
        |  "q1": [1.5],
        |  "_meta": {
        |    "unit": "sec",
        |    "exclude": "q2,q3",
        |    "adjudicated": {}
        |  }
        |}""".stripMargin)).get should include("partial")
  }

  test("a query NAMED like the knobs never false-positives; a missing file is not refused") {
    // "filter"/"exclude" as top-level query names or inside adjudicated
    // must not trip the check — only fields OF _meta count
    Bench.baselineRefusal(tmp(
      """{
        |  "text_filter_quality": [0.4],
        |  "_meta": {"unit": "sec", "adjudicated": {"text_filter_quality": 0.3}}
        |}""".stripMargin)) shouldBe None
    Bench.baselineRefusal(java.nio.file.Paths.get("/nonexistent/graft-detail.json")) shouldBe None
  }

  test("an unparseable baseline is refused with its OWN reason — never misreported as a partial run") {
    val why = Bench.baselineRefusal(tmp("""{"q1": [1.5""")).get
    why should include("parseable")
    (why should not).include("partial")
  }

  test("topEntriesJson: costliest-first contiguous prefix, budget-bounded, valid JSON entries (r21 verdict item 1)") {
    val mins = Seq(("cheap_a", 0.1), ("expensive_one", 9.5), ("mid", 1.0), ("expensive_two", 4.25))
    // generous budget: all four, most-expensive first
    val all = Bench.topEntriesJson(mins, 1000)
    all shouldBe "\"expensive_one\":9.5,\"expensive_two\":4.25,\"mid\":1,\"cheap_a\":0.1"
    // the wrapped map must parse as JSON
    noException should be thrownBy
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(s"{$all}")
    // tight budget: a contiguous most-expensive prefix, nothing skipped —
    // entries are "expensive_one":9.5 (19) + , + "expensive_two":4.25 (20)
    // = 40, so budget 45 must cut at two even though "mid":1 (7) would fit
    Bench.topEntriesJson(mins, 45) shouldBe "\"expensive_one\":9.5,\"expensive_two\":4.25"
    // degenerate budget: empty map, never a broken fragment
    Bench.topEntriesJson(mins, 3) shouldBe ""
  }

  test("an IO failure reading the baseline is 'not readable', never 'not parseable' — the file may be a perfectly good baseline behind a transient error (advice r19)") {
    // a directory exists but readAllBytes refuses it with an
    // IOException — the deterministic stand-in for a transient read
    // failure (throttle, permission blip)
    val dir = Files.createTempDirectory("graft-bench-meta-dir")
    dir.toFile.deleteOnExit()
    val why = Bench.baselineRefusal(dir).get
    why should include("readable")
    (why should not).include("parseable")
    (why should not).include("partial")
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("sec never emits NaN or Infinity: a non-finite time is null, and the line still parses") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { v =>
      Bench.sec(v) shouldBe "null"
      json.readTree(s"""{"metric":"total","value":${Bench.sec(v)}}""").get("value").isNull shouldBe true
    }
    Bench.sec(1.5) shouldBe "1.5"
    Bench.sec(0.0) shouldBe "0"
  }

  test("topEntriesJson escapes query names: quotes, backslashes and control characters still parse") {
    val names = Seq("plain_q", "has\"quote", "back\\slash", "new\nline\ttab")
    val mins = names.zipWithIndex.map { case (n, i) => (n, i + 1.0) } :+ ("nan_q" -> Double.NaN)
    val tree = json.readTree(s"{${Bench.topEntriesJson(mins, 1000)}}")
    names.foreach(n => withClue(n) { tree.get(n).asDouble() shouldBe (names.indexOf(n) + 1.0) })
    tree.get("nan_q").isNull shouldBe true
  }

  test("readDetailMins keeps a query whose passes hold a null, and skips _-prefixed keys and all-null queries") {
    val mins = Bench.readDetailMins(tmp(
      """{
        |  "q1": [1.5, null, 1.2],
        |  "q2": [null, null],
        |  "q_3": [2],
        |  "_meta": {"unit": "sec", "passes": 2},
        |  "_layers": [0.5]
        |}""".stripMargin))
    mins shouldBe Map("q1" -> 1.2, "q_3" -> 2.0)
    Bench.readDetailMins(java.nio.file.Paths.get("/nonexistent/graft-detail.json")) shouldBe Map.empty
  }
}
