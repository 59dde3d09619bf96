package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench's 18-query BASELINE.md comparison subset against the live
  * registry: a member rename would silently shrink `subset18_total` and
  * read as a cross-round speedup (r12 ADVICE item 3). The totals already
  * print `null` when incomplete; this catches the drift at test time, at
  * the rename itself.
  *
  * Also pins the bench's own stdout contract (r20 VERDICT items 1 and 8):
  * the driver parses a ~2000-char stdout TAIL, and the r20 line overflowed
  * to ~2,530 chars when the budget guard left all 36 stream gates in the
  * `not_run` name array — `parsed: null` at rc 0, the round's only
  * externally visible failure. The worst-case line the emitter can build
  * (budget hit, every stream gate unreached, failures present, 5-digit
  * values in every numeric field) must stay ≤ Bench.MaxStdoutLineChars and
  * parse as JSON, so a future field addition cannot silently regrow the
  * line past the driver's window.
  */
class BenchSubsetSpec extends AnyFunSuite {
  test("every baseline-subset member exists in SparkEntry.queries") {
    val missing = Bench.baselineSubset -- SparkEntry.queries.keySet
    assert(missing.isEmpty,
      s"baseline subset names missing from the registry (renamed?): $missing")
  }

  test("the subset is exactly the 18 round-2 anchor queries") {
    assert(Bench.baselineSubset.size === 18)
  }

  /** The worst-case stdout line: every numeric field at its widest
    * plausible rendering, all current stream gates unreached, a burst of
    * failures with long names. Built through the REAL emitter helpers, so
    * the pin tracks the actual format.
    */
  private def worstCaseLine: String = {
    val subset = Bench.baselineSubset.toSeq.sorted
    def wideMap(names: Seq[String]): String =
      names.map("\"" + _ + "\":99999.999").mkString("{", ",", "}")
    val summary = Bench.summaryJson(
      total = 99999.999, reps = 9, streamReps = 9, nQueries = 999,
      nMeasured = 999, partial = true, budgetTruncated = true,
      budgetSec = 99999.0, elapsedSec = 99999.9,
      subsetTotalJson = "99999.999", subsetTotalMedJson = "99999.999",
      subsetComplete = false, subsetMinReps = 9,
      subsetNormJson = "99999.99",
      sentinelJson = """{"median":999.999,"min":999.999}""")
    val notRun = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    val failed = Seq.fill(10)("q_a_plausibly_long_failed_query_name")
    Bench.stdoutLine(summary, wideMap(subset), wideMap(subset), failed,
      notRun, "/root/testdata/sf0.1")
  }

  test("worst-case stdout line fits the driver's tail window") {
    val line = worstCaseLine
    assert(line.length <= Bench.MaxStdoutLineChars,
      s"stdout metric line grew to ${line.length} chars (> " +
        s"${Bench.MaxStdoutLineChars}) — the driver's ~2000-char tail parse " +
        "will null out again (r20 VERDICT item 1)")
  }

  test("worst-case stdout line is valid JSON with the contract fields") {
    val node = new ObjectMapper().readTree(worstCaseLine)
    assert(node.get("metric").asText() === "total")
    assert(node.get("value").isNumber)
    assert(node.get("unit").asText() === "sec")
    assert(node.get("sf").asText() === "/root/testdata/sf0.1")
    assert(node.get("queries").size() === 18)
    assert(node.get("queries_min").size() === 18)
    assert(node.get("failed_n").asInt() === 10)
    assert(node.get("not_run_n").asInt() ===
      SparkEntry.queries.keys.count(_.startsWith("q_stream_")))
    assert(node.get("failed_head").size() <= Bench.HeadSample)
    assert(node.get("not_run_head").size() <= Bench.HeadSample)
  }

  test("sentinel draws: at most six per pass, spread across short and long passes") {
    assert(Bench.sentinelOffsets(206) === Seq(0, 35, 70, 105, 140, 175))
    assert(Bench.sentinelOffsets(206).length === Bench.SentinelsPerPass)
    assert(Bench.sentinelOffsets(36) === Seq(0, 6, 12, 18, 24, 30))
    assert(Bench.sentinelOffsets(18) === Seq(0, 3, 6, 9, 12, 15))
    assert(Bench.sentinelOffsets(1) === Seq(0))
  }
}
