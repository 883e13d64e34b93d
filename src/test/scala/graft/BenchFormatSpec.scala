package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's stdout contract: ONE JSON line that must fit the
  * 2000-char output tail it is read back from (with headroom for the
  * build tool's trailer lines) AND be decodable by the driver's
  * per-query parser. Round 16's verdict showed the compressed
  * generations (base36 / parallel k-v arrays) defeated that parser —
  * PERF per_query degenerated to the literal keys "k"/"v" — so r17
  * returned to the plain {"qNN": seconds} object the driver provably
  * parsed in rounds 6-8, filled slowest-first under a byte budget
  * with the remainder summed into "rest". Guarded here because the
  * failure mode is silent — the line still prints, it just never
  * parses (or parses without the query that regressed). */
class BenchFormatSpec extends AnyFunSuite {

  private def decode(line: String): Map[String, Double] = {
    val m = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(line).getOrElse(fail(s"no queries object in $line"))
    val body = m.group(1)
    if (body.isEmpty) Map.empty
    else body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      assert(k.matches("\"q\\d+\""), s"non-legacy key $k in $line")
      assert(v.matches("\\d+\\.\\d\\d"), s"non-decimal value $v in $line")
      k.drop(1).dropRight(1) -> v.toDouble
    }.toMap
  }

  private def field(line: String, name: String): String =
    ("\"" + name + "\":(\"(?:[^\"\\\\]|\\\\.)*\"|[0-9.]+)").r
      .findFirstMatchIn(line).map(_.group(1))
      .getOrElse(fail(s"no $name field in $line"))

  test("bench JSON stays under the tail window at worst-case timings") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // worst case: every query slow, so every entry is max width and
    // the greedy fill runs the budget to its edge
    val line = Bench.buildJson(names.map(_ -> 987.654),
      "/root/testdata/sf0.1")
    // budget: 2000-char tail minus the MEASURED ~76-char sbt trailer
    // ("[success] Total time: ..." + newline padding) minus slack
    assert(line.length <= Bench.LineBudget,
      s"bench line ${line.length} chars exceeds the ${Bench.LineBudget} budget")
    assert(line.length < 1920,
      s"bench line ${line.length} chars — approaching the 2000-char tail window")
    // the numeric-prefix keys must stay unique, or per-query timings
    // collide inside one JSON object
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size == prefixes.size,
      s"duplicate query-number prefixes: ${prefixes.diff(prefixes.distinct).distinct}")
    // conservation: kept entries + rest == total
    val qs = decode(line)
    val total = field(line, "value").toDouble
    val rest = field(line, "rest").toDouble
    assert(math.abs(qs.values.sum + rest - total) < 0.5,
      s"entries (${qs.values.sum}) + rest ($rest) != value ($total)")
    assert(field(line, "n_rest").toInt == names.size - qs.size)
  }

  test("bench JSON is the legacy driver-parsable object generation") {
    val names = Seq("q01_a", "q02_b")
    val line = Bench.buildJson(names.map(_ -> 1.4), "/x")
    assert(line.startsWith("""{"metric":"total","value":2.80,"unit":"sec""""))
    // plain full-precision object entries — the generation the driver
    // provably parsed (BENCH_r06-r08 parsed.queries)
    assert(decode(line) == Map("q01" -> 1.4, "q02" -> 1.4))
    // no compressed-generation markers
    assert(!line.contains(""""enc""""), line)
    assert(!line.contains(""""k":"""), line)
    // sf + detail reference ride the line (both under budget again
    // now that sub-cutoff entries aggregate into "rest")
    assert(field(line, "sf") == "\"/x\"")
    assert(field(line, "detail") == "\"BENCH_DETAIL.json\"")
    assert(field(line, "rest") == "0.00")
    assert(field(line, "n_rest") == "0")
  }

  test("bench JSON fills slowest-first and aggregates the tail into rest") {
    // 400 queries, times rising with the index: the kept set must be
    // the slowest suffix, the fast prefix must aggregate into rest
    val n = 400
    val results = (1 to n).map(i => (f"q$i%04d_x", i.toDouble))
    val line = Bench.buildJson(results, "/x")
    assert(line.length <= Bench.LineBudget)
    val qs = decode(line)
    assert(qs.nonEmpty && qs.size < n)
    val keptIds = qs.keys.map(_.drop(1).toInt)
    val cutoff = keptIds.min
    // every query slower than the cutoff is present — a regression
    // (which is slow by construction) can never hide in "rest"
    assert(keptIds.toSet == (cutoff to n).toSet,
      s"kept set is not the slowest suffix: cutoff $cutoff, kept $keptIds")
    assert(qs(f"q$n%04d") == n.toDouble)
    // rest = sum of the dropped fast prefix
    val rest = field(line, "rest").toDouble
    assert(math.abs(rest - (1 until cutoff).map(_.toDouble).sum) < 0.01)
    assert(field(line, "n_rest").toInt == cutoff - 1)
  }

  test("sfDir with JSON specials cannot corrupt the line") {
    val line = Bench.buildJson(Seq("q01_a" -> 1.0), "/tmp/a\"b\\c")
    assert(line.contains("""\"b\\c"""))
    assert(decode(line) == Map("q01" -> 1.0))
  }

  test("jsonEscape spells quote, backslash, TAB, CR, LF and U+0001 " +
      "exactly, and Jackson reads the original back") {
    val raw = "a\"b\\c\td\re\nf\u0001g"
    val escaped = Bench.jsonEscape(raw)
    assert(escaped == "a\\\"b\\\\c\\td\\re\\nf\\u0001g", escaped)
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue("\"" + escaped + "\"", classOf[String])
    assert(back == raw)
  }

  test("a query that threw is counted as failed, never as a timing") {
    val results = Seq("q01_a" -> 1.4, "q03_c" -> 2.0)
    val line = Bench.buildJson(results, "/x", failed = Seq("q02_b"))
    assert(decode(line) == Map("q01" -> 1.4, "q03" -> 2.0))
    assert(field(line, "value") == "3.40")
    assert(field(line, "rest") == "0.00")
    assert(field(line, "n_rest") == "0")
    assert(field(line, "n_failed") == "1")
    assert(line.startsWith("""{"metric":"total","value":3.40,"unit":"sec""""))
    val detail = Bench.detailJson(results, Seq("q02_b"), "/x")
    assert(detail.contains(""""total":3.400,"""), detail)
    assert(detail.contains(""""queries":{"q01_a":1.400,"q03_c":2.000}"""),
      detail)
    assert(detail.contains(""""failed":["q02_b"]"""), detail)
  }
}
