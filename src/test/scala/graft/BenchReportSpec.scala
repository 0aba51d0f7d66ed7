package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench report contract: a thrown query must surface as an error
  * entry, never as a timing the driver could mistake for a fast run
  * (round-6 postmortem: q89's 0.119 s "measurement" was time-to-exception).
  */
class BenchReportSpec extends AnyFunSuite {

  test("mergePasses: min of successes; one good pass rescues; double failure stays err") {
    val p1 = Map[String, Either[String, Double]](
      "a" -> Right(2.0), "b" -> Right(1.0), "c" -> Left("boom1"),
      "d" -> Left("boom-d"))
    val p2 = Map[String, Either[String, Double]](
      "a" -> Right(1.5), "b" -> Left("flake"), "c" -> Right(3.0),
      "d" -> Left("boom-d2"))
    val m = Bench.mergePasses(p1, p2)
    assert(m("a") === Right(1.5)) // min of two successes
    assert(m("b") === Right(1.0)) // pass-2 flake: keep the real measurement
    assert(m("c") === Right(3.0)) // pass-1 flake: ditto
    assert(m("d") === Left("boom-d")) // both threw: error, no number
  }

  test("mergePasses: a partial second pass keeps first-pass results instead of throwing") {
    val p1 = Map[String, Either[String, Double]](
      "a" -> Right(2.0), "b" -> Left("boom"))
    // pass 2 died after one query: its map is missing b entirely
    val p2 = Map[String, Either[String, Double]]("a" -> Right(1.0))
    val m = Bench.mergePasses(p1, p2)
    assert(m("a") === Right(1.0))
    assert(m("b") === Left("boom"), "missing pass-2 key must fall back to pass 1")
    assert(m.size === 2)
  }

  test("renderJson: errored query appears ONLY under errors, total sums successes only") {
    val merged = Map[String, Either[String, Double]](
      "q01" -> Right(1.25), "q02" -> Left("AnalysisException: it broke"))
    val json = Bench.renderJson(merged, "/data/sf0.1")
    assert(json.contains("\"q01\":1.25"))
    assert(json.contains("\"errors\":{\"q02\":\"AnalysisException: it broke\"}"))
    assert(!json.contains("\"q02\":0"), "a broken query must not get a timing")
    assert(json.contains("\"value\":1.25"), s"total must exclude the error: $json")
    assert(json.contains("\"methodology\":"))
    // and the line is machine-parseable JSON even with hostile error text
    val hostile = Map[String, Either[String, Double]](
      "qx" -> Left("msg with \"quotes\"\nand\tcontrol\\chars"))
    val line = Bench.renderJson(hostile, "/d")
    assert(!line.split("\n")(0).isEmpty && line.split("\n").length === 1)
  }

  test("worstMovers: ratio AND absolute gates, worst first, capped at n; missing ref rows skip") {
    val ref = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.1, "q4" -> 4.0)
    val now = Map(
      "q1" -> 1.8, // 1.8x and +0.8 s: a mover
      "q2" -> 2.4, // 1.2x: ratio gate drops it (session spread)
      "q3" -> 0.35, // 3.5x but +0.25 s: absolute gate drops noise jumps
      "q4" -> 14.0, // 3.5x and +10 s: the worst mover
      "q9" -> 50.0) // no reference row (new query): nothing to compare
    assert(Bench.worstMovers(now, ref, n = 8) === Seq("q4", "q1"))
    assert(Bench.worstMovers(now, ref, n = 1) === Seq("q4"))
    assert(Bench.worstMovers(now, ref, n = 0) === Seq.empty)
    assert(Bench.worstMovers(now, Map.empty, n = 8) === Seq.empty,
      "first run (no artifact) re-times nothing")
  }

  test("refTimes: parses query keys out of a previous artifact, skips error strings; absent file is empty") {
    val f = java.nio.file.Files.createTempFile("bench-ref", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","value":3.5,"unit":"sec",""" +
        """"queries":{"q01_agg":1.25,"q106_lsh_tuning":2.25},""" +
        """"errors":{"q02_join":"boom: 1.5 things"},"sf":"/d"}""")
    val r = Bench.refTimes(f.toString)
    assert(r === Map("q01_agg" -> 1.25, "q106_lsh_tuning" -> 2.25),
      s"error strings and non-query keys must not parse as timings: $r")
    assert(Bench.refTimes("/nonexistent/bench.json") === Map.empty)
  }

  test("renderCompactJson: errors capped at 3 by name with n_errors; no file written gives a null path") {
    val merged: Map[String, Either[String, Double]] =
      (1 to 50).map(i => f"q$i%03d_bad" -> (Left(s"boom $i" * 20): Either[String, Double]))
        .toMap + ("q999_ok" -> Right(1.5))
    val line = Bench.renderCompactJson(merged, "/d", Map.empty, None)
    assert(line.contains("\"n_errors\":50"), line)
    assert(line.contains("\"errors\":{\"q001_bad\":") && line.contains("q003_bad") &&
      !line.contains("q004_bad"), s"first 3 errors by name only: $line")
    assert(line.contains("\"queries_file\":null"), line)
    assert(line.contains("\"n_queries\":1,\"queries\":{\"q999_ok\":1.5}") &&
      line.contains("\"value\":1.5"), line)
    assert(line.length < 1500, s"compact line too long: ${line.length}")
    val clean = Bench.renderCompactJson(Map("q01_x" -> Right(2.0)), "/d",
      Map.empty, Some("BENCH_last.json"))
    assert(clean.contains("\"n_errors\":0,\"errors\":{}") &&
      clean.contains("\"queries_file\":\"BENCH_last.json\""), clean)
  }

  test("renderCompactJson: queries maps the slowest successes that fit in about 1500 chars") {
    // 300 successes, q001 the fastest and q300 the slowest, plus errors
    val merged: Map[String, Either[String, Double]] =
      (1 to 300).map(i => f"q$i%03d_row" -> (Right(i / 100.0): Either[String, Double]))
        .toMap ++ (1 to 2).map(i => s"q90$i" + "_bad" -> Left("boom"))
    val line = Bench.renderCompactJson(merged, "/d", Map.empty, None)
    assert(line.contains("\"n_queries\":300,") && line.contains("\"n_errors\":2,"), line)
    val map = "\"queries\":(\\{[^}]*\\})".r.findFirstMatchIn(line).get.group(1)
    val keys = "\"(q[0-9]+_[a-z]+)\":".r.findAllMatchIn(map).map(_.group(1)).toSeq
    val slowestFirst = (300 to 1 by -1).map(i => f"q$i%03d_row")
    assert(keys.nonEmpty && keys === slowestFirst.take(keys.size),
      s"slowest first, no error rows: $map")
    assert(map.length <= Bench.compactQueriesChars, map.length)
    val next = "\"" + slowestFirst(keys.size) + "\":" + (300 - keys.size) / 100.0
    assert(map.length + next.length + 1 > Bench.compactQueriesChars,
      "as many entries as fit")
    assert(map.contains("\"q300_row\":3.0,\"q299_row\":2.99"), map)
    assert(line.length < 2000, s"compact line too long: ${line.length}")
  }

  test("setup_errors: failed setup steps ride in both lines, the compact one capped at 3 in step order") {
    val merged = Map[String, Either[String, Double]]("q01_x" -> Right(2.0))
    val steps = Seq("warmup" -> "boom \"w\"\n", "graft_q90_ivf" -> "IOException: gone",
      "graft_q108_ivfpq" -> "x", "served_knn_edges" -> "y")
    val full = Bench.renderJson(merged, "/d", Map.empty, steps)
    assert(full.contains("\"setup_errors\":{\"warmup\":\"boom  w  \",\"graft_q90_ivf\":" +
      "\"IOException: gone\",\"graft_q108_ivfpq\":\"x\",\"served_knn_edges\":\"y\"}"), full)
    assert(full.split("\n").length === 1)
    val compact = Bench.renderCompactJson(merged, "/d", Map.empty, None, steps)
    assert(compact.contains("\"n_setup_errors\":4,\"setup_errors\":{\"warmup\":" +
      "\"boom  w  \",\"graft_q90_ivf\":\"IOException: gone\",\"graft_q108_ivfpq\":\"x\"}"),
      compact)
    // a clean setup still states it, in both lines
    assert(Bench.renderJson(merged, "/d").contains("\"setup_errors\":{}"))
    assert(Bench.renderCompactJson(merged, "/d", Map.empty, None)
      .contains("\"n_setup_errors\":0,\"setup_errors\":{}"))
  }

  test("retime_errors: a thrown re-time run rides in the full line by name, counted in the compact one") {
    val merged = Map[String, Either[String, Double]]("q01_x" -> Right(4.0),
      "q02_y" -> Right(3.0))
    val fails = Seq("q02_y" -> "IllegalStateException: \"gone\"\n")
    val full = Bench.renderJson(merged, "/d", Map("q01_x" -> 1.5, "q02_y" -> 3.0),
      Seq.empty, fails)
    assert(full.contains("\"retimed\":{\"q01_x\":1.5,\"q02_y\":3.0}," +
      "\"retime_errors\":{\"q02_y\":\"IllegalStateException:  gone  \"}"), full)
    assert(full.split("\n").length === 1)
    val compact = Bench.renderCompactJson(merged, "/d", Map("q01_x" -> 1.5),
      None, Seq.empty, fails)
    assert(compact.contains("\"retimed\":1,\"n_retime_errors\":1,"), compact)
    // a clean variance pass still states it, in both lines
    assert(Bench.renderJson(merged, "/d").contains("\"retime_errors\":{}"))
    assert(Bench.renderCompactJson(merged, "/d", Map.empty, None)
      .contains("\"n_retime_errors\":0"))
  }

  test("renderJson: retimed floors ride beside the sweep numbers") {
    val merged = Map[String, Either[String, Double]]("q01_x" -> Right(4.0))
    val json = Bench.renderJson(merged, "/d", Map("q01_x" -> 1.5))
    assert(json.contains("\"q01_x\":4.0") &&
      json.contains("\"retimed\":{\"q01_x\":1.5}"),
      s"both the sweep number and the floor must ship: $json")
  }
}
