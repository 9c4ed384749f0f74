package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench JSON line's length budget: the driver parses it from the
  * last 2000 chars of output and sbt's "[success] Total time ..." trailer
  * (~76 chars + newlines) sits after it, so the line must stay under ~1900
  * chars for EVERY key in the inventory even with pessimistic timings. */
class BenchLineSpec extends AnyFunSuite {

  test("bench line fits the harness tail for the full inventory at worst-case widths") {
    // worst case: every key slow enough to print 3-digit seconds
    val results = SparkEntry.queries.keys.toSeq.map(k => k -> 123.45)
    val line = Bench.renderLine(results, "/root/testdata/sf0.1")
    assert(line.length < 1900, s"bench line ${line.length} chars risks tail truncation")
    assert(line.startsWith("""{"metric":"total""""))
    // must be valid single-line JSON-ish: balanced braces, no newlines
    assert(!line.contains("\n"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("bench line preserves the total over all keys, not just the reported 40") {
    val results = (1 to 85).map(i => s"q$i" -> 1.0)
    val line = Bench.renderLine(results, "/root/testdata/sf0.1")
    assert(line.contains("\"value\":85"))
    assert(line.contains("_others_45"))
  }

  test("writeFull lists the keys that threw under _failed, once each, sorted") {
    val path = java.nio.file.Files.createTempFile("bench_full", ".json")
    try {
      Bench.writeFull(Seq("b" -> 1.0, "a" -> 0.5, "c" -> 0.25), Seq("c", "a", "c"),
        "/data/sf0.1", path.toString)
      val json = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(json.contains(""""_failed": ["a", "c"],"""), json)
      assert(json.contains(""""_keys": 3,"""), json)
      assert(json.contains(""""_total_sec": 1.750,"""), json)
      Bench.writeFull(Seq("a" -> 0.5), Nil, "/data/sf0.1", path.toString)
      val clean = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(clean.contains(""""_failed": [],"""), clean)
    } finally java.nio.file.Files.deleteIfExists(path)
  }

  test("SCALE_full lists failed keys under _failed, with no growth factor") {
    val json = graft.tools.ScaleFull.render(
      Map("b" -> 2.0, "a" -> 0.5, "c" -> 0.25), Map("b" -> 10.0, "a" -> 6.0, "c" -> 0.5),
      Set("c", "a"))
    assert(json.contains(""""_failed": ["a", "c"],"""), json)
    assert(json.contains(""""_keys": 3,"""), json)
    assert(json.contains(""""_total_sf01_sec": 2.750,"""), json)
    assert(json.contains(""""a": {"sf01_sec": 0.500, "x10_sec": 6.000},"""), json)
    assert(json.contains(""""b": {"sf01_sec": 2.000, "x10_sec": 10.000, "growth": 5.000},"""), json)
    assert(json.contains(""""c": {"sf01_sec": 0.250, "x10_sec": 0.500}"""), json)
    val clean = graft.tools.ScaleFull.render(Map("a" -> 1.0), Map("a" -> 3.0), Set.empty)
    assert(clean.contains(""""_failed": [],"""), clean)
    assert(clean.contains(""""a": {"sf01_sec": 1.000, "x10_sec": 3.000, "growth": 3.000}"""), clean)
  }
}
