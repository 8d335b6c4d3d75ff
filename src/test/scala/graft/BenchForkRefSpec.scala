package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the fork-reference parser behind Bench's self-correcting outlier
  * recheck. Round 13's parser required the compact Scala serialization
  * (`"queries":{`, `"name":1.23`); the newest committed reference at the
  * time (BENCH_r12_full.json) was Python-serialized with `": "`
  * separators, so the parser matched nothing and the recheck never fired
  * — three contention phantoms (q226 at 6.67 s vs 0.87 s same-box) stood
  * uncorrected in the committed driver artifact. Both serializations must
  * parse identically from now on. */
class BenchForkRefSpec extends AnyFunSuite {

  private val compact =
    """{"metric":"total","value":3.0,"unit":"sec","mode":"forked","queries":{"q01_pricing_summary":0.723,"q02_filter_project":0.431,"q99_failed":-1.0},"errors":{},"sf":"/root/testdata/sf0.1"}"""

  private val pythonStyle =
    """{"metric": "total", "value": 3.0, "unit": "sec", "mode": "forked", "queries": {"q01_pricing_summary": 0.723, "q02_filter_project": 0.431, "q99_failed": -1.0}, "errors": {}, "sf": "/root/testdata/sf0.1", "note": "x"}"""

  test("compact Scala serialization parses") {
    val m = Bench.parseForkRef(compact, "/root/testdata/sf0.1")
    assert(m === Map("q01_pricing_summary" -> 0.723, "q02_filter_project" -> 0.431))
  }

  test("Python json.dump serialization (': ' separators) parses identically") {
    val m = Bench.parseForkRef(pythonStyle, "/root/testdata/sf0.1")
    assert(m === Map("q01_pricing_summary" -> 0.723, "q02_filter_project" -> 0.431))
  }

  test("the actual committed reference artifact parses non-empty") {
    val f = new java.io.File("BENCH_r12_full.json")
    assume(f.exists(), "committed reference not present")
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = Bench.parseForkRef(txt, "/root/testdata/sf0.1")
    assert(m.size > 200, s"expected the full catalog, got ${m.size} entries")
    assert(m.values.forall(_ > 0))
  }

  test("scale-factor mismatch yields an empty reference (sf guard)") {
    assert(Bench.parseForkRef(pythonStyle, "/root/testdata/sf1").isEmpty)
  }

  test("failed entries (-1) are dropped") {
    val m = Bench.parseForkRef(compact, "/root/testdata/sf0.1")
    assert(!m.contains("q99_failed"))
  }

  test("summary total is the exact sum of the printed per-query values") {
    // each rounds down by ~0.4 ms; the full-precision sum would print 1.502
    val vs = Seq(0.5004, 0.5004, 0.5004, 0.0004, -1.0)
    assert(Bench.total3(vs) == "1.500")
    assert(Bench.total3(Nil) == "0.000")
  }

  test("in-JVM and forked sweeps print one summary format; the parser reads it back") {
    val results = Seq("q01" -> 0.7234, "q99" -> -1.0)
    val errors = Map("q99" -> "boom \"x\"\n")
    val inJvm = Bench.summaryLine(results, errors, Map("q01" -> (2.0, 0.7234)), "/d/sf0.1", forked = false)
    assert(inJvm == """{"metric":"total","value":0.723,"unit":"sec","queries":{"q01":0.723,"q99":-1},""" +
      """"errors":{"q99":"boom  x  "},"rechecks":{"q01":{"in_sweep":2.000,"recheck":0.723}},"sf":"/d/sf0.1"}""")
    val forked = Bench.summaryLine(results, errors, Map.empty, "/d/sf0.1", forked = true)
    assert(forked == """{"metric":"total","value":0.723,"unit":"sec","mode":"forked",""" +
      """"queries":{"q01":0.723,"q99":-1},"errors":{"q99":"boom  x  "},"sf":"/d/sf0.1"}""")
    assert(Bench.parseForkRef(forked, "/d/sf0.1") == Map("q01" -> 0.723))
  }
}
