package graft

import org.scalatest.funsuite.AnyFunSuite

/** `RunConfig.from` parses every `SPARK_GRAFT_*` variable; no Spark. Each
  * rejection must name the variable, so a bad value at the top of a long
  * sweep is fixable from the message alone. */
class RunConfigSpec extends AnyFunSuite {

  private def rejects(env: (String, String)*): String =
    intercept[IllegalArgumentException](RunConfig.from(env.toMap)).getMessage

  test("defaults") {
    assert(RunConfig.from(Map.empty) == RunConfig(
      sfDir = "/root/testdata/sf0.1", cpus = 4, passes = 3, only = None,
      skip = Nil, fork = false, conf = Nil, singleFile = true,
      gcSettle = false))
  }

  test("set values parse") {
    val c = RunConfig.from(Map(
      "SPARK_GRAFT_SF_DIR" -> "tools/sf1",
      "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_PASSES" -> "1",
      "SPARK_GRAFT_ONLY" -> " q01_pricing_summary, q02_filter_project ,",
      "SPARK_GRAFT_SKIP" -> "q02_filter_project",
      "SPARK_GRAFT_FORK" -> "true",
      "SPARK_GRAFT_CONF" -> "a.b=1; c=x=y ;",
      "SPARK_GRAFT_SINGLE_FILE" -> "false",
      "SPARK_GRAFT_GC_SETTLE" -> "true"))
    assert(c == RunConfig("tools/sf1", 8, 1,
      Some(Seq("q01_pricing_summary", "q02_filter_project")),
      Seq("q02_filter_project"), fork = true, Seq("a.b" -> "1", "c" -> "x=y"),
      singleFile = false, gcSettle = true))
    assert(c.selected.keySet == Set("q01_pricing_summary"))
    assert(RunConfig.from(Map.empty).selected.size == SparkEntry.queries.size)
  }

  for (bad <- Seq("abc", "0", "-2", "2.5", "")) {
    test(s"CPUS '$bad' is rejected") {
      assert(rejects("SPARK_GRAFT_CPUS" -> bad).contains("SPARK_GRAFT_CPUS"))
    }
  }

  for (bad <- Seq("x", "0")) {
    test(s"PASSES '$bad' is rejected") {
      assert(rejects("SPARK_GRAFT_PASSES" -> bad).contains("SPARK_GRAFT_PASSES"))
    }
  }

  for (name <- Seq("FORK", "SINGLE_FILE", "GC_SETTLE")) {
    test(s"$name other than true/false is rejected") {
      val v = s"SPARK_GRAFT_$name"
      assert(rejects(v -> "yes").contains(v))
      assert(rejects(v -> "TRUE").contains(v))
    }
  }

  test("retired or misspelled SPARK_GRAFT_ names are rejected, listed next to the known ones") {
    val msg = rejects("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "64",
      "SPARK_GRAFT_SHUFFLE_METRICS" -> "true", "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_DRIVER_MEM" -> "2g")
    assert(msg.contains("SPARK_GRAFT_SHUFFLE_METRICS, SPARK_GRAFT_SHUFFLE_PARTITIONS;"))
    assert(RunConfig.Names.forall(msg.contains))
    assert(RunConfig.Names.size == 9)
  }

  test("CONF entry without '=' or with an empty key is rejected") {
    assert(rejects("SPARK_GRAFT_CONF" -> "a=1;novalue").contains("SPARK_GRAFT_CONF"))
    assert(rejects("SPARK_GRAFT_CONF" -> "=v").contains("SPARK_GRAFT_CONF"))
  }

  test("unknown query names are rejected, listed by name") {
    val only = rejects("SPARK_GRAFT_ONLY" -> "q01_pricing_summary,q01_typo")
    assert(only.contains("SPARK_GRAFT_ONLY") && only.contains("q01_typo"))
    assert(!only.contains("q01_pricing_summary"))
    val skip = rejects("SPARK_GRAFT_SKIP" -> "q153_ppjon,q41_distinct_skech")
    assert(skip.contains("SPARK_GRAFT_SKIP") &&
      skip.contains("q153_ppjon, q41_distinct_skech"))
    val arg = intercept[IllegalArgumentException](
      RunConfig.queryNames("q02_filter_project,nope", "Verify's name list")).getMessage
    assert(arg.contains("Verify's name list") && arg.contains("nope"))
  }
}
