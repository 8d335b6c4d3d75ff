package graft

import org.apache.spark.sql.functions._

import graft.functions.{DistinctSketch, HllBuffer}

/** HLL distinct sketch: exact sparse regime, dense estimate accuracy,
  * sparse→dense spill, and the distributed merge path. */
class DistinctSketchSpec extends SparkSpec {
  import spark.implicits._

  test("sparse regime is exact and survives the partial/final merge path") {
    graft.plans.GraftExtensions.install(spark)
    // 32 partitions force partial aggregates + cross-partition merges,
    // including sparse∪sparse merges of disjoint and overlapping sets
    val df = (1 to 20000).map(i => i % 3000).toDF("v").repartition(32)
    val got = df.agg(DistinctSketch.hll_distinct(col("v"), 14, 4096)).head().getLong(0)
    assert(got == 3000L)
  }

  test("dense estimate within 3% at 100k distinct (p=14, rse ~0.8%)") {
    graft.plans.GraftExtensions.install(spark)
    val n = 100000
    val df = (1 to n).toDF("v").repartition(16)
    // sparseLimit 64 forces dense conversion early, so the merge path
    // also exercises sparse-into-dense and dense-register-max merges
    val got = df.agg(DistinctSketch.hll_distinct(col("v"), 14, 64)).head().getLong(0)
    assert(math.abs(got - n).toDouble / n < 0.03, s"estimate $got vs $n")
  }

  test("dense estimate unbiased in the classic HLL transition band (2.5m-5m)") {
    graft.plans.GraftExtensions.install(spark)
    // p=14 => m=16384; classic HLL's raw/linear-counting switch carries a
    // bias spike for true cardinality in [2.5m, 5m] = [40960, 81920].
    // Ertl's estimator has no switch; assert tight accuracy mid-band.
    val n = 60000
    val df = (1 to n).toDF("v").repartition(8)
    val got = df.agg(DistinctSketch.hll_distinct(col("v"), 14, 64)).head().getLong(0)
    assert(math.abs(got - n).toDouble / n < 0.02, s"transition-band estimate $got vs $n")
  }

  test("sigma/tau helpers: boundary values") {
    assert(HllBuffer.sigma(0.0) == 0.0)
    assert(HllBuffer.sigma(1.0).isPosInfinity) // empty sketch => estimate 0
    assert(HllBuffer.tau(0.0) == 0.0 && HllBuffer.tau(1.0) == 0.0)
    // tau is positive and small on (0,1)
    val t = HllBuffer.tau(0.5)
    assert(t > 0.0 && t < 0.2, s"tau(0.5)=$t")
  }

  test("buffer spills sparse to dense at the limit; merge never loses info") {
    val a = new HllBuffer(12, 10)
    (1 to 10).foreach(i => a.add(i.toLong * 0x9E3779B97F4A7C15L))
    assert(a.isSparse && a.estimate() == 10L)
    a.add(11L * 0x9E3779B97F4A7C15L) // 11th distinct hash crosses the limit
    assert(!a.isSparse)
    // sparse b merges into dense a
    val b = new HllBuffer(12, 10)
    (100 to 105).foreach(i => b.add(i.toLong * 0x9E3779B97F4A7C15L))
    a.mergeIn(b)
    assert(!a.isSparse)
    val est = a.estimate()
    assert(math.abs(est - 17L) <= 2, s"dense small-range estimate $est") // linear counting regime
  }

  test("SQL surface: hll_distinct(col, p, limit) via the function registry") {
    graft.plans.GraftExtensions.install(spark)
    (1 to 500).map(i => i % 77).toDF("v").createOrReplaceTempView("hll_in")
    assert(spark.sql("SELECT hll_distinct(v, 14, 4096) FROM hll_in").head().getLong(0) == 77L)
    // string child: the UTF8String hash path (grouped, multi-partition)
    val byGroup = (1 to 300).map(i => (i % 2, s"tok${i % 30}")).toDF("g", "s")
      .repartition(8)
      .groupBy(col("g")).agg(DistinctSketch.hll_distinct(col("s")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byGroup == Map(0 -> 15L, 1 -> 15L))
  }

  test("hll_distinct works inside a streaming windowed aggregation") {
    // the mergeable-partial contract is exactly what a streaming agg
    // needs: state per (window, key) is one sketch, updated per batch
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.install(spark)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val q = stream.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(DistinctSketch.hll_distinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("ws"), col("n_users"))
      .writeStream.format("memory").queryName("hll_stream").outputMode("update").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:02:00"), 2L))
    q.processAllAvailable()
    stream.addData((ts("2024-01-01 00:03:00"), 2L), (ts("2024-01-01 00:04:00"), 3L))
    q.processAllAvailable()
    q.stop()
    // update mode re-emits the window row; the LAST emission carries the
    // full distinct count across both batches (2 then 3)
    val emitted = spark.sql("SELECT n_users FROM hll_stream").collect().map(_.getLong(0))
    assert(emitted.last == 3L, emitted.mkString(","))
  }

  test("q41 plan: one aggregate pass, no Expand (unlike exact countDistinct)") {
    val p41 = graft.queries.QueryCatalog.queries("q41_distinct_sketch")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!p41.contains("Expand"), p41)
    val p31 = graft.queries.QueryCatalog.queries("q31_distinct_agg")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(p31.contains("Expand"), p31) // the cost q41 removes
  }
}
