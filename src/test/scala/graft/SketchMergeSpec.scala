package graft

import org.apache.spark.sql.functions._

import graft.functions.{BloomFilter, CountMin, DistinctSketch, QuantileSketch, ThetaSketch}

/** Sketch-of-sketches re-aggregation: per-day partial sketches persisted
  * to parquet and merged later must answer like a single pass over the
  * union — byte-identical for the lossless families (CMS, Bloom),
  * estimate-exact in the exact regimes for KLL and Theta. */
class SketchMergeSpec extends SparkSpec {
  import spark.implicits._

  // 3 "days" of values with overlap across days
  private lazy val daily = (1 to 3000)
    .map(i => (i % 3, (i % 700).toLong, ((i * 31) % 500).toDouble))
    .toDF("day", "key", "v")

  test("cms/bloom: merged daily sketches are byte-identical to the single pass") {
    graft.plans.GraftExtensions.install(spark)
    val perDay = daily.groupBy("day").agg(
      CountMin.cms_agg(col("key"), 256, 4).as("cms"),
      BloomFilter.bloom_agg(col("key")).as("bloom"))
    // persist the partials — the re-aggregation reads STORED bytes
    val dir = java.nio.file.Files.createTempDirectory("sketches").toString
    perDay.write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir).agg(
      call_function("cms_merge", col("cms")).as("cms"),
      call_function("bloom_merge", col("bloom")).as("bloom")).head()
    val single = daily.agg(
      CountMin.cms_agg(col("key"), 256, 4).as("cms"),
      BloomFilter.bloom_agg(col("key")).as("bloom")).head()
    assert(java.util.Arrays.equals(
      merged.getAs[Array[Byte]]("cms"), single.getAs[Array[Byte]]("cms")))
    assert(java.util.Arrays.equals(
      merged.getAs[Array[Byte]]("bloom"), single.getAs[Array[Byte]]("bloom")))
  }

  test("kll: merged daily sketches keep the exact count and exact-regime quantiles") {
    graft.plans.GraftExtensions.install(spark)
    val perDay = daily.groupBy("day").agg(
      QuantileSketch.kll_agg(col("v"), 8192).as("sk"))
    val merged = perDay.agg(call_function("kll_merge", col("sk")).as("sk"))
      .select(
        QuantileSketch.kll_n(col("sk")).as("n"),
        QuantileSketch.kll_quantile(col("sk"), 0.5).as("med")).head()
    assert(merged.getAs[Long]("n") == 3000L)
    // total 3000 <= k=8192: every per-day buffer AND the merge stay exact
    val sorted = daily.select("v").as[Double].collect().sorted
    assert(merged.getAs[Double]("med") == sorted(math.ceil(0.5 * 3000).toInt - 1))
  }

  test("theta: merged daily sketches estimate exactly below k") {
    graft.plans.GraftExtensions.install(spark)
    val perDay = daily.groupBy("day").agg(
      ThetaSketch.theta_sketch(col("key")).as("sk"))
    val est = perDay.agg(
      ThetaSketch.theta_estimate(call_function("theta_merge", col("sk"))).as("n")).head()
    assert(est.getDouble(0) == 700.0) // 700 distinct keys across the days
  }

  test("hll: stored sketches are self-describing; merge is exact in the sparse regime") {
    graft.plans.GraftExtensions.install(spark)
    val perDay = daily.groupBy("day").agg(
      DistinctSketch.hll_sketch(col("key"), 14, 4096).as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("hllsketches").toString
    perDay.write.mode("overwrite").parquet(dir)
    val est = spark.read.parquet(dir).agg(
      DistinctSketch.hll_estimate(call_function("hll_merge", col("sk"))).as("n")).head()
    assert(est.getLong(0) == 700L) // sparse regime: exact across days
    // dense path: tiny sparseLimit forces registers; merged estimate ~ exact
    val dense = daily.groupBy("day")
      .agg(DistinctSketch.hll_sketch(col("key"), 14, 8).as("sk"))
      .agg(DistinctSketch.hll_estimate(call_function("hll_merge", col("sk"))).as("n"))
      .head().getLong(0)
    assert(math.abs(dense - 700L) < 0.03 * 700, s"dense merged estimate $dense")
    // precision mismatch refuses rather than corrupting registers
    val a = daily.filter(col("day") === 0)
      .agg(DistinctSketch.hll_sketch(col("key"), 10).as("sk"))
    val b = daily.filter(col("day") === 1)
      .agg(DistinctSketch.hll_sketch(col("key"), 12).as("sk"))
    val e = intercept[Exception] {
      a.union(b).agg(call_function("hll_merge", col("sk"))).head()
    }
    assert(msgs(e).exists(_.contains("hll merge precision mismatch")), msgs(e))
  }

  test("SQL surface: rollup over grouped sketches in one statement") {
    graft.plans.GraftExtensions.install(spark)
    daily.createOrReplaceTempView("sm_daily")
    val row = spark.sql("""
      SELECT kll_n(kll_merge(sk)) AS n
      FROM (SELECT day, kll_agg(v, 8192) AS sk FROM sm_daily GROUP BY day)""").head()
    assert(row.getLong(0) == 3000L)
  }

  test("guards: shape mismatches raise; empty input yields null") {
    graft.plans.GraftExtensions.install(spark)
    val mixed = Seq(0, 1).toDF("g")
      .withColumn("cms",
        when(col("g") === 0, lit(CountMin.serialize(new CountMin.Buffer(256, 4))))
          .otherwise(lit(CountMin.serialize(new CountMin.Buffer(512, 4)))))
    val e = intercept[Exception] {
      mixed.agg(call_function("cms_merge", col("cms"))).head()
    }
    assert(msgs(e).exists(_.contains("cms merge shape mismatch")), msgs(e))

    val empty = daily.filter(col("day") === 99)
      .groupBy("day").agg(CountMin.cms_agg(col("key")).as("cms"))
    assert(empty.agg(call_function("cms_merge", col("cms"))).head().isNullAt(0))
    // all-null sketch column also yields null
    val allNull = Seq(1, 2).toDF("x")
      .withColumn("cms", lit(null).cast("binary"))
    assert(allNull.agg(call_function("cms_merge", col("cms"))).head().isNullAt(0))
  }
}
