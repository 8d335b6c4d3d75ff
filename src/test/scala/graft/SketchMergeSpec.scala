package graft

import org.apache.spark.sql.functions._

/** Sketch-of-sketches re-aggregation: per-day HLL sketches persisted to
  * parquet and merged later with `hll_merge` must answer like a single
  * pass over the union, exactly in the sparse regime. */
class SketchMergeSpec extends SparkSpec {
  import spark.implicits._

  // 3 "days" of values with overlap across days
  private lazy val daily = (1 to 3000)
    .map(i => (i % 3, (i % 700).toLong))
    .toDF("day", "key")

  test("hll: stored sketches are self-describing; merge is exact in the sparse regime") {
    graft.plans.GraftExtensions.install(spark)
    val perDay = daily.groupBy("day").agg(
      expr("hll_sketch(key, 14, 4096)").as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("hllsketches").toString
    perDay.write.mode("overwrite").parquet(dir)
    val est = spark.read.parquet(dir).agg(
      expr("hll_estimate(hll_merge(sk))").as("n")).head()
    assert(est.getLong(0) == 700L) // sparse regime: exact across days
    // dense path: tiny sparseLimit forces registers; merged estimate ~ exact
    val dense = daily.groupBy("day")
      .agg(expr("hll_sketch(key, 14, 8)").as("sk"))
      .agg(expr("hll_estimate(hll_merge(sk))").as("n"))
      .head().getLong(0)
    assert(math.abs(dense - 700L) < 0.03 * 700, s"dense merged estimate $dense")
  }

  test("SQL surface: rollup over grouped sketches in one statement") {
    graft.plans.GraftExtensions.install(spark)
    daily.createOrReplaceTempView("sm_daily")
    val row = spark.sql("""
      SELECT hll_estimate(hll_merge(sk)) AS n
      FROM (SELECT day, hll_sketch(key) AS sk FROM sm_daily GROUP BY day)""").head()
    assert(row.getLong(0) == 700L)
  }

  test("guards: shape mismatches raise; empty input yields null") {
    graft.plans.GraftExtensions.install(spark)
    // precision mismatch refuses rather than corrupting registers
    val a = daily.filter(col("day") === 0)
      .agg(expr("hll_sketch(key, 10)").as("sk"))
    val b = daily.filter(col("day") === 1)
      .agg(expr("hll_sketch(key, 12)").as("sk"))
    val e = intercept[Exception] {
      a.union(b).agg(call_function("hll_merge", col("sk"))).head()
    }
    assert(msgs(e).exists(_.contains("hll merge precision mismatch")), msgs(e))

    val empty = daily.filter(col("day") === 99)
      .groupBy("day").agg(expr("hll_sketch(key)").as("sk"))
    assert(empty.agg(call_function("hll_merge", col("sk"))).head().isNullAt(0))
    // all-null sketch column also yields null
    val allNull = Seq(1, 2).toDF("x")
      .withColumn("sk", lit(null).cast("binary"))
    assert(allNull.agg(call_function("hll_merge", col("sk"))).head().isNullAt(0))
  }
}
