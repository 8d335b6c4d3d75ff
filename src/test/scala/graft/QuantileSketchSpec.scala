package graft

import org.apache.spark.sql.functions._

import graft.functions.QuantileSketch

/** KLL quantile sketch: exact regime, compacted-regime rank-error bound,
  * weight conservation through compaction and the distributed merge path,
  * serialization round-trip, and argument guards. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private def lowerQuantile(sorted: Array[Double], q: Double): Double =
    sorted(math.max(1L, math.ceil(q * sorted.length).toLong).toInt - 1)

  test("exact while n <= k, through the 32-partition merge path") {
    graft.plans.GraftExtensions.install(spark)
    val n = 5000
    // deterministic shuffled-ish order: values hit partitions by hash
    val df = (1 to n).map(i => ((i * 2654435761L) % n).toDouble).toDF("v")
      .repartition(32)
    val sorted = df.collect().map(_.getDouble(0)).sorted
    val row = df.agg(QuantileSketch.kll_agg(col("v"), 8192).as("sk"))
      .select(
        QuantileSketch.kll_quantile(col("sk"), 0.0).as("q0"),
        QuantileSketch.kll_quantile(col("sk"), 0.25).as("q25"),
        QuantileSketch.kll_quantile(col("sk"), 0.5).as("q50"),
        QuantileSketch.kll_quantile(col("sk"), 0.99).as("q99"),
        QuantileSketch.kll_quantile(col("sk"), 1.0).as("q100"),
        QuantileSketch.kll_n(col("sk")).as("n"))
      .head()
    assert(row.getAs[Long]("n") == n.toLong)
    for ((name, q) <- Seq("q0" -> 0.0, "q25" -> 0.25, "q50" -> 0.5,
        "q99" -> 0.99, "q100" -> 1.0)) {
      assert(row.getAs[Double](name) == lowerQuantile(sorted, q),
        s"$name: got ${row.getAs[Double](name)}")
    }
  }

  test("compacted regime: count stays exact, rank error bounded") {
    graft.plans.GraftExtensions.install(spark)
    val n = 100000
    val k = 128 // tiny capacity => many compactions at every level
    val df = (1 to n).map(i => ((i * 2654435761L) % n).toDouble).toDF("v")
      .repartition(16)
    val row = df.agg(QuantileSketch.kll_agg(col("v"), k).as("sk"))
      .select(
        QuantileSketch.kll_n(col("sk")).as("n"),
        QuantileSketch.kll_quantile(col("sk"), 0.1).as("q10"),
        QuantileSketch.kll_quantile(col("sk"), 0.5).as("q50"),
        QuantileSketch.kll_quantile(col("sk"), 0.9).as("q90"))
      .head()
    // weight is conserved exactly no matter how many compactions fired
    assert(row.getAs[Long]("n") == n.toLong)
    // values are 0..n-1, so a value IS its own rank: rank error is
    // |estimate - q*n| directly. 5% of n is loose vs observed (<1%) but
    // fails on any structural regression (lost/duplicated weight, biased
    // compaction).
    for ((name, q) <- Seq("q10" -> 0.1, "q50" -> 0.5, "q90" -> 0.9)) {
      val got = row.getAs[Double](name)
      assert(math.abs(got - q * n) < 0.05 * n, s"$name: got $got want ~${q * n}")
    }
  }

  test("local buffer: compaction conserves weight and stays sorted-safe") {
    val b = new QuantileSketch.Buffer(8)
    (1 to 1000).foreach(i => b.add(((i * 31) % 1000).toDouble))
    assert(b.count == 1000L)
    val totalWeight = b.levels.zipWithIndex.map {
      case (l, i) => l.length.toLong << i
    }.sum
    assert(totalWeight == 1000L, s"weight $totalWeight")
    assert(b.levels(0).length <= 8 + 1) // leftover never exceeds cap + 1
  }

  test("serialization round-trips levels, count, and flip bits") {
    val b = new QuantileSketch.Buffer(16)
    (1 to 500).foreach(i => b.add(i.toDouble))
    val back = QuantileSketch.deserialize(QuantileSketch.serialize(b))
    assert(back.k == b.k && back.count == b.count && back.flips == b.flips)
    assert(back.levels.map(_.toSeq) == b.levels.map(_.toSeq))
    // and the query sees identical state
    val qs = Seq(0.1, 0.5, 0.9)
    val a = QuantileSketch.serialize(b)
    assert(qs.map(QuantileSketch.quantile(a, _)) ==
      qs.map(QuantileSketch.quantile(QuantileSketch.serialize(back), _)))
  }

  test("kll_agg works inside a streaming windowed aggregation") {
    // same mergeable-partial contract as the HLL streaming test: one
    // sketch per (window), updated and re-emitted per batch; the last
    // emission's median covers BOTH batches' values exactly (exact regime)
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.install(spark)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Double)]
    val q = stream.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(QuantileSketch.kll_agg(col("v"), 1024).as("sk"))
      .select(QuantileSketch.kll_quantile(col("sk"), 0.5).as("med"))
      .writeStream.format("memory").queryName("kll_stream").outputMode("update").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((ts("2024-01-01 00:01:00"), 10.0), (ts("2024-01-01 00:02:00"), 20.0))
    q.processAllAvailable()
    stream.addData((ts("2024-01-01 00:03:00"), 30.0), (ts("2024-01-01 00:04:00"), 40.0), (ts("2024-01-01 00:04:30"), 50.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.sql("SELECT med FROM kll_stream").collect().map(_.getDouble(0))
    // 5 values 10..50: lower-median rank ceil(0.5*5)=3 -> 30.0
    assert(emitted.last == 30.0, emitted.mkString(","))
  }

  test("nulls are skipped; guards reject bad q, k, and empty sketches") {
    graft.plans.GraftExtensions.install(spark)
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val row = df.agg(QuantileSketch.kll_agg(col("v"), 64).as("sk"))
      .select(
        QuantileSketch.kll_n(col("sk")).as("n"),
        QuantileSketch.kll_quantile(col("sk"), 1.0).as("mx"))
      .head()
    assert(row.getAs[Long]("n") == 2L && row.getAs[Double]("mx") == 3.0)

    val sk = QuantileSketch.serialize {
      val b = new QuantileSketch.Buffer(64); b.add(1.0); b
    }
    intercept[IllegalArgumentException](QuantileSketch.quantile(sk, 1.5))
    intercept[IllegalArgumentException](
      QuantileSketch.quantile(QuantileSketch.serialize(new QuantileSketch.Buffer(64)), 0.5))
    val e = intercept[Exception] {
      df.agg(QuantileSketch.kll_agg(col("v"), 2)).head()
    }
    assert(msgs(e).exists(_.contains("kll_agg")), msgs(e))
  }
}
