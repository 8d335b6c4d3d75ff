package graft

import org.apache.spark.sql.functions._

import graft.functions.ThetaSketch

/** Theta (KMV) sketch: exact regime, set operations, dense-mode
  * accuracy, and the distributed merge path. */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  test("exact regime survives the partial/final merge path") {
    graft.plans.GraftExtensions.install(spark)
    val df = (1 to 20000).map(i => i % 2500).toDF("v").repartition(32)
    val est = df.agg(ThetaSketch.theta_estimate(
      ThetaSketch.theta_sketch(col("v"), 4096))).head().getDouble(0)
    assert(est == 2500.0)
  }

  test("intersection and union are exact below k") {
    // cohort A = {0..599}, cohort B = {400..999}: |A∩B| = 200, |A∪B| = 1000
    val a = new ThetaSketch.Buffer(4096)
    val b = new ThetaSketch.Buffer(4096)
    def h(i: Int) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(i.toLong, org.apache.spark.sql.types.LongType, 42L)
    (0 until 600).foreach(i => a.add(h(i)))
    (400 until 1000).foreach(i => b.add(h(i)))
    assert(a.estimate == 600.0 && b.estimate == 600.0)
    assert(ThetaSketch.intersectionEstimate(a, b) == 200.0)
    assert(ThetaSketch.unionEstimate(a, b) == 1000.0)
  }

  test("dense mode: estimate within 5% at 100k distinct (k=4096)") {
    val buf = new ThetaSketch.Buffer(4096)
    def h(i: Int) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(i.toLong, org.apache.spark.sql.types.LongType, 42L)
    (1 to 100000).foreach(i => buf.add(h(i)))
    val est = buf.estimate
    assert(math.abs(est - 100000) / 100000.0 < 0.05, s"estimate $est")
    // serialization round-trips the dense state losslessly
    val rt = ThetaSketch.deserialize(ThetaSketch.serialize(buf))
    assert(rt.estimate == est)
  }

  test("dense-mode merge equals single-pass build (lossless union)") {
    def h(i: Int) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(i.toLong, org.apache.spark.sql.types.LongType, 42L)
    val whole = new ThetaSketch.Buffer(256)
    (1 to 50000).foreach(i => whole.add(h(i)))
    val p1 = new ThetaSketch.Buffer(256)
    val p2 = new ThetaSketch.Buffer(256)
    (1 to 25000).foreach(i => p1.add(h(i)))
    (20000 to 50000).foreach(i => p2.add(h(i))) // overlapping partitions
    p1.mergeIn(p2)
    assert(p1.estimate == whole.estimate) // same k-minima -> same sketch
  }

  test("SQL surface: sketches compose across GROUP BY cohorts") {
    graft.plans.GraftExtensions.install(spark)
    (1 to 1000).map(i => (if (i % 2 == 0) "even" else "odd", i % 100))
      .toDF("cohort", "v").createOrReplaceTempView("theta_in")
    val row = spark.sql("""
      WITH s AS (SELECT cohort, theta_sketch(v, 1024) AS sk
                 FROM theta_in GROUP BY cohort)
      SELECT theta_intersect_estimate(a.sk, b.sk),
             theta_union_estimate(a.sk, b.sk)
      FROM s a JOIN s b ON a.cohort = 'even' AND b.cohort = 'odd'""").head()
    // evens hit v in {0,2,..,98} (50), odds {1,3,..,99} (50): disjoint
    assert(row.getDouble(0) == 0.0)
    assert(row.getDouble(1) == 100.0)
  }
}
