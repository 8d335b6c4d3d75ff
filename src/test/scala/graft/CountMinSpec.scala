package graft

import org.apache.spark.sql.functions._

import graft.functions.CountMin

/** Count-Min sketch: never-undercount guarantee, tight estimates at sane
  * sizing, distributed merge losslessness, and sketch-vs-exact agreement
  * on real data. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  test("estimates never undercount and are exact when width dwarfs cardinality") {
    graft.plans.GraftExtensions.install(spark)
    // zipf-ish: token i appears i times, 1..50 -> 1275 rows, 50 distinct
    val rows = (1 to 50).flatMap(i => Seq.fill(i)(s"tok$i"))
    val sketch = rows.toDF("t").repartition(16)
      .agg(CountMin.cms_agg(col("t"), 2048, 4).as("sk"))
    val est = (1 to 50).map(i => s"tok$i").toDF("t")
      .crossJoin(broadcast(sketch))
      .select(col("t"), CountMin.cms_estimate(col("sk"), col("t")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (1 to 50).foreach { i =>
      assert(est(s"tok$i") >= i.toLong, s"undercount for tok$i")
      assert(est(s"tok$i") == i.toLong, s"collision at this sizing is ~impossible: tok$i -> ${est(s"tok$i")}")
    }
  }

  test("overcount stays within the epsilon*N bound under heavy collision pressure") {
    graft.plans.GraftExtensions.install(spark)
    val n = 20000
    val rows = (1 to n).map(i => s"k${i % 5000}") // 5000 distinct >> width 256
    val sketch = rows.toDF("t").agg(CountMin.cms_agg(col("t"), 256, 4).as("sk"))
    val ests = (0 until 5000).map(i => s"k$i").toDF("t")
      .crossJoin(broadcast(sketch))
      .select(CountMin.cms_estimate(col("sk"), col("t")).as("e"))
      .collect().map(_.getLong(0))
    assert(ests.forall(_ >= 4L)) // true count per key
    // eps = e/width ~ 0.0106 -> eps*N ~ 212 worst-case; typical far lower
    assert(ests.max <= 4L + (math.E / 256 * n).toLong, s"max est ${ests.max}")
  }

  test("merge is lossless: any partitioning yields byte-identical sketches") {
    graft.plans.GraftExtensions.install(spark)
    val df = (1 to 5000).map(i => i % 700).toDF("v")
    def bytes(parts: Int): Seq[Byte] =
      df.repartition(parts).agg(CountMin.cms_agg(col("v"), 512, 4)).head()
        .getAs[Array[Byte]](0).toSeq
    val single = bytes(1)
    assert(bytes(5) == single && bytes(32) == single)
  }

  test("sketch frequencies match exact counts on the documents corpus tokens") {
    graft.plans.GraftExtensions.install(spark)
    val toks = graft.sources.Tables.documents(spark, sf())
      .select(explode(graft.ops.Text.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = toks.agg(CountMin.cms_agg(col("tok"), 1 << 14, 4).as("sk"))
    val est = exact.keys.toSeq.toDF("tok")
      .crossJoin(broadcast(sketch))
      .select(col("tok"), CountMin.cms_estimate(col("sk"), col("tok")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, c) =>
      assert(est(t) == c, s"token '$t': exact $c, cms ${est(t)} (width 2^14 vs ~40 distinct)")
    }
    intercept[IllegalArgumentException] {
      val a = new CountMin.Buffer(128, 4)
      a.mergeIn(new CountMin.Buffer(256, 4))
    }
  }
}
