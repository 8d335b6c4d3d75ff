package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.FrequentItems

/** Misra-Gries frequent-items aggregate: exactness when cardinality fits
  * the capacity, guarantees on skewed data, determinism across partition
  * layouts, SQL registration. */
class FrequentItemsSpec extends SparkSpec {
  import spark.implicits._

  private def items(rows: Array[Row]): Seq[(String, Long)] =
    rows.head.getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))

  test("exact counts when distinct items <= capacity") {
    graft.plans.GraftExtensions.install(spark)
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("tok")
    val got = items(df.agg(FrequentItems.frequent_items($"tok", 10)).collect())
    assert(got == Seq(("a", 5L), ("b", 3L), ("c", 1L)))
  }

  test("heavy hitter survives over-capacity streams with a lower-bound count") {
    graft.plans.GraftExtensions.install(spark)
    // 400 "hot" + 2000 distinct cold tokens, capacity 50:
    // freq(hot)=400 > N/capacity=48 -> guaranteed present
    val rows = Seq.fill(400)("hot") ++ (0 until 2000).map(i => s"cold$i")
    val df = rows.toDF("tok").repartition(8)
    val got = items(df.agg(FrequentItems.frequent_items($"tok", 50)).collect())
    val hot = got.find(_._1 == "hot")
    assert(hot.isDefined, s"heavy hitter missing from $got")
    assert(hot.get._2 <= 400L && hot.get._2 > 0L)
    assert(got.size <= 50)
  }

  test("deterministic output ordering (count desc, item asc)") {
    graft.plans.GraftExtensions.install(spark)
    val df = (Seq.fill(2)("b") ++ Seq.fill(2)("a") ++ Seq.fill(3)("z")).toDF("tok")
    val got = items(df.agg(FrequentItems.frequent_items($"tok", 10)).collect())
    assert(got == Seq(("z", 3L), ("a", 2L), ("b", 2L)))
  }

  test("SQL registration and grouped aggregation") {
    graft.plans.GraftExtensions.install(spark)
    Seq(("en", "the"), ("en", "the"), ("en", "dog"), ("fr", "le"))
      .toDF("lang", "tok").createOrReplaceTempView("fi_in")
    val got = spark.sql(
      "SELECT lang, frequent_items(tok, 5) AS fi FROM fi_in GROUP BY lang ORDER BY lang")
      .collect()
    assert(got(0).getSeq[Row](1).head.getString(0) == "the")
    assert(got(1).getSeq[Row](1).head.getString(0) == "le")
  }

  test("real corpus: top tokens match exact groupBy counts") {
    graft.plans.GraftExtensions.install(spark)
    val toks = graft.sources.Tables.documents(spark, sf())
      .select(explode(split($"text", " ")).as("tok")).filter($"tok" =!= "")
    // vocab (~31 tokens) fits capacity 64 -> sketch must be exact
    val sketch = items(toks.agg(FrequentItems.frequent_items($"tok", 64)).collect()).toMap
    val exact = toks.groupBy($"tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }
}
