package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorAgg
import graft.sources.Tables

/** Functional coverage for the vec_avg native aggregate on the
  * real float embeddings: agreement with the explode-based formulation,
  * SQL registration, null handling, and the dimension-mismatch guard. */
class VectorAggSpec extends SparkSpec {
  import spark.implicits._

  graft.plans.GraftExtensions.install(spark)

  test("vec_avg on float embeddings matches posexplode within 1 ulp-ish") {
    val e = Tables.embeddings(spark, sf())
    val got = e.groupBy(col("label"))
      .agg(VectorAgg.vec_avg(col("embedding")).as("c"))
      .select(col("label"), col("c"))
      .as[(Int, Seq[Double])].collect().toMap
    val exp = e.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (l, c) =>
      c.zip(exp(l)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"label $l: $a vs $b")
      }
    }
  }

  test("registered SQL form works; empty group of nulls yields null") {
    Tables.embeddings(spark, sf()).createOrReplaceTempView("emb_va")
    val n = spark.sql("SELECT size(vec_avg(embedding)) FROM emb_va")
      .as[Int].head()
    assert(n == 64)
    val allNull = Seq.empty[Array[Double]].map(Tuple1(_)).toDF("v")
      .union(Seq(Tuple1(null.asInstanceOf[Array[Double]])).toDF("v"))
      .agg(VectorAgg.vec_avg(col("v"))).collect().head
    assert(allNull.isNullAt(0))
  }

  test("dimension mismatch inside a group fails loudly") {
    val bad = Seq(Array(1.0, 2.0), Array(1.0, 2.0, 3.0)).map(Tuple1(_)).toDF("v")
    val ex = intercept[Exception] {
      bad.agg(VectorAgg.vec_avg(col("v"))).collect()
    }
    assert(ex.getMessage != null)
  }
}
