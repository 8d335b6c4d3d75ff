package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

import graft.functions.{Hll, SketchAgg}

/** The one sketch aggregate: equal calls share a buffer, every family's
  * bytes stay the format already stored and kept in streaming state, and
  * a non-binary sketch argument fails at analysis. */
class SketchAggSpec extends SparkSpec {
  import spark.implicits._

  private def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString

  test("two identical kll_agg calls plan one kll_agg per aggregate stage") {
    graft.plans.GraftExtensions.install(spark)
    Seq(1.0, 2.0, 3.0).toDF("x").createOrReplaceTempView("sa_kll")
    val plan = spark.sql(
      "SELECT kll_quantile(kll_agg(x), 0.5d), kll_n(kll_agg(x)) FROM sa_kll").queryExecution.sparkPlan
    val stages = plan.collect { case a: BaseAggregateExec => a }
    assert(stages.size == 2, plan) // partial and final
    stages.foreach { s =>
      assert(s.aggregateExpressions.count(_.aggregateFunction.prettyName == "kll_agg") == 1, s)
    }
  }

  test("HLL partial-buffer bytes: the parameter-free payload, sparse and dense") {
    val agg = SketchAgg(Literal(0L), Hll(4, 3, stored = false))
    val sparse = agg.createAggregationBuffer()
    Seq(11L, -7L, 0L).foreach(v => sparse.add(v * 0x9E3779B97F4A7C15L))
    val dense = agg.createAggregationBuffer()
    (1L to 6L).foreach(v => dense.add(v * 0x9E3779B97F4A7C15L))
    assert(sparse.isSparse && !dense.isSparse)
    // recorded before the per-family aggregates were folded into SketchAgg
    val want = Seq(
      "00000000030000000000000000ac7babed84f69b6dcc623af8783354e7",
      "0100020001000000010001000200010000")
    assert(Seq(sparse, dense).map(b => hex(agg.serialize(b))) == want)
    assert(Seq(sparse, dense).map(b => hex(agg.serialize(agg.deserialize(agg.serialize(b))))) == want)
  }

  test("stored bytes of every family are unchanged") {
    graft.plans.GraftExtensions.install(spark)
    Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L).toDF("x").coalesce(1).createOrReplaceTempView("sa_stored")
    val r = spark.sql("""SELECT bloom_agg(x, 64, 2) b, kll_agg(x, 8) k,
      theta_sketch(x, 16) t, hll_sketch(x, 4, 3) h, hll_sketch(x, 4, 100) hs FROM sa_stored""").head()
    // recorded before the per-family aggregates were folded into SketchAgg
    val want = Map(
      "b" -> "000000400000000200061a2810002ca0",
      "k" -> ("0000000800000000000000080000000000000000000000010000000840080000" +
        "000000003ff000000000000040100000000000003ff000000000000040140000" +
        "00000000402200000000000040000000000000004018000000000000"),
      "t" -> ("00000010ffffffffffffffff00000007059c4a89fb2de7a32c40bd26ddcfe7cb" +
        "56c2fce4547666457a05925b5290c64a9ed50fd59358d232d19fe30002b9a3cd" +
        "e517d78f5ca80cdc"),
      "h" -> "04000000030102000100000200010001000000040200",
      "hs" -> ("0400000064000000000756c2fce454766645e517d78f5ca80cdc2c40bd26ddcf" +
        "e7cb7a05925b5290c64a059c4a89fb2de7a3d19fe30002b9a3cd9ed50fd59358" +
        "d232"))
    want.foreach { case (col, bytes) => assert(hex(r.getAs[Array[Byte]](col)) == bytes, col) }
  }

  test("a non-binary sketch argument fails at analysis, naming the function and the type") {
    graft.plans.GraftExtensions.install(spark)
    val bin = "cast('a' AS binary)"
    val cases = Seq(
      ("hll_merge", "id", "BIGINT"),
      ("hll_estimate", "id", "BIGINT"),
      ("theta_estimate", "cast(id AS string)", "STRING"),
      ("theta_intersect_estimate", s"$bin, id", "BIGINT"),
      ("theta_union_estimate", s"cast(id AS int), $bin", "INT"),
      ("kll_quantile", "id, 0.5d", "BIGINT"),
      ("kll_n", "cast(id AS int)", "INT"),
      ("bloom_might_contain", "'abc', id", "STRING"))
    cases.foreach { case (fn, args, tpe) =>
      // spark.sql analyzes eagerly: no job runs before the failure
      val e = intercept[Exception](spark.sql(s"SELECT $fn($args) FROM range(3)"))
      assert(msgs(e).exists(m => m.contains(s"$fn: argument") && m.contains(s"got $tpe")), msgs(e))
    }
    // an untyped NULL is still a null sketch
    val nulls = spark.sql("SELECT hll_merge(NULL), kll_n(NULL) FROM range(3)").head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}
