package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available in any session via
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (the standard injection hook — SURVEY §2.10: custom `Rule`s and
  * `SparkStrategy`s are deliberately NOT needed for reference parity, so
  * the only injection is the function registry).
  *
  * For an already-running session (tests, notebooks) use `install(spark)`.
  * Both paths read the one `functions` table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every graft SQL function, once. */
  val functions: Seq[Descriptor] = {
    import graft.functions._
    Seq(
      fn("char_ngrams", classOf[CharNgrams])(CharNgrams.build),
      fn("token_stats", classOf[TokenStats])(TokenStats.build),
      fn("vec_dot", classOf[VectorDot])(es => VectorDot(es.head, es(1))),
      fn("vec_norm", classOf[VectorNorm])(es => VectorNorm(es.head)),
      fn("vec_argmin_cell", classOf[VectorArgminCell])(VectorArgminCell.build),
      fn("frequent_items", classOf[FrequentItemsAgg])(FrequentItems.build),
      fn("hll_distinct", classOf[SketchAgg[_]])(DistinctSketch.build(stored = false)),
      fn("hll_sketch", classOf[SketchAgg[_]])(DistinctSketch.build(stored = true)),
      fn("hll_estimate", classOf[HllEstimate])(DistinctSketch.buildEstimate),
      fn("hll_merge", classOf[SketchMergeAgg[_]])(SketchMerge.build),
      fn("theta_sketch", classOf[SketchAgg[_]])(ThetaSketch.buildAgg),
      fn("theta_estimate", ThetaSketch.getClass)(ThetaSketch.buildEstimate),
      fn("theta_intersect_estimate", ThetaSketch.getClass)(
        ThetaSketch.buildSetEstimate(_, intersect = true)),
      fn("theta_union_estimate", ThetaSketch.getClass)(
        ThetaSketch.buildSetEstimate(_, intersect = false)),
      fn("vec_avg", classOf[VecAvgAgg])(VectorAgg.build),
      fn("bloom_agg", classOf[SketchAgg[_]])(BloomFilter.buildAgg),
      fn("bloom_might_contain", classOf[BloomMightContain])(BloomFilter.buildContains),
      fn("kll_agg", classOf[SketchAgg[_]])(QuantileSketch.buildAgg),
      fn("kll_quantile", classOf[KllQuantile])(QuantileSketch.buildQuantile),
      fn("kll_n", classOf[KllN])(QuantileSketch.buildN),
      fn("z_value", classOf[ZValue])(ZOrder.build),
      fn("topk_by", classOf[TopKAgg])(TopK.build))
  }

  /** Register everything on a live session. Idempotent, and registers
    * only absent names: replacing a temp function logs a WARN every time
    * a pipeline re-installs (Bench installs per query). */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
