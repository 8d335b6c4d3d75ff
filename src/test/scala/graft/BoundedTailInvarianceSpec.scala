package graft

/** Queries whose answer must not depend on the engine's physical choices
  * return the same rows under AQE on or off, one shuffle partition or
  * many, and whole-stage codegen on or off:
  *  - the bounded tails, which run on one partition after a bounded
  *    aggregate — margins as windows over the partitioning the plan
  *    already has, `coalesce(1)` after the aggregate, a `sort + limit`
  *    cut;
  *  - the vector-index rows (q137, q137b, q164, q164b), whose cells and
  *    codes come from the `vec_argmin_cell` kernel, evaluated in
  *    generated code or interpreted depending on the posture.
  * Each posture runs in an isolated session at sf0.01 and its sorted rows
  * are compared with the default posture's. */
class BoundedTailInvarianceSpec extends SparkSpec {

  private val queries = Seq(
    "q132_mad_outliers", "q150_psi_drift", "q156_jsd_drift", "q203_t_closeness",
    "q212_survival_km", "q216_conformal_threshold",
    "q137_pq_distortion", "q137b_pq_serve", "q164_semdedup", "q164b_semdedup_scaled")

  private def rows(s: org.apache.spark.sql.SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf("sf0.01")).collect().map(_.toString).toSeq.sorted

  test("the bounded-tail queries return the same rows under every posture") {
    val cores = spark.sparkContext.defaultParallelism
    val postures = Seq(
      "AQE off" -> Seq("spark.sql.adaptive.enabled" -> "false"),
      "1 shuffle partition" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      s"${3 * cores} shuffle partitions" ->
        Seq("spark.sql.shuffle.partitions" -> (3 * cores).toString),
      "whole-stage codegen off" -> Seq("spark.sql.codegen.wholeStage" -> "false"))
    val base = isolated()
    queries.foreach { q =>
      val want = rows(base, q)
      assert(want.nonEmpty, s"$q returned no rows")
      postures.foreach { case (label, conf) =>
        assert(rows(isolated(conf: _*), q) == want, s"$q differs with $label")
      }
    }
  }
}
