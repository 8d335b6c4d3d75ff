package graft

/** The queries whose tails run on one partition after a bounded
  * aggregate — margins as windows over the partitioning the plan already
  * has, `coalesce(1)` after the aggregate, a `sort + limit` cut — must
  * return the same rows whatever the engine's physical choices: AQE on or
  * off, one shuffle partition or many, whole-stage codegen on or off.
  * Each posture runs in an isolated session at sf0.01 and its sorted rows
  * are compared with the default posture's. */
class BoundedTailInvarianceSpec extends SparkSpec {

  private val queries = Seq(
    "q132_mad_outliers", "q150_psi_drift", "q156_jsd_drift", "q203_t_closeness",
    "q212_survival_km", "q216_conformal_threshold")

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
