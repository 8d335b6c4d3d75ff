package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
  * over an embedding column — partition the corpus into k-means cells, run
  * exact pairwise cosine ONLY inside each cell, and drop every vector that
  * has a close-enough (cos ≥ tau) lower-id neighbor in its cell. The cell
  * is the blocking key that bounds the quadratic: within-cell all-pairs on
  * bounded cells is O(n · cellSize), never corpus², and the cell count is
  * the scale dial (at 100 TB: tens of thousands of cells from a sampled
  * fit, so each cell is a few thousand vectors — exactly the answer to
  * q32's documented label-blocked quadratic).
  *
  * Cell assignment runs against a FROZEN centroid artifact (train once
  * at index-build, serve forever — `graft.CentroidArtifactGen`), so
  * the whole query is a pure function of literals and the q164 DuckDB twin
  * ([[oracleSql]]) evaluates the same constants: the q137b serving-path
  * move applied to dedup. Determinism: the output carries NO float column
  * (ids, cell, keeper flag only) and every float comparison (argmin cell,
  * cos ≥ tau) runs the identical IEEE op sequence in both engines.
  */
object SemDedup {
  import Similarity.fastDot

  /** One row per vector: (vec_id, cell, dup_of, kept). `dup_of` is the
    * LOWEST-id same-cell vector with cosine ≥ tau (null ⇔ kept) — the
    * deterministic keep-lowest-id rule, and the provenance pointer a
    * curation pipeline logs for every dropped document. */
  def semDedup(embeddings: DataFrame, tau: Double): DataFrame =
    semDedup(embeddings, tau, CentroidArtifact.centers)

  /** [[semDedup]] against an explicit centroid set — the k dial. In
    * production k scales with the corpus (cells ∝ n keeps within-cell
    * pair counts flat as the corpus grows); the frozen k=8
    * [[CentroidArtifact]] is the sf0.01-sized instance (q164), and
    * `CentroidArtifact64` the k=64 fit on the 10× fixture (q164b,
    * SemDedupScaleSpec). Every k takes one path: the fused
    * [[graft.functions.VectorArgminCell]] kernel assigns each vector its
    * nearest centroid by ‖c‖² − 2·nv·c, ties to the lowest cell index —
    * the twin's first-index-of-min `list_position` — as a map-only
    * per-row expression, so re-deriving the assignment per consumer
    * costs one scan. */
  def semDedup(embeddings: DataFrame, tau: Double,
      cents: Array[Array[Double]]): DataFrame = {
    graft.plans.GraftExtensions.install(embeddings.sparkSession)
    val e = embeddings
      .select(col("vec_id"), Similarity.unitNorm(
        Similarity.asDouble(col("embedding"))).as("nv"))
      .withColumn("cell",
        graft.functions.VectorArgminCell.vec_argmin_cell(col("nv"), cents).getField("cell"))
    // Normalized inputs make cosine a plain dot — no per-pair division.
    val lower = e.select(
      col("vec_id").as("id_lo"), col("cell"), col("nv").as("nv_lo"))
    val dups = e.join(lower, Seq("cell"))
      .filter(col("id_lo") < col("vec_id") &&
        fastDot(col("nv"), col("nv_lo")) >= tau)
      .groupBy(col("vec_id")).agg(min(col("id_lo")).as("dup_of"))
    e.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** DuckDB twin over the same frozen centroids (PqServe's bit-exactness
    * contract: shortest-repr double literals, left-to-right
    * list_dot_product ≡ vec_dot, ||c||² folded host-side, first index of
    * the min ≡ the kernel's strict-`<` scan). */
  def oracleSql(tau: Double): String = oracleSql(tau, CentroidArtifact.centers)

  /** [[oracleSql]] against an explicit centroid set (q164b's k=64 twin). */
  def oracleSql(tau: Double, cents: Array[Array[Double]]): String = {
    def lits(a: Array[Double]): String =
      a.map(_.toString).mkString("[", ", ", "]")
    val distList = cents.map { cArr =>
      val c2 = cArr.map(x => x * x).sum
      s"${c2.toString} - 2.0 * list_dot_product(nv, ${lits(cArr)})"
    }.mkString("[", ",\n           ", "]")
    s"""
      WITH u AS (
        SELECT vec_id,
          list_transform(v, x -> CASE WHEN nrm = 0 THEN x ELSE x / nrm END) AS nv
        FROM (
          SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
          FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
      cellof AS (
        SELECT vec_id, nv, (list_position(d, list_min(d)) - 1) AS cell
        FROM (
          SELECT vec_id, nv,
           $distList AS d
          FROM u)),
      dups AS (
        SELECT b.vec_id, min(a.vec_id) AS dup_of
        FROM cellof a JOIN cellof b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
         AND list_dot_product(a.nv, b.nv) >= $tau
        GROUP BY b.vec_id)
      SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS kept
      FROM cellof c LEFT JOIN dups d ON c.vec_id = d.vec_id"""
  }
}
