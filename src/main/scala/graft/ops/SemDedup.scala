package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
  * Cell assignment runs against the FROZEN [[CentroidArtifact]] (train
  * once at index-build, serve forever — `graft.CentroidArtifactGen`), so
  * the whole query is a pure function of literals and the q164 DuckDB twin
  * ([[oracleSql]]) evaluates the same constants: the q137b serving-path
  * move applied to dedup. Determinism: the output carries NO float column
  * (ids, cell, keeper flag only) and every float comparison (argmin cell,
  * cos ≥ tau) runs the identical IEEE op sequence in both engines.
  */
object SemDedup {
  import Similarity.fastDot

  /** Nearest frozen centroid by squared distance
    * ([[Similarity.rankCentroids]]): ties break to the lowest cell index,
    * the same rule as the twin's first-index-of-min `list_position`. */
  def cellOf(nv: Column): Column = cellOf(nv, CentroidArtifact.centers)

  /** [[cellOf]] against an explicit centroid set — the k dial. In
    * production k scales with the corpus (cells ∝ n keeps within-cell
    * pair counts flat as the corpus grows); the frozen k=8
    * [[CentroidArtifact]] is the sf0.01-sized instance, and
    * `graft.CentroidArtifactGen <dir> <out> [k]` regenerates a larger one
    * from a larger corpus (SemDedupScaleSpec pins the flat-per-cell
    * invariant with a k=64 fit on the 10× fixture). */
  def cellOf(nv: Column, cents: Array[Array[Double]]): Column =
    element_at(Similarity.rankCentroids(nv, cents), 1).getField("cell")

  /** One row per vector: (vec_id, cell, dup_of, kept). `dup_of` is the
    * LOWEST-id same-cell vector with cosine ≥ tau (null ⇔ kept) — the
    * deterministic keep-lowest-id rule, and the provenance pointer a
    * curation pipeline logs for every dropped document. */
  def semDedup(embeddings: DataFrame, tau: Double): DataFrame =
    semDedup(embeddings, tau, CentroidArtifact.centers)

  /** Cell assignment as a BROADCAST-JOIN ARGMIN — the round-8 large-k
    * form of [[cellOf]]: centroids become a k-row broadcast dim table,
    * each vector fans out to k scored rows through the codegen'd
    * `vec_dot`, and `min(struct(d, cell))` takes the same (lowest d,
    * then lowest cell) argmin the expression form and the twin use.
    *
    * SUPERSEDED in round 10 by the fused [[graft.functions.VectorArgminCell]]
    * kernel ([[assignByKernel]]): the fan-out multiplies every vector by
    * k BEFORE a corpus-sized aggregate shuffle, and that whole chain
    * re-executes per consumer of the assignment — at k=640/sf3 the
    * assignment alone measured 31 s for 60 k vectors where the kernel
    * form runs the same argmin as a per-row expression inside
    * whole-stage codegen with no fan-out and no shuffle. Kept
    * private[graft] as SemDedupScaleSpec's identity counterexample: the
    * three argmin forms (unrolled expression, join, kernel) are pinned
    * bit-identical there, so the strategy switch can never change a
    * cell. */
  private[graft] def assignByJoin(embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val centDf = cents.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq, c.map(x => x * x).sum) }.toSeq.toDF("cell_c", "cvec", "c2")
    embeddings
      .select(col("vec_id"), Similarity.unitNorm(
        Similarity.asDouble(col("embedding"))).as("nv"))
      .crossJoin(broadcast(centDf))
      .select(col("vec_id"), col("nv"), col("cell_c"),
        (col("c2") - lit(2.0) * fastDot(col("nv"), col("cvec"))).as("d"))
      .groupBy(col("vec_id"))
      // nv is functionally determined by vec_id, so first() is
      // deterministic in value here
      .agg(first(col("nv")).as("nv"),
        min(struct(col("d"), col("cell_c"))).getField("cell_c").as("cell"))
      .select(col("vec_id"), col("nv"), col("cell"))
  }

  /** Unrolled expressions codegen fine up to ~this many centroids; past
    * it, [[assignByKernel]]'s fused loop wins (and is the only shape that
    * scales to production cell counts). */
  private val ExprPathMaxK = 16

  /** Large-k cell assignment via the fused
    * [[graft.functions.VectorArgminCell]] kernel: one per-row expression
    * whose generated loop scans the frozen centroid matrix (a single
    * plan reference object), so assignment is map-only — no fan-out, no
    * shuffle, and re-deriving it per consumer costs one scan, not a
    * corpus-sized aggregate. Bit-identical to [[cellOf]] and
    * [[assignByJoin]] (SemDedupScaleSpec). */
  private def assignByKernel(embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val s = embeddings.sparkSession
    embeddings
      .select(col("vec_id"), Similarity.unitNorm(
        Similarity.asDouble(col("embedding"))).as("nv"))
      .withColumn("cell",
        graft.functions.VectorArgminCell.vec_argmin_cell(s, col("nv"), cents))
  }

  /** Cell assignment only — (vec_id, cell). The index-build serving step,
    * and the measurement surface for the cells-∝-n dial (SemDedupScaleSpec
    * computes per-cell histograms through this for any k, including the
    * k=640 decade artifact where the unrolled-expression form no longer
    * compiles). Same k-based strategy switch as [[semDedup]], so the
    * cells measured are exactly the cells the dedup runs with. */
  def assignCells(embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    graft.plans.GraftExtensions.install(embeddings.sparkSession)
    if (cents.length > ExprPathMaxK)
      assignByKernel(embeddings, cents).select(col("vec_id"), col("cell"))
    else embeddings.select(col("vec_id"),
      cellOf(Similarity.unitNorm(
        Similarity.asDouble(col("embedding"))), cents).as("cell"))
  }

  /** [[semDedup]] against an explicit centroid set (the cells-∝-n scale
    * dial; see [[cellOf]]). */
  def semDedup(embeddings: DataFrame, tau: Double,
      cents: Array[Array[Double]]): DataFrame = {
    graft.plans.GraftExtensions.install(embeddings.sparkSession)
    val e =
      if (cents.length > ExprPathMaxK) assignByKernel(embeddings, cents)
      else embeddings
        .select(col("vec_id"), Similarity.unitNorm(
          Similarity.asDouble(col("embedding"))).as("nv"))
        .withColumn("cell", cellOf(col("nv"), cents))
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
    * list_dot_product ≡ vec_dot, ||c||² folded host-side). */
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
