package graft.ops

/** DuckDB twin of the PQ SERVING path (encode + ADC top-k) over the frozen
  * [[PqCodebookArtifact]] — what makes q137b a hash-green oracle row where
  * q137 (which re-TRAINS per run) can only be rows-only: k-means training
  * has no SQL twin, but serving against a persisted codebook is a pure
  * function of literals, so the oracle can evaluate the exact same
  * constants.
  *
  * Bit-exactness contract (the q23 discipline, extended):
  *  - `list_dot_product` ≡ `vec_dot`/`vec_norm` (left-to-right fma-free
  *    double sum — pinned by q23's hash-green row on this very fixture);
  *  - codebook literals are shortest-repr doubles (`Double.toString`),
  *    which DuckDB parses back to the identical IEEE-754 value;
  *  - the per-centroid ||c||² constants are computed HERE with the same
  *    left-fold `.map(x*x).sum` the Spark expression builder uses, then
  *    emitted as literals — never recomputed in SQL;
  *  - ADC sums per-subspace dots left-associatively in both engines
  *    (NOT as one 64-wide dot: ((d0+d1)+d2)… groups differently and can
  *    round differently);
  *  - encode argmin: Spark's `vec_argmin_cell` scans the centroids with a
  *    strict `<` against the running best (min d, tie → lowest c); the
  *    twin uses `list_position(d, list_min(d)) - 1` (first index of the
  *    min — the same tie rule, and exact because the min IS an element).
  */
object PqServe {
  import PqCodebookArtifact.{books, m}

  private val subLen = books(0)(0).length

  private def lits(a: Array[Double]): String =
    a.map(_.toString).mkString("[", ", ", "]")

  /** Per-subspace distance list for the encode argmin: 16 expressions of
    * ||c||² − 2·(nv_sub · c), matching `Similarity.pqCodes` term order. */
  private def distList(j: Int): String = {
    val lo = j * subLen + 1
    val hi = (j + 1) * subLen
    books(j).map { cArr =>
      val c2 = cArr.map(x => x * x).sum
      s"${c2.toString} - 2.0 * list_dot_product(nv[$lo:$hi], ${lits(cArr)})"
    }.mkString("[", ",\n        ", "]")
  }

  /** q.qv ⋅ centroid_code for subspace j — the serving-side ADC term. */
  private def adcTerm(j: Int): String = {
    val lo = j * subLen + 1
    val hi = (j + 1) * subLen
    val centroids = books(j).map(lits).mkString("[", ", ", "]")
    s"list_dot_product(q.qv[$lo:$hi], $centroids[c.c$j + 1])"
  }

  /** Full serving twin: unit-normalize, encode every corpus vector to m
    * codes, ADC-score the <10 query set against everything else, top-10
    * per query with the (sim DESC, vec_id ASC) tiebreak, micro-rounded. */
  def oracleSql: String = {
    val distCols = (0 until m).map { j =>
      s"      ${distList(j)} AS d$j"
    }.mkString(",\n")
    val codeCols = (0 until m).map { j =>
      s"      (list_position(d$j, list_min(d$j)) - 1) AS c$j"
    }.mkString(",\n")
    val adcSum = (0 until m).map(adcTerm).mkString(" +\n          ")
    s"""
      WITH u AS (
        SELECT vec_id,
          list_transform(v, x -> CASE WHEN nrm = 0 THEN x ELSE x / nrm END) AS nv
        FROM (
          SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
          FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
      dl AS (
        SELECT vec_id,
$distCols
        FROM u),
      c AS (
        SELECT vec_id,
$codeCols
        FROM dl),
      q AS (SELECT vec_id AS q_id, nv AS qv FROM u WHERE vec_id < 10),
      scored AS (
        SELECT q.q_id, c.vec_id,
          ($adcSum) AS sim
        FROM q JOIN c ON c.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, sim,
          row_number() OVER (PARTITION BY q_id
            ORDER BY sim DESC, vec_id ASC) AS rn
        FROM scored)
      SELECT q_id, vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS adc_sim
      FROM ranked WHERE rn <= 10"""
  }

  /** Twin of [[Similarity.pqDistortion]] over the same frozen codebook
    * literals: per subspace, the corpus-mean squared quantization error.
    * Same bit-exactness contract as [[oracleSql]] — identical d-list
    * expressions, `list_min(dj)` picks the same IEEE double the Spark
    * struct-sort head does, the `+ ||v_j||²` term and micro-rounding are
    * evaluated in the same order, and every integer sum is CAST to BIGINT
    * (DuckDB types sum() as HUGEINT, which the driver's width-sensitive
    * hasher would flag — the q167/q168 lesson). */
  def distortionSql: String = {
    val distCols = (0 until m).map { j =>
      s"      ${distList(j)} AS d$j"
    }.mkString(",\n")
    val errCols = (0 until m).map { j =>
      val lo = j * subLen + 1
      val hi = (j + 1) * subLen
      s"      CAST(floor((list_min(d$j) + list_dot_product(nv[$lo:$hi], nv[$lo:$hi]))" +
        s" * 1000000 + 0.5) AS BIGINT) AS e$j"
    }.mkString(",\n")
    val perSub = (0 until m).map { j =>
      s"SELECT $j AS subspace, CAST(count(*) AS BIGINT) AS n," +
        s" CAST(sum(e$j) AS BIGINT) AS su FROM e"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH u AS (
        SELECT vec_id,
          list_transform(v, x -> CASE WHEN nrm = 0 THEN x ELSE x / nrm END) AS nv
        FROM (
          SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
          FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
      dl AS (
        SELECT vec_id, nv,
$distCols
        FROM u),
      e AS (
        SELECT vec_id,
$errCols
        FROM dl),
      agg AS (
        $perSub)
      SELECT subspace, n,
        floor(CAST(su AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) / 1000000.0 AS mse
      FROM agg"""
  }
}
