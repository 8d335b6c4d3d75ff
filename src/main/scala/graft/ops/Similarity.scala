package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorArgminCell.vec_argmin_cell

/** North-star similarity search over embedding columns (SURVEY.md §2.11).
  *
  * Brute-force cosine is the correctness baseline (exact, O(queries×corpus),
  * fine when the query set is small or the corpus is pre-filtered); the
  * catalog carries it as q23. Int8 scalar and product quantization shrink
  * the stored embedding, and k-means centroids give the cells SemDedup
  * blocks on. Dot products, norms and nearest centroids use the native
  * codegen'd `graft.functions.VectorDot`/`VectorNorm`/`VectorArgminCell`;
  * the pure-builtin [[dot]]
  * stays as the independent reference the PQ identity is checked
  * against.
  */
object Similarity {

  /** Cast an array<float> embedding to array<double> for stable math. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Pure-builtin dot product (usable without function registration);
    * interpreted (HOFs sit outside codegen). The DataFrame entry points
    * below use the native codegen'd `VectorDot` instead; TextSimilaritySpec
    * checks the PQ score identity against this form. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot (graft.functions.VectorDot); callers must have run
    * GraftExtensions.install(spark) — the DataFrame entry points do. */
  private[ops] def fastDot(a: Column, b: Column): Column =
    graft.functions.VectorDot.vec_dot(a, b)

  /** Codegen'd L2 norm (graft.functions.VectorNorm): the square root of
    * the left-to-right sum of squares; used by the DataFrame entry points,
    * which install GraftExtensions first. */
  private def fastNorm(v: Column): Column =
    graft.functions.VectorNorm.vec_norm(v)

  /** k-means training rows: a seeded `trainFraction` sample of `rows`, or
    * all of `rows` when the sample holds fewer than `minTrain`. sample()
    * is probabilistic: on a small corpus it can yield fewer rows than
    * KMeans needs (degenerate or failing fit). The limit+count gate stops
    * once it sees `minTrain` rows, so it stays cheap on a 100 TB corpus
    * while falling back to the full corpus exactly when the corpus is
    * small enough for that to be free. */
  private def trainingRows(rows: DataFrame, trainFraction: Double, minTrain: Int): DataFrame =
    if (trainFraction >= 1.0) rows
    else {
      val sampled = rows.sample(withReplacement = false, trainFraction, seed = 42L)
      if (sampled.limit(minTrain).count() >= minTrain) sampled else rows
    }

  /** Exact top-k cosine neighbors for each query vector.
    * Norms are precomputed once per side; ranking carries a unique
    * tiebreak so results are deterministic. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", fastNorm(col("v")))
    val q = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", fastNorm(col("qv")))
    val scored = q.join(c, col("vec_id") =!= col("q_id"))
      .withColumn("sim", fastDot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
    Core.topKPerGroup(scored, Seq("q_id"), Seq(col("sim").desc, col("vec_id").asc), k)
  }

  /** Scalar int8 quantization: per-vector affine codes in 0..255 with the
    * (mn, mx) range carried alongside — `struct(mn, mx, codes)`. The
    * embedding column of a 100 TB corpus is usually the widest thing in
    * the table; int8 codes cut its bytes 4× vs float32 (8× vs float64) at
    * ~0.2% of the value range per half-step of rounding error, which
    * leaves cosine rankings essentially intact. Quantize once at ingest,
    * store the struct, scan and rank on codes; re-rank survivors on the
    * full-precision column if exactness matters.
    *
    * Engine-portable by construction: codes use the floor(x+0.5) form
    * (never `round()` — Spark HALF_UP vs C-double disagree on ties) so
    * DuckDB reproduces every code bit-for-bit (q71). Constant vectors
    * (mx == mn) code to all-zeros and dequantize exactly to mn. The
    * (mn, mx, source) triple is let-bound through a single-element
    * array+transform (ARCHITECTURE §8) so array_min/array_max run once
    * per vector, not once per element. Pure map-side; `v` must be
    * array<double> ([[asDouble]]). */
  def quantizeInt8(v: Column): Column =
    element_at(
      transform(
        array(struct(array_min(v).as("mn"), array_max(v).as("mx"), v.as("v"))),
        p => {
          val mn = p.getField("mn")
          val mx = p.getField("mx")
          struct(
            mn.as("mn"), mx.as("mx"),
            transform(p.getField("v"), x =>
              when(mx === mn, lit(0))
                .otherwise(floor((x - mn) * 255.0 / (mx - mn) + lit(0.5)).cast("int")))
              .as("codes"))
        }),
      1)

  /** Inverse of [[quantizeInt8]]: reconstruct array<double> from the
    * (mn, mx, codes) struct. Each value lands within half a quantization
    * step — |x̂ - x| <= (mx - mn) / 510 — of the original. `q` should be
    * a plain column reference (getField on a reference is free). */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c =>
      q.getField("mn") +
        c.cast("double") * (q.getField("mx") - q.getField("mn")) / 255.0)

  /** Unit-normalize an array<double> vector, with the (norm, v) pair
    * let-bound through a single-element array+transform (ARCHITECTURE §8)
    * so the norm is computed once per vector, not once per element
    * (CollapseProject would otherwise inline it into the division lambda).
    * Zero vectors pass through unchanged. */
  def unitNorm(v: Column): Column =
    element_at(
      transform(array(struct(fastNorm(v).as("n"), v.as("v"))), p =>
        transform(p.getField("v"), x =>
          when(p.getField("n") === 0.0, x).otherwise(x / p.getField("n")))),
      1)

  /** Full-dimension k-means centroids over unit-normalized embeddings —
    * the cell structure SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
    * partitions a corpus with before running within-cell cosine dedup.
    * Same seeded spark.ml fit + small-corpus sample guard as
    * [[pqTrainCodebooks]]; like the PQ codebooks this is a TRAIN-ONCE
    * index artifact (see `graft.CentroidArtifactGen`), applied downstream
    * as broadcast literals folded into codegen. */
  def trainCentroids(corpus: DataFrame, k: Int = 8,
      trainFraction: Double = 1.0): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    val unit = corpus.select(unitNorm(asDouble(col("embedding"))).as("nv"))
    val train = trainingRows(unit, trainFraction, 4 * k)
      .select(array_to_vector(col("nv")).as("features"))
    new KMeans().setK(k).setSeed(42L).setMaxIter(10).fit(train)
      .clusterCenters.map(_.toArray)
  }

  /** Product-quantization codebooks: the dim-D space splits into `m`
    * contiguous subspaces of D/m dims, each fitted with its own
    * `kCent`-centroid k-means codebook (spark.ml KMeans, fixed seed per
    * subspace, trained on a `trainFraction` sample — at 100 TB the sample
    * is the only full-width pass; everything after runs on codes).
    * Vectors are unit-normalized first so PQ's dot-product reconstruction
    * approximates cosine directly. Returns codebooks(j)(c) = centroid `c`
    * of subspace `j`, applied downstream as broadcast literals folded into
    * codegen — the model never ships as an object. */
  def pqTrainCodebooks(corpus: DataFrame, m: Int = 8, kCent: Int = 16,
      dim: Int = 64, trainFraction: Double = 0.25): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    graft.plans.GraftExtensions.install(corpus.sparkSession) // unitNorm's vec_norm
    require(dim % m == 0, s"dim $dim does not split into $m equal subspaces")
    val subLen = dim / m
    val unit = corpus.select(unitNorm(asDouble(col("embedding"))).as("nv"))
    // m sequential fits re-scan it
    val base = trainingRows(unit, trainFraction, 4 * kCent).cache()
    try {
      (0 until m).map { j =>
        val train = base.select(
          array_to_vector(slice(col("nv"), j * subLen + 1, subLen)).as("features"))
        new KMeans().setK(kCent).setSeed(42L + j).setMaxIter(10).fit(train)
          .clusterCenters.map(_.toArray)
      }.toArray
    } finally { base.unpersist(); () }
  }

  /** PQ encoding: per subspace, the index of the nearest codebook centroid
    * by squared distance (`vec_argmin_cell`: the ||v||² term is constant
    * per subvector, so the ranking key is ||c||² - 2 v·c — one dot per
    * centroid, in one fused loop). `nv` must be unit-normalized
    * ([[unitNorm]]). Output is array<int> of length m —
    * at kCent ≤ 256 that is m bytes of information per vector, a 32×
    * compression of a 64-float embedding; encode once at ingest, store the
    * codes column, and scan codes instead of floats. */
  def pqCodes(nv: Column, books: Array[Array[Array[Double]]]): Column = {
    val subLen = books(0)(0).length
    array(books.zipWithIndex.map { case (book, j) =>
      vec_argmin_cell(slice(nv, j * subLen + 1, subLen), book).getField("cell")
    }.toIndexedSeq: _*)
  }

  /** Decode PQ codes back to an approximate vector (centroid concatenation).
    * The exact identity `adc_score(q, codes) == dot(q, pqReconstruct(codes))`
    * is what the spec pins — ADC is a table-lookup factoring of that dot. */
  def pqReconstruct(codes: Column, books: Array[Array[Array[Double]]]): Column =
    concat(books.zipWithIndex.map { case (book, j) =>
      element_at(
        array(book.map(cArr => array(cArr.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*),
        element_at(codes, j + 1) + 1)
    }.toIndexedSeq: _*)

  /** PQ top-k by asymmetric distance computation (ADC): each query
    * precomputes its dot products against all m×kCent centroids ONCE (the
    * `lut` column, materialized on the query side of the join), then every
    * corpus vector scores as m array lookups + adds — the per-pair cost is
    * O(m), not O(dim), and the corpus side reads only the codes column.
    * The scan over codes is exhaustive (correct baseline shape).
    *
    * Takes ALREADY-TRAINED codebooks ([[pqTrainCodebooks]]) — the
    * production call shape: codebooks are a build-once artifact (train at
    * index time, persist, reuse for every query batch); re-fitting per
    * query would be like rebuilding an index per lookup. The recall floor
    * and the ADC/reconstruction identity are pinned in TextSimilaritySpec. */
  def pqTopKWithBooks(corpus: DataFrame, queries: DataFrame, k: Int,
      books: Array[Array[Array[Double]]]): DataFrame = {
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    val m = books.length
    val subLen = books(0)(0).length
    val c = corpus.select(col("vec_id"), unitNorm(asDouble(col("embedding"))).as("nv"))
      .select(col("vec_id"), pqCodes(col("nv"), books).as("codes"))
    val q = queries
      .select(col("vec_id").as("q_id"), unitNorm(asDouble(col("embedding"))).as("qv"))
      .withColumn("lut", array((0 until m).map { j =>
        array(books(j).map(cArr =>
          fastDot(slice(col("qv"), j * subLen + 1, subLen),
            array(cArr.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)
      }.toIndexedSeq: _*))
      .select(col("q_id"), col("lut"))
    val scored = q.join(c, col("vec_id") =!= col("q_id"))
      .withColumn("sim", (0 until m).map(j =>
        element_at(element_at(col("lut"), j + 1),
          element_at(col("codes"), j + 1) + 1)).reduce[Column](_ + _))
      .select(col("q_id"), col("vec_id"), col("sim"))
    Core.topKPerGroup(scored, Seq("q_id"), Seq(col("sim").desc, col("vec_id").asc), k)
  }

  /** Per-subspace quantization distortion of a FROZEN PQ codebook over a
    * corpus — the index-health metric a production PQ deployment monitors
    * (rising MSE in a subspace means the codebook has drifted from the
    * data and needs retraining). For each unit-normalized vector and each
    * subspace j: squared L2 error to its nearest centroid, computed as
    * min_c(||c||² − 2·v_j·c) + ||v_j||² — the same ranking key the encoder
    * already evaluates, so this costs exactly one encode pass. Errors are
    * micro-rounded to BIGINT before the sum (order-independent exact
    * aggregation, the q117 discipline); output is m rows regardless of
    * corpus size, and the single shuffle carries m×partitions partial
    * sums. Twin: [[PqServe.distortionSql]] over the same literals. */
  def pqDistortion(corpus: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    val m = books.length
    val subLen = books(0)(0).length
    val errs = corpus.select(unitNorm(asDouble(col("embedding"))).as("nv"))
      .select(posexplode(array((0 until m).map { j =>
        val sub = slice(col("nv"), j * subLen + 1, subLen)
        val minD = vec_argmin_cell(sub, books(j)).getField("d") + fastDot(sub, sub)
        floor(minD * 1000000 + lit(0.5))
      }.toIndexedSeq: _*)).as(Seq("subspace", "erru")))
    errs.groupBy(col("subspace"))
      .agg(count(lit(1)).as("n"), sum(col("erru")).as("su"))
      .select(col("subspace"), col("n"),
        (floor(col("su").cast("double") / col("n").cast("double") + lit(0.5)) /
          1000000.0).as("mse"))
  }
}
