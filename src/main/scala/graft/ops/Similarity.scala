package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** North-star similarity search over embedding columns (SURVEY.md §2.11).
  *
  * Brute-force cosine is the correctness baseline (exact, O(queries×corpus),
  * fine when the query set is small or the corpus is pre-filtered). The
  * scale path is LSH bucketing by random-hyperplane sign bits: at 100 TB the
  * corpus is bucketed once (narrow shuffle on the bucket key), queries probe
  * only their bucket (plus optional multi-probe neighbors), so the join is
  * O(corpus) + O(queries × bucket size) instead of O(queries × corpus);
  * `ivfCosineTopK` is the centroid-cell alternative. Hot-path dot products
  * use the native codegen'd `graft.functions.VectorDot`; the pure-builtin
  * HOF forms remain for registration-free ad-hoc use.
  */
object Similarity {

  /** Cast an array<float> embedding to array<double> for stable math. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Pure-builtin dot product (usable without function registration);
    * interpreted (HOFs sit outside codegen). The DataFrame entry points
    * below use the native codegen'd `VectorDot` instead. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot (graft.functions.VectorDot); callers must have run
    * GraftExtensions.install(spark) — the DataFrame entry points do. */
  private[ops] def fastDot(a: Column, b: Column): Column =
    graft.functions.VectorDot.vec_dot(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Codegen'd L2 norm (graft.functions.VectorNorm) — bit-identical to
    * `l2norm` (same left-to-right sum of squares); used by the DataFrame
    * entry points, which install GraftExtensions first. */
  private def fastNorm(v: Column): Column =
    graft.functions.VectorNorm.vec_norm(v)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Centroids ranked nearest-first for the vector `v`: a sorted array of
    * struct(d, cell) with d = ||c||² − 2·v·c. The ||v||² term of the true
    * squared distance is constant per row, so dropping it changes no
    * ordering and saves a dot per centroid. Ties break to the lowest cell
    * index via the struct sort — the first-index-of-min rule of the
    * DuckDB twins. Each ||c||² is summed here (Scala left fold) and
    * emitted as one literal, never recomputed per row or per engine. */
  private[ops] def rankCentroids(v: Column, cents: Array[Array[Double]]): Column =
    array_sort(array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) -
          lit(2.0) * fastDot(v, array(c.map(lit).toIndexedSeq: _*))).as("d"),
        lit(i).as("cell"))
    }.toIndexedSeq: _*))

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

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * fixed function of (p, j) — reproducible across sessions with no RNG
    * state to ship. */
  private[ops] def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, j) =>
      val h = scala.util.hashing.MurmurHash3.productHash((p, j, "graft-lsh"))
      (h % 1000) / 1000.0
    }

  /** Sign-bit LSH bucket id for a vector: bit p = sign(v · plane_p).
    * Uses the codegen'd vec_dot (plane components are literals folded into
    * the generated code) — callers must have installed GraftExtensions;
    * every DataFrame entry point in this object does. */
  def lshBucket(v: Column, numPlanes: Int, dim: Int): Column = {
    val ps = planes(numPlanes, dim)
    val bits = ps.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit).toIndexedSeq: _*)
      when(fastDot(v, planeCol) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Johnson–Lindenstrauss random projection to `toDim` dimensions:
    * deterministic Rademacher planes (±1/√toDim, seedless hash of
    * (plane, component) — reproducible across sessions like `planes`),
    * applied as `toDim` codegen'd vec_dot's against literal arrays — no
    * UDF, no shuffle, pure map-side. Pairwise distance/cosine structure
    * survives within the JL bound (error ~ √(ln n / toDim)), making
    * downstream ANN / embedding dedup pay O(toDim) per distance instead
    * of O(d) — project once at ingest, run every similarity pass on the
    * short vectors. */
  def randomProject(v: Column, fromDim: Int, toDim: Int): Column = {
    val scale = 1.0 / math.sqrt(toDim)
    array((0 until toDim).map { p =>
      val comps = Array.tabulate(fromDim) { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((p, j, "graft-jl"))
        if (h >= 0) scale else -scale
      }
      fastDot(v, array(comps.map(lit).toIndexedSeq: _*))
    }.toIndexedSeq: _*)
  }

  /** IVF (inverted-file) ANN: k-means centroids define the cells, the
    * corpus is assigned to its nearest cell once (one narrow shuffle), and
    * each query probes its `nProbe` nearest cells. Recall rises with
    * nProbe; cost is O(corpus/cells × nProbe) per query instead of
    * O(corpus). Centroid training is spark.ml KMeans with a fixed seed
    * over a `trainFraction` sample of the corpus — never the full corpus
    * (at 100 TB the sample is the only extra pass a fit may cost); the
    * fitted centroids are then applied map-side as broadcast literals.
    *
    * Cell balancing (`maxCellSize` > 0): k-means cells are rarely even —
    * a clustered corpus can put most vectors in a few cells, which makes
    * those cells hot keys in the probe join (one straggler task per fat
    * cell). Oversized cells are split into `ceil(size/maxCellSize)`
    * deterministic sub-cells (hash of the vector id) and queries probe
    * every sub-cell of a probed cell, so the RESULT IS IDENTICAL (no
    * recall change — pure partitioning) but no join key exceeds
    * ~maxCellSize rows. The per-cell size table is O(nCells) and is
    * broadcast, never collected to the driver. Same skew-capping move as
    * `Text.bucketPairs`/`Core.saltedJoin`, specialized to the IVF join. */
  def ivfCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, trainFraction: Double = 0.25,
      maxCellSize: Int = 0): DataFrame = {
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // (a corpus itself smaller than nCells is a caller error — fewer
    // points than cells)
    val train = trainingRows(corpus, trainFraction, 4 * nCells).select(
      array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
    val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(10).fit(train)
    val centers = model.clusterCenters.map(_.toArray)
    // centroid ranks are computed per row from broadcast literals via the
    // codegen'd vec_dot (no UDF)
    val c0 = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", fastNorm(col("v")))
      .withColumn("cell", element_at(rankCentroids(col("v"), centers), 1).getField("cell"))
    val q0 = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", fastNorm(col("qv")))
      .withColumn("cell", explode(transform(
        slice(rankCentroids(col("qv"), centers), 1, nProbe), s => s.getField("cell"))))
    val (c, q, joinKeys) =
      if (maxCellSize <= 0) (c0, q0, Seq("cell"))
      else {
        // O(nCells) size table, broadcast both ways; sub-cell = hash of
        // the id mod the per-cell split count, so re-executed tasks place
        // rows identically (retry-safe, unlike a rand() salt)
        val sizes = c0.groupBy(col("cell"))
          .agg(ceil(count(lit(1)).cast("double") / maxCellSize).cast("int").as("n_sub"))
        val cS = c0.join(broadcast(sizes), Seq("cell"))
          .withColumn("sub", pmod(xxhash64(col("vec_id")), col("n_sub").cast("long")).cast("int"))
          .drop("n_sub")
        val qS = q0.join(broadcast(sizes), Seq("cell"))
          .withColumn("sub", explode(sequence(lit(0), col("n_sub") - 1)))
          .drop("n_sub")
        (cS, qS, Seq("cell", "sub"))
      }
    val scored = q.join(c, joinKeys)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", fastDot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
    Core.topKPerGroup(scored, Seq("q_id"), Seq(col("sim").desc, col("vec_id").asc), k)
  }

  /** Probe buckets for a query vector: its own sign-bit bucket plus, for
    * multi-probe, the buckets reached by flipping the `extraProbes`
    * hyperplane bits with the smallest |margin| — the planes the vector
    * sits closest to, i.e. the flips most likely to hold true neighbors. */
  def probeBuckets(v: Column, numPlanes: Int, dim: Int, extraProbes: Int): Column = {
    val main = lshBucket(v, numPlanes, dim)
    if (extraProbes <= 0) array(main)
    else {
      val ps = planes(numPlanes, dim)
      val margins = array_sort(array(ps.zipWithIndex.map { case (plane, p) =>
        struct(abs(fastDot(v, array(plane.map(lit).toIndexedSeq: _*))).as("m"), lit(p).as("p"))
      }.toIndexedSeq: _*))
      // shiftleft, not pow(2,p).cast(long): pow is double math, inexact
      // for p > 52 and wrong at p >= 63, which would silently corrupt
      // probe buckets if numPlanes is raised toward 64
      concat(
        array(main),
        transform(slice(margins, 1, extraProbes),
          s => main.bitwiseXOR(call_function("shiftleft", lit(1L), s.getField("p")))))
    }
  }

  /** Approximate top-k: corpus and queries are bucketed by hyperplane sign
    * bits; cosine is computed only within matching buckets. Recall < 1 by
    * construction; raise `numPlanes` for smaller buckets, and/or
    * `extraProbes` (multi-probe) for higher recall at 1+extraProbes times
    * the probe cost — the corpus is still bucketed exactly once. */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64, extraProbes: Int = 0): DataFrame = {
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", fastNorm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), numPlanes, dim))
    val q = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", fastNorm(col("qv")))
      .withColumn("bucket",
        explode(array_distinct(probeBuckets(col("qv"), numPlanes, dim, extraProbes))))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", fastDot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
      // multi-probe can reach the same neighbor through several buckets
      .dropDuplicates("q_id", "vec_id")
    Core.topKPerGroup(scored, Seq("q_id"), Seq(col("sim").desc, col("vec_id").asc), k)
  }

  /** Cross-corpus semantic contamination at scale: eval-set vectors whose
    * cosine against ANY training vector reaches `threshold`, found through
    * LSH hyperplane buckets instead of the train×eval cross join. Both
    * sides are bucketed once map-side; cosine runs only inside matching
    * buckets (multi-probe on the eval side buys recall at 1+extraProbes
    * probe cost). This is q58's contamination question asked of EMBEDDINGS
    * rather than exact token spans — the near-duplicate leak that survives
    * paraphrasing — and the same shape serves semantic dedup between any
    * two corpora. Returns one row per contaminated eval vector with its
    * best-matching train vector and similarity.
    *
    * Recall < 1 by construction (bucket collisions are necessary, not
    * sufficient); TextSimilaritySpec pins a numeric recall floor against
    * the exact join on real embeddings. The exact label-blocked form is
    * oracle-checked as q77. */
  def lshContaminated(train: DataFrame, eval: DataFrame, threshold: Double,
      numPlanes: Int = 8, dim: Int = 64, extraProbes: Int = 2): DataFrame = {
    graft.plans.GraftExtensions.install(train.sparkSession)
    val t = train.select(col("vec_id").as("train_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", fastNorm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), numPlanes, dim))
    val e = eval.select(col("vec_id").as("eval_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", fastNorm(col("qv")))
      .withColumn("bucket",
        explode(array_distinct(probeBuckets(col("qv"), numPlanes, dim, extraProbes))))
    e.join(t, Seq("bucket"))
      .withColumn("sim", fastDot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .filter(col("sim") >= threshold)
      // multi-probe can reach the same pair through several buckets;
      // dedup before counting so n_hits = distinct contaminating vectors
      .dropDuplicates("eval_id", "train_id")
      .groupBy(col("eval_id"))
      .agg(
        max_by(col("train_id"), struct(col("sim"), -col("train_id"))).as("train_id"),
        max(col("sim")).as("cosine"),
        count(lit(1)).as("n_hits"))
  }

  /** Scalar int8 quantization: per-vector affine codes in 0..255 with the
    * (mn, mx) range carried alongside — `struct(mn, mx, codes)`. The
    * embedding column of a 100 TB corpus is usually the widest thing in
    * the table; int8 codes cut its bytes 4× vs float32 (8× vs float64) at
    * ~0.2% of the value range per half-step of rounding error, which
    * leaves cosine rankings essentially intact (recall floor pinned in
    * TextSimilaritySpec). Quantize once at ingest, store the struct, scan
    * and rank on codes; re-rank survivors on the full-precision column if
    * exactness matters.
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
    * by squared distance (the ||v||² term is constant per subvector, so the
    * ranking key is ||c||² - 2 v·c — one dot per centroid). `nv` must be
    * unit-normalized ([[unitNorm]]). Output is array<int> of length m —
    * at kCent ≤ 256 that is m bytes of information per vector, a 32×
    * compression of a 64-float embedding; encode once at ingest, store the
    * codes column, and scan codes instead of floats. */
  def pqCodes(nv: Column, books: Array[Array[Array[Double]]]): Column = {
    val subLen = books(0)(0).length
    array(books.zipWithIndex.map { case (book, j) =>
      element_at(
        // let-bind the subvector so the K centroid dots share one slice
        transform(array(slice(nv, j * subLen + 1, subLen)), sub =>
          element_at(rankCentroids(sub, book), 1).getField("cell")),
        1)
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
    * The scan over codes is exhaustive here (correct baseline shape); the
    * 100 TB form composes this with [[ivfCosineTopK]]'s cells — probe a
    * cell, ADC-rank inside it — so neither pass ever touches full-width
    * floats. Recall floor and the ADC/reconstruction identity are pinned
    * in VectorAggSpec. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      kCent: Int = 16, dim: Int = 64, trainFraction: Double = 0.25): DataFrame =
    pqTopKWithBooks(corpus, queries, k,
      pqTrainCodebooks(corpus, m, kCent, dim, trainFraction))

  /** [[pqTopK]] against ALREADY-TRAINED codebooks — the production call
    * shape: codebooks are a build-once artifact (train at index time,
    * persist, reuse for every query batch); re-fitting per query would be
    * like rebuilding an index per lookup. */
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
    // Stage boundary between ENCODE and ADC (round-9 sf10 find-and-fix):
    // the unrolled m×256-centroid encoder expression exceeds the JVM
    // method-size limit, so its stage falls back to interpreted
    // execution — and without a boundary the BNLJ join lives in the SAME
    // stage, where every joined row materializes an interpreted copy of
    // the broadcast side's m×256-double LUT (~16 KB/row): measured 236 s
    // at sf10 vs 10 s for the encode itself (q137). One exchange of the
    // thin (vec_id, codes) rows (m bytes each) ends the encoder's stage;
    // the join+ADC stage then whole-stage-codegens with in-place reads of
    // the broadcast LUT. Identical IEEE ops, identical results — measured
    // 236 → ~13 s at sf10.
    val cThin = c.repartition(col("vec_id"))
    val scored = q.join(cThin, col("vec_id") =!= col("q_id"))
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
        val minD = element_at(
          // let-bind the subvector so the K centroid dots share one slice
          transform(array(slice(col("nv"), j * subLen + 1, subLen)), sub =>
            element_at(rankCentroids(sub, books(j)), 1).getField("d") + fastDot(sub, sub)),
          1)
        floor(minD * 1000000 + lit(0.5))
      }.toIndexedSeq: _*)).as(Seq("subspace", "erru")))
    errs.groupBy(col("subspace"))
      .agg(count(lit(1)).as("n"), sum(col("erru")).as("su"))
      .select(col("subspace"), col("n"),
        (floor(col("su").cast("double") / col("n").cast("double") + lit(0.5)) /
          1000000.0).as("mse"))
  }

  /** Exact-shape top-k over the QUANTIZED corpus: same join/rank plan as
    * [[bruteForceTopK]], but the corpus side stores only int8 codes and
    * dequantizes on the fly inside the scan projection — the memory/IO
    * shape of a production PQ/SQ index (read 1/4 the bytes, same compute).
    * Ranking error vs exact brute force is the quantization error only;
    * the spec pins recall@10. */
  def quantizedCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftExtensions.install(corpus.sparkSession)
    val c = corpus
      .select(col("vec_id"), quantizeInt8(asDouble(col("embedding"))).as("qz"))
      .select(col("vec_id"), dequantizeInt8(col("qz")).as("v"))
      .withColumn("nrm", fastNorm(col("v")))
    val q = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", fastNorm(col("qv")))
    val scored = q.join(c, col("vec_id") =!= col("q_id"))
      .withColumn("sim", fastDot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
    Core.topKPerGroup(scored, Seq("q_id"), Seq(col("sim").desc, col("vec_id").asc), k)
  }
}
