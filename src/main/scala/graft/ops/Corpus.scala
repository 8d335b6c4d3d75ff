package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation operators a training-data pipeline needs beyond
  * dedup/similarity (SURVEY §2.11): deterministic sampling and
  * token-budget sequence packing. All pure column algebra — no UDFs, no
  * RNG state, no driver-side loops — so every operator is reproducible
  * across runs AND across engines (the QueryCatalog twins q47/q48 mirror
  * them in DuckDB exactly).
  */
object Corpus {

  /** Deterministic uniform in [0,1): top 60 bits of md5(key‖salt) scaled
    * by 2^-60. Unlike `rand()`/`DataFrame.sample` this is a pure function
    * of (key, salt): re-running selects the SAME rows (resumable
    * backfills, reproducible ablations), changing the salt draws an
    * independent sample, and the value is portable — DuckDB computes the
    * identical double from the identical expression. md5 rather than
    * xxhash64 only for that cross-engine property; both are uniform. */
  def uniformHash(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 15), 16, 10)
      .cast("double") / lit((1L << 60).toDouble)

  /** Context-window chunking: split each document into overlapping
    * token windows of `chunkSize` tokens advancing by `stride` — the
    * standard shape for feeding long documents to a fixed-context model
    * (stride < chunkSize gives overlap so no boundary context is lost).
    * Emits (doc_id, chunk_id, chunk_text, n_tokens); the tail chunk may
    * be shorter, empty documents emit nothing. Complements
    * [[packSequences]]: chunking cuts long docs DOWN to the window,
    * packing fills windows UP from short docs.
    *
    * Pure per-row array algebra — tokenize once (let-bound, the
    * ARCHITECTURE §8 single-evaluation rule), build chunk starts with
    * `sequence`, slice per start, posexplode. No shuffle at all: the
    * operator is map-side, so it composes with any downstream
    * partitioning for free. */
  def chunkDocuments(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkDocuments: chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"chunkDocuments: stride must be in [1, chunkSize], got $stride")
    val chunks = element_at(
      transform(array(graft.ops.Text.tokens(col("text"))), ts =>
        when(size(ts) === 0, array().cast("array<struct<chunk_text:string,n_tokens:bigint>>"))
          .otherwise(transform(
            sequence(
              lit(0),
              when(size(ts) > chunkSize,
                ceil((size(ts) - chunkSize).cast("double") / stride).cast("int"))
                .otherwise(lit(0))),
            i => struct(
              concat_ws(" ", slice(ts, i * stride + 1, lit(chunkSize))).as("chunk_text"),
              least(lit(chunkSize), size(ts) - i * stride).cast("long").as("n_tokens"))))),
      1)
    docs
      .select(col("doc_id"), posexplode(chunks))
      .select(
        col("doc_id"), col("pos").as("chunk_id"),
        col("col.chunk_text").as("chunk_text"),
        col("col.n_tokens").as("n_tokens"))
  }

  /** Stratified downsampling at per-stratum keep rates: keep a row iff
    * uniformHash(key, salt) < rate(stratum). The common corpus-balancing
    * move (downweight the dominant language/source) as one scan with a
    * pushed-down-able filter — no shuffle, no per-stratum passes, exact
    * per-row determinism under retries (a re-executed task keeps exactly
    * the same rows, unlike fraction-based `sample`). */
  def hashSample(
      df: DataFrame,
      keyCol: Column,
      stratumCol: Column,
      rates: Map[String, Double],
      defaultRate: Double,
      salt: String = "graft"): DataFrame = {
    require(defaultRate >= 0 && defaultRate <= 1, s"bad defaultRate $defaultRate")
    rates.values.foreach(v => require(v >= 0 && v <= 1, s"bad rate $v"))
    val rate = rates.foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(stratumCol === lit(k), lit(v)).otherwise(acc)
    }
    df.filter(uniformHash(keyCol, salt) < rate)
  }

  /** Deterministic exactly-k-per-stratum sample: rank each stratum's rows
    * by the md5 uniform (doc-id tiebreak) and keep the first k — the
    * fixed-size eval-set / few-shot-pool draw. Same reproducibility
    * contract as [[hashSample]] (pure function of key+salt, stable under
    * reruns and engine changes) but with an EXACT per-stratum count
    * instead of a rate. One window shuffle on the strata. */
  def sampleKPerGroup(
      df: DataFrame, strata: Seq[String], keyCol: Column, k: Int,
      salt: String = "graft"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Core.topKPerGroup(df, strata, Seq(uniformHash(keyCol, salt).asc, keyCol.asc), k)
  }

  /** Efraimidis–Spirakis weighted-sampling key: u^(1/w) with
    * u = uniformHash(key, salt). Taking the global (or per-group) top-k
    * rows by this key IS a weighted random sample without replacement —
    * deterministic given the salt, mergeable (top-k of unions = top-k of
    * per-partition top-ks), and one scan. Rank on the ROUNDED key with an
    * id tiebreak when the result must be engine-reproducible (pow is not
    * IEEE-correctly-rounded, so raw keys can differ in the last ulp
    * across engines). */
  def weightedSampleKey(keyCol: Column, weightCol: Column, salt: String = "graft"): Column =
    // a non-positive weight would silently INVERT the sample (u^negative
    // > 1 outranks everything; w=0 gives key 0) — raise loudly instead,
    // matching assignSplit's weight validation (which can require() on
    // literals; this weight is a data column, so the guard is per-row)
    when(weightCol > 0,
      pow(uniformHash(keyCol, salt), lit(1.0) / weightCol.cast("double")))
      .otherwise(raise_error(concat(
        lit("weightedSampleKey: non-positive weight "),
        // concat null-propagates: an un-coalesced NULL weight would raise
        // an error whose entire MESSAGE is null
        coalesce(weightCol.cast("string"), lit("null")))))

  /** Temperature-balanced corpus mixing (the multilingual-pretraining
    * move): per-stratum keep rate (n_min/n_s)^0.5 — the dominant stratum
    * is downsampled toward the smallest, halfway in log space — applied
    * through the deterministic uniformHash. The exponent is computed as
    * `sqrt`, NOT `pow(x, 0.5)`: IEEE 754 requires sqrt to be correctly
    * rounded, so the rates (and therefore the keep/drop comparison
    * against the md5-derived uniform) are bit-identical across engines —
    * what lets q63 hash-match DuckDB. Rates frame is tiny (one row per
    * stratum) and broadcast; the filter is map-side. */
  def temperatureSample(
      df: DataFrame, stratum: String, keyCol: Column,
      salt: String = "graft"): DataFrame = {
    val counts = df.groupBy(col(stratum)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(stratum),
        sqrt(col("__nmin").cast("double") / col("__n")).as("sample_rate"))
    df.join(broadcast(rates), Seq(stratum))
      .filter(uniformHash(keyCol, salt) < col("sample_rate"))
  }

  /** Deterministic train/val/test assignment: the split is the first
    * label whose cumulative weight bound exceeds uniformHash(key, salt).
    * Pure function of (key, salt) — the same row lands in the same split
    * on every run, every engine, every retry, and adding data never
    * reshuffles existing assignments (the property fraction-based
    * `randomSplit` lacks). The last label absorbs the remainder, so
    * floating-point edge rows cannot fall through. */
  def assignSplit(
      keyCol: Column, splits: Seq[(String, Double)], salt: String = "graft"): Column = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    splits.foreach { case (l, w) => require(w > 0, s"split '$l' weight must be > 0, got $w") }
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val u = uniformHash(keyCol, salt)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    splits.init.zip(bounds.init).reverse
      .foldLeft(lit(splits.last._1): Column) {
        case (acc, ((label, _), ub)) => when(u < lit(ub), lit(label)).otherwise(acc)
      }
  }

  /** One-pass declarative data-quality audit: evaluate every row-level
    * constraint AND every same-table referential check in a SINGLE
    * aggregate over a SINGLE scan of `df` (each check adds a column —
    * FK checks additionally a build-side broadcast join — never a pass),
    * plus one keyed aggregate per uniqueness constraint. Returns the
    * long audit table (check, n_violations, n_rows) a pipeline gate can
    * alert on.
    *
    * Semantics: a NULL predicate result counts as a violation (the
    * constraint could not be proven); uniqueness counts every row beyond
    * the first per duplicate key (SQL NULL keys group together here —
    * audit semantics, not join semantics); each `referential` entry
    * (name, childKeys, parent, parentKeys) left-joins the DISTINCT
    * parent key set (broadcastable when the parent is a dim) BEFORE the
    * shared aggregate — distinctness guarantees at most one match per
    * child row, so the row multiset the other fused checks read is
    * untouched, and a NULL child key cannot match and counts as an
    * orphan. Uniqueness deliberately stays a separate branch: fusing it
    * via count(distinct struct(keys)) would drag every row-check partial
    * sum through the corpus-sized keyed exchange (measured slower at
    * every SF tried), while the global-aggregate fusion here collapses
    * map-side to one cell per partition per check. */
  def auditConstraints(
      df: DataFrame,
      rowChecks: Seq[(String, Column)],
      uniqueKeys: Seq[(String, Seq[String])] = Nil,
      referential: Seq[(String, Seq[String], DataFrame, Seq[String])] = Nil): DataFrame = {
    require(rowChecks.nonEmpty || uniqueKeys.nonEmpty || referential.nonEmpty,
      "auditConstraints: nothing to check")
    referential.foreach { case (n, ck, _, pk) =>
      require(ck.nonEmpty && ck.size == pk.size,
        s"auditConstraints: referential '$n' key lists must be non-empty and same-length")
    }
    val names = rowChecks.map(_._1) ++ uniqueKeys.map(_._1) ++ referential.map(_._1)
    // case-insensitive, as Spark resolves the aggregate's aliases
    val dup = names.groupBy(_.toLowerCase).values.filter(_.size > 1).map(_.head)
    require(dup.isEmpty,
      s"auditConstraints: check names must be distinct, repeated: ${dup.mkString(", ")}")
    // names are spliced into the stack(...) SQL as 'name' and `name`, and
    // `__n` is the aggregate's row-count column
    val unsafe = names.filter(n =>
      n.isEmpty || n.equalsIgnoreCase("__n") || n.exists("'`\\".contains(_)))
    require(unsafe.isEmpty,
      "auditConstraints: check names must be non-empty, not __n, and free of quotes, " +
        s"backticks and backslashes: ${unsafe.mkString(", ")}")
    val hits = referential.indices.map(i => s"__hit_$i")
    val clash = df.columns.filter(c => hits.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"auditConstraints: input columns ${clash.mkString(", ")} collide with the " +
        "referential marker columns (__hit_*); rename them first")
    val parts =
      (if (rowChecks.isEmpty && referential.isEmpty) Nil else {
        val joined = referential.zip(hits).foldLeft(df) {
          case (acc, ((_, ck, parent, pk), hit)) =>
            val parentKeys = parent.select(pk.map(col): _*).distinct()
              .toDF(ck: _*).withColumn(hit, lit(1))
            acc.join(parentKeys, ck, "left")
        }
        val aggs = count(lit(1)).as("__n") +: (
          rowChecks.map { case (n, p) => sum(when(p, 0L).otherwise(1L)).as(n) } ++
          referential.zip(hits).map { case ((n, _, _, _), hit) =>
            coalesce(sum(when(col(hit).isNull, 1L).otherwise(0L)), lit(0L)).as(n) })
        val pairs = (rowChecks.map { case (n, _) => s"'$n', `$n`" } ++
          referential.map { case (n, _, _, _) => s"'$n', `$n`" }).mkString(", ")
        Seq(joined.agg(aggs.head, aggs.tail: _*).selectExpr(
          s"stack(${rowChecks.size + referential.size}, $pairs) as (check_name, n_violations)",
          "__n as n_rows"))
      }) ++
      uniqueKeys.map { case (name, keys) =>
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
          .agg(sum(col("__c") - 1).as("v"), sum(col("__c")).as("n"))
          .select(lit(name).as("check_name"),
            coalesce(col("v"), lit(0L)).as("n_violations"),
            coalesce(col("n"), lit(0L)).as("n_rows"))
      }
    parts.reduce(_.unionByName(_))
  }

  /** Referential-integrity audit for a standalone child table: orphan
    * count for a child→parent foreign key, as one row in
    * [[auditConstraints]]'s audit shape (and implemented as the
    * single-entry case of its fused `referential` path — when the child
    * already carries other audited constraints, pass the FK through
    * `auditConstraints` directly so all checks share one scan). */
  def auditReferential(
      name: String,
      child: DataFrame, childKey: Seq[String],
      parent: DataFrame, parentKey: Seq[String]): DataFrame =
    auditConstraints(child, rowChecks = Nil,
      referential = Seq((name, childKey, parent, parentKey)))

  /** Mixture/epoch planning: given target mixture weights per stratum and
    * a total token budget, compute each stratum's available mass and the
    * EPOCH COUNT (repeat factor) needed to hit its share — the standard
    * data-mixing worksheet (epochs > 1 means the stratum is upsampled /
    * repeated; < 1 means downsample, cf. [[temperatureSample]]). One hash
    * aggregate over the corpus; the plan itself is stratum-sized.
    * Strata absent from `weights` get weight 0 (excluded from the mix but
    * still reported, so nothing silently disappears from the audit). */
  def epochPlan(
      docs: DataFrame, stratum: String, tokCol: Column,
      weights: Map[String, Double], budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"epochPlan: budget must be positive, got $budgetTokens")
    weights.foreach { case (k, v) => require(v >= 0, s"epochPlan: negative weight for '$k'") }
    val weight = weights.foldLeft(lit(0.0)) {
      case (acc, (k, v)) => when(col(stratum) === lit(k), lit(v)).otherwise(acc)
    }
    docs.groupBy(col(stratum))
      .agg(count(lit(1)).as("n_docs"), sum(tokCol).as("n_tokens"))
      .select(
        col(stratum), col("n_docs"), col("n_tokens"),
        weight.as("weight"),
        (weight * budgetTokens.toDouble / col("n_tokens").cast("double")).as("epochs"))
  }

  /** Quality-ranked token-budget trim: within each stratum, walk the rows
    * in `order` (best first) and keep them until `budgetTokens` is
    * spent — the budgeted greedy selection that builds a fixed-size
    * corpus from ranked candidates ("take the best N billion tokens per
    * source"). A row is kept iff the tokens BEFORE it are under budget,
    * so every stratum keeps at least its top row and the straddling row
    * is included (the budget is a floor on selected mass, not a cap).
    * One window shuffle on the stratum; `order` must be a total order
    * (unique tiebreak) on engine-exact columns — ranking on a float that
    * engines round differently would flip the kept set. */
  def budgetTrim(df: DataFrame, stratum: String, order: Seq[Column],
      tokCol: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTrim: budget must be positive, got $budgetTokens")
    val w = Window.partitionBy(col(stratum)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", tokCol)
      .withColumn("__before", sum(col("__tok")).over(w) - col("__tok"))
      .filter(col("__before") < budgetTokens)
      .drop("__tok", "__before")
  }

  /** Scale-safe global ordered index: assign each row its 0-based
    * position in the total order given by `orderCols` — the deterministic
    * training-order shuffle (order by a salted hash) and the "give every
    * record a contiguous global id" primitive, without the
    * single-partition `row_number() OVER (ORDER BY …)` bottleneck a naive
    * window would create.
    *
    * Shape: one range exchange (sampled boundaries, skew-resistant)
    * establishes sorted, non-overlapping partitions; `zipWithIndex` then
    * runs a lightweight count-per-partition job and adds each partition's
    * cumulative offset map-side. The count pass re-reads only the range
    * exchange's shuffle files, not the source, so the input is scanned
    * once regardless. This is the one operator family where dropping to
    * an RDD is the right call (SURVEY §2 preference order (d)): the
    * per-partition offset arithmetic is genuinely imperative, and no
    * Catalyst operator expresses "contiguous global index" without a
    * global sort into one task.
    *
    * `orderCols` must be a total order (add a unique tiebreak column):
    * ties that straddle a range boundary would otherwise make the index
    * nondeterministic across runs. */
  def globalIndex(df: DataFrame, orderCols: Seq[Column], numPartitions: Int,
      indexName: String = "pos"): DataFrame = {
    require(numPartitions > 0, s"globalIndex: numPartitions must be positive, got $numPartitions")
    val sorted = df.repartitionByRange(numPartitions, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val out = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(
        indexName, org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    sorted.sparkSession.createDataFrame(indexed, out)
  }

  /** Token-budget sequence packing: assign each document to a training
    * batch ("bin") such that bins hold consecutive (by id) documents of
    * roughly `budget` total tokens — the concat-then-chunk packing used
    * to build fixed-length LM training sequences. Bin = floor(offset /
    * budget) where offset is the running token count before the doc, so
    * each bin's total is < budget + the one straddling document.
    *
    * The running sum needs a total order, which at scale must not be a
    * global sort: `nShards` deterministic shards (id mod nShards) each
    * pack independently in parallel — one hash shuffle, window per
    * shard, no single-partition bottleneck. Size nShards so a shard's
    * docs fit one task comfortably (tokens are a long; overflow is not a
    * concern below ~9e18 tokens per shard). Returns one row per doc:
    * (doc_id, shard, n_tok, bin). */
  def packSequences(
      docs: DataFrame,
      tokCol: Column,
      budget: Long,
      nShards: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards)).as("shard"), tokCol.as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / budget))
      .drop("cum")
  }
}
