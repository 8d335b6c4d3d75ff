package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational building blocks shared by the pipelines:
  * dedup-to-latest (W2), top-k per group (W3), union (§2.7), the
  * MERGE-shaped latest-wins upsert (T4), bulk rename (F20), and the
  * composed as-of join. All are single-shuffle formulations: one
  * `Window`/`groupBy` exchange on the partition key, nothing else —
  * at 100 TB the shuffle on the key is unavoidable, everything around it
  * stays map-side.
  */
object Core {

  /** W2 — dedup-to-latest: keep the newest row per key ("latest crawl wins",
    * ref: functions/exchange_rate_trigger.py:14-19 re-crawl + overwrite
    * semantics at _archive/function_app.py:203). `order` must be a total
    * order (include a unique tiebreak column) for deterministic output. */
  def dedupLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W3 — top-k per group (ref: commented cheapest-flight-per-city,
    * _archive/flight_avg_merge.py:67-74). */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** §2.7 — union of homogeneous frames (ref: pd.concat at
    * _archive/function_app.py:183). Name-based so column order is free. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_.unionByName(_))

  /** Schema-evolution union: concatenate snapshots whose schemas drifted
    * across ingest epochs — added columns backfill NULL on the old side,
    * dropped columns carry NULL on the new side, and matching is by NAME,
    * never position. This is the batch answer to "the crawler added a
    * field in March": reading each epoch with its own schema and evolving
    * at the union beats rewriting history, and the padding is a zero-cost
    * metadata projection (no shuffle, no data pass beyond the scans).
    * Column types must agree where names coincide; Spark raises at plan
    * time otherwise, which is the failure mode you want (a silent cast
    * would corrupt). */
  def unionEvolve(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionEvolve: need at least one frame")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** T4/W2 formalized as an upsert: merge `updates` into `target` with
    * latest-wins semantics per key (the reference's re-crawl + overwrite
    * pattern; on a Delta deployment this is MERGE WHEN MATCHED UPDATE).
    * Both sides must share a schema; `order` must totally order versions. */
  def upsert(target: DataFrame, updates: DataFrame,
      keys: Seq[String], order: Seq[Column]): DataFrame =
    dedupLatest(target.unionByName(updates), keys, order)

  /** Skew escape hatch (ARCHITECTURE §4): equi-join where the fact side's
    * hot keys are spread over `salt` shuffle sub-keys and the dim side is
    * replicated `salt`×. Result-identical to `fact.join(dim, keys,
    * joinType)` for inner/left joins when `dim` is unique per key (the
    * usual dim contract); each hot key's rows now land on `salt` reducers
    * instead of one. Use ONLY when AQE's skew splitting isn't enough and
    * the dim is too big to broadcast — the replication multiplies the
    * dim-side shuffle by `salt`.
    *
    * The fact salt is a DETERMINISTIC function of the row's non-map
    * columns (an all-map frame falls back to its maps through to_json —
    * xxhash64 rejects MapType): a nondeterministic salt (rand, monotonic
    * id) would be the SPARK-23207 hazard — a shuffle-map retry recomputes
    * different salts while surviving reducers keep data fetched under the
    * old assignment, silently losing or duplicating join rows. The
    * residual: rows identical in the hashed columns share a salt, so a
    * hot key of millions of such rows still skews — dedup first (exact
    * duplicates carry no information for most joins) or pre-aggregate. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    // fact-preserving types only: a right/full join would emit each
    // UNMATCHED dim row once per salt replica — silently wrong results
    require(Set("inner", "cross", "left", "leftouter", "left_outer",
      "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti")
      .contains(joinType.toLowerCase),
      s"saltedJoin supports fact-preserving join types only, got $joinType")
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "saltedJoin reserves the __salt column name")
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    // hash the non-map columns when any exist (cheap, deterministic);
    // only an all-map frame pays per-row to_json serialization
    val (mapCols, plainCols) = fact.schema.fields.partition(f => hasMap(f.dataType))
    val saltInputs =
      if (plainCols.nonEmpty) plainCols.map(f => col(f.name))
      else mapCols.map(f => to_json(col(f.name)))
    val saltCol = pmod(xxhash64(saltInputs.toIndexedSeq: _*), lit(salt.toLong))
    val sfact = fact.withColumn("__salt", saltCol)
    val sdim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    sfact.join(sdim, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Range (interval) join: each fact row matches every interval row with
    * `start <= point < end` (end-exclusive). Spark plans a bare inequality
    * join as BroadcastNestedLoopJoin — O(|facts|·|intervals|) work and a
    * collect-the-whole-side broadcast hazard; at 100 TB that is the plan
    * that never finishes. Scale path (the standard bucketed-equijoin
    * rewrite): map both sides onto fixed-width buckets — an interval
    * explodes to every bucket it overlaps, a point lands in exactly ONE
    * bucket — equi-join on the bucket (shuffle/broadcast HASH join,
    * partition-parallel, AQE-eligible), then keep the exact range
    * predicate as a residual filter. No duplicates by construction
    * (single bucket per point) and no dedup pass needed.
    *
    * `pointCol`/`startCol`/`endCol` must be integral (epoch days/seconds/
    * micros — cast dates via `datediff`/`unix_date` first). Pick
    * `bucketWidth` near the TYPICAL interval length: replication factor is
    * ~len/width + 1 per interval, probe fan-out is intervals-per-bucket.
    * A pathological interval spanning more than `maxBucketsPerInterval`
    * buckets raises rather than silently exploding the build side.
    * Empty intervals (end <= start) match nothing and are dropped before
    * the explode (also dodges descending-`sequence` emission). Bucket ids
    * use exact floor division (subtract-pmod, no float rounding at bucket
    * boundaries) — exact while |point|/bucketWidth <= 2^53. */
  def rangeJoin(
      facts: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      bucketWidth: Long,
      maxBucketsPerInterval: Long = 4096L): DataFrame = {
    require(bucketWidth > 0, "rangeJoin: bucketWidth must be positive")
    val shared = facts.columns.toSet.intersect(intervals.columns.toSet)
    require(shared.isEmpty,
      s"rangeJoin requires disjoint column names; shared: ${shared.mkString(", ")}")
    require(!facts.columns.contains("__rj_bucket") && !intervals.columns.contains("__rj_bucket"),
      "rangeJoin reserves the __rj_bucket column name")
    def bucket(c: Column): Column = {
      val v = c.cast("long")
      ((v - pmod(v, lit(bucketWidth))) / lit(bucketWidth)).cast("long")
    }
    val fb = facts.withColumn("__rj_bucket", bucket(col(pointCol)))
    val firstB = bucket(col(startCol))
    val lastB = bucket(col(endCol).cast("long") - 1) // end-exclusive
    val nb = lastB - firstB + 1
    val ib = intervals
      .where(col(endCol).cast("long") > col(startCol).cast("long"))
      .withColumn("__rj_bucket", explode(
        when(nb <= lit(maxBucketsPerInterval), sequence(firstB, lastB))
          .otherwise(raise_error(concat(
            lit(s"rangeJoin: interval spans "), nb.cast("string"),
            lit(s" buckets > maxBucketsPerInterval=$maxBucketsPerInterval — widen bucketWidth"))))))
    fb.join(ib,
      fb("__rj_bucket") === ib("__rj_bucket") &&
        col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__rj_bucket")
  }

  /** Bloom semi-join reduction: build a Bloom filter over `dim`'s join
    * keys (one distributed aggregate → a few-MB binary), broadcast it,
    * and drop fact rows whose key CANNOT match before the join's shuffle.
    * The result is IDENTICAL to the plain join — Bloom has no false
    * negatives, and false positives merely ride the shuffle and die in
    * the exact join — only the shuffled fact volume changes (by the
    * dim-key selectivity, e.g. a 5%-selective dim drops ~95% of a 100 TB
    * fact before the exchange). This is the semi-join reduction classic
    * databases plan automatically, as an explicit operator. Restricted to
    * fact-reducible join types (inner/semi): a left-outer must keep
    * unmatched fact rows, which the pre-filter would drop. */
  def bloomReducedJoin(fact: DataFrame, dim: DataFrame, key: String,
      numBits: Int = 1 << 20, numHashes: Int = 5,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "semi", "leftsemi", "left_semi")
      .contains(joinType.toLowerCase),
      s"bloomReducedJoin requires an unmatched-fact-dropping join type, got $joinType")
    // xxhash64(1: Int) != xxhash64(1: Long): if the key types differ the
    // plain join would coerce-and-match while every bloom probe missed —
    // a silently (near-)empty result. Refuse loudly instead.
    val ft = fact.schema(key).dataType
    val dt = dim.schema(key).dataType
    require(ft == dt,
      s"bloomReducedJoin: key '$key' types differ (fact $ft vs dim $dt) — " +
        "hashes would disagree and drop true matches; cast one side first")
    graft.plans.GraftExtensions.install(fact.sparkSession)
    // The sketch is a SCALAR: collect the one row and embed the bytes as
    // a literal (the IVF-centroids pattern — a bounded driver value, not
    // a data collect). A crossJoin(broadcast(sketch)) instead would copy
    // the numBits/8 bytes into EVERY joined fact row before the filter —
    // measured as 4+ s of row-widening on a 600k-row fact at 32 KB.
    val bytes = dim
      .agg(graft.functions.BloomFilter.bloom_agg(col(key), numBits, numHashes))
      .head().getAs[Array[Byte]](0)
    fact
      .filter(graft.functions.BloomFilter.bloom_might_contain(lit(bytes), col(key)))
      .join(dim, Seq(key), joinType)
  }

  /** Snapshot diff — derive a change feed (CDC) by comparing two
    * versions of a keyed table: one row per key that was inserted,
    * deleted, or updated between `old` and `neu`, with the NEW values of
    * the compared columns (null for deletes) and a `change_type` tag.
    * Unchanged keys emit nothing, so the output is the minimal delta an
    * incremental consumer ([[upsert]], a streaming sink, a downstream
    * MERGE) needs — the recompute-avoidance primitive when a source
    * re-snapshots daily but only ~1% of rows move.
    *
    * Shape: ONE full-outer shuffle join on the key (both sides project to
    * keys + compared columns first, so the exchange carries only what the
    * diff reads; AQE skew-splits hot keys as usual). Presence is tracked
    * with explicit marker columns, not payload nulls — an all-null
    * payload row diffs correctly. Update detection is per-column
    * null-safe equality (`<=>`), exact — no hash collisions.
    *
    * `compareCols` defaults to every shared non-key column. Keys must be
    * unique per side (the usual snapshot contract); duplicate keys would
    * fan out the join. */
  /** SCD2 (slowly-changing-dimension type 2) history construction between
    * two snapshots — the HISTORIZED form of [[snapshotDiff]]: instead of
    * emitting change rows, emit the version intervals a warehouse keeps.
    * One row per (key, version): `valid_from`/`valid_to` labels, open rows
    * have null `valid_to`. Changed keys close the old version at
    * `newVersion` and open a new one; deleted keys close with no
    * successor; unchanged keys keep their open `oldVersion` row; inserted
    * keys open at `newVersion`. Same full-outer + null-safe compare core
    * as snapshotDiff (one shuffle on the keys); on a Delta deployment
    * this is the MERGE-with-history pattern, expressed connector-free. */
  def scd2(old: DataFrame, neu: DataFrame, keys: Seq[String],
      compareCols: Seq[String], oldVersion: String, newVersion: String): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    val cmp = compareCols
    val reserved = Seq("__o", "__n", "valid_from", "valid_to") ++
      cmp.flatMap(c => Seq(s"__o_$c", s"__n_$c"))
    require(!(old.columns ++ neu.columns).exists(reserved.contains),
      "scd2 reserves __o/__n-prefixed column names and the valid_from/" +
        "valid_to output labels — rename input columns that collide")
    val o = old.select(
      keys.map(col) ++ cmp.map(c => col(c).as(s"__o_$c")) :+ lit(1).as("__o"): _*)
    val n = neu.select(
      keys.map(col) ++ cmp.map(c => col(c).as(s"__n_$c")) :+ lit(1).as("__n"): _*)
    val changed = cmp.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val j = o.join(n, keys, "full_outer")
    def emit(side: String, from: String, to: Option[String]) =
      j.select(keys.map(col) ++ cmp.map(c => col(s"__${side}_$c").as(c))
        :+ lit(from).as("valid_from")
        :+ to.map(lit(_)).getOrElse(lit(null).cast("string")).as("valid_to")
        :+ col("__o") :+ col("__n") :+ changed.as("__chg"): _*)
    val closedOld = emit("o", oldVersion, Some(newVersion))
      .filter(col("__o") === 1 && (col("__n").isNull || col("__chg")))
    val openOld = emit("o", oldVersion, None)
      .filter(col("__o") === 1 && col("__n") === 1 && !col("__chg"))
    val openNew = emit("n", newVersion, None)
      .filter(col("__n") === 1 && (col("__o").isNull || col("__chg")))
    closedOld.unionAll(openOld).unionAll(openNew)
      .drop("__o", "__n", "__chg")
  }

  def snapshotDiff(old: DataFrame, neu: DataFrame, keys: Seq[String],
      compareCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else neu.columns.filterNot(keys.contains).filter(old.columns.contains).toSeq
    val reserved = Seq("__o", "__n") ++ cmp.flatMap(c => Seq(s"__o_$c", s"__n_$c"))
    require(!(old.columns ++ neu.columns).exists(reserved.contains),
      "snapshotDiff reserves __o/__n-prefixed column names")
    val o = old.select(
      keys.map(col) ++ cmp.map(c => col(c).as(s"__o_$c")) :+ lit(1).as("__o"): _*)
    val n = neu.select(
      keys.map(col) ++ cmp.map(c => col(c).as(s"__n_$c")) :+ lit(1).as("__n"): _*)
    val changed = cmp.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col("__n").isNull, lit("delete"))
          .when(col("__o").isNull, lit("insert"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++ cmp.map(c => col(s"__n_$c").as(c))
        :+ col("change_type"): _*)
  }

  /** As-of join: for every left row, attach the single most recent right
    * row with the same key and `rightOrder <= leftOrder` (LEFT semantics —
    * left rows with no prior right row keep nulls).
    *
    * Built by composition (SURVEY §2.10 preference order: compose before
    * custom plans): union both sides tagged, one window pass per key
    * ordered by (order, side) with a last-ignoring-nulls carry-forward.
    * Scale shape: ONE shuffle on the key — never a range-join explosion,
    * no per-row probe; skew follows the key distribution exactly like any
    * keyed window. Right payload columns come back prefixed `asof_`.
    *
    * `leftOrder`/`rightOrder` must be totally ordered per key for
    * deterministic results (ties between a left and right row at the same
    * order value resolve right-before-left, i.e. the tie IS matched). */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftOrder: String,
      rightOrder: String,
      rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__ord", col(leftOrder))
      .withColumn("__side", lit(1))
    val r0 = right.select(
      (keys.map(col) :+ col(rightOrder).as("__ord")) ++
        rightPayload.map(c => col(c).as(s"asof_$c")): _*)
    val r = leftCols.filterNot(keys.contains).foldLeft(r0)(
      (df, c) => df.withColumn(c, lit(null)))
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ord").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = rightPayload.foldLeft(unioned)((df, c) =>
      df.withColumn(s"asof_$c", last(col(s"asof_$c"), ignoreNulls = true).over(w)))
    filled.filter(col("__side") === 1)
      .select((leftCols ++ rightPayload.map(c => s"asof_$c")).map(col): _*)
  }
}
