package graft

import org.apache.spark.sql.Row

import graft.queries.QueryCatalog

/** Plan-shape guards (SURVEY.md §5.5): dims broadcast, filters pushed to
  * the scan, top-k compiles to TakeOrderedAndProject, nothing falls out of
  * whole-stage codegen into UDF/Python nodes. These are the properties that
  * keep the plans 100-TB-shaped; correctness alone wouldn't catch a
  * regression to shuffle joins or unpushed filters. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    QueryCatalog.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("q03: dim chain compiles to broadcast hash joins, not shuffle joins") {
    // at test SF every table clears autoBroadcastJoinThreshold, so the
    // whole chain stays broadcast even though only nation/region carry an
    // explicit hint (the supplier join picks broadcast via the threshold)
    val p = plan("q03_broadcast_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("broadcast hints exist only on fixed-size dims, never scale tables") {
    // customer/supplier/part grow linearly with SF: a forced broadcast()
    // overrides the threshold and would collect a multi-GB build side to
    // the driver at the 100-TB target. Only genuine dims (nation 25 rows,
    // region 5, the bundled fixture masters) may carry the hint.
    def hints(name: String) =
      QueryCatalog.queries(name)(spark, sf()).queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    Seq("q04_left_join_defaults", "q14_price_state", "q17_semi_join")
      .foreach(q => assert(hints(q).isEmpty, s"$q carries a forced hint"))
    assert(hints("q03_broadcast_enrich").size == 2) // nation + region only
    assert(hints("q30_rollup").size == 2)
  }

  test("q02: both predicates reach the parquet scan as pushed filters") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p)
    assert(!p.replaceAll("PushedFilters: \\[[^\\]]*\\]", "").contains("PushedFilters: []"), p)
  }

  test("q09: global top-k is TakeOrderedAndProject (no full sort)") {
    val p = plan("q09_global_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("reference-parity queries stay UDF-free / codegen-able") {
    Seq("q01_pricing_summary", "q03_broadcast_enrich", "q06_trend_scores",
      "q13_exchange_score", "q16_event_window").foreach { name =>
      val df = QueryCatalog.queries(name)(spark, sf())
      val qe = df.queryExecution
      df.collect() // materialize THIS queryExecution so AQE finalizes it
      val p = qe.executedPlan.toString
      // codegen spans appear as "WholeStageCodegen" (non-AQE) or "*(n) "
      // stage prefixes (AQE final plan)
      assert(p.contains("WholeStageCodegen") || p.matches("(?s).*\\*\\(\\d+\\) .*"),
        s"$name lost codegen:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$name contains UDF nodes:\n$p")
    }
  }

  test("q17/q18: semi and anti joins stay broadcast") {
    assert(plan("q17_semi_join").contains("BroadcastHashJoin"))
    val p18 = plan("q18_anti_join")
    assert(p18.contains("BroadcastHashJoin") || p18.contains("BroadcastNestedLoopJoin"), p18)
  }

  test("q36: custom TypedImperativeAggregate runs partial+final (ObjectHashAggregate)") {
    val p = plan("q36_frequent_tokens")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_frequent_items") || p.contains("frequent_items"), p)
  }

  test("bronze partitioned by rate_type/dt prunes partitions at the scan") {
    // ARCHITECTURE §2's claim, pinned: a filter on the partition layout
    // columns must appear under PartitionFilters (directory pruning, no
    // data read) — if it degrades to a post-scan Filter this fails
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toFile
    try {
      val rates = graft.sources.Fixtures.ratesRaw(spark)
        .withColumn("dt", to_date(substring(col("crawled_at_utc"), 1, 10)))
      graft.sources.Bronze.writeParquetPartitioned(
        rates, dir.getPath, Seq("rate_type", "dt"))
      val read = spark.read.parquet(dir.getPath)
        .filter(col("rate_type") === "realtime" && col("dt") >= "2025-07-01")
        .select(col("currency_code"), col("standard_rate"))
      val p = read.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
      assert(pf.contains("rate_type") && pf.contains("dt"), p)
      // and the partition columns never reach the data-read schema
      val rs = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
      assert(!rs.contains("rate_type"), p)
      assert(read.count() ==
        graft.sources.Fixtures.ratesRaw(spark)
          .filter(col("rate_type") === "realtime" &&
            substring(col("crawled_at_utc"), 1, 10) >= "2025-07-01").count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("q52: redaction is pure map work — zero exchanges, one codegen stage") {
    val p = plan("q52_redact_pii")
    assert(!p.contains("Exchange"), p)
    // "*(n)" is executedPlan.toString's whole-stage-codegen marker
    assert(p.contains("*(1) Project"), p)
    // and only the two consumed columns reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"), p)
  }

  test("q78: winnowing is pure map-side array algebra — zero exchanges") {
    val p = plan("q78_winnowing")
    assert(!p.contains("Exchange"), p)
    // only (doc_id, text) reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q94: correlated EXISTS compiles to a semi join, never a nested loop") {
    val p = plan("q94_sql_exists")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the acctbal predicate is pushed into the customer scan, pre-join
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,5000.0)"), p)
  }

  test("q88: spine and type dims join broadcast — the fact never re-shuffles") {
    val p = plan("q88_calendar_spine")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q54: incremental dedup anti-joins on the fingerprint, no sort-merge") {
    // at fixture scale the distinct prior-fingerprint side broadcasts;
    // the anti join must be a hash join form, never a nested loop
    val p = plan("q54_incremental_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("the full custom-function surface is usable from pure SQL") {
    graft.plans.GraftExtensions.install(spark)
    graft.sources.Tables.documents(spark, sf()).createOrReplaceTempView("sql_docs")
    val row = spark.sql("""
      SELECT
        hll_distinct(doc_id) AS n_docs,
        theta_estimate(theta_sketch(lang)) AS n_langs,
        bloom_might_contain(bloom_agg(lang), 'en') AS has_en,
        z_value(42, 7) AS z,
        kll_quantile(kll_agg(n_chars), 0.5d) AS med,
        kll_n(kll_agg(n_chars)) AS kn,
        char_ngrams('abcd', 3) AS ng,
        vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        vec_norm(array(3.0d, 4.0d)) AS nrm,
        vec_argmin_cell(array(1, 0),
          array(array(0.0d, 1.0d), array(1.0d, 0.0d))) AS near
      FROM sql_docs""").head()
    val docs = graft.sources.Tables.documents(spark, sf())
    assert(row.getAs[Long]("n_docs") == docs.count())
    assert(row.getAs[Double]("n_langs") == 5.0)
    assert(row.getAs[Boolean]("has_en"))
    assert(row.getAs[Long]("z") == graft.functions.ZOrder.interleave(42L, 7L))
    assert(row.getAs[Long]("kn") == docs.count())
    val sortedChars = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    assert(row.getAs[Double]("med") ==
      sortedChars(math.max(1, math.ceil(0.5 * sortedChars.length).toInt) - 1).toDouble)
    assert(row.getSeq[String](row.fieldIndex("ng")) == Seq("abc", "bcd"))
    assert(row.getAs[Double]("dot") == 11.0 && row.getAs[Double]("nrm") == 5.0)
    // the int vector is cast to array<double>; ‖c‖² − 2·v·c is 1.0 for
    // cell 0 and −1.0 for cell 1
    assert(row.getAs[Row]("near") == Row(1, -1.0))
  }

  test("q152: bounded-heap topk runs partial+final with NO sort node") {
    // the whole point of the heap aggregate vs the window form: a hash
    // aggregate (partial map-side, final after a k-bounded shuffle) and
    // zero Sort operators in the plan — the window form would sort every
    // group. explode() sits above the aggregate, not in it.
    val p = plan("q152_topk_aggregate")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_topk_by") || p.contains("topk_by"), p)
    assert(!p.contains("Window"), s"heap topk fell back to a window:\n$p")
    if (p.contains("ObjectHashAggregate"))
      assert(!p.contains("Sort "), s"unexpected sort in heap-topk plan:\n$p")
  }

  test("q21: fixture-spread repartition is conf-gated, default-off") {
    // Production plan (default conf): the scan parallelizes on splittable
    // input, so the catalog must NOT inject its single-file-fixture
    // repartition — that extra full shuffle is a 100-TB scale-killer. The
    // explicit repartition prints with shuffle origin REPARTITION_BY_COL,
    // which distinguishes it from q21's genuine groupBy exchanges.
    val before = plan("q21_minhash_lsh")
    assert(!before.contains("REPARTITION_BY_COL"),
      s"fixture-only repartition leaked into the default plan:\n$before")
    // isolated SQLConf: the flag must not leak to suites planning q21
    // concurrently (and their conf changes must not leak here)
    val s = isolated("graft.bench.singleFileFixture" -> "true")
    val benched = QueryCatalog.queries("q21_minhash_lsh")(s, sf())
      .queryExecution.executedPlan.toString
    assert(benched.contains("REPARTITION_BY_COL"),
      s"bench flag did not spread the single-file scan:\n$benched")
  }

  test("parquet aggregate pushdown: count/min/max answered by footer stats (DSv2)") {
    // At 100 TB a bare count/min/max over a table should read parquet
    // FOOTERS, not data pages. The v1 file source can't push aggregates;
    // DSv2 + aggregatePushdown can, and the scan advertises it as
    // PushedAggregation. Values must match the v1 full-scan answer.
    import org.apache.spark.sql.functions.{count => cnt, max => mx, min => mn, col => c}
    // isolated SQLConf for the DSv2 + pushdown side; the full-scan
    // reference runs on the untouched shared session
    val s = isolated(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true")
    val agg = s.read.parquet(sf() + "/lineitem.parquet")
      .agg(cnt("*").as("n"), mn(c("l_quantity")).as("lo"), mx(c("l_quantity")).as("hi"))
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation: [COUNT(*)"), s"aggregate not pushed:\n$p")
    val Array(pushed) = agg.collect()
    val Array(full) = spark.read.parquet(sf() + "/lineitem.parquet")
      .agg(cnt("*").as("n"), mn(c("l_quantity")).as("lo"), mx(c("l_quantity")).as("hi"))
      .collect()
    assert(pushed == full, s"pushed $pushed != full-scan $full")
  }

  test("runtime bloom-filter join injection prunes the probe side") {
    // AQE's InjectRuntimeFilter: when a shuffle join's build side carries
    // a selective filter, Spark plants bloom_filter_agg on the build side
    // and might_contain on the probe-side SCAN — rows that can't join die
    // before the exchange. This is the engine-native form of
    // Core.bloomReducedJoin (q61), and the thresholds below only shrink
    // the size gates so the fixture qualifies; the rewrite itself is
    // stock. Result must equal the unfiltered join.
    import org.apache.spark.sql.functions.{col => c}
    // isolated SQLConf for the bloom-injected side (the -1 broadcast
    // threshold especially must not leak); plain reference on the shared
    // session with default conf
    def q(s: org.apache.spark.sql.SparkSession) = {
      val li = s.read.parquet(sf() + "/lineitem.parquet")
        .select(c("l_orderkey"), c("l_quantity"))
      val ord = s.read.parquet(sf() + "/orders.parquet")
        .filter(c("o_orderpriority") === "1-URGENT")
        .select(c("o_orderkey"))
      li.join(ord, c("l_orderkey") === c("o_orderkey")).groupBy()
        .agg(org.apache.spark.sql.functions.sum(c("l_quantity")).as("s"))
    }
    val s = isolated(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val df = q(s)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain") || p.contains("bloom_filter"),
      s"no runtime bloom filter injected:\n$p")
    val withFilter = df.collect()(0).getDouble(0)
    val plain = q(spark).collect()(0).getDouble(0)
    assert(withFilter == plain, s"bloom-filtered $withFilter != plain $plain")
  }

  test("queries and oracles are consistently keyed") {
    val qs = QueryCatalog.queries.keySet
    val os = QueryCatalog.oracleSql.keySet
    assert(os.subsetOf(qs))
    assert(qs.size == 234)
  }
}
