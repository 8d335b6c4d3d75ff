package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Core, RefFunctions => F}
import graft.sources.Tables

import Shared._

/** Quality + scale diagnostics: outliers, skew, drift, PQ serving, exact-sim joins. Split from the single-file catalog in round 8;
  * query text unchanged. Registration stays in [[QueryCatalog.all]]. */
private[queries] object CatalogQuality {


  /** Fixed-width histogram via width_bucket — 12 buckets over [0, 600k) in
    * exact cents. Bucket boundaries are multiples of 5e6 cents (exactly
    * representable), and non-boundary values sit ≥2e-7 of a bucket away —
    * ulp-level formula differences between the engines' width_bucket
    * implementations cannot flip a bucket, so the twin's arithmetic form
    * is safe. One small hash aggregate. */
  private val q129 = Q(
    "q129_width_bucket",
    (s, d) => {
      Tables.orders(s, d)
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .select(width_bucket(col("cents").cast("double"), lit(0.0),
          lit(60000000.0), lit(12)).as("bucket"), col("cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
    },
    Some("""
      SELECT bucket, count(*) AS n, min(cents) AS min_cents, max(cents) AS max_cents
      FROM (
        SELECT CASE WHEN cents >= 60000000 THEN 13
                    ELSE CAST(floor(cents::DOUBLE / 60000000.0 * 12.0) AS BIGINT) + 1 END AS bucket,
               cents
        FROM (SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents FROM orders))
      GROUP BY 1"""))

  /** TPC-H-Q5-shaped star join — region filter → nation → customer →
    * orders (date range) → lineitem → supplier with the same-nation
    * constraint; local-supplier revenue per nation. Per-row revenue is
    * floored to exact cents BEFORE the sum (a double sum's order is not
    * cross-engine stable). No broadcast hints on the SF-growing tables
    * (customer/supplier/orders) — nation/region hint only; at bench SF the
    * threshold picks broadcast anyway, at 100 TB the big joins shuffle on
    * their keys with AQE free to re-plan. */
  private val q130 = Q(
    "q130_star_revenue",
    (s, d) => {
      val nr = Tables.nation(s, d).join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
      Tables.customer(s, d)
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .select(col("n_name"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long").as("rev_cents"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_cents")).as("revenue_cents"))
    },
    Some("""
      SELECT n_name, CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
      FROM (
        SELECT n.n_name,
          CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01')
      GROUP BY 1"""))

  /** Pareto frontier (skyline) of per-customer (total spend, order count)
    * — the non-dominated set, computed as one sort + one running max
    * instead of the naive quadratic dominance anti-join: collapse to one
    * row per spend value (max count — same-spend lower counts are
    * dominated by definition), sort spend DESC, keep rows whose count
    * strictly beats every earlier row's. The global window sees one row
    * per distinct spend (already aggregated — bounded); the 100 TB form
    * partitions by coarse spend buckets and merges per-bucket frontiers. */
  private val q131 = Q(
    "q131_pareto_frontier",
    (s, d) => {
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("spend_cents"),
          count(lit(1)).as("n_orders"))
      val pts = per.groupBy(col("spend_cents")).agg(max(col("n_orders")).as("n_orders"))
      val runPrev = max(col("n_orders")).over(
        Window.orderBy(col("spend_cents").desc)
          .rowsBetween(Window.unboundedPreceding, -1))
      pts.withColumn("prev_max", runPrev)
        .filter(col("prev_max").isNull || col("n_orders") > col("prev_max"))
        .select(col("spend_cents"), col("n_orders"))
    },
    Some("""
      WITH per AS (
        SELECT o_custkey,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents,
          count(*) AS n_orders
        FROM orders GROUP BY 1),
      pts AS (
        SELECT spend_cents, max(n_orders) AS n_orders FROM per GROUP BY 1),
      run AS (
        SELECT spend_cents, n_orders,
          max(n_orders) OVER (ORDER BY spend_cents DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM pts)
      SELECT spend_cents, n_orders FROM run
      WHERE prev_max IS NULL OR n_orders > prev_max"""))

  /** Median absolute deviation per language — the robust outlier gate
    * (MAD tolerates the heavy tails that wreck q106's z-scores). Both
    * medians are exact interpolations of values with at-worst quarter
    * fractions (ints, then |int − half| devs), so every intermediate is
    * exactly representable and NO rounding belt is needed. One shuffle:
    * the documents are partitioned by language once; the median and then
    * the MAD are windows over that partitioning, and the final
    * (lang, med_chars, mad) aggregate reuses it, so nothing is joined
    * back. Outliers = dev > 3·MAD. */
  private val q132 = Q(
    "q132_mad_outliers",
    (s, d) => {
      val byLang = Window.partitionBy(col("lang"))
      Tables.documents(s, d).select(col("lang"), col("n_chars"))
        .filter(col("lang").isNotNull) // no language (the oracle's join drops it)
        .withColumn("med_chars", median(col("n_chars")).over(byLang))
        .withColumn("dev", abs(col("n_chars").cast("double") - col("med_chars")))
        .withColumn("mad", median(col("dev")).over(byLang))
        .groupBy(col("lang"), col("med_chars"), col("mad"))
        .agg(count(lit(1)).as("n"),
          count_if(col("dev") > lit(3.0) * col("mad")).as("n_outliers"))
        .select(col("lang"), col("n"), col("med_chars"), col("mad"), col("n_outliers"))
    },
    Some("""
      WITH med AS (
        SELECT lang, CAST(median(n_chars) AS DOUBLE) AS med_chars
        FROM documents GROUP BY 1),
      dev AS (
        SELECT d.lang, abs(d.n_chars::DOUBLE - med_chars) AS dev, med_chars
        FROM documents d JOIN med USING (lang)),
      mad AS (
        SELECT lang, med_chars, CAST(median(dev) AS DOUBLE) AS mad, count(*) AS n
        FROM dev GROUP BY 1, 2)
      SELECT dev.lang, n, mad.med_chars, mad.mad,
        count(*) FILTER (WHERE dev > 3.0 * mad.mad) AS n_outliers
      FROM dev JOIN mad USING (lang)
      GROUP BY 1, 2, 3, 4"""))

  /** Join-skew diagnostics — per-key frequency profile of the two hot
    * fact join keys (the pre-flight that decides when q45's salting or
    * AQE skew handling is needed): row count, distinct keys, max rows per
    * key, top-key share in micro-units, and the p75 per-key count (dyadic
    * p → exact interpolation, the q114 rule). Two-level aggregate per
    * table, map-side combine collapses keys before the shuffle. */
  private val q133 = Q(
    "q133_skew_report",
    (s, d) => {
      def profile(df: DataFrame, key: String, tag: String): DataFrame =
        df.groupBy(col(key)).agg(count(lit(1)).as("c"))
          .agg(
            sum(col("c")).as("n_rows"),
            count(lit(1)).as("n_keys"),
            max(col("c")).as("max_key_rows"),
            expr("percentile(c, 0.75)").as("p75_key_rows"))
          .select(lit(tag).as("key_col"), col("n_rows"), col("n_keys"),
            col("max_key_rows"),
            floor(col("max_key_rows").cast("double") / col("n_rows").cast("double")
              * 1e6 + 0.5).cast("long").as("top_share_micro"),
            col("p75_key_rows"))
      profile(Tables.orders(s, d), "o_custkey", "orders.o_custkey")
        .unionByName(profile(Tables.lineitem(s, d), "l_partkey", "lineitem.l_partkey"))
    },
    Some("""
      WITH oc AS (
        SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
      lp AS (
        SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      po AS (
        SELECT 'orders.o_custkey' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows,
          count(*) AS n_keys, max(c) AS max_key_rows,
          quantile_cont(c, 0.75) AS p75_key_rows
        FROM oc),
      pl AS (
        SELECT 'lineitem.l_partkey' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows,
          count(*) AS n_keys, max(c) AS max_key_rows,
          quantile_cont(c, 0.75) AS p75_key_rows
        FROM lp)
      SELECT key_col, n_rows, n_keys, max_key_rows,
        CAST(floor(max_key_rows::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) AS top_share_micro,
        p75_key_rows
      FROM po
      UNION ALL
      SELECT key_col, n_rows, n_keys, max_key_rows,
        CAST(floor(max_key_rows::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) AS top_share_micro,
        p75_key_rows
      FROM pl"""))

  /** Character-trigram profile per language — the feature extraction
    * under q24's language-ID heuristic: top-10 trigrams by frequency with
    * a deterministic (count DESC, trigram ASC) tiebreak. Extraction is the
    * one-pass `char_ngrams` codegen expression (`functions/CharNgrams`),
    * NOT the HOF `transform(sequence(...), i -> substr(s, i, 3))` spelling:
    * that form is O(L²) per row — CollapseProject inlines `lower(text)`
    * into the lambda so it re-lowers per index, and each `substr` re-scans
    * UTF-8 bytes from 0 to find its start. `lower` now runs once per row
    * (it sits under a plain expression, not a lambda), and docs with < 3
    * chars yield an empty array → zero exploded rows, identical to the
    * twin's length filter. Explode is the scale path: counts combine
    * map-side, and the rank window only sees per-language tails. */
  private val q134 = Q(
    "q134_char_trigrams",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      // ~2000 trigrams explode from every doc: on the one-row-group fixture
      // the whole fan-out would run on a single core without the bench-gated
      // spread (production parquet splits at row-group granularity)
      val counts = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("lang"),
          explode(graft.functions.CharNgrams.char_ngrams(lower(col("text")), 3))
            .as("tri"))
        .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("cnt"))
      Core.topKPerGroup(counts, Seq("lang"),
        Seq(col("cnt").desc, col("tri").asc), 10)
        .select(col("lang"), col("tri"), col("cnt"))
    },
    Some("""
      WITH tris AS (
        SELECT lang, unnest(list_transform(range(1, length(text) - 1),
          i -> substr(lower(text), i, 3))) AS tri
        FROM documents WHERE length(text) >= 3),
      counts AS (
        SELECT lang, tri, count(*) AS cnt FROM tris GROUP BY 1, 2),
      ranked AS (
        SELECT lang, tri, cnt,
          row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri ASC) AS rn
        FROM counts)
      SELECT lang, tri, cnt FROM ranked WHERE rn <= 10"""))

  /** S5 driver-checked: the CSV scan with explicit schema + header
    * (`Bronze.readCsv`) exercised through REAL files — the query writes
    * the nation dim to CSV (K2 sink) and reads it back through the S5
    * scan, so header handling, quoting, and the declared types all face
    * the oracle (which reads the original parquet — the round-trip must
    * be value-exact). 25 rows: the write inside the query is deliberate
    * and negligible; this is an IO-surface proof, not a perf query. */
  private val q135 = Q(
    "q135_csv_scan",
    (s, d) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val tmp = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q135_csv").getAbsolutePath
      graft.sources.Bronze.writeCsv(
        Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey"), tmp)
      graft.sources.Bronze.readCsv(s, tmp, StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))

  /** F17/F18 driver-checked: the calendar helpers (first/last day, yyyymmdd,
    * month key) and the ISO-8601 UTC/KST timestamp pair over real order
    * dates. `o_orderdate` is TIMESTAMP_NTZ in the fixture → cast to the
    * session-TZ type (UTC, value-preserving) so `from_utc_timestamp` gets
    * its contracted input; DuckDB mirrors KST as an explicit +9h shift.
    * Pure projection, no shuffle. */
  private val q136 = Q(
    "q136_calendar_iso",
    (s, d) => {
      val ts = col("o_orderdate").cast("timestamp")
      val dt = to_date(ts)
      Tables.orders(s, d).select(
        col("o_orderkey"),
        F.firstDayOfYear(dt).as("y0"),
        F.firstDayOfMonth(dt).as("m0"),
        F.lastDayOfMonth(dt).as("m1"),
        F.yyyymmdd(dt).as("ymd"),
        F.monthKey(dt).as("month_key"),
        F.isoTimestamp(ts).as("iso_utc"),
        F.isoTimestamp(F.toKst(ts)).as("iso_kst"))
    },
    Some("""
      SELECT o_orderkey,
        CAST(date_trunc('year', o_orderdate) AS DATE) AS y0,
        CAST(date_trunc('month', o_orderdate) AS DATE) AS m0,
        last_day(CAST(o_orderdate AS DATE)) AS m1,
        strftime(o_orderdate, '%Y%m%d') AS ymd,
        strftime(o_orderdate, '%Y%m') AS month_key,
        strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_utc,
        strftime(o_orderdate + INTERVAL 9 HOUR, '%Y-%m-%dT%H:%M:%S') AS iso_kst
      FROM orders"""))

  /** PQ codebook DISTORTION audit over the frozen artifact — the
    * index-health metric a production PQ deployment monitors (per-subspace
    * mean squared quantization error; a drifting subspace means retrain).
    * This row replaces the former rows-only in-query-training q137
    * (k-means training itself has no SQL twin and is covered by
    * TextSimilaritySpec's recall/determinism/identity pins): serving-side
    * math against `PqCodebookArtifact`'s literals IS oracle-expressible,
    * so the catalog carries no unverifiable row. One encode-shaped pass,
    * micro-rounded BIGINT error sums (order-independent), m rows out at
    * any corpus size. */
  private val q137 = Q(
    "q137_pq_distortion",
    (s, d) => {
      import graft.ops.{PqCodebookArtifact, Similarity}
      Similarity.pqDistortion(Tables.embeddings(s, d), PqCodebookArtifact.books)
    },
    Some(graft.ops.PqServe.distortionSql))

  /** q137's SERVING half with a hash-green oracle row: train/serve split.
    * Training (k-means) stays un-SQL-expressible, but a production PQ
    * index never re-trains per query batch — it serves a PERSISTED
    * codebook. `PqCodebookArtifact` freezes that artifact in the repo
    * (provenance: `graft.PqArtifactGen`, seeded fit on the sf0.01
    * embeddings), so encode + ADC become a pure function of literals that
    * DuckDB evaluates identically (`PqServe.oracleSql` — the q42
    * literal-lookup move applied to a vector index). Plan is q137's
    * exactly: codes-only corpus scan side, per-query LUT, O(m) per pair,
    * top-10 window per query. */
  private val q137b = Q(
    "q137b_pq_serve",
    (s, d) => {
      import graft.ops.{PqCodebookArtifact, Similarity}
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopKWithBooks(
          emb, emb.filter(col("vec_id") < 10), 10, PqCodebookArtifact.books)
        .select(col("q_id"), col("vec_id"),
          r(col("sim"), 6).as("adc_sim"))
    },
    Some(graft.ops.PqServe.oracleSql))

  /** Zipf rank-frequency fit per language: slope/intercept of
    * ln(cnt) ~ ln(rank) over the top-200 token ranks — the lexical-health
    * diagnostic (natural text slopes near -1; templated/spammy corpora
    * flatten or cliff). Determinism is the q117 discipline: ln() values are
    * rounded to integer MICRO-UNITS per term, all sufficient statistics are
    * BIGINT sums, and the closed-form fit is one double expression over
    * identical longs on both engines. Rank ties break on (cnt DESC, tok
    * ASC). Two shuffles (token count, per-lang stats); the rank window
    * sees ≤200 rows per language. */
  private val q138 = Q(
    "q138_zipf_fit",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      val ranked = counts.withColumn("rank",
        row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("tok").asc)))
        .filter(col("rank") <= 200)
        .select(col("lang"),
          floor(log(col("rank").cast("double")) * 1000000 + 0.5).cast("long").as("xu"),
          floor(log(col("cnt").cast("double")) * 1000000 + 0.5).cast("long").as("yu"))
      val sums = ranked.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(col("xu")).as("sx"), sum(col("yu")).as("sy"),
        sum(col("xu") * col("yu")).as("sxy"),
        sum(col("xu") * col("xu")).as("sxx"))
      // exact long arithmetic up to the final divisions; micro-unit scale
      // cancels in the slope, divides out once in the intercept
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val slope = num.cast("double") / den.cast("double")
      sums.select(
        col("lang"), col("n"),
        r(slope, 6).as("zipf_slope"),
        r((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double") / 1000000.0, 6).as("zipf_intercept"))
    },
    Some("""
      WITH counts AS (
        SELECT lang, tok, count(*) AS cnt FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> '' GROUP BY 1, 2),
      ranked AS (
        SELECT lang,
          CAST(floor(ln(CAST(row_number() OVER (PARTITION BY lang
            ORDER BY cnt DESC, tok ASC) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS xu,
          CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS yu,
          row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rank
        FROM counts QUALIFY rank <= 200),
      sums AS (
        SELECT lang, count(*) AS n,
          CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(yu) AS BIGINT) AS sy,
          CAST(sum(xu * yu) AS BIGINT) AS sxy,
          CAST(sum(xu * xu) AS BIGINT) AS sxx
        FROM ranked GROUP BY 1)
      SELECT lang, n,
        floor(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS zipf_slope,
        floor((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / CAST(n AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000 AS zipf_intercept
      FROM sums"""))

  /** Gini coefficient of document length per language — the inequality
    * gauge a curation pass uses to spot length-skewed domains (a few huge
    * docs dominating a source's token budget). The sorted-index form
    * G = (2·Σ(i·x_i) − (n+1)·Σx_i) / (n·Σx_i) is EXACT integer arithmetic
    * until one final division of identical longs — no rounding belt
    * needed, but r6 keeps the emitted width tame. One window (sort by
    * length, doc_id tiebreak) + one keyed aggregate. */
  private val q139 = Q(
    "q139_length_gini",
    (s, d) => {
      val idx = Tables.documents(s, d)
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("i", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").asc, col("doc_id").asc)).cast("long"))
      val sums = idx.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("sx"),
        sum(col("i") * col("n_chars")).as("six"))
      sums.select(
        col("lang"), col("n"),
        r((lit(2L) * col("six") - (col("n") + 1L) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double"), 6).as("gini"))
    },
    Some("""
      WITH idx AS (
        SELECT lang, n_chars,
          CAST(row_number() OVER (PARTITION BY lang
            ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS i
        FROM documents),
      sums AS (
        SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS sx,
          CAST(sum(i * n_chars) AS BIGINT) AS six
        FROM idx GROUP BY 1)
      SELECT lang, n,
        floor(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                / CAST(n * sx AS DOUBLE) * 1000000 + 0.5) / 1000000 AS gini
      FROM sums"""))

  /** Temperature-weighted training-mixture allocation (τ=0.7): per-source
    * token counts → natural share, temperature-flattened target share
    * p_s ∝ n_s^τ, and the per-doc upweight p_s/share_s a sampler applies
    * to hit the target mixture — the standard multi-source LM data recipe.
    * Determinism: pow() is rounded to integer micro-units PER SOURCE
    * before the normalizing sum (float summation order never enters), and
    * every emitted ratio is a single double division of identical BIGINT
    * products on both engines. One tiny aggregate (|sources| rows) + a
    * broadcast of the 1-row totals. */
  private val q140 = Q(
    "q140_mixture_weights",
    (s, d) => {
      val bySrc = Tables.documents(s, d)
        .select(col("source"),
          size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        .withColumn("pu",
          floor(pow(col("n_tokens").cast("double"), 0.7) * 1000000 + 0.5).cast("long"))
      val tot = bySrc.agg(
        sum(col("n_tokens")).as("tot_tokens"), sum(col("pu")).as("zu"))
      bySrc.crossJoin(broadcast(tot)).select(
        col("source"), col("n_docs"), col("n_tokens"),
        r(col("n_tokens").cast("double") / col("tot_tokens").cast("double"), 6)
          .as("share"),
        r(col("pu").cast("double") / col("zu").cast("double"), 6).as("p_tau"),
        r((col("pu") * col("tot_tokens")).cast("double") /
          (col("zu") * col("n_tokens")).cast("double"), 6).as("upweight"))
    },
    Some("""
      WITH by_src AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      pu AS (
        SELECT *, CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1000000 + 0.5)
          AS BIGINT) AS pu
        FROM by_src),
      tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
          CAST(sum(pu) AS BIGINT) AS zu FROM pu)
      SELECT source, n_docs, n_tokens,
        floor(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS share,
        floor(CAST(pu AS DOUBLE) / CAST(zu AS DOUBLE) * 1000000 + 0.5) / 1000000
          AS p_tau,
        floor(CAST(pu * tot_tokens AS DOUBLE) / CAST(zu * n_tokens AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS upweight
      FROM pu, tot"""))

  /** Intra-document repetition ratio over 5-gram shingles — the
    * boilerplate/spam signal (Gopher-style repetition filters): share of
    * 5-grams that are duplicates of an earlier one in the SAME doc. One
    * `token_stats(text, 5)` per row (`functions/TokenStats`): the kernel
    * interns tokens to ids and counts distinct id windows, so no gram
    * string or array is built and no lambda runs; no explode, no shuffle.
    * All emitted values are exact integers. Docs under 5 tokens emit zero
    * grams and ratio 0. The struct is a real attribute of the first
    * projection, so the second reads its fields without re-running the
    * kernel per reference. */
  private val q141 = Q(
    "q141_repetition_ratio",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.TokenStats.token_stats(col("text"), 5).as("st"))
        .select(
          col("doc_id"),
          col("st.n_grams").as("n_grams"),
          col("st.n_distinct").as("n_distinct"),
          when(col("st.n_grams") > 0,
            floor((col("st.n_grams") - col("st.n_distinct")).cast("double") /
              col("st.n_grams").cast("double") * 1000000 + 0.5).cast("long"))
            .otherwise(lit(0L)).as("rep_micro"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      g AS (
        SELECT doc_id,
          CASE WHEN len(toks) >= 5 THEN
            list_transform(range(1, len(toks) - 3), i ->
              concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))
          ELSE [] END AS grams
        FROM t)
      SELECT doc_id,
        CAST(len(grams) AS BIGINT) AS n_grams,
        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        CASE WHEN len(grams) > 0 THEN
          CAST(floor(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
            / CAST(len(grams) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
        ELSE 0 END AS rep_micro
      FROM g"""))

  /** SQL front door, UNPIVOT: the wide-to-long rotation as the declared
    * SQL surface (the DataFrame twin is q05's pivot family). The twin
    * derives the same rows with UNION ALL — proving the rotation against
    * an implementation that never unpivots. Status counts are exact; the
    * UNPIVOT default drops NULL cells, which cannot occur here (sums over
    * CASE are never NULL on non-empty groups). */
  private val q142 = Q(
    "q142_sql_unpivot",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderpriority, status, cnt FROM (
          SELECT o_orderpriority,
            sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS open_cnt,
            sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS full_cnt,
            sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS pending_cnt
          FROM orders_v GROUP BY o_orderpriority)
        UNPIVOT (cnt FOR status IN (open_cnt, full_cnt, pending_cnt))""")
    },
    Some("""
      WITH w AS (
        SELECT o_orderpriority,
          CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_cnt,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS full_cnt,
          CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS pending_cnt
        FROM orders GROUP BY 1)
      SELECT o_orderpriority, 'open_cnt' AS status, open_cnt AS cnt FROM w
      UNION ALL
      SELECT o_orderpriority, 'full_cnt', full_cnt FROM w
      UNION ALL
      SELECT o_orderpriority, 'pending_cnt', pending_cnt FROM w"""))

  /** SQL front door, correlated LATERAL subquery with ORDER BY + LIMIT:
    * top-2 nations by customer count per region — the "top-k per group as
    * a join" phrasing users port from warehouse SQL. Spark decorrelates
    * the lateral into a ranked join (DecorrelateInnerQuery handles the
    * correlated LIMIT); the twin is the equivalent row_number form, so
    * the rewrite is proven against an engine that never decorrelates.
    * Count ties break on n_name ASC inside the subquery's ORDER BY. */
  private val q143 = Q(
    "q143_sql_lateral",
    (s, d) => {
      Tables.region(s, d).createOrReplaceTempView("region_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT r.r_name, t.n_name, t.n_cust
        FROM region_v r,
        LATERAL (
          SELECT n.n_name, count(*) AS n_cust
          FROM nation_v n JOIN customer_v c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_cust DESC, n.n_name ASC
          LIMIT 2) t""")
    },
    Some("""
      WITH counts AS (
        SELECT r.r_name, n.n_name, count(*) AS n_cust
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY r_name
          ORDER BY n_cust DESC, n_name ASC) AS rn
        FROM counts)
      SELECT r_name, n_name, CAST(n_cust AS BIGINT) AS n_cust
      FROM ranked WHERE rn <= 2"""))

  /** SQL front door, PIVOT: customers per (segment × region) as the
    * declared SQL rotation, aliased cell columns so both engines emit the
    * same names. Spark PIVOT yields NULL for absent combinations where a
    * conditional count yields 0 — the twin nullif's to match (the
    * long-standing pivot null contract, q05's map canonicalization cousin). */
  private val q144 = Q(
    "q144_sql_pivot",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.region(s, d).createOrReplaceTempView("region_v")
      s.sql("""
        SELECT * FROM (
          SELECT c.c_mktsegment AS seg, r.r_name
          FROM customer_v c
          JOIN nation_v n ON c.c_nationkey = n.n_nationkey
          JOIN region_v r ON n.n_regionkey = r.r_regionkey)
        PIVOT (count(1) FOR r_name IN
          ('AFRICA' AS africa, 'AMERICA' AS america, 'ASIA' AS asia,
           'EUROPE' AS europe, 'MIDDLE EAST' AS middle_east))""")
    },
    Some("""
      SELECT c.c_mktsegment AS seg,
        nullif(count(*) FILTER (WHERE r.r_name = 'AFRICA'), 0) AS africa,
        nullif(count(*) FILTER (WHERE r.r_name = 'AMERICA'), 0) AS america,
        nullif(count(*) FILTER (WHERE r.r_name = 'ASIA'), 0) AS asia,
        nullif(count(*) FILTER (WHERE r.r_name = 'EUROPE'), 0) AS europe,
        nullif(count(*) FILTER (WHERE r.r_name = 'MIDDLE EAST'), 0) AS middle_east
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1"""))

  /** Z-order vs linear layout, data-skipping efficacy measured: both
    * layouts bucket lineitem 64 ways (Morton `z_value` top bits vs the
    * leading column's top bits), build per-bucket min/max zone maps, and
    * count buckets/rows a 2-D box predicate can prune. The interleaved
    * layout prunes on BOTH dimensions where the linear sort serves only
    * its leading column — the measurable reason to z-order a 100 TB table
    * queried on two keys. All stats are exact integers; the DuckDB twin
    * reproduces the 10-bit interleave arithmetically (bit-identical to
    * `ZOrder.interleave` on sub-2^10 inputs). */
  private val q145 = Q(
    "q145_zorder_pruning",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val m = Tables.lineitem(s, d).select(
        (col("l_orderkey") % 1024).cast("long").as("xm"),
        (col("l_partkey") % 1024).cast("long").as("ym"))
      val pruned = col("min_x") > 511 || col("max_y") < 300 || col("min_y") > 399
      def profile(df: DataFrame, tag: String): DataFrame = df
        .groupBy(col("bucket"))
        .agg(min(col("xm")).as("min_x"), max(col("xm")).as("max_x"),
          min(col("ym")).as("min_y"), max(col("ym")).as("max_y"),
          count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(when(pruned, 1L).otherwise(0L)).as("n_pruned"),
          sum(when(pruned, col("c")).otherwise(0L)).as("rows_skipped"),
          sum(col("c")).as("rows_total"))
        .select(lit(tag).as("layout"), col("n_buckets"), col("n_pruned"),
          col("rows_skipped"), col("rows_total"))
      val zorder = profile(
        m.withColumn("bucket",
          shiftright(graft.functions.ZOrder.z_value(col("xm"), col("ym")), 14)),
        "zorder")
      val linear = profile(m.withColumn("bucket", shiftright(col("xm"), 4)), "linear")
      zorder.unionByName(linear)
    },
    Some("""
      WITH m AS (
        SELECT CAST(l_orderkey % 1024 AS BIGINT) AS xm,
               CAST(l_partkey % 1024 AS BIGINT) AS ym
        FROM lineitem),
      bz AS (
        SELECT xm, ym,
          CAST(list_sum(list_transform(range(0, 10), i ->
            (((xm >> i) & 1) << (2*i)) + (((ym >> i) & 1) << (2*i+1))))
            AS BIGINT) >> 14 AS bucket
        FROM m),
      bl AS (SELECT xm, ym, xm >> 4 AS bucket FROM m),
      pz AS (
        SELECT bucket, min(xm) AS min_x, max(xm) AS max_x,
          min(ym) AS min_y, max(ym) AS max_y, count(*) AS c
        FROM bz GROUP BY 1),
      pl AS (
        SELECT bucket, min(xm) AS min_x, max(xm) AS max_x,
          min(ym) AS min_y, max(ym) AS max_y, count(*) AS c
        FROM bl GROUP BY 1)
      SELECT 'zorder' AS layout, count(*) AS n_buckets,
        CAST(sum(CASE WHEN min_x > 511 OR max_y < 300 OR min_y > 399
          THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
        CAST(sum(CASE WHEN min_x > 511 OR max_y < 300 OR min_y > 399
          THEN c ELSE 0 END) AS BIGINT) AS rows_skipped,
        CAST(sum(c) AS BIGINT) AS rows_total
      FROM pz
      UNION ALL
      SELECT 'linear', count(*),
        CAST(sum(CASE WHEN min_x > 511 OR max_y < 300 OR min_y > 399
          THEN 1 ELSE 0 END) AS BIGINT),
        CAST(sum(CASE WHEN min_x > 511 OR max_y < 300 OR min_y > 399
          THEN c ELSE 0 END) AS BIGINT),
        CAST(sum(c) AS BIGINT)
      FROM pl"""))

  /** Triangle count + global clustering coefficient over the near-dup
    * graph (q20's prefix-blocked Jaccard pairs as edges): transitivity is
    * the health check on a dedup pair set — triangles mean clusters, open
    * wedges mean chains that connected-components (q46) will merge. The
    * edge set is persisted so the three join branches share ONE evaluation
    * of the expensive Jaccard subtree (the q21 re-evaluation lesson, at
    * the DataFrame level). Edges stay oriented (doc_a < doc_b), so each
    * triangle is counted exactly once; wedges come from undirected degrees.
    * At 100 TB: materialize edges to storage first, order the triangle
    * join by degree (node-iterator) so hub nodes don't explode a single
    * join key. */
  private val q146 = Q(
    "q146_triangle_count",
    (s, d) => {
      // localCheckpoint, NOT persist() (round-13): a persist here is a
      // CacheManager entry keyed on the canonical plan, so a SECOND
      // invocation (or the bench's untimed warm-up) would serve every
      // later pass from cache — cross-run result caching, and the same
      // cross-session plan-shape hazard valueAtRanks documents. The
      // checkpoint gives the same within-invocation reuse (edges feed
      // the triangle triple-join, deg, and n_edges) and dies with the
      // invocation.
      val edges = prefixJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true)
      val e1 = edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
      val e2 = edges.select(col("doc_a").as("b2"), col("doc_b").as("c"))
      val e3 = edges.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = edges.select(col("doc_a").as("node"))
        .unionAll(edges.select(col("doc_b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val wedges = deg.agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
      val nEdges = edges.agg(count(lit(1)).as("n_edges"))
      nEdges.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") > 0,
            floor(col("n_triangles").cast("double") * 3 /
              col("n_wedges").cast("double") * 1000000 + 0.5).cast("long"))
            .otherwise(lit(0L)).as("clustering_micro"))
    },
    Some("""
      WITH dset AS (
        SELECT doc_id, substr(text, 1, 30) AS pfx,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents),
      e AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM dset a JOIN dset b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
      tri AS (
        SELECT count(*) AS n_triangles FROM e e1
        JOIN e e2 ON e2.doc_a = e1.doc_b
        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e)
        GROUP BY 1),
      w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
      ne AS (SELECT count(*) AS n_edges FROM e)
      SELECT n_edges, n_wedges, n_triangles,
        CASE WHEN n_wedges > 0 THEN
          CAST(floor(CAST(n_triangles AS DOUBLE) * 3 / CAST(n_wedges AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT)
        ELSE 0 END AS clustering_micro
      FROM ne, w, tri"""))

  /** Schema-evolution read (mergeSchema): two parquet generations — v1
    * without a column, v2 with it — union under one evolved schema with
    * NULL back-fill, the day-one reality of any long-lived 100 TB table.
    * The query WRITES both generations (K2 sink) then reads them through
    * the evolved scan; the oracle derives the identical frame from the
    * original table, so the union + back-fill must be value-exact.
    * mergeSchema is a footer-level merge (no data rewrite) — the
    * production note is to keep it OFF for steady-state reads (footer
    * sampling costs at 100 TB) and evolve the catalog schema instead. */
  private val q147 = Q(
    "q147_schema_evolution",
    (s, d) => {
      val tmp = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q147_evo").getAbsolutePath
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderkey, o_totalprice,
        CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
      FROM orders"""))

  /** Winsorized robust mean of order value per priority: clip at the exact
    * p05/p95 interpolated percentiles, then average the clipped CENTS (the
    * q69 rule — a BIGINT sum divided once, never a float accumulation).
    * The winsorized mean is the outlier-resistant center a curation layer
    * reports next to the raw mean; the bounds come from
    * `Shared.exactPercentiles` (q89/q114's counting-sort order
    * statistics — round 10 retired the `percentile` ObjectHashAggregate
    * here after the sf10 probe read 12.6×; the mergeable
    * `percentile_approx` remains the approximate swap), then one clipped
    * aggregate with the 5-row bounds broadcast. Clip bounds are
    * themselves floored to cents BEFORE clipping so both engines clip on
    * identical integers. */
  private val q148 = Q(
    "q148_winsorized_mean",
    (s, d) => {
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val o = Tables.orders(s, d).select(col("o_orderpriority"), cents.as("cents"))
      val bounds = exactPercentiles(o, "o_orderpriority", "cents", Seq(0.05, 0.95))
        .groupBy(col("o_orderpriority")).agg(
          floor(max(when(col("p") === 0.05, col("val")))).cast("long").as("lo"),
          floor(max(when(col("p") === 0.95, col("val")))).cast("long").as("hi"))
      o.join(broadcast(bounds), "o_orderpriority")
        .select(col("o_orderpriority"),
          least(greatest(col("cents"), col("lo")), col("hi")).as("w"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sum_w"))
        .select(col("o_orderpriority"), col("n"),
          r(col("sum_w").cast("double") / col("n").cast("double") / 100.0, 6)
            .as("winsorized_mean"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderpriority,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      bounds AS (
        SELECT o_orderpriority,
          CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
          CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
        FROM o GROUP BY 1),
      clipped AS (
        SELECT o.o_orderpriority,
          least(greatest(cents, lo), hi) AS w
        FROM o JOIN bounds USING (o_orderpriority))
      SELECT o_orderpriority, count(*) AS n,
        floor(CAST(sum(w) AS DOUBLE) / count(*) / 100.0 * 1000000 + 0.5) / 1000000
          AS winsorized_mean
      FROM clipped GROUP BY 1"""))

  /** Two-sample Kolmogorov–Smirnov drift statistic between sources over
    * the doc-length distribution — the distribution-shift monitor a corpus
    * pipeline runs between snapshots/sources. ENTIRELY exact integer
    * arithmetic: D = max |CA·n_b − CB·n_a| over the merged support
    * (cumulative counts cross-multiplied instead of divided), one final
    * division micro-rounded. Pairwise over 5 pinned sources (10 pairs);
    * at 100 TB the support is per-pair value-bucketed and the cumsum
    * window stays per-pair (never global). */
  private val q149 = Q(
    "q149_ks_drift",
    (s, d) => {
      val srcs = Seq("src0", "src1", "src2", "src3", "src4")
      val docs = Tables.documents(s, d).filter(col("source").isin(srcs: _*))
      // Round-13: cnt feeds four consumers and tot two — each was its
      // own docs scan (20 in the static plan). Cut the value-domain
      // histogram once; tot is its row-sum (identical counts).
      val cnt = docs.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val pairs = tot.select(col("source").as("sa"), col("n").as("na"))
        .crossJoin(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))))
        .filter(col("sa") < col("sb"))
      val support = pairs
        .join(cnt.select(col("source").as("sa"), col("n_chars").as("v")), Seq("sa"))
        .select(col("sa"), col("sb"), col("v"))
        .unionByName(pairs
          .join(cnt.select(col("source").as("sb"), col("n_chars").as("v")), Seq("sb"))
          .select(col("sa"), col("sb"), col("v")))
        .distinct()
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
      val cum = support
        .join(cnt.select(col("source").as("sa"), col("n_chars").as("v"),
          col("c").as("ca_c")), Seq("sa", "v"), "left")
        .join(cnt.select(col("source").as("sb"), col("n_chars").as("v"),
          col("c").as("cb_c")), Seq("sb", "v"), "left")
        .na.fill(0L, Seq("ca_c", "cb_c"))
        .select(col("sa"), col("sb"),
          sum(col("ca_c")).over(w).as("cca"), sum(col("cb_c")).over(w).as("ccb"))
      cum.join(broadcast(pairs), Seq("sa", "sb"))
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(max(abs(col("cca") * col("nb") - col("ccb") * col("na"))).as("dint"))
        .select(col("sa"), col("sb"),
          floor(col("dint").cast("double") /
            (col("na") * col("nb")).cast("double") * 1000000 + 0.5)
            .cast("long").as("ks_micro"))
    },
    Some("""
      WITH docs AS (
        SELECT source, n_chars FROM documents
        WHERE source IN ('src0','src1','src2','src3','src4')),
      cnt AS (SELECT source, n_chars AS v, count(*) AS c FROM docs GROUP BY 1, 2),
      tot AS (SELECT source, count(*) AS n FROM docs GROUP BY 1),
      pairs AS (
        SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
        FROM tot a, tot b WHERE a.source < b.source),
      support AS (
        SELECT DISTINCT sa, sb, v FROM (
          SELECT p.sa, p.sb, c.v FROM pairs p JOIN cnt c ON c.source = p.sa
          UNION ALL
          SELECT p.sa, p.sb, c.v FROM pairs p JOIN cnt c ON c.source = p.sb)),
      cum AS (
        SELECT s.sa, s.sb,
          sum(coalesce(ca.c, 0)) OVER (PARTITION BY s.sa, s.sb ORDER BY s.v) AS cca,
          sum(coalesce(cb.c, 0)) OVER (PARTITION BY s.sa, s.sb ORDER BY s.v) AS ccb
        FROM support s
        LEFT JOIN cnt ca ON ca.source = s.sa AND ca.v = s.v
        LEFT JOIN cnt cb ON cb.source = s.sb AND cb.v = s.v)
      SELECT c.sa, c.sb,
        CAST(floor(CAST(max(abs(cca * nb - ccb * na)) AS DOUBLE)
          / CAST(na * nb AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS ks_micro
      FROM cum c JOIN pairs p ON p.sa = c.sa AND p.sb = c.sb
      GROUP BY c.sa, c.sb, na, nb"""))

  /** Population Stability Index per source vs the rest of the corpus over
    * fixed-width length buckets — the binned drift score model-monitoring
    * stacks report next to KS. Each bucket term (p−q)·ln(p/q) is computed
    * from EXACT integer counts (cross-multiplied ratios of longs), rounded
    * to NANO-units per bucket, then summed as BIGINTs — float summation
    * order never enters (q140's pow rule, applied to ln). Zero-count
    * buckets on either side are excluded (the unsmoothed-PSI convention);
    * emitted as psi_nano BIGINT. One corpus shuffle: the (source, bucket)
    * count, ≤ |sources|×|buckets| rows at any corpus size, is coalesced to
    * one partition; the bucket and source margins are windows over it and
    * the corpus total is a window over the whole coalesced frame — no
    * further exchange. */
  private val q150 = Q(
    "q150_psi_drift",
    (s, d) => {
      val cells = Tables.documents(s, d)
        .groupBy(col("source"), (col("n_chars") / 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("c_sb"))
        .coalesce(1)
      val j = cells
        .withColumn("c_b", sum(col("c_sb")).over(Window.partitionBy(col("bucket"))))
        .withColumn("n_s", sum(col("c_sb")).over(Window.partitionBy(col("source"))))
        .withColumn("n_all", sum(col("c_sb")).over(Window.partitionBy()))
        .withColumn("c_rest", col("c_b") - col("c_sb"))
        .withColumn("n_rest", col("n_all") - col("n_s"))
        // a NULL source or bucket key counts in the margins but names no
        // term (the oracle's joins drop it)
        .filter(col("source").isNotNull && col("bucket").isNotNull &&
          col("c_sb") > 0 && col("c_rest") > 0)
      val p = col("c_sb").cast("double") / col("n_s").cast("double")
      val q = col("c_rest").cast("double") / col("n_rest").cast("double")
      val lnRatio = log((col("c_sb") * col("n_rest")).cast("double") /
        (col("c_rest") * col("n_s")).cast("double"))
      j.withColumn("term_nano",
          floor((p - q) * lnRatio * 1000000000L + 0.5).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("term_nano")).as("psi_nano"))
    },
    Some("""
      WITH docs AS (
        SELECT source, CAST(n_chars // 100 AS BIGINT) AS bucket FROM documents),
      by_src AS (SELECT source, bucket, count(*) AS c_sb FROM docs GROUP BY 1, 2),
      by_bucket AS (SELECT bucket, count(*) AS c_b FROM docs GROUP BY 1),
      n_s AS (SELECT source, count(*) AS n_s FROM docs GROUP BY 1),
      n_all AS (SELECT count(*) AS n_all FROM docs),
      j AS (
        SELECT s.source, s.c_sb, b.c_b - s.c_sb AS c_rest, ns.n_s,
          a.n_all - ns.n_s AS n_rest
        FROM by_src s
        JOIN by_bucket b USING (bucket)
        JOIN n_s ns ON ns.source = s.source
        CROSS JOIN n_all a
        WHERE s.c_sb > 0 AND b.c_b - s.c_sb > 0)
      SELECT source, count(*) AS n_buckets,
        CAST(sum(CAST(floor(
          (CAST(c_sb AS DOUBLE) / CAST(n_s AS DOUBLE)
            - CAST(c_rest AS DOUBLE) / CAST(n_rest AS DOUBLE))
          * ln(CAST(c_sb * n_rest AS DOUBLE) / CAST(c_rest * n_s AS DOUBLE))
          * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_nano
      FROM j GROUP BY 1"""))

  /** Multimodal decode path, driver-checked end to end: payload attach →
    * `mapPartitions` stub decode (16-bin byte histogram + derived
    * dims/frames) → integer-exact aHash. The oracle RECOMPUTES the decode
    * from raw characters (the corpus is ASCII, so byte values = code
    * points), which pins the whole typed-Dataset pipeline — encode,
    * per-partition decode, histogram, dimension arithmetic — against an
    * engine with none of that machinery. The hash uses the exact integer
    * rule 16·hist[i] > total (bit i set when bin i exceeds the mean bin
    * mass); the histogram emits as a '|'-joined string (the q107 array
    * rule). */
  private val q151 = Q(
    "q151_media_decode",
    (s, d) => {
      import s.implicits._
      val media = graft.ops.Multimodal.attachPayload(Tables.documents(s, d))
        .as[graft.ops.Multimodal.MediaRecord]
      val dec = graft.ops.Multimodal.decode(media).toDF()
      val total = aggregate(col("pixels"), lit(0), (a, x) => a + x)
      dec
        .withColumn("total", total)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          aggregate(
            transform(sequence(lit(0), lit(15)), i =>
              when(element_at(col("pixels"), i + 1) * 16 > col("total"),
                call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
            lit(0L), (a, x) => a + x).as("phash"),
          array_join(transform(col("pixels"), x => x.cast("string")), "|")
            .as("hist"))
    },
    Some("""
      WITH ch AS (
        SELECT doc_id, unicode(c) // 16 AS bin FROM (
          SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)),
      counts AS (
        SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY 1, 2),
      tot AS (SELECT doc_id, strlen(text) AS total FROM documents),
      grid AS (
        SELECT t.doc_id, r.range AS bin, coalesce(c.c, 0) AS c, t.total
        FROM tot t
        CROSS JOIN range(0, 16) r
        LEFT JOIN counts c ON c.doc_id = t.doc_id AND c.bin = r.range),
      agg AS (
        SELECT doc_id,
          array_to_string(array_agg(CAST(c AS VARCHAR) ORDER BY bin), '|') AS hist,
          CAST(sum(CASE WHEN c * 16 > total THEN 1 << bin ELSE 0 END) AS BIGINT)
            AS phash
        FROM grid GROUP BY doc_id)
      SELECT a.doc_id,
        16 AS width,
        CAST((strlen(text) + 15) // 16 AS INTEGER) AS height,
        CAST(((strlen(text) + 15) // 16) // 16 + 1 AS INTEGER) AS n_frames,
        a.phash, a.hist
      FROM agg a JOIN documents USING (doc_id)"""))

  /** Top-3 per group through the BOUNDED-HEAP aggregate (`topk_by`, a
    * custom `TypedImperativeAggregate`) instead of the window form — the
    * W3/O2 semantics with a hash-aggregate plan: no per-group sort, and
    * partial heaps combine MAP-SIDE so the shuffle carries ≤ k entries per
    * (partition, group) instead of every row — the 100 TB shape for heavy
    * groups. The twin is the row_number window form, proving the heap
    * path row-identical (ties on price break on orderkey ASC both sides);
    * the merge invariant itself (any partitioning == single pass) is
    * PropertySpec-pinned. */
  private val q152 = Q(
    "q152_topk_aggregate",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopK.topk_by(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), explode(col("top")).as("t"))
        .select(col("o_orderpriority"),
          col("t.id").as("o_orderkey"),
          col("t.score").as("o_totalprice"))
    },
    Some("""
      WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders)
      SELECT o_orderpriority, o_orderkey, o_totalprice
      FROM ranked WHERE rn <= 3"""))

  /** PPJoin-style set-similarity join with EXACT recall: tokens are
    * globally ordered by (df ASC, tok ASC) — rarest first — and each doc
    * blocks only on its PREFIX of length |x| − ⌈t·|x|⌉ + 1. The prefix-
    * filtering theorem guarantees every pair with Jaccard ≥ t shares a
    * prefix token, so unlike q20's char-prefix blocking (a heuristic) or
    * q21's MinHash (probabilistic), the candidate set provably contains
    * ALL qualifying pairs — the oracle is therefore the NAIVE QUADRATIC
    * all-pairs join, and row equality proves both the theorem's
    * application and the verify step. Rare-token blocking keys are also
    * the least skewed (df-ordered prefixes put docs in small buckets) —
    * the scale property that makes PPJoin the textbook exact set-join at
    * 100 TB. Shuffles: df count, per-doc rank window, candidate groupBy.
    *
    * FIXTURE CAVEAT: prefix filtering's win assumes a Zipfian vocabulary
    * (rare tokens exist). The synthetic corpus has ~31 tokens per
    * language, so EVERY token is common, candidate pruning is degenerate,
    * and the full corpus is near-all-pairs-similar at t=0.5 (even the
    * oracle's quadratic check is minutes at sf0.1). The query therefore
    * runs on a deterministic 1-in-10 doc sample — enough to prove the
    * plan row-identical to the naive quadratic — while the operator
    * itself is written for the real-corpus regime. */
  private val q153 = Q(
    "q153_ppjoin",
    (s, d) => {
      // localCheckpoint (round-13): ppJoin consumes its input FOUR ways
      // (token-df explode, prefix explode, and both verify sides) — each
      // was its own scan + split + array_distinct pass. Materializing
      // the sampled, tokenized slice once feeds all four from memory;
      // recomputed per invocation, nothing crosses runs.
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          array_distinct(filter(split(col("text"), " "), x => x =!= "")).as("toks"))
        .filter(size(col("toks")) > 0)
        .localCheckpoint(true)
      graft.ops.Text.ppJoin(docs, 0.5)
        .select(col("doc_a"), col("doc_b"), r(col("jac"), 3).as("jaccard"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
        FROM documents
        WHERE doc_id % 10 = 0
          AND len(list_filter(string_split(text, ' '), x -> x <> '')) > 0)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        floor((len(list_intersect(a.toks, b.toks))::DOUBLE
               / len(list_distinct(list_concat(a.toks, b.toks)))) * 1000 + 0.5)/1000
          AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5"""))

  /** DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169):
    * select raw data that LOOKS like a target domain by importance weights
    * over hashed n-gram features — the published, cheap alternative to
    * classifier-based selection (q177) when all you have is a target
    * corpus, no labels. Features are hashed BIGRAMS in 256 md5 buckets;
    * target = the lang='en' slice, raw = the whole corpus; bucket
    * log-ratios λ[b] = ln(p_tgt[b]/p_raw[b]) with add-one smoothing; a
    * doc's weight is Σ_b count_b(doc)·λ[b]. Determinism discipline: λ is
    * computed from EXACT integer counts as one textual chain of double
    * ops (two exact-input divisions, one multiply, one ln) and
    * nano-rounded to a BIGINT before it ever meets a doc, so every
    * per-doc weight is an exact integer sum — no float summation order
    * exists. Scale shape: ONE explode pass. The bigram explode + md5 is
    * the dominant cost (~20 s/pass at sf3; everything downstream is
    * sub-second), and the DAG needs the same exploded data grouped two
    * ways (bucket histogram for λ, per-doc bucket counts for the
    * weights), so the (doc_id, lang, bucket) count aggregate — lang is
    * functionally dependent on doc_id, carrying it in the key is free —
    * is EAGERLY localCheckpoint'ed and both groupings regroup the
    * materialized O(docs × 256) rows. Eager matters: a LAZY checkpoint
    * raced across the concurrent broadcast-exchange threads (each saw
    * it unmaterialized and re-ran the explode, measured 36 s at sf3),
    * and persist() keys on the canonical plan so a bench
    * warm-up → timed-pass sequence reads the previous run's cache and
    * times nothing; the eager form runs inside the query constructor —
    * once, race-free, and on the timed side of the bench. This is the
    * same explicit-materialization call the CC fixpoint makes
    * (Text.connectedComponents). λ broadcasts; top-50 is a
    * TakeOrderedAndProject. Nothing here scales worse than one pass of
    * token counting. */
  private val q187 = Q(
    "q187_dsir_weights",
    (s, d) => {
      val B = 256
      // tokenize once into an attribute (round-13, ARCHITECTURE §8):
      // inlined, the two slices + two sizes re-split every row ~4×
      val toks = col("__toks")
      val grams = zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat(a, lit("|"), b))
      val dlb = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("lang"),
          filter(split(col("text"), " "), x => x =!= "").as("__toks"))
        .select(col("doc_id"), col("lang"), explode(grams).as("g"))
        .withColumn("b",
          (conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long") % B)
            .cast("int"))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val bc = dlb.groupBy(col("b")).agg(
        sum(col("c")).as("n_raw"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("n_tgt"))
      val tot = bc.agg(
        sum(col("n_raw")).as("nr"), sum(col("n_tgt")).as("nt"))
      val lam = bc.crossJoin(broadcast(tot)).select(
        col("b"),
        floor(
          log(((col("n_tgt") + 1).cast("double") / (col("n_raw") + 1).cast("double")) *
              ((col("nr") + B).cast("double") / (col("nt") + B).cast("double")))
            * 1e9 + 0.5).cast("long").as("lam_nano"))
      dlb.join(broadcast(lam), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          sum(col("c") * col("lam_nano")).as("w_nano"))
        .orderBy(col("w_nano").desc, col("doc_id").asc)
        .limit(50)
        .select(col("doc_id"), col("n_grams"), col("w_nano"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang,
          list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
      bg AS (
        SELECT doc_id, lang, gram,
          CAST(('0x' || substr(md5(gram), 1, 15))::BIGINT % 256 AS INT) AS b
        FROM (
          SELECT doc_id, lang,
            unnest(list_transform(range(1, len(t)), i -> t[i] || '|' || t[i+1])) AS gram
          FROM toks)),
      bc AS (
        SELECT b, count(*) AS n_raw,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        FROM bg GROUP BY 1),
      tot AS (
        SELECT CAST(sum(n_raw) AS BIGINT) AS nr,
          CAST(sum(n_tgt) AS BIGINT) AS nt FROM bc),
      lam AS (
        SELECT b,
          CAST(floor(ln(((n_tgt + 1)::DOUBLE / (n_raw + 1)::DOUBLE) *
            ((nr + 256)::DOUBLE / (nt + 256)::DOUBLE)) * 1000000000.0 + 0.5)
            AS BIGINT) AS lam_nano
        FROM bc CROSS JOIN tot),
      dc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
      SELECT dc.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        CAST(sum(c * lam_nano) AS BIGINT) AS w_nano
      FROM dc JOIN lam USING (b)
      GROUP BY 1 ORDER BY w_nano DESC, doc_id ASC LIMIT 50"""))

  /** Distinct-n diversity ratios — the corpus-health companion of q141's
    * intra-doc repetition: per source and n ∈ {1,2,3}, total n-grams,
    * distinct n-grams, and their ratio. A source whose distinct-2 ratio
    * collapses is template spam even when individual docs pass q141
    * (the duplication lives ACROSS docs, not within them). Exact
    * two-level aggregate: the first collapses repeats map-side on
    * (source, n, gram) — shuffle bytes are per-source vocabulary, not
    * token count — the second reduces to ≤ sources×3 rows; ratio is one
    * micro-rounded division of exact counts. The size(toks) >= n guard
    * dodges the descending-sequence() trap q134 documents.
    *
    * Scale shape (the first cut of this query was 6× slower): grams are
    * built with slice+zip_with so `split(text)` evaluates O(1) times per
    * row — the element_at-inside-transform form gets CollapseProject-
    * inlined and re-splits the text once PER GRAM POSITION, O(tokens²)
    * per doc (the q21 HOF trap). Per-doc repeats are collapsed with
    * array_distinct BEFORE the explode (shuffle rows are per-doc
    * vocabulary), and total_grams rides the same shuffle as a
    * pos==0-guarded passenger on the posexplode instead of a second
    * scan: one pass, one exchange chain, exact counts. A doc only lacks
    * exploded rows when it has zero n-grams, in which case its tot=0
    * contributes nothing to the sum. */
  private val q189 = Q(
    "q189_ngram_diversity",
    (s, d) => {
      // tokenize ONCE into an attribute (round-13, ARCHITECTURE §8):
      // inlined, the filter(split(...)) re-ran at every size/slice site
      // of every n-gram branch (~5 tokenizations per row per branch).
      val docs = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("source"),
          filter(split(col("text"), " "), x => x =!= "").as("t"))
      val toks = col("t")
      def grams(n: Int): Column =
        if (n == 1) toks
        else {
          val m = size(toks) - (n - 1)
          val ab = zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
            (a, b) => concat(a, lit("|"), b))
          val g = if (n == 2) ab
            else zip_with(ab, slice(toks, lit(3), m),
              (p, c) => concat(p, lit("|"), c))
          when(size(toks) >= n, g).otherwise(array().cast("array<string>"))
        }
      val perDoc = (1 to 3).map { n =>
        docs.select(col("source"), lit(n).as("n"), grams(n).as("g"))
      }.reduce(_.unionAll(_))
        .select(col("source"), col("n"),
          size(col("g")).cast("long").as("tot"),
          posexplode(array_distinct(col("g"))).as(Seq("pos", "gram")))
      perDoc.groupBy(col("source"), col("n"), col("gram"))
        .agg(sum(when(col("pos") === 0, col("tot"))).as("t_part"))
        .groupBy(col("source"), col("n"))
        .agg(sum(col("t_part")).as("total_grams"),
          count(lit(1)).as("distinct_grams"))
        .withColumn("diversity",
          r(col("distinct_grams").cast("double") / col("total_grams"), 6))
    },
    Some("""
      WITH toks AS (
        SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
      g AS (
        SELECT source, 1 AS n, unnest(t) AS gram FROM toks
        UNION ALL
        SELECT source, 2 AS n,
          unnest(list_transform(range(1, len(t)), i -> t[i] || '|' || t[i+1])) AS gram
        FROM toks
        UNION ALL
        SELECT source, 3 AS n,
          unnest(list_transform(range(1, len(t) - 1),
            i -> t[i] || '|' || t[i+1] || '|' || t[i+2])) AS gram
        FROM toks),
      c AS (SELECT source, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
      SELECT source, n, CAST(sum(c) AS BIGINT) AS total_grams,
        count(*) AS distinct_grams,
        floor(count(*)::DOUBLE / CAST(sum(c) AS BIGINT) * 1000000 + 0.5) / 1000000
          AS diversity
      FROM c GROUP BY 1, 2"""))

  /** Per-source token-count Gini — the length-concentration audit: a
    * source whose tokens concentrate in a few giant docs (G → 1) skews
    * packing, batching, and any per-doc sampling downstream, even when
    * its mean length looks normal. G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)
    * over ascending-rank lengths; the numerator and denominator are
    * EXACT BIGINTs (ranks from a range-exchanged global index, q89b's
    * trick — NOT a per-source sort window, whose parallelism would cap
    * at the handful of sources exactly like q89's 3-task ntile ceiling)
    * and the division is micro-rounded once. The per-source rank is
    * gidx − offset via a broadcast of per-source counts; the offset
    * window runs over the ≤|sources|-row count aggregate (bounded). */
  private val q192 = Q(
    "q192_length_gini",
    (s, d) => {
      import graft.ops.Corpus
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val docs = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"), size(toks).cast("long").as("tok"))
      val idxed = Corpus.globalIndex(docs,
        Seq(col("source"), col("tok"), col("doc_id")),
        numPartitions = 16, indexName = "gidx")
      val offs = docs.groupBy(col("source")).agg(count(lit(1)).as("grp_n"))
        .withColumn("off", coalesce(
          sum(col("grp_n")).over(Window.orderBy(col("source"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("source"), col("off"))
      idxed.join(broadcast(offs), Seq("source"))
        .withColumn("rnk", col("gidx") - col("off") + 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("total_tokens"),
          sum(col("rnk") * col("tok")).as("srx"))
        .withColumn("gini",
          r((col("srx") * 2 - (col("n_docs") + 1) * col("total_tokens"))
              .cast("double") /
            (col("n_docs") * col("total_tokens")).cast("double"), 6))
        .drop("srx")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS tok
        FROM documents),
      rk AS (
        SELECT source, tok,
          CAST(row_number() OVER (PARTITION BY source ORDER BY tok, doc_id)
            AS BIGINT) AS rnk
        FROM docs)
      SELECT source, count(*) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS total_tokens,
        floor((2 * CAST(sum(rnk * tok) AS BIGINT)
            - (count(*) + 1) * CAST(sum(tok) AS BIGINT))::DOUBLE
          / (count(*) * CAST(sum(tok) AS BIGINT))::DOUBLE
          * 1000000 + 0.5) / 1000000 AS gini
      FROM rk GROUP BY 1"""))

  /** Top principal direction of the embedding Gram matrix by POWER
    * ITERATION — the spectral diagnostic the drift family lacks: the
    * dominant PC and its share of total variance (anisotropy) tell a
    * curation run whether its embedding space has collapsed toward one
    * direction (a known failure of contrastive encoders) before ANN
    * recall quietly degrades. The scale shape is exactly q176's
    * iterate-with-a-1-row-broadcast: each of the three unrolled
    * iterations is ONE corpus aggregate (posexplode → 64-key groupBy,
    * map-side combined) producing s = Σᵣ x·(x·v) — the matrix A = XᵀX is
    * NEVER materialized (64² doubles would be fine, but n·64² work per
    * iteration would not; this is n·64) — followed by a 64-long
    * normalize on the driver-sized row. Cross-engine determinism: the
    * per-row term x_j·(x·v) is micro-rounded BEFORE summing, so every
    * corpus sum is exact BIGINT (no float-order anywhere); the dot x·v
    * and the 64-element normalize are left-to-right folds proven
    * bit-identical between `vec_dot` and DuckDB's list_dot_product
    * (q216's pin). λ is the Rayleigh quotient v₂ᵀ(Av₂) read off the last
    * iteration's integer vector; trace(A) = ΣΣ x_j² is one more exact
    * micro aggregate; their ratio is the top-PC variance share. Three
    * iterations is the FIXED-POINT CONTRACT, not a convergence claim —
    * both engines compute the identical 3-step map; PcaPowerSpec pins
    * the engine result against an imperative fold exactly, then proves
    * the map converges within 2% of a 50-iteration reference ON A
    * PLANTED-SPIKE corpus. Power iteration's error shrinks as
    * (λ₂/λ₁)^{2k}: fast precisely in the anisotropic regime this
    * diagnostic exists to detect; on a near-isotropic corpus (the raw
    * fixture: λ₂/λ₁ ≈ 0.93) the reported λ is a lower bound and the
    * share stays small — the alarm correctly does not fire. Output: the
    * 64 components of the (normalized) iterate plus λ, trace, share —
    * 64 rows, all exact integers. */
  private val q219 = {
    val v0Sql = Seq.fill(64)("0.125").mkString("[", ", ", "]")
    Q(
      "q219_top_pc_power",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        import graft.functions.VectorDot.vec_dot
        val e = Tables.embeddings(s, d)
          .select(transform(col("embedding"), x => x.cast("double")).as("x"))
        def fold(arr: Column, f: (Column, Column) => Column): Column =
          aggregate(arr, lit(0.0), f)
        def normalized(sCol: Column): Column = {
          val nrm = sqrt(fold(sCol,
            (acc, y) => acc + y.cast("double") * y.cast("double")))
          transform(sCol, y =>
            when(nrm === 0.0, lit(0.0)).otherwise(y.cast("double") / nrm))
        }
        // one power step: s_j = Σ_rows round_micro(x_j · (x·v))
        def step(vrow: DataFrame, vName: String): DataFrame =
          e.join(broadcast(vrow))
            .select(vec_dot(col("x"), col(vName)).as("dd"), col("x"))
            .select(col("dd"), posexplode(col("x"))).toDF("dd", "p", "xj")
            .groupBy(col("p"))
            .agg(sum(floor(col("xj") * col("dd") * 1000000 + 0.5)
              .cast("long")).as("sv"))
            .agg(array_sort(collect_list(struct(col("p"), col("sv"))))
              .as("ps"))
            .select(transform(col("ps"), x => x.getField("sv")).as("sarr"))
        val v0 = array_repeat(lit(0.125), 64)
        val s1 = e
          .select(vec_dot(col("x"), v0).as("dd"), col("x"))
          .select(col("dd"), posexplode(col("x"))).toDF("dd", "p", "xj")
          .groupBy(col("p"))
          .agg(sum(floor(col("xj") * col("dd") * 1000000 + 0.5)
            .cast("long")).as("sv"))
          .agg(array_sort(collect_list(struct(col("p"), col("sv"))))
            .as("ps"))
          .select(transform(col("ps"), x => x.getField("sv")).as("sarr"))
        val v1 = s1.select(normalized(col("sarr")).as("v1"))
        val v2 = step(v1, "v1").select(normalized(col("sarr")).as("v2"))
        val s3 = step(v2, "v2")
        val lam = s3.join(broadcast(v2))
          .select(
            floor(vec_dot(col("v2"),
              transform(col("sarr"), y => y.cast("double"))) + 0.5)
              .cast("long").as("lambda_micro"),
            normalized(col("sarr")).as("v3"))
        val tr = e.select(posexplode(col("x"))).toDF("p", "xj")
          .agg(sum(floor(col("xj") * col("xj") * 1000000 + 0.5)
            .cast("long")).as("trace_micro"))
        lam.join(broadcast(tr))
          .select(posexplode(col("v3")).as(Seq("p", "vj")),
            col("lambda_micro"), col("trace_micro"))
          .select((col("p") + 1L).cast("long").as("pos"),
            floor(col("vj") * 1000000 + 0.5).cast("long").as("pc_micro"),
            col("lambda_micro"), col("trace_micro"),
            when(col("trace_micro") === 0L, lit(0L)).otherwise(
              floor(col("lambda_micro").cast("double")
                / col("trace_micro").cast("double") * 1000000 + 0.5)
                .cast("long")).as("share_micro"))
      },
      Some(s"""
      WITH e AS (SELECT embedding::DOUBLE[] AS x FROM embeddings),
      s1 AS (
        SELECT pos,
          CAST(sum(CAST(floor(xj * dd * 1000000 + 0.5) AS BIGINT))
            AS BIGINT) AS sv
        FROM (SELECT unnest(x) AS xj, generate_subscripts(x, 1) AS pos, dd
              FROM (SELECT x, list_dot_product(x, $v0Sql::DOUBLE[]) AS dd
                    FROM e))
        GROUP BY 1),
      l1 AS (SELECT list(CAST(sv AS DOUBLE) ORDER BY pos) AS ls FROM s1),
      v1 AS (
        SELECT list_transform(ls, y ->
          CASE WHEN sqrt(list_dot_product(ls, ls)) = 0.0 THEN 0.0
            ELSE y / sqrt(list_dot_product(ls, ls)) END) AS v
        FROM l1),
      s2 AS (
        SELECT pos,
          CAST(sum(CAST(floor(xj * dd * 1000000 + 0.5) AS BIGINT))
            AS BIGINT) AS sv
        FROM (SELECT unnest(x) AS xj, generate_subscripts(x, 1) AS pos, dd
              FROM (SELECT x, list_dot_product(x, v) AS dd
                    FROM e CROSS JOIN v1))
        GROUP BY 1),
      l2 AS (SELECT list(CAST(sv AS DOUBLE) ORDER BY pos) AS ls FROM s2),
      v2 AS (
        SELECT list_transform(ls, y ->
          CASE WHEN sqrt(list_dot_product(ls, ls)) = 0.0 THEN 0.0
            ELSE y / sqrt(list_dot_product(ls, ls)) END) AS v
        FROM l2),
      s3 AS (
        SELECT pos,
          CAST(sum(CAST(floor(xj * dd * 1000000 + 0.5) AS BIGINT))
            AS BIGINT) AS sv
        FROM (SELECT unnest(x) AS xj, generate_subscripts(x, 1) AS pos, dd
              FROM (SELECT x, list_dot_product(x, v) AS dd
                    FROM e CROSS JOIN v2))
        GROUP BY 1),
      l3 AS (SELECT list(CAST(sv AS DOUBLE) ORDER BY pos) AS ls FROM s3),
      lam AS (
        SELECT CAST(floor(list_dot_product(v2.v, l3.ls) + 0.5) AS BIGINT)
          AS lambda_micro
        FROM v2 CROSS JOIN l3),
      v3 AS (
        SELECT list_transform(ls, y ->
          CASE WHEN sqrt(list_dot_product(ls, ls)) = 0.0 THEN 0.0
            ELSE y / sqrt(list_dot_product(ls, ls)) END) AS v
        FROM l3),
      tr AS (
        SELECT CAST(sum(CAST(floor(xj * xj * 1000000 + 0.5) AS BIGINT))
          AS BIGINT) AS trace_micro
        FROM (SELECT unnest(x) AS xj FROM e))
      SELECT CAST(pos AS BIGINT) AS pos,
        CAST(floor(vj * 1000000 + 0.5) AS BIGINT) AS pc_micro,
        lambda_micro, trace_micro,
        CASE WHEN trace_micro = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(lambda_micro AS DOUBLE)
            / CAST(trace_micro AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          END AS share_micro
      FROM (SELECT unnest(v) AS vj, generate_subscripts(v, 1) AS pos
            FROM v3)
      CROSS JOIN lam CROSS JOIN tr"""))
  }

  /** DoReMi-style loss-driven domain reweighting — the counterpart to
    * q140's SIZE-based mixture (p_s ∝ n_s^τ): here the tilt is EXCESS
    * LM LOSS per domain, so hard-for-the-model sources get upweighted —
    * the one-shot data-side form of multiplicative weights (with static
    * per-domain losses, K MW steps collapse to a single exponential
    * tilt w_d ∝ exp(η·excess_d), so this computes the closed form
    * honestly instead of unrolling theater iterations). The loss proxy
    * is q69's add-one bigram LM trained on the full corpus: per-pair
    * log-probs micro-round before ANY aggregation, and per-domain loss
    * is −Σlp/Σpairs — one exact-BIGINT division per source, never a
    * float mean over docs. Excess clamps at 0 vs the global baseline
    * (DoReMi's pinned-reference rule); exp(η·excess) micro-rounds PER
    * SOURCE before the normalizing sum (q140's discipline), so the
    * final weights are divisions of exact integers. Corpus cost: the
    * q69 pipeline (pair explode + two vocabulary-keyed joins) + one
    * ≤|sources|-row aggregate; the tilt itself is window math over the
    * bounded source table. */
  private val q226 = Q(
    "q226_doremi_weights",
    (s, d) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val m = size(col("toks")) - 1
      val pairs = Tables.documents(s, d)
        .select(col("source"), toks.as("toks"))
        .select(col("source"),
          explode(when(size(col("toks")) >= 2,
            zip_with(slice(col("toks"), lit(1), m),
              slice(col("toks"), lit(2), m),
              (a, b) => struct(a.as("w1"), b.as("w2"))))
            .otherwise(array())).as("pr"))
        .select(col("source"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      // Round-13: c1 (fork of the c2 aggregate) and v (countDistinct
      // over the raw pair stream) each re-ran the corpus explode —
      // column pruning makes them canonically distinct subtrees, so
      // ReuseExchange can't unify them. Cutting the vocab-sized c2
      // model table once (localCheckpoint, recomputed per invocation)
      // feeds both from memory; v over c2 is the same set of w2s the
      // pair stream carries, c1 the same sums. Corpus passes: 4 → 2.
      val c2 = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
        .localCheckpoint(true)
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val v = c2.agg(countDistinct(col("w2")).as("v"))
      val perSrc = pairs
        .join(c2, Seq("w1", "w2"))
        .join(c1, Seq("w1"))
        .join(broadcast(v))
        .select(col("source"),
          floor(log((col("c2").cast("double") + 1.0) /
            (col("c1") + col("v")).cast("double")) * 1000000 + 0.5)
            .cast("long").as("lp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("lp")).as("sum_lp"))
      val wAll = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val eta = 2.0
      val scored = perSrc
        .withColumn("loss_micro",
          floor(-col("sum_lp").cast("double") / col("n_pairs").cast("double")
            + 0.5).cast("long"))
        .withColumn("tot_lp", sum(col("sum_lp")).over(wAll))
        .withColumn("tot_pairs", sum(col("n_pairs")).over(wAll))
        .withColumn("base_micro",
          floor(-col("tot_lp").cast("double")
            / col("tot_pairs").cast("double") + 0.5).cast("long"))
        .withColumn("excess_micro",
          greatest(col("loss_micro") - col("base_micro"), lit(0L)))
        .withColumn("e_micro",
          floor(exp(lit(eta) * col("excess_micro").cast("double")
            / 1000000.0) * 1000000 + 0.5).cast("long"))
        .withColumn("tot_e", sum(col("e_micro")).over(wAll))
        .withColumn("tot_n", sum(col("n_pairs")).over(wAll))
      scored.select(col("source"), col("n_pairs"), col("loss_micro"),
        col("excess_micro"),
        floor(col("e_micro").cast("double") / col("tot_e").cast("double")
          * 1000000 + 0.5).cast("long").as("weight_micro"),
        floor(col("n_pairs").cast("double") / col("tot_n").cast("double")
          * 1000000 + 0.5).cast("long").as("share_micro"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source,
          list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      tok AS (
        SELECT doc_id, source, unnest(toks) AS w,
          generate_subscripts(toks, 1) AS pos
        FROM t),
      pr AS (
        SELECT source,
          lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w0, w
        FROM tok),
      pairs AS (
        SELECT source, w0 AS w1, w AS w2 FROM pr WHERE w0 IS NOT NULL),
      c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        FROM pairs GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM pairs),
      per AS (
        SELECT p.source,
          CAST(floor(ln((c2.c2::DOUBLE + 1.0) / (c1.c1 + v.v)::DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS lp
        FROM pairs p
        JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
        JOIN c1 ON p.w1 = c1.w1
        CROSS JOIN v),
      agg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(lp) AS BIGINT) AS sum_lp
        FROM per GROUP BY 1),
      sc AS (
        SELECT source, n_pairs,
          CAST(floor(-CAST(sum_lp AS DOUBLE) / CAST(n_pairs AS DOUBLE)
            + 0.5) AS BIGINT) AS loss_micro,
          CAST(sum(sum_lp) OVER () AS BIGINT) AS tot_lp,
          CAST(sum(n_pairs) OVER () AS BIGINT) AS tot_pairs
        FROM agg),
      ex AS (
        SELECT source, n_pairs, loss_micro,
          greatest(loss_micro - CAST(floor(-CAST(tot_lp AS DOUBLE)
            / CAST(tot_pairs AS DOUBLE) + 0.5) AS BIGINT),
            CAST(0 AS BIGINT)) AS excess_micro
        FROM sc),
      ew AS (
        SELECT *,
          CAST(floor(exp(2.0 * CAST(excess_micro AS DOUBLE) / 1000000.0)
            * 1000000 + 0.5) AS BIGINT) AS e_micro
        FROM ex),
      tt AS (
        SELECT *, CAST(sum(e_micro) OVER () AS BIGINT) AS tot_e,
          CAST(sum(n_pairs) OVER () AS BIGINT) AS tot_n
        FROM ew)
      SELECT source, n_pairs, loss_micro, excess_micro,
        CAST(floor(CAST(e_micro AS DOUBLE) / CAST(tot_e AS DOUBLE)
          * 1000000 + 0.5) AS BIGINT) AS weight_micro,
        CAST(floor(CAST(n_pairs AS DOUBLE) / CAST(tot_n AS DOUBLE)
          * 1000000 + 0.5) AS BIGINT) AS share_micro
      FROM tt"""))

  private[queries] val all: Seq[Q] = Seq(
    q129, q130, q131, q132, q133, q134, q135, q136,
    q137, q137b, q138, q139, q140, q141, q142, q143,
    q144, q145, q146, q147, q148, q149, q150, q151,
    q152, q153, q187, q189, q192, q219, q226)
}
