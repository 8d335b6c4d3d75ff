package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Core, RefFunctions => F}
import graft.sources.Tables

import Shared._

/** Eval + formats: sketch windows, AUC/NDCG, dataset card, VARIANT/XML/collation, SemDeDup. Split from the single-file catalog in round 8;
  * query text unchanged. Registration stays in [[QueryCatalog.all]]. */
private[queries] object CatalogEval {


  /** Rolling 7-day distinct users via SKETCH-MERGE OVER A WINDOW — the
    * scale path q82's exact interval-join form cannot take: one HLL
    * sketch per day (a keyed aggregate), then `hll_merge` over a trailing
    * 7-row frame and an estimate on top. At 100 TB the per-day sketches
    * are tiny mergeable binaries, so the trailing-window pass touches 30
    * rows of sketches instead of re-scanning a week of raw events per
    * day — the whole point of mergeable sketch state. The global window
    * runs over ≤ days rows (pre-aggregated — the q74 rule). The oracle is
    * EXACT count-distinct: both fixture scales stay inside the HLL sparse
    * phase (150 / 1,500 users < 4,096), where the estimate is exact by
    * construction (pinned in DistinctSketchSpec). */
  private val q154 = Q(
    "q154_sketch_wau",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val daySketch = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(
          call_function("hll_sketch", col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("dau"))
      // Calendar range frame (not rowsBetween): a fixture gap day must
      // NOT let the frame reach back >7 calendar days, or the Spark side
      // diverges from the twin's `day BETWEEN sp.day - 6 AND sp.day`.
      val w = Window
        .orderBy(datediff(col("day"), lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
      daySketch.select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"),
        call_function("hll_estimate",
          call_function("hll_merge", col("sk")).over(w))
          .cast("long").as("wau"))
    },
    Some("""
      WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      dau AS (SELECT day, count(*) AS dau FROM daily GROUP BY 1),
      wau AS (
        SELECT sp.day, count(DISTINCT u.user_id) AS wau
        FROM dau sp JOIN daily u
          ON u.day BETWEEN sp.day - INTERVAL 6 DAY AND sp.day
        GROUP BY 1)
      SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau
      FROM dau JOIN wau USING (day)"""))

  /** Exact ROC-AUC per source via the Mann-Whitney rank-sum identity —
    * the eval metric a data-quality classifier reports, computed at scale
    * without a single per-row window: scores are pre-grouped to
    * (source, score, count, positives), tie-averaged ranks come from a
    * cumulative window over the GROUPED rows (≤ distinct scores per
    * source), and doubling the rank sum keeps every intermediate an exact
    * integer — 2·avgrank = 2·minrank + cnt − 1, so
    * AUC = (S2 − n_pos(n_pos+1)) / (2·n_pos·n_neg) is one division of
    * exact longs, micro-rounded. Degenerate sources (no positives or no
    * negatives) are excluded rather than emitting a 0/0. Label: lang='en';
    * score: n_chars. */
  private val q155 = Q(
    "q155_group_auc",
    (s, d) => {
      val base = Tables.documents(s, d).select(
        col("source"), col("n_chars").as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val grouped = base.groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      val w = Window.partitionBy(col("source")).orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = grouped.withColumn("minrank",
        coalesce(sum(col("c")).over(w), lit(0L)) + 1L)
      val sums = ranked.groupBy(col("source")).agg(
        sum(col("p") * (lit(2L) * col("minrank") + col("c") - 1L)).as("s2"),
        sum(col("p")).as("n_pos"), sum(col("c")).as("n"))
      sums.withColumn("n_neg", col("n") - col("n_pos"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("source"), col("n_pos"), col("n_neg"),
          floor((col("s2") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double") * 1000000 + 0.5)
            .cast("long").as("auc_micro"))
    },
    Some("""
      WITH base AS (
        SELECT source, n_chars AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents),
      grouped AS (
        SELECT source, score, count(*) AS c, CAST(sum(pos) AS BIGINT) AS p
        FROM base GROUP BY 1, 2),
      ranked AS (
        SELECT source, score, c, p,
          coalesce(sum(c) OVER (PARTITION BY source ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS minrank
        FROM grouped),
      sums AS (
        SELECT source,
          CAST(sum(p * (2 * minrank + c - 1)) AS BIGINT) AS s2,
          CAST(sum(p) AS BIGINT) AS n_pos,
          CAST(sum(c) AS BIGINT) AS n
        FROM ranked GROUP BY 1)
      SELECT source, n_pos, n - n_pos AS n_neg,
        CAST(floor(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
          / CAST(2 * n_pos * (n - n_pos) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS auc_micro
      FROM sums
      WHERE n_pos > 0 AND n - n_pos > 0"""))

  /** Jensen–Shannon divergence between source TOKEN distributions over a
    * pinned top-50 vocabulary — the content-drift complement to q149/q150's
    * length-based monitors (two sources can share a length profile and
    * still diverge in what they say). JSD needs no smoothing: at q=0 the
    * term is exactly p·ln2, so absent tokens are handled by the formula,
    * not a fudge constant. Each term is computed from exact integer counts
    * (cross-multiplied rationals), nano-rounded per token, then summed as
    * BIGINTs — the q150 transcendental rule. One corpus shuffle: a
    * single token aggregate carries each source's count beside the total,
    * and `sort + limit` cuts it to the 50 vocabulary rows in one
    * partition at any corpus size. Each vocabulary row fans out to the 10
    * (sa, sb) source pairs, and the per-source vocabulary totals are sums
    * over the pair's window — no checkpoint, join or further exchange. */
  private val q156 = Q(
    "q156_jsd_drift",
    (s, d) => {
      val srcs = Seq("src0", "src1", "src2", "src3", "src4")
      val vocab = Tables.documents(s, d).filter(col("source").isin(srcs: _*))
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("tot"),
          srcs.map(src => count_if(col("source") === src).as(src)): _*)
        .orderBy(col("tot").desc, col("tok").asc).limit(50)
      // (pair × vocab) grid — 10 source pairs × 50 tokens; na/nb are the
      // sources' vocabulary-token totals, and a source with none has no
      // distribution (the oracle's pairs come from sources that have one).
      // Rows where BOTH sides are zero contribute nothing to JSD.
      val pairs = for {
        (a, i) <- srcs.zipWithIndex; b <- srcs.drop(i + 1)
      } yield struct(lit(a).as("sa"), lit(b).as("sb"), col(a).as("ca"), col(b).as("cb"))
      val pair = Window.partitionBy(col("sa"), col("sb"))
      val withN = vocab.select(explode(array(pairs: _*)).as("p")).select(col("p.*"))
        .withColumn("na", sum(col("ca")).over(pair))
        .withColumn("nb", sum(col("cb")).over(pair))
        .filter(col("na") > 0 && col("nb") > 0 && col("ca") + col("cb") > 0)
      val p = col("ca").cast("double") / col("na").cast("double")
      val q = col("cb").cast("double") / col("nb").cast("double")
      // 0.5[p ln(2p/(p+q)) + q ln(2q/(p+q))], each ln on exact-long ratios
      val termP = when(col("ca") > 0,
        p * log(lit(2.0) * (col("ca") * col("nb")).cast("double") /
          (col("ca") * col("nb") + col("cb") * col("na")).cast("double")))
        .otherwise(lit(0.0))
      val termQ = when(col("cb") > 0,
        q * log(lit(2.0) * (col("cb") * col("na")).cast("double") /
          (col("ca") * col("nb") + col("cb") * col("na")).cast("double")))
        .otherwise(lit(0.0))
      withN
        .withColumn("term_nano",
          floor((termP + termQ) * 0.5 * 1000000000L + 0.5).cast("long"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("term_nano")).as("jsd_nano"))
    },
    Some("""
      WITH toks AS (
        SELECT source, tok FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
          WHERE source IN ('src0','src1','src2','src3','src4'))
        WHERE tok <> ''),
      vocab AS (
        SELECT tok FROM (SELECT tok, count(*) AS tot FROM toks GROUP BY 1)
        ORDER BY tot DESC, tok ASC LIMIT 50),
      cnt AS (
        SELECT source, t.tok, count(*) AS c
        FROM toks t JOIN vocab v USING (tok) GROUP BY 1, 2),
      ns AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM toks t JOIN vocab v USING (tok) GROUP BY 1),
      pairs AS (
        SELECT a.source AS sa, b.source AS sb, v.tok,
          coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
        FROM ns a
        JOIN ns b ON a.source < b.source
        CROSS JOIN vocab v
        LEFT JOIN cnt ca ON ca.source = a.source AND ca.tok = v.tok
        LEFT JOIN cnt cb ON cb.source = b.source AND cb.tok = v.tok
        WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0),
      terms AS (
        SELECT sa, sb,
          CAST(floor((
            CASE WHEN ca > 0 THEN
              CAST(ca AS DOUBLE) / CAST(na.n AS DOUBLE)
                * ln(2.0 * CAST(ca * nb.n AS DOUBLE)
                     / CAST(ca * nb.n + cb * na.n AS DOUBLE))
            ELSE 0.0 END
            + CASE WHEN cb > 0 THEN
              CAST(cb AS DOUBLE) / CAST(nb.n AS DOUBLE)
                * ln(2.0 * CAST(cb * na.n AS DOUBLE)
                     / CAST(ca * nb.n + cb * na.n AS DOUBLE))
            ELSE 0.0 END) * 0.5 * 1000000000 + 0.5) AS BIGINT) AS term_nano
        FROM pairs
        JOIN ns na ON na.source = pairs.sa
        JOIN ns nb ON nb.source = pairs.sb)
      SELECT sa, sb, count(*) AS n_tokens,
        CAST(sum(term_nano) AS BIGINT) AS jsd_nano
      FROM terms GROUP BY 1, 2"""))

  /** Partitioned-write round-trip with partition pruning, driver-checked:
    * orders lands as parquet partitioned by o_orderpriority (the layout
    * the 100 TB table actually ships with), then the read filters one
    * partition — Spark prunes at the directory level, so the scan never
    * opens the other four partitions' files (the spec twin pins the
    * PartitionFilters plan shape; this row pins the VALUES through real
    * partition directories, including the partition-column string
    * round-trip). The oracle filters the source table directly. */
  private val q157 = Q(
    "q157_partitioned_prune",
    (s, d) => {
      val tmp = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q157_part").getAbsolutePath
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority").cast("string").as("o_orderpriority"))
    },
    Some("""
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderpriority = '1-URGENT'"""))

  /** NDCG@10 per source — the graded-ranking eval beside q155's AUC:
    * docs ranked by (n_chars DESC, doc_id ASC), relevance = lang='en',
    * discount weights 1/log2(i+1) converted to integer MICRO-units per
    * position BEFORE any summation (binary relevance × integer weights =
    * exact BIGINT DCG), ideal DCG built from the same retrieved-10 set
    * via a sequence HOF, final ratio one division of exact longs. Sources
    * with no positive in the top 10 emit 0 (idcg=0 convention). The rank
    * window is per-source; nothing global. */
  private val q158 = Q(
    "q158_ndcg",
    (s, d) => {
      def wMicro(pos: Column): Column =
        floor(lit(1000000.0) / log2(pos.cast("double") + 1.0) + 0.5).cast("long")
      val ranked = Tables.documents(s, d)
        .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select(col("source"), col("rn"),
          (col("lang") === "en").cast("long").as("rel"))
      ranked.groupBy(col("source"))
        .agg(
          sum(col("rel") * wMicro(col("rn"))).as("dcg_micro"),
          sum(col("rel")).as("n_pos"))
        .withColumn("idcg_micro",
          // n_pos=0 must short-circuit: sequence(1, 0) is DESCENDING [1,0]
          // under Spark semantics, so wMicro(0) would divide by log2(1)=0.
          // The guard matches the twin's coalesce-to-0 convention.
          when(col("n_pos") > 0,
            aggregate(
              transform(sequence(lit(1L), col("n_pos")),
                j => wMicro(j)),
              lit(0L), (a, x) => a + x))
            .otherwise(lit(0L)))
        .select(col("source"), col("n_pos"), col("dcg_micro"),
          when(col("idcg_micro") > 0,
            floor(col("dcg_micro").cast("double") /
              col("idcg_micro").cast("double") * 1000000 + 0.5).cast("long"))
            .otherwise(lit(0L)).as("ndcg_micro"))
    },
    Some("""
      WITH ranked AS (
        SELECT source,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC) AS rn,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
        FROM documents QUALIFY rn <= 10),
      agg AS (
        SELECT source,
          CAST(sum(rel * CAST(floor(1000000.0 / log2(rn + 1.0) + 0.5) AS BIGINT))
            AS BIGINT) AS dcg_micro,
          CAST(sum(rel) AS BIGINT) AS n_pos
        FROM ranked GROUP BY 1),
      ideal AS (
        SELECT source, dcg_micro, n_pos,
          CAST(coalesce(list_sum(list_transform(range(1, n_pos + 1),
            j -> CAST(floor(1000000.0 / log2(j + 1.0) + 0.5) AS BIGINT))), 0)
            AS BIGINT) AS idcg_micro
        FROM agg)
      SELECT source, n_pos, dcg_micro,
        CASE WHEN idcg_micro > 0 THEN
          CAST(floor(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT)
        ELSE 0 END AS ndcg_micro
      FROM ideal"""))

  /** One-pass dataset card — the "nutrition label" a corpus release ships
    * with: size, token/char totals, language/source breadth, English
    * share, exact length percentiles, and the exact-dup rate, in TWO
    * aggregates total (one over documents, one over content fingerprints)
    * combined by a 1-row broadcast. Everything except the percentiles is
    * exact integer arithmetic; the percentiles follow the q50
    * interpolation-parity rule. At 100 TB this is the query that runs
    * once per snapshot and lands in the release notes. */
  private val q159 = Q(
    "q159_dataset_card",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        sum((col("lang") === "en").cast("long")).as("n_en"),
        r(percentile(col("n_chars"), lit(0.5)), 6).as("chars_p50"),
        r(percentile(col("n_chars"), lit(0.9)), 6).as("chars_p90"))
      val dup = docs.groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"))
        .agg(
          sum(col("n") - 1).as("dup_docs"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_groups"))
      base.crossJoin(broadcast(dup)).select(
        col("n_docs"), col("n_tokens"), col("n_chars_total"),
        col("n_langs"), col("n_sources"),
        floor(col("n_en").cast("double") / col("n_docs").cast("double")
          * 1000000 + 0.5).cast("long").as("en_share_micro"),
        col("chars_p50"), col("chars_p90"),
        col("dup_docs"), col("dup_groups"))
    },
    Some("""
      WITH base AS (
        SELECT count(*) AS n_docs,
          CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS n_tokens,
          CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
          count(DISTINCT lang) AS n_langs,
          count(DISTINCT source) AS n_sources,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          floor(quantile_cont(n_chars, 0.5) * 1000000 + 0.5) / 1000000 AS chars_p50,
          floor(quantile_cont(n_chars, 0.9) * 1000000 + 0.5) / 1000000 AS chars_p90
        FROM documents),
      dup AS (
        SELECT CAST(sum(n - 1) AS BIGINT) AS dup_docs,
          CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups
        FROM (SELECT md5(text) AS fp, count(*) AS n FROM documents GROUP BY 1))
      SELECT n_docs, n_tokens, n_chars_total, n_langs, n_sources,
        CAST(floor(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)
          * 1000000 + 0.5) AS BIGINT) AS en_share_micro,
        chars_p50, chars_p90, dup_docs, dup_groups
      FROM base, dup"""))

  /** Exact-proportion stratified split — the deterministic 8/1/1
    * train/val/test assignment with GUARANTEED per-stratum counts
    * (row_number mod 10 inside each language), the complement to q59's
    * hash split (hash gives expected proportions and replay stability;
    * this gives exact proportions and replay stability, at the cost of a
    * per-stratum rank window). Emitted as per-(lang, split) counts so the
    * oracle verifies the guarantee itself, not just row placement. */
  private val q160 = Q(
    "q160_stratified_split",
    (s, d) => {
      val rn = row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("doc_id").asc))
      Tables.documents(s, d)
        .withColumn("split",
          when(rn % 10 === 0, "val")
            .when(rn % 10 === 1, "test")
            .otherwise("train"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    },
    Some("""
      WITH assigned AS (
        SELECT lang,
          CASE row_number() OVER (PARTITION BY lang ORDER BY doc_id ASC) % 10
            WHEN 0 THEN 'val' WHEN 1 THEN 'test' ELSE 'train' END AS split
        FROM documents)
      SELECT lang, split, count(*) AS n_docs
      FROM assigned GROUP BY 1, 2"""))

  /** Error-safe arithmetic/cast surface (try_cast / try_divide / try_add)
    * — the ANSI-mode escape hatches a production pipeline uses so one
    * malformed cell degrades to NULL instead of failing a 100 TB job.
    * Inputs are engineered to hit both branches from real data: the
    * numeric tail of c_name try_casts cleanly, the full name does not;
    * the modulo denominator plants genuine zeros. DuckDB lacks
    * try_divide/try_add → NULLIF/CASE twins with identical three-valued
    * semantics. Pure projection. */
  private val q161 = Q(
    "q161_try_surface",
    (s, d) => {
      Tables.customer(s, d).select(
        col("c_custkey"),
        try_element_at(split(col("c_name"), "#"), lit(2)).cast("long").as("num_tail"),
        expr("try_cast(c_name AS BIGINT)").as("bad_cast"),
        expr("try_divide(c_acctbal, c_custkey % 3)").as("risky_div"),
        // +1 so custkey 0 overflows too — every row exercises the NULL path
        expr("try_add(9223372036854775807L, c_custkey + 1L)").as("overflow_add"))
    },
    Some("""
      SELECT c_custkey,
        TRY_CAST(string_split(c_name, '#')[2] AS BIGINT) AS num_tail,
        TRY_CAST(c_name AS BIGINT) AS bad_cast,
        c_acctbal / nullif(c_custkey % 3, 0) AS risky_div,
        CAST(NULL AS BIGINT) AS overflow_add
      FROM customer"""))

  /** Distribution-rank window surface: percent_rank / cume_dist /
    * ntile(4) per market segment — the quantile-assignment windows q101's
    * rank family left out. The window order carries the unique custkey
    * tiebreak (the catalog-wide rank rule), which makes percent_rank and
    * cume_dist exact rational values of row positions — engine-identical
    * divisions — and pins every ntile bucket edge. r6-rounded doubles for
    * the two ratios; ntile emitted as an exact int. */
  private val q162 = Q(
    "q162_rank_distribution",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_custkey"),
        r(percent_rank().over(w), 6).as("pr"),
        r(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).as("quartile"))
    },
    Some("""
      SELECT c_mktsegment, c_custkey,
        floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pr,
        floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cd,
        CAST(ntile(4) OVER w AS INTEGER) AS quartile
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal ASC, c_custkey ASC)"""))

  /** Gaps-and-islands: longest run of consecutive same-type events per
    * user — the classic streak analysis (q87's transition matrix counts
    * edges; this measures persistence). Island id = rn_overall −
    * rn_within_type, both ordered by the unique event_id, so runs are
    * exactly delimited with no timestamp-tie ambiguity. Longest-run
    * tiebreak: earliest island start. Two windows + two keyed aggregates,
    * all partitioned by user. */
  private val q163 = Q(
    "q163_event_islands",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
      val islands = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .withColumn("grp",
          row_number().over(byUser) - row_number().over(byUserType))
        .groupBy(col("user_id"), col("event_type"), col("grp"))
        .agg(count(lit(1)).as("run_len"), min(col("event_id")).as("run_start"))
      islands.groupBy(col("user_id"))
        .agg(
          max(col("run_len")).as("longest_run"),
          min_by(col("event_type"), struct(-col("run_len"), col("run_start")))
            .as("run_type"),
          count(lit(1)).as("n_islands"))
    },
    Some("""
      WITH base AS (
        SELECT user_id, event_type, event_id,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id)
          - row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY event_id) AS grp
        FROM events),
      islands AS (
        SELECT user_id, event_type, grp, count(*) AS run_len,
          min(event_id) AS run_start
        FROM base GROUP BY 1, 2, 3),
      ranked AS (
        SELECT user_id, event_type, run_len, run_start,
          row_number() OVER (PARTITION BY user_id
            ORDER BY run_len DESC, run_start ASC) AS rn
        FROM islands)
      SELECT r.user_id, r.run_len AS longest_run, r.event_type AS run_type,
        c.n_islands
      FROM ranked r
      JOIN (SELECT user_id, count(*) AS n_islands FROM islands GROUP BY 1) c
        USING (user_id)
      WHERE r.rn = 1"""))

  /** SemDeDup (Abbas et al. 2023) over the embeddings corpus: k-means-cell
    * blocking + within-cell cosine ≥ 0.40 + keep-lowest-id — semantic
    * dedup as one declarative query. The cells come from the FROZEN
    * [[graft.ops.CentroidArtifact]] (train-once index artifact, the q137b
    * serving-path move), which is what makes the DuckDB twin possible:
    * both engines evaluate the same centroid literals. This is the scale
    * answer to q32's documented label-blocked quadratic — the blocking key
    * here is a real learned cell whose count (not the corpus) bounds the
    * pair fan-out; output carries no float column, so the hash check rides
    * only on comparisons running the identical IEEE op sequence. */
  private val q164 = Q(
    "q164_semdedup",
    (s, d) => graft.ops.SemDedup.semDedup(Tables.embeddings(s, d), tau = 0.40),
    Some(graft.ops.SemDedup.oracleSql(tau = 0.40)),
    // the frozen k=8 artifact keeps this row's hash stable but holds cell
    // count FIXED as the corpus grows (within-cell pairs grow
    // quadratically); production runs the k∝n artifact — q164b
    scalePath = false, scaleTwin = Some("q164b_semdedup_scaled"))

  /** SemDeDup with the SCALED cell artifact — the cells-∝-n dial in the
    * catalog, not just prose: same algorithm and twin machinery as q164,
    * but cell assignment runs against `CentroidArtifact64` (k=64, trained
    * on the 10× tools/sf1 embeddings by `CentroidArtifactGen`). With k
    * grown ∝ corpus, within-cell pair counts stay FLAT as n grows —
    * measured in SemDedupScaleSpec (per-doc pair work 148.8 → 15.8 at
    * sf0.1 vs the frozen k=8 cells) and benchmarked at sf1 in BASELINE.md.
    * This is the production configuration; q164 keeps the small-corpus
    * artifact for hash-stability of the original row. */
  private val q164b = Q(
    "q164b_semdedup_scaled",
    (s, d) => graft.ops.SemDedup.semDedup(
      Tables.embeddings(s, d), tau = 0.40, graft.ops.CentroidArtifact64.centers),
    Some(graft.ops.SemDedup.oracleSql(tau = 0.40,
      graft.ops.CentroidArtifact64.centers)))

  /** Spark 4 VARIANT surface (semi-structured data without a schema):
    * build a JSON event payload from real columns (the q122 synthesize-
    * then-parse discipline — the parser is checked against ground truth,
    * not another parser), `parse_json` it into an open VariantType cell,
    * and extract typed fields back out with `variant_get` paths, including
    * an array index, a missing-key null, and an out-of-range index null.
    * The DuckDB twin runs its native JSON path functions over the same
    * string. Float formatting inside the payload may differ per engine
    * (shortest-repr vs Java rules) — harmless by construction, because the
    * checked columns are the PARSED-BACK values, not the string.
    * At 100 TB variant columns are the schema-drift-proof landing format
    * for event payloads: shredded on read, no reprocess on key add. */
  private val q165 = Q(
    "q165_variant_json",
    (s, d) => {
      val payload = concat(
        lit("""{"user":{"id":"""), col("user_id"),
        lit("""},"event":{"type":""""), col("event_type"), lit("\""),
        lit(""","value":"""), r2(col("value")),
        lit("""},"props":"""), col("props"),
        lit(""","tags":["""), col("event_id") % 7, lit(","), col("event_id") % 3,
        lit("]}"))
      Tables.events(s, d)
        .select(col("event_id"), parse_json(payload).as("v"))
        .select(
          col("event_id"),
          try_variant_get(col("v"), "$.user.id", "bigint").as("uid"),
          try_variant_get(col("v"), "$.event.type", "string").as("etype"),
          try_variant_get(col("v"), "$.event.value", "double").as("value"),
          try_variant_get(col("v"), "$.props.k", "bigint").as("prop_k"),
          try_variant_get(col("v"), "$.tags[1]", "bigint").as("tag1"),
          try_variant_get(col("v"), "$.tags[5]", "bigint").as("tag_oob"),
          try_variant_get(col("v"), "$.missing.key", "string").as("absent"))
    },
    Some("""
      WITH j AS (
        SELECT event_id,
          '{"user":{"id":' || user_id ||
          '},"event":{"type":"' || event_type ||
          '","value":' || floor(value*100 + 0.5)/100 ||
          '},"props":' || props ||
          ',"tags":[' || event_id % 7 || ',' || event_id % 3 || ']}' AS s
        FROM events)
      SELECT event_id,
        json_extract_string(s, '$.user.id')::BIGINT AS uid,
        json_extract_string(s, '$.event.type') AS etype,
        json_extract_string(s, '$.event.value')::DOUBLE AS value,
        json_extract_string(s, '$.props.k')::BIGINT AS prop_k,
        json_extract_string(s, '$.tags[1]')::BIGINT AS tag1,
        json_extract_string(s, '$.tags[5]')::BIGINT AS tag_oob,
        json_extract_string(s, '$.missing.key') AS absent
      FROM j"""))

  /** Containment (asymmetric set-overlap) near-dup: |A∩B|/|A| over
    * distinct token sets — the sub-document-duplication signal Jaccard
    * (q20) misses: when a short doc A is wholly inside a long doc B,
    * containment(A→B)=1.0 while Jaccard is tiny. Emitted per ORDERED pair
    * (both directions), so the asymmetry itself is in the checked output.
    * Same 30-char-prefix blocking as q20/q46 (at 100 TB: a band/bucket
    * key); set sizes ride along so the asymmetry is auditable. */
  private val q166 = Q(
    "q166_containment_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(
        col("doc_id"),
        substring(col("text"), 1, 30).as("pfx"),
        array_distinct(split(col("text"), " ")).as("toks"))
      val a = docs.as("a")
      val b = docs.as("b")
      val inter = size(array_intersect(col("a.toks"), col("b.toks")))
      a.join(b, col("a.pfx") === col("b.pfx") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          size(col("a.toks")).as("n_a"), size(col("b.toks")).as("n_b"),
          (inter.cast("double") / size(col("a.toks"))).as("cont"))
        .filter(col("cont") >= 0.9)
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          r(col("cont"), 3).as("containment"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, substr(text, 1, 30) AS pfx,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(a.toks) AS INT) AS n_a, CAST(len(b.toks) AS INT) AS n_b,
        floor((len(list_intersect(a.toks, b.toks))::DOUBLE
               / len(a.toks))*1000 + 0.5)/1000 AS containment
      FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id <> b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks) >= 0.9"""))

  /** The WHOLE dedup pipeline as one declarative query — candidates
    * (q20's prefix-blocked Jaccard edges) → connected components (q46's
    * min-label fixpoint) → keep-BEST canonical per cluster (q121's
    * (n_chars DESC, doc_id ASC) rule, not keep-min-id) → the surviving
    * corpus MANIFEST with reduction accounting (docs and chars freed per
    * keeper). This is the end product the stages exist for: what ships to
    * training after dedup, with per-cluster provenance. One row per kept
    * doc, all-integer output. The twin recomputes the same fixpoint with
    * a recursive CTE and the same window rule. */
  private val q167 = Q(
    "q167_dedup_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = graft.ops.Text.dedupClusters(
        docs, prefixJaccardPairs(s, d).select(col("doc_a"), col("doc_b")))
      val sized = clusters.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      sized
        .withColumn("rk", row_number().over(w))
        .withColumn("cluster_chars",
          sum(col("n_chars")).over(Window.partitionBy(col("cluster_id"))))
        .filter(col("rk") === 1)
        .select(
          col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("cluster_size") - 1).as("n_dropped"),
          col("n_chars").as("kept_chars"),
          (col("cluster_chars") - col("n_chars")).as("dropped_chars"))
    },
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, substr(text, 1, 30) AS pfx,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents),
      e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
      sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, sym.b FROM reach JOIN sym ON sym.a = reach.r),
      comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
      sized AS (
        SELECT c.doc_id, c.cluster_id, dd.n_chars,
          count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
          CAST(sum(dd.n_chars) OVER (PARTITION BY c.cluster_id) AS BIGINT)
            AS cluster_chars,
          row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY dd.n_chars DESC, c.doc_id ASC) AS rk
        FROM comp c JOIN documents dd USING (doc_id))
      SELECT doc_id, cluster_id, cluster_size,
        cluster_size - 1 AS n_dropped,
        n_chars AS kept_chars,
        CAST(cluster_chars - n_chars AS BIGINT) AS dropped_chars
      FROM sized WHERE rk = 1"""))

  /** Embedding-space drift per cohort — the vector companion of the
    * scalar drift monitors (KS q149 / PSI q150 / JSD q156): each label's
    * mean embedding vs the global mean, reported as cosine similarity and
    * L2 shift. Exact-integer discipline end to end: components are
    * micro-rounded BIGINTs, so the per-(label,dim) sums are
    * order-independent; the per-dim mean products are pico-rounded back
    * to BIGINTs before the 64-term reduction (q117's move), so no float
    * summation order exists anywhere. Map-side explode + two keyed
    * aggregates + a 64-row broadcast join — at 100 TB the width (64)
    * stays constant, the shuffle carries labels × dims rows. */
  private val q168 = Q(
    "q168_embedding_drift",
    (s, d) => {
      val comp = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos"),
          floor(col("x").cast("double") * 1000000 + 0.5).cast("long").as("c"))
      val byLabel = comp.groupBy(col("label"), col("pos"))
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
      val global = byLabel.groupBy(col("pos"))
        .agg(sum(col("s")).as("sg"), sum(col("n")).as("ng"))
      val t = byLabel.join(broadcast(global), Seq("pos"))
        .withColumn("ml", col("s").cast("double") / col("n"))
        .withColumn("mg", col("sg").cast("double") / col("ng"))
        .select(col("label"), col("n"),
          floor(col("ml") * col("mg") + 0.5).cast("long").as("dot_t"),
          floor(col("ml") * col("ml") + 0.5).cast("long").as("nl_t"),
          floor(col("mg") * col("mg") + 0.5).cast("long").as("ng_t"),
          floor((col("ml") - col("mg")) * (col("ml") - col("mg")) + 0.5)
            .cast("long").as("d2_t"))
      t.groupBy(col("label"))
        .agg(
          max(col("n")).as("n_vecs"),
          sum(col("dot_t")).as("dot"), sum(col("nl_t")).as("nl"),
          sum(col("ng_t")).as("ng"), sum(col("d2_t")).as("d2"))
        .select(
          col("label"), col("n_vecs"),
          r(col("dot").cast("double") /
            (sqrt(col("nl").cast("double")) * sqrt(col("ng").cast("double"))), 6)
            .as("cos_to_global"),
          r(sqrt(col("d2").cast("double")) / 1000000, 6).as("l2_shift"))
    },
    Some("""
      WITH comp AS (
        SELECT label,
          unnest(range(len(embedding))) AS pos,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS c
        FROM embeddings),
      by_label AS (
        SELECT label, pos, CAST(sum(c) AS BIGINT) AS s, count(*) AS n
        FROM comp GROUP BY 1, 2),
      gstats AS (
        SELECT pos, CAST(sum(s) AS BIGINT) AS sg, CAST(sum(n) AS BIGINT) AS ng
        FROM by_label GROUP BY 1),
      t AS (
        SELECT label, n,
          CAST(floor((s::DOUBLE / n) * (sg::DOUBLE / ng) + 0.5) AS BIGINT) AS dot_t,
          CAST(floor((s::DOUBLE / n) * (s::DOUBLE / n) + 0.5) AS BIGINT) AS nl_t,
          CAST(floor((sg::DOUBLE / ng) * (sg::DOUBLE / ng) + 0.5) AS BIGINT) AS ng_t,
          CAST(floor((s::DOUBLE / n - sg::DOUBLE / ng)
                   * (s::DOUBLE / n - sg::DOUBLE / ng) + 0.5) AS BIGINT) AS d2_t
        FROM by_label JOIN gstats USING (pos))
      SELECT label, max(n) AS n_vecs,
        floor(CAST(sum(dot_t) AS BIGINT)::DOUBLE
              / (sqrt(CAST(sum(nl_t) AS BIGINT)::DOUBLE)
                 * sqrt(CAST(sum(ng_t) AS BIGINT)::DOUBLE)) * 1000000 + 0.5)
          / 1000000 AS cos_to_global,
        floor(sqrt(CAST(sum(d2_t) AS BIGINT)::DOUBLE) / 1000000 * 1000000 + 0.5)
          / 1000000 AS l2_shift
      FROM t GROUP BY label"""))

  /** Spark 4 collation surface: a case-insensitive equi-join via
    * UTF8_LCASE collation — no lower() rewrite on either side, the
    * comparison itself is collation-aware (and at scale stays a plain
    * hash join on the collation key). Mixed case is synthesized
    * deterministically (every even doc_id upper-cased) so both branches
    * are exercised; the DuckDB twin is the classic lower()-normalized
    * join, proving the collated join equals the rewrite it replaces. */
  private val q169 = Q(
    "q169_collated_join",
    (s, d) => {
      import s.implicits._
      val langNames = Seq(
        ("en", "English"), ("de", "German"), ("es", "Spanish"),
        ("fr", "French"), ("zh", "Chinese")).toDF("lang_key", "lang_name")
      val docs = Tables.documents(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, upper(col("lang")))
          .otherwise(col("lang")).as("lang_mixed"))
      docs.join(broadcast(langNames),
          collate(col("lang_mixed"), "UTF8_LCASE") ===
            collate(col("lang_key"), "UTF8_LCASE"))
        .select(col("doc_id"), col("lang_mixed"), col("lang_name"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_mixed
        FROM documents),
      names(lang_key, lang_name) AS (VALUES
        ('en', 'English'), ('de', 'German'), ('es', 'Spanish'),
        ('fr', 'French'), ('zh', 'Chinese'))
      SELECT doc_id, lang_mixed, lang_name
      FROM docs JOIN names ON lower(lang_mixed) = lang_key"""))

  /** XML ingestion surface (`from_xml`, Spark 4): build an XML event
    * record from real columns, parse it back through a typed schema, and
    * emit the extracted fields — the q122/q165 synthesize-then-parse
    * discipline, where the oracle recomputes the SAME fields from the
    * SOURCE columns, so the parser is checked against ground truth rather
    * than against another XML parser (DuckDB has none). Round-trip
    * exactness: ids are integers, the value is r2-rounded before
    * rendering, and shortest-repr double → string → double is lossless. */
  private val q170 = Q(
    "q170_xml_extract",
    (s, d) => {
      val xml = concat(
        lit("<event id=\""), col("event_id"), lit("\">"),
        lit("<user>"), col("user_id"), lit("</user>"),
        lit("<type>"), col("event_type"), lit("</type>"),
        lit("<value>"), r2(col("value")), lit("</value>"),
        lit("</event>"))
      Tables.events(s, d)
        .select(col("event_id").as("source_id"), from_xml(xml,
          org.apache.spark.sql.types.StructType.fromDDL(
            "_id BIGINT, user BIGINT, type STRING, value DOUBLE")).as("x"))
        .select(
          col("source_id"),
          col("x._id").as("xml_id"),
          col("x.user").as("user_id"),
          col("x.type").as("event_type"),
          col("x.value").as("value"))
    },
    Some("""
      SELECT event_id AS source_id, event_id AS xml_id, user_id, event_type,
        floor(value*100 + 0.5)/100 AS value
      FROM events"""))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the join
    * predicate every SCD/CDC merge needs when keys are nullable — plain
    * `=` silently drops null-key rows, `<=>` matches null to null. Both
    * sides collapse a nulled-out key (the hottest priority mapped to
    * NULL) to per-key counts, so the null bucket is REAL on both sides
    * and must pair up for the row to survive. Still compiles to a plain
    * hash join — null-safe equality is a valid equi-join key. */
  private val q171 = Q(
    "q171_nullsafe_join",
    (s, d) => {
      def side(year: Int, as: String) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(f"$year-01-01")) &&
          col("o_orderdate") < to_timestamp(lit(f"${year + 1}-01-01")))
        .groupBy(nullif(col("o_orderpriority"), lit("1-URGENT")).as(s"k_$as"))
        .agg(count(lit(1)).as(s"n_$as"))
      side(1995, "a").join(side(1996, "b"), col("k_a") <=> col("k_b"))
        .select(col("k_a").as("priority_key"), col("n_a"), col("n_b"))
    },
    Some("""
      WITH a AS (
        SELECT nullif(o_orderpriority, '1-URGENT') AS k, count(*) AS n_a
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      b AS (
        SELECT nullif(o_orderpriority, '1-URGENT') AS k, count(*) AS n_b
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1)
      SELECT a.k AS priority_key, a.n_a, b.n_b
      FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k"""))

  /** MRR@10 + hit@k per source — the third retrieval-eval metric beside
    * AUC (q155) and NDCG (q158), completing the ranking-eval family: docs
    * ranked by (n_chars DESC, doc_id ASC), relevance = lang='en', MRR is
    * 1/rank of the FIRST relevant in the top 10 (0 if none), reported in
    * exact integer micro-units (floor(1e6/rank + 0.5) — no float until
    * nothing is left to sum). hit@1/hit@3/hit@10 are plain indicator
    * integers. One per-source rank window over pre-grouped rows; output
    * is one row per source at any corpus size. */
  private val q184 = Q(
    "q184_mrr",
    (s, d) => {
      val ranked = Tables.documents(s, d)
        .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select(col("source"), col("rn"),
          (col("lang") === "en").cast("long").as("rel"))
      ranked.groupBy(col("source")).agg(
        min(when(col("rel") === 1, col("rn"))).as("first_rel"),
        sum(when(col("rel") === 1 && col("rn") <= 1, 1L).otherwise(0L))
          .as("hit1"),
        sum(when(col("rel") === 1 && col("rn") <= 3, 1L).otherwise(0L))
          .as("hit3"),
        sum(col("rel")).as("hit10"))
        .select(col("source"),
          coalesce(floor(lit(1000000.0) / col("first_rel").cast("double")
            + 0.5), lit(0L)).as("mrr_micro"),
          (col("hit1") > 0).as("hit_at_1"),
          (col("hit3") > 0).as("hit_at_3"),
          (col("hit10") > 0).as("hit_at_10"))
    },
    Some("""
      WITH ranked AS (
        SELECT source,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC) AS rn,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
        FROM documents QUALIFY rn <= 10),
      agg AS (
        SELECT source,
          min(CASE WHEN rel = 1 THEN rn END) AS first_rel,
          CAST(sum(CASE WHEN rel = 1 AND rn <= 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS hit1,
          CAST(sum(CASE WHEN rel = 1 AND rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS hit3,
          CAST(sum(rel) AS BIGINT) AS hit10
        FROM ranked GROUP BY 1)
      SELECT source,
        coalesce(CAST(floor(1000000.0 / CAST(first_rel AS DOUBLE) + 0.5)
          AS BIGINT), 0) AS mrr_micro,
        hit1 > 0 AS hit_at_1,
        hit3 > 0 AS hit_at_3,
        hit10 > 0 AS hit_at_10
      FROM agg"""))

  /** Calibration audit (reliability bins / ECE decomposition) for the
    * frozen classifier head — the eval that tells you whether q177's
    * scores can be thresholded as probabilities: a model can have perfect
    * AUC (q155) and still be wildly miscalibrated, and every
    * classifier-filtered curation run (FineWeb-style) picks its keep
    * threshold off exactly this table. Same frozen literal weights as
    * q177; label = (label % 2). Determinism discipline: the predicted
    * probability is micro-rounded to a BIGINT ONCE, and everything
    * downstream — the bin id (integer division of p_micro), per-bin
    * confidence sums, and the |conf − acc| gap numerator — is exact
    * integer arithmetic, so no float ever aggregates.
    * ECE = Σ_bins gap_micro / (N·1e6) is one final division away. One
    * map-side-combined hash aggregate to ≤10 rows at any corpus size. */
  private val q188 = {
    val w = Array.tabulate(64) { j =>
      (scala.util.hashing.MurmurHash3.productHash((j, "graft-linear")) % 1000) / 1000.0
    }
    val bias = -0.1
    Q(
      "q188_calibration_bins",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        val z = graft.functions.VectorDot.vec_dot(
          transform(col("embedding"), x => x.cast("double")),
          array(w.map(lit).toIndexedSeq: _*)) + lit(bias)
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        Tables.embeddings(s, d)
          .select((col("label") % 2).cast("long").as("y"),
            floor(p * 1000000 + 0.5).cast("long").as("p_micro"))
          .withColumn("bin",
            least(floor(col("p_micro") / 100000), lit(9L)).cast("int"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(col("y")).as("n_pos"),
            sum(col("p_micro")).as("conf_micro"))
          .withColumn("gap_micro",
            abs(col("conf_micro") - col("n_pos") * lit(1000000L)))
      },
      Some(s"""
      WITH s AS (
        SELECT CAST(label % 2 AS BIGINT) AS y,
          CAST(floor((1.0 / (1.0 + exp(-(list_dot_product(embedding::DOUBLE[],
            ${w.map(_.toString).mkString("[", ", ", "]")}) + $bias))))
            * 1000000 + 0.5) AS BIGINT) AS p_micro
        FROM embeddings)
      SELECT CAST(least(p_micro // 100000, 9) AS INT) AS bin,
        count(*) AS n,
        CAST(sum(y) AS BIGINT) AS n_pos,
        CAST(sum(p_micro) AS BIGINT) AS conf_micro,
        abs(CAST(sum(p_micro) AS BIGINT) - CAST(sum(y) AS BIGINT) * 1000000)
          AS gap_micro
      FROM s GROUP BY 1"""))
  }

  /** Inter-rater agreement (Cohen's κ) between two frozen classifier-head
    * VERSIONS over the same embeddings — the model-rollout audit: raw
    * agreement overstates consistency when both heads keep most docs, κ
    * corrects for chance agreement from the marginals. Both heads are
    * q177-style literal-weight codegen'd vec_dots (seedless deterministic
    * weights, different version tags); each decision micro-rounds its
    * logit BEFORE the sign test so a cross-engine ULP in the dot product
    * can't flip a borderline keep. The 2×2 confusion matrix is ONE
    * map-side-combined aggregate to a single row; p_o and p_e are exact
    * integer rationals (common denominator n²) and κ's one double
    * division is micro-rounded in identical textual order. Zero joins,
    * zero windows — pure map + 1-row reduce at any corpus size. */
  private val q209 = {
    def weights(tag: String) = Array.tabulate(64) { j =>
      (scala.util.hashing.MurmurHash3.productHash((j, tag)) % 1000) / 1000.0
    }
    val wa = weights("graft-linear")
    val wb = weights("graft-linear-v2")
    val biasA = -0.1
    val biasB = -0.05
    Q(
      "q209_rater_agreement",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        def logitMicro(w: Array[Double], bias: Double) =
          floor((graft.functions.VectorDot.vec_dot(
            transform(col("embedding"), x => x.cast("double")),
            array(w.map(lit).toIndexedSeq: _*)) + lit(bias)) * 1000000 + 0.5)
            .cast("long")
        val decided = Tables.embeddings(s, d)
          .select(
            (logitMicro(wa, biasA) >= 0L).as("keep_a"),
            (logitMicro(wb, biasB) >= 0L).as("keep_b"))
        val conf = decided.agg(
          count(lit(1)).as("n"),
          sum(when(col("keep_a") && col("keep_b"), 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("keep_a") && !col("keep_b"), 1L).otherwise(0L))
            .as("n10"),
          sum(when(!col("keep_a") && col("keep_b"), 1L).otherwise(0L))
            .as("n01"),
          sum(when(!col("keep_a") && !col("keep_b"), 1L).otherwise(0L))
            .as("n00"))
        // κ = (po − pe)/(1 − pe) with po = (n11+n00)/n and
        // pe = (a1·b1 + a0·b0)/n² — over the common denominator n²:
        // κ = (n·(n11+n00) − (a1·b1 + a0·b0)) / (n² − (a1·b1 + a0·b0)),
        // both sides exact BIGINTs until the final micro-rounded divide.
        // pe == 1 (both raters unanimous) zeroes the denominator: emit 0
        // rather than let floor(Inf) overflow under ANSI (q158's lesson).
        val pe = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
          (col("n01") + col("n00")) * (col("n10") + col("n00"))
        val den = col("n") * col("n") - pe
        conf.select(
          col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          when(den === 0L, lit(0L)).otherwise(
            floor((col("n") * (col("n11") + col("n00")) - pe).cast("double")
              / den.cast("double") * 1000000 + 0.5).cast("long"))
            .as("kappa_micro"))
      },
      Some(s"""
      WITH decided AS (
        SELECT
          CAST(floor((list_dot_product(embedding::DOUBLE[],
            ${wa.map(_.toString).mkString("[", ", ", "]")}) + $biasA)
            * 1000000 + 0.5) AS BIGINT) >= 0 AS keep_a,
          CAST(floor((list_dot_product(embedding::DOUBLE[],
            ${wb.map(_.toString).mkString("[", ", ", "]")}) + $biasB)
            * 1000000 + 0.5) AS BIGINT) >= 0 AS keep_b
        FROM embeddings),
      conf AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN keep_a AND keep_b THEN 1 ELSE 0 END) AS BIGINT)
            AS n11,
          CAST(sum(CASE WHEN keep_a AND NOT keep_b THEN 1 ELSE 0 END)
            AS BIGINT) AS n10,
          CAST(sum(CASE WHEN NOT keep_a AND keep_b THEN 1 ELSE 0 END)
            AS BIGINT) AS n01,
          CAST(sum(CASE WHEN NOT keep_a AND NOT keep_b THEN 1 ELSE 0 END)
            AS BIGINT) AS n00
        FROM decided)
      SELECT n, n11, n10, n01, n00,
        CASE WHEN n * n
            - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) = 0
          THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(n * (n11 + n00)
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
            AS DOUBLE)
            / CAST(n * n
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
            AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS kappa_micro
      FROM conf"""))
  }

  /** Horvitz–Thompson estimation audit under UNEQUAL-probability
    * sampling — the estimator that makes q47-style hash sampling usable
    * when strata are sampled at DIFFERENT rates (cheap sources throttled
    * to 1/10, rare ones kept at 1/2): each sampled row is up-weighted by
    * its inverse inclusion probability, and the audit measures the
    * estimate against the true total the full scan knows. Everything is
    * exact integer arithmetic by construction: inclusion is the md5-60-bit
    * value mod the per-source denominator (never a double compare), the
    * propensity denominators {2,4,5,10} are literals keyed on a source
    * hash, and the HT estimate Σ n_chars·den over the sample is an exact
    * BIGINT — the ONLY double is the final guarded micro relative-error
    * division. One scan, one hash aggregate to |sources| rows, no join,
    * no window; the estimator adds zero shuffles to the plain total. */
  private val q213 = Q(
    "q213_ht_estimator",
    (s, d) => {
      def h(key: Column, salt: String): Column =
        conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 15),
          16, 10).cast("long")
      val m = h(col("source"), "graft-ht-src") % 4
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("den",
          when(m === 0L, 2L).when(m === 1L, 4L).when(m === 2L, 5L)
            .otherwise(10L))
        .withColumn("picked",
          h(col("doc_id"), "graft-ht-doc") % col("den") === 0L)
      docs.groupBy(col("source"), col("den"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("true_chars"),
          sum(when(col("picked"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("picked"), col("n_chars").cast("long") * col("den"))
            .otherwise(0L)).as("ht_chars"))
        .select(col("source"), col("den"), col("n_docs"), col("true_chars"),
          col("n_sampled"), col("ht_chars"),
          when(col("true_chars") === 0L, lit(0L)).otherwise(
            floor(abs(col("ht_chars") - col("true_chars")).cast("double")
              / col("true_chars").cast("double") * 1000000 + 0.5)
              .cast("long")).as("rel_err_micro"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, n_chars,
          CASE ('0x' || substr(md5(source || 'graft-ht-src'), 1, 15))::BIGINT
              % 4
            WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 5 ELSE 10 END AS den
        FROM documents),
      flagged AS (
        SELECT source, den, n_chars,
          ('0x' || substr(md5(doc_id::VARCHAR || 'graft-ht-doc'), 1, 15))
            ::BIGINT % den = 0 AS picked
        FROM docs),
      agg AS (
        SELECT source, CAST(den AS BIGINT) AS den,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS true_chars,
          CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT)
            AS n_sampled,
          CAST(sum(CASE WHEN picked THEN n_chars * den ELSE 0 END)
            AS BIGINT) AS ht_chars
        FROM flagged GROUP BY 1, 2)
      SELECT source, den, n_docs, true_chars, n_sampled, ht_chars,
        CASE WHEN true_chars = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(abs(ht_chars - true_chars) AS DOUBLE)
            / CAST(true_chars AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          END AS rel_err_micro
      FROM agg"""))

  /** Neyman-optimal stratified allocation — the design step q213's
    * Horvitz–Thompson estimator audits after the fact: given a fixed
    * sampling budget, the variance-minimizing share for each stratum is
    * n_h·S_h / Σ n_h·S_h (allocate by SIZE × SPREAD, not size alone), so
    * a small high-variance source gets oversampled and a huge uniform
    * one throttled. One hash aggregate carries the exact sufficient
    * statistics (n, Σx, Σx² as BIGINTs — n_chars is an INT so the squares
    * stay exact at fixture scales; at true corpus scale Σx² graduates to
    * a double sum, same closed form); the stratum SD is then a
    * literal-identical double expression over those exact inputs (both
    * engines divide, subtract, sqrt the same IEEE values in the same
    * order — no float ever aggregates), micro-rounded ONCE into ns_micro
    * so the allocation shares are divisions of exact BIGINTs. Totals ride
    * one global window over the ≤|sources|-row aggregate (the q74 rule);
    * zero-total guards keep ANSI safe. Output: per-source SD, the
    * proportional-vs-Neyman shares, and both allocations of a B=10,000
    * budget — the table a curation run reads to set per-source sampling
    * rates before q213 measures what they achieved. */
  private val q214 = Q(
    "q214_neyman_allocation",
    (s, d) => {
      val agg = Tables.documents(s, d).groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast("long")).as("sx"),
        sum(col("n_chars").cast("long") * col("n_chars").cast("long"))
          .as("sx2"))
      val m = col("sx").cast("double") / col("n").cast("double")
      val v = col("sx2").cast("double") / col("n").cast("double") - m * m
      val wAll = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      agg
        .withColumn("sd", sqrt(greatest(v, lit(0.0))))
        .withColumn("ns_micro",
          floor(col("n").cast("double") * col("sd") * 1000000 + 0.5)
            .cast("long"))
        .withColumn("tot_ns", sum(col("ns_micro")).over(wAll))
        .withColumn("tot_n", sum(col("n")).over(wAll))
        .select(col("source"), col("n").as("n_docs"),
          floor(col("sd") * 1000000 + 0.5).cast("long").as("sd_micro"),
          when(col("tot_n") === 0L, lit(0L)).otherwise(
            floor(col("n").cast("double") / col("tot_n").cast("double")
              * 1000000 + 0.5).cast("long")).as("share_prop_micro"),
          when(col("tot_ns") === 0L, lit(0L)).otherwise(
            floor(col("ns_micro").cast("double")
              / col("tot_ns").cast("double") * 1000000 + 0.5).cast("long"))
            .as("share_neyman_micro"),
          when(col("tot_n") === 0L, lit(0L)).otherwise(
            floor(col("n").cast("double") / col("tot_n").cast("double")
              * 10000 + 0.5).cast("long")).as("n_prop"),
          when(col("tot_ns") === 0L, lit(0L)).otherwise(
            floor(col("ns_micro").cast("double")
              / col("tot_ns").cast("double") * 10000 + 0.5).cast("long"))
            .as("n_neyman"))
    },
    Some("""
      WITH agg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
          CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS sx2
        FROM documents GROUP BY 1),
      st AS (
        SELECT source, n,
          sqrt(greatest(
            CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS sd
        FROM agg),
      ns AS (
        SELECT source, n, sd,
          CAST(floor(CAST(n AS DOUBLE) * sd * 1000000 + 0.5) AS BIGINT)
            AS ns_micro
        FROM st),
      tot AS (
        SELECT source, n, sd, ns_micro,
          CAST(sum(ns_micro) OVER () AS BIGINT) AS tot_ns,
          CAST(sum(n) OVER () AS BIGINT) AS tot_n
        FROM ns)
      SELECT source, n AS n_docs,
        CAST(floor(sd * 1000000 + 0.5) AS BIGINT) AS sd_micro,
        CASE WHEN tot_n = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(n AS DOUBLE) / CAST(tot_n AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) END AS share_prop_micro,
        CASE WHEN tot_ns = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(ns_micro AS DOUBLE) / CAST(tot_ns AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) END AS share_neyman_micro,
        CASE WHEN tot_n = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(n AS DOUBLE) / CAST(tot_n AS DOUBLE)
            * 10000 + 0.5) AS BIGINT) END AS n_prop,
        CASE WHEN tot_ns = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(ns_micro AS DOUBLE) / CAST(tot_ns AS DOUBLE)
            * 10000 + 0.5) AS BIGINT) END AS n_neyman
      FROM tot"""))

  /** Split-conformal selective-classification threshold for the frozen
    * q177/q188 head — the distribution-free way to pick the keep
    * threshold a curation run needs: calibrate on half the labeled pool,
    * and the resulting prediction sets cover the true label with ≥90%
    * probability on exchangeable data, NO model-calibration assumption
    * (q188 measures how miscalibrated the head is; this works anyway).
    * Nonconformity is 1−p̂(true label), micro-rounded ONCE so everything
    * downstream is exact integers. The scale move is the quantile: the
    * ⌈(n+1)(1−α)⌉-th order statistic is read from a COUNTING-SORT
    * histogram — nonconformity lives on the bounded [0, 1e6] micro grid,
    * so a count per value plus one cumulative window over that
    * domain-bounded histogram replaces any global sort of n calibration
    * scores. k uses exact integer ceiling division ((9(n+1)+9) div 10);
    * an undersized calibration set (k > n) degrades to the full-set
    * threshold via coalesce. The test half then audits: marginal
    * coverage and average prediction-set size, both micro divisions of
    * exact counts, 1-row output. One corpus shuffle: a single scan scores
    * every vector once and counts it by (half, label, micro-score),
    * ≤ 4×(10⁶+1) rows at any corpus size, coalesced to one partition.
    * The rest runs on that partition with no further exchange: n_cal
    * and k from a window total of the calibration counts, their
    * cumulative over a_micro (a range frame, so tied values share one
    * cumulative), q̂ as a window minimum over the whole frame, and the
    * test-half counts as conditional sums against q̂. An empty
    * calibration half leaves n_cal and k NULL and q̂ = 10⁶. */
  private val q216 = {
    val w = Array.tabulate(64) { j =>
      (scala.util.hashing.MurmurHash3.productHash((j, "graft-linear")) % 1000) / 1000.0
    }
    val bias = -0.1
    Q(
      "q216_conformal_threshold",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        val z = graft.functions.VectorDot.vec_dot(
          transform(col("embedding"), x => x.cast("double")),
          array(w.map(lit).toIndexedSeq: _*)) + lit(bias)
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val cells = Tables.embeddings(s, d)
          .groupBy(
            (conv(substring(md5(concat(col("vec_id").cast("string"),
              lit("graft-conf-split"))), 1, 15), 16, 10).cast("long")
              % 2 === 0L).as("calib"),
            (col("label") % 2).cast("long").as("y"),
            floor(p * 1000000 + 0.5).cast("long").as("p_micro"))
          .agg(count(lit(1)).as("cnt"))
          .coalesce(1)
          .withColumn("a_micro",
            when(col("y") === 1L, lit(1000000L) - col("p_micro"))
              .otherwise(col("p_micro")))
        val calCnt = when(col("calib"), col("cnt"))
        def onTest(c: Column): Column = when(!col("calib"), c)
        val byA = Window.orderBy(col("a_micro"))
        cells
          .select(col("*"),
            sum(calCnt).over(byA.rangeBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)).as("n_cal"),
            sum(calCnt).over(byA.rangeBetween(
              Window.unboundedPreceding, Window.currentRow)).as("cum"))
          .withColumn("k", expr("(9 * (n_cal + 1) + 9) div 10"))
          .withColumn("q_hat_micro", coalesce(
            min(when(col("calib") && col("cum") >= col("k"), col("a_micro")))
              .over(Window.partitionBy()),
            lit(1000000L)))
          .agg(
            max(onTest(col("n_cal"))).as("n_cal"), max(onTest(col("k"))).as("k"),
            max(onTest(col("q_hat_micro"))).as("q_hat_micro"),
            coalesce(sum(onTest(col("cnt"))), lit(0L)).as("n_test"),
            sum(onTest(when(col("a_micro") <= col("q_hat_micro"), col("cnt"))
              .otherwise(0L))).as("n_covered"),
            sum(onTest(col("cnt") * (
              when(lit(1000000L) - col("p_micro") <= col("q_hat_micro"), 1L)
                .otherwise(0L)
              + when(col("p_micro") <= col("q_hat_micro"), 1L).otherwise(0L))))
              .as("set_cells"))
          .select(col("n_cal"), col("k"), col("q_hat_micro"), col("n_test"),
            col("n_covered"),
            when(col("n_test") === 0L, lit(0L)).otherwise(
              floor(col("n_covered").cast("double")
                / col("n_test").cast("double") * 1000000 + 0.5).cast("long"))
              .as("coverage_micro"),
            when(col("n_test") === 0L, lit(0L)).otherwise(
              floor(col("set_cells").cast("double")
                / col("n_test").cast("double") * 1000000 + 0.5).cast("long"))
              .as("avg_set_micro"))
      },
      Some(s"""
      WITH s AS (
        SELECT CAST(label % 2 AS BIGINT) AS y,
          CAST(floor((1.0 / (1.0 + exp(-(list_dot_product(embedding::DOUBLE[],
            ${w.map(_.toString).mkString("[", ", ", "]")}) + $bias))))
            * 1000000 + 0.5) AS BIGINT) AS p_micro,
          ('0x' || substr(md5(vec_id::VARCHAR || 'graft-conf-split'), 1, 15))
            ::BIGINT % 2 = 0 AS calib
        FROM embeddings),
      s2 AS (
        SELECT *, CASE WHEN y = 1 THEN 1000000 - p_micro ELSE p_micro END
          AS a_micro
        FROM s),
      kdf AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cal,
          CAST((9 * (count(*) + 1) + 9) // 10 AS BIGINT) AS k
        FROM s2 WHERE calib),
      hist AS (
        SELECT a_micro, CAST(count(*) AS BIGINT) AS cnt
        FROM s2 WHERE calib GROUP BY 1),
      cum AS (
        SELECT a_micro,
          CAST(sum(cnt) OVER (ORDER BY a_micro
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM hist),
      thr AS (
        SELECT CAST(max(n_cal) AS BIGINT) AS n_cal,
          CAST(max(k) AS BIGINT) AS k,
          CAST(coalesce(min(CASE WHEN cum >= k THEN a_micro END), 1000000)
            AS BIGINT) AS q_hat_micro
        FROM cum CROSS JOIN kdf),
      t AS (
        SELECT CAST(max(n_cal) AS BIGINT) AS n_cal,
          CAST(max(k) AS BIGINT) AS k,
          CAST(max(q_hat_micro) AS BIGINT) AS q_hat_micro,
          CAST(count(*) AS BIGINT) AS n_test,
          CAST(sum(CASE WHEN a_micro <= q_hat_micro THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
          CAST(sum(
            (CASE WHEN 1000000 - p_micro <= q_hat_micro THEN 1 ELSE 0 END)
            + (CASE WHEN p_micro <= q_hat_micro THEN 1 ELSE 0 END))
            AS BIGINT) AS set_cells
        FROM s2 CROSS JOIN thr WHERE NOT calib)
      SELECT n_cal, k, q_hat_micro, n_test, n_covered,
        CASE WHEN n_test = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(n_covered AS DOUBLE)
            / CAST(n_test AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          END AS coverage_micro,
        CASE WHEN n_test = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(set_cells AS DOUBLE)
            / CAST(n_test AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          END AS avg_set_micro
      FROM t"""))
  }

  /** Mann–Whitney U rank-sum test between two deterministic source
    * cohorts' doc-length distributions — the nonparametric two-sample
    * test the drift family (q149 KS, q150 PSI, q156 JSD) lacks: KS pins
    * the worst vertical gap, U pins stochastic dominance with an exact
    * null variance, no distributional assumption. The scale move is the
    * same counting-sort trick as q216: ranks never materialize — the
    * corpus collapses to ONE value-domain histogram (n_chars is bounded,
    * so the table is domain-sized, corpus-independent), a cumulative
    * window walks that bounded table, and 2·U_A = Σ_v a(v)·(2·cumB(<v) +
    * b(v)) keeps the doubled statistic an exact BIGINT (the ½-per-tie
    * term never becomes a float). The tie correction Σ(t³−t) is likewise
    * exact per bucket (t ≤ docs-per-value; at 100 TB a single saturated
    * bucket graduates t³ to double — documented, not hit at any fixture
    * sf). Only the final z and rank-biserial r touch doubles — identical
    * literal expressions over exact integers in both engines, guarded
    * for empty cohorts and zero variance, micro-rounded once. */
  private val q217 = Q(
    "q217_mannwhitney_u",
    (s, d) => {
      val ga = conv(substring(md5(concat(col("source"), lit("graft-mwu"))),
        1, 15), 16, 10).cast("long") % 2 === 0L
      val hist = Tables.documents(s, d)
        .select(col("n_chars").cast("long").as("v"), ga.as("ga"))
        .groupBy(col("v"))
        .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("ga"), 1L).otherwise(0L)).as("b"))
      val wc = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = col("a") + col("b")
      val agg = hist
        .withColumn("cumb", sum(col("b")).over(wc) - col("b"))
        .agg(
          sum(col("a")).as("n1"), sum(col("b")).as("n2"),
          sum(col("a") * (lit(2L) * col("cumb") + col("b"))).as("u2a"),
          sum(t * t * t - t).as("ties3"))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = (col("n1") + col("n2")).cast("double")
      // divisor structurally nonzero: sig2 is shared between the guard
      // condition and its branch, so subexpression elimination evaluates
      // it even when N<2 — nd·(nd−1)=0 would be a hoisted ANSI x/0 (the
      // q222 gap-fixture lesson); greatest() never changes a guarded value
      val sig2 = n1d * n2d / 12.0 *
        ((nd + 1.0) - col("ties3").cast("double") /
          greatest(nd * (nd - 1.0), lit(1.0)))
      agg.select(
        col("n1"), col("n2"), col("u2a"), col("ties3"),
        when(col("n1") === 0L || col("n2") === 0L ||
            col("n1") + col("n2") < 2L || sig2 <= 0.0, lit(0L))
          .otherwise(floor(
            (col("u2a").cast("double") - n1d * n2d) / (lit(2.0) * sqrt(sig2))
              * 1000000 + 0.5).cast("long")).as("z_micro"),
        when(col("n1") === 0L || col("n2") === 0L, lit(0L))
          .otherwise(floor(
            (col("u2a").cast("double") / (n1d * n2d) - 1.0) * 1000000 + 0.5)
            .cast("long")).as("rb_micro"))
    },
    Some("""
      WITH hist AS (
        SELECT CAST(n_chars AS BIGINT) AS v,
          CAST(sum(CASE WHEN ('0x' || substr(md5(source || 'graft-mwu'),
            1, 15))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN ('0x' || substr(md5(source || 'graft-mwu'),
            1, 15))::BIGINT % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS b
        FROM documents GROUP BY 1),
      cum AS (
        SELECT v, a, b,
          CAST(sum(b) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b
            AS BIGINT) AS cumb
        FROM hist),
      agg AS (
        SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2,
          CAST(sum(a * (2 * cumb + b)) AS BIGINT) AS u2a,
          CAST(sum((a + b) * (a + b) * (a + b) - (a + b)) AS BIGINT)
            AS ties3
        FROM cum)
      SELECT n1, n2, u2a, ties3,
        CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 < 2
            OR CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
              * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                - CAST(ties3 AS DOUBLE) / greatest(CAST(n1 + n2 AS DOUBLE)
                  * (CAST(n1 + n2 AS DOUBLE) - 1.0), 1.0)) <= 0.0
          THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(
            (CAST(u2a AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
              * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                - CAST(ties3 AS DOUBLE) / greatest(CAST(n1 + n2 AS DOUBLE)
                  * (CAST(n1 + n2 AS DOUBLE) - 1.0), 1.0))))
            * 1000000 + 0.5) AS BIGINT) END AS z_micro,
        CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(
            (CAST(u2a AS DOUBLE)
              / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) - 1.0)
            * 1000000 + 0.5) AS BIGINT) END AS rb_micro
      FROM agg"""))

  /** One-way ANOVA across sources on doc length — the omnibus
    * complement to q217's two-cohort test and the variance decomposition
    * behind q214's allocation: how much of corpus length variance is
    * BETWEEN sources (eta² = SSB/SST) vs within them, with the F
    * statistic on top. Everything reduces to the same exact sufficient
    * statistics as q214 — one hash aggregate to (n_h, Σx, Σx²) per
    * source — then the per-group term sx²/n (the only division) is
    * computed in doubles from exact BIGINTs and micro-rounded PER GROUP,
    * so the cross-group sums SSB/SSW assemble from exact integers (the
    * q214 ns_micro discipline; at extreme corpus scale sx² graduates to
    * a double product, same closed form). The grand term S²/N, F and
    * eta² are literal-identical double expressions in a final
    * ≤|sources|-row aggregate; guards cover k ≤ 1, N ≤ k and SSW = 0
    * under ANSI. Zero corpus windows, zero sorts: two hash aggregates
    * total, output one row. */
  private val q218 = Q(
    "q218_anova_f",
    (s, d) => {
      val g = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sx2"))
        .withColumn("t_micro",
          floor(col("sx").cast("double") * col("sx").cast("double")
            / col("n").cast("double") * 1000000 + 0.5).cast("long"))
      val agg = g.agg(
        count(lit(1)).as("k"), sum(col("n")).as("n"),
        sum(col("sx")).as("s"), sum(col("sx2")).as("q"),
        sum(col("t_micro")).as("t_micro_sum"))
      val td = col("t_micro_sum").cast("double") / 1000000.0
      val grand = col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")
      val ssb = td - grand
      val ssw = col("q").cast("double") - td
      val fStat = (ssb / (col("k") - 1L).cast("double")) /
        (ssw / (col("n") - col("k")).cast("double"))
      agg.select(
        col("k"), col("n"),
        floor(ssb * 100 + 0.5).cast("long").as("ssb_centi"),
        floor(ssw * 100 + 0.5).cast("long").as("ssw_centi"),
        when(col("k") <= 1L || col("n") <= col("k") || ssw <= 0.0, lit(0L))
          .otherwise(floor(fStat * 1000000 + 0.5).cast("long"))
          .as("f_micro"),
        when(ssb + ssw <= 0.0, lit(0L))
          .otherwise(floor(ssb / (ssb + ssw) * 1000000 + 0.5).cast("long"))
          .as("eta2_micro"))
    },
    Some("""
      WITH g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
          CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS sx2
        FROM documents GROUP BY 1),
      gm AS (
        SELECT *, CAST(floor(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
          / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS t_micro
        FROM g),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(sx) AS BIGINT) AS s, CAST(sum(sx2) AS BIGINT) AS q,
          CAST(sum(t_micro) AS BIGINT) AS t_micro_sum
        FROM gm),
      f AS (
        SELECT k, n,
          CAST(t_micro_sum AS DOUBLE) / 1000000.0
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
            AS ssb,
          CAST(q AS DOUBLE) - CAST(t_micro_sum AS DOUBLE) / 1000000.0
            AS ssw
        FROM agg)
      SELECT k, n,
        CAST(floor(ssb * 100 + 0.5) AS BIGINT) AS ssb_centi,
        CAST(floor(ssw * 100 + 0.5) AS BIGINT) AS ssw_centi,
        CASE WHEN k <= 1 OR n <= k OR ssw <= 0.0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor((ssb / CAST(k - 1 AS DOUBLE))
            / (ssw / CAST(n - k AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
          END AS f_micro,
        CASE WHEN ssb + ssw <= 0.0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(ssb / (ssb + ssw) * 1000000 + 0.5) AS BIGINT)
          END AS eta2_micro
      FROM f"""))

  /** 1-D Wasserstein (earth-mover) distance between the SAME two source
    * cohorts q217 rank-tests — the drift metric that completes the
    * family: KS (q149) reads the worst single CDF gap, JSD/PSI
    * (q156/q150) bucket first and lose geometry, W₁ integrates |F_A −
    * F_B| over the VALUE AXIS, so "how many characters of mass moved"
    * comes out in the variable's own units. Same counting-sort shape as
    * q217: one value-domain histogram, one cumulative + lead walk over
    * the domain-bounded table, and the integrand is kept exact by
    * cross-multiplying — |cumA·n₂ − cumB·n₁|·(vₙₑₓₜ − v) is BIGINT
    * arithmetic (≤ corpus²·range, inside int64 at every fixture sf and
    * documented to graduate at true corpus scale), summed exactly; the
    * single division by n₁·n₂ happens once at the end, micro-rounded.
    * Also emitted per-unit-of-range so drift is comparable across
    * differently-scaled variables. */
  private val q220 = Q(
    "q220_wasserstein_drift",
    (s, d) => {
      val ga = conv(substring(md5(concat(col("source"), lit("graft-mwu"))),
        1, 15), 16, 10).cast("long") % 2 === 0L
      val hist = Tables.documents(s, d)
        .select(col("n_chars").cast("long").as("v"), ga.as("ga"))
        .groupBy(col("v"))
        .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("ga"), 1L).otherwise(0L)).as("b"))
      val wCum = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wLead = Window.orderBy(col("v"))
      val agg = hist
        .withColumn("cuma", sum(col("a")).over(wCum))
        .withColumn("cumb", sum(col("b")).over(wCum))
        .withColumn("n1", sum(col("a")).over(wAll))
        .withColumn("n2", sum(col("b")).over(wAll))
        .withColumn("gap",
          coalesce(lead(col("v"), 1).over(wLead) - col("v"), lit(0L)))
        .agg(
          max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(abs(col("cuma") * col("n2") - col("cumb") * col("n1"))
            * col("gap")).as("w1_num"),
          (max(col("v")) - min(col("v"))).as("v_range"))
      agg.select(
        col("n1"), col("n2"), col("w1_num"), col("v_range"),
        when(col("n1") === 0L || col("n2") === 0L, lit(0L)).otherwise(
          floor(col("w1_num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))
            * 1000000 + 0.5).cast("long")).as("w1_micro"),
        when(col("n1") === 0L || col("n2") === 0L || col("v_range") === 0L,
          lit(0L)).otherwise(
          floor(col("w1_num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double")
              * col("v_range").cast("double"))
            * 1000000 + 0.5).cast("long")).as("w1_rel_micro"))
    },
    Some("""
      WITH hist AS (
        SELECT CAST(n_chars AS BIGINT) AS v,
          CAST(sum(CASE WHEN ('0x' || substr(md5(source || 'graft-mwu'),
            1, 15))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN ('0x' || substr(md5(source || 'graft-mwu'),
            1, 15))::BIGINT % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS b
        FROM documents GROUP BY 1),
      cum AS (
        SELECT v, a, b,
          CAST(sum(a) OVER wc AS BIGINT) AS cuma,
          CAST(sum(b) OVER wc AS BIGINT) AS cumb,
          CAST(sum(a) OVER wa AS BIGINT) AS n1,
          CAST(sum(b) OVER wa AS BIGINT) AS n2,
          CAST(coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS BIGINT) AS gap
        FROM hist
        WINDOW wc AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wa AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      agg AS (
        SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
          CAST(sum(abs(cuma * n2 - cumb * n1) * gap) AS BIGINT) AS w1_num,
          CAST(max(v) - min(v) AS BIGINT) AS v_range
        FROM cum)
      SELECT n1, n2, w1_num, v_range,
        CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(w1_num AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            * 1000000 + 0.5) AS BIGINT) END AS w1_micro,
        CASE WHEN n1 = 0 OR n2 = 0 OR v_range = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(w1_num AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * CAST(v_range AS DOUBLE))
            * 1000000 + 0.5) AS BIGINT) END AS w1_rel_micro
      FROM agg"""))

  /** Day-of-week seasonal decomposition of the event stream — the
    * seasonality-aware layer between q86's trailing-z anomaly (blind to
    * weekly rhythm: every Monday looks anomalous vs a weekend-heavy
    * trailing window) and q204's CUSUM (mean shifts, not cycles). The
    * corpus contributes exactly ONE shuffle (the per-day count); trend
    * (centered 7-day mean), the day-of-week seasonal profile, residuals
    * and the z flag all live on the DAY GRID — bounded by the
    * observation span at any corpus size (q195's spine rule). Day-of-week
    * is epoch-day mod 7 (q208's no-calendar-functions discipline — both
    * engines' dayofweek() disagree on numbering). Seasonal means come
    * from exact per-dow integer sums micro-rounded once; residual = cnt −
    * seasonal stays exact micro-BIGINT; the z denominator exploits that
    * the seasonal term is CONSTANT within a dow group, so var(resid) =
    * 1e12·var(cnt) exactly and the SD builds from exact (n, Σcnt, Σcnt²)
    * (never stddev_samp — q86's Welford-order lesson — and never a
    * squared micro residual, which would overflow int64 at large sf).
    * Trend is null until its 7-day window is full rather than silently
    * shrinking. */
  private val q222 = Q(
    "q222_seasonal_decomposition",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("epoch_day",
          datediff(col("day"), lit("1970-01-01")).cast("long"))
        .withColumn("dow", col("epoch_day") % 7)
      val wDow = Window.partitionBy(col("dow"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // RANGE on epoch-day, not ROWS: on a gapped grid a row frame would
      // silently become "7 rows with events" (the q154 calendar lesson);
      // with RANGE a gap shrinks the window and tn<7 nulls the trend
      val wTrend = Window.orderBy(col("epoch_day")).rangeBetween(-3, 3)
      val g = daily
        .withColumn("dn", count(lit(1)).over(wDow))
        .withColumn("ds", sum(col("cnt")).over(wDow))
        .withColumn("seasonal_micro",
          floor(col("ds").cast("double") / col("dn").cast("double")
            * 1000000 + 0.5).cast("long"))
        .withColumn("resid_micro",
          col("cnt") * 1000000L - col("seasonal_micro"))
        .withColumn("tn", count(lit(1)).over(wTrend))
        .withColumn("ts7", sum(col("cnt")).over(wTrend))
        .withColumn("trend_micro",
          when(col("tn") === 7L,
            floor(col("ts7").cast("double") / 7.0 * 1000000 + 0.5)
              .cast("long")))
      // within a dow group the seasonal term is constant, so
      // var(resid_micro) = 1e12 · var(cnt) EXACTLY — build the z
      // denominator from exact (dn, Σcnt, Σcnt²) and never square a
      // micro-scaled residual (resid² would overflow int64 at large sf)
      val wDow2 = Window.partitionBy(col("dow"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val g2 = g
        .withColumn("css", sum(col("cnt") * col("cnt")).over(wDow2))
      val nD = col("dn").cast("double")
      // divisor made structurally nonzero: a dow group with ONE day gives
      // nD-1 = 0, and Spark's subexpression elimination hoists this
      // division OUT of the dn>=3 guard below — under ANSI the hoisted
      // x/0 kills the whole query (the q158 lesson, found by the gap-day
      // fixture). greatest() never changes a value the guard lets through.
      val variance = (col("css").cast("double")
        - col("ds").cast("double") * col("ds").cast("double") / nD) /
        greatest(nD - 1.0, lit(1.0))
      val z = col("resid_micro").cast("double") /
        (lit(1000000.0) * sqrt(variance))
      g2.select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dow"), col("cnt"), col("trend_micro"),
        col("seasonal_micro"), col("resid_micro"),
        when(col("dn") >= 3L && variance > 0.0,
          floor(z * 1000000 + 0.5).cast("long")).as("z_micro"),
        coalesce(col("dn") >= 3L && variance > 0.0 && abs(z) > 2.0,
          lit(false)).as("is_anomaly"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1),
      keyed AS (
        SELECT day, cnt,
          CAST(day - DATE '1970-01-01' AS BIGINT) AS epoch_day,
          CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS dow
        FROM daily),
      g AS (
        SELECT day, dow, cnt,
          CAST(count(*) OVER wd AS BIGINT) AS dn,
          CAST(sum(cnt) OVER wd AS BIGINT) AS ds,
          CAST(count(*) OVER wt AS BIGINT) AS tn,
          CAST(sum(cnt) OVER wt AS BIGINT) AS ts7
        FROM keyed
        WINDOW wd AS (PARTITION BY dow),
          wt AS (ORDER BY epoch_day
            RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      se AS (
        SELECT *,
          CAST(floor(CAST(ds AS DOUBLE) / CAST(dn AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS seasonal_micro
        FROM g),
      re AS (
        SELECT *, CAST(cnt * 1000000 - seasonal_micro AS BIGINT)
          AS resid_micro
        FROM se),
      rv AS (
        SELECT *,
          CAST(sum(cnt * cnt) OVER wd AS BIGINT) AS css
        FROM re
        WINDOW wd AS (PARTITION BY dow))
      SELECT strftime(day, '%Y-%m-%d') AS day, dow, cnt,
        CASE WHEN tn = 7 THEN CAST(floor(CAST(ts7 AS DOUBLE) / 7.0
          * 1000000 + 0.5) AS BIGINT) END AS trend_micro,
        seasonal_micro, resid_micro,
        CASE WHEN dn >= 3 AND (CAST(css AS DOUBLE)
              - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / CAST(dn AS DOUBLE))
              / greatest(CAST(dn AS DOUBLE) - 1.0, 1.0) > 0.0
          THEN CAST(floor(CAST(resid_micro AS DOUBLE)
            / (1000000.0 * sqrt((CAST(css AS DOUBLE)
              - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / CAST(dn AS DOUBLE))
              / greatest(CAST(dn AS DOUBLE) - 1.0, 1.0))) * 1000000 + 0.5) AS BIGINT)
          END AS z_micro,
        coalesce(dn >= 3 AND (CAST(css AS DOUBLE)
              - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / CAST(dn AS DOUBLE))
              / greatest(CAST(dn AS DOUBLE) - 1.0, 1.0) > 0.0
          AND abs(CAST(resid_micro AS DOUBLE)
            / (1000000.0 * sqrt((CAST(css AS DOUBLE)
              - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / CAST(dn AS DOUBLE))
              / greatest(CAST(dn AS DOUBLE) - 1.0, 1.0)))) > 2.0, false) AS is_anomaly
      FROM rv"""))

  /** Confident-learning label-noise audit (Northcutt et al.) over the
    * frozen q177/q216 head — the step between q188 (is the head
    * calibrated?) and actually PRUNING mislabeled rows: per-class
    * self-confidence thresholds t_c = mean p̂(c) among rows labeled c,
    * then the confident joint C[given][guessed] counts rows whose
    * predicted probability clears the OTHER class's threshold — the
    * off-diagonal cells are the estimated-mislabeled set a curation run
    * drops or re-labels. Works WITHOUT calibration assumptions (only
    * rank order within a class matters), which is why it composes with
    * q188 rather than repeating it. Shape: one hash aggregate to the
    * 1-row threshold frame (exact Σp̂/n per class, micro-floored once),
    * one broadcast back, one aggregate to ≤4 cells — two corpus scans,
    * zero windows, zero sorts; every comparison is BIGINT vs BIGINT on
    * the micro grid. Ambiguous rows clearing both thresholds go to the
    * higher probability (ties to class 1, pinned); rows clearing
    * neither are counted but unassigned (guess = -1 cell). */
  private val q225 = {
    val w = Array.tabulate(64) { j =>
      (scala.util.hashing.MurmurHash3.productHash((j, "graft-linear")) % 1000) / 1000.0
    }
    val bias = -0.1
    Q(
      "q225_label_noise",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        val z = graft.functions.VectorDot.vec_dot(
          transform(col("embedding"), x => x.cast("double")),
          array(w.map(lit).toIndexedSeq: _*)) + lit(bias)
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val scored = Tables.embeddings(s, d)
          .select((col("label") % 2).cast("long").as("y"),
            floor(p * 1000000 + 0.5).cast("long").as("p_micro"))
        val thr = scored.agg(
          floor(sum(when(col("y") === 1L, col("p_micro"))).cast("double")
            / sum(when(col("y") === 1L, 1L)).cast("double") + 0.5)
            .cast("long").as("t1"),
          floor(sum(when(col("y") === 0L, lit(1000000L) - col("p_micro")))
            .cast("double")
            / sum(when(col("y") === 0L, 1L)).cast("double") + 0.5)
            .cast("long").as("t0"))
        val c1 = col("p_micro") >= col("t1")
        val c0 = lit(1000000L) - col("p_micro") >= col("t0")
        val guess = when(c1 && c0,
            when(col("p_micro") >= lit(1000000L) - col("p_micro"), 1L)
              .otherwise(0L))
          .when(c1, lit(1L)).when(c0, lit(0L)).otherwise(lit(-1L))
        scored.join(broadcast(thr))
          .select(col("y"), guess.as("guess"))
          .groupBy(col("y"), col("guess"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("is_noise",
            col("guess") >= 0L && col("guess") =!= col("y"))
      },
      Some(s"""
      WITH scored AS (
        SELECT CAST(label % 2 AS BIGINT) AS y,
          CAST(floor((1.0 / (1.0 + exp(-(list_dot_product(embedding::DOUBLE[],
            ${w.map(_.toString).mkString("[", ", ", "]")}) + $bias))))
            * 1000000 + 0.5) AS BIGINT) AS p_micro
        FROM embeddings),
      thr AS (
        SELECT
          CAST(floor(CAST(sum(CASE WHEN y = 1 THEN p_micro END) AS DOUBLE)
            / CAST(sum(CASE WHEN y = 1 THEN 1 END) AS DOUBLE) + 0.5)
            AS BIGINT) AS t1,
          CAST(floor(CAST(sum(CASE WHEN y = 0 THEN 1000000 - p_micro END)
              AS DOUBLE)
            / CAST(sum(CASE WHEN y = 0 THEN 1 END) AS DOUBLE) + 0.5)
            AS BIGINT) AS t0
        FROM scored),
      g AS (
        SELECT y,
          CASE
            WHEN p_micro >= t1 AND 1000000 - p_micro >= t0 THEN
              CASE WHEN p_micro >= 1000000 - p_micro THEN 1 ELSE 0 END
            WHEN p_micro >= t1 THEN 1
            WHEN 1000000 - p_micro >= t0 THEN 0
            ELSE -1 END AS guess
        FROM scored CROSS JOIN thr)
      SELECT y, CAST(guess AS BIGINT) AS guess,
        CAST(count(*) AS BIGINT) AS cnt,
        (guess >= 0 AND guess <> y) AS is_noise
      FROM g GROUP BY y, guess"""))
  }

  private[queries] val all: Seq[Q] = Seq(
    q154, q155, q156, q157, q158, q159, q160, q161,
    q162, q163, q164, q164b, q165, q166, q167, q168,
    q169, q170, q171, q184, q188, q209, q213, q214, q216, q217, q218,
    q220, q222, q225)
}
