package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Core, RefFunctions => F}
import graft.sources.Tables

import Shared._

/** Corpus analytics: chunking, quality gates, graph passes, cohorts, histograms. Split from the single-file catalog in round 8;
  * query text unchanged. Registration stays in [[QueryCatalog.all]]. */
private[queries] object CatalogAnalytics {


  /** Context-window chunking under the oracle (`Corpus.chunkDocuments`):
    * 32-token windows advancing by 24 (8-token overlap). The twin builds
    * the same starts with generate_series and slices with list_slice
    * (inclusive end == start + size - 1 mirrors Spark's slice(start,
    * length)); chunk text BYTES and per-chunk token counts both hash. */
  private val q67 = Q(
    "q67_chunk_documents",
    (s, d) => graft.ops.Corpus.chunkDocuments(
      Tables.documents(s, d), chunkSize = 32, stride = 24),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
          array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ') AS chunk_text,
          least(32, len(toks) - i*24) AS n_tokens
        FROM t, unnest(generate_series(0,
          CASE WHEN len(toks) > 32
            THEN CAST(ceil((len(toks) - 32)::DOUBLE / 24) AS BIGINT)
            ELSE 0 END)) AS u(i)
        WHERE len(toks) > 0)
      SELECT doc_id, chunk_id, chunk_text, CAST(n_tokens AS BIGINT) AS n_tokens
      FROM c"""))

  /** Quality gate under the oracle (`Text.qualityGate`): the q53 signals
    * composed into keep + FIRST-FAILING-RULE reason per document — the
    * filter-chain report a curation pipeline publishes. Thresholds
    * compare bit-exact single-division doubles, so keep/reason are
    * engine-stable; minTokens=60 actually trips too_short on this corpus
    * and the concentration rule fires on the rest of the drops. One
    * `documents` scan and projection (`token_stats`), no exchange. */
  private val q68 = Q(
    "q68_quality_gate",
    (s, d) => graft.ops.Text.qualityGate(
      Tables.documents(s, d), minTokens = 60L, maxTokens = 100000L,
      maxDupFrac = 0.05, maxTopFrac = 0.125),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
          list_transform(generate_series(1, len(toks) - 2),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS grams
        FROM t),
      dup AS (
        SELECT doc_id,
          CASE WHEN len(grams) > 0
            THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
            ELSE 0.0 END AS dup_frac
        FROM g),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      top AS (
        SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_tok_frac,
          CAST(sum(c) AS BIGINT) AS n_toks
        FROM cnt GROUP BY 1),
      verdict AS (
        SELECT top.doc_id, n_toks,
          CASE
            WHEN n_toks < 60 THEN 'too_short'
            WHEN n_toks > 100000 THEN 'too_long'
            WHEN dup_frac > 0.05 THEN 'repetitive_ngrams'
            WHEN top_tok_frac > 0.125 THEN 'token_concentration'
          END AS reason
        FROM top JOIN dup USING (doc_id))
      SELECT doc_id, n_toks, (reason IS NULL) AS keep, reason
      FROM verdict"""))

  /** Bigram LM scoring under the oracle (`Text.bigramLmScore`): the
    * corpus trains its own add-one bigram model and every doc is scored
    * by mean pair log-probability — the perplexity-filter signal. The
    * twin repeats the window/counts/join pipeline; per-pair log-probs
    * round to integer micro-units BEFORE the sum, so per-doc sums are
    * exact integer arithmetic and partition-order float summation can't
    * perturb the hash. */
  private val q69 = Q(
    "q69_bigram_lm",
    (s, d) => graft.ops.Text.bigramLmScore(Tables.documents(s, d)),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tok AS (
        SELECT doc_id, i AS pos, toks[i] AS w
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      pairs AS (
        SELECT doc_id,
          lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
        FROM tok),
      p AS (SELECT doc_id, w1, w2 FROM pairs WHERE w1 IS NOT NULL),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM p GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      v AS (SELECT count(DISTINCT w2) AS v FROM p),
      scored AS (
        SELECT p.doc_id,
          CAST(floor(ln((c2 + 1.0) / (c1 + v)) * 1000000 + 0.5) AS BIGINT) AS lp
        FROM p JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      SELECT doc_id, count(*) AS n_pairs,
        floor(sum(lp) / 1000000.0 / count(*) * 1000000 + 0.5) / 1000000 AS lm_score
      FROM scored GROUP BY doc_id"""))

  /** Snapshot diff (CDC derivation) under the oracle: `Core.snapshotDiff`
    * between two versions of the orders table derived deterministically
    * from the same scan in both engines — v_old drops every 5th key,
    * v_new drops every 7th and bumps every 3rd price — vs DuckDB's
    * explicit FULL OUTER JOIN + CASE. Exercises all three change types
    * (insert / delete / update) and the unchanged-row suppression. */
  private val q70 = Q(
    "q70_snapshot_diff",
    (s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      val vOld = base.filter(col("o_orderkey") % 5 =!= 0)
      val vNew = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      Core.snapshotDiff(vOld, vNew, Seq("o_orderkey"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0),
      n AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        n.o_totalprice AS o_totalprice,
        CASE WHEN n.o_orderkey IS NULL THEN 'delete'
             WHEN o.o_orderkey IS NULL THEN 'insert'
             ELSE 'update' END AS change_type
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
      WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         OR o.o_totalprice <> n.o_totalprice"""))

  /** Int8 scalar quantization under the oracle: per-vector (mn, mx),
    * code sum, and the max dequantization error — every code of every
    * vector feeds the compared values, so a green row proves the
    * quantize/dequantize arithmetic is bit-identical cross-engine (the
    * floor(x+0.5) form; Spark's transform ≡ DuckDB's list_transform).
    * The error column doubles as the property |x̂-x| <= step/2: the twin
    * would diverge if either engine's codes drifted one step. */
  private val q71 = Q(
    "q71_quantize_embeddings",
    (s, d) => {
      import graft.ops.Similarity
      val qz = Similarity.quantizeInt8(Similarity.asDouble(col("embedding")))
      Tables.embeddings(s, d)
        .select(col("vec_id"), qz.as("qz"), Similarity.asDouble(col("embedding")).as("v"))
        .select(
          col("vec_id"),
          r(col("qz.mn"), 6).as("mn"),
          r(col("qz.mx"), 6).as("mx"),
          aggregate(col("qz.codes"), lit(0L), (a, c) => a + c).as("code_sum"),
          r(aggregate(
            zip_with(Similarity.dequantizeInt8(col("qz")), col("v"),
              (xh, x) => abs(xh - x)),
            lit(0.0), (a, e) => greatest(a, e)), 9).as("max_abs_err"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (
        SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
      c AS (
        SELECT vec_id, v, mn, mx,
          list_transform(v, x -> CASE WHEN mx = mn THEN 0
            ELSE CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT) END) AS codes
        FROM q),
      dq AS (
        SELECT vec_id, v, mn, mx, codes,
          list_transform(codes, cd -> mn + CAST(cd AS DOUBLE) * (mx - mn) / 255.0) AS deq
        FROM c)
      SELECT vec_id,
        floor(mn*1000000 + 0.5)/1000000 AS mn,
        floor(mx*1000000 + 0.5)/1000000 AS mx,
        CAST(list_sum(codes) AS BIGINT) AS code_sum,
        floor(list_max(list_transform(deq, (xh, i) -> abs(xh - v[i])))*1000000000 + 0.5)
          /1000000000 AS max_abs_err
      FROM dq"""))

  /** Normalization-robust exact dedup (q19's shape over
    * `Text.canonicalText`): case/punctuation/whitespace variants of the
    * same content share a fingerprint. The regex pair lives in the
    * Java∩RE2 intersection; DuckDB needs the explicit 'g' flag (its
    * regexp_replace is first-match by default, Spark's is global). */
  private val q72 = Q(
    "q72_canonical_dedup",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(graft.ops.Text.canonicalText(col("text"))).as("fingerprint"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies")),
    Some("""
      SELECT md5(trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
          '\s+', ' ', 'g'))) AS fingerprint,
        min(doc_id) AS keeper_id, count(*) AS n_copies
      FROM documents GROUP BY 1"""))

  /** Deterministic training-order shuffle via the scale-safe global index
    * (Corpus.globalIndex): every document's position in the salted-hash
    * order, computed with a range exchange + per-partition offsets — NOT
    * the single-task `row_number() OVER (ORDER BY …)` the twin uses
    * (DuckDB can afford it; a 100 TB Spark job cannot). A green row
    * proves the distributed index is bit-identical to the sequential
    * definition: same hash, same tiebreak, same contiguous 0-based ids. */
  private val q73 = Q(
    "q73_global_index",
    (s, d) => {
      import graft.ops.Corpus
      Corpus.globalIndex(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq(Corpus.uniformHash(col("doc_id"), "shuffle-r5"), col("doc_id")),
        numPartitions = 8, indexName = "pos")
    },
    Some("""
      SELECT doc_id, lang,
        row_number() OVER (ORDER BY
          (('0x' || substr(md5(doc_id::VARCHAR || 'shuffle-r5'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976, doc_id) - 1 AS pos
      FROM documents"""))

  /** Vocabulary construction (Text.vocabulary): top-40 tokens by corpus
    * frequency with rank ids and cumulative coverage — the
    * tokenizer-sizing curve. The aggregate collapses to vocab-sized rows
    * map-side and the sort+limit prunes BEFORE the rank window, so the
    * unpartitioned window sees 40 rows at any corpus size. Coverage is an
    * exact-integer-over-exact-integer double division, identical IEEE
    * result both engines, rounded to 1e-9 for the hash. */
  private val q74 = Q(
    "q74_vocab_coverage",
    (s, d) => {
      val v = graft.ops.Text.vocabulary(Tables.documents(s, d), col("text"), topN = 40)
      v.select(col("token_id"), col("token"), col("n"), r(col("coverage"), 9).as("coverage"))
    },
    Some("""
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      f AS (SELECT token, count(*) AS n FROM t WHERE token <> '' GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM f),
      rk AS (
        SELECT token, CAST(n AS BIGINT) AS n,
          row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id,
          CAST(sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
        FROM f)
      SELECT token_id, token, n, floor(cum/total*1000000000 + 0.5)/1000000000 AS coverage
      FROM rk CROSS JOIN tot WHERE token_id < 40"""))

  /** Schema-evolution union (Core.unionEvolve) under the oracle: three
    * snapshot epochs of the orders feed whose schemas drifted (a column
    * added in epoch 2, another swapped in epoch 3) are concatenated by
    * NAME with NULL backfill in both directions — vs DuckDB's
    * UNION ALL BY NAME, which implements the same semantics natively. */
  private val q75 = Q(
    "q75_union_evolve",
    (s, d) => {
      val o = Tables.orders(s, d)
      val e1 = o.filter(col("o_orderkey") % 3 === 0)
        .select(lit(1L).as("epoch"), col("o_orderkey"), col("o_totalprice"))
      val e2 = o.filter(col("o_orderkey") % 3 === 1)
        .select(lit(2L).as("epoch"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val e3 = o.filter(col("o_orderkey") % 3 === 2)
        .select(lit(3L).as("epoch"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      Core.unionEvolve(Seq(e1, e2, e3))
    },
    Some("""
      SELECT CAST(1 AS BIGINT) AS epoch, o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL BY NAME
      SELECT CAST(2 AS BIGINT) AS epoch, o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 1
      UNION ALL BY NAME
      SELECT CAST(3 AS BIGINT) AS epoch, o_orderkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 3 = 2"""))

  /** Spark's BUILT-IN session_window aggregate vs the explicit gap-session
    * algebra (q43 exercised graft's own sessionizeBatch; this pins the
    * engine primitive to the same definition). Spark closes a session when
    * the next event's time reaches start+gap, so the twin's new-session
    * predicate is `>= gap`, not `>`. Window bounds are emitted as epoch
    * micros; session_end = last event + gap by both definitions. */
  private val q76 = Q(
    "q76_session_window",
    (s, d) =>
      graft.streaming.Events.sessionWindowCounts(Tables.events(s, d), "1 hour")
        .select(
          col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), r2(col("total_value")).as("total_value")),
    Some("""
      WITH l AS (
        SELECT user_id, ts, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        FROM events),
      f AS (
        SELECT *, CASE WHEN pts IS NULL
            OR epoch_us(ts) - epoch_us(pts) >= 3600000000 THEN 1 ELSE 0 END AS newf
        FROM l),
      g AS (
        SELECT *, sum(newf) OVER (PARTITION BY user_id
          ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f)
      SELECT user_id,
        epoch_us(min(ts)) AS start_us,
        epoch_us(max(ts)) + 3600000000 AS end_us,
        count(*) AS n_events,
        floor(sum(value)*100 + 0.5)/100 AS total_value
      FROM g GROUP BY user_id, session_id"""))

  /** Cross-corpus SEMANTIC contamination, exact label-blocked form: eval
    * vectors (odd vec_id) whose cosine against any train vector (even
    * vec_id) of the same label reaches 0.4 — with best-match id, max
    * cosine, and hit count. q58 answers this for exact token spans; this
    * catches the paraphrased leak spans can't. */
  private val q77 = Q(
    "q77_semantic_contamination",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      import graft.ops.Similarity
      val e = Tables.embeddings(s, d).select(
        col("vec_id"), col("label"), Similarity.asDouble(col("embedding")).as("v"))
      val n = e.withColumn("nrm",
        sqrt(graft.functions.VectorDot.vec_dot(col("v"), col("v"))))
      val train = n.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("train_id"), col("label"),
          col("v").as("tv"), col("nrm").as("tn"))
      val ev = n.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("eval_id"), col("label"),
          col("v").as("qv"), col("nrm").as("qn"))
      ev.join(train, Seq("label"))
        .withColumn("sim",
          graft.functions.VectorDot.vec_dot(col("qv"), col("tv")) / (col("qn") * col("tn")))
        .filter(col("sim") >= 0.4)
        .groupBy(col("eval_id"))
        .agg(
          max_by(col("train_id"), struct(col("sim"), -col("train_id"))).as("train_id"),
          r(max(col("sim")), 4).as("cosine"),
          count(lit(1)).as("n_hits"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (
        SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      s AS (
        SELECT ev.vec_id AS eval_id, t.vec_id AS train_id,
          list_dot_product(ev.v, t.v)/(ev.nrm*t.nrm) AS sim
        FROM n ev JOIN n t ON ev.label = t.label
        WHERE ev.vec_id % 2 = 1 AND t.vec_id % 2 = 0
          AND list_dot_product(ev.v, t.v)/(ev.nrm*t.nrm) >= 0.4),
      r AS (
        SELECT *, row_number() OVER (
          PARTITION BY eval_id ORDER BY sim DESC, train_id ASC) AS rn
        FROM s)
      SELECT eval_id,
        max(CASE WHEN rn = 1 THEN train_id END) AS train_id,
        floor(max(sim)*10000 + 0.5)/10000 AS cosine,
        count(*) AS n_hits
      FROM r GROUP BY eval_id"""))

  /** Winnowing fingerprints (Text.winnowFingerprints, the MOSS
    * algorithm): every doc's sliding-window-minimum k-gram hashes — the
    * sparse signature whose guarantee is that any shared w+k-1-token run
    * between two documents shares a fingerprint. The twin rebuilds the
    * identical md5-int60 gram hashes and window minima with DuckDB list
    * lambdas, so every selected fingerprint hash-matches. */
  // winnowing CTE (k=5, w=4) shared verbatim by the q78 and q81 twins:
  // ends in `wf(doc_id, fp)` — one row per distinct fingerprint per doc
  private val WinnowCte = """
      WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      h AS (
        SELECT doc_id, CASE WHEN len(toks) - 4 >= 1 THEN
            list_transform(range(1, len(toks) - 4 + 1), i ->
              ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT)
          ELSE [] END AS hs
        FROM t),
      wn AS (
        SELECT doc_id, CASE
            WHEN len(hs) = 0 THEN []
            WHEN len(hs) < 4 THEN [list_min(hs)]
            ELSE list_distinct(list_transform(range(1, len(hs) - 4 + 2), j ->
              list_min(hs[j:j+3]))) END AS fps
        FROM h),
      wf AS (SELECT doc_id, unnest(fps) AS fp FROM wn)"""

  private val q78 = Q(
    "q78_winnowing",
    (s, d) => graft.ops.Text.winnowFingerprints(
      Tables.documents(s, d), k = 5, w = 4),
    Some(s"$WinnowCte SELECT doc_id, fp FROM wf"))

  /** Mixture/epoch planning (Corpus.epochPlan): per-language token mass
    * and the repeat factor needed to hit each language's share of a 1M
    * token budget. Weights are compile-time literals, the budget product
    * and division are the same IEEE ops both engines, rounded at 1e-6. */
  private val q79 = Q(
    "q79_epoch_plan",
    (s, d) => {
      val plan = graft.ops.Corpus.epochPlan(
        Tables.documents(s, d), "lang", graft.ops.Text.wsTokenCount(col("text")),
        weights = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15),
        budgetTokens = 1000000L)
      plan.select(col("lang"), col("n_docs"), col("n_tokens"),
        col("weight"), r(col("epochs"), 6).as("epochs"))
    },
    Some("""
      WITH c AS (
        SELECT lang, count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      w AS (
        -- weights as DOUBLE from the start: a bare 0.15 is DECIMAL in
        -- DuckDB (exact) but double in Spark, and the product would
        -- differ in the last ulp
        SELECT *, CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
          WHEN 'de' THEN CAST(0.15 AS DOUBLE) WHEN 'es' THEN CAST(0.15 AS DOUBLE)
          WHEN 'fr' THEN CAST(0.15 AS DOUBLE) WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
          ELSE CAST(0.0 AS DOUBLE) END AS weight
        FROM c)
      SELECT lang, n_docs, n_tokens, weight,
        floor(weight * CAST(1000000 AS DOUBLE) / n_tokens::DOUBLE * 1000000 + 0.5)/1000000 AS epochs
      FROM w"""))

  /** Cross-corpus plagiarism match on winnowing fingerprints
    * (Text.winnowMatch): odd docs vs the even-doc reference — q58's
    * span-contamination question answered from the winnowed (~1/w)
    * signature. Distinct-fp semantics on BOTH sides (winnowFingerprints
    * dedups per doc; the twin's wf mirrors it), so matched_frac is the
    * fraction of the doc's distinct fingerprints seen in the reference. */
  private val q81 = Q(
    "q81_winnow_match",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Text.winnowMatch(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), k = 5, w = 4)
        .select(col("doc_id"), col("n_fps"), col("n_matched"),
          r(col("matched_frac"), 6).as("matched_frac"))
    },
    Some(s"""$WinnowCte,
      a AS (SELECT * FROM wf WHERE doc_id % 2 = 1),
      ref AS (SELECT DISTINCT fp FROM wf WHERE doc_id % 2 = 0),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM a GROUP BY 1),
      hit AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM a
        WHERE fp IN (SELECT fp FROM ref) GROUP BY 1)
      SELECT per.doc_id, per.n_fps,
        coalesce(hit.n_hit, 0) AS n_matched,
        floor(coalesce(hit.n_hit, 0)::DOUBLE / per.n_fps * 1000000 + 0.5)/1000000
          AS matched_frac
      FROM per LEFT JOIN hit USING (doc_id)"""))

  /** Rolling distinct-user analytics: daily actives plus the 7-day
    * rolling distinct count (DAU/WAU). Rolling DISTINCT cannot ride a
    * plain window frame (distinct doesn't decompose); the scale shape is
    * the day×window re-expansion: distinct (day, user) pairs — tiny vs
    * the event stream — joined to the day spine on a 7-day interval,
    * then one exact distinct per day. At sketch-friendly scale swap the
    * per-day `hll_sketch` partials + `hll_merge` over the window
    * (SketchMerge) and skip the re-expansion entirely; exact is the
    * oracle-checkable form. Day strings cut the tz ambiguity (both
    * engines render the UTC calendar date). */
  private val q82 = Q(
    "q82_rolling_dau",
    (s, d) => {
      val daily = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = dau.select(col("day")).as("sp")
        .join(daily.as("u"),
          col("u.day").between(date_sub(col("sp.day"), 6), col("sp.day")))
        .groupBy(col("sp.day").as("day"))
        .agg(countDistinct(col("u.user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"), col("wau"))
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
      FROM dau JOIN wau USING (day)"""),
    // exact is the oracle-checkable anchor; at scale the per-day sketch
    // partials + window merge (q154) replace the day×window re-expansion
    scalePath = false, scaleTwin = Some("q154_sketch_wau"))

  /** Quality-ranked token-budget trim (Corpus.budgetTrim): per source,
    * keep documents longest-first until 500 tokens are spent — the
    * budgeted greedy selection of a fixed-size corpus. The rank order
    * (n_chars DESC, doc_id) is engine-exact integers, so the kept set is
    * identical by construction; the straddling row is kept (budget =
    * floor on selected mass). */
  private val q80 = Q(
    "q80_budget_trim",
    (s, d) => graft.ops.Corpus.budgetTrim(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"), col("text")),
      stratum = "source",
      order = Seq(col("n_chars").desc, col("doc_id").asc),
      tokCol = graft.ops.Text.wsTokenCount(col("text")),
      budgetTokens = 500L)
      .select(col("doc_id"), col("source"), col("n_chars")),
    Some("""
      WITH c AS (
        SELECT doc_id, source, n_chars,
          len(string_split(text, ' ')) AS tok,
          sum(len(string_split(text, ' '))) OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents)
      SELECT doc_id, source, n_chars FROM c WHERE cum - tok < 500"""))

  /** One-pass declarative data-quality audit (Corpus.auditConstraints +
    * auditReferential): three row constraints, the uniqueness check AND
    * the lineitem→part FK all fused into ONE aggregate over ONE lineitem
    * scan (round 14 — previously three scans), plus the orders→customer
    * FK on its own scan, all in the long (check_name, n_violations,
    * n_rows) audit shape a gate alerts on. discount_le_5pct is a
    * deliberately failing rule so nonzero counts flow through the
    * compare. */
  private val q83 = Q(
    "q83_quality_audit",
    (s, d) => {
      import graft.ops.Corpus
      val li = Tables.lineitem(s, d)
      Corpus.auditConstraints(li,
        rowChecks = Seq(
          "orderkey_not_null" -> col("l_orderkey").isNotNull,
          "quantity_in_1_50" -> col("l_quantity").between(1.0, 50.0),
          "discount_le_5pct" -> (col("l_discount") <= 0.05)),
        uniqueKeys = Seq("unique_order_line" -> Seq("l_orderkey", "l_linenumber")),
        // round-14: the same-table FK rides the one lineitem aggregate
        // (3 lineitem scans → 1); only the orders FK needs its own scan
        referential = Seq(("fk_lineitem_part",
          Seq("l_partkey"), Tables.table(s, d, "part"), Seq("p_partkey"))))
        .unionByName(Corpus.auditReferential("fk_orders_customer",
          Tables.orders(s, d), Seq("o_custkey"),
          Tables.customer(s, d), Seq("c_custkey")))
    },
    Some("""
      SELECT 'orderkey_not_null' AS check_name,
        CAST(sum(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
        count(*) AS n_rows FROM lineitem
      UNION ALL
      SELECT 'quantity_in_1_50',
        CAST(sum(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 0 ELSE 1 END) AS BIGINT),
        count(*) FROM lineitem
      UNION ALL
      SELECT 'discount_le_5pct',
        CAST(sum(CASE WHEN l_discount <= 0.05 THEN 0 ELSE 1 END) AS BIGINT),
        count(*) FROM lineitem
      UNION ALL
      SELECT 'unique_order_line', CAST(sum(c - 1) AS BIGINT), CAST(sum(c) AS BIGINT)
      FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
      UNION ALL
      SELECT 'fk_lineitem_part',
        CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
      FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'fk_orders_customer',
        CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
      FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey"""))

  /** Retention cohorts: users bucketed by first-seen day, actives counted
    * at each day offset — the classic cohort triangle. `daily` is the
    * distinct (day, user) pair set (tiny vs the event stream), so the
    * offset aggregate needs count(*), never a countDistinct Expand.
    * DuckDB's datediff is (part, start, end); Spark's is (end, start). */
  private val q84 = Q(
    "q84_retention_cohorts",
    (s, d) => {
      val daily = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val first = daily.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      daily.join(first, Seq("user_id"))
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"), col("n_active"))
    },
    Some("""
      WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      fs AS (SELECT user_id, min(day) AS cohort FROM daily GROUP BY 1),
      g AS (
        SELECT cohort, datediff('day', cohort, day) AS day_offset,
          count(*) AS n_active
        FROM daily JOIN fs USING (user_id) GROUP BY 1, 2)
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort, day_offset, n_active FROM g"""))

  /** Funnel conversion: per first-click cohort day, how many clickers
    * later purchased (strictly after their FIRST click). Two keyed
    * aggregates + one join on user_id; the per-user converted flag is a
    * conditional max so a user with no purchases (left-join nulls)
    * counts 0, identically in both engines (CASE WHEN null → ELSE). */
  private val q85 = Q(
    "q85_funnel",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val perUser = clicks.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("first_click"))
        .agg(max(when(col("ts") > col("first_click"), 1L).otherwise(0L)).as("converted"))
      perUser
        .groupBy(date_format(to_date(col("first_click")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_clickers"), sum(col("converted")).as("n_converted"))
        .select(col("day"), col("n_clickers"), col("n_converted"),
          r(col("n_converted").cast("double") / col("n_clickers").cast("double"), 6)
            .as("conversion"))
    },
    Some("""
      WITH c AS (
        SELECT user_id, min(ts) AS first_click FROM events
        WHERE event_type = 'click' GROUP BY 1),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT c.user_id, c.first_click,
          max(CASE WHEN p.ts > c.first_click THEN 1 ELSE 0 END) AS converted
        FROM c LEFT JOIN p USING (user_id) GROUP BY 1, 2)
      SELECT strftime(CAST(first_click AS DATE), '%Y-%m-%d') AS day,
        count(*) AS n_clickers, CAST(sum(converted) AS BIGINT) AS n_converted,
        floor(sum(converted)::DOUBLE / count(*)::DOUBLE * 1000000 + 0.5)/1000000
          AS conversion
      FROM u GROUP BY 1"""))

  /** Day-over-day anomaly detection: z-score of each day's event count
    * against its type's trailing-7-day history. The variance is built
    * from EXACT integer window sums (n, Σcnt, Σcnt²) — never
    * `stddev_samp`, whose streaming/Welford summation order differs
    * between engines in the last ulp — so the double math that follows
    * is the same IEEE ops on the same inputs both sides. Zero-variance
    * history yields a null z (flag false), division guarded both
    * engines. */
  private val q86 = Q(
    "q86_count_anomaly",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      val hist = daily
        .withColumn("h_n", count(col("cnt")).over(w))
        .withColumn("h_s", sum(col("cnt")).over(w))
        .withColumn("h_ss", sum(col("cnt") * col("cnt")).over(w))
        .filter(col("h_n") >= 3)
      val n = col("h_n").cast("double")
      val sm = col("h_s").cast("double")
      val ss = col("h_ss").cast("double")
      val mean = sm / n
      val variance = (ss - sm * sm / n) / (n - 1)
      val z = when(variance > 0,
        (col("cnt").cast("double") - mean) / sqrt(variance))
      hist.select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"),
        r(z, 6).as("z"),
        coalesce(abs(z) > 2.0, lit(false)).as("is_anomaly"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      h AS (
        SELECT *,
          count(cnt) OVER w AS h_n,
          CAST(sum(cnt) OVER w AS BIGINT) AS h_s,
          CAST(sum(cnt*cnt) OVER w AS BIGINT) AS h_ss
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      zc AS (
        SELECT day, event_type, cnt,
          CASE WHEN (h_ss::DOUBLE - h_s::DOUBLE*h_s::DOUBLE/h_n::DOUBLE)
                    / (h_n::DOUBLE - 1) > 0
            THEN (cnt::DOUBLE - h_s::DOUBLE/h_n::DOUBLE)
              / sqrt((h_ss::DOUBLE - h_s::DOUBLE*h_s::DOUBLE/h_n::DOUBLE)
                     / (h_n::DOUBLE - 1)) END AS z
        FROM h WHERE h_n >= 3)
      SELECT strftime(day, '%Y-%m-%d') AS day, event_type, cnt,
        CASE WHEN z IS NULL THEN NULL ELSE floor(z*1000000 + 0.5)/1000000 END AS z,
        coalesce(abs(z) > 2.0, false) AS is_anomaly
      FROM zc"""))

  /** Event-type transition matrix: per-user consecutive event pairs
    * (ordered by event_id — monotone with ts, tie-free) counted into the
    * (from, to) matrix with per-source fractions — the product-analytics
    * path query. One window shuffle on user, one hash aggregate; the
    * fraction window runs over ≤|types|² rows. */
  private val q87 = Q(
    "q87_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val wf = Window.partitionBy(col("from_type"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac",
          r(col("n").cast("double") / sum(col("n")).over(wf).cast("double"), 6))
    },
    Some("""
      WITH t AS (
        SELECT event_type AS from_type,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS to_type
        FROM events),
      g AS (
        SELECT from_type, to_type, count(*) AS n FROM t
        WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        floor(n::DOUBLE / (CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT))::DOUBLE
          * 1000000 + 0.5)/1000000 AS frac
      FROM g"""))

  /** Calendar-spine densification: every (day × event_type) cell over the
    * observed range, zero-filled where no qualifying events exist (the
    * reporting join that makes gaps visible instead of silently absent —
    * value > 250 sparsifies to ~1/3 fill). The spine is a 1-row
    * min/max aggregate exploded through `sequence` and cross-joined with
    * the distinct type dim — both broadcast-sized at any event scale. */
  private val q88 = Q(
    "q88_calendar_spine",
    (s, d) => {
      val ev = Tables.events(s, d)
      val filt = ev.filter(col("value") > 250.0)
      val daily = filt
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      // spine bounds from ALL events (not the filtered set), so the
      // report covers the full observed range
      val days = ev.agg(
        min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      days.crossJoin(broadcast(types))
        .join(daily, Seq("day", "event_type"), "left")
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
    },
    Some("""
      WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
      spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
      types AS (SELECT DISTINCT event_type FROM events),
      daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        FROM events WHERE value > 250.0 GROUP BY 1, 2)
      SELECT strftime(spine.day, '%Y-%m-%d') AS day, types.event_type,
        coalesce(daily.cnt, 0) AS cnt
      FROM spine CROSS JOIN types
      LEFT JOIN daily ON daily.day = spine.day AND daily.event_type = types.event_type"""))

  /** Equi-depth histogram: 8 equal-count price buckets per returnflag
    * with per-bucket bounds — the data-profiling shape behind
    * range-bucketed features and boundary selection. ntile's remainder
    * distribution is SQL-standard in both engines (the oracle IS the
    * ntile SQL), and the order carries a unique (orderkey, linenumber)
    * tiebreak so every row's bucket is identical cross-engine despite
    * duplicate prices.
    *
    * Round 9 RETIRED this row's original ntile-window plan (the q137
    * precedent): ntile partitioned by the 3-value returnflag, capping
    * parallelism at 3 tasks whose per-task sorts grew super-linearly
    * (sf3 measured 4.3× for 3× data). Round 10 replaced the interim
    * range-exchange + zipWithIndex plan too (its RDD round-trip broke
    * codegen — the worst in-bar decade slope at 10.9×): the row now runs
    * the SAME counting-sort value-domain plan as q89b
    * (Shared.equidepthHistogram); both prior plans are pinned as
    * EquidepthSpec counterexamples, where their row-identity to this
    * plan — and their scale defects — stay proven, not remembered. */
  private val q89 = Q(
    "q89_equidepth_histogram",
    (s, d) => equidepthHistogram(s, d),
    Some("""
      WITH b AS (
        SELECT l_returnflag, l_extendedprice,
          ntile(8) OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        FROM lineitem)
      SELECT l_returnflag, bucket, count(*) AS n,
        floor(min(l_extendedprice)*100 + 0.5)/100 AS lo,
        floor(max(l_extendedprice)*100 + 0.5)/100 AS hi
      FROM b GROUP BY 1, 2"""))

  /** Blocked fuzzy string matching (entity resolution): near-identical
    * part names found by blocking on the last name token and verifying
    * with exact Levenshtein distance — the canonical "same entity,
    * different spelling" join, never the all-pairs cross product.
    * Blocking runs on the DISTINCT name set (entity resolution is about
    * the vocabulary of names, not row multiplicity), so block fan-out is
    * bounded by distinct names per block. Levenshtein is an exact DP —
    * bit-identical in any engine. */
  private val q90 = Q(
    "q90_fuzzy_names",
    (s, d) => {
      val names = Tables.table(s, d, "part").select(col("p_name")).distinct()
        .withColumn("noun", element_at(split(col("p_name"), " "), -1))
      val a = names.select(col("noun"), col("p_name").as("name_a"))
      val b = names.select(col("noun"), col("p_name").as("name_b"))
      a.join(b, Seq("noun"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 4)
        .select(col("name_a"), col("name_b"), col("dist"))
    },
    Some("""
      WITH n AS (
        SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS noun FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
        levenshtein(a.p_name, b.p_name) AS dist
      FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 4"""))

  /** The RelationalGroupedDataset.pivot API with EXPLICIT pivot values —
    * the form that scales: without the value list Spark runs an extra
    * distinct-collect job over the pivot column before it can even plan
    * (a driver-side pass a 100 TB pipeline cannot afford); with it the
    * pivot compiles straight to conditional aggregation, one shuffle.
    * (q05/A3 is the reference's pivot SEMANTICS via explicit conditional
    * aggs; this pins the API surface itself.) Empty cells are null in
    * both engines (sum over no rows). */
  private val q91 = Q(
    "q91_pivot_api",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(r2(sum(col("l_quantity")))),
    Some("""
      SELECT l_linestatus,
        floor(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)*100 + 0.5)/100 AS "A",
        floor(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)*100 + 0.5)/100 AS "N",
        floor(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)*100 + 0.5)/100 AS "R"
      FROM lineitem GROUP BY 1"""))

  /** Dataset.unpivot (wide → long melt), the inverse API: a per-flag
    * summary's metric columns stacked into (metric, value) rows. Pure
    * metadata projection over the aggregate — the Expand adds rows, not
    * a shuffle. The twin is the UNION ALL expansion unpivot desugars to. */
  private val q92 = Q(
    "q92_unpivot_api",
    (s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_price"),
          r2(avg(col("l_discount"))).as("avg_disc"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
        "metric", "value")
    },
    Some("""
      WITH w AS (
        SELECT l_returnflag,
          floor(sum(l_quantity)*100 + 0.5)/100 AS sum_qty,
          floor(sum(l_extendedprice)*100 + 0.5)/100 AS sum_price,
          floor(avg(l_discount)*100 + 0.5)/100 AS avg_disc
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM w
      UNION ALL
      SELECT l_returnflag, 'avg_disc', avg_disc FROM w"""))

  /** Time-weighted average value per user: each event's value weighted by
    * the µs until the user's next event (the metrics/sensor aggregation
    * where plain avg over-counts bursts). Cross-engine exactness comes
    * from INTEGER arithmetic end-to-end: 2-decimal values lift to exact
    * cent BIGINTs, durations are exact µs BIGINTs, so both weighted sums
    * are exact integers and the single final division is the same IEEE
    * op — float summation ORDER never enters (the q69 micro-unit move).
    * One window shuffle on user_id; event_id ordering is tie-free. */
  private val q93 = Q(
    "q93_time_weighted",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), cents.as("cents"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dur", col("next_us") - col("us"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dur")).as("total_us"),
          r(sum(col("cents") * col("dur")).cast("double") / lit(100.0) /
            sum(col("dur")).cast("double"), 6).as("twa"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        FROM events),
      l AS (
        SELECT *, lead(us) OVER (PARTITION BY user_id ORDER BY event_id) AS next_us
        FROM e),
      d AS (SELECT user_id, cents, next_us - us AS dur FROM l WHERE next_us IS NOT NULL)
      SELECT user_id, count(*) AS n_intervals,
        CAST(sum(dur) AS BIGINT) AS total_us,
        floor(CAST(sum(cents*dur) AS BIGINT)::DOUBLE / 100.0 / CAST(sum(dur) AS BIGINT)::DOUBLE
          * 1000000 + 0.5)/1000000 AS twa
      FROM d GROUP BY 1"""))

  /** The `spark.sql(...)` entry path with a correlated EXISTS subquery —
    * the engine's SQL front door, absent from the rest of the catalog
    * (which pins the DataFrame API). Catalyst's RewritePredicateSubquery
    * turns the EXISTS into a semi join; nothing correlated survives to
    * execution. Identical statement text runs in DuckDB (temp views
    * stand in for the oracle's table views). */
  private val q94 = Q(
    "q94_sql_exists",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT o.o_orderpriority, count(*) AS n
        FROM orders_v o
        WHERE EXISTS (SELECT 1 FROM customer_v c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
        GROUP BY o.o_orderpriority""")
    },
    Some("""
      SELECT o.o_orderpriority, count(*) AS n
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
      GROUP BY o.o_orderpriority"""))

  /** SQL path, scalar + IN subqueries: the scalar subquery plans as its
    * own tiny aggregate job whose result enters the filter as a literal;
    * the IN rewrites to a semi join. The scalar is `max(...)` (exact — an
    * avg's float summation order is NOT cross-engine stable) scaled by a
    * double literal, so the comparison is the same IEEE op both sides. */
  private val q95 = Q(
    "q95_sql_subqueries",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT c_mktsegment, count(*) AS n
        FROM customer_v
        WHERE c_acctbal > (SELECT max(c_acctbal) FROM customer_v) * 0.9
          AND c_nationkey IN (SELECT n_nationkey FROM nation_v WHERE n_regionkey = 1)
        GROUP BY c_mktsegment""")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n
      FROM customer
      WHERE c_acctbal > (SELECT max(c_acctbal) FROM customer) * CAST(0.9 AS DOUBLE)
        AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
      GROUP BY c_mktsegment"""))

  /** Misra-Gries per GROUP: q36's global frequent-items sketch keyed by
    * language — the mergeable-partial contract composing with an ordinary
    * hash aggregate (partial sketches per partition per group, merged at
    * the final). Capacity 256 > per-language vocab keeps the sketch in
    * its exact regime, so the DuckDB twin is plain per-group counts. */
  private val q96 = Q(
    "q96_grouped_frequent",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"))
        .agg(graft.functions.FrequentItems.frequent_items(col("tok"), 256).as("fi"))
        .select(col("lang"), explode(col("fi")).as("e"))
        .select(col("lang"), col("e.item"), col("e.min_count"))
    },
    Some("""
      SELECT lang, token AS item, count(*) AS min_count FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> '' GROUP BY lang, token"""))

  /** CUBE + grouping indicators — q30 covers ROLLUP's hierarchy slices;
    * CUBE adds the cross-dimensional subtotals (segment-only, priority-only)
    * a single rollup can't produce, and `grouping()` disambiguates a real
    * NULL key from a subtotal row. One Expand (×4 grouping sets) feeding one
    * hash aggregate. Money is summed as exact BIGINT cents; customer GROWS
    * with SF so its join carries no broadcast hint (AQE picks one at bench
    * scale, the threshold governs at 100×). Both grouping flags are cast to
    * INT explicitly: Spark's grouping() is a TINYINT, DuckDB's GROUPING()
    * an INT — without the cast the values match but the schemas don't. */
  private val q97 = Q(
    "q97_cube_grouping",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .cube(col("c_mktsegment"), col("o_orderpriority"))
        .agg(
          grouping(col("c_mktsegment")).cast("int").as("g_seg"),
          grouping(col("o_orderpriority")).cast("int").as("g_pri"),
          count(lit(1)).as("n"),
          sum(col("cents")).as("cents_total"))
    },
    Some("""
      SELECT c_mktsegment, o_orderpriority,
        CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
        CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
        count(*) AS n,
        CAST(sum(cents) AS BIGINT) AS cents_total
      FROM (
        SELECT c_mktsegment, o_orderpriority,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey)
      GROUP BY CUBE(c_mktsegment, o_orderpriority)"""))

  /** The higher-order array-function surface as a first-class oracle query:
    * transform/filter (with AND without the index parameter), aggregate
    * (fold), exists, size, array_max — the per-row vector toolkit the ANN
    * and quantization paths use internally, pinned here against DuckDB's
    * list_* lambdas on the real FLOAT[] column. All map-side, zero
    * shuffles. Float arithmetic never crosses an aggregation boundary
    * un-integered: `micro_sum` folds floor(x*1e6 + 0.5) BIGINTs — each
    * element's scaling is the same IEEE double op in both engines and the
    * integer sum is order-independent, where a raw float sum would hit
    * both engines' summation-order divergence. Index lambdas: Spark's `i`
    * is 0-based, DuckDB's 1-based — the twin compensates with (i-1). */
  private val q98 = Q(
    "q98_hof_surface",
    (s, d) => {
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        size(filter(col("embedding"), x => x > lit(0.0f))).as("n_pos"),
        array_max(col("embedding")).cast("double").as("vmax"),
        array_max(filter(col("embedding"), (x, i) => i % 2 === 0))
          .cast("double").as("even_max"),
        aggregate(col("embedding"), lit(0L),
          (acc, x) => acc + floor(x.cast("double") * 1000000 + 0.5).cast("long"))
          .as("micro_sum"),
        exists(col("embedding"), x => x < lit(-0.5f)).as("has_low"))
    },
    Some("""
      SELECT vec_id,
        len(embedding) AS dim,
        len(list_filter(embedding, x -> x > 0)) AS n_pos,
        CAST(list_max(embedding) AS DOUBLE) AS vmax,
        CAST(list_max(list_filter(embedding, (x, i) -> (i-1) % 2 = 0)) AS DOUBLE) AS even_max,
        CAST(list_sum(list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT))) AS BIGINT) AS micro_sum,
        len(list_filter(embedding, x -> x < -0.5)) > 0 AS has_low
      FROM embeddings"""))

  /** Correlation + least-squares regression from EXACT integer sums — the
    * statistical-profile surface (corr/covar/slope/intercept) without the
    * cross-engine trap: both engines' built-in corr/stddev stream Welford
    * co-moments whose accumulation ORDER differs, so the last ulp diverges.
    * Here the six sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) are
    * exact BIGINTs (order-independent), cast to double ONCE, and the final
    * formula is the same handful of IEEE ops in both engines — bit-exact
    * by construction, and the same one-shuffle cost as the naive corr().
    * x = quantity (integral), y = floor(price) dollars: Σy² ≈ 6e15 at
    * sf0.1 stays under both 2^63 (BIGINT) and 2^53 (exact double); the
    * at-scale form for sf≥1 is the same sums over DECIMAL(38,0). */
  private val q99 = Q(
    "q99_exact_stats",
    (s, d) => {
      val sums = Tables.lineitem(s, d)
        .select(
          col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice")).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxx = col("sxx").cast("double"); val sxy = col("sxy").cast("double")
      val syy = col("syy").cast("double")
      val covn = n * sxy - sx * sy
      val varx = n * sxx - sx * sx
      val vary = n * syy - sy * sy
      sums.select(
        col("l_returnflag"), col("n"),
        r(covn / (sqrt(varx) * sqrt(vary)), 6).as("corr_qp"),
        r(covn / varx, 6).as("slope"),
        r((sy - (covn / varx) * sx) / n, 6).as("intercept"))
    },
    Some("""
      WITH sums AS (
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
          CAST(sum(y*y) AS BIGINT) AS syy
        FROM (
          SELECT l_returnflag,
            CAST(l_quantity AS BIGINT) AS x,
            CAST(floor(l_extendedprice) AS BIGINT) AS y
          FROM lineitem)
        GROUP BY 1)
      SELECT l_returnflag, n,
        floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
          / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
          * 1000000 + 0.5)/1000000 AS corr_qp,
        floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
          / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
          * 1000000 + 0.5)/1000000 AS slope,
        floor((sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
          / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
          / n::DOUBLE * 1000000 + 0.5)/1000000 AS intercept
      FROM sums"""))

  /** Label-propagation communities over the near-dup graph — the third
    * graph pass beside connected components (q46) and PageRank (q128):
    * synchronous LPA, label(v) ← the most frequent label among v's
    * neighbors with a fully deterministic rule (count DESC, then lowest
    * label; isolated nodes keep their own), 2 rounds unrolled. Unlike CC,
    * LPA finds DENSE communities (a chain of weak links does not merge
    * into one blob) — the distinction that matters when near-dup edges
    * chain through template boilerplate. Per round: one neighbor-label
    * shuffle + one per-node argmax window over ≤degree rows; rounds are
    * a fixed constant (synchronous LPA at depth d is d keyed joins, the
    * same bounded-rounds shape as q46's pointer jumping). The twin
    * unrolls the identical two rounds with QUALIFY argmax. */
  private val q183 = Q(
    "q183_label_propagation",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val e = prefixJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))
      // localCheckpoint (round-13): both unrolled propagate rounds (and
      // both uses of the round-1 labels) re-derived the prefix-blocked
      // Jaccard self-join — 28 parquet scans in the static plan. The
      // bounded edge list is cut once, the round-1 labels once; each
      // round is then joins/windows over materialized edge-sized data.
      val sym = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      def propagate(lbl: DataFrame): DataFrame = {
        val nb = sym
          .join(lbl.withColumnRenamed("doc_id", "dst"), Seq("dst"))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("src"))
          .orderBy(col("c").desc, col("label").asc)
        val best = nb.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("src").as("doc_id"), col("label").as("nl"))
        lbl.join(best, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("nl"), col("label")).as("label"))
      }
      val init = docs.select(col("doc_id"), col("doc_id").as("label"))
      propagate(propagate(init).localCheckpoint(true))
        .select(col("doc_id"), col("label").as("community"))
    },
    Some("""
      WITH e AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM (SELECT doc_id, substr(text, 1, 30) AS pfx,
                list_distinct(string_split(text, ' ')) AS toks
              FROM documents) a
        JOIN (SELECT doc_id, substr(text, 1, 30) AS pfx,
                list_distinct(string_split(text, ' ')) AS toks
              FROM documents) b
          ON a.pfx = b.pfx AND a.doc_id <> b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
      l0 AS (SELECT doc_id, doc_id AS label FROM documents),
      n1 AS (
        SELECT e.src, l0.label, count(*) AS c
        FROM e JOIN l0 ON l0.doc_id = e.dst
        GROUP BY 1, 2),
      b1 AS (
        SELECT src AS doc_id, label AS nl FROM n1
        QUALIFY row_number() OVER (PARTITION BY src
          ORDER BY c DESC, label ASC) = 1),
      l1 AS (
        SELECT l0.doc_id, coalesce(b1.nl, l0.label) AS label
        FROM l0 LEFT JOIN b1 USING (doc_id)),
      n2 AS (
        SELECT e.src, l1.label, count(*) AS c
        FROM e JOIN l1 ON l1.doc_id = e.dst
        GROUP BY 1, 2),
      b2 AS (
        SELECT src AS doc_id, label AS nl FROM n2
        QUALIFY row_number() OVER (PARTITION BY src
          ORDER BY c DESC, label ASC) = 1),
      l2 AS (
        SELECT l1.doc_id, coalesce(b2.nl, l1.label) AS label
        FROM l1 LEFT JOIN b2 USING (doc_id))
      SELECT doc_id, label AS community FROM l2"""))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): score every document under a PER-LANGUAGE
    * bigram LM, then split each language into head/middle/tail terciles
    * by score — the published corpus-quality triage that decides what a
    * pretraining run keeps, samples, or drops. Same micro-integer
    * discipline as q69: every per-pair log-prob is rounded to a micro
    * LONG before summing (per-doc sums are exact integer arithmetic —
    * no float summation order), the per-doc score is ONE division of
    * exact ints micro-rounded to a LONG, and the tercile order
    * (score_micro, doc_id) is a total order over integers.
    *
    * Scale shape: the pair stream is a zero-shuffle slice+zip_with
    * explode (no lag window over a doc-keyed shuffle), and it is
    * shuffled exactly TWICE — once into the (lang, w1, w2) count
    * aggregate that IS the model, once through the score join. All LM
    * arithmetic (c1 sums, per-language vocab, the log-prob itself)
    * happens on the aggregated GRAM table, which is vocab-sized, not
    * corpus-sized — the first cut joined the raw pair stream against c2
    * and c1 separately (three pair-stream shuffles) and measured 1.4×
    * slower at sf3. The tercile is q89b's closed-form ntile over a
    * range-exchanged global index + broadcast per-language offsets —
    * per-language parallelism never caps at the language count. The
    * offset window runs over the ≤|languages|-row count aggregate
    * (bounded). */
  private val q193 = Q(
    "q193_perplexity_buckets",
    (s, d) => {
      import graft.ops.Corpus
      // toks is LET-BOUND in its own projection (round-13): inlining the
      // filter(split(...)) into the explode's slice/size/zip_with sites
      // re-tokenized every document ~5× per row (ARCHITECTURE §8) — the
      // alias evaluates once and the generator sees an attribute.
      val toksc = filter(split(col("text"), " "), x => x =!= "")
      val m = size(col("toks")) - 1
      val prs = when(size(col("toks")) >= 2,
        zip_with(slice(col("toks"), lit(1), m), slice(col("toks"), lit(2), m),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val pairs = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("lang"), toksc.as("toks"))
        .select(col("doc_id"), col("lang"), explode(prs).as("pr"))
        .select(col("doc_id"), col("lang"), col("pr.w1"), col("pr.w2"))
      // The model table is ONE pipeline over the c2 aggregate (round-13):
      // c1 and v as separate groupBys were canonically distinct,
      // column-pruned copies of the c2 subtree — each re-scanned and
      // re-exploded the corpus (ReuseExchange cannot unify them). As
      // windows over c2 they cost two vocab-sized exchanges and zero
      // extra corpus passes: v = max(dense_rank over w2) per lang
      // (c2 rows are distinct (lang,w1,w2), so dense_rank's ceiling IS
      // countDistinct(w2)), c1 = sum(c2) per (lang,w1) — the lang
      // exchange already clusters (lang,w1), so the c1 window adds only
      // a sort. Same integers, same logp_micro.
      val c2 = pairs.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val wLangByW2 = Window.partitionBy(col("lang")).orderBy(col("w2"))
      val wLang = Window.partitionBy(col("lang"))
      val wLangW1 = Window.partitionBy(col("lang"), col("w1"))
      val gramScore = c2
        .withColumn("w2rank", dense_rank().over(wLangByW2))
        .withColumn("v", max(col("w2rank")).over(wLang).cast("long"))
        .withColumn("c1", sum(col("c2")).over(wLangW1))
        .select(col("lang"), col("w1"), col("w2"),
          floor(log((col("c2") + lit(1.0)) / (col("c1") + col("v"))) * 1e6 + 0.5)
            .cast("long").as("logp_micro"))
      val scored = pairs
        .join(gramScore, Seq("lang", "w1", "w2"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("logp_micro")).as("sm"))
        .select(col("doc_id"), col("lang"),
          floor(col("sm").cast("double") / col("n_pairs") + 0.5)
            .cast("long").as("score_micro"))
      val idxed = Corpus.globalIndex(scored,
        Seq(col("lang"), col("score_micro"), col("doc_id")),
        numPartitions = 16, indexName = "gidx")
      // offs derives from idxed, NOT scored (round-13): a scored-rooted
      // aggregate is a fresh lineage that re-ran the whole corpus
      // pipeline (4 extra parquet scans + explodes in the before plan);
      // idxed's ExistingRDD shares the already-shuffled range exchange,
      // so the lang counts cost one bounded aggregate. Same rows, same
      // counts — gidx adds no rows and drops none.
      val offs = idxed.groupBy(col("lang")).agg(count(lit(1)).as("grp_n"))
        .withColumn("off", coalesce(
          sum(col("grp_n")).over(Window.orderBy(col("lang"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      idxed.join(broadcast(offs), Seq("lang"))
        .withColumn("idx", col("gidx") - col("off"))
        .withColumn("bucket", expr("""
          CAST(CASE WHEN idx < (grp_n % 3) * (grp_n DIV 3 + 1)
            THEN idx DIV (grp_n DIV 3 + 1)
            ELSE (grp_n % 3) + (idx - (grp_n % 3) * (grp_n DIV 3 + 1)) DIV (grp_n DIV 3)
          END + 1 AS INT)"""))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score_micro")).as("lo_micro"),
          max(col("score_micro")).as("hi_micro"),
          floor(sum(col("score_micro")).cast("double") / count(lit(1)) + 0.5)
            .cast("long").as("avg_micro"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang,
          list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
      pairs AS (
        SELECT doc_id, lang,
          unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM toks),
      c2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM pairs GROUP BY 1,2,3),
      c1 AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1,2),
      v AS (SELECT lang, count(DISTINCT w2) AS v FROM pairs GROUP BY 1),
      scored AS (
        SELECT p.doc_id, p.lang,
          CAST(floor(
            CAST(sum(CAST(floor(ln((c2.c2 + 1.0) / (c1.c1 + v.v)) * 1000000 + 0.5)
              AS BIGINT)) AS BIGINT)::DOUBLE / count(*) + 0.5) AS BIGINT)
            AS score_micro
        FROM pairs p
        JOIN c2 ON p.lang = c2.lang AND p.w1 = c2.w1 AND p.w2 = c2.w2
        JOIN c1 ON p.lang = c1.lang AND p.w1 = c1.w1
        JOIN v ON p.lang = v.lang
        GROUP BY 1, 2),
      bk AS (
        SELECT lang, score_micro,
          ntile(3) OVER (PARTITION BY lang ORDER BY score_micro, doc_id)
            AS bucket
        FROM scored)
      SELECT lang, bucket, count(*) AS n_docs,
        CAST(min(score_micro) AS BIGINT) AS lo_micro,
        CAST(max(score_micro) AS BIGINT) AS hi_micro,
        CAST(floor(CAST(sum(score_micro) AS BIGINT)::DOUBLE / count(*) + 0.5)
          AS BIGINT) AS avg_micro
      FROM bk GROUP BY 1, 2"""))

  /** Per-group OLS trend line (daily event volume vs calendar day): the
    * closed-form least-squares slope/intercept/r² from the five
    * sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) — regression as TWO
    * map-side-combined aggregates, never an iterative solver. x is the
    * exact epoch-day integer and y the exact daily count, so every
    * sufficient statistic is an exact BIGINT on both engines; slope and
    * intercept are exact integer rationals micro-rounded ONCE at emit,
    * and r² does its single double multiply/divide in the same literal
    * order both sides. Scale shape: shuffle 1 reduces the event stream
    * to (type, day) rows — the map-side combine absorbs the 100 TB — and
    * shuffle 2 reduces days to one row per type; nothing downstream of
    * the first combine is data-sized. Degenerate groups (a single
    * distinct day: den = 0) emit zeros rather than ANSI-dividing.
    * Scale boundary (the q217/q218/q220 rule): r²'s denominator n·syy
    * with syy = Σy² of daily counts stays an exact BIGINT only while
    * days·(events/day)² < 2^63 — ~1e6 events/day over thousands of days
    * approaches the limit; at true corpus scale syy graduates to a
    * double sum (r² is already a double at emit, so the graduation
    * costs one ULP-order difference, not a semantics change). */
  private val q201 = Q(
    "q201_ols_trend",
    (s, d) => {
      def micro(num: Column, den: Column): Column =
        when(den === 0L, lit(0L))
          .otherwise(floor(num.cast("double") / den.cast("double") * 1000000 + 0.5)
            .cast("long"))
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
            .cast("long").as("x"))
        .groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("y"))
      val sums = daily.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val dy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(
        col("event_type"), col("n").as("n_days"),
        micro(num, den).as("slope_micro"),
        micro(col("sy") * col("sxx") - col("sx") * col("sxy"), den)
          .as("intercept_micro"),
        when(den === 0L || dy === 0L, lit(0L))
          .otherwise(floor(
            num.cast("double") * num.cast("double")
              / (den.cast("double") * dy.cast("double")) * 1000000 + 0.5)
            .cast("long")).as("r2_micro"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      sums AS (
        SELECT event_type,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
          CAST(sum(y*y) AS BIGINT) AS syy
        FROM daily GROUP BY 1),
      fit AS (
        SELECT event_type, n,
          n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
          sy*sxx - sx*sxy AS inum, n*syy - sy*sy AS dy
        FROM sums)
      SELECT event_type, n AS n_days,
        CASE WHEN den = 0 THEN 0
          ELSE CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) END AS slope_micro,
        CASE WHEN den = 0 THEN 0
          ELSE CAST(floor(CAST(inum AS DOUBLE) / CAST(den AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) END AS intercept_micro,
        CASE WHEN den = 0 OR dy = 0 THEN 0
          ELSE CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
            / (CAST(den AS DOUBLE) * CAST(dy AS DOUBLE))
            * 1000000 + 0.5) AS BIGINT) END AS r2_micro
      FROM fit"""))

  /** One-sided CUSUM changepoint detection over the per-type daily event
    * series — the standard sequential drift alarm (Page 1954): S_t =
    * max(0, S_{t-1} + x_t − μ), alarm when S_t exceeds h. The recursion
    * has the closed WINDOW form S_t = P_t − min(0, min_{j≤t} P_j) with
    * P_t the prefix sum of deviations — so the sequential algorithm
    * becomes two cumulative windows, no iteration. Fully EXACT integers:
    * deviations are scaled by n_days (d_t = y_t·n_days − total), so
    * prefix, running min, cusum and the alarm threshold (2·total =
    * two daily means of cumulated excess, in the same scaled units) never
    * touch a float. The windows partition by event_type over the DAILY
    * aggregate — input is bounded by types×calendar-days at any corpus
    * size (q201's daily-series shape), so the few-partition window is
    * scale-safe by construction: the corpus-sized work is the one
    * map-side-combined count shuffle. */
  private val q204 = Q(
    "q204_cusum_changepoint",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
            .cast("long").as("x"))
        .groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("y"))
      val tot = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .join(broadcast(tot), Seq("event_type"))
        .withColumn("dvn", col("y") * col("n_days") - col("total"))
        .withColumn("pfx", sum(col("dvn")).over(w))
        .withColumn("cusum_scaled",
          col("pfx") - least(lit(0L), min(col("pfx")).over(w)))
        .select(col("event_type"), col("x").as("day_epoch"), col("y"),
          col("cusum_scaled"),
          (col("cusum_scaled") > lit(2L) * col("total")).as("alarm"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_epoch,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(y) AS BIGINT) AS total
        FROM daily GROUP BY 1),
      dev AS (
        SELECT d.event_type, d.day_epoch, d.y, t.total,
          d.y * t.n_days - t.total AS dvn
        FROM daily d JOIN tot t USING (event_type)),
      pfxd AS (
        SELECT event_type, day_epoch, y, total,
          CAST(sum(dvn) OVER w AS BIGINT) AS pfx
        FROM dev
        WINDOW w AS (PARTITION BY event_type ORDER BY day_epoch
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      cum AS (
        SELECT event_type, day_epoch, y, total, pfx,
          CAST(min(pfx) OVER w AS BIGINT) AS runmin
        FROM pfxd
        WINDOW w AS (PARTITION BY event_type ORDER BY day_epoch
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_type, day_epoch, y,
        pfx - least(CAST(0 AS BIGINT), runmin) AS cusum_scaled,
        pfx - least(CAST(0 AS BIGINT), runmin) > 2 * total AS alarm
      FROM cum"""))

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data / unit-mixing detector for financial columns: a
    * naturally multi-decade positive measure follows P(d) = log10(1+1/d).
    * The digit is extracted WITHOUT floats (floor → BIGINT → string →
    * first char: exact in both engines, immune to log10 ULP divergence at
    * decade boundaries), and the nine Benford probabilities are frozen
    * micro-integer LITERALS (they sum to exactly 1,000,000) joined from a
    * 9-row values table — so expected counts are exact BIGINT products
    * and only the per-digit chi² term touches a double, micro-rounded in
    * identical textual order (q172 discipline). LEFT join from the digit
    * table keeps zero-observation digits. One hash aggregate to ≤9 rows;
    * the values side is a literal broadcast. */
  private val q205 = Q(
    "q205_benford_audit",
    (s, d) => {
      val benford = s.createDataFrame(Seq(
        (1, 301030L), (2, 176091L), (3, 124939L), (4, 96910L), (5, 79181L),
        (6, 66947L), (7, 57992L), (8, 51153L), (9, 45757L)))
        .toDF("digit", "e_micro")
      val obs = Tables.orders(s, d)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        // Benford's domain is first digits 1–9: a value in [0,1) yields
        // digit 0 and a negative yields '-' → NULL. Both must be excluded
        // from n as well as from the 9-row join, or expected_micro = n·e
        // silently over-counts and every chi² term skews. TPC-H totals
        // are always ≥900 so the fixture never hits this; the filter is
        // the general-financial-column contract, not a fixture need.
        .filter(col("digit").between(1, 9))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val total = obs.agg(sum(col("n_obs")).as("n"))
      broadcast(benford)
        .join(obs, Seq("digit"), "left")
        .join(broadcast(total))
        .select(col("digit"), col("e_micro"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          (col("n") * col("e_micro")).as("expected_micro"))
        .withColumn("chi2_term_micro",
          floor(
            (col("n_obs").cast("double")
              - col("expected_micro").cast("double") / 1000000)
            * (col("n_obs").cast("double")
              - col("expected_micro").cast("double") / 1000000)
            / (col("expected_micro").cast("double") / 1000000)
            * 1000000 + 0.5).cast("long"))
    },
    Some("""
      WITH benford(digit, e_micro) AS (VALUES
        (1, CAST(301030 AS BIGINT)), (2, 176091), (3, 124939), (4, 96910),
        (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
      obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        FROM (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
            AS VARCHAR), 1, 1) AS INT) AS digit FROM orders)
        WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
      tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
      SELECT b.digit, b.e_micro,
        COALESCE(o.n_obs, CAST(0 AS BIGINT)) AS n_obs,
        t.n * b.e_micro AS expected_micro,
        CAST(floor(
          (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
            - CAST(t.n * b.e_micro AS DOUBLE) / 1000000)
          * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
            - CAST(t.n * b.e_micro AS DOUBLE) / 1000000)
          / (CAST(t.n * b.e_micro AS DOUBLE) / 1000000)
          * 1000000 + 0.5) AS BIGINT) AS chi2_term_micro
      FROM benford b
      LEFT JOIN obs o USING (digit)
      CROSS JOIN tot t"""))

  /** RFM segmentation — the marketing-standard customer triage (recency /
    * frequency / monetary), aggregated to the score grid. Scores use
    * FIXED domain breakpoints, not ntile quantiles: quantile scoring is
    * q89/q89b's territory and a global ntile over customers is exactly
    * the few-task sort ceiling q89b exists to avoid; fixed breakpoints
    * keep the whole query two hash aggregates (orders → customer → grid
    * cell) with a 1-row broadcast anchor date and NO window at all.
    * Monetary sums are exact cents (floor(p·100+0.5) per order, BIGINT
    * sum) so threshold comparisons never depend on float summation
    * order. Output is bounded by the 5×5×5 grid at any corpus size. */
  private val q206 = Q(
    "q206_rfm_segments",
    (s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val anchor = orders.agg(max(col("od")).as("anchor"))
      val perCust = orders
        .groupBy(col("o_custkey"))
        .agg(max(col("od")).as("last_od"),
          count(lit(1)).as("n_orders"),
          sum(col("cents")).as("monetary_cents"))
        .join(broadcast(anchor))
        .withColumn("recency_days",
          datediff(col("anchor"), col("last_od")).cast("long"))
      val scored = perCust
        .withColumn("r_score",
          when(col("recency_days") <= 30, 5)
            .when(col("recency_days") <= 90, 4)
            .when(col("recency_days") <= 180, 3)
            .when(col("recency_days") <= 365, 2).otherwise(1))
        .withColumn("f_score",
          when(col("n_orders") >= 20, 5)
            .when(col("n_orders") >= 10, 4)
            .when(col("n_orders") >= 5, 3)
            .when(col("n_orders") >= 2, 2).otherwise(1))
        .withColumn("m_score",
          when(col("monetary_cents") >= 200000000L, 5)
            .when(col("monetary_cents") >= 100000000L, 4)
            .when(col("monetary_cents") >= 50000000L, 3)
            .when(col("monetary_cents") >= 10000000L, 2).otherwise(1))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4 &&
            col("m_score") >= 4, "champion")
            .when(col("r_score") >= 4 && col("f_score") <= 2, "new")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
            .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
            .otherwise("core"))
      scored.groupBy(col("r_score"), col("f_score"), col("m_score"),
          col("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary_cents")).as("total_cents"),
          sum(col("n_orders")).as("total_orders"),
          sum(col("recency_days")).as("recency_day_sum"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      anchor AS (SELECT max(od) AS anchor FROM o),
      per_cust AS (
        SELECT o_custkey, max(od) AS last_od,
          CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(cents) AS BIGINT) AS monetary_cents
        FROM o GROUP BY 1),
      scored AS (
        SELECT
          CAST(a.anchor - p.last_od AS BIGINT) AS recency_days,
          p.n_orders, p.monetary_cents,
          CASE WHEN a.anchor - p.last_od <= 30 THEN 5
            WHEN a.anchor - p.last_od <= 90 THEN 4
            WHEN a.anchor - p.last_od <= 180 THEN 3
            WHEN a.anchor - p.last_od <= 365 THEN 2 ELSE 1 END AS r_score,
          CASE WHEN p.n_orders >= 20 THEN 5
            WHEN p.n_orders >= 10 THEN 4
            WHEN p.n_orders >= 5 THEN 3
            WHEN p.n_orders >= 2 THEN 2 ELSE 1 END AS f_score,
          CASE WHEN p.monetary_cents >= 200000000 THEN 5
            WHEN p.monetary_cents >= 100000000 THEN 4
            WHEN p.monetary_cents >= 50000000 THEN 3
            WHEN p.monetary_cents >= 10000000 THEN 2 ELSE 1 END AS m_score
        FROM per_cust p CROSS JOIN anchor a),
      seg AS (
        SELECT r_score, f_score, m_score,
          CASE
            WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
              THEN 'champion'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'core' END AS segment,
          n_orders, monetary_cents, recency_days
        FROM scored)
      SELECT r_score, f_score, m_score, segment,
        count(*) AS n_customers,
        CAST(sum(monetary_cents) AS BIGINT) AS total_cents,
        CAST(sum(n_orders) AS BIGINT) AS total_orders,
        CAST(sum(recency_days) AS BIGINT) AS recency_day_sum
      FROM seg GROUP BY 1, 2, 3, 4"""))

  /** Ordered conversion funnel (view → click-after-view →
    * purchase-after-that-click) — the product-analytics staple that is NOT
    * expressible as three independent filters: each stage must happen
    * strictly AFTER the user's first completion of the previous stage.
    * The sequential scan is three chained cumulative windows over the
    * per-user event stream ordered by event_id (the catalog's canonical
    * time order — monotone with ts, exact BIGINT, immune to the ns/µs
    * parquet vintage): mv = first view so far; a click qualifies iff mv
    * exists strictly earlier (guaranteed: the cumulative min at a click
    * row only sees earlier rows); qc = first qualifying click; qp = first
    * qualifying purchase. All three windows share ONE user-hash exchange
    * and one sort — Spark chains same-partitioning Window operators with
    * no re-shuffle. Final per-user flags collapse to a single funnel row;
    * conversion ratios are micro-rounded divisions of exact counts. */
  private val q207 = Q(
    "q207_funnel",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val staged = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("mv",
          min(when(col("event_type") === "view", col("event_id"))).over(w))
        .withColumn("qc",
          min(when(col("event_type") === "click" && col("mv").isNotNull &&
            col("mv") < col("event_id"), col("event_id"))).over(w))
        .withColumn("qp",
          min(when(col("event_type") === "purchase" && col("qc").isNotNull &&
            col("qc") < col("event_id"), col("event_id"))).over(w))
      val perUser = staged.groupBy(col("user_id"))
        .agg(max(col("mv").isNotNull).as("s1"),
          max(col("qc").isNotNull).as("s2"),
          max(col("qp").isNotNull).as("s3"))
      perUser.agg(
          count(lit(1)).as("n_users"),
          sum(when(col("s1"), 1L).otherwise(0L)).as("n_view"),
          sum(when(col("s2"), 1L).otherwise(0L)).as("n_click_after_view"),
          sum(when(col("s3"), 1L).otherwise(0L)).as("n_purchase_chain"))
        .select(col("n_users"), col("n_view"), col("n_click_after_view"),
          col("n_purchase_chain"),
          // empty-stage guard: 0/0 is NaN and floor(NaN)→BIGINT crashes
          // under ANSI (q158's lesson) — emit 0 conversion instead
          when(col("n_view") === 0L, lit(0L)).otherwise(
            floor(col("n_click_after_view").cast("double")
              / col("n_view").cast("double") * 1000000 + 0.5).cast("long"))
            .as("click_conv_micro"),
          when(col("n_click_after_view") === 0L, lit(0L)).otherwise(
            floor(col("n_purchase_chain").cast("double")
              / col("n_click_after_view").cast("double") * 1000000 + 0.5)
              .cast("long")).as("purchase_conv_micro"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type FROM events),
      s1 AS (
        SELECT user_id, event_id, event_type,
          min(CASE WHEN event_type = 'view' THEN event_id END) OVER w AS mv
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s2 AS (
        SELECT user_id, event_id, event_type, mv,
          min(CASE WHEN event_type = 'click' AND mv IS NOT NULL
            AND mv < event_id THEN event_id END) OVER w AS qc
        FROM s1
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s3 AS (
        SELECT user_id, event_id, mv, qc,
          min(CASE WHEN event_type = 'purchase' AND qc IS NOT NULL
            AND qc < event_id THEN event_id END) OVER w AS qp
        FROM s2
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      per_user AS (
        SELECT user_id,
          max(mv IS NOT NULL) AS f1, max(qc IS NOT NULL) AS f2,
          max(qp IS NOT NULL) AS f3
        FROM s3 GROUP BY 1),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
          CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
          CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_click_after_view,
          CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_purchase_chain
        FROM per_user)
      SELECT n_users, n_view, n_click_after_view, n_purchase_chain,
        CASE WHEN n_view = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(n_click_after_view AS DOUBLE)
            / CAST(n_view AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END
          AS click_conv_micro,
        CASE WHEN n_click_after_view = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(n_purchase_chain AS DOUBLE)
            / CAST(n_click_after_view AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          END AS purchase_conv_micro
      FROM agg"""))

  /** Weekly retention-cohort matrix — per signup cohort (a user's first
    * active epoch-week), the share still active k weeks later: THE
    * engagement report every event warehouse serves. Exact-integer
    * week arithmetic (epoch-day // 7, no calendar functions, no
    * timestamps beyond to_date); activity first collapses to distinct
    * (user, week) — the corpus-sized shuffle, map-side combined — then
    * each user's cohort week re-aggregates from those rows and joins
    * BACK on user_id, reusing the same hash partitioning; the final
    * (cohort, offset) aggregate is bounded by weeks² cells at any corpus
    * size. Retention is a micro-rounded division of exact counts. */
  private val q208 = Q(
    "q208_retention_cohorts",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) / 7)
            .cast("long").as("week"))
        .distinct()
      // cohort week via a user-partitioned window min — no self-join; and
      // because every user HAS an offset-0 row (week == cw), cohort size
      // is exactly the offset-0 cell of the matrix itself, read back with
      // one window over the bounded (cohort, offset) grid.
      val act = uw
        .withColumn("cw", min(col("week")).over(
          Window.partitionBy(col("user_id"))))
        .groupBy(col("cw"), (col("week") - col("cw")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
      act
        .withColumn("n_cohort",
          max(when(col("week_offset") === 0L, col("n_active"))).over(
            Window.partitionBy(col("cw"))))
        .select(col("cw").as("cohort_week"), col("week_offset"),
          col("n_active"), col("n_cohort"),
          floor(col("n_active").cast("double") / col("n_cohort").cast("double")
            * 1000000 + 0.5).cast("long").as("retention_micro"))
    },
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id,
          CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT) AS week
        FROM events),
      wc AS (
        SELECT user_id, week,
          min(week) OVER (PARTITION BY user_id) AS cw
        FROM uw),
      act AS (
        SELECT cw, week - cw AS week_offset,
          CAST(count(*) AS BIGINT) AS n_active
        FROM wc GROUP BY 1, 2),
      sized AS (
        SELECT cw, week_offset, n_active,
          CAST(max(CASE WHEN week_offset = 0 THEN n_active END)
            OVER (PARTITION BY cw) AS BIGINT) AS n_cohort
        FROM act)
      SELECT cw AS cohort_week, week_offset, n_active, n_cohort,
        CAST(floor(CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE)
          * 1000000 + 0.5) AS BIGINT) AS retention_micro
      FROM sized"""))

  /** First-order Markov transition matrix over per-user event streams —
    * the sequence model behind next-action prediction, anomaly scoring
    * and session simulation, and the generative companion to q207's
    * funnel (which asks about ONE path; this estimates all of them). The
    * corpus-sized work is a single lag window per user (one user-hash
    * exchange, same as q207) collapsing to |types|² transition cells;
    * everything after runs on that bounded table: row totals and the
    * per-row entropy come from windows PARTITIONED by prev_type over the
    * cells, never a corpus shuffle. Number discipline: counts are exact
    * BIGINTs; p_micro is one rounded division of exact counts; the
    * per-state entropy sums per-CELL micro-rounded −p·ln p terms (the q69
    * round-before-sum move), so the window sum is exact integer
    * arithmetic and no float summation order exists. */
  private val q211 = Q(
    "q211_markov_transitions",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
      val cells = pairs
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val wr = Window.partitionBy(col("prev_type"))
      val p = col("n").cast("double") / col("row_total").cast("double")
      cells
        .withColumn("row_total", sum(col("n")).over(wr))
        .withColumn("p_micro",
          floor(p * 1000000 + 0.5).cast("long"))
        .withColumn("ent_term",
          floor(-p * log(p) * 1000000 + 0.5).cast("long"))
        .withColumn("row_entropy_micro", sum(col("ent_term")).over(wr))
        .select(col("prev_type"), col("next_type"), col("n"),
          col("row_total"), col("p_micro"), col("row_entropy_micro"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type FROM events),
      p AS (
        SELECT user_id, event_type AS next_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
            AS prev_type
        FROM ev),
      cells AS (
        SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      rt AS (
        SELECT prev_type, next_type, n,
          CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total
        FROM cells),
      terms AS (
        SELECT prev_type, next_type, n, row_total,
          CAST(floor(CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS p_micro,
          CAST(floor(-(CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE))
            * ln(CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE))
            * 1000000 + 0.5) AS BIGINT) AS ent_term
        FROM rt)
      SELECT prev_type, next_type, n, row_total, p_micro,
        CAST(sum(ent_term) OVER (PARTITION BY prev_type) AS BIGINT)
          AS row_entropy_micro
      FROM terms"""))

  /** Kaplan–Meier survival estimate for time-to-first-purchase — the
    * right-censoring-aware "how long until conversion" curve a naive
    * mean-of-converted-users biases: users who never purchase inside the
    * observation window are CENSORED at the corpus horizon, not dropped.
    * Time arithmetic is wall-clock epoch-hour integers built from the
    * q204-proven cast-to-date form (day·24 + hour — no epoch/zone
    * conversion, immune to the ns/µs parquet vintage). Shape: one scan
    * feeds one per-user aggregate (first event, first purchase, last
    * event), the only corpus-sized shuffle. Users are then counted by
    * (death, key) — the duration for a death, the start hour for a
    * censored user — carrying the latest event hour: ≤ 2 × the
    * observation span in hours rows at any corpus size (its exchange
    * carries map-side partial counts, at most that many per partition),
    * coalesced to one partition. On it, with no further exchange, the
    * horizon is a window maximum over the whole frame, a censored
    * duration is horizon − start, and the regroup by duration gives the
    * GRID, where the at-risk counts are a reverse cumulative window and
    * the survival curve a forward one (bounded-input global windows,
    * q195's spine discipline). The curve itself is the cumulative sum of
    * per-time micro-rounded −ln((n−d)/n) terms — exact BIGINT after one
    * rounding per grid row, monotone, and exp-free (no cross-engine pow).
    * A survival-zero row (d = n at the last death time) would be −ln 0:
    * capped at 13,815,511 micro ≡ −ln 1e-6, documented, ANSI-safe
    * (q158's floor(Inf) lesson). Output: one row per death time. */
  private val q212 = Q(
    "q212_survival_km",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        (datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long") * 24 + hour(col("ts")).cast("long")).as("h"))
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("h")).as("h0"),
        min(when(col("event_type") === "purchase", col("h"))).as("hp"),
        max(col("h")).as("hm"))
      // a censored user's duration needs the horizon, so it is keyed by
      // its start hour until the horizon is known
      val death = col("hp").isNotNull
      val byKey = perUser
        .groupBy(death.as("death"),
          when(death, col("hp") - col("h0")).otherwise(col("h0")).as("key"))
        .agg(count(lit(1)).as("n"), max(col("hm")).as("hm"))
        .coalesce(1)
      val byT = byKey
        .withColumn("hmax", max(col("hm")).over(Window.partitionBy()))
        .groupBy(when(col("death"), col("key"))
          .otherwise(col("hmax") - col("key")).as("t"))
        .agg(
          sum(when(col("death"), col("n")).otherwise(0L)).as("d"),
          sum(when(!col("death"), col("n")).otherwise(0L)).as("c"))
      val wRev = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wFwd = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT
        .withColumn("n_risk", sum(col("d") + col("c")).over(wRev))
        .withColumn("term",
          when(col("d") === 0L, lit(0L))
            .when(col("d") === col("n_risk"), lit(13815511L))
            .otherwise(floor(-log(
              (col("n_risk") - col("d")).cast("double")
                / col("n_risk").cast("double")) * 1000000 + 0.5)
              .cast("long")))
        .withColumn("neg_log_surv_micro", sum(col("term")).over(wFwd))
        .filter(col("d") > 0L)
        .select(col("t"), col("d"), col("c"), col("n_risk"),
          col("neg_log_surv_micro"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) * 24
            + CAST(hour(ts) AS BIGINT) AS h
        FROM events),
      per_user AS (
        SELECT user_id, min(h) AS h0,
          min(CASE WHEN event_type = 'purchase' THEN h END) AS hp
        FROM ev GROUP BY 1),
      horizon AS (SELECT max(h) AS hmax FROM ev),
      obs AS (
        SELECT
          CASE WHEN hp IS NOT NULL THEN hp - h0 ELSE hmax - h0 END AS t,
          hp IS NOT NULL AS death
        FROM per_user CROSS JOIN horizon),
      by_t AS (
        SELECT t,
          CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS d,
          CAST(sum(CASE WHEN death THEN 0 ELSE 1 END) AS BIGINT) AS c
        FROM obs GROUP BY 1),
      risk AS (
        SELECT t, d, c,
          CAST(sum(d + c) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_risk
        FROM by_t),
      terms AS (
        SELECT t, d, c, n_risk,
          CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
            WHEN d = n_risk THEN CAST(13815511 AS BIGINT)
            ELSE CAST(floor(-ln(CAST(n_risk - d AS DOUBLE)
              / CAST(n_risk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
          END AS term
        FROM risk),
      curve AS (
        -- the cumulative sum must run over ALL grid rows (censor-only
        -- rows contribute term=0 but still order the frame) BEFORE the
        -- death-time filter — WHERE in the same SELECT would filter first
        SELECT t, d, c, n_risk,
          CAST(sum(term) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS neg_log_surv_micro
        FROM terms)
      SELECT t, d, c, n_risk, neg_log_surv_micro
      FROM curve WHERE d > 0"""))

  private[queries] val all: Seq[Q] = Seq(
    q67, q68, q69, q70, q71, q72, q73, q74,
    q75, q76, q77, q78, q79, q81, q82, q80,
    q83, q84, q85, q86, q87, q88, q89, q90,
    q91, q92, q93, q94, q95, q96, q97, q98,
    q99, q183, q193, q201, q204, q205, q206, q207, q208,
    q211, q212)
}
