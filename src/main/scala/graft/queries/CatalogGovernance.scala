package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, BpeMergesArtifact, Core, RefFunctions => F}
import graft.sources.Tables

import Shared._

/** Governance + training ops: MI, SCD2, k-anon, BPE, inference, augmentation, incremental agg. Split from the single-file catalog in round 8;
  * query text unchanged. Registration stays in [[QueryCatalog.all]]. */
private[queries] object CatalogGovernance {


  /** Mutual information + chi-squared independence between two
    * categorical columns (lang × source) from ONE contingency table — the
    * dependence diagnostic behind stratification choices: MI ≈ 0 says the
    * columns stratify independently, high Cramér's V says a per-source
    * language audit is redundant. Exact BIGINT cell/margin counts; each
    * per-cell MI/chi² term is one closed-form double in identical textual
    * order both engines, nano-rounded BEFORE the sum (q117/q150
    * discipline), so no float summation order exists. Three keyed
    * aggregates + two broadcast-size margin joins; at 100 TB the shuffle
    * carries one row per (lang, source) cell. */
  private val q172 = Q(
    "q172_mutual_information",
    (s, d) => {
      val cells = Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_ls"))
      val byLang = cells.groupBy(col("lang")).agg(sum(col("n_ls")).as("n_l"))
      val bySrc = cells.groupBy(col("source")).agg(sum(col("n_ls")).as("n_s"))
      val total = cells.agg(
        sum(col("n_ls")).as("n"),
        countDistinct(col("lang")).as("k_l"),
        countDistinct(col("source")).as("k_s"))
      val t = cells
        .join(broadcast(byLang), Seq("lang"))
        .join(broadcast(bySrc), Seq("source"))
        .join(broadcast(total))
        .withColumn("e", col("n_l").cast("double") * col("n_s") / col("n"))
        .select(
          col("n"), col("k_l"), col("k_s"),
          floor((col("n_ls").cast("double") / col("n")) *
            log(col("n_ls").cast("double") * col("n") /
              (col("n_l").cast("double") * col("n_s"))) * 1e9 + 0.5)
            .cast("long").as("mi_t"),
          floor((col("n_ls").cast("double") - col("e")) *
            (col("n_ls").cast("double") - col("e")) / col("e") * 1e9 + 0.5)
            .cast("long").as("chi_t"))
      t.groupBy(col("n"), col("k_l"), col("k_s"))
        .agg(sum(col("mi_t")).as("mi_sum"), sum(col("chi_t")).as("chi_sum"))
        .select(
          col("n"),
          r(col("mi_sum").cast("double") / 1e9, 6).as("mi_nats"),
          r(col("chi_sum").cast("double") / 1e9, 4).as("chi2"),
          ((col("k_l") - 1) * (col("k_s") - 1)).as("dof"),
          r(sqrt((col("chi_sum").cast("double") / 1e9) /
            (col("n").cast("double") * least(col("k_l") - 1, col("k_s") - 1))), 6)
            .as("cramers_v"))
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ls
        FROM documents GROUP BY 1, 2),
      by_lang AS (
        SELECT lang, CAST(sum(n_ls) AS BIGINT) AS n_l FROM cells GROUP BY 1),
      by_src AS (
        SELECT source, CAST(sum(n_ls) AS BIGINT) AS n_s FROM cells GROUP BY 1),
      tot AS (
        SELECT CAST(sum(n_ls) AS BIGINT) AS n,
          CAST(count(DISTINCT lang) AS BIGINT) AS k_l,
          CAST(count(DISTINCT source) AS BIGINT) AS k_s
        FROM cells),
      t AS (
        SELECT n, k_l, k_s,
          CAST(floor((n_ls::DOUBLE / n) *
            ln(n_ls::DOUBLE * n / (n_l::DOUBLE * n_s)) * 1e9 + 0.5) AS BIGINT)
            AS mi_t,
          CAST(floor((n_ls::DOUBLE - n_l::DOUBLE * n_s / n) *
            (n_ls::DOUBLE - n_l::DOUBLE * n_s / n)
            / (n_l::DOUBLE * n_s / n) * 1e9 + 0.5) AS BIGINT) AS chi_t
        FROM cells
        JOIN by_lang USING (lang)
        JOIN by_src USING (source)
        CROSS JOIN tot)
      SELECT n,
        floor(CAST(sum(mi_t) AS BIGINT)::DOUBLE / 1e9 * 1000000 + 0.5)
          / 1000000 AS mi_nats,
        floor(CAST(sum(chi_t) AS BIGINT)::DOUBLE / 1e9 * 10000 + 0.5)
          / 10000 AS chi2,
        (k_l - 1) * (k_s - 1) AS dof,
        floor(sqrt((CAST(sum(chi_t) AS BIGINT)::DOUBLE / 1e9)
              / (n::DOUBLE * least(k_l - 1, k_s - 1))) * 1000000 + 0.5)
          / 1000000 AS cramers_v
      FROM t GROUP BY n, k_l, k_s"""))

  /** SCD2 history construction (Core.scd2): two yearly per-priority
    * snapshots become the version-interval table a warehouse keeps — the
    * historized form of q70's change rows. The snapshots deliberately
    * disagree on key coverage ('5-LOW' retired from the old year,
    * '1-URGENT' absent from the new) so every SCD2 row shape is real:
    * closed-with-successor (update), closed-without (delete), open
    * unchanged, open inserted. One full-outer shuffle on the key; the
    * Delta deployment of this is MERGE-with-history. */
  private val q173 = Q(
    "q173_scd2_history",
    (s, d) => {
      def snap(year: Int, dropPriority: String) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(f"$year-01-01")) &&
          col("o_orderdate") < to_timestamp(lit(f"${year + 1}-01-01")) &&
          col("o_orderpriority") =!= dropPriority)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      Core.scd2(
        snap(1995, "5-LOW"), snap(1996, "1-URGENT"),
        keys = Seq("o_orderpriority"), compareCols = Seq("n_orders"),
        oldVersion = "1995", newVersion = "1996")
    },
    Some("""
      WITH o AS (
        SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND o_orderpriority <> '5-LOW'
        GROUP BY 1),
      n AS (
        SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND o_orderpriority <> '1-URGENT'
        GROUP BY 1),
      j AS (
        SELECT coalesce(o.o_orderpriority, n.o_orderpriority) AS k,
          o.n_orders AS o_n, n.n_orders AS n_n,
          o.o_orderpriority IS NOT NULL AS has_o,
          n.o_orderpriority IS NOT NULL AS has_n,
          (o.n_orders IS DISTINCT FROM n.n_orders) AS chg
        FROM o FULL JOIN n ON o.o_orderpriority = n.o_orderpriority)
      SELECT k AS o_orderpriority, o_n AS n_orders,
        '1995' AS valid_from, '1996' AS valid_to
      FROM j WHERE has_o AND (NOT has_n OR chg)
      UNION ALL
      SELECT k, o_n, '1995', NULL FROM j WHERE has_o AND has_n AND NOT chg
      UNION ALL
      SELECT k, n_n, '1996', NULL FROM j WHERE has_n AND (NOT has_o OR chg)"""))

  /** Nested (telescoping) corpus subsets for scaling-law runs: ONE
    * md5-uniform per doc yields 1% ⊂ 10% ⊂ 100% tiers simultaneously —
    * the 1% set is a true subset of the 10% set by construction (same
    * hash, nested thresholds), so per-scale training runs are comparable.
    * A fresh draw per tier would break nesting AND reproducibility; this
    * is q47's hash-sampling discipline extended to telescoping tiers.
    * Pure map-side, zero shuffle. */
  private val q174 = Q(
    "q174_nested_subsets",
    (s, d) => {
      val u = graft.ops.Corpus.uniformHash(col("doc_id"), "graft-tiers")
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        when(u < 0.01, lit(1)).when(u < 0.1, lit(10)).otherwise(lit(100))
          .as("smallest_tier_pct"))
    },
    Some("""
      WITH u AS (
        SELECT doc_id, lang,
          (('0x' || substr(md5(doc_id::VARCHAR || 'graft-tiers'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uh
        FROM documents)
      SELECT doc_id, lang,
        CAST(CASE WHEN uh < 0.01 THEN 1 WHEN uh < 0.1 THEN 10 ELSE 100 END
          AS INT) AS smallest_tier_pct
      FROM u"""))

  /** k-anonymity audit over quasi-identifiers — the privacy gate beside
    * q52's PII redaction: redaction removes direct identifiers, but a
    * (lang, source, length-bucket) combination occurring in < k documents
    * can still single someone out on release. One exact hash aggregate
    * flags every sub-k group and sizes the suppression cost (how many
    * docs a k-anonymous release must drop or generalize). At 100 TB the
    * shuffle carries one row per QI combination. */
  private val q175 = Q(
    "q175_k_anonymity",
    (s, d) => {
      val k = 5
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 100).cast("int").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("k_anonymous", col("n_docs") >= k)
        .withColumn("suppressed_docs",
          when(col("n_docs") < k, col("n_docs")).otherwise(lit(0L)))
    },
    Some("""
      SELECT lang, source,
        CAST(n_chars // 100 AS INT) AS len_bucket,
        count(*) AS n_docs,
        count(*) >= 5 AS k_anonymous,
        CASE WHEN count(*) < 5 THEN count(*) ELSE 0 END AS suppressed_docs
      FROM documents
      GROUP BY 1, 2, 3"""))

  /** BPE-style merge training as iterative dataflow: 3 rounds of
    * (count adjacent token pairs → argmax with deterministic tiebreak →
    * greedy left-to-right merge), the core loop of tokenizer training
    * (Sennrich et al. 2016) run corpus-wide on the engine. The merge
    * APPLICATION is the trick: docs live as '|tok||tok|'-delimited
    * strings, so one literal `replace('|a||b|' → '|a+b|')` IS the greedy
    * non-overlapping left-to-right merge — both engines' replace has
    * exactly those semantics (validated against an imperative reference).
    * [[graft.ops.Bpe.train]] checkpoints the encoded corpus once and runs
    * one pair-count aggregate and 1-row collect per round over the merge
    * chain so far; the `tokens_after` of every round then comes from one
    * aggregate over that checkpoint. Output: the learned merges (3 unless
    * the corpus runs out of pairs first) with pair counts and the corpus
    * token count after each round. */
  private val q176 = Q(
    "q176_bpe_merges",
    (s, d) => {
      val (corpus, merges) = Bpe.train(Bpe.encode(Tables.documents(s, d)), 3)
      require(merges.nonEmpty, "q176: the corpus has no adjacent token pair")
      val rounds = merges.zipWithIndex.map { case ((a, b, n), r) =>
        struct(lit(r + 1).as("round"), lit(a).as("left_tok"), lit(b).as("right_tok"),
          lit(n).as("pair_count"),
          sum(size(Bpe.tokens(Bpe.merged(col("s"), merges.take(r + 1)))).cast("long"))
            .as("tokens_after"))
      }
      corpus.agg(array(rounds: _*).as("r")).select(inline(col("r")))
    },
    Some {
      def round(src: String, i: Int) = s"""p$i AS (
        SELECT u.p.a AS a, u.p.b AS b, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(t)),
            i -> struct_pack(a := t[i], b := t[i+1]))) AS p
          FROM (SELECT string_split(trim(s, '|'), '||') AS t FROM $src)) u
        GROUP BY 1, 2),
      w$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a ASC, b ASC LIMIT 1),
      r$i AS (
        SELECT doc_id, replace(s, '|' || w$i.a || '||' || w$i.b || '|',
                                  '|' || w$i.a || '+' || w$i.b || '|') AS s
        FROM $src CROSS JOIN w$i),
      a$i AS (SELECT CAST(sum(len(string_split(trim(s, '|'), '||'))) AS BIGINT)
                AS tokens_after FROM r$i)"""
      s"""
      WITH r0 AS (
        SELECT doc_id,
          '|' || array_to_string(list_filter(string_split(text, ' '),
            x -> x <> '' AND NOT contains(x, '|') AND NOT contains(x, '+')),
            '||') || '|' AS s
        FROM documents),
      ${round("r0", 1)},
      ${round("r1", 2)},
      ${round("r2", 3)}
      SELECT CAST(1 AS INT) AS round, a AS left_tok, b AS right_tok,
        n AS pair_count, tokens_after FROM w1 CROSS JOIN a1
      UNION ALL SELECT 2, a, b, n, tokens_after FROM w2 CROSS JOIN a2
      UNION ALL SELECT 3, a, b, n, tokens_after FROM w3 CROSS JOIN a3"""
    })

  /** Batch model inference in the engine: a frozen logistic-regression
    * head scored over the embedding column — the quality-classifier
    * serving shape every curation stack runs (FineWeb-style classifier
    * sweeps). The model IS data: 64 weights + bias as literals folded
    * into the codegen'd vec_dot (the frozen-artifact discipline of
    * q137b/q164 — deterministic seedless weights here, since the point is
    * the serving shape, not the fit). Map-side score + sigmoid, top-20 by
    * raw score with the unique tiebreak → TakeOrderedAndProject; no
    * shuffle other than the top-k. The twin evaluates the identical
    * literals through list_dot_product. */
  private val q177 = {
    // deterministic pseudo-random weights, same derivation style as
    // Similarity.planes (seedless function of (j, tag) — reproducible)
    val w = Array.tabulate(64) { j =>
      (scala.util.hashing.MurmurHash3.productHash((j, "graft-linear")) % 1000) / 1000.0
    }
    val bias = -0.1
    Q(
      "q177_linear_scoring",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        val z = graft.functions.VectorDot.vec_dot(
          transform(col("embedding"), x => x.cast("double")),
          array(w.map(lit).toIndexedSeq: _*)) + lit(bias)
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            (lit(1.0) / (lit(1.0) + exp(-z))).as("sc"))
          .orderBy(col("sc").desc, col("vec_id").asc)
          .limit(20)
          .select(col("vec_id"), col("label"), r(col("sc"), 6).as("score"))
      },
      Some(s"""
      WITH s AS (
        SELECT vec_id, label,
          1.0 / (1.0 + exp(-(list_dot_product(embedding::DOUBLE[],
            ${w.map(_.toString).mkString("[", ", ", "]")}) + $bias))) AS sc
        FROM embeddings)
      SELECT vec_id, label, floor(sc * 1000000 + 0.5) / 1000000 AS score
      FROM s ORDER BY sc DESC, vec_id ASC LIMIT 20"""))
  }

  /** Deterministic data augmentation (token dropout): each (doc, position)
    * draws its own md5-uniform, positions under the 10% rate drop, and the
    * augmented text is fingerprinted — reproducible augmentation, the
    * property `rand()`-based dropout can never give (same augmented corpus
    * on any engine, any run, any retry; the q47 hash-sampling discipline
    * at token granularity). Pure map-side HOF algebra on the Spark side
    * (indexed filter lambda), zero shuffle. */
  private val q178 = Q(
    "q178_token_dropout",
    (s, d) => {
      def u(pos: Column) = conv(substring(
        md5(concat(col("doc_id"), lit("-"), pos, lit("-aug"))), 1, 15), 16, 10)
        .cast("long").cast("double") / lit(1152921504606846976L).cast("double")
      val toks = split(col("text"), " ")
      val kept = filter(toks, (_, i) => u(i) >= 0.1)
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_orig"),
        size(kept).as("n_kept"),
        conv(substring(md5(array_join(kept, " ")), 1, 15), 16, 10)
          .cast("long").as("aug_fingerprint"))
    },
    Some("""
      WITH ex AS (
        SELECT doc_id,
          unnest(range(len(string_split(text, ' ')))) AS pos,
          unnest(string_split(text, ' ')) AS tok,
          len(string_split(text, ' ')) AS n_orig
        FROM documents),
      flagged AS (
        SELECT doc_id, n_orig, pos, tok,
          (('0x' || substr(md5(doc_id::VARCHAR || '-' || pos::VARCHAR || '-aug'), 1, 15))::BIGINT)::DOUBLE
              / 1152921504606846976 >= 0.1 AS keep
        FROM ex)
      -- string_agg skips the CASE's NULLs, so a doc whose every token
      -- drops still emits a row (empty-string fingerprint), matching the
      -- Spark side's always-present filter result
      SELECT doc_id, CAST(any_value(n_orig) AS INT) AS n_orig,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
        ('0x' || substr(md5(coalesce(
          string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY pos), '')), 1, 15))::BIGINT
          AS aug_fingerprint
      FROM flagged GROUP BY doc_id"""))

  /** Approximate-operator METROLOGY inside the engine: q21's MinHash-LSH
    * candidate generation evaluated against exact SHINGLE-Jaccard ground
    * truth — TP/FP/FN, recall and precision as one query. This is how a
    * 100 TB pipeline certifies banding parameters before a full run:
    * truth by all-pairs on an ABSOLUTELY bounded deterministic sample —
    * the rate is derived from the corpus count to target ~100 docs at
    * ANY scale (proportional sampling would quietly turn the truth join
    * quadratic as the corpus grows; measured 41.7 s at sf0.1 before this
    * bound, 1-2 s after), candidates
    * by the production banding, both exact integers. The fixture has
    * almost no natural shingle-level near-dups, so the sample is AUGMENTED
    * with deterministic mutated twins (every 13th token dropped → planted
    * pairs at shingle-Jaccard ≈ 0.63, exactly the regime 4×4 banding is
    * supposed to catch about half of — the measured recall says whether
    * the parameters deliver). Truth is measured (all pairs ≥ 0.5), never
    * assumed from the planting. The twin recomputes the identical md5
    * minhash algebra. */
  private val q179 = Q(
    "q179_lsh_quality",
    (s, d) => {
      val M = 2147483647L
      def hexint(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val total = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
      val sampled = Tables.documents(s, d)
        .crossJoin(broadcast(total))
        .filter(graft.ops.Corpus.uniformHash(col("doc_id"), "lsh-eval") <
          least(lit(0.2), lit(100.0) / col("n_total")))
        .select(col("doc_id"), col("text"))
      val variants = sampled.select(
        (col("doc_id") + 1000000000L).as("doc_id"),
        array_join(filter(split(col("text"), " "),
          (_, i) => i % 13 =!= 0), " ").as("text"))
      // localCheckpoint (round-13): the ~100-doc metrology sample fans
      // out to the truth self-join (both sides), the minhash pipeline,
      // and the recall joins — the static plan re-derived the sampled
      // slice (full documents scan + count broadcast) 20+ times. Cut
      // the bounded corpus once per invocation.
      val corpus = sampled.unionAll(variants).localCheckpoint(true)
      val toks = split(col("text"), " ")
      def shingleSet(tks: Column) = array_distinct(transform(
        sequence(lit(1), size(tks) - 2),
        i => concat_ws(" ", element_at(tks, i),
          element_at(tks, i + 1), element_at(tks, i + 2))))
      // exact ground truth: all pairs on the bounded corpus, shingle
      // Jaccard >= 0.5 (what MinHash actually estimates)
      val tokset = corpus.filter(size(toks) >= 3)
        .select(col("doc_id"), shingleSet(toks).as("ts"))
      val jac = size(array_intersect(col("a.ts"), col("b.ts"))).cast("double") /
        size(array_union(col("a.ts"), col("b.ts")))
      val truth = tokset.as("a").join(tokset.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (jac >= 0.5).as("is_dup"))
      // production candidates: q21's 16-minhash / 4-band bucketing
      val shingleRows = corpus
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))).as("sh"))
        .select(col("doc_id"), (hexint(col("sh")) % M).as("h"))
      val minCols = (0 until 16).map(seed =>
        min((col("h") * (seed * 2 + 1) + seed * 1000003L) % M).as(s"m$seed"))
      val banded = shingleRows.groupBy(col("doc_id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"), array((0 until 16).map(i => col(s"m$i")): _*).as("mh"))
        .select(col("doc_id"), explode(transform(sequence(lit(0), lit(3)), b => struct(
          b.as("band_id"),
          md5(array_join(transform(slice(col("mh"), b * 4 + 1, lit(4)),
            x => x.cast("string")), "|")).as("band_hash")))).as("band"))
        .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
      val cand = banded.groupBy(col("band_id"), col("band_hash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(flatten(transform(
          sequence(lit(1), size(col("ids")) - 1),
          i => transform(
            sequence(i + 1, size(col("ids"))),
            j => struct(
              element_at(col("ids"), i).as("doc_a"),
              element_at(col("ids"), j).as("doc_b")))))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b")).distinct()
        .withColumn("is_cand", lit(true))
      truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .select(
          coalesce(col("is_dup"), lit(false)).as("is_dup"),
          coalesce(col("is_cand"), lit(false)).as("is_cand"))
        .agg(
          sum(when(col("is_dup") && col("is_cand"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("is_dup") && col("is_cand"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("is_dup") && !col("is_cand"), 1L).otherwise(0L)).as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          r(col("tp").cast("double") /
            greatest(col("tp") + col("fn"), lit(1L)), 6).as("recall"),
          r(col("tp").cast("double") /
            greatest(col("tp") + col("fp"), lit(1L)), 6).as("precision"))
    },
    Some("""
      WITH sampled AS (
        SELECT doc_id, text FROM documents
        WHERE (('0x' || substr(md5(doc_id::VARCHAR || 'lsh-eval'), 1, 15))::BIGINT)::DOUBLE
              / 1152921504606846976
              < least(0.2, 100.0 / (SELECT count(*) FROM documents))),
      variants AS (
        SELECT doc_id + 1000000000 AS doc_id,
          array_to_string(list_filter(string_split(text, ' '),
            (x, i) -> (i - 1) % 13 <> 0), ' ') AS text
        FROM sampled),
      corpus AS (SELECT * FROM sampled UNION ALL SELECT * FROM variants),
      tokset AS (
        SELECT doc_id,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ts
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
        WHERE len(toks) >= 3),
      truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          (len(list_intersect(a.ts, b.ts))::DOUBLE
           / len(list_distinct(list_concat(a.ts, b.ts)))) >= 0.5 AS is_dup
        FROM tokset a JOIN tokset b ON a.doc_id < b.doc_id),
      sh AS (
        SELECT doc_id, toks,
          list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
        WHERE len(toks) >= 3),
      m AS (
        SELECT doc_id,
          list_transform(range(0, 16), seed ->
            list_min(list_transform(shingles, sg ->
              ((('0x' || substr(md5(sg), 1, 15))::BIGINT % 2147483647)
               * (seed*2 + 1) + seed*1000003) % 2147483647))) AS mh
        FROM sh),
      banded AS (
        SELECT doc_id, b.band_id,
          md5(array_to_string(list_transform(mh[b.band_id*4+1 : b.band_id*4+4],
            x -> x::VARCHAR), '|')) AS band_hash
        FROM m, (SELECT unnest([0,1,2,3]) AS band_id) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, true AS is_cand
        FROM banded a JOIN banded b2
          ON a.band_id = b2.band_id AND a.band_hash = b2.band_hash
         AND a.doc_id < b2.doc_id),
      j AS (
        SELECT coalesce(t.is_dup, false) AS is_dup,
          coalesce(c.is_cand, false) AS is_cand
        FROM truth t FULL JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
      SELECT
        CAST(sum(CASE WHEN is_dup AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN NOT is_dup AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN is_dup AND NOT is_cand THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        floor(sum(CASE WHEN is_dup AND is_cand THEN 1 ELSE 0 END)::DOUBLE
              / greatest(sum(CASE WHEN is_dup THEN 1 ELSE 0 END), 1)
              * 1000000 + 0.5) / 1000000 AS recall,
        floor(sum(CASE WHEN is_dup AND is_cand THEN 1 ELSE 0 END)::DOUBLE
              / greatest(sum(CASE WHEN is_cand THEN 1 ELSE 0 END), 1)
              * 1000000 + 0.5) / 1000000 AS precision
      FROM j"""))

  /** q89's exact equi-depth histogram WITHOUT the 3-task ceiling: the
    * sf3 probe measured q89 at 4.3× for 3× data because ntile's window
    * partitions by the 3-value returnflag — parallelism caps at 3 and
    * each task sorts n/3 rows. Since round 10 the shared plan
    * (Shared.equidepthHistogram) is a COUNTING SORT over the value
    * domain: one map-side-combined hash aggregate to the (flag, price)
    * histogram, a static coarse grid + two bounded windows recover each
    * distinct value's exact global rank, and ntile's remainder-first
    * buckets fall out of closed-form overlap arithmetic — no RDD, no
    * zipWithIndex, whole-stage codegen end to end (the round-9
    * range-exchange + zipWithIndex form this replaces measured 10.9× at
    * the sf10 decade, its count-pass job being the residual; it is
    * pinned row-identical in EquidepthSpec). Row-identical to the
    * retired ntile plan by construction — the oracle is the SAME ntile
    * SQL — so the scalable plan is proven, not argued. The row stays
    * because the driver record tracks both names. */
  private val q89b = Q(
    "q89b_equidepth_scalable",
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

  /** Incremental aggregate maintenance: yesterday's per-key aggregate
    * state plus today's CDC rows produce today's aggregate WITHOUT
    * rescanning the base — the materialized-view maintenance identity
    * (agg_new = agg_old + Σinserts − Σdeletes per key) that makes daily
    * 100 TB rollups O(changes), not O(corpus). Old/new snapshots are
    * carved from orders by modulus so both real deletes and real inserts
    * exist; the ORACLE IS THE FULL RECOMPUTE over the new snapshot, so a
    * green row proves increment ≡ recompute exactly. Works for the
    * self-inverting aggregates (count, sum — exact BIGINT cents here);
    * min/max are NOT incrementally maintainable under deletes and are
    * deliberately absent (that is what the q154-style sketch partials or
    * a recompute handle). */
  private val q180 = Q(
    "q180_incremental_agg",
    (s, d) => {
      val orders = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val oldSnap = orders.filter(col("o_orderkey") % 3 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 5 =!= 0)
      val oldAgg = oldSnap.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      // CDC between the snapshots: rows leaving = deletes, arriving = inserts
      val deletes = oldSnap.join(newSnap.select(col("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      val inserts = newSnap.join(oldSnap.select(col("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      val delta = deletes.select(col("o_orderpriority"),
          lit(-1L).as("dn"), (-col("cents")).as("dc"))
        .unionAll(inserts.select(col("o_orderpriority"),
          lit(1L).as("dn"), col("cents").as("dc")))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
      oldAgg.join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("total_cents"))
        .filter(col("n_orders") > 0)
    },
    Some("""
      SELECT o_orderpriority,
        count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          AS total_cents
      FROM orders
      WHERE o_orderkey % 5 <> 0
      GROUP BY 1"""))

  /** Temporal (point-in-time) lookup against the q173 SCD2 history — the
    * CONSUMER side of versioning: each fact row joins the dimension
    * version that was valid AT ITS TIME (valid_from ≤ t < valid_to,
    * open-ended for current), the join feature stores call "time travel"
    * and ML pipelines need to avoid label leakage. The history is tiny
    * (versions × keys) so the interval predicate rides a broadcast; the
    * fact table never shuffles. Output: facts per (priority, version)
    * with the version's recorded state — proving each fact matched
    * exactly one version. */
  private val q181 = Q(
    "q181_temporal_lookup",
    (s, d) => {
      def snap(year: Int, dropPriority: String) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(f"$year-01-01")) &&
          col("o_orderdate") < to_timestamp(lit(f"${year + 1}-01-01")) &&
          col("o_orderpriority") =!= dropPriority)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      val history = Core.scd2(
        snap(1995, "5-LOW"), snap(1996, "1-URGENT"),
        keys = Seq("o_orderpriority"), compareCols = Seq("n_orders"),
        oldVersion = "1995", newVersion = "1996")
      val facts = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_orderpriority"), year(col("o_orderdate")).cast("string").as("yr"))
      facts.as("f").join(broadcast(history.as("h")),
          col("f.o_orderpriority") === col("h.o_orderpriority") &&
            col("f.yr") >= col("h.valid_from") &&
            (col("h.valid_to").isNull || col("f.yr") < col("h.valid_to")))
        .groupBy(col("f.o_orderpriority").as("o_orderpriority"),
          col("h.valid_from").as("valid_from"),
          col("h.n_orders").as("version_state"))
        .agg(count(lit(1)).as("n_facts"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND o_orderpriority <> '5-LOW'
        GROUP BY 1),
      n AS (
        SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND o_orderpriority <> '1-URGENT'
        GROUP BY 1),
      j AS (
        SELECT coalesce(o.o_orderpriority, n.o_orderpriority) AS k,
          o.n_orders AS o_n, n.n_orders AS n_n,
          o.o_orderpriority IS NOT NULL AS has_o,
          n.o_orderpriority IS NOT NULL AS has_n,
          (o.n_orders IS DISTINCT FROM n.n_orders) AS chg
        FROM o FULL JOIN n ON o.o_orderpriority = n.o_orderpriority),
      history AS (
        SELECT k, o_n AS n_orders, '1995' AS valid_from, '1996' AS valid_to
        FROM j WHERE has_o AND (NOT has_n OR chg)
        UNION ALL
        SELECT k, o_n, '1995', NULL FROM j WHERE has_o AND has_n AND NOT chg
        UNION ALL
        SELECT k, n_n, '1996', NULL FROM j WHERE has_n AND (NOT has_o OR chg)),
      facts AS (
        SELECT o_orderpriority, CAST(year(o_orderdate) AS VARCHAR) AS yr
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01')
      SELECT f.o_orderpriority, h.valid_from,
        h.n_orders AS version_state, count(*) AS n_facts
      FROM facts f JOIN history h
        ON f.o_orderpriority = h.k
       AND f.yr >= h.valid_from
       AND (h.valid_to IS NULL OR f.yr < h.valid_to)
      GROUP BY 1, 2, 3"""))

  /** BPE tokenize SERVING over the frozen merge-table artifact — the
    * missing half of q176's train/serve split and the shape every ingest
    * job at 100 TB actually runs: the tokenizer trains ONCE
    * (`graft.BpeArtifactGen`, 16 rounds of [[graft.ops.Bpe.train]] on the sf0.01
    * corpus → `BpeMergesArtifact`), then the persisted merge table is
    * applied corpus-wide as a pure map — 16 chained literal `replace`
    * calls over the delimited encoding, zero shuffle, output is per-doc
    * token accounting (raw tokens, BPE tokens, merges fired). The q137b/
    * q164 frozen-artifact discipline applied to the tokenizer; the twin
    * ([[graft.ops.Bpe.oracleSql]]) evaluates the same literal chain.
    * Production note: at real merge depths (30k+) the chain becomes a
    * specialized per-partition tokenizer over the SAME artifact —
    * semantics pinned here and in BpeMergeSpec stay the contract. */
  private val q182 = Q(
    "q182_bpe_tokenize",
    (s, d) => {
      Bpe.encode(Tables.documents(s, d))
        .select(col("doc_id"),
          size(Bpe.tokens(col("s"))).cast("long").as("n_tok_raw"),
          size(Bpe.tokens(Bpe.merged(col("s"), BpeMergesArtifact.merges)))
            .cast("long").as("n_tok_bpe"))
        .withColumn("n_merged", col("n_tok_raw") - col("n_tok_bpe"))
    },
    Some(Bpe.oracleSql))

  /** Distinct l-diversity audit beside q175's k-anonymity: a release can
    * be k-anonymous yet leak — if every doc in a quasi-identifier group
    * shares ONE sensitive value (here `source`), group size protects
    * nothing. For each (lang, length-bucket) QI group: docs, distinct
    * sensitive values, and the l≥3 flag; the suppression-cost column
    * counts docs in groups that fail EITHER bar. One exact two-level hash
    * aggregate; the shuffle carries one row per (QI, source) then per QI. */
  private val q185 = Q(
    "q185_l_diversity",
    (s, d) => {
      val l = 3
      val k = 5
      Tables.documents(s, d)
        .groupBy(col("lang"),
          (col("n_chars") / 100).cast("int").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("source")).as("n_sources"))
        .withColumn("l_diverse", col("n_sources") >= l)
        .withColumn("k_anonymous", col("n_docs") >= k)
        .withColumn("suppressed_docs",
          when(col("n_docs") < k || col("n_sources") < l, col("n_docs"))
            .otherwise(lit(0L)))
    },
    Some("""
      SELECT lang,
        CAST(n_chars // 100 AS INT) AS len_bucket,
        count(*) AS n_docs,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        count(DISTINCT source) >= 3 AS l_diverse,
        count(*) >= 5 AS k_anonymous,
        CASE WHEN count(*) < 5 OR count(DISTINCT source) < 3
          THEN count(*) ELSE 0 END AS suppressed_docs
      FROM documents
      GROUP BY 1, 2"""))

  /** Sharded export manifest with integrity checksums — the LAST query a
    * curation pipeline runs: the release ships as N deterministic shards
    * (md5-hash-assigned, so assignment is stable across runs and
    * engines), and the manifest records per shard the doc count, char
    * total, id range, and an ORDER-INDEPENDENT content checksum (sum of
    * per-doc 32-bit md5 prefixes — commutative, so shard-parallel
    * computation and any row order give the same value; 32-bit terms keep
    * the BIGINT sum overflow-free to ~2^31 docs/shard under ANSI). A
    * consumer re-derives the checksum after download; any dropped or
    * corrupted doc changes it. One hash aggregate, 8 rows out at any
    * corpus size. */
  private val q186 = Q(
    "q186_export_manifest",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs
        .withColumn("shard",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 8).cast("int"))
        .withColumn("chk",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"),
          sum(col("chk")).as("content_checksum"))
    },
    Some("""
      SELECT
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
          AS INT) AS shard,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        min(doc_id) AS min_doc_id,
        max(doc_id) AS max_doc_id,
        CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
          AS content_checksum
      FROM documents
      GROUP BY 1"""))

  /** Tokenizer fertility by language over the SAME frozen merge table
    * q182 serves — the metric that decides whether a tokenizer is fair to
    * a language (low chars-per-token = more tokens per character = higher
    * serving cost and shorter effective context for that language; the
    * standard multilingual-tokenizer audit). Per lang: docs, raw/BPE
    * token totals, raw token chars, and chars-per-BPE-token as one
    * micro-rounded division of exact BIGINT sums (the per-doc chars sum
    * is an integer HOF fold — no float anywhere until the final ratio).
    * Pure map over the corpus collapsing map-side to ≤ languages rows;
    * the merge chain is the q182 zero-shuffle literal apply. */
  private val q190 = Q(
    "q190_tokenizer_fertility",
    (s, d) => {
      val t = Bpe.tokens(col("s"))
      Bpe.encode(Tables.documents(s, d), Seq("lang"))
        .select(col("lang"),
          size(t).cast("long").as("raw"),
          size(Bpe.tokens(Bpe.merged(col("s"), BpeMergesArtifact.merges)))
            .cast("long").as("bpe"),
          aggregate(t, lit(0L), (acc, x) => acc + length(x)).as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("raw")).as("raw_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          sum(col("chars")).as("token_chars"))
        .withColumn("chars_per_bpe_token",
          r(col("token_chars").cast("double") / col("bpe_tokens"), 6))
    },
    Some(Bpe.fertilitySql))

  /** Token-budget-constrained corpus selection: take documents in
    * quality order (per-doc distinct-token ratio, micro-rounded to a
    * BIGINT — the integer discipline) until a global token budget (25 %
    * of corpus tokens) is exhausted — the data-selection-under-budget
    * op every curation run ends with once scores exist (classifier
    * q177, DSIR q187, diversity q189 all produce the ordering; this is
    * the cut). The cut needs a PREFIX SUM over a global quality order,
    * which at scale must not be one sorted task: this is the two-level
    * scan — Corpus.globalIndex range-exchanges the order across 16
    * partitions, per-64Ki-row BLOCK sums collapse to n/65536 rows whose
    * running offsets are one tiny ordered window (at 100 TB ≈ 10^5
    * block rows — one task over block AGGREGATES, never over docs),
    * and the in-block prefix is a window PARTITIONED by block (≤64Ki
    * rows each, parallel across blocks). cum = block offset + in-block
    * prefix, exact BIGINTs throughout; the budget is a 1-row broadcast.
    * Output is the per-source selection profile (docs, tokens, the
    * effective quality floor — the threshold the budget implies). */
  private val q191 = Q(
    "q191_token_budget_select",
    (s, d) => {
      import graft.ops.Corpus
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val docs = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("tok"),
          floor(size(array_distinct(toks)).cast("double") * 1000000
            / greatest(size(toks), lit(1)).cast("double") + 0.5)
            .cast("long").as("qual_micro"))
      val idxed = Corpus.globalIndex(docs,
        Seq(col("qual_micro").desc, col("doc_id").asc),
        numPartitions = 16, indexName = "gidx")
        .withColumn("blk", expr("gidx DIV 65536"))
      // round-14: the budget rides the already-materialized index
      // (globalIndex adds a column, drops/adds no rows — same sum(tok))
      // instead of a second corpus pass that re-read, re-spread (a
      // full-text repartition exchange) and re-tokenized documents.
      val budget = idxed.agg(
        floor(sum(col("tok")) / 4).cast("long").as("budget"))
      val offs = idxed.groupBy(col("blk")).agg(sum(col("tok")).as("bs"))
        .withColumn("off", coalesce(
          sum(col("bs")).over(Window.orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("blk"), col("off"))
      idxed.join(broadcast(offs), Seq("blk"))
        .withColumn("cum", col("off") + sum(col("tok")).over(
          Window.partitionBy(col("blk")).orderBy(col("gidx"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(budget))
        .filter(col("cum") <= col("budget"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("sel_tokens"),
          min(col("qual_micro")).as("min_qual_micro"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS tok,
          CAST(floor(len(list_distinct(list_filter(string_split(text, ' '),
              x -> x <> '')))::DOUBLE * 1000000
            / greatest(len(list_filter(string_split(text, ' '),
              x -> x <> '')), 1)::DOUBLE + 0.5) AS BIGINT) AS qual_micro
        FROM documents),
      b AS (SELECT CAST(floor(sum(tok) / 4) AS BIGINT) AS budget FROM docs),
      c AS (
        SELECT source, tok, qual_micro,
          CAST(sum(tok) OVER (ORDER BY qual_micro DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM docs)
      SELECT source, count(*) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS sel_tokens,
        CAST(min(qual_micro) AS BIGINT) AS min_qual_micro
      FROM c, b WHERE cum <= budget GROUP BY 1"""))

  /** In-engine quality-classifier TRAINING, not just serving: a
    * multinomial Naive Bayes lang-id head fit on a deterministic 30 %
    * labeled slice (doc_id % 10 < 3) and audited on the 70 % holdout —
    * closing the loop q177 opened (q177 serves a frozen head; NB is the
    * one classifier whose training IS dataflow: the fit is exact token
    * counting, so unlike q137's k-means there is nothing iterative or
    * seed-dependent and the whole train→score→audit pipeline
    * oracle-checks). Determinism discipline: Laplace-smoothed per-token
    * log-likelihood ratios are micro-rounded to BIGINT the moment each
    * leaves double-land (q187/q193), per-doc scores are exact BIGINT sums
    * of those micro-ints plus a micro-int prior, and the decision rule is
    * an integer sign test. Unseen-in-train tokens take the smoothing
    * floor via the missing-count × default identity (no per-row coalesce
    * against a scalar subquery). Scale shape: one token shuffle to count
    * (vocab-sized weights table, q193's gram-table shape), one
    * token-stream left join against those weights, per-doc then
    * per-source aggregates; the five training scalars ride two 1-row
    * broadcasts. At 100 TB the only wide state is the vocabulary. */
  private val q194 = Q(
    "q194_nb_classifier",
    (s, d) => {
      def micro(c: Column) = floor(c * 1000000 + 0.5).cast("long")
      val toksC = filter(split(col("text"), " "), x => x =!= "")
      val base = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"),
          (col("lang") === "en").as("is_en"),
          (col("doc_id") % 10 < 3).as("is_train"), toksC.as("toks"))
        // round-13: base fans out to the train scalars, the word-count
        // model and the serving scorer (12 scans static); nwc below to
        // two consumers. Cut both once per invocation.
        .localCheckpoint(true)
      val trainDocs = base.filter(col("is_train"))
      // token totals from doc-level sizes (== exploded sums, one pass)
      val scal1 = trainDocs.agg(
        sum(when(col("is_en"), size(col("toks")).cast("long"))
          .otherwise(0L)).as("n_pos_tok"),
        sum(when(col("is_en"), 0L)
          .otherwise(size(col("toks")).cast("long"))).as("n_neg_tok"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("p_docs"),
        sum(when(col("is_en"), 0L).otherwise(1L)).as("q_docs"))
      val nwc = trainDocs
        .select(col("is_en"), explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(
          sum(when(col("is_en"), 1L).otherwise(0L)).as("np"),
          sum(when(col("is_en"), 0L).otherwise(1L)).as("nn"))
        .localCheckpoint(true)
      val scal = scal1.crossJoin(broadcast(nwc.agg(count(lit(1)).as("v"))))
      val weights = nwc.crossJoin(broadcast(scal)).select(col("tok"),
        (micro(log((col("np") + lit(1.0)) / (col("n_pos_tok") + col("v")))) -
         micro(log((col("nn") + lit(1.0)) / (col("n_neg_tok") + col("v")))))
          .as("w_micro"))
      val dscal = scal.select(
        (micro(log(lit(1.0) / (col("n_pos_tok") + col("v")))) -
         micro(log(lit(1.0) / (col("n_neg_tok") + col("v"))))).as("def_micro"),
        micro(log((col("p_docs") + lit(1.0)) / (col("q_docs") + lit(1.0))))
          .as("prior_micro"))
      val scored = base.filter(!col("is_train"))
        .select(col("doc_id"), col("source"), col("is_en"),
          explode(col("toks")).as("tok"))
        .join(weights, Seq("tok"), "left")
        .groupBy(col("doc_id"), col("source"), col("is_en"))
        .agg(sum(coalesce(col("w_micro"), lit(0L))).as("sw"),
          sum(when(col("w_micro").isNull, 1L).otherwise(0L)).as("n_miss"))
        .crossJoin(broadcast(dscal))
        .select(col("source"), col("is_en"),
          (col("prior_micro") + col("sw") +
            col("n_miss") * col("def_micro")).as("score_micro"))
      scored.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score_micro") > 0, 1L).otherwise(0L)).as("n_pred_en"),
        sum(when((col("score_micro") > 0) === col("is_en"), 1L)
          .otherwise(0L)).as("n_correct"),
        sum(col("score_micro")).as("sum_score_micro"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source, lang = 'en' AS is_en,
          doc_id % 10 < 3 AS is_train,
          list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      tr AS (
        SELECT is_en, unnest(toks) AS tok FROM base WHERE is_train),
      scal1 AS (
        SELECT
          CAST(sum(CASE WHEN is_en THEN len(toks) ELSE 0 END) AS BIGINT)
            AS n_pos_tok,
          CAST(sum(CASE WHEN is_en THEN 0 ELSE len(toks) END) AS BIGINT)
            AS n_neg_tok,
          CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS p_docs,
          CAST(sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT) AS q_docs
        FROM base WHERE is_train),
      nwc AS (
        SELECT tok,
          CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT) AS nn
        FROM tr GROUP BY 1),
      scal AS (SELECT * FROM scal1, (SELECT count(*) AS v FROM nwc)),
      w AS (
        SELECT tok,
          CAST(floor(ln((np + 1.0) / (n_pos_tok + v)) * 1000000 + 0.5)
              AS BIGINT)
          - CAST(floor(ln((nn + 1.0) / (n_neg_tok + v)) * 1000000 + 0.5)
              AS BIGINT) AS w_micro
        FROM nwc, scal),
      dscal AS (
        SELECT
          CAST(floor(ln(1.0 / (n_pos_tok + v)) * 1000000 + 0.5) AS BIGINT)
          - CAST(floor(ln(1.0 / (n_neg_tok + v)) * 1000000 + 0.5) AS BIGINT)
            AS def_micro,
          CAST(floor(ln((p_docs + 1.0) / (q_docs + 1.0)) * 1000000 + 0.5)
            AS BIGINT) AS prior_micro
        FROM scal),
      ts AS (
        SELECT doc_id, source, is_en, unnest(toks) AS tok
        FROM base WHERE NOT is_train),
      perdoc AS (
        SELECT t.doc_id, t.source, t.is_en,
          CAST(sum(coalesce(w.w_micro, 0)) AS BIGINT) AS sw,
          CAST(sum(CASE WHEN w.w_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_miss
        FROM ts t LEFT JOIN w ON t.tok = w.tok
        GROUP BY 1, 2, 3),
      scored AS (
        SELECT source, is_en,
          prior_micro + sw + n_miss * def_micro AS score_micro
        FROM perdoc, dscal)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN score_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pred_en,
        CAST(sum(CASE WHEN (score_micro > 0) = is_en THEN 1 ELSE 0 END)
          AS BIGINT) AS n_correct,
        CAST(sum(score_micro) AS BIGINT) AS sum_score_micro
      FROM scored GROUP BY 1"""))

  /** Quality-threshold ablation sweep in ONE pass — the curation question
    * "how much data survives at each candidate quality cutoff?" answered
    * for ALL cutoffs simultaneously. The naive form rescans the corpus
    * once per threshold (10 thresholds at 100 TB = 10 full scans); here
    * each doc is bucketed to floor(q*10) once, the full-data shuffle is a
    * single (source, bucket) aggregate to ≤ |sources|×10 rows, and a
    * reverse-cumulative window over those tiny aggregates reads off
    * survivors-at-threshold for every cutoff (q ≥ t ⟺ bucket ≥ 10t, since
    * buckets are the threshold grid). A generated 0..9 spine per source
    * keeps the output shape fixed even for empty bins. Quality here is the
    * alpha-character ratio micro-rounded ONCE from double (q187
    * discipline); survivors' doc/token/quality totals stay exact BIGINTs.
    * At 100 TB: one scan, one vocab-free shuffle, then driver-size data. */
  private val q195 = Q(
    "q195_threshold_sweep",
    (s, d) => {
      val base = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("source"),
          when(col("n_chars") === 0, lit(0L))
            .otherwise(floor(
              length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
                .cast("double") / col("n_chars") * 1000000 + 0.5)
              .cast("long")).as("q_micro"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("n_toks"))
      val byBucket = base
        .withColumn("bucket",
          least(floor(col("q_micro") / 100000.0).cast("long"), lit(9L)))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("toks"),
          sum(col("q_micro")).as("qsum"))
      val spine = Tables.documents(s, d).select(col("source")).distinct()
        .select(col("source"),
          explode(sequence(lit(0L), lit(9L))).as("bucket"))
      val j = spine.join(byBucket, Seq("source", "bucket"), "left")
        .select(col("source"), col("bucket"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("toks"), lit(0L)).as("toks"),
          coalesce(col("qsum"), lit(0L)).as("qsum"))
      val w = Window.partitionBy(col("source")).orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      j.select(col("source"), (col("bucket") * 10).cast("int").as("thr_pct"),
        sum(col("n")).over(w).as("n_docs"),
        sum(col("toks")).over(w).as("n_tokens"),
        sum(col("qsum")).over(w).as("q_micro_sum"))
    },
    Some("""
      WITH base AS (
        SELECT source,
          CASE WHEN n_chars = 0 THEN 0
               ELSE CAST(floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 * 1.0 / n_chars * 1000000 + 0.5) AS BIGINT) END AS q_micro,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS n_toks
        FROM documents),
      b AS (
        SELECT source,
          least(CAST(floor(q_micro / 100000.0) AS BIGINT), 9) AS bucket,
          count(*) AS n, CAST(sum(n_toks) AS BIGINT) AS toks,
          CAST(sum(q_micro) AS BIGINT) AS qsum
        FROM base GROUP BY 1, 2),
      spine AS (
        SELECT s.source, g.bucket
        FROM (SELECT DISTINCT source FROM documents) s,
             (SELECT unnest(generate_series(0, 9)) AS bucket) g),
      j AS (
        SELECT sp.source, sp.bucket, coalesce(b.n, 0) AS n,
          coalesce(b.toks, 0) AS toks, coalesce(b.qsum, 0) AS qsum
        FROM spine sp
        LEFT JOIN b ON sp.source = b.source AND sp.bucket = b.bucket)
      SELECT source, CAST(bucket * 10 AS INT) AS thr_pct,
        CAST(sum(n) OVER w AS BIGINT) AS n_docs,
        CAST(sum(toks) OVER w AS BIGINT) AS n_tokens,
        CAST(sum(qsum) OVER w AS BIGINT) AS q_micro_sum
      FROM j
      WINDOW w AS (PARTITION BY source ORDER BY bucket DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

  /** Differentially-private marginal release with DETERMINISTIC Laplace
    * noise — the release side of the privacy family (q175 k-anonymity and
    * q185 l-diversity audit; this publishes). Two marginals (lang, source)
    * are released under sequential composition: each gets ε=0.5, total
    * ε=1.0, so each cell's noise is Laplace(b = Δf/ε = 1/0.5 = 2). The
    * noise is derived from a seeded md5 uniform per cell (q47's hash
    * discipline) through the inverse CDF −b·sign(u−½)·ln(1−2|u−½|), which
    * makes the release REPRODUCIBLE — rand() would give a different
    * "private" answer per run, unverifiable and re-queryable for averaging
    * attacks; a fixed seed is also how production DP systems make releases
    * auditable. The uniform is clamped away from the ln(0) pole, the noise
    * is micro-rounded ONCE, and the published count is an exact BIGINT in
    * micro units. One exact hash aggregate per marginal; noise is map-side
    * arithmetic on ≤|cells| rows — at 100 TB the cost is the two scans
    * (or one with grouping sets) and nothing else. */
  private val q196 = Q(
    "q196_dp_noisy_counts",
    (s, d) => {
      import graft.ops.Corpus
      def release(dim: String, key: String): DataFrame = {
        val u0 = Corpus.uniformHash(col("dim_value"), s"graft-dp-$dim")
        val u = greatest(u0, lit(1.0e-12))
        val noise = lit(-2.0) * signum(u - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(u - 0.5))
        Tables.documents(s, d)
          .groupBy(col(key).as("dim_value"))
          .agg(count(lit(1)).as("n_true"))
          .select(lit(dim).as("dim"), col("dim_value"), col("n_true"),
            floor(noise * 1000000 + 0.5).cast("long").as("noise_micro"))
          .select(col("dim"), col("dim_value"), col("n_true"),
            col("noise_micro"),
            (col("n_true") * 1000000 + col("noise_micro")).as("noisy_micro"))
      }
      release("lang", "lang").union(release("source", "source"))
    },
    Some("""
      WITH rel AS (
        SELECT 'lang' AS dim, lang AS dim_value, count(*) AS n_true
        FROM documents GROUP BY 2
        UNION ALL
        SELECT 'source', source, count(*) FROM documents GROUP BY 2),
      u AS (
        SELECT dim, dim_value, CAST(n_true AS BIGINT) AS n_true,
          greatest(
            (('0x' || substr(md5(dim_value || 'graft-dp-' || dim), 1, 15))
              ::BIGINT)::DOUBLE / 1152921504606846976,
            0.000000000001) AS uu
        FROM rel),
      nz AS (
        SELECT dim, dim_value, n_true,
          CAST(floor(-2.0 * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5))
            * 1000000 + 0.5) AS BIGINT) AS noise_micro
        FROM u)
      SELECT dim, dim_value, n_true, noise_micro,
        CAST(n_true * 1000000 + noise_micro AS BIGINT) AS noisy_micro
      FROM nz"""))

  /** Deterministic bootstrap confidence interval for a corpus statistic
    * (mean tokens/doc) — the uncertainty bar every eval-harness number
    * needs ("is 4.31 tokens/doc different from last month's 4.28, or is
    * that sampling noise?"). The Poisson bootstrap (Chamandy et al.,
    * Google 2012) replaces the unshardable multinomial resample with an
    * independent Poisson(1) weight per (doc, resample): here the weight
    * comes from a seeded md5 uniform through the Poisson CDF ladder
    * (identical double literals both engines), so the interval is
    * REPRODUCIBLE run to run. B=40 resamples ride ONE explode fan-out
    * whose groupBy(b) partial-aggregates map-side to B rows per
    * partition — the shuffle carries B×partitions tiny rows, never the
    * corpus, and weighted sums Σw·x / Σw are exact BIGINTs until one
    * micro-rounded division per resample. The B per-resample means
    * collect into a sorted array on one row (bounded by B at any corpus
    * size) and the 2.5th/97.5th order statistics read off as elements
    * 1 and 39. */
  private val q197 = Q(
    "q197_bootstrap_ci",
    (s, d) => {
      import graft.ops.Corpus
      val B = 40
      val base = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("x"))
      val fan = base.select(col("doc_id"), col("x"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      val u = Corpus.uniformHash(
        concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string")),
        "graft-boot")
      val wt = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .otherwise(5L)
      val perb = fan.withColumn("wt", wt)
        .groupBy(col("b"))
        .agg(sum(col("wt") * col("x")).as("swx"), sum(col("wt")).as("sw"))
      val means = perb.select(
        when(col("sw") === 0, lit(0L))
          .otherwise(floor(col("swx").cast("double") / col("sw") * 1000000 + 0.5)
            .cast("long")).as("mean_micro"))
      val arr = means.agg(
        sort_array(collect_list(col("mean_micro"))).as("a"),
        count(lit(1)).as("nb"))
      val full = base.agg(
        floor(sum(col("x")).cast("double") / count(lit(1)) * 1000000 + 0.5)
          .cast("long").as("mean_full_micro"))
      arr.crossJoin(broadcast(full)).select(
        col("nb").as("n_resamples"), col("mean_full_micro"),
        element_at(col("a"), 1).as("lo_micro"),
        element_at(col("a"), 39).as("hi_micro"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS x
        FROM documents),
      fan AS (
        SELECT doc_id, x, g.b
        FROM base, (SELECT unnest(generate_series(0, 39)) AS b) g),
      uu AS (
        SELECT b, x,
          (('0x' || substr(md5(doc_id::VARCHAR || ':' || b::VARCHAR
            || 'graft-boot'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS u
        FROM fan),
      w AS (
        SELECT b, x,
          CASE WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.9963401531726563 THEN 4
               ELSE 5 END AS wt
        FROM uu),
      perb AS (
        SELECT b, CAST(sum(wt * x) AS BIGINT) AS swx,
          CAST(sum(wt) AS BIGINT) AS sw
        FROM w GROUP BY 1),
      means AS (
        SELECT CASE WHEN sw = 0 THEN 0
          ELSE CAST(floor(swx * 1.0 / sw * 1000000 + 0.5) AS BIGINT)
          END AS mean_micro
        FROM perb),
      arr AS (
        SELECT list_sort(list(mean_micro)) AS a, count(*) AS nb FROM means),
      fullm AS (
        SELECT CAST(floor(sum(x) * 1.0 / count(*) * 1000000 + 0.5) AS BIGINT)
          AS mean_full_micro
        FROM base)
      SELECT nb AS n_resamples, mean_full_micro,
        a[1] AS lo_micro, a[39] AS hi_micro
      FROM arr, fullm"""))

  /** Content-defined chunking (the rsync/LBFS/backup-dedup boundary
    * algorithm) + chunk-hash dedup accounting — the STORAGE-level dedup
    * tier below the document-level family (q19 exact, q21 near-dup, q55
    * substring spans): how much smaller does the corpus get if shared
    * chunks are stored once? A cut lands before token p whenever the
    * 2-token window hash ending at p ≡ 0 (mod 8) (avg chunk ~8 tokens),
    * so boundaries depend only on LOCAL content — an insertion reshuffles
    * at most its own chunk, unlike fixed-size blocks where one shifted
    * byte re-chunks the whole file. All chunking is map-side HOF work
    * (per-doc O(tokens) md5s, lambda-bound once against the
    * CollapseProject inlining trap, q78's pattern); the only full-data
    * shuffle is the (source, chunk_hash) aggregate. Duplicate-hash char
    * counts take min() so the 60-bit-collision case stays deterministic
    * cross-engine. DuckDB's list slicing is 1-based INCLUSIVE of the end
    * bound, so Spark's slice(ts, a, b−a) twins as ts[a : b−1]; DuckDB
    * range(2, n+1) is empty for n<2 where Spark sequence(2, n) would
    * DESCEND — the n≥2 guard exists on the Spark side only. */
  private val q198 = Q(
    "q198_cdc_chunking",
    (s, d) => {
      def h15(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      // round-13: tokenize once into an attribute — the size filter and
      // the chunk transform each re-ran split+filter per row before
      val toksC = col("__toks")
      val chunksCol = element_at(transform(array(toksC), ts => {
        val n = size(ts)
        val cutsInner = when(n >= 2,
          filter(sequence(lit(2), n),
            p => h15(concat_ws(" ", slice(ts, p - 1, lit(2)))) % 8 === 0))
          .otherwise(array().cast("array<int>"))
        val cuts = concat(array(lit(1)), cutsInner, array(n + 1))
        zip_with(
          slice(cuts, lit(1), size(cuts) - 1),
          slice(cuts, lit(2), size(cuts) - 1),
          (a, b) => concat_ws(" ", slice(ts, a, b - a)))
      }), 1)
      val ch = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("source"),
          filter(split(col("text"), " "), x => x =!= "").as("__toks"))
        .filter(size(toksC) > 0)
        .select(col("source"), explode(chunksCol).as("chunk"))
        .select(col("source"), h15(col("chunk")).as("chash"),
          length(col("chunk")).cast("long").as("cchars"))
      val l1 = ch.groupBy(col("source"), col("chash"))
        .agg(count(lit(1)).as("cnt"), sum(col("cchars")).as("schars"),
          min(col("cchars")).as("mchars"))
      l1.groupBy(col("source")).agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("schars")).as("chars_total"),
        sum(col("mchars")).as("chars_dedup"))
        .select(col("source"), col("n_chunks"), col("n_distinct"),
          col("chars_total"), col("chars_dedup"),
          floor(col("chars_dedup").cast("double") / col("chars_total")
            * 1000000 + 0.5).cast("long").as("dedup_ratio_micro"))
    },
    Some("""
      WITH base AS (
        SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents),
      ne AS (
        SELECT source, ts, len(ts) AS n FROM base WHERE len(ts) > 0),
      cu AS (
        SELECT source, ts,
          list_concat(list_concat([1::BIGINT],
            list_filter(range(2, n + 1), p ->
              (('0x' || substr(md5(array_to_string(ts[p-1:p], ' ')), 1, 15))
                ::BIGINT) % 8 = 0)),
            [(n + 1)::BIGINT]) AS cuts
        FROM ne),
      chunks AS (
        SELECT source,
          unnest(list_transform(range(1, len(cuts)), j ->
            array_to_string(ts[cuts[j] : cuts[j+1] - 1], ' '))) AS chunk
        FROM cu),
      ch AS (
        SELECT source,
          (('0x' || substr(md5(chunk), 1, 15))::BIGINT) AS chash,
          CAST(length(chunk) AS BIGINT) AS cchars
        FROM chunks),
      l1 AS (
        SELECT source, chash, count(*) AS cnt,
          CAST(sum(cchars) AS BIGINT) AS schars,
          CAST(min(cchars) AS BIGINT) AS mchars
        FROM ch GROUP BY 1, 2),
      l2 AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
          count(*) AS n_distinct,
          CAST(sum(schars) AS BIGINT) AS chars_total,
          CAST(sum(mchars) AS BIGINT) AS chars_dedup
        FROM l1 GROUP BY 1)
      SELECT source, n_chunks, n_distinct, chars_total, chars_dedup,
        CAST(floor(chars_dedup * 1.0 / chars_total * 1000000 + 0.5) AS BIGINT)
          AS dedup_ratio_micro
      FROM l2"""))

  /** Cluster (by-source) bootstrap beside the doc-level bootstrap, from
    * ONE fan-out — the CI q197 reports assumes docs are independent, but
    * corpus docs correlate within their source (one crawl, one template),
    * and resampling DOCS when the sampling unit is really the SOURCE
    * understates the interval. Here resample b draws a Poisson(1) weight
    * per (doc, b) for the doc-level CI and per (source, b) — shared by
    * every doc of the source — for the cluster-level CI: the same
    * (doc, b) fan carries both weight columns, so the two intervals are
    * computed on identical resample indices and their widths are directly
    * comparable (the cluster CI is the wider one whenever within-source
    * correlation is real). Same exactness discipline as q197: integer
    * weights, BIGINT weighted sums, one micro-rounded division per
    * (resample, level), order statistics from sorted B-element arrays on
    * one bounded row. */
  private val q199 = Q(
    "q199_cluster_bootstrap",
    (s, d) => {
      import graft.ops.Corpus
      val B = 40
      def pois(u: Column): Column =
        when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.9196986029286058, 2L)
          .when(u < 0.9810118431238462, 3L)
          .when(u < 0.9963401531726563, 4L)
          .otherwise(5L)
      def mMicro(num: Column, den: Column): Column =
        when(den === 0, lit(0L))
          .otherwise(floor(num.cast("double") / den * 1000000 + 0.5)
            .cast("long"))
      val base = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("x"))
      val fan = base.select(col("doc_id"), col("source"), col("x"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      val wd = pois(Corpus.uniformHash(
        concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string")),
        "graft-boot-doc"))
      val wc = pois(Corpus.uniformHash(
        concat(col("source"), lit(":"), col("b").cast("string")),
        "graft-boot-clu"))
      // round-14: every resample group contains every doc exactly once
      // (the b-fan is a full cross product), so sum(x) and count per b
      // ARE the full-corpus S and N — carry them through the fan's own
      // aggregate (max over identical per-b values) instead of a second
      // corpus scan + crossJoin for the mean_full scalar.
      val perb = fan.withColumn("wd", wd).withColumn("wc", wc)
        .groupBy(col("b"))
        .agg(sum(col("wd") * col("x")).as("swdx"), sum(col("wd")).as("swd"),
          sum(col("wc") * col("x")).as("swcx"), sum(col("wc")).as("swc"),
          sum(col("x")).as("sx"), count(lit(1)).as("nx"))
      val means = perb.select(
        mMicro(col("swdx"), col("swd")).as("md"),
        mMicro(col("swcx"), col("swc")).as("mc"),
        col("sx"), col("nx"))
      val arr = means.agg(
        sort_array(collect_list(col("md"))).as("ad"),
        sort_array(collect_list(col("mc"))).as("ac"),
        count(lit(1)).as("nb"),
        floor(max(col("sx")).cast("double") / max(col("nx")) * 1000000 + 0.5)
          .cast("long").as("mean_full_micro"))
      arr.select(
        col("nb").as("n_resamples"), col("mean_full_micro"),
        element_at(col("ad"), 1).as("doc_lo_micro"),
        element_at(col("ad"), 39).as("doc_hi_micro"),
        element_at(col("ac"), 1).as("clu_lo_micro"),
        element_at(col("ac"), 39).as("clu_hi_micro"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS x
        FROM documents),
      fan AS (
        SELECT doc_id, source, x, g.b
        FROM base, (SELECT unnest(generate_series(0, 39)) AS b) g),
      uu AS (
        SELECT b, x,
          (('0x' || substr(md5(doc_id::VARCHAR || ':' || b::VARCHAR
            || 'graft-boot-doc'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS ud,
          (('0x' || substr(md5(source || ':' || b::VARCHAR
            || 'graft-boot-clu'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uc
        FROM fan),
      w AS (
        SELECT b, x,
          CASE WHEN ud < 0.36787944117144233 THEN 0
               WHEN ud < 0.7357588823428847 THEN 1
               WHEN ud < 0.9196986029286058 THEN 2
               WHEN ud < 0.9810118431238462 THEN 3
               WHEN ud < 0.9963401531726563 THEN 4
               ELSE 5 END AS wd,
          CASE WHEN uc < 0.36787944117144233 THEN 0
               WHEN uc < 0.7357588823428847 THEN 1
               WHEN uc < 0.9196986029286058 THEN 2
               WHEN uc < 0.9810118431238462 THEN 3
               WHEN uc < 0.9963401531726563 THEN 4
               ELSE 5 END AS wc
        FROM uu),
      perb AS (
        SELECT b, CAST(sum(wd * x) AS BIGINT) AS swdx,
          CAST(sum(wd) AS BIGINT) AS swd,
          CAST(sum(wc * x) AS BIGINT) AS swcx,
          CAST(sum(wc) AS BIGINT) AS swc
        FROM w GROUP BY 1),
      means AS (
        SELECT
          CASE WHEN swd = 0 THEN 0
            ELSE CAST(floor(swdx * 1.0 / swd * 1000000 + 0.5) AS BIGINT)
            END AS md,
          CASE WHEN swc = 0 THEN 0
            ELSE CAST(floor(swcx * 1.0 / swc * 1000000 + 0.5) AS BIGINT)
            END AS mc
        FROM perb),
      arr AS (
        SELECT list_sort(list(md)) AS ad, list_sort(list(mc)) AS ac,
          count(*) AS nb
        FROM means),
      fullm AS (
        SELECT CAST(floor(sum(x) * 1.0 / count(*) * 1000000 + 0.5) AS BIGINT)
          AS mean_full_micro
        FROM base)
      SELECT nb AS n_resamples, mean_full_micro,
        ad[1] AS doc_lo_micro, ad[39] AS doc_hi_micro,
        ac[1] AS clu_lo_micro, ac[39] AS clu_hi_micro
      FROM arr, fullm"""))

  /** t-closeness audit — completes the anonymity trio (q175 k-anonymity,
    * q185 l-diversity): a quasi-identifier class can be k-anonymous AND
    * l-diverse yet still leak if its sensitive-attribute DISTRIBUTION
    * differs sharply from the global one. For the categorical sensitive
    * column the EMD of the t-closeness paper reduces to total variation
    * distance: t = ½·Σ_s |p_s − q_s| over the global source alphabet.
    * Exact-integer core: within a class the common denominator is
    * n_class·N, so Σ over PRESENT sources of |n_lbs·N − n_s·n_class| plus
    * the absent-source mass (N − Σ_present n_s)·n_class is an exact BIGINT
    * numerator; one final double division is micro-rounded in identical
    * textual order both engines (q172 discipline) — absent cells are
    * accounted in closed form, no dense class×source expansion exists
    * anywhere. One corpus shuffle: the (lang, bucket, source) cell
    * aggregate, ≤ |langs|×|buckets|×|sources| rows at any corpus size, is
    * coalesced to one partition. The source and class margins and the
    * corpus total are windows over it (the total over the whole frame);
    * the class aggregate runs on the same partition, so nothing is
    * re-shuffled or joined back. */
  private val q203 = Q(
    "q203_t_closeness",
    (s, d) => {
      val cells = Tables.documents(s, d)
        .groupBy(col("lang"),
          (col("n_chars") / 100).cast("int").as("len_bucket"),
          col("source"))
        .agg(count(lit(1)).as("n_lbs"))
        .coalesce(1)
      cells
        .withColumn("n_s", sum(col("n_lbs")).over(Window.partitionBy(col("source"))))
        .withColumn("n_class", sum(col("n_lbs"))
          .over(Window.partitionBy(col("lang"), col("len_bucket"))))
        .withColumn("n", sum(col("n_lbs")).over(Window.partitionBy()))
        // the margins count every cell; a class or source key that is
        // NULL names no class or source (the oracle's joins drop it)
        .filter(col("lang").isNotNull && col("len_bucket").isNotNull &&
          col("source").isNotNull)
        .groupBy(col("lang"), col("len_bucket"), col("n_class"), col("n"))
        .agg(
          sum(abs(col("n_lbs") * col("n") - col("n_s") * col("n_class")))
            .as("present_num"),
          sum(col("n_s")).as("present_ns"))
        .select(
          col("lang"), col("len_bucket"),
          col("n_class").as("n_docs"),
          floor((col("present_num") +
              (col("n") - col("present_ns")) * col("n_class")).cast("double")
            / (lit(2.0) * col("n_class").cast("double") * col("n").cast("double"))
            * 1000000 + 0.5).cast("long").as("t_micro"))
        .withColumn("t_close", col("t_micro") <= 200000L)
    },
    Some("""
      WITH cells AS (
        SELECT lang, CAST(n_chars // 100 AS INT) AS len_bucket, source,
          CAST(count(*) AS BIGINT) AS n_lbs
        FROM documents GROUP BY 1, 2, 3),
      by_src AS (
        SELECT source, CAST(sum(n_lbs) AS BIGINT) AS n_s FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM by_src),
      classes AS (
        SELECT lang, len_bucket, CAST(sum(n_lbs) AS BIGINT) AS n_class
        FROM cells GROUP BY 1, 2),
      terms AS (
        SELECT c.lang, c.len_bucket, cl.n_class, t.n,
          CAST(sum(abs(c.n_lbs * t.n - s.n_s * cl.n_class)) AS BIGINT)
            AS present_num,
          CAST(sum(s.n_s) AS BIGINT) AS present_ns
        FROM cells c
        JOIN by_src s USING (source)
        JOIN classes cl USING (lang, len_bucket)
        CROSS JOIN tot t
        GROUP BY 1, 2, 3, 4)
      SELECT lang, len_bucket, n_class AS n_docs,
        CAST(floor(CAST(present_num + (n - present_ns) * n_class AS DOUBLE)
          / (2.0 * CAST(n_class AS DOUBLE) * CAST(n AS DOUBLE))
          * 1000000 + 0.5) AS BIGINT) AS t_micro,
        CAST(floor(CAST(present_num + (n - present_ns) * n_class AS DOUBLE)
          / (2.0 * CAST(n_class AS DOUBLE) * CAST(n AS DOUBLE))
          * 1000000 + 0.5) AS BIGINT) <= 200000 AS t_close
      FROM terms"""))

  /** Golden-record survivorship — the master-data consolidation step
    * after q210's linkage: collapse every record describing one entity
    * into a single profile where each FIELD independently picks its value
    * from a different source row by its own rule (latest-wins, first-seen,
    * most-frequent, max), which row-level keep-best (q121, W2) cannot
    * express. Per user: first/last event_type by min_by/max_by over the
    * unique event_id order (deterministic LWW — no timestamp-vintage
    * dependence), exact cent totals, and the MODE of event_type from a
    * (user, type) count + per-user row_number with a lexical tiebreak —
    * mode-at-scale without collecting a group. Shuffle story: the base
    * aggregate, the mode's two stages and the final join are ALL keyed by
    * user (the (user,type) aggregate partial-combines map-side first), so
    * the corpus is never globally sorted or windowed, and output is
    * Θ(users) — the operator stays hash-partitioned at any corpus size. */
  private val q215 = Q(
    "q215_golden_record",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val base = ev.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        min_by(col("event_type"), col("event_id")).as("first_type"),
        max_by(col("event_type"), col("event_id")).as("last_type"),
        sum(col("cents")).as("total_cents"),
        max(col("cents")).as("max_cents"))
      val cnt = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val wm = Window.partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      val mode = cnt.withColumn("rn", row_number().over(wm))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"),
          col("cnt").as("mode_n"))
      base.join(mode, Seq("user_id"))
        .select(col("user_id"), col("n_events"), col("first_type"),
          col("last_type"), col("mode_type"), col("mode_n"),
          col("total_cents"), col("max_cents"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
      base AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          arg_min(event_type, event_id) AS first_type,
          arg_max(event_type, event_id) AS last_type,
          CAST(sum(cents) AS BIGINT) AS total_cents,
          CAST(max(cents) AS BIGINT) AS max_cents
        FROM ev GROUP BY 1),
      cnt AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM ev GROUP BY 1, 2),
      mode AS (
        SELECT user_id, event_type AS mode_type, cnt AS mode_n
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY cnt DESC, event_type ASC) AS rn
          FROM cnt) t
        WHERE rn = 1)
      SELECT b.user_id, n_events, first_type, last_type, mode_type, mode_n,
        total_cents, max_cents
      FROM base b JOIN mode m ON b.user_id = m.user_id"""))

  /** Quantile normalization of per-source length distributions onto the
    * global distribution — the microarray-classic harmonizer a curation
    * run needs when per-source quality/length scores aren't comparable
    * (one crawler truncates, another pads) but RANK within a source is
    * trustworthy: every doc's value is replaced by the global quantile
    * at its source-relative rank, so all sources end up with the same
    * marginal distribution and downstream thresholds (q195's sweep)
    * mean the same thing everywhere. All quantile logic lives on
    * DOMAIN-BOUNDED histograms: a per-(source,value) aggregate with
    * per-source cumulative windows, a global-value histogram with one
    * domain-bounded cumulative window, and the inverse-CDF lookup
    * mapped = min{u : F_G(u) ≥ F_S(v)} is a range join of two bounded
    * tables — kept EXACT by cross-multiplying (cumg·nₛ ≥ cumₛ·N, pure
    * BIGINT, no quantile floats anywhere). The corpus contributes one
    * groupBy and one broadcast dictionary join-back; output is Θ(docs)
    * by design (it is a rewrite operator, like q66). */
  private val q221 = Q(
    "q221_quantile_norm",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("v"))
      val wS = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSt = Window.partitionBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val hs = docs.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cums", sum(col("cnt")).over(wS))
        .withColumn("ns", sum(col("cnt")).over(wSt))
      val wG = Window.orderBy(col("u"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wGt = Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val hg = docs.groupBy(col("v").as("u"))
        .agg(count(lit(1)).as("gcnt"))
        .withColumn("cumg", sum(col("gcnt")).over(wG))
        .withColumn("nn", sum(col("gcnt")).over(wGt))
      val m = hs.join(broadcast(hg),
          col("cumg") * col("ns") >= col("cums") * col("nn"))
        .groupBy(col("source"), col("v"))
        .agg(min(col("u")).as("mapped"))
      docs.join(broadcast(m), Seq("source", "v"))
        .select(col("doc_id"), col("source"), col("v").as("n_chars"),
          col("mapped"), (col("mapped") - col("v")).as("shift"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v
        FROM documents),
      hs AS (
        SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
        FROM docs GROUP BY 1, 2),
      hsw AS (
        SELECT source, v,
          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cums,
          CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS ns
        FROM hs),
      hg AS (
        SELECT v AS u, CAST(count(*) AS BIGINT) AS gcnt
        FROM docs GROUP BY 1),
      hgw AS (
        SELECT u,
          CAST(sum(gcnt) OVER (ORDER BY u
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cumg,
          CAST(sum(gcnt) OVER () AS BIGINT) AS nn
        FROM hg),
      m AS (
        SELECT s.source, s.v, CAST(min(g.u) AS BIGINT) AS mapped
        FROM hsw s JOIN hgw g ON g.cumg * s.ns >= s.cums * g.nn
        GROUP BY 1, 2)
      SELECT d.doc_id, d.source, d.v AS n_chars, m.mapped,
        CAST(m.mapped - d.v AS BIGINT) AS shift
      FROM docs d JOIN m ON d.source = m.source AND d.v = m.v"""))

  private[queries] val all: Seq[Q] = Seq(
    q172, q173, q174, q175, q176, q177, q178, q179,
    q89b, q180, q181, q182, q185, q186, q190, q191, q194, q195, q196, q197,
    q198, q199, q203, q215, q221)
}
