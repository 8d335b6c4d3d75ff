package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star text / dedup operators (SURVEY.md §2.11): tokenization and
  * token statistics, span-level dedup and contamination, quality signals, and
  * cluster resolution over candidate pairs. The near-dup pair generators
  * live in the catalog, each with an md5-derived DuckDB twin: q19 exact
  * dedup, q21 MinHash+LSH, q22 SimHash.
  */
object Text {

  /** The non-empty space-separated tokens: `split` never yields a NULL
    * element, so removing "" gives the same array as the lambda form
    * `filter(…, t -> t != '')`, in a codegen'd builtin. */
  def tokens(text: Column): Column = array_remove(split(text, " "), "")

  /** Incremental (snapshot-over-snapshot) exact dedup: the re-crawl
    * pattern — keep each incoming doc only if (a) it is the min-id
    * representative of its content within the incoming batch and (b) the
    * content is not already in the prior corpus. Both steps key on a
    * 64-bit content fingerprint: one shuffle for the window, one
    * fingerprint-keyed anti-join (collision odds ~n²/2⁶⁵ — at 10¹¹ docs
    * still ~0.3%-of-one-spurious-drop territory; widen to a 128-bit md5
    * pair if even that matters). At scale, when `prior` is huge but its
    * FINGERPRINT SET is what matters, swap the anti-join for a broadcast
    * Bloom filter ([[graft.functions.BloomFilter]]) — no prior-side
    * shuffle at all, at the cost of a documented false-positive drop
    * rate. */
  def incrementalDedup(
      incoming: DataFrame, prior: DataFrame, textCol: String = "text"): DataFrame = {
    val priorFps = prior.select(xxhash64(col(textCol)).as("__fp")).distinct()
    val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
    incoming
      .withColumn("__fp", xxhash64(col(textCol)))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .join(priorFps, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Per-position n-token span hashes: (doc_id, pos, gh) with 1-based
    * token positions. Each token is xxhash64'd ONCE per row (let-bound,
    * ARCHITECTURE §8), then the n-window combine is a variadic xxhash64
    * over the n token-hash longs — fixed 8n-byte input, order-sensitive,
    * no per-position span STRING ever built (the concat_ws form
    * allocated ~spanBytes garbage per position, 2× the token bytes at
    * n=8, and GC-bound the span queries), and no checked arithmetic
    * (ANSI mode rejects wrapping `*`). Map-side codegen throughout. */
  def spanHashes(docs: DataFrame, n: Int): DataFrame = {
    val tokenHashes = transform(tokens(col("text")), t => xxhash64(t))
    val spans = element_at(
      transform(array(tokenHashes), th =>
        when(size(th) >= n,
          transform(
            sequence(lit(1), size(th) - (n - 1)),
            i => xxhash64((0 until n).map(j => element_at(th, i + j)): _*)))
          .otherwise(array().cast("array<long>"))),
      1)
    docs
      .select(col("doc_id"), posexplode(spans))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gh"))
  }

  /** Cross-document repeated-span detection — the exact-substring dedup
    * primitive of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), bounded to token n-grams: emit every
    * (doc, position) whose n-token span also occurs in at least
    * `minDocs - 1` other documents (its removal cut-list is the dedup
    * step; overlapping flagged positions merge into spans downstream).
    * Shape: ONE pass — [[spanHashes]] posexplodes and hashes each span
    * once, then a single exchange on the span hash computes the distinct
    * document count per span as a window pair (dense_rank over doc_id,
    * then its partition max). The previous groupBy + semi-join-back form
    * evaluated the tokenize/shingle/hash subtree TWICE (once per join
    * side — Catalyst cannot reuse the exchange because the two sides
    * shuffle on different keys) and cost three shuffles; this is one
    * evaluation, one shuffle, O(total tokens), never pairwise, keyed on
    * the 64-bit hash rather than span text. */
  def repeatedSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame = {
    val byGh = Window.partitionBy(col("gh"))
    spanHashes(docs, n)
      .withColumn("__dr", dense_rank().over(byGh.orderBy(col("doc_id"))))
      // dense_rank is IntegerType; n_docs keeps the old count() LongType
      .withColumn("n_docs", max(col("__dr")).over(byGh).cast("long"))
      .filter(col("n_docs") >= minDocs)
      .select(col("doc_id"), col("pos"), col("n_docs"))
  }

  /** Merge `repeatedSpans` hits into per-document CUT INTERVALS — the
    * removal step of Lee et al. exact-substring dedup: overlapping or
    * adjacent flagged spans [pos, pos+n) coalesce into one
    * [cut_start, cut_end) interval. Same declarative algebra as
    * `Events.sessionizeBatch` (lag → new-interval flag → running sum →
    * aggregate), applied to token positions instead of timestamps; with
    * uniform span width the previous row's end IS the running max, so a
    * single lag suffices. One shuffle on doc_id, shared by the window
    * passes and the aggregate. */
  def spanCutList(spans: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    spans
      .withColumn("__prev_end", lag(col("pos") + n, 1).over(w))
      .withColumn("__new", when(
        col("__prev_end").isNull || col("pos") > col("__prev_end"), 1L).otherwise(0L))
      .withColumn("cut_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("cut_id"))
      .agg(
        min(col("pos")).as("cut_start"),
        (max(col("pos")) + n).as("cut_end"),
        count(lit(1)).as("n_spans"))
  }

  /** The Lee et al. removal step applied: rewrite each document with every
    * merged cut interval from [[spanCutList]] deleted — the end of the
    * exact-substring-dedup pipeline (flag spans → merge cuts → REWRITE).
    * Removes ALL occurrences of a repeated span (the symmetric variant;
    * keep-one-copy needs only a keeper filter on the span table first).
    *
    * Shape at scale: ONE join — the cut list collapses to a per-doc
    * interval ARRAY (tiny: disjoint merged intervals, a handful per doc),
    * left-joined onto the corpus on doc_id, and the rewrite is then pure
    * map work: an indexed `filter` drops tokens inside any interval and
    * `array_join` reassembles in place. The previous form posexploded
    * every token, range-joined positions against cuts, and rebuilt each
    * document with a collect_list + array_sort aggregate — a full
    * token-stream shuffle whose state was the whole corpus. Now the token
    * stream never leaves its partition; only the interval table moves.
    * Docs whose text tokenizes to nothing, and docs whose every token is
    * cut, vanish (consistent with the tokenize-side pipelines and the
    * previous aggregate form).
    *
    * Positions are 1-based token indexes, `[cut_start, cut_end)` —
    * exactly [[spanCutList]]'s output contract. */
  def applyCutList(docs: DataFrame, cuts: DataFrame): DataFrame = {
    val cutArr = cuts.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("cut_start"), col("cut_end"))).as("__cuts"))
    // exists(null) is null -> coalesce keeps everything for cut-less docs
    val keep = (t: Column, i: Column) => coalesce(
      !exists(col("__cuts"),
        c => (i + 1) >= c.getField("cut_start") && (i + 1) < c.getField("cut_end")),
      lit(true))
    val kept = filter(tokens(col("text")), keep)
    docs
      .join(cutArr, Seq("doc_id"), "left")
      // let-bind the filtered array so join/count don't re-run the filter
      .select(col("doc_id"),
        element_at(transform(array(kept), k => struct(
          array_join(k, " ").as("clean_text"),
          size(k).cast("long").as("n_tokens_kept"))), 1).as("__r"))
      .filter(col("__r.n_tokens_kept") > 0)
      .select(col("doc_id"), col("__r.clean_text").as("clean_text"),
        col("__r.n_tokens_kept").as("n_tokens_kept"))
  }

  /** Benchmark-contamination check — the cross-corpus form of
    * [[repeatedSpans]]: for every training document, how many of its
    * n-token spans also occur ANYWHERE in the reference corpus (the
    * eval/benchmark set), as a count and a fraction. The reference side
    * collapses to its DISTINCT span-hash set before the semi-join, so its
    * size bounds the broadcast/shuffle no matter how big the reference
    * text is; the train side stays O(total tokens). A nonzero
    * `contaminated_frac` is the standard decontamination trigger. */
  def crossCorpusContamination(
      corpus: DataFrame, reference: DataFrame, n: Int = 8): DataFrame = {
    val a = spanHashes(corpus, n)
    val refSet = spanHashes(reference, n).select("gh").distinct()
    // ONE pass over the train grams: mark hits with a left join against
    // the (unique-keyed, so cardinality-preserving) reference set, then
    // count total and marked in a single doc-keyed aggregate. Two
    // separate aggregates would re-run the tokenize/shingle/explode scan
    // — the dominant cost at the operator's scale target — twice.
    a.join(refSet.withColumn("__hit", lit(1)), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        count(col("__hit")).as("n_contaminated"))
      .select(
        col("doc_id"), col("n_spans"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_spans"))
          .as("contaminated_frac"))
  }

  /** Canonical text for normalization-robust dedup (the CCNet/RefinedWeb
    * move: normalize BEFORE fingerprinting, so case, punctuation, and
    * whitespace variants of the same content collapse to one hash):
    * lowercase → non-alphanumerics to spaces → whitespace runs collapsed
    * → trimmed. Patterns sit in the Java∩RE2 intersection (same contract
    * as [[redactPii]]) so the DuckDB twin reproduces every byte; pure
    * map-side, fingerprint with md5/xxhash64 downstream. Intentionally
    * ASCII-scoped — production multilingual corpora swap in ICU
    * normalization at the same call site. */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** English stopword markers present in the synthetic corpus vocabulary;
    * real deployments swap in per-language stopword lists. */
  val EnglishMarkers: Seq[String] = Seq("the", "a")

  private def markerCount(toks: Column): Column =
    size(filter(toks, t => EnglishMarkers.map(t === _).reduce(_ || _)))

  /** Language-ID heuristic: marker-token ratio → language code or "und".
    * (n-gram frequency profiles are the production upgrade; the operator
    * shape — per-row scoring, no shuffle — is identical.) */
  def langId(text: Column, threshold: Double = 0.05): Column = {
    val toks = tokens(text)
    when(markerCount(toks).cast("double") / size(toks) >= threshold, lit("en"))
      .otherwise(lit("und"))
  }

  /** Quality score 0-100: weighted blend of token count, average word
    * length, and (1 - stopword ratio), clamped. `nChars` avoids re-scanning
    * the string when the table already carries it. */
  def qualityScore(text: Column, nChars: Column): Column = {
    val toks = tokens(text)
    val nt = size(toks).cast("double")
    val stop = markerCount(toks).cast("double")
    val awl = (nChars - (nt - 1)) / nt
    RefFunctions.clamp(
      lit(100.0) * (least(nt / 100, lit(1.0)) * 0.4 +
        least(awl / 6, lit(1.0)) * 0.3 +
        (lit(1.0) - stop / nt) * 0.3), 0.0, 100.0)
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** Vocabulary construction: the `topN` most frequent tokens with rank
    * ids and cumulative corpus coverage — the "how big must the vocab be
    * to cover X% of tokens" curve that sizes a tokenizer, plus the OOV
    * mass (1 - max coverage) it implies.
    *
    * Scale shape: one hash aggregate over the exploded tokens (partial
    * map-side combine collapses the per-partition duplicates, so the
    * shuffle carries ~vocab rows, not ~corpus rows), then a pushed
    * sort+limit (TakeOrderedAndProject — never a full global sort) prunes
    * to `topN` BEFORE the rank/cumsum window runs, so the unpartitioned
    * window only ever sees `topN` rows. The total-token count for the
    * coverage denominator is a 1-row broadcast. Ties break by token text
    * so the vocab is deterministic across runs and engines.
    *
    * Returns (token_id, token, n, coverage): token_id is the 0-based
    * frequency rank, coverage the fraction of ALL token occurrences
    * covered by ranks 0..token_id. */
  def vocabulary(docs: DataFrame, textCol: Column, topN: Int): DataFrame = {
    require(topN > 0, s"vocabulary: topN must be positive, got $topN")
    val counts = docs.select(explode(tokens(textCol)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    val top = counts.orderBy(col("n").desc, col("token").asc).limit(topN)
    val w = Window.orderBy(col("n").desc, col("token").asc)
    top.crossJoin(broadcast(total))
      .select(
        (row_number().over(w) - 1).cast("long").as("token_id"),
        col("token"), col("n"),
        (sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("__total").cast("double")).as("coverage"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): hash every k-token gram, then keep only each
    * sliding window's MINIMUM hash. The selected fingerprints are a
    * sparse, position-independent signature with a guarantee plain
    * sampling lacks: any shared run of w+k-1 tokens between two documents
    * shares at least one fingerprint. Join two corpora on `fp` for
    * plagiarism/near-copy detection at ~1/w the index size of full k-gram
    * sets ([[spanHashes]] keeps every span; winnowing is the sampled tier
    * for cross-corpus matching where the full index is too big).
    *
    * Pure map-side array algebra, one row per distinct fingerprint per
    * doc. Tokens, gram hashes, and window minima are let-bound through
    * single-element array+transform (ARCHITECTURE §8) so each tier is
    * evaluated once per row, never once per lambda element. Hashes are
    * md5-derived int60s, so the DuckDB twin (q78) reproduces every
    * fingerprint bit-for-bit. Documents shorter than k tokens emit
    * nothing; shorter than k+w-1 emit the single global minimum. */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, s"winnowFingerprints: k and w must be positive, got k=$k w=$w")
    def gramHash(ts: Column, i: Column): Column =
      conv(substring(md5(concat_ws(" ", slice(ts, i, lit(k)))), 1, 15), 16, 10).cast("long")
    val fps = element_at(transform(array(tokens(col("text"))), ts =>
      element_at(transform(array(
        when(size(ts) - (k - 1) >= 1,
          transform(sequence(lit(1), size(ts) - (k - 1)), i => gramHash(ts, i)))
          .otherwise(array().cast("array<long>"))), hs =>
        when(size(hs) === 0, array().cast("array<long>"))
          .when(size(hs) < w, array(array_min(hs)))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(hs) - (w - 1)),
              j => array_min(slice(hs, j, lit(w))))))), 1)), 1)
    docs.select(col("doc_id"), explode(fps).as("fp"))
  }

  /** Cross-corpus plagiarism/copy detection on winnowing fingerprints:
    * per corpus document, how many of its fingerprints also occur
    * anywhere in `reference` — [[crossCorpusContamination]]'s exact-span
    * question answered from the ~1/w-sized winnowed signature instead of
    * every span (the index you can actually keep when both corpora are
    * large). Matching is semi-join against the DISTINCT reference
    * fingerprint set: one aggregate + one semi join, no pair explosion,
    * and a reference small enough to broadcast stays off the shuffle
    * path entirely. The winnowing guarantee bounds the miss: any shared
    * run of w+k-1 tokens surfaces at least one shared fingerprint. */
  def winnowMatch(corpus: DataFrame, reference: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val c = winnowFingerprints(corpus, k, w)
    val refFps = winnowFingerprints(reference, k, w)
      .select(col("fp")).distinct()
    // ONE pass over the corpus fingerprints (round-13): the former
    // per-doc-count aggregate + semi-join-count pair evaluated the
    // O(tokens·md5) fingerprint explode TWICE. A left join against the
    // distinct reference set tags each fingerprint row (refFps is
    // distinct, so the join never duplicates), and n_fps / n_matched
    // fall out of a single aggregate: count(1) vs count(non-null tag).
    c.join(refFps.withColumn("__hit", lit(1)), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), count(col("__hit")).as("n_matched"))
      .select(
        col("doc_id"), col("n_fps"), col("n_matched"),
        (col("n_matched").cast("double") /
          col("n_fps").cast("double")).as("matched_frac"))
  }

  /** BPE-ish token estimate: greedy max-4-char letter chunks, max-3-digit
    * number chunks (BPE vocabularies split long numbers), and one token
    * per punctuation/symbol character; whitespace is free. The pattern is
    * valid in both Java regex and RE2, so the DuckDB oracle twin (q26)
    * uses it verbatim. */
  val BpeTokenPattern = "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")

  /** PII redaction patterns — written to the Java∩RE2 common subset (no
    * backrefs, no lookaround, explicit char classes) so the exact same
    * strings drive Spark's codegen'd regexp_replace and the DuckDB oracle
    * twin (q52). URL is replaced FIRST (URLs may embed '@' and digit runs
    * that would otherwise half-match as email/phone), then email, then
    * phone. */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9\\- ]{6,}[0-9]"

  /** Scrub emails/URLs/phone numbers to typed placeholder tags. Pure
    * per-row codegen'd string work — no shuffle, scales linearly, and the
    * placeholder tags keep token positions stable for downstream counting. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** `doc_id` (a key: one row per document) and the
    * `token_stats(text, n)` struct as `st` ([[graft.functions.TokenStats]]),
    * for the documents that have a token; a NULL or all-space text has
    * none. The test is `ltrim(text) != ''` (ltrim strips only 0x20, the
    * token separator) rather than `st.n_tokens > 0`: Spark pushes a filter
    * through the projection by inlining the aliased struct, which would
    * run the kernel twice per row. One scan and projection, no exchange. */
  def tokenStats(docs: DataFrame, n: Int): DataFrame = {
    graft.plans.GraftExtensions.install(docs.sparkSession)
    docs
      .filter(ltrim(col("text")) =!= "")
      .select(col("doc_id"),
        graft.functions.TokenStats.token_stats(col("text"), n).as("st"))
  }

  /** Gopher-style repetition signal: fraction of word n-grams that are
    * duplicates of an earlier n-gram in the same document
    * (1 - distinct/total; 0.0 for docs too short to have any), read off a
    * `token_stats(text, n)` struct ([[graft.functions.TokenStats]]).
    * Boilerplate and degenerate generations score high. The same IEEE
    * operations on the same integers as `1 - size(array_distinct(grams)) /
    * size(grams)`, so the double is bit-exact. */
  def dupNgramFraction(stats: Column): Column =
    when(stats.getField("n_grams") > 0,
      lit(1.0) - stats.getField("n_distinct").cast("double") /
        stats.getField("n_grams").cast("double"))
      .otherwise(lit(0.0))

  /** Quality GATE: compose the corpus-filter signals into a keep/drop
    * decision with the FIRST FAILING RULE named per document — the
    * filter-chain-with-reasons shape curation pipelines report on (how
    * much data each rule costs, what to re-tune). Rules in check order:
    * `too_short`, `too_long` (token count), `repetitive_ngrams`
    * ([[dupNgramFraction]] over 3-grams), `token_concentration` (the most
    * frequent token's share of the document). `reason` is null ⟺ `keep`.
    *
    * All thresholds compare single-division doubles (the q53 trick), so
    * the booleans — and therefore the kept corpus — are engine-stable.
    * Documents without a token are dropped; `doc_id` is a key. One
    * [[tokenStats]] pass over 3-grams: a single scan and projection, no
    * exchange. */
  def qualityGate(docs: DataFrame,
      minTokens: Long = 5L, maxTokens: Long = 100000L,
      maxDupFrac: Double = 0.05, maxTopFrac: Double = 0.125): DataFrame = {
    tokenStats(docs, 3)
      .select(
        col("doc_id"), col("st.n_tokens").as("n_toks"),
        coalesce(
          when(col("st.n_tokens") < minTokens, "too_short"),
          when(col("st.n_tokens") > maxTokens, "too_long"),
          when(dupNgramFraction(col("st")) > maxDupFrac, "repetitive_ngrams"),
          when(col("st.top_count").cast("double") / col("st.n_tokens") > maxTopFrac,
            "token_concentration")).as("reason"))
      .select(
        col("doc_id"), col("n_toks"),
        col("reason").isNull.as("keep"), col("reason"))
  }

  /** Bigram language-model scoring — the perplexity-style curation
    * signal: train add-one-smoothed bigram statistics on the corpus
    * itself (one pass), then score every document by its mean token-pair
    * log-probability. Low scores mark text the corpus's own statistics
    * find improbable (boilerplate soup, encoding garbage) — the standard
    * LM-filtering signal, here with the corpus as its own model (no
    * external model files).
    *
    * p(b|a) = (c(a,b)+1) / (c(a·)+V), V = distinct continuation vocab.
    * Shapes: one doc_id window builds the pair stream, the count tables
    * shuffle on gram keys, the 1-row V broadcast-crosses, and the final
    * aggregate shuffles back on doc_id. Nothing is ever all-pairs.
    *
    * Determinism: every per-pair log-prob is rounded to integer
    * MICRO-UNITS before summing, so the per-doc sum is exact integer
    * arithmetic — float summation ORDER (Spark partition order vs any
    * other engine's) cannot perturb the result; the only cross-engine
    * surface is ln() itself on identical doubles, guarded by the final
    * r6 rounding of a division by n. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w2"))
      .withColumn("w1", lag(col("w2"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("w1"), col("w2"))
    // Round-13: c1 and v were pruning-forked re-evaluations of the pair
    // stream — each re-ran the posexplode + lag-window corpus shuffle.
    // Cut the vocab-sized c2 model once per invocation; v over c2 sees
    // exactly the w2 set the pair stream carries. Pair-stream passes:
    // 4 → 2 (model build + scoring join).
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = c2.agg(countDistinct(col("w2")).as("v"))
    pairs
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("logp_micro",
        floor(log((col("c2") + lit(1.0)) / (col("c1") + col("v"))) * 1e6 + 0.5)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("logp_micro")).as("__sum"))
      .select(
        col("doc_id"), col("n_pairs"),
        (floor(col("__sum") / 1e6 / col("n_pairs") * 1e6 + 0.5) / 1e6)
          .as("lm_score"))
  }

  /** Connected components over an undirected edge list: returns
    * (node, component) where `component` is the SMALLEST node id in the
    * node's component — the canonical cluster id for dedup. Only nodes
    * that appear in an edge are returned; callers union isolated nodes
    * back in (see `dedupClusters`).
    *
    * Algorithm: min-label propagation (label := min of own and neighbor
    * labels) plus one pointer-jumping step (label := label(label)) per
    * round, so convergence is O(log diameter) rounds rather than
    * O(diameter). Labels are monotonically non-increasing and always ids
    * of component members, so the fixpoint is exactly the component min.
    * Near-dup clusters have tiny diameters (most are cliques from a
    * shared LSH bucket), so 2-3 rounds is typical.
    *
    * Scale notes: each round is two shuffles (edge join + jump join) over
    * (node, label) pairs — never materializes anything larger than the
    * edge list. `localCheckpoint` after every round cuts the iterative
    * lineage (without it the plan doubles per round and the optimizer
    * re-walks it); on a real cluster prefer `spark.sparkContext
    * .setCheckpointDir` + `.checkpoint()` for fault-tolerant truncation.
    * This is the standard MapReduce CC; Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SOCC'14) is the published
    * large-star/small-star variant with the same O(log n) round bound. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
    // (round-13 note: an explode-both-orientations rewrite that reads
    // the edge subtree once measured ~70% SLOWER here at sf0.1 than
    // this two-branch union — the concurrent branches win; kept as-is.)
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    var rounds = 0
    var changed = -1L
    while (changed != 0L && rounds < CcMaxRounds) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr_min"))
        .withColumnRenamed("a", "node")
      // carry the pre-step label through so the convergence count is an
      // aggregate of the round's own checkpoint job — not a per-round
      // shuffle join back against the previous labels, nor a job of its
      // own: the Observation fills when the eager checkpoint runs
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("__prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      val moved = Observation()
      labels = stepped.as("x")
        .join(
          stepped.select(col("node").as("jn"), col("label").as("jl")).as("j"),
          col("x.label") === col("j.jn"), "left")
        .select(col("x.node").as("node"), col("x.__prev").as("__prev"),
          coalesce(col("j.jl"), col("x.label")).as("label"))
        .observe(moved, count(when(col("label") =!= col("__prev"), 1)).as("n"))
        .localCheckpoint(true)
        .drop("__prev")
      changed = moved.get("n").asInstanceOf[Long]
      rounds += 1
    }
    require(changed == 0L, s"connectedComponents did not converge in $CcMaxRounds rounds")
    labels.withColumnRenamed("label", "component")
  }

  /** The round limit of [[connectedComponents]], far above the
    * O(log diameter) rounds a near-dup cluster takes. */
  private final val CcMaxRounds = 20

  /** Cluster resolution for a dedup pipeline: candidate pairs (from
    * MinHash/SimHash banding or exact fingerprints) → one row per
    * document with its cluster id (min doc id of the connected
    * component; singletons cluster with themselves), the cluster size,
    * and whether this document is the canonical keeper. Filtering on
    * `is_keeper` yields the deduplicated corpus. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
    // cluster_size as a count window over the SAME key (round-13): the
    // former groupBy+self-join evaluated `labeled` twice (two docs
    // scans + an extra exchange); one cluster_id exchange now serves
    // both the size and any downstream cluster_id window (q167 chains
    // two — guide §2.4's shared-partitioning rule). Same rows, counts,
    // and types (count over an unordered frame = whole partition).
    labeled
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .select(
        col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** PPJoin candidate pairs — EXACT-recall prefix filtering for the
    * set-similarity join (Chaudhuri/Ganti/Kaushik SSJoin + Xiao et al.
    * PPJoin prefix principle): order each doc's tokens by ascending
    * document frequency, keep only the first n − ⌈t·n⌉ + 1 (the PREFIX);
    * any pair with Jaccard ≥ t MUST share a prefix token, so joining on
    * prefix tokens loses nothing. Rarest-first ordering makes the join
    * keys the LEAST skewed tokens — the candidate blow-up a raw
    * token-join would hit on stopwords cannot happen here.
    *
    * Input: (doc_id, toks) with toks an array of DISTINCT tokens.
    * Output: distinct (doc_a < doc_b) candidate id pairs. Three bounded
    * shuffles: token df, per-doc rank window, candidate distinct.
    *
    * Round 14 adds PPJoin's LENGTH FILTER (Xiao et al. §3; guide §3 join
    * pre-filter): J(A,B) ≥ t ⟹ min(|A|,|B|)/max(|A|,|B|) ≥ t (the
    * intersection is at most the smaller set, the union at least the
    * larger), so candidate pairs failing the size-ratio bound are pruned
    * BEFORE the distinct exchange and the verify join ever see them.
    * Lossless against the downstream verify BY CONSTRUCTION, including
    * at the float boundary: both this filter and the verify compare a
    * correctly-rounded double division against the same threshold, and
    * x = i/u ≤ r = min/max in reals ⟹ rnd(x) ≤ rnd(r) (rounding is
    * monotone) ⟹ any pair the verify keeps (rnd(x) ≥ t) passes here
    * (rnd(r) ≥ t). PpJoinSpec pins recall vs the naive quadratic join;
    * the degenerate-size pruning case is pinned there too. */
  def ppJoinCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    val tokRows = docs.select(col("doc_id").as("__id"),
      size(col("toks")).as("__n"), explode(col("toks")).as("__tok"))
    val dfTok = tokRows.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val prefixLen =
      (col("__n") - ceil(col("__n") * threshold) + 1).cast("int")
    val prefix = tokRows.join(dfTok, "__tok")
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__id"))
        .orderBy(col("__df").asc, col("__tok").asc)))
      .filter(col("__rn") <= prefixLen)
      .select(col("__id"), col("__n"), col("__tok"))
    prefix.select(col("__id").as("doc_a"), col("__n").as("__na"), col("__tok"))
      .join(prefix.select(col("__id").as("doc_b"), col("__n").as("__nb"),
        col("__tok")), Seq("__tok"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("__na"), col("__nb")).cast("double") /
          greatest(col("__na"), col("__nb")) >= threshold)
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact set-similarity self-join: [[ppJoinCandidates]] then exact
    * Jaccard verification of only the candidates. Row-identical to the
    * naive O(n²) all-pairs join at ANY threshold (prefix filtering is
    * lossless), but the verify join touches candidates, not n²/2 pairs.
    * Output: (doc_a, doc_b, jac) with raw double Jaccard ≥ threshold. */
  def ppJoin(docs: DataFrame, threshold: Double): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_a"), col("toks").as("__toks_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("toks").as("__toks_b"))
    val jac =
      size(array_intersect(col("__toks_a"), col("__toks_b"))).cast("double") /
        size(array_union(col("__toks_a"), col("__toks_b")))
    ppJoinCandidates(docs, threshold)
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("jac", jac)
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }
}
