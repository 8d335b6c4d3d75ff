package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Core, RefFunctions => F}
import graft.sources.Tables

import Shared._

/** North-star LLM-curation heads (§2.11): dedup families, similarity, text analysis, multimodal. Split from the single-file catalog in round 8;
  * query text unchanged. Registration stays in [[QueryCatalog.all]]. */
private[queries] object CatalogNorthStar {


  // ------------------------------------------------- north-star (§2.11)

  /** Exact dedup: group-by content hash, keep min doc_id. At 100 TB this is
    * the standard first dedup pass — one shuffle on the 128-bit digest. */
  private val q19 = Q(
    "q19_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies")),
    Some("""
      SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id,
        count(*) AS n_copies
      FROM documents GROUP BY 1"""))

  /** n-gram Jaccard near-dup join, prefix-blocked: candidate pairs share a
    * 30-char prefix (the blocking key), then exact Jaccard over distinct
    * token sets filters at 0.5. Blocking keeps the self-join linear-ish;
    * the MinHash variant (q21) is the probabilistic-recall scale path. */
  private val q20 = Q(
    "q20_jaccard_neardup",
    (s, d) => prefixJaccardPairs(s, d)
      .select(col("doc_a"), col("doc_b"), r(col("jac"), 3).as("jaccard")),
    Some("""
      WITH d AS (
        SELECT doc_id, substr(text, 1, 30) AS pfx,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        floor((len(list_intersect(a.toks, b.toks))::DOUBLE
               / len(list_distinct(list_concat(a.toks, b.toks))))*1000 + 0.5)/1000 AS jaccard
      FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5"""))

  /** MinHash + LSH banding near-dup join, fully oracle-checked: word-3-gram
    * shingles → 16 md5-derived min-hashes → 4 bands of 4 → band-bucket
    * self-join for candidates → exact Jaccard verification at 0.5.
    * The md5-hex→int64 hash is engine-independent (Spark murmur and DuckDB
    * hash() are not). Production note (100 TB): swap md5 for xxhash64
    * and the self-join stays on band buckets — shuffle is O(docs×bands),
    * never O(docs²). */
  private val q21 = Q(
    "q21_minhash_lsh",
    (s, d) => {
      // One md5 per shingle, then 16 seeded hashes by affine arithmetic
      // mod the Mersenne prime 2^31-1 — 16x fewer digests than hashing
      // (seed, shingle) pairs, and DuckDB mirrors the integer math exactly.
      val M = 2147483647L
      def hexint(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val toks = split(col("text"), " ")
      // Explode shingles to rows and hash each ONCE in codegen, then take
      // the 16 seeded minima as plain aggregates. (A nested higher-order
      // formulation re-evaluates the inlined hash lambda per outer
      // iteration after CollapseProject — 16-64x duplicate md5 work.)
      val shingleRows = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))).as("sh"))
        .select(col("doc_id"), (hexint(col("sh")) % M).as("h"))
      val minCols = (0 until 16).map(seed =>
        min((col("h") * (seed * 2 + 1) + seed * 1000003L) % M).as(s"m$seed"))
      val base = shingleRows
        .groupBy(col("doc_id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"), array((0 until 16).map(i => col(s"m$i")): _*).as("mh"))
      val banded = base.select(
        col("doc_id"),
        explode(transform(sequence(lit(0), lit(3)), b => struct(
          b.as("band_id"),
          md5(array_join(transform(slice(col("mh"), b * 4 + 1, lit(4)),
            x => x.cast("string")), "|")).as("band_hash")))).as("band"))
        .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
      // Bucket-combination form instead of a self-join: the expensive
      // minhash subtree is evaluated ONCE, candidates come from one
      // groupBy shuffle on the band key (a self-join would re-evaluate
      // the whole signature computation on both sides).
      val pairs = banded
        .groupBy(col("band_id"), col("band_hash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(flatten(transform(
          sequence(lit(1), size(col("ids")) - 1),
          i => transform(
            sequence(i + 1, size(col("ids"))),
            j => struct(
              element_at(col("ids"), i).as("doc_a"),
              element_at(col("ids"), j).as("doc_b")))))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .distinct()
      // round-13: both verify sides consumed tokset — two full corpus
      // tokenization passes; cut once per invocation (A/B: 1.26-1.34 s
      // vs 1.43-1.53 s isolated at sf0.1)
      val tokset = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .localCheckpoint(true)
      val jac = size(array_intersect(col("ta.toks"), col("tb.toks"))).cast("double") /
        size(array_union(col("ta.toks"), col("tb.toks")))
      pairs
        .join(tokset.as("ta"), col("doc_a") === col("ta.doc_id"))
        .join(tokset.as("tb"), col("doc_b") === col("tb.doc_id"))
        .select(col("doc_a"), col("doc_b"), jac.as("jac"))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), r(col("jac"), 3).as("jaccard"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sh AS (
        SELECT doc_id, toks,
          list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        FROM t WHERE len(toks) >= 3),
      hsrc AS (
        SELECT doc_id,
          list_transform(shingles, sg ->
            ('0x' || substr(md5(sg), 1, 15))::BIGINT % 2147483647) AS hs
        FROM sh),
      m AS (
        SELECT doc_id,
          list_transform(range(0, 16), seed ->
            list_min(list_transform(hs, h ->
              (h * (seed*2 + 1) + seed*1000003) % 2147483647))) AS mh
        FROM hsrc),
      banded AS (
        SELECT doc_id, b.band_id,
          md5(array_to_string(list_transform(mh[b.band_id*4+1 : b.band_id*4+4],
            x -> x::VARCHAR), '|')) AS band_hash
        FROM m, (SELECT unnest([0,1,2,3]) AS band_id) b),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM banded a JOIN banded b2
          ON a.band_id = b2.band_id AND a.band_hash = b2.band_hash
         AND a.doc_id < b2.doc_id),
      tokset AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents)
      SELECT doc_a, doc_b,
        floor((len(list_intersect(ta.toks, tb.toks))::DOUBLE
               / len(list_distinct(list_concat(ta.toks, tb.toks))))*1000 + 0.5)/1000 AS jaccard
      FROM pairs
      JOIN tokset ta ON doc_a = ta.doc_id
      JOIN tokset tb ON doc_b = tb.doc_id
      WHERE len(list_intersect(ta.toks, tb.toks))::DOUBLE
            / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.5"""))

  /** SimHash (32-bit) per document: md5-derived token hashes, per-bit
    * vote sums, sign bits reassembled. Two narrow shuffles; at 100 TB the
    * bit fan-out stays map-side (explode before the keyed aggregate). */
  private val q22 = Q(
    "q22_simhash",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("hv", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      // round-13: the 32× bit explode pushed tokens·32 rows through the
      // keyed aggregate; 32 conditional sums in ONE aggregate carry the
      // same ±1 vote totals as 32 partial-agg buffers per doc instead
      // (same integers per (doc, bit), simhash reassembled identically).
      val votes = (0 until 32).map(b =>
        sum(when(expr(s"(hv >> $b) & 1") === 1, lit(1)).otherwise(lit(-1)))
          .as(s"s$b"))
      tok.groupBy(col("doc_id"))
        .agg(votes.head, votes.tail: _*)
        .select(col("doc_id"),
          (0 until 32).map(b =>
            when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv
        FROM tok WHERE tok <> ''),
      bits AS (
        SELECT doc_id, b,
          CAST(sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
        FROM h, (SELECT unnest(range(0, 32)) AS b) GROUP BY doc_id, b)
      SELECT doc_id,
        CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id"""))

  /** Brute-force cosine top-k over embeddings (the correctness baseline for
    * ANN; `graft.ops.Similarity.bruteForceTopK` is its library form).
    * Dot products in double via zip_with+aggregate — no UDF, stays codegen'd. */
  private val q23 = Q(
    "q23_cosine_topk",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val e = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val n = e.withColumn("nrm",
        sqrt(graft.functions.VectorDot.vec_dot(col("v"), col("v"))))
      val q = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val dot = graft.functions.VectorDot.vec_dot(col("qv"), col("v"))
      val scored = q.join(n, col("vec_id") =!= col("q_id"))
        .withColumn("sim", dot / (col("qn") * col("nrm")))
      Core.topKPerGroup(
        scored.select(col("q_id"), col("vec_id"), col("sim")),
        Seq("q_id"), Seq(col("sim").desc, col("vec_id").asc), 10)
        .select(col("q_id"), col("vec_id"), r(col("sim"), 4).as("cosine"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      q AS (
        SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
      scored AS (
        SELECT q.q_id, n.vec_id,
          list_dot_product(q.qv, n.v)/(q.qn * n.nrm) AS sim
        FROM q JOIN n ON n.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, sim,
          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
        FROM scored)
      SELECT q_id, vec_id, floor(sim*10000 + 0.5)/10000 AS cosine
      FROM ranked WHERE rn <= 10"""))

  /** Language-ID by stopword-marker ratio (n-gram heuristic): deterministic
    * CASE over the marker-token ratio, confusion-matrix-style output. */
  private val q24 = Q(
    "q24_lang_id",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("predicted", graft.ops.Text.langId(col("text")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n")),
    Some("""
      WITH p AS (
        SELECT lang,
          CASE WHEN len(list_filter(string_split(text, ' '),
                 t -> t = 'the' OR t = 'a'))::DOUBLE
               / len(string_split(text, ' ')) >= 0.05
          THEN 'en' ELSE 'und' END AS predicted
        FROM documents)
      SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2"""))

  /** Quality scoring: token count, average word length, stopword ratio →
    * weighted clamp to 0-100, aggregated per source. */
  private val q25 = Q(
    "q25_quality_score",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("q", r2(graft.ops.Text.qualityScore(col("text"), col("n_chars"))))
        .groupBy(col("source"))
        .agg(r2(avg(col("q"))).as("avg_quality"), count(lit(1)).as("n_docs")),
    Some("""
      WITH p AS (
        SELECT source,
          floor(least(100.0, greatest(0.0,
            100.0 * (least(len(string_split(text,' '))::DOUBLE/100, 1.0)*0.4
             + least(((n_chars - (len(string_split(text,' '))::DOUBLE - 1))
                      / len(string_split(text,' '))::DOUBLE)/6, 1.0)*0.3
             + (1.0 - len(list_filter(string_split(text,' '),
                   t -> t = 'the' OR t = 'a'))::DOUBLE
                 / len(string_split(text,' '))::DOUBLE)*0.3)))*100 + 0.5)/100 AS q
        FROM documents)
      SELECT source, floor(avg(q)*100 + 0.5)/100 AS avg_quality,
        count(*) AS n_docs
      FROM p GROUP BY source"""))

  /** Token counting per language: whitespace tokens + a BPE-ish max-4-char
    * greedy regex tokenizer + char stats. */
  private val q26 = Q(
    "q26_token_stats",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("ws_tokens", graft.ops.Text.wsTokenCount(col("text")))
        .withColumn("bpe_tokens", graft.ops.Text.bpeTokenCount(col("text")))
        .groupBy(col("lang"))
        .agg(
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("bpe_tokens")).as("sum_bpe_tokens"),
          r2(avg(col("n_chars"))).as("avg_chars"),
          count(lit(1)).as("n_docs")),
    Some("""
      SELECT lang,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        CAST(sum(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens,
        floor(avg(n_chars)*100 + 0.5)/100 AS avg_chars,
        count(*) AS n_docs
      FROM documents GROUP BY lang"""))

  /** Document fingerprinting: full md5 digest + a 60-bit integer prefix
    * fingerprint. */
  private val q27 = Q(
    "q27_fingerprint",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("fp_int60")),
    Some("""
      SELECT doc_id, md5(text) AS fp_md5,
        ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp_int60
      FROM documents"""))

  /** Multimodal plumbing (oracle-checkable slice): documents as opaque
    * binary payloads — byte length, content digest, first-8-byte hex
    * "frame sample". The full typed pipeline (metadata struct, stubbed
    * decode, feature extraction over mapPartitions) is
    * graft.ops.Multimodal + MultimodalSpec. */
  private val q28 = Q(
    "q28_multimodal_meta",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text")).as("digest"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("head8_hex")),
    Some("""
      SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS digest,
        hex(substr(text, 1, 8)::BLOB) AS head8_hex
      FROM documents"""))

  /** REAL image decode, oracle-checked end to end (round 9 — the q151
    * stub's graduation): per doc a deterministic grayscale image is
    * rendered from the closed-form `Multimodal.synthGray` formula,
    * PNG-ENCODED with javax.imageio, then PNG-DECODED back inside the
    * mapPartitions codec boundary, and the emitted stats — dims, exact
    * 16-bin gray histogram, 8×8 block aHash as four 16-bit bands — are
    * computed from the DECODED raster samples. The DuckDB twin recomputes
    * every stat from the FORMULA (expanded via range() grids): the oracle
    * never parses a PNG, so a green row proves the whole codec round trip
    * recovers ground-truth pixels exactly (PNG is lossless; the
    * q122/q170 parser-vs-truth discipline applied to a binary codec).
    * All hash arithmetic is exact integer cross-multiplication
    * (blockSum·totalPix > totalSum·blockPix) — no float mean, no signed
    * bit-63 shift (the hash emits as 4 bands). Scale: pure map over the
    * corpus; codec state per partition; payloads never hit the driver. */
  private val q227 = Q(
    "q227_png_decode",
    (s, d) => {
      val st = graft.ops.Multimodal.pngPipeline(s,
        spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id"))
      st.select(col("doc_id"), col("width"), col("height"), col("n_pix"),
        array_join(transform(col("hist"), x => x.cast("string")), "|").as("hist"),
        element_at(col("bands"), 1).as("band0"),
        element_at(col("bands"), 2).as("band1"),
        element_at(col("bands"), 3).as("band2"),
        element_at(col("bands"), 4).as("band3"))
    },
    Some(s"""
      WITH $pngStatsCtes
      SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
        CAST(d.w * d.h AS BIGINT) AS n_pix, hist.hist,
        bands.band0, bands.band1, bands.band2, bands.band3
      FROM dims d JOIN hist USING (doc_id) JOIN bands USING (doc_id)"""))

  /** Perceptual near-dup over REAL decoded pixels (q151's banded shape on
    * the q227 codec path): candidates agree on THREE of the four 16-bit
    * bands of the 64-bit block aHash at once (48-bit conjunction keys —
    * LSH AND-composition, tolerating hash flips confined to one band)
    * AND the exact dims, verified by integer L1 over the decoded 16-bin
    * histograms (l1·2 ≤ n_pix). The synthesis formula
    * plants families (16-doc blocks, doc_id / 16 — BOUNDED size, so
    * families grow with the corpus and the true pair count is LINEAR
    * in n; the first-cut doc_id % 128 dial grew family SIZE with the
    * corpus instead and measured 77x for 10x data at sf1 — caught by
    * the sweep, fixed at Multimodal.synthDims) whose members differ by a UNIFORM
    * intensity shift — which provably leaves every block-vs-global
    * comparison invariant (both sides gain shift·npix), so family members
    * share the exact hash and planted recall is structural, not
    * empirical (pinned in PngCodecSpec). The operator's scale
    * mechanism is the banded
    * join itself — 2^16 buckets per band, worst-case Θ(n²/2^16)
    * candidates before the L1 verify, exactly the SimHash/q151 banding
    * economics. The oracle recomputes hash + histograms from the formula
    * and replays the same band join + L1 — no codec trust. Plan note
    * (round-13): the stats table is materialized ONCE per invocation
    * (localCheckpoint — the q137b/q182 persisted-artifact pattern,
    * in-query form) and self-joined, so the codec runs n times, not 2n;
    * nothing persists across invocations. */
  private val q228 = Q(
    "q228_png_neardup",
    (s, d) => {
      val st = graft.ops.Multimodal.pngPipeline(s,
        spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id"))
        .localCheckpoint(true)
      // 3-of-4-band CONJUNCTION keys (LSH AND-composition): a candidate
      // pair must agree on THREE bands at once (⇔ at most one band of
      // hash flips). Single-band blocking degenerates at corpus scale —
      // aHash bands of smooth images are low-entropy, and the sf10 probe
      // measured 75 M candidate pairs for 3.75 M true pairs (buckets of
      // 850 docs); the 48-bit triple keys cut that to 15.5 M with max
      // bucket 80, same planted recall (family members share ALL four
      // bands, so every triple key matches).
      val K = 65536L
      def bnd(i: Int) = element_at(col("bands"), i + 1)
      def tripleKeys = array(
        (bnd(0) * K + bnd(1)) * K + bnd(2),
        (bnd(0) * K + bnd(1)) * K + bnd(3),
        (bnd(0) * K + bnd(2)) * K + bnd(3),
        (bnd(1) * K + bnd(2)) * K + bnd(3))
      def side(tag: String) = st
        .select(col("doc_id").as(s"id_$tag"), col("width"), col("height"),
          col("n_pix").as(s"np_$tag"), col("hist").as(s"h_$tag"),
          posexplode(tripleKeys))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "key")
      val l1 = aggregate(
        zip_with(col("h_a"), col("h_b"), (x, y) => abs(x - y)),
        lit(0L), (acc, x) => acc + x)
      side("a").join(side("b"), Seq("band", "key", "width", "height"))
        .filter(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b") // several shared bands, one pair
        .withColumn("l1", l1)
        .filter(col("l1") * 2 <= col("np_a"))
        .select(col("id_a"), col("id_b"), col("l1"))
    },
    Some(s"""
      WITH $pngStatsCtes,
      hg AS (
        SELECT d.doc_id, r.range AS bin, coalesce(hb.c, 0) AS c
        FROM dims d CROSS JOIN range(0, 16) r
        LEFT JOIN hb ON hb.doc_id = d.doc_id AND hb.bin = r.range),
      bandrows AS (
        SELECT doc_id, w, h, b.band, CASE b.band
          WHEN 0 THEN (band0 * 65536 + band1) * 65536 + band2
          WHEN 1 THEN (band0 * 65536 + band1) * 65536 + band3
          WHEN 2 THEN (band0 * 65536 + band2) * 65536 + band3
          ELSE (band1 * 65536 + band2) * 65536 + band3 END AS key
        FROM bands JOIN dims USING (doc_id)
        CROSS JOIN (SELECT range AS band FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.w, a.h
        FROM bandrows a JOIN bandrows b
          ON a.band = b.band AND a.key = b.key
          AND a.w = b.w AND a.h = b.h AND a.doc_id < b.doc_id),
      pairl1 AS (
        SELECT c.id_a, c.id_b, c.w, c.h,
          CAST(sum(abs(ha.c - hbb.c)) AS BIGINT) AS l1
        FROM cand c
        JOIN hg ha ON ha.doc_id = c.id_a
        JOIN hg hbb ON hbb.doc_id = c.id_b AND hbb.bin = ha.bin
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, l1 FROM pairl1 WHERE l1 * 2 <= w * h"""))

  /** REAL audio decode, oracle-checked end to end — the q227 discipline
    * on the SECOND modality: per doc a deterministic 16-bit mono PCM
    * signal is rendered from the closed-form `Multimodal.synthSample`
    * formula, WAV-ENCODED with javax.sound.sampled (RIFF/PCM is a
    * lossless container), then DECODED back inside the mapPartitions
    * codec boundary; the emitted stats — sample count, peak, L1 sum,
    * energy Σs², strict zero crossings — are exact integers over the
    * DECODED samples. The DuckDB twin expands the formula through a
    * range() grid and a lag window: the oracle never parses a RIFF
    * header, so a green row proves the audio round trip recovers the
    * waveform bit-exactly. Pure map over the corpus, codec state per
    * partition. */
  private val q229 = Q(
    "q229_wav_decode",
    (s, d) => graft.ops.Multimodal.wavPipeline(s,
      spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")),
    Some("""
      WITH n AS (SELECT doc_id, 2000 + doc_id % 1000 AS n FROM documents),
      smp AS (
        SELECT n.doc_id, n.n, i.range AS i,
          ((n.doc_id % 97) * 31 + i.range * 17) % 20001 - 10000 AS s
        FROM n CROSS JOIN range(0, 3000) i WHERE i.range < n.n),
      lagd AS (
        SELECT doc_id, n, s,
          lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps
        FROM smp)
      SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
        CAST(max(abs(s)) AS BIGINT) AS peak,
        CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        CAST(sum(s * s) AS BIGINT) AS energy,
        CAST(sum(CASE WHEN ps IS NOT NULL AND ps * s < 0
          THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM lagd GROUP BY 1"""))

  /** REAL frame sampling over a video-shaped container — the third
    * modality on the q227 discipline: per doc a length-prefixed container
    * of genuine PNG FRAMES (16×8, pixel formula `Multimodal.synthFrameGray`)
    * is built, then every 2nd frame is ACTUALLY DECODED (skipped frames
    * are skipped via their length prefix, never decoded — decode cost ∝
    * sampled frames, the point of sampling) and its exact intensity sum
    * emitted. The DuckDB twin expands the formula over (frame, x, y)
    * range grids with the same stride filter: the oracle never walks the
    * container, so a green row proves both the container framing and the
    * per-frame codec recover ground truth. Pure flatMap over the corpus,
    * ≤ ⌈8/2⌉ rows out per doc. */
  private val q230 = Q(
    "q230_video_frames",
    (s, d) => graft.ops.Multimodal.videoPipeline(s,
      spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")),
    Some("""
      WITH nf AS (
        SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS n_frames FROM documents),
      fr AS (
        SELECT doc_id, n_frames, f.range AS frame_idx
        FROM nf CROSS JOIN range(0, 8) f
        WHERE f.range < n_frames AND f.range % 2 = 0),
      px AS (
        SELECT fr.doc_id, fr.n_frames, fr.frame_idx,
          (fr.doc_id * 13 + fr.frame_idx * 29 + x.range * 7 + y.range * 3) % 251
            AS g
        FROM fr CROSS JOIN range(0, 16) x CROSS JOIN range(0, 8) y)
      SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
        CAST(sum(g) AS BIGINT) AS frame_sum
      FROM px GROUP BY 1, 2, 3"""))

  /** The q227/q228 ground-truth CTE stack: the `Multimodal.synthGray`
    * formula expanded to pixels via bounded range() grids (max dims
    * 24×22), then histogram / block-sum / band arithmetic — all exact
    * integers, evaluated by DuckDB with no image machinery. */
  private lazy val pngStatsCtes: String = """dims AS (
        SELECT doc_id, doc_id // 16 AS cl, doc_id % 5 AS sh,
          16 + (doc_id // 16) % 9 AS w, 16 + (doc_id // 16) % 7 AS h
        FROM documents),
      px AS (
        SELECT d.doc_id, d.w, d.h, x.range AS x, y.range AS y,
          (d.cl * 37 + x.range * (7 + d.cl % 5) + y.range * (13 + d.cl % 11)
            + x.range * y.range * (1 + d.cl % 7)) % 240 + d.sh AS g
        FROM dims d CROSS JOIN range(0, 24) x CROSS JOIN range(0, 22) y
        WHERE x.range < d.w AND y.range < d.h),
      hb AS (SELECT doc_id, g // 16 AS bin, count(*) AS c FROM px GROUP BY 1, 2),
      hist AS (
        SELECT d.doc_id,
          array_to_string(array_agg(CAST(coalesce(hb.c, 0) AS VARCHAR)
            ORDER BY r.range), '|') AS hist
        FROM dims d CROSS JOIN range(0, 16) r
        LEFT JOIN hb ON hb.doc_id = d.doc_id AND hb.bin = r.range
        GROUP BY 1),
      blk AS (
        SELECT doc_id, (y * 8) // h * 8 + (x * 8) // w AS bit,
          CAST(sum(g) AS BIGINT) AS bsum, count(*) AS bpix
        FROM px GROUP BY 1, 2),
      tot AS (
        SELECT doc_id, CAST(sum(g) AS BIGINT) AS tsum, count(*) AS tpix
        FROM px GROUP BY 1),
      bands AS (
        SELECT b.doc_id,
          CAST(sum(CASE WHEN bit // 16 = 0
            AND b.bsum * t.tpix > t.tsum * b.bpix
            THEN 1 << (bit % 16) ELSE 0 END) AS BIGINT) AS band0,
          CAST(sum(CASE WHEN bit // 16 = 1
            AND b.bsum * t.tpix > t.tsum * b.bpix
            THEN 1 << (bit % 16) ELSE 0 END) AS BIGINT) AS band1,
          CAST(sum(CASE WHEN bit // 16 = 2
            AND b.bsum * t.tpix > t.tsum * b.bpix
            THEN 1 << (bit % 16) ELSE 0 END) AS BIGINT) AS band2,
          CAST(sum(CASE WHEN bit // 16 = 3
            AND b.bsum * t.tpix > t.tsum * b.bpix
            THEN 1 << (bit % 16) ELSE 0 END) AS BIGINT) AS band3
        FROM blk b JOIN tot t USING (doc_id) GROUP BY 1)"""

  /** J6 — the multi-source attractiveness gold join (README.md:84-85,107):
    * master dim LEFT-joins three independently-aggregated score sources
    * (orders via customer, lineitem revenue via supplier, events "trend"
    * keyed by user_id%25) and takes a weighted clamped score. Missing
    * sources coalesce to 0 — a master row never drops (README.md:119). */
  private val q29 = Q(
    "q29_gold_join",
    (s, d) => {
      val nation = Tables.nation(s, d)
      val fx = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("n_nationkey"))
        .agg(least(lit(100.0), avg(col("o_totalprice")) / 2000).as("score_fx"))
      val rev = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("n_nationkey"))
        .agg(least(lit(100.0), sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) / 1e7).as("score_rev"))
      val trend = Tables.events(s, d)
        .groupBy((col("user_id") % 25).cast("int").as("n_nationkey"))
        .agg(least(lit(100.0), avg(col("value")) / 2).as("score_trend"))
      graft.ops.Gold.attractiveness(
        nation.select(col("n_nationkey"), col("n_name")), "n_nationkey",
        Seq((fx, "score_fx", 0.5), (rev, "score_rev", 0.3), (trend, "score_trend", 0.2)))
        .select(
          col("n_name"),
          r2(coalesce(col("score_fx"), lit(0.0))).as("score_fx"),
          r2(coalesce(col("score_rev"), lit(0.0))).as("score_rev"),
          r2(coalesce(col("score_trend"), lit(0.0))).as("score_trend"),
          col("attractiveness_score"))
    },
    Some("""
      WITH fx AS (
        SELECT c_nationkey AS k, least(100.0, avg(o_totalprice)/2000) AS score_fx
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      rev AS (
        SELECT s_nationkey AS k,
          least(100.0, sum(l_extendedprice*(1-l_discount))/1e7) AS score_rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1),
      trend AS (
        SELECT CAST(user_id % 25 AS INT) AS k, least(100.0, avg(value)/2) AS score_trend
        FROM events GROUP BY 1)
      SELECT n_name,
        floor(coalesce(score_fx, 0.0)*100 + 0.5)/100 AS score_fx,
        floor(coalesce(score_rev, 0.0)*100 + 0.5)/100 AS score_rev,
        floor(coalesce(score_trend, 0.0)*100 + 0.5)/100 AS score_trend,
        floor(least(100.0, greatest(0.0,
          coalesce(score_fx, 0.0)*0.5 + coalesce(score_rev, 0.0)*0.3
          + coalesce(score_trend, 0.0)*0.2))*100 + 0.5)/100 AS attractiveness_score
      FROM nation
      LEFT JOIN fx ON n_nationkey = fx.k
      LEFT JOIN rev ON n_nationkey = rev.k
      LEFT JOIN trend ON n_nationkey = trend.k"""))

  /** Rollup hierarchy totals (region → nation → grand total) — the
    * multi-level aggregation a gold dashboard layer needs; subtotal rows
    * carry NULL keys in both engines. */
  private val q30 = Q(
    "q30_rollup",
    (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("total_price")),
    Some("""
      SELECT r_name, n_name, count(*) AS n_orders,
        floor(sum(o_totalprice)*100 + 0.5)/100 AS total_price
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)"""))

  /** Distinct aggregation (exact): distinct orders/parts per return flag.
    * (approx_count_distinct exists but its HLL sketch differs from
    * DuckDB's, so the oracle-checked form is exact.) Pedagogical row:
    * multi-column countDistinct compiles to the row-replicating Expand —
    * the scaleTwin q31b carries the re-aggregation plan (and q41 the
    * sketch form when even distinct sets are too big to shuffle). */
  private val q31 = Q(
    "q31_distinct_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows")),
    Some("""
      SELECT l_returnflag,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        count(*) AS n_rows
      FROM lineitem GROUP BY 1"""),
    scalePath = false, scaleTwin = Some("q31b_distinct_reagg"))

  /** q31 without the Expand: multi-column count_distinct compiles to an
    * Expand that replicates EVERY input row once per distinct column (3×
    * the shuffle here) before a 3-way null-partitioned aggregate. This
    * form re-aggregates instead: per-column distinct via (flag, key)
    * groupBy — which partial-aggregates map-side, so the shuffle carries
    * per-partition DISTINCT keys, not rows — then counts the tiny
    * distinct sets and joins three ≤5-row aggregates. At 100 TB with
    * n_distinct ≪ n_rows this is the shuffle-volume winner; q41's sketch
    * form wins when even the distinct sets are too big to shuffle. Same
    * oracle as q31 — all three forms must agree. */
  private val q31b = Q(
    "q31b_distinct_reagg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      def nDistinct(key: String, as: String) =
        li.select(col("l_returnflag"), col(key)).distinct()
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
      nDistinct("l_orderkey", "n_orders")
        .join(nDistinct("l_partkey", "n_parts"), "l_returnflag")
        .join(li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows")),
          "l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        count(*) AS n_rows
      FROM lineitem GROUP BY 1"""))

  /** Embedding-cosine near-dup pairs, metadata-blocked: candidate pairs
    * share a label (the blocking key — at 100 TB this is an LSH bucket or
    * k-means cell, see graft.ops.SemDedup), then exact cosine
    * filters. Threshold 0.45 sits just under this corpus's in-label max. */
  private val q32 = Q(
    "q32_embedding_neardup",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val e = Tables.embeddings(s, d).select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val n = e.withColumn("nrm",
        sqrt(graft.functions.VectorDot.vec_dot(col("v"), col("v"))))
      val a = n.select(col("vec_id").as("id_a"), col("label"), col("v").as("va"), col("nrm").as("na"))
      val b = n.select(col("vec_id").as("id_b"), col("label"), col("v").as("vb"), col("nrm").as("nb"))
      val sim = graft.functions.VectorDot.vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", sim)
        .filter(col("sim") >= 0.45)
        .select(col("id_a"), col("id_b"), col("label"), r(col("sim"), 4).as("cosine"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (
        SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        floor((list_dot_product(a.v, b.v)/(a.nrm*b.nrm))*10000 + 0.5)/10000 AS cosine
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.45"""),
    // the 10-value label block is a fixture stand-in: in-block pairs grow
    // quadratically with the corpus (documented in BASELINE.md's sf1
    // probe); the production blocking key is a learned cell whose count
    // scales with n — q164b's configuration
    scalePath = false, scaleTwin = Some("q164b_semdedup_scaled"))

  /** As-of join (Core.asOfJoin — union + one keyed window, no range
    * explosion): each purchase event picks up the value of the user's most
    * recent prior click. Left rows with no prior click keep null. */
  private val q33 = Q(
    "q33_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("value"))
      Core.asOfJoin(purchases, clicks,
        keys = Seq("user_id"), leftOrder = "event_id", rightOrder = "event_id",
        rightPayload = Seq("value"))
        .select(
          col("event_id"), col("user_id"),
          r2(col("value")).as("value"),
          r2(col("asof_value")).as("asof_click_value"))
    },
    Some("""
      SELECT event_id, user_id,
        floor(value*100 + 0.5)/100 AS value,
        floor(asof_value*100 + 0.5)/100 AS asof_click_value
      FROM (
        SELECT event_id, user_id, value, event_type,
          last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        FROM events)
      WHERE event_type = 'purchase'"""))

  /** A3 map-typed pivot canonicalization (SURVEY §7.4.2): build the
    * reference's `monthly_avg_rates`-style map column (sorted
    * map_from_entries, as Rates.pivotRates does) and explode it back to
    * sorted rows so the DuckDB oracle can mirror it — the documented
    * pattern for hash-comparing map columns. */
  private val q34 = Q(
    "q34_pivot_map_roundtrip",
    (s, d) => {
      val perMonth = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), F.monthKey(col("o_orderdate")).as("month_key"))
        .agg(r2(sum(col("o_totalprice"))).as("total"))
      perMonth
        .groupBy(col("n_name"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("month_key"), col("total"))))).as("monthly_totals"))
        .select(col("n_name"), explode(col("monthly_totals")).as(Seq("month_key", "total")))
    },
    Some("""
      SELECT n_name, strftime(o_orderdate, '%Y%m') AS month_key,
        floor(sum(o_totalprice)*100 + 0.5)/100 AS total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2"""))

  /** Set operations beyond union (SURVEY §2.7 lists them absent in the
    * reference; built-ins cover them): customers appearing in both the
    * high-value and recent order sets (INTERSECT) vs only in the
    * high-value set (EXCEPT), tagged and unioned. Distinct semantics in
    * both engines.
    *
    * Round 14 (guide §2.4): INTERSECT and EXCEPT each planned as a
    * distinct-aggregate + semi/anti join over separately filtered copies
    * of the SAME orders scan — 4 corpus scans, 2 shuffled aggregates, 2
    * broadcasts for one pass of information. Both set memberships are
    * per-custkey predicates over one table, so ONE groupBy computes both
    * flags (max-of-indicator ≡ EXISTS) and a projection rebuilds the
    * identical tagged union: both = hi∧rec, only_high = hi∧¬rec, with
    * groupBy supplying INTERSECT/EXCEPT's distinct semantics. 1 scan,
    * 1 exchange, 0 joins; oracle SQL unchanged (DuckDB still runs the
    * literal INTERSECT/EXCEPT), so row identity is machine-checked. */
  private val q35 = Q(
    "q35_intersect_except",
    (s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          max(when(col("o_totalprice") > 250000, 1)).as("__hi"),
          max(when(col("o_orderdate") >= to_timestamp(lit("1997-01-01")), 1))
            .as("__rec"))
        .filter(col("__hi") === 1)
        .select(col("o_custkey"),
          when(col("__rec") === 1, lit("both"))
            .otherwise(lit("only_high")).as("tag"))
    },
    Some("""
      SELECT o_custkey, 'both' AS tag FROM (
        SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
      UNION ALL
      SELECT o_custkey, 'only_high' AS tag FROM (
        SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')"""))

  /** The Misra-Gries frequent-items aggregate (graft.functions.
    * FrequentItems, a TypedImperativeAggregate) under the oracle: with
    * capacity (256) above the corpus vocabulary the sketch is provably
    * exact, so plain GROUP BY counts mirror it. Exercises the custom
    * aggregate's partial/merge path through ObjectHashAggregate. */
  private val q36 = Q(
    "q36_frequent_tokens",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .agg(graft.functions.FrequentItems.frequent_items(col("tok"), 256).as("fi"))
        .select(explode(col("fi")).as("e"))
        .select(col("e.item"), col("e.min_count"))
    },
    Some("""
      SELECT token AS item, count(*) AS min_count FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> '' GROUP BY token"""))

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo, SIGMOD
    * '95): sort the corpus by a blocking key, then compare each document
    * only with its next W-1 neighbors in the sorted order — the third
    * classic blocking strategy beside prefix-equality (q20) and LSH
    * banding (q21). Where LSH's candidate count depends on hash
    * collisions and prefix-blocking on key skew, SNM's is EXACTLY
    * n×(W-1) regardless of data — a hard shuffle budget. Scale shape:
    * the global order comes from Corpus.globalIndex (range exchange +
    * per-partition zipWithIndex — NO single-task sort), and the window
    * comparison is an equi-join on position: each doc explodes into W-1
    * probe positions and joins the neighbor at exactly that index, so
    * the whole operator is one range exchange plus one hash join on a
    * dense long key. Verified pairs need exact Jaccard >= 0.5 over
    * distinct token sets; `gap` records how far apart the members sat.
    * Tie-break doc_id makes the sort order engine-exact (ASCII keys,
    * binary collation both sides). */
  private val q200 = Q(
    "q200_sorted_neighborhood",
    (s, d) => {
      import graft.ops.Corpus
      val W = 4
      val docs = spreadSingleFileFixture(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), substring(col("text"), 1, 30).as("k"),
          array_distinct(split(col("text"), " ")).as("toks"))
      val idx = Corpus.globalIndex(docs, Seq(col("k"), col("doc_id")), 8, "pos")
      val probes = idx.select(
          col("doc_id").as("id_a"), col("toks").as("toks_a"), col("pos"),
          explode(sequence(lit(1L), lit((W - 1).toLong))).as("gap"))
        .select(col("id_a"), col("toks_a"), col("gap"),
          (col("pos") + col("gap")).as("tpos"))
      val right = idx.select(
        col("doc_id").as("id_b"), col("toks").as("toks_b"),
        col("pos").as("tpos"))
      val jac = size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
        size(array_union(col("toks_a"), col("toks_b")))
      probes.join(right, "tpos")
        .select(
          least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"),
          col("gap"), jac.as("jac"))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("gap"),
          r(col("jac"), 3).as("jaccard"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, substr(text, 1, 30) AS k,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents),
      p AS (
        SELECT doc_id, toks,
          row_number() OVER (ORDER BY k, doc_id) AS pos
        FROM d)
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
        greatest(a.doc_id, b.doc_id) AS doc_b,
        CAST(b.pos - a.pos AS BIGINT) AS gap,
        floor((len(list_intersect(a.toks, b.toks))::DOUBLE
               / len(list_distinct(list_concat(a.toks, b.toks))))*1000 + 0.5)/1000
          AS jaccard
      FROM p a JOIN p b ON b.pos > a.pos AND b.pos <= a.pos + 3
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5"""))

  /** Fellegi–Sunter record linkage with planted ground truth — the
    * entity-resolution operator (match records that DESCRIBE the same
    * entity despite corrupted fields) the dedup family's equal/similar
    * TEXT operators don't cover. The q179 metrology move: a ~20%
    * md5-chosen cohort of customers is deterministically corrupted
    * in-query (one digit DELETED from the 9-digit name suffix at an
    * md5-chosen position, balance perturbed ±99 cents, 10% of the cohort
    * gets a junk segment), so precision/recall are measurable in-engine
    * against known truth. Blocking is the scale move: instead of
    * within-block all-pairs (quadratic in the block) each CLEAN record
    * posts its 9 one-digit-deletion variants and candidates are an
    * equi-join on (nation, variant) — O(9n) posted keys, hash-partitioned,
    * no block ever quadratic, the deletion-neighborhood trick from
    * spelling correction applied to blocking. Candidate pairs then score
    * by frozen Fellegi–Sunter centi-log-odds literals (agree/disagree
    * weights ~ log2(m/u): balance-within-±99¢ +300/−150, segment equal
    * +100/−250 — the name agreement is implied by the blocking join), 1:1
    * resolution keeps the best score per dirty record (custkey tiebreak),
    * and `matched` thresholds at score ≥ 0. All-integer output: the
    * confusion counts are exact BIGINTs and the two ratios are guarded
    * micro divisions. The candidate-count passenger rides the SAME
    * true_key window partition as the resolution row_number, so both use
    * one exchange. */
  private val q210 = Q(
    "q210_record_linkage",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def h(key: Column, salt: String): Column =
        conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 15),
          16, 10).cast("long")
      val cust = Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"),
        substring(col("c_name"), 10, 9).as("sfx"))
      val dirty = cust
        .filter(h(col("c_custkey"), "graft-rl-pick") % 5 === 0)
        .withColumn("pos",
          (h(col("c_custkey"), "graft-rl-pos") % 9 + 1).cast("int"))
        .select(
          col("c_custkey").as("true_key"),
          col("c_nationkey").as("d_nation"),
          concat(expr("substring(sfx, 1, pos - 1)"),
            expr("substring(sfx, pos + 1, 9 - pos)")).as("d_sfx"),
          (col("cents") + h(col("c_custkey"), "graft-rl-bal") % 199 - 99)
            .as("d_cents"),
          when(h(col("c_custkey"), "graft-rl-seg") % 10 === 0, lit("UNKNOWN"))
            .otherwise(col("c_mktsegment")).as("d_seg"))
      // repeated adjacent digits make different deletion positions collide
      // on the same variant string — array_distinct dedups them MAP-SIDE
      // before the explode ((custkey, variant) is then unique globally for
      // free, custkeys being distinct), where a row-level distinct() would
      // be a full 9n-row shuffle
      val variants = cust.select(
          col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("cents"),
          explode(expr("array_distinct(transform(sequence(1, 9), " +
            "p -> concat(substring(sfx, 1, p - 1), " +
            "substring(sfx, p + 1, 9 - p))))")).as("variant"))
      val scored = variants.join(dirty,
          variants("c_nationkey") === dirty("d_nation") &&
            variants("variant") === dirty("d_sfx"))
        .withColumn("score",
          when(abs(col("cents") - col("d_cents")) <= 99, 300L)
            .otherwise(-150L) +
          when(col("c_mktsegment") === col("d_seg"), 100L).otherwise(-250L))
      val w = Window.partitionBy(col("true_key"))
        .orderBy(col("score").desc, col("c_custkey").asc)
      val best = scored
        .withColumn("rn", row_number().over(w))
        .withColumn("n_cand",
          count(lit(1)).over(Window.partitionBy(col("true_key"))))
        .filter(col("rn") === 1)
        .withColumn("matched", col("score") >= 0L)
      best.agg(
          count(lit(1)).as("n_dirty"),
          sum(col("n_cand")).as("n_candidates"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("matched") && col("c_custkey") === col("true_key"),
            1L).otherwise(0L)).as("tp"),
          sum(when(col("matched") && col("c_custkey") =!= col("true_key"),
            1L).otherwise(0L)).as("fp"))
        .select(col("n_dirty"), col("n_candidates"), col("n_matched"),
          col("tp"), col("fp"),
          (col("n_dirty") - col("tp")).as("fn"),
          when(col("n_matched") === 0L, lit(0L)).otherwise(
            floor(col("tp").cast("double") / col("n_matched").cast("double")
              * 1000000 + 0.5).cast("long")).as("precision_micro"),
          when(col("n_dirty") === 0L, lit(0L)).otherwise(
            floor(col("tp").cast("double") / col("n_dirty").cast("double")
              * 1000000 + 0.5).cast("long")).as("recall_micro"))
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
          substr(c_name, 10, 9) AS sfx
        FROM customer),
      dirty AS (
        SELECT c_custkey AS true_key, c_nationkey AS d_nation,
          substr(sfx, 1, pos - 1) || substr(sfx, pos + 1, 9 - pos) AS d_sfx,
          cents + (('0x' || substr(md5(c_custkey::VARCHAR || 'graft-rl-bal'),
            1, 15))::BIGINT % 199) - 99 AS d_cents,
          CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || 'graft-rl-seg'),
              1, 15))::BIGINT % 10 = 0
            THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg
        FROM (
          SELECT *, CAST(('0x' || substr(md5(c_custkey::VARCHAR
              || 'graft-rl-pos'), 1, 15))::BIGINT % 9 + 1 AS INTEGER) AS pos
          FROM cust
          WHERE ('0x' || substr(md5(c_custkey::VARCHAR || 'graft-rl-pick'),
            1, 15))::BIGINT % 5 = 0) t),
      vars AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, cents,
          unnest(list_distinct(list_transform(generate_series(1, 9),
            p -> substr(sfx, 1, p - 1) || substr(sfx, p + 1, 9 - p))))
            AS variant
        FROM cust),
      scored AS (
        SELECT d.true_key, v.c_custkey,
          (CASE WHEN abs(v.cents - d.d_cents) <= 99 THEN 300 ELSE -150 END
           + CASE WHEN v.c_mktsegment = d.d_seg THEN 100 ELSE -250 END)
            AS score
        FROM dirty d
        JOIN vars v
          ON v.c_nationkey = d.d_nation AND v.variant = d.d_sfx),
      best AS (
        SELECT *,
          row_number() OVER (PARTITION BY true_key
            ORDER BY score DESC, c_custkey ASC) AS rn,
          count(*) OVER (PARTITION BY true_key) AS n_cand
        FROM scored),
      r AS (
        SELECT *, score >= 0 AS matched FROM best WHERE rn = 1),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_dirty,
          CAST(sum(n_cand) AS BIGINT) AS n_candidates,
          CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
            AS n_matched,
          CAST(sum(CASE WHEN matched AND c_custkey = true_key
            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN matched AND c_custkey <> true_key
            THEN 1 ELSE 0 END) AS BIGINT) AS fp
        FROM r)
      SELECT n_dirty, n_candidates, n_matched, tp, fp,
        n_dirty - tp AS fn,
        CASE WHEN n_matched = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(tp AS DOUBLE) / CAST(n_matched AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) END AS precision_micro,
        CASE WHEN n_dirty = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST(tp AS DOUBLE) / CAST(n_dirty AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) END AS recall_micro
      FROM agg"""))

  // ------------------------------------------- reference pipelines (gold)
  // q37-q40 run the ACTUAL reference dataflows (Rates/Trends/Flights
  // .gold) end-to-end over the bundled bronze fixtures
  // (graft.sources.Fixtures; authored by tools/make_fixtures.py, country
  // dims verbatim from the reference's public config). The DuckDB twins
  // read the very same JSONL via read_json — Fixtures.dir resolves the
  // one absolute path both engines share (the driver's oracle connection
  // only creates views for the sf tables). These queries ignore the
  // sfDir argument by design: the input is the fixture, identical at
  // every scale factor.


  /** Stationary distribution of q211's event-type Markov chain by power
    * iteration ON THE BOUNDED CELL TABLE — the long-run behavioral mix
    * the chain converges to, read against the empirical marginal: a gap
    * between the two is the non-stationarity signal (the corpus was
    * sampled while the process was still drifting). The corpus
    * contributes exactly q87/q211's work: one user-keyed lag window and
    * one hash aggregate to ≤|types|² cells (+ one marginal count).
    * Everything after runs on the cell table: states never observed as
    * a FROM state get an explicit self-loop row (no silent mass leak),
    * and eight unrolled π ← πP steps are joins/aggregates over ≤|types|²
    * rows — driver-trivial at any corpus size. Determinism: π lives on
    * the micro grid; each term floor(πᵢ·nᵢⱼ/rᵢ + 0.5) is one double
    * expression over exact BIGINTs rounded back to BIGINT, so every
    * cross-state SUM is exact integer arithmetic (the q219 move applied
    * to a bounded matrix; Σπ drifts by ≤|types| micro per step,
    * identically in both engines). */
  private val q224 = {
    val iters = 8
    Q(
      "q224_markov_stationary",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val pairs = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            col("event_type").as("i"))
          .withColumn("j", lead(col("i"), 1).over(w))
          .filter(col("j").isNotNull)
        val cells = pairs.groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("n"))
        // marg is ≤|types| rows but fans out to four consumers (loops,
        // nStates, π₀, tot, the final join) — un-cut, each was its own
        // full events scan in the unrolled plan (pruning to (t) vs
        // (t,m) forks the canonical aggregate, so ReuseExchange can't
        // unify them). Same eager-cut rationale as mat below (round-13).
        val marg = Tables.events(s, d).groupBy(col("event_type").as("t"))
          .agg(count(lit(1)).as("m"))
          .localCheckpoint(true)
        // states = every observed type; FROM-less states self-loop
        val rows = cells.groupBy(col("i")).agg(sum(col("n")).as("r"))
        val loops = marg.select(col("t"))
          .join(rows.select(col("i")), col("t") === col("i"), "left_anti")
          .select(col("t").as("i"), col("t").as("j"),
            lit(1L).as("n"), lit(1L).as("r"))
        // EAGER localCheckpoint: mat is ≤|types|²+|types| rows but its
        // lineage contains the corpus lag-window — without the cut,
        // every one of the 8 iterate broadcasts re-derives that window
        // (the q176 lesson; LAZY would race across broadcast threads)
        val mat = cells.join(rows, Seq("i")).unionByName(loops)
          .localCheckpoint(true)
        val nStates = marg.agg(count(lit(1)).as("k"))
        // The 8 π ← πP steps run over ≤|types|²-row tables. As
        // broadcast-join + groupBy rounds each step cost a broadcast
        // job AND a shuffle stage (round-13). Here both sides are
        // coalesced to ONE partition and the joins forced to merge
        // joins, which makes only the FIRST step exchange-free
        // (SinglePartition satisfies its join and its groupBy). The
        // planner still hash-partitions the matrix on i once (reused by
        // steps 2-8), step 1's π on t, and each of steps 2-8 on j for
        // its groupBy: 9 of the plan's 11 shuffles (the other two feed
        // nStates and tot). AQE removes none of them at runtime: a
        // traced run at sf0.001 and sf0.01 ran 11 shuffle-writing
        // stages, AQE only coalescing each read to one partition, so
        // every later step is its own one-task stage. Sums are exact
        // BIGINT micro-units — order-free.
        val matS = mat.coalesce(1)
        // π₀ uniform on the micro grid
        var pi = marg.join(broadcast(nStates))
          .select(col("t"),
            floor(lit(1000000.0) / col("k").cast("double")).cast("long")
              .as("pi"))
          .coalesce(1)
        (1 to iters).foreach { _ =>
          pi = matS.join(pi.hint("merge"), col("i") === col("t"))
            .select(col("j"),
              floor(col("pi").cast("double") * col("n").cast("double")
                / col("r").cast("double") + 0.5).cast("long").as("term"))
            .groupBy(col("j")).agg(sum(col("term")).as("pi"))
            .select(col("j").as("t"), col("pi"))
        }
        val tot = marg.agg(sum(col("m")).as("mt"))
        pi.join(marg, Seq("t")).join(broadcast(tot))
          .select(col("t").as("event_type"), col("pi").as("pi_micro"),
            floor(col("m").cast("double") / col("mt").cast("double")
              * 1000000 + 0.5).cast("long").as("empirical_micro"))
          .withColumn("gap_micro",
            abs(col("pi_micro") - col("empirical_micro")))
      },
      Some {
        val steps = (1 to iters).map { k =>
          s"""p$k AS (
        SELECT j AS t, CAST(sum(CAST(floor(
            CAST(pi AS DOUBLE) * CAST(n AS DOUBLE) / CAST(r AS DOUBLE)
            + 0.5) AS BIGINT)) AS BIGINT) AS pi
        FROM mat JOIN p${k - 1} ON mat.i = p${k - 1}.t
        GROUP BY 1)"""
        }.mkString(",\n      ")
        s"""
      WITH pairs AS (
        SELECT event_type AS i,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
            AS j
        FROM events),
      cells AS (
        SELECT i, j, CAST(count(*) AS BIGINT) AS n
        FROM pairs WHERE j IS NOT NULL GROUP BY 1, 2),
      marg AS (
        SELECT event_type AS t, CAST(count(*) AS BIGINT) AS m
        FROM events GROUP BY 1),
      rows_ AS (SELECT i, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
      loops AS (
        SELECT t AS i, t AS j, CAST(1 AS BIGINT) AS n, CAST(1 AS BIGINT) AS r
        FROM marg WHERE t NOT IN (SELECT i FROM rows_)),
      mat AS (
        SELECT c.i, c.j, c.n, r.r FROM cells c JOIN rows_ r ON c.i = r.i
        UNION ALL SELECT i, j, n, r FROM loops),
      p0 AS (
        SELECT t, CAST(floor(1000000.0
          / CAST((SELECT count(*) FROM marg) AS DOUBLE)) AS BIGINT) AS pi
        FROM marg),
      $steps,
      tot AS (SELECT CAST(sum(m) AS BIGINT) AS mt FROM marg)
      SELECT p.t AS event_type, p.pi AS pi_micro,
        CAST(floor(CAST(m AS DOUBLE) / CAST(mt AS DOUBLE) * 1000000 + 0.5)
          AS BIGINT) AS empirical_micro,
        CAST(abs(p.pi - CAST(floor(CAST(m AS DOUBLE) / CAST(mt AS DOUBLE)
          * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS gap_micro
      FROM p$iters p JOIN marg ON p.t = marg.t CROSS JOIN tot"""
      })
  }

  private[queries] val all: Seq[Q] = Seq(
    q19, q20, q21, q22, q23, q24, q25, q26,
    q27, q28, q29, q30, q31, q31b, q32, q33,
    q34, q35, q36, q200, q210, q224, q227, q228, q229, q230)
}
