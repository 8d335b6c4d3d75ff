package graft

import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Text}
import graft.sources.Tables

/** Corpus curation operators: deterministic sampling and sequence
  * packing, checked against naive in-memory models on the real sf0.001
  * documents table. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf())

  test("hashSample is exactly reproducible and honors per-stratum rates") {
    def run() = Corpus.hashSample(
      docs, col("doc_id"), col("lang"), Map("en" -> 0.5), 0.2, "s1")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val a = run()
    assert(a == run(), "same salt must select identical rows")
    // loose binomial bounds: 218 en docs at 0.5, 282 others at 0.2
    val langs = Corpus.hashSample(
      docs, col("doc_id"), col("lang"), Map("en" -> 0.5), 0.2, "s1")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val en = langs.getOrElse("en", 0L)
    val rest = langs.filter(_._1 != "en").values.sum
    assert(en > 70 && en < 150, s"en kept $en of 218 at rate 0.5")
    assert(rest > 25 && rest < 90, s"rest kept $rest of 282 at rate 0.2")
  }

  test("different salts draw (near-)independent samples") {
    def ids(salt: String) = Corpus.hashSample(
      docs, col("doc_id"), col("lang"), Map.empty, 0.3, salt)
      .select("doc_id").as[Long].collect().toSet
    val a = ids("sA")
    val b = ids("sB")
    // expected overlap ~0.09 * 500 = 45; identical samples would be ~150
    assert(a != b && (a & b).size < a.size.min(b.size))
  }

  test("uniformHash stays in [0,1) and is roughly uniform") {
    val u = docs.select(Corpus.uniformHash(col("doc_id"), "u").as("u"))
      .as[Double].collect()
    assert(u.forall(x => x >= 0.0 && x < 1.0))
    assert(math.abs(u.count(_ < 0.5).toDouble / u.length - 0.5) < 0.1)
  }

  test("packSequences matches the naive per-shard running-sum model") {
    val got = Corpus.packSequences(
      docs, Text.wsTokenCount(col("text")), budget = 1024L, nShards = 3)
      .select("doc_id", "shard", "n_tok", "bin")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val toks = docs.select(col("doc_id"), Text.wsTokenCount(col("text")).as("t"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val expected = toks.groupBy(_._1 % 3).toSeq.flatMap { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_._1).toSeq.map { case (id, t) =>
        val bin = cum / 1024L
        cum += t
        (id, shard, t, bin)
      }
    }.sortBy(_._1)
    assert(got.toSeq == expected)
  }

  test("packSequences bins hold consecutive docs and bounded token totals") {
    val packed = Corpus.packSequences(
      docs, Text.wsTokenCount(col("text")), budget = 512L, nShards = 2)
      .select("doc_id", "shard", "n_tok", "bin")
      .as[(Long, Long, Long, Long)].collect()
    assert(packed.map(_._1).distinct.length == packed.length, "each doc exactly once")
    val maxTok = packed.map(_._3).max
    packed.groupBy(p => (p._2, p._4)).foreach { case ((_, _), rows) =>
      assert(rows.map(_._3).sum < 512L + maxTok, "bin total < budget + one doc")
    }
    // within a shard, bin index is non-decreasing in doc order
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val bins = rows.sortBy(_._1).map(_._4)
      assert(bins.zip(bins.drop(1)).forall { case (a, b) => a <= b })
    }
  }

  test("repeatedSpans flags exactly the cross-doc shared n-gram positions") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "p q r s x y z w"),   // "p q r s" shared with doc 2 at pos 1
      (2L, "a b p q r s c d"),   // ... at pos 3
      (3L, "k l m n o u v t")    // nothing shared
    ).toDF("doc_id", "text")
    val got = graft.ops.Text.repeatedSpans(docs, n = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1, 2L), (2L, 3, 2L)), got.toString)
    // minDocs above the true multiplicity -> empty
    assert(graft.ops.Text.repeatedSpans(docs, n = 4, minDocs = 3).count() == 0L)
  }

  test("chunkDocuments matches the naive sliding-window model on real docs") {
    val chunkSize = 32
    val stride = 24
    val got = Corpus.chunkDocuments(docs, chunkSize, stride)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3)))
      .toMap
    val expected = docs.select("doc_id", "text").collect().flatMap { r =>
      val toks = r.getString(1).split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) Nil
      else {
        val nChunks =
          if (toks.length > chunkSize)
            1 + math.ceil((toks.length - chunkSize).toDouble / stride).toInt
          else 1
        (0 until nChunks).map { i =>
          val slice = toks.slice(i * stride, i * stride + chunkSize)
          (r.getLong(0), i) -> (slice.mkString(" "), slice.length.toLong)
        }
      }
    }.toMap
    assert(got == expected)
    // consecutive chunks overlap by chunkSize - stride tokens
    val d0 = Corpus.chunkDocuments(docs.limit(1), chunkSize, stride)
      .orderBy("chunk_id").collect().map(_.getString(2).split(" ").toSeq)
    if (d0.length > 1)
      assert(d0(0).takeRight(chunkSize - stride) == d0(1).take(chunkSize - stride))
    intercept[IllegalArgumentException](Corpus.chunkDocuments(docs, 0, 1))
    intercept[IllegalArgumentException](Corpus.chunkDocuments(docs, 8, 9))
  }

  test("qualityGate names the first failing rule; keep iff no rule fires") {
    import spark.implicits._
    val synth = Seq(
      (1L, "a b c"),                                   // 3 toks -> too_short
      (2L, Seq.fill(30)("x y z").mkString(" ")),       // dup 3-grams -> repetitive
      // t1 interleaved with distinct fillers: every 3-gram is unique
      // (dup_frac = 0) but t1 takes half the tokens -> concentration
      (3L, (1 to 20).flatMap(i => Seq("t1", "a" + i)).mkString(" ")),
      (4L, (1 to 50).map("u" + _).mkString(" "))       // clean -> keep
    ).toDF("doc_id", "text")
    val rows = graft.ops.Text.qualityGate(
      synth, minTokens = 5L, maxTokens = 100000L,
      maxDupFrac = 0.05, maxTopFrac = 0.125)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), Option(r.getString(3)))).toMap
    assert(rows(1L) == (false, Some("too_short")))
    assert(rows(2L) == (false, Some("repetitive_ngrams")))
    assert(rows(3L) == (false, Some("token_concentration")))
    assert(rows(4L) == (true, None))
    // rule ORDER: doc 2 also trips concentration, but repetition is named
    // (checked implicitly above); and maxTokens trips too_long first
    val long = graft.ops.Text.qualityGate(
      synth.filter(col("doc_id") === 2L), minTokens = 1L, maxTokens = 10L,
      maxDupFrac = 0.05, maxTopFrac = 0.125).head()
    assert(long.getString(3) == "too_long")
  }

  test("bigramLmScore: frequent pairs outscore singleton pairs; pair counts exact") {
    import spark.implicits._
    val synth = Seq(
      (1L, "a b a b a b a b a b"), // (a,b)/(b,a) pairs dominate the corpus
      (2L, "q r s t u v w x y z")  // every bigram occurs once
    ).toDF("doc_id", "text")
    val rows = graft.ops.Text.bigramLmScore(synth).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1L)._1 == 9L && rows(2L)._1 == 9L)
    assert(rows(1L)._2 > rows(2L)._2,
      s"frequent-bigram doc must score higher: $rows")
  }

  test("z_value interleaves correctly and clusters aligned quadrants") {
    import org.apache.spark.sql.functions._
    import graft.functions.ZOrder
    graft.plans.GraftExtensions.install(spark)
    // exact interleave vs a naive bit model
    def naive(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L)((z, i) =>
        z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
    val pts = for (a <- 0L to 40L; b <- 0L to 40L if (a + b) % 7 == 0) yield (a, b)
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.z_value(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (a, b) => assert(got((a, b)) == naive(a, b)) }
    // IntegerType inputs must coerce, not ClassCastException on the
    // interpreted path (constant folding evaluates this at plan time)
    val folded = spark.range(1)
      .select(ZOrder.z_value(lit(3), lit(4)).as("z")).head().getLong(0)
    assert(folded == naive(3L, 4L))
    // negative inputs raise (folding low bits would scatter the layout)
    val zex = intercept[Exception] {
      Seq((-1L, 2L)).toDF("a", "b")
        .select(ZOrder.z_value(col("a"), col("b"))).collect()
    }
    assert(msgs(zex).exists(_.contains("non-negative")), msgs(zex).mkString("; "))
    // locality: two points share a z-prefix above 2k bits iff they share
    // the 2^k-aligned quadrant in BOTH dimensions
    for (((a1, b1), z1) <- got; ((a2, b2), z2) <- got; k <- Seq(2, 4)) {
      val sameQuad = (a1 >> k) == (a2 >> k) && (b1 >> k) == (b2 >> k)
      assert(((z1 >> (2 * k)) == (z2 >> (2 * k))) == sameQuad,
        s"($a1,$b1) vs ($a2,$b2) at k=$k")
    }
  }

  test("percentile_approx tracks the exact percentiles q50 computes (the documented 100TB swap)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf())
    val both = docs.agg(
      percentile(col("n_chars"), lit(0.5)).as("exact50"),
      percentile_approx(col("n_chars"), lit(0.5), lit(10000)).cast("double").as("apx50"),
      percentile(col("n_chars"), lit(0.9)).as("exact90"),
      percentile_approx(col("n_chars"), lit(0.9), lit(10000)).cast("double").as("apx90")).head()
    def rel(e: Double, a: Double) = math.abs(e - a) / e
    assert(rel(both.getDouble(0), both.getDouble(1)) < 0.02)
    assert(rel(both.getDouble(2), both.getDouble(3)) < 0.02)
  }

  test("assignSplit is stable under corpus growth and near the asked proportions") {
    import org.apache.spark.sql.functions._
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val small = (1L to 1000L).toDF("k")
      .select(col("k"), graft.ops.Corpus.assignSplit(col("k"), splits, "s1").as("sp"))
    val grown = (1L to 5000L).toDF("k")
      .select(col("k"), graft.ops.Corpus.assignSplit(col("k"), splits, "s1").as("sp"))
    // adding rows never reassigns existing keys
    val a = small.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = grown.filter(col("k") <= 1000).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    val frac = grown.groupBy("sp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / 5000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.03 &&
      math.abs(frac("val") - 0.1) < 0.02 && math.abs(frac("test") - 0.1) < 0.02, frac.toString)
    intercept[IllegalArgumentException] {
      graft.ops.Corpus.assignSplit(col("k"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("sampleKPerGroup draws exactly k per stratum, reproducibly") {
    import org.apache.spark.sql.functions._
    def run() = Corpus.sampleKPerGroup(docs, Seq("lang"), col("doc_id"), 10, "kpg")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val a = run()
    assert(a == run(), "same salt must draw the identical sample")
    val counts = Corpus.sampleKPerGroup(docs, Seq("lang"), col("doc_id"), 10, "kpg")
      .groupBy("lang").count().collect().map(_.getLong(1))
    assert(counts.length == 5 && counts.forall(_ == 10L), counts.mkString(","))
    // a different salt draws a different set
    val b = Corpus.sampleKPerGroup(docs, Seq("lang"), col("doc_id"), 10, "kpg2")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a != b)
  }

  test("temperatureSample downweights the dominant stratum toward the smallest") {
    import org.apache.spark.sql.functions._
    val df = ((1 to 800).map(i => (i.toLong, "big")) ++
      (1 to 200).map(i => (i.toLong + 1000, "small"))).toDF("k", "s")
    val kept = graft.ops.Corpus.temperatureSample(df, "s", col("k"), "t1")
    val counts = kept.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rates: big = sqrt(200/800) = 0.5, small = 1.0
    assert(counts("small") == 200L, counts.toString) // rate 1.0 keeps all
    assert(math.abs(counts("big") - 400L) < 60, counts.toString) // ~0.5 of 800
    // deterministic: same salt, same sample
    assert(kept.collect().map(_.getLong(1)).sorted.toSeq ==
      graft.ops.Corpus.temperatureSample(df, "s", col("k"), "t1")
        .collect().map(_.getLong(1)).sorted.toSeq)
  }

  test("weightedSampleKey favors heavier rows in the top-k") {
    import org.apache.spark.sql.functions._
    // weights 1 vs 100: heavy rows should dominate the top-50 of 1000
    val df = (1 to 1000).map(i => (i.toLong, if (i <= 500) 1.0 else 100.0)).toDF("k", "w")
    val top = df.select(col("k"),
        graft.ops.Corpus.weightedSampleKey(col("k"), col("w"), "ws1").as("wk"))
      .orderBy(col("wk").desc, col("k").asc).limit(50)
      .collect().map(_.getLong(0))
    val heavy = top.count(_ > 500)
    assert(heavy >= 45, s"only $heavy/50 heavy rows in a 100:1 weighted sample")
    // a non-positive weight must raise, not silently invert the sample
    val bad = Seq((1L, -1.0)).toDF("k", "w")
    val ex = intercept[Exception] {
      bad.select(graft.ops.Corpus.weightedSampleKey(col("k"), col("w"), "ws1")).collect()
    }
    assert(msgs(ex).exists(_.contains("non-positive weight")), msgs(ex).mkString("; "))
  }

  test("crossCorpusContamination counts exactly the spans present in the reference") {
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, "a b c d e f g h"),       // span "a b c d" (pos1) in ref; 5 spans total
      (3L, "u v w x y z q r")        // clean
    ).toDF("doc_id", "text")
    val ref = Seq((2L, "z z a b c d z z")).toDF("doc_id", "text")
    val got = graft.ops.Text.crossCorpusContamination(train, ref, n = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((5L, 1L, 0.2)), got.toString)
    assert(got(3L) == ((5L, 0L, 0.0)), got.toString)
  }

  test("spanCutList merges overlapping and adjacent spans, keeps gaps apart") {
    import org.apache.spark.sql.functions.col
    val spans = Seq(
      (1L, 1), (1L, 3), (1L, 7),   // n=4: [1,5)+[3,7)+[7,11) -> one cut [1,11)
      (1L, 20),                    // isolated -> [20,24)
      (2L, 5)
    ).toDF("doc_id", "pos")
    val got = graft.ops.Text.spanCutList(spans, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(got == Set((1L, 1L, 1, 11, 3L), (1L, 2L, 20, 24, 1L), (2L, 1L, 5, 9, 1L)), got.toString)
  }

  test("applyCutList rewrites in place: cuts removed, cut-less kept, fully-cut vanish") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"), // two cuts, middle survives
      (2L, "u1 u2 u3"),                // no cuts -> kept verbatim
      (3L, "v1 v2")                    // fully cut -> vanishes
    ).toDF("doc_id", "text")
    val cuts = Seq(
      (1L, 1, 3), (1L, 6, 9),          // [1,3) + [6,9): keep t3 t4 t5
      (3L, 1, 3)
    ).toDF("doc_id", "cut_start", "cut_end")
    val got = graft.ops.Text.applyCutList(docs, cuts)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "t3 t4 t5", 3L), (2L, "u1 u2 u3", 3L)), got.toString)
  }

  test("redactPii: URL-before-email-before-phone ordering, idempotent on clean text") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("mail me at a.b+c@ex-ample.org now", "mail me at <EMAIL> now"),
      // URL embedding '@' and a digit run must be consumed as ONE <URL>
      ("go http://u:p@host.com/a?x=12345-67890 ok", "go <URL> ok"),
      ("call +82 10-1234 5678 done", "call <PHONE> done"),
      ("clean text with no pii at all", "clean text with no pii at all"))
      .toDF("t", "expect")
    val got = rows.select(
      graft.ops.Text.redactPii(col("t")).as("got"), col("expect")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    // idempotence: redacting redacted output changes nothing
    val twice = rows.select(
      graft.ops.Text.redactPii(graft.ops.Text.redactPii(col("t"))).as("got2"),
      graft.ops.Text.redactPii(col("t")).as("got1")).collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("globalIndex: contiguous 0-based ids matching the sequential order, any partitioning") {
    val ordered = docs.select(col("doc_id"), Corpus.uniformHash(col("doc_id"), "gi").as("u"))
    // sequential definition: collect and sort driver-side
    val expect = ordered.collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, u) => (u, id) }
      .map(_._1).toSeq
    for (nParts <- Seq(1, 3, 8)) {
      val got = Corpus.globalIndex(
        ordered, Seq(col("u"), col("doc_id")), numPartitions = nParts)
        .orderBy(col("pos"))
        .select("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.map(_._2) == (0L until expect.size).toSeq,
        s"index not contiguous at $nParts partitions")
      assert(got.map(_._1) == expect, s"order diverges at $nParts partitions")
    }
  }

  test("vocabulary: ranks by frequency with token tiebreak, coverage is cumulative") {
    val tiny = Seq("b b b a a c", "a d", "").toDF("text")
    val v = Text.vocabulary(tiny, col("text"), topN = 3)
      .orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // counts: a=3, b=3, c=1, d=1 -> ties break by token text
    assert(v.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0L, "a", 3L), (1L, "b", 3L), (2L, "c", 1L)))
    assert(math.abs(v(0)._4 - 3.0 / 8) < 1e-15)
    assert(math.abs(v(1)._4 - 6.0 / 8) < 1e-15)
    assert(math.abs(v(2)._4 - 7.0 / 8) < 1e-15) // OOV mass = 1 - 7/8 (d)
  }

  test("winnowFingerprints: shared-run guarantee, short-doc and sub-k edges") {
    val k = 3; val w = 2
    // docs 1 and 2 share a run of w+k-1 = 4 tokens ("p q r s") -> the
    // winnowing guarantee says they MUST share at least one fingerprint
    val tiny = Seq(
      (1L, "a b p q r s c d e f"),
      (2L, "x y z p q r s"),
      (3L, "m n o"),   // exactly k tokens: 1 gram -> single global min
      (4L, "u v"),     // shorter than k: no grams -> no rows
      (5L, "")         // empty: no rows
    ).toDF("doc_id", "text")
    val fps = Text.winnowFingerprints(tiny, k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, a) => id -> a.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 4-token run must share a fingerprint")
    assert(fps(3L).size == 1, "k-token doc has exactly one fingerprint")
    assert(!fps.contains(4L) && !fps.contains(5L), "sub-k docs emit nothing")
    // fingerprints are a subset of the gram hashes (selection, not invention)
    // and sparser than the full gram set on a real doc
    val doc1Grams = 10 - k + 1
    assert(fps(1L).size < doc1Grams)
  }

  test("epochPlan: epochs = weight * budget / stratum tokens; missing stratum gets 0") {
    val tiny = Seq(
      ("en", "a b c d"), ("en", "e f"),   // 6 tokens
      ("de", "g h i"),                    // 3 tokens
      ("xx", "j k")                       // 2 tokens, not in weights
    ).toDF("lang", "text")
    val got = Corpus.epochPlan(tiny, "lang", Text.wsTokenCount(col("text")),
      Map("en" -> 0.75, "de" -> 0.25), budgetTokens = 12L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("en") == ((2L, 6L, 0.75, 1.5)))   // 0.75*12/6
    assert(got("de") == ((1L, 3L, 0.25, 1.0)))   // 0.25*12/3
    assert(got("xx") == ((1L, 2L, 0.0, 0.0)))    // unweighted but reported
  }

  test("budgetTrim: keeps best-first until budget, straddler kept, top row always kept") {
    val tiny = Seq(
      // stratum A, order by rank: tokens 4, 3, 2 — budget 5 keeps rank 1
      // (before=0) and rank 2 (before=4 < 5, straddles), drops rank 3
      ("A", 1L, 10L, "t t t t"), ("A", 2L, 9L, "t t t"), ("A", 3L, 8L, "t t"),
      // stratum B: single huge doc over budget still kept (before=0)
      ("B", 4L, 99L, "t t t t t t t t t t")
    ).toDF("src", "id", "rank", "text")
    val kept = Corpus.budgetTrim(tiny, "src",
      Seq(col("rank").desc, col("id").asc),
      Text.wsTokenCount(col("text")), budgetTokens = 5L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  test("auditConstraints/auditReferential: planted violations counted, null fails the check") {
    val t = Seq(
      (Some(1L), 5.0, "a"),
      (Some(2L), -1.0, "b"),          // range violation
      (None: Option[Long], 3.0, "c"), // null id: fails not_null AND the range... no, v ok
      (Some(1L), 7.0, "d")            // duplicate id
    ).toDF("id", "v", "tag")
    val audit = Corpus.auditConstraints(t,
      rowChecks = Seq(
        "id_not_null" -> col("id").isNotNull,
        "v_positive" -> (col("v") > 0)),
      uniqueKeys = Seq("unique_id" -> Seq("id")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(audit("id_not_null") == ((1L, 4L)))
    assert(audit("v_positive") == ((1L, 4L)))
    assert(audit("unique_id") == ((1L, 4L)))  // one row beyond first for id=1
    // null predicate counts as violation: id > 0 is NULL for the null id
    val nullPred = Corpus.auditConstraints(t,
      rowChecks = Seq("id_positive" -> (col("id") > 0L)))
      .collect().head
    assert(nullPred.getLong(1) == 1L)
    val parent = Seq(1L, 2L).toDF("pid")
    val fk = Corpus.auditReferential("fk", t, Seq("id"), parent, Seq("pid"))
      .collect().head
    // orphans: the null id (cannot match) — ids 1,1,2 all present
    assert(fk.getString(0) == "fk" && fk.getLong(1) == 1L && fk.getLong(2) == 4L)
  }

  test("auditConstraints: fused referential rides the single aggregate without disturbing other checks") {
    val t = Seq(
      (Some(1L), 5.0, "a"),
      (Some(2L), -1.0, "b"),
      (None: Option[Long], 3.0, "c"),
      (Some(1L), 7.0, "d")
    ).toDF("id", "v", "tag")
    // duplicate parent key: the DISTINCT parent set must keep the join
    // row-preserving, so every check still sees exactly 4 rows
    val parent = Seq(1L, 2L, 2L).toDF("pid")
    val fused = Corpus.auditConstraints(t,
      rowChecks = Seq(
        "id_not_null" -> col("id").isNotNull,
        "v_positive" -> (col("v") > 0)),
      uniqueKeys = Seq("unique_id" -> Seq("id")),
      referential = Seq(("fk_id", Seq("id"), parent, Seq("pid"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fused("id_not_null") == ((1L, 4L)))
    assert(fused("v_positive") == ((1L, 4L)))
    assert(fused("unique_id") == ((1L, 4L)))
    assert(fused("fk_id") == ((1L, 4L))) // the null id is the one orphan
    // multi-column FK through the fused path
    val parent2 = Seq((1L, "a"), (2L, "b")).toDF("pid", "ptag")
    val fk2 = Corpus.auditConstraints(t,
      rowChecks = Seq("id_not_null" -> col("id").isNotNull),
      referential = Seq(("fk_id_tag", Seq("id", "tag"), parent2, Seq("pid", "ptag"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // (1,"a") and (2,"b") match; (null,"c") and (1,"d") are orphans
    assert(fk2("fk_id_tag") == ((2L, 4L)))
    // empty child keeps the coalesced zero of the standalone form
    val empty = Corpus.auditReferential("fk",
      t.filter(lit(false)), Seq("id"), parent, Seq("pid")).collect().head
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L)
  }

  test("auditConstraints: repeated check names are refused at plan time") {
    val t = Seq((1L, 5.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](Corpus.auditConstraints(t,
      rowChecks = Seq("id_ok" -> col("id").isNotNull),
      uniqueKeys = Seq("ID_OK" -> Seq("id"))))
    assert(e.getMessage.contains("check names must be distinct, repeated: id_ok"))
  }

  test("auditConstraints: a check name that would break the stack() SQL is refused") {
    val t = Seq((1L, 5.0)).toDF("id", "v")
    for (bad <- Seq("it's", "a`b", "__n", "")) {
      val e = intercept[IllegalArgumentException](Corpus.auditConstraints(t,
        rowChecks = Seq(bad -> col("id").isNotNull)))
      assert(e.getMessage.contains("check names must be non-empty, not __n, and free of quotes"),
        s"name '$bad': ${e.getMessage}")
    }
  }

  test("auditConstraints: an input column named like a referential marker is refused") {
    val t = Seq((1L, 5.0)).toDF("id", "__hit_0")
    val parent = Seq(1L).toDF("pid")
    val e = intercept[IllegalArgumentException](Corpus.auditConstraints(t,
      rowChecks = Nil, referential = Seq(("fk", Seq("id"), parent, Seq("pid")))))
    assert(e.getMessage.contains("input columns __hit_0 collide with the referential marker"))
  }

  test("dupNgramFraction and the token_stats top-token share on known documents") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "a b c a b c a b c"),   // 7 trigrams, 3 distinct -> 4/7 dup
      (2L, "one two"),             // too short for trigrams -> 0.0
      (3L, "w x y z w")            // 3 distinct trigrams -> 0.0
    ).toDF("doc_id", "text")
    val got = graft.ops.Text.tokenStats(docs, 3)
      .select(col("doc_id"), graft.ops.Text.dupNgramFraction(col("st")),
        col("st.top_count").cast("double") / col("st.n_tokens"), col("st.n_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    val dup = got.map { case (k, v) => k -> v._1 }
    assert(math.abs(dup(1L) - 4.0 / 7) < 1e-12 && dup(2L) == 0.0 && dup(3L) == 0.0)
    val top = got.map { case (k, v) => k -> ((v._2, v._3)) }
    assert(top(1L) == ((3.0 / 9, 9L))) // 'a' (or b/c) 3 of 9
    assert(top(2L) == ((0.5, 2L)))
    assert(top(3L) == ((0.4, 5L)))     // 'w' 2 of 5
  }

}
