package graft

import org.apache.spark.sql.functions._

import graft.functions.BloomFilter

/** Bloom membership sketch: the no-false-negative contract, the FP-rate
  * bound, byte-identical merges under any partitioning, and the broadcast
  * incremental-dedup pattern it exists for. */
class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every inserted value probes true, distributed build") {
    graft.plans.GraftExtensions.install(spark)
    val vals = (1 to 2000).map(i => s"doc-$i")
    val sketch = vals.toDF("v").repartition(32)
      .agg(BloomFilter.bloom_agg(col("v"), 1 << 16, 5).as("bf"))
    // crossJoin(broadcast(1-row sketch)) is the distributed probe pattern
    val probed = vals.toDF("v").crossJoin(broadcast(sketch))
      .select(BloomFilter.bloom_might_contain(col("bf"), col("v")).as("hit"))
      .collect()
    assert(probed.forall(_.getBoolean(0)), "false negative — Bloom contract broken")
  }

  test("false-positive rate stays near the design point") {
    graft.plans.GraftExtensions.install(spark)
    // n=2000, m=2^16 bits, k=5 -> theoretical fp ~ (1-e^(-kn/m))^k ~ 0.22%
    val sketch = (1 to 2000).map(i => s"doc-$i").toDF("v")
      .agg(BloomFilter.bloom_agg(col("v"), 1 << 16, 5).as("bf"))
    val fp = (1 to 20000).map(i => s"other-$i").toDF("v")
      .crossJoin(broadcast(sketch))
      .filter(BloomFilter.bloom_might_contain(col("bf"), col("v")))
      .count()
    assert(fp < 200, s"fp rate ${fp / 20000.0} far above the ~0.0022 design point")
  }

  test("merge is order-independent: any partitioning yields byte-identical sketches") {
    graft.plans.GraftExtensions.install(spark)
    val df = (1 to 5000).map(i => i.toLong).toDF("v")
    def bytes(parts: Int): Seq[Byte] =
      df.repartition(parts)
        .agg(BloomFilter.bloom_agg(col("v"), 1 << 14, 4)).head()
        .getAs[Array[Byte]](0).toSeq
    val single = bytes(1)
    assert(bytes(7) == single && bytes(32) == single)
  }

  test("broadcast-bloom incremental dedup: supersets true dups, never drops new content wrongly beyond FP") {
    graft.plans.GraftExtensions.install(spark)
    val prior = (1 to 300).map(i => (i.toLong, s"content-${i % 200}")).toDF("doc_id", "text")
    val incoming = (1000 to 1400).map(i => (i.toLong, s"content-${i % 400}")).toDF("doc_id", "text")
    // exact survivors: incoming whose text is NOT in prior (text key 200..399)
    val exact = incoming.join(prior.select("text").distinct(), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sketch = prior.agg(BloomFilter.bloom_agg(xxhash64(col("text")).cast("string"), 1 << 16, 5).as("bf"))
    val bloomSurvivors = incoming.crossJoin(broadcast(sketch))
      .filter(!BloomFilter.bloom_might_contain(col("bf"), xxhash64(col("text")).cast("string")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // no false negatives => bloom survivors never include a true duplicate
    assert(bloomSurvivors.subsetOf(exact))
    // FPs may drop a few new docs, but only a few at this sizing
    assert((exact -- bloomSurvivors).size <= 5,
      s"bloom dropped ${(exact -- bloomSurvivors).size} of ${exact.size} new docs")
  }

  test("incrementalDedup (exact anti-join form) matches a naive set computation") {
    val prior = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val incoming = Seq((10L, "aa"), (11L, "cc"), (12L, "cc"), (13L, "dd")).toDF("doc_id", "text")
    val got = graft.ops.Text.incrementalDedup(incoming, prior)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 drops (in prior), 11 keeps (min id for cc), 12 drops (dup of 11), 13 keeps
    assert(got == Set(11L, 13L))
  }

  test("bloomReducedJoin equals the plain join and genuinely reduces the pre-join fact") {
    graft.plans.GraftExtensions.install(spark)
    val fact = (1 to 5000).map(i => (i.toLong % 1000, i.toLong)).toDF("k", "payload")
    val dim = (1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "attr") // 5% selective
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val plain = canon(fact.join(dim, Seq("k")))
    val reduced = canon(graft.ops.Core.bloomReducedJoin(fact, dim, "k", numBits = 1 << 14))
    assert(reduced == plain)
    // the pre-filter must actually drop most of the fact before the join
    val sk = dim.agg(BloomFilter.bloom_agg(col("k"), 1 << 14, 5).as("bf"))
    val surviving = fact.crossJoin(broadcast(sk))
      .filter(BloomFilter.bloom_might_contain(col("bf"), col("k"))).count()
    assert(surviving < 1000, s"pre-filter kept $surviving of 5000")
    intercept[IllegalArgumentException] {
      graft.ops.Core.bloomReducedJoin(fact, dim, "k", joinType = "left")
    }
    // mismatched key types hash differently (xxhash64(1:Int) != (1:Long))
    // — must refuse instead of silently dropping every true match
    val intFact = fact.withColumn("k", col("k").cast("int"))
    val typeEx = intercept[IllegalArgumentException] {
      graft.ops.Core.bloomReducedJoin(intFact, dim, "k")
    }
    assert(typeEx.getMessage.contains("types differ"))
  }

  test("probing NULL yields NULL, matching the aggregate's null-skip") {
    graft.plans.GraftExtensions.install(spark)
    val sk = Seq("a", "b").toDF("t").agg(
      BloomFilter.bloom_agg(col("t"), 1 << 10, 5).as("bf"))
    // XxHash64 alone would hash NULL to the bare seed and probe a REAL
    // bit — the builder short-circuits null explicitly
    val r = Seq(Option.empty[String]).toDF("v").crossJoin(broadcast(sk))
      .select(
        BloomFilter.bloom_might_contain(col("bf"), col("v")).as("b"))
      .head()
    assert(r.isNullAt(0))
  }

  test("bloom_agg rejects bad shapes with clear errors; mismatched merges refuse") {
    graft.plans.GraftExtensions.install(spark)
    val ex = intercept[Exception] {
      Seq(1).toDF("v").agg(BloomFilter.bloom_agg(col("v"), 16, 5)).collect()
    }
    assert(ex.getMessage.contains("numBits"))
    val a = new BloomFilter.Buffer(128, 4)
    val b = new BloomFilter.Buffer(256, 4)
    intercept[IllegalArgumentException] { a.mergeIn(b) }
  }
}
