package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalacheck.Gen.Parameters

import graft.ops.{Core, RefFunctions => F}

/** Property-style invariants (SURVEY §5.3) over ScalaCheck-generated data,
  * evaluated in single Spark jobs (one job per property, not per sample —
  * the generated rows ride one DataFrame). Seed fixed for reproducibility. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): List[A] = {
    val seed = rng.Seed(42L)
    Iterator.iterate((g.pureApply(Parameters.default, seed), seed.next)) {
      case (_, s) => (g.pureApply(Parameters.default, s), s.next)
    }.map(_._1).take(n).toList
  }

  private val finite = Gen.chooseNum(-1e9, 1e9)

  test("scores are always clamped to [0,100] for any finite inputs") {
    val rows = sample(Gen.zip(finite, finite, Gen.chooseNum(0.0, 100.0)), 300)
    val df = rows.toDF("realtime", "yearly", "interest")
    val scored = df.select(
      F.exchangeRateScore(F.changePercent($"realtime", $"yearly")).as("fx"),
      F.finalTrendScore(F.normalizeGrowth(F.logScaleGrowth(
        F.rawGrowthKeyword($"realtime", $"yearly"))), $"interest").as("trend"))
    val bad = scored.filter(
      $"fx" < 0 || $"fx" > 100 || $"trend" < 0 || $"trend" > 100 ||
        $"fx".isNull || $"trend".isNull).count()
    assert(bad == 0)
  }

  test("rawGrowth branch totality: every (recent, prev) yields a value") {
    val rows = sample(Gen.zip(Gen.chooseNum(0.0, 1e6), Gen.chooseNum(0.0, 1e6)), 300) ++
      List((0.0, 0.0), (5.0, 0.0), (0.0, 5.0))
    val df = rows.toDF("recent", "prev")
    assert(df.select(F.rawGrowthKeyword($"recent", $"prev").as("g"))
      .filter($"g".isNull).count() == 0)
    assert(df.select(F.rawGrowthAnchor($"recent", $"prev").as("g"))
      .filter($"g".isNull).count() == 0)
  }

  test("dedupLatest returns exactly one row per key, the max-order one") {
    val rows = sample(Gen.zip(Gen.chooseNum(0, 20), Gen.chooseNum(0L, 1000000L)), 400)
      .zipWithIndex.map { case ((k, ord), i) => (s"k$k", ord * 1000L + i, i) }
    val df = rows.toDF("key", "ord", "payload")
    val got = Core.dedupLatest(df, Seq("key"), Seq(col("ord")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).max }
    assert(got == expected)
  }

  test("asOfJoin agrees with the naive quadratic definition on random data") {
    val lrows = sample(Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0L, 500L)), 120)
      .zipWithIndex.map { case ((k, t), i) => (s"k$k", t * 1000 + 500, i.toLong) }
    // right order values globally unique (t*1000+i): asOfJoin requires a
    // total order per key for determinism, same as any window
    val rrows = sample(Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0L, 500L)), 120)
      .zipWithIndex.map { case ((k, t), i) => (s"k$k", t * 1000 + i, i * 1.5) }
    val left = lrows.toDF("key", "t", "id")
    val right = rrows.toDF("key", "t", "v")
    val got = Core.asOfJoin(left, right, Seq("key"), "t", "t", Seq("v"))
      .collect().map(r => r.getLong(2) -> Option(r.getAs[Any]("asof_v"))).toMap
    // naive: for each left row, latest right (t, insertion order) with
    // rt <= lt; ties among equal rt resolve to the largest v under the
    // window's deterministic secondary order — dedupe by taking maxBy
    val naive = lrows.map { case (k, lt, id) =>
      val cands = rrows.filter(r => r._1 == k && r._2 <= lt)
      id -> (if (cands.isEmpty) None
             else Some(cands.maxBy(c => (c._2, c._3))._3))
    }.toMap
    assert(got == naive)
  }

  test("HLL sparse phase is exact; merge order never changes the estimate") {
    import graft.functions.HllBuffer
    val xs = sample(Gen.chooseNum(Long.MinValue, Long.MaxValue), 3000)
    val a = new HllBuffer(12, 4096)
    xs.foreach(a.add)
    assert(a.estimate() == xs.distinct.size.toLong) // sparse regime: exact
    // commutativity through the dense path (limit 64 forces conversion)
    def build(vals: Seq[Long]) = {
      val b = new HllBuffer(12, 64); vals.foreach(b.add); b
    }
    val (l, r) = xs.splitAt(xs.size / 3)
    val ab = build(l); ab.mergeIn(build(r))
    val ba = build(r); ba.mergeIn(build(l))
    assert(ab.estimate() == ba.estimate())
  }

  test("theta sketch: exact below k; partitioned build merges losslessly") {
    import graft.functions.ThetaSketch
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val xs = sample(Gen.chooseNum(0L, 5000L), 2000) // duplicates likely
      .map(x => XxHash64Function.hash(x, LongType, 42L))
    val whole = new ThetaSketch.Buffer(4096)
    xs.foreach(whole.add)
    assert(whole.estimate == xs.distinct.size.toDouble) // θ=1: exact
    // KMV mergeability is EXACT: the sketch of a union is recoverable
    // from the partition sketches — any split must equal the single pass
    val single = new ThetaSketch.Buffer(128)
    xs.foreach(single.add)
    Seq(1, 700, 1999).foreach { cut =>
      val (p1, p2) = xs.splitAt(cut)
      val m = new ThetaSketch.Buffer(128)
      val m2 = new ThetaSketch.Buffer(128)
      p1.foreach(m.add); p2.foreach(m2.add)
      m.mergeIn(m2)
      assert(m.estimate == single.estimate, s"split at $cut diverged")
    }
  }

  test("vec_avg: any partitioning equals the single pass (exact on integer vectors)") {
    graft.plans.GraftExtensions.install(spark)
    // integer-valued components: double addition over them is EXACT in any
    // order, so the 32-way partitioned merge must equal the naive fold
    // bit-for-bit (real-valued inputs only agree to ~ulp; integers pin the
    // merge path itself)
    val vecs = sample(Gen.listOfN(8, Gen.chooseNum(-1000, 1000)), 600)
      .map(_.map(_.toDouble).toArray)
    val df = vecs.map(Tuple1(_)).toDF("v").repartition(32)
    val row = df.agg(
      graft.functions.VectorAgg.vec_avg(col("v")).as("a")).collect().head
    val expS = (0 until 8).map(i => vecs.map(_(i)).sum)
    assert(row.getSeq[Double](0) == expS.map(_ / vecs.size))
  }

  test("topk_by: every partitioning equals the single-pass result, ties break on id") {
    graft.plans.GraftExtensions.install(spark)
    // scores collide heavily (mod 37) so the id tiebreak is exercised on
    // every boundary; the bounded-heap merge must be partitioning-invariant
    val data = (1L to 500L).map(i => (i, (i % 37).toDouble))
    val expected = data.sortBy { case (i, s) => (-s, i) }.take(10).toSeq
    for (parts <- Seq(1, 7, 32)) {
      val df = data.toDF("id", "score").repartition(parts)
      val got = df.agg(graft.functions.TopK.topk_by(col("score"), col("id"), 10))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(1), r.getDouble(0)))
      assert(got == expected, s"$parts partitions diverged from single-pass order")
    }
    // NaN poisoning is rejected, not silently mis-ranked
    val ex = intercept[Exception] {
      Seq((1L, Double.NaN)).toDF("id", "score")
        .agg(graft.functions.TopK.topk_by(col("score"), col("id"), 3)).collect()
    }
    assert(msgs(ex).exists(_.contains("NaN")), msgs(ex).mkString("; "))
  }

  test("Misra-Gries guarantee: items over N/capacity survive distributed merges") {
    graft.plans.GraftExtensions.install(spark)
    // noise tail + one genuinely heavy item: N = 4500, capacity 64 ⇒
    // guarantee threshold N/64 ≈ 70; "heavy" at 500 must NEVER drop,
    // whatever order or partitioning the 32-way shuffle imposes
    val noise = sample(Gen.chooseNum(0, 5000), 4000).map(i => s"t$i")
    val data = (noise ++ List.fill(500)("heavy"))
      .sortBy(s => scala.util.hashing.MurmurHash3.stringHash(s)) // deterministic interleave
    val items = data.toDF("t").repartition(32)
      .agg(graft.functions.FrequentItems.frequent_items(col("t"), 64).as("fi"))
      .select(explode(col("fi")).as("e")).select(col("e.item"))
      .as[String].collect().toSet
    assert(items.contains("heavy"))
  }

  test("sessionizeBatch agrees with a naive fold on random event data") {
    val gap = 5000L
    val rows = sample(Gen.zip(Gen.chooseNum(0, 10), Gen.chooseNum(0L, 100000L)), 300)
      .zipWithIndex.map { case ((u, t), i) =>
        (u.toLong, new java.sql.Timestamp(t), i.toLong, (i % 7).toDouble)
      }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val got = graft.streaming.Events.sessionizeBatch(df, gap)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
        r.getLong(4), r.getDouble(5))).toSet
    val naive = rows.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._2.getTime, e._3))
      val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
        if (e._2.getTime - acc.head.head._2.getTime > gap) List(e) :: acc
        else (e :: acc.head) :: acc.tail // head of inner list = latest ts
      }.reverse
      sessions.zipWithIndex.map { case (s, i) =>
        val ts = s.map(_._2.getTime)
        (u, (i + 1).toLong, ts.min, ts.max, s.size.toLong, s.map(_._4).sum)
      }
    }.toSet
    assert(got == naive)
  }

  test("engine-neutral rounding r2 is stable and order-of-magnitude safe") {
    val rows = sample(finite, 500) ++ List(90.225, 2.675, -5.004, 0.005)
    val df = rows.toDF("x")
    val got = df.select($"x", (floor($"x" * 100 + 0.5) / 100).as("r")).collect()
    got.foreach { r =>
      val (x, v) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(v - x) <= 0.005 + math.ulp(x) * 100, s"$x -> $v")
    }
  }
}
