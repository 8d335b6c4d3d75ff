package graft

import org.apache.spark.sql.functions._

/** q210/q212/q213: the linkage/survival/estimation queries pinned against
  * imperative textbook recomputations from collected rows — the same
  * discipline as ProductAnalyticsSpec/OlsTrendSpec. Each query replaces a
  * sequential or pairwise algorithm with a dataflow form; these tests run
  * the replaced algorithm directly and require exact agreement. */
class LinkageEstimatorSpec extends SparkSpec {

  /** The catalog's cross-engine md5 hash: top 60 bits of md5(key‖salt)
    * as a non-negative Long (15 hex chars), recomputed on the JVM. */
  private def h60(key: String, salt: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((key + salt).getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  test("q210: confusion counts equal a brute-force Fellegi-Sunter linkage") {
    import spark.implicits._
    val cust = graft.sources.Tables.customer(spark, sf())
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"),
        substring(col("c_name"), 10, 9).as("sfx"))
      .as[(Long, Long, String, Long, String)].collect()

    def variants(sfx: String): Set[String] =
      (0 until 9).map(p => sfx.take(p) + sfx.drop(p + 1)).toSet

    // plant the same corruption imperatively
    val dirty = cust.filter { case (k, _, _, _, _) =>
      h60(k.toString, "graft-rl-pick") % 5 == 0
    }.map { case (k, nat, seg, cents, sfx) =>
      val pos = (h60(k.toString, "graft-rl-pos") % 9).toInt // 0-based
      val dSfx = sfx.take(pos) + sfx.drop(pos + 1)
      val dCents = cents + h60(k.toString, "graft-rl-bal") % 199 - 99
      val dSeg = if (h60(k.toString, "graft-rl-seg") % 10 == 0) "UNKNOWN" else seg
      (k, nat, dSfx, dCents, dSeg)
    }
    assert(dirty.nonEmpty, "no dirty cohort on the fixture")

    // brute-force candidate generation + scoring + 1:1 resolution
    var nCand = 0L; var tp = 0L; var fp = 0L; var fn = 0L; var matched = 0L
    dirty.foreach { case (trueKey, nat, dSfx, dCents, dSeg) =>
      val cands = cust.filter { case (_, cNat, _, _, sfx) =>
        cNat == nat && variants(sfx).contains(dSfx)
      }
      nCand += cands.length
      val scored = cands.map { case (ck, _, seg, cents, _) =>
        val score = (if (math.abs(cents - dCents) <= 99) 300L else -150L) +
          (if (seg == dSeg) 100L else -250L)
        (ck, score)
      }
      val (bestKey, bestScore) = scored.minBy { case (ck, sc) => (-sc, ck) }
      if (bestScore >= 0) {
        matched += 1
        if (bestKey == trueKey) tp += 1 else fp += 1
      }
    }
    fn = dirty.length - tp

    val row = graft.queries.QueryCatalog.queries("q210_record_linkage")(spark, sf())
      .collect().head
    assert(row.getAs[Long]("n_dirty") == dirty.length.toLong)
    assert(row.getAs[Long]("n_candidates") == nCand)
    assert(row.getAs[Long]("n_matched") == matched)
    assert(row.getAs[Long]("tp") == tp)
    assert(row.getAs[Long]("fp") == fp)
    assert(row.getAs[Long]("fn") == fn)
    // the blocking must generate real wrong-entity candidates for the
    // scoring to prune, or the test pins nothing but the join
    assert(nCand > dirty.length, "no wrong-entity candidates on the fixture")
  }

  test("q212: KM curve equals the imperative product-limit estimator") {
    import spark.implicits._
    // observed (duration, death) per user from the same hour expression
    // the query uses — this test pins the KM algebra (grid, at-risk,
    // censoring, capped log curve), the oracle pins the time cast
    val ev = graft.sources.Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"),
        (datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long") * 24 + hour(col("ts")).cast("long")).as("h"))
      .as[(Long, String, Long)].collect()
    val hmax = ev.map(_._3).max
    // iterator.map, NOT Map.map — mapping a Map to 2-tuples would yield a
    // Map keyed on duration and silently collapse tied users
    val obs = ev.groupBy(_._1).iterator.map { case (_, rows) =>
      val h0 = rows.map(_._3).min
      val hp = rows.filter(_._2 == "purchase").map(_._3).sorted.headOption
      (hp.map(_ - h0).getOrElse(hmax - h0), hp.isDefined)
    }.toSeq

    val grid = obs.groupBy(_._1).map { case (t, rs) =>
      (t, rs.count(_._2).toLong, rs.count(!_._2).toLong)
    }.toSeq.sortBy(_._1)
    var cum = 0L
    val expect = grid.map { case (t, d, c) =>
      val nRisk = grid.filter(_._1 >= t).map(g => g._2 + g._3).sum
      val term =
        if (d == 0) 0L
        else if (d == nRisk) 13815511L
        else math.floor(-math.log((nRisk - d).toDouble / nRisk) * 1000000 + 0.5).toLong
      cum += term
      (t, d, c, nRisk, cum)
    }.filter(_._2 > 0)

    val got = graft.queries.QueryCatalog.queries("q212_survival_km")(spark, sf())
      .orderBy("t").collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (r, (t, d, c, nRisk, curve)) =>
      assert(r.getAs[Long]("t") == t)
      assert(r.getAs[Long]("d") == d, s"deaths at t=$t")
      assert(r.getAs[Long]("c") == c, s"censored at t=$t")
      assert(r.getAs[Long]("n_risk") == nRisk, s"at-risk at t=$t")
      assert(r.getAs[Long]("neg_log_surv_micro") == curve, s"curve at t=$t")
    }
  }

  test("q213: HT estimate is exact over the hash-selected sample") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"), col("source"), col("n_chars").cast("long"))
      .as[(Long, String, Long)].collect()
    val bySource = docs.groupBy(_._2)
    val rows = graft.queries.QueryCatalog.queries("q213_ht_estimator")(spark, sf())
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.size == bySource.size)
    var anySampled = false
    bySource.foreach { case (src, ds) =>
      val den = (h60(src, "graft-ht-src") % 4) match {
        case 0 => 2L; case 1 => 4L; case 2 => 5L; case _ => 10L
      }
      val picked = ds.filter(d => h60(d._1.toString, "graft-ht-doc") % den == 0)
      val r = rows(src)
      assert(r.getAs[Long]("den") == den, s"den for $src")
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("true_chars") == ds.map(_._3).sum)
      assert(r.getAs[Long]("n_sampled") == picked.length.toLong, s"sample for $src")
      assert(r.getAs[Long]("ht_chars") == picked.map(_._3 * den).sum, s"HT for $src")
      if (picked.nonEmpty) anySampled = true
    }
    assert(anySampled, "empty sample everywhere — the estimator pins nothing")
  }

  test("q214: Neyman shares equal the textbook n_h*S_h allocation") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf())
      .select(col("source"), col("n_chars").cast("long"))
      .as[(String, Long)].collect()
    val strata = docs.groupBy(_._1).map { case (src, ds) =>
      val n = ds.length.toLong
      val sx = ds.map(_._2).sum
      val sx2 = ds.map(d => d._2 * d._2).sum
      val m = sx.toDouble / n.toDouble
      val v = sx2.toDouble / n.toDouble - m * m
      val sd = math.sqrt(math.max(v, 0.0))
      (src, n, sd, math.floor(n.toDouble * sd * 1000000 + 0.5).toLong)
    }
    val totNs = strata.map(_._4).sum
    val totN = strata.map(_._2).sum
    val rows = graft.queries.QueryCatalog.queries("q214_neyman_allocation")(spark, sf())
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.size == strata.size && strata.nonEmpty)
    strata.foreach { case (src, n, sd, nsMicro) =>
      val r = rows(src)
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("sd_micro") ==
        math.floor(sd * 1000000 + 0.5).toLong, s"sd for $src")
      assert(r.getAs[Long]("share_neyman_micro") ==
        math.floor(nsMicro.toDouble / totNs * 1000000 + 0.5).toLong,
        s"Neyman share for $src")
      assert(r.getAs[Long]("n_neyman") ==
        math.floor(nsMicro.toDouble / totNs * 10000 + 0.5).toLong)
      assert(r.getAs[Long]("n_prop") ==
        math.floor(n.toDouble / totN * 10000 + 0.5).toLong)
    }
    // the point of Neyman: at least one stratum's allocation must differ
    // from proportional, or the fixture can't distinguish the two rules
    assert(rows.values.exists(r =>
      r.getAs[Long]("n_neyman") != r.getAs[Long]("n_prop")),
      "Neyman == proportional everywhere on the fixture")
  }

  test("q215: golden record equals the imperative per-user field fold") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf())
      .select(col("user_id"), col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[(Long, Long, String, Long)].collect()
    val expect = ev.groupBy(_._1).map { case (u, rows) =>
      val byId = rows.sortBy(_._2)
      val counts = rows.groupBy(_._3).map { case (t, rs) => (t, rs.length.toLong) }
      val (modeType, modeN) = counts.toSeq.minBy { case (t, c) => (-c, t) }
      u -> (rows.length.toLong, byId.head._3, byId.last._3,
        modeType, modeN, rows.map(_._4).sum, rows.map(_._4).max)
    }
    val got = graft.queries.QueryCatalog.queries("q215_golden_record")(spark, sf())
      .collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val (n, first, last, modeT, modeN, tot, mx) = expect(u)
      assert(r.getAs[Long]("n_events") == n, s"n for $u")
      assert(r.getAs[String]("first_type") == first, s"first for $u")
      assert(r.getAs[String]("last_type") == last, s"last for $u")
      assert(r.getAs[String]("mode_type") == modeT, s"mode for $u")
      assert(r.getAs[Long]("mode_n") == modeN, s"mode count for $u")
      assert(r.getAs[Long]("total_cents") == tot, s"total for $u")
      assert(r.getAs[Long]("max_cents") == mx, s"max for $u")
    }
  }

  test("q216: counting-sort conformal quantile equals the sorted order statistic") {
    import spark.implicits._
    val w = Array.tabulate(64) { j =>
      (scala.util.hashing.MurmurHash3.productHash((j, "graft-linear")) % 1000) / 1000.0
    }
    val rows = graft.sources.Tables.embeddings(spark, sf())
      .select(col("vec_id"), (col("label") % 2).cast("long"),
        transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Long, Seq[Double])].collect()
    val scored = rows.map { case (id, y, emb) =>
      // same left-to-right accumulation as VectorDot.dot
      var z = -0.1
      var i = 0
      while (i < math.min(emb.length, 64)) { z += emb(i) * w(i); i += 1 }
      val pMicro = math.floor(1.0 / (1.0 + math.exp(-z)) * 1000000 + 0.5).toLong
      val aMicro = if (y == 1L) 1000000L - pMicro else pMicro
      val calib = h60(id.toString, "graft-conf-split") % 2 == 0
      (pMicro, aMicro, calib)
    }
    val calA = scored.filter(_._3).map(_._2).sorted
    val nCal = calA.length.toLong
    val k = (9 * (nCal + 1) + 9) / 10
    val qHat = if (k > nCal) 1000000L else calA((k - 1).toInt)
    val test = scored.filterNot(_._3)
    val covered = test.count(_._2 <= qHat).toLong
    val cells = test.map { case (p, _, _) =>
      (if (1000000L - p <= qHat) 1L else 0L) + (if (p <= qHat) 1L else 0L)
    }.sum

    val r = graft.queries.QueryCatalog.queries("q216_conformal_threshold")(spark, sf())
      .collect().head
    assert(r.getAs[Long]("n_cal") == nCal && nCal > 0)
    assert(r.getAs[Long]("k") == k)
    assert(r.getAs[Long]("q_hat_micro") == qHat, "quantile mismatch")
    assert(r.getAs[Long]("n_test") == test.length.toLong)
    assert(r.getAs[Long]("n_covered") == covered)
    assert(r.getAs[Long]("coverage_micro") ==
      math.floor(covered.toDouble / test.length * 1000000 + 0.5).toLong)
    assert(r.getAs[Long]("avg_set_micro") ==
      math.floor(cells.toDouble / test.length * 1000000 + 0.5).toLong)
    // the threshold must actually bind: some test rows outside the set
    assert(covered < test.length, "q_hat covers everything — nothing pinned")
  }

  test("q216: an empty calibration or test half still returns its one row") {
    val calib = conv(substring(md5(concat(col("vec_id").cast("string"),
      lit("graft-conf-split"))), 1, 15), 16, 10).cast("long") % 2 === 0L
    def run(keep: org.apache.spark.sql.Column) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-q216").toString
      graft.sources.Tables.embeddings(spark, sf()).filter(keep)
        .write.parquet(s"$dir/embeddings.parquet")
      graft.queries.QueryCatalog.queries("q216_conformal_threshold")(spark, dir)
        .collect().toSeq
    }
    val nTest = graft.sources.Tables.embeddings(spark, sf()).filter(!calib).count()
    assert(nTest > 0)
    // no calibration scores: no n_cal or k, and q̂ falls back to 10⁶,
    // which covers every test row with both labels
    val Seq(noCal) = run(!calib)
    assert(noCal.isNullAt(noCal.fieldIndex("n_cal")) && noCal.isNullAt(noCal.fieldIndex("k")))
    assert(noCal.getAs[Long]("q_hat_micro") == 1000000L)
    assert(noCal.getAs[Long]("n_test") == nTest && noCal.getAs[Long]("n_covered") == nTest)
    assert(noCal.getAs[Long]("coverage_micro") == 1000000L)
    assert(noCal.getAs[Long]("avg_set_micro") == 2000000L)
    // no test rows (or no rows at all): only the zero counts are set
    Seq(calib, lit(false)).foreach { keep =>
      val Seq(noTest) = run(keep)
      Seq("n_cal", "k", "q_hat_micro", "n_covered").foreach { c =>
        assert(noTest.isNullAt(noTest.fieldIndex(c)), s"$c with no test rows")
      }
      assert(noTest.getAs[Long]("n_test") == 0L)
      assert(noTest.getAs[Long]("coverage_micro") == 0L)
      assert(noTest.getAs[Long]("avg_set_micro") == 0L)
    }
  }
}
