package graft

import java.sql.Date

import graft.ops.Trends

/** Trends pipeline on an authored long-form fixture (FIXTURES.md B4):
  * window means, epsilon vs anchor branches, is_partial drop,
  * standardization defaults. */
class TrendsSpec extends SparkSpec {
  import spark.implicits._

  private def series(keyword: String, vals: Seq[Int], partialLast: Boolean = false) =
    vals.zipWithIndex.map { case (v, i) =>
      (Date.valueOf(java.time.LocalDate.of(2025, 6, 1).plusDays(i)),
        keyword, v, i == vals.size - 1 && partialLast)
    }

  // keyword A: prev mean 10, recent mean 20 -> growth 1.0
  // keyword B: prev mean 0, recent mean 5 -> epsilon blow-up
  // anchor:    prev mean 0, recent mean 4 -> 1.0 (asymmetric)
  private def interest = (
    series("일본 여행", Seq.fill(15)(10) ++ Seq.fill(15)(20)) ++
      series("화성 여행", Seq.fill(15)(0) ++ Seq.fill(15)(5)) ++
      series("Japan 여행", Seq.fill(15)(10) ++ Seq.fill(15)(30)) ++
      series(Trends.AnchorKeyword, Seq.fill(15)(0) ++ Seq.fill(15)(4)) ++
      // partial row must be dropped: without drop it would shift A's window
      series("일본 여행", Seq(99), partialLast = true).map(r => (Date.valueOf("2025-07-01"), r._2, r._3, true))
    ).toDF("date", "keyword", "interest", "is_partial")

  // lookup_key is the alias; korean_name the canonical emitted value —
  // the "Japan" row pins the alias->canonical rename (514/739 real map
  // entries differ like this; google_trends_processor.py:146-152)
  private def stdMap = Seq(
    ("일본", "일본", "Japan", "JPN", "JP"),
    ("Japan", "일본", "Japan", "JPN", "JP")
  ).toDF("lookup_key", "korean_name", "english_name", "country_code_3", "country_code_2")

  test("A1/A2 window means with is_partial dropped") {
    val m = Trends.keywordMetrics(interest)
      .filter($"keyword" === "일본 여행").head()
    assert(m.getAs[Double]("recent_mean") == 20.0)
    assert(m.getAs[Double]("prev_mean") == 10.0)
    assert(m.getAs[Int]("current_interest") == 20)
  }

  test("F6 branches: keyword epsilon vs anchor 1.0") {
    val g = Trends.withRawGrowth(Trends.keywordMetrics(interest))
    val byKw = g.collect().map(r => r.getAs[String]("keyword") -> r.getAs[Double]("raw_growth")).toMap
    assert(byKw("일본 여행") == 1.0)
    assert(byKw("화성 여행") == 5.0 / 1e-6)
    assert(byKw(Trends.AnchorKeyword) == 1.0)
  }

  test("J2 standardization: hit enriches, miss gets Unknown defaults") {
    val gold = Trends.gold(interest, stdMap)
    val jp = gold.filter($"keyword" === "일본 여행").head()
    assert(jp.getAs[String]("country_english_name") == "Japan")
    assert(jp.getAs[String]("country_code_3") == "JPN")
    assert(jp.getAs[String]("dataType") == "googleTrend")
    val mars = gold.filter($"keyword" === "화성 여행").head()
    assert(mars.getAs[String]("country_english_name") == "Unknown_English")
    assert(mars.getAs[String]("country_code_3") == "N/A")
    // miss emits the reference's Unknown_Korean literal, NOT the stripped
    // keyword (google_trends_processor.py:153)
    assert(mars.getAs[String]("country_korean_name") == "Unknown_Korean")
  }

  test("J2 alias keyword emits the CANONICAL korean_name, not the alias") {
    val gold = Trends.gold(interest, stdMap)
    val alias = gold.filter($"keyword" === "Japan 여행").head()
    assert(alias.getAs[String]("country_korean_name") == "일본")
    assert(alias.getAs[String]("country_english_name") == "Japan")
    assert(alias.getAs[String]("country_code_3") == "JPN")
  }

  test("J7 anchor metrics attach to every row; absent anchor yields nulls") {
    val gold = Trends.gold(interest, stdMap)
    val jp = gold.filter($"keyword" === "일본 여행").head()
    assert(jp.getAs[Double]("anchor_growth") == 1.0) // anchor zero-prev -> 1.0
    assert(jp.getAs[Int]("anchor_interest") == 4)
    assert(!jp.isNullAt(jp.fieldIndex("crawled_at_kst")))
    val noAnchor = interest.filter($"keyword" =!= Trends.AnchorKeyword)
    val g2 = Trends.gold(noAnchor, stdMap).filter($"keyword" === "일본 여행").head()
    assert(g2.isNullAt(g2.fieldIndex("anchor_growth")))
  }

  test("J7 building withAnchorMetrics runs no Spark job (no driver action)") {
    // the old form ran anchor.isEmpty at plan-build time — a whole extra
    // pipeline evaluation before any action; the conditional-aggregate
    // form is pure plan construction
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Trends.withAnchorMetrics(Trends.withRawGrowth(Trends.keywordMetrics(interest)))
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() == 0, s"plan construction launched ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("F20 rename map ignores missing keys (pandas semantics)") {
    val df = Seq((1, "a")).toDF("id", "v")
    val renamed = df.withColumnsRenamed(Map("v" -> "value", "nope" -> "x"))
    assert(renamed.columns.toSeq == Seq("id", "value"))
  }

  test("F7-F9 chain: scores clamped to [0,100]") {
    val gold = Trends.gold(interest, stdMap)
    val scores = gold.select($"final_trend_score").as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 100.0))
    // epsilon keyword: log10(1+5e6)=6.699 -> norm min(67,100)=66.99 ->
    // 0.7*66.99 + 0.3*5 = 48.39
    val mars = gold.filter($"keyword" === "화성 여행").head()
    assert(math.abs(mars.getAs[Double]("final_trend_score") - 48.39) < 0.02)
  }
}
