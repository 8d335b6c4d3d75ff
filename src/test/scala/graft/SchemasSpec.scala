package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{Rates, Trends}
import graft.schemas.Schemas

/** Typed gold-record boundaries: the pipelines' untyped output converts
  * into the declared case classes with full field coverage. */
class SchemasSpec extends SparkSpec {
  import spark.implicits._

  test("Rates.gold converts to Dataset[ExchangeRateGold]") {
    val t0 = Timestamp.valueOf("2025-08-01 00:00:00")
    val rates = Seq(
      ("USD", "realtime", Option("x").filter(_ => false).orNull: String, 1380.5),
      ("USD", "monthly_avg", "202507", 1370.0),
      ("USD", "yearly_avg", null: String, 1350.0)
    ).toDF("currency_code", "rate_type", "month_key", "standard_rate")
      .withColumn("crawled_at_utc", lit(t0))
      .withColumn("crawled_at_kst", lit(t0))
    val dim = Seq(("USD", "USA", "미국", "United States", "US", false))
      .toDF("currency_code", "country_code_3", "country_korean_name",
        "country_english_name", "country_code_2", "is_euro_zone")
    val typed = Schemas.asExchangeGold(Rates.gold(rates, dim)).collect()
    assert(typed.length == 1)
    val r = typed.head
    assert(r.dataType == "exchangeRate" && r.country_code_3 == "USA")
    assert(r.realtime_rate.contains(1380.5))
    assert(r.monthly_avg_rates == Map("202507" -> 1370.0))
    assert(r.exchange_rate_score == 38.7)
  }

  test("Trends.gold converts to Dataset[GoogleTrendGold]") {
    val interest = (0 until 30).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2025, 6, 1).plusDays(i)),
        "일본 여행", if (i < 15) 10 else 20, false)
    }.toDF("date", "keyword", "interest", "is_partial")
    val stdMap = Seq(("일본", "일본", "Japan", "JPN", "JP"))
      .toDF("lookup_key", "korean_name", "english_name", "country_code_3", "country_code_2")
    val typed = Schemas.asTrendGold(
      Trends.gold(interest, stdMap, lit(Timestamp.valueOf("2025-08-01 00:00:00")))).collect()
    val r = typed.head
    assert(r.dataType == "googleTrend" && r.country_code_3 == "JPN")
    assert(r.anchor_growth.isEmpty) // no anchor rows in this batch
    assert(r.trend_score_current_interest == 20)
  }
}
