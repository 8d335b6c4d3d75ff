package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Core, RefFunctions => F}
import graft.sources.Tables

import Shared._

/** Reference gold pipelines (rates/trends/flights) + sketches, sampling, span dedup. Split from the single-file catalog in round 8;
  * query text unchanged. Registration stays in [[QueryCatalog.all]]. */
private[queries] object CatalogPipelines {


  /** S1/S2+J1+A3+F3/F4/F5 — the exchange-rate pipeline (Rates.gold):
    * EUR ×17 eurozone fan-out through the broadcast dim, the 4-rate-type
    * conditional-aggregation pivot, change-percent + clamped score. The
    * monthly map column is canonicalized for hashing by exploding its
    * (sorted) entries — one output row per (country × month), countries
    * with no monthly rows keep a null-month row (explode_outer ==
    * LEFT JOIN). Ref: exchage_rate_crawler.py:338-426,611-649. */
  private val q37 = Q(
    "q37_rates_gold",
    (s, _) => {
      val gold = graft.ops.Rates.gold(
        graft.sources.Fixtures.ratesRaw(s),
        graft.sources.Fixtures.countryMaster(s))
      gold
        .select(col("*"), explode_outer(map_entries(col("monthly_avg_rates"))).as("me"))
        .select(
          col("country_code_3"), col("currency_code"),
          col("country_korean_name"), col("country_english_name"),
          col("country_code_2"), col("is_euro_zone"),
          col("realtime_rate"), col("realtime_crawled_at_utc"),
          col("realtime_crawled_at_kst"), col("daily_avg_rate"),
          col("yearly_avg_rate"), col("exchange_rate_change_percent"),
          col("exchange_rate_score"), col("dataType"),
          col("me.key").as("month_key"), col("me.value").as("monthly_rate"))
    },
    Some(s"""
      WITH dim AS (
        SELECT currency_code, country_code_3,
          country_name_kor AS country_korean_name,
          country_name_eng AS country_english_name,
          country_code_2, is_euro_zone
        FROM read_json('$FX/country_master.jsonl', format='newline_delimited',
          columns={"country_code_3":'VARCHAR',"country_name_eng":'VARCHAR',
                   "country_name_kor":'VARCHAR',"country_code_2":'VARCHAR',
                   "currency_code":'VARCHAR',"is_euro_zone":'BOOLEAN',
                   "google_trend_keyword_kor":'VARCHAR'})),
      enr AS (
        SELECT r.*, d.country_code_3, d.country_korean_name,
          d.country_english_name, d.country_code_2, d.is_euro_zone
        FROM read_json('$FX/rates_raw.jsonl', format='newline_delimited',
          columns={"currency_code":'VARCHAR',"rate_type":'VARCHAR',
                   "month_key":'VARCHAR',"buy_rate":'DOUBLE',
                   "sell_rate":'DOUBLE',"send_rate":'DOUBLE',
                   "receive_rate":'DOUBLE',"standard_rate":'DOUBLE',
                   "crawled_at_utc":'VARCHAR',"crawled_at_kst":'VARCHAR'}) r
        JOIN dim d USING (currency_code)),
      wide AS (
        SELECT country_code_3,
          max(currency_code) AS currency_code,
          max(country_korean_name) AS country_korean_name,
          max(country_english_name) AS country_english_name,
          max(country_code_2) AS country_code_2,
          bool_or(is_euro_zone) AS is_euro_zone,
          max(CASE WHEN rate_type='realtime' THEN standard_rate END) AS realtime_rate,
          max(CASE WHEN rate_type='realtime' THEN crawled_at_utc END) AS realtime_crawled_at_utc,
          max(CASE WHEN rate_type='realtime' THEN crawled_at_kst END) AS realtime_crawled_at_kst,
          max(CASE WHEN rate_type='daily_avg' THEN standard_rate END) AS daily_avg_rate,
          max(CASE WHEN rate_type='yearly_avg' THEN standard_rate END) AS yearly_avg_rate
        FROM enr GROUP BY country_code_3),
      monthly AS (
        SELECT DISTINCT country_code_3, month_key, standard_rate AS monthly_rate
        FROM enr WHERE rate_type='monthly_avg' AND month_key IS NOT NULL),
      pcts AS (
        SELECT w.*,
          CASE WHEN realtime_rate IS NOT NULL AND yearly_avg_rate IS NOT NULL
                    AND yearly_avg_rate > 0
            THEN (realtime_rate - yearly_avg_rate)/yearly_avg_rate*100 END AS pct
        FROM wide w)
      SELECT p.country_code_3, p.currency_code, p.country_korean_name,
        p.country_english_name, p.country_code_2, p.is_euro_zone,
        p.realtime_rate, p.realtime_crawled_at_utc, p.realtime_crawled_at_kst,
        p.daily_avg_rate, p.yearly_avg_rate,
        round(p.pct, 2) AS exchange_rate_change_percent,
        round(CASE WHEN p.pct IS NULL THEN 0.0
          ELSE least(100.0, greatest(0.0, (10.0 - p.pct)/20.0*100)) END, 2)
          AS exchange_rate_score,
        'exchangeRate' AS dataType,
        m.month_key, m.monthly_rate
      FROM pcts p LEFT JOIN monthly m USING (country_code_3)"""))

  /** A1/A2+F6-F9+J2/J7 — the Google-Trends pipeline (Trends.gold): last-15
    * vs previous-15 window means over the long-form series, the faithful
    * asymmetric growth branches (keyword epsilon blow-up vs anchor 1.0),
    * log-scale → normalize → clamped score, the broadcast anchor columns,
    * and standardization against the 739-entry alias map with Unknown_*
    * defaults. Ref: google_trends_crawler.py:71-111,
    * google_trends_processor.py:140-239. */
  private val q38 = Q(
    "q38_trends_gold",
    (s, _) => {
      val gold = graft.ops.Trends.gold(
        graft.sources.Fixtures.trendsInterest(s),
        graft.sources.Fixtures.standardMap(s),
        asOf = lit("2025-07-04 00:00:00").cast("timestamp"))
      // the PIPELINE emits unrounded scores (reference literal has no
      // round); the comparison projection rounds to 2 as engine-neutral
      // canonicalization so log10 ULP differences can't flake the hash
      gold.select(
        col("keyword"), col("recent_mean"), col("prev_mean"),
        col("trend_score_current_interest"), col("trend_score_raw_growth"),
        r2(col("scaled_raw_growth")).as("scaled_raw_growth"),
        r2(col("final_trend_score")).as("final_trend_score"),
        col("anchor_growth"), col("anchor_interest"),
        col("country_korean_name"), col("country_english_name"),
        col("country_code_3"), col("country_code_2"), col("dataType"),
        col("crawled_at_kst"))
    },
    Some(s"""
      WITH src AS (
        SELECT * FROM read_json('$FX/trends_interest.jsonl',
          format='newline_delimited',
          columns={"date":'DATE',"keyword":'VARCHAR',"interest":'INTEGER',
                   "geo":'VARCHAR',"is_partial":'BOOLEAN',"batch_id":'INTEGER'})
        WHERE NOT is_partial),
      ranked AS (
        SELECT keyword, interest,
          row_number() OVER (PARTITION BY keyword ORDER BY "date" DESC) AS rn
        FROM src),
      m AS (
        SELECT keyword,
          avg(CASE WHEN rn <= 15 THEN interest END) AS recent_mean,
          avg(CASE WHEN rn BETWEEN 16 AND 30 THEN interest END) AS prev_mean,
          CAST(coalesce(max(CASE WHEN rn = 1 THEN interest END), 0) AS INTEGER)
            AS current_interest
        FROM ranked GROUP BY keyword),
      g AS (
        SELECT m.*,
          CASE WHEN keyword = '해외여행' THEN
            CASE WHEN prev_mean IS NOT NULL AND prev_mean > 0
                   THEN (recent_mean - prev_mean)/prev_mean
                 WHEN recent_mean IS NOT NULL AND recent_mean > 0 THEN 1.0
                 ELSE 0.0 END
          ELSE
            CASE WHEN prev_mean IS NOT NULL AND prev_mean > 0
                   THEN (recent_mean - prev_mean)/prev_mean
                 WHEN recent_mean IS NOT NULL AND recent_mean > 0
                   THEN recent_mean/1e-6
                 ELSE 0.0 END
          END AS raw_growth
        FROM m),
      anc AS (
        SELECT
          max(CASE WHEN keyword = '해외여행' THEN raw_growth END) AS anchor_growth,
          max(CASE WHEN keyword = '해외여행' THEN current_interest END) AS anchor_interest
        FROM g),
      sc AS (
        SELECT g.*, anc.anchor_growth, anc.anchor_interest,
          CASE WHEN raw_growth > 0 THEN log10(1.0 + raw_growth)
               WHEN raw_growth < 0 THEN raw_growth ELSE 0.0 END AS scaled
        FROM g CROSS JOIN anc),
      sc2 AS (
        SELECT sc.*,
          CASE WHEN scaled > 0 THEN least(scaled/10*100, 100.0) ELSE 0.0 END AS norm
        FROM sc),
      j AS (
        SELECT sc2.*, regexp_replace(keyword, ' 여행$$', '') AS lookup_key
        FROM sc2)
      SELECT j.keyword, j.recent_mean, j.prev_mean,
        j.current_interest AS trend_score_current_interest,
        coalesce(j.raw_growth, 0.0) AS trend_score_raw_growth,
        floor(j.scaled*100 + 0.5)/100 AS scaled_raw_growth,
        floor(least(100.0, greatest(0.0, j.norm*0.7 + j.current_interest*0.3))*100 + 0.5)/100
          AS final_trend_score,
        j.anchor_growth, j.anchor_interest,
        coalesce(s.korean_name, 'Unknown_Korean') AS country_korean_name,
        coalesce(s.english_name, 'Unknown_English') AS country_english_name,
        coalesce(s.country_code_3, 'N/A') AS country_code_3,
        coalesce(s.country_code_2, 'N/A') AS country_code_2,
        'googleTrend' AS dataType,
        TIMESTAMP '2025-07-04 09:00:00' AS crawled_at_kst
      FROM j LEFT JOIN read_json('$FX/standard_country_map.jsonl',
        format='newline_delimited',
        columns={"lookup_key":'VARCHAR',"korean_name":'VARCHAR',
                 "english_name":'VARCHAR',"country_code_3":'VARCHAR',
                 "country_code_2":'VARCHAR'}) s
        USING (lookup_key)"""))

  /** F16+A4+J3+F12/F13+F14/J4+J5 — the flight pipeline (Flights.flatten →
    * Flights.gold): nested itinerary ×2 explode, monthly-average
    * two-key left join, price delta/state/score (Korean categoricals),
    * airport-list explode to city codes, 2→3-letter country map with VN
    * deliberately missing. Output columns are ASCII-aliased for the
    * cross-engine hash (SURVEY §7.4.4); the Korean VALUES (상승/하락/동일)
    * hash fine, as q14 proved. Ref: _archive/flight_price_preprocessing
    * .py:3-49, flight_avg_merge.py:26-118. */
  private val q39 = Q(
    "q39_flights_gold",
    (s, _) => {
      val flat = graft.ops.Flights.flatten(graft.sources.Fixtures.flightsRaw(s))
      val gold = graft.ops.Flights.gold(
        flat, graft.ops.Flights.monthlyAvgPrices(flat),
        graft.sources.Fixtures.cityMeta(s), graft.sources.Fixtures.code2to3)
      gold.select(
        col("출발_공항_코드").as("dep_airport"),
        col("출발_도시_이름").as("dep_city"),
        col("출발_국가_코드").as("dep_country2"),
        col("출발_국가_3자리").as("dep_country3"),
        col("도착_공항_코드").as("arr_airport"),
        col("도착_도시_이름").as("arr_city"),
        col("도착_국가_코드").as("arr_country2"),
        col("도착_국가_3자리").as("arr_country3"),
        col("도착_도시코드_3자리").as("arr_city_code3"),
        col("항공사_코드").as("carrier_code"),
        col("좌석_등급").as("cabin_class"),
        col("비행시간_초").as("duration_s"),
        col("가격").as("price"),
        col("할인여부").as("is_discounted"),
        col("도착_월").as("arr_month"),
        col("평균가격").as("avg_price"),
        col("가격차이").as("price_diff"),
        col("증감률(%)").as("pct_change"),
        col("가격상태").as("price_state"),
        col("점수").as("score"))
    },
    Some(s"""
      WITH its AS (
        SELECT unnest(itineraries) AS it FROM read_json('$FX/flights_raw.jsonl')),
      segs AS (
        SELECT it.price.amount AS price,
          coalesce(it.price.priceBeforeDiscount, it.price.amount)
            <> it.price.amount AS is_discounted,
          unnest(it.sector.sectorSegments) AS ss
        FROM its),
      flat AS (
        SELECT
          ss.segment.source.station.code AS dep_airport,
          ss.segment.source.station.city.name AS dep_city,
          ss.segment.source.station.country.code AS dep_country2,
          ss.segment.destination.station.code AS arr_airport,
          ss.segment.destination.station.city.name AS arr_city,
          ss.segment.destination.station.country.code AS arr_country2,
          month(CAST(ss.segment.destination.localTime AS TIMESTAMP)) AS arr_month,
          ss.segment.carrier.code AS carrier_code,
          ss.segment.cabinClass AS cabin_class,
          CAST(ss.segment.duration AS INTEGER) AS duration_s,
          price, is_discounted
        FROM segs),
      avgp AS (
        SELECT arr_airport AS city_code, arr_month AS mon,
          avg(price) AS avg_price
        FROM flat GROUP BY 1, 2),
      joined AS (
        SELECT f.*, a.avg_price
        FROM flat f LEFT JOIN avgp a
          ON f.arr_airport = a.city_code AND f.arr_month = a.mon),
      city AS (
        SELECT unnest(string_split(
            regexp_replace(airport_codes, '[\\[\\]'' ]', '', 'g'), ',')) AS ap,
          final_city_code
        FROM read_json('$FX/city_meta.jsonl')
        WHERE airport_codes IS NOT NULL AND final_city_code IS NOT NULL),
      c23(c2, c3) AS (
        SELECT * FROM (VALUES ('KR','KOR'),('JP','JPN'),('FR','FRA'),('TH','THA')))
      SELECT j.dep_airport, j.dep_city, j.dep_country2, d23.c3 AS dep_country3,
        j.arr_airport, j.arr_city, j.arr_country2, a23.c3 AS arr_country3,
        city.final_city_code AS arr_city_code3,
        j.carrier_code, j.cabin_class, j.duration_s, j.price,
        j.is_discounted, j.arr_month,
        j.avg_price, j.price - j.avg_price AS price_diff,
        round((j.price - j.avg_price)/j.avg_price*100, 2) AS pct_change,
        CASE WHEN j.price - j.avg_price > 0 THEN '상승'
             WHEN j.price - j.avg_price < 0 THEN '하락'
             ELSE '동일' END AS price_state,
        CAST(CASE WHEN j.price - j.avg_price > 0 THEN -1
                  WHEN j.price - j.avg_price < 0 THEN 1
                  ELSE 0 END AS INTEGER) AS score
      FROM joined j
      LEFT JOIN city ON j.arr_airport = city.ap
      LEFT JOIN c23 d23 ON j.dep_country2 = d23.c2
      LEFT JOIN c23 a23 ON j.arr_country2 = a23.c2"""))

  /** README.md:119 — the LEFT-join master-data coverage mode: every one
    * of the 59 master countries survives, including those whose currency
    * never scraped (null rates, null change-percent, score 0.0 — the
    * reference's cannot-compute default, exchage_rate_crawler.py:642).
    * Same monthly-map canonicalization as q37. */
  private val q40 = Q(
    "q40_rates_coverage",
    (s, _) => {
      val gold = graft.ops.Rates.gold(
        graft.sources.Fixtures.ratesRaw(s),
        graft.sources.Fixtures.countryMaster(s),
        joinMode = "left")
      gold
        .select(col("*"), explode_outer(map_entries(col("monthly_avg_rates"))).as("me"))
        .select(
          col("country_code_3"), col("currency_code"),
          col("country_korean_name"), col("country_english_name"),
          col("country_code_2"), col("is_euro_zone"),
          col("realtime_rate"), col("realtime_crawled_at_utc"),
          col("realtime_crawled_at_kst"), col("daily_avg_rate"),
          col("yearly_avg_rate"), col("exchange_rate_change_percent"),
          col("exchange_rate_score"), col("dataType"),
          col("me.key").as("month_key"), col("me.value").as("monthly_rate"))
    },
    Some(s"""
      WITH dim AS (
        SELECT currency_code, country_code_3,
          country_name_kor AS country_korean_name,
          country_name_eng AS country_english_name,
          country_code_2, is_euro_zone
        FROM read_json('$FX/country_master.jsonl', format='newline_delimited',
          columns={"country_code_3":'VARCHAR',"country_name_eng":'VARCHAR',
                   "country_name_kor":'VARCHAR',"country_code_2":'VARCHAR',
                   "currency_code":'VARCHAR',"is_euro_zone":'BOOLEAN',
                   "google_trend_keyword_kor":'VARCHAR'})),
      enr AS (
        SELECT r.*, d.country_code_3
        FROM read_json('$FX/rates_raw.jsonl', format='newline_delimited',
          columns={"currency_code":'VARCHAR',"rate_type":'VARCHAR',
                   "month_key":'VARCHAR',"buy_rate":'DOUBLE',
                   "sell_rate":'DOUBLE',"send_rate":'DOUBLE',
                   "receive_rate":'DOUBLE',"standard_rate":'DOUBLE',
                   "crawled_at_utc":'VARCHAR',"crawled_at_kst":'VARCHAR'}) r
        JOIN dim d USING (currency_code)),
      wide AS (
        SELECT country_code_3,
          max(CASE WHEN rate_type='realtime' THEN standard_rate END) AS realtime_rate,
          max(CASE WHEN rate_type='realtime' THEN crawled_at_utc END) AS realtime_crawled_at_utc,
          max(CASE WHEN rate_type='realtime' THEN crawled_at_kst END) AS realtime_crawled_at_kst,
          max(CASE WHEN rate_type='daily_avg' THEN standard_rate END) AS daily_avg_rate,
          max(CASE WHEN rate_type='yearly_avg' THEN standard_rate END) AS yearly_avg_rate
        FROM enr GROUP BY country_code_3),
      monthly AS (
        SELECT DISTINCT country_code_3, month_key, standard_rate AS monthly_rate
        FROM enr WHERE rate_type='monthly_avg' AND month_key IS NOT NULL),
      pcts AS (
        SELECT w.*,
          CASE WHEN realtime_rate IS NOT NULL AND yearly_avg_rate IS NOT NULL
                    AND yearly_avg_rate > 0
            THEN (realtime_rate - yearly_avg_rate)/yearly_avg_rate*100 END AS pct
        FROM wide w)
      SELECT d.country_code_3, d.currency_code, d.country_korean_name,
        d.country_english_name, d.country_code_2, d.is_euro_zone,
        p.realtime_rate, p.realtime_crawled_at_utc, p.realtime_crawled_at_kst,
        p.daily_avg_rate, p.yearly_avg_rate,
        round(p.pct, 2) AS exchange_rate_change_percent,
        coalesce(round(CASE WHEN p.pct IS NULL THEN 0.0
          ELSE least(100.0, greatest(0.0, (10.0 - p.pct)/20.0*100)) END, 2), 0.0)
          AS exchange_rate_score,
        'exchangeRate' AS dataType,
        m.month_key, m.monthly_rate
      FROM dim d
      LEFT JOIN pcts p USING (country_code_3)
      LEFT JOIN monthly m ON d.country_code_3 = m.country_code_3"""))

  /** Mergeable HLL distinct-count sketch (DistinctSketch) in its
    * oracle-exact sparse regime: sparseLimit 2^21 far exceeds the true
    * cardinalities at verify SFs, so the values equal exact
    * count(DISTINCT) — the q36 capacity>vocab trick — while the plan
    * stays ONE ObjectHashAggregate pass with no Expand (q31's two exact
    * distincts multiply the scanned rows 3x; at 100 TB the sketch form
    * is the one that survives, and its partial states merge across any
    * partitioning). */
  private val q41 = Q(
    "q41_distinct_sketch",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      // The hash-match is only sound while every group stays in the
      // sketch's exact sparse regime. n_rows >= n_distinct per group, so
      // n_rows <= sparseLimit proves it; the guard is woven into the
      // emitted n_orders column (so pruning can't drop it) and raises
      // loudly if a larger verify SF ever crosses the regime instead of
      // silently flipping to estimation and hash-mismatching.
      val sparseLimit = 1 << 21
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          graft.functions.DistinctSketch.hll_distinct(col("l_orderkey"), 14, sparseLimit).as("n_orders"),
          graft.functions.DistinctSketch.hll_distinct(col("l_partkey"), 14, sparseLimit).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .select(
          col("l_returnflag"),
          when(col("n_rows") <= lit(sparseLimit.toLong), col("n_orders"))
            .otherwise(raise_error(concat(
              lit("q41 outside exact sparse regime (n_rows="),
              col("n_rows").cast("string"),
              lit(s" > sparseLimit=$sparseLimit): raise sparseLimit or lower the verify SF"))))
            .as("n_orders"),
          col("n_parts"), col("n_rows"))
    },
    Some("""
      SELECT l_returnflag,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        count(*) AS n_rows
      FROM lineitem GROUP BY 1"""))

  /** S6 under the oracle — the dynamic-key config-object scan
    * (Bronze.readConfigMap): one JSON object keyed by country code,
    * transposed to rows via the map round-trip; the twin reads the
    * flattened JSONL form of the SAME reference config, so a green row
    * proves the transpose emits exactly one correct row per dynamic key
    * (exchage_rate_crawler.py:45-47 config load). */
  private val q42 = Q(
    "q42_config_map",
    (s, _) => {
      val valueSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "country_name_eng string, country_name_kor string, " +
          "country_code_2 string, country_code_3 string, " +
          "currency_code string, is_euro_zone boolean, " +
          "google_trend_keyword_kor string")
      graft.sources.Bronze.readConfigMap(
        s, graft.sources.Fixtures.path("country_config.json"), valueSchema)
        .select(
          col("key"), col("country_code_3"), col("country_name_eng"),
          col("country_name_kor"), col("country_code_2"),
          col("currency_code"), col("is_euro_zone"))
    },
    Some(s"""
      SELECT country_code_3 AS key, country_code_3, country_name_eng,
        country_name_kor, country_code_2, currency_code, is_euro_zone
      FROM read_json('$FX/country_master.jsonl', format='newline_delimited',
        columns={"country_code_3":'VARCHAR',"country_name_eng":'VARCHAR',
                 "country_name_kor":'VARCHAR',"country_code_2":'VARCHAR',
                 "currency_code":'VARCHAR',"is_euro_zone":'BOOLEAN',
                 "google_trend_keyword_kor":'VARCHAR'})"""))

  /** Event-time sessionization SEMANTICS under the oracle — the batch
    * twin of `Events.sessionizeEventTime` (q43 ↔ the MemoryStream specs
    * cover the streaming state machine; this covers the session algebra
    * itself): 1-hour gap over the events table, session spans exported
    * as unix micros for engine-neutral hashing. */
  private val q43 = Q(
    "q43_sessionize_batch",
    (s, d) => {
      val sess = graft.streaming.Events.sessionizeBatch(
        Tables.events(s, d), gapMs = 3600L * 1000L)
      sess.select(
        col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), r2(col("total_value")).as("total_value"))
    },
    Some("""
      WITH l AS (
        SELECT user_id, ts, value, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        FROM events),
      f AS (
        SELECT *, CASE WHEN pts IS NULL
            OR epoch_us(ts) - epoch_us(pts) > 3600000000 THEN 1 ELSE 0 END AS newf
        FROM l),
      g AS (
        SELECT *, CAST(sum(newf) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id,
        epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        count(*) AS n_events,
        floor(sum(value)*100 + 0.5)/100 AS total_value
      FROM g GROUP BY 1, 2"""))

  /** Theta-sketch set operations in the oracle-exact regime — the
    * cross-cohort question HLL cannot answer: per-event_type user
    * sketches built in ONE pass, then distinct/intersection/union user
    * counts for every type pair computed from the SKETCHES alone (no
    * re-read). k=4096 > 150 users ⇒ θ=1 ⇒ every estimate is exact, so
    * DuckDB's true distinct/overlap counts hash-match. */
  private val q44 = Q(
    "q44_theta_cohorts",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      import graft.functions.{ThetaSketch => T}
      val sk = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(T.theta_sketch(col("user_id"), 4096).as("sk"))
      val a = sk.select(col("event_type").as("et_a"), col("sk").as("sk_a"))
      val b = sk.select(col("event_type").as("et_b"), col("sk").as("sk_b"))
      a.join(b, col("et_a") < col("et_b"))
        .select(
          col("et_a"), col("et_b"),
          T.theta_estimate(col("sk_a")).as("n_a"),
          T.theta_estimate(col("sk_b")).as("n_b"),
          T.theta_intersect_estimate(col("sk_a"), col("sk_b")).as("n_both"),
          T.theta_union_estimate(col("sk_a"), col("sk_b")).as("n_either"))
    },
    Some("""
      WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
      c AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
      i AS (SELECT a.event_type AS et_a, b.event_type AS et_b,
              count(*) AS n_both
            FROM d a JOIN d b USING (user_id)
            WHERE a.event_type < b.event_type GROUP BY 1, 2)
      SELECT ca.event_type AS et_a, cb.event_type AS et_b,
        CAST(ca.n AS DOUBLE) AS n_a, CAST(cb.n AS DOUBLE) AS n_b,
        CAST(coalesce(i.n_both, 0) AS DOUBLE) AS n_both,
        CAST(ca.n + cb.n - coalesce(i.n_both, 0) AS DOUBLE) AS n_either
      FROM c ca JOIN c cb ON ca.event_type < cb.event_type
      LEFT JOIN i ON i.et_a = ca.event_type AND i.et_b = cb.event_type"""))

  /** The salting escape hatch under the oracle: q14's exact computation
    * routed through Core.saltedJoin (salt 8) must hash-match the SAME
    * plain-join twin — the salt spreads row placement and leaves the
    * relational result untouched (CoreSpec pins it on a synthetic skewed
    * fact; this pins it against DuckDB on real data). */
  private val q45 = Q(
    "q45_salted_join",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d).withColumnRenamed("p_partkey", "l_partkey")
      val diff = col("l_extendedprice") / col("l_quantity") - col("p_retailprice")
      graft.ops.Core.saltedJoin(li, p, Seq("l_partkey"), salt = 8)
        .withColumn("diff", diff)
        .withColumn("state", F.priceState(col("diff")))
        .withColumn("score", F.priceScore(col("diff")))
        .groupBy(col("state"), col("score"))
        .agg(
          count(lit(1)).as("n"),
          r2(avg(col("diff") / col("p_retailprice") * 100)).as("avg_pct"))
    },
    Some("""
      WITH j AS (
        SELECT l_extendedprice/l_quantity - p_retailprice AS diff, p_retailprice
        FROM lineitem JOIN part ON l_partkey = p_partkey)
      SELECT
        CASE WHEN diff > 0 THEN '상승' WHEN diff < 0 THEN '하락' ELSE '동일' END AS state,
        CAST(CASE WHEN diff > 0 THEN -1 WHEN diff < 0 THEN 1 ELSE 0 END AS INT) AS score,
        count(*) AS n,
        floor(avg(diff/p_retailprice*100)*100 + 0.5)/100 AS avg_pct
      FROM j GROUP BY 1, 2"""))

  /** Dedup CLUSTER RESOLUTION — the stage after candidate pairs that every
    * real dedup pipeline needs: near-dup pairs (q20's prefix-blocked
    * Jaccard edges) → connected components (min-label propagation +
    * pointer jumping, `Text.connectedComponents`) → one row per document
    * with canonical cluster id (component min), cluster size, and keeper
    * flag. The DuckDB twin computes the SAME transitive closure with a
    * recursive CTE, so a green row proves the distributed iterative
    * algorithm reaches the exact fixpoint (including transitive chains
    * a→b→c where a and c never pair directly). */
  private val q46 = Q(
    "q46_dedup_clusters",
    (s, d) => graft.ops.Text.dedupClusters(
      Tables.documents(s, d),
      prefixJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))),
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, substr(text, 1, 30) AS pfx,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents),
      e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
      sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, sym.b FROM reach JOIN sym ON sym.a = reach.r),
      comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
      sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
      SELECT c.doc_id, c.cluster_id, s.cluster_size,
        c.doc_id = c.cluster_id AS is_keeper
      FROM comp c JOIN sizes s USING (cluster_id)"""))

  /** Deterministic stratified downsampling (Corpus.hashSample): keep 50%
    * of the dominant language and 20% of the rest, selected by a pure
    * hash of (doc_id, salt) — the corpus-balancing pass of a training
    * pipeline. The twin recomputes the identical md5-derived uniform in
    * DuckDB, so a green row proves bit-for-bit reproducible sampling
    * (same rows on ANY engine/run — `sample()`/`rand()` cannot do this).
    * One scan, no shuffle. */
  private val q47 = Q(
    "q47_hash_sample",
    (s, d) => {
      import graft.ops.Corpus
      Corpus.hashSample(
        Tables.documents(s, d), col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5), defaultRate = 0.2, salt = "graft-r3")
        .select(col("doc_id"), col("lang"), col("source"),
          r(Corpus.uniformHash(col("doc_id"), "graft-r3"), 6).as("u"))
    },
    Some("""
      WITH u AS (
        SELECT doc_id, lang, source,
          (('0x' || substr(md5(doc_id::VARCHAR || 'graft-r3'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uh
        FROM documents)
      SELECT doc_id, lang, source, floor(uh*1000000 + 0.5)/1000000 AS u
      FROM u
      WHERE uh < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END"""))

  /** Token-budget sequence packing (Corpus.packSequences): documents
    * packed into ~2048-token training bins, independently per shard so
    * no global sort exists at any scale. Checked as per-bin aggregates;
    * the twin mirrors the running-sum bin algebra in DuckDB windows. */
  private val q48 = Q(
    "q48_pack_sequences",
    (s, d) => {
      val packed = graft.ops.Corpus.packSequences(
        Tables.documents(s, d), graft.ops.Text.wsTokenCount(col("text")),
        budget = 2048L, nShards = 4)
      packed.groupBy(col("shard"), col("bin"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, doc_id % 4 AS shard,
          len(string_split(text, ' ')) AS n_tok
        FROM documents),
      c AS (
        SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT shard, CAST(floor((cum - n_tok) / 2048) AS BIGINT) AS bin,
        count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1, 2"""))

  /** Per-label embedding centroids via the native `vec_avg` mergeable
    * aggregate (functions/VectorAgg): ONE pass over the corpus, O(dim)
    * state per group, no posexplode (which would multiply the shuffle by
    * the 64x dimension) and no driver collect. The twin averages
    * element-indexed floats in DuckDB; first 4 components checked,
    * rounded to 1e-6 (partial-aggregation sum order differs from
    * DuckDB's sequential sum by ~1 ulp). */
  private val q49 = Q(
    "q49_embedding_centroids",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val cols = (1 to 4).map(i =>
        r(element_at(col("c"), i), 6).as(s"c$i"))
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(graft.functions.VectorAgg.vec_avg(col("embedding")).as("c"),
          count(lit(1)).as("n"))
        .select(col("label") +: col("n") +: cols: _*)
    },
    Some("""
      SELECT label, count(*) AS n,
        floor(avg(embedding[1])*1000000 + 0.5)/1000000 AS c1,
        floor(avg(embedding[2])*1000000 + 0.5)/1000000 AS c2,
        floor(avg(embedding[3])*1000000 + 0.5)/1000000 AS c3,
        floor(avg(embedding[4])*1000000 + 0.5)/1000000 AS c4
      FROM embeddings GROUP BY 1"""))

  /** Corpus profiling: exact length/token percentiles per language — the
    * distribution pass a curation pipeline runs before choosing filter
    * thresholds. Spark's `percentile` and DuckDB's `quantile_cont` share
    * the linear-interpolation definition over sorted order statistics
    * (no summation-order sensitivity), checked to 1e-6. One shuffle.
    * At 100 TB swap `percentile` for `percentile_approx` (mergeable
    * KLL-style sketch, no per-group sort buffer) — same query shape. */
  private val q50 = Q(
    "q50_profile_percentiles",
    (s, d) => {
      val toks = graft.ops.Text.wsTokenCount(col("text"))
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars"), toks.as("n_tok"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          r(percentile(col("n_chars"), lit(0.5)), 6).as("chars_p50"),
          r(percentile(col("n_chars"), lit(0.9)), 6).as("chars_p90"),
          r(percentile(col("n_chars"), lit(0.99)), 6).as("chars_p99"),
          r(percentile(col("n_tok"), lit(0.5)), 6).as("tok_p50"),
          r(percentile(col("n_tok"), lit(0.9)), 6).as("tok_p90"),
          r2(avg(col("n_tok"))).as("tok_mean"))
    },
    Some("""
      WITH t AS (
        SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tok
        FROM documents)
      SELECT lang, count(*) AS n,
        floor(quantile_cont(n_chars, 0.5)*1000000 + 0.5)/1000000 AS chars_p50,
        floor(quantile_cont(n_chars, 0.9)*1000000 + 0.5)/1000000 AS chars_p90,
        floor(quantile_cont(n_chars, 0.99)*1000000 + 0.5)/1000000 AS chars_p99,
        floor(quantile_cont(n_tok, 0.5)*1000000 + 0.5)/1000000 AS tok_p50,
        floor(quantile_cont(n_tok, 0.9)*1000000 + 0.5)/1000000 AS tok_p90,
        floor(avg(n_tok)*100 + 0.5)/100 AS tok_mean
      FROM t GROUP BY 1"""))

  /** Range (interval) join under the oracle — `Core.rangeJoin`'s bucketed
    * equi-join rewrite vs DuckDB's direct inequality join. Intervals are
    * 25 deterministic per-nation 45-day "promo windows" derived from the
    * same tables in both engines (min order day + nationkey*97), NOT
    * aligned to the 30-day bucket width, so every interval spans 2–3
    * buckets and the residual filter does real work at both edges. The
    * Spark plan is a hash equi-join on the bucket key (broadcast-eligible
    * exploded-interval side) — never BroadcastNestedLoopJoin. */
  private val q51 = Q(
    "q51_range_join",
    (s, d) => {
      val day0 = Tables.orders(s, d)
        .agg(min(datediff(col("o_orderdate"), lit("1970-01-01"))).cast("long").as("d0"))
      val iv = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))
        .crossJoin(broadcast(day0)) // 1-row scalar, same pattern as Trends anchors
        .select(
          col("n_nationkey"), col("n_name"),
          (col("d0") + col("n_nationkey") * 97).as("w_start"),
          (col("d0") + col("n_nationkey") * 97 + 45).as("w_end"))
      val facts = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_totalprice"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("o_day"))
      Core.rangeJoin(facts, iv, "o_day", "w_start", "w_end", bucketWidth = 30L)
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("sum_price"))
    },
    Some("""
      WITH b AS (
        SELECT min(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)) AS d0
        FROM orders),
      iv AS (
        SELECT n_nationkey, n_name,
          d0 + n_nationkey*97 AS w_start, d0 + n_nationkey*97 + 45 AS w_end
        FROM nation, b)
      SELECT iv.n_nationkey, iv.n_name,
        count(*) AS n_orders,
        floor(sum(o.o_totalprice)*100 + 0.5)/100 AS sum_price
      FROM orders o JOIN iv
        ON date_diff('day', TIMESTAMP '1970-01-01', o.o_orderdate) >= iv.w_start
       AND date_diff('day', TIMESTAMP '1970-01-01', o.o_orderdate) < iv.w_end
      GROUP BY 1, 2"""))

  /** PII redaction under the oracle: the corpus is PII-free, so both
    * engines synthesize the SAME contact string from (doc_id, n_chars) and
    * redact it — URL, then email, then phone — with the Java∩RE2 patterns
    * shared verbatim from `Text` (the q26 BPE-pattern trick). Pure
    * map-side codegen'd string work; zero shuffles at any scale. */
  private val q52 = Q(
    "q52_redact_pii",
    (s, d) => {
      val contact = concat(
        lit("doc "), col("doc_id").cast("string"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +82-10-"), col("doc_id").cast("string"),
        lit("-"), col("n_chars").cast("string"),
        lit(" see https://ex.invalid/d/"), col("doc_id").cast("string"),
        lit(" end"))
      Tables.documents(s, d)
        .select(col("doc_id"), graft.ops.Text.redactPii(contact).as("redacted"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
          'doc ' || doc_id || ' contact user' || doc_id ||
          '@example.com or +82-10-' || doc_id || '-' || n_chars ||
          ' see https://ex.invalid/d/' || doc_id || ' end' AS contact
        FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(contact,
          '${graft.ops.Text.UrlPattern}', '<URL>', 'g'),
          '${graft.ops.Text.EmailPattern}', '<EMAIL>', 'g'),
          '${graft.ops.Text.PhonePattern}', '<PHONE>', 'g') AS redacted
      FROM t"""))

  /** Gopher-style repetition quality filters under the oracle: duplicate
    * word-3-gram fraction + top-token concentration, both read off one
    * `token_stats(text, 3)` struct per row (`functions/TokenStats`): one
    * `documents` scan and projection (`Text.tokenStats`), no exchange.
    * Documents without a token are dropped, as the twin's token join drops
    * them; `doc_id` is a key. The keep-flag thresholds are applied to
    * bit-exact single-division doubles, so the boolean is engine-stable. */
  private val q53 = Q(
    "q53_repetition",
    (s, d) => {
      graft.ops.Text.tokenStats(Tables.documents(s, d), 3)
        .select(
          col("doc_id"),
          graft.ops.Text.dupNgramFraction(col("st")).as("dup_frac"),
          (col("st.top_count").cast("double") / col("st.n_tokens")).as("top_tok_frac"),
          col("st.n_tokens").as("n_toks"))
        .select(
          col("doc_id"),
          r(col("dup_frac"), 6).as("dup_ngram_frac"),
          r(col("top_tok_frac"), 6).as("top_tok_frac"),
          col("n_toks"),
          (col("dup_frac") <= 0.05 && col("top_tok_frac") <= 0.125).as("gopher_ok"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
          list_transform(generate_series(1, len(toks) - 2),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS grams
        FROM t),
      d AS (
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
        FROM cnt GROUP BY 1)
      SELECT d.doc_id,
        floor(dup_frac*1000000 + 0.5)/1000000 AS dup_ngram_frac,
        floor(top_tok_frac*1000000 + 0.5)/1000000 AS top_tok_frac,
        n_toks,
        (dup_frac <= 0.05 AND top_tok_frac <= 0.125) AS gopher_ok
      FROM d JOIN top USING (doc_id)"""))

  /** Incremental snapshot dedup under the oracle (`Text.incrementalDedup`):
    * even doc_ids play the prior corpus, odd ones the fresh crawl; content
    * is the 15-char text prefix (470 distinct across 500 docs, 16
    * cross-snapshot collisions — real within-batch AND cross-snapshot
    * drops). Spark keys both steps on xxhash64 fingerprints (the scale
    * path); the twin anti-joins on raw content — equal up to 64-bit
    * collisions. One window shuffle + one fingerprint anti-join. */
  private val q54 = Q(
    "q54_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(
        col("doc_id"), col("source"), substring(col("text"), 1, 15).as("content"))
      val prior = docs.filter(col("doc_id") % 2 === 0)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      graft.ops.Text.incrementalDedup(incoming, prior, "content")
        .select(col("doc_id"), col("source"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source, substr(text, 1, 15) AS content FROM documents),
      inc AS (
        SELECT doc_id, source, content,
          row_number() OVER (PARTITION BY content ORDER BY doc_id) AS rn
        FROM d WHERE doc_id % 2 = 1)
      SELECT doc_id, source FROM inc
      WHERE rn = 1 AND NOT EXISTS (
        SELECT 1 FROM d p WHERE p.doc_id % 2 = 0 AND p.content = inc.content)"""))

  /** Shared DuckDB CTE: (doc_id, pos, gram) 8-token spans over the
    * documents table — interpolated verbatim into the q55/q56/q58 twins
    * so the three span derivations stay definitionally identical. */
  private val GramCte8 = """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, i AS pos,
          array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
        FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i))"""

  /** Cross-doc repeated 8-token spans under the oracle
    * (`Text.repeatedSpans`, the Lee et al. exact-substring-dedup
    * primitive). Spark groups on xxhash64 span hashes (the scale path);
    * the twin groups on the literal span string — equal up to 64-bit
    * collisions. Output is position-level (doc_id, pos, n_docs), so the
    * hash never appears in the compared result. */
  private val q55 = Q(
    "q55_repeated_spans",
    (s, d) => graft.ops.Text.repeatedSpans(
      Tables.documents(s, d), n = 8, minDocs = 2),
    Some(s"""$GramCte8,
      rep AS (
        SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
      SELECT g.doc_id, CAST(g.pos AS INTEGER) AS pos, rep.n_docs
      FROM g JOIN rep USING (gram)"""))

  /** The Lee et al. removal step under the oracle: q55's flagged spans
    * merged into per-doc cut intervals (`Text.spanCutList` — the
    * sessionization algebra over token positions). The twin repeats the
    * span derivation and runs the identical lag/cumsum window SQL. */
  private val q56 = Q(
    "q56_span_cutlist",
    (s, d) => graft.ops.Text.spanCutList(
      graft.ops.Text.repeatedSpans(Tables.documents(s, d), n = 8, minDocs = 2)
        .select(col("doc_id"), col("pos")),
      n = 8),
    Some(s"""$GramCte8,
      rep AS (
        SELECT gram FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      hits AS (
        SELECT g.doc_id, CAST(g.pos AS INTEGER) AS pos FROM g JOIN rep USING (gram)),
      flagged AS (
        SELECT doc_id, pos,
          lag(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_end
        FROM hits),
      ids AS (
        SELECT doc_id, pos,
          sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cut_id
        FROM flagged)
      SELECT doc_id, CAST(cut_id AS BIGINT) AS cut_id,
        min(pos) AS cut_start, max(pos) + 8 AS cut_end,
        count(*) AS n_spans
      FROM ids GROUP BY 1, 2"""))

  /** TF-IDF keyword extraction under the oracle: term frequency and
    * document frequency as two keyed aggregates, idf from a broadcast
    * 1-row corpus count, top-3 terms per doc by the ROUNDED score (both
    * engines rank the same r6 values, so last-ulp ln() differences cannot
    * flip ranks) with a token tiebreak. Shapes: tok-explode shuffles
    * once on (doc_id, tok); df reuses its output; the final top-k is the
    * q08 window form. */
  private val q57 = Q(
    "q57_tfidf",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(graft.ops.Text.tokens(col("text"))).as("tok"))
      // round-13: tf feeds both the df aggregate and the scoring join —
      // each was its own explode+aggregate corpus pass; cut once.
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "tok").crossJoin(broadcast(n))
        .withColumn("tfidf", r(col("tf") * log(col("n").cast("double") / col("df")), 6))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("tfidf"))
      Core.topKPerGroup(scored, Seq("doc_id"),
        Seq(col("tfidf").desc, col("tok").asc), 3)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.tok, CAST(tf.tf AS BIGINT) AS tf,
          CAST(df.df AS BIGINT) AS df,
          floor(tf.tf * ln(n.n::DOUBLE / df.df) * 1000000 + 0.5)/1000000 AS tfidf
        FROM tf JOIN df USING (tok), n),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
        FROM scored)
      SELECT doc_id, tok, tf, df, tfidf FROM ranked WHERE rn <= 3"""))

  /** Benchmark-contamination detection under the oracle
    * (`Text.crossCorpusContamination`): odd docs play the training
    * corpus, even docs the benchmark; 8-token span overlap per train doc
    * as count + fraction. Spark semi-joins on span hashes against the
    * DISTINCT reference span set; the twin uses the literal span
    * strings. */
  private val q58 = Q(
    "q58_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Text.crossCorpusContamination(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), n = 8)
        .select(col("doc_id"), col("n_spans"), col("n_contaminated"),
          r(col("contaminated_frac"), 6).as("contaminated_frac"))
    },
    Some(s"""$GramCte8,
      a AS (SELECT * FROM g WHERE doc_id % 2 = 1),
      refg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM a GROUP BY 1),
      hit AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cont FROM a
        WHERE gram IN (SELECT gram FROM refg) GROUP BY 1)
      SELECT per.doc_id, per.n_spans,
        coalesce(hit.n_cont, 0) AS n_contaminated,
        floor(coalesce(hit.n_cont, 0)::DOUBLE / per.n_spans * 1000000 + 0.5)/1000000
          AS contaminated_frac
      FROM per LEFT JOIN hit USING (doc_id)"""))

  /** Deterministic split assignment under the oracle
    * (`Corpus.assignSplit`): 80/10/10 train/val/test from the same
    * md5-derived uniform both engines compute bit-identically; the twin
    * repeats the cumulative-bound CASE. Adding rows never reassigns
    * existing keys — the reproducibility contract `randomSplit` lacks. */
  private val q59 = Q(
    "q59_split_assign",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.ops.Corpus.assignSplit(
          col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "graft-split").as("split")),
    Some("""
      WITH u AS (
        SELECT doc_id, lang,
          (('0x' || substr(md5(doc_id::VARCHAR || 'graft-split'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uh
        FROM documents)
      SELECT doc_id, lang,
        -- bounds ACCUMULATED exactly as the Spark side's scanLeft does
        -- (0.8 + 0.1 != 0.9 in IEEE doubles; a literal 0.9 would disagree
        -- on rows landing inside the 1-ulp gap)
        CASE WHEN uh < 0.8 THEN 'train'
             WHEN uh < 0.8 + 0.1 THEN 'val'
             ELSE 'test' END AS split
      FROM u"""))

  /** The stream-stream interval join's SEMANTICS under the oracle
    * (q60 ↔ the MemoryStream spec covers the streaming state machine,
    * exactly the q43/sessionize split): `Events.intervalJoinStreams` run
    * in batch mode — watermarks are eliminated on batch frames, leaving
    * the pure two-sided time-bound join — pairing clicks with same-user
    * purchases within ±6 h. Delta exported as µs for engine-neutral
    * hashing (events.ts nanos truncate to µs identically both sides). */
  private val q60 = Q(
    "q60_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.Events.intervalJoinStreams(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        key = "user_id", before = "6 hours", after = "6 hours")
        .select(
          col("event_id").as("click_id"),
          col("r_event_id").as("purchase_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts"))).as("delta_us"))
    },
    Some("""
      SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'click' AND b.event_type = 'purchase'
       AND b.ts >= a.ts - INTERVAL 6 HOUR
       AND b.ts <= a.ts + INTERVAL 6 HOUR"""))

  /** Bloom semi-join reduction under the oracle (`Core.bloomReducedJoin`):
    * lineitem pre-filtered by a broadcast Bloom of urgent-order keys
    * before the join shuffle. The twin is the PLAIN join — a hash match
    * PROVES the reduction is result-invisible (no false negatives; false
    * positives die in the exact join), which is the operator's whole
    * contract. */
  private val q61 = Q(
    "q61_bloom_reduced_join",
    (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Core.bloomReducedJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
        urgent, "l_orderkey", numBits = 1 << 18)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("sum_qty"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n,
        floor(sum(l_quantity)*100 + 0.5)/100 AS sum_qty
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
      GROUP BY 1"""))

  /** Weighted sampling under the oracle (`Corpus.weightedSampleKey`,
    * Efraimidis–Spirakis): top-50 documents by u^(1/n_chars). BOTH
    * engines rank the r6-ROUNDED key with a doc_id tiebreak — pow isn't
    * correctly rounded, so ranking raw keys could let a last-ulp
    * difference swap the 50th row. The top-k itself is the q09
    * TakeOrderedAndProject shape. */
  private val q62 = Q(
    "q62_weighted_sample",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        r(graft.ops.Corpus.weightedSampleKey(
          col("doc_id"), col("n_chars"), "graft-ws"), 6).as("wk"))
      .orderBy(col("wk").desc, col("doc_id").asc)
      .limit(50),
    Some("""
      WITH u AS (
        SELECT doc_id, n_chars,
          (('0x' || substr(md5(doc_id::VARCHAR || 'graft-ws'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uh
        FROM documents)
      SELECT doc_id, n_chars,
        floor(pow(uh, 1.0/n_chars)*1000000 + 0.5)/1000000 AS wk
      FROM u
      ORDER BY wk DESC, doc_id ASC
      LIMIT 50"""))

  /** Temperature-balanced mixing under the oracle
    * (`Corpus.temperatureSample`): per-lang keep rate sqrt(n_min/n_l)
    * (exact division + correctly-rounded sqrt = bit-identical rates both
    * engines) applied via the md5 uniform — en (218 docs) is downsampled
    * ~1.8x toward fr (64), the others barely. A hash-match proves the
    * whole data-derived-rates → deterministic-filter composition. */
  private val q63 = Q(
    "q63_temperature_sample",
    (s, d) => graft.ops.Corpus.temperatureSample(
      Tables.documents(s, d), "lang", col("doc_id"), "graft-temp")
      .select(col("doc_id"), col("lang"), r(col("sample_rate"), 6).as("rate")),
    Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      m AS (SELECT min(n) AS nmin FROM c),
      rates AS (SELECT lang, sqrt(nmin::DOUBLE / n) AS sample_rate FROM c, m),
      u AS (
        SELECT doc_id, lang,
          (('0x' || substr(md5(doc_id::VARCHAR || 'graft-temp'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uh
        FROM documents)
      SELECT u.doc_id, u.lang,
        floor(sample_rate*1000000 + 0.5)/1000000 AS rate
      FROM u JOIN rates USING (lang)
      WHERE uh < sample_rate"""))

  /** Exactly-k-per-stratum sampling under the oracle
    * (`Corpus.sampleKPerGroup`): 20 docs per language ranked by the
    * bit-identical md5 uniform with a doc_id tiebreak — the q08 window
    * top-k shape driven by the q47 deterministic hash. */
  private val q64 = Q(
    "q64_sample_k_per_group",
    (s, d) => graft.ops.Corpus.sampleKPerGroup(
      Tables.documents(s, d).select(col("doc_id"), col("lang")),
      Seq("lang"), col("doc_id"), k = 20, salt = "graft-k"),
    Some("""
      WITH u AS (
        SELECT doc_id, lang,
          (('0x' || substr(md5(doc_id::VARCHAR || 'graft-k'), 1, 15))::BIGINT)::DOUBLE
            / 1152921504606846976 AS uh
        FROM documents),
      r AS (
        SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang ORDER BY uh ASC, doc_id ASC) AS rn
        FROM u)
      SELECT doc_id, lang FROM r WHERE rn <= 20"""))

  /** KLL quantile sketch under the oracle (`functions/QuantileSketch`):
    * per-source n_chars percentiles via `kll_agg` → `kll_quantile`. The
    * sketch is exact while a group stays ≤ k rows (no compaction ever
    * fires), and its quantile rule is the LOWER quantile — smallest value
    * with cumulative weight ≥ max(1, ceil(q·N)) — which the twin computes
    * directly as a window rank selection, sidestepping engine-specific
    * `quantile_disc` interpolation conventions. Guard woven into p25 the
    * q41 way: a verify SF past the exact regime raises instead of
    * silently estimating and hash-mismatching. */
  private val q65 = Q(
    "q65_quantile_sketch",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val k = 1 << 16
      import graft.functions.QuantileSketch.{kll_agg, kll_n, kll_quantile}
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(kll_agg(col("n_chars"), k).as("sk"))
        .select(
          col("source"),
          when(kll_n(col("sk")) <= lit(k.toLong), kll_quantile(col("sk"), 0.25))
            .otherwise(raise_error(concat(
              lit("q65 outside exact sketch regime (n_rows="),
              kll_n(col("sk")).cast("string"),
              lit(s" > k=$k): raise k or lower the verify SF"))))
            .as("p25"),
          kll_quantile(col("sk"), 0.5).as("p50"),
          kll_quantile(col("sk"), 0.75).as("p75"),
          kll_quantile(col("sk"), 0.95).as("p95"),
          kll_n(col("sk")).as("n_rows"))
    },
    Some("""
      WITH ranked AS (
        SELECT source, n_chars,
          row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
          count(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT source,
        CAST(max(CASE WHEN rn = greatest(1, CAST(ceil(0.25*n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p25,
        CAST(max(CASE WHEN rn = greatest(1, CAST(ceil(0.5*n)  AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p50,
        CAST(max(CASE WHEN rn = greatest(1, CAST(ceil(0.75*n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p75,
        CAST(max(CASE WHEN rn = greatest(1, CAST(ceil(0.95*n) AS BIGINT)) THEN n_chars END) AS DOUBLE) AS p95,
        max(n) AS n_rows
      FROM ranked GROUP BY source"""))

  /** The Lee et al. pipeline CLOSED under the oracle: q55's flagged spans
    * → q56's merged cut intervals → `Text.applyCutList` rewrites the
    * corpus with every repeated 8-token span deleted. The twin re-derives
    * the cut list (q56's SQL) and applies it with the same
    * token-interval anti-join + ordered string_agg reassembly, so a green
    * row proves the REWRITTEN TEXT BYTES match across engines — the
    * strongest possible check on the whole dedup chain. */
  private val q66 = Q(
    "q66_apply_cutlist",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Text.applyCutList(
        docs,
        graft.ops.Text.spanCutList(
          graft.ops.Text.repeatedSpans(docs, n = 8, minDocs = 2)
            .select(col("doc_id"), col("pos")),
          n = 8))
    },
    Some(s"""$GramCte8,
      rep AS (
        SELECT gram FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      hits AS (
        SELECT g.doc_id, CAST(g.pos AS INTEGER) AS pos FROM g JOIN rep USING (gram)),
      flagged AS (
        SELECT doc_id, pos,
          lag(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_end
        FROM hits),
      ids AS (
        SELECT doc_id, pos,
          sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cut_id
        FROM flagged),
      cuts AS (
        SELECT doc_id, min(pos) AS cut_start, max(pos) + 8 AS cut_end
        FROM ids GROUP BY doc_id, cut_id),
      tok AS (
        SELECT doc_id, i AS pos, toks[i] AS token
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      kept AS (
        SELECT tok.doc_id, tok.pos, tok.token
        FROM tok LEFT JOIN cuts c
          ON tok.doc_id = c.doc_id
          AND tok.pos >= c.cut_start AND tok.pos < c.cut_end
        WHERE c.doc_id IS NULL)
      SELECT doc_id,
        string_agg(token, ' ' ORDER BY pos) AS clean_text,
        count(*) AS n_tokens_kept
      FROM kept GROUP BY doc_id"""))

  /** Interpolated Kneser–Ney bigram LM — the CCNet-grade upgrade of
    * q69's add-one model, and the actual filter shape production
    * curation uses (train a small LM on trusted sources, score the
    * rest, keep the low-perplexity tail). KN's two ideas, both exact
    * count arithmetic: absolute discounting (max(c₁₂ − D, 0)/c₁ with
    * D = 0.75) and the CONTINUATION probability (how many distinct left
    * contexts a word follows — "francisco" is frequent but only ever
    * follows "san") as the back-off mass. Train on the md5-even source
    * cohort, score the odd cohort's docs. The model is four hash
    * aggregates over train pairs (c₂, per-context c₁+N1+(w₁,·),
    * per-word N1+(·,w₂), and the 1-row distinct-bigram total); scoring
    * is three LEFT equi-joins on token keys + one 1-row broadcast —
    * shuffle-partitioned by vocabulary, never by corpus position, the
    * LM-serving shape at any scale. Per-pair probabilities are the same
    * IEEE expression over exact BIGINTs both engines, floored at 1e-9
    * (unseen continuation), and log-probs micro-round BEFORE the
    * per-doc sum (q69's discipline) so doc scores are exact integer
    * sums. */
  private val q223 = Q(
    "q223_kneser_ney_lm",
    (s, d) => {
      val train = conv(substring(md5(concat(col("source"),
        lit("graft-kn"))), 1, 15), 16, 10).cast("long") % 2 === 0L
      val toks = filter(split(col("text"), " "), x => x =!= "")
      val m = size(col("toks")) - 1
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), train.as("train"), toks.as("toks"))
        .select(col("doc_id"), col("train"),
          explode(when(size(col("toks")) >= 2,
            zip_with(slice(col("toks"), lit(1), m),
              slice(col("toks"), lit(2), m),
              (a, b) => struct(a.as("w1"), b.as("w2"))))
            .otherwise(array())).as("pr"))
        .select(col("doc_id"), col("train"),
          col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      // round-13: c1/rev/tot and the scoring join each re-derived c2
      // (pruning-forked corpus passes). Cut the vocab-sized model once
      // per invocation; corpus explodes drop 5 -> 2.
      val c2 = pairs.filter(col("train"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .localCheckpoint(true)
      val c1 = c2.groupBy(col("w1"))
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
      val rev = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
      val tot = c2.agg(count(lit(1)).as("nbig"))
      // greatest: an empty train cohort gives nbig = 0 and this division
      // is evaluated on every scored pair, not inside a guard — under
      // ANSI a hoisted x/0 kills the query (q222's gap-fixture lesson);
      // with nbig = 0 every pc is 0 and the 1e-9 floor takes over
      val pc = coalesce(col("n1r"), lit(0L)).cast("double") /
        greatest(col("nbig"), lit(1L)).cast("double")
      val p = when(col("c1").isNull, pc).otherwise(
        (greatest(coalesce(col("c2"), lit(0L)).cast("double") - 0.75,
          lit(0.0)) + lit(0.75) * col("n1f").cast("double") * pc) /
          col("c1").cast("double"))
      pairs.filter(!col("train"))
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .join(rev, Seq("w2"), "left")
        .join(broadcast(tot))
        .select(col("doc_id"),
          floor(log(greatest(p, lit(1e-9))) * 1000000 + 0.5).cast("long")
            .as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("lp")).as("sum_lp"))
        .select(col("doc_id"), col("n_pairs"), col("sum_lp"),
          floor(col("sum_lp").cast("double") / col("n_pairs").cast("double")
            + 0.5).cast("long").as("mean_lp_micro"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
          ('0x' || substr(md5(source || 'graft-kn'), 1, 15))::BIGINT % 2 = 0
            AS train,
          list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      tok AS (
        SELECT doc_id, train, unnest(toks) AS w,
          generate_subscripts(toks, 1) AS pos
        FROM t),
      pr AS (
        SELECT doc_id, train,
          lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
        FROM tok),
      pairs AS (SELECT doc_id, train, w1, w2 FROM pr WHERE w1 IS NOT NULL),
      c2 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        FROM pairs WHERE train GROUP BY 1, 2),
      c1 AS (
        SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
          CAST(count(*) AS BIGINT) AS n1f
        FROM c2 GROUP BY 1),
      rev AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM c2 GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS nbig FROM c2),
      scored AS (
        SELECT p.doc_id,
          CAST(floor(ln(greatest(
            CASE WHEN c1.c1 IS NULL
              THEN coalesce(rev.n1r, 0)::DOUBLE / greatest(tot.nbig, 1)::DOUBLE
              ELSE (greatest(coalesce(c2.c2, 0)::DOUBLE - 0.75, 0.0)
                + 0.75 * c1.n1f::DOUBLE
                  * (coalesce(rev.n1r, 0)::DOUBLE / greatest(tot.nbig, 1)::DOUBLE))
                / c1.c1::DOUBLE END,
            1e-9)) * 1000000 + 0.5) AS BIGINT) AS lp
        FROM pairs p
        LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
        LEFT JOIN c1 ON p.w1 = c1.w1
        LEFT JOIN rev ON p.w2 = rev.w2
        CROSS JOIN tot
        WHERE NOT p.train)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(lp) AS BIGINT) AS sum_lp,
        CAST(floor(CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
          + 0.5) AS BIGINT) AS mean_lp_micro
      FROM scored GROUP BY 1"""))

  private[queries] val all: Seq[Q] = Seq(
    q37, q38, q39, q40, q41, q42, q43, q44,
    q45, q46, q47, q48, q49, q50, q51, q52,
    q53, q54, q55, q56, q57, q58, q59, q60,
    q61, q62, q63, q64, q65, q66, q223)
}
