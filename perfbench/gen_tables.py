"""Deterministic input tables for the benchmark.

The benchmark may read nothing outside its checkout, so it generates its
tables here instead of reading a fixture directory. The generator mirrors
`tools/make_sf.py` (same schemas, value ranges, key ratios and document
vocabulary; the same splitmix-style hash over row ids, so a rerun writes
identical rows) and keeps its own copy so that a later edit to that tool
cannot silently change the benchmark's inputs. The static dimensions
(region, nation) are written from literals.

At sf 1 the row counts equal `tools/make_sf.py 1`: lineitem 5,993,877,
orders 1,500,000, events 1,000,000.
"""
import os
import shutil

import duckdb

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


# lineitem draws 1..7 lines per order from the row-id hash, so its size is
# known only for the scale factors the benchmark uses.
LINEITEM_ROWS = {0.1: 599_853, 1.0: 5_993_877}


def expected_rows(sf):
    """Row counts the generator must produce at `sf`."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": LINEITEM_ROWS[sf],
        "events": int(1_000_000 * sf), "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def generate(sf, out, rows_per_group):
    """Write the ten tables at scale factor `sf` into `out`; return the row
    count of each table as read back from the files."""
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    n_usr = max(1, int(15_000 * sf))
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute("""
    CREATE MACRO mix(i, salt) AS (
      CAST(hash(CAST(i AS BIGINT) * 2654435761 + salt * 40503) AS UBIGINT)
    );
    CREATE MACRO u01(i, salt) AS (
      (mix(i, salt) % 1000000007) / 1000000007.0
    );
    CREATE MACRO pick(i, salt, n) AS (
      CAST(mix(i, salt) % n AS INTEGER)
    );
    """)
    counts = {}

    def copy(sql, name):
        path = os.path.join(out, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' "
                    f"(FORMAT PARQUET, ROW_GROUP_SIZE {rows_per_group})")
        counts[name] = con.execute(
            f"SELECT count(*) FROM '{path}'").fetchone()[0]

    regions = ", ".join(f"({i}, '{r}')" for i, r in enumerate(REGIONS))
    copy(f"SELECT CAST(k AS INTEGER) AS r_regionkey, name AS r_name "
         f"FROM (VALUES {regions}) v(k, name)", "region")
    copy("SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
         "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)", "nation")

    copy(f"""
    SELECT i AS c_custkey,
      printf('Customer#%09d', i) AS c_name,
      pick(i, 1, 25) AS c_nationkey,
      floor((-1000 + 11000 * u01(i, 2)) * 100 + 0.5) / 100 AS c_acctbal,
      ['AUTOMOBILE','MACHINERY','BUILDING','HOUSEHOLD','FURNITURE']
        [1 + pick(i, 3, 5)] AS c_mktsegment
    FROM range({n_cust}) t(i)""", "customer")

    copy(f"""
    SELECT i AS s_suppkey,
      printf('Supplier#%09d', i) AS s_name,
      pick(i, 4, 25) AS s_nationkey,
      floor((-1000 + 11000 * u01(i, 5)) * 100 + 0.5) / 100 AS s_acctbal
    FROM range({n_supp}) t(i)""", "supplier")

    copy(f"""
    SELECT i AS p_partkey,
      ['large','hot','blue','dark','small','shiny','plain','round']
        [1 + pick(i, 6, 8)] || ' ' ||
      ['ring','bolt','screw','washer','plate','gear','rod','cap']
        [1 + pick(i, 7, 8)] AS p_name,
      'Brand#' || CAST(1 + pick(i, 8, 25) AS VARCHAR) AS p_brand,
      ['LARGE','STANDARD','PROMO','MEDIUM','SMALL','ECONOMY']
        [1 + pick(i, 9, 6)] AS p_type,
      1 + pick(i, 10, 50) AS p_size,
      900.0 + (i % 1000) / 10.0 AS p_retailprice
    FROM range({n_part}) t(i)""", "part")

    copy(f"""
    SELECT i AS o_orderkey,
      CAST(mix(i, 11) % {n_cust} AS BIGINT) AS o_custkey,
      ['F','O','P'][1 + pick(i, 12, 3)] AS o_orderstatus,
      floor((1000 + 499000 * u01(i, 13)) * 100 + 0.5) / 100 AS o_totalprice,
      TIMESTAMP '1995-01-01' + INTERVAL (pick(i, 14, 2404)) DAY AS o_orderdate,
      ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
        [1 + pick(i, 15, 5)] AS o_orderpriority
    FROM range({n_ord}) t(i)""", "orders")

    copy(f"""
    WITH o AS (
      SELECT i AS okey,
        TIMESTAMP '1995-01-01' + INTERVAL (pick(i, 14, 2404)) DAY AS odate,
        1 + pick(i, 16, 7) AS nlines
      FROM range({n_ord}) t(i))
    SELECT o.okey AS l_orderkey,
      CAST(mix(o.okey * 7 + ln, 17) % {n_part} AS BIGINT) AS l_partkey,
      CAST(mix(o.okey * 7 + ln, 18) % {n_supp} AS BIGINT) AS l_suppkey,
      CAST(ln AS INTEGER) AS l_linenumber,
      CAST(1 + pick(o.okey * 7 + ln, 19, 50) AS DOUBLE) AS l_quantity,
      floor((900 + 104100 * u01(o.okey * 7 + ln, 20)) * 100 + 0.5) / 100
        AS l_extendedprice,
      pick(o.okey * 7 + ln, 21, 11) / 100.0 AS l_discount,
      pick(o.okey * 7 + ln, 22, 9) / 100.0 AS l_tax,
      ['A','N','R'][1 + pick(o.okey * 7 + ln, 23, 3)] AS l_returnflag,
      ['O','F'][1 + pick(o.okey * 7 + ln, 24, 2)] AS l_linestatus,
      o.odate + INTERVAL (pick(o.okey * 7 + ln, 25, 95)) DAY AS l_shipdate
    FROM o, LATERAL unnest(range(1, o.nlines + 1)) u(ln)
    ORDER BY l_orderkey, l_linenumber""", "lineitem")

    copy(f"""
    SELECT i AS event_id,
      TIMESTAMP '2024-01-01' +
        INTERVAL (CAST(mix(i, 26) % (30::BIGINT * 86400 * 1000000) AS BIGINT))
        MICROSECOND AS ts,
      CAST(mix(i, 27) % {n_usr} AS BIGINT) AS user_id,
      ['view','click','signup','purchase','error'][1 + pick(i, 28, 5)]
        AS event_type,
      floor(600 * u01(i, 29) * 100 + 0.5) / 100 AS value,
      '{{"k": ' || CAST(pick(i, 30, 100) AS VARCHAR) || '}}' AS props
    FROM range({n_evt}) t(i)
    ORDER BY ts, event_id""", "events")

    doc_text = """array_to_string(
        list_transform(range(8 + pick(seed, 31, 89)), j ->
          CASE WHEN mix(seed * 131 + j, 32) % 1000 = 0 THEN 'dup'
               ELSE v.vocab[1 + CAST(mix(seed * 131 + j, 33) % 30 AS INTEGER)]
          END),
        ' ')"""
    copy(f"""
    WITH v AS (
      SELECT ['spark','window','merge','table','column','vector','stream',
              'value','data','small','join','filter','big','group','hash',
              'customer','sort','order','slow','line','part','fast','the',
              'row','agg','key','query','a','scan','batch'] AS vocab)
    SELECT i AS doc_id,
      {doc_text} AS text,
      ['en','en','en','en','fr','es','zh','de','en','fr']
        [1 + pick(i, 34, 10)] AS lang,
      'src' || CAST(i % 20 AS VARCHAR) AS source,
      CAST(length({doc_text}) AS BIGINT) AS n_chars
    FROM (SELECT i, CASE WHEN mix(i, 35) % 600 = 0 AND i > 0 THEN i - 1
                         ELSE i END AS seed
          FROM range({n_doc}) t(i)), v
    ORDER BY doc_id""", "documents")

    copy(f"""
    WITH raw AS (
      SELECT i,
        list_transform(range(64), j ->
          u01(i * 64 + j, 36) - 0.5) AS x
      FROM range({n_emb}) t(i))
    SELECT i AS vec_id,
      CAST(list_transform(x, v -> v / sqrt(list_dot_product(x, x)))
        AS FLOAT[]) AS embedding,
      pick(i, 37, 10) AS label
    FROM raw
    ORDER BY vec_id""", "embeddings")
    con.close()
    return counts


def land_events(tables_dir, out, warm_out, chunks):
    """Split the events table into `chunks` parquet files in ts order and
    stamp them with increasing modification times. A file stream replays a
    directory in modification-time order, so the replay is an in-order
    producer and the watermark advances batch over batch. The first chunk
    is also copied alone to `warm_out`."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    src = os.path.join(tables_dir, "events.parquet")
    n = con.execute(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    base = 1_600_000_000
    for c in range(chunks):
        lo, hi = n * c // chunks, n * (c + 1) // chunks
        path = os.path.join(out, f"part-{c:05d}.parquet")
        con.execute(f"""COPY (SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
              FROM '{src}') WHERE rn >= {lo} AND rn < {hi}
              ORDER BY ts, event_id)
            TO '{path}' (FORMAT PARQUET)""")
        os.utime(path, (base + c, base + c))
        if c == 0:
            # the warm-up pass replays the first chunk alone
            os.makedirs(warm_out, exist_ok=True)
            first = os.path.join(warm_out, os.path.basename(path))
            shutil.copyfile(path, first)
            os.utime(first, (base, base))
    con.close()
    return n


def independent_counts(tables_dir, landing):
    """Row counts the five pipelines must emit, counted here with DuckDB
    rather than by the engine, as the engine's semantics define them for
    an in-order replay of the files in `landing`, one file per micro-batch
    (no row is late):
    - dedup keeps one row per (user_id, event_id);
    - the upsert target holds one row per user;
    - the interval join pairs each click with every purchase of its user
      0 to 30 minutes later;
    - tumbling counts, in update mode, emits each (hour, event type) window
      once per micro-batch that adds to it;
    - sessionize emits the 1-hour-gap sessions of each user that the
      final watermark (latest ts - 10 minutes) has closed, that is whose
      last event is at least the gap before it. Open sessions stay in
      state.
    """
    con = duckdb.connect()
    src = os.path.join(tables_dir, "events.parquet")
    pairs, users = con.execute(
        f"SELECT count(DISTINCT (user_id, event_id)), count(DISTINCT user_id) "
        f"FROM '{src}'").fetchone()
    joined = con.execute(f"""
        SELECT count(*) FROM '{src}' c JOIN '{src}' p
          ON c.user_id = p.user_id
         AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'""").fetchone()[0]
    closed = con.execute(f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
                 THEN 1 ELSE 0 END AS new_session
          FROM '{src}' WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id
            ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session
          FROM flagged),
        sessions AS (SELECT max(ts) AS last_ts FROM numbered GROUP BY user_id, session)
        SELECT count(*) FROM sessions
        WHERE last_ts + INTERVAL 1 HOUR
              <= (SELECT max(ts) FROM '{src}') - INTERVAL 10 MINUTE""").fetchone()[0]
    windows = con.execute(f"""
        SELECT sum(n) FROM (
          SELECT count(DISTINCT (date_trunc('hour', ts), event_type)) AS n
          FROM read_parquet('{landing}/*.parquet', filename = true)
          GROUP BY filename)""").fetchone()[0]
    con.close()
    return {"dedup_deliveries": pairs, "upsert_sink": users, "interval_join": joined,
            "sessionize_event_time": closed, "tumbling_counts": windows}
