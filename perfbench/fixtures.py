"""Seeded fixture generator (DuckDB).

Writes the sf0.1-shaped tables of FIXTURES.md (TPC-H-ish star schema,
`events`, `documents`) as one parquet file per table. Every value is a
pure function of (seed, row id), so the same seed writes the same rows;
`copies` ({"events": k}) writes the seeded ×k scale-up of `events`.
"""
import os

import duckdb

ORDERS, CUSTOMERS, PARTS, SUPPLIERS = 150000, 15000, 20000, 1000
EVENTS, DOCUMENTS, USERS = 100000, 5000, 1500
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _sql(seed, copies):
    """SELECTs for every table; `copies` maps a table to its scale-up."""
    def h(m, *parts):
        return f"(hash({seed}, {', '.join(parts)}) % {m})::BIGINT"

    def u(*parts):
        return f"({h(1000000007, *parts)} / 1000000007.0)"

    def pick(values, idx):
        return "[" + ", ".join(f"'{v}'" for v in values) + f"][{idx} + 1]"

    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    span_us = 30 * 24 * 3600 * 1000000 // EVENTS
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    return {
        "region": f"""SELECT range::INT AS r_regionkey,
            {pick(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'], 'range')} AS r_name
            FROM range(5)""",
        "nation": """SELECT range::INT AS n_nationkey, 'NATION_' || range AS n_name,
            (range % 5)::INT AS n_regionkey FROM range(25)""",
        "customer": f"""SELECT range AS c_custkey, 'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name,
            {h(25, 'range', "'c1'")}::INT AS c_nationkey,
            round(-1000.0 + {u('range', "'c2'")} * 11000.0, 2) AS c_acctbal,
            {pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], h(5, 'range', "'c3'"))} AS c_mktsegment
            FROM range({CUSTOMERS})""",
        "supplier": f"""SELECT range AS s_suppkey, 'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name,
            {h(25, 'range', "'s1'")}::INT AS s_nationkey,
            round(-1000.0 + {u('range', "'s2'")} * 11000.0, 2) AS s_acctbal
            FROM range({SUPPLIERS})""",
        "part": f"""SELECT range AS p_partkey,
            {pick(adj, h(len(adj), 'range', "'p1'"))} || ' ' || {pick(noun, h(len(noun), 'range', "'p2'"))} AS p_name,
            'Brand#' || ({h(25, 'range', "'p3'")} + 1) AS p_brand,
            {pick(['LARGE', 'ECONOMY', 'SMALL', 'STANDARD', 'MEDIUM', 'PROMO'], h(6, 'range', "'p4'"))} AS p_type,
            ({h(50, 'range', "'p5'")} + 1)::INT AS p_size,
            900.0 + (range % 1000) / 10.0 AS p_retailprice
            FROM range({PARTS})""",
        "orders": f"""SELECT range AS o_orderkey, {h(CUSTOMERS, 'range', "'o1'")}::BIGINT AS o_custkey,
            {pick(['F', 'O', 'P'], h(3, 'range', "'o2'"))} AS o_orderstatus,
            round(1000.0 + {u('range', "'o3'")} * 499000.0, 2) AS o_totalprice,
            (DATE '1995-01-01' + {h(2404, 'range', "'o4'")}::INT)::TIMESTAMP AS o_orderdate,
            {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], h(5, 'range', "'o5'"))} AS o_orderpriority
            FROM range({ORDERS})""",
        "lineitem": f"""WITH o AS (SELECT o.range AS ok, l.range AS ln FROM range({ORDERS}) o, range(1, 8) l
                              WHERE l.range <= {h(7, 'o.range', "'l'")} + 1),
            r AS (SELECT ok, ln, hash({seed}, ok, ln, 'l1') AS x, hash({seed}, ok, ln, 'l2') AS y FROM o)
            SELECT ok AS l_orderkey, (x % {PARTS})::BIGINT AS l_partkey,
            ((x >> 20) % {SUPPLIERS})::BIGINT AS l_suppkey, ln::INT AS l_linenumber,
            ((x >> 30) % 50 + 1)::DOUBLE AS l_quantity,
            round(900.0 + (y % 1000000007) / 1000000007.0 * 104100.0, 2) AS l_extendedprice,
            ((x >> 36) % 11) / 100.0 AS l_discount,
            ((x >> 40) % 9) / 100.0 AS l_tax,
            {pick(['A', 'N', 'R'], '((x >> 44) % 3)::BIGINT')} AS l_returnflag,
            {pick(['F', 'O'], '((x >> 46) % 2)::BIGINT')} AS l_linestatus,
            (DATE '1995-01-02' + ((y >> 32) % 2498)::INT)::TIMESTAMP AS l_shipdate
            FROM r""",
        "events": f"""SELECT c * {EVENTS} + b AS event_id,
            make_timestamp(1704067200000000 + b * {span_us} + {h(span_us, 'b', 'c', "'e1'")}::BIGINT) AS ts,
            c * {USERS} + {h(USERS, 'b', "'e2'")}::BIGINT AS user_id,
            {pick(['click', 'error', 'purchase', 'signup', 'view'], h(5, 'b', 'c', "'e3'"))} AS event_type,
            round({u('b', 'c', "'e4'")} * 560.0, 2) AS value,
            '{{"k": ' || {h(100, 'b', 'c', "'e5'")} || '}}' AS props
            FROM (SELECT range AS b FROM range({EVENTS})), (SELECT range AS c FROM range({copies.get('events', 1)}))""",
        "documents": f"""WITH d AS (
              SELECT range AS b,
                CASE WHEN range % 613 = 612 THEN range - 5 WHEN range % 97 = 96 THEN range - 1
                     ELSE range END AS tid,
                range % 97 = 96 AND range % 613 <> 612 AS near_dup
              FROM range({DOCUMENTS})),
            w AS (
              SELECT b, near_dup,
                string_agg({vocab}[{h(len(VOCAB), 'tid', 'i', "'d2'")} + 1], ' ' ORDER BY i) AS words
              FROM d, (SELECT range AS i FROM range(1, 101))
              WHERE i <= {h(91, 'tid', "'d1'")} + 10
              GROUP BY b, near_dup)
            SELECT b AS doc_id,
              CASE WHEN near_dup THEN words || ' dup' ELSE words END AS text,
              {pick(['de', 'en', 'en', 'en', 'es', 'fr', 'zh'], h(7, 'b', "'d5'"))} AS lang,
              'src' || (b % 20) AS source,
              length(CASE WHEN near_dup THEN words || ' dup' ELSE words END)::BIGINT AS n_chars
            FROM w""",
    }


def generate(seed, out_dir, tables, copies=None, lake_files=0):
    """Write `tables` under `out_dir` as `<table>.parquet`; return row counts.
    With `lake_files`, also write lineitem as that many order-key-clustered
    files under `lake/lineitem/`, for a manifested table to adopt."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    sql = _sql(seed, copies or {})
    rows = {}
    for t in tables:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({sql[t]}) TO '{path}' (FORMAT PARQUET)")
        rows[t] = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    if lake_files:
        lake = os.path.join(out_dir, "lake", "lineitem")
        os.makedirs(lake)
        step = -(-ORDERS // lake_files)
        for k in range(lake_files):
            con.execute(f"""COPY (SELECT * FROM read_parquet('{out_dir}/lineitem.parquet')
                WHERE l_orderkey >= {k * step} AND l_orderkey < {(k + 1) * step}
                ORDER BY l_orderkey, l_linenumber)
                TO '{lake}/part-{k:05d}.parquet' (FORMAT PARQUET)""")
    con.close()
    return rows


def digest(out_dir, tables):
    """Order-independent digest of the written tables."""
    con = duckdb.connect()
    parts = []
    for t in tables:
        n, s = con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) "
                           f"FROM read_parquet('{out_dir}/{t}.parquet') t").fetchone()
        parts.append(f"{t}:{n}:{s}")
    con.close()
    return ",".join(parts)
