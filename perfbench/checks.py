"""Correctness checks, run after the timed window against an independent
DuckDB evaluation of the same generated inputs.

- cube_api: every distinct request's rows equal its SQL over the parquet
  fixtures; where a request ran on both the traced and the untraced path,
  the two answers are identical.
- lakehouse_rw: the final table and two sampled `readVersion` epochs equal
  a model replayed from the executed op log; every point and pruned read
  returned the row count and quantity sum of the model at that op.
- batch_scaleup: each query's output equals its registry oracle SQL run by
  DuckDB on the scaled inputs.

A mismatch marks every operation it covers as failed.
"""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb

# q51's registry oracle scores all n² document pairs, which does not finish
# on the scaled corpus in a run's time. This form returns the same rows:
# a pair with Jaccard >= 0.8 shares at least one shingle, so only pairs
# that share one are scored, and |A ∩ B| / |A ∪ B| is computed from the
# shared-shingle count with the same integer operands.
Q51_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (SELECT doc_id,
  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS ss
  FROM t WHERE len(w) >= 3),
inv AS (SELECT doc_id, unnest(ss) AS s, len(ss) AS n FROM sh),
pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
  any_value(a.n) AS na, any_value(b.n) AS nb
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id, round(inter::DOUBLE / (na + nb - inter), 6) AS jaccard
FROM pairs WHERE inter::DOUBLE / (na + nb - inter) >= 0.8
ORDER BY a_id ASC, b_id ASC
"""
ORACLE_OVERRIDES = {"q51_minhash_pairs": Q51_SQL}


def connect(fixture_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute("SET TimeZone = 'UTC'")
    for p in glob.glob(os.path.join(fixture_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ------------------------------------------------------------ canonical rows

def _value(v):
    """A JSON-comparable form of a DuckDB or JVM value."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int,)):
        return float(v)
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return json.dumps([_value(x) for x in v], sort_keys=True)
    if isinstance(v, dict):
        return json.dumps({k: _value(x) for k, x in v.items()}, sort_keys=True)
    return str(v)


def _sort_key(row):
    return tuple((0, "") if v is None else
                 (1, f"{v:.4g}") if isinstance(v, float) else (2, str(v)) for v in row)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(got, want):
    """Multiset equality of rows, floats within a relative 1e-6."""
    if len(got) != len(want):
        return False
    g = sorted(([_value(v) for v in r] for r in got), key=_sort_key)
    w = sorted(([_value(v) for v in r] for r in want), key=_sort_key)
    return all(len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
               for a, b in zip(g, w))


# ------------------------------------------------------------ per workload

def check_cube_api(res, work, fx):
    data = json.load(open(os.path.join(work, "answers.json")))
    con = connect(fx)
    bad, lines = set(), []
    by_rid = {}
    for a in data["answers"]:
        by_rid.setdefault(a["rid"], []).append(a)
    for req in data["requests"]:
        cur = con.execute(req["sql"])
        cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        for a in by_rid.get(req["rid"], []):
            path = "traced" if a["traced"] else "execute"
            names_ok = not a["rows"] or a["columns"] == cols
            if not (names_ok and same_rows(a["rows"], want)):
                bad.add((req["rid"], a["traced"]))
                lines.append(f"FAIL cube_api request {req['rid']} ({path}): "
                             f"{len(a['rows'])} rows vs oracle {len(want)}; {req['json']}")
        both = by_rid.get(req["rid"], [])
        if len(both) == 2 and not same_rows(both[0]["rows"], both[1]["rows"]):
            bad.add((req["rid"], True))
            lines.append(f"FAIL cube_api replica {req['rid']}: traced rows differ from execute")
    wrong = sum(1 for o in res["ops"] if o["ok"] and (o["rid"], o["traced"]) in bad)
    replicas = sum(1 for v in by_rid.values() if len(v) == 2)
    lines.append(f"cube_api: {len(data['requests'])} distinct requests vs DuckDB, "
                 f"{replicas} traced/untraced pairs, {len(bad)} mismatches")
    return not bad, wrong, lines


def check_lakehouse(res, work, fx):
    lake = res["lake"]
    check = os.path.join(work, "check")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE TABLE m AS SELECT * FROM read_parquet('{fx}/lineitem.parquet')")
    cols = ", ".join(c[0] for c in con.execute("DESCRIBE m").fetchall())
    lines, fails = [], 0

    def same_as(path, label):
        nonlocal fails
        src = f"(SELECT {cols} FROM read_parquet('{path}/*.parquet'))"
        extra = con.execute(f"SELECT count(*) FROM ({src} EXCEPT ALL SELECT {cols} FROM m)").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM m EXCEPT ALL {src})").fetchone()[0]
        if extra or missing:
            fails += 1
            lines.append(f"FAIL lakehouse {label}: {extra} unexpected rows, {missing} missing rows")
        return not (extra or missing)

    # replay the ops in order: a read is compared with the model once every
    # write before it is applied, and a sampled version once every write up
    # to the op after which it was current is
    pending = sorted((e["after_op"], e["version"]) for e in lake["epochs"])
    bad_reads = set()
    for o in sorted(lake["writes"] + lake["reads"], key=lambda o: o["i"]) + [{"i": math.inf}]:
        while pending and pending[0][0] < o["i"]:
            after, v = pending.pop(0)
            same_as(os.path.join(check, f"v{v}.parquet"), f"version {v} (after op {after})")
        if o["i"] == math.inf:
            break
        if "rows" in o:
            n, qty = con.execute(f"SELECT count(*), coalesce(sum(l_quantity), 0) FROM m "
                                 f"WHERE l_orderkey BETWEEN {o['a']} AND {o['b']}").fetchone()
            if n != o["rows"] or not _close(float(qty), float(o["sum_qty"])):
                bad_reads.add(o["i"])
                lines.append(f"FAIL lakehouse {o['kind']} (op {o['i']}) l_orderkey in "
                             f"[{o['a']}, {o['b']}]: {o['rows']} rows, quantity {o['sum_qty']} "
                             f"vs model {n} rows, quantity {qty}")
            continue
        if not o["ok"]:
            continue
        batch = f"read_parquet('{check}/op_{o['i']}.parquet/*.parquet')"
        if o["kind"] in ("merge", "delete", "delete_mor"):
            con.execute(f"DELETE FROM m WHERE l_orderkey IN (SELECT l_orderkey FROM {batch})")
        if o["kind"] in ("append", "merge"):
            con.execute(f"INSERT INTO m SELECT {cols} FROM {batch}")
    final_ok = same_as(os.path.join(check, "final.parquet"), "final table")
    ok = fails == 0 and not bad_reads
    # a table mismatch cannot be pinned to one op: count every write as
    # wrong; a read mismatch counts that read
    wrong = sum(1 for o in res["ops"] if o["ok"] and
                ((fails and o["class"] == "write") or o["i"] in bad_reads))
    lines.append(f"lakehouse_rw: model of {len(lake['writes'])} writes vs final table"
                 f"{' OK' if final_ok else ' MISMATCH'}, {len(lake['epochs'])} epochs, "
                 f"{len(lake['reads'])} point and pruned reads, {len(bad_reads)} read mismatches")
    return ok, wrong, lines


def canon_compare(con, got_sql, want_sql):
    """compare.py's rule, evaluated in DuckDB: columns compared by sorted
    name, rows as multisets, floats to 6 significant figures. Returns
    (same, rows got, rows wanted)."""
    def canon(sql):
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        cols = sorted((name, typ) for name, typ, *_ in desc)
        exprs = [f'format(\'{{:.6g}}\', CAST("{n}" AS DOUBLE))'
                 if t.startswith(("DOUBLE", "FLOAT", "REAL", "DECIMAL"))
                 else f'CAST("{n}" AS VARCHAR)' for n, t in cols]
        return [n for n, _ in cols], f"SELECT {', '.join(exprs)} FROM ({sql})"
    gn, g = canon(got_sql)
    wn, w = canon(want_sql)
    ng = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    nw = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    if gn != wn or ng != nw:
        return False, ng, nw
    diff = con.execute(f"SELECT count(*) FROM ({g} EXCEPT ALL {w})").fetchone()[0]
    return diff == 0, ng, nw


def check_batch(res, work, fx):
    con = connect(fx)
    lines, bad = [], set()
    for q in res["batch"]["queries"]:
        name = q["name"]
        sql = ORACLE_OVERRIDES.get(name, q["oracle"])
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        if not files:
            bad.add(name)
            lines.append(f"FAIL batch {name}: no output")
            continue
        if sql is None:
            bad.add(name)
            lines.append(f"FAIL batch {name}: no oracle SQL")
            continue
        con.execute(f"CREATE OR REPLACE TEMP TABLE oracle AS {sql}")
        same, ng, nw = canon_compare(con, f"SELECT * FROM read_parquet({files!r})",
                                     "SELECT * FROM oracle")
        if not same:
            bad.add(name)
            lines.append(f"FAIL batch {name}: {ng} rows vs oracle {nw}")
        else:
            lines.append(f"batch {name}: {ng} rows match the oracle")
    wrong = sum(1 for o in res["ops"] if o["ok"] and o["kind"] in bad)
    return not bad, wrong, lines


def run(res, work, fx):
    fn = {"cube_api": check_cube_api, "lakehouse_rw": check_lakehouse,
          "batch_scaleup": check_batch}[res["workload"]]
    ok, wrong, lines = fn(res, work, fx)
    return {"ok": ok, "wrong_ops": wrong, "lines": lines}
