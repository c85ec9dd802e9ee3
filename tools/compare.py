#!/usr/bin/env python3
"""Local correctness loop mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/compare.py <sfdir> <verify_out_dir> [<base_out_dir>]

Reads each <out>/<name>/ parquet (Spark output), runs the matching oracle
SQL from <out>/oracle_sql.json in DuckDB over the same sf parquet tables,
canonicalizes (sort columns by name, sort rows, round floats), and diffs.

With <base_out_dir> (another build's graft.Verify output, e.g. the parent
commit's), it also checks that every query's rows are identical to that
build's: same columns, same sorted rows, floats compared exactly.
"""
import json, math, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols, exact=False):
    # sort columns by name; stringify values with float rounding (full
    # repr when exact); sort rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(repr(v) if exact else f"{v:.6g}")
            elif isinstance(v, list):
                vals.append(json.dumps(v, default=str, sort_keys=True))
            elif isinstance(v, dict):
                vals.append(json.dumps(v, default=str, sort_keys=True))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]

def read_rows(con, outdir, name):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return None
    got = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return got.columns, got.fetchall()

def same_as_base(con, outdir, basedir, names):
    """Row identity against another build's output; returns #differing."""
    n_same = n_diff = 0
    for name in names:
        a, b = read_rows(con, outdir, name), read_rows(con, basedir, name)
        if a is None or b is None:
            print(f"MISSING {name} (here: {a is not None}, base: {b is not None})")
            n_diff += 1
        elif canon(a[1], a[0], exact=True) != canon(b[1], b[0], exact=True):
            print(f"DIFFERS {name} from base"); n_diff += 1
        else:
            n_same += 1
    print(f"{n_same} identical to base, {n_diff} differ")
    return n_diff

def main(sfdir, outdir, basedir=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(f"{outdir}/{d}"))
    n_pass = n_fail = n_skip = 0
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"EMPTY  {name} (no parquet written)"); n_fail += 1; continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        gcols, grows = got.columns, got.fetchall()
        if name not in oracle:
            print(f"SKIP   {name} (rows-only: {len(grows)} rows)"); n_skip += 1
            continue
        try:
            exp = con.sql(oracle[name])
            ecols, erows = exp.columns, exp.fetchall()
        except Exception as e:
            print(f"ORAFAIL {name}: {e}"); n_fail += 1; continue
        gC, gN = canon(grows, gcols)
        eC, eN = canon(erows, ecols)
        # the driver compares via pandas, where DuckDB HUGEINT becomes
        # float64 and changes value repr ("123" vs "123.0") even when the
        # fetchall() ints above agree — flag exactly the int-vs-float
        # dtype clashes (other dtype diffs, e.g. int32 vs int64 or date
        # objects, were driver-green in round 1)
        import pandas as pd
        gdt = {c: str(t) for c, t in
               pd.concat([pd.read_parquet(f) for f in files]).dtypes.items()}
        edt = {c: str(t) for c, t in exp.df().dtypes.items()}
        def kind(t):
            return ("int" if t.startswith(("int", "uint")) else
                    "float" if t.startswith("float") else "other")
        clash = {c: (gdt[c], edt[c]) for c in set(gdt) & set(edt)
                 if {kind(gdt[c]), kind(edt[c])} == {"int", "float"}}
        if gN != eN:
            print(f"SCHEMA {name}: spark={gN} oracle={eN}"); n_fail += 1
        elif clash:
            print(f"DTYPE  {name}: {clash}"); n_fail += 1
        elif gC != eC:
            n_fail += 1
            print(f"VALUES {name}: spark {len(gC)} rows vs oracle {len(eC)} rows")
            for i, (a, b) in enumerate(zip(gC, eC)):
                if a != b:
                    print(f"   first diff row {i}:\n    spark : {a}\n    oracle: {b}")
                    break
            else:
                if len(gC) != len(eC):
                    print(f"   row count differs; spark extra: {gC[len(eC):][:2]} oracle extra: {eC[len(gC):][:2]}")
        else:
            print(f"OK     {name} ({len(gC)} rows)"); n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_skip} rows-only of {len(names)}")
    n_diff = same_as_base(con, outdir, basedir, names) if basedir else 0
    return 1 if n_fail or n_diff else 0

if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
