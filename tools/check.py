#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: run graft.Verify output
against the DuckDB oracle (oracle_sql.json) on the same parquet tables,
sort columns by name + rows by value, and compare cell-by-cell.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
(dev tool only — the library itself has no Python dependency)
"""
import sys, json, glob, os
import duckdb

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def cells_equal(a, b):
    import math
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # an oracle key without a dump is a query that threw or never ran
    results = {name: "MISSING (no dump for an oracle-checked query)"
               for name in oracle
               if not os.path.isdir(os.path.join(out_dir, name))}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        got = canon(con.execute(f"SELECT * FROM '{d}/*.parquet'").df())
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={len(got)} (no oracle)"
            continue
        try:
            exp = canon(con.execute(oracle[name]).df())
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            results[name] = f"SCHEMA_MISMATCH got={list(got.columns)} exp={list(exp.columns)}"
            continue
        if len(got) != len(exp):
            results[name] = f"ROWCOUNT_MISMATCH got={len(got)} exp={len(exp)}"
            continue
        # The driver's hash sees PHYSICAL types: int64 vs float64 (DuckDB
        # sum(BIGINT)→HUGEINT widening) or decimal columns hash-mismatch
        # even when every cell is value-identical. Normalize datetime
        # units; everything else must agree exactly.
        def dt(d):
            s = str(d)
            return "datetime64" if s.startswith("datetime64") else s
        dbad = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in got.columns
                if dt(got[c].dtype) != dt(exp[c].dtype)]
        if dbad:
            results[name] = f"DTYPE_MISMATCH (driver hash would fail) {dbad}"
            continue
        bad = 0
        first = None
        for col in got.columns:
            gv, ev = got[col].tolist(), exp[col].tolist()
            for i, (g, e) in enumerate(zip(gv, ev)):
                if not cells_equal(g, e):
                    bad += 1
                    if first is None:
                        first = (col, i, g, e)
        if bad:
            results[name] = f"VALUE_MISMATCH {bad} cells; first={first}"
        else:
            results[name] = f"OK rows={len(got)}"
    width = max((len(k) for k in results), default=0)
    fails = 0
    for k, v in sorted(results.items()):
        status = "PASS" if v.startswith(("OK", "ROWS_ONLY")) else "FAIL"
        if status == "FAIL":
            fails += 1
        print(f"{status}  {k:<{width}}  {v}")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
