#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each <name>.parquet dir under verifyOutDir with an entry in
oracle_sql.json: run the SQL in DuckDB over views of sfDir's tables,
load the Spark parquet, sort columns by name, and compare values
cell-by-cell (floats exact by default; report max delta when not).

A dump from a SPARK_GRAFT_VERIFY_ONLY run carries a _FILTERED file
listing the names it ran; only those are checked. Exits 1 when any
checked entry fails.
"""
import json, sys, math
import duckdb
import pandas as pd
from pathlib import Path

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df):
    df = df[sorted(df.columns)]
    return df

def kind(series):
    """Coarse type kind for driver-hash-faithful dtype comparison.

    The driver's hash is type-sensitive: an int128 (DuckDB HUGEINT from an
    uncast sum()) vs Spark's int64 hashes differently even when every cell
    value is equal. Map dtypes to coarse kinds and fail on kind mismatch.
    """
    dt = series.dtype
    k = dt.kind  # i,u,f,b,O,M,m,...
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    if k == "O":
        # inspect first non-null element
        for v in series:
            if v is None:
                continue
            try:
                if pd.isna(v):
                    continue
            except (TypeError, ValueError):
                pass
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                return "float"
            if isinstance(v, str):
                return "str"
            return type(v).__name__
        return "empty"
    return str(dt)

def cmp_cell(a, b):
    if a is None and b is None:
        return True, 0.0
    if pd.isna(a) and pd.isna(b):
        return True, 0.0
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b), None
        if math.isnan(fa) and math.isnan(fb):
            return True, 0.0
        return fa == fb, abs(fa - fb)
    return str(a) == str(b), None

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    declared = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    oracle = declared
    filtered = Path(f"{out_dir}/_FILTERED")
    if filtered.exists():
        only = set(filtered.read_text().split())
        oracle = {k: v for k, v in declared.items() if k in only}
    results = {}
    for name in sorted(oracle):
        sql = oracle[name]
        pdir = Path(out_dir) / name
        if not pdir.exists():
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        got = pd.read_parquet(pdir)
        want, got = norm(want), norm(got)
        if list(want.columns) != list(got.columns):
            results[name] = f"COLS: oracle={list(want.columns)} spark={list(got.columns)}"
            continue
        if len(want) != len(got):
            results[name] = f"ROWS: oracle={len(want)} spark={len(got)}"
            continue
        tbad = None
        for c in want.columns:
            kw, kg = kind(want[c]), kind(got[c])
            if "empty" in (kw, kg):
                continue
            if kw != kg:
                tbad = f"DTYPE .{c}: oracle={kw}({want[c].dtype}) spark={kg}({got[c].dtype})"
                break
        if tbad:
            results[name] = tbad
            continue
        bad = None
        maxd = 0.0
        for ci, c in enumerate(want.columns):
            wv, gv = want[c].tolist(), got[c].tolist()
            for ri in range(len(wv)):
                ok, d = cmp_cell(wv[ri], gv[ri])
                if d:
                    maxd = max(maxd, d)
                if not ok:
                    bad = f"CELL [{ri}].{c}: oracle={wv[ri]!r} spark={gv[ri]!r}"
                    break
            if bad:
                break
        results[name] = bad if bad else ("OK" if maxd == 0 else f"OK(maxdelta={maxd:.2e})")
    npass = sum(1 for v in results.values() if v.startswith("OK"))
    for name, v in results.items():
        print(("PASS " if v.startswith("OK") else "FAIL ") + f"{name}: {v}")
    # queries with no oracle entry
    for pdir in sorted(Path(out_dir).iterdir()):
        if pdir.is_dir() and pdir.name not in declared:
            n = len(pd.read_parquet(pdir))
            print(f"NOORACLE {pdir.name}: rows={n}")
    print(f"== {npass}/{len(results)} oracle-checked queries pass ==")
    sys.exit(0 if npass == len(results) else 1)

if __name__ == "__main__":
    main()
