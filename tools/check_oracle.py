#!/usr/bin/env python3
"""Dev-only checker (runs with the driver-side python, not part of the
library): replicate the driver's DuckDB-oracle compare against a Verify
output dir. Usage: check_oracle.py <sfDir> <verifyOutDir>

Every oracled query must have an output dir: one that Verify failed on
(it only logs the failure) is reported as MISSING and counts as a
failure. The last line is the `N/N MATCH` summary over oracled queries."""
import sys, os, json, hashlib
import duckdb

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for r in df.itertuples(index=False):
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(f"{v:.9g}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)

fails = 0
matched = 0
for name in sorted(oracle):
    if not os.path.isdir(f"{out}/{name}"):
        print(f"{name:28s} MISSING (no output dir)")
        fails += 1
for name in sorted(os.listdir(out)):
    d = f"{out}/{name}"
    if not os.path.isdir(d):
        continue
    got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
    if name not in oracle:
        print(f"{name:28s} rows={len(got)} (no oracle — rows-only)")
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name:28s} ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    hg, ng = canon(got)
    he, ne = canon(exp)
    cols_ok = sorted(got.columns) == sorted(exp.columns)
    # dtype-KIND parity: the driver stringifies raw values, so an int64
    # Spark column vs a HUGEINT->float64/object DuckDB column mismatches
    # there ('2' vs '2.0') even when canon()'s %.9g hides it. Width
    # differences (int32 vs int64) stringify identically and are fine.
    dtypes_ok = cols_ok and all(
        got[c].dtype.kind == exp[c].dtype.kind for c in got.columns)
    if cols_ok and not dtypes_ok:
        bad = [(c, str(got[c].dtype), str(exp[c].dtype))
               for c in got.columns if got[c].dtype.kind != exp[c].dtype.kind]
        print(f"{name:28s} DTYPE-KIND MISMATCH (spark vs oracle): {bad}")
    ok = cols_ok and dtypes_ok and hg == he
    print(f"{name:28s} rows={ng}/{ne} cols={'OK' if cols_ok else sorted(got.columns)+['!=']+sorted(exp.columns)} hash={'MATCH' if hg==he else 'MISMATCH'}")
    if ok:
        matched += 1
    else:
        fails += 1
        if cols_ok and ng == ne:
            import pandas as pd
            g = got[sorted(got.columns)].astype(str).sort_values(by=sorted(got.columns)).reset_index(drop=True)
            e = exp[sorted(exp.columns)].astype(str).sort_values(by=sorted(exp.columns)).reset_index(drop=True)
            diff = (g != e).any(axis=1)
            print(g[diff].head(3))
            print(e[diff].head(3))
print(f"{matched}/{len(oracle)} MATCH")
sys.exit(1 if fails else 0)
