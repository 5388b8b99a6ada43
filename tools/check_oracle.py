#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare:
runs each oracle_sql.json entry in DuckDB over the sf tables, loads the
Spark parquet dump, sorts columns by name, compares values."""
import duckdb, json, sys, glob, math

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

partial = "--partial" in sys.argv  # targeted runs: missing dumps are skips
oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files and partial:
        continue
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {str(e)[:200]}"); fails += 1; continue
    if not files:
        print(f"{name}: NO SPARK OUTPUT"); fails += 1; continue
    got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        print(f"{name}: COLUMN MISMATCH want={list(want.columns)} got={list(got.columns)}")
        fails += 1; continue
    if len(want) != len(got):
        print(f"{name}: ROWCOUNT want={len(want)} got={len(got)}"); fails += 1; continue
    def canon(df):
        rows = []
        for row in df.itertuples(index=False):
            vals = []
            for v in row:
                if isinstance(v, float):
                    vals.append("nan" if math.isnan(v) else repr(v))
                else:
                    vals.append(str(v))
            rows.append("|".join(vals))
        return rows
    w, g = canon(want), canon(got)
    if w != g:
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(w, g)) if a != b][:3]
        print(f"{name}: VALUE MISMATCH ({len([1 for a,b in zip(w,g) if a!=b])} rows); first: {bad}")
        fails += 1; continue
    print(f"{name}: OK ({len(want)} rows)")
# dumped queries that have no oracle entry are never compared; name them
# (informational: they do not change pass/fail)
unchecked = sorted(d.split("/")[-2] for d in glob.glob(f"{out_dir}/*/")
                   if d.split("/")[-2] not in oracle)
if unchecked:
    print(f"NO ORACLE: {', '.join(unchecked)}")
print(f"\n{'ALL OK' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
