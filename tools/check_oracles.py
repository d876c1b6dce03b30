#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate: run Verify's parquet
outputs against the DuckDB oracles and compare (column-name-sorted, row
content hash), mimicking the driver.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir> [query,query,...]

With a comma-separated query list (the same form as Verify's third
argument) only those names' oracle SQL runs; without one, every oracle in
<verifyOutDir>/oracle_sql.json runs.
"""
import json
import sys

import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
if len(sys.argv) > 3:
    wanted = {n.strip() for n in sys.argv[3].split(",") if n.strip()}
    for name in sorted(wanted - oracle.keys()):
        print(f"FAIL {name}: no oracle sql")
        fail += 1
    oracle = {n: sql for n, sql in oracle.items() if n in wanted}
for name, sql in sorted(oracle.items()):
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}")
        fail += 1
        continue
    try:
        got = duckdb.connect().execute(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
    except Exception as e:
        print(f"FAIL {name}: spark output missing: {e}")
        fail += 1
        continue
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
        fail += 1
        continue
    if len(want) != len(got):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
        fail += 1
        continue
    # row-order-insensitive value compare (driver sorts/hashes)
    w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    import pandas as pd
    try:
        # dtype KIND must match: the driver's content hash is type-sensitive
        # across kinds (DuckDB HUGEINT → object/float vs Spark int64
        # hash-mismatched in round 1 with identical values) but tolerates
        # width (int32 vs int64 was green). Mirror that exactly.
        kinds_w = [w[c].dtype.kind for c in w.columns]
        kinds_g = [g[c].dtype.kind for c in g.columns]
        if kinds_w != kinds_g:
            raise AssertionError(f"dtype kinds differ: {kinds_g} vs {kinds_w}")
        pd.testing.assert_frame_equal(w, g, check_dtype=False, check_exact=True)
        print(f"OK   {name} ({len(got)} rows)")
    except AssertionError as e:
        print(f"FAIL {name}: {str(e)[:500]}")
        fail += 1

print("failures:", fail)
sys.exit(1 if fail else 0)
