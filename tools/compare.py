#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir: load the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB with views
over <sfDir>/*.parquet, sort columns by name, sort rows, and compare
values exactly. Prints PASS/FAIL per query, and MISSING for every
oracle key with no committed result directory. Row order is not part
of a query's result, so both sides are compared as sorted bags. Exits
1 on any FAIL or MISSING.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import glob
    import os

    fails = 0
    # graft.Verify logs a query that throws and moves on, so a query
    # with no committed result directory (no _SUCCESS marker) never
    # ran: that is a failure, not a skip.
    ran = {
        os.path.basename(os.path.dirname(m))
        for m in glob.glob(f"{out_dir}/*/_SUCCESS")
    }
    for name in sorted(set(oracle) - ran):
        print(f"MISSING {name}: no result directory")
        fails += 1
    for name in sorted(ran):
        qdir = f"{out_dir}/{name}"
        got = pd.concat(
            [pd.read_parquet(f) for f in sorted(glob.glob(f"{qdir}/*.parquet"))],
            ignore_index=True,
        )
        if name not in oracle:
            print(f"SKIP {name}: no oracle ({len(got)} rows)")
            continue
        want = con.sql(oracle[name]).df()
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            fails += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            fails += 1
            continue
        # dtype guard: the driver's hasher canonicalizes by dtype, so an
        # oracle column that DuckDB types HUGEINT (-> float64/object in
        # pandas) or DOUBLE where Spark emits an integer hash-mismatches
        # even when every value is equal. Catch that class here: integer
        # on the Spark side must be integer on the oracle side.
        drift = [
            c
            for c in g.columns
            if g[c].dtype.kind in "iu" and w[c].dtype.kind not in "iu"
        ]
        if drift:
            print(
                f"FAIL {name}: oracle dtype drift on {drift} "
                f"(got {[str(g[c].dtype) for c in drift]}, "
                f"oracle {[str(w[c].dtype) for c in drift]}) — "
                f"likely un-CAST HUGEINT/DOUBLE in the oracle SQL"
            )
            fails += 1
            continue
        # exact value compare after canonicalization
        try:
            eq = g.astype(object).where(pd.notna(g), None).equals(
                w.astype(object).where(pd.notna(w), None)
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: compare error {e}")
            fails += 1
            continue
        if eq:
            print(f"PASS {name} ({len(g)} rows)")
        else:
            diff = (g.astype(str) != w.astype(str)).any(axis=1)
            idx = diff[diff].index[:3]
            print(f"FAIL {name}: value mismatch, e.g. rows {list(idx)}")
            for i in idx:
                print("  got ", g.loc[i].to_dict())
                print("  want", w.loc[i].to_dict())
            fails += 1
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
