#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <name> parquet written by graft.Verify, runs the matching
oracle SQL (oracle_sql.json) in DuckDB with the sfDir parquet tables
registered as views, and compares: row count, column names, and values
(columns sorted by name, rows sorted by all columns, floats rounded).
"""
import json, os, sys, math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name, spark_df, oracle_df):
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA cols {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                av = av.astype(float); bv = bv.astype(float)
                bad = ~((av.isna() & bv.isna()) |
                        (abs(av - bv) <= 1e-9 + 1e-9 * abs(bv)))
            else:
                bad = ~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))
        except Exception as e:
            return f"COMPARE-ERR col {c}: {e}"
        if bad.any():
            i = bad.idxmax()
            return (f"VALUE col {c} row {i}: spark={a[c][i]!r} "
                    f"oracle={b[c][i]!r} ({int(bad.sum())} diffs)")
    return None


# Oracles whose DuckDB form is quadratic (all-pairs lambda dot products
# and/or a recursive-CTE transitive closure). At sf>=1 the ORACLE blows
# up (observed: 74 GB RSS in the closure for dedup_embed at 20k vectors)
# while the Spark side — banded candidates + pointer-jumping CC —
# completes fine. Their full correctness stays gated at sf0.01 by the
# driver; at big SFs pass GRAFT_CHECK_SKIP=name,name to skip them here
# (sampled_checks.py covers them probabilistically instead). The sf1
# skip set is sim_pairs, sim_lsh, dedup_semantic, dedup_embed, and
# dedup_minhash_clusters (its closure CTE climbed past 27 GB RSS on the
# sf1 corpus's large near-dup components before being cut off).
def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    skip = set(filter(None,
                      os.environ.get("GRAFT_CHECK_SKIP", "").split(",")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    # Reader-query fixtures (target/sniff_profile/*) are rebuilt by each
    # graft.Verify run FOR ITS OWN sfDir; their oracle SQL reads the same
    # fixed paths. Checking an OLD dump after a Verify at a different SF
    # silently compares mismatched data — catch that here. A fixture's
    # marker <fixture>.src holds its key, the source dir on the first
    # line; only fixtures some oracle SQL reads by path are checked.
    import glob
    want = os.path.normpath(os.path.abspath(sf_dir))
    stage = os.environ.get("SPARK_GRAFT_STAGE_DIR") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "target")
    sql_text = "\n".join(oracle.values())
    for marker in glob.glob(os.path.join(stage, "*", "*.src")):
        fixture = os.path.normpath(marker[:-4])
        if fixture not in sql_text:
            continue
        with open(marker) as mf:
            got = mf.readline().strip()
        if got and os.path.normpath(got) != want:
            print(f"WARNING: fixture {fixture} was built from {got}, "
                  f"not {sf_dir} — rerun graft.Verify at this SF first; "
                  "reader-query comparisons below are meaningless")
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        try:
            spark_df = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows={len(spark_df)})")
            continue
        if name in skip:
            print(f"SKIP {name}: quadratic oracle skipped at this SF "
                  f"(rows={len(spark_df)})")
            continue
        try:
            oracle_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        err = compare(name, spark_df, oracle_df)
        if err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
