#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [prefixes]

Reads oracle_sql.json from the verify output dir, runs each SQL in DuckDB
with views over the sfDir parquet tables, reads the Spark parquet result,
sorts columns by name + rows by all columns, and compares values.

`prefixes` is the optional third argument graft.Verify takes: comma-separated
query-name prefixes. With it, only the oracle queries whose names start with
one of them are compared (a matching query with no Spark output still fails:
Verify leaves no output for a query that threw).
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for robust compare (mimics value hashing)
    df = df.astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(sf_dir, out_dir, prefixes=None):
    def selected(name):
        return prefixes is None or name.startswith(prefixes)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(filter(selected, oracle)):
        sql = oracle[name]
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            duck = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        spark = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        a, b = norm(spark), norm(duck)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            n_fail += 1
        elif len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            n_fail += 1
        elif not a.equals(b):
            diff = (a != b)
            bad = diff.any(axis=1)
            print(f"FAIL {name}: {bad.sum()} mismatched rows; first:")
            idx = bad[bad].index[0]
            print("  spark:", a.loc[idx].to_dict())
            print("  duck :", b.loc[idx].to_dict())
            n_fail += 1
        else:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
    # queries without oracle (rows-only check)
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle and selected(name):
            files = glob.glob(f"{d}/*.parquet")
            n = sum(pd.read_parquet(f).shape[0] for f in files) if files else 0
            print(f"INFO {name}: no oracle, rows={n}")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  tuple(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
