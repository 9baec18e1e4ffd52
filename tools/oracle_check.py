#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: oracle_check.py <sf_dir> <verify_out_dir> [query ...]

<verify_out_dir> is what `graft.Verify <sf_dir> <out>` wrote: one parquet
directory per query plus oracle_sql.json. For each query we run the oracle
SQL in DuckDB over the sf tables and compare the full multiset of rows
(EXCEPT ALL both ways) plus column names. Exit 1 on any mismatch, and
when a query's output directory has no oracle entry or an oracle entry has
no output directory. The last line reads `N/N ok`.
"""
import json
import sys
from pathlib import Path

import duckdb

TABLES = [
    "lineitem", "orders", "customer", "nation", "region", "supplier", "part",
    "documents", "events", "embeddings",
]


def main() -> int:
    sf = Path(sys.argv[1])
    out = Path(sys.argv[2])
    only = set(sys.argv[3:])
    oracle_sql = json.loads((out / "oracle_sql.json").read_text())
    outputs = {p.name for p in out.iterdir() if p.is_dir()}
    names = set(oracle_sql) | outputs
    names = sorted(names & only if only else names)
    bad = 0
    for name in names:
        if name not in oracle_sql:
            print(f"{name}: NO ORACLE for this output directory")
            bad += 1
            continue
        if name not in outputs:
            print(f"{name}: NO OUTPUT directory for this oracle entry")
            bad += 1
            continue
        con = duckdb.connect()
        for t in TABLES:
            p = sf / f"{t}.parquet"
            if p.exists():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        spark_glob = out / name / "*.parquet"
        try:
            con.execute(f"CREATE TABLE oracle AS {oracle_sql[name]}")
            ocols = [d[0] for d in con.execute("SELECT * FROM oracle LIMIT 0").description]
            con.execute(
                f"CREATE TABLE sparkr AS SELECT * FROM read_parquet('{spark_glob}')")
            scols = [d[0] for d in con.execute("SELECT * FROM sparkr LIMIT 0").description]
            if ocols != scols:
                print(f"{name}: SCHEMA MISMATCH oracle={ocols} spark={scols}")
                bad += 1
                continue
            collist = ", ".join(f'"{c}"' for c in ocols)
            n_o = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
            n_s = con.execute("SELECT count(*) FROM sparkr").fetchone()[0]
            d1 = con.execute(
                f"SELECT count(*) FROM (SELECT {collist} FROM oracle EXCEPT ALL SELECT {collist} FROM sparkr)"
            ).fetchone()[0]
            d2 = con.execute(
                f"SELECT count(*) FROM (SELECT {collist} FROM sparkr EXCEPT ALL SELECT {collist} FROM oracle)"
            ).fetchone()[0]
            if n_o != n_s or d1 or d2:
                print(f"{name}: MISMATCH rows oracle={n_o} spark={n_s} o-s={d1} s-o={d2}")
                bad += 1
            else:
                print(f"{name}: ok ({n_o} rows)")
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}")
            bad += 1
        finally:
            con.close()
    print(f"{len(names) - bad}/{len(names)} ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
