#!/usr/bin/env python3
"""Produce perfbench/floor/expected.json, the `floor` output-check file.

Usage (from the root of a checkout): python3 perfbench/tools/make_expected.py

Runs every listed floor query once on perfbench/data/sf0.1 and dumps its
result as the repository's Verify main does, then runs each query's oracle
SQL in DuckDB over the same tables.  A query with an oracle gets the
oracle's result hash (oracle_hash.frame_hash over DuckDB's arrow table and
pandas frame, the rendering of scripts/oracle_check.py); a query without one
gets the engine's row count.  Queries whose engine hash differs from the
oracle keep the oracle hash, so they count as failed in every run, and are
listed with `"agrees": false`.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import oracle_hash  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    bdir = run.build_dir()
    cp = run.build(bdir)
    out = os.path.join(bdir, "expected-dump")
    os.makedirs(out, exist_ok=True)
    data = os.path.join(HERE, "data", "sf0.1")
    run.run_jvm(cp, out, ["--workload", "floor", "--seed", "0", "--seconds", "0",
                          "--out", out, "--bench", HERE, "--data", data,
                          "--dump-floor", "1"], timeout=3600)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    crashed = json.load(open(os.path.join(out, "dump_failed.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    names = [l.split("\t")[0] for l in open(os.path.join(HERE, "floor", "queries.tsv"))
             if l.strip() and not l.startswith("#")]
    for name in names:
        path = os.path.join(out, "results", name)
        engine = None if name in crashed else oracle_hash.parquet_hash(path)
        if name in oracle:
            sql = oracle[name]
            h, rows = oracle_hash.frame_hash(con.execute(sql).fetch_arrow_table(),
                                             con.execute(sql).df())
            expected[name] = {"source": "oracle", "hash": h, "rows": rows,
                              "agrees": engine is not None and engine[0] == h}
        elif engine is not None:
            expected[name] = {"source": "engine rows", "rows": engine[1], "agrees": True}
        else:
            expected[name] = {"source": "engine rows", "rows": -1, "agrees": False}
        if not expected[name]["agrees"]:
            print(f"DISAGREES {name}: {crashed.get(name, 'hash differs from the oracle')}")
    with open(os.path.join(HERE, "floor", "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    n_or = sum(1 for v in expected.values() if v["source"] == "oracle")
    print(f"{len(expected)} queries: {n_or} oracle hashes, {len(expected) - n_or} row checks, "
          f"{sum(1 for v in expected.values() if not v['agrees'])} disagreeing")


if __name__ == "__main__":
    main()
