#!/usr/bin/env python3
"""Regenerates perfbench/fingerprints.tsv, the oracle results the
query_leaves workload checks every headline leaf against.

For each of the 16 headline leaves it runs the leaf's DuckDB oracle query
(`SparkEntry.oracleSql`, the tools/compare_oracle.py setup) over the query
tables, then has Spark fingerprint both the oracle's result and the leaf's
own output; the file is written only when every leaf matches its oracle.

Usage (from the repository root; needs the duckdb Python module):
    python3 perfbench/make_fingerprints.py [sf_dir]
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

TABLES = ["lineitem", "orders", "customer", "nation", "region", "documents",
          "embeddings", "events", "part", "supplier"]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else bench.SF_DIR
    r = bench.Run("fingerprint", 0, False)
    try:
        sql_file = os.path.join(r.work, "oracle_sql.json")
        # also runs q_ann_ivf_topk once: its oracle reads the centroids the
        # Spark leaf materializes
        r.jvm("fingerprint", sf=sf, sql_out=sql_file)
        oracle = json.load(open(sql_file))
        odir = os.path.join(r.work, "oracle")
        os.makedirs(odir)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for leaf, sql in sorted(oracle.items()):
            con.execute(f"COPY ({sql}) TO '{odir}/{leaf}.parquet' (FORMAT PARQUET)")
        res = r.jvm("fingerprint", sf=sf, oracle=odir, fingerprints=bench.FINGERPRINTS)
        if res["mismatches"]:
            raise SystemExit(f"leaves differ from their oracle: {res['mismatches']}")
        print(f"wrote {bench.FINGERPRINTS}")
    finally:
        r.close()


if __name__ == "__main__":
    main()
