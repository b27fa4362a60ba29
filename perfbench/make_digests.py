#!/usr/bin/env python3
"""Computes perfbench/digests.json once, from the root of a checkout:

    python3 perfbench/make_digests.py

Runs the composites check pass, then each query's DuckDB oracle
(SparkEntry.oracleSql) on the same tables, digests both the same way
and stores the oracle's digest. A query whose oracle cannot run or
disagrees is stored with Spark's digest instead, labelled as a
regression pin.
"""
import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb
    work = os.path.join(run.BUILD, "work", "make-digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(HERE, "data")
    os.environ["PERFBENCH_ORACLE_OUT"] = os.path.join(work, "oracle_sql.json")
    os.environ["SPARK_GRAFT_SF_DIR"] = data
    a = argparse.Namespace(workload="composites", seed=0, seconds=1, trace=0)
    res = run.run_jvm(run.build(), a, work)
    with open(os.environ["PERFBENCH_ORACLE_OUT"]) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name, path in sorted(res["outputs"].items()):
        rows, dig = check.output_digest(path)
        try:
            o_rows, o_dig = check.frame_digest(con.execute(oracle[name]).fetchdf())
        except Exception as e:  # noqa: BLE001
            o_rows, o_dig = None, f"oracle error: {e}"
        if (o_rows, o_dig) == (rows, dig):
            out[name] = {"rows": rows, "sha256": dig, "source": "duckdb oracle"}
        else:
            out[name] = {"rows": rows, "sha256": dig, "source": "regression pin",
                         "oracle": {"rows": o_rows, "sha256": o_dig}}
        print(name, out[name]["source"], rows, dig[:16])
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
