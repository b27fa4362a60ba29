"""Output checks for run.py.

composites: each query's result (written by the untimed first pass) is
digested with scripts/check.py's canonicalisation (columns by name,
rows sorted on their normalised form, type-tagged cells) and compared
with the digest stored in perfbench/digests.json, which make_digests.py
computed from the DuckDB oracle (SparkEntry.oracleSql) on the same
input. hub_serve checks its delivery invariants in the JVM.
"""
import glob
import importlib.util
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _graft_check():
    path = os.path.join(os.getcwd(), "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_digest(df):
    gc = _graft_check()
    return len(df), gc.digest(gc.canon(df))


def output_digest(out_dir):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    return frame_digest(pd.concat([pd.read_parquet(f) for f in files]))


def verify(workload, res, work):
    """Counts each output that is missing or differs as a failed op."""
    if workload != "composites":
        return res
    with open(os.path.join(HERE, "digests.json")) as fh:
        want = json.load(fh)
    for name, out in res["outputs"].items():
        rows, dig = output_digest(out)
        w = want[name]
        if (rows, dig) != (w["rows"], w["sha256"]):
            res["failed"] += 1
            res["notes"].append(f"{name}: output {rows} rows {dig[:12]} differs from "
                                f"{w['source']} {w['rows']} rows {w['sha256'][:12]}")
    return res
