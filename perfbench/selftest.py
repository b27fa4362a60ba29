#!/usr/bin/env python3
"""Counter self-test, from the root of a checkout:

    python3 perfbench/selftest.py [seconds]

Makes two traced composites runs of the same tree (different seeds, so
different query orders) and checks that the load-immune counters are
identical. Later changes use these counters to tell a regression from
host load, so any counter that does not repeat is listed here.
"""
import json
import subprocess
import sys

COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
            "spark.executions", "sources.input_rows"]


def traced(seed, seconds):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "composites",
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    seconds = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    a, b = traced(1, seconds), traced(2, seconds)
    bad = [c for c in COUNTERS if a[c]["value"] != b[c]["value"]]
    for c in COUNTERS:
        print(f"{c:24s} {a[c]['value']:>14} {b[c]['value']:>14}"
              f"{'  DIFFERS' if c in bad else ''}")
    print("counters repeat" if not bad else f"counters that do not repeat: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
