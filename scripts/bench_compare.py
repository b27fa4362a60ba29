#!/usr/bin/env python3
"""Compare two benchmark records.

Two kinds of record are understood; the kind is read from the files.

1. `perfbench/run.py` result lines (the JSON line run.py prints last,
   `{"correct", "attempted", "failed", "metrics"}`; a file holding
   run.py's whole stdout works too — its last JSON line is used).
   Prints every metric's change, marking with `#` the load-immune
   counters (Spark jobs, stages, tasks, exchanges, executions and
   source input rows): host load cannot move them. A metric that got
   worse by more than `threshold` (a fraction, default 0.05) while no
   counter moved is reported as host load; if a counter moved, the
   work itself changed and the comparison says so. Better/worse
   follows each metric's `better` in BENCHMARK.json. Compare traced
   (`--trace 1`) runs: only they carry the counters.

2. Calibration-normalized BENCH records (`graft.Bench` output).
   Cross-epoch BENCH records are not directly comparable: the shared
   host's effective speed drifts between rounds (round 17 measured the
   same code 1.3x slower than round 16's record on the same data).
   Each BENCH record since r17 carries `calib_sec` — a fixed
   single-threaded JVM probe timed at record start — so two records
   can be read on one scale: normalized_t = t / (calib_new /
   calib_old) projects the NEW record onto the OLD record's host
   epoch. Prints per-query ratios (normalized when both records carry
   calib_sec, raw otherwise) and flags regressions above `threshold`
   (default 1.5x).

Usage: bench_compare.py OLD NEW [threshold]
Exit code 1 on a flagged regression that host load cannot explain.
"""
import json
import os
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         os.pardir, "BENCHMARK.json")
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
            "spark.executions", "sources.input_rows")


def load(path):
    """A whole-file JSON record, or the last JSON line of the file."""
    with open(path) as fh:
        text = fh.read()
    try:
        return json.loads(text)
    except ValueError:
        for line in reversed(text.splitlines()):
            if line.startswith("{"):
                return json.loads(line)
    raise SystemExit(f"{path}: no JSON record")


def is_counter(name):
    return name in COUNTERS or (name.startswith("q.") and name.endswith(".jobs"))


def compare_runs(old, new, tol) -> int:
    better = {}
    if os.path.exists(BENCHMARK):
        with open(BENCHMARK) as fh:
            bm = json.load(fh)
        better = {m["name"]: m["better"]
                  for m in bm.get("end_to_end", []) + bm.get("per_layer", [])}
    for tag, r in (("old", old), ("new", new)):
        print(f"{tag}: correct={r.get('correct')} attempted={r.get('attempted')} "
              f"failed={r.get('failed')}")
    mo, mn = old["metrics"], new["metrics"]
    moved, worse = [], []
    print(f"\n  {'metric':<36} {'old':>12} {'new':>12} {'change':>8}")
    for name in sorted(set(mo) & set(mn)):
        a, b = mo[name]["value"], mn[name]["value"]
        change = (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))
        sign = -1 if better.get(name, "lower") == "higher" else 1
        counter = is_counter(name)
        if counter and a != b:
            moved.append(name)
        elif not counter and sign * change > tol:
            worse.append(name)
        mark = "#" if counter else " "
        flag = "  worse" if name in worse else ""
        print(f"{mark} {name:<36} {a:>12.6g} {b:>12.6g} {change:>+8.1%}{flag}")
    only = sorted(set(mo) ^ set(mn))
    if only:
        print(f"\nin one record only: {only}")
    print("\n# = load-immune counter")
    if not any(is_counter(n) for n in set(mo) & set(mn)):
        print("no counters in common (compare --trace 1 runs): "
              "load and code cannot be told apart")
        return 0
    if moved:
        print(f"counters moved: {moved} — the work changed")
    else:
        print("no counter moved — the same work ran")
    if not worse:
        print(f"nothing worse by more than {tol:.0%}")
        return 0
    if not moved:
        print(f"{len(worse)} metric(s) worse by more than {tol:.0%} with every "
              f"counter unchanged: host load, not a code regression")
        return 0
    print(f"{len(worse)} metric(s) worse by more than {tol:.0%} while counters "
          f"moved: a regression candidate")
    return 1


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old = load(sys.argv[1])
    new = load(sys.argv[2])
    if "metrics" in old and "metrics" in new:
        return compare_runs(old, new,
                            float(sys.argv[3]) if len(sys.argv) > 3 else 0.05)
    bar = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5

    calib_old = old.get("calib_sec")
    calib_new = new.get("calib_sec")
    if calib_old and calib_new:
        ratio = calib_new / calib_old
        print(f"calib: old={calib_old} new={calib_new} "
              f"host-epoch ratio={ratio:.3f} (normalizing)")
    else:
        ratio = 1.0
        print("calib: missing in one record — RAW comparison "
              "(cross-epoch drift not removed)")

    qo, qn = old.get("queries", {}), new.get("queries", {})
    common = sorted(set(qo) & set(qn))
    only_old = sorted(set(qo) - set(qn))
    only_new = sorted(set(qn) - set(qo))

    rows = []
    for q in common:
        t_old, t_new = qo[q], qn[q]
        if not isinstance(t_old, (int, float)) or not isinstance(t_new, (int, float)):
            continue
        norm = t_new / ratio
        rows.append((norm / t_old if t_old > 0 else float("inf"),
                     q, t_old, t_new, norm))
    rows.sort(reverse=True)

    flagged = [r for r in rows if r[0] > bar]
    print(f"\n{len(common)} common queries; "
          f"old-only: {only_old or '—'}; new-only: {only_new or '—'}")
    tot_old = sum(r[2] for r in rows)
    tot_norm = sum(r[4] for r in rows)
    if not rows or tot_old <= 0:
        print("no comparable numeric queries in common — nothing to rate")
        return 0
    med = sorted(r[0] for r in rows)[len(rows) // 2]
    print(f"common-set total: {tot_old:.1f}s old vs {tot_norm:.1f}s "
          f"new-normalized ({tot_norm / tot_old:.2f}x); "
          f"median per-query ratio {med:.2f}")

    print(f"\n{'ratio':>6}  {'old_s':>8}  {'new_s':>8}  {'norm_s':>8}  query")
    for r, q, t_old, t_new, norm in rows[:15]:
        mark = " <-- REGRESSION" if r > bar else ""
        print(f"{r:6.2f}  {t_old:8.2f}  {t_new:8.2f}  {norm:8.2f}  {q}{mark}")

    if flagged:
        print(f"\n{len(flagged)} quer{'y' if len(flagged) == 1 else 'ies'} "
              f"above the {bar}x bar")
        return 1
    print(f"\nno regression above the {bar}x bar")
    return 0


if __name__ == "__main__":
    sys.exit(main())
