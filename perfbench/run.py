#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload composites --seed 1 --seconds 10 --trace 0

It builds the library and the harness from source (sbt, outputs under
.bench_build/), runs one workload in a fresh JVM, checks every output
against the stored oracle digests (perfbench/digests.json) or the
hub_serve delivery invariants, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402  (perfbench/check.py)
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("composites", "hub_serve")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HEAP = "3g"
# Per-layer metrics of layers a workload does not run: a traced run
# reports them as 0. Any other declared metric that is missing is an error.
NOT_RUN = {
    "composites": ("streaming.", "serve.", "gen.", "attr.hub_"),
    "hub_serve": ("operators.", "q.", "attr.operators_", "attr.spark_",
                  "spark.job_busy_s", "spark.driver_gap_s", "spark.slots_busy"),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile library + harness once per source tree; returns the
    runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    log("building library and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read()


def run_jvm(cp, a, work):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), os.path.join(HERE, "data"), work, result]
    env = dict(os.environ, PERFBENCH_PYTHON=sys.executable,
               PERFBENCH_DIR=HERE)
    r = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(result):
        raise SystemExit(f"benchmark JVM exited with {r.returncode}")
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise SystemExit(f"not a graft checkout: {f} missing under {ROOT}")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, a, work)
        res = check.verify(a.workload, res, work)
    finally:
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(trace, os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    log("host " + json.dumps(res["host"]))
    for n in res.get("notes", []):
        log("note: " + n)
    res["metrics"]["failed_ops_ratio"] = {
        "value": res["failed"] / res["attempted"], "unit": "ratio", "e2e": False}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for d in declared:
        m = res["metrics"].get(d["name"])
        if m is None and a.trace and d["name"].startswith(NOT_RUN[a.workload]):
            m = {"value": 0.0, "unit": d["unit"]}
        if m is None or m["value"] is None or m["unit"] != d["unit"]:
            raise SystemExit(f"metric {d['name']} not measured: {m}")
        metrics[d["name"]] = {"value": m["value"], "unit": m["unit"]}
    log("all metrics " + json.dumps({k: v["value"] for k, v in res["metrics"].items()}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))

if __name__ == "__main__":
    main()
