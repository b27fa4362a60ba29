#!/usr/bin/env python3
"""hub_serve input generator: a separate process, so the system under
test pays none of its cost.

    python3 gen.py <root> <corpus> <seed> <warm_files> <steady_files> <bursts> <burst_events>

Stages parquet part files of the `events` schema under <root>/staging
(the prefill goes straight into <root>/events.parquet), writes
<root>/manifest.json, prints "staged", then obeys commands on stdin:

    play <n>   rename the next n stream files into events.parquet at
               RATE files/s, open loop: file i is due at start + i/RATE
               on CLOCK_MONOTONIC, and its lateness is logged
    burst <k>  rename burst k's files back to back; prints
               "burst <k> <ns>" with the time the last one was visible
    quit       write <root>/renames.json and exit

Events: ids consecutive from 1, nanosecond ts strictly increasing in
event_id, and every other column (user_id, event_type, value, props)
resampled with the seed from the rows of <corpus>, the sf0.1 `events`
table. So the route mix (event_type shares) and the frame payloads
(props) are the corpus's own. manifest.json lists the routes, most
frequent first.
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RATE = 10            # stream files per second
FILE_EVENTS = 500    # 5k events/s
PREFILL_FILES = 15
PREFILL_FILE_EVENTS = 10000
T0_NS = 1705276800 * 10**9  # 2024-01-15T00:00:00Z


def events(rng, corpus, codes_of, first_id, n, t_ns):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = t_ns + np.cumsum(rng.integers(50_000, 150_000, n)).astype(np.int64)
    rows = rng.integers(0, corpus.num_rows, n)
    sample = corpus.take(pa.array(rows))
    table = pa.table({
        "event_id": ids, "ts": ts,
        "user_id": sample.column("user_id"),
        "event_type": sample.column("event_type"),
        "value": sample.column("value"),
        "props": sample.column("props")})
    return table, ts, codes_of[rows]


def main():
    root, corpus_path, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    warm, steady, bursts, burst_events = map(int, sys.argv[4:8])
    rng = np.random.default_rng(seed)
    corpus = pq.read_table(corpus_path, columns=["user_id", "event_type", "value", "props"])
    types = corpus.column("event_type").to_numpy(zero_copy_only=False)
    names, counts = np.unique(types, return_counts=True)
    routes = [str(r) for r in names[np.argsort(-counts, kind="stable")]]
    codes_of = np.array([routes.index(t) for t in types], dtype=np.uint8)
    staging = os.path.join(root, "staging")
    live = os.path.join(root, "events.parquet")
    os.makedirs(staging)
    os.makedirs(live)
    manifest = {"routes": routes, "stream": [], "bursts": []}
    next_id, t_ns = 1, T0_NS
    all_ts, all_codes = [], []

    def write(dirname, name, n):
        nonlocal next_id, t_ns
        table, ts, codes = events(rng, corpus, codes_of, next_id, n, t_ns)
        t_ns = int(ts[-1])
        all_ts.append(ts)
        all_codes.append(codes)
        pq.write_table(table, os.path.join(dirname, name))
        entry = {"file": name, "first": next_id, "last": next_id + n - 1}
        next_id += n
        return entry

    for i in range(PREFILL_FILES):
        write(live, f"part-prefill-{i:03d}.parquet", PREFILL_FILE_EVENTS)
    for i in range(warm + steady):
        manifest["stream"].append(write(staging, f"part-stream-{i:05d}.parquet", FILE_EVENTS))
    per_file = 10000
    for k in range(bursts):
        manifest["bursts"].append([
            write(staging, f"part-burst-{k:02d}-{j:02d}.parquet", per_file)
            for j in range(burst_events // per_file)])
    manifest["last_id"] = next_id - 1
    # ground truth for the delivery checks: n, route code per id, ts per id
    with open(os.path.join(root, "truth.bin"), "wb") as fh:
        fh.write(np.int64(next_id - 1).tobytes())
        fh.write(np.concatenate(all_codes).tobytes())
        fh.write(np.concatenate(all_ts).astype("<i8").tobytes())
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    print("staged", flush=True)

    renames = []
    stream_at = 0

    def rename(entry, due_ns):
        os.rename(os.path.join(staging, entry["file"]), os.path.join(live, entry["file"]))
        renames.append({"file": entry["file"], "due_ns": due_ns,
                        "done_ns": time.monotonic_ns()})

    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "play":
            start = time.monotonic_ns()
            for i in range(int(cmd[1])):
                due = start + i * (10**9 // RATE)
                wait = due - time.monotonic_ns()
                if wait > 0:
                    time.sleep(wait / 1e9)
                rename(manifest["stream"][stream_at], due)
                stream_at += 1
            print("played", flush=True)
        elif cmd[0] == "burst":
            k = int(cmd[1])
            due = time.monotonic_ns()
            for entry in manifest["bursts"][k]:
                rename(entry, due)
            print(f"burst {k} {renames[-1]['done_ns']}", flush=True)
        elif cmd[0] == "quit":
            break
    with open(os.path.join(root, "renames.json"), "w") as fh:
        json.dump(renames, fh)


if __name__ == "__main__":
    main()
