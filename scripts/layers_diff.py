#!/usr/bin/env python3
"""Compare the per-query `[layers]` rows of two graft.Bench runs.

Usage:
  python3 scripts/layers_diff.py PARENT.err CHANGE.err
  python3 scripts/layers_diff.py RUN.err

Each file is a Bench (or Sentinel) stderr capture. Rows are matched by
(query, sample). For each pair the answer fields (ok, rows, digest) and
the plan counters (exchanges, build_jobs, stages, tasks,
shuffle_write_records) are compared. Prints one summary line, then one
line per query that differs. Exits 1 when an answer differs or a query
is missing on one side; counter differences alone exit 0.

With one file (a run of 2+ samples) it is a stability report: each
query's later samples are compared with its sample 1 on the counters
only. Prints one summary line, then one line per query whose counters
flap, and exits 0.
"""
import json
import sys

ANSWER = ["ok", "rows", "digest"]
COUNTERS = ["exchanges", "build_jobs", "stages", "tasks", "shuffle_write_records"]


def rows(path: str) -> dict:
    out = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("[layers] "):
                r = json.loads(line[len("[layers] "):])
                out[(r["query"], r["sample"])] = r
    return out


def main(parent_path: str, change_path: str) -> int:
    parent, change = rows(parent_path), rows(change_path)
    lines, answers, counters = [], 0, 0
    missing = sorted(parent.keys() ^ change.keys())
    for q, s in missing:
        side = parent_path if (q, s) in parent else change_path
        lines.append(f"{q} [sample {s}]: only in {side}")
    for key in sorted(parent.keys() & change.keys()):
        p, c = parent[key], change[key]
        diff = [f"{k} {p.get(k)} -> {c.get(k)}"
                for k in ANSWER + COUNTERS if p.get(k) != c.get(k)]
        if diff:
            if any(p.get(k) != c.get(k) for k in ANSWER):
                answers += 1
            else:
                counters += 1
            lines.append(f"{key[0]} [sample {key[1]}]: " + ", ".join(diff))
    matched = len(parent.keys() & change.keys())
    print(f"{matched} rows matched ({len(parent)} parent, {len(change)} change): "
          f"{answers} differ in answers, {counters} in counters only, "
          f"{len(missing)} missing on one side")
    for line in lines:
        print(line)
    return 1 if answers or missing else 0


def stability(path: str) -> int:
    run = rows(path)
    flaps = []
    for q in sorted({q for q, _ in run}):
        first = run.get((q, 1))
        later = sorted(s for p, s in run if p == q and s > 1)
        if first is None or not later:
            continue
        diff = [f"{k} {first.get(k)} -> {run[(q, s)].get(k)} [sample {s}]"
                for s in later for k in COUNTERS if run[(q, s)].get(k) != first.get(k)]
        if diff:
            flaps.append(f"{q}: " + ", ".join(diff))
    queries = len({q for q, _ in run})
    print(f"{queries} queries, {len(run)} rows: {len(flaps)} with counters that flap")
    for line in flaps:
        print(line)
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 2:
        sys.exit(stability(sys.argv[1]))
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
