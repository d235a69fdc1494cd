#!/usr/bin/env python3
"""Compare the per-query `[layers]` rows of two graft.Bench runs.

Usage:
  python3 scripts/layers_diff.py PARENT.err CHANGE.err

Each file is a Bench (or Sentinel) stderr capture. Rows are matched by
(query, sample). For each pair the answer fields (ok, rows, digest) and
the plan counters (exchanges, build_jobs, stages, tasks,
shuffle_write_records) are compared. Prints one summary line, then one
line per query that differs. Exits 1 when an answer differs or a query
is missing on one side; counter differences alone exit 0.
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


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
