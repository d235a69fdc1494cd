"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 30 --trace 0

Builds the program from source (``perfbench/build.py``), generates the
workload's inputs from the seed (``perfbench/gen.py``), runs one JVM with the
harness (``perfbench/scala/Harness.scala``), checks the outputs and prints
every metric by name with its unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced run (``--trace 1``).
See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("etl_daily", "queries_core", "queries_dedup")

# The timed work of a run is fixed by --seconds, never by a clock:
# etl_daily times round(seconds * ETL_DAYS_PER_S) days, a query workload
# round(seconds / PASS_S) passes. At --seconds 30 both time 12 operations.
ETL_HISTORY_DAYS = 40
ETL_ROWS_PER_DAY = 1000
ETL_WARM_DAYS = 1  # Harness.WarmDays
ETL_DAYS_PER_S = 0.4
PASS_S = {"queries_core": 40.0, "queries_dedup": 7.5}

UNITS = {
    "setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count", "spark.plan_s": "s",
    "spark.exchanges": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.sched_delay_s": "s", "spark.core_busy": "ratio",
    "spark.exec_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.task_skew": "ratio", "spark.failed_tasks": "count",
    "scan.input_bytes": "bytes", "scan.input_records": "count",
    "shuffle.write_bytes": "bytes", "shuffle.write_records": "count",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "cache.frames": "count", "cache.drain_s": "s", "cache.peak_mb": "MB",
    "sources.fetch_s": "s", "sources.fetch_jobs": "count", "incremental.loop_s": "s",
    "incremental.days_loaded": "count", "incremental.days_failed": "count",
    "sinks.insert_s": "s", "sinks.upsert_s": "s", "sinks.jobs_per_batch": "count",
    "sinks.lake_read_bytes": "bytes", "sinks.rows_offered": "count",
    "sinks.accept_ratio": "ratio", "sinks.write_amp": "ratio", "sinks.files_added": "count",
    "sinks.compact_s": "s", "lake.files": "count", "lake.bytes_per_row": "bytes",
    **{f"refq.{q}_s": "s" for q in report.REFQ},
}


def code_id(root, src_hash):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + src_hash[:16]


def etl_days(seconds):
    return max(1, round(seconds * ETL_DAYS_PER_S))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write this run's query digests to perfbench/digests.json")
    a = ap.parse_args()

    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    b = build.build(root, bdir)

    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))

    t = time.perf_counter()
    expected = None
    if a.workload == "etl_daily":
        units = etl_days(a.seconds)
        gen.etl(os.path.join(inputs, "etl"), a.seed, ETL_HISTORY_DAYS, ETL_WARM_DAYS + units,
                ETL_ROWS_PER_DAY)
        with open(os.path.join(inputs, "etl", "expected.json")) as f:
            expected = json.load(f)
    else:
        units = max(1, round(a.seconds / PASS_S[a.workload]))
        gen.tables(os.path.join(inputs, "tables"))
    gen_s = time.perf_counter() - t

    out = os.path.join(work, "run.json")
    cmd = b.java(work, [a.workload, str(a.seed), str(units), str(a.trace), inputs, work, out,
                        code_id(root, b.src_hash)])
    try:
        r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=170)
        if r.returncode != 0:
            raise SystemExit(f"harness failed with exit code {r.returncode}")
        with open(out) as f:
            rec = json.load(f)
    except subprocess.TimeoutExpired:
        raise SystemExit("harness timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    digest_file = os.path.join(HERE, "digests.json")
    digests = {}
    if os.path.exists(digest_file):
        with open(digest_file) as f:
            digests = json.load(f)
    if a.workload == "etl_daily":
        attempted, bad = report.etl_failures(rec, expected)
    else:
        if a.record_digests:
            digests[a.workload] = record(rec)
            with open(digest_file, "w") as f:
                json.dump(digests, f, indent=1, sort_keys=True)
        attempted, bad = report.query_failures(rec, digests.get(a.workload, {}))
    for x in bad:
        print("FAILED", x, file=sys.stderr)

    stamp = dict(rec["stamp"], box_pre=rec["box"]["pre"], box_post=rec["box"]["post"])
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print("setup " + json.dumps(dict(rec["setup"], gen_s=gen_s)))
    print(f"workload {a.workload} seed {a.seed} units {units} "
          f"attempted {attempted} failed {len(bad)} failed_frac {len(bad) / attempted:.4f}")

    landed = None
    if expected is not None:
        landed = report.etl_landed(rec, expected)[1]
    e2e, tail_info = report.end_to_end(rec, gen_s, landed)
    last = os.path.join(bdir, f"last_untraced_{a.workload}.json")
    if a.trace:
        metrics = report.layers(rec, rec["stamp"]["cores"], expected)
        units_of = LAYER_UNITS
        traced_out(bdir, a, rec, last, e2e)
    else:
        metrics, units_of = e2e, UNITS
        print(f"op_tail_s is p{tail_info['op_tail_pct']:.1f} of n={tail_info['ops']} operations")
        with open(last, "w") as f:
            json.dump({"run_s": e2e["run_s"], "seed": a.seed}, f)
    for k, v in metrics.items():
        print(f"metric {k} = {v:.6g} {units_of[k]}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }))


def record(rec):
    got = {}
    for op in rec["warm_ops"] + rec["ops"]:
        d = [op["rows"], op["xor"]]
        if not op["ok"] or got.setdefault(op["name"], d) != d:
            raise SystemExit(f"cannot record digests: {op['name']} failed or did not repeat")
    return got


def traced_out(bdir, a, rec, last, e2e):
    """Writes the spans (with self time) and the per-query receipts; reports
    tracing overhead against the last untraced run of this workload and
    whether the receipts repeat those of the previous traced run."""
    tdir = os.path.join(bdir, "trace")
    os.makedirs(tdir, exist_ok=True)
    selft = report.self_times(rec["spans"])
    for s in rec["spans"]:
        s["self_s"] = selft[s["id"]]
    path = os.path.join(tdir, f"{a.workload}-{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"ops": rec["ops"], "spans": rec["spans"], "stages": rec["stages"]}, f)
    print(f"trace spans written to {os.path.relpath(path)}")
    rc = report.receipts(rec)
    # the query tables do not depend on the seed; etl_daily's inputs do
    inputs_id = f"-{a.seed}" if a.workload == "etl_daily" else ""
    rpath = os.path.join(tdir, f"{a.workload}{inputs_id}-receipts.json")
    if os.path.exists(rpath):
        with open(rpath) as f:
            prev = json.load(f)
        diff = sorted(q for q in set(rc) | set(prev) if rc.get(q) != prev.get(q))
        print(f"receipts match previous traced run: {'yes' if not diff else 'no'}"
              + (f" (differ: {', '.join(diff)})" if diff else f" ({len(rc)} operations)"))
    with open(rpath, "w") as f:
        json.dump(rc, f, indent=1, sort_keys=True)
    for q, r in sorted(rc.items()):
        print("receipt " + q + " " + json.dumps(r, sort_keys=True))
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)["run_s"]
        print(f"tracing overhead: traced run_s {e2e['run_s']:.3f} - untraced run_s {base:.3f}"
              f" = {e2e['run_s'] - base:+.3f} s")
    else:
        print("tracing overhead: no untraced run of this workload to compare with")


if __name__ == "__main__":
    main()
