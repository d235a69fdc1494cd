"""Turns one harness run record into the benchmark's metrics.

Pure functions over the JSON the Scala harness writes, so the rules (tail
percentile, failure counting, span self time, layer roll-ups) are testable
without a Spark session.
"""

import statistics

REFQ = ["qa", "qb", "qc", "qd", "qe", "qf", "qg", "qh"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile, n). With ``n <= beyond`` no percentile
    qualifies and the maximum is returned with percentile 100.
    """
    s = sorted(values)
    n = len(s)
    k = n - beyond
    if k < 1:
        return s[-1], 100.0, n
    return s[k - 1], 100.0 * k / n, n


# --- correctness -------------------------------------------------------------

def query_failures(rec, digests):
    """Operations that threw or whose (rows, xor) digest differs from the
    recorded one. Warm-up operations are checked too."""
    bad = []
    for op in rec["warm_ops"] + rec["ops"]:
        want = digests.get(op["name"])
        if not op["ok"]:
            bad.append(f"{op['name']}: threw: {op['err']}")
        elif want is None:
            bad.append(f"{op['name']}: no recorded digest")
        elif [op["rows"], op["xor"]] != want:
            bad.append(f"{op['name']}: digest {[op['rows'], op['xor']]} != recorded {want}")
    return len(rec["warm_ops"]) + len(rec["ops"]), bad


def etl_failures(rec, expected):
    """Failed days, broken lake invariants and Qa–Qh digest mismatches."""
    day_ops = rec["warm_ops"] + rec["ops"]
    bad = [f"{op['name']}: {op['err']}" for op in day_ops if not op["ok"]]
    lake = rec["lake"]
    ndays = len(day_ops)
    want_rows = expected["history_rows"] + sum(d["accepted"] for d in expected["days"][:ndays])
    checks = [
        ("rows", lake["rows"], want_rows),
        ("distinct violation_id", lake["distinct_ids"], lake["rows"]),
        ("watermark", lake["watermark"], lake["last_day"]),
        ("weather watermark", lake["weather_watermark"], lake["last_day"]),
    ]
    bad += [f"lake {name}: {got} != {want}" for name, got, want in checks if got != want]
    want_q = {q["name"]: [q["rows"], q["xor"]] for q in rec["refq_expected"]}
    for q in rec["refq"]:
        if [q["rows"], q["xor"]] != want_q.get(q["name"]):
            bad.append(f"refq {q['name']}: {[q['rows'], q['xor']]} != {want_q.get(q['name'])}")
    return ndays + len(checks) + len(REFQ), bad


def etl_landed(rec, expected):
    """(rows offered, rows landed) by the timed days."""
    w, n = len(rec["warm_ops"]), len(rec["ops"])
    offered = sum(d["offered"] for d in expected["days"][w:w + n])
    before = expected["history_rows"] + sum(d["accepted"] for d in expected["days"][:w])
    return offered, rec["lake"]["rows"] - before


# --- end-to-end ----------------------------------------------------------------

def end_to_end(rec, gen_s, landed_rows=None):
    ops = [op["wall_s"] for op in rec["ops"]]
    setup = rec["setup"]
    t, pct, n = tail(ops)
    if landed_rows is None:
        rows_per_s = sum(op["rows"] for op in rec["ops"] if op["ok"]) / sum(ops)
    else:
        rows_per_s = landed_rows / sum(ops)
    return {
        "setup_s": gen_s + sum(setup.values()),
        "run_s": rec["run_s"],
        "op_p50_s": median(ops),
        "op_tail_s": t,
        "rows_per_s": rows_per_s,
        "peak_rss_mb": rec["peak_rss_mb"],
    }, {"op_tail_pct": pct, "ops": n}


# --- traced run ----------------------------------------------------------------

def self_times(spans):
    """span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(c["start_s"], lo), min(c["end_s"], hi))
                           for c in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def inclusive(spans):
    """span id -> counters of its own jobs plus those of all descendants."""
    by_id = {s["id"]: dict(s["counters"]) for s in spans}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children have larger ids
        if s["parent"] >= 0:
            acc = by_id[s["parent"]]
            for k, v in by_id[s["id"]].items():
                acc[k] = acc.get(k, 0) + v
    return by_id


def _sum(spans, name, key=None, incl=None):
    sel = [s for s in spans if s["name"] == name]
    if key is None:
        return sum(s["end_s"] - s["start_s"] for s in sel)
    return sum(incl[s["id"]].get(key, 0) for s in sel)


def layers(rec, cores, expected=None):
    spans = rec["spans"]
    incl = inclusive(spans)
    selft = self_times(spans)
    tot = {}
    for s in spans:
        for k, v in s["counters"].items():
            tot[k] = tot.get(k, 0) + v
    exec_s = tot.get("job_wall_ms", 0) / 1e3
    run_s = tot.get("task_run_ms", 0) / 1e3
    slowest = max(rec["stages"], key=lambda st: st["wall_ms"], default=None)
    skew = 0.0
    if slowest and slowest["task_ms"] and median(slowest["task_ms"]) > 0:
        skew = max(slowest["task_ms"]) / median(slowest["task_ms"])
    drains = [s for s in spans if s["name"] == "drain"]
    sink_spans = [s for s in spans if s["name"] in ("sinks.insert", "sinks.upsert")]
    m = {
        "queries.build_s": _sum(spans, "build"),
        "queries.build_jobs": _sum(spans, "build", "jobs", incl),
        "spark.plan_s": _sum(spans, "plan"),
        "spark.exchanges": sum(s["attrs"].get("exchanges", 0) for s in spans if s["name"] == "plan"),
        "spark.jobs": tot.get("jobs", 0),
        "spark.stages": tot.get("stages", 0),
        "spark.tasks": tot.get("tasks", 0),
        "spark.sched_delay_s": tot.get("sched_delay_ms", 0) / 1e3,
        "spark.core_busy": run_s / (exec_s * cores) if exec_s else 0.0,
        "spark.exec_s": exec_s,
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": tot.get("task_cpu_ns", 0) / 1e9,
        "spark.gc_s": tot.get("gc_ms", 0) / 1e3,
        "spark.task_skew": skew,
        "spark.failed_tasks": tot.get("failed_tasks", 0),
        "scan.input_bytes": tot.get("input_bytes", 0),
        "scan.input_records": tot.get("input_records", 0),
        "shuffle.write_bytes": tot.get("shuffle_write_bytes", 0),
        "shuffle.write_records": tot.get("shuffle_write_records", 0),
        "shuffle.read_bytes": tot.get("shuffle_read_bytes", 0),
        "shuffle.fetch_wait_s": tot.get("fetch_wait_ms", 0) / 1e3,
        "spill.bytes": tot.get("spill_bytes", 0),
        "cache.frames": sum(s["attrs"].get("frames", 0) for s in drains),
        "cache.drain_s": _sum(spans, "drain"),
        "cache.peak_mb": max((s["attrs"].get("cache_mb", 0) for s in drains), default=0.0),
        "sources.fetch_s": _sum(spans, "sources.fetch"),
        "sources.fetch_jobs": _sum(spans, "sources.fetch", "jobs", incl),
        "incremental.loop_s": sum(selft[s["id"]] for s in spans if s["name"] == "incremental.run"),
        "incremental.days_loaded": 0,
        "incremental.days_failed": 0,
        "sinks.insert_s": _sum(spans, "sinks.insert"),
        "sinks.upsert_s": _sum(spans, "sinks.upsert"),
        "sinks.jobs_per_batch": (sum(incl[s["id"]].get("jobs", 0) for s in sink_spans) / len(sink_spans)
                                 if sink_spans else 0.0),
        "sinks.lake_read_bytes": sum(incl[s["id"]].get("input_bytes", 0) for s in sink_spans),
        "sinks.rows_offered": 0,
        "sinks.accept_ratio": 0.0,
        "sinks.write_amp": 0.0,
        "sinks.files_added": 0,
        "sinks.compact_s": _sum(spans, "sinks.compact"),
        "lake.files": 0,
        "lake.bytes_per_row": 0.0,
    }
    for q in REFQ:
        m[f"refq.{q}_s"] = _sum(spans, f"refq.{q}")
    if expected is not None:
        lake = rec["lake"]
        offered, landed = etl_landed(rec, expected)
        grew = lake["pre_compact_bytes"] - lake["seed_bytes"]
        written = sum(incl[s["id"]].get("output_bytes", 0) for s in sink_spans)
        m.update({
            "incremental.days_loaded": sum(op["rows"] for op in rec["ops"]),
            "incremental.days_failed": sum(1 for op in rec["ops"] if not op["ok"]),
            "sinks.rows_offered": offered,
            "sinks.accept_ratio": landed / offered if offered else 0.0,
            "sinks.write_amp": written / grew if grew > 0 else 0.0,
            "sinks.files_added": lake["pre_compact_files"] - lake["seed_files"],
            "lake.files": lake["files"],
            "lake.bytes_per_row": lake["bytes"] / lake["rows"] if lake["rows"] else 0.0,
        })
    return m


def receipts(rec):
    """Per query operation (and per Qa–Qh query of ``etl_daily``): the
    counters that should repeat exactly between two traced runs of the same
    code, config and inputs."""
    spans = rec["spans"]
    incl = inclusive(spans)
    names = {op["id"]: op["name"] for op in rec["ops"]}
    out = {}
    for s in spans:
        if s["name"] == "query" and s["op"] in names:
            key = names[s["op"]]
        elif s["name"].startswith("refq."):
            key = s["name"]
        else:
            continue
        kids = [c for c in spans if c["parent"] == s["id"]]
        build = [c for c in kids if c["name"] == "build"]
        plan = [c for c in kids if c["name"] == "plan"]
        out.setdefault(key, {
            "spark.exchanges": sum(c["attrs"].get("exchanges", 0) for c in plan),
            "spark.stages": incl[s["id"]].get("stages", 0),
            "spark.tasks": incl[s["id"]].get("tasks", 0),
            "shuffle.write_records": incl[s["id"]].get("shuffle_write_records", 0),
            "queries.build_jobs": sum(incl[c["id"]].get("jobs", 0) for c in build),
        })
    return out
