"""Metric arithmetic: percentiles, span self times, and the end-to-end and
per-layer metrics of one run, computed from the JVM's raw records."""
import math
import statistics

from plan import CLASSES, TAIL_CLASSES

# The end-to-end metrics every workload prints (units), in BENCHMARK.json order.
END_TO_END = {
    "setup_s": "s",
    "narrow_ms_p50": "ms",
    "wide_ms_p50": "ms",
    "heap_live_peak_mb": "MB",
    "stored_bytes_per_row": "B/row",
}

# Percentile ladder for op_ms_tail: it reports the highest rung with at
# least ten samples beyond it, so a run needs 20 operations for any.
LADDER = [99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0]

STREAM_PHASES = ["triggerExecution", "addBatch", "getBatch", "latestOffset",
                 "queryPlanning", "walCommit", "commitOffsets"]
STREAM_NAMES = ["trigger_ms", "add_batch_ms", "get_batch_ms", "latest_offset_ms",
                "query_planning_ms", "wal_commit_ms", "commit_offsets_ms"]
SELF_LAYERS = ["op", "sqlext", "spark", "scan", "format", "commands", "streaming", "extras"]

PER_LAYER = {
    "sqlext.analyze_ms": "ms",
    "spark.optimize_ms": "ms",
    "spark.sched_ms": "ms",
    "spark.work_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "plans.fastpath_ratio": "ratio",
    "scan.plan_ms": "ms",
    "scan.files_matched_ratio": "ratio",
    "scan.rows_examined_per_row": "rows/row",
    "format.manifest_hit_ratio": "ratio",
    "format.commit_ms": "ms",
    "format.commit_attempts": "count",
    "format.metadata_kb_per_commit": "KB",
    "write.mb_per_op": "MB",
    "write.files_per_op": "count",
    "write.mb_per_s": "MB/s",
    "write.load_ms": "ms",
    "commands.files_touched_ratio": "ratio",
    "commands.rows_rewritten_per_op": "rows",
    **{f"streaming.{n}": "ms" for n in STREAM_NAMES},
    "extras.dedup_exact_ms": "ms",
    "extras.near_dup_ms": "ms",
    "extras.token_count_ms": "ms",
    "extras.lsh_max_bucket": "count",
    "extras.rows_kept_ratio": "ratio",
    "jvm.gc_ms": "ms",
    **{f"{layer}.self_ms": "ms" for layer in SELF_LAYERS},
    "trace.overhead_pct": "%",
}


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, ladder=LADDER):
    """Highest rung of the ladder with at least ten of n samples beyond it,
    or None when n is too small for any rung."""
    for p in ladder:
        if beyond(n, p) >= 10:
            return p
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def resolve_parents(spans):
    """Attach each event span (parent -1, not an op root) to the innermost
    call span of the same operation that contains it."""
    calls = [s for s in spans if s["parent"] >= 0 or s["name"] == "op"]
    for s in spans:
        if s["parent"] >= 0 or s["name"] == "op":
            continue
        inside = [c for c in calls if c["op"] == s["op"] and c["id"] != s["id"]
                  and c["start"] <= s["start"] and s["end"] <= c["end"] + 1.0]
        if inside:
            s["parent"] = min(inside, key=lambda c: c["end"] - c["start"])["id"]
    return spans


def self_times(spans):
    """Span id -> self time: its duration minus the part of it that its
    child spans cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def class_p50(ops, cls):
    return _median([r["ms"] for r in ops if r["cls"] == cls and r["ok"]])


def op_tail(out, workload):
    """(percentile, samples, value) of op_ms_tail; value None below 20 samples."""
    tail_ms = [r["ms"] for r in out["ops"] if r["cls"] in TAIL_CLASSES[workload] and r["ok"]]
    p = tail_percentile(len(tail_ms))
    return p, len(tail_ms), None if p is None else percentile(tail_ms, p)


def end_to_end(out, workload):
    """The bounded end-to-end metrics of an untraced run."""
    ops = out["ops"]
    stored = out["final"]["stored"]
    return {
        "setup_s": out["session_s"] + statistics.median(out["rounds_s"]) + out["warmup_s"],
        "narrow_ms_p50": _mean([class_p50(ops, c) for c in CLASSES[workload]["narrow"]]),
        "wide_ms_p50": _mean([class_p50(ops, c) for c in CLASSES[workload]["wide"]]),
        "heap_live_peak_mb": max(out["heap_mb"]),
        "stored_bytes_per_row": _ratio(stored["bytes"], stored["rows"]),
    }


def report(out, workload, failed):
    """Every end-to-end metric that applies to the workload, bounded or
    not, for the human-readable table: name -> (value, unit)."""
    ops = out["ops"]
    e2e = end_to_end(out, workload)
    rows = {"setup_s": (e2e["setup_s"], "s"),
            "failed_frac": (_ratio(failed, len(ops)), "ratio"),
            "heap_live_peak_mb": (e2e["heap_live_peak_mb"], "MB")}
    p, n, tail = op_tail(out, workload)
    if tail is not None:
        rows[f"op_ms_tail(p{p:g},n={n})"] = (tail, "ms")
    for c in CLASSES[workload]["narrow"] + CLASSES[workload]["wide"]:
        rows[f"{c}_ms_p50"] = (class_p50(ops, c), "ms")
    if workload == "lake_write":
        writes = [r for r in ops if "changed_rows" in r]
        rows["write_amp"] = (_ratio(sum(r.get("added_records", 0) for r in writes),
                                    sum(r["changed_rows"] for r in writes)), "rows/row")
        rows["ingest_rows_per_s"] = (_median([r["rows"] / (r["ms"] / 1000.0) for r in ops
                                              if r["cls"] == "ingest" and r["ok"]]), "rows/s")
    rows["stored_bytes_per_row"] = (e2e["stored_bytes_per_row"], "B/row")
    return rows


def _spans(out):
    spans = resolve_parents([dict(zip(["id", "name", "start", "end", "parent", "op"], s))
                             for s in out["trace"]["spans"]])
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    return spans, by_op


def _span_ms(by_op, r, name):
    return sum(s["end"] - s["start"] for s in by_op.get(r["id"], []) if s["name"] == name)


def _in_window(times, r):
    return sum(1 for x in times if r["t0"] <= x <= r["t1"])


def spark_split(out, by_op):
    """Where each traced operation's wall went: one dict per operation
    with its wall, analyse, optimise, task-busy (work) and remaining
    (sched) time, and its job, stage and task counts."""
    t = out["trace"]
    rows = []
    for r in out["ops"]:
        if r["cls"] == "trigger" or not r["traced"]:
            continue
        d = {"cls": r["cls"], "ms": r["ms"],
             "analyze": _span_ms(by_op, r, "sqlext.analyze"),
             "optimize": sum(q[2] for q in t["queries"] if r["t0"] <= q[0] <= r["t1"]),
             "work": covered(t["tasks"], r["t0"], r["t1"]),
             "jobs": _in_window(t["jobs"], r), "stages": _in_window(t["stages"], r),
             "tasks": _in_window([a for a, _ in t["tasks"]], r)}
        d["sched"] = d["ms"] - d["analyze"] - d["optimize"] - d["work"]
        rows.append(d)
    return rows


def class_split(out):
    """spark_split per operation class: class -> medians of its fields."""
    by_cls = {}
    for d in spark_split(out, _spans(out)[1]):
        by_cls.setdefault(d.pop("cls"), []).append(d)
    return {c: {k: statistics.median(d[k] for d in ds) for k in ds[0]}
            for c, ds in sorted(by_cls.items())}


def per_layer(out, workload):
    """The per-layer metrics of a traced run: means per traced operation."""
    t = out["trace"]
    ops = [r for r in out["ops"] if r["cls"] != "trigger"]
    traced = [r for r in ops if r["traced"]]
    spans, by_op = _spans(out)
    selfs = self_times(spans)
    n = len(traced)
    m = {}
    split = spark_split(out, by_op)
    m["sqlext.analyze_ms"] = _mean([d["analyze"] for d in split])
    m["spark.optimize_ms"] = _mean([d["optimize"] for d in split])
    m["spark.work_ms"] = _mean([d["work"] for d in split])
    m["spark.sched_ms"] = _mean([d["sched"] for d in split])
    m["spark.jobs_per_op"] = _mean([d["jobs"] for d in split])
    m["spark.stages_per_op"] = _mean([d["stages"] for d in split])
    m["spark.tasks_per_op"] = _mean([d["tasks"] for d in split])
    qs = [q for q in t["queries"] if any(r["t0"] <= q[0] <= r["t1"] for r in traced)]
    m["plans.fastpath_ratio"] = _ratio(sum(1 for q in qs if q[3]), len(qs))

    ids = {r["id"] for r in traced}
    scans = [s for s in t["scans"] if s["op"] in ids]
    m["scan.plan_ms"] = _ratio(sum(s["plan_ms"] for s in scans), n)
    m["scan.files_matched_ratio"] = _ratio(sum(s["matched_files"] for s in scans),
                                           sum(s["total_files"] for s in scans))
    if workload == "lake_read":
        look = {r["id"]: len(r["rows"]) for r in traced if r["cls"] == "lookup"}
    else:
        look = {r["id"]: r.get("changed_rows", 0) for r in traced}
    m["scan.rows_examined_per_row"] = _ratio(
        sum(s["matched_records"] for s in scans if s["op"] in look), sum(look.values()))

    m["format.manifest_hit_ratio"] = _ratio(sum(r["manifest_hits"] for r in traced),
                                            sum(r["manifest_hits"] + r["manifest_misses"] for r in traced))
    commits = [c for c in t["commits"] if c["op"] in ids]
    m["format.commit_ms"] = _mean([c["ms"] for c in commits])
    m["format.commit_attempts"] = _mean([c["attempts"] for c in commits])
    meta = [r for r in ops if "metadata_bytes" in r]
    m["format.metadata_kb_per_commit"] = _ratio(sum(r["metadata_bytes"] for r in meta) / 1024.0,
                                                sum(r.get("commits", 1) for r in meta))

    writes = [r for r in ops if "new_bytes" in r]
    mb = sum(r["new_bytes"] for r in writes) / 1048576.0
    m["write.mb_per_op"] = _ratio(mb, len(writes))
    m["write.files_per_op"] = _ratio(sum(r["new_files"] for r in writes), len(writes))
    m["write.mb_per_s"] = _ratio(mb, sum(r["ms"] for r in writes) / 1000.0)
    m["write.load_ms"] = _ratio(sum(out["load_ms"]), len(out["rounds_s"]))
    rewrites = [r for r in ops if "removed_files" in r]
    m["commands.files_touched_ratio"] = _ratio(sum(r["removed_files"] for r in rewrites),
                                               sum(r["files_before"] for r in rewrites))
    m["commands.rows_rewritten_per_op"] = _ratio(sum(r["removed_records"] for r in rewrites),
                                                 len(rewrites))

    triggers = [r for r in out["ops"] if r["cls"] == "trigger"]
    for phase, name in zip(STREAM_PHASES, STREAM_NAMES):
        m[f"streaming.{name}"] = _mean([r["durations"].get(phase, 0) for r in triggers])
    curates = [r for r in traced if r["cls"] == "curate"]
    for step in ["dedup_exact", "near_dup", "token_count"]:
        m[f"extras.{step}_ms"] = _mean([_span_ms(by_op, r, f"extras.{step}") for r in curates])
    m["extras.lsh_max_bucket"] = max([v for x, v in t["max_bucket"]
                                      if any(r["t0"] <= x <= r["t1"] + 50 for r in curates)],
                                     default=0)
    fin = out["final"]
    m["extras.rows_kept_ratio"] = _ratio(fin.get("ref_curated_rows", 0), fin.get("staged_rows", 0))
    m["jvm.gc_ms"] = _mean([r["gc_ms"] for r in ops])

    for layer in SELF_LAYERS:
        total = sum(selfs[s["id"]] for s in spans if s["name"].split(".")[0] == layer
                    and s["op"] in ids)
        m[f"{layer}.self_ms"] = _ratio(total, n)

    over = []
    for c in {r["cls"] for r in ops}:
        on = [r["ms"] for r in ops if r["cls"] == c and r["traced"] and r["ok"]]
        off = [r["ms"] for r in ops if r["cls"] == c and not r["traced"] and r["ok"]]
        if on and off:
            over.append(100.0 * (statistics.median(on) / statistics.median(off) - 1.0))
    m["trace.overhead_pct"] = _mean(over)
    return m
