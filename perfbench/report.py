"""Turns a raw run record of perfbench.Main into metrics.

Pure functions over the record (no Spark), so the statistics, the self-time
rule and the attribution of scheduler events to ops are unit-tested in
test_report.py.
"""
import json
import math
import statistics

# (name, unit, better) — the order BENCHMARK.json lists them in.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

PER_LAYER = [
    ("model.parse_ms", "ms", "lower"),
    ("stages.translate_ms", "ms", "lower"),
    ("stages.analyzed_nodes", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("catalyst.optimized_nodes", "count", "lower"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_ms", "ms", "lower"),
    ("exec.wall_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_ms", "ms", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"),
    ("exec.sched_delay_ms", "ms", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("driver.collect_ms", "ms", "lower"),
    ("driver.result_rows", "count", "lower"),
    ("driver.result_bytes", "bytes", "lower"),
    ("sources.ingest_ms", "ms", "lower"),
    ("streaming.mutate_ms", "ms", "lower"),
    ("streaming.todf_ms", "ms", "lower"),
    ("streaming.recomputes", "count", "lower"),
    ("streaming.collection_rows", "count", "lower"),
    ("dedup.sign_ms", "ms", "lower"),
    ("dedup.pairs_ms", "ms", "lower"),
    ("dedup.cluster_ms", "ms", "lower"),
    ("dedup.survivor_ms", "ms", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.clusters", "count", "higher"),
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.heap_after_gc_mb", "MB", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.unattributed_ms", "ms", "lower"),
]
UNITS = {n: u for n, u, _ in END_TO_END + PER_LAYER}

# Per-layer time metrics read off a span: the span's summed duration per op,
# or, for "streaming.mutate", its self time (its children are the recomputes).
SPAN_METRICS = {
    "model.parse_ms": "model.parse",
    "stages.translate_ms": "stages.translate",
    "dedup.sign_ms": "dedup.sign",
    "dedup.pairs_ms": "dedup.pairs",
    "dedup.cluster_ms": "dedup.cluster",
    "dedup.survivor_ms": "dedup.survivor",
}
SELF_METRICS = {"streaming.mutate_ms": "streaming.mutate"}
# Spans whose end is "rows in hand": driver.collect_ms runs from the last
# job end inside them to their end.
COLLECT_SPANS = {"exec.collect"}
PERCENTILES = [50, 75, 90, 95, 99, 99.9]


# ---------------------------------------------------------------------------
# statistics


def quantile(values, p):
    """The median for p = 50; otherwise the nearest-rank percentile, the
    smallest value with at least p% of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if p == 50:
        return statistics.median(xs)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def betainc(a, b, x):
    """The regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), on the side where it converges fast."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 400):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return front * f


def hd_median(values):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the i-th weighted by the Beta((n+1)/2, (n+1)/2) mass between
    (i-1)/n and i/n. Unlike the sample median it does not jump across a gap
    between clusters of ops (pipeline_mix mixes fast and slow templates)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    a = (n + 1) / 2.0
    cdf = [betainc(a, a, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail_percentile(n):
    """The highest of PERCENTILES with at least ten samples beyond it, or
    None when even the median has fewer than ten beyond it."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= 10 - 1e-9:
            best = p
    return best


def pct_label(p):
    return ("%g" % p).replace(".", "_")


# ---------------------------------------------------------------------------
# spans


def merge_intervals(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals):
    return sum(e - s for s, e in merge_intervals(intervals))


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval that its children cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        clipped = [(max(lo, c["start_ns"]), min(hi, c["end_ns"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered([(a, b) for a, b in clipped if b > a])
    return out


# ---------------------------------------------------------------------------
# attribution of scheduler and query events to ops


def attribute(events):
    """Maps jobs, stages and tasks to op ids through the job group
    ("op-<id>") that the op set while it ran. Returns {op id: {"jobs":
    [(job, start_ms, end_ms)], "tasks": [task]}}."""
    ends = {e["job"]: e["time_ms"] for e in events.get("job_ends", [])}
    stage_op, per_op = {}, {}
    for j in events.get("jobs", []):
        g = j.get("group")
        if not g or not g.startswith("op-"):
            continue
        op = int(g[3:])
        slot = per_op.setdefault(op, {"jobs": [], "tasks": []})
        slot["jobs"].append((j["job"], j["time_ms"], ends.get(j["job"], j["time_ms"])))
        for s in j["stages"]:
            stage_op[s] = op
    for t in events.get("tasks", []):
        op = stage_op.get(t["stage"])
        if op is not None:
            per_op[op]["tasks"].append(t)
    return per_op


def exec_metrics(jobs, tasks):
    run = [t["run_ms"] for t in tasks]
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    multi = [v for v in by_stage.values() if len(v) >= 2]
    skew = 1.0
    if multi:
        heaviest = max(multi, key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else 1.0
    delay = sum(max(0, (t["finish_ms"] - t["launch_ms"]) - t["run_ms"] - t["deser_ms"]
                    - t["result_ser_ms"] - t["getting_result_ms"]) for t in tasks)
    return {
        "exec.wall_ms": covered([(s, e) for _, s, e in jobs]),
        "exec.jobs": len(jobs),
        "exec.stages": len(by_stage),
        "exec.tasks": len(tasks),
        "exec.task_run_ms": sum(run),
        "exec.task_cpu_ms": sum(t["cpu_ns"] for t in tasks) / 1e6,
        "exec.sched_delay_ms": delay,
        "exec.task_skew": skew,
        "exec.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "exec.shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "exec.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "exec.failed_tasks": sum(1 for t in tasks if t["failed"]),
        "driver.result_bytes": sum(t["result_bytes"] for t in tasks),
    }


def with_job_spans(spans, per_op, to_ns):
    """Adds one synthetic "exec.jobs" span per merged run of an op's jobs,
    as a child of the innermost span containing its midpoint, so that the
    self time of a collect span is the driver's share of it."""
    out = list(spans)
    next_id = max([s["id"] for s in spans], default=-1) + 1
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for op, slot in per_op.items():
        mine = by_op.get(op, [])
        for s_ms, e_ms in merge_intervals([(s, e) for _, s, e in slot["jobs"]]):
            lo, hi = to_ns(s_ms), to_ns(e_ms)
            mid = (lo + hi) / 2
            holders = [s for s in mine if s["start_ns"] <= mid <= s["end_ns"]]
            if not holders:
                continue
            parent = max(holders, key=lambda s: s["start_ns"])
            out.append({"id": next_id, "name": "exec.jobs", "op": op, "parent": parent["id"],
                        "start_ns": max(lo, parent["start_ns"]), "end_ns": min(hi, parent["end_ns"])})
            next_id += 1
    return out


def per_layer(record):
    """Per-op means over the traced ops of every PER_LAYER metric (0 for a
    layer the workload does not exercise), plus a per-span-name table."""
    traced = [o for o in record["ops"] if o["traced"] and not o["error"]]
    plain = [o["ms"] for o in record["ops"] if not o["traced"]]
    clock = record["clock"]

    def to_ns(ms):
        return clock["nano"] + (ms - clock["epoch_ms"]) * 1e6

    per_op = attribute(record["events"])
    spans = with_job_spans(record["spans"], per_op, to_ns)
    selfs = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    roots = {s["op"]: s for s in spans if s["parent"] == -1}
    queries = record["events"].get("queries", [])

    rows = []
    for o in traced:
        op = o["id"]
        mine = by_op.get(op, [])
        m = {name: 0.0 for name, _, _ in PER_LAYER}
        slot = per_op.get(op, {"jobs": [], "tasks": []})
        m.update(exec_metrics(slot["jobs"], slot["tasks"]))
        for metric, span in SPAN_METRICS.items():
            m[metric] = sum(s["end_ns"] - s["start_ns"] for s in mine if s["name"] == span) / 1e6
        for metric, span in SELF_METRICS.items():
            m[metric] = sum(selfs[s["id"]] for s in mine if s["name"] == span) / 1e6
        collect = 0.0
        for s in mine:
            if s["name"] in COLLECT_SPANS:
                job_ends = [to_ns(e) for _, _, e in slot["jobs"] if s["start_ns"] <= to_ns(e) <= s["end_ns"]]
                collect += (s["end_ns"] - max(job_ends)) / 1e6 if job_ends else 0.0
        m["driver.collect_ms"] = collect
        root = roots.get(op)
        if root is not None:
            lo = clock["epoch_ms"] + (root["start_ns"] - clock["nano"]) / 1e6
            hi = clock["epoch_ms"] + (root["end_ns"] - clock["nano"]) / 1e6
            mine_q = [q for q in queries if lo - 1 <= q["time_ms"] <= hi + 1]
            for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                m["catalyst." + k] = float(sum(q[k] for q in mine_q))
            m["catalyst.optimized_nodes"] = float(sum(q["optimized_nodes"] for q in mine_q))
            m["trace.unattributed_ms"] = selfs[root["id"]] / 1e6
        m.update({k: v for k, v in o["counters"].items() if k in m})
        rows.append(m)

    out = {name: (statistics.fmean(r[name] for r in rows) if rows else 0.0) for name, _, _ in PER_LAYER}
    ingest = [sub.get("sources.ingest_ms") for sub in record["setup"]["prepare_sub_ms"]]
    ingest = [x for x in ingest if x is not None]
    out["sources.ingest_ms"] = statistics.median(ingest) if ingest else 0.0
    out["jvm.heap_after_gc_mb"] = record["heap_after_gc_mb"]
    traced_ms = [o["ms"] for o in traced]
    out["trace.overhead_frac"] = (statistics.median(traced_ms) / statistics.median(plain) - 1
                                  if traced_ms and plain else 0.0)

    table = {}
    traced_ids = {o["id"] for o in traced}
    for s in spans:
        if s["op"] not in traced_ids:
            continue
        t = table.setdefault(s["name"], {"dur_ms": 0.0, "self_ms": 0.0, "count": 0})
        t["dur_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        t["self_ms"] += selfs[s["id"]] / 1e6
        t["count"] += 1
    n = max(1, len(traced))
    for t in table.values():
        t["dur_ms"] /= n
        t["self_ms"] /= n
    return out, table, spans, selfs


# ---------------------------------------------------------------------------
# summary and output


def summarize(record, spans_path=None):
    ops = record["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if o["error"])
    lat = [o["ms"] for o in ops if not o["error"]] or [o["ms"] for o in ops]
    setup = record["setup"]
    setup_s = setup["session_s"] + statistics.median(setup["prepare_s"]) + setup["warmup_s"]
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s", "n": len(setup["prepare_s"])},
        "op_p50_ms": {"value": hd_median(lat), "unit": "ms", "n": len(lat)},
        "ops_per_s": {"value": len(ops) / (sum(o["ms"] for o in ops) / 1e3),
                      "unit": "1/s", "n": len(ops)},
    }
    extra = {"error_rate": {"value": failed / attempted if attempted else 1.0, "unit": "ratio",
                            "n": attempted}}
    tail = tail_percentile(len(lat))
    if tail is not None and tail > 50:
        extra[f"op_p{pct_label(tail)}_ms"] = {"value": quantile(lat, tail), "unit": "ms", "n": len(lat)}
    if record["dedup_recall"]:
        extra["dedup_recall"] = {"value": statistics.median(record["dedup_recall"]), "unit": "ratio",
                                 "n": len(record["dedup_recall"])}
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    summary = {
        "workload": record["workload"], "seed": record["seed"], "trace": record["trace"],
        "attempted": attempted, "failed": failed,
        "errors": [o["error"] for o in ops if o["error"]][:5],
        "end_to_end": e2e, "extra": extra,
        "per_kind_p50_ms": {k: {"value": statistics.median(v), "n": len(v)} for k, v in sorted(kinds.items())},
        "setup": setup,
    }
    if record["trace"]:
        layers, table, spans, selfs = per_layer(record)
        summary["per_layer"] = {k: {"value": v, "unit": UNITS[k]} for k, v in layers.items()}
        summary["self_times"] = table
        summary["traced_ops"] = sum(1 for o in ops if o["traced"])
        if spans_path:
            with open(spans_path, "w") as fh:
                for s in spans:
                    fh.write(json.dumps(dict(s, self_ns=selfs[s["id"]])) + "\n")
            summary["spans_file"] = spans_path
    return summary


def tags(record):
    return {k: record.get(k) for k in ("workload", "seed", "head", "source_digest", "nproc",
                                       "heap_max_mb", "spark_version", "seconds", "wall_s")}


def render(record, summary):
    t = tags(record)
    lines = [f"# perfbench {t['workload']} seed={t['seed']} trace={int(record['trace'])} "
             f"head={t['head'] or 'n/a'} source={t['source_digest'][:12]} nproc={t['nproc']} "
             f"heap={t['heap_max_mb']}MB spark={t['spark_version']}"]
    for name, m in list(summary["end_to_end"].items()) + list(summary["extra"].items()):
        lines.append(f"{name:<28} {m['value']:>14.4f} {m['unit']:<6} n={m['n']}")
    for kind, m in summary["per_kind_p50_ms"].items():
        lines.append(f"  p50[{kind}]".ljust(29) + f"{m['value']:>14.4f} ms     n={m['n']}")
    for e in summary["errors"]:
        lines.append(f"ERROR {e[:300]}")
    if "per_layer" in summary:
        lines.append(f"## per layer, per traced op (n={summary['traced_ops']} traced ops)")
        for name, m in summary["per_layer"].items():
            lines.append(f"{name:<28} {m['value']:>16.4f} {m['unit']}")
        lines.append("## spans: mean per op of duration and self time (ms)")
        for name, s in sorted(summary["self_times"].items(), key=lambda kv: -kv[1]["self_ms"]):
            lines.append(f"{name:<28} dur {s['dur_ms']:>12.3f}  self {s['self_ms']:>12.3f}  spans {s['count']}")
        lines.append(f"spans file: {summary.get('spans_file')}")
    return lines


def result_line(summary, trace):
    names = PER_LAYER if trace else END_TO_END
    source = summary["per_layer"] if trace else summary["end_to_end"]
    return {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {n: {"value": source[n]["value"], "unit": u} for n, u, _ in names},
    }
