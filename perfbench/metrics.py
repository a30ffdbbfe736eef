"""Turns one harness run's raw measurements into the reported metrics.

Kept free of Spark and of the JVM so that `test_perfbench.py` can check
it directly.
"""
import math
import statistics

# Percentiles tried for a tail figure, highest first. A fixed ladder keeps
# the reported tail the same quantity across runs whose sample counts
# differ a little.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def tail(xs):
    """Highest ladder percentile, by nearest rank, with at least ten
    samples beyond it.

    Returns (percentile, value, samples_beyond). With too few samples for
    any rung the maximum is returned as percentile 100 with 0 beyond.
    """
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        r = max(1, math.ceil(p / 100.0 * n - 1e-9))
        if n - r >= TAIL_MIN_BEYOND:
            return p, s[r - 1], n - r
    return 100.0, s[-1], 0


def failed_counts(ops, checks):
    """(attempted, failed): every client call and every correctness check
    is one attempt; a call that raised or a check that did not hold is one
    failure."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def _union_length(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in ns}: a span's duration minus the part of it
    that its children cover (children may overlap one another)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - _union_length(covered)
    return out


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


# per-layer "<name>.ms" figures: the span whose self time is reported
SPAN_MS = [
    "sources.read_counts", "trend.rebin", "tables.save_binned",
    "trend.poisson_lc", "trend.poisson_cycle", "trend.linreg", "trend.mk",
    "trend.wdt", "trend.detect",
    "ml.dedup.minhash", "ml.lex.build", "ml.lex.query", "ml.lex.append",
    "ml.lex.fold", "ml.lex.delete", "ml.index.build", "ml.index.query",
    "ml.index.upsert", "ml.index.delete", "ml.index.rebuild",
]
# per-layer counts read from span attributes: metric -> (span, attribute)
SPAN_ATTRS = {
    "sources.read_counts.rows": ("sources.read_counts", "rows"),
    "trend.rebin.rows_out": ("trend.rebin", "rows_out"),
    "trend.detect.rows_out": ("trend.detect", "rows_out"),
    "ml.dedup.candidate_pairs": ("ml.dedup.minhash", "candidate_pairs"),
}
SPARK_SUMS = {
    "spark.jobs": ("jobs", 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.failed_tasks": ("failed_tasks", 1),
    "spark.input_bytes": ("input_bytes", 1),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "spark.spill_bytes": ("spill_bytes", 1),
    "spark.executor_cpu_s": ("executor_cpu_ns", 1e-9),
    "spark.gc_s": ("gc_ms", 1e-3),
}


def per_layer(raw, untraced_makespans=()):
    """Per-layer metrics of a traced run. `untraced_makespans` are the
    makespans of untraced runs of the same build and workload; the tracing
    overhead is this run's makespan minus their median (0 without any)."""
    spans = raw["spans"]
    selft = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for name in SPAN_MS:
        per_op = [sum(selft[s["id"]] for s in ss if s["name"] == name) / 1e6
                  for ss in by_op.values() if any(s["name"] == name for s in ss)]
        out[name + ".ms"] = _median(per_op)
    for metric, (name, attr) in SPAN_ATTRS.items():
        per_op = [sum(s["attrs"].get(attr, 0) for s in ss if s["name"] == name)
                  for ss in by_op.values() if any(s["name"] == name for s in ss)]
        out[metric] = _median(per_op)
    rebin = [s["spark"].get("shuffle_write_bytes", 0) for s in spans if s["name"] == "trend.rebin"]
    out["trend.rebin.shuffle_bytes"] = _median(rebin)
    cand = [s for s in spans if s["name"] == "ml.dedup.minhash"]
    n_cand = sum(s["attrs"].get("candidate_pairs", 0) for s in cand)
    out["ml.dedup.useful_ratio"] = (
        sum(s["attrs"].get("verified_pairs", 0) for s in cand) / n_cand if n_cand else 0.0)
    for layer in ("lex", "index"):
        qs = [s for s in spans if s["name"] == f"ml.{layer}.query"]
        results = sum(s["attrs"].get("results", 0) for s in qs)
        scanned = sum(s["spark"].get("input_records", 0) for s in qs)
        out[f"ml.{layer}.rows_scanned_per_result"] = scanned / results if results else 0.0

    # Spark engine: per op (a pass, a client call, a micro-batch)
    ops = list(by_op.values())
    for metric, (field, scale) in SPARK_SUMS.items():
        totals = [sum(s["spark"].get(field, 0) for s in ss) * scale for ss in ops]
        out[metric] = statistics.fmean(totals) if totals else 0.0
    plan, gap = [], []
    for ss in ops:
        root = min(ss, key=lambda s: s["start_ns"])
        plan.append(sum(s["spark"].get("plan_ms", 0) for s in ss))
        jobs = [tuple(iv) for s in ss for iv in s["spark"].get("job_intervals_ms", [])]
        gap.append((root["end_ns"] - root["start_ns"]) / 1e6 - _union_length(jobs))
    out["spark.plan_ms"] = _median(plan)
    out["spark.driver_gap_ms"] = _median(gap)

    traced = raw["passes"]
    out["trace.overhead_ms"] = (
        (_median(traced) - _median(untraced_makespans)) * 1e3
        if traced and untraced_makespans else 0.0)
    out.update(raw.get("layer", {}))
    return out


def end_to_end(raw):
    """End-to-end metrics of an untraced run, plus details for the artifact."""
    ok_ms = raw.get("latency_ms")
    if ok_ms is None:
        ok_ms = [o["ms"] for o in raw["ops"] if o["ok"]]
    p, tail_v, beyond = tail(ok_ms) if ok_ms else (100.0, 0.0, 0)
    plain = raw["passes"]
    metrics = {
        "setup_s": _median(raw["setup_s"]),
        "makespan_s": _median(plain),
        "latency_p50_ms": _median(ok_ms),
        "latency_tail_ms": tail_v,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    details = {
        "latency_samples": len(ok_ms),
        "latency_tail_percentile": p,
        "latency_tail_samples_beyond": beyond,
        "passes": len(plain),
        "setup_runs": len(raw["setup_s"]),
    }
    # per-kind call latencies (corpus_store: lex/ann reads and writes)
    kinds = {}
    for o in raw["ops"]:
        if o["ok"]:
            kinds.setdefault(o["kind"], []).append(o["ms"])
    for k, xs in sorted(kinds.items()):
        kp, kv, kb = tail(xs)
        details[f"{k}_p50_ms"] = _median(xs)
        details[f"{k}_tail_ms"] = kv
        details[f"{k}_tail_percentile"] = kp
        details[f"{k}_samples"] = len(xs)
    return metrics, details
