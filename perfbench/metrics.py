"""Turns the harness's raw result file into the benchmark's metrics.

The JVM harness (perfbench/src) records raw samples, spans and per-op
counters; everything statistical happens here, where it is unit-tested
(test_perfbench.py): percentiles, span self time, per-op means, ratios
and the failed-op accounting.
"""
import math
import statistics

# Spans whose self time is reported, by the name the harness gives them.
SELF_SPANS = {
    "op": "self.op_ms",
    "service.call": "self.service_call_ms",
    "action.collect": "self.action_collect_ms",
    "land": "self.land_ms",
    "stream.process": "self.stream_process_ms",
    "read.raw": "self.read_raw_ms",
    "rollups.refresh": "self.rollups_refresh_ms",
    "read.rollup": "self.read_rollup_ms",
}
ROOT_SPANS = ("read", "step")

# Per-op counters reported as per-op means under the same name.
PER_OP_COUNTERS = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "sources.files_read", "sources.partitions_read", "sources.bytes_read",
    "sources.rows_read", "sources.metadata_ms",
    "operators.agg_ms", "operators.fill_rows",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.input_rows",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.scheduler_wait_ms", "exec.gc_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.failed_tasks",
]


def nearest_rank(values, q):
    """The q-quantile (0 < q <= 1) by the nearest-rank rule."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(n, q):
    """How many of n ranked samples come after the nearest-rank q-quantile."""
    return n - max(1, math.ceil(q * n))


def tail(values, quantiles=(0.99, 0.95, 0.9, 0.75)):
    """The highest listed quantile that has at least ten samples beyond it,
    as (label, value), or None when even the lowest has fewer."""
    for q in quantiles:
        if beyond(len(values), q) >= 10:
            return f"p{round(q * 100)}", nearest_rank(values, q)
    return None


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - union_length(kids, s["start_ms"], s["end_ms"])
    return out


def account(attempted, failed):
    """Failed-op accounting: (correct, failed_op_ratio)."""
    if attempted < 1:
        return False, 1.0
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed == 0, failed / attempted


def _samples(raw, kind_prefix):
    return [s["ms"] for s in raw["samples"] if s["kind"].startswith(kind_prefix)]


def stratified_mean(samples):
    """Mean over strata (kind, shape) of each stratum's mean latency.

    A run cut by its deadline reads the strata unequally often; weighting
    every stratum alike keeps the figure independent of where the cut
    fell (a plain mean would move with the share of cheap reads)."""
    strata = {}
    for s in samples:
        strata.setdefault((s["kind"], s.get("shape", "")), []).append(s["ms"])
    return statistics.fmean(statistics.fmean(xs) for xs in strata.values())


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, plus a detail record
    (sample counts, tails, host markers) for the line before the result."""
    op_kind = "step" if raw["workload"] == "ingest_refresh" else "read."
    prefixes = {"op": op_kind, "rollup_read": "read.rollup", "raw_read": "read.raw"}
    metrics = {"setup_s": statistics.median(raw["setup_reps_s"])}
    detail = {"setup_reps_s": raw["setup_reps_s"]}
    for name, prefix in prefixes.items():
        xs = _samples(raw, prefix)
        metrics[f"{name}_mean_ms"] = stratified_mean(
            [s for s in raw["samples"] if s["kind"].startswith(prefix)])
        detail[f"{name}_n"] = len(xs)
        detail[f"{name}_p50_ms"] = statistics.median(xs)
        t = tail(xs)
        if t:
            detail[f"{name}_{t[0]}_ms"] = t[1]
    d = raw["detail"]
    metrics["stored_bytes_per_event"] = d["stored_bytes"] / d["events"]
    metrics["live_heap_mb"] = d["live_heap_bytes"] / 2.0 ** 20
    detail["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    return metrics, detail


def per_layer(raw, tmp_leaked):
    """The per-layer metrics of a traced run, as per-op means unless the
    name says otherwise."""
    ops = raw["ops"]
    n = len(ops)
    if n < 1:
        raise ValueError("traced run recorded no ops")
    counters = [o["counters"] for o in ops]

    def total(key):
        return sum(c.get(key, 0.0) for c in counters)

    def total_prefix(prefix):
        return sum(v for c in counters for k, v in c.items() if k.startswith(prefix))

    def ratio(num, den):
        return num / den if den else 0.0

    out = {k: total(k) / n for k in PER_OP_COUNTERS}
    # spans: mean per op of each span's duration and self time
    spans = raw["spans"]
    selfs = self_times(spans)
    dur = {}
    slf = {}
    op_windows = {}
    for s in spans:
        if s["op"] < 0:
            continue
        name = "op" if s["name"] in ROOT_SPANS and s["parent"] < 0 else s["name"]
        dur[name] = dur.get(name, 0.0) + s["end_ms"] - s["start_ms"]
        slf[name] = slf.get(name, 0.0) + selfs[s["id"]]
        if name == "op":
            op_windows[s["op"]] = (s["start_ms"], s["end_ms"])
    for name, metric in SELF_SPANS.items():
        out[metric] = slf.get(name, 0.0) / n
    out["service.call_ms"] = dur.get("service.call", 0.0) / n
    out["rollups.refresh_ms"] = dur.get("rollups.refresh", 0.0) / n
    # job intervals: driver gap = op wall minus the union of its jobs
    gap = 0.0
    for o in ops:
        lo, hi = op_windows[o["op"]]
        gap += (hi - lo) - union_length(o["jobs"], lo, hi)
    out["exec.driver_gap_ms"] = gap / n
    # tiers, per family, from the service's read log
    rollup_reads = total("service.fact_reads@rollup")
    out["service.rollup_served_ratio"] = ratio(
        total_prefix("service.tier_reads@rollup@rollup-"), rollup_reads)
    out["service.day_tier_ratio"] = ratio(
        total("service.tier_reads@rollup@rollup-day"), rollup_reads)
    out["sources.rows_read_per_row_returned"] = ratio(
        total("sources.rows_read"), total("service.rows_returned"))
    out["rollups.refresh_jobs"] = total("jobs@rollups.refresh") / n
    out["rollups.partitions_rewritten"] = total("write.parts@rollups.refresh") / n
    out["rollups.bytes_written"] = total("write.bytes@rollups.refresh") / n
    out["eventstore.bytes_written_per_event"] = ratio(
        total("eventstore.bytes_written"), total("eventstore.events_landed"))
    out["eventstore.files_per_batch"] = total("eventstore.files_written") / n
    out["workspace.tmp_entries_leaked"] = tmp_leaked
    op_kind = "step" if raw["workload"] == "ingest_refresh" else "read."
    out["jvm.peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    out["trace.op_mean_ms"] = stratified_mean(
        [s for s in raw["samples"] if s["kind"].startswith(op_kind)])
    out["trace.ops"] = n
    return out


def result_line(raw, metrics, spec, traced):
    """The final JSON object: every metric BENCHMARK.json declares for this
    mode, with its unit. Raises if one is missing."""
    declared = spec["per_layer" if traced else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not produced: {', '.join(missing)}")
    correct, _ = account(raw["attempted"], raw["failed"])
    return {
        "correct": correct,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
