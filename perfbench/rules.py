"""Pure rules of the benchmark: percentiles, span self time, failure
counting and the metric catalogue. No I/O; `test_rules.py` covers them.
"""
import math
import statistics

# end-to-end metrics, printed by every untraced run: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "1/s",
    "heap_peak_mb": "MB",
}

# per-workload report metrics (the workload-specific figures), printed on
# the line before the result: name -> unit
REPORT = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "sqlgen_p50_s": "s",
    "docs_per_s": "docs/s",
    "ingest_p50_s": "s",
    "takedown_p50_s": "s",
    "write_tail_s": "s",
    "freshness_p50_s": "s",
    "probe_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "failed_frac": "ratio",
    "heap_peak_mb": "MB",
}

# per-layer metrics, printed by every traced run: name -> unit
PER_LAYER = {
    "queries.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plan.exchanges": "count",
    "codegen.classes": "count",
    "codegen.compile_s": "s",
    "jvm.jit_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.wait_s": "s",
    "scheduler.failed_tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.deserialize_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "sqlgen.to_sql_s": "s",
    "sqlgen.reparse_s": "s",
    "sqlgen.sql_chars": "count",
    "sources.ingest_s": "s",
    "sources.upsert_s": "s",
    "sources.delete_s": "s",
    "sources.maintain_s": "s",
    "sources.snapshot_read_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.jobs_per_commit": "count",
    "streaming.drain_s": "s",
    "streaming.triggers": "count",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.useful_trigger_frac": "ratio",
    "operators.index_append_s": "s",
    "operators.index_delete_s": "s",
    "operators.index_compact_s": "s",
    "operators.index_probe_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
}

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n):
    """The highest whole percentile (50..99) of n samples that leaves at
    least MIN_BEYOND samples above its nearest-rank position; 50 when no
    such percentile exists."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= MIN_BEYOND:
            return p
    return 50


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        return 0.0
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def tail(xs):
    """(percentile used, its value) for one run's samples; with too few
    samples for a tail, the median."""
    p = tail_percentile(len(xs))
    return p, (median(xs) if p == 50 else percentile(xs, p))


def union_length(intervals, lo=None, hi=None):
    """Length covered by a set of (start, end) intervals, optionally
    clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
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
    """Self time of each span: its duration minus the part of it its
    children cover (overlapping children are counted once).
    `spans` is a list of dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(
            kids, s["start"], s["end"])
    return out


def failed_frac(attempted, failed, wrong):
    """Failed operations plus wrong-output operations over attempted.
    An operation that both failed and was wrong counts once: `failed`
    and `wrong` are sets of operation ids."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return len(set(failed) | set(wrong)) / attempted


def metric_block(values, catalogue):
    """{name: {"value", "unit"}} for exactly the catalogue's names, in
    its order; a missing or non-finite value is an error."""
    out = {}
    for name, unit in catalogue.items():
        v = values.get(name)
        if v is None or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} has no finite value: {v!r}")
        out[name] = {"value": v, "unit": unit}
    return out
