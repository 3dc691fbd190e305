"""Statistics, span arithmetic and the metric definitions of the benchmark.

Everything here works on the run record the JVM harness writes
(``run.json``) and has no dependency outside the standard library, so the
self-tests in ``tests/`` run without a JVM.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIB = 1024.0 * 1024.0


def valid_name(name):
    """Metric names: letters, digits, ``_``, ``.`` and ``-``, at most 64."""
    return NAME_RE.fullmatch(name) is not None


# --- percentiles -----------------------------------------------------------

def beyond(n, q):
    """Samples strictly above the nearest-rank ``q``-th percentile of ``n``."""
    return n - math.ceil(q / 100.0 * n)


def supported(n, q):
    """A percentile is reported only with at least ten samples beyond it."""
    return n > 0 and beyond(n, q) >= 10


def percentile(values, q):
    """Nearest-rank percentile; raises if ``values`` cannot support ``q``."""
    if not supported(len(values), q):
        raise ValueError(f"p{q:g} needs 10 samples beyond it; have {len(values)} samples")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100.0 * len(ordered)) - 1)]


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# --- spans -----------------------------------------------------------------

def union_length(intervals):
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    Children are clipped to the parent's interval and overlapping children
    (parallel stages, concurrent jobs) are counted once.
    """
    s, e = span["start_ns"], span["end_ns"]
    clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in children]
    return (e - s) - union_length([(a, b) for a, b in clipped if b > a])


class Trace:
    """Index over the spans of one traced run."""

    def __init__(self, spans):
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def descendants(self, span_id):
        out, todo = [], list(self.children.get(span_id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out


# --- end-to-end metrics ----------------------------------------------------

def query_seconds(q):
    return q["construct_s"] + q["action_s"]


def pass_seconds(p):
    return sum(query_seconds(q) for q in p["queries"])


def warm_passes(run, traced=None):
    return [p for p in run["passes"]
            if p["kind"] == "warm" and (traced is None or p["traced"] == traced)]


def end_to_end(run, setup_s):
    """The user-visible metrics of one untraced run."""
    warm = warm_passes(run)
    pass_s = [pass_seconds(p) for p in warm]
    per_query = [query_seconds(q) for p in warm for q in p["queries"]]
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (pass_seconds(run["passes"][0]), "s"),
        "pass_s": (statistics.median(pass_s), "s"),
        "query_p50_s": (percentile(per_query, 50), "s"),
        "peak_heap_mb": (run["peak_heap_mb"], "MB"),
    }


# --- per-layer metrics -----------------------------------------------------

def _sum(spans, key):
    return sum(s["attrs"].get(key, 0.0) for s in spans)


def _per_pass(trace, p):
    spans = trace.descendants(p["span"])
    kinds = {}
    for s in spans:
        kinds.setdefault(s["kind"], []).append(s)
    constructs = kinds.get("construct", [])
    jobs = kinds.get("job", [])
    stages = kinds.get("stage", [])
    batches = kinds.get("microbatch", [])
    construct_ids = {s["id"] for s in constructs}
    run_ms = _sum(stages, "task_run_ms")
    cpu_ns = _sum(stages, "task_cpu_ns")
    # a streaming query's state is the state after its last batch
    last = {}
    for b in batches:
        run_id, batch_id = b["name"].rsplit(" ", 1)
        if int(batch_id) >= last.get(run_id, (-1, None))[0]:
            last[run_id] = (int(batch_id), b)
    final = [b for _, b in last.values()]
    with_data = [b for b in batches if b["attrs"].get("input_rows", 0) > 0]
    return {
        "queries.construct_s": sum(
            self_time(c, trace.children.get(c["id"], [])) for c in constructs) / 1e9,
        "queries.construct_jobs": sum(
            1 for j in jobs if j["parent"] in construct_ids and not j["attrs"].get("streaming")),
        "queries.analysis_ms": _sum(spans, "analysis_ms"),
        "queries.optimization_ms": _sum(spans, "optimization_ms"),
        "queries.planning_ms": _sum(spans, "planning_ms"),
        "operators.jobs": len(jobs),
        "operators.stages": len(stages),
        "operators.tasks": _sum(stages, "tasks"),
        "operators.exchanges": _sum(spans, "exchanges"),
        "operators.broadcasts": _sum(spans, "broadcasts"),
        "operators.reduce_partitions": sum(
            s["attrs"].get("tasks", 0) for s in stages if s["attrs"].get("reads_shuffle")),
        "operators.task_run_s": run_ms / 1e3,
        "operators.task_cpu_s": cpu_ns / 1e9,
        "operators.cpu_share": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "operators.scan_mb": _sum(stages, "scan_bytes") / MIB,
        "operators.shuffle_write_mb": _sum(stages, "shuffle_write_bytes") / MIB,
        "operators.shuffle_read_mb": _sum(stages, "shuffle_read_bytes") / MIB,
        "operators.fetch_wait_s": _sum(stages, "fetch_wait_ms") / 1e3,
        "operators.spill_mb": _sum(stages, "spill_bytes") / MIB,
        "operators.gc_s": p["gc_s"],
        "operators.peak_exec_mem_mb": max(
            [s["attrs"].get("peak_exec_mem_bytes", 0.0) for s in stages] or [0.0]) / MIB,
        "streaming.queries": _sum(spans, "streaming_queries"),
        "streaming.batches": len(batches),
        "streaming.data_share": len(with_data) / len(batches) if batches else 0.0,
        "streaming.input_rows": _sum(batches, "input_rows"),
        "streaming.addbatch_s": _sum(batches, "addBatch.ms") / 1e3,
        "streaming.planning_s": _sum(batches, "queryPlanning.ms") / 1e3,
        "streaming.offset_s": sum(_sum(batches, k) for k in (
            "latestOffset.ms", "getOffset.ms", "getEndOffset.ms", "setOffsetRange.ms")) / 1e3,
        "streaming.wal_s": (_sum(batches, "walCommit.ms") + _sum(batches, "commitOffsets.ms")) / 1e3,
        "streaming.state_instances": _sum(batches, "state_instances"),
        "streaming.state_commit_s": _sum(batches, "state_commit_ms") / 1e3,
        "streaming.state_rows": _sum(final, "state_rows"),
        "streaming.state_mb": _sum(final, "state_bytes") / MIB,
        "streaming.late_dropped": _sum(batches, "late_dropped"),
        "_batch_ms": [b["attrs"].get("triggerExecution.ms", 0.0) for b in batches],
    }


PER_LAYER_UNITS = {
    "tables.load_s": "s",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.analysis_ms": "ms", "queries.optimization_ms": "ms", "queries.planning_ms": "ms",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.exchanges": "count", "operators.broadcasts": "count",
    "operators.reduce_partitions": "count",
    "operators.task_run_s": "s", "operators.task_cpu_s": "s", "operators.cpu_share": "ratio",
    "operators.scan_mb": "MB", "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB", "operators.fetch_wait_s": "s", "operators.spill_mb": "MB",
    "operators.gc_s": "s", "operators.peak_exec_mem_mb": "MB",
    "streaming.queries": "count", "streaming.batches": "count", "streaming.data_share": "ratio",
    "streaming.input_rows": "count", "streaming.addbatch_s": "s", "streaming.planning_s": "s",
    "streaming.offset_s": "s", "streaming.wal_s": "s",
    "streaming.mb_latency_p50_ms": "ms",
    "streaming.state_instances": "count", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB", "streaming.late_dropped": "count",
    "sources.stage_builds": "count", "sources.stage_build_s": "s",
    "trace.pass_s": "s", "trace.overhead": "ratio",
}


def per_layer(run):
    """Per-layer metrics of one traced run.

    Each is the median over the traced warm passes of its per-pass value,
    except ``tables.load_s`` (set-up) and ``sources.*`` (the cold pass, where
    the one-time stage builds happen). The micro-batch latency median pools
    every traced warm pass's batches and reads 0 when they are too few for
    the percentile rule. ``trace.overhead`` compares traced and untraced
    warm passes of the same JVM.
    """
    trace = Trace(run["spans"])
    traced = warm_passes(run, traced=True)
    untraced = warm_passes(run, traced=False)
    rows = [_per_pass(trace, p) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0] if not k.startswith("_")}
    batch_ms = [ms for r in rows for ms in r["_batch_ms"]]
    out["streaming.mb_latency_p50_ms"] = (
        percentile(batch_ms, 50) if supported(len(batch_ms), 50) else 0.0)
    cold = run["passes"][0]
    out["tables.load_s"] = sum(run["tables_s"].values())
    out["sources.stage_builds"] = cold["stage_builds"]
    out["sources.stage_build_s"] = cold["stage_build_s"]
    traced_s = statistics.median(pass_seconds(p) for p in traced)
    out["trace.pass_s"] = traced_s
    out["trace.overhead"] = traced_s / statistics.median(pass_seconds(p) for p in untraced) - 1
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
