"""Turn one run record (written by `lakebench.Main`) into metrics.

The record holds raw facts: set-up times, one entry per client
operation, expected results, and, in a traced run, spans, Spark jobs,
streaming progress, I/O and JVM counters. Everything derived from them
-- percentiles, output checks, self times, per-layer metrics, tracing
overhead -- is computed here.
"""

import math
import re
import statistics

MB = 1024.0 * 1024.0
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# End-to-end metrics every workload reports; BENCHMARK.json bounds them.
END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_gmean_ms", "ms"),
    ("bytes_per_user_byte", "ratio"),
]
# Reported beside them, not bounded: the median of a mix of operation
# kinds jumps between kinds, and the tail of a mix is its slowest kind.
END_TO_END_UNBOUNDED = [
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
]

# End-to-end metrics that apply to one workload only, by operation kinds.
# They are printed in the report and kept in the result file.
TYPED_LATENCY = {
    "versioned_writes": {
        "write_p50_ms": ("append", "update", "pop"),
        "merge_p50_ms": ("merge",),
        "diff_p50_ms": ("diff",),
        "snapshot_read_p50_ms": ("head_read", "time_travel"),
        "feed_lag_p50_ms": ("feed",),
    },
    "interactive_reads": {
        "point_read_p50_ms": ("point_read",),
        "text_search_p50_ms": ("text_search",),
        "vector_search_p50_ms": ("vector_search_ivf", "vector_search_hnsw"),
        "vector_search_ivf_p50_ms": ("vector_search_ivf",),
        "vector_search_hnsw_p50_ms": ("vector_search_hnsw",),
        "filter_p50_ms": ("filter",),
        "snapshot_read_p50_ms": ("snapshot_aggregate",),
    },
}

# Per-layer metrics of a traced run: (name, unit).
SPAN_METRICS = {
    "format.stage": "format.stage_ms",
    "format.commit": "format.commit_ms",
    "format.load": "format.load_ms",
    "format.log": "format.log_ms",
    "format.snapshot_plan": "format.snapshot_plan_ms",
    "format.merge": "format.merge_ms",
    "operators.vector_index_build": "operators.vector_index_build_ms",
    "operators.text_index_build": "operators.text_index_build_ms",
    "operators.dedup": "operators.dedup_ms",
    "operators.knn_join": "operators.knn_join_ms",
    "operators.vector_search.ivf": "operators.vector_search_ms.ivf",
    "operators.vector_search.hnsw": "operators.vector_search_ms.hnsw",
    "operators.text_search": "operators.text_search_ms",
}
SAMPLE_METRICS = [
    ("format.manifest_bytes_last", "bytes"),
    ("format.meta_bytes", "bytes"),
    ("format.data_files", "count"),
]
STREAM_KEYS = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
}
PER_LAYER = (
    [(m, "ms") for m in SPAN_METRICS.values()]
    + SAMPLE_METRICS
    + [("fs.read_ops", "count"), ("fs.write_ops", "count"),
       ("fs.bytes_written", "bytes")]
    + [(m, "ms") for m in STREAM_KEYS] + [("streaming.batches", "count")]
    + [("spark.jobs", "count"), ("spark.job_wall_ms", "ms"),
       ("spark.driver_gap_ms", "ms"), ("spark.tasks", "count"),
       ("spark.max_stage_tasks", "count"), ("spark.executor_cpu_ms", "ms"),
       ("spark.slot_util", "ratio"), ("spark.scan_mb", "MB"),
       ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
       ("spark.spill_mb", "MB")]
    + [("operators.ann_recall_at_10", "ratio"),
       ("operators.dedup_pair_recall", "ratio"),
       ("operators.dedup_pair_precision", "ratio")]
    + [("jvm.gc_ms", "ms"), ("jvm.gc_count", "count"),
       ("jvm.heap_peak_mb", "MB"), ("jvm.jit_ms", "ms")]
    + [("trace.overhead_ratio", "ratio")]
)


# ---- statistics -------------------------------------------------------------

def tail_index(n):
    """Index, in ascending order, of the highest sample that has at least
    ten samples above it -- never below the median's index. None when
    n == 0."""
    if n == 0:
        return None
    return max(n - 11, n // 2)


def latency_summary(values):
    """Median and tail of a list of latencies, with the sample count and
    the percentile the tail stands for."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50": None, "tail": None, "tail_pct": None}
    i = tail_index(n)
    return {"n": n, "p50": statistics.median(xs), "tail": xs[i],
            "tail_pct": round(100.0 * (i + 1) / n, 1)}


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (t0, t1) intervals, clipped to [lo, hi]."""
    iv = []
    for a, b in intervals:
        if a is None or b is None or (isinstance(b, float) and math.isnan(b)):
            continue
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans, jobs):
    """Self time of every span: its duration minus the part of it covered
    by its child spans and by the Spark jobs it launched."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for j in jobs:
        if j.get("span", -1) >= 0:
            children.setdefault(j["span"], []).append((j["t0"], j["t1"]))
    return {s["id"]: (s["t1"] - s["t0"])
            - union_ms(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


# ---- output checks ----------------------------------------------------------

def evaluate_check(check, got):
    """Return (passed, score) for one expected result. `score` is the
    recall of approximate answers and None for exact ones."""
    kind = check["kind"]
    want = check["want"]
    if got is None:
        return False, None
    if kind == "equal":
        return got == want, None
    if kind == "recall_scores":
        k = check.get("k", len(want))
        eps = check.get("eps", 1e-4)
        if len(want) < k:
            return False, 0.0
        kth = want[k - 1]
        hits = sum(1 for s in got[:k] if s is not None and s >= kth - eps)
        recall = min(hits, k) / k
        return recall >= check.get("min_recall", 1.0), recall
    if kind == "recall_ids":
        k = check.get("k", 10)
        if len(got) != len(want):
            return False, 0.0
        rs = [len(set(g[:k]) & set(w[:k])) / k for g, w in zip(got, want)]
        recall = sum(rs) / len(rs) if rs else 0.0
        return recall >= check.get("min_recall", 1.0), recall
    if kind == "pairs":
        g, w = set(got), set(want)
        hit = len(g & w)
        recall = hit / len(w) if w else 1.0
        precision = hit / len(g) if g else 0.0
        ok = (recall >= check.get("min_recall", 1.0)
              and precision >= check.get("min_precision", 1.0))
        return ok, (recall, precision)
    raise ValueError(f"unknown check kind {kind}")


def judge(record):
    """Per-op verdicts. Returns (verdicts, scores): verdicts maps op id to
    True (ok) / False (threw or wrong); scores maps op id to check score."""
    ops = {o["id"]: o for o in record["ops"]}
    verdict = {i: bool(o["ok"]) for i, o in ops.items()}
    scores = {}
    for c in record["checks"]:
        o = ops.get(c["op"])
        if o is None:
            continue
        passed, score = evaluate_check(c, o.get("got"))
        scores[c["op"]] = score
        if not passed:
            verdict[c["op"]] = False
    return verdict, scores


# ---- metrics ----------------------------------------------------------------

def _wall(o):
    return o["t1"] - o["t0"]


def kind_gmean_p50(ops):
    """Geometric mean, over operation kinds, of each kind's median
    latency. Every kind weighs the same however many times the sequence
    runs it, and a kind's median does not jump between kinds the way the
    median of a mixed list of 20 to 40 operations does."""
    walls = {}
    for o in ops:
        walls.setdefault(o["kind"], []).append(_wall(o))
    meds = [statistics.median(v) for v in walls.values()]
    if not meds or min(meds) <= 0:
        return None
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def end_to_end(record, phase="measure"):
    ops = [o for o in record["ops"] if o["phase"] == phase]
    walls = [_wall(o) for o in ops]
    busy_s = sum(walls) / 1000.0
    summ = latency_summary(walls)
    fp = record.get("footprints") or []
    out = {
        "setup_s": statistics.median(record["setups_s"]) if record["setups_s"] else None,
        "ops_per_s": len(ops) / busy_s if busy_s > 0 else None,
        "op_p50_gmean_ms": kind_gmean_p50(ops),
        "bytes_per_user_byte": statistics.median(fp) if fp else None,
        "op_p50_ms": summ["p50"],
        "op_tail_ms": summ["tail"],
    }
    return out, summ


def typed_metrics(record, phase="measure"):
    """Workload-specific end-to-end metrics: per-kind latency medians,
    rows per second and ANN recall."""
    wl = record["meta"]["workload"]
    ops = [o for o in record["ops"] if o["phase"] == phase]
    out = {name: latency_summary([_wall(o) for o in ops if o["kind"] in kinds])
           for name, kinds in TYPED_LATENCY.get(wl, {}).items()}
    _, scores = judge(record)
    ids = {o["id"] for o in ops}
    recalls = [s for i, s in scores.items()
               if i in ids and isinstance(s, float)]
    if recalls:
        out["ann_recall_at_10"] = statistics.mean(recalls)
    if wl == "batch_pipeline":
        passes = pass_times(ops)
        out["pass_p50_ms"] = latency_summary(passes)
        rows = sum(o["rows"] for o in ops if o["kind"] == "ingest")
        busy = sum(passes) / 1000.0
        out["rows_per_s"] = rows / busy if busy > 0 else None
    return out


def pass_times(ops):
    """Wall time of each complete pass of a batch_pipeline run."""
    out, cur = [], None
    for o in ops:
        if o["kind"] == "ingest":
            if cur is not None:
                out.append(cur)
            cur = 0.0
        if cur is not None:
            cur += _wall(o)
    if cur is not None:
        out.append(cur)
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _attribute_jobs(record, ops):
    """Finished jobs, each attributed to an operation: by the job-local
    property the runner set, or else -- jobs started on threads outside
    any span, such as streaming micro-batches -- to the operation running
    when the job started."""
    jobs = [dict(j) for j in record["jobs"] if j["t1"] is not None]
    for j in jobs:
        if j.get("op", -1) < 0:
            j["op"] = next((o["id"] for o in ops if o["t0"] <= j["t0"] <= o["t1"]), -1)
    return jobs


def spark_per_op(ops, jobs):
    """Spark counters of each operation: jobs, the union of their
    intervals (job wall), the rest of the operation (driver gap), tasks,
    executor CPU and run time, and bytes scanned, shuffled and spilled."""
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append(j)
    out = {}
    for o in ops:
        mine = by_op.get(o["id"], [])
        wall = union_ms([(j["t0"], j["t1"]) for j in mine], o["t0"], o["t1"])
        out[o["id"]] = {
            "jobs": len(mine), "job_wall_ms": wall,
            "driver_gap_ms": _wall(o) - wall,
            "tasks": sum(j["tasks"] for j in mine),
            "max_stage_tasks": max([j["max_stage_tasks"] for j in mine] or [0]),
            "executor_cpu_ms": sum(j["cpu_ms"] for j in mine),
            "run_ms": sum(j["run_ms"] for j in mine),
            "scan_mb": sum(j["input_bytes"] for j in mine) / MB,
            "shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in mine) / MB,
            "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in mine) / MB,
            "spill_mb": sum(j["spill_bytes"] for j in mine) / MB,
        }
    return out



def per_layer(record):
    """Per-layer metrics from the traced phase of a traced run. Span
    metrics are mean self time per call; counters are per operation."""
    cores = record["meta"]["cores"]
    ops = [o for o in record["ops"] if o["phase"] == "traced"]
    n = max(len(ops), 1)
    spans = record["spans"]
    jobs = _attribute_jobs(record, ops)
    selfs = self_times(spans, jobs)
    out = {}
    for span_name, metric in SPAN_METRICS.items():
        out[metric] = _mean([selfs[s["id"]] for s in spans if s["name"] == span_name])
    for name, _ in SAMPLE_METRICS:
        vals = [s["value"] for s in record["samples"] if s["name"] == name]
        out[name] = vals[-1] if vals else 0.0
    for key in ("read_ops", "write_ops", "bytes_written"):
        out["fs." + key] = _mean([o["fs"].get(key, 0) for o in ops])
    phase = next((p for p in record["phases"] if p["name"] == "traced"), None)
    lo, hi = (phase["t0"], phase["t1"]) if phase else (0.0, float("inf"))
    batches = [p for p in record["progress"]
               if lo <= p["t"] <= hi and p["rows"] > 0]
    for metric, key in STREAM_KEYS.items():
        out[metric] = _mean([p["duration"].get(key, 0) for p in batches])
    feeds = sum(1 for o in ops if o["kind"] == "feed")
    out["streaming.batches"] = len(batches) / feeds if feeds else 0.0
    sp = list(spark_per_op(ops, jobs).values())
    for key in ("jobs", "job_wall_ms", "driver_gap_ms", "tasks", "executor_cpu_ms",
                "scan_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out["spark." + key] = sum(x[key] for x in sp) / n
    out["spark.max_stage_tasks"] = max([x["max_stage_tasks"] for x in sp] or [0])
    busy = sum(x["job_wall_ms"] for x in sp) * cores
    out["spark.slot_util"] = sum(x["run_ms"] for x in sp) / busy if busy else 0.0
    _, scores = judge(record)
    ids = {o["id"] for o in ops}
    mine = [s for i, s in scores.items() if i in ids]
    out["operators.ann_recall_at_10"] = _mean([s for s in mine if isinstance(s, float)])
    pairs = [s for s in mine if isinstance(s, tuple)]
    out["operators.dedup_pair_recall"] = _mean([p[0] for p in pairs])
    out["operators.dedup_pair_precision"] = _mean([p[1] for p in pairs])
    jvm = phase["jvm"] if phase else {}
    out["jvm.gc_ms"] = jvm.get("gc_ms", 0.0) / n
    out["jvm.gc_count"] = jvm.get("gc_count", 0.0) / n
    out["jvm.heap_peak_mb"] = jvm.get("heap_peak_mb", 0.0)
    out["jvm.jit_ms"] = jvm.get("jit_ms", 0.0) / n
    out["trace.overhead_ratio"] = overhead_ratio(record)
    return out


def overhead_ratio(record):
    """Traced wall over untraced wall for the same operation sequence.
    Each of the three phases (untraced, traced, untraced) starts the
    sequence from its first step, so the first M operations of each are
    the same operations; the traced sum is divided by the mean of the
    two untraced sums, which cancels drift such as JIT warm-up."""
    phases = [[o for o in record["ops"] if o["phase"] == p]
              for p in ("untraced_a", "traced", "untraced_b")]
    m = min(len(p) for p in phases)
    while m > 0 and len({tuple(o["kind"] for o in p[:m]) for p in phases}) > 1:
        m -= 1
    if m == 0:
        return 0.0
    ua, tr, ub = (sum(_wall(o) for o in p[:m]) for p in phases)
    return 2 * tr / (ua + ub) if ua + ub > 0 else 0.0


def per_kind(record, phase):
    """Per operation kind: latency summary and, in the traced phase, mean
    self time of each span name and mean Spark counters per operation."""
    ops = [o for o in record["ops"] if o["phase"] == phase]
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)
    out = {k: latency_summary([_wall(o) for o in v]) for k, v in kinds.items()}
    if phase != "traced":
        return out
    jobs = _attribute_jobs(record, ops)
    selfs = self_times(record["spans"], jobs)
    sp = spark_per_op(ops, jobs)
    kind_of = {o["id"]: o["kind"] for o in ops}
    acc = {}
    for s in record["spans"]:
        k = kind_of.get(s["op"])
        if k is not None:
            acc.setdefault(k, {}).setdefault(s["name"], []).append(selfs[s["id"]])
    for k, v in kinds.items():
        out[k]["self_ms_per_op"] = {nm: sum(x) / len(v)
                                    for nm, x in sorted(acc.get(k, {}).items())}
        out[k]["spark_per_op"] = {key: _mean([sp[o["id"]][key] for o in v])
                                  for key in sp[v[0]["id"]]}
    return out


def summarize(record, trace):
    """The final result object: correct / attempted / failed / metrics."""
    verdict, _ = judge(record)
    attempted = len(verdict)
    failed = sum(1 for ok in verdict.values() if not ok)
    checked = len(record["checks"])
    if trace:
        values = per_layer(record)
        units = dict(PER_LAYER)
    else:
        values, _ = end_to_end(record)
        units = dict(END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return {"correct": failed == 0 and checked > 0 and attempted > 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}
