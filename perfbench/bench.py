"""Benchmark arithmetic: workloads, seed-ordered plans, output checks,
end-to-end and per-layer metrics, and the trace summary.

The JVM side (src/main/scala/perfbench/Main.scala) only records raw facts;
everything computed from them lives here so `test_bench.py` can check it.
"""

import math
import random
import statistics

# Each pass holds every operation of the workload once. `passes` is the
# number of passes at the run length BENCHMARK.json sets (REFERENCE_S), and
# scales with `--seconds`: the run length fixes the amount of work, not a
# time box, so a faster engine does the same operations sooner and every
# commit is compared on identical work.
WORKLOADS = {
    # Parquet scans, shuffle and broadcast joins, semi joins, aggregations,
    # cubes, windows, and the graft.plans join rules (band, range, as-of). The first pass compiles each query's code;
    # the later ones replay the same shapes warm, as a dashboard would.
    "olap_mix": {
        "kind": "query",
        "passes": 3,
        "tail_pct": 90,
        "warmup": "q09_null_audit",
        "ops": [
            "q03_join_agg", "q12_band_join", "q15_semi_join", "q21_scalar_subquery",
            "q23_cube", "q30_tumbling_window", "q118_asof_native", "q224_range_join_rule",
        ],
    },
    # The paper's forecasting pipeline. The calls depend on each other, so
    # their order is fixed, and so is the model seed, so that SMAPE repeats
    # exactly and can be checked tightly: the run seed changes nothing here.
    # Many tiny MLlib jobs, and concurrent job submission from the stacking
    # pool. Two passes, cold then warm: one cold pass leaves too few jobs
    # beyond a steady tail percentile.
    "sales_forecast": {
        "kind": "pipeline",
        "passes": 2,
        "tail_pct": 95,
        "warmup": "q09_null_audit",
        "ops": [
            "ml.generate", "ml.prepare",
            "ml.fit:enet", "ml.transform:enet", "functions.smape:enet",
            "ml.scale_correction:enet",
            "ml.stack_fit:stack", "ml.transform:stack", "functions.smape:stack",
        ],
    },
    # Structured Streaming registry queries with several micro-batches each:
    # staged parquet slices replayed through a stream-stream interval join
    # (join state on the default store), session eviction through
    # transformWithState on RocksDB, and a versioned upsert that crashes
    # and restarts from its checkpoint (WAL and commit-log recovery). The
    # warm-up is a small transformWithState stream, so that loading the
    # streaming and RocksDB code is set-up time and not charged to whichever
    # query the seed puts first.
    "stream_replay": {
        "kind": "stream",
        "passes": 1,
        "tail_pct": 75,
        "warmup": "q249_tws_sessions",
        "ops": ["q138_stream_attribution", "q250_tws_session_evict",
                "q253_stream_upsert_restart"],
    },
}

REFERENCE_S = 20
OP_TIMEOUT_S = 60
TAIL_BEYOND = 10  # samples that should lie beyond the reported tail value

# (name, unit) of every end-to-end metric.
END_TO_END = [("setup_s", "s"), ("mix_wall_s", "s"), ("job_mean_s", "s"),
              ("job_tail_s", "s"), ("heap_peak_mb", "MB")]


def passes_for(workload, seconds):
    return max(1, round(WORKLOADS[workload]["passes"] * seconds / REFERENCE_S))


def make_plan(workload, seed, seconds, trace):
    """[(phase, pass, op)] for one run. A traced run replays the timed
    sequence twice more, untraced and then traced, both warm, so that their
    difference is the tracing cost."""
    w = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}")
    seq = []
    for p in range(passes_for(workload, seconds)):
        ops = list(w["ops"])
        if w["kind"] != "pipeline":
            rng.shuffle(ops)
        seq += [(p, op) for op in ops]
    phases = ["timed", "warm", "traced"] if trace else ["timed"]
    return [(ph, p, op) for ph in phases for p, op in seq]


def percentile(values, pct):
    """Harrell-Davis estimate of the `pct`-th percentile of `values`: the
    mean of all order statistics weighted by a Beta(p(n+1), (1-p)(n+1))
    density. Job durations thin out and jump in the tail, where one or two
    interpolated order statistics move far from run to run; this estimate
    moves less. The weights integrate the density numerically, with 64
    midpoints over each sample's 1/n of the unit interval."""
    steps = 64
    x = sorted(values)
    n = len(x)
    p = pct / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def density(t):
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))

    h = 1.0 / (n * steps)
    w = [sum(density((i * steps + k + 0.5) * h) for k in range(steps)) for i in range(n)]
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def tail(workload, values):
    """(value, samples beyond it) at the workload's tail percentile. The
    percentile is fixed per workload, the highest step of 75/90/95/99 that
    leaves at least TAIL_BEYOND of its usual samples beyond it, so that it
    never changes between runs."""
    pct = WORKLOADS[workload]["tail_pct"]
    v = percentile(values, pct)
    return v, sum(1 for x in values if x > v)


# ---------------------------------------------------------------- checks

def op_failure(op, expected):
    """Why an executed operation counts as failed, or None."""
    if op.get("refused"):
        return "refused: run deadline passed"
    if op.get("timeout"):
        return "timed out"
    if not op.get("ok"):
        return "error: " + op.get("error", "")
    name = op["name"]
    if name in expected["smape_max"]:
        bound = expected["smape_max"][name]
        if not op.get("smape", float("inf")) <= bound:
            return f"smape {op.get('smape')} above {bound}"
    if "digest" in op:
        want = expected["digests"].get(name)
        if want is None:
            return "no recorded digest"
        if op["digest"] != want:
            return f"digest {op['digest']} != recorded {want}"
    return None


def failures(planned, executed, expected):
    """(attempted, [(op index, name, reason)]) for one phase. A planned
    operation with no record (the JVM died or was stopped) counts as
    refused."""
    by_index = {op["i"]: op for op in executed}
    failed = []
    for i, (_, name) in enumerate(planned):
        op = by_index.get(i)
        reason = "refused: no result" if op is None else op_failure(op, expected)
        if reason:
            failed.append((i, name, reason))
    return len(planned), failed


# --------------------------------------------------------------- metrics

def samples(phase):
    """Latency samples: the duration of every Spark job the phase ran. At
    this scale the engine is bound by per-job and driver overhead, and jobs
    give every workload a hundred or more samples per run."""
    return [ms / 1e3 for ms in phase["job_ms"]]


def setup_s(result):
    """Seconds from launching the JVM until its cold set-up (session,
    fixture open, warm-up) is done and the first timed operation starts."""
    return result["setup"]["ready_epoch_s"] - result["launched_epoch_s"]


def end_to_end(workload, result):
    phase = result["phases"]["timed"]
    lat = samples(phase)
    return {
        "setup_s": setup_s(result),
        "mix_wall_s": sum(p["wall_s"] for p in phase["passes"]),
        "job_mean_s": statistics.mean(lat),
        "job_tail_s": tail(workload, lat)[0],
        "heap_peak_mb": max(p["heap_after_gc_bytes"] for p in phase["passes"]) / 2**20,
    }


def self_times(spans):
    """{span id: duration minus the time its child spans cover}."""
    dur = {s["id"]: s["t1"] - s["t0"] for s in spans}
    own = dict(dur)
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= dur[s["id"]]
    return own


def union_s(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def max_overlap(intervals):
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                    key=lambda e: (e[0], e[1]))
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


SPAN_LAYERS = ["op", "registry.build", "plans.plan", "exec.run", "ml.generate",
               "ml.prepare", "ml.fit", "ml.transform", "functions.smape",
               "ml.scale_correction", "ml.stack_fit"]

# (name, unit) of every per-layer metric, in print order.
PER_LAYER = [
    ("jvm.start_s", "s"), ("session.create_s", "s"), ("session.warmup_s", "s"),
    ("sources.open_s", "s"), ("sources.input_bytes", "bytes"),
    ("sources.input_records", "count"),
    ("registry.build_s", "s"), ("registry.eager_jobs", "count"),
    ("plans.plan_s", "s"), ("plans.exchanges", "count"),
    ("plans.joins_broadcast", "count"), ("plans.joins_hash", "count"),
    ("plans.joins_sort_merge", "count"),
    ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_busy_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.core_util", "fraction"),
    ("exec.driver_gap_s", "s"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.task_skew", "ratio"),
    ("ml.generate_s", "s"), ("ml.prepare_s", "s"), ("ml.fit_s", "s"),
    ("ml.fit_jobs", "count"), ("ml.transform_s", "s"), ("functions.smape_s", "s"),
    ("ml.scale_correction_s", "s"), ("ml.stack_fit_s", "s"),
    ("ml.stack_jobs_concurrent_max", "count"), ("ml.forecast_wall_s", "s"),
    ("ml.smape", "%"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.commit_offsets_s", "s"),
    ("streaming.source_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_rows_updated", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.watermark_dropped_rows", "count"),
    ("streaming.batch_p50_s", "s"), ("streaming.batch_max_s", "s"),
    ("streaming.rows_per_s", "rows/s"),
    ("jvm.gc_s", "s"), ("jvm.gc_count", "count"),
    ("ops.p50_s", "s"), ("ops.max_s", "s"), ("ops.failed_share", "fraction"),
    ("trace.overhead_s", "s"), ("trace.overhead_share", "fraction"),
] + [(f"self.{layer}_share", "fraction") for layer in SPAN_LAYERS]


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(workload, result, failed_share):
    """Every PER_LAYER metric from the traced phase; a layer the workload
    does not reach reads 0."""
    setup = result["setup"]
    warm, ph = result["phases"]["warm"], result["phases"]["traced"]
    cores = result["env"]["cores"]
    spans, jobs, stages, ops = ph["spans"], ph["jobs"], ph["stages"], ph["ops"]
    own = self_times(spans)
    wall = sum(p["wall_s"] for p in ph["passes"])
    untraced = sum(p["wall_s"] for p in warm["passes"])

    op_s = [op["t1"] - op["t0"] for op in ops if op.get("ok")]

    def span_sum(name):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name)

    def span_median(name):
        return _median(s["t1"] - s["t0"] for s in spans if s["name"] == name)

    def stage_sum(key):
        return sum(s[key] for s in stages)

    def jobs_of(op_index):
        return [j for j in jobs if j["op"] == op_index]

    m = {
        "jvm.start_s": result["main_epoch_s"] - result["launched_epoch_s"],
        "session.create_s": setup["session_s"],
        "session.warmup_s": setup["warmup_s"],
        "sources.open_s": setup["sources_s"],
        "sources.input_bytes": sum(op.get("scan_bytes", 0) for op in ops),
        "sources.input_records": sum(op.get("scan_rows", 0) for op in ops),
        "registry.build_s": span_sum("registry.build"),
        "registry.eager_jobs": sum(1 for j in jobs if j["layer"] == "registry.build"),
        "plans.plan_s": span_sum("plans.plan"),
        "exec.run_s": span_sum("exec.run"),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": stage_sum("tasks"),
        "exec.task_busy_s": stage_sum("busy_ms") / 1e3,
        "exec.task_cpu_s": stage_sum("cpu_ns") / 1e9,
        "exec.task_gc_s": stage_sum("gc_ms") / 1e3,
        "exec.core_util": stage_sum("busy_ms") / 1e3 / (wall * cores),
        "exec.driver_gap_s": max(0.0, wall - union_s(
            [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs])),
        "exec.shuffle_write_bytes": stage_sum("shuffle_write"),
        "exec.shuffle_read_bytes": stage_sum("shuffle_read"),
        "exec.spill_bytes": stage_sum("spill"),
        "exec.task_skew": max([s["task_ms_max"] / s["task_ms_median"] for s in stages
                               if s["tasks"] > 1 and s["task_ms_median"] > 0], default=0.0),
        "jvm.gc_s": ph["gc_s"],
        "jvm.gc_count": ph["gc_count"],
        "ops.p50_s": _median(op_s),
        "ops.max_s": max(op_s, default=0.0),
        "ops.failed_share": failed_share,
        "trace.overhead_s": wall - untraced,
        "trace.overhead_share": (wall - untraced) / untraced,
    }
    for k in ("exchanges", "joins_broadcast", "joins_hash", "joins_sort_merge"):
        m[f"plans.{k}"] = sum(op.get(k, 0) for op in ops)

    for call in ("generate", "prepare", "fit", "transform", "scale_correction", "stack_fit"):
        m[f"ml.{call}_s"] = span_median(f"ml.{call}")
    m["functions.smape_s"] = span_median("functions.smape")
    m["ml.fit_jobs"] = _median(len(jobs_of(op["i"])) for op in ops
                               if op["name"].startswith("ml.fit:"))
    m["ml.stack_jobs_concurrent_max"] = max(
        [max_overlap([(j["start_ms"], j["end_ms"]) for j in jobs_of(op["i"])])
         for op in ops if op["name"].startswith("ml.stack_fit")], default=0)
    pipeline = WORKLOADS[workload]["kind"] == "pipeline"
    m["ml.forecast_wall_s"] = _median(p["wall_s"] for p in ph["passes"]) if pipeline else 0.0
    m["ml.smape"] = _median(op["smape"] for op in ops
                            if op["name"] == "functions.smape:enet" and "smape" in op)

    b = ph["batches"]
    trig = [x["trigger_ms"] / 1e3 for x in b]
    last = {}
    for x in b:
        last[x["query"]] = x
    stream_s = sum(op["t1"] - op["t0"] for op in ops
                   if op.get("ok") and any(x["op"] == op["i"] for x in b))
    m.update({
        "streaming.batches": len(b),
        "streaming.input_rows": sum(x["input_rows"] for x in b),
        "streaming.add_batch_s": sum(x["add_batch_ms"] for x in b) / 1e3,
        "streaming.query_planning_s": sum(x["planning_ms"] for x in b) / 1e3,
        "streaming.wal_commit_s": sum(x["wal_ms"] for x in b) / 1e3,
        "streaming.commit_offsets_s": sum(x["commit_ms"] for x in b) / 1e3,
        "streaming.source_s": sum(x["source_ms"] for x in b) / 1e3,
        "streaming.state_rows": sum(x["state_rows"] for x in last.values()),
        "streaming.state_rows_updated": sum(x["state_rows_updated"] for x in b),
        "streaming.state_memory_bytes": max([x["state_memory_bytes"] for x in b], default=0),
        "streaming.watermark_dropped_rows": sum(x["watermark_dropped"] for x in b),
        "streaming.batch_p50_s": _median(trig),
        "streaming.batch_max_s": max(trig, default=0.0),
        "streaming.rows_per_s": sum(x["input_rows"] for x in b) / stream_s if stream_s else 0.0,
    })

    op_total = sum(s["t1"] - s["t0"] for s in spans if s["name"] == "op")
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_share"] = (
            sum(own[s["id"]] for s in spans if s["name"] == layer) / op_total
            if op_total else 0.0)
    return m


def summary(workload, metrics, sample_count):
    """Human-readable trace summary: every per-layer metric, the layer
    self-time shares and the tracing overhead."""
    units = dict(PER_LAYER)
    lines = [f"== {workload}: traced phase, {sample_count} jobs"]
    for name, _ in PER_LAYER:
        if not name.startswith(("self.", "trace.")):
            lines.append(f"  {name:34s} {metrics[name]:>16.6g} {units[name]}")
    lines.append("  layer self-time shares:")
    for layer in SPAN_LAYERS:
        lines.append(f"    {layer:32s} {100 * metrics[f'self.{layer}_share']:6.2f} %")
    lines.append(f"  tracing overhead: {metrics['trace.overhead_s']:+.3f} s "
                 f"({100 * metrics['trace.overhead_share']:+.2f} % of the untraced wall)")
    return "\n".join(lines)
