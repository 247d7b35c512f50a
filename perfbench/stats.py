"""Metric arithmetic over one run's artifact: the tail rule, span self
time, and the end-to-end and per-layer metrics."""
import math
import statistics

# End-to-end metrics of every workload; BENCHMARK.json gates these.
E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("query_mean_s", "s"), ("cpu_s_per_op", "s")]
# Reported, not gated: too few samples per run (the read median and tails),
# too much spread between runs (peak RSS), or mor_dml only (README.md).
E2E_REPORTED = [("query_p50_s", "s"), ("query_tail_s", "s"), ("peak_rss_mb", "MB"),
                ("commit_p50_s", "s"), ("commit_tail_s", "s"), ("bytes_per_live_byte", "B/B")]

TAIL_BEYOND = 10


def tail(values):
    """The highest nearest-rank percentile with at least TAIL_BEYOND samples
    above it: (value, percentile, samples beyond). With too few samples
    there is no such percentile, and the maximum is returned with 0 beyond."""
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, 0
    k = n - TAIL_BEYOND  # 1-based rank
    return s[k - 1], 100.0 * k / n, TAIL_BEYOND


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span, intervals):
    """Length of `span` covered by `intervals`, each clipped to the span."""
    s0, s1 = span
    return union_length([(max(s0, a), min(s1, b)) for a, b in intervals])


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of it that its
    child spans cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["t0_us"], sp["t1_us"]))
    return {sp["id"]: (sp["t1_us"] - sp["t0_us"])
            - covered((sp["t0_us"], sp["t1_us"]), kids.get(sp["id"], []))
            for sp in spans}


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def end_to_end(art):
    """{metric: value} and the tail details, from an untraced artifact."""
    meas = [o for o in art["ops"] if o["phase"] == "meas"]
    lat = lambda ops: [(o["t1_us"] - o["t0_us"]) / 1e6 for o in ops]
    reads = lat([o for o in meas if not o["commit"]])
    w = art["window"]
    m = {
        "setup_s": (meas[0]["t0_us"] - art["jvm_start_us"]) / 1e6,
        "ops_per_s": len(meas) / w["wall_s"],
        "query_mean_s": statistics.mean(reads),
        "query_p50_s": statistics.median(reads),
        "cpu_s_per_op": w["cpu_s"] / len(meas),
        "peak_rss_mb": w["peak_rss_mb"],
    }
    tails = {}
    m["query_tail_s"], *tails["query_tail_s"] = tail(reads) + (len(reads),)
    commits = lat([o for o in meas if o["commit"]])
    if commits:
        m["commit_p50_s"] = statistics.median(commits)
        m["commit_tail_s"], *tails["commit_tail_s"] = tail(commits) + (len(commits),)
    if "table_bytes" in w and art["check"].get("live_bytes"):
        m["bytes_per_live_byte"] = w["table_bytes"] / art["check"]["live_bytes"]
    return m, tails


PER_LAYER = [
    ("queries.construct_s", "s"), ("catalyst.plan_s", "s"), ("catalyst.exchanges", "count"),
    ("catalyst.scans", "count"), ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("jvm.jit_cpu_s", "s"), ("exec.s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.tasks", "count"), ("exec.shuffle_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.input_bytes", "bytes"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.sched_delay_s", "s"), ("exec.driver_gap_s", "s"),
    ("sources.upsert_s", "s"), ("sources.delete_s", "s"), ("sources.maintain_s", "s"),
    ("sources.jobs_per_commit", "count"), ("sources.read_construct_s", "s"),
    ("sources.files_scanned_per_read", "count"), ("sources.files_pruned_frac", "frac"),
    ("sources.sidecar_batches", "count"), ("sources.write_bytes_per_user_byte", "B/B"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("trace.overhead_frac", "frac"),
]
COMMIT_SPANS = ("sources.upsert", "sources.delete", "sources.maintain")
CONSTRUCT_SPANS = ("queries.construct", "sources.read_construct")


def per_layer(art):
    """{metric: value} from a traced artifact: per traced measured op unless
    the metric name says otherwise (see README.md). Counters, spans and jobs
    are keyed by the op's plan index."""
    ops = {o["idx"]: o for o in art["ops"] if o["traced"]}
    traced = [i for i, o in ops.items() if o["phase"] == "meas"]
    n = len(traced)
    counts = {int(k): v for k, v in art["counts"].items()}
    total = lambda key, idx=traced: sum(counts.get(i, {}).get(key, 0.0) for i in idx)
    spans = art["spans"]
    selfs = self_times(spans)
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)
    span_sum = lambda names: sum(selfs[sp["id"]] for nm in names for sp in by_name.get(nm, [])) / 1e6
    span_mean = lambda nm: (span_sum([nm]) / len(by_name[nm])) if by_name.get(nm) else 0.0

    jobs = {}
    for op, a, b in art["jobs"]:
        jobs.setdefault(op, []).append((a * 1000, b * 1000))
    exec_s = gap_s = 0.0
    for sp in spans:
        if sp["name"] == "op":
            exec_s += covered((sp["t0_us"], sp["t1_us"]), jobs.get(sp["op"], [])) / 1e6
        if sp["name"] == "exec" or sp["name"] in COMMIT_SPANS:
            busy = covered((sp["t0_us"], sp["t1_us"]), jobs.get(sp["op"], []))
            gap_s += (sp["t1_us"] - sp["t0_us"] - busy) / 1e6

    commits = [i for i in traced if ops[i]["commit"]]
    mor_reads = [i for i in traced if ops[i]["name"] in ("read_pruned", "read_changes")]
    pruned = [i for i in traced if ops[i]["name"] == "read_pruned"]
    mean_over = lambda key, idx: total(key, idx) / len(idx) if idx else 0.0
    m = {key: mean_over(key, traced) for key in (
        "catalyst.plan_s", "catalyst.exchanges", "catalyst.scans", "codegen.compiles",
        "codegen.compile_s", "jvm.jit_cpu_s", "exec.task_cpu_s", "exec.task_gc_s",
        "exec.tasks", "exec.shuffle_bytes", "exec.spill_bytes", "exec.input_bytes",
        "exec.jobs", "exec.stages", "exec.sched_delay_s", "jvm.gc_s")}
    m.update({
        "queries.construct_s": span_sum(CONSTRUCT_SPANS) / n,
        "exec.s": exec_s / n,
        "exec.driver_gap_s": gap_s / n,
        "sources.upsert_s": span_mean("sources.upsert"),
        "sources.delete_s": span_mean("sources.delete"),
        "sources.maintain_s": span_mean("sources.maintain"),
        "sources.jobs_per_commit": mean_over("exec.jobs", commits),
        "sources.read_construct_s": span_mean("sources.read_construct"),
        "sources.files_scanned_per_read": mean_over("sources.files_scanned", mor_reads),
        "sources.files_pruned_frac":
            1 - total("sources.files_scanned", pruned) / total("sources.table_files", pruned)
            if pruned else 0.0,
        "sources.sidecar_batches": mean_over("sources.sidecar_batches", mor_reads),
        "jvm.heap_peak_mb": art["window"]["heap_peak_mb"],
        "trace.overhead_frac": overhead(art["ops"]),
    })
    user = sum(v for r, v in art["user_bytes"].items()
               if any(ops[i]["round"] == int(r) for i in commits))
    m["sources.write_bytes_per_user_byte"] = total("exec.output_bytes", commits) / user if user else 0.0
    return m


def overhead(ops):
    """Geometric mean over measured ops of (traced latency / latency of the
    same op, by plan index, in the untraced lane), minus 1. The lanes run
    each round in alternating order, so a drift across the window cancels."""
    lat = {}
    for o in ops:
        if o["phase"] == "meas":
            lat.setdefault(o["idx"], {})[o["traced"]] = o["t1_us"] - o["t0_us"]
    logs = [math.log(d[True] / d[False]) for d in lat.values()
            if d.get(True, 0) > 0 and d.get(False, 0) > 0]
    return math.exp(statistics.mean(logs)) - 1 if logs else 0.0
