"""Pure helpers of the benchmark: percentiles, span unions, message
reconciliation and the per-layer tables. No I/O, no Spark; unit-tested by
perfbench/test_benchlib.py."""
import statistics

# The steadiness rule the benchmark is held to, used by perfbench/spread.py.
def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles with n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def percentile(samples, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty list."""
    s = sorted(samples)
    k = max(1, -(-p * len(s) // 100))  # ceil(p * n / 100)
    return s[int(k) - 1]


def supported_percentile(samples, p):
    """The p-th percentile, or None when fewer than ten samples lie
    beyond it: a tail percentile is reported only when the sample can
    support it (p90 needs 100 samples, p99 needs 1000)."""
    beyond = len(samples) - -(-p * len(samples) // 100)
    return percentile(samples, p) if beyond >= 10 else None


def timing_summary(samples):
    """Sample count, median and the highest tail percentile (p90, p99,
    p99.9) the sample supports, for reporting a timing."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    for p in (99.9, 99, 90):
        v = supported_percentile(samples, p)
        if v is not None:
            out[f"p{p:g}"] = v
            break
    return out


def span_union(spans, lo=None, hi=None):
    """Total length covered by the (start, end) spans, each clipped to
    [lo, hi] when given; overlapping spans count once."""
    clipped = []
    for a, b in spans:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap(window_start, window_end, spans):
    """Time in [window_start, window_end] that no span covers: the
    scheduling gap between and around stages."""
    return (window_end - window_start) - span_union(spans, window_start, window_end)


DROP_CLASSES = ("drop", "perr", "app_unpaired")


def reconcile(generated, enveloped):
    """Messages in against messages out. `generated` holds the count of
    messages published and of each drop class; every message must be
    enveloped or dropped in a counted class. Returns (ok, residual)."""
    residual = generated["messages"] - enveloped - sum(
        generated.get(c, 0) for c in DROP_CLASSES)
    return residual == 0, residual


# Parts of one micro-batch's triggerExecution as the progress event
# reports them; the remainder is time the engine does not attribute.
TRIGGER_PARTS = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets", "setOffsetRange", "getOffset")


def trigger_residual(duration_ms):
    """triggerExecution minus the sum of its reported parts (ms)."""
    parts = sum(v for k, v in duration_ms.items() if k in TRIGGER_PARTS)
    return duration_ms["triggerExecution"] - parts


def typical_query_ms(executions):
    """Geometric mean over the queries of each query's median wall time.
    The mix's queries differ in cost by 10x, so a median pooled over all
    executions jumps between queries; this weighs every query alike."""
    per_query = {}
    for q in executions:
        per_query.setdefault(q["query"], []).append(q["wall_ms"])
    return statistics.geometric_mean([statistics.median(v) for v in per_query.values()])


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def ingest_layers(raw, untraced_step_ms, items_per_s):
    """Per-layer table of a traced ingest run (per micro-batch unless
    the name says otherwise) plus the list of failed consistency
    checks."""
    t = raw["trace"]
    lst = t["listener"]
    prog = lst["progress"]
    batches = {p["batch"] for p in prog}
    n = max(1, len(prog))
    stages = [s for s in lst["stages"] if s["batch"] in batches]
    dur = lambda k: _median([p["duration_ms"].get(k, 0) for p in prog])
    msgs = sum(p["rows"] for p in prog) or 1
    failures = []
    gaps = []
    for p in prog:
        res = trigger_residual(p["duration_ms"])
        if res < 0:
            failures.append(f"batch {p['batch']}: parts exceed triggerExecution by {-res} ms")
        spans = [(s["start_ms"], s["end_ms"]) for s in stages if s["batch"] == p["batch"]]
        gaps.append(p["duration_ms"]["triggerExecution"] - span_union(spans))
    jobs = sum(v for k, v in lst["jobs"].items()
               if int(k.rsplit("|", 1)[1]) in batches)
    run_ms = sum(s["run_ms"] for s in stages)
    wall_ms = sum(p["duration_ms"]["triggerExecution"] for p in prog) or 1
    k = t.get("kernels", {})
    out = {
        "source.latest_offset_ms": k.get("latest_offset_ns", 0) / 1e6,
        "engine.query_planning_ms": dur("queryPlanning"),
        "engine.wal_commit_ms": dur("walCommit"),
        "engine.commit_offsets_ms": dur("commitOffsets"),
        "engine.add_batch_ms": dur("addBatch"),
        "engine.trigger_ms": dur("triggerExecution"),
        "engine.untracked_ms": _median([trigger_residual(p["duration_ms"]) for p in prog]),
        "engine.jobs_per_batch": jobs / n,
        "engine.tasks_per_batch": sum(s["tasks"] for s in stages) / n,
        "etl.map_stage_cpu_ms": sum(s["cpu_ns"] for s in stages if s["shuffle_map"]) / 1e6 / n,
        "state.stage_cpu_ms": sum(s["cpu_ns"] for s in stages if not s["shuffle_map"]) / 1e6 / n,
        "state.commit_ms": _median([p["state_commit_ms"] for p in prog]),
        "state.updates_ms": _median([p["state_updates_ms"] for p in prog]),
        "state.rows_total": prog[-1]["state_rows_total"] if prog else 0,
        "state.memory_bytes": prog[-1]["state_memory_bytes"] if prog else 0,
        "sink.write_ms": _median([w["duration_ms"] for w in lst["writes"]]),
        "shuffle.write_bytes_per_msg": sum(s["shuffle_write_bytes"] for s in stages) / msgs,
        "gc.ms_per_batch": t["gc_ms"] / n,
        "codegen.compile_ms": t["codegen_ms"] / n,
        "codegen.compiles": t["codegen_compiles"] / n,
        "sched.gap_ms": _median(gaps),
        "exec.stages": len(stages) / n,
        "exec.tasks": sum(s["tasks"] for s in stages) / n,
        "exec.task_cpu_ms": sum(s["cpu_ns"] for s in stages) / 1e6 / n,
        "exec.gc_ms": sum(s["gc_ms"] for s in stages) / n,
        "exec.core_util": run_ms / (wall_ms * raw["cores"]),
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages) / n,
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages) / n,
        "spill.bytes": sum(s["spill_bytes"] for s in stages) / n,
        "kernel.phy_parse_ns": k.get("phy_parse_ns", 0),
        "kernel.proto_to_json_ns": k.get("proto_to_json_ns", 0),
        "kernel.chirp_step_ns": k.get("chirp_step_ns", 0),
        "etl.normalize_ns_per_msg": k.get("normalize_ns_per_msg", 0),
        "scale.backlog_speedup": (items_per_s / t["local1_msgs_per_s"]
                                  if t.get("local1_msgs_per_s") else 0),
        "trace.overhead_pct": (_median(t["steps"]) / untraced_step_ms - 1) * 100,
    }
    return out, failures


def query_layers(raw, untraced_typical_ms):
    """Per-layer table of a traced query_mix run, each metric summed over
    the twelve queries (one traced execution of each). Also returns the
    per-query rows and the list of failed consistency checks."""
    t = raw["trace"]
    stages = t["listener"]["stages"]
    by_group = {}
    for s in stages:
        by_group.setdefault(s["group"], []).append(s)
    rows, failures = [], []
    for q in t["queries"]:
        ss = by_group.get(q["group"], [])
        phases = q["phases_ms"]
        opt, phys = phases.get("optimization", 0), phases.get("planning", 0)
        parts = q["build_ms"] + q["plan_ms"] + q["exec_ms"]
        if abs(parts - q["wall_ms"]) > 0.01:
            failures.append(f"{q['group']}: build+plan+exec {parts:.3f} != wall {q['wall_ms']:.3f}")
        if opt + phys > q["plan_ms"] + 2:
            failures.append(f"{q['group']}: tracker optimize+physical {opt + phys} ms "
                            f"exceeds the plan segment {q['plan_ms']:.1f} ms")
        spans = [(s["start_ms"], s["end_ms"]) for s in ss]
        rows.append({
            "query": q["query"], "round": q["round"], "wall_ms": q["wall_ms"],
            "plan.build_ms": q["build_ms"], "plan.optimize_ms": opt,
            "plan.physical_ms": phys, "exec_ms": q["exec_ms"],
            "codegen.compile_ms": q["codegen_ms"], "codegen.compiles": q["codegen_compiles"],
            "sched.gap_ms": gap(q["exec_start_epoch_ms"], q["end_epoch_ms"], spans),
            "exec.stages": len(ss), "exec.tasks": sum(s["tasks"] for s in ss),
            "exec.run_ms": sum(s["run_ms"] for s in ss),
            "exec.task_cpu_ms": sum(s["cpu_ns"] for s in ss) / 1e6,
            "exec.gc_ms": sum(s["gc_ms"] for s in ss),
            "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in ss),
            "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in ss),
            "spill.bytes": sum(s["spill_bytes"] for s in ss),
        })
    summed = ("plan.build_ms", "plan.optimize_ms", "plan.physical_ms",
              "codegen.compile_ms", "codegen.compiles", "sched.gap_ms", "exec.stages",
              "exec.tasks", "exec.task_cpu_ms", "exec.gc_ms", "shuffle.read_bytes",
              "shuffle.write_bytes", "spill.bytes")
    # traced executions cover every query equally often: report per mix
    mixes = len(rows) / len({r["query"] for r in rows})
    out = {k: sum(r[k] for r in rows) / mixes for k in summed}
    wall = sum(r["wall_ms"] for r in rows)
    out["exec.core_util"] = sum(r["exec.run_ms"] for r in rows) / (wall * raw["cores"])
    out["mix.suite_s"] = wall / mixes / 1e3
    out["trace.overhead_pct"] = (typical_query_ms(t["queries"]) / untraced_typical_ms - 1) * 100
    return out, rows, failures
