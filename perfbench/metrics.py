"""Metric arithmetic for the benchmark: percentiles, the tail rule, failure
accounting, span self time, and the end-to-end and per-layer figures of
one run. Pure functions over the runner's records, so they are testable
without a JVM."""
import math
import statistics

TAIL_BEYOND = 10  # the tail percentile keeps at least this many samples above it


def percentile(values, p):
    """p-th percentile (0..100) with linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, beyond=TAIL_BEYOND):
    """The highest whole percentile of n samples that still has at least
    `beyond` samples ranked above it, or None when n is too small for any.
    Percentile p sits at rank (n-1)p/100, so it keeps `beyond` ranks above
    it while that rank is below n - beyond."""
    if n <= beyond:
        return None
    return math.ceil(100.0 * (n - beyond) / (n - 1)) - 1


def tail(values, beyond=TAIL_BEYOND):
    """(value, percentile, samples) of the tail rule. With too few samples
    for any percentile to keep `beyond` above it, the maximum is reported
    as percentile 100."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return max(values), 100, len(values)
    return percentile(values, p), p, len(values)


def account(ops, bad_names=(), bad_ids=()):
    """Split ops into (ok, failed). An op fails when it threw, when its
    query failed the output check (`bad_names`), or when its own check
    failed (`bad_ids`, as (window, id)). Failed ops are never latency
    samples."""
    ok, failed = [], []
    for o in ops:
        bad = (o.get("error") is not None or o["name"] in bad_names
               or (o["window"], o["id"]) in bad_ids)
        (failed if bad else ok).append(o)
    return ok, failed


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def attach(spans, derived):
    """Give each derived span (no parent yet, e.g. a Spark job seen by the
    listener) the innermost recorded span of the same op that contains its
    start; derived spans outside every span become roots."""
    out = list(spans)
    for d in derived:
        best = None
        for s in spans:
            if s["start_ms"] <= d["start_ms"] <= s["end_ms"]:
                if best is None or s["end_ms"] - s["start_ms"] < best["end_ms"] - best["start_ms"]:
                    best = s
        d = dict(d, parent=best["id"] if best else -1, op=best["op"] if best else -1)
        out.append(d)
    return out


def self_times(spans):
    """Self time per span name, in seconds: each span's duration minus the
    part of its interval that its children cover (children clipped to it,
    overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length([(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                                for c in kids.get(s["id"], [])
                                if c["end_ms"] > lo and c["start_ms"] < hi])
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, hi - lo - covered) / 1000.0
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def end_to_end(setups, ok_ops, window_wall_s, retained_mb):
    """End-to-end metrics of one run's untraced window, plus the detail
    behind the tail figure."""
    lat = [o["s"] for o in ok_ops]
    t, p, n = tail(lat) if lat else (0.0, 0, 0)
    metrics = {
        "setup_s": (median(setups), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (t, "s"),
        "ops_per_s": (len(ok_ops) / window_wall_s if window_wall_s > 0 else 0.0, "1/s"),
        "retained_mb": (retained_mb, "MB"),
    }
    return metrics, {"op_tail_percentile": p, "op_samples": n}


def in_window(t, lo, hi):
    return lo <= t <= hi


def per_layer(records, cores, loops, tables_marker="Tables.scala"):
    """Per-layer metrics from one traced window. `records` holds the
    traced ops, the listener's job/stage/qe/blocks events, the recorded
    spans and the traced window record (its wall time is the sum of the
    traced ops'). The listeners are registered only around traced ops, but
    events of the op just before can reach them late: stages count only
    when their job started under the listener, query executions only when
    they started inside a traced op. Rates are per op of the window."""
    ops = records["ops"]
    n = max(1, len(ops))
    win = records["window"]
    spans = records["spans"]
    jobs = records["jobs"]

    # every Spark job becomes a derived span under the innermost runner span
    derived = [{"id": f"job{j['id']}",
                "name": "sources.table_load" if tables_marker in j["call_site"] else "spark.job",
                "start_ms": j["start_ms"], "end_ms": max(j["end_ms"], j["start_ms"])}
               for j in jobs]
    tree = attach(spans, derived)
    by_id = {s["id"]: s for s in tree}

    def under(s, name):
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s["parent"])
        return False

    job_spans = [s for s in tree if str(s["id"]).startswith("job")]
    load_jobs = [s for s in job_spans if s["name"] == "sources.table_load"]
    direct_loads = [s for s in spans if s["name"] == "sources.table_load"]
    # a load job inside a directly timed Tables.t call is already covered
    load_s = (sum(s["end_ms"] - s["start_ms"] for s in direct_loads)
              + sum(s["end_ms"] - s["start_ms"] for s in load_jobs
                    if not under(by_id.get(s["parent"]), "sources.table_load"))) / 1000.0

    stages = [s for s in records["stages"] if s["job"] != -1]
    qes = [q for q in records["qes"]
           if any(in_window(q["start_ms"], o["start_ms"], o["end_ms"]) for o in ops)]
    run_s = sum(s["run_ms"] for s in stages) / 1000.0

    loop_ops = [o for o in ops if o["name"] in loops]
    loop_jobs = [j for j in jobs if any(in_window(j["start_ms"], o["start_ms"], o["end_ms"])
                                        for o in loop_ops)]
    loop_blocks = [b["bytes"] for b in records["blocks"]
                   if any(in_window(b["t_ms"], o["start_ms"], o["end_ms"]) for o in loop_ops)]

    triggers = [t for o in ops for t in o.get("triggers") or []]
    replays = [o for o in ops if o.get("replay")]
    trig_s = [t["trigger_ms"] / 1000.0 for t in triggers]

    cycles = [o for o in ops if o["name"] == "dispatch_cycle" and o.get("error") is None]
    dispatched = sum(o["dispatched"] for o in cycles)
    eligible = sum(o["eligible"] for o in cycles)
    cycle_s = sum(o["s"] for o in cycles)
    compacts = [o["compact_s"] for o in cycles if o.get("compact_s") is not None]
    last = cycles[-1] if cycles else None

    def span_mean(name):
        return mean([(s["end_ms"] - s["start_ms"]) / 1000.0 for s in spans if s["name"] == name])

    self_s = self_times(tree)

    m = {
        "sources.table_load_s": (load_s / n, "s"),
        "sources.table_load_jobs": (len(load_jobs) / n, "count"),
        "queries.build_s": (mean([o.get("build_s", 0.0) for o in ops]), "s"),
        "queries.build_jobs": (sum(1 for s in job_spans if under(s, "queries.build")) / n, "count"),
        "queries.action_s": (mean([o.get("action_s", 0.0) for o in ops]), "s"),
        "plans.analysis_s": (sum(q["analysis_ms"] for q in qes) / 1000.0 / n, "s"),
        "plans.optimization_s": (sum(q["optimization_ms"] for q in qes) / 1000.0 / n, "s"),
        "plans.planning_s": (sum(q["planning_ms"] for q in qes) / 1000.0 / n, "s"),
        "plans.codegen_compiles": (sum(o.get("codegen_compiles", 0) for o in ops) / n, "count"),
        "plans.codegen_compile_s": (sum(o.get("codegen_compile_s", 0.0) for o in ops) / n, "s"),
        "session.jobs": (len(jobs) / n, "count"),
        "session.stages": (len(stages) / n, "count"),
        "session.tasks": (sum(s["tasks"] for s in stages) / n, "count"),
        "session.task_run_s": (run_s / n, "s"),
        "session.task_cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9 / n, "s"),
        "session.core_busy_ratio": (run_s / (cores * win["wall_s"]) if win["wall_s"] else 0.0, "ratio"),
        "session.shuffle_read_bytes": (sum(s["shuffle_read"] for s in stages) / n, "B"),
        "session.shuffle_write_bytes": (sum(s["shuffle_write"] for s in stages) / n, "B"),
        "session.spill_bytes": (sum(s["spill"] for s in stages) / n, "B"),
        "ops.jobs_per_query": (len(loop_jobs) / len(loop_ops) if loop_ops else 0.0, "count"),
        "ops.cut_bytes_peak": (float(max(loop_blocks, default=0)), "B"),
        "streaming.triggers": (len(triggers) / len(replays) if replays else 0.0, "count"),
        "streaming.add_batch_s": (mean([t["add_batch_ms"] / 1000.0 for t in triggers]), "s"),
        "streaming.planning_s": (mean([t["planning_ms"] / 1000.0 for t in triggers]), "s"),
        "streaming.wal_commit_s": (mean([t["wal_ms"] / 1000.0 for t in triggers]), "s"),
        "streaming.commit_s": (mean([t["commit_ms"] / 1000.0 for t in triggers]), "s"),
        "streaming.state_rows_peak": (float(max([t["state_rows"] for t in triggers], default=0)), "count"),
        "streaming.trigger_p50_s": (median(trig_s), "s"),
        "streaming.trigger_tail_s": (tail(trig_s)[0] if trig_s else 0.0, "s"),
        "state.snapshot_bytes": (mean([o["state_bytes"] for o in cycles]), "B"),
        "state.read_s": (span_mean("state.read"), "s"),
        "state.dispatched_ratio": (dispatched / eligible if eligible else 0.0, "ratio"),
        "lake.files_per_partition": (mean([o["files_per_partition"] for o in cycles]), "count"),
        "lake.compact_s": (mean(compacts), "s"),
        "lake.append_bytes": (mean([o["append_bytes"] for o in cycles]), "B"),
        "dispatch.read_p50_s": (median([o["read_s"] for o in cycles]), "s"),
        "dispatch.rows_per_s": (dispatched / cycle_s if cycle_s else 0.0, "1/s"),
        "dispatch.write_bytes_per_row": (
            sum(o["append_bytes"] + o["state_bytes"] for o in cycles) / dispatched
            if dispatched else 0.0, "B"),
        "dispatch.stored_bytes_per_row": (
            last["lake_bytes"] / last["lake_rows"] if last and last["lake_rows"] > 0 else 0.0, "B"),
    }
    for name in ("op", "queries.build", "queries.action", "sources.table_load", "spark.job",
                 "pipelines.run", "lake.read_range", "state.read", "lake.compact"):
        m[f"self.{name}_s"] = (self_s.get(name, 0.0) / n, "s")
    return m, self_s


def trace_overhead(untraced_wall_s, traced_wall_s, n_ops):
    """Tracing overhead of one workload: the traced ops' wall time minus
    the untraced ops' over the same ops, run interleaved, per op and as a
    share of the untraced time."""
    per_op = (traced_wall_s - untraced_wall_s) / max(1, n_ops)
    ratio = traced_wall_s / untraced_wall_s - 1.0 if untraced_wall_s > 0 else 0.0
    return {"trace.overhead_s": (per_op, "s"), "trace.overhead_ratio": (ratio, "ratio")}
