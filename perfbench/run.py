#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {catalog_mix,dispatch_cycles}
        --seed N --seconds S --trace {0,1}

Run from the repository root. It builds the program and the benchmark
runner from source (skipped while the sources are unchanged), generates
the input tables once, writes the seeded plan, runs it in one JVM on one
session at local[nproc] with one client in a closed loop, checks every
output, and prints one JSON line last: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics of a traced re-run of the
same ops. How many ops a run times follows from --seconds alone. Scratch
state lives under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import plan  # noqa: E402

WORK = os.path.join(HERE, ".work")
SPARK_JARS = "/opt/spark/jars"
DATA_SEED = 42
SETUPS = 3  # the first is a cold JVM; the median falls among the warm ones
WARM_PASSES = 1   # catalog_mix: untimed noop passes before the timed ops
WARM_CYCLES = 3   # dispatch_cycles: untimed cycles on throw-away state
HEAP = "2g"  # fixed (-Xms = -Xmx), so heap sizing does not vary run to run
RUN_TIMEOUT_S = 165  # a run must end within 180 s
# Scale factor per workload. catalog_mix runs at sf0.01: its cost is
# per-query overhead at either scale, and its warm-up, timed and check
# passes of 22 queries at sf0.1 would not fit the run budget.
WORKLOADS = {"catalog_mix": 0.01, "dispatch_cycles": 0.1}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def sources(root):
    """Every file the build reads: the program's and the runner's Scala."""
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


class Child:
    """One subprocess that is always stopped and waited for."""
    current = None

    @classmethod
    def run(cls, cmd, timeout, **kw):
        p = subprocess.Popen(cmd, **kw)
        cls.current = p
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            cls.current = None


def _stop(signum, _frame):
    if Child.current is not None and Child.current.poll() is None:
        Child.current.kill()
        Child.current.wait()
    sys.exit(128 + signum)


def build(root):
    """Compile src/main/scala and perfbench/scala with the Scala compiler in
    the Spark jars directory (the compiler and classpath the sbt build
    uses), then list the catalog. Skipped while the sources hash the same."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise SystemExit("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.path.join(bdir, "classes"), os.path.join(bdir, "catalog.json")
    log(f"building {len(srcs)} sources")
    shutil.rmtree(bdir, ignore_errors=True)
    classes = os.path.join(bdir, "classes")
    os.makedirs(classes)
    cp = f"{SPARK_JARS}/*"
    with open(os.path.join(bdir, "build.log"), "w") as logf:
        rc = Child.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp]
                       + srcs, timeout=840, stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(os.path.join(bdir, "build.log")).read()[-4000:])
        raise SystemExit(f"build failed (rc={rc})")
    catalog = os.path.join(bdir, "catalog.json")
    rc = jvm(classes, ["--catalog", catalog], os.path.join(bdir, "catalog.log"), 120)
    if rc != 0:
        raise SystemExit(f"catalog listing failed (rc={rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, catalog


def data_dir(sf):
    d = os.path.join(WORK, "data", f"sf{sf}-seed{DATA_SEED}-v{datagen.VERSION}")
    if not os.path.exists(os.path.join(d, "DONE")):
        log(f"generating sf{sf} tables")
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf, DATA_SEED)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def jvm(classes, args, log_path, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{SPARK_JARS}/*", "graft.perfbench.Runner"] + args)
    with open(log_path, "w") as logf:
        return Child.run(cmd, timeout, stdout=logf, stderr=subprocess.STDOUT)


def write_plan(path, workload, seed, seconds, trace, data, run_dir, catalog):
    lines = [f"workload {workload}", f"data {data}", f"work {run_dir}",
             f"cores {cores()}", f"trace {trace}",
             f"setups {SETUPS}"]
    extra = {}
    if workload == "catalog_mix":
        mix = plan.mix_sample([n for n, sql in catalog.items() if sql])
        passes = plan.op_count(seconds, plan.CATALOG_PASS_S)
        seq = plan.interleave(mix, seed, passes=WARM_PASSES + passes)
        lines += [f"check {q}" for q in mix]
        lines += [f"warm_op {q}" for q in seq[:WARM_PASSES * len(mix)]]
        lines += [f"op {q}" for q in seq[WARM_PASSES * len(mix):]]
        extra["mix"] = mix
    else:
        con = oracle.connect(data)
        max_key, rows = con.execute(
            "SELECT max(l_orderkey) + 1, count(*) FROM lineitem").fetchone()
        size = plan.window_keys(max_key, rows)
        windows = plan.dispatch_windows(
            seed, max_key, plan.op_count(seconds, plan.DISPATCH_CYCLE_S), size)
        lines += [f"warm {lo} {hi} {ts}"
                  for lo, hi, ts in plan.warm_windows(max_key, WARM_CYCLES, size)]
        lines += [f"compact_every {plan.DISPATCH_COMPACT_EVERY}"]
        lines += [f"window {lo} {hi} {ts}" for lo, hi, ts, _ in windows]
        extra["windows"] = windows
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return extra


def read_records(path):
    recs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs.setdefault(r["kind"], []).append(r)
    return recs


def evaluate(workload, recs, extra, data, catalog, trace):
    """Output checks, failure accounting and metrics for one run."""
    ops = recs.get("op", [])
    checks = {}
    bad_ids = set()
    con = oracle.connect(data)
    if workload == "catalog_mix":
        errors = {c["name"]: c["error"] for c in recs.get("check", []) if c["error"]}
        checks = oracle.check_catalog(con, os.path.join(extra["run_dir"], "check"),
                                      catalog, extra["mix"])
        checks = {n: errors.get(n) or why for n, why in checks.items()}
    else:
        windows = extra["windows"]
        for w in ("plain", "untraced", "traced"):
            seq = [dict(o, replay=windows[o["id"]][3])
                   for o in ops if o["window"] == w]
            for i, why in oracle.check_dispatch(con, seq).items():
                checks[f"{w}:{i}"] = why
                if why:
                    bad_ids.add((w, i))
    bad_names = {n for n, why in checks.items() if why} if workload == "catalog_mix" else set()
    ok, failed = metrics.account(ops, bad_names, bad_ids)
    for n, why in checks.items():
        if why:
            log(f"check failed: {n}: {why}")
    for o in failed:
        if o.get("error"):
            log(f"op {o['window']}:{o['id']} {o['name']} threw: {o['error']}")

    plain = [o for o in ok if o["window"] == "plain"]
    wins = {w["window"]: w for w in recs.get("window", [])}
    detail = {"checks": checks, "cores": cores()}
    if trace:
        traced_ops = [o for o in ops if o["window"] == "traced"]
        layer_recs = {"ops": traced_ops, "window": wins["traced"],
                      "spans": recs.get("span", []), "jobs": recs.get("job", []),
                      "stages": recs.get("stage", []), "qes": recs.get("qe", []),
                      "blocks": recs.get("blocks", [])}
        m, self_s = metrics.per_layer(layer_recs, cores(), set(plan.FIXPOINT_LOOPS))
        m.update(metrics.trace_overhead(wins["untraced"]["wall_s"], wins["traced"]["wall_s"],
                                        wins["traced"]["ops"]))
        detail["self_time_s"] = self_s
        attempted = len(ops)
    else:
        m, d = metrics.end_to_end([s["s"] for s in recs.get("setup", [])], plain,
                                  wins["plain"]["wall_s"], recs["mem"][0]["retained_mb"])
        detail.update(d)
        detail["memory_pools_mb"] = recs["mem"][0]["pools"]
        attempted = sum(1 for o in ops if o["window"] == "plain")
        failed = [o for o in failed if o["window"] == "plain"]
    correct = not any(checks.values()) and not failed
    result = {"correct": correct, "attempted": attempted, "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    return result, detail


def main():
    ap = argparse.ArgumentParser(description="graft repo benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    root = os.getcwd()

    classes, catalog_path = build(root)
    catalog = json.load(open(catalog_path))
    data = data_dir(WORKLOADS[a.workload])
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    extra = write_plan(os.path.join(run_dir, "plan.txt"), a.workload, a.seed, a.seconds,
                       a.trace, data, run_dir, catalog)
    extra["run_dir"] = run_dir
    t0 = time.monotonic()
    out = os.path.join(run_dir, "records.jsonl")
    rc = jvm(classes, [os.path.join(run_dir, "plan.txt"), out],
             os.path.join(run_dir, "jvm.log"), RUN_TIMEOUT_S)
    recs = read_records(out) if os.path.exists(out) else {}
    if rc != 0 or "done" not in recs:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise SystemExit(f"runner failed (rc={rc})")
    log(f"runner took {time.monotonic() - t0:.1f} s")
    result, detail = evaluate(a.workload, recs, extra, data, catalog, a.trace)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "result": result, "detail": detail}
    rdir = os.path.join(WORK, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps({"detail": {k: v for k, v in detail.items() if k != "checks"},
                      "checks_failed": sorted(k for k, v in detail["checks"].items() if v)}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
