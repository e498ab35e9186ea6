#!/usr/bin/env python3
"""Compare two result sets of the benchmark, parent against change.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are directories of run records (run.py saves one per
run under perfbench/.work/results/; copy that directory away between
commits). Per workload and metric it prints each side's median and
quartiles, the fraction of seed-matched pairs the change wins, and a
verdict against the bounds in BENCHMARK.json:

  regression    the change's median is worse by more than the bound
  gain          the change wins >= 90% of pairs and the medians differ
                by more than the parent's own quartile spread
  unresolved    the parent's quartile spread exceeds the bound, and not
                every change run beats every parent run
  same          none of the above

For traced runs it also prints the per-layer self-time deltas.
"""
import argparse
import glob
import json
import os
import statistics

WIN_SHARE = 0.9


def load(path):
    """{(workload, trace): {seed: record}} from a directory of records."""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound):
    q1, med_p, q3 = quartiles(parent)
    med_c = statistics.median(change)
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    win_fraction = wins / len(pairs) if pairs else 0.0
    worse = sign * (med_c - med_p) / abs(med_p) if med_p else 0.0
    if bound is None:
        v = "info"
    elif worse > bound:
        v = "regression"
    elif win_fraction >= WIN_SHARE and abs(med_c - med_p) > (q3 - q1):
        v = "gain"
    elif med_p and (q3 - q1) / abs(med_p) > bound and not all(
            sign * (p - c) > 0 for p in parent for c in change):
        v = "unresolved"
    else:
        v = "same"
    return win_fraction, v


def compare(parent, change, specs):
    """Rows of per-metric comparisons for every workload both sides ran.
    `specs` maps metric name -> {"better": ..., "bound": ... or absent}."""
    rows = []
    for key in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[key], change[key]
        seeds = sorted(set(p_runs) & set(c_runs)) or None
        p_list = [p_runs[s] for s in seeds] if seeds else list(p_runs.values())
        c_list = [c_runs[s] for s in seeds] if seeds else list(c_runs.values())
        names = sorted(set(p_list[0]["result"]["metrics"]) & set(c_list[0]["result"]["metrics"]))
        for m in names:
            pv = [r["result"]["metrics"][m]["value"] for r in p_list]
            cv = [r["result"]["metrics"][m]["value"] for r in c_list]
            spec = specs.get(m, {})
            wf, v = verdict(pv, cv, spec.get("better", "lower"), spec.get("bound"))
            rows.append({"workload": key[0], "trace": key[1], "metric": m,
                         "parent": quartiles(pv), "change": quartiles(cv),
                         "runs": (len(pv), len(cv)), "win_fraction": wf, "verdict": v})
    return rows


def self_time_deltas(parent, change):
    """{workload: {layer: (parent median s, change median s)}} of traced runs."""
    out = {}
    for key in sorted(set(parent) & set(change)):
        if key[1] != 1:
            continue
        layers = {}
        for side, runs in ((0, parent[key]), (1, change[key])):
            for r in runs.values():
                for layer, s in r["detail"].get("self_time_s", {}).items():
                    layers.setdefault(layer, ([], []))[side].append(s)
        out[key[0]] = {k: (statistics.median(a) if a else 0.0, statistics.median(b) if b else 0.0)
                       for k, (a, b) in layers.items()}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"))
    a = ap.parse_args()
    bench = json.load(open(a.benchmark))
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load(a.parent), load(a.change)
    rows = compare(parent, change, specs)
    fmt = "{:<16} {:<28} {:>31} {:>31} {:>6} {:>5}  {}"
    print(fmt.format("workload", "metric", "parent q1/med/q3", "change q1/med/q3",
                     "runs", "wins", "verdict"))
    for r in rows:
        q = lambda t: "/".join(f"{x:.4g}" for x in t)
        print(fmt.format(r["workload"] + ("*" if r["trace"] else ""), r["metric"],
                         q(r["parent"]), q(r["change"]), "{}/{}".format(*r["runs"]),
                         f"{r['win_fraction']:.2f}", r["verdict"]))
    for wl, layers in self_time_deltas(parent, change).items():
        print(f"\nself time per layer, {wl} (median seconds over the traced window)")
        for layer, (p, c) in sorted(layers.items(), key=lambda kv: -abs(kv[1][1] - kv[1][0])):
            print(f"  {layer:<24} {p:10.3f} -> {c:10.3f}  ({c - p:+.3f})")
    print("\n* = traced run (per-layer metrics; no bounds)")


if __name__ == "__main__":
    main()
