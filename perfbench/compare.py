#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW [--bench BENCHMARK.json]

BASE and NEW are run records written by `perfbench/run.py` (under
`perfbench/.work/runs/`): each is a directory of records, a single
record, or a glob pattern. For every workload and every metric of the
records (end-to-end metrics from `--trace 0` runs, per-layer metrics
from `--trace 1` runs) it prints each side's median and quartiles, the
ratio new/base, and a verdict:

  better          new beats base by more than base's own quartile spread
  within bound    not worse than base by more than the metric's bound
  worse           worse than base by more than the bound
  unresolved      a side's quartile spread exceeds the bound, and not
                  every new run beats every base run
  -               per-layer metric (no bound) or a zero base

It then prints each side's tracing overhead per workload: `trace.wall_s`
of its `--trace 1` runs minus `wall_s` of its `--trace 0` runs, paired
by seed where both were run with the same seeds (the first timed pass
of both runs the same operations at the same point), as the median of
the differences.

It refuses to compare runs whose `nproc` or scale factor differ.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(spec):
    paths = (sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec)
             else sorted(glob.glob(spec)))
    if not paths:
        sys.exit(f"compare: no run records match {spec}")
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, new, better, bound):
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    if bound is None or bm == 0:
        return "-"
    sign = 1.0 if better == "lower" else -1.0
    worse_by = sign * (nm - bm) / bm
    all_better = all(sign * (x - y) < 0 for x in new for y in base)
    spread = max((b3 - b1) / bm, (n3 - n1) / nm if nm else 0.0)
    if spread > bound and not all_better:
        return "unresolved"
    if worse_by > bound:
        return "worse"
    if -worse_by > (b3 - b1) / bm and (all_better or spread <= bound):
        return "better"
    return "within bound"


def tracing_overhead(runs, workload):
    """Median traced minus untraced pass wall, paired by seed when possible."""
    def walls(trace, name):
        return {r["provenance"]["seed"]: r["metrics"][name]["value"] for r in runs
                if r["provenance"]["workload"] == workload and r["provenance"]["trace"] == trace
                and name in r["metrics"]}
    traced, untraced = walls(1, "trace.wall_s"), walls(0, "wall_s")
    if not traced or not untraced:
        return None
    seeds = sorted(traced.keys() & untraced.keys())
    if seeds:
        return statistics.median(traced[s] - untraced[s] for s in seeds), len(seeds)
    return statistics.median(traced.values()) - statistics.median(untraced.values()), 0


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of perfbench runs.")
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, new = load(a.base), load(a.new)
    for key in ("nproc", "sf"):
        seen = {(r["provenance"]["workload"], r["provenance"][key]) for r in base + new}
        by_wl = {}
        for wl, v in seen:
            by_wl.setdefault(wl, set()).add(v)
        mixed = {wl: sorted(vs) for wl, vs in by_wl.items() if len(vs) > 1}
        if mixed:
            sys.exit(f"compare: refusing to compare runs with different {key}: {mixed}")
    bad = [r for r in base + new if not r["correct"]]
    if bad:
        print(f"warning: {len(bad)} run(s) reported wrong or failed operations")
    workloads = sorted({r["provenance"]["workload"] for r in base} &
                       {r["provenance"]["workload"] for r in new})
    hdr = (f"{'workload':20} {'metric':38} {'base median [q1, q3]':>32} "
           f"{'new median [q1, q3]':>32} {'new/base':>9}  verdict")
    print(hdr)
    print("-" * len(hdr))
    for wl in workloads:
        for trace in (0, 1):
            b = [r for r in base if r["provenance"]["workload"] == wl and
                 r["provenance"]["trace"] == trace]
            n = [r for r in new if r["provenance"]["workload"] == wl and
                 r["provenance"]["trace"] == trace]
            if not b or not n:
                continue
            for name in b[0]["metrics"]:
                bv = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
                nv = [r["metrics"][name]["value"] for r in n if name in r["metrics"]]
                if not bv or not nv:
                    continue
                m = spec.get(name, {})
                bq, nq = quartiles(bv), quartiles(nv)
                ratio = f"{nq[1] / bq[1]:.3f}" if bq[1] else "-"
                v = verdict(bv, nv, m.get("better", "lower"), m.get("bound"))
                fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
                print(f"{wl:20} {name:38} {fmt(bq):>32} {fmt(nq):>32} {ratio:>9}  {v}"
                      f"  (n={len(bv)}/{len(nv)})")
    for side, runs in (("base", base), ("new", new)):
        for wl in workloads:
            o = tracing_overhead(runs, wl)
            if o is not None:
                how = f"{o[1]} seed pair(s)" if o[1] else "medians, no common seed"
                print(f"tracing overhead, {side}, {wl}: {o[0]:+.3f} s ({how})")


if __name__ == "__main__":
    main()
