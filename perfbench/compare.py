#!/usr/bin/env python3
"""Summarise or compare sets of benchmark result records.

    python3 perfbench/compare.py DIR            # one set: medians, quartiles, spread
                                                # (q3 - q1) / median against each bound
    python3 perfbench/compare.py PARENT CHANGE  # parent vs change, with verdicts

A DIR holds the records `perfbench/run.py` saves (`.bench_build/results/`
after runs, or a committed baseline such as `perfbench/baseline/`).
Records from hosts with different core counts are never compared.

For each workload and metric the comparison prints each side's median
and quartiles, the share of runs the change won against the parent run
of the same seed (against every parent run when the sets share no
seed; ties count for neither side), and a verdict:

  regression  change median worse than the parent's by more than the
              metric's bound (BENCHMARK.json end_to_end metrics only)
  gain        change won at least 9/10 of the pairs and the medians
              differ by more than the parent's quartile spread
  unresolved  the parent's own quartile spread exceeds the bound, and
              not every change run beats every parent run
  same        none of the above

Per-layer records (traced runs) also show each span's core use,
busy_s / (wall_s * N): near 1 the span is bound by data work, near 0 by
fixed overhead (planning, scheduling, driver-side work).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(p))
        if isinstance(r, dict) and "workload" in r and not r.get("smoke"):
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def series(recs, workload, traced, section, name):
    """{seed: value} for one metric."""
    return {r["seed"]: r[section][name]["value"] for r in recs
            if r["workload"] == workload and r["trace"] == traced and name in r[section]}


def bench_metrics():
    b = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    return {m["name"]: m for m in b["end_to_end"]}, {m["name"]: m for m in b["per_layer"]}


def lower_is_better(name, specs):
    if name in specs:
        return specs[name]["better"] == "lower"
    return not any(name.endswith(s) for s in ("_mb_s", "recall_at_10"))


def core_use(recs, workload):
    out = {}
    for r in recs:
        if r["workload"] != workload or not r["trace"]:
            continue
        n = r["labels"]["n"]
        layer = r["per_layer"]
        for k, v in layer.items():
            if k.endswith(".busy_s"):
                span = k[: -len(".busy_s")]
                wall = layer.get(span + ".wall_s", {}).get("value", 0)
                if wall > 0:
                    out.setdefault(span, []).append(v["value"] / (wall * n))
    return {k: statistics.median(v) for k, v in out.items()}


def hosts(recs):
    return {r["labels"]["host_cpus"] for r in recs}


def summary(recs):
    e2e, _ = bench_metrics()
    for w in sorted({r["workload"] for r in recs}):
        print(f"== {w}")
        names = sorted({k for r in recs if r["workload"] == w and not r["trace"]
                        for k in r["metrics"]})
        for n in names:
            vals = list(series(recs, w, False, "metrics", n).values())
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("nan")
            bound = e2e.get(n, {}).get("bound")
            flag = ""
            if bound is not None:
                flag = f"bound {bound:.2f}: " + ("under a third" if spread < bound / 3 else
                                                 "within" if spread <= bound else "OVER")
            print(f"  {n:28s} n={len(vals):2d} median={med:12.4f} q1={q1:12.4f} "
                  f"q3={q3:12.4f} spread={spread:7.2%} {flag}")
        for span, cu in sorted(core_use(recs, w).items()):
            print(f"  core use {span:28s} {cu:6.3f}")


def verdict(name, p, c, bound, lower):
    pq1, pmed, pq3 = quartiles(list(p.values()))
    cq1, cmed, cq3 = quartiles(list(c.values()))
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    # pair runs of the same seed; sets without common seeds pair every
    # change run with every parent run
    seeds = sorted(set(p) & set(c))
    pairs = [(c[s], p[s]) for s in seeds] or [(x, y) for x in c.values() for y in p.values()]
    won = sum(better(x, y) for x, y in pairs)
    lost = sum(better(y, x) for x, y in pairs)
    share = won / len(pairs)
    worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
    all_better = all(better(x, y) for x in c.values() for y in p.values())
    if bound is not None and worse_by > bound:
        v = "regression"
    elif won >= 0.9 * len(pairs) and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif bound is not None and pmed and (pq3 - pq1) / pmed > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return (f"  {name:28s} parent {pmed:11.4f} [{pq1:.4f}, {pq3:.4f}]  change {cmed:11.4f} "
            f"[{cq1:.4f}, {cq3:.4f}]  won {won}/{len(pairs)} lost {lost}  "
            f"({share:.0%})  {v}"), v


def compare(parent, change):
    if hosts(parent) != hosts(change) or len(hosts(parent)) != 1:
        sys.exit(f"refusing to compare records from different hosts: "
                 f"host_cpus {sorted(hosts(parent))} vs {sorted(hosts(change))}")
    e2e, layers = bench_metrics()
    bad = 0
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        print(f"== {w}")
        for traced, section, specs in ((False, "metrics", e2e), (True, "per_layer", layers)):
            names = sorted({k for r in parent + change if r["workload"] == w
                            and r["trace"] == traced for k in r[section]})
            for n in names:
                p = series(parent, w, traced, section, n)
                c = series(change, w, traced, section, n)
                if not p or not c:
                    continue
                line, v = verdict(n, p, c, specs.get(n, {}).get("bound") if not traced else None,
                                  lower_is_better(n, specs))
                bad += v == "regression"
                print(line)
        pc, cc = core_use(parent, w), core_use(change, w)
        for span in sorted(set(pc) & set(cc)):
            print(f"  core use {span:28s} parent {pc[span]:6.3f}  change {cc[span]:6.3f}")
    return bad


def main():
    if len(sys.argv) == 2:
        summary(load(sys.argv[1]))
    elif len(sys.argv) == 3:
        sys.exit(1 if compare(load(sys.argv[1]), load(sys.argv[2])) else 0)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
