#!/usr/bin/env python3
"""Summarise or compare benchmark result files.

    python3 perfbench/compare.py runs.jsonl              # one side: spread and overhead
    python3 perfbench/compare.py parent.jsonl change.jsonl

A result file is the JSON lines `perfbench/run.py --save FILE` appends.

One side: per workload and metric, the median and quartiles of the runs,
the spread (interquartile distance over the median) against the metric's
bound, and the tracing overhead (traced minus untraced) of each end-to-end
timing measured both ways.

Two sides: runs are paired by workload and seed. Per workload and metric
it prints each side's median and quartiles, the pairs the change wins
(ties count for neither) and a verdict:
  better      the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's interquartile distance;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  either side's spread exceeds the bound and the change does
              not win every pair;
  same        none of the above.
A change whose runs failed more operations, or answered wrong more often,
than the parent's gets no "better" verdict on that workload, only "worse"
or "unresolved": its runs could look faster for skipping work. Per-layer
metrics have no bound; they get the first two verdicts only. Each workload
ends with a one-row summary.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def by_metric(runs):
    """{(workload, trace): {metric: {seed: value}}} over correct runs."""
    out = {}
    for r in runs:
        if not r.get("correct"):
            continue
        d = out.setdefault((r["workload"], r["trace"]), {})
        for name, m in r["metrics"].items():
            d.setdefault(name, {})[r["seed"]] = m["value"]
    return out


def faults(runs):
    """{(workload, trace): (failed operations, wrong runs)} over all runs."""
    out = {}
    for r in runs:
        key = (r["workload"], r["trace"])
        failed, wrong = out.get(key, (0, 0))
        out[key] = (failed + r.get("failed", 0), wrong + (0 if r.get("correct") else 1))
    return out


def specs():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def fmt(x):
    return f"{x:.4g}"


def summarise(runs):
    spec = specs()
    data = by_metric(runs)
    for (workload, trace) in sorted(data):
        metrics = data[(workload, trace)]
        n = max(len(v) for v in metrics.values())
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}, {n} runs)")
        for name, vals in metrics.items():
            xs = list(vals.values())
            q1, q2, q3 = quartiles(xs)
            bound = spec.get(name, {}).get("bound")
            sp = spread(xs)
            flag = "" if bound is None else ("  ok" if sp <= bound / 3 else
                                             "  WITHIN BOUND" if sp <= bound else "  TOO WIDE")
            b = "" if bound is None else f" bound {bound}"
            print(f"  {name:36s} median {fmt(q2):>10s}  q1 {fmt(q1):>10s}  q3 {fmt(q3):>10s}"
                  f"  spread {sp:.3f}{b}{flag}")
        if not trace and (workload, 1) in data:
            traced = data[(workload, 1)]
            for name in ("op_p50_ms", "setup_s"):
                if name in metrics and f"trace.{name}" in traced:
                    a = statistics.median(metrics[name].values())
                    t = statistics.median(traced[f"trace.{name}"].values())
                    print(f"  tracing overhead on {name}: {fmt(t - a)} "
                          f"({(t - a) / a * 100:+.1f}% of {fmt(a)})")


def compare(parent, change):
    spec = specs()
    pa, ch = by_metric(parent), by_metric(change)
    fa, fc = faults(parent), faults(change)
    for key in sorted(set(fa) & set(fc)):
        workload, trace = key
        rows = []
        (fail_a, wrong_a), (fail_b, wrong_b) = fa[key], fc[key]
        degraded = fail_b > fail_a or wrong_b > wrong_a
        if degraded:
            print(f"  {workload}: change {fail_b} failed operations and {wrong_b} wrong runs, "
                  f"parent {fail_a} and {wrong_a}; no metric is called better")
        if key not in pa or key not in ch:
            print(f"{workload} ({'traced' if trace else 'untraced'}): "
                  "no correct runs on one side, nothing to compare\n")
            continue
        for name in pa[key]:
            if name not in ch[key]:
                continue
            a, b = pa[key][name], ch[key][name]
            seeds = sorted(set(a) & set(b))
            m = spec.get(name, {})
            lower = m.get("better", "lower") == "lower"
            wins = sum(1 for s in seeds if (b[s] < a[s] if lower else b[s] > a[s]))
            losses = sum(1 for s in seeds if (b[s] > a[s] if lower else b[s] < a[s]))
            xa, xb = list(a.values()), list(b.values())
            qa, qb = quartiles(xa), quartiles(xb)
            worse_by = (qb[1] - qa[1]) / abs(qa[1]) * (1 if lower else -1) if qa[1] else 0.0
            bound = m.get("bound")
            if not degraded and seeds and wins >= 0.9 * len(seeds) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                verdict = "better"
            elif bound is not None and worse_by > bound:
                verdict = "worse"
            elif degraded or bound is not None and max(spread(xa), spread(xb)) > bound and \
                    not (seeds and wins == len(seeds)):
                verdict = "unresolved"
            else:
                verdict = "same"
            rows.append(verdict)
            print(f"  {workload:16s} {name:36s} parent {fmt(qa[1]):>10s} [{fmt(qa[0])}, {fmt(qa[2])}]"
                  f"  change {fmt(qb[1]):>10s} [{fmt(qb[0])}, {fmt(qb[2])}]"
                  f"  wins {wins}/{len(seeds)} losses {losses}  {verdict}")
        counts = {v: rows.count(v) for v in ("better", "worse", "unresolved", "same")}
        print(f"{workload} ({'traced' if trace else 'untraced'}): " +
              ", ".join(f"{v} {n}" for v, n in counts.items()) + "\n")


def main():
    if len(sys.argv) == 2:
        summarise(load(sys.argv[1]))
    elif len(sys.argv) == 3:
        compare(load(sys.argv[1]), load(sys.argv[2]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
