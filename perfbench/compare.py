#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts, or report the spread of one.

Usage:
    python3 perfbench/compare.py BASE [CHANGE]

BASE and CHANGE are each a directory of run artifacts (as run.py keeps
them under perfbench/.runs/) or a glob of artifact files. For each
workload and each end-to-end metric the report gives, per side, the
median and quartiles and the spread (quartile distance over median). With
two sides it adds:

  - the share of pairs the change won (runs paired in time order, ties
    count for neither), and the verdict: "better" when the change wins at
    least nine tenths of the pairs and the medians differ by more than the
    base's quartile distance; "worse" when the change's median is worse than
    the base's by more than the metric's bound; "unresolved" when either
    side's spread exceeds the bound, unless every change run beats every
    base run; otherwise "within bound";
  - for traced artifacts, the per-layer medians of both sides and their
    difference.

Each workload's header gives, per side, the median share of CPU time the
hypervisor gave to other guests during the runs (steal), so that a verdict
reached on a noisy host shows as such; op_tail_s lines give the percentile
it was read at.

With one side it reports each spread against its bound and a third of it,
the steadiness target of BENCHMARK.json. Exits non-zero if a spread
exceeds its bound, or a metric is "worse". The spread of setup_s is
reported but not failed on: like the acceptance rule of BENCHMARK.json,
only its median is held to the bound.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec):
    files = (glob.glob(os.path.join(spec, "*.json"))
             if os.path.isdir(spec) else glob.glob(spec))
    runs = []
    # time order, so the i-th run of one side pairs with the i-th of the other
    for f in sorted(files, key=os.path.getmtime):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, m, q3 = quart(xs)
    if not m:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / m


def series(runs, workload, trace, section, metric):
    return [r[section][metric]["value"] for r in runs
            if r["workload"] == workload and bool(r["trace"]) == trace
            and r.get(section) and metric in r[section]]


def steal(runs, workload):
    xs = [r["hygiene"]["steal_share"] for r in runs
          if r["workload"] == workload and "steal_share" in r["hygiene"]]
    return f"{100 * statistics.median(xs):.1f}%" if xs else "n/a"


def percentiles(runs, workload):
    ps = sorted({f"p{r['op_tail_percentile']}" for r in runs
                 if r["workload"] == workload and not r["trace"]})
    return "/".join(ps) or "n/a"


def main(argv):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    base = load(argv[1])
    change = load(argv[2]) if len(argv) > 2 else None
    workloads = sorted({r["workload"] for r in base + (change or [])})
    status = 0
    for w in workloads:
        print(f"== {w}  steal: base {steal(base, w)}" +
              (f", change {steal(change, w)}" if change is not None else ""))
        names = list(e2e) + sorted({k for r in base if r["workload"] == w
                                    and not r["trace"]
                                    for k in r["end_to_end"]} - set(e2e))
        for name in names:
            a = series(base, w, False, "end_to_end", name)
            if not a:
                continue
            bound = e2e.get(name, {}).get("bound")
            higher = e2e.get(name, {}).get("better") == "higher"
            q1, m, q3 = quart(a)
            sa = spread(a)
            line = (f"  {name:30s} base n={len(a)} median={m:.4g} "
                    f"q1={q1:.4g} q3={q3:.4g} spread={sa:.3f}")
            if bound is not None:
                line += f" bound={bound}"
            if name == "op_tail_s":
                line += f" at {percentiles(base, w)}"
            if change is None:
                if bound is not None:
                    ok = sa <= bound / 3
                    line += " steady" if ok else (
                        " SPREAD>bound/3" if sa <= bound else " SPREAD>bound")
                    if sa > bound and name != "setup_s":
                        status = 1
                print(line)
                continue
            b = series(change, w, False, "end_to_end", name)
            if not b:
                print(line + " (no change runs)")
                continue
            bq1, bm, bq3 = quart(b)
            sb = spread(b)

            def better(x, y):
                return x > y if higher else x < y
            pairs = list(zip(a, b))
            wins = sum(better(y, x) for x, y in pairs)
            worse_by = ((m - bm) / m if higher else (bm - m) / m) if m else 0.0
            all_better = all(better(y, x) for x in a for y in b)
            if wins >= 0.9 * len(pairs) and abs(bm - m) > (q3 - q1):
                verdict = "better"
            elif bound is not None and worse_by > bound:
                verdict = "worse"
                status = 1
            elif bound is not None and max(sa, sb) > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            at = (f" at {percentiles(change, w)}" if name == "op_tail_s"
                  else "")
            print(line + f"\n  {'':30s} change n={len(b)} median={bm:.4g} "
                  f"q1={bq1:.4g} q3={bq3:.4g} spread={sb:.3f}{at} "
                  f"won {wins}/{len(pairs)} pairs, change "
                  f"{f'{100 * (bm - m) / m:+.1f}%' if m else f'{bm - m:+.4g}'} "
                  f"-> {verdict}")
        layer_names = sorted({k for r in base if r["workload"] == w
                              and r["trace"] for k in (r.get("per_layer") or {})})
        if layer_names:
            print("  per-layer (traced runs):")
        for name in layer_names:
            a = series(base, w, True, "per_layer", name)
            line = f"    {name:38s} base={statistics.median(a):.4g}"
            if change is not None:
                b = series(change, w, True, "per_layer", name)
                if b:
                    ma, mb = statistics.median(a), statistics.median(b)
                    line += f" change={mb:.4g} delta={mb - ma:+.4g}"
            print(line)
        overhead = series(base, w, True, "per_layer", "trace.op_p50_s")
        plain = series(base, w, False, "end_to_end", "op_p50_s")
        if overhead and plain:
            o, p = statistics.median(overhead), statistics.median(plain)
            print(f"  tracing overhead on op_p50_s: {100 * (o - p) / p:+.1f}% "
                  f"(traced {o:.4g} s vs untraced {p:.4g} s)")
    return status


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv))
