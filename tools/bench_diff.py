#!/usr/bin/env python3
"""Compare two full `graft.Bench` artifacts query by query.

Usage:
    python3 tools/bench_diff.py A.json B.json

A and B are the full artifacts `runMain graft.Bench` writes (`bench.json`,
or the file named by SPARK_GRAFT_BENCH_OUT): one JSON object with a
`queries` map of warm seconds per query and an `errors` map. Prints:

  - each side's total, query count, errors, retries and load, and the
    totals over the queries both sides timed, with their difference;
  - every query both sides timed, as A seconds, B seconds, the
    difference B - A and its ratio, sorted by the difference (largest
    saving first);
  - the queries timed on one side only;
  - each side's errors.

Exits 1 if either side has errors, else 0.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        return json.load(fh)


def side_line(tag, a):
    return (f"{tag}: total={a['value']:.3f} s queries={len(a['queries'])} "
            f"errors={len(a.get('errors', {}))} "
            f"retried={len(a.get('retried', {}))} "
            f"load_start={a.get('load_start')} load_end={a.get('load_end')} "
            f"sf={a.get('sf')}")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    print(side_line("A", a) + f"  ({argv[1]})")
    print(side_line("B", b) + f"  ({argv[2]})")
    ta = sum(qa[q] for q in common)
    tb = sum(qb[q] for q in common)
    pct = f" ({100 * (tb - ta) / ta:+.1f}%)" if ta else ""
    print(f"common: {len(common)} queries, A={ta:.3f} s B={tb:.3f} s "
          f"B-A={tb - ta:+.3f} s{pct}")
    faster = sum(qb[q] < qa[q] for q in common)
    slower = sum(qb[q] > qa[q] for q in common)
    print(f"B faster on {faster}, slower on {slower}, equal on "
          f"{len(common) - faster - slower}")

    print("\n## Per query (sorted by B - A)\n")
    print(f"{'query':40s} {'A_s':>8s} {'B_s':>8s} {'B-A_s':>8s} {'B/A':>6s}")
    for q in sorted(common, key=lambda q: (qb[q] - qa[q], q)):
        ratio = f"{qb[q] / qa[q]:.2f}" if qa[q] else "n/a"
        print(f"{q:40s} {qa[q]:8.3f} {qb[q]:8.3f} {qb[q] - qa[q]:+8.3f} "
              f"{ratio:>6s}")

    print("\n## One side only\n")
    only = [("A", q, qa[q]) for q in sorted(set(qa) - set(qb))] + \
           [("B", q, qb[q]) for q in sorted(set(qb) - set(qa))]
    for tag, q, s in only:
        print(f"{tag} only: {q} {s:.3f} s")
    if not only:
        print("none")

    print("\n## Errors\n")
    errors = [(tag, q, msg) for tag, art in (("A", a), ("B", b))
              for q, msg in sorted(art.get("errors", {}).items())]
    for tag, q, msg in errors:
        print(f"{tag} error: {q}: {msg}")
    if not errors:
        print("none")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
