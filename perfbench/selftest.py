#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

Usage (from the root of a checkout):
    python3 perfbench/selftest.py [--sf-dir DIR]

Runs every workload of BENCHMARK.json once untraced and once traced and
asserts that the last stdout line carries every end-to-end, respectively
per-layer, metric with its unit and that the outputs checked correct. Then
proves the output check is armed: in a copy of the checkout with one
expected floor_mix digest corrupted, a run must report correct=false and
exit non-zero. The copy reuses the build, whose stamp is keyed by the
sources' relative paths and contents. Last, a directory holding only
BENCHMARK.json and perfbench/ must make run.py exit non-zero without
printing a result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def copy_bench(dest, *skip):
    """Copies perfbench/ to dest without run and build outputs, nor the
    names in skip."""
    def ignore(d, names):
        return [n for n in names
                if n in (".work", ".runs", "target", ".bsp") + skip
                or (n == "project" and os.path.basename(d) == "project")]
    shutil.copytree(HERE, dest, ignore=ignore)


def run(sf, workload, trace, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--sf-dir", sf]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.001"))
    sf = ap.parse_args().sf_dir
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []

    def check(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            failures.append(msg)

    for w in [x["name"] for x in bench["workloads"]]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, res, r = run(sf, w, trace)
            check(code == 0 and res is not None and res["correct"],
                  f"{w} trace={trace}: exit {code}, correct output"
                  + ("" if code == 0 else "\n" + r.stderr[-2000:]))
            if res is None:
                continue
            for m in bench[section]:
                got = res["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"]
                      and isinstance(got["value"], (int, float)),
                      f"{w} trace={trace}: {m['name']} printed in {m['unit']}")
            check(res["attempted"] >= 1 and res["failed"] == 0,
                  f"{w} trace={trace}: attempted {res['attempted']}, "
                  f"failed {res['failed']}")

    copy = os.path.join(HERE, ".work", "corrupt")
    shutil.rmtree(copy, ignore_errors=True)
    os.makedirs(copy)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), copy)
    shutil.copy(os.path.join(ROOT, "build.sbt"), copy)
    shutil.copytree(os.path.join(ROOT, "src", "main"),
                    os.path.join(copy, "src", "main"))
    copy_bench(os.path.join(copy, "perfbench"), "tmp", "build.log")
    expected = os.path.join(copy, "perfbench", "expected",
                            os.path.basename(os.path.normpath(sf)) + ".tsv")
    with open(os.path.join(HERE, "queries.tsv")) as fh:
        first = next(line.split("\t")[1].strip() for line in fh
                     if line.startswith("floor_mix\t"))
    with open(expected) as fh:
        lines = fh.read().splitlines()
    lines = [line + "0" if line.startswith(first + "\t") else line
             for line in lines]
    with open(expected, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    try:
        code, res, _ = run(sf, "floor_mix", 0, cwd=copy)
        check(code != 0 and res is not None and not res["correct"]
              and res["failed"] > 0,
              f"corrupted expected digest of {first} fails the run "
              f"(exit {code})")
    finally:
        shutil.rmtree(copy, ignore_errors=True)

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    copy_bench(os.path.join(bare, "perfbench"), ".build")
    try:
        code, res, _ = run(sf, "floor_mix", 0, cwd=bare)
        check(code != 0 and res is None,
              f"bare directory exits non-zero without a result (exit {code})")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
