#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload floor_mix --seed 1 --seconds 25 --trace 0

Builds the engine together with the harness in perfbench/ when the sources
changed since the last build (sbt, offline), runs one JVM with one
closed-loop client at local[nproc], and prints a summary line followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The full artifact (every op, the hygiene
record and, when traced, every span) is kept under perfbench/.runs/ for
perfbench/compare.py. Exits non-zero when an output check fails.

Options beyond the four above: --sf-dir (default ~/testdata/sf0.1) and
--cores (default nproc).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
RUN_LIMIT_S = 175
HEAVY_LIMIT_S = 900
BUILD_LIMIT_S = 850
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"),
                                  recursive=True))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness once per source digest; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def cpu_ticks():
    """(steal, total) CPU ticks of the machine, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--sf-dir",
                    default=os.path.join(os.path.expanduser("~"), "testdata",
                                         "sf0.1"))
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main)")
    if not os.path.exists(os.path.join(args.sf_dir, "documents.parquet")):
        fail(f"no test data in {args.sf_dir}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    gated = [w["name"] for w in bench["workloads"]]
    if args.workload not in gated + ["heavy_exec"]:
        fail(f"unknown workload {args.workload}; known: "
             f"{', '.join(gated + ['heavy_exec'])}")

    digest = source_digest()
    before_build = time.monotonic()
    cp = build(digest)
    # a build gets its own allowance; the run keeps RUN_LIMIT_S
    # heavy_exec is not in BENCHMARK.json: one cold pass of its queries
    # alone outlasts the limit a gated run must keep
    limit = ((RUN_LIMIT_S if args.workload in gated else HEAVY_LIMIT_S)
             - (before_build - t_start))

    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "artifact.json")
    sf_name = os.path.basename(os.path.normpath(args.sf_dir))
    cmd = (["java"] +
           [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--sf-dir", args.sf_dir, "--work", work,
            "--cores", str(args.cores),
            "--queries", os.path.join(HERE, "queries.tsv"),
            "--expected", os.path.join(HERE, "expected", f"{sf_name}.tsv"),
            "--out", out])
    log = os.path.join(work, "jvm.log")
    ticks0 = cpu_ticks()
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, stdout=fh,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                code = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {limit:.0f} s", 1)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"JVM exited with {code}", 1)
        with open(out) as fh:
            art = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run
        art["hygiene"]["steal_share"] = ((ticks1[0] - ticks0[0]) /
                                         (ticks1[1] - ticks0[1]))
    art["source_digest"] = digest
    art["git_commit"] = git_commit()
    os.makedirs(RUNS, exist_ok=True)
    name = (f"{args.workload}-s{args.seed}-t{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(os.path.join(RUNS, name), "w") as fh:
        json.dump(art, fh)

    e2e = art["end_to_end"]
    print("summary " + args.workload + ": " + ", ".join(
        f"{k}={v['value']:.6g} {v['unit']}" for k, v in e2e.items()) +
        f"; tail=p{art['op_tail_percentile']} of n={art['op_samples']}")
    for f in art["failures"]:
        print(f"check failed: {f}")
    if args.trace == "1":
        names = [m["name"] for m in bench["per_layer"]]
        source = art["per_layer"]
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        source = e2e
    missing = [n for n in names if n not in source]
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}", 1)
    print(json.dumps({
        "correct": art["correct"], "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": {n: source[n] for n in names}}))
    sys.exit(0 if art["correct"] else 1)


if __name__ == "__main__":
    main()
