#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload orion_roundtrip --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the harness from source
with sbt (offline); later runs reuse the build until a source file changes.
Each run gets an emptied work directory, perfbench/.run/<workload>/, which
holds the Spark scratch space, the model store and, with --trace 1, the span
file. See perfbench/README.md for workloads, metrics and the traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUNS = os.path.join(HERE, ".run")
WORKLOADS = ("orion_roundtrip", "ngsi_backfill", "catalog_heavy")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# a fixed young generation: peak RSS then follows live data, not the
# collector's young-generation sizing
YOUNG = "512m"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change needs a rebuild, program and harness alike."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles with sbt unless the recorded source stamp is current."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        die(f"program sources not found next to {HERE}; run from a full checkout")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    outputs = [os.path.join(TARGET, n) for n in ("bench-classpath.txt", "bench-javaopts.txt")]
    if all(os.path.isfile(p) for p in outputs) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "benchJvm"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"# build {time.time() - t0:.1f} s", flush=True)


def run_jvm(args, extra):
    work = os.path.join(RUNS, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = open(os.path.join(TARGET, "bench-classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(TARGET, "bench-javaopts.txt")).read().split("\n") if o]
    # no hsperfdata file: the run writes only inside the checkout
    cmd = (["java", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData"] + opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", work,
            "--data-dir", os.path.join(HERE, "fixtures", "sf0.001"),
            "--digests", os.path.join(HERE, "expected", "catalog_digests.json")] + extra)
    env = dict(os.environ, SPARK_GRAFT_MODEL_DIR=os.path.join(work, "models"))
    log_path = os.path.join(RUNS, f"{args.workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s; see {log_path}")
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        result = None
    if p.returncode != 0 or result is None:
        sys.stdout.write(out)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"{args.workload} exited with {p.returncode} and no result; see {log_path}")
    return lines[:-1], result


def tracing_overhead(args, result):
    """Lines comparing a traced run's end-to-end figures with the untraced
    run of the same workload and seed, if one was made in this checkout."""
    other = os.path.join(RUNS, "results", f"{args.workload}-s{args.seed}-t0.json")
    if args.trace != 1 or not os.path.isfile(other):
        return []
    base = json.load(open(other))["metrics"]
    lines = []
    for name, m in base.items():
        traced = result["metrics"].get(f"traced.{name}")
        if traced and m["value"]:
            lines.append(f"# tracing overhead {name:<20} {traced['value']:.4f} traced vs "
                         f"{m['value']:.4f} untraced ({(traced['value'] / m['value'] - 1) * 100:+.1f}%)")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy-size inputs (self-test)")
    ap.add_argument("--drop-every", type=int, default=0,
                    help="the Orion stub drops every n-th update (self-test)")
    ap.add_argument("--corrupt-digest", action="store_true",
                    help="corrupt the expected catalog digests (self-test)")
    args = ap.parse_args()
    build()
    extra = []
    if args.toy:
        extra += ["--toy", "1"]
    if args.drop_every:
        extra += ["--drop-every", str(args.drop_every)]
    if args.corrupt_digest:
        extra += ["--corrupt-digest", "1"]
    lines, result = run_jvm(args, extra)
    os.makedirs(os.path.join(RUNS, "results"), exist_ok=True)
    with open(os.path.join(RUNS, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(result, fh)
    for line in lines + tracing_overhead(args, result):
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
