#!/usr/bin/env python3
"""Self-test of the benchmark: toy-size runs that show each output check fires.

Usage (from the repository root):  python3 perfbench/selftest.py

- every workload passes its checks at toy size;
- an Orion stub that drops one update in 100 raises sink.lost and
  error_rate and fails the run;
- a corrupted expected digest fails catalog_heavy;
- a traced run emits exactly BENCHMARK.json's per-layer metrics, and an
  untraced run exactly its end-to-end metrics;
- in a directory holding only BENCHMARK.json and the benchmark, the command
  exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, *flags, trace=0, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--toy", *flags],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = p.stdout.rstrip("\n").split("\n")[-1] if p.stdout.strip() else ""
    try:
        return p.returncode, json.loads(last)
    except ValueError:
        return p.returncode, None


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def value(result, name):
    return result["metrics"][name]["value"]


for w in ("orion_roundtrip", "ngsi_backfill", "catalog_heavy"):
    rc, r = run(w)
    expect(rc == 0 and r and r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
           f"{w} passes its checks at toy size")
    if w in {x["name"] for x in BENCH["workloads"]}:
        expect(r is not None and set(r["metrics"]) == {m["name"] for m in BENCH["end_to_end"]},
               f"{w} untraced run emits exactly the end-to-end metrics")

rc, r = run("orion_roundtrip", "--drop-every", "100", trace=1)
expect(rc == 0 and r is not None and not r["correct"] and r["failed"] > 0
       and value(r, "sink.lost") > 0 and value(r, "error_rate") > 0,
       "a stub dropping 1 update in 100 raises sink.lost and error_rate and fails the run")
expect(r is not None and set(r["metrics"]) == {m["name"] for m in BENCH["per_layer"]},
       "a traced run emits exactly the per-layer metrics")

rc, r = run("catalog_heavy", "--corrupt-digest")
expect(rc == 0 and r is not None and not r["correct"],
       "a corrupted expected digest fails catalog_heavy")

bare = os.path.join(HERE, ".run", "bare")
shutil.rmtree(bare, ignore_errors=True)
shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                ignore=shutil.ignore_patterns(".run", "target"))
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
rc, r = run("orion_roundtrip", cwd=bare)
expect(rc != 0 and r is None, "without the program's sources the command fails without a result")
shutil.rmtree(bare)

print("self-test " + ("passed" if not failures else f"FAILED: {len(failures)} check(s)"))
sys.exit(1 if failures else 0)
