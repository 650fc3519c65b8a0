#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke_test.py

For every workload it checks that an untraced and a traced run print every
metric they promise (by name, in the human report and in the final JSON
line) with all outputs correct, and that a run whose outputs are
deliberately damaged fails each part's check: ingest, tokenize and dedup
on `pipeline`, the oracle comparison on `query`. It also checks that the
benchmark refuses to run in a tree without the engine's sources. Takes a
few minutes; it builds first if needed.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


# The message of each check that --corrupt must trip, per workload.
DAMAGE_SEEN = {
    "pipeline": [
        "ingest: lineitem collection holds the input twice",
        "tokenize: BPE offsets slice back",
        "dedup: exact Jaccard holds every planted pair",
    ],
    "query": ["differs from the oracle"],
}


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"run.py {' '.join(args)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return r.stdout.splitlines(), json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in run.WORKLOADS:
        for trace in ("0", "1"):
            lines, res = bench("--workload", w, "--seed", "7", "--seconds", "1",
                               "--trace", trace, "--tiny")
            wanted = spec["per_layer" if trace == "1" else "end_to_end"]
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace {trace}: result has exactly the four keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} trace {trace}: every output checks out")
            expect(sorted(res["metrics"]) == sorted(m["name"] for m in wanted),
                   f"{w} trace {trace}: every listed metric is in the result")
            expect(all(res["metrics"][m["name"]]["unit"] == m["unit"] for m in wanted),
                   f"{w} trace {trace}: units match BENCHMARK.json")
            printed = {l.split()[0] for l in lines if l.startswith("   ")}
            names = [n for n, _, wl in run.REPORTED if wl in (None, w)]
            missing = [n for n in names if n not in printed]
            expect(not missing, f"{w} trace {trace}: report prints "
                   f"{', '.join(names)}" + (f" (missing {missing})" if missing else ""))
            if trace == "1":
                expect(any(l.strip().startswith("span ") for l in lines),
                       f"{w} trace 1: per-layer table printed")
        lines, res = bench("--workload", w, "--seed", "7", "--seconds", "1",
                           "--tiny", "--corrupt")
        expect(not res["correct"] and res["failed"] >= 1,
               f"{w}: a damaged output is reported as failed "
               f"({res['failed']} of {res['attempted']})")
        failed = [l.strip() for l in lines if l.strip().startswith("FAILED ")]
        for msg in DAMAGE_SEEN[w]:
            expect(any(msg in l for l in failed),
                   f"{w}: the damaged output fails the check '{msg}'")

    # a tree that holds only the benchmark must be refused, quickly
    os.makedirs(run.WORK, exist_ok=True)
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__", "target"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            run.WORKLOADS[0], "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        expect(r.returncode != 0 and not r.stdout.strip(),
               "a tree without the engine's sources is refused with no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
