#!/usr/bin/env python3
"""Smoke check of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json with --trace 0 and --trace 1 and
asserts that each run prints every end-to-end (resp. per-layer) metric
named there and that every correctness check passes. Then checks that
the benchmark refuses to run, without printing a result, when the program
sources are missing.
"""
import json
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            r = run(ROOT, w, trace)
            try:
                out = json.loads(r.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                problems.append(f"{w} trace={trace}: no result line (exit {r.returncode})")
                continue
            missing = [m["name"] for m in spec[key] if m["name"] not in out["metrics"]]
            if missing:
                problems.append(f"{w} trace={trace}: missing {missing}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{w} trace={trace}: correct={out['correct']} "
                                f"failed={out['failed']} attempted={out['attempted']}")
            print(f"{w} trace={trace}: {len(out['metrics'])} metrics, "
                  f"attempted={out['attempted']} failed={out['failed']}")

    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("target", "__pycache__"))
    r = run(bare, spec["workloads"][0]["name"], 0)
    if r.returncode == 0 or r.stdout.strip():
        problems.append("ran without the program sources")
    shutil.rmtree(bare)

    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAIL" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
