#!/usr/bin/env python3
"""The repository benchmark: the COVID pipeline and the LLM data-prep
operators, timed end to end from outside the program.

    python3 perfbench/run.py --workload covid_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and this harness from
source with sbt (offline), generates the workload's inputs from --seed,
runs the workload in a JVM for about --seconds seconds of timed work, checks
every result, and prints one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span file lands in .bench_build/perfbench/.
Workloads, metrics and the layer -> end-to-end map: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

CORES = min(4, os.cpu_count() or 1)

# Input sizes. "tiny" is for the smoke check.
SIZES = {
    "normal": dict(counties=5, dates=600, backfill_cap=400, live_dates=2, docs=500, vectors=200),
    "tiny": dict(counties=4, dates=60, backfill_cap=80, live_dates=3, docs=200, vectors=80),
}
CORPUS_SEED = 42  # the corpus is fixed so its results can be pinned

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the program and the harness once per source state; returns
    the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no program sources under {ROOT}: run from a full checkout")
    h = hashlib.sha256()
    for base in [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]:
        for p in sorted(base.rglob("*")):
            if p.is_file() and "target" not in p.parts:
                h.update(str(p.relative_to(ROOT)).encode() + p.read_bytes())
    for p in [ROOT / "build.sbt", HERE / "build.sbt"]:
        h.update(p.read_bytes())
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={pathlib.Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if "perfbench" in l and "classes" in l and ":" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(h.hexdigest())
    for old in WORK.glob("untraced-*.txt"):  # tracing overhead compares within one build
        old.unlink()
    return lines[-1].strip()


def make_inputs(workload, seed, size):
    """Generate the workload's inputs; returns (dir, seconds taken)."""
    t0 = time.perf_counter()
    d = WORK / "input"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    z = SIZES[size]
    if workload == "corpus_ops":
        (d / "corpus").mkdir()
        gen.corpus(str(d / "corpus"), CORPUS_SEED, z["docs"], z["vectors"])
    else:
        gen.covid_csv(d / "covid.csv", d / "covid_expected.tsv", seed, z["counties"], z["dates"])
        gen.covid_csv(d / "warm.csv", d / "warm_expected.tsv", seed + 1, 20, 5)
    return d, time.perf_counter() - t0


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, (0, 1) where unknown."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 1


def tail(xs):
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer), and never below the median."""
    s = sorted(xs)
    return max(s[max(len(s) - 11, 0)] if len(s) > 10 else s[-1], med(s)) if s else 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(raw, gen_s, trace, history):
    """The printed metrics. An untraced run appends its median pass to
    `history`; a traced run reports its median pass against those as the
    tracing overhead."""
    s = raw["samples"]
    if not trace:
        with open(history, "a") as f:
            f.write(f"{med(s.get('pass_s', []))}\n")
        return {
            "setup_s": gen_s + med(s.get("setup_s", [])),
            "pass_s": med(s.get("pass_s", [])),
            "call_s.geomean": statistics.geometric_mean(s["call_s"]) if s.get("call_s") else 0.0,
        }
    m = dict(raw["layers"])
    for k in ["backfill_s", "corpus_ops_s", "warehouse_bytes_per_row"]:  # medians
        m[k] = med(s.get(k, []))
    for k in ["etl_run_s", "dashboard_refresh_s", "freshness_s"]:
        m[k + ".p50"] = med(s.get(k, []))
        m[k + ".tail"] = tail(s.get(k, []))
        m[k + ".samples"] = len(s.get(k, []))
    m["call_s.tail"] = tail(s.get("call_s", []))
    m["pass_cpu_s"] = med(s.get("pass_cpu_s", []))
    m["call_s.samples"] = len(s.get("call_s", []))
    m["live_heap_mb"] = max(s.get("live_heap_mb", [0.0]))
    m["failed_ops_frac"] = raw["failed"] / max(1, raw["attempted"])
    untraced = [float(x) for x in history.read_text().split()] if history.is_file() else []
    traced = med(s.get("pass_s", []))
    m["trace.overhead_frac"] = traced / med(untraced) - 1 if traced and untraced else 0.0
    return m


def units():
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["covid_pipeline", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="normal")
    a = ap.parse_args()

    WORK.mkdir(parents=True, exist_ok=True)
    cp = build()
    inputs, gen_s = make_inputs(a.workload, a.seed, a.size)
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "result.json"
    z = SIZES[a.size]
    extra = ([str(z["backfill_cap"]), str(z["live_dates"])] if a.workload == "covid_pipeline"
             else [str(HERE / f"expected_corpus_{a.size}.txt")])
    tmp = run_dir / "tmp"
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dspark.sql.warehouse.dir={run_dir / 'spark-warehouse'}",
              f"-Dderby.system.home={run_dir}",
              "-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), str(inputs), str(run_dir), str(out), str(CORES)] + extra)
    t0 = cpu_ticks()
    r = subprocess.run(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr, timeout=160)
    t1 = cpu_ticks()
    print(f"perfbench: steal {(t1[0] - t0[0]) / max(1, t1[1] - t0[1]):.1%} of CPU time during the run",
          file=sys.stderr)
    if r.returncode != 0 or not out.is_file():
        die(f"harness exited with {r.returncode}")
    raw = json.loads(out.read_text())
    if a.trace:
        shutil.copy(run_dir / "spans.jsonl", WORK / f"spans-{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    metrics = summarize(raw, gen_s, a.trace, WORK / f"untraced-{a.workload}-{a.size}.txt")
    unit = units()
    unknown = sorted(set(metrics) - set(unit))
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {unknown}")
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
