#!/usr/bin/env python3
"""Runs one benchmark workload and prints one JSON result line.

    python3 perfbench/run.py --workload train_loader --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the library and the benchmark on
first use (see build.py), generates or reuses this seed's inputs in
.bench_build/perfbench/inputs, runs the workload in one JVM on a local
Spark session with as many cores as the host has, and removes the run's
own output directory afterwards. With --trace 1 it reports the per-layer
metrics of BENCHMARK.json instead of the end-to-end ones and leaves the
spans and the per-layer table in .bench_build/perfbench/traces.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("train_loader", "curate_text", "media_neardup")
DEADLINE_S = 170  # a run must end within 180 s, not counting the build
# Chosen for run-to-run steadiness (see README.md). A fixed, pre-touched
# heap: adaptive sizing made the peak resident set swing by a fifth between
# identical runs. The client JIT only: C2's late compilations left runs of
# the same seed 13 % apart after 30 s.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
             "-XX:TieredStopAtLevel=1"]


def expected_metrics(trace: bool) -> dict:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(res: dict, trace: bool) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    want = expected_metrics(trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, "
                         f"unexpected {extra}, or units differ")
    for k, v in res["metrics"].items():
        if not math.isfinite(v["value"]):
            raise ValueError(f"metric {k} is not finite")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = build.BUILD_DIR
    (work / "runs").mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{a.workload}-", dir=work / "runs"))
    (run_dir / "tmp").mkdir()
    cmd = [build.java(), *build.JVM_OPENS, *JVM_FLAGS, "-Xss4m",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cache-dir", str(work / "inputs"), "--run-dir", str(run_dir),
           "--trace-dir", str(work / "traces")]
    (work / "inputs").mkdir(exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        print(f"perfbench: {a.workload} did not finish within {DEADLINE_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, 9)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {a.workload} exited with code {proc.returncode}", file=sys.stderr)
        return 4
    try:
        res = json.loads(lines[-1])
        check_result(res, bool(a.trace))
    except ValueError as e:
        print(f"perfbench: bad result line: {e}", file=sys.stderr)
        return 5
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
