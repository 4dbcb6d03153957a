#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --workload catalog --write-digests   # refresh catalog digests

Workloads: ingest_serve, catalog (see perfbench/README.md).
Builds the library and the benchmark from source on first use (perfbench/build.py),
then runs one JVM. Every line but the last names a metric; the last line is one
JSON object with `correct`, `attempted`, `failed` and `metrics`. Exits non-zero
when the build fails, the run fails, or any operation or output check failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
WORKLOADS = ["ingest_serve", "catalog"]
RUN_TIMEOUT_S = 170


def run_jvm(cmd, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {timeout} s", file=sys.stderr)
        return None, 124
    return out, proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--write-digests", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_build" / "work" / f"{a.workload or 'self-test'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.self_test:
            out, rc = run_jvm(build.java_cmd(work, "graft.perfbench.SelfTest",
                                       ["--work", str(work), "--bench-json", str(ROOT / "BENCHMARK.json")]),
                              RUN_TIMEOUT_S)
            sys.stdout.write(out or "")
            return rc
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work),
                "--data", str(BENCH / "data" / "sf0.01"),
                "--digests", str(BENCH / "catalog_digests.json")]
        if a.write_digests:
            args.append("--write-digests")
        out, rc = run_jvm(build.java_cmd(work, "graft.perfbench.Main", args), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = (out or "").rstrip("\n").split("\n")
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out or "")
        print(f"[perfbench] run failed (exit {rc})", file=sys.stderr)
        return rc or 1
    result = json.loads(lines[-1])
    print("\n".join(lines))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
