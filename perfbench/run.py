#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. Builds first when sources changed
(see build.py), then runs the workload in one JVM with a local[4] Spark
session. Readable lines go to stdout; the last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. A traced run
(`--trace 1`) reports per-layer metrics instead of end-to-end ones and
writes its spans to `<build dir>/traces/<workload>-seed<n>.json`.
Exits non-zero, printing no result, when the build, the run or the
result fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["cdc_catchup", "cdc_follow", "catalog_mix"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # A stopped run stops its build or JVM too: SIGTERM unwinds like an
    # error, and every child is killed and waited for on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))

    java = build.build()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.OUT / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    trace_out = build.OUT / "traces" / f"{a.workload}-seed{a.seed}.json"
    cmd = [*java, f"-Djava.io.tmpdir={work / 'tmp'}", "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
           "--trace-out", str(trace_out)]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"run: {a.workload} did not finish in {RUN_TIMEOUT_S} s (log: {log_path})")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines) + "\n")
        sys.exit(f"run: {a.workload} exited with {proc.returncode} (log: {log_path})")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stdout.write("\n".join(lines) + "\n")
        sys.exit(f"run: {a.workload} printed no result (log: {log_path})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
