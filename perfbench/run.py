#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark (see build.py); inputs are generated from the seed and cached per
seed under .perfbench/. One JVM runs the workload as a single client in a
closed loop for --seconds, with a local Spark session on every core. The
last line of standard output is the result: one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics, or
with --trace 1 the per-layer metrics). See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("attribution_e2e", "table_commits")
JVM_TIMEOUT_S = 170


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="input scale; 'tiny' is the self-test's smoke scale")
    a = ap.parse_args()

    load_start = loadavg()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.WORK, "run")
    # per-run state starts empty; generated inputs (run/inputs) are kept per seed
    for d in ("attr", "table", "out"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    log = os.path.join(build.WORK, "jvm.log")
    cmd, env = build.jvm_command(cp, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", a.scale])
    rc = build.run_jvm(cmd, env, log, JVM_TIMEOUT_S)
    if rc != 0:
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: benchmark JVM {why}; log tail:\n{tail(log)}", file=sys.stderr)
        return 1
    out = os.path.join(work, "out")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "info.json")) as f:
        info = json.load(f)
    trace = os.path.join(out, f"trace-{a.workload}-{a.seed}.json")
    if os.path.exists(trace):
        keep = os.path.join(build.WORK, "traces")
        os.makedirs(keep, exist_ok=True)
        info["trace"] = shutil.copy(trace, keep)

    print(f"perfbench: workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"scale={a.scale} cores={build.cpus()} xmx={build.XMX}")
    print(f"perfbench: loadavg start={load_start} end={loadavg()}")
    for k, v in info.items():
        print(f"perfbench: {k}: {v}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
