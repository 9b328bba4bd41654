#!/usr/bin/env python3
"""Self-test of the benchmark at the smoke scale.

    python3 perfbench/selftest.py

Run from the repository root. Runs every workload once untraced and once
traced on tiny seeded inputs, and asserts that:

- the last output line is a result with exactly the contract's keys;
- every end-to-end metric (untraced) or per-layer metric (traced) of
  BENCHMARK.json is emitted by name, with its declared unit and a numeric
  value, and no other;
- the run is correct: no operation failed and every output check of the
  workload ran and passed (the benchmark reports `correct: false` when a
  check never ran);
- in a directory that holds only BENCHMARK.json and the benchmark's own
  files, the benchmark exits non-zero without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(p, wanted, label):
    assert p.returncode == 0, f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}"
    last = p.stdout.strip().splitlines()[-1]
    r = json.loads(last)
    assert set(r) == RESULT_KEYS, f"{label}: result keys {sorted(r)}"
    assert r["correct"] is True, f"{label}: not correct\n{p.stdout}"
    assert r["failed"] == 0 and r["attempted"] >= 1, f"{label}: {r['failed']}/{r['attempted']} failed"
    got = r["metrics"]
    missing, extra = set(wanted) - set(got), set(got) - set(wanted)
    assert not missing and not extra, f"{label}: missing {sorted(missing)}, extra {sorted(extra)}"
    for name, unit in wanted.items():
        v = got[name]
        assert set(v) == {"value", "unit"}, f"{label}: {name} keys {sorted(v)}"
        assert v["unit"] == unit, f"{label}: {name} unit {v['unit']} != {unit}"
        assert isinstance(v["value"], (int, float)), f"{label}: {name} value {v['value']!r}"
    checks = [l for l in p.stdout.splitlines() if l.startswith("perfbench: checks:")]
    print(f"ok  {label}: {len(got)} metrics; {checks[0][len('perfbench: '):] if checks else ''}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from run import WORKLOADS
    listed = [w["name"] for w in bench["workloads"]]
    assert sorted(WORKLOADS) == sorted(listed), f"run.py runs {WORKLOADS}, BENCHMARK.json lists {listed}"
    for w in WORKLOADS:
        check_result(run(ROOT, w, 0), e2e, f"{w} trace=0")
        check_result(run(ROOT, w, 1), layers, f"{w} trace=1")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
    p = run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, "benchmark succeeded without the engine's sources"
    assert not any(l.startswith("{") for l in p.stdout.splitlines()), "printed a result without sources"
    print(f"ok  without sources: exit {p.returncode}, no result")


if __name__ == "__main__":
    main()
