#!/usr/bin/env python3
"""The benchmark's self-tests.

    python3 graftbench/selftest.py        # from the repository root

Builds the harness, runs graftbench.SelfTest (generator determinism,
metric names, the p90 sample rule, failure counting, parquet round
trip) and checks that BENCHMARK.json lists exactly the metrics the
harness reports and that the result validator rejects malformed lines.
Exits non-zero on any failure.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def harness_tests(classpath):
    scratch = os.path.join(build.BUILD, "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    tmp = os.path.join(scratch, "tmp")
    cmd = run.jvm_command(classpath, [], tmp, "graftbench.SelfTest", [os.path.join(scratch, "events")])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=run.scratch_env(tmp), timeout=170)
    shutil.rmtree(scratch, ignore_errors=True)
    print("\n".join(ln for ln in p.stdout.splitlines() if not ln.startswith("metric ")))
    metrics = {}
    for ln in p.stdout.splitlines():
        if ln.startswith("metric "):
            _, group, name, unit = ln.split()
            metrics.setdefault(group, {})[name] = unit
    return p.returncode == 0, metrics


def benchmark_json_tests(metrics):
    bench = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    failures = []
    for group in ("end_to_end", "per_layer"):
        listed = {m["name"]: m["unit"] for m in bench[group]}
        if listed != metrics.get(group):
            failures.append(f"BENCHMARK.json {group} differs from the harness's metrics")
    if set(w["name"] for w in bench["workloads"]) != set(run.WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from run.py's")
    return failures


def validator_tests():
    failures = []
    good = {"correct": True, "attempted": 3, "failed": 0, "metrics": {"op_p50_s": {"value": 1.5, "unit": "s"}}}
    run.validate(good)
    for bad in ({**good, "extra": 1}, {**good, "attempted": 0},
                {**good, "metrics": {"x": {"value": "1", "unit": "s"}}}):
        try:
            run.validate(bad)
            failures.append(f"validator accepted {bad}")
        except ValueError:
            pass
    return failures


def main():
    try:
        classpath = build.build(train=run.train)
    except build.BuildError as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 2
    ok, metrics = harness_tests(classpath)
    failures = benchmark_json_tests(metrics) + validator_tests()
    for f in failures:
        print(f"FAIL {f}")
    if ok and not failures:
        print("ok   BENCHMARK.json lists the harness's metrics and workloads; the result validator holds")
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
