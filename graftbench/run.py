#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 graftbench/run.py --workload mtm_deep --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds graft and the
harness into .bench_build (see build.py); every run then starts one JVM
on local[nproc] that generates the seeded input, sets up, runs the timed
loop and checks every op (graftbench.Main). The last line of standard
output is the result object: {"correct", "attempted", "failed",
"metrics"}; --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones and writes the run's spans to
.bench_build/runs/<workload>-s<seed>-t1/spans.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mtm_deep", "corpus_dedup")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (the launcher's default module options)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def jvm_command(classpath, cds, tmp, main, args):
    # a fixed heap: G1 never shrinks it after a collection, so no op pays
    # for growing it back; no perf-data file in the system temp directory
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Xlog:all=warning,cds*=off:stderr", *cds,
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(build.BUILD, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(build.BUILD, 'derby')}",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, main] + args


def run_jvm(cmd, env):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S} s and was killed")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def validate(result):
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(result) != keys:
        raise ValueError(f"result keys {sorted(result)} != {sorted(keys)}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    for name, m in result["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name} is malformed: {m}")


def scratch_env(local):
    """The environment of a harness JVM whose shuffle scratch is `local`.

    Scratch goes through graft's own override, SPARK_GRAFT_LOCAL_DIR:
    the default Sessions picks on a host with a large /dev/shm lies
    outside the checkout, where the benchmark does not write.
    """
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would win over the override
    env["SPARK_GRAFT_LOCAL_DIR"] = local
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    return env


def run_harness(classpath, cds, out, main, args):
    """One harness JVM with run directory `out`; returns (exit code,
    stdout). Its input data and scratch are removed afterwards.
    """
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    local = os.path.join(out, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    try:
        return run_jvm(jvm_command(classpath, cds, tmp, main, args), scratch_env(local))
    finally:
        for d in ("data", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)


def train(classpath, archive):
    """Dump the class-data-sharing archive from one JVM that runs one op
    of every workload (graftbench.Train); a failed run leaves no archive.
    """
    out = os.path.join(build.BUILD, "runs", "train")
    try:
        code, _ = run_harness(classpath, [f"-XX:ArchiveClassesAtExit={archive}"], out, "graftbench.Train", [out])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)


def main():
    # a terminated benchmark still stops its JVM (run_jvm kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    try:
        classpath = build.build(train=train)
    except build.BuildError as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 2
    # -Xshare:on: a run that cannot map the archive fails instead of
    # silently taking the slower cold start
    cds = [f"-XX:SharedArchiveFile={build.ARCHIVE}", "-Xshare:on"]
    out = os.path.join(build.BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out]
    code, stdout = run_harness(classpath, cds, out, "graftbench.Main", args)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if code != 0 or not lines:
        print(f"[graftbench] harness exited with {code}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    validate(result)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
