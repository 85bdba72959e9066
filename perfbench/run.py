#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark if needed (perfbench/build.py),
runs the workload in one JVM, and prints the JVM's report: one detail
line per pass (latency percentiles, workload values, environment stamp)
and, last, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. `--trace 0` reports the end-to-end metrics; `--trace 1` runs
the loop untraced and then traced, and reports the per-layer metrics.
The metric names printed are checked against BENCHMARK.json.

    python3 perfbench/run.py --selftest

runs the benchmark's own tests (input determinism, failure counting).

Exit codes: 0 ok; 1 a correctness check failed; 2 build or usage error;
3 timeout; 4 the report does not match BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing but .bench_build/ is written
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# A fixed heap and young generation under the parallel collector: the
# heap's shape does not adapt differently from run to run, and a full GC
# compacts everything, so heap_live_mb reads one value for the same data
# (under G1 it took two values ~16 MB apart for the same code).
JVM_OPTS = ["-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:-UsePerfData", "-Dspark.ui.enabled=false"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]
RUN_TIMEOUT_S = 170


def run_jvm(main, args, classes, jars):
    tmp = os.path.join(build.OUT, "tmp")
    work = os.path.join(build.OUT, "work")
    # a killed run leaves its stores behind; runs are sequential
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp,
                                 "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    p = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[perfbench] timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
        sys.exit(3)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else None
    if not a.selftest:
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        if spec and a.workload not in {w["name"] for w in spec["workloads"]}:
            ap.error(f"unknown workload {a.workload}")

    t0 = time.time()
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"[perfbench] build ready in {time.time() - t0:.1f} s", file=sys.stderr)

    if a.selftest:
        code, out = run_jvm("perfbench.SelfTest", ["--work", os.path.join(build.OUT, "work")], classes, jars)
        sys.stdout.write(out)
        sys.exit(code)

    code, out = run_jvm("perfbench.Main",
                        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--work", os.path.join(build.OUT, "work")],
                        classes, jars)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"[perfbench] no result line (exit code {code})", file=sys.stderr)
        sys.exit(code or 4)
    if spec:
        want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if want != got:
            print(f"[perfbench] metrics do not match BENCHMARK.json: missing "
                  f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                  f"unit differs {sorted(k for k in set(want) & set(got) if want[k] != got[k])}",
                  file=sys.stderr)
            sys.exit(4)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(code)


if __name__ == "__main__":
    main()
