#!/usr/bin/env python3
"""Run the graft benchmark.

    python3 perfbench/run.py --workload dedup_corpus --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --all --seed 1 [--seconds 24] [--trace 1]
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source on first use (see
build.py), then runs one JVM per workload. The last stdout line of a run
is its result object; the line before it records the environment.
Everything the run writes stays under .bench_build in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["monitor_batch", "monitor_interactive", "monitor_stream", "dedup_corpus"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these when the session is built outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, jars, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    log_conf = os.path.join(build.ROOT, "perfbench", "log4j2.properties")
    # fixed heap size, so heap resizing does not differ from run to run;
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={log_conf}"] + opens +
            ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)


def run_java(main, args, timeout):
    classes, jars = build.build()
    run_dir = os.path.join(build.OUT, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        p = subprocess.Popen(java_cmd(classes, jars, main, args + ["--dir", run_dir], tmp),
                             cwd=build.ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"{main} did not finish within {timeout} s")
        if p.returncode != 0:
            raise RuntimeError(f"{main} exited with code {p.returncode}")
        return out.splitlines()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def declared_metrics(trace):
    """Names BENCHMARK.json declares for the mode: end-to-end untraced, per-layer traced."""
    return [m["name"] for m in spec()["per_layer" if trace else "end_to_end"]]


def run_workload(workload, seed, seconds, trace):
    t0 = time.monotonic()
    names = declared_metrics(trace)
    lines = run_java("perfbench.Main",
                     ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                      "--trace", str(trace)], RUN_TIMEOUT_S)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError("malformed result line")
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        raise RuntimeError(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    # the full set stays in the report line; the result line carries the declared ones
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(f"[perfbench] {workload} finished in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return lines[:-1] + [json.dumps(result)]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="measured seconds (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true", help="test the benchmark's own code")
    a = ap.parse_args()
    try:
        if a.seconds is None and not a.self_test:
            a.seconds = spec()["run_seconds"]
        if a.self_test:
            for line in run_java("perfbench.SelfTest", [], RUN_TIMEOUT_S):
                print(line)
        elif a.all:
            for w in WORKLOADS:
                for line in run_workload(w, a.seed, a.seconds, a.trace):
                    print(line, flush=True)
        elif a.workload:
            for line in run_workload(a.workload, a.seed, a.seconds, a.trace):
                print(line)
        else:
            ap.error("give --workload, --all or --self-test")
    except (build.BuildError, RuntimeError, ValueError, IndexError, OSError) as e:
        print(f"[perfbench] failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
