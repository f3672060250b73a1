#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the program and the benchmark (perfbench/build.py), then runs the
workload in one JVM. From the end of the build, the run lasts about
--seconds of wall time: set-up, input generation, warm-up, the per-layer
phase of a traced run, the timed window and the output checks all fall
inside it. An untraced run measures set-up in a fresh JVM before the
workload's, which gives the second sample, and in as many after it as the
run's length leaves room for; setup_s is their median. A traced run fills
its length with warm-up operations instead.
The reported metrics and their units are the ones BENCHMARK.json declares.
The last line of standard output is the JSON result; the exit code is 0
only if every operation's output check passed. JVM heap and GC are fixed
here (HEAP, GC) and printed by the run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("filter_bulk", "checks_daily")
HEAP = "3g"
GC = "-XX:+UseParallelGC"
RUN_TIMEOUT_S = 170
# wall seconds a run needs after its window: host stamp, trace file,
# session stop, JVM exit
TAIL_S = 1.0
# the module openings Spark needs on JDK 17 outside spark-submit (the same
# list as the project's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(cp, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM writes no hsperfdata file outside the
    # checkout
    return [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, GC,
            "-XX:-UsePerfData"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main"]


def run(cmd, env, deadline, capture):
    """Runs one JVM to completion (killed at the deadline); returns
    (exit code, stdout lines)."""
    p = subprocess.Popen(cmd, env=env, cwd=env["PERFBENCH_WORK"],
                         stdout=subprocess.PIPE, text=True)
    lines = []
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return 124, lines
    lines = out.splitlines()
    if not capture:
        for line in lines[:-1]:
            print(line, flush=True)
    return p.returncode, lines


def setup_probe(base, env, kill_at):
    """One set-up sample in a fresh JVM; returns (seconds, wall seconds of
    the probe)."""
    t0 = time.time()
    code, lines = run(base + ["--setup-only", "1", "--launch-ms",
                              str(int(t0 * 1000))], env, kill_at, capture=True)
    got = [float(ln.split()[1]) for ln in lines if ln.startswith("SETUP_S ")]
    if code != 0 or not got:
        sys.exit("perfbench: set-up probe failed (exit %d)" % code)
    return got[0], time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build_start = time.time()
    root = os.getcwd()
    cp = build.build()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    start = time.time()
    end = start + a.seconds
    work = os.path.join(build.BENCH, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, PERFBENCH_WORK=work)
    kill_at = start + RUN_TIMEOUT_S
    base = jvm(cp, tmp)

    # set-up is an end-to-end metric, so only untraced runs measure it: one
    # fresh JVM before the workload's, the workload's own, and as many more
    # after it as the run's length leaves room for
    samples, probe_walls = [], []
    if a.trace == 0:
        s, w = setup_probe(base, env, kill_at)
        samples.append(s)
        probe_walls.append(w)

    code, lines = run(base + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--trace", str(a.trace), "--root", root,
        "--deadline-ms", str(int((end - TAIL_S) * 1000)),
        "--metrics", ";".join("%s=%s" % (m["name"], m["unit"])
                              for m in declared if m["name"] != "setup_s"),
        "--launch-ms", str(int(time.time() * 1000))], env, kill_at,
        capture=False)
    if not (lines and lines[-1].startswith("{")):
        sys.exit("perfbench: the workload JVM printed no result (exit %d)"
                 % code)
    result = json.loads(lines[-1])
    if a.trace == 0:
        samples += [float(ln.split()[1]) for ln in lines
                    if ln.startswith("SETUP_S ")]
        while code == 0 and time.time() + statistics.median(probe_walls) <= end:
            s, w = setup_probe(base, env, kill_at)
            samples.append(s)
            probe_walls.append(w)
        setup = statistics.median(samples)
        print("setup samples (s): %s" % ", ".join("%.3f" % x for x in samples))
        print("setup_s %.6g s" % setup)
        got = dict(result["metrics"], setup_s={"value": setup, "unit": "s"})
        result["metrics"] = {m["name"]: got[m["name"]] for m in declared}
    print("run_wall_s %.1f (declared %g s; build %.1f s before it)"
          % (time.time() - start, a.seconds, start - build_start), flush=True)
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
