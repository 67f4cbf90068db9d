#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <curation_1k|query_suite>
        --seed <n> --seconds <s> --trace <0|1> [--record]

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run starts a
fresh JVM at local[nproc] with the program's own JVM options and does a
fixed amount of work: `--seconds` is accepted and does not change it.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` they are the per-layer
metrics plus `trace_overhead_frac`: the traced run's `work_cpu_s` relative to
the median of the untraced runs made with the same build in this checkout
(one untraced run is made first when there is none). The line before it is
the run's environment stamp.
The exit code is 0 only when every output check passed.

`--record` appends the measured output counts for keys that
`perfbench/expected/` has no entry for (seeds of curation_1k, queries of
query_suite), instead of failing on them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("curation_1k", "query_suite")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD_DIR, "launch.txt")
STAMP = os.path.join(BUILD_DIR, "launch.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources here ({need} is missing); run from the root of a checkout")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, and every temporary file and lock the build can place
    # elsewhere kept in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:+PerfDisableSharedMem",
               SBT_OPTS="-Dsbt.offline=true -Dsbt.override.build.repos=true "
                        "-Dsbt.server.autostart=false -Dsbt.boot.lock=false "
                        f"-Dsbt.ivy.home={os.path.join(BUILD_DIR, 'ivy')} "
                        f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Xmx2g")
    t0 = time.time()
    try:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", f"writeLaunch {LAUNCH}"],
            BUILD_LIMIT_S, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_LIMIT_S} s", 1)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(out[-4000:])
        fail("build failed", 1)
    for name in os.listdir(BUILD_DIR):
        if name.startswith("untraced-"):
            os.remove(os.path.join(BUILD_DIR, name))
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(workload, seed, trace, record, deadline):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    work = os.path.join(BUILD_DIR, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:+PerfDisableSharedMem",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dperfbench.record={'true' if record else 'false'}"]
           + jvm_opts + ["-cp", classpath, "perfbench.Main", workload, str(seed),
                         str(trace), BENCH_DIR, work])
    try:
        code, out = run_group(cmd, max(1.0, deadline - time.time()), cwd=ROOT,
                              stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {RUN_LIMIT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not results:
        fail(f"{workload} JVM exited with code {code} and no result", 1)
    return json.loads(results[-1][len("PERFBENCH_RESULT "):])


def work_cpu_s(result):
    return result["metrics"]["work_cpu_s"]["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    # a terminated benchmark takes its build or JVM down with it (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    deadline = time.time() + RUN_LIMIT_S
    untraced_log = os.path.join(BUILD_DIR, f"untraced-{a.workload}.txt")
    runs = []
    if not a.trace or not os.path.exists(untraced_log):
        runs.append(run_jvm(a.workload, a.seed, 0, a.record, deadline))
        if runs[0]["correct"]:
            with open(untraced_log, "a") as fh:
                fh.write(f"{work_cpu_s(runs[0])}\n")
    if a.trace:
        runs.append(run_jvm(a.workload, a.seed, 1, a.record, deadline))
    last = runs[-1]
    for r in runs:
        for f in r["failures"]:
            print(f"[perfbench] check failed: {f}", file=sys.stderr)
    if a.trace:
        with open(untraced_log) as fh:
            untraced = statistics.median(float(l) for l in fh if l.strip())
        metrics = dict(last["layers"])
        metrics["trace_overhead_frac"] = {
            "value": work_cpu_s(last) / untraced - 1, "unit": "fraction"}
    else:
        metrics = last["metrics"]
    correct = all(r["correct"] for r in runs)
    print(json.dumps({"env": last["env"], "detail": last["detail"]}))
    print(json.dumps({"correct": correct, "attempted": last["attempted"],
                      "failed": last["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
