#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ccf_matrix --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the library and the benchmark
(perfbench/build.py), then runs the workload in one fresh JVM: a single
`local[N]` Spark session (N = CPUs of this process), one closed-loop client,
a fixed heap cap (-Xmx, not pre-sized). The last line of standard output is
the result JSON. With --trace 0 it carries the end-to-end metrics; with
--trace 1 the per-layer metrics, and the full trace artifact is written to
.bench_out/trace-<workload>-seed<seed>.json.

peak_rss_mb, a per-layer metric, is measured here, from outside the JVM: the
resident high-water mark of the JVM process as the kernel reports it on exit.
"""
import argparse
import json
import os
import re
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ccf_matrix", "suite_sf0.01")
HEAP = "3g"
TIMEOUT_S = 170
OUT_DIR = ".bench_out"
RESULT_TAG = "PERFBENCH_RESULT "
# per-layer metrics that run.py measures itself
OWN_LAYER = {"peak_rss_mb"}
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(main, args):
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        opts.append(f"--add-opens={p}=ALL-UNNAMED")
    return ["java"] + opts + ["-cp", build.classpath(), main] + args


def run_jvm(cmd):
    """Run the JVM in its own process group; return (exit code, stdout lines,
    peak RSS in MB). Stdout lines other than the result are echoed to stderr."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith(RESULT_TAG):
                sys.stderr.write(line)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    deadline = time.monotonic() + TIMEOUT_S
    status, usage = 0, None
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            pid, status, usage = os.wait4(proc.pid, 0)
            print(f"perfbench: JVM killed after {TIMEOUT_S}s", file=sys.stderr)
            status = -1
            break
        time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status) if status != -1 else -1
    reader.join(timeout=10)
    # ru_maxrss is in KiB on Linux
    return proc.returncode, lines, usage.ru_maxrss / 1024.0


def selftest():
    build.ensure()
    code, lines, _ = run_jvm(java_cmd("perfbench.SelfTest", []))
    results = [json.loads(l[len(RESULT_TAG):]) for l in lines if l.startswith(RESULT_TAG)]
    if code != 0 or not results:
        print("selftest: JVM checks failed", file=sys.stderr)
        return 1
    emitted = results[-1]
    emitted_e2e = set(emitted["end_to_end"])
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    declared_e2e = {m["name"] for m in spec["end_to_end"]}
    declared_layer = {m["name"] for m in spec["per_layer"]}
    problems = []
    emitted_layer = set(emitted["per_layer"]) | OWN_LAYER
    for name in sorted(emitted_e2e | emitted_layer | declared_e2e | declared_layer):
        if not NAME_RE.match(name):
            problems.append(f"bad metric name {name!r}")
    if emitted_e2e != declared_e2e:
        problems.append(f"end_to_end differs from BENCHMARK.json: {sorted(emitted_e2e ^ declared_e2e)}")
    if emitted_layer != declared_layer:
        problems.append(f"per_layer differs from BENCHMARK.json: "
                        f"{sorted(emitted_layer ^ declared_layer)}")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        problems.append("workloads differ from BENCHMARK.json")
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.workload is None:
        ap.error("--workload is required")
    build.ensure()
    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--out", OUT_DIR]
    code, lines, rss_mb = run_jvm(java_cmd("perfbench.Main", args))
    results = [l[len(RESULT_TAG):] for l in lines if l.startswith(RESULT_TAG)]
    if code != 0 or not results:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    result = json.loads(results[-1])
    if a.trace == 1:
        rss = {"value": rss_mb, "unit": "MB"}
        result["metrics"]["peak_rss_mb"] = rss
        artifact = os.path.join(OUT_DIR, f"trace-{a.workload}-seed{a.seed}.json")
        with open(artifact) as f:
            trace = json.load(f)
        trace["layers"]["peak_rss_mb"] = rss
        with open(artifact, "w") as f:
            json.dump(trace, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
