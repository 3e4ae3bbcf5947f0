#!/usr/bin/env python3
"""Run one benchmark workload of the link-graph engine.

    python3 perfbench/run.py --workload battery-small --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark driver if needed (perfbench/build.py),
then runs perfbench.Main in one JVM with the settings pinned in
perfbench/settings.json. Prints one line per metric (name, value, unit,
sample count) and, as the last line of standard output, one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Exits non-zero without a
result if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# a run must end within 180 s; leave room to stop the JVM
RUN_TIMEOUT_S = 175
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_gb(rule):
    """Heap in GiB: MemTotal divided by rule["divisor"], clamped to [min, max]."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(rule["min_gb"], min(rule["max_gb"], kb // (rule["divisor"] * 1048576)))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    if a.workload not in settings["workloads"]:
        sys.exit(f"unknown workload {a.workload!r}; known: {', '.join(settings['workloads'])}")
    wl = settings["workloads"][a.workload]

    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    launch_ms = int(time.time() * 1000)
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.txt")
    master = settings["master"].replace("nproc", str(len(os.sched_getaffinity(0))))
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += settings["jvm_options"] + [
        f"-Xmx{heap_gb(settings['heap'])}g",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--master", master,
        "--aqe", str(settings["aqe"]).lower(), "--setup-reps", str(settings["setup_reps"]),
        "--local-dir", os.path.join(work, "local"), "--launch-ms", str(launch_ms),
        "--result", result,
        "--spans", os.path.join(build.build_dir(), f"spans-{a.workload}-seed{a.seed}.jsonl")]
    for k, v in wl.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]

    log_path = os.path.join(build.build_dir(), f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        code = None
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S - (time.time() * 1000 - launch_ms) / 1000)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log_path) as f:
        notes = [line for line in f if line.startswith("[perfbench]")]
    sys.stderr.writelines(notes)
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.writelines(tail)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: run {'timed out' if code is None else f'failed (exit {code})'}; log {log_path}")
    with open(result) as f:
        out = f.read()
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
