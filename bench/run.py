#!/usr/bin/env python3
"""Run one graft benchmark workload (see bench/README.md).

    python3 bench/run.py --workload feed_mixed --seed 1 --seconds 30 --trace 0
    python3 bench/run.py --all --seed 1            # every workload, one report
    python3 bench/run.py --selftest                # checker self-test

Builds the engine and the benchmark from source when stale
(bench/build.py), then runs the workload in a fresh JVM at
local[nproc] with a heap derived from MemTotal. Each run gets its own
work dir and Spark local dir under `.bench_work/`, deleted afterwards.
The last stdout line of a workload run is the result JSON.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["feed_mixed", "bulk_scan", "curation_ingest"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """Half of MemTotal, clamped to [2, 8] GB: the engine's own verify
    sizing (ROADMAP tier-1), so the bench never out-sizes its host."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def java_cmd(classpath, main, args, heap, tmpdir):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    props = [
        f"-Djava.io.tmpdir={tmpdir}",
        f"-Dgraftbench.gitSha={git_sha()}",
        f"-Dgraftbench.srcDigest={build.source_digest()}",
        f"-Dgraftbench.heapGb={heap}",
        f"-Dgraftbench.cores={cores()}",
    ]
    return (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseG1GC"] + opens + props +
            ["-cp", classpath, main] + args)


def run_java(cmd, cwd, timeout_s):
    """Run the JVM in its own process group, pass its stdout through,
    and return (exit code, last stdout line). The group is killed and
    reaped on timeout or interruption."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(timeout_s, kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                last = line
            print(line, flush=True)
        proc.wait()
    except KeyboardInterrupt:
        kill()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
        proc.wait()
    if proc.returncode < 0:
        print(f"run: JVM killed (signal {-proc.returncode})", file=sys.stderr)
        return 124, ""
    return proc.returncode, last


def passed(line):
    """True when `line` is a well-formed result of a run whose every
    answer was right."""
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and
            set(r) == {"correct", "attempted", "failed", "metrics"} and
            isinstance(r["attempted"], int) and r["attempted"] >= 1 and
            r["correct"] is True and r["failed"] == 0)


def run_workload(classpath, workload, seed, seconds, trace):
    work = os.path.join(build.ROOT, ".bench_work",
                        f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work]
    if trace:
        results = os.path.join(build.ROOT, ".bench_results")
        os.makedirs(results, exist_ok=True)
        args += ["--spans",
                 os.path.join(results, f"spans-{workload}-seed{seed}.tsv")]
    try:
        code, last = run_java(
            java_cmd(classpath, "graftbench.Main", args, heap_gb(),
                     os.path.join(work, "tmp")),
            work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code == 0 and passed(last)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--all", action="store_true",
                   help="run every workload and print every metric")
    p.add_argument("--selftest", action="store_true",
                   help="run the checker self-test")
    a = p.parse_args()
    classpath = build.build()
    if a.selftest:
        code, _ = run_java(java_cmd(classpath, "graftbench.SelfTest", [], 2,
                                    build.ROOT), build.ROOT, RUN_TIMEOUT_S)
        sys.exit(code)
    if a.all:
        ok = all([run_workload(classpath, w, a.seed, a.seconds, a.trace)
                  for w in WORKLOADS])
        sys.exit(0 if ok else 1)
    if not a.workload:
        p.error("--workload, --all or --selftest is required")
    sys.exit(0 if run_workload(classpath, a.workload, a.seed, a.seconds,
                               a.trace) else 1)


if __name__ == "__main__":
    main()
