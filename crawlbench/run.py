#!/usr/bin/env python3
"""Crawl-extraction benchmark: builds the program with the benchmark
sources, runs one workload in a fresh JVM, and prints one JSON result
line.

    python3 crawlbench/run.py --workload extract_fresh --seed 1 --seconds 8 --trace 0

Workloads: extract_fresh, extract_resume, crawl_to_corpus (see
crawlbench/src/main/scala/crawlbench/Workloads.scala for why each exists).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Inputs and run artifacts (context.json, spans.jsonl, stderr.log) stay
under .bench_build/ at the repository root, classes under
crawlbench/target/; the build is redone only when a source file changes.
Needs SPARK_HOME and sbt.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("extract_fresh", "extract_resume", "crawl_to_corpus")
# local[k] with k = CPUs - 1, at most 4: one CPU stays free for Spark's
# scheduling thread and the JIT compiler and GC threads, which otherwise
# compete with every task and make run-to-run times noisier.
MAX_CORES = 4
# Fixed, pre-touched heap: the heap's share of peak_rss_mb is then the
# same on every run, and the metric moves with native and code memory.
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
RESULT_PREFIX = "CRAWLBENCH_RESULT "

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


_child = None      # the running sbt or JVM process, in its own group
_scratch = None    # work directory to remove when stopped


def fail(msg):
    if _scratch is not None:
        shutil.rmtree(_scratch, ignore_errors=True)
    print(f"crawlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _kill_child():
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def _on_signal(signum, _frame):
    _kill_child()
    fail(f"stopped by signal {signum}")


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout or on a signal to
    this script the whole group is killed and waited for. Returns
    (exit code, stdout text or None)."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True,
                              text=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_child()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return _child.returncode, out


def source_files():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (PROGRAM_SRC, HERE / "src"):
        files += sorted(base.rglob("*.scala"))
    return files


def build():
    """Compiles program + benchmark with sbt unless the sources are unchanged."""
    if not (PROGRAM_SRC / "graft").is_dir():
        fail(f"program sources not found under {PROGRAM_SRC}; run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / "build.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             f"-Djava.io.tmpdir={tmp}", "compile"],
                            BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (exit {code}), see {BUILD / 'build.log'}")
    stamp.write_text(h.hexdigest())
    return classes


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return None


def cpu_times():
    """Machine-wide CPU seconds by state (user, nice, system, idle, iowait,
    irq, softirq, steal), to attribute a noisy run to other load."""
    try:
        ticks = Path("/proc/stat").read_text().split("\n")[0].split()[1:9]
    except OSError:
        return None
    hz = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(t) / hz for n, t in zip(names, ticks)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    classes = build()

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = BUILD / "work" / tag
    artifacts = BUILD / "artifacts" / tag
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    artifacts.mkdir(parents=True)
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd = [*jvm, "-cp", f"{classes}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
           "crawlbench.Main", "--workload", a.workload, "--seed", str(a.seed % (1 << 63)),
           "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
           "--work", str(work), "--artifacts", str(artifacts)]

    global _scratch
    _scratch = work
    load_before, cpu_before = loadavg(), cpu_times()
    with open(artifacts / "stderr.log", "w") as err:
        code, out = run_child(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE, stderr=err)
    load_after, cpu_after = loadavg(), cpu_times()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith(RESULT_PREFIX)]
    if not lines:
        fail(f"no result (exit {code}); see {artifacts / 'stderr.log'}")
    result = json.loads(lines[-1][len(RESULT_PREFIX):])

    ctx_path = artifacts / "context.json"
    ctx = json.loads(ctx_path.read_text()) if ctx_path.exists() else {}
    cpu_delta = cpu_before and cpu_after and {
        n: round(cpu_after[n] - cpu_before[n], 2) for n in cpu_before}
    ctx.update({"loadavg_before": load_before, "loadavg_after": load_after,
                "machine_cpu_s_during_run": cpu_delta,
                "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
                "java_cmd": jvm, "exit_code": code, "result": result})
    ctx_path.write_text(json.dumps(ctx, indent=1, sort_keys=True))
    print(f"crawlbench: artifacts in {artifacts}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
