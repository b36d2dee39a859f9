"""Traffic-shaped benchmark of the datastream engine.

    python3 perfbench/run.py --workload <ingest|query> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source on first use (perfbench/build.py), then runs one workload in a
single JVM on local[nproc] with one closed-loop client. The last stdout line
is the result object; it is printed only when the run succeeded. Spans of a
traced run are written to .bench_build/perfbench/traces/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "query")
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would pass.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
# C1 only, compiling early, on a fixed set of compiler threads: in runs
# under a minute the C2 compiler threads competed with the Spark task
# threads for the four vCPUs (perfbench/DESIGN.md). C1 only shrinks the
# default code cache to 48 MB, which filled up and stopped compilation, so
# the tiered default of 240 MB is set.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
       "-XX:-UseDynamicNumberOfCompilerThreads",
       "-XX:Tier3InvocationThreshold=50", "-XX:Tier3MinInvocationThreshold=25",
       "-XX:Tier3CompileThreshold=500", "-XX:Tier3BackEdgeThreshold=10000"]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classpath = build.build()
    run_dir = os.path.join(build.OUT, "runs", str(os.getpid()))
    traces = os.path.join(build.OUT, "traces")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + JIT + [
        "-Xmx2g", "-Djava.io.tmpdir=" + tmp, "-cp", os.pathsep.join(classpath),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    # a terminated runner still stops the JVM it started (see below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # a hung JVM is killed, which also ends the read loop below
    watchdog = threading.Timer(JVM_TIMEOUT_S, kill)
    watchdog.start()
    last = None
    try:
        # forward every line but hold the newest one back: the result line
        # is printed only once the JVM has exited cleanly
        for line in proc.stdout:
            if last is not None:
                sys.stdout.write(last)
                sys.stdout.flush()
            last = line
        rc = proc.wait()
    except BaseException:
        kill()
        proc.wait()
        raise
    finally:
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or last is None or not last.startswith('{"correct"'):
        if last is not None and not last.startswith('{"correct"'):
            sys.stdout.write(last)
        sys.exit(rc or 1)
    sys.stdout.write(last)


if __name__ == "__main__":
    main()
