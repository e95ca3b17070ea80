"""Engine benchmark entry point.

    python3 perfbench/run.py --workload {ingest,scan,lookup} --seed N \
        --seconds S --trace {0,1} [--self-test]

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one workload in a fresh JVM: Spark local[k] with k = CPUs - 1 task
slots, a pinned heap, GC threads capped at k, and every file the run
writes kept under the build directory. The last line of standard output is
one JSON object: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1.

--self-test runs the workload with one deliberately wrong expected value
and passes only if the benchmark's checks catch it (ok_rate below 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "scan", "lookup")
HEAP = "3g"
# wall-clock cap of one benchmark JVM, inside the 180 s a run may take
RUN_CAP_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def task_slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 2
    return max(1, n - 1)


def run(args):
    cp = build.build()
    k = task_slots()
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={k}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.EngineBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--self-test", "1" if args.self_test else "0", "--cores", str(k),
              "--work", work, "--trace-dir", os.path.join(build.build_dir(), "traces")])
    env = {key: v for key, v in os.environ.items() if key not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    log_path = os.path.join(build.build_dir(), f"jvm-{args.workload}-{os.getpid()}.log")
    lines = []
    killed = []

    def kill():
        killed.append(True)
        os.killpg(p.pid, signal.SIGKILL)

    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             env=env, cwd=work, start_new_session=True)
        watchdog = threading.Timer(RUN_CAP_S, kill)
        watchdog.start()
        try:
            for line in p.stdout:
                lines.append(line.rstrip("\n"))
                if not line.startswith("{"):
                    print(line, end="", flush=True)
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                kill()
                p.wait()
    if killed:
        print(f"[run] benchmark JVM exceeded {RUN_CAP_S} s and was killed", file=sys.stderr)
        lines = []
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    if p.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        return p.returncode or 1, None
    os.remove(log_path)
    return 0, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    try:
        rc, result = run(args)
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2
    if rc != 0:
        return rc
    if not args.self_test:
        print(json.dumps(result))
        return 0
    ok_rate = result["metrics"].get("ok_rate", {}).get("value", 1.0)
    caught = result["failed"] >= 1 and not result["correct"] and ok_rate < 1.0
    print(json.dumps(result))
    print(f"[self-test] one wrong expected value fed: failed={result['failed']} "
          f"ok_rate={ok_rate} -> {'PASS' if caught else 'FAIL'}")
    return 0 if caught else 1


if __name__ == "__main__":
    sys.exit(main())
