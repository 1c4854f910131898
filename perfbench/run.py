"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), runs one workload in
one JVM on local[nproc], and prints one JSON object as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}.
Everything the run writes stays under perfbench/.work, perfbench/.cache
(generated inputs, one directory per workload and seed) and
perfbench/.results/<build> (run records, spans and exact counts).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("pipeline", "table-mixed", "graph-iter")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# TxTable's opt-in phase profiler prints one line at JVM exit:
#   [txprofile] stage.write=1.23s/40x publish=0.05s/40x ... name=Nn
PROFILE_LINE = re.compile(r"^\[txprofile\] (.*)$")
PROFILE_PHASE = re.compile(r"^([A-Za-z0-9_.]+)=([0-9.]+)s/(\d+)x$")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, BENCH)
    sys.dont_write_bytecode = True
    import build
    try:
        classes = build.build()
    except SystemExit as e:
        print(f"run: build failed: {e}", file=sys.stderr)
        return 2

    build_id = os.path.basename(os.path.dirname(classes))
    cache = prune_cache(build_id, a.workload, a.seed)
    # run records and exact counts are kept per build: a changed program
    # may rightly change the counts that must repeat
    results = os.path.join(BENCH, ".results", build_id)
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env.pop("GRAFT_PROFILE", None)
    if a.trace:
        env["GRAFT_PROFILE"] = "1"
    # -XX:-UsePerfData: the JVM would otherwise keep its perf counters in
    # /tmp, outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'tmp', 'hadoop')}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--cache", cache, "--results", results]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            env=env, cwd=work, text=True, start_new_session=True)
    profile = {}

    def pump_err():
        for line in proc.stderr:
            m = PROFILE_LINE.match(line.strip())
            if m:
                for tok in m.group(1).split():
                    pm = PROFILE_PHASE.match(tok)
                    if pm:
                        profile[pm.group(1)] = float(pm.group(2)) * 1000.0
            sys.stderr.write(line)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(signum, frame):
        kill()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    err = threading.Thread(target=pump_err, daemon=True)
    err.start()
    timer = threading.Timer(TIMEOUT_S, kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.strip()
            if line.startswith("{") and '"metrics"' in line:
                result = line
            elif line:
                print(line, file=sys.stderr)
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
        err.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        print(f"run: benchmark JVM exited with {rc}", file=sys.stderr)
        return 1
    out = json.loads(result)
    if a.trace:
        # phase names the profiler may print; a phase the workload never
        # enters reads 0
        for name in PHASES:
            out["metrics"][f"table.phase.{name}_ms"] = {
                "value": profile.get(name, 0.0), "unit": "ms"}
    print(json.dumps(out))
    return 0


def prune_cache(build_id, workload, seed, keep=3):
    """Inputs are cached per build and seed: drop other builds' caches
    and all but the `keep` most recent seeds of this workload."""
    root = os.path.join(BENCH, ".cache")
    os.makedirs(os.path.join(root, build_id), exist_ok=True)
    for d in os.listdir(root):
        if d != build_id:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    cache = os.path.join(root, build_id)
    mine = os.path.join(cache, f"{workload}-{seed}")
    others = [os.path.join(cache, d) for d in os.listdir(cache)
              if d.startswith(workload + "-") and os.path.join(cache, d) != mine]
    others.sort(key=os.path.getmtime, reverse=True)
    for d in others[keep - 1:]:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(mine, exist_ok=True)
    os.utime(mine)
    return cache


PHASES = ("snapshot", "stage.write", "stage.stats", "stage.observed", "stage.files",
          "stage.shingles", "stage.compact", "schema.infer", "footers", "publish", "checkpoint")

if __name__ == "__main__":
    sys.exit(main())
