#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload stream_ingest|daily_gold|query_mix \
        --seed N --seconds S --trace 0|1 [--cores C] [--mem 1536m]

Run from the repository root. The first run compiles the engine's sources
together with the benchmark's (sbt, perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are unchanged.
Each run gets a fresh JVM with its own tmpdir, Spark local dir, checkpoints
and Derby database under .bench_build/runs/, removed afterwards.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The line before it holds the workload's named figures.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import summary  # noqa: E402

WORKLOADS = ["stream_ingest", "daily_gold", "query_mix"]
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench-target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
# every JVM of one invocation ends within this many seconds after the build
RUN_BUDGET_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files) + [os.path.join(HERE, "build.sbt")]


def build():
    """Compiles engine and benchmark unless the build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under src/main/scala/graft")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "perfbench.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_HOME=spark_home()))
    if rc != 0:
        fail("build failed, see " + log)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def run_jvm(workload, seed, seconds, trace, cores, mem, deadline):
    """One fresh JVM, killed at `deadline` (time.monotonic()); returns its
    result record."""
    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + mem, "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        "perfbench.Main", workload, str(seed), str(seconds), str(trace),
        str(cores), work, DATA]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        fail("JVM exited with %s and no result:\n%s" % (proc.returncode, tail))
    with open(result_path) as fh:
        result = json.load(fh)
    valid = result["out"].get("open_loop_valid", True)
    result["checks"].append({"name": "generator kept its schedule",
                             "ok": valid,
                             "detail": "" if valid else "generator ran late"})
    if workload == "query_mix":
        import oracle
        for name, problem in oracle.check_results(
                os.path.join(work, "results"), DATA):
            result["checks"].append({"name": "oracle " + name,
                                     "ok": problem is None,
                                     "detail": problem or ""})
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int,
                    default=min(4, len(os.sched_getaffinity(0))))
    ap.add_argument("--mem", default="1536m")
    a = ap.parse_args()
    build()
    deadline = time.monotonic() + RUN_BUDGET_S
    # tracing overhead: an untraced twin with the same arguments runs first
    twin = run_jvm(a.workload, a.seed, a.seconds, 0, a.cores, a.mem,
                   deadline) if a.trace else None
    r = run_jvm(a.workload, a.seed, a.seconds, a.trace, a.cores, a.mem,
                deadline)
    e2e = summary.end_to_end(r)
    if twin:
        r["checks"] += [dict(c, name="untraced twin: " + c["name"])
                        for c in twin["checks"]]
        r["attempted"] += twin["attempted"]
        r["failed"] += twin["failed"]

    failed_checks = [c for c in r["checks"] if not c["ok"]]
    for c in failed_checks:
        print("check failed: %s: %s" % (c["name"], c["detail"]), file=sys.stderr)
    named = summary.named(r)
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, u, v in summary.per_layer(r)}
        metrics["trace.overhead_share"]["value"] = \
            e2e["op_p50_ms"] / summary.end_to_end(twin)["op_p50_ms"] - 1
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in summary.END_TO_END}
    print(json.dumps({"workload": a.workload, "named": named,
                      "checks": len(r["checks"]),
                      "failed_checks": len(failed_checks)}))
    print(json.dumps({"correct": not failed_checks,
                      "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
