"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload serving_sweep --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark if their sources changed
(perfbench/build.py), runs one JVM started directly on the compiled
classpath over the sf0.1 input tables in perfbench/data/sf0.1 (the
stream generates its events from --seed), checks every output apart from the
program (perfbench/checks.py), and prints two lines on stdout: the run
record, then the result object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Exits non-zero if the run or a check
fails. Everything the run writes stays under .bench_run/ and is
removed at the end.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("serving_sweep", "corpus_graph", "event_stream")
# byte-identical copies of the engine's sf0.1 test tables the workloads
# read (TESTDATA.md): the batch queries and the warm-up read events and
# documents
SF = 0.1
DATA = os.path.join(HERE, "data", "sf0.1")
# local[k] with one core of a 4-core box left to the JVM's own threads
# (planning, scheduling, JIT, GC): on 4 cores local[3] ran the serving
# sweep faster and with a shorter JIT ramp than local[4] (3.0 s vs 3.7 s
# per settled pass)
MAX_CORES = 3
# per query sample: |wall - build - action executions| within this
GAP_ABS_S, GAP_REL = 0.05, 0.05
RUN_LIMIT_S = 170  # every run must end within 180 s, builds aside
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    res = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return res.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes, src_digest = build.build(root)
    t_start = time.monotonic()
    k = min(MAX_CORES, max(1, len(os.sched_getaffinity(0)) - 1))
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = None
    try:
        g0 = time.monotonic()
        load_start = os.getloadavg()
        # -XX:-UsePerfData: no hsperfdata file outside the run directory
        cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
                  "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
                  "--run", run_dir, "--cores", str(k)])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            launch_ns = time.time_ns()
            proc = subprocess.Popen(cmd + ["--launch-ns", str(launch_ns)], stdout=log,
                                    stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start) - 15))
            except subprocess.TimeoutExpired:
                rc = "timeout"
        jvm_s = time.monotonic() - g0
        if rc != 0:
            sys.stderr.write(open(log_path).read()[-6000:])
            fail(f"benchmark JVM ended with {rc}")
        rec = json.load(open(os.path.join(run_dir, "record.json")))

        c0 = time.monotonic()
        if a.workload == "event_stream":
            check_fails = checks.check_stream(rec, k)
        else:
            check_fails = checks.check_batch(DATA, rec, k)
        check_s = time.monotonic() - c0

        del rec["check"]
        rec.update({"sf": SF, "git_sha": git_sha(root), "source_sha256": src_digest,
                    "nproc": os.cpu_count(), "load_start": load_start, "load_end": os.getloadavg(),
                    "jvm_s": jvm_s, "check_s": check_s,
                    "check_failures": check_fails})
        values = rec["layers"] if a.trace else rec["metrics"]
        metrics = {}
        for m in wanted:
            # a layer the workload does not pass through reads 0
            v = values.get(m["name"], 0.0 if a.trace else None)
            if v is None or (isinstance(v, float) and not math.isfinite(v)):
                check_fails.append(f"metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        # the benchmark's build timer plus Spark's own execution spans of
        # the action must add up to each query's wall time (README)
        for q in rec.get("queries", []):
            if q["ok"] and abs(q["gap_s"]) > max(GAP_ABS_S, GAP_REL * q["wall_s"]):
                check_fails.append(f"{q['query']} pass {q['pass']}: wall {q['wall_s']:.3f} s but build"
                                   f" {q['build_s']:.3f} s + action {q['action_exec_s']:.3f} s")
        for f in check_fails:
            sys.stderr.write(f"perfbench: check failed: {f}\n")
        print(json.dumps({"record": rec}))
        result = {"correct": not check_fails, "attempted": rec["attempted"],
                  "failed": rec["failed"], "metrics": metrics}
        print(json.dumps(result), flush=True)
        return 0 if not check_fails else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # .bench_run/, once no run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
