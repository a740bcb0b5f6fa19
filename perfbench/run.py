#!/usr/bin/env python3
"""The graft benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload corpus-batch --seed 1 --seconds 20 --trace 0

Run it from the root of a source checkout of graft. It

1. builds the program and the benchmark from source with sbt, once per
   source tree (a digest of the sources decides whether to rebuild);
2. generates the workload's inputs from --seed (cached per seed and size);
3. starts one JVM for the workload, straight from the built classpath
   with the `javaOptions` of the program's build.sbt, and runs set-up,
   warm-up and --seconds of timed batches in it;
4. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and leaves spans.jsonl and layers.json under perfbench/.work/trace/).
Outside a graft checkout it exits with status 2 and prints no result.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

WORKLOADS = ("corpus-batch", "stream-folds")
HEAP = "2g"               # fixed JVM heap: -Xmx (SPARK_DRIVER_MEM) and -Xms
RUN_LIMIT_S = 172         # a run (after any build) past this is killed and fails
KEEP_DATASETS = 3         # generated input sets kept on disk

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "batch_ms_p50": "ms", "rss_peak_mb": "MB"}
PER_LAYER = {
    "spark.jobs_per_batch": "count", "spark.tasks_per_batch": "count",
    "spark.idle_ms_per_batch": "ms", "spark.executor_cpu_s": "s",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.jobs_unattributed": "count",
    "sources.scan_s": "s", "sources.scan_tasks": "count", "core.math_s": "s",
    "core.store_mb_per_batch": "MB", "core.store_files_per_batch": "count",
    "functions.kernel_s": "s", "operators.quality_s": "s", "operators.dedup_s": "s",
    "operators.bpe_s": "s", "multimodal.resize_s": "s",
    "streaming.plan_ms": "ms", "streaming.offset_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.compaction_batches": "count",
    "streaming.compaction_ms_p50": "ms", "sinks.write_s": "s", "sinks.mb_written": "MB",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "jvm.jit_ms_timed": "ms",
    "operators.near_dup_recall": "ratio", "bench.trace_overhead": "ratio",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    h.update(HEAP.encode())
    return h.hexdigest()


def build(root):
    """Returns (classpath, java options), building first if the sources changed."""
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp = os.path.join(BENCH, "target", "launch.stamp")
    digest = source_digest(root)
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        if shutil.which("sbt") is None:
            die("sbt is not on PATH")
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP, COURSIER_MODE="offline",
                   SBT_OPTS=" ".join([
                       "-Dsbt.override.build.repos=true",
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
                       "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(r.stdout[-4000:])
            die("build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def prune_datasets(keep_dir):
    root = os.path.join(BENCH, ".work", "data")
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for d in sets[:-KEEP_DATASETS]:
        if d != keep_dir:
            shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run this from the root of a graft source checkout")
    classpath, java_opts = build(root)
    begun = time.time()

    import gen  # needs duckdb; imported after the checkout check
    data = os.path.join(BENCH, ".work", "data", f"{a.workload}-{a.seed}")
    gen.generate(a.workload, a.seed, data)
    os.utime(data)
    prune_datasets(data)

    run = os.path.join(BENCH, ".work", "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + java_opts + ["-Xms" + HEAP, "-Djava.io.tmpdir=" + os.path.join(run, "tmp"),
                                   "-cp", classpath, "perfbench.Main",
                                   "--workload", a.workload, "--data", data, "--work", run,
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--cores", str(cores)])
    log_path = os.path.join(run, "jvm.log")
    started = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, RUN_LIMIT_S - (time.time() - begun)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"the {a.workload} run exceeded {RUN_LIMIT_S} s")
    line = next((l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")), None)
    if proc.returncode != 0 or line is None:
        sys.stderr.write(open(log_path).read()[-6000:])
        die(f"the {a.workload} JVM exited with status {proc.returncode}")
    with open(log_path) as f:
        for l in f:
            if l.startswith("CHECK "):
                sys.stderr.write(l)
    res = json.loads(line[len("PERFBENCH_RESULT "):])

    if a.trace:
        units, values = PER_LAYER, res["metrics"]
        keep = os.path.join(BENCH, ".work", "trace", a.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("spans.jsonl", "layers.json"):
            shutil.copy(os.path.join(run, f), keep)
    else:
        units = END_TO_END
        values = dict(res["metrics"], setup_s=res["timed_start_ms"] / 1000.0 - started,
                      rss_peak_mb=res["rss_peak_mb"])
    shutil.rmtree(run, ignore_errors=True)
    metrics = {k: {"value": float(values.get(k) or 0.0), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
