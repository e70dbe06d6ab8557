#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints one JSON result line.

    python3 graftbench/run.py --workload shard_loader|table_dml \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds graft from
`src/main` together with the drivers in `graftbench/src` (sbt, offline)
and caches the classes under `graftbench/target`; later runs rebuild only
when a source file changed. Each run starts one JVM with Spark at
`local[2]`, sets the workload up, warms it, measures it for S seconds
with one closed-loop client, checks every output, and prints
`{"correct", "attempted", "failed", "metrics"}` as the last line of
standard output. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer ones, and writes the spans to
`graftbench/out/trace-<workload>-<seed>.json`.

Exit codes: 0 all outputs correct, 1 an output check failed (the result
line is still printed), 2 bad arguments or no graft sources, 3 the build
failed, 4 the benchmark process failed.
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

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
WORKLOADS = ("shard_loader", "table_dml")

END_TO_END = [
    ("setup_s", "s"),
    ("calls_per_s", "1/s"),
    ("call_p50_ms", "ms"),
]

KINDS_SQL = ("update", "delete", "merge", "insert")
KINDS_READ = ("point", "range", "time_travel", "change_feed")
LAYERS = ("bench", "sources", "pipeline", "wdstar", "sql", "snapshot")

# (name, unit): medians of the samples the JVM recorded under that name.
SAMPLED = [
    ("sources.list_ms", "ms"),
    ("pipeline.create_ms", "ms"),
    ("pipeline.first_batch_ms", "ms"),
    ("pipeline.loader_wait_ms", "ms"),
    ("pipeline.samples_per_s", "1/s"),
    ("pipeline.jobs_per_epoch", "count"),
    ("pipeline.bulk_samples_per_s", "1/s"),
    ("wdstar.scan_samples_per_s", "1/s"),
    ("wdstar.bytes_per_sample", "bytes"),
    ("functions.decode_ms_per_ksample", "ms"),
    ("operators.keep_ratio", "ratio"),
] + [("sql.%s_ms" % k, "ms") for k in KINDS_SQL] + [
    ("sql.execs_per_stmt.%s" % k, "count") for k in KINDS_SQL] + [
    ("sql.jobs_per_stmt.%s" % k, "count") for k in KINDS_SQL] + [
    ("sql.in_exec_ms", "ms"),
    ("sql.driver_gap_ms", "ms"),
    ("snapshot.latest_version_ms", "ms"),
    ("snapshot.manifest_ms", "ms"),
    ("snapshot.files_per_version", "count"),
    ("snapshot.bytes_written_per_stmt", "bytes"),
    ("snapshot.files_scanned_ratio", "ratio"),
] + [("snapshot.read_ms.%s" % k, "ms") for k in KINDS_READ] + [
    ("snapshot.plan_ms.%s" % k, "ms") for k in KINDS_READ] + [
    ("snapshot.execs_per_read.%s" % k, "count") for k in KINDS_READ]

# (name, unit): derived from the spans and process counters of the
# traced window, per operation (an epoch, a statement or a read).
DERIVED = [
    ("jvm.cpu_s_per_op", "s"),
    ("jvm.gc_ms_per_op", "ms"),
    ("spark.execs_per_op", "count"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.shuffle_bytes_per_op", "bytes"),
] + [("self_ms_per_op.%s" % layer, "ms") for layer in LAYERS] + [
    ("trace.spans_per_op", "count"),
    ("trace.overhead_pct", "%"),
]

PER_LAYER = SAMPLED + DERIVED


def fail(code, msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, limit_s, out):
    """Runs `cmd` in its own process group; kills the whole group if it
    outlives `limit_s`. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Returns the runtime classpath, compiling first if any source
    changed since the last build."""
    stamp = os.path.join(HERE, "target", "graftbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
        if prev.get("digest") == digest:
            return prev["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false",
                          "compile", "export Runtime/fullClasspath"],
                         HERE, BUILD_LIMIT_S, out)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(3, "build failed (exit %s); log in %s" % (code, log))
    cp = [l for l in lines if os.path.join(HERE, "target") in l and ":" in l and " " not in l]
    if not cp:
        fail(3, "build printed no classpath; log in %s" % log)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    raw = os.path.join(work, "raw.json")
    # temporary files and JVM perf data stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw]
    code = run_group(cmd, ROOT, deadline - time.time(), sys.stderr)
    if code is None:
        fail(4, "the benchmark process ran out of time")
    if code != 0 or not os.path.exists(raw):
        fail(4, "the benchmark process failed (exit %s)" % code)
    with open(raw) as fh:
        return json.load(fh)


def setup_seconds(rec):
    """Session start-up, the median of the repeated input set-ups, and
    the warm-up."""
    s = rec["setup"]
    return s["session_s"] + stats.median(s["prepare_s"]) + s["warm_s"]


def end_to_end(rec):
    calls = [c for c in rec["calls"] if c["phase"] == "timed" and c["ok"]]
    ms = [c["ms"] for c in calls]
    p50 = stats.percentile(ms, 50)
    if p50 is None:
        fail(4, "only %d calls completed; call_p50_ms needs %d" % (len(ms), 2 * stats.MIN_BEYOND))
    return {
        "setup_s": (setup_seconds(rec), "s"),
        "calls_per_s": (len(ms) / (sum(ms) / 1000.0), "1/s"),
        "call_p50_ms": (p50, "ms"),
    }


def per_layer(rec):
    out = {}
    for name, unit in SAMPLED:
        out[name] = (stats.median(rec["samples"].get(name, [])), unit)
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s

    # loop operations are the spans the client loop opened (bench.*);
    # the probes after the loop are not operations
    loop = [s for s in spans if stats.layer_of(root(s)["name"]) == "bench"]
    ops = max(1, sum(1 for s in loop if not s["parent"]))
    selfs = stats.self_times(spans)
    layer_self = dict.fromkeys(LAYERS, 0.0)
    for s in loop:
        layer = stats.layer_of(s["name"])
        layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s["id"]]
    proc = rec["process"]
    out["jvm.cpu_s_per_op"] = (proc["cpu_s"] / ops, "s")
    out["jvm.gc_ms_per_op"] = (proc["gc_ms"] / ops, "ms")
    for key, name, unit in (("execs", "spark.execs_per_op", "count"),
                            ("jobs", "spark.jobs_per_op", "count"),
                            ("tasks", "spark.tasks_per_op", "count"),
                            ("executor_run_ms", "spark.executor_run_ms_per_op", "ms"),
                            ("shuffle_bytes", "spark.shuffle_bytes_per_op", "bytes")):
        out[name] = (sum(s[key] for s in loop) / ops, unit)
    for layer in LAYERS:
        out["self_ms_per_op.%s" % layer] = (layer_self[layer] / ops, "ms")
    out["trace.spans_per_op"] = (len(loop) / ops, "count")
    plain = [c["ms"] for c in rec["calls"] if c["phase"] == "plain" and c["ok"]]
    traced = [c["ms"] for c in rec["calls"] if c["phase"] == "traced" and c["ok"]]
    overhead = 100.0 * (sum(traced) / len(traced)) / (sum(plain) / len(plain)) - 100.0 \
        if plain and traced else 0.0
    out["trace.overhead_pct"] = (overhead, "%")
    return out, layer_self, ops


def write_out(name, obj):
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with open(path, "w") as fh:
        json.dump(obj, fh)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, "no graft sources under %s/src/main/scala" % ROOT)
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(HERE, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(classpath, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    write_out("raw-%s-%d-%d.json" % (args.workload, args.seed, args.trace), rec)
    attempted = len(rec["calls"])
    failed = sum(1 for c in rec["calls"] if not c["ok"])
    if rec["failures"] and failed == 0:
        # a whole-run check (set-up, warm-up, final content) failed
        attempted, failed = attempted + 1, 1
    correct = not rec["failures"]
    for f in rec["failures"][:20]:
        print("graftbench: check failed: " + f, file=sys.stderr)
    if args.trace:
        metrics, layer_self, ops = per_layer(rec)
        path = write_out("trace-%s-%d.json" % (args.workload, args.seed), {
            "workload": args.workload, "seed": args.seed, "ops": ops,
            "self_ms_total_by_layer": layer_self,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "spans": rec["spans"]})
        print("graftbench: trace written to " + path, file=sys.stderr)
    else:
        metrics = end_to_end(rec)
    print(stats.result_line(correct, attempted, failed, metrics))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
