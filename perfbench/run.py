#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine together
with the harness in `perfbench/` (sbt, offline) and caches the classpath;
later runs rebuild only when a source changed. A run generates the
workload's inputs from the seed, sets up (session start, workload state,
warm-up) several times and reports the median as `setup_s`, runs a
closed-loop client for `--seconds`, checks every output, and prints the
run record and, as its last line, the result object. `--trace 1` prints
the per-layer metrics instead of the end-to-end ones. The exit status is
non-zero when any operation failed or returned a wrong result.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170.0
CORES = os.cpu_count() or 4
SETUP_REPS = 3

# Input sizes per workload (see README.md for how they were chosen).
SIZES = {
    "llm_dedup": {"scale": 0.001, "events": 1000, "users": 150,
                  "docs": 125, "vecs": 100, "corpus_replicas": 2},
}
LAKE = {"rounds": 40, "batch": 200}
WORKLOADS = ["llm_dedup", "lake_ingest"]

JAVA_OPTS = [
    # a fixed heap: peak RSS then does not depend on when the heap grew
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def harness(classpath, work):
    """The harness JVM's command prefix and environment. Temporary
    files, Spark's local directories and Hive's scratch directory all go
    under `work`, so a run writes nothing outside its checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    conf = f"spark.hadoop.hive.exec.scratchdir={os.path.join(work, 'hive-scratch')}"
    env["SPARK_GRAFT_CONF"] = ";".join(filter(None, [env.get("SPARK_GRAFT_CONF"), conf]))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", classpath, "graftbench.Main"]
    return cmd, env


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith((".scala", ".java", ".sbt", ".properties")) and "target" not in d)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return classpath."""
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "perfbench.classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    # dependencies come from the local caches only: the build never
    # needs the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime / fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = [ln for ln in out.stdout.splitlines() if "classes" in ln and ":" in ln
             and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def tree_digest(d):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, inputs):
    if os.path.exists(inputs):
        shutil.rmtree(inputs)
    os.makedirs(inputs)
    if workload == "lake_ingest":
        gen.lake_script(inputs, seed, LAKE["rounds"], LAKE["batch"])
    else:
        gen.tables(inputs, seed, SIZES[workload])


def input_stats(inputs):
    import pyarrow.parquet as pq
    out = {}
    for f in sorted(os.listdir(inputs)):
        p = os.path.join(inputs, f)
        if f.endswith(".parquet"):
            out[f[:-8]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                           "bytes": os.path.getsize(p)}
    return out


def pct(xs, p):
    """Nearest-rank percentile of a sorted list."""
    k = max(0, min(len(xs) - 1, int(round(p / 100.0 * len(xs) + 0.5)) - 1))
    return xs[k]


def tail(lat, want_pct=90):
    """The highest percentile up to `want_pct` with at least ten samples
    above it, with the percentile used; p50 when there are too few
    samples for any. For the run record: at the sample counts of one
    run it is not a stable end-to-end figure."""
    xs = sorted(lat)
    p = want_pct
    while p > 50 and sum(1 for x in xs if x > pct(xs, p)) < 10:
        p -= 1
    return pct(xs, p), p


def failures(workload, inputs, rec):
    """{op index: reason} over the timed ops (thrown, timed out or
    wrong), the wrong results, and the checker's notes."""
    ops = rec["ops"]
    bad = {i: o["error"] for i, o in enumerate(ops) if o["error"]}
    ver = rec["verify"]
    if workload == "lake_ingest":
        wrong, notes = check.lake(inputs, rec["verify_dir"], ver, rec["rounds"]), {}
        for i, o in enumerate(ops):
            for (k, r), why in wrong.items():
                if (k == o["kind"]) if r is None else (k == o["name"] and r == o["round"]):
                    bad.setdefault(i, why)
    else:
        wrong, notes = check.oracle(inputs, rec["verify_dir"], ver)
        for i, o in enumerate(ops):
            if o["name"] in wrong:
                bad.setdefault(i, wrong[o["name"]])
    return bad, wrong, notes


def key_medians(ops, kinds=None):
    """Median latency per operation name: the unit the end-to-end
    latencies are built from, so a run's mix does not depend on where
    the clock stopped inside a round."""
    d = {}
    for o in ops:
        if kinds is None or o["kind"] in kinds:
            d.setdefault(o["name"], []).append(o["end_s"] - o["start_s"])
    return {k: statistics.median(v) for k, v in d.items()}


def items_per_round(workload, inputs, rec):
    """Work one round does: corpus documents (llm_dedup) or committed
    rows (lake_ingest)."""
    if workload == "llm_dedup":
        return input_stats(inputs)["documents"]["rows"]
    if workload == "lake_ingest":
        import pyarrow.parquet as pq
        with open(os.path.join(inputs, "script.json")) as f:
            script = json.load(f)
        rounds = script["rounds"][:max(1, rec["rounds"])]
        rows = sum(pq.ParquetFile(os.path.join(inputs, op[k])).metadata.num_rows
                   for op in rounds for k in ("insert", "merge"))
        rows += sum(len(op["delete"]) for op in rounds)
        return rows / len(rounds)


def end_to_end(workload, inputs, rec, setup_s):
    med = key_medians(rec["ops"])
    # throughput: committed rows per second of commit time for the
    # lakehouse, corpus documents per second of a whole pass for dedup
    busy = key_medians(rec["ops"], {"commit"} if workload == "lake_ingest" else None)
    m = {
        "setup_s": (setup_s, "s"),
        # geometric mean, as in TPC-H's power metric: every operation
        # moves it by its share, the fast ones as much as the slow ones
        "op_gmean_s": (statistics.geometric_mean(med.values()), "s"),
        "slowest_op_s": (max(med.values()), "s"),
        "items_per_s": (items_per_round(workload, inputs, rec) / sum(busy.values()), "1/s"),
        "peak_rss_mb": (rec["vm_hwm_kb"] / 1024.0, "MB"),
    }
    lat = [o["end_s"] - o["start_s"] for o in rec["ops"]]
    tail_s, tail_p = tail(lat)
    return m, {"tail_s": tail_s, "tail_pct": tail_p, "samples": len(lat),
               "beyond_tail": sum(1 for x in lat if x > tail_s),
               "slowest_op": max(med, key=med.get), "op_medians_s": med}


def by_kind(rec):
    """Per-kind latencies (commit, read, catch-up, pass, freshness) for
    the run record."""
    out = {}
    ops = rec["ops"]
    for kind in sorted({o["kind"] for o in ops}):
        lat = [o["end_s"] - o["start_s"] for o in ops if o["kind"] == kind]
        out[f"{kind}_p50_s"] = statistics.median(lat)
    if rec["workload"] == "llm_dedup":
        passes = {}
        for o in ops:
            passes.setdefault(o["round"], []).append(o["end_s"] - o["start_s"])
        full = [sum(v) for v in passes.values() if len(v) == 8]
        if full:
            out["pass_p50_s"] = statistics.median(full)
    if rec["workload"] == "lake_ingest":
        fresh = rec["verify"]["freshness"]
        if fresh:
            out["fresh_p50_s"] = statistics.median(fresh)
    return out


# Per-layer metrics of the result object (BENCHMARK.json's per_layer):
# the layers both workloads exercise.
LAYER_UNITS = {
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.graft_rule_s": "s", "plans.executions_per_stmt": "count",
    "functions.codegen_fallback_exprs": "count", "functions.non_codegen_ops": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.sched_wait_s": "s",
    "exec.core_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.records": "count",
    "mem.peak_exec_bytes": "bytes",
    "scan.bytes_read": "bytes", "scan.rows_read": "count",
    "trace.overhead_pct": "%",
}
# Measured on both workloads but 0 at these input sizes (no spill, no GC
# inside tasks, no effective graft rule, no remote fetch in local mode),
# and the layers only one workload exercises (SQL text and the lakehouse
# and stream layers on lake_ingest, iterative operators on llm_dedup):
# in the run record's `layers`, not in the result object.
RECORD_UNITS = {
    "mem.spill_mem_bytes": "bytes", "mem.spill_disk_bytes": "bytes", "exec.gc_s": "s",
    "plans.graft_rule_effective": "count", "shuffle.fetch_wait_s": "s",
}
OWN_UNITS = {
    "llm_dedup": {"ops.jobs_per_job": "count"},
    "lake_ingest": {
        "plans.parse_s": "s",
        "stream.trigger_s": "s", "stream.get_batch_s": "s", "stream.latest_offset_s": "s",
        "stream.rows": "count", "stream.fresh_s": "s",
        "lake.delta.commit_s": "s", "lake.delta.read_s": "s",
        "lake.delta.bytes_per_user_byte": "ratio", "lake.delta.meta_bytes_per_commit": "bytes",
        "lake.delta.live_files": "count", "lake.delta.planned_file_ratio": "ratio"},
}
PER_OP = ("plans.", "functions.", "exec.", "shuffle.", "scan.", "mem.spill")
ITERATIVE = ("ml_dedup_components", "ml_kmeans_assign")


def layer_units(workload):
    """Every per-layer metric a trace run of `workload` records."""
    return {**LAYER_UNITS, **RECORD_UNITS, **OWN_UNITS[workload]}


def per_layer(rec, cores):
    """Per-layer metrics of a trace run (two rounds, each operation
    traced once): counters are means per traced operation, stream
    counters means per micro-batch, peaks are maxima."""
    tr = rec["trace"]
    sums = tr["sums"]
    traced = [o for o in rec["ops"] if o["traced"]]
    untraced = [o for o in rec["ops"] if not o["traced"]]
    n = max(1, len(traced))
    batches = max(1.0, sums.get("stream.batches", 0.0))
    traced_wall = sum(o["end_s"] - o["start_s"] for o in traced)
    units = layer_units(rec["workload"])
    m = {}
    for name in units:
        if name.startswith(PER_OP):
            m[name] = sums.get(name, 0.0) / n
        elif name.startswith("stream.") and name != "stream.fresh_s":
            m[name] = sums.get(name, 0.0) / batches
        elif name.startswith("lake."):
            m[name] = tr["workload_layers"][name]
    m["plans.executions_per_stmt"] = sums.get("plans.executions", 0.0) / n
    m["exec.core_util"] = sums.get("exec.task_run_s", 0.0) / max(1e-9, traced_wall * cores)
    m["mem.peak_exec_bytes"] = sums.get("mem.peak_exec_bytes", 0.0)
    if "ops.jobs_per_job" in units:
        m["ops.jobs_per_job"] = statistics.mean(
            v for k, v in tr["jobs_per_op"].items() if k in ITERATIVE)
    if "stream.fresh_s" in units:
        m["stream.fresh_s"] = statistics.median(rec["verify"]["freshness"])
    t, u = key_medians(traced), key_medians(untraced)
    both = [k for k in t if k in u]
    m["trace.overhead_pct"] = (100.0 * (sum(t[k] for k in both) / sum(u[k] for k in both) - 1)
                               if both else 0.0)
    return {k: (v, units[k]) for k, v in m.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--sizes", default=None, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    t_start = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: engine sources not found under src/main/scala; "
                         "run from the root of a repository checkout")
    if a.sizes:  # smaller inputs for the benchmark's own tests
        for w, size in json.loads(a.sizes).items():
            (LAKE if w == "lake_ingest" else SIZES[w]).update(size)
    load_start = loadavg()
    classpath = build()

    work = os.path.join(BENCH, ".work", a.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")
    gen_s, digests = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        generate(a.workload, a.seed, inputs)
        gen_s.append(time.perf_counter() - t0)
        digests.append(tree_digest(inputs))
    if len(set(digests)) != 1:
        raise SystemExit("perfbench: the generator is not deterministic for one seed")

    out = os.path.join(work, "record.json")
    cmd, env = harness(classpath, work)
    cmd += ["--workload", a.workload, "--inputs", inputs, "--work", work,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
           "--reps", str(SETUP_REPS), "--cores", str(CORES), "--out", out]
    if a.fault:
        cmd += ["--fault", a.fault]
    budget = DEADLINE_S - (time.time() - t_start)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT,
                            text=True)
    try:
        jvm_out, _ = proc.communicate(timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(jvm_out[-6000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(out) as f:
        rec = json.load(f)

    # set-up = median of (generate + session + workload state) over the
    # set-ups, plus the one cold warm-up
    setup_s = (statistics.median(g + s["session_s"] + s["prepare_s"]
                                 for g, s in zip(gen_s, rec["setups"]))
               + sum(s["warm_s"] for s in rec["setups"]))
    bad, wrong, notes = failures(a.workload, inputs, rec)
    attempted, failed = len(rec["ops"]), len(bad)
    e2e, tail_info = end_to_end(a.workload, inputs, rec, setup_s)
    layers = per_layer(rec, CORES) if a.trace else {}
    metrics = {k: v for k, v in layers.items() if k in LAYER_UNITS} if a.trace else e2e
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "cores": CORES,
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "spark": rec["spark_version"], "java": rec["java_version"], "scala": rec["scala_version"],
        "inputs": input_stats(inputs), "input_digest": digests[0],
        "setup_reps": [{"gen_s": g, **s} for g, s in zip(gen_s, rec["setups"])],
        "rounds": rec["rounds"], "wall_s": rec["wall_s"],
        "fail_ratio": failed / max(1, attempted), "wrong": {str(k): v for k, v in wrong.items()},
        "checks": notes,
        "errors": sorted({rec["ops"][i]["name"] + ": " + str(why) for i, why in bad.items()})[:20],
        "tail": tail_info, "by_kind": by_kind(rec),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if a.trace:
        record["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        record["trace_self"] = rec["trace"]["self"]
        record["trace_spans"] = rec["trace"]["spans"]
        record["spans_file"] = os.path.relpath(rec["trace"]["spans_file"], ROOT)
    print(json.dumps({"record": record}))
    for name, (v, unit) in (layers or metrics).items():
        print(f"{name} = {v!r} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
