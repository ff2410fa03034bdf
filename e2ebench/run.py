#!/usr/bin/env python3
"""End-to-end benchmark of graft: the paper's fraud stream and the
registered query suite.

    python3 e2ebench/run.py --workload fraud_stream --seed 1 --seconds 28 --trace 0

Workloads (closed loop, one client, Spark local[nproc] in one JVM):
  fraud_stream   Mechanism X->Y over a large key space: state grows every
                 batch, upserts are mostly inserts, detections are few.
  fraud_hotkeys  the same pipeline over a small hot key space: state
                 saturates, upserts are updates, PatId2/3 re-emit and the
                 50-row detection files dominate.
  queries        registered queries, Caches released before each one, on
                 a warm JVM (graft Bench's cold pass).

Each run builds graft (once per checkout), generates its inputs from
--seed in a private directory under .bench_runs/, launches one pinned JVM
(fixed heap, named collector, local[nproc]), checks every output and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record (provenance, launch settings, raw samples) is written to
.bench_out/<workload>-seed<seed>-trace<t>.json and printed on the line
before the result.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from stats import geomean, median, percentile  # noqa: E402

RUNS_DIR = os.path.join(ROOT, ".bench_runs")
OUT_DIR = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170

# Timed operations per run (micro-batches, or suite passes) = seconds /
# nominal operation time, at least 4 batches or 3 passes, after
# STREAM_WARMUP_BATCHES untimed batches or one untimed pass. The work is
# fixed per --seconds, so a faster program finishes it sooner instead of
# doing more of it. fraud_hotkeys is not in BENCHMARK.json's timed set:
# the run budget fits two workloads with windows long enough to be steady
# on a shared host. It stays runnable for the traced comparison of the
# state and sink layers against fraud_stream.
WORKLOADS = {
    "fraud_stream": {
        "kind": "stream",
        "params": dict(customers=20000, merchants=200, merchant_skew=1.0, child_share=0.02, female_share=0.7,
                       importance_pairs=5000),
    },
    "fraud_hotkeys": {
        "kind": "stream",
        "params": dict(customers=1000, merchants=20, merchant_skew=0.5, child_share=0.06, female_share=0.4,
                       importance_pairs=3000),
    },
    "queries": {
        "kind": "queries", "nominal_op_s": 5.0, "scale": 0.01,
        # (registered query, implementing module)
        "queries": [
            ("agg_gender_pivot", "ops"), ("asof_join_native", "plans"),
            ("bloom_join", "scale"), ("hll_distinct", "functions"),
            ("pmi_topk", "llm"),
        ],
    },
}
STREAM_WARMUP_BATCHES = 2
STREAM_NOMINAL_BATCH_S = 3.5
MODULES = ["ops", "plans", "scale", "llm", "functions"]

ENGINE_KEYS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s", "spark.gc_s",
               "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
               "spark.failed_tasks"]
# Probe time (ns) of the reference core the end-to-end timings are scaled
# to, about what an idle core of the 4-vCPU VM the bounds were set on
# takes.
REF_PROBE_NS = 2.5e6
END_TO_END = [("setup_s", "s"), ("cpu_s", "s"), ("heap_live_mb", "MB"),
              ("op_p50_s", "s"), ("op_geomean_s", "s"), ("work_s", "s")]


def unit_of(metric):
    """Unit of a per-layer metric, from its name."""
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_share"):
        return "ratio"
    return "count"


def cores():
    return len(os.sched_getaffinity(0))


def jvm_command(classpath, run_dir, spec_path, n_cores):
    derby = os.path.join(run_dir, "derby")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # Fixed heap, named collector, C1 only: tiered C2 compilation never
    # finishes within a run (it took 30 of 45 CPU seconds of a 4-batch
    # timed window and left batch times falling), while C1 settles during
    # the warm-up batches.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={n_cores}",
           "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={derby}",
           f"-Dderby.stream.error.file={os.path.join(derby, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graftbench.Harness", spec_path]


def prepare_stream(wl, seed, seconds, spec):
    timed = max(4, round(seconds / STREAM_NOMINAL_BATCH_S))
    p = gen.StreamParams(chunks=STREAM_WARMUP_BATCHES + timed, **wl["params"])
    tx = gen.transactions(seed, p)
    gen.write_transactions_csv(spec["tx_csv"], tx)
    gen.write_importance_csv(spec["importance_csv"], gen.importance(seed, p))
    spec.update(chunks=p.chunks, chunk_rows=gen.CHUNK_ROWS,
                warmup_batches=STREAM_WARMUP_BATCHES, derby_name=f"state_{seed}")
    return {"params": p.as_dict(), "timed_batches": timed, "rows": int(len(tx["cents"]))}, tx


def prepare_queries(wl, seed, seconds, spec):
    order = list(wl["queries"])
    random.Random(seed).shuffle(order)
    gen.write_star_schema(spec["data_dir"], gen.star_schema(seed, wl["scale"]))
    passes = max(3, round(seconds / wl["nominal_op_s"]))
    spec.update(queries=[q for q, _ in order], modules=[m for _, m in order], passes=passes)
    return {"scale": wl["scale"], "order": spec["queries"], "passes": passes}, None


def run_once(args, classpath):
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS_DIR, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "derby", "sink", "outputs", "state"):
        os.makedirs(os.path.join(run_dir, d))
    n_cores = cores()
    spec = {
        "run_id": run_id, "run_dir": run_dir, "workload_kind": wl["kind"],
        "trace": bool(args.trace), "cores": n_cores,
        "spark_local_dir": os.path.join(run_dir, "spark-local"),
        "warehouse_dir": os.path.join(run_dir, "warehouse"),
        "tx_csv": os.path.join(run_dir, "tx.csv"),
        "importance_csv": os.path.join(run_dir, "importance.csv"),
        "input_dir": os.path.join(run_dir, "input"),
        "checkpoint_dir": os.path.join(run_dir, "checkpoint"),
        "sink_dir": os.path.join(run_dir, "sink"),
        "state_dump_dir": os.path.join(run_dir, "state"),
        "data_dir": os.path.join(run_dir, "data"),
        "output_dir": os.path.join(run_dir, "outputs"),
    }
    try:
        launch = time.time()
        prepare = prepare_stream if wl["kind"] == "stream" else prepare_queries
        gen_info, tx = prepare(wl, args.seed, args.seconds, spec)
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.run(jvm_command(classpath, run_dir, spec_path, n_cores),
                                  stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                  timeout=RUN_TIMEOUT_S - (time.time() - launch))
        result_path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise RuntimeError(f"harness exited with code {proc.returncode}")
        with open(result_path) as f:
            res = json.load(f)
        if wl["kind"] == "stream":
            outcome = checks.stream(res, tx, spec)
        else:
            outcome = checks.queries(res, spec)
        spans = None
        if args.trace:
            with open(os.path.join(run_dir, "spans.jsonl")) as f:
                spans = f.read()
        return launch, gen_info, res, outcome, spans
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def host_scaled(window, raw):
    """Timings scaled to a core that runs the host-speed probe in
    REF_PROBE_NS. The host's core speed drifts by tens of percent between
    runs minutes apart, and the timings drift with it. The probe is timed
    in thread CPU time, in bursts just before and just after the timed
    work while Spark is idle, so it follows the host and not the
    program's own load."""
    if not window["probe_samples"]:
        raise RuntimeError("host-speed probe took no samples")
    return {k: v if k == "heap_live_mb" else v * REF_PROBE_NS / window["probe_ns"]
            for k, v in raw.items()}


def stream_e2e(res, launch):
    s = res["stream"]
    b = s["batch_s"]
    return {
        "setup_s": s["window_start_wall_s"] - launch,
        "cpu_s": s["cpu_s"], "heap_live_mb": s["heap_live_mb"],
        "op_p50_s": median(b), "op_geomean_s": geomean(b), "work_s": s["work_s"],
    }


def query_medians(res):
    passes = res["queries"]["passes"]
    names = list(passes[0])
    return {n: {part: median([p[n][part] for p in passes]) for part in ("builder_s", "exec_s")}
            for n in names}


def queries_e2e(res, launch):
    q = res["queries"]
    totals = [sum(v["builder_s"] + v["exec_s"] for v in p.values()) for p in q["passes"]]
    per_query = [median([p[n]["builder_s"] + p[n]["exec_s"] for p in q["passes"]])
                 for n in q["passes"][0]]  # median of each sum; the sum of medians differs
    return {
        "setup_s": q["window_start_wall_s"] - launch,
        "cpu_s": q["cpu_s"], "heap_live_mb": q["heap_live_mb"],
        "op_p50_s": median(totals), "op_geomean_s": geomean(per_query),
        "work_s": sum(totals),
    }


def per_layer(res, outcome):
    """Every per-layer metric, 0 where a workload does no work in a layer."""
    m = {}
    stream = res.get("stream")
    phases = res.get("phases_ms", [])

    def med(key):
        return median([p.get(key, 0) for p in phases]) if phases else 0.0
    apply_ms = med("applyDeltas")
    trig = med("triggerExecution")
    add = med("addBatch")
    m["state.apply_deltas_ms"] = apply_ms
    m["state.apply_deltas_share"] = (sum(p.get("applyDeltas", 0) for p in phases) /
                                     max(1, sum(p.get("triggerExecution", 0) for p in phases)))
    reads = res.get("jdbc_read_ms_per_batch", [])
    m["state.read_task_ms"] = median(reads) if reads else 0.0
    for t in checks.STATE_TABLES:
        m[f"state.rows.{t}"] = outcome["state_rows"].get(t, 0)
    m["sink.files"] = outcome["sink_files"]
    m["sink.files_per_batch"] = outcome["sink_files_timed"] / max(1, len(phases))
    for pid in ("PatId1", "PatId2", "PatId3"):
        m[f"sink.rows.{pid}"] = outcome["sink_rows"].get(pid, 0)
    jobs = res.get("jobs_per_batch", [])
    m["streaming.jobs_per_batch"] = median(jobs) if jobs else 0
    m["streaming.batches"] = len(phases)
    m["streaming.trigger_ms"] = trig
    m["streaming.add_batch_ms"] = add
    m["streaming.overhead_ms"] = median([p.get("triggerExecution", 0) - p.get("addBatch", 0)
                                         for p in phases]) if phases else 0.0
    m["streaming.process_self_ms"] = median([p.get("addBatch", 0) - p.get("applyDeltas", 0)
                                             for p in phases]) if phases else 0.0
    m["ingest.feed_s"] = res.get("feed_s", 0.0)
    m["ingest.latest_offset_ms"] = med("latestOffset")
    m["ingest.get_batch_ms"] = med("getBatch")
    q = res.get("queries")
    meds = query_medians(res) if q else {}
    layer = {mod: 0.0 for mod in MODULES}
    for name, mod in WORKLOADS["queries"]["queries"]:
        b = meds.get(name, {}).get("builder_s", 0.0)
        e = meds.get(name, {}).get("exec_s", 0.0)
        m[f"query.{name}.builder_s"] = b
        m[f"query.{name}.exec_s"] = e
        if name in meds:
            layer[mod] += b + e
    for mod in MODULES:
        m[f"layer.{mod}_s"] = layer[mod]
    m["caches.persisted_rdds"] = (q or stream or {}).get("persisted_rdds", 0)
    for k in ENGINE_KEYS:
        m[k] = res.get("engine", {}).get(k, 0)
    window = stream or q or {}
    m["jvm.jit_ms"] = window.get("jit_ms", 0)
    m["jvm.gc_ms"] = window.get("gc_ms", 0)
    for lay in ("setup", "ingest", "streaming", "state", "suite") + tuple(MODULES):
        m[f"self.{lay}_s"] = res.get("self_ms", {}).get(lay, 0.0) / 1e3
    return m


def baseline_path(args, source_stamp):
    return os.path.join(OUT_DIR, f"{args.workload}-{args.seconds:g}s-{source_stamp}-untraced.jsonl")


def tracing_overhead(args, source_stamp, e2e):
    """Gap (%) of this traced run's op_p50_s against the median of the
    untraced runs of the same code, workload and length recorded in this
    checkout, and how many there were; None when there were none."""
    path = baseline_path(args, source_stamp)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = [json.loads(line)["op_p50_s"] for line in f if line.strip()]
    if not base:
        return None
    ref = median(base)
    return {"op_p50_pct": 100.0 * (e2e["op_p50_s"] - ref) / ref, "baseline_runs": len(base)}


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        classpath, source_stamp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    try:
        launch, gen_info, res, outcome, spans = run_once(args, classpath)
    except Exception as e:  # no measurements: no result line
        print(f"run failed: {e!r}", file=sys.stderr)
        return 1

    window = res["stream"] if "stream" in res else res["queries"]
    wall = (stream_e2e if "stream" in res else queries_e2e)(res, launch)
    try:
        e2e = host_scaled(window, wall)
    except RuntimeError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    os.makedirs(OUT_DIR, exist_ok=True)
    if args.trace:
        metrics = per_layer(res, outcome)
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = e2e
        units = dict(END_TO_END)
        with open(baseline_path(args, source_stamp), "a") as f:
            f.write(json.dumps(e2e) + "\n")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_commit": git_commit(), "source_stamp": source_stamp,
        "generator": gen_info,
        "launch": res.get("launch"), "table_stamps": res.get("table_stamps"),
        "e2e": e2e, "wall": wall,
        "trace_overhead": tracing_overhead(args, source_stamp, e2e) if args.trace else None,
        "checks": outcome,
        "raw": {k: v for k, v in res.items() if k not in ("oracle_sql",)},
    }
    if "stream" in res:
        b = res["stream"]["batch_s"]
        p90, above = percentile(b, 90)
        record["summary"] = {
            "rows_per_s": gen_info["timed_batches"] * gen.CHUNK_ROWS / res["stream"]["work_s"],
            "batch_p50_s": median(b), "batch_samples": len(b),
            "batch_p90_s": p90 if above >= 10 else None}
    else:
        record["summary"] = {"suite_s": wall["op_p50_s"], "query_geomean_s": wall["op_geomean_s"],
                             "passes": len(res["queries"]["passes"])}
    record["summary"].update({k[:-3] + "_ms": window[k] / 1e6 for k in
                              ("probe_ns", "probe_before_ns", "probe_after_ns")})
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if spans:
        with open(os.path.join(OUT_DIR, f"{tag}.spans.jsonl"), "w") as f:
            f.write(spans)
    print(json.dumps({"provenance": {k: record[k] for k in
                                     ("workload", "seed", "git_commit", "source_stamp",
                                      "generator", "launch",
                                      "table_stamps", "summary", "trace_overhead")}},
                     default=str))
    result = {
        "correct": outcome["failed"] == 0,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
