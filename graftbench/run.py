"""graft benchmark: one command per workload and seed.

    python3 graftbench/run.py --workload ta_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the bench JVM on first use
(see build.py), generates the inputs from the seed, runs the workload in one
JVM, checks the outputs and prints one JSON object as the last line of
standard output. --trace 1 prints the per-layer metrics instead of the
end-to-end ones. See README.md in this directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check_batch  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ta_batch", "ta_stream", "doc_pipeline")
JVM_TIMEOUT_S = 165
# Per-layer metrics; a layer a workload does not call reports 0.
PER_LAYER = [
    "sources.gen_s", "sources.load_s",
    "ta.build_s", "ta.plan_s", "ta.codegen_s", "ta.exec_s", "ta.jobs", "ta.stages", "ta.tasks",
    "ta.heavy_stage_tasks", "ta.task_cpu_s", "ta.gc_s", "ta.core_util", "ta.shuffle_mb",
    "ta.spill_mb", "ta.plan_cache_hits",
    "stream.trigger_ms", "stream.planning_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.state_commit_ms", "stream.state_rows", "stream.state_mb", "stream.batches",
    "stream.ticks_per_batch", "stream.backlog_max", "stream.generator_lateness_max_s",
    "stream.tasks", "stream.task_cpu_s", "stream.gc_s",
    "similarity.index_build_s", "similarity.topk_s", "similarity.append_s", "similarity.tasks",
    "similarity.core_util", "similarity.ivf_frac",
    "dedup.lsh_s", "dedup.candidates", "dedup.pairs", "dedup.precision",
    "cache.persisted_rdds", "cache.persisted_mb", "jvm.gc_s", "trace.overhead_pct",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jvm_command(cp, args, work, out):
    flags = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] + build.jvm_flags(work)
    cmd = ["java"] + flags + ["-cp", cp, "graftbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--cores", str(min(args.cores, os.cpu_count() or 1)),
                              "--work", work, "--out", out]
    if args.conf:
        cmd += ["--conf", args.conf]
    if args.inject_fault:
        cmd += ["--inject-fault", args.inject_fault]
    return cmd


def run_jvm(cmd, work, out):
    """Runs the bench JVM until it has written `out`. A JVM that exits while
    a JIT compilation is in flight waits up to ten seconds for it, time that
    belongs to no workload, so once the result is on disk the JVM gets half
    a second to exit and is then killed."""
    log = os.path.join(work, "jvm.log")
    deadline = time.time() + JVM_TIMEOUT_S
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        while proc.poll() is None and not os.path.exists(out) and time.time() < deadline:
            time.sleep(0.05)
        try:
            proc.wait(timeout=0.5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    code = 0 if os.path.exists(out) else ("timeout" if time.time() >= deadline else proc.returncode)
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"bench JVM exited with {code}; last log lines:\n{tail}")


def end_to_end(raw):
    """The gated metrics (every workload reports each) and the full set
    of per-workload figures for the report line."""
    ops = raw["ops"]
    wall = raw["timed_wall_s"]
    setup = raw["timed_start_s"] - raw["jvm_start_s"]
    w = raw["workload"]
    report = {"setup_s": (setup, "s"), "heap_retained_mb": (raw["heap_retained_mb"], "MB")}
    times = lambda kind: [o["s"] for o in ops if o["kind"] == kind and o["ok"]]  # noqa: E731
    if w == "ta_batch":
        op = stats.median(times("batch"))
        items = raw["rows"] / wall
        report.update(batch_p50_s=(op, "s"), rows_per_s=(items, "rows/s"))
        samples = [(i, s) for i, s in enumerate(times("batch"))]
    elif w == "ta_stream":
        samples = [(int(b), lat) for b, lat in raw["ticks"]]
        lats = [lat for _, lat in samples]
        op = stats.median(lats)
        items = raw["committed_in_window"] / wall
        report.update(
            tick_latency_p50_s=(op, "s"),
            tick_latency_p90_s=(stats.percentile(lats, 90), "s"),
            ticks_per_s=(items, "ticks/s"),
        )
    else:
        ingest, query = times("ingest"), times("query")
        rounds = [a + b for a, b in zip(ingest, query)]
        op = stats.median(rounds)
        items = raw["docs"] / wall
        samples = list(enumerate(rounds))
        report.update(
            query_p50_s=(stats.median(query), "s"), ingest_p50_s=(stats.median(ingest), "s"),
            docs_per_s=(items, "docs/s"),
            ann_recall_at_10=(raw["ann_recall_at_10"], "frac"),
            dedup_recall=(raw["dedup_recall"], "frac"),
        )
    report["failed_frac"] = (stats.failed_frac(ops, raw["checks"]), "frac")
    # JIT compilation (all compiler threads) from the timed start to the end
    # of the run: how far from settled the warm-up left the JIT
    report["jit_after_warmup_s"] = (raw["jit_at_end_s"] - raw["jit_at_timed_start_s"], "s")
    gated = {
        "setup_s": (setup, "s"),
        "op_p50_s": (op, "s"),
        "items_per_s": (items, "1/s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }
    pct = stats.supported_percentile(samples)
    report["samples"] = (len(samples), "count")
    report["supported_percentile"] = (pct if pct is not None else 0, "pct")
    return gated, report


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2, help="local[N] size, clamped to the host")
    ap.add_argument("--conf", default="", help="extra Spark conf, k=v,k=v")
    ap.add_argument("--inject-fault", default="", choices=("",) + WORKLOADS,
                    help="test-only: corrupt the named workload's checked output")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        cp = build.classpath()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(root, ".bench_build", "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    run_jvm(jvm_command(cp, args, work, out), work, out)
    with open(out) as fh:
        raw = json.load(fh)

    checks = raw["checks"]
    if args.workload == "ta_batch":
        c = raw["check"]
        ok, detail = check_batch.check(c["input"], c["output"], c["columns"])
        checks.append({"name": "duckdb_columns", "ok": ok, "detail": detail})

    attempted, failed = stats.failure_counts(raw["ops"], checks)
    correct = all(c["ok"] for c in checks) and failed == 0
    if args.trace:
        layers = raw["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit(k)} for k in PER_LAYER}
        report = {k: v["value"] for k, v in metrics.items()}
    else:
        gated, rep = end_to_end(raw)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}
        report = {k: {"value": v, "unit": u} for k, (v, u) in rep.items()}
    print(json.dumps({"report": report, "stamp": raw["stamp"], "warmup_ops": raw["warmup_ops"],
                      "checks": checks}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_util", "_frac", "precision", "_hits")):
        return "frac"
    return "count"


if __name__ == "__main__":
    main()
