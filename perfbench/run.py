"""Run one ingestion benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_bulk_scd1 --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` makes a traced run and prints the per-layer metrics. Report
lines start with ``#``; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Exits non-zero,
without a result line, when the engine package is not next to this
directory or set-up fails.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "metadata_ingestion_framework_spark"
SEED_REPS = 3  # set-up repetitions per run; setup_s takes their median

# end-to-end metrics of the result line (BENCHMARK.json), name -> unit
END_TO_END = {
    "setup_s": "s",
    "write_bytes_per_row": "B/row",
    "jobs_per_batch": "count",
}
# further end-to-end figures, printed in the report only. On a shared host
# the other guests set the speed of a CPU from one minute to the next, so
# commit latency, throughput and even CPU time per row differ by a third
# between runs of the same code; they are recorded with the per-layer
# metrics instead. A short run has too few batches for a tail with ten
# samples beyond it, peak RSS does not repeat within a tenth, and failures
# and mismatches set ``failed`` and ``correct``
REPORT_ONLY = {
    "commit_s.p50": "s",
    "commit_s.tail": "s",
    "ingest_rows_per_s": "rows/s",
    "cpu_ms_per_row": "ms/row",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
    "state_mismatch_rows": "rows",
}
PER_LAYER = {
    "commit_s.p50": "s", "ingest_rows_per_s": "rows/s", "cpu_ms_per_row": "ms/row",
    "pipeline.reader_s": "s", "pipeline.processor_s": "s", "pipeline.writer_s": "s",
    "pipeline.run_self_s": "s", "readers.read_s": "s",
    "cdc.plan_s": "s", "pii.plan_s": "s", "merge.plan_s": "s",
    "merge.target_rows": "rows", "merge.update_rows": "rows", "merge.out_rows": "rows",
    "merge.partitions_touched": "count", "merge.partitions_total": "count",
    "merge.touched_frac": "ratio",
    "tablestore.read_s": "s", "tablestore.write_s": "s",
    "tablestore.bytes_written": "B", "tablestore.files_written": "count",
    "tablestore.files_linked": "count", "tablestore.bytes_live": "B",
    "observability.write_status_s": "s", "observability.write_fact_s": "s",
    "observability.calls_per_batch": "count", "observability.files_total": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.engine_s": "s", "streaming.offsets_s": "s",
    "streaming.guard_self_s": "s", "streaming.batch_fn_s": "s",
    "incremental.ingest_s": "s", "incremental.consume_s": "s",
    "dedup.docs_dropped": "count", "dedup.drop_precision": "ratio",
    "incremental.sig_buckets_touched": "count", "incremental.band_buckets_touched": "count",
    "incremental.store_rows": "rows",
    "spark.tasks_per_batch": "count", "spark.failed_tasks": "count",
    "cpu.driver_py_s": "s", "cpu.jvm_s": "s", "cpu.jit_s": "s", "cpu.py_workers_s": "s",
    "cpu.util": "ratio",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.unattributed_frac": "ratio", "trace.batches": "count",
}
# span name -> per-layer metric of its self time (spans not listed map to
# "<name>_s"; the root "batch" span is reported as trace.unattributed_frac)
SELF_TIME_NAMES = {
    "pipeline.run": "pipeline.run_self_s",
    "streaming.guard": "streaming.guard_self_s",
}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "local", "spark"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "spark")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no JVM writes its perf-data file under /tmp; the JIT keeps a fixed set
    # of compiler threads, so their CPU can be told apart (procstat)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"


def _clear_stale(work_root: str) -> None:
    """Remove scratch trees left by runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def _parse(argv):
    from perfbench.workloads import NAMES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full",
                    help="input sizes; 'toy' is for the benchmark's own tests")
    return ap.parse_args(argv)


def measure(args, work: str, results: str) -> tuple[dict, dict]:
    """Set up, run and check one workload; returns (report, result)."""
    from perfbench import workloads
    from perfbench.harness import Context

    ctx = Context(ROOT, work, args.seed, args.seconds, bool(args.trace), args.scale)
    t_session = time.perf_counter()
    ctx.start_session()
    wl = None
    try:
        wl = workloads.get(args.workload)(ctx)
        # the initial state is seeded SEED_REPS times on a fresh tree (the
        # first repetition also pays the JVM's cold start); the last seed
        # is the one the run continues from, after untimed warm-up batches
        reps = []
        for _ in range(SEED_REPS):
            t0 = time.perf_counter()
            wl.seed()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.start()
        start_s = time.perf_counter() - t0
        setup_s = (t_session - T_PROCESS) + ctx.session_s + statistics.median(reps) + start_s
        t_run = time.perf_counter()
        wl.run(args.seconds)
        t_check = time.perf_counter()
        mismatch = wl.check()
        ctx.notes["phase.run_s"] = round(t_check - t_run, 4)
        ctx.notes["phase.check_s"] = round(time.perf_counter() - t_check, 4)
        ctx.notes["phase.import_s"] = round(t_session - T_PROCESS, 4)
        return _assemble(ctx, wl, args, setup_s, reps, start_s, mismatch, results)
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        ctx.stop_session()


def _assemble(ctx, wl, args, setup_s, reps, start_s, mismatch, results):
    batches = ctx.batches
    failed = sum(1 for b in batches if not b.ok)
    ok = ctx.timed_batches()
    report: dict[str, object] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "environment": ctx.environment(),
        "batches_attempted": len(batches), "batches_failed": failed,
        "setup.session_s": round(ctx.session_s, 4),
        "setup.seed_reps_s": [round(r, 4) for r in reps],
        "setup.start_s": round(start_s, 4),
        "input_digests": wl.input_digests(),
    }
    e2e: dict[str, float] = {
        "setup_s": setup_s,
        "peak_rss_mb": ctx.peak_rss_mb(),
        "failed_frac": failed / max(len(batches), 1),
        "state_mismatch_rows": mismatch,
    }
    jobs = ctx.job_counts([b.bid for b in ok])
    if ok:
        e2e.update(ctx.latency_metrics())
        e2e.update(wl.e2e_metrics())
        e2e.update(ctx.cpu_cost_metrics())
        e2e["jobs_per_batch"] = jobs.pop("jobs_per_batch")
    for name, unit in {**END_TO_END, **REPORT_ONLY}.items():
        if name in e2e:
            report[f"e2e.{name}"] = f"{e2e[name]:.6g} {unit}"
    if args.trace and ok:
        tmetrics, table, bids = ctx.trace_metrics()
        layer = dict.fromkeys(PER_LAYER, 0.0)
        for name, secs in table.items():
            if name != "batch":
                layer[SELF_TIME_NAMES.get(name, f"{name}_s")] = secs
        layer.update(tmetrics)
        layer.update(jobs)
        layer.update(ctx.cpu_metrics())
        layer.update(wl.layer_metrics(bids))
        for name in ("commit_s.p50", "ingest_rows_per_s", "cpu_ms_per_row", "peak_rss_mb"):
            layer[name] = e2e[name]
        unknown = sorted(set(layer) - set(PER_LAYER))
        if unknown:
            raise KeyError(f"per-layer metrics missing from the catalogue: {unknown}")
        ctx.tracer.dump(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        shown, catalogue = layer, PER_LAYER
    else:
        shown, catalogue = e2e, END_TO_END
    report.update(ctx.notes)  # after trace_metrics, which adds its own notes
    result = {
        "correct": mismatch == 0 and failed == 0 and bool(ok),
        "attempted": max(len(batches), 1),
        "failed": failed,
        "metrics": {k: {"value": float(shown[k]), "unit": u}
                    for k, u in catalogue.items() if k in shown},
    }
    return report, result


def main(argv=None) -> int:
    if argv is None and os.environ.get("PYTHONHASHSEED") != "0":
        # fix string hashing, so set and dict order in the driver and in the
        # Python workers it starts is the same in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    bench_dir = os.path.join(ROOT, "perfbench")
    work_root = os.path.join(bench_dir, ".work")
    _clear_stale(work_root)
    # one scratch tree per process, so concurrent runs never share files
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    results = os.path.join(bench_dir, ".results")
    os.makedirs(results, exist_ok=True)
    _prepare_env(work)
    from perfbench.harness import emit

    try:
        report, result = measure(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    emit(report, result)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"report": report, "result": result}, f, sort_keys=True, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
