"""Lakehouse benchmark: one workload per run, from the root of a checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from ``--seed``, sets up (session, inputs,
base tables, warm-up), runs the timed window, checks every output against
DuckDB, and prints as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` patches the package's public
callables with span recorders and reports the per-layer metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is measured from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

# span name -> per-layer metric (self times summed, per traced op)
SPAN_METRIC = {
    "pipeline.ingest": "pipeline.ingest_s",
    "readers.read": "pipeline.ingest_s",
    "pipeline.validate": "pipeline.validate_s",
    "quality.validate": "pipeline.validate_s",
    "pipeline.transform": "pipeline.transform_s",
    "pipeline.publish": "pipeline.publish_s",
    "pipeline.publish_fact": "pipeline.publish_fact_s",
    "domain_fact.build": "domain_fact.build_s",
    "pipeline.emit_manifest": "pipeline.emit_manifest_s",
    "matview.refresh": "matview.refresh_s",
    "query.plan": "query.plan_s",
    "query.exec": "query.exec_s",
}
VERSIONED_CALLS = [
    "write_audit_publish", "merge_upsert", "delete_where", "update_where",
    "optimize", "vacuum", "read", "scan",
]
SQL_KINDS = ["merge", "delete", "update", "select", "optimize", "vacuum", "refresh"]
for _m in VERSIONED_CALLS:
    SPAN_METRIC[f"versioned.{_m}"] = f"versioned.{_m}_s"
for _k in SQL_KINDS:
    SPAN_METRIC[f"lakehouse_sql.{_k}"] = f"lakehouse_sql.{_k}_s"

COUNT_UNITS = {
    "quality.validate_calls": "count",
    "versioned.commits_per_op": "count",
    "versioned.touched_files_per_commit": "files",
    "versioned.bytes_written_per_user_byte": "ratio",
    "versioned.log_bytes_per_op": "bytes",
    "versioned.files_live": "files",
    "versioned.files_read_ratio": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}
PER_LAYER = {
    "session.build_s": "s",  # timed around build_session, not a span
    **{m: "s" for m in sorted(set(SPAN_METRIC.values()))},
    **COUNT_UNITS,
    "trace.op_p50_s": "s",
}
# counts the data fixes (a change in them is a correctness signal, not a
# speed one): printed on the detail line of traced runs, not as metrics
COUNTERS = ["readers.rows_in", "readers.rows_quarantined", "matview.change_rows_folded"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout(root: str) -> None:
    """The benchmark measures the package in the current directory and
    refuses to run anywhere else."""
    for need in ("aws_lakehouse_project_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found under {root}: run from the root of a checkout")


def patch_public_api(tracer, counters: dict) -> None:
    """Wrap the package's public callables where their callers look them up."""
    import aws_lakehouse_project_spark.pipeline as pipeline
    import aws_lakehouse_project_spark.plans.matview as matview
    from aws_lakehouse_project_spark.plans.versioned import VersionedTable
    from aws_lakehouse_project_spark.quality.expectations import QUARANTINE_KEY

    lock = threading.Lock()
    for m in ("validate", "transform", "publish", "publish_fact", "emit_manifest"):
        tracer.patch(pipeline.LakehousePipeline, m, f"pipeline.{m}")
    ingest = pipeline.LakehousePipeline.ingest

    def counted_ingest(self, *args, **kwargs):
        with tracer.span("pipeline.ingest") as sp:
            out = ingest(self, *args, **kwargs)
        if sp is not None:
            # the frame is an eager local checkpoint, so counting it is
            # cheap; its job goes to a group no op counts
            sc = out.sparkSession.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", "pb-uncounted")
            n = out.count()
            sc.setLocalProperty("spark.jobGroup.id", group)
            with lock:  # the pipeline runs its domains on a thread pool
                counters["readers.rows_in"] += n
        return out

    tracer._undo.append((pipeline.LakehousePipeline, "ingest", ingest))  # noqa: SLF001
    pipeline.LakehousePipeline.ingest = counted_ingest
    tracer.patch(pipeline, "read_csv", "readers.read")
    tracer.patch(pipeline, "read_jsonl", "readers.read")
    tracer.patch(pipeline, "build_fct_daily_store_metrics", "domain_fact.build")
    validate = pipeline.validate

    def counted_validate(*args, **kwargs):
        with tracer.span("quality.validate") as sp:
            out = validate(*args, **kwargs)
        if sp is not None:
            with lock:
                counters["quality.validate_calls"] += 1
                counters["readers.rows_quarantined"] += out.get(QUARANTINE_KEY, 0)
        return out

    tracer._undo.append((pipeline, "validate", validate))  # noqa: SLF001
    pipeline.validate = counted_validate
    for m in VERSIONED_CALLS:
        tracer.patch(VersionedTable, m, f"versioned.{m}")
    tracer.patch(matview, "refresh_materialized_view", "matview.refresh")


def layer_metrics(wl, tracer, counters, session_s, steal) -> tuple[dict, dict]:
    """(per-layer metrics, data-fixed counters) of a traced run."""
    traced = [o for o in wl.measured() if o.traced and o.ok]
    n = max(1, len(traced))
    out = {m: 0.0 for m in PER_LAYER}
    for name, t in tracer.self_times().items():
        if name in SPAN_METRIC:
            out[SPAN_METRIC[name]] += t / n
    out["session.build_s"] = session_s
    out["quality.validate_calls"] = counters.pop("quality.validate_calls") / n
    per_op = {k: v / n for k, v in counters.items()}  # rows per drop
    costs = [o.cost for o in wl.ops if o.cost]
    if costs:
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}_per_op"] = sum(c[k] for c in costs) / len(costs)
        out["spark.failed_tasks"] = sum(c["failed_tasks"] for c in costs)
    _extra, layer = wl.report()
    out.update({k: v for k, v in layer.items() if k in PER_LAYER})
    per_op.update({k: v for k, v in layer.items() if k in COUNTERS})
    out["host.steal_pct"] = steal
    if traced:
        busy = sum(o.latency for o in traced)
        out["trace.overhead_pct"] = 100.0 * len(tracer.spans) * tracer.span_cost() / busy
        out["trace.op_p50_s"] = probes.median([o.latency for o in traced])
    return out, per_op


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM ends
    when its stdin pipe closes."""
    import subprocess

    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    check_checkout(root)
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    # everything the run writes stays inside the checkout
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # and no JVM hsperfdata files outside it
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp

    steal0 = probes.proc_stat_cpu()
    from aws_lakehouse_project_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        result, detail = run(spark, args, work, session_s, steal0)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))


def run(spark, args, work, session_s, steal0):
    import spans
    import workloads

    tracer = spans.Tracer() if args.trace else None
    counters = {"quality.validate_calls": 0, "readers.rows_in": 0, "readers.rows_quarantined": 0}
    ctx = workloads.Ctx(
        spark, work, args.seed, args.seconds, tracer,
        probes.JobCounter(spark) if args.trace else None,
    )
    if tracer:
        patch_public_api(tracer, counters)
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.setup()
    setup_s = time.perf_counter() - T_START
    t_window = time.perf_counter()
    wl.ops = wl.run(t_window + args.seconds)
    steal = probes.steal_pct(steal0, probes.proc_stat_cpu())
    t_check = time.perf_counter()
    failed_checks, msgs = wl.check()
    phases = {"setup_s": setup_s, "window_s": t_check - t_window, "check_s": time.perf_counter() - t_check}
    attempted = len(wl.ops)
    op_failures = [o.error for o in wl.ops if not o.ok]
    failed = min(attempted, len(op_failures) + failed_checks)
    lat = wl.latencies()
    elapsed = wl.elapsed()
    tail, pct = probes.percentile_tail(lat)
    detail = {
        "stamp": {**probes.stamp(spark, args.seed, args.workload), "steal_pct": steal},
        "samples": len(lat),
        "ops": [[o.kind, round(o.latency, 3)] for o in wl.ops],
        "op_tail_s": tail,
        "op_tail_percentile": pct,
        "errors": (op_failures + msgs)[:10],
        "phases": phases,
    }
    if tracer:
        tracer.unpatch()
        metrics, detail["counters"] = layer_metrics(wl, tracer, counters, session_s, steal)
        units = PER_LAYER
        bad = spans.check_nesting(tracer.spans)
        detail["span_violations"] = bad[:5]
        detail["spans"] = len(tracer.spans)
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        extra, _ = wl.report()
        detail.update(extra, peak_rss_mb=probes.peak_rss_mb(spark))
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": probes.median(lat),
            "ops_per_s": len(lat) / elapsed if elapsed else 0.0,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, detail


if __name__ == "__main__":
    main()
