"""The traced run: per-layer metrics for one workload.

Three sessions of one JVM, each running the workload's job once. The JVM
starts without the event log; its first session is timed as the set-up
of an end-to-end run, and its job compiles the code the later two run.
The second session has the Spark event log on: it runs the traced job and
then the per-layer probes. The third, again without the event log, runs
the untraced reference, so trace.overhead_frac (untraced over traced
docs_per_s, minus 1) compares two jobs that both follow a full run of the
same job in that JVM. The reference is the warmer by one job, and on a
4-core VM overhead_frac ranged from -0.03 to +0.35 between runs, so it is
a rough figure. Only the traced job's outputs are checked, to keep the run
within its time limit. The traced job's Spark jobs and stages come from
the event log and hang under its span; stage and operator metrics cover
only the traced job, not the probes.
"""

from __future__ import annotations

import os
import statistics
import time

import harness
import workloads
from spans import Tracer, attach_spark_spans, read_event_log, summarize_events

# name -> unit; every traced run reports all of them, with 0 for the
# layers its workload does not run. peak_rss_mb (summed RSS of this process,
# its JVM and the Python workers during the traced job) is here rather than
# among the end-to-end metrics: JVM heap sizing moved it between 2.5 and
# 6.1 GB on identical runs, too wide for any bound.
PER_LAYER = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "peak_rss_mb": "MB",
    "sources.scan_splits": "count",
    "sources.input_bytes": "bytes",
    "pdf.parse_us_per_doc": "us",
    "partitioning.probe_s": "s",
    "partitioning.rescue_fired": "count",
    "html_parse.scan_us_per_doc": "us",
    "reference_semantics.fields_us_per_doc": "us",
    "extract.kernel_us_per_doc": "us",
    "extract.python_worker_s": "s",
    "extract.bytes_to_python": "bytes",
    "extract.bytes_from_python": "bytes",
    "extract.failed_docs": "count",
    "pipeline.resume_probe_s": "s",
    "pipeline.extract_write_s": "s",
    "pipeline.readback_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.results_files": "count",
    "pipeline.results_fill_frac": "ratio",
    "pipeline.results_bytes": "bytes",
    "pipeline.spans_files": "count",
    "pipeline.spans_bytes": "bytes",
    "pipeline.manifest_files": "count",
    "pipeline.manifest_bytes": "bytes",
    "curate.build_s": "s",
    "curate.exec_s": "s",
    "textstats.filter_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_edges_s": "s",
    "dedup.span_removal_s": "s",
    "dedup.line_dedup_s": "s",
    "dedup.winnow_s": "s",
    "rolling.window_hashes_s": "s",
    "dedup.exact_drop_frac": "ratio",
    "dedup.near_dup_recall": "ratio",
    "dedup.candidate_pairs_per_doc": "ratio",
    "dedup.line_drop_frac": "ratio",
    "stage.count": "count",
    "stage.tasks": "count",
    "stage.exchanges": "count",
    "stage.executor_run_s": "s",
    "stage.executor_cpu_s": "s",
    "stage.gc_s": "s",
    "stage.shuffle_write_bytes": "bytes",
    "stage.shuffle_read_bytes": "bytes",
    "stage.spill_bytes": "bytes",
    "stage.task_p50_s": "s",
    "stage.task_p99_s": "s",
    "stage.core_busy_frac": "ratio",
    "trace.docs_per_s_untraced": "1/s",
    "trace.docs_per_s_traced": "1/s",
    "trace.overhead_frac": "ratio",
    "trace.call_self_s": "s",
}


def _sources_and_partitioning(spark, meta: dict, workload: str, tracer) -> dict:
    from documentprocessor_spark.partitioning import ensure_min_parallelism

    df = spark.read.parquet(meta["input"])
    if workload.startswith("extract"):
        # the columns run_job's extraction stage reads
        df = df.select("url", "html", "text")
    with tracer.span("partitioning.probe", kind="call"):
        t0 = time.perf_counter()
        rescued = ensure_min_parallelism(df)
        probe_s = time.perf_counter() - t0
    return {
        "sources.scan_splits": df.rdd.getNumPartitions(),
        "sources.input_bytes": meta["input_bytes"],
        "partitioning.probe_s": probe_s,
        "partitioning.rescue_fired": int(rescued is not df),
    }


def _job_window(summary: dict, span: dict) -> tuple[list[dict], list[int]]:
    """Stages and Spark job ids submitted inside one call span."""
    job_ids = [j for j, job in summary["jobs"].items()
               if span["start"] <= job["start"] <= span["end"]]
    stage_ids = {s for j in job_ids for s in summary["jobs"][j]["stages"]}
    return [s for s in summary["stages"] if s["stage"] in stage_ids], job_ids


def _stage_metrics(stages: list[dict], summary: dict, wall: float,
                   cores: int) -> dict:
    durs = [d for s in stages for d in s["durs"]]
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    exchanges = sum(summary["exchanges"].get(e, 0) for e in {
        s["execution"] for s in stages if s["execution"] is not None})
    return {
        "stage.count": len(stages),
        "stage.tasks": sum(s["tasks"] for s in stages),
        "stage.exchanges": exchanges,
        "stage.executor_run_s": run_s,
        "stage.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "stage.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "stage.shuffle_write_bytes": sum(s["sw"] for s in stages),
        "stage.shuffle_read_bytes": sum(s["sr"] for s in stages),
        "stage.spill_bytes": sum(s["spill"] for s in stages),
        "stage.task_p50_s": statistics.median(durs) if durs else 0.0,
        "stage.task_p99_s": sorted(durs)[int(0.99 * (len(durs) - 1))] if durs else 0.0,
        "stage.core_busy_frac": run_s / (wall * cores),
    }


def _operator(stages: list[dict], node: str, metric: str) -> float:
    return sum(s["operators"].get((node, metric), 0.0) for s in stages)


def _pipeline_metrics(rec: dict, summary: dict, stages, job_ids) -> dict:
    """Split run_job's wall time with its own elapsed_sec: before the
    results write (the resume probe, on a fresh dir only the failed lookup
    of earlier results, and planning), the write, and the read-back after."""
    from documentprocessor_spark.config import DEFAULT_CONFIG

    span, stats = rec["span"], rec["stats"]
    write_starts = [e["start"] for e in summary["executions"].values()
                    if e["mapinarrow"] and span["start"] <= e["start"] <= span["end"]]
    wall = span["end"] - span["start"]
    probe = (min(write_starts) - span["start"]) if write_starts else 0.0
    write = stats["elapsed_sec"]
    out = {
        "pipeline.resume_probe_s": probe,
        "pipeline.extract_write_s": write,
        "pipeline.readback_s": max(0.0, wall - probe - write),
        "pipeline.spark_jobs": len(job_ids),
        "extract.python_worker_s":
            _operator(stages, "MapInArrow", "time to run Python workers") / 1e3,
        "extract.bytes_to_python":
            _operator(stages, "MapInArrow", "data sent to Python workers"),
        "extract.bytes_from_python":
            _operator(stages, "MapInArrow", "data returned from Python workers"),
        "extract.failed_docs": rec["check"]["failed_docs"],
    }
    for table, (files, size) in rec["outputs"].items():
        out[f"pipeline.{table}_files"] = files
        out[f"pipeline.{table}_bytes"] = size
    # share of the buckets x buckets (url-repartition task, url_bucket)
    # cells the results write can fan out to; 1.0 on a large enough input
    buckets = DEFAULT_CONFIG["job"]["buckets"]
    out["pipeline.results_fill_frac"] = out["pipeline.results_files"] / buckets**2
    return out


def traced_run(args, cores: int, run_dir: str) -> dict:
    """Untraced set-up and a first job; in a new session with the event
    log on, the traced job and the layer probes; in a third session, the
    untraced reference job."""
    meta = harness.prepare_inputs(args.workload, args.seed, cores)
    event_dir = os.path.join(run_dir, "events")
    spark, setups = harness.setup(cores, harness.spark_conf(None))
    first = harness.run_jobs(spark, args.workload, meta, run_dir, 0, Tracer(),
                             check=False)
    spark.stop()

    tracer = Tracer()
    values = {k: 0.0 for k in PER_LAYER}
    with tracer.span(f"workload.{args.workload}", seed=args.seed,
                     digest=meta["digest"]) as root:
        with tracer.span("session.setup", kind="setup"):
            # set explicitly, the event-log confs override the JVM's
            # defaults, which the untraced start left without them
            spark, _, _ = harness.start_session(cores, harness.spark_conf(event_dir))
        app_id = spark.sparkContext.applicationId
        traced = harness.run_jobs(spark, args.workload, meta, run_dir, 0, tracer)
        rec = traced[0]
        values.update(_sources_and_partitioning(spark, meta, args.workload, tracer))
        if args.workload.startswith("extract"):
            values.update(workloads.kernel_layers(meta, tracer))
        else:
            values.update(workloads.curation_layers(spark, meta, tracer))
        spark.stop()
    root["attrs"]["app_id"] = app_id
    spark, _, _ = harness.start_session(cores, harness.spark_conf(None))
    plain = harness.run_jobs(spark, args.workload, meta, run_dir, 0, Tracer(),
                             check=False)
    # only the traced session may have logged events
    logs = sorted(os.listdir(event_dir))
    if logs != [app_id]:
        raise RuntimeError(f"event logs {logs}, expected only {app_id}")

    values["session.cold_start_s"] = sum(setups[0])
    values["session.start_s"] = statistics.median(a for a, _ in setups)
    values["session.worker_warm_s"] = statistics.median(b for _, b in setups)
    summary = summarize_events(read_event_log(event_dir, app_id))
    attach_spark_spans(tracer, summary)
    # the checked job, and any unchecked job that raised
    counted = traced + [r for r in first + plain if r["exception"]]
    failed = sum(harness.failures(r) for r in counted)
    if not rec["exception"]:
        span = rec["span"]
        stages, job_ids = _job_window(summary, span)
        wall = span["end"] - span["start"]
        values.update(_stage_metrics(stages, summary, wall, cores))
        if args.workload.startswith("extract"):
            values.update(_pipeline_metrics(rec, summary, stages, job_ids))
        else:
            values["dedup.near_dup_recall"] = rec["check"]["near_dup_recall"]
            values["dedup.line_drop_frac"] = rec["check"]["line_drop_frac"]
        values["trace.call_self_s"] = tracer.self_times()[span["id"]]
    values["peak_rss_mb"] = rec["peak_rss"] / 2**20
    untraced = plain[0]["docs"] / plain[0]["wall_s"]
    traced_dps = rec["docs"] / rec["wall_s"]
    values["trace.docs_per_s_untraced"] = untraced
    values["trace.docs_per_s_traced"] = traced_dps
    values["trace.overhead_frac"] = untraced / traced_dps - 1
    tracer.write(os.path.join(harness.WORK, "traces", f"{args.workload}-s{args.seed}.json"))
    return {
        "correct": failed == 0,
        "attempted": sum(r["docs"] for r in counted),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()},
    }
