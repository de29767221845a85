"""Shared pieces of the benchmark runs: Spark session set-up and teardown,
the closed job loop, and the end-to-end metrics."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "ok_frac": "ratio",
    "out_bytes_per_in_byte": "ratio",
}


def _passthrough(batches):
    yield from batches


def spark_conf(event_dir: str | None) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        # the default zstd codec needs the zstandard module; one file per
        # application, not a rolling directory
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + event_dir})
    return conf


def start_session(cores: int, conf: dict):
    """get_spark, then the first action that needs a Python worker.
    Returns (spark, seconds in get_spark, seconds in the first action)."""
    from documentprocessor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    spark.range(0, cores, 1, cores).mapInArrow(_passthrough, "id long").collect()
    return spark, start_s, time.perf_counter() - t0


def stop_jvm() -> None:
    """Stop the session and the JVM py4j launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup(cores: int, conf: dict):
    """SETUP_REPEATS session starts (the first also launches the JVM); the
    last session stays up. Returns (spark, [(get_spark s, worker s)])."""
    times = []
    for i in range(SETUP_REPEATS):
        spark, start_s, warm_s = start_session(cores, conf)
        times.append((start_s, warm_s))
        if i < SETUP_REPEATS - 1:
            spark.stop()
    return spark, times


def prepare_inputs(workload: str, seed: int, cores: int) -> dict:
    """Input metadata for one workload and seed."""
    import inputs
    from workloads import SIZES, n_files

    return inputs.prepare(os.path.join(WORK, "cache"), workload, seed,
                          SIZES[workload], n_files(workload, cores))


def warm_up(spark, workload: str, meta: dict, run_dir: str) -> None:
    """One untimed job on the run's input, if the workload takes one."""
    from spans import Tracer
    from workloads import JOBS, WARM_UP

    if workload not in WARM_UP:
        return
    out = os.path.join(run_dir, "warmup")
    try:
        JOBS[workload][0](spark, meta, out, Tracer())
    except Exception:  # the timed jobs fail too, and count it
        print(traceback.format_exc(), file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)


def run_jobs(spark, workload: str, meta: dict, run_dir: str, seconds: float,
             tracer, check: bool = True) -> list[dict]:
    """Closed loop: one job at a time, each into a fresh output dir, until
    ``seconds`` of job time are spent. Checks and output accounting run
    after each job, outside its timed region, unless ``check`` is off; a
    job that raises counts as failed either way."""
    from probes import RssSampler
    from workloads import JOBS

    job_fn, check_fn, outputs_fn = JOBS[workload]
    done, spent = [], 0.0
    while not done or spent < seconds:
        out = os.path.join(run_dir, f"out-{len(done)}")
        spark.catalog.clearCache()
        rec = {"docs": meta["size"], "exception": None}
        with RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                rec.update(job_fn(spark, meta, out, tracer))
            except Exception:  # a failed job is a result, not a crash
                rec["exception"] = traceback.format_exc()
            rec["wall_s"] = time.perf_counter() - t0
        rec["peak_rss"] = rss.peak
        spent += rec["wall_s"]
        t0 = time.perf_counter()
        if rec["exception"] is None and check:
            try:
                with tracer.span("check", kind="check"):
                    rec["check"] = check_fn(spark, meta, out, rec)
                rec["outputs"] = outputs_fn(out)
            except Exception:
                rec["exception"] = traceback.format_exc()
        rec["check_s"] = time.perf_counter() - t0
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        if rec["exception"]:
            print(rec["exception"], file=sys.stderr)
        done.append(rec)
    return done


def failures(rec: dict) -> int:
    """Docs counted as failed for one job: every problem the checks found,
    or all of the job's docs when it raised."""
    if rec["exception"]:
        return rec["docs"]
    return sum(rec["check"]["problems"].values()) if "check" in rec else 0


def end_to_end(setups, jobs, meta) -> tuple[int, int, dict]:
    """(docs attempted, docs failed, end-to-end metrics) of one run."""
    attempted = sum(j["docs"] for j in jobs)
    failed = sum(failures(j) for j in jobs)
    ok = [j for j in jobs if not j["exception"]]
    out_ratio = [
        sum(b for _, b in j["outputs"].values()) / meta["input_bytes"] for j in ok
    ]
    values = {
        "setup_s": statistics.median(a + b for a, b in setups),
        "docs_per_s": attempted / sum(j["wall_s"] for j in jobs),
        "ok_frac": max(0.0, 1 - failed / attempted),
        "out_bytes_per_in_byte": statistics.median(out_ratio) if out_ratio else 0.0,
    }
    return attempted, failed, {
        k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()
    }


