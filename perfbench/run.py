"""Benchmark of the extraction and curation jobs, end to end and per layer.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's input from
``--seed`` (cached under ``.perfbench/cache``), starts Spark through
``session.get_spark`` at local[nproc] with nproc shuffle partitions (three
times, for the set-up time), for curate_corpus runs one untimed warm-up
job on the same input, then runs the workload's job closed-loop until
``--seconds`` of job time have been measured (at least one job), checks
every timed job's outputs, and prints one JSON line last: ``{"correct",
"attempted", "failed", "metrics"}``. The line before it holds the input
digest and the raw timings.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the separate
traced run (see layers.py): it reports the per-layer metrics and writes the
span tree to ``.perfbench/traces/<workload>-s<seed>.json``.

Everything it writes stays under ``.perfbench`` in the repository root;
the per-run directory is removed at exit. Without the package next to
``perfbench/`` it exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import harness


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    root = harness.ROOT
    if not os.path.isfile(os.path.join(root, "documentprocessor_spark", "__init__.py")):
        print(f"perfbench: no documentprocessor_spark package under {root}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}")
    for sub in ("local", "warehouse", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # set before anything creates a temp file or launches the JVM, so all
    # scratch stays in the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # Python workers import the package from the repository root
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, harness.HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM, the spark-submit launcher's too
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={run_dir}/tmp", "-XX:-UsePerfData") if o),
    })
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.JOBS:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.JOBS)}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        if args.trace:
            import layers

            result = layers.traced_run(args, cores, run_dir)
        else:
            result = e2e_run(args, cores, run_dir)
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def e2e_run(args, cores: int, run_dir: str) -> dict:
    from spans import Tracer

    t0 = time.perf_counter()
    meta = harness.prepare_inputs(args.workload, args.seed, cores)
    inputs_s = time.perf_counter() - t0
    spark, setups = harness.setup(cores, harness.spark_conf(None))
    t0 = time.perf_counter()
    harness.warm_up(spark, args.workload, meta, run_dir)
    warmup_s = time.perf_counter() - t0
    jobs = harness.run_jobs(spark, args.workload, meta, run_dir, args.seconds,
                            Tracer())
    attempted, failed, metrics = harness.end_to_end(setups, jobs, meta)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "digest": meta["digest"],
        "size": meta["size"], "cores": cores, "inputs_s": inputs_s,
        "setups": setups, "warmup_s": warmup_s,
        "job_walls": [j["wall_s"] for j in jobs],
        "check_walls": [j["check_s"] for j in jobs],
        "peak_rss_mb": [j["peak_rss"] / 2**20 for j in jobs],
        "problems": [j.get("check", {}).get("problems") for j in jobs],
    }))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
