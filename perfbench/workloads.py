"""The benchmark's workloads: one job call each, its output checks, and the
per-layer probes of the traced run.

Each workload is a closed loop of batch jobs: one job at a time from this
single Python process, the next only after the previous one has finished.
Output checks run outside the timed region and count problems instead of
raising, so a defect shows as ``failed`` rather than as a crash.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from probes import table_files

# Small, because each run must fit the benchmark's time budget (~70 s a
# run on 4 cores). 1000 pages fill ~22% of the 64 x 64 (url-repartition
# task, url_bucket) cells of run_job's results write, ~900 files, and the
# write and read-back of those files, not the kernel (~0.1 s of a ~40 s
# job), take most of the job's time.
SIZES = {"extract_fresh": 1000, "curate_corpus": 1000}
# Workloads whose run starts with one untimed job on the run's own input.
# Curate only. A curate job is mostly fixed cost (on 4 cores about 9 s of
# planning, code generation and stage start-up, plus ~2 ms a doc), and the
# first job in a JVM takes twice as long as the next: ~25 s against ~12 s
# on 1000 docs. The first job on a new input, and the second job in the
# JVM, are slower again than later ones, so curate warms up on its own
# input and times two jobs in a --seconds 20 run. Over five seeds its
# docs_per_s spread (IQR / median) was 0.07 this way, 0.12 with the
# warm-up on a 100-doc input, and 0.12-0.29 with one timed job. The
# extract job runs cold, as the extract CLI does: a warm-up on 64 pages
# cost ~15 s a run and did not narrow its spread.
WARM_UP = {"curate_corpus"}


def n_files(workload: str, cores: int) -> int:
    """extract: many small files, so the scan has >= 4 x nproc splits (Spark
    packs two small files per split); curate: one file, fewer splits than
    cores, as an upstream export would be."""
    return 8 * cores if workload == "extract_fresh" else 1


# curate CLI composition: its defaults plus the three optional stages on
EXACT_SUBSTR_K = 50
LINE_MIN_COUNT = 2
WINNOW_K, WINNOW_W = 5, 4
FIELD_SAMPLE = 48


# ---------------------------------------------------------------- extract

def _cli_stats(main, argv: list[str]) -> dict:
    """Run a job CLI's ``main`` in this process's session; its printed
    stats line, parsed."""
    printed = io.StringIO()
    with contextlib.redirect_stdout(printed):
        main(argv, stop_session=False)
    return json.loads(printed.getvalue().splitlines()[-1])


def extract_job(spark, meta: dict, out: str, tracer) -> dict:
    """The extract CLI (``jobs.extract_job.main``) at its defaults,
    DEFAULT_CONFIG['job']: run_job with 64 buckets, resume on, stats off."""
    from jobs.extract_job import main as extract_main

    with tracer.span("extract.run_job", kind="call") as span:
        stats = _cli_stats(extract_main, ["--input", meta["input"], "--output", out])
    span["attrs"]["stats"] = stats
    return {"docs": meta["size"], "stats": stats, "span": span}


def _input_rows(meta: dict, urls: set[str] | None = None) -> list[dict]:
    table = pq.read_table(meta["input"], columns=["url", "html", "text"])
    rows = table.to_pylist()
    return rows if urls is None else [r for r in rows if r["url"] in urls]


def _words(html, text):
    from documentprocessor_spark.operators.html_parse import html_tuples, text_tuples
    from documentprocessor_spark.sources.pdf import pdf_tuples

    if html is None:
        return text_tuples(text) if text is not None else []
    return pdf_tuples(html) if html[:5] == b"%PDF-" else html_tuples(html)


def extract_check(spark, meta: dict, out: str, result: dict) -> dict:
    """Per-url byte identity against the golden text, committed rows ==
    rows presented with no url twice, and the fields of a fixed url sample
    equal the slow twin ``reference_semantics.extract_fields`` run on the
    same words."""
    from pyspark.sql import functions as F

    from documentprocessor_spark import reference_semantics as ref
    from documentprocessor_spark.plans.pipeline import (
        read_committed_results, validate_against_golden)

    presented = meta["size"]
    committed = read_committed_results(spark, out).persist()
    try:
        agg = committed.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("url").alias("urls"),
            F.sum((F.col("status") == "failed").cast("int")).alias("failed"),
        ).first()
        bad_text = (
            validate_against_golden(committed, spark.read.parquet(meta["golden"]))
            .where(~F.col("text_matches")).count()
        )
        golden_urls = pq.read_table(meta["golden"], columns=["url"]).column(0).to_pylist()
        step = max(1, len(golden_urls) // FIELD_SAMPLE)
        sample = set(golden_urls[::step][:FIELD_SAMPLE])
        got = {
            r["url"]: r.asDict(recursive=True)
            for r in committed.where(F.col("url").isin(*sample)).collect()
        }
    finally:
        committed.unpersist()
    bad_fields = 0
    for row in _input_rows(meta, sample):
        expect = ref.extract_fields(_words(row["html"], row["text"]))
        have = got.get(row["url"])
        if have is None or any(have.get(k) != v for k, v in expect.items()):
            bad_fields += 1
    problems = {
        "failed_status": agg["failed"] or 0,
        "rows_lost": max(0, presented - agg["rows"]),
        "duplicate_urls": agg["rows"] - agg["urls"],
        "text_mismatch": bad_text,
        "field_mismatch": bad_fields,
    }
    return {"problems": problems, "failed_docs": agg["failed"] or 0}


def extract_outputs(out: str) -> dict:
    return {t: table_files(os.path.join(out, t))
            for t in ("results", "spans", "manifest")}


# ---------------------------------------------------------------- curate

def curate_job(spark, meta: dict, out: str, tracer) -> dict:
    """The curate CLI (``jobs.curate_job.main``) at its defaults (lang en,
    min quality 0.3) with exact_substr_k, line dedup and winnowing on."""
    from jobs.curate_job import main as curate_main

    from documentprocessor_spark.operators.dedup import dedup_cache_scope

    argv = ["--input", meta["input"], "--output", out,
            "--exact-substr-k", str(EXACT_SUBSTR_K),
            "--line-dedup-min-count", str(LINE_MIN_COUNT),
            "--winnow-k", str(WINNOW_K), "--winnow-w", str(WINNOW_W)]
    with tracer.span("curate.pipeline", kind="call") as span, dedup_cache_scope():
        span["attrs"].update(_cli_stats(curate_main, argv))
    return {"docs": meta["size"], "stats": span["attrs"], "span": span}


def curate_check(spark, meta: dict, out: str, result: dict) -> dict:
    """Each planted exact-duplicate group keeps at most one survivor;
    survivors are input ids; line dedup keeps one row per curated doc;
    winnowing emits distinct rows for known docs and at least one
    fingerprint for every doc long enough to hold a full window."""
    input_ids = set(pq.read_table(meta["input"], columns=["doc_id"]).column(0).to_pylist())
    curated = pq.read_table(f"{out}/curated", columns=["doc_id", "clean_text"])
    kept = curated.column("doc_id").to_pylist()
    lined = pq.read_table(f"{out}/line_deduped").to_pylist()
    fps = pq.read_table(f"{out}/fingerprints")
    kept_set = set(kept)
    groups: dict[int, set[int]] = {}
    for dup, orig in meta["planted"]["exact"].items():
        groups.setdefault(orig, {orig}).add(int(dup))
    extra_survivors = sum(max(0, len(g & kept_set) - 1) for g in groups.values())
    line_ids = [r["doc_id"] for r in lined]
    fp_rows = list(zip(*(fps.column(c).to_pylist()
                         for c in ("doc_id", "fp_pos", "fp_hash"))))
    fp_docs = {r[0] for r in fp_rows}
    need = WINNOW_K + WINNOW_W - 1
    long_docs = {r["doc_id"] for r in lined
                 if len(r["clean_text"].split(" ")) >= need}
    problems = {
        "exact_extra_survivors": extra_survivors,
        "unknown_survivors": len(kept_set - input_ids) + (len(kept) - len(kept_set)),
        "line_rows_lost": len(kept_set - set(line_ids)),
        "line_rows_extra": len(set(line_ids) - kept_set) + (len(line_ids) - len(set(line_ids))),
        "winnow_duplicate_rows": len(fp_rows) - len(set(fp_rows)),
        "winnow_unknown_docs": len(fp_docs - set(line_ids)),
        "winnow_docs_lost": len(long_docs - fp_docs),
    }
    near = {int(d) for d in meta["planted"]["near"]}
    # line dedup's input is the curated clean_text; every line counts
    lines_total = sum(len(t.split("\n")) for t in curated.column("clean_text").to_pylist())
    return {
        "problems": problems,
        "near_dup_recall": len(near - kept_set) / max(1, len(near)),
        "line_drop_frac": sum(r["n_lines_removed"] for r in lined) / max(1, lines_total),
    }


def curate_outputs(out: str) -> dict:
    return {t: table_files(os.path.join(out, t))
            for t in ("curated", "line_deduped", "fingerprints")}


JOBS = {
    "extract_fresh": (extract_job, extract_check, extract_outputs),
    "curate_corpus": (curate_job, curate_check, curate_outputs),
}


# ------------------------------------------------------ per-layer probes

def _per_doc_us(fn, items, repeats: int = 3) -> float:
    """Median over ``repeats`` passes of fn over items, in us per item."""
    if not items:
        return 0.0
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(items) * 1e6


def kernel_layers(meta: dict, tracer) -> dict:
    """In-process timings of the extraction kernel's layers on a fixed
    sample of the workload's pages: HTML scan, field extraction (the fast
    path the kernel runs), PDF parsing and the fused Arrow kernel."""
    from documentprocessor_spark import reference_semantics as ref
    from documentprocessor_spark.operators.extract import fused_extract_kernel
    from documentprocessor_spark.operators.html_parse import html_tuples
    from documentprocessor_spark.sources.pdf import pdf_tuples

    rows = _input_rows(meta)[:400]
    html = [r["html"] for r in rows if r["html"] is not None and r["html"][:5] != b"%PDF-"]
    pdfs = [r["html"] for r in rows if r["html"] is not None and r["html"][:5] == b"%PDF-"]
    words = [html_tuples(h) for h in html]
    batch = pa.RecordBatch.from_pylist(
        rows, schema=pa.schema([("url", pa.string()), ("html", pa.binary()),
                                ("text", pa.string())]))
    out = {}
    with tracer.span("kernel.in_process", kind="kernel"):
        with tracer.span("html_parse.scan", kind="kernel", docs=len(html)):
            out["html_parse.scan_us_per_doc"] = _per_doc_us(html_tuples, html)
        with tracer.span("reference_semantics.fields", kind="kernel", docs=len(words)):
            out["reference_semantics.fields_us_per_doc"] = _per_doc_us(
                ref.extract_fields_fast, words)
        with tracer.span("pdf.parse", kind="kernel", docs=len(pdfs)):
            out["pdf.parse_us_per_doc"] = _per_doc_us(pdf_tuples, pdfs)
        with tracer.span("extract.kernel", kind="kernel", docs=len(rows)):
            out["extract.kernel_us_per_doc"] = _per_doc_us(
                lambda b: list(fused_extract_kernel(iter([b]))), [batch]
            ) / max(1, len(rows))
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def curation_layers(spark, meta: dict, tracer) -> dict:
    """Each public curation function called on its own over the workload
    input with a noop sink, plus the ratio of useful outcomes to attempts
    of the dedup stages."""
    from pyspark.sql import functions as F

    from documentprocessor_spark.functions.rolling import rolling_window_hashes
    from documentprocessor_spark.operators import dedup
    from documentprocessor_spark.operators.textstats import (
        lang_id_col, quality_score_col)
    from documentprocessor_spark.plans.curate import curate_documents

    docs = spark.read.parquet(meta["input"])
    out = {}

    def timed(name, fn):
        with tracer.span(name, kind="call"):
            t0 = time.perf_counter()
            value = fn()
            out[name + "_s"] = time.perf_counter() - t0
        return value

    with dedup.dedup_cache_scope():
        plan = timed("curate.build", lambda: curate_documents(
            docs, exact_substr_k=EXACT_SUBSTR_K))
        timed("curate.exec", lambda: _noop(plan))
        filtered = docs.where(
            (lang_id_col(F.col("text")) == "en")
            & (quality_score_col(F.col("text")) >= 0.3))
        timed("textstats.filter", lambda: _noop(filtered))
        n_filtered = filtered.count()
        survivors = timed("dedup.exact", lambda: dedup.exact_dedup_survivors(
            filtered, "doc_id", "text").count())
        edges = timed("dedup.minhash_edges", lambda: dedup.minhash_star_edges(
            filtered, "doc_id", "text").count())
        timed("dedup.span_removal", lambda: _noop(dedup.remove_duplicate_spans(
            filtered, "doc_id", "text", k=EXACT_SUBSTR_K)))
        timed("dedup.line_dedup", lambda: _noop(dedup.cross_doc_line_dedup(
            filtered, "doc_id", "text", min_count=LINE_MIN_COUNT)))
        timed("dedup.winnow", lambda: _noop(dedup.winnow_fingerprints(
            filtered, "doc_id", "text", k=WINNOW_K, w=WINNOW_W)))
        timed("rolling.window_hashes", lambda: _noop(rolling_window_hashes(
            filtered, "doc_id", "text", EXACT_SUBSTR_K)))
    out["dedup.exact_drop_frac"] = 1 - survivors / max(1, n_filtered)
    out["dedup.candidate_pairs_per_doc"] = edges / max(1, n_filtered)
    return out
