"""Skewed-corpus end-to-end proof (SURVEY §7.4's hazard, measured on the
production path):

    python tools/skew_probe.py

1. run_job neutrality: the SAME extraction job over a uniform-domain corpus
   vs a zipf corpus whose top domain holds ~30% of all pages, at 2
   parallelism levels. The job buckets on pmod(hash(url), buckets), its
   url repartition's partition id — url-hash, not domain — so wall times
   should be ~equal: domain skew cannot create a hot bucket BY CONSTRUCTION.

2. curate skew safety: curate_documents (star-edge + groupBy-survivors
   form) vs the pre-round-4 naive plan (window exact dedup + band-join
   pair CLIQUE) on a corpus where ~15% of docs are near-identical template
   variants (one hot LSH bucket) and ~15% are exact duplicates of one page
   (one hot content hash), at 2 parallelism levels. Same results, very
   different wall clocks — the clique emits O(m^2) bucket pairs and the
   window has no map-side combine.

Prints one JSON line; numbers land in BENCH/BASELINE.md. Unpinned sessions
(contrasts here are x-fold, not %-level; the certified scaling protocol in
bench.py stays taskset-pinned).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = 120_000
N_DOCS = 40_000
HOT_FRACTION = 0.15
LEVELS = (4, 16)


def make_session(cores: int):
    from documentprocessor_spark.session import get_spark

    spark = get_spark(app_name=f"skew-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores * 2)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_pages(spark, path: str, zipf: bool) -> None:
    """The extraction corpus; zipf=True rewrites urls so one domain holds
    ~30% of pages (content unchanged — only the partition-key distribution
    differs)."""
    from pyspark.sql import functions as F

    from documentprocessor_spark.sources.synthetic import distributed_corpus

    pages = distributed_corpus(spark, N_PAGES, n_partitions=64)
    if zipf:
        dom = F.when(
            F.xxhash64("url") % 10 < 3, F.lit("megaportal.example.com")
        ).otherwise(F.concat(F.lit("site"), (F.xxhash64("url") % 5000).cast("string"),
                             F.lit(".example.com")))
        pages = pages.withColumn(
            "url", F.concat(F.lit("https://"), dom, F.regexp_replace(
                "url", r"^[a-z]+://[^/]+", ""))
        )
    pages.write.mode("overwrite").parquet(path)


def build_docs(spark, path: str) -> None:
    """Curation corpus: 70% unique texts, 15% near-identical template
    variants (hot MinHash bucket), 15% exact copies of one page (hot
    content hash). English-looking so the lang filter keeps them."""
    from pyspark.sql import functions as F

    n_hot = int(N_DOCS * HOT_FRACTION)
    base = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_hot,
            # template + one varying token at the END: shares almost all
            # shingles -> same minhash buckets, survives exact dedup
            F.concat(
                F.lit("the shared boilerplate template page with navigation "
                      "and the footer and the sidebar and the copyright "
                      "notice and the contact form and the newsletter signup "
                      "and the cookie banner variant "),
                F.col("id").cast("string"),
            ),
        ).when(
            F.col("id") < 2 * n_hot,
            F.lit("the exactly duplicated landing page body that every "
                  "mirror of the site serves with identical bytes and the "
                  "same words in the same order for all of the copies"),
        ).otherwise(
            F.concat(
                F.lit("the unique document number "),
                F.col("id").cast("string"),
                F.lit(" with its own words and the content that does not "
                      "repeat and some more of the filler text here"),
            )
        ).alias("text"),
    )
    base.write.mode("overwrite").parquet(path)


def naive_curate(docs, minhash_k: int = 8, band_rows: int = 2):
    """The pre-round-4 plan, verbatim shape: window exact dedup + pair
    clique (kept here as the measured baseline)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from documentprocessor_spark.operators import dedup
    from documentprocessor_spark.operators.textstats import (
        lang_id_col, quality_score_col)

    base = docs.select(
        "doc_id", "text",
        lang_id_col(F.col("text")).alias("lang_id"),
        quality_score_col(F.col("text")).alias("quality_score"),
    )
    filtered = base.where(
        (F.col("lang_id") == "en") & (F.col("quality_score") >= 0.3)
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    exact = filtered.withColumn("canonical_id", F.min("doc_id").over(w)).where(
        F.col("doc_id") == F.col("canonical_id")
    )
    pairs = dedup.minhash_candidate_pairs(
        exact, "doc_id", "text", k=minhash_k, band_rows=band_rows
    )
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        exact.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang_id", "quality_score")
    )


def timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def main() -> None:
    from documentprocessor_spark.plans.curate import curate_documents
    from documentprocessor_spark.plans.pipeline import run_job

    tmp = tempfile.mkdtemp(prefix="dp_skew_")
    out: dict = {"n_pages": N_PAGES, "n_docs": N_DOCS, "levels": {}}

    spark = make_session(32)
    build_pages(spark, f"{tmp}/pages_uniform", zipf=False)
    build_pages(spark, f"{tmp}/pages_zipf", zipf=True)
    build_docs(spark, f"{tmp}/docs")
    spark.stop()

    for cores in LEVELS:
        spark = make_session(cores)
        lvl: dict = {}
        for shape in ("uniform", "zipf"):
            pages = spark.read.parquet(f"{tmp}/pages_{shape}")
            # warm python workers once per session
            if shape == "uniform":
                run_job(spark, pages.limit(2000), f"{tmp}/warm_{cores}")
            lvl[f"run_job_{shape}_sec"] = timed(lambda: run_job(
                spark, pages, f"{tmp}/out_{shape}_{cores}", resume=False,
            ))
        docs = spark.read.parquet(f"{tmp}/docs")
        n_star = None

        def run_star():
            nonlocal n_star
            n_star = curate_documents(docs).count()

        lvl["curate_star_sec"] = timed(run_star)
        n_naive = None

        def run_naive():
            nonlocal n_naive
            n_naive = naive_curate(docs).count()

        lvl["curate_naive_clique_sec"] = timed(run_naive)
        lvl["survivors_star"] = n_star
        lvl["survivors_naive"] = n_naive
        assert n_star == n_naive, (n_star, n_naive)
        out["levels"][f"local[{cores}]"] = lvl
        spark.stop()

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
