import glob
import os

import pytest
from pyspark.sql import functions as F

from documentprocessor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="documentprocessor-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def one_file_per_bucket_per_run(spark):
    """Asserts a run_job results table's layout: write task i of a run
    holds exactly url_bucket=i, so each bucket dir has one parquet file per
    run that filed a url there, not one per (task, bucket) cell."""

    def check(results_path):
        res = spark.read.parquet(results_path)
        runs = {
            r["url_bucket"]: r["n"]
            for r in res.groupBy("url_bucket")
            .agg(F.countDistinct("run_id").alias("n")).collect()
        }
        files = {
            int(os.path.basename(d).split("=")[1]): len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{results_path}/url_bucket=*")
        }
        assert files == runs

    return check
