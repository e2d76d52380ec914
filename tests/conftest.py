from __future__ import annotations

import os
import shutil

import pytest

from etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def spark_partials(pages_df):
    """The rollup's partial aggregate in Spark SQL, keyed (src_bucket,
    domain, day_id), over a pages read ``with_bucket=True``: the
    reference the engine's partials (``rollup.bucket_partials``, in the
    merge kernel and in every rebuild) are checked against."""
    from pyspark.sql import functions as F

    from etl_spark.functions.keys import smart_date_id

    return (
        pages_df.select(
            F.col("_bucket").alias("src_bucket"),
            F.parse_url(F.col("url"), F.lit("HOST")).alias("domain"),
            smart_date_id(F.col("warc_ts")).alias("day_id"),
            F.length(F.col("text")).alias("_chars"),
            F.col("warc_ts"),
        )
        .groupBy("src_bucket", "domain", "day_id")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("_chars").alias("text_chars"),
            F.max("warc_ts").alias("max_warc_ts"),
        )
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("etl_spark_tests", parallelism=4, shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmp_wh(tmp_path):
    root = str(tmp_path / "wh")
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(params=["spj"])
def merge_path(request):
    """Names the merge path a table-state test drives, as its ``[spj]``
    id. The SPJ grouped-map merge (operators/merge_spj.py) is the only
    merge the engine has, so there is one value."""
    return request.param
