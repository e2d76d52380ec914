from __future__ import annotations

import os
import shutil

import pytest

from etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


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
