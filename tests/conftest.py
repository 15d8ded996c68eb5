from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nhs_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # local[8], shuffle_partitions=4 (r12): more task slots shorten the
    # wall-clock of scan/parallelize-heavy tests and the registry-wide
    # audit sweep without touching plan shapes — every plan assertion
    # keys on partitioning EXPRESSIONS, and the shuffle partition count
    # stays pinned at 4.
    s = get_spark("tests", master="local[8]", shuffle_partitions=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def local_frame(spark, rows, ddl: str, local: bool):
    """``rows`` as an Arrow-backed local relation (``local``, so
    ``isLocal()`` is true) or as a ``Scan ExistingRDD`` frame, which is
    not driver-resident."""
    if not local:
        return spark.createDataFrame(rows, ddl)
    import pandas as pd

    names = [f.split()[0] for f in ddl.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names, dtype=object), ddl)
