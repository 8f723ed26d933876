import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from pdfplumber_rs_spark.session import local_session

    yield local_session("pdfplumber_rs_spark-tests", cpus=4, mem="4g",
                        **{"spark.sql.shuffle.partitions": "8"})


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
