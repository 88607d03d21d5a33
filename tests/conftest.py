import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ulh_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # A killed prior run (OOM, timeout) can leave managed-table
    # directories in spark-warehouse with no catalog entries; the
    # fresh in-memory metastore then fails table creation with
    # LOCATION_ALREADY_EXISTS. Start from a clean warehouse.
    import shutil

    for d in ("spark-warehouse", "metastore_db"):
        shutil.rmtree(os.path.join(ROOT, d), ignore_errors=True)
    return get_spark("ulh-etl-tests", cpus="8")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
