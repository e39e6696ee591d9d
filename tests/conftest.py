from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from data_lake_with_spark_and_aws_s3_spark.session import get_spark  # noqa: E402
from tests.parity import duck_views  # noqa: E402

# The driver's correctness gate runs at sf0.01 — test there by default.
# Override with PARITY_SF_DIR for quick local iterations (sf0.001).
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same views the driver pre-registers."""
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
