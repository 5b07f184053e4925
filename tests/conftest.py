import sys
from pathlib import Path

import pytest

# the checkout these tests sit in: its engine is the one under test
REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def repo_root():
    """Root of the checkout under test, for scripts run in a
    subprocess."""
    return REPO


@pytest.fixture(scope="session")
def spark():
    from zef_spark import get_spark
    s = get_spark("zef_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
