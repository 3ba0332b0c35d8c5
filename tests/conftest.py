import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Smoke tier (round-10 VERDICT ask #6): the full suite takes ~65-75
# minutes, which exceeds the driver's pytest budget every round, so a
# bare `pytest tests/` runs the SMOKE tier — everything except the
# tests listed in tests/slow_tests.txt (every test whose measured call
# time was >= 6 s in the round-10 full run; ~10 minutes remain, with
# every operator family still represented). The full suite is
#     python -m pytest tests/ -m "slow or not slow"
# and is run for end-of-round certification (see OPTIMIZATION_r10.md).
_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _slow_ids() -> frozenset[str]:
    try:
        with open(_SLOW_LIST) as f:
            return frozenset(l.strip() for l in f if l.strip())
    except OSError:
        return frozenset()


def _stale_slow_ids(slow, items) -> list[str]:
    """Entries naming a test their (collected) module no longer
    defines — a renamed or deleted test would otherwise silently leave
    the slow tier. Entries for files outside this run stay silent."""
    modules = {
        item.nodeid.split("::")[0]: item.module
        for item in items
        if getattr(item, "module", None) is not None
    }
    stale = []
    for entry in sorted(slow):
        f, _, name = entry.partition("::")
        if f not in modules:
            continue
        obj = modules[f]
        for part in name.split("[")[0].split("::"):  # Class::test_x
            obj = getattr(obj, part, None)
        if obj is None:
            stale.append(entry)
    return stale


def pytest_collection_modifyitems(config, items):
    slow = _slow_ids()
    stale = _stale_slow_ids(slow, items)
    if stale:
        raise pytest.UsageError(
            f"{_SLOW_LIST} names tests that do not exist: {', '.join(stale)}"
        )
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)

from ndvi_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_oracle():
    return SF_DIR_ORACLE
