from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from user_behavior_spark_pipeline_spark.session import get_spark  # noqa: E402

# sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
# to run the same assertions at the driver's correctness scale.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ubsp-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _release_shared_caches():
    """Drain the shared-cache registry AFTER every test (VERDICT r11
    #6): multi-query sessions that never release accumulate pinned
    frames until materialize's 16-slot cap evicts LOUDLY mid-query —
    the full suite was paying silent lineage recompute (and a warning
    storm) in the cache-heavy stats/joins tests. A no-op for the
    majority of tests that register nothing."""
    yield
    from user_behavior_spark_pipeline_spark.materialize import (
        release_shared,
    )

    release_shared()
