from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from concurrent_etl_go_spark.session import get_spark

    # one task slot per usable core (at most 8): on a smaller host, more
    # slots than cores only add task-scheduling overhead per tiny stage
    default_cpus = min(8, len(os.sched_getaffinity(0)))
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", str(default_cpus))
    spark = get_spark(
        app_name="engine-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture(autouse=True)
def _release_registry_caches():
    """Registered queries return lazy DataFrames whose internal persists
    are tracked for caller release (see registry.scoped_persist); tests
    are such callers, so drop the scoped caches after every test instead
    of letting ~200 parametrized queries pin blocks in the shared
    session."""
    yield
    from concurrent_etl_go_spark.operators.registry import release_caches

    release_caches()
