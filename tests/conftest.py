from __future__ import annotations

import itertools
import os
import sys
import uuid

import pytest

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Executor python workers import the package by reference — they need the
# repo root on PYTHONPATH (set before the JVM starts).
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from etl_procedure_codes_crawler_spark.session import get_spark  # noqa: E402

TESTDATA_ROOT = "/root/testdata"
#: override with SPARK_GRAFT_TEST_SF=sf0.01 to run the whole suite
#: (incl. the oracle-parity replica) at the driver's gate scale
SF_SMOKE = os.path.join(
    TESTDATA_ROOT, os.environ.get("SPARK_GRAFT_TEST_SF", "sf0.001")
)


def pytest_collection_modifyitems(config, items):
    """Apply the `slow` marker from tests/slow_tier.txt (see
    pytest.ini: the default run is the fast tier; `-m slow` runs the
    heavy tier — registry sweeps mark themselves in-file)."""
    ledger = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "slow_tier.txt"
    )
    try:
        with open(ledger) as fh:
            slow_ids = {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return
    for item in items:
        if item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(
        app_name="etl-procedure-codes-crawler-spark-tests",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture()
def fixtures_dir() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture()
def jobs_started_by(spark):
    """``jobs_started_by(fn, group)`` runs ``fn`` under job group
    ``group`` and returns the ids of every Spark job started meanwhile,
    on any thread. Job ids are sequential, so two marker jobs, each in a
    group of its own, bracket them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker() -> list[int]:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "marker")
        spark.range(1).collect()
        return tracker.getJobIdsForGroup(group)

    def run(fn, group: str) -> range:
        first = max(marker())
        sc.setJobGroup(group, group)
        fn()
        return range(first + 1, min(marker()))

    yield run
    for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
        sc.setLocalProperty(f"spark.{key}", None)


@pytest.fixture()
def module_pickled_by_value(request):
    """Pickle the requesting test module by value for the test's
    duration, so executors rebuild a fetcher class defined there
    without importing the module."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(request.module)
    try:
        yield
    finally:
        cloudpickle.unregister_pickle_by_value(request.module)


@pytest.fixture()
def exact_group_overlap():
    """``exact_group_overlap(docs)`` maps each pair of sources sharing
    a 3-shingle, ``(group_a, group_b)`` with ``group_a < group_b``, to
    its exact ``n_a``, ``n_b``, ``n_shared`` and ``jaccard``: the
    baseline the overlap sketches are measured against, computed in
    Python over the sketches' own shingle relation."""
    from etl_procedure_codes_crawler_spark.llm.overlap import _group_shingles

    def exact(docs):
        sets: dict[str, set[str]] = {}
        for r in _group_shingles(docs, "source", "text", 3).collect():
            sets.setdefault(r.grp, set()).add(r.shingle)
        pairs = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            shared = len(sets[a] & sets[b])
            if shared:
                pairs[(a, b)] = {
                    "n_a": len(sets[a]),
                    "n_b": len(sets[b]),
                    "n_shared": shared,
                    "jaccard": shared / len(sets[a] | sets[b]),
                }
        return pairs

    return exact
