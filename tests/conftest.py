from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"

# Two test tiers (r13 VERDICT #1: the full suite outgrew the CI gate's
# time budget — ~24-35 min wall — and a gate that times out reads as
# red regardless of code quality):
#
#   * default (`pytest tests/`): every unit / per-operator / oracle
#     parity test — the correctness gate.  Target: well under 15 min.
#   * full (`pytest tests/ --full`, or SPARK_GRAFT_FULL_TESTS=1): adds
#     the @pytest.mark.slow tier — registry-WIDE invariance sweeps
#     (hostile-corpus parity: pre-epoch, unicode), property-based model
#     replays, ANN artifact cache-vs-fresh-training proofs, streaming
#     restart/convergence integration proofs (multi-trigger micro-batch
#     runs, 10-90 s each).  These re-prove invariants that only change
#     when their machinery changes; run the full tier before committing
#     changes to those paths.  r14 measured split: default ~908 tests
#     (the 50-min full wall was ~16 min of streaming integration +
#     ~25 min of hostile-corpus sweeps on a loaded box).


def pytest_addoption(parser):
    parser.addoption(
        "--full",
        action="store_true",
        default=False,
        help="also run the @slow opt-in tier (registry sweeps, property "
        "replays, artifact-training proofs)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--full") or os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier: opt in with --full or SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_bigquery_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted under a job group of
    its own once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
