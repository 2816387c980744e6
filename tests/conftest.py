"""Shared Spark session for the test suite.

local mode with a modest core count + small shuffle partitioning so the
suite stays fast; the engine itself is configured identically to production
(AQE on, Arrow on) via ``build_session``.
"""

from __future__ import annotations

import pytest

from great_expectations_spark.skew import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="ges-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.ui.enabled": "false",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture
def job_ids(spark):
    """``job_ids(group, fn)`` runs ``fn`` under the Spark job group
    ``group`` and returns ``(launched, grouped)``: the ids of every job
    ``fn`` launched (the scheduler's job-id delta, which needs no job group)
    and the ids Spark filed under ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def run(group: str, fn) -> tuple[set[int], set[int]]:
        lo = int(jsc.dagScheduler().nextJobId())
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        hi = int(jsc.dagScheduler().nextJobId())
        jsc.listenerBus().waitUntilEmpty()
        return (set(range(lo, hi)),
                set(sc.statusTracker().getJobIdsForGroup(group)))

    return run
