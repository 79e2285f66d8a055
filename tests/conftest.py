"""Shared Spark fixture for the whole suite — one local session, small
shuffle fan-out for fast tests (semantics identical at any partition count).
"""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from metadata_ingestion_framework_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark(shuffle_partitions=4)


@pytest.fixture(scope="session")
def broadcast_off(spark):
    """``with broadcast_off():`` runs its block with the session's
    ``autoBroadcastJoinThreshold`` at -1, which also turns off the small
    batch SCD1 plan (``operators/merge.py::_delete_insert``)."""
    from contextlib import contextmanager

    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def off():
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return off


@pytest.fixture()
def emp(spark):
    """The reference's emp fixture (src/test/resources/emp.csv — 5 rows,
    DDL 'empid int, ename string, sal double, deptno int, comm int')."""
    return spark.createDataFrame(
        [
            (7839, "KING", 5000.0, 10, None),
            (7698, "BLAKE", 2850.0, 30, None),
            (7782, "CLARK", 2450.0, 10, None),
            (7566, "JONES", 2975.0, 20, None),
            (5467, "WILSON", 1000.0, 30, 400),
        ],
        "empid int, ename string, sal double, deptno int, comm int",
    )


@pytest.fixture()
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)``: the Spark jobs ``fn`` runs, read from
    its job group. Job events reach the status tracker asynchronously but
    in order, so the count is read after a fence job in a second group has
    become visible."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(group, fn) -> int:
        group = f"{group}-{uuid.uuid4().hex}"  # groups outlive a test
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(f"{group}-fence", "fence")
            spark.range(1).collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup(f"{group}-fence"):
            assert time.time() < deadline, "fence job never reached the tracker"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))

    return count
