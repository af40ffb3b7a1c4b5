"""Spark job counts for tests: a cost counter host load cannot move."""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import SparkSession


def jobs_launched(spark: SparkSession, fn: Callable[[], object]) -> int:
    """Number of Spark jobs ``fn()`` launches from the calling thread.

    The jobs are tagged with a fresh job group, and the listener bus is
    drained before the status store is asked, so none of them is still on
    its way there when they are counted."""
    sc = spark.sparkContext
    group = f"jobs_launched_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
