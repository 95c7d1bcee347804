"""Plan choice by size, shared by the serving and the append paths.

A relation is *small* when Catalyst's byte estimate of it is at most the
session's ``spark.sql.autoBroadcastJoinThreshold`` — the bound below
which Spark's own planner ships a relation to one place instead of
shuffling it. Small relations are worth handling on the driver: one
Arrow transfer replaces a chain of jobs and Python-worker stages.
Setting the threshold to ``-1`` makes nothing small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def size_estimate(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` in bytes, read from plan
    statistics without starting a job. A plan without statistics (an
    uncached derived relation) reports ``spark.sql.defaultSizeInBytes``,
    Long.MaxValue by default."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def broadcast_threshold(spark) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (-1 disables broadcasting, and with it every driver plan)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def is_small(df: DataFrame) -> tuple[bool, int, int]:
    """(estimate <= threshold, estimate, threshold) for ``df``."""
    estimate = size_estimate(df)
    threshold = broadcast_threshold(df.sparkSession)
    return 0 <= estimate <= threshold, estimate, threshold
