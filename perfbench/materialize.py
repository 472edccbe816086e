"""The one way the benchmark forces a DataFrame.

``count()`` is never used: Catalyst prunes every column the count does
not need, so the projections under measurement (distances, MinHash
signatures) would not be computed at all.  Small results are collected
(the answer is checked), large ones are written to the ``noop`` sink
(every projected column is evaluated, nothing is kept), and results
reused downstream are checkpointed (evaluated once, kept in the block
manager, lineage cut).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

COLLECT = "collect"
NOOP = "noop"
CHECKPOINT = "checkpoint"


def materialize(df: DataFrame, how: str = COLLECT):
    """Evaluate every row and column of ``df``.  Returns the rows for
    COLLECT, the checkpointed DataFrame for CHECKPOINT, None for NOOP."""
    if how == COLLECT:
        return df.collect()
    if how == NOOP:
        df.write.format("noop").mode("overwrite").save()
        return None
    if how == CHECKPOINT:
        return df.localCheckpoint(eager=True)
    raise ValueError(f"unknown materialization {how!r}")


def force_plan(df: DataFrame) -> DataFrame:
    """Plan ``df`` through to its executed physical plan; a following
    collect reuses that plan."""
    df._jdf.queryExecution().executedPlan()
    return df
