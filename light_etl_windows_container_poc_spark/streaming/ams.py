"""Streaming AMS F2 maintenance: the signed counter vector
(`operators/sketches.ams_build`) kept fresh from a Structured Streaming
source via foreachBatch — the self-join-size / skew monitor a join
planner consults before committing a 100 TB shuffle, maintained
incrementally instead of rescanned.

AMS shares Count-Min's strongest streaming property: X_j is LINEAR in
the rows, so partials merge by plain addition, the streamed state is
CELL-FOR-CELL IDENTICAL to the one-shot batch sketch for any
micro-batch boundaries (queries/breadth38's certification hashes the
streamed vector against the batch oracle), and compaction is
answer-INVARIANT. State protocol: streaming/summary.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary, partials

_SCHEMA = "j int, x long"


def _build(batch: DataFrame, col: str, counters: int) -> DataFrame:
    from ..operators.sketches import ams_build

    return (ams_build(batch.select(col), col, counters)
            .select(F.col("j").cast("int"), "x"))


def _merge(spark: SparkSession, state_dir: str,
           dirs: list[str]) -> DataFrame:
    return (partials(spark, state_dir, dirs, _SCHEMA)
            .groupBy("j").agg(F.sum("x").cast("long").alias("x")))


# handler/start params: (col, counters); read/compact params: none
AMS = Summary(_SCHEMA, _build, _merge)
