"""Streaming Count-Min maintenance: the additive counter grid
(`operators/sketches.cm_build`) kept fresh from a Structured Streaming
source via foreachBatch — the point-query-frequency complement to
streaming/heavy_hitters.py, with one stronger property: CM's merge is
PLAIN ADDITION, so the streamed state is not merely guarantee-
equivalent to the batch sketch, it is CELL-FOR-CELL IDENTICAL to it for
any micro-batch boundaries, and compaction is answer-INVARIANT (addition
is associative). queries/breadth32's certification exploits that: the
streamed grid answers the SAME oracle SQL as the batch query. State
protocol: streaming/summary.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary, partials

_SCHEMA = "seed int, bucket long, cnt long"


def _build(batch: DataFrame, col: str, depth: int, width: int) -> DataFrame:
    from ..operators.sketches import cm_build

    return (cm_build(batch.select(col), col, depth, width)
            .select(F.col("seed").cast("int"), "bucket", "cnt"))


def _merge(spark: SparkSession, state_dir: str,
           dirs: list[str]) -> DataFrame:
    return (partials(spark, state_dir, dirs, _SCHEMA)
            .groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt")))


# handler/start params: (col, depth, width); read/compact params: none
COUNTMIN = Summary(_SCHEMA, _build, _merge)
