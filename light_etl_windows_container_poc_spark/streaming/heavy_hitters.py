"""Streaming heavy hitters: the Misra-Gries summary
(`operators/sketches.py`) maintained from a Structured Streaming
source via foreachBatch — the frequency-monitoring loop a 100 TB
ingest runs continuously ("which domains/tokens dominate today's
arrivals") without ever keeping |distinct| state.

Each micro-batch lands its <= partitions*k-row partial summary; the
merge is the mergeable-summaries rule, folding partials into one
<= k-row summary. The MG bounds (est <= true, deficit <= n/(k+1),
heavy => present) hold for ANY merge tree over the partials, which is
what makes the read-time merge and the compacted form interchangeable
(compaction cannot change any downstream answer's guarantees). State
protocol: streaming/summary.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .summary import Summary, partials

_SCHEMA = "token string, est long"


def _build(batch: DataFrame, col: str, k: int) -> DataFrame:
    from ..operators.sketches import mg_partial_summaries

    return mg_partial_summaries(batch.select(col), col, k)


def _merge(spark: SparkSession, state_dir: str, dirs: list[str],
           k: int) -> DataFrame:
    from ..operators.sketches import mg_merge

    return mg_merge(partials(spark, state_dir, dirs, _SCHEMA)
                    .select("token", "est"), k)


# handler/start params: (col, k); read/compact params: (k)
HEAVY_HITTERS = Summary(_SCHEMA, _build, _merge)
