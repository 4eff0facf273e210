"""Streaming fixed-width histogram maintenance — the quantile payload
of the shared state protocol (streaming/summary.py).

Bins are unbounded integer keys (cents div width) — no domain has to be
known up front, the bin relation just grows with the observed range —
and merge is PLAIN ADDITION, so like Count-Min the streamed state is
CELL-IDENTICAL to the one-shot batch histogram for any micro-batch
boundaries, and compaction is answer-INVARIANT. Quantile answers read
off the merged histogram with a deterministic guarantee: the k-th
smallest value provably lies inside the first bin whose cumulative
count reaches k, so every estimate is exact to one bin width.
queries/breadth34's certification hashes the streamed estimates, the
exact order statistics, and that containment flag in one relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary, partials

_SCHEMA = "bin long, cnt long"


def _build(batch: DataFrame, cents_col: str, bin_width: int) -> DataFrame:
    # exact BIGINT bin assignment (div, not double division + cast).
    # Sign semantics verified for the FULL integer domain, not just
    # the non-negative testdata: Spark's `div` truncates toward zero
    # and DuckDB's INTEGER `//` does too (-5 // 100 = 0, -105 // 100
    # = -1 on duckdb 1.0.0 — `//` floors only for DOUBLE operands),
    # so the certification oracle's bins match for negative cents as
    # well; locked by test_histogram_bins_agree_on_negative_cents.
    return (batch.select(F.expr(f"{cents_col} div {bin_width}").alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))


def _merge(spark: SparkSession, state_dir: str,
           dirs: list[str]) -> DataFrame:
    return (partials(spark, state_dir, dirs, _SCHEMA)
            .groupBy("bin").agg(F.sum("cnt").alias("cnt")))


# handler/start params: (cents_col, bin_width); read/compact params: none
HISTOGRAM = Summary(_SCHEMA, _build, _merge)
