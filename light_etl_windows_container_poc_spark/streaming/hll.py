"""Streaming HyperLogLog register maintenance.

HLL registers merge by MAX, which is idempotent as well as
commutative/associative — so the streamed state is CELL-IDENTICAL to
the one-shot batch grid for ANY micro-batch split AND any replay, even
without the overwrite-per-batch-tag discipline (which the shared state
protocol of streaming/summary.py keeps anyway), and compaction is
answer-INVARIANT. The register grid is the md5-bridge construction
queries/breadth36 certifies cell-exact against DuckDB: bucket = first 8
md5 hex nibbles mod m, rho = 33 − bit_length of the next 8 nibbles
(bin() has identical no-leading-zeros semantics in Spark and DuckDB;
the w = 0 corner maps to 32 in both — probability 2⁻³², documented
rather than special-cased).

Scale: each micro-batch reduces to ≤ m rows before any write
(map-side max combine), the state directory holds n_batches·m tiny
rows, and the read-time merge is a groupBy-max over them — never
proportional to the stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary, partials

_SCHEMA = "bucket long, reg long"


def hll_register_cols(key: Column, m: int) -> tuple[Column, Column]:
    """(bucket, rho) for one key — the shared Spark/DuckDB bridge."""
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m
    w = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    rho = (F.lit(33) - F.length(F.bin(w))).cast("long")
    return bucket, rho


def hll_grid(df: DataFrame, key_col: str, m: int) -> DataFrame:
    """One-shot (bucket, reg) grid over a batch relation: reg = max rho
    per bucket; buckets nobody hashed into are absent (readers supply
    the zero-register spine)."""
    bucket, rho = hll_register_cols(F.col(key_col), m)
    return (df.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("reg")))


def _merge(spark: SparkSession, state_dir: str,
           dirs: list[str]) -> DataFrame:
    return (partials(spark, state_dir, dirs, _SCHEMA)
            .groupBy("bucket").agg(F.max("reg").alias("reg")))


# handler/start params: (key_col, m); read/compact params: none
HLL = Summary(_SCHEMA, hll_grid, _merge)
