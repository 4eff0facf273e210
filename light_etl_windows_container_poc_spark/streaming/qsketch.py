"""Streaming quantile-sketch maintenance over the shared state protocol
(streaming/summary.py).

Each micro-batch lands its OWN level-sampling sketch
(operators/qsketch.py: ≤ cap kept cells + the l_star/n_total scalars)
under its batch_tag; the read-time merge is the exact merge theorem —
levels are row-intrinsic, so re-deciding L* over the union of kept
cells (floored at the per-batch maximum L*) reproduces the one-shot
batch sketch CELL-FOR-CELL for any micro-batch split (driver-hashed by
queries/breadth37.py:stream_qsketch_cert, property-tested for splits).
The merged sketch is EXACTLY sufficient compacted state, not an
approximation of it: future unions can only RAISE L* (cnt_ge grows
monotonically), so the kept cells at the current L* plus the
(l_star, n_total) scalars reproduce every future merge decision —
compaction is answer-invariant by the same theorem qsketch_merge
proves.

Scale: per-batch state is ≤ cap rows + one 53-row histogram's worth of
decision work; the state directory holds n_batches·cap tiny rows; the
read-time merge aggregates those rows only — never the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary

_SCHEMA = "key long, val long, lvl long, l_star long, n_total long"


def _build(batch: DataFrame, key_col: str, val_col: str,
           cap: int) -> DataFrame:
    from ..operators.qsketch import qsketch_build

    return qsketch_build(batch, key_col, val_col, cap)


def _merged_over(spark: SparkSession, state_dir: str, dirs: list[str],
                 cap: int) -> DataFrame:
    """The exact merge over a FIXED snapshot of partial dirs (batch_tag
    is the segment id) — one partitioned read, then the shared
    merge_sketch_parts decision. Key/val types are taken from the
    parquet footers the handler wrote, so any key/val column types the
    builder accepts round-trip (only lvl/l_star/n_total are fixed
    BIGINT by construction)."""
    from ..operators.qsketch import merge_sketch_parts

    u = (spark.read.option("basePath", state_dir)
         .parquet(*[os.path.join(state_dir, d) for d in dirs]))
    scal = (u.groupBy("batch_tag")
            .agg(F.max("n_total").alias("nt"), F.max("l_star").alias("ls"))
            .agg(F.sum("nt").cast("long").alias("n_total"),
                 F.max("ls").cast("long").alias("ls_floor")))
    return merge_sketch_parts(u.select("key", "val", "lvl"), scal, cap)


# handler/start params: (key_col, val_col, cap); read/compact: (cap).
# Returns qsketch_build's shape: (key, val, lvl, l_star, n_total).
QSKETCH = Summary(_SCHEMA, _build, _merged_over)
