"""Streaming weighted-reservoir maintenance: the Efraimidis-Spirakis
weighted sample of queries/breadth29.weighted_sample kept fresh from a
Structured Streaming source via foreachBatch — a training-data pipeline
maintains a quality- or length-weighted sample of everything ingested
so far without ever re-scanning history.

Priority is deterministic (the dsir micro-rounded-ln contract:
lu_micro = round(1e6·ln((h+1)/2^32)) from the md5 bridge, ranking key
lu_micro/w — one IEEE division of exact integers), so the sample is a
pure function of the corpus and the same top-k subset theorem that
makes KMV's merge exact applies verbatim:

    topk(A ∪ B) == topk(topk(A) ∪ topk(B))

— a row in the union's top-k is preceded by fewer than k union rows,
hence by fewer than k rows of its own batch, so it survives its batch's
truncation. Per-batch ≤ k-row partials therefore merge at read time
into CELL-FOR-CELL the one-shot sample (hashed against the direct
weighted_sample oracle in queries/breadth39), compaction is
answer-INVARIANT, and replay is structurally idempotent on top of the
overwrite-by-batch_tag protocol (streaming/summary.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary, partials

_SCHEMA = "doc_id long, w long, lu_micro long"


def _priority():
    # try_divide: an empty-text doc (w = 0) gets a NULL priority, which
    # sorts last under desc — the non-ANSI result, instead of ANSI's
    # DIVIDE_BY_ZERO
    return F.try_divide(F.col("lu_micro").cast("double"), F.col("w"))


def reservoir_candidates(docs: DataFrame) -> DataFrame:
    """(doc_id, w, lu_micro) for every document — weight = text length,
    priority material from the md5 bridge (weighted_sample's exact
    construction)."""
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    d = docs.select("doc_id", F.length("text").cast("long").alias("w"),
                    h.alias("h"))
    lu = F.round(1_000_000 * F.log((F.col("h") + 1) / F.lit(4294967296.0)))
    return d.select("doc_id", "w", lu.cast("long").alias("lu_micro"))


def reservoir_topk(cands: DataFrame, k: int) -> DataFrame:
    """Top-k by priority (desc, doc_id tiebreak) — orderBy+limit
    compiles to TakeOrderedAndProject: per-partition top-k + driver
    merge, never a global sort."""
    return cands.orderBy(_priority().desc(), "doc_id").limit(k)


def _build(batch: DataFrame, k: int) -> DataFrame:
    return reservoir_topk(reservoir_candidates(batch), k)


def _merge(spark: SparkSession, state_dir: str, dirs: list[str],
           k: int) -> DataFrame:
    return reservoir_topk(
        partials(spark, state_dir, dirs, _SCHEMA).distinct(), k)


# handler/start/read/compact params: (k)
RESERVOIR = Summary(_SCHEMA, _build, _merge)
