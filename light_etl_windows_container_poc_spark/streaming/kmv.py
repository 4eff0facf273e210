"""Streaming KMV (k-minimum-values) maintenance: the distinct-count
sketch of queries/breadth35.kmv_set_cardinality kept fresh from a
Structured Streaming source via foreachBatch — continuous cardinality
monitoring of an ingest key without ever re-scanning history.

The exact-merge theorem that makes per-batch truncation safe:

    trunc_k(A ∪ B) == trunc_k(trunc_k(A) ∪ trunc_k(B))

— if hash h is among the union's k smallest then fewer than k union
hashes precede it; each input's hashes are a subset of the union's, so
fewer than k of ITS hashes precede h and h survives that input's own
truncation. Hence the read-time merge of per-batch k-smallest partials
is CELL-FOR-CELL the KMV of the full stream (hashed against the batch
oracle in queries/breadth38), compaction into one <= k-row generation
is answer-INVARIANT, and — state being a SET of hashes — re-applying a
batch is structurally idempotent even before the overwrite-by-batch_tag
protocol (streaming/summary.py) makes replay safe mechanically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .summary import Summary, partials

_SCHEMA = "h string"


def kmv_of(df: DataFrame, col: str, k: int) -> DataFrame:
    """The k smallest distinct md5 hashes of ``col`` — one column
    ``h``. orderBy+limit compiles to TakeOrderedAndProject: distributed
    per-partition top-k + driver merge, never a global sort."""
    return (df.select(F.md5(F.col(col).cast("string")).alias("h"))
            .distinct().orderBy("h").limit(k))


def _merge(spark: SparkSession, state_dir: str, dirs: list[str],
           k: int) -> DataFrame:
    return (partials(spark, state_dir, dirs, _SCHEMA)
            .distinct().orderBy("h").limit(k))


# handler/start params: (col, k); read/compact params: (k)
KMV = Summary(_SCHEMA, kmv_of, _merge)
