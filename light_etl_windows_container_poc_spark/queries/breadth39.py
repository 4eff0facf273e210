"""Round-10 breadth, third wave: the weighted-sampling tier gets the
same merge/stream treatment the sketch families have — the
Efraimidis-Spirakis sample's top-k merge theorem hashed under the
driver (`weighted_sample_merge`), the streaming reservoir maintainer
certified as the EIGHTH generation-manifest payload
(`stream_reservoir_cert`) — plus per-node LOCAL clustering coefficient
over the co-occurrence graph (`graph_clustering_coeff`), the
neighborhood-density companion to graph_triangles / graph_adamic_adar.

The sampling theorem (streaming/reservoir.py has the proof): priority
is a pure function of the row (md5-bridge uniform, dsir micro-rounded
ln, one exact-integer IEEE division), so topk(A ∪ B) ==
topk(topk(A) ∪ topk(B)) — per-segment or per-batch ≤ k-row partials
merge into cell-for-cell the one-shot sample. That is what makes a
100 TB weighted sample a tree-reduce of bounded partials instead of a
global sort, and a streamed sample exactly equal to a batch rerun.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import cert_work_dir, query
from .breadth3 import COOCCUR_PAIRS_CTES, word_cooccur_pairs

_RSV_K = 100

# the direct construction (weighted_sample's oracle, restated): both
# certification queries below must reproduce EXACTLY this relation.
_WSAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM documents
),
p AS (
  SELECT doc_id, w,
         CAST(round(1000000 * ln((h + 1) / 4294967296.0)) AS BIGINT)
           AS lu_micro
  FROM d
)
SELECT doc_id, w, lu_micro
FROM p
ORDER BY CAST(lu_micro AS DOUBLE) / w DESC, doc_id
LIMIT {_RSV_K}
"""


# --------------------------------------------------------------------------
# The top-k merge theorem hashed: Spark builds the sample on four
# DISJOINT segments (doc_id % 4), keeps each segment's own top-k, and
# re-selects the top-k of the 4k merged candidates; the oracle is the
# direct one-shot sample. The hash passes iff merge == direct — the
# statement that a distributed weighted sample needs no global sort.
# --------------------------------------------------------------------------
@query("weighted_sample_merge", oracle=_WSAMPLE_SQL)
def weighted_sample_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.reservoir import reservoir_candidates, reservoir_topk

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    cands = reservoir_candidates(docs)
    segs = [reservoir_topk(cands.filter(F.col("doc_id") % 4 == i), _RSV_K)
            for i in range(4)]
    u = segs[0]
    for s in segs[1:]:
        u = u.unionByName(s)
    return reservoir_topk(u, _RSV_K)


# --------------------------------------------------------------------------
# Streaming reservoir certification: documents stream in as 4 source
# files → per-batch ≤ k-row truncated samples under batch_tag →
# read-time merged sample → the SAME direct oracle. The eighth
# generation-manifest payload (pytest covers replay idempotence and
# compaction answer-invariance).
# --------------------------------------------------------------------------
@query("stream_reservoir_cert", oracle=_WSAMPLE_SQL)
def stream_reservoir_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import summary
    from ..streaming.reservoir import RESERVOIR

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]

    work = cert_work_dir("srsv", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    docs.select("doc_id", "text").repartition(4).write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(RESERVOIR, stream, os.path.join(work, "state"),
                      os.path.join(work, "ckpt"), _RSV_K)
    q.awaitTermination(300)
    out = (summary.read(RESERVOIR, spark, os.path.join(work, "state"),
                        _RSV_K)
           .localCheckpoint(eager=True))
    shutil.rmtree(work, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# GROUPED weighted sampling + algebraic rollup — the per-shard form of
# weighted_sample_merge (the shape a 100 TB pipeline runs: one ≤k-row
# sample per source/shard/day kept next to the data, the corpus sample
# obtained by re-selecting over the bounded union WITHOUT rescanning).
# The subset theorem requires per-group k ≥ global k, so both are 25
# here. Certified: the global top-25 built from per-source partitioned-
# window top-25s equals the direct one-shot sample (oracle), with the
# contributing source on every row.
# --------------------------------------------------------------------------
_RSV_GK = 25


@query("reservoir_by_source", oracle=f"""
WITH d AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS w,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM documents
),
p AS (
  SELECT doc_id, source, w,
         CAST(round(1000000 * ln((h + 1) / 4294967296.0)) AS BIGINT)
           AS lu_micro
  FROM d
)
SELECT doc_id, source, w, lu_micro
FROM p
ORDER BY CAST(lu_micro AS DOUBLE) / w DESC, doc_id
LIMIT {_RSV_GK}
""")
def reservoir_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source samples via a PARTITIONED window (every source's
    top-25 in one shuffle keyed by source), rollup = top-25 of the
    ≤ 25·|sources| union — never a data-sized global sort."""
    from pyspark.sql import Window as W

    from ..streaming.reservoir import reservoir_topk

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    d = docs.select("doc_id", "source",
                    F.length("text").cast("long").alias("w"), h.alias("h"))
    lu = F.round(1_000_000 * F.log((F.col("h") + 1) / F.lit(4294967296.0)))
    cands = d.select("doc_id", "source", "w",
                     lu.cast("long").alias("lu_micro"))
    pri = F.col("lu_micro").cast("double") / F.col("w")
    per_src = (cands.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("source").orderBy(pri.desc(), "doc_id")))
        .filter(F.col("rn") <= _RSV_GK).drop("rn"))
    return reservoir_topk(per_src, _RSV_GK)


# --------------------------------------------------------------------------
# Per-node LOCAL clustering coefficient over the top-30 co-occurrence
# graph: cc(u) = 2·T(u) / (deg(u)·(deg(u)−1)) for deg ≥ 2, where T(u)
# counts triangles through u — all integer-exact (T from the same
# wedge-close join graph_triangles certifies, cc reported as the
# floor-divided micro value so no float ever exists). On a data-sized
# graph the same plan applies after the adamic-adar-style degree cap;
# here the node set is ≤ 30 by construction, so every join is bounded.
# --------------------------------------------------------------------------
@query("graph_clustering_coeff", oracle=f"""
WITH {COOCCUR_PAIRS_CTES},
deg AS (
  SELECT w, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs)
  GROUP BY w
),
tri AS (
  SELECT ab.w1 AS a, ab.w2 AS b, bc.w2 AS c
  FROM pairs ab
  JOIN pairs bc ON ab.w2 = bc.w1
  JOIN pairs ac ON ac.w1 = ab.w1 AND ac.w2 = bc.w2
),
tn AS (
  SELECT u, CAST(count(*) AS BIGINT) AS t
  FROM (SELECT a AS u FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY u
)
SELECT d.w AS word, d.deg,
       CAST(2 * coalesce(tn.t, 0) AS BIGINT) AS tri2,
       CAST((1000000 * 2 * coalesce(tn.t, 0))
            // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_micro
FROM deg d LEFT JOIN tn ON d.w = tn.u
WHERE d.deg >= 2
ORDER BY word
""")
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = word_cooccur_pairs(docs)

    both = (pairs.select(F.explode(F.array(
        F.struct(F.col("a_id").alias("u")),
        F.struct(F.col("b_id").alias("u")))).alias("e"))
        .select("e.u"))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))

    ab = pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    bc = pairs.select(F.col("a_id").alias("b"), F.col("b_id").alias("c"))
    ac = pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    tnodes = (tri.select(F.explode(F.array("a", "b", "c")).alias("u"))
              .groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("t")))

    return (deg.join(tnodes, "u", "left")
            .filter(F.col("deg") >= 2)
            .select(F.col("u").alias("word"), "deg",
                    (F.lit(2) * F.coalesce(F.col("t"), F.lit(0)))
                    .cast("long").alias("tri2"),
                    F.floor((F.lit(1_000_000) * 2
                             * F.coalesce(F.col("t"), F.lit(0)))
                            / (F.col("deg") * (F.col("deg") - 1)))
                    .cast("long").alias("cc_micro"))
            .orderBy("word"))
