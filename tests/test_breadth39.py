"""Streaming weighted reservoir: top-k subset theorem under
adversarial splits, streamed == batch sample equality, replay
idempotence, compaction answer-invariance; plus clustering-coefficient
sanity on a hand-built graph."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.streaming import summary
from light_etl_windows_container_poc_spark.streaming.reservoir import (
    RESERVOIR,
    reservoir_candidates,
    reservoir_topk,
)

SCHEMA = "doc_id long, text string"


def _docs(spark, ids_lens):
    return spark.createDataFrame(
        [(i, "x" * ln) for i, ln in ids_lens], SCHEMA)


def _rows(df):
    return sorted((r.doc_id, r.w, r.lu_micro) for r in df.collect())


def _fixture():
    # 60 docs, adversarial weights: heavy docs, 1-char docs, ties in w
    return [(i, [1, 1, 5, 40, 400, 7][i % 6] + i % 3) for i in range(60)]


def test_topk_merge_theorem_uneven_splits(spark):
    docs = _fixture()
    k = 10
    direct = _rows(reservoir_topk(
        reservoir_candidates(_docs(spark, docs)), k))
    cuts = [0, 1, 1, 45, 60]  # empty + 1-row + uneven segments
    parts = []
    for lo, hi in zip(cuts, cuts[1:]):
        seg = _docs(spark, docs[lo:hi])
        parts.append(reservoir_topk(reservoir_candidates(seg), k))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    assert _rows(reservoir_topk(u, k)) == direct and len(direct) == k


def _write_parts(spark, tmp_path, docs):
    src = tmp_path / "src"
    b0, b1 = docs[:35], docs[35:]
    _docs(spark, b0).coalesce(1).write.parquet(
        str(src / "p0"))
    _docs(spark, b1).coalesce(1).write.parquet(
        str(src / "p1"))
    # flatten: stream source reads files from one dir
    files = []
    for sub in ("p0", "p1"):
        for f in os.listdir(src / sub):
            if f.endswith(".parquet"):
                files.append((src / sub / f, sub))
    dst = tmp_path / "stream_src"
    dst.mkdir()
    for i, (f, sub) in enumerate(sorted(files, key=lambda t: t[1])):
        os.rename(f, dst / f"{i}.parquet")
        os.utime(dst / f"{i}.parquet", (1_000_000 * (i + 1),) * 2)
    return dst, b0


def test_stream_reservoir_equals_batch_and_replay(spark, tmp_path):
    docs = _fixture()
    k = 10
    dst, b0 = _write_parts(spark, tmp_path, docs)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).parquet(str(dst)))
    summary.start(RESERVOIR, s, state, str(tmp_path / "ckpt"), k
                  ).awaitTermination(120)
    batch = _rows(reservoir_topk(
        reservoir_candidates(_docs(spark, docs)), k))
    assert _rows(summary.read(RESERVOIR, spark, state, k)) == batch
    # crash-replay batch 0
    summary.batch_handler(RESERVOIR, state, k)(_docs(spark, b0), 0)
    assert _rows(summary.read(RESERVOIR, spark, state, k)) == batch


def test_reservoir_compaction_invariant_and_append_safe(spark, tmp_path):
    docs = _fixture()
    k = 10
    dst, _ = _write_parts(spark, tmp_path, docs)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).parquet(str(dst)))
    summary.start(RESERVOIR, s, state, str(tmp_path / "ckpt"), k
                  ).awaitTermination(120)
    before = _rows(summary.read(RESERVOIR, spark, state, k))
    summary.compact(RESERVOIR, spark, state, k)
    assert _rows(summary.read(RESERVOIR, spark, state, k)) == before
    # high-priority newcomers displace incumbents after compaction
    extra = [(1000 + i, 1) for i in range(30)]  # tiny w → high priority
    summary.batch_handler(RESERVOIR, state, k)(_docs(spark, extra), 99)
    assert _rows(summary.read(RESERVOIR, spark, state, k)) == _rows(
        reservoir_topk(reservoir_candidates(
            _docs(spark, docs + extra)), k))


def test_clustering_coeff_closed_triangle_plus_pendant(spark):
    """K3 plus a pendant edge: triangle nodes with the pendant attached
    get cc < 1, pure triangle nodes cc == 1."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(a_id="a", b_id="b"), Row(a_id="a", b_id="c"),
         Row(a_id="b", b_id="c"), Row(a_id="c", b_id="d")])
    both = (pairs.select(F.explode(F.array(
        F.struct(F.col("a_id").alias("u")),
        F.struct(F.col("b_id").alias("u")))).alias("e")).select("e.u"))
    deg = {r.u: r.c for r in
           both.groupBy("u").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert deg == {"a": 2, "b": 2, "c": 3, "d": 1}
    ab = pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    bc = pairs.select(F.col("a_id").alias("b"), F.col("b_id").alias("c"))
    ac = pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    t = {r.u: r.c for r in
         tri.select(F.explode(F.array("a", "b", "c")).alias("u"))
         .groupBy("u").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert t == {"a": 1, "b": 1, "c": 1}
    # cc: a,b = 2*1/(2*1) = 1.0 ; c = 2*1/(3*2) = 1/3 ; d excluded
    assert (2 * t["c"]) / (deg["c"] * (deg["c"] - 1)) == 1 / 3


def test_reservoir_by_source_plan_is_partitioned_and_bounded(spark,
                                                             sf_dir):
    """The grouped sample's window must be PARTITIONED (by source) and
    the rollup a TakeOrderedAndProject over the bounded union — never
    an unpartitioned data-sized window or global sort."""
    from light_etl_windows_container_poc_spark.plans import formatted_plan
    from light_etl_windows_container_poc_spark.queries import QUERIES

    plan = formatted_plan(QUERIES["reservoir_by_source"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_reservoir_empty_text_doc_ranks_last_under_ansi(spark):
    """w = 0 (empty text) must not raise DIVIDE_BY_ZERO on the default
    ANSI session: its priority is NULL and sorts after every other doc."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = [(1, 5), (2, 0), (3, 40), (4, 1)]
    cands = reservoir_candidates(_docs(spark, docs))
    top3 = [r.doc_id for r in reservoir_topk(cands, 3).collect()]
    assert len(top3) == 3 and 2 not in top3
    everything = reservoir_topk(cands, 4).collect()
    assert everything[-1].doc_id == 2 and everything[-1].w == 0
