"""Focused tests for the r15 optimization internals: each one pins the
EQUIVALENCE (or the new failure mode) an optimization relies on, so a
future change that silently breaks the assumption fails here instead of
at the driver hash.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_ngram_prefilter_default_equals_postfilter(spark):
    """The bounded (prefilter) and unbounded (post-group) max_df guards
    must drop the SAME shingles, so pair sets are identical — the
    equality that licensed flipping the default in r15."""
    from light_etl_windows_container_poc_spark.operators.dedup import (
        ngram_jaccard_pairs)

    rows = [(i, "alpha beta gamma delta epsilon zeta common tail words")
            for i in range(4)]
    rows += [(10 + i, f"unique{i} text body {'x y z ' * 3}common tail words")
             for i in range(6)]
    df = spark.createDataFrame(rows, "id long, t string")

    def pairs(**kw):
        return {(r["a_id"], r["b_id"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(df, "id", "t", n=3,
                                             threshold=0.1, max_df=5,
                                             **kw).collect()}

    bounded = pairs()  # default: prefilter fires because max_df is set
    unbounded = pairs(prefilter_hot=False)
    assert bounded == unbounded and bounded  # equal and non-trivial


def test_ngram_default_plan_has_broadcast_anti_join(spark):
    """With max_df set, the default plan must carry the bounded guard:
    a broadcast LeftAnti against the hot-shingle set (the r15 scale-
    safety contract), and no guard at all when max_df is None."""
    from light_etl_windows_container_poc_spark.operators.dedup import (
        ngram_jaccard_pairs)

    df = spark.createDataFrame([(1, "a b c d e")], "id long, t string")
    guarded = ngram_jaccard_pairs(df, "id", "t", max_df=5)
    plan = _formatted_plan(guarded)
    assert "LeftAnti" in plan
    plain = ngram_jaccard_pairs(df, "id", "t")
    plan2 = _formatted_plan(plain)
    assert "LeftAnti" not in plan2


def test_pack_blocks_null_vector_raises(spark):
    """collect_list silently skips null vectors; the r15 dim column must
    turn that desync into an error even when the element count happens
    to divide ids.size (the case the old modulo test passed)."""
    from light_etl_windows_container_poc_spark.operators.similarity import (
        _pack_blocks, _unpack_block)

    # 4 ids, dim 8, one null vector: 24 elements % 4 == 0 — the modulo
    # test would reshape to (4, 6) silently; the dim check must raise
    one_null = [(0, [float(i) for i in range(8)]),
                (1, None),
                (2, [float(i) for i in range(8)]),
                (3, [float(i) for i in range(8)])]
    # every vector null: ANSI size(NULL) is NULL, so dim arrives as None
    all_null = [(0, None), (1, None)]
    for rows in (one_null, all_null):
        df = (spark.createDataFrame(rows, "id long, v array<double>")
              .select("id", "v", F.lit(0).alias("blk")))
        packed = _pack_blocks(df).collect()[0]
        with pytest.raises(ValueError, match="desync"):
            _unpack_block(packed["ids"], packed["flat"], packed["dim"])


def test_pack_blocks_dim_roundtrip(spark):
    """Clean blocks unpack to the exact (ids, matrix) pair."""
    import numpy as np

    from light_etl_windows_container_poc_spark.operators.similarity import (
        _pack_blocks, _unpack_block)

    rows = [(i, [float(i * 10 + j) for j in range(4)]) for i in range(5)]
    df = (spark.createDataFrame(rows, "id long, v array<double>")
          .select("id", "v", F.lit(0).alias("blk")))
    packed = _pack_blocks(df).collect()[0]
    ids, m = _unpack_block(packed["ids"], packed["flat"], packed["dim"])
    assert m.shape == (5, 4)
    order = np.argsort(ids)
    assert np.array_equal(m[order],
                          np.array([r[1] for r in rows]))


def test_spread_scan_accepts_column_expression(spark, tmp_path):
    """spread_scan(key=Column) must fire on a degenerate layout exactly
    like the name form, with the expression as the partitioning key —
    the r15 sketch-builder contract (row-unique composite key)."""
    from light_etl_windows_container_poc_spark.catalog import spread_scan

    p = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    expr = F.xxhash64(F.col("id"), F.monotonically_increasing_id())
    out = spread_scan(df, expr)
    plan = _formatted_plan(out)
    assert "xxhash64" in plan and "hashpartitioning" in plan
    # result multiset unchanged by the repartition
    assert out.count() == 100
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_append_with_preloaded_quantizers_identical(spark, tmp_path):
    """append_to_ivfpq_index(quantizers=...) must land byte-identical
    code rows to the reload-per-call path — the equality that lets the
    streaming maintainer cache the frozen quantizers across batches."""
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        append_to_ivfpq_index, build_ivfpq_index, load_ivfpq_quantizers)

    def vec(i):
        return [float((i * 7 + j) % 5 - 2) for j in range(8)]

    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, v array<double>")
    batch = spark.createDataFrame(
        [(100 + i, vec(100 + i)) for i in range(10)],
        "vec_id long, v array<double>")

    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    build_ivfpq_index(base, "vec_id", "v", idx_a, n_clusters=3)
    build_ivfpq_index(base, "vec_id", "v", idx_b, n_clusters=3)

    n1 = append_to_ivfpq_index(batch, "vec_id", "v", idx_a)
    qz = load_ivfpq_quantizers(spark, idx_b)
    n2 = append_to_ivfpq_index(batch, "vec_id", "v", idx_b, quantizers=qz)
    assert n1 == n2 == 10

    def codes(path):
        import os
        rows = spark.read.parquet(os.path.join(path, "codes")).collect()
        return sorted((r["n_id"], tuple(r["codes"]), r["cluster"])
                      for r in rows)

    assert codes(idx_a) == codes(idx_b)


def test_ann_handler_reloads_quantizers_after_refresh(spark, tmp_path):
    """The maintainer's quantizer cache must invalidate when the index
    directory is swapped by a refresh — a batch applied after the
    refresh has to encode against the NEW quantizers."""
    import os

    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index, refresh_ivfpq_index)
    from light_etl_windows_container_poc_spark.streaming.ann_maintenance \
        import ann_append_batch_handler

    def vec(i, flip=1):
        return [flip * float((i * 3 + j) % 7 - 3) for j in range(8)]

    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(30)], "vec_id long, v array<double>")
    idx = str(tmp_path / "idx")
    build_ivfpq_index(base, "vec_id", "v", idx, n_clusters=3)
    handler = ann_append_batch_handler(idx, "vec_id", "v")

    b0 = spark.createDataFrame([(100 + i, vec(100 + i)) for i in range(5)],
                               "vec_id long, v array<double>")
    handler(b0, 0)  # caches the generation-1 quantizers

    # refresh on a different corpus: new centroids/books, dir swapped
    grown = base.unionByName(
        spark.createDataFrame([(200 + i, vec(i, flip=-1)) for i in range(30)],
                              "vec_id long, v array<double>"))
    refresh_ivfpq_index(grown, "vec_id", "v", idx, n_clusters=3)

    # snapshot the REFRESHED index before the next handler batch: the
    # fresh-load append into the snapshot is the ground truth the cached
    # handler must match (a stale gen-1 cache would encode differently —
    # the refresh trained on a different corpus)
    import shutil

    from light_etl_windows_container_poc_spark.operators.ann_index import (
        append_to_ivfpq_index)

    idx_ref = str(tmp_path / "idx_ref")
    shutil.copytree(idx, idx_ref)

    b1 = spark.createDataFrame([(300 + i, vec(i, flip=-1)) for i in range(5)],
                               "vec_id long, v array<double>")
    handler(b1, 1)  # must encode with the REFRESHED quantizers
    append_to_ivfpq_index(b1, "vec_id", "v", idx_ref)  # fresh load

    def b1_codes(path):
        rows = spark.read.parquet(os.path.join(path, "codes")).collect()
        return sorted((r["n_id"], tuple(r["codes"]), r["cluster"])
                      for r in rows if r["n_id"] >= 300)

    assert b1_codes(idx) == b1_codes(idx_ref)
