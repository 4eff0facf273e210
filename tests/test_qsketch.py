"""Property tests for the adaptive level-sampling quantile sketch
(operators/qsketch.py) and its streaming maintainer
(streaming/qsketch.py) — the merge/replay theorems the driver-hashed
queries in queries/breadth37.py rely on."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.operators.qsketch import (
    qsketch_build, qsketch_hist, qsketch_levels, qsketch_lstar,
    qsketch_merge)


def _synth(spark, n, offset=0):
    return (spark.range(offset, offset + n)
            .select(F.col("id").alias("k"),
                    ((F.col("id") * 37) % 1000).cast("long").alias("v")))


def _cells(df):
    return {(r["key"], r["val"], r["lvl"]) for r in df.collect()}


def test_merge_equals_direct_for_any_split(spark):
    """sketch(A∪B∪C) == merge(sketch(A), sketch(B), sketch(C)) cell-
    for-cell, including L* and n_total — for uneven splits and for a
    split granularity different from another (associativity via the
    pure-function property)."""
    df = _synth(spark, 5000)
    direct = qsketch_build(df, "k", "v", 64)
    d_cells, d_row = _cells(direct), direct.first()

    for mod in (2, 5):
        segs = [qsketch_build(df.filter(F.col("k") % mod == i),
                              "k", "v", 64) for i in range(mod)]
        merged = qsketch_merge(segs, 64)
        m = merged.collect()
        assert _cells(merged) == d_cells, f"split mod={mod}"
        assert m[0]["l_star"] == d_row["l_star"]
        assert m[0]["n_total"] == d_row["n_total"]


def test_merge_handles_empty_and_tiny_segments(spark):
    """An empty segment contributes nothing; a tiny segment (below cap,
    L*=0) merges exactly; two segments with IDENTICAL scalar pairs do
    not collapse (the per-input aggregation, not a distinct)."""
    df = _synth(spark, 600)
    direct = qsketch_build(df, "k", "v", 64)
    empty = qsketch_build(df.filter(F.lit(False)), "k", "v", 64)
    half1 = qsketch_build(df.filter(F.col("k") < 300), "k", "v", 64)
    half2 = qsketch_build(df.filter(F.col("k") >= 300), "k", "v", 64)
    # both halves have n_total=300 — the shared-scalars trap
    merged = qsketch_merge([half1, empty, half2], 64)
    assert _cells(merged) == _cells(direct)
    assert merged.first()["n_total"] == 600


def test_lstar_caps_kept_size_and_weights_estimate(spark):
    """kept ≤ cap whenever n > cap; the weighted kept count estimates
    n within the 4σ envelope the hashed query certifies."""
    df = _synth(spark, 20000)
    sk = qsketch_build(df, "k", "v", 128).collect()
    n, ls = sk[0]["n_total"], sk[0]["l_star"]
    assert len(sk) <= 128
    assert n == 20000 and ls > 0
    est_n = len(sk) * (1 << ls)
    assert abs(est_n - n) * 4 <= n, (est_n, n)


def test_lstar_zero_when_data_fits(spark):
    df = _synth(spark, 50)
    sk = qsketch_build(df, "k", "v", 64).collect()
    assert len(sk) == 50
    assert sk[0]["l_star"] == 0
    ls = qsketch_lstar(qsketch_hist(qsketch_levels(df, "k", "v")), 64)
    assert ls.first()["l_star"] == 0


def test_stream_state_replay_idempotent(spark, tmp_path):
    """Re-applying an already-landed batch (the crash-replay case)
    leaves the read-time merge unchanged — overwrite-per-batch_tag."""
    from light_etl_windows_container_poc_spark.streaming import summary
    from light_etl_windows_container_poc_spark.streaming.qsketch import QSKETCH

    df = _synth(spark, 3000)
    state = str(tmp_path / "state")
    handler = summary.batch_handler(QSKETCH, state, "k", "v", 64)
    b0 = df.filter(F.col("k") < 1000)
    b1 = df.filter((F.col("k") >= 1000) & (F.col("k") < 2000))
    b2 = df.filter(F.col("k") >= 2000)
    for i, b in enumerate((b0, b1, b2)):
        handler(b, i)
    os.makedirs(os.path.join(state), exist_ok=True)
    before = _cells(summary.read(QSKETCH, spark, state, 64))
    handler(b1, 1)  # replay
    after = _cells(summary.read(QSKETCH, spark, state, 64))
    assert before == after
    direct = qsketch_build(df, "k", "v", 64)
    assert after == _cells(direct)


def test_level_bridge_matches_duckdb_on_adversarial_keys(spark):
    """The md5/bin level bridge must agree with DuckDB's replay beyond
    the happy path: zero, negatives (cast-to-string sign rendering),
    and magnitudes near the BIGINT edge."""
    import duckdb

    from light_etl_windows_container_poc_spark.operators.qsketch import \
        qsketch_level

    keys = [0, 1, -1, -5, 2**62, -(2**62), 999_999_999_999, 42, 7]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sp = {r["k"]: r["lvl"] for r in
          df.select("k", qsketch_level(F.col("k")).alias("lvl"))
          .collect()}
    con = duckdb.connect()
    for k in keys:
        d = con.execute(
            f"SELECT 52 - length(bin(CAST(('0x' || substring("
            f"md5(CAST({k} AS VARCHAR)), 1, 13)) AS BIGINT)))"
        ).fetchone()[0]
        assert d == sp[k], (k, d, sp[k])


def test_compaction_is_answer_invariant(spark, tmp_path):
    """Folding partials into a compacted generation must not change the
    merged sketch — before, after, and after a SECOND generation built
    from the first compaction plus fresh batches (the kept cells at the
    current L* plus scalars are exactly sufficient state, because
    future unions can only raise L*)."""
    from light_etl_windows_container_poc_spark.streaming import summary
    from light_etl_windows_container_poc_spark.streaming.qsketch import QSKETCH

    df = _synth(spark, 4000)
    state = str(tmp_path / "state")
    handler = summary.batch_handler(QSKETCH, state, "k", "v", 64)
    handler(df.filter(F.col("k") < 1500), 0)
    handler(df.filter((F.col("k") >= 1500) & (F.col("k") < 2500)), 1)
    part1 = df.filter(F.col("k") < 2500)
    before = _cells(summary.read(QSKETCH, spark, state, 64))
    summary.compact(QSKETCH, spark, state, 64)
    after = _cells(summary.read(QSKETCH, spark, state, 64))
    assert before == after == _cells(qsketch_build(part1, "k", "v", 64))
    assert os.path.isdir(os.path.join(state, "batch_tag=compacted_1"))

    handler(df.filter(F.col("k") >= 2500), 2)
    merged = _cells(summary.read(QSKETCH, spark, state, 64))
    assert merged == _cells(qsketch_build(df, "k", "v", 64))
    summary.compact(QSKETCH, spark, state, 64)
    assert _cells(summary.read(QSKETCH, spark, state, 64)) == merged
    assert os.path.isdir(os.path.join(state, "batch_tag=compacted_2"))


def test_hashed_query_plans_are_bounded(spark, sf_dir):
    """The qsketch queries must never window a data-sized relation:
    the only unpartitioned windows are the ≤ 53-row level histogram
    and the ≤ cap kept set (both value-bounded), and no cartesian ever
    appears."""
    from light_etl_windows_container_poc_spark.plans import formatted_plan
    from light_etl_windows_container_poc_spark.queries import QUERIES

    for name in ("qsketch_build", "qsketch_rank_bounds",
                 "qsketch_merge_consistent", "qsketch_by_source"):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
