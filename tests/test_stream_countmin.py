"""Streaming Count-Min: real availableNow runs maintaining the
persisted grid, exact streamed==batch equality, replay idempotence,
and manifest-compaction answer-invariance (incl. the crash window)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.operators.sketches import cm_build
from light_etl_windows_container_poc_spark.streaming import summary
from light_etl_windows_container_poc_spark.streaming.countmin import COUNTMIN

SCHEMA = "token string"
D, W = 3, 16


def _write_file(path, tokens):
    with open(path, "w") as fh:
        for t in tokens:
            fh.write(json.dumps({"token": t}) + "\n")


def _stream_tokens(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    b0 = ["hot"] * 40 + [f"a{i}" for i in range(10) for _ in range(3)]
    b1 = ["hot"] * 25 + ["warm"] * 30 + [f"b{i}" for i in range(5)]
    _write_file(src / "a.json", b0)
    _write_file(src / "b.json", b1)
    os.utime(src / "a.json", (1_000_000, 1_000_000))
    os.utime(src / "b.json", (2_000_000, 2_000_000))
    return src, b0 + b1


def _grid(df):
    return {(r.seed, r.bucket): r.cnt for r in df.collect()}


def _run_stream(spark, src, state, ckpt):
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(COUNTMIN, s, state, ckpt, "token", D, W
                  ).awaitTermination(120)


def test_streamed_grid_equals_batch_grid_exactly(spark, tmp_path):
    """Addition-merge makes streamed state CELL-IDENTICAL to the
    one-shot batch sketch — stronger than MG's guarantee equivalence."""
    src, rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    _run_stream(spark, src, state, str(tmp_path / "ckpt"))
    streamed = _grid(summary.read(COUNTMIN, spark, state))
    batch = _grid(cm_build(
        spark.createDataFrame([(t,) for t in rows], SCHEMA), "token", D, W)
        .select(F.col("seed").cast("int"), "bucket", "cnt"))
    assert streamed == batch


def test_replay_is_idempotent(spark, tmp_path):
    src, rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    _run_stream(spark, src, state, str(tmp_path / "ckpt"))
    before = _grid(summary.read(COUNTMIN, spark, state))
    # crash-replay batch 0: its partial rewrites byte-equivalently
    replay = spark.createDataFrame(
        [(t,) for t in rows[:70]], SCHEMA)  # b0 is the first 70 rows
    summary.batch_handler(COUNTMIN, state, "token", D, W)(replay, 0)
    assert _grid(summary.read(COUNTMIN, spark, state)) == before


def test_compaction_is_answer_invariant_and_append_safe(spark, tmp_path):
    src, rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    _run_stream(spark, src, state, str(tmp_path / "ckpt"))
    before = _grid(summary.read(COUNTMIN, spark, state))
    summary.compact(COUNTMIN, spark, state)
    assert _grid(summary.read(COUNTMIN, spark, state)) == before
    # post-compaction appends merge on top of the active generation
    extra = spark.createDataFrame([("hot",), ("new",)], SCHEMA)
    summary.batch_handler(COUNTMIN, state, "token", D, W)(extra, 2)
    after = _grid(summary.read(COUNTMIN, spark, state))
    extra_grid = _grid(cm_build(extra, "token", D, W)
                       .select(F.col("seed").cast("int"), "bucket", "cnt"))
    want = dict(before)
    for cell, c in extra_grid.items():
        want[cell] = want.get(cell, 0) + c
    assert after == want
    # replay of a SUBSUMED batch stays excluded (watermark, not listing)
    summary.batch_handler(COUNTMIN, state, "token", D, W)(
        spark.createDataFrame([(t,) for t in rows[:70]], SCHEMA), 0)
    assert _grid(summary.read(COUNTMIN, spark, state)) == want


def test_unpublished_compaction_is_invisible(spark, tmp_path):
    """The crash window between renaming a compacted dir in and
    publishing the manifest must not double-count: readers ignore
    compacted generations the manifest does not name."""
    src, _ = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    _run_stream(spark, src, state, str(tmp_path / "ckpt"))
    before = _grid(summary.read(COUNTMIN, spark, state))
    merged = summary.read(COUNTMIN, spark, state)
    # simulate the crash: generation dir exists, manifest never swapped
    merged.write.mode("overwrite").parquet(
        os.path.join(state, "batch_tag=compacted_1"))
    assert _grid(summary.read(COUNTMIN, spark, state)) == before
    # a re-run sweeps the orphan and publishes cleanly
    summary.compact(COUNTMIN, spark, state)
    assert _grid(summary.read(COUNTMIN, spark, state)) == before


def test_streamed_histogram_equals_batch(spark, tmp_path):
    """Third payload of the manifest protocol: bin partials merge by
    addition, so streamed state == one-shot histogram exactly; a
    replayed batch rewrites instead of double-counting."""
    from light_etl_windows_container_poc_spark.streaming.histogram import \
        HISTOGRAM

    src = tmp_path / "hsrc"
    src.mkdir()
    b0 = list(range(0, 500, 7))
    b1 = list(range(120, 900, 11))
    for name, vals, mt in (("a.json", b0, 1_000_000),
                           ("b.json", b1, 2_000_000)):
        with open(src / name, "w") as fh:
            for v in vals:
                fh.write(json.dumps({"cents": v}) + "\n")
        os.utime(src / name, (mt, mt))
    state = str(tmp_path / "hstate")
    s = (spark.readStream.schema("cents long")
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(HISTOGRAM, s, state, str(tmp_path / "hckpt"),
                  "cents", 100).awaitTermination(120)
    streamed = {(r.bin, r.cnt)
                for r in summary.read(HISTOGRAM, spark, state).collect()}
    from pyspark.sql import functions as F

    batch = {(r.bin, r.cnt) for r in
             (spark.createDataFrame([(v,) for v in b0 + b1], "cents long")
              .select(F.expr("cents div 100").alias("bin"))
              .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
              .collect())}
    assert streamed == batch
    # crash-replay of batch 0
    summary.batch_handler(HISTOGRAM, state, "cents", 100)(
        spark.createDataFrame([(v,) for v in b0], "cents long"), 0)
    assert {(r.bin, r.cnt)
            for r in summary.read(HISTOGRAM, spark, state).collect()} == batch


def test_histogram_bins_agree_on_negative_cents(spark, tmp_path):
    """Spark `div` and DuckDB integer `//` BOTH truncate toward zero
    (-5 // 100 = 0, -105 // 100 = -1 on duckdb 1.0.0), so the streamed
    bins match the certification oracle on negative cents too — locked
    with a DuckDB replay over a sign-crossing domain so an engine
    upgrade that changes `//` to floor semantics is caught here, not in
    a red driver row."""
    import duckdb

    from light_etl_windows_container_poc_spark.streaming.histogram import \
        HISTOGRAM

    vals = list(range(-350, 351, 7))
    state = str(tmp_path / "negstate")
    summary.batch_handler(HISTOGRAM, state, "cents", 100)(
        spark.createDataFrame([(v,) for v in vals], "cents long"), 0)
    streamed = {(r.bin, r.cnt)
                for r in summary.read(HISTOGRAM, spark, state).collect()}
    oracle = {tuple(r) for r in duckdb.sql(
        "SELECT v // 100 AS bin, CAST(count(*) AS BIGINT) AS cnt "
        "FROM (SELECT unnest($vals) AS v) GROUP BY 1",
        params={"vals": vals}).fetchall()}
    assert streamed == oracle


def test_streamed_hll_equals_batch_and_forgives_replay(spark, tmp_path):
    """Fourth payload of the manifest protocol: registers merge by MAX
    (idempotent), so streamed state == one-shot grid for any batch
    split AND any replay — re-applying batch 0 must leave the grid
    bit-identical."""
    from light_etl_windows_container_poc_spark.streaming.hll import (
        HLL, hll_grid)

    src = tmp_path / "hllsrc"
    src.mkdir()
    b0 = list(range(0, 900, 7))
    b1 = list(range(300, 1500, 11))
    for name, vals, mt in (("a.json", b0, 1_000_000),
                           ("b.json", b1, 2_000_000)):
        with open(src / name, "w") as fh:
            for v in vals:
                fh.write(json.dumps({"k": v}) + "\n")
        os.utime(src / name, (mt, mt))
    state = str(tmp_path / "hllstate")
    s = (spark.readStream.schema("k long")
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(HLL, s, state, str(tmp_path / "hllckpt"),
                  "k", 64).awaitTermination(120)
    streamed = {(r.bucket, r.reg)
                for r in summary.read(HLL, spark, state).collect()}
    batch = {(r.bucket, r.reg) for r in
             hll_grid(spark.createDataFrame([(v,) for v in b0 + b1],
                                            "k long"), "k", 64).collect()}
    assert streamed == batch
    # replay batch 0: max-merge is idempotent, grid unchanged
    summary.batch_handler(HLL, state, "k", 64)(
        spark.createDataFrame([(v,) for v in b0], "k long"), 0)
    assert {(r.bucket, r.reg)
            for r in summary.read(HLL, spark, state).collect()} == batch
