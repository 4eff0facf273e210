"""The shared mergeable-summary state protocol (streaming/summary.py),
checked once for every streamed sketch spec by calling the generic batch
handler directly: split invariance, replay idempotence and compaction
invariance — plus the empty-stream read/compact contract."""

from __future__ import annotations

import os

import pytest

from light_etl_windows_container_poc_spark.streaming import summary
from light_etl_windows_container_poc_spark.streaming.ams import AMS
from light_etl_windows_container_poc_spark.streaming.bm25 import BM25
from light_etl_windows_container_poc_spark.streaming.countmin import COUNTMIN
from light_etl_windows_container_poc_spark.streaming.heavy_hitters import (
    HEAVY_HITTERS,
)
from light_etl_windows_container_poc_spark.streaming.histogram import \
    HISTOGRAM
from light_etl_windows_container_poc_spark.streaming.hll import HLL
from light_etl_windows_container_poc_spark.streaming.kmv import KMV
from light_etl_windows_container_poc_spark.streaming.qsketch import QSKETCH
from light_etl_windows_container_poc_spark.streaming.reservoir import \
    RESERVOIR

ROW_SCHEMA = "doc_id long, token string, text string, v long"

# spec, handler params, read/compact params. Heavy hitters keeps K=4
# counters over a 4-token vocabulary: Misra-Gries is exact when the
# distinct count fits in k, and only then is its merge split-invariant
# (otherwise it is guarantee-invariant only — tests/
# test_stream_heavy_hitters.py checks those guarantees).
SPECS = {
    "heavy_hitters": (HEAVY_HITTERS, ("token", 4), (4,)),
    "countmin": (COUNTMIN, ("token", 3, 16), ()),
    "histogram": (HISTOGRAM, ("v", 100), ()),
    "hll": (HLL, ("text", 16), ()),
    "qsketch": (QSKETCH, ("doc_id", "v", 8), (8,)),
    "ams": (AMS, ("token", 8), ()),
    "kmv": (KMV, ("text", 5), (5,)),
    "reservoir": (RESERVOIR, (3,), (3,)),
    "bm25": (BM25, ("doc_id", "text"), ()),
}


def _rows(ids):
    return [(i, "abcd"[i * i % 4],
             " ".join(f"w{(i * j) % 11}" for j in range(1 + i % 5)),
             i * 37 % 1000) for i in ids]


def _cells(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", list(SPECS))
def test_summary_protocol(spark, tmp_path, name):
    spec, build_params, read_params = SPECS[name]
    b0 = spark.createDataFrame(_rows(range(0, 40)), ROW_SCHEMA)
    b1 = spark.createDataFrame(_rows(range(40, 70)), ROW_SCHEMA)
    state = str(tmp_path / "state")
    handle = summary.batch_handler(spec, state, *build_params)
    handle(b0, 0)
    handle(b1, 1)

    def read(s):
        return _cells(summary.read(spec, spark, s, *read_params))

    merged = read(state)
    assert merged

    # split invariance: two batches read the same as one one-shot build
    whole = str(tmp_path / "whole")
    summary.batch_handler(spec, whole, *build_params)(b0.union(b1), 0)
    assert read(whole) == merged

    # replay idempotence: re-handling a batch id changes nothing
    handle(b0, 0)
    assert read(state) == merged

    # compaction invariance, and a subsumed replay stays excluded
    summary.compact(spec, spark, state, *read_params)
    assert summary.live_partial_dirs(state) == ["batch_tag=compacted_1"]
    assert read(state) == merged
    handle(b0, 0)
    assert read(state) == merged


def test_empty_stream_reads_empty_and_compacts_to_nothing(spark, tmp_path):
    """A stream that never landed a batch has no state dir at all: read
    is the spec's schema-typed empty frame and compact is a no-op."""
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    stream = spark.readStream.schema("token string").parquet(str(src))
    summary.start(COUNTMIN, stream, state, str(tmp_path / "ckpt"),
                  "token", 3, 16).awaitTermination(120)
    out = summary.read(COUNTMIN, spark, state)
    assert out.count() == 0
    assert out.schema.simpleString() == \
        spark.createDataFrame([], COUNTMIN.schema).schema.simpleString()
    summary.compact(COUNTMIN, spark, state)
    assert not os.path.exists(state)
