"""Streaming heavy hitters: real availableNow runs maintaining the
persisted MG summary, replay idempotence, compaction equivalence, and
the MG guarantees over the full ingested stream."""

from __future__ import annotations

import json
import os

from light_etl_windows_container_poc_spark.streaming import summary
from light_etl_windows_container_poc_spark.streaming.heavy_hitters import (
    HEAVY_HITTERS,
)

SCHEMA = "token string"
K = 6


def _write_file(path, tokens):
    with open(path, "w") as fh:
        for t in tokens:
            fh.write(json.dumps({"token": t}) + "\n")


def _stream_tokens(tmp_path):
    """Two micro-batches with a skewed vocabulary of 15 > K tokens."""
    src = tmp_path / "src"
    src.mkdir()
    b0 = ["hot"] * 200 + [f"a{i}" for i in range(10) for _ in range(10)]
    b1 = ["hot"] * 150 + ["warm"] * 120 + [f"b{i}" for i in range(4)
                                           for _ in range(5)]
    _write_file(src / "a.json", b0)
    _write_file(src / "b.json", b1)
    os.utime(src / "a.json", (1_000_000, 1_000_000))
    os.utime(src / "b.json", (2_000_000, 2_000_000))
    return src, b0 + b1


def _check_guarantees(sketch, stream):
    exact = {}
    for t in stream:
        exact[t] = exact.get(t, 0) + 1
    n = len(stream)
    assert len(sketch) <= K
    for t, est in sketch.items():
        assert est <= exact[t]
    for t, cnt in exact.items():
        if cnt * (K + 1) > n:
            assert t in sketch, f"heavy {t} lost"
        if t in sketch:
            assert (cnt - sketch[t]) * (K + 1) <= n


def test_stream_maintains_guarantees(spark, tmp_path):
    src, stream_rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    q = summary.start(HEAVY_HITTERS, s, state, str(tmp_path / "ckpt"),
                      "token", K)
    q.awaitTermination(120)
    sketch = {r["token"]: r["est"]
              for r in summary.read(HEAVY_HITTERS, spark, state, K).collect()}
    _check_guarantees(sketch, stream_rows)
    assert "hot" in sketch and "warm" in sketch


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch's handler (the crash-replay case) rewrites
    its partial instead of double-counting: the merged sketch is
    unchanged."""
    src, stream_rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(HEAVY_HITTERS, s, state, str(tmp_path / "ckpt"),
                  "token", K).awaitTermination(120)
    before = sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())

    handler = summary.batch_handler(HEAVY_HITTERS, state, "token", K)
    batch0 = spark.read.schema(SCHEMA).json(str(src / "a.json"))
    handler(batch0, 0)  # replay of micro-batch 0
    after = sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())
    assert before == after


def test_compaction_preserves_guarantees(spark, tmp_path):
    src, stream_rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(HEAVY_HITTERS, s, state, str(tmp_path / "ckpt"),
                  "token", K).awaitTermination(120)
    summary.compact(HEAVY_HITTERS, spark, state, K)
    # one summary directory remains; guarantees still hold
    tags = [d for d in os.listdir(state) if d.startswith("batch_tag=")]
    assert tags == ["batch_tag=compacted_1"]
    sketch = {r["token"]: r["est"]
              for r in summary.read(HEAVY_HITTERS, spark, state, K).collect()}
    _check_guarantees(sketch, stream_rows)
    # appending AFTER compaction keeps working
    handler = summary.batch_handler(HEAVY_HITTERS, state, "token", K)
    extra = spark.createDataFrame(
        [("hot",)] * 50 + [("cold9",)] * 3, "token string")
    handler(extra, 99)
    sketch2 = {r["token"]: r["est"]
               for r in summary.read(HEAVY_HITTERS, spark, state, K).collect()}
    _check_guarantees(sketch2, stream_rows + ["hot"] * 50 + ["cold9"] * 3)


def test_compaction_twice_and_subsumed_replay(spark, tmp_path):
    """Second compaction advances the generation; replaying a batch the
    manifest subsumes re-lands its partial but stays EXCLUDED from the
    merge (its mass is already in the active summary) — no double
    count."""
    src, stream_rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(HEAVY_HITTERS, s, state, str(tmp_path / "ckpt"),
                  "token", K).awaitTermination(120)
    summary.compact(HEAVY_HITTERS, spark, state, K)
    handler = summary.batch_handler(HEAVY_HITTERS, state, "token", K)
    handler(spark.createDataFrame([("hot",)] * 40, "token string"), 7)
    summary.compact(HEAVY_HITTERS, spark, state, K)
    tags = [d for d in os.listdir(state) if d.startswith("batch_tag=")]
    assert tags == ["batch_tag=compacted_2"]
    before = sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())
    # replay micro-batch 0 — subsumed by generation 1, so invisible
    batch0 = spark.read.schema(SCHEMA).json(str(src / "a.json"))
    handler(batch0, 0)
    after = sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())
    assert before == after
    _check_guarantees({r["token"]: r["est"] for r in after},
                      stream_rows + ["hot"] * 40)


def test_compaction_crash_windows_lose_nothing(spark, tmp_path):
    """Every crash window in compact_state leaves a readable state
    whose merge preserves the MG guarantees: (a) staged-but-unrenamed,
    (b) renamed-but-unpublished (no manifest), both must read as the
    PRE-compaction state; re-running compact_state recovers."""
    from light_etl_windows_container_poc_spark.operators.sketches import (
        mg_merge)

    src, stream_rows = _stream_tokens(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(HEAVY_HITTERS, s, state, str(tmp_path / "ckpt"),
                  "token", K).awaitTermination(120)
    before = sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())

    # window (a): staging written, crash before rename
    live = summary.live_partial_dirs(state)
    paths = [os.path.join(state, d) for d in live]
    merged = mg_merge(spark.read.schema(HEAVY_HITTERS.schema).parquet(*paths)
                      .select("token", "est"), K)
    merged.write.mode("overwrite").parquet(
        os.path.join(state, "_compact_staging"))
    assert (sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())
            == before)

    # window (b): renamed in, crash before the manifest swap —
    # readers must IGNORE the unpublished compacted dir
    os.rename(os.path.join(state, "_compact_staging"),
              os.path.join(state, "batch_tag=compacted_1"))
    assert "batch_tag=compacted_1" not in summary.live_partial_dirs(state)
    assert (sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())
            == before)

    # recovery: a re-run completes the compaction and answers match
    summary.compact(HEAVY_HITTERS, spark, state, K)
    assert (sorted(summary.read(HEAVY_HITTERS, spark, state, K).collect())
            == before)
    _check_guarantees(
        {r["token"]: r["est"]
         for r in summary.read(HEAVY_HITTERS, spark, state, K).collect()},
        stream_rows)
