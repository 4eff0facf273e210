"""AMS F2 sketch + streaming AMS/KMV maintainers: sign-bridge
determinism, exact additive merge under adversarial splits, the
median-of-means containment arithmetic, streamed==batch cell equality,
replay idempotence, compaction answer-invariance, and the KMV
union-then-truncate theorem on overlapping batches."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.operators.sketches import (
    ams_build,
    ams_f2_estimate,
)
from light_etl_windows_container_poc_spark.streaming import summary
from light_etl_windows_container_poc_spark.streaming.ams import AMS
from light_etl_windows_container_poc_spark.streaming.kmv import KMV, kmv_of

SCHEMA = "token string"


def _df(spark, tokens):
    return spark.createDataFrame([(t,) for t in tokens], SCHEMA)


def _vec(df):
    return {r.j: r.x for r in df.collect()}


def _tokens():
    # skewed: one heavy key, a mid tier, a long unique tail
    return (["hot"] * 50 + ["warm"] * 9
            + [f"t{i}" for i in range(40) for _ in range(2)]
            + [f"u{i}" for i in range(30)])


# ---------------------------------------------------------------- AMS ----
def test_ams_counters_bounded_and_parity(spark):
    """|X_j| <= n, and X_j ≡ n (mod 2) — a sum of n ±1 terms."""
    toks = _tokens()
    vec = _vec(ams_build(_df(spark, toks), "token", 16))
    assert set(vec) == set(range(16))
    n = len(toks)
    for x in vec.values():
        assert abs(x) <= n and (x - n) % 2 == 0


def test_ams_merge_is_exact_under_any_split(spark):
    """X_j is linear in the rows: any partition of the input sums
    cell-for-cell to the one-shot vector — including empty and
    single-row segments."""
    toks = _tokens()
    direct = _vec(ams_build(_df(spark, toks), "token", 16))
    cuts = [0, 1, 1, 57, len(toks)]  # empty segment + 1-row segment
    merged: dict[int, int] = {}
    for lo, hi in zip(cuts, cuts[1:]):
        seg = _df(spark, toks[lo:hi])
        for j, x in _vec(ams_build(seg, "token", 16)).items():
            merged[j] = merged.get(j, 0) + x
    # empty segments contribute no cells; absent == 0
    assert {j: x for j, x in merged.items()} == direct


def test_ams_estimate_brackets_f2(spark):
    """est_x32/32 from 64 counters lands within 50% of exact F2 on the
    skewed fixture (the driver query certifies 35% on the warehouse
    tables; the fixture is tiny so the bound is looser here)."""
    toks = _tokens()
    est_x32 = ams_f2_estimate(
        ams_build(_df(spark, toks), "token", 64), 64, 4
    ).collect()[0].est_x2p
    from collections import Counter
    f2 = sum(c * c for c in Counter(toks).values())
    assert abs(est_x32 - 32 * f2) <= 0.5 * 32 * f2


def _write_file(path, tokens):
    with open(path, "w") as fh:
        for t in tokens:
            fh.write(json.dumps({"token": t}) + "\n")


def _stream_src(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    b0 = _tokens()[:80]
    b1 = _tokens()[80:] + ["hot"] * 5  # keys repeat across batches
    _write_file(src / "a.json", b0)
    _write_file(src / "b.json", b1)
    os.utime(src / "a.json", (1_000_000, 1_000_000))
    os.utime(src / "b.json", (2_000_000, 2_000_000))
    return src, b0 + b1, b0


def test_stream_ams_equals_batch_and_replay_idempotent(spark, tmp_path):
    src, rows, b0 = _stream_src(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(AMS, s, state, str(tmp_path / "ckpt"), "token", 16
                  ).awaitTermination(120)
    streamed = _vec(summary.read(AMS, spark, state))
    batch = _vec(ams_build(_df(spark, rows), "token", 16))
    assert streamed == batch
    # crash-replay batch 0: overwrite-by-tag keeps the state identical
    summary.batch_handler(AMS, state, "token", 16)(_df(spark, b0), 0)
    assert _vec(summary.read(AMS, spark, state)) == batch


def test_ams_compaction_is_answer_invariant_and_append_safe(spark,
                                                            tmp_path):
    src, rows, _ = _stream_src(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(AMS, s, state, str(tmp_path / "ckpt"), "token", 16
                  ).awaitTermination(120)
    before = _vec(summary.read(AMS, spark, state))
    summary.compact(AMS, spark, state)
    assert _vec(summary.read(AMS, spark, state)) == before
    # post-compaction batch lands above the watermark and is counted
    extra = ["hot"] * 7 + ["new"]
    summary.batch_handler(AMS, state, "token", 16)(_df(spark, extra), 99)
    assert _vec(summary.read(AMS, spark, state)) == _vec(
        ams_build(_df(spark, rows + extra), "token", 16))


# ---------------------------------------------------------------- KMV ----
def _hashes(df):
    return sorted(r.h for r in df.collect())


def test_kmv_union_then_truncate_theorem(spark):
    """trunc_k(trunc_k(A) ∪ trunc_k(B)) == trunc_k(A ∪ B), with
    OVERLAPPING batches (shared keys must dedup, not double-keep)."""
    a = [f"k{i}" for i in range(40)]
    b = [f"k{i}" for i in range(20, 70)]  # 20 keys shared with a
    k = 8
    direct = _hashes(kmv_of(_df(spark, a + b), "token", k))
    pa = kmv_of(_df(spark, a), "token", k)
    pb = kmv_of(_df(spark, b), "token", k)
    merged = _hashes(pa.unionByName(pb).distinct().orderBy("h").limit(k))
    assert merged == direct and len(direct) == k


def test_stream_kmv_equals_batch_and_replay_idempotent(spark, tmp_path):
    src, rows, b0 = _stream_src(tmp_path)
    state = str(tmp_path / "state")
    k = 8
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(KMV, s, state, str(tmp_path / "ckpt"), "token", k
                  ).awaitTermination(120)
    streamed = _hashes(summary.read(KMV, spark, state, k))
    batch = _hashes(kmv_of(_df(spark, rows), "token", k))
    assert streamed == batch
    summary.batch_handler(KMV, state, "token", k)(_df(spark, b0), 0)
    assert _hashes(summary.read(KMV, spark, state, k)) == batch


def test_kmv_compaction_is_answer_invariant_and_append_safe(spark,
                                                            tmp_path):
    src, rows, _ = _stream_src(tmp_path)
    state = str(tmp_path / "state")
    k = 8
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(KMV, s, state, str(tmp_path / "ckpt"), "token", k
                  ).awaitTermination(120)
    before = _hashes(summary.read(KMV, spark, state, k))
    summary.compact(KMV, spark, state, k)
    assert _hashes(summary.read(KMV, spark, state, k)) == before
    # a later batch with smaller hashes displaces cells correctly
    extra = [f"z{i}" for i in range(200)]  # 200 fresh keys
    summary.batch_handler(KMV, state, "token", k)(_df(spark, extra), 99)
    assert _hashes(summary.read(KMV, spark, state, k)) == _hashes(
        kmv_of(_df(spark, rows + extra), "token", k))


def test_r10_wave23_plans_clean(spark, sf_dir):
    """The AMS/sampling/graph wave must stay cartesian-free and keep
    its scale shapes: AMS builds are map-side-combined groupBys to
    bounded cells (the 1-row estimate crossJoin broadcasts), the
    sampling queries compile their top-k to TakeOrderedAndProject
    (per-partition top-k + driver merge, never a global Sort), and
    the clustering-coefficient joins are all equi-joins."""
    from light_etl_windows_container_poc_spark.plans import formatted_plan
    from light_etl_windows_container_poc_spark.queries import QUERIES

    for name in ("ams_f2_sketch", "ams_f2_bounds",
                 "weighted_sample_merge", "graph_clustering_coeff"):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name == "weighted_sample_merge":
            assert "TakeOrderedAndProject" in plan, name


def test_compaction_sweeps_crash_replayed_subsumed_batch(spark, tmp_path):
    """A crash-replay can rewrite a batch_tag at or below the
    compaction watermark: readers already ignore it, but before the
    shared-sweep fix the dir leaked on disk forever. The next
    compaction must reclaim it without changing the answer."""
    src, rows, b0 = _stream_src(tmp_path)
    state = str(tmp_path / "state")
    s = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", 1).json(str(src)))
    summary.start(AMS, s, state, str(tmp_path / "ckpt"), "token", 16
                  ).awaitTermination(120)
    summary.compact(AMS, spark, state)  # watermark now covers batch 0/1
    answer = _vec(summary.read(AMS, spark, state))
    # crash-replay batch 0 AFTER compaction: orphan dir below watermark
    summary.batch_handler(AMS, state, "token", 16)(_df(spark, b0), 0)
    assert os.path.isdir(os.path.join(state, "batch_tag=0"))
    assert _vec(summary.read(AMS, spark, state)) == answer  # readers ignore it
    # a real new batch + the next compaction sweeps the orphan
    summary.batch_handler(AMS, state, "token", 16)(_df(spark, ["zz"]), 99)
    summary.compact(AMS, spark, state)
    assert not os.path.isdir(os.path.join(state, "batch_tag=0"))
    expect = _vec(ams_build(_df(spark, rows + ["zz"]), "token", 16))
    assert _vec(summary.read(AMS, spark, state)) == expect
