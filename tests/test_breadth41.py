"""Streaming BM25 inverted-index maintainer (streaming/bm25.py):
token-less docs still counted in corpus stats, streamed state equal to
the batch index, query-from-state row-identical to the certified batch
bm25_search, replay idempotence, and compaction answer-invariance +
append-safety — the ninth generation-manifest payload."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.queries.breadth14 import bm25_search
from light_etl_windows_container_poc_spark.streaming import summary
from light_etl_windows_container_poc_spark.streaming.bm25 import (
    BM25,
    bm25_partial,
    bm25_topk,
    compact_bm25_state,
    read_bm25_postings,
)

TERMS = ("spark", "query", "window")
DOC_SCHEMA = "doc_id long, text string"


def _docs(spark, sf_dir):
    return (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text"))


def _cells(df):
    return {(r.tok, r.doc_id, r.tf, r.dl) for r in df.collect()}


def test_bm25_partial_counts_tokenless_docs(spark):
    df = spark.createDataFrame(
        [(1, "spark spark query"), (2, "   "), (3, "")], DOC_SCHEMA)
    part = bm25_partial(df, "doc_id", "text")
    stats = {r.doc_id: r.dl for r in
             part.filter(F.col("tok").isNull()).collect()}
    assert stats == {1: 3, 2: 0, 3: 0}  # empty docs still count in N/avgdl
    postings = _cells(part.filter(F.col("tok").isNotNull()))
    assert postings == {("spark", 1, 2, 3), ("query", 1, 1, 3)}


def _ingest(spark, sf_dir, tmp_path, n_files=3):
    """Stream the documents table into a fresh state dir in n_files
    disjoint micro-batches; returns the state dir."""
    src = str(tmp_path / "src")
    _docs(spark, sf_dir).repartition(n_files).write.parquet(src)
    state = str(tmp_path / "state")
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(BM25, stream, state, str(tmp_path / "ckpt"),
                      "doc_id", "text")
    q.awaitTermination(120)
    return state


def test_stream_bm25_state_equals_batch_index(spark, sf_dir, tmp_path):
    state = _ingest(spark, sf_dir, tmp_path)
    streamed = _cells(read_bm25_postings(spark, state))
    batch = _cells(bm25_partial(_docs(spark, sf_dir), "doc_id", "text"))
    assert streamed == batch


def test_bm25_topk_from_state_matches_batch_query(spark, sf_dir, tmp_path):
    state = _ingest(spark, sf_dir, tmp_path)
    served = bm25_topk(spark, state, TERMS).collect()
    batch = bm25_search(spark, sf_dir).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in batch]
    assert len(served) > 0  # the fixture corpus matches the terms


def test_bm25_replay_and_compaction_are_answer_invariant(
        spark, sf_dir, tmp_path):
    state = _ingest(spark, sf_dir, tmp_path)
    before = _cells(read_bm25_postings(spark, state))

    # crash-replay: re-land batch 0 from a handler (overwrite-by-tag)
    replay = _docs(spark, sf_dir).limit(5)
    summary.batch_handler(BM25, state, "doc_id", "text")(replay, 0)
    # state content for batch 0 changed shape, but re-running the REAL
    # ingest semantics means replaying the same rows; here we only
    # assert the protocol: the tag was overwritten, not duplicated
    tags = [d for d in os.listdir(state) if d == "batch_tag=0"]
    assert tags == ["batch_tag=0"]
    # restore the true batch content by re-ingesting is not needed for
    # the compaction checks below: rebuild a clean state instead
    state2 = _ingest(spark, sf_dir, tmp_path / "again")
    topk_before = [tuple(r) for r in bm25_topk(spark, state2, TERMS).collect()]

    compact_bm25_state(spark, state2)
    assert summary.live_partial_dirs(state2) == ["batch_tag=compacted_1"]
    assert _cells(read_bm25_postings(spark, state2)) == before
    assert [tuple(r)
            for r in bm25_topk(spark, state2, TERMS).collect()] == topk_before

    # append-safety: a post-compaction batch lands ABOVE the watermark
    extra = spark.createDataFrame(
        [(10_000_001, "spark query window spark")], DOC_SCHEMA)
    summary.batch_handler(BM25, state2, "doc_id", "text")(extra, 99)
    grown = _cells(read_bm25_postings(spark, state2))
    direct = _cells(bm25_partial(
        _docs(spark, sf_dir).unionByName(extra), "doc_id", "text"))
    assert grown == direct
    # the new doc matches all three terms with the top tf — it must rank
    top1 = bm25_topk(spark, state2, TERMS).first()
    assert top1.doc_id == 10_000_001 and top1.n_terms == 3


# ------------------------------------------------------- salting advisor ----
def _skewed(spark):
    rows = ([("hot", i) for i in range(400)]
            + [("warm", i) for i in range(90)]
            + [(f"k{i % 37}", i) for i in range(200)])
    return spark.createDataFrame(rows, "k string, v long")


def test_salting_advice_flags_only_heavy_keys(spark):
    from light_etl_windows_container_poc_spark.operators.scale import (
        salting_advice,
    )

    df = _skewed(spark)  # n=690; fair share at 8 partitions ~ 87 rows
    adv = {r.key: r.factor for r in
           salting_advice(df, "k", n_partitions=8, k=64).collect()}
    assert "hot" in adv
    # true count 400, fair 87 -> true factor 5; est+slack overshoots by
    # at most the MG slack, so the advised factor brackets [5, 6]
    assert 5 <= adv["hot"] <= 6
    # a uniform key (≤ 6 rows each) must not be advised
    assert not any(key.startswith("k") for key in adv)


def test_salted_join_advised_equals_plain_join(spark):
    from light_etl_windows_container_poc_spark.operators.scale import (
        salted_join_advised,
        salting_advice,
    )

    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", 1), ("warm", 2), ("k3", 3), ("absent", 9)],
        "k string, dim long")
    adv = salting_advice(big, "k", n_partitions=8, k=64)
    plain = sorted(tuple(r) for r in big.join(small, "k").collect())
    salted = sorted(tuple(r) for r in
                    salted_join_advised(big, small, "k", adv).collect())
    assert salted == plain

    # the hot key's probe rows actually spread over >1 salt value
    from pyspark.sql import functions as F
    adv_b = F.broadcast(adv.withColumnRenamed("key", "__advkey"))
    spread = (big.join(adv_b, F.col("k") == F.col("__advkey"))
              .withColumn("__salt", (F.rand(seed=42) * F.col("factor"))
                          .cast("int"))
              .filter(F.col("k") == "hot")
              .select("__salt").distinct().count())
    assert spread >= 2


def test_bm25_topk_batch_matches_single_query_path(spark, sf_dir, tmp_path):
    from light_etl_windows_container_poc_spark.streaming.bm25 import (
        bm25_topk_batch,
    )

    state = _ingest(spark, sf_dir, tmp_path)
    qdf = spark.createDataFrame(
        [(1, list(TERMS)), (2, ["spark"]), (3, ["nosuchterm"])],
        "qid long, terms array<string>")
    batch = bm25_topk_batch(spark, state, qdf, "qid", "terms").collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.qid, []).append(
            (r.doc_id, r.n_terms, r.score_micro, r.rank))
    # qid 1 row-matches the single-query serving path
    single = [(r.doc_id, r.n_terms, r.score_micro, r.rank)
              for r in bm25_topk(spark, state, TERMS).collect()]
    assert by_q.get(1) == single
    # qid 2: every hit has exactly the one term
    assert by_q.get(2) and all(n == 1 for _, n, _, _ in by_q[2])
    # qid 3: no postings -> no rows
    assert 3 not in by_q

    # empty-terms batch returns an empty, correctly-typed relation
    empty = bm25_topk_batch(
        spark, state,
        spark.createDataFrame([], "qid long, terms array<string>"),
        "qid", "terms")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "qid", "doc_id", "n_terms", "score_micro", "rank"]


def test_bm25_partial_null_text_is_empty_doc(spark):
    from light_etl_windows_container_poc_spark.streaming.bm25 import (
        bm25_partial,
    )

    df = spark.createDataFrame([(1, None), (2, "spark")], DOC_SCHEMA)
    part = bm25_partial(df, "doc_id", "text")
    stats = {r.doc_id: r.dl for r in
             part.filter(F.col("tok").isNull()).collect()}
    assert stats == {1: 0, 2: 1}  # NULL text counts as an empty doc


def test_salted_join_advised_rejects_right_full(spark):
    import pytest as _pytest

    from light_etl_windows_container_poc_spark.operators.scale import (
        salted_join_advised,
    )

    big = _skewed(spark)
    small = spark.createDataFrame([("hot", 1)], "k string, dim long")
    adv = spark.createDataFrame([("hot", 3)], "key string, factor int")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError):
            salted_join_advised(big, small, "k", adv, how=how)


# ------------------------------------------------------------ takedowns ----
def test_bm25_takedown_serves_corpus_minus_deletions(spark, sf_dir, tmp_path):
    from light_etl_windows_container_poc_spark.streaming.bm25 import (
        bm25_delete_handler,
        bm25_topk,
        compact_bm25_state,
        read_bm25_postings,
    )

    state = _ingest(spark, sf_dir, tmp_path)
    # delete the current top-2 hits plus one arbitrary doc
    top = bm25_topk(spark, state, TERMS).collect()
    gone = [top[0].doc_id, top[1].doc_id, 7]
    dels = spark.createDataFrame([(i,) for i in gone], "doc_id long")
    bm25_delete_handler(state, "doc_id")(dels, 1_000)

    served = [tuple(r) for r in bm25_topk(spark, state, TERMS).collect()]
    assert all(r[0] not in gone for r in served)

    # ground truth: a fresh state over the corpus minus the deletions
    truth_state = str(tmp_path / "truth")
    kept_docs = _docs(spark, sf_dir).filter(~F.col("doc_id").isin(gone))
    summary.batch_handler(BM25, truth_state, "doc_id", "text")(kept_docs, 0)
    truth = [tuple(r) for r in bm25_topk(spark, truth_state, TERMS).collect()]
    assert served == truth

    # replaying the tombstone batch changes nothing (overwrite-by-tag)
    bm25_delete_handler(state, "doc_id")(dels, 1_000)
    assert [tuple(r)
            for r in bm25_topk(spark, state, TERMS).collect()] == served

    # compaction reclaims the deleted postings, keeps the tombstones,
    # and preserves the served answer
    compact_bm25_state(spark, state)
    idx = read_bm25_postings(spark, state)
    assert idx.filter(F.col("doc_id").isin(gone)
                      & F.col("tok").isNotNull()).count() == 0
    n_tombs = idx.filter(F.col("tok").isNull() & (F.col("tf") < 0)).count()
    assert n_tombs == len(gone)
    assert [tuple(r)
            for r in bm25_topk(spark, state, TERMS).collect()] == served

    # drop_tombstones=True vacuums them once the delete frontier passed
    compact_bm25_state(spark, state, drop_tombstones=True)
    idx2 = read_bm25_postings(spark, state)
    assert idx2.filter(F.col("tf") < 0).count() == 0
    assert [tuple(r)
            for r in bm25_topk(spark, state, TERMS).collect()] == served


# -------------------------------------------------------- ANN takedowns ----
def test_ann_takedown_excludes_deleted_neighbors(spark, sf_dir, tmp_path):
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index,
        compact_ivfpq_codes,
        query_ivfpq_index,
        tombstone_ann_ids,
    )
    from light_etl_windows_container_poc_spark.operators.similarity import (
        ann_bruteforce_topk,
    )

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    idx = str(tmp_path / "idx")
    build_ivfpq_index(emb, "vec_id", "embedding", idx, n_clusters=4)
    queries = emb.filter(F.col("vec_id") % 25 == 1)

    # delete the two most-returned neighbors
    before = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                               "embedding", k=5, nprobe=4, rerank=1 << 30)
    top_n = (before.groupBy("n_id").count()
             .orderBy(F.desc("count"), "n_id").limit(2).collect())
    gone = [r.n_id for r in top_n]
    tombstone_ann_ids(
        spark.createDataFrame([(i,) for i in gone], "vec_id long"),
        "vec_id", idx)

    after = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                              "embedding", k=5, nprobe=4, rerank=1 << 30)
    got = {(r.q_id, r.n_id) for r in after.collect()}
    assert all(n not in gone for _, n in got)

    # probe-all + rerank-all == brute force over the corpus MINUS the
    # deletions (the fullprobe-exact theorem surviving the takedown)
    alive = emb.filter(~F.col("vec_id").isin(gone))
    truth = {(r.q_id, r.n_id) for r in
             ann_bruteforce_topk(alive, queries, "vec_id", "embedding",
                                 k=5).collect()}
    assert got == truth

    # compaction physically reclaims the deleted codes; answers hold
    n = compact_ivfpq_codes(spark, idx)
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.filter(F.col("n_id").isin(gone)).count() == 0
    assert n == emb.count() - len(gone)
    after2 = {(r.q_id, r.n_id) for r in
              query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                                "embedding", k=5, nprobe=4,
                                rerank=1 << 30).collect()}
    assert after2 == truth


# ------------------------------------------------------ dedup takedowns ----
def test_dedup_takedown_readmits_future_duplicates(spark, tmp_path):
    from light_etl_windows_container_poc_spark.operators.incremental import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
        tombstone_dedup_ids,
        vacuum_dedup_tombstones,
    )

    idx = str(tmp_path / "didx")
    schema = "doc_id long, text string"
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee")
    text = base + " zulu"
    near = base + " zebra"  # one trailing word differs -> jaccard ~0.92

    # batch A keeps doc 1; batch B's doc 2 is a dup of history
    incremental_exact_dedup(spark.createDataFrame([(1, text)], schema),
                            "doc_id", "text", idx)
    d2 = incremental_exact_dedup(spark.createDataFrame([(2, text)], schema),
                                 "doc_id", "text", idx,
                                 update_index=False).first()
    assert d2.keep == 0 and d2.dup_of_history == 1

    # take down doc 1: a later duplicate is NEW content and is kept
    tombstone_dedup_ids(spark.createDataFrame([(1,)], "doc_id long"),
                        "doc_id", idx)
    d3 = incremental_exact_dedup(spark.createDataFrame([(3, text)], schema),
                                 "doc_id", "text", idx).first()
    assert d3.keep == 1 and d3.dup_of_history == 0
    # and dedup resumes against the re-ingested doc 3
    d4 = incremental_exact_dedup(spark.createDataFrame([(4, text)], schema),
                                 "doc_id", "text", idx,
                                 update_index=False).first()
    assert d4.keep == 0

    # vacuum physically reclaims doc 1's rows; decisions unchanged
    vacuum_dedup_tombstones(spark, idx)
    assert not (tmp_path / "didx" / "tombstones").exists()
    hist = spark.read.parquet(str(tmp_path / "didx" / "exact"))
    assert hist.filter(F.col("keep_id") == 1).count() == 0
    d5 = incremental_exact_dedup(spark.createDataFrame([(5, text)], schema),
                                 "doc_id", "text", idx,
                                 update_index=False).first()
    assert d5.keep == 0  # still a dup — of doc 3 now

    # minhash path: same contract on near-dups
    midx = str(tmp_path / "midx")
    incremental_minhash_dedup(
        spark.createDataFrame([(10, text)], schema), "doc_id", "text",
        midx, num_parts=2)
    m2 = incremental_minhash_dedup(
        spark.createDataFrame([(11, near)], schema), "doc_id", "text",
        midx, num_parts=2, update_index=False).first()
    assert m2.keep == 0 and m2.dup_of_history == 1
    tombstone_dedup_ids(spark.createDataFrame([(10,)], "doc_id long"),
                        "doc_id", midx)
    m3 = incremental_minhash_dedup(
        spark.createDataFrame([(12, near)], schema), "doc_id", "text",
        midx, num_parts=2).first()
    assert m3.keep == 1 and m3.dup_of_history == 0
    vacuum_dedup_tombstones(spark, midx)
    m4 = incremental_minhash_dedup(
        spark.createDataFrame([(13, text)], schema), "doc_id", "text",
        midx, num_parts=2, update_index=False).first()
    assert m4.keep == 0  # near-dup of the re-ingested doc 12


def test_delete_where_removes_key_set_atomically(spark, tmp_path):
    from light_etl_windows_container_poc_spark.sinks import delete_where

    path = str(tmp_path / "wh")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "d"), (None, "e")],
        "id long, v string")
    df.write.parquet(path)

    # empty key set: no-op, no rewrite
    empty = spark.createDataFrame([], "id long")
    assert delete_where(spark, path, empty, ["id"]) == 0

    gone = spark.createDataFrame([(2,), (None,), (99,)], "id long")
    n = delete_where(spark, path, gone, ["id"])
    assert n == 3  # id=2 plus BOTH null-keyed rows; 99 matches nothing
    left = {r.v for r in spark.read.parquet(path).collect()}
    assert left == {"a", "c"}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        delete_where(spark, path,
                     spark.createDataFrame([(1,)], "nope long"), ["nope"])


def test_salted_join_advised_plan_shape(spark):
    """The advised join adds two broadcast advice joins and the
    (key, salt) equi-join — no cartesian, and the big side is never
    shuffled by anything except the join itself."""
    from light_etl_windows_container_poc_spark.operators.scale import (
        salted_join_advised,
    )
    from light_etl_windows_container_poc_spark.plans import formatted_plan

    big = _skewed(spark)
    small = spark.createDataFrame([("hot", 1), ("warm", 2)],
                                  "k string, dim long")
    adv = spark.createDataFrame([("hot", 4)], "key string, factor int")
    plan = formatted_plan(salted_join_advised(big, small, "k", adv))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both advice joins ride broadcasts


# --------------------------------------------------------- phrase search ----
def test_phrase_topk_exact_semantics(spark, tmp_path):
    from light_etl_windows_container_poc_spark.streaming.bm25 import (
        bm25_delete_handler,
        phrase_topk,
    )

    state = str(tmp_path / "pstate")
    docs = spark.createDataFrame(
        [(1, "spark window join fast window join"),   # 2 occurrences
         (2, "window fast join window join slow"),    # 1 occurrence
         (3, "join window"),                          # reversed: 0
         (4, "window windowjoin join"),               # no token split: 0
         (5, "a a a")],                               # overlap fixture
        DOC_SCHEMA)
    summary.batch_handler(BM25, state, "doc_id", "text")(docs, 0)

    got = {(r.doc_id, r.n_occurrences)
           for r in phrase_topk(spark, state, ("window", "join")).collect()}
    assert got == {(1, 2), (2, 1)}

    # overlapping occurrences of a repeated-term phrase all count
    rep = {(r.doc_id, r.n_occurrences)
           for r in phrase_topk(spark, state, ("a", "a")).collect()}
    assert rep == {(5, 2)}

    # single-term phrase degenerates to occurrence count
    one = {(r.doc_id, r.n_occurrences)
           for r in phrase_topk(spark, state, ("join",)).collect()}
    assert one == {(1, 2), (2, 2), (3, 1), (4, 1)}

    # takedown excludes a doc from phrase results too
    bm25_delete_handler(state, "doc_id")(
        spark.createDataFrame([(1,)], "doc_id long"), 99)
    got2 = {(r.doc_id, r.n_occurrences)
            for r in phrase_topk(spark, state, ("window", "join")).collect()}
    assert got2 == {(2, 1)}


def test_ingest_continues_after_delete_and_compaction(spark, tmp_path):
    """Regression for the tombstone/watermark interaction (r10 ADVICE,
    high): tombstones land in their own _tombstones/ namespace, so a
    compaction that folds them must NOT raise the posting manifest's
    watermark past later posting micro-batches. The old contract
    (deletes under a high manual batch_tag) made every posting batch
    landed AFTER delete+compact invisible AND swept it on the next
    compaction — silent index data loss on the module's headline
    use case (append-only corpus that keeps ingesting after
    takedowns)."""
    from light_etl_windows_container_poc_spark.streaming.bm25 import (
        bm25_delete_handler,
    )

    state = str(tmp_path / "state")
    summary.batch_handler(BM25, state, "doc_id", "text")(
        spark.createDataFrame([(1, "spark query"), (2, "spark window")],
                              DOC_SCHEMA), 0)
    summary.batch_handler(BM25, state, "doc_id", "text")(
        spark.createDataFrame([(3, "window query spark")], DOC_SCHEMA), 1)

    # delete doc 2 — the delete stream's OWN batch id 0 must not clobber
    # the posting stream's batch_tag=0
    bm25_delete_handler(state, "doc_id")(
        spark.createDataFrame([(2,)], "doc_id long"), 0)
    compact_bm25_state(spark, state)
    assert {r.doc_id for r in bm25_topk(spark, state, TERMS).collect()} \
        == {1, 3}

    # ingest CONTINUES: the checkpointed posting stream's next ids are
    # small numbers — they must stay above the watermark, be served,
    # and survive the next compaction's sweep
    summary.batch_handler(BM25, state, "doc_id", "text")(
        spark.createDataFrame([(4, "spark spark window")], DOC_SCHEMA), 2)
    summary.batch_handler(BM25, state, "doc_id", "text")(
        spark.createDataFrame([(5, "query window")], DOC_SCHEMA), 3)
    assert {r.doc_id for r in bm25_topk(spark, state, TERMS).collect()} \
        == {1, 3, 4, 5}

    compact_bm25_state(spark, state)
    assert {r.doc_id for r in bm25_topk(spark, state, TERMS).collect()} \
        == {1, 3, 4, 5}
    # the fold physically kept the late batches' postings
    idx = read_bm25_postings(spark, state)
    assert idx.filter(F.col("doc_id").isin(4, 5)
                      & F.col("tok").isNotNull()).count() > 0

    # delete again AFTER compactions, with a reused delete-stream id:
    # overwrite-by-tag idempotence holds in the tombstone namespace too
    bm25_delete_handler(state, "doc_id")(
        spark.createDataFrame([(4,)], "doc_id long"), 1)
    bm25_delete_handler(state, "doc_id")(
        spark.createDataFrame([(4,)], "doc_id long"), 1)
    assert {r.doc_id for r in bm25_topk(spark, state, TERMS).collect()} \
        == {1, 3, 5}

    # vacuum once the frontier passed: tombstones gone, answers stable
    compact_bm25_state(spark, state, drop_tombstones=True)
    idx2 = read_bm25_postings(spark, state)
    assert idx2.filter(F.col("tf") < 0).count() == 0
    assert {r.doc_id for r in bm25_topk(spark, state, TERMS).collect()} \
        == {1, 3, 5}


def test_salted_join_advised_reserved_columns_guarded(spark):
    """r10 ADVICE (low): a user column named 'factor' must survive the
    advised join untouched, and the reserved __-prefixed working
    columns raise a clear error instead of an AnalysisException deep
    in the plan."""
    import pytest as _pytest

    from light_etl_windows_container_poc_spark.operators.scale import (
        salted_join_advised,
    )

    big = _skewed(spark).withColumn("factor", F.col("v") * 10)
    small = spark.createDataFrame(
        [("hot", 1), ("warm", 2)], "k string, dim long")
    adv = spark.createDataFrame([("hot", 3)], "key string, factor int")
    got = salted_join_advised(big, small, "k", adv)
    assert "factor" in got.columns  # the USER's column, not the advice's
    plain = big.join(small, "k")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, plain.collect()))

    for bad in ("__salt", "__salts", "__advkey", "__adv_factor"):
        poisoned = big.withColumn(bad, F.lit(1))
        with _pytest.raises(ValueError, match="reserves columns"):
            salted_join_advised(poisoned, small, "k", adv)


def test_salting_advice_is_one_scan(spark, monkeypatch):
    """The advisor folds n into the MG pass (r10 verdict #6): the input
    relation is scanned exactly ONCE — by the single
    mg_partial_summaries_with_n call whose localCheckpoint materializes
    the partials — and the advised factors must match the two-pass
    formula exactly. Locked structurally (r11 ADVICE): the sketch pass
    is spied to run exactly once, and any reintroduced separate
    count() job inside salting_advice fails loudly."""
    from pyspark.sql import DataFrame

    from light_etl_windows_container_poc_spark.operators import sketches
    from light_etl_windows_container_poc_spark.operators.scale import (
        salting_advice,
    )

    df = _skewed(spark)
    n = df.count()

    calls = []
    real_mg = sketches.mg_partial_summaries_with_n

    def spy_mg(*a, **kw):
        calls.append(a)
        return real_mg(*a, **kw)

    monkeypatch.setattr(sketches, "mg_partial_summaries_with_n", spy_mg)

    def no_count(self):  # a second pass over the input is the regression
        raise AssertionError(
            "salting_advice ran a DataFrame.count() — the advisor must "
            "derive n from the MG partials' carrier rows (one scan)")

    monkeypatch.setattr(DataFrame, "count", no_count)
    try:
        advice_df = salting_advice(df, "k", n_partitions=8, k=64)
    finally:
        monkeypatch.undo()
    assert len(calls) == 1, "expected exactly one MG sketch pass"
    adv = {r.key: r.factor for r in advice_df.collect()}
    # ≤64 distinct keys -> MG is exact; replay the formula
    fair = -(-n // 8)
    slack = -(-n // 64)
    truth = {}
    for row in df.groupBy("k").count().collect():
        f = -(-(row["count"] + slack) // fair)
        if f >= 2:
            truth[row.k] = f
    assert adv == truth


def test_proximity_topk_semantics_and_phrase_equivalence(spark, tmp_path):
    """Ordered chains with gaps in [1, slop]; slop=1 IS exact phrase
    (the generalization theorem), takedowns exclude docs here too."""
    import pytest as _pytest

    from light_etl_windows_container_poc_spark.streaming.bm25 import (
        bm25_delete_handler,
        phrase_topk,
        proximity_topk,
    )

    state = str(tmp_path / "proxstate")
    docs = spark.createDataFrame(
        [(1, "window big join"),          # gap 2 -> slop>=2 only
         (2, "window join"),              # gap 1 -> phrase too
         (3, "join window"),              # wrong order: never
         (4, "window a b c join"),        # gap 4 -> slop>=4 only
         (5, "window join window join")],  # chains: (0,1),(0,3),(2,3)
        DOC_SCHEMA)
    summary.batch_handler(BM25, state, "doc_id", "text")(docs, 0)

    got1 = {(r.doc_id, r.n_matches)
            for r in proximity_topk(spark, state, ("window", "join"),
                                    slop=1).collect()}
    assert got1 == {(2, 1), (5, 2)}
    phr = {(r.doc_id, r.n_occurrences)
           for r in phrase_topk(spark, state, ("window", "join")).collect()}
    assert got1 == phr  # slop=1 == exact phrase

    got2 = {(r.doc_id, r.n_matches)
            for r in proximity_topk(spark, state, ("window", "join"),
                                    slop=2).collect()}
    assert got2 == {(1, 1), (2, 1), (5, 2)}

    got4 = {(r.doc_id, r.n_matches)
            for r in proximity_topk(spark, state, ("window", "join"),
                                    slop=4).collect()}
    assert got4 == {(1, 1), (2, 1), (4, 1), (5, 3)}

    with _pytest.raises(ValueError):
        proximity_topk(spark, state, (), slop=2)
    with _pytest.raises(ValueError):
        proximity_topk(spark, state, ("a",), slop=0)

    bm25_delete_handler(state, "doc_id")(
        spark.createDataFrame([(5,)], "doc_id long"), 0)
    got2b = {(r.doc_id, r.n_matches)
             for r in proximity_topk(spark, state, ("window", "join"),
                                     slop=2).collect()}
    assert got2b == {(1, 1), (2, 1)}
