"""Streaming inverted-index maintenance for BM25 ranked retrieval —
the lexical-search index of queries/breadth14.bm25_search kept fresh
from a Structured Streaming source via foreachBatch, completing the
index-maintenance trio (ANN vectors: ann_maintenance.py; minhash
near-dup: operators/incremental.py; lexical postings: here). A 100 TB
corpus grows by appends; rebuilding a corpus-wide index per batch is a
full rescan, while this maintainer lands each micro-batch's OWN
postings under its batch_tag and serves queries from the read-time
union.

Exactness: postings partition BY DOCUMENT, and an append-only corpus
means batches carry disjoint doc_id sets (same disjointness contract as
qsketch_merge's segments), so the union of per-batch partials IS the
inverted index of the full corpus — cell-for-cell, no reconciliation
step. Corpus statistics (N, avgdl, per-term df) are recomputed from the
merged relation at query time, so a query sees exactly the statistics a
batch build over the same corpus would use; the pytest twin certifies
`bm25_topk` over streamed state row-identical to the batch
`bm25_search` query at the same parameters.

State layout per batch_tag: ONE relation (tok, doc_id, tf, dl, pos) —
POSITIONAL postings (pos = sorted 0-based token offsets), so the same
maintained state answers ranked bag-of-words queries (bm25_topk),
exact phrase queries (phrase_topk) and ordered proximity queries
(proximity_topk — phrase's slop generalization). Rows with tok IS NULL are the
per-document stat rows (one per ingested doc, tf = 0, pos NULL) — they
exist so documents with NO tokens still count in N and avgdl, which
the batch query's statistics include. `words()` never emits an empty
token, so NULL cannot collide with a real term. Takedown tombstones
(tok NULL, tf = -1) land under the separate ``_tombstones/batch_tag=N``
namespace — outside the posting manifest's watermark, so deletes never
interfere with posting batch ids (see the takedown section).

State protocol: streaming/summary.py — overwrite-by-batch_tag makes
crash replays idempotent, and compaction folds live partials into one
generation via the shared manifest — answer-INVARIANT because the merge
is a plain union (postings are already minimal state; compaction here
buys file-count reduction and term-clustered row groups, not mass
reduction). The compacted generation is sorted within partitions by tok
so parquet row-group statistics prune query-term filters — the scale
move that keeps query cost proportional to matching postings, not
corpus size.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.texts import words
from .summary import Summary, compact, live_partial_dirs

_SCHEMA = "tok string, doc_id long, tf long, dl long, pos array<int>"


def bm25_partial(batch: DataFrame, id_col: str,
                 text_col: str) -> DataFrame:
    """The inverted-index rows a set of documents contributes:
    (tok, doc_id, tf, dl, pos) POSITIONAL postings — pos is the sorted
    0-based token-offset list, the column that turns the index from
    bag-of-words into phrase-capable (see `phrase_topk`) at the cost
    of one int per token occurrence — plus one tok-NULL stat row per
    document. One tokenize pass; the explode→groupBy shuffle is
    proportional to the batch's tokens, never the corpus."""
    # NULL text → empty doc, not a poisoned stat row (size(NULL) is -1)
    d = (batch.select(F.col(id_col).alias("doc_id"),
                      words(F.coalesce(F.col(text_col), F.lit("")))
                      .alias("w"))
         .withColumn("dl", F.size("w").cast("long")))
    postings = (d.select("doc_id", "dl",
                         F.posexplode("w").alias("p", "tok"))
                .groupBy("doc_id", "dl", "tok")
                .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                     F.sort_array(F.collect_list(F.col("p").cast("int")))
                     .alias("pos")))
    stat = d.select(F.lit(None).cast("string").alias("tok"), "doc_id",
                    F.lit(0).cast("long").alias("tf"), "dl",
                    F.lit(None).cast("array<int>").alias("pos"))
    return (postings.select("tok", "doc_id", "tf", "dl", "pos")
            .unionByName(stat))


_TOMBSTONE_SUBDIR = "_tombstones"


def _tombstone_dirs(state_dir: str) -> list[str]:
    """Landed tombstone batch directories. Tombstones live under their
    own ``_tombstones/`` namespace, NOT under the posting stream's
    batch_tag= namespace: the compaction manifest's watermark covers
    numeric posting batch ids, and a tombstone batch sharing that
    namespace would RAISE the watermark past every later posting
    micro-batch — silently excluding and then sweeping fresh ingest.
    The separate namespace keeps delete-batch ids (their own
    checkpointed stream, starting at 0) and posting-batch ids fully
    independent."""
    root = os.path.join(state_dir, _TOMBSTONE_SUBDIR)
    return [os.path.join(root, d) for d in live_partial_dirs(root)]


def _postings(spark: SparkSession, state_dir: str,
              dirs: list[str]) -> DataFrame:
    """The named posting partials plus every landed tombstone row."""
    paths = [os.path.join(state_dir, d) for d in dirs]
    paths += _tombstone_dirs(state_dir)
    if not paths:
        return spark.createDataFrame([], _SCHEMA)
    return spark.read.schema(_SCHEMA).parquet(*paths)


def _alive_postings(spark: SparkSession, state_dir: str,
                    dirs: list[str]) -> DataFrame:
    """The compaction merge: tombstoned docs' postings physically
    removed, term-sorted within partitions."""
    return (bm25_alive(_postings(spark, state_dir, dirs))
            .sortWithinPartitions("tok"))


# handler/start params: (id_col, text_col)
BM25 = Summary(_SCHEMA, bm25_partial, _alive_postings)


def read_bm25_postings(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full inverted index over everything ingested so far — by the
    disjoint-batch contract, cell-identical to `bm25_partial` over the
    union of all landed batches — plus every landed tombstone row (the
    serve paths go through `bm25_alive`, which applies them)."""
    return _postings(spark, state_dir, live_partial_dirs(state_dir))


def bm25_topk(spark: SparkSession, state_dir: str, terms: tuple[str, ...],
              k1: float = 1.2, b: float = 0.75,
              topk: int = 20) -> DataFrame:
    """Top-k documents for ``terms`` served FROM THE MAINTAINED STATE —
    the same scoring contract as queries/breadth14.bm25_search (Lucene
    +1 idf smoothing, per-term micro-rounding BEFORE the per-doc sum,
    ties on doc_id), certified row-identical to it by pytest.

    Scale shape mirrors the batch query: the term filter hits the
    postings scan first (term-sorted row groups in compacted
    generations prune it further), corpus stats and the |terms|-row df
    relation ride broadcasts, and the final top-k is
    TakeOrderedAndProject — never a global sort. Tombstoned docs (see
    the takedown section below) are excluded from postings AND corpus
    stats, so the served result equals a batch build over the corpus
    minus the deletions."""
    idx = bm25_alive(read_bm25_postings(spark, state_dir))
    dl = idx.filter(F.col("tok").isNull()).select("doc_id", "dl")
    stats = dl.agg(F.count(F.lit(1)).cast("long").alias("n"),
                   (F.sum("dl").cast("double")
                    / F.count(F.lit(1))).alias("avgdl"))
    tf = (idx.filter(F.col("tok").isin(*terms))
          .select("tok", "doc_id", "tf", "dl"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    s_micro = F.round(
        1_000_000.0 * idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b
           + b * F.col("dl") / F.col("avgdl")))).cast("long")
    term = (tf.join(F.broadcast(df_), "tok")
            .crossJoin(F.broadcast(stats))
            .select("doc_id", s_micro.alias("s_micro")))
    scored = (term.groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_terms"),
                   F.sum("s_micro").cast("long").alias("score_micro")))
    top = (scored.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
           .limit(topk))
    w_rank = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .select("doc_id", "n_terms", "score_micro", "rank")
            .orderBy("rank"))


def compact_bm25_state(spark: SparkSession, state_dir: str,
                       drop_tombstones: bool = False) -> None:
    """Fold live POSTING partials into one generation with the BM25
    merge, which reads the landed tombstones and physically removes
    tombstoned docs' postings (the takedown's storage reclaim) —
    answer-invariant because serving already excluded them. Tombstone
    rows live under their own ``_tombstones/`` namespace, which the
    manifest watermark and sweep never touch, so ingest can CONTINUE
    after a delete + compaction with its checkpointed batch ids intact
    (the watermark only ever covers posting ids — regression-tested by
    test_ingest_continues_after_delete_and_compaction). Pass
    ``drop_tombstones=True`` to vacuum the tombstone namespace once
    ingest has provably passed the delete frontier; the vacuum runs
    strictly AFTER the compacted generation (which already excludes the
    deleted postings) is published, so a crash between the two steps
    only leaves harmless tombstones behind."""
    compact(BM25, spark, state_dir)
    if drop_tombstones:
        import shutil

        shutil.rmtree(os.path.join(state_dir, _TOMBSTONE_SUBDIR),
                      ignore_errors=True)


def bm25_topk_batch(spark: SparkSession, state_dir: str,
                    queries: DataFrame, qid_col: str, terms_col: str,
                    k1: float = 1.2, b: float = 0.75,
                    topk: int = 20) -> DataFrame:
    """Serve a BATCH of queries against the maintained index in one
    plan — the realistic serving shape (per-query calls pay fixed job
    latency |queries| times; a 100 TB index answers query batches).

    ``queries``: (qid, array<string> terms). One explode → one
    postings equi-join on tok (the scan prunes to the batch's DISTINCT
    terms, pushed as an isin filter), df per term computed once and
    shared across queries, top-k per query via a window PARTITIONED by
    qid — never a global sort. Scoring is the exact bm25_search
    contract, so a 1-query batch row-matches `bm25_topk` (pytest).

    Returns (qid, doc_id, n_terms, score_micro, rank ≤ topk)."""
    idx = bm25_alive(read_bm25_postings(spark, state_dir))
    dl = idx.filter(F.col("tok").isNull()).select("doc_id", "dl")
    stats = dl.agg(F.count(F.lit(1)).cast("long").alias("n"),
                   (F.sum("dl").cast("double")
                    / F.count(F.lit(1))).alias("avgdl"))
    q = (queries.select(F.col(qid_col).alias("qid"),
                        F.explode(terms_col).alias("tok"))
         .distinct())
    batch_terms = [r.tok for r in q.select("tok").distinct().collect()]
    if not batch_terms:
        # empty-shaped result that preserves the caller's qid type
        return (queries.select(F.col(qid_col).alias("qid")).limit(0)
                .withColumn("doc_id", F.lit(None).cast("long"))
                .withColumn("n_terms", F.lit(None).cast("long"))
                .withColumn("score_micro", F.lit(None).cast("long"))
                .withColumn("rank", F.lit(None).cast("int")))
    tf = (idx.filter(F.col("tok").isin(*batch_terms))
          .select("tok", "doc_id", "tf", "dl"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    s_micro = F.round(
        1_000_000.0 * idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b
           + b * F.col("dl") / F.col("avgdl")))).cast("long")
    term = (tf.join(F.broadcast(q), "tok")
            .join(F.broadcast(df_), "tok")
            .crossJoin(F.broadcast(stats))
            .select("qid", "doc_id", s_micro.alias("s_micro")))
    scored = (term.groupBy("qid", "doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_terms"),
                   F.sum("s_micro").cast("long").alias("score_micro")))
    w_rank = (Window.partitionBy("qid")
              .orderBy(F.col("score_micro").desc(), F.col("doc_id")))
    return (scored.withColumn("rank",
                              F.row_number().over(w_rank).cast("int"))
            .filter(F.col("rank") <= topk)
            .select("qid", "doc_id", "n_terms", "score_micro", "rank")
            .orderBy("qid", "rank"))


# ----------------------------------------------------------------------
# Takedowns: the right-to-be-forgotten path a training-data index needs.
# A tombstone is a row with tok NULL and tf = -1 (stat rows are tok NULL
# tf = 0, postings have tok set — no collision); it lands under
# _tombstones/batch_tag=N — its OWN namespace with its own (delete-
# stream-checkpointed) batch ids, deliberately OUTSIDE the posting
# manifest's watermark. Sharing the posting batch_tag namespace would
# lose data silently: one compaction folding a high delete tag would
# raise the watermark past every later posting micro-batch, excluding
# and then sweeping fresh ingest. Overwrite-by-tag keeps delete replays
# idempotent. Serving anti-joins the (tiny, broadcastable)
# tombstoned-id set; corpus stats (N, avgdl, df) exclude deleted docs,
# so the served result equals a batch build over the corpus MINUS the
# deletions (pytest-certified). Compaction physically removes the
# deleted docs' postings but KEEPS the tombstone namespace by default:
# ids never recur under the append-only contract, and a surviving
# tombstone still suppresses a late-arriving posting batch for the
# same doc; pass drop_tombstones=True once ingest has provably passed
# the delete frontier (a delete replay AFTER the vacuum re-lands
# tombstones for already-reclaimed docs — harmless, the anti-join
# no-ops).
# ----------------------------------------------------------------------

def bm25_tombstones(batch: DataFrame, id_col: str) -> DataFrame:
    """Tombstone rows for a batch of doc ids to delete."""
    return batch.select(
        F.lit(None).cast("string").alias("tok"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(-1).cast("long").alias("tf"),
        F.lit(0).cast("long").alias("dl"),
        F.lit(None).cast("array<int>").alias("pos"))


def bm25_delete_handler(state_dir: str,
                        id_col: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a DELETE stream: land the batch's
    tombstones under ``_tombstones/batch_tag=N`` (overwrite →
    replay-idempotent). The namespace is independent of the posting
    stream's, so delete batch ids (their own checkpointed stream,
    starting at 0) never interact with the posting manifest's
    watermark — see the section comment above for why that separation
    is load-bearing."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        (bm25_tombstones(batch, id_col)
         .write.mode("overwrite")
         .parquet(os.path.join(state_dir, _TOMBSTONE_SUBDIR,
                               f"batch_tag={batch_id}")))

    return handle


def bm25_alive(idx: DataFrame) -> DataFrame:
    """The index relation with tombstoned docs removed (and the
    tombstone rows themselves dropped). The tombstone set is |deletes|
    rows — the anti-join broadcasts it at any realistic delete rate."""
    is_tomb = F.col("tok").isNull() & (F.col("tf") < 0)
    tomb = idx.filter(is_tomb).select("doc_id").distinct()
    return idx.filter(~is_tomb).join(tomb, "doc_id", "left_anti")


def phrase_topk(spark: SparkSession, state_dir: str,
                phrase: tuple[str, ...], topk: int = 20) -> DataFrame:
    """EXACT phrase search from the positional postings — the query
    class a bag-of-words index cannot answer. Each phrase term's
    postings prune the scan (isin on tok, same pushdown as bm25_topk),
    positions explode, and consecutive-offset equi-joins chain the
    terms: a match is a doc position p with term_i at p + i for every
    i. Occurrences per doc = matched start offsets; top-k by count then
    doc_id via TakeOrderedAndProject. Join traffic is proportional to
    the PHRASE TERMS' postings, never the corpus; tombstoned docs are
    excluded like every served path.

    Returns (doc_id, n_occurrences, rank)."""
    if not phrase:
        raise ValueError("phrase_topk needs at least one term")
    idx = bm25_alive(read_bm25_postings(spark, state_dir))
    base = idx.filter(F.col("tok").isin(*set(phrase)))
    legs = None
    for i, t in enumerate(phrase):
        leg = (base.filter(F.col("tok") == t)
               .select("doc_id", F.explode("pos").alias(f"p{i}")))
        if legs is None:
            legs = leg
        else:
            legs = legs.join(
                leg, (legs.doc_id == leg.doc_id)
                & (leg[f"p{i}"] == legs.p0 + i)).drop(leg.doc_id)
    occ = (legs.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences")))
    top = (occ.orderBy(F.col("n_occurrences").desc(), F.col("doc_id"))
           .limit(topk))
    w_rank = Window.orderBy(F.col("n_occurrences").desc(),
                            F.col("doc_id"))
    return (top.withColumn("rank",
                           F.row_number().over(w_rank).cast("int"))
            .select("doc_id", "n_occurrences", "rank").orderBy("rank"))


def proximity_topk(spark: SparkSession, state_dir: str,
                   terms: tuple[str, ...], slop: int = 3,
                   topk: int = 20) -> DataFrame:
    """Ordered proximity search from the positional postings: a match
    is an offset chain p_0 < p_1 < … with every gap in [1, slop] —
    the strict generalization of `phrase_topk` (slop=1 IS exact phrase,
    pytest-certified equal). Each term's postings prune the scan (isin
    on tok, the same pushdown as bm25_topk), chains build by per-leg
    RANGE equi-joins on (doc_id, offset window) — join traffic is
    proportional to the PHRASE TERMS' postings times slop, never the
    corpus; tombstoned docs are excluded like every served path.

    Returns (doc_id, n_matches, rank ≤ topk) by (n_matches DESC,
    doc_id)."""
    if not terms:
        raise ValueError("proximity_topk needs at least one term")
    if slop < 1:
        raise ValueError("slop must be >= 1")
    idx = bm25_alive(read_bm25_postings(spark, state_dir))
    base = idx.filter(F.col("tok").isin(*set(terms)))
    legs = None
    for i, t in enumerate(terms):
        leg = (base.filter(F.col("tok") == t)
               .select("doc_id", F.explode("pos").alias(f"p{i}")))
        if legs is None:
            legs = leg
        else:
            prev = F.col(f"p{i - 1}")
            legs = legs.join(
                leg, (legs.doc_id == leg.doc_id)
                & (leg[f"p{i}"] > prev)
                & (leg[f"p{i}"] <= prev + slop)).drop(leg.doc_id)
    occ = (legs.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_matches")))
    top = (occ.orderBy(F.col("n_matches").desc(), F.col("doc_id"))
           .limit(topk))
    w_rank = Window.orderBy(F.col("n_matches").desc(), F.col("doc_id"))
    return (top.withColumn("rank",
                           F.row_number().over(w_rank).cast("int"))
            .select("doc_id", "n_matches", "rank").orderBy("rank"))
