"""Mergeable quantile sketch via deterministic adaptive level-sampling
— the repo's OWN quantile summary, completing the construction-certified
sketch family (Misra-Gries, Count-Min, streaming histogram, HLL grid,
KMV are the other five).

Design (and why not a verbatim KLL): KLL/GK compactors carry
SEQUENCE-dependent state — which items survive depends on arrival
order and on the merge tree, so two executors reducing the same data in
different orders produce different (all individually valid) sketches.
At 100 TB that means a distributed build is not reproducible and no
order-independent SQL oracle can replay it cell-exactly. This sketch
keeps KLL's essential mechanism — geometric level assignment, keep the
top levels, weight 2^level — but draws each row's level from the md5
bridge instead of from compaction history:

    u(row)  = first 13 md5 hex nibbles of the row key  (52 uniform bits)
    lvl(row) = 52 − bit_length(u)        (P[lvl ≥ L] = 2^−L)
    L*       = min L such that |{rows : lvl ≥ L}| ≤ cap
    sketch   = (L*, {(key, value, lvl) : lvl ≥ L*})

so the sketch of a dataset is a pure FUNCTION of its rows: any
partitioning, any merge order, any replay produces the identical cell
set (the property the certification queries hash). This is adaptive /
distinct sampling (Flajolet 1990; Gibbons 2001) applied to rank
queries: est_rank(v) = 2^L* · |{kept : value ≤ v}| is unbiased with
std-error ≈ sqrt(n·2^L*) ≤ n/sqrt(cap/2), the sampling error of KLL's
top levels without its compactor terms.

Merge is EXACT, not approximate: level counts add; cnt_ge is
monotone-increasing under union, so L*(A∪B) ≥ max(L*(A), L*(B)) — every
cell of the merged sketch is present in some input sketch, and
merge(sketch(A), sketch(B)) == sketch(A∪B) cell-for-cell (property-
tested and driver-hashed). That makes the streaming maintainer's state
replay-safe under the generation-manifest protocol and a distributed
tree-reduce deterministic — the two properties a 100 TB ingest needs
and KLL lacks.

Scale shape: one scan computes levels; the histogram is ≤ 53 rows
(value-independent); the kept set is ≤ cap rows pre-filtered by
`lvl >= coarse floor` before any shuffle when n is known large. No
data-sized window, no driver collect of row data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def qsketch_level(key: Column) -> Column:
    """Deterministic geometric level of one row key — the shared
    Spark/DuckDB bridge: 52 − bit_length(first 52 md5 bits): u < 2^(52−L) ⟺ lvl ≥ L, so
    P[lvl ≥ L] = 2^−L exactly. u = 0
    (probability 2^−52) maps to bit_length('0') = 1 → level 51, the
    same corner convention as the HLL grid's rho."""
    u = F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10) \
         .cast("long")
    return (F.lit(52) - F.length(F.bin(u))).cast("long")


def qsketch_levels(df: DataFrame, key_col: str, val_col: str) -> DataFrame:
    """(key, val, lvl) for every row — the sketch's raw material."""
    return df.select(F.col(key_col).alias("key"),
                     F.col(val_col).alias("val"),
                     qsketch_level(F.col(key_col)).alias("lvl"))


def qsketch_hist(levels: DataFrame) -> DataFrame:
    """(lvl, cnt) level histogram — ≤ 53 rows regardless of data size;
    the only state the L* decision needs."""
    return levels.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))


def qsketch_lstar(hist: DataFrame, cap: int) -> DataFrame:
    """One-row (l_star, n_total) from a level histogram:
    L* = (largest level whose suffix-count exceeds cap) + 1, or 0 when
    nothing exceeds cap. Stated over ALL integers, not just present
    levels — cnt_ge is a step function, so the max-overfull-plus-one
    form is exact even when level L*−1 has no rows. The suffix-sum
    window is over the ≤ 53-row histogram — bounded by construction,
    never by data."""
    from pyspark.sql import Window as W

    w = (W.orderBy(F.desc("lvl"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    cg = hist.withColumn("cnt_ge", F.sum("cnt").over(w))
    return (cg.agg(
        F.coalesce(F.max(F.when(F.col("cnt_ge") > cap, F.col("lvl"))) + 1,
                   F.lit(0)).cast("long").alias("l_star"),
        F.sum("cnt").cast("long").alias("n_total")))


def qsketch_build(df: DataFrame, key_col: str, val_col: str,
                  cap: int) -> DataFrame:
    """The full sketch relation: ≤ cap rows (key, val, lvl) with
    lvl ≥ L*, plus the l_star/n_total scalars on every row (they ARE
    part of the sketch — the estimator needs 2^L* and readers need n).
    One scan, one ≤ 53-row histogram aggregate, one broadcast filter.

    Out-of-model corner (documented, not special-cased): the kept set
    is empty for NON-empty input only when more than cap rows share
    the maximum present level — probability < 2^−cap under md5, i.e.
    only with hash-ADVERSARIAL keys, the regime that equally defeats
    every md5-keyed sketch here (HLL, KMV, MinHash). A segment in that
    state carries no rows, so downstream merges degrade to ignoring it
    (null scalars are skipped by the merge aggregates) rather than
    poisoning the result."""
    levels = qsketch_levels(df, key_col, val_col)
    ls = qsketch_lstar(qsketch_hist(levels), cap)
    return (levels.crossJoin(F.broadcast(ls))
            .filter(F.col("lvl") >= F.col("l_star")))


def merge_sketch_parts(cells: DataFrame, scal: DataFrame,
                       cap: int) -> DataFrame:
    """The shared L* re-decision over merged sketch parts — the ONE
    implementation behind qsketch_merge, the streaming QSKETCH merge, and
    the grouped rollup (a fix here fixes all three or the certified
    theorem diverges between them).

    ``cells``: the union of kept (key, val, lvl) rows across segments
    (disjoint per-segment row sets). ``scal``: one row (n_total,
    ls_floor) — summed totals and the max per-segment L*. Re-decides
    L* over the union histogram floored at ls_floor and filters; see
    qsketch_merge for the exactness proof."""
    from pyspark.sql import Window as W

    hist = cells.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w = (W.orderBy(F.desc("lvl"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    over = (hist.withColumn("cnt_ge", F.sum("cnt").over(w))
            .agg(F.coalesce(
                F.max(F.when(F.col("cnt_ge") > cap, F.col("lvl"))) + 1,
                F.lit(0)).cast("long").alias("l_over")))
    ls = (over.crossJoin(F.broadcast(scal))
          .select(F.greatest("l_over", "ls_floor").cast("long")
                  .alias("l_star"), "n_total"))
    return (cells.crossJoin(F.broadcast(ls))
            .filter(F.col("lvl") >= F.col("l_star")))


def qsketch_merge(sketches: list[DataFrame], cap: int) -> DataFrame:
    """Merge per-segment sketches into the sketch of the union —
    EXACTLY (cell-for-cell equal to a direct build over the union).

    Correctness: levels are row-intrinsic, so for every L ≥
    M := max(L*_seg), the union's suffix-count over KEPT cells equals
    the suffix-count over all rows (each segment keeps every row with
    lvl ≥ L*_seg ≤ M ≤ L). The union's L* is ≥ M (cnt_ge only grows
    under union), and its overfull witness level L*−1 — when L* > M —
    lies at ≥ M where kept counts are exact; below M the kept counts
    only UNDERcount, so max(computed-L*, M) is exactly the direct
    build's L*. Each input must be qsketch_build's output shape (its
    full kept set with l_star/n_total on every row); per-segment rows
    must be disjoint across inputs."""
    if not sketches:
        raise ValueError("qsketch_merge needs at least one sketch")
    # pin each ≤ cap-row input once: its rows feed the cells union AND
    # the scalar aggregate, and the merged cells are scanned twice more
    # downstream (histogram + final filter) — without the checkpoint
    # every input's full build lineage re-executes ~3×
    sketches = [s.select("key", "val", "lvl", "l_star", "n_total")
                .localCheckpoint(eager=True) for s in sketches]
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    cells = u.select("key", "val", "lvl")
    # per-segment scalars: n_total sums, the L* floor is the max —
    # each segment's scalars are constant over its rows, so max/sum of
    # the per-segment maxima via a distinct on the (tiny) scalar pairs
    # would break if two segments shared both values; aggregate the
    # per-input one-row frames instead
    scal = None
    for s in sketches:
        t = s.agg(F.max("n_total").alias("nt"), F.max("l_star").alias("ls"))
        scal = t if scal is None else scal.unionByName(t)
    scal = scal.agg(F.sum("nt").cast("long").alias("n_total"),
                    F.max("ls").cast("long").alias("ls_floor"))
    return merge_sketch_parts(cells, scal, cap)
