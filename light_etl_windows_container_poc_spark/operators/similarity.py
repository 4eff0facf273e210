"""Similarity search over embedding columns.

- ``cosine_pairs``: all-pairs above a threshold — exact; the self-join is
  the baseline. At corpus scale, pre-bucket with ``ann_lsh_pairs`` instead.
- ``ann_bruteforce_topk``: exact top-k for a (small) query set — the query
  side is BROADCAST, so the big side streams once with no shuffle; the
  top-k is a per-query window. This is the exact-recall baseline.
- ``ann_lsh_topk``: random-hyperplane bucketing; queries only compare
  against their bucket (+multiprobe neighbors). Recall measured in tests
  against the brute-force ground truth.
- ``cosine_topk_pandas``: numpy/Arrow variant of brute force (matrix
  multiply per batch) — the measured fast path when k·|queries| is large.
"""

from __future__ import annotations

import math
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import dot, hyperplane_sign_bits, to_double


def _l2_normalize_rows(m):
    """Row-L2-normalize a numpy matrix with the zero-norm guard every
    normalization site needs: a zero vector would otherwise produce a
    NaN row whose sims sort as LARGEST under argpartition/lexsort, fill
    top-t slots, and then vanish at the isfinite filter — silently
    shrinking real candidate sets (and in `pq_train`, poisoning
    centroids to NaN). Zero rows stay zero (sim 0 to everything)."""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _local_topt_ids(s, cid, t):
    """Per-query local top-``t`` candidate indices from a (nq, batch)
    score matrix, DETERMINISTIC AND TIE-SAFE: ordered by (sim DESC,
    n_id ASC) — the same tie-break the final exact-re-rank window uses.
    `argpartition` breaks ties arbitrarily, so with >t tied scores in
    one batch (duplicate embeddings) the smallest-id tied neighbor
    could be evicted BEFORE the exact re-rank, diverging from the
    certified (sim DESC, n_id) ranking; lexsort keeps/orders tied
    candidates by id. Cost is one O(b log b) row sort per query —
    noise next to the GEMM that produced ``s``."""
    import numpy as np

    cid_b = np.broadcast_to(cid[None, :], s.shape)
    order = np.lexsort((cid_b, -s), axis=1)  # primary -s asc, then cid asc
    return order[:, :t]


def _prep(df: DataFrame, id_col: str, vec_col: str, id_alias: str,
          vec_alias: str, nrm_alias: str) -> DataFrame:
    """(id, double-cast vector, L2 norm) — cast and norm computed ONCE per
    row. Scoring N·M pairs with the raw `cosine()` expression re-casts both
    arrays and re-folds both norms PER PAIR (higher-order functions don't
    codegen, and Catalyst won't CSE them across the join): 3 interpreted
    folds per pair instead of 1. Precomputing turned the sf0.1 all-pairs
    dedup from 86s into the dot-fold-only cost (~3×). `dot(va,vb)/(na·nb)`
    is bit-identical to `cosine(va,vb)` — same subtrees, evaluated once."""
    v = to_double(F.col(vec_col))
    out = df.select(F.col(id_col).alias(id_alias), v.alias(vec_alias))
    return out.withColumn(
        nrm_alias, F.sqrt(dot(F.col(vec_alias), F.col(vec_alias))))


def cosine_pairs(df: DataFrame, id_col: str, vec_col: str,
                 threshold: float) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (a_id < b_id)."""
    a = _prep(df, id_col, vec_col, "a_id", "va", "na")
    b = _prep(df, id_col, vec_col, "b_id", "vb", "nb")
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (a.join(b, F.col("a_id") < F.col("b_id"))
            .withColumn("sim", sim)
            .filter(F.col("sim") >= threshold)
            .select("a_id", "b_id", "sim"))


def ann_bruteforce_topk(corpus: DataFrame, queries: DataFrame,
                        id_col: str, vec_col: str, k: int = 5,
                        pad: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (excluding itself).

    Scale shape (the knn_graph_topk pattern): the query matrix is
    collected and rides the task closure (the documented-small query
    side, same contract as `cosine_topk_pandas`), each Arrow batch of
    the corpus runs ONE numpy GEMM and emits only its LOCAL
    top-(k+pad) candidates per query — so no exchange ever carries the
    |queries|·|corpus| scored relation; the shuffle holds
    |queries|·n_batches·(k+pad) candidate rows. (The previous
    formulation windowed the full scored relation into |queries|
    partitions — each partition corpus-sized, a scale-killer.)

    Exactness: every batch's true top-(k+pad) is a superset of the
    global top-k restricted to that batch; survivors are re-scored with
    the exact left-fold expression (bit-identical to the naive plan and
    DuckDB's list kernel) and re-ranked, with ``pad`` absorbing
    ulp-level GEMM-vs-fold rank flips at each batch's cut line — the
    same argument `knn_graph_topk` documents."""
    import numpy as np

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _l2_normalize_rows(np.array(
        [[float(x) for x in r[1]] for r in q_rows], dtype=np.float64))
    m = k + pad

    def cand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _l2_normalize_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            cid = pdf[id_col].to_numpy(dtype=np.int64)
            s = qm @ cm.T  # (nq, batch)
            s[q_ids[:, None] == cid[None, :]] = -np.inf  # no self-match
            t = min(m, s.shape[1])
            idx = _local_topt_ids(s, cid, t)
            sims = np.take_along_axis(s, idx, axis=1).ravel()
            keep = np.isfinite(sims)
            yield pd.DataFrame({"q_id": np.repeat(q_ids, t)[keep],
                                "n_id": cid[idx.ravel()][keep]})

    cand_df = (corpus.select(id_col, vec_col)
               .mapInPandas(cand, "q_id long, n_id long"))
    q = _prep(queries, id_col, vec_col, "q_id", "qv", "nq")
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
    scored = (cand_df.join(F.broadcast(q), "q_id").join(c, "n_id")
              .filter(F.col("q_id") != F.col("n_id"))
              .withColumn("sim", dot(F.col("qv"), F.col("nv"))
                          / (F.col("nq") * F.col("nn"))))
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "sim", "rank"))


def make_hyperplanes(dim: int, num_planes: int = 12,
                     seed: int = 7) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-bit LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(num_planes)]


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, k: int = 5, dim: int = 64,
                 num_planes: int = 10, multiprobe: int = 1,
                 seed: int = 7) -> DataFrame:
    """Approximate top-k: compare only within matching hyperplane-sign
    buckets (plus buckets at hamming distance ≤ multiprobe). The corpus
    bucket id is a plan-time expression — bucketing 100 TB is a map-only
    pass; the candidate join is an equi-join on the bucket key."""
    planes = make_hyperplanes(dim, num_planes, seed)
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn").withColumn(
        "bucket", hyperplane_sign_bits(F.col("nv"), planes))
    q = _prep(queries, id_col, vec_col, "q_id", "qv", "nq").withColumn(
        "qb", hyperplane_sign_bits(F.col("qv"), planes))
    # multiprobe: also visit buckets differing in ≤ `multiprobe` sign bits
    # (any depth — sum of C(num_planes, d) XOR masks, plan-time literals)
    from itertools import combinations

    masks = [0]
    for d in range(1, multiprobe + 1):
        masks += [sum(1 << i for i in bits)
                  for bits in combinations(range(num_planes), d)]
    probes = [F.col("qb").bitwiseXOR(F.lit(m)) if m else F.col("qb")
              for m in masks]
    q_probed = (q.select("q_id", "qv", "nq",
                         F.explode(F.array(*probes)).alias("bucket")))
    scored = (c.join(F.broadcast(q_probed), "bucket")
              .filter(F.col("q_id") != F.col("n_id"))
              .withColumn("sim", dot(F.col("qv"), F.col("nv"))
                          / (F.col("nq") * F.col("nn"))))
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "sim", "rank"))


def cosine_topk_pandas(corpus: DataFrame, queries: DataFrame, id_col: str,
                       vec_col: str, k: int = 5) -> DataFrame:
    """numpy/Arrow brute force: per Arrow batch, one (batch × queries)
    matrix multiply against the collected (small) query matrix. Same
    result as ann_bruteforce_topk; measured alternative for wide fan-out."""
    import numpy as np

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    qm = _l2_normalize_rows(np.array([r[1] for r in q_rows],
                                     dtype=np.float64))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = _l2_normalize_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            sims = m @ qm.T  # (batch, nq)
            out = {
                "q_id": np.repeat(q_ids, len(pdf)),
                "n_id": np.tile(pdf[id_col].to_numpy(), len(q_ids)),
                "sim": sims.T.ravel(),
            }
            yield pd.DataFrame(out)

    scored = (corpus.select(id_col, vec_col)
              .mapInPandas(score, "q_id long, n_id long, sim double")
              .filter(F.col("q_id") != F.col("n_id")))
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "sim", "rank"))


# Minimum GEMM work per grid cell before the parallelism floor stops
# splitting: ~128 MFLOP ≈ 20-40 ms of single-threaded numpy — the point
# where the per-task fixed cost (Arrow decode of both blocks + Python
# worker round-trip, ~10-20 ms) stops dominating. (n/nb)²·dim·2 ≥ this.
_MIN_CELL_FLOPS = 128e6


def _pack_blocks(b: DataFrame) -> DataFrame:
    """(id, v, blk) → one row per block: aligned flat arrays
    (ids: array<long>, flat: array<double> = row-major concat of vectors)
    plus the block's max vector length as ``dim``.

    Two collect_lists in ONE aggregate see rows in the same order, so ids
    and vectors stay aligned; `flatten` turns array<array<double>> into a
    single contiguous list whose Arrow buffer numpy can reshape without
    per-element conversion. The previous array<struct<id, vector>> packing
    paid a per-element struct decode in the Python worker that dominated
    each cell (sf0.1: ~12% of the whole blocked stage). NOTE: a null
    vector would desync ids from flat — callers' vector columns are
    non-null by contract (a null crashed the struct path too). ``dim``
    (one int per block) makes the unpack check COMPLETE: collect_list
    silently skips nulls and `flatten` hides ragged lengths, and the old
    modulo test passed whenever ids.size happened to divide the element
    count; `flat.size == ids.size * max(len(v))` fails iff any vector is
    missing or shorter than the longest (sum of n lengths ≤ max equals
    n·max only when all equal max), so a desync can never silently
    reshape into wrong-dim rows (r15 advisory)."""
    return b.groupBy("blk").agg(F.collect_list("id").alias("ids"),
                                F.flatten(F.collect_list("v")).alias("flat"),
                                F.max(F.size("v")).alias("dim"))


def _unpack_block(ids_cell, flat_cell, dim_cell):
    """Aligned (ids, flat, dim) arrow cells → (int64 ids, row-major
    matrix). Raises on any id/element-count desync (see _pack_blocks),
    including an all-null block, whose ``dim`` is NULL under ANSI
    ``size`` semantics (-1 under the legacy ones)."""
    import numpy as np

    ids = np.asarray(ids_cell, dtype=np.int64)
    flat = np.asarray(flat_cell, dtype=np.float64)
    dim = -1 if dim_cell is None else int(dim_cell)
    if ids.size == 0 or flat.size != ids.size * dim:
        raise ValueError(
            f"block desync: {ids.size} ids x dim {dim} vs {flat.size} "
            "vector elements (null or ragged vector in corpus?)")
    return ids, flat.reshape(ids.size, dim)


def _auto_n_blocks(df: DataFrame, vec_col: str,
                   target_block_bytes: int = 8 << 20) -> int:
    """Derive the GEMM block count from the DATA, not a constant.

    A block is one `collect_list` row: corpus_bytes / n_blocks packed into
    a single array cell. A static n_blocks therefore grows block size
    linearly with the corpus and eventually OOMs an executor. One cheap
    aggregate (count + first vector length — parquet-scan-only, no shuffle)
    sizes blocks to ``target_block_bytes`` (~8 MB: big enough that the
    numpy GEMM amortizes, far under task memory). Floored so the block
    grid still fans out to ~2× the cluster's cores when the corpus is
    small. Block count does NOT affect results — candidates are exhaustive
    over the grid — so callers stay bit-identical at any derived value."""
    # memoized per DataFrame object: composed operators (scaled = blocked
    # candidates + re-score) pass the same df down, and the estimate is a
    # plan-construction-time scan we should pay at most once
    memo = df.__dict__.setdefault("_letl_block_est", {})
    if vec_col in memo:
        n_rows, dim = memo[vec_col]
    else:
        # two tiny jobs instead of one full-column scan: count() needs no
        # columns (parquet answers it from row-group metadata), and the
        # dim probe early-stops at the first non-null vector (ignoring
        # nulls — a null first row would undersize every block)
        n_rows = df.count()
        dim_row = (df.filter(F.col(vec_col).isNotNull())
                   .select(F.size(F.col(vec_col)).alias("dim"))
                   .limit(1).collect())
        dim = dim_row[0]["dim"] if dim_row else 0
        memo[vec_col] = (n_rows, dim)
    row_bytes = dim * 8 + 32  # double elements + array/struct overhead
    from_mem = -(-(n_rows * row_bytes) // target_block_bytes)  # ceil
    par = df.sparkSession.sparkContext.defaultParallelism
    from_par = math.isqrt(max(2 * par - 1, 0)) + 1  # ceil(sqrt(2·par))
    # Work-density cap on the parallelism floor (r14, guide §2.3): each
    # block is shipped to ~nb grid cells, so decode+shuffle bytes grow
    # linearly with nb while per-cell GEMM work shrinks quadratically.
    # Splitting a small corpus just to reach ~2×cores cells makes the
    # stage overhead-bound: below ~128 MFLOP per cell the Arrow decode +
    # task launch dominates the GEMM (sf0.1 A/B, same pair set: nb 8 → 2
    # = 0.98s → 0.43s median-of-5). Cap the floor so a cell never drops
    # under _MIN_CELL_FLOPS; from_mem still wins whenever memory says
    # split more, so block bytes stay bounded at any scale.
    if dim > 0:
        from_work = max(1, int(n_rows * math.sqrt(2 * dim / _MIN_CELL_FLOPS)))
    else:
        from_work = from_par
    return max(from_mem, min(from_par, from_work), 1)


def cosine_pairs_scaled(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float,
                        n_blocks: int | None = None) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with the SCALE-SAFE plan:
    block-GEMM candidate generation (`cosine_pairs_blocked`, slightly
    relaxed threshold to absorb numpy-vs-fold ulp skew) followed by an
    exact re-score of the surviving candidates with the same left-fold
    expression `cosine_pairs` uses — so the result is bit-identical to the
    naive all-pairs theta-join, but the O(n²) work happens inside numpy
    GEMMs over ~MB blocks instead of a BroadcastNestedLoopJoin, and the
    final interpreted folds run only on candidates (≈ output size).

    ``n_blocks=None`` (default) derives the block count from corpus size
    (`_auto_n_blocks`) so block memory stays bounded at any scale."""
    cand = (cosine_pairs_blocked(df, id_col, vec_col,
                                 threshold - 1e-9, n_blocks=n_blocks)
            .select("a_id", "b_id"))
    a = _prep(df, id_col, vec_col, "a_id", "va", "na")
    b = _prep(df, id_col, vec_col, "b_id", "vb", "nb")
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (cand.join(a, "a_id").join(b, "b_id")
            .withColumn("sim", sim)
            .filter(F.col("sim") >= threshold)
            .select("a_id", "b_id", "sim"))


def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.45,
                            use_lsh: bool = False, dim: int = 64,
                            exact_allpairs: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. The default is the exact
    blocked-GEMM + fold-verify path (`cosine_pairs_scaled`) — same rows as
    the naive theta-join, scale-safe plan. ``use_lsh`` switches to
    approximate bucketed candidates; ``exact_allpairs`` forces the naive
    theta-join (kept as the oracle/verification twin only)."""
    if exact_allpairs:
        return cosine_pairs(df, id_col, vec_col, threshold)
    if not use_lsh:
        return cosine_pairs_scaled(df, id_col, vec_col, threshold)
    planes = make_hyperplanes(dim, num_planes=8)
    withb = _prep(df, id_col, vec_col, "id", "v", "nrm").withColumn(
        "bucket", hyperplane_sign_bits(F.col("v"), planes))
    a = withb.select(F.col("id").alias("a_id"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"), "bucket")
    b = withb.select(F.col("id").alias("b_id"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"), "bucket")
    return (a.join(b, "bucket")
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("sim", dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")))
            .filter(F.col("sim") >= threshold)
            .select("a_id", "b_id", "sim")
            .dropDuplicates(["a_id", "b_id"]))


# Above this k, nearest-centroid assignment switches from the literal
# greatest-chain expression to the numpy-argmax mapInPandas path: a k-branch
# chain embeds k·dim literals in the plan and, once the generated method
# passes the JVM's 64KB bytecode limit, falls back to INTERPRETED evaluation
# of k dot-folds PER ROW — at k=4096/dim=64 that is ~260k literals and a
# plan Catalyst takes minutes to even analyze. 64 is comfortably inside the
# codegen envelope (measured: the k=64 chain still whole-stage-codegens).
LITERAL_ASSIGN_MAX_K = 64


def assign_nearest_cluster(df: DataFrame, vec_col: str,
                           centroids: list[tuple[int, list[float]]],
                           out_col: str = "cluster",
                           literal_k_max: int | None = None) -> DataFrame:
    """Append the nearest-centroid id (cosine) as ``out_col``.

    Both paths are MAP-ONLY — no join, no shuffle; assigning a 100 TB
    corpus is a single scan either way. The plan differs by k:

    - k ≤ ``literal_k_max`` (default `LITERAL_ASSIGN_MAX_K`): the
      centroids are embedded as plan literals (`_nearest_cluster_expr`)
      — whole-stage-codegen'd, zero Python.
    - k above it: one Arrow-batched numpy argmax over the broadcast
      k×dim centroid matrix (`_assign_clusters_gemm`) — the same GEMM
      shape as `knn_graph_topk`; the per-row cost is a vectorized
      matrix-vector product instead of k interpreted expression folds.

    Tie-break matches across paths: lowest cluster id wins (the literal
    chain maxes (sim, -cluster); the GEMM path argmaxes over centroids
    sorted by cluster id, and numpy argmax takes the FIRST maximum)."""
    if literal_k_max is None:
        literal_k_max = LITERAL_ASSIGN_MAX_K
    if len(centroids) <= literal_k_max:
        return df.withColumn(
            out_col, _nearest_cluster_expr(F.col(vec_col), centroids))
    return _assign_clusters_gemm(df, vec_col, centroids, out_col)


def _assign_clusters_gemm(df: DataFrame, vec_col: str,
                          centroids: list[tuple[int, list[float]]],
                          out_col: str) -> DataFrame:
    """Large-k nearest-centroid assignment: numpy argmax against the
    k×dim centroid matrix, Arrow-batched, all non-vector columns passed
    through. The centroid matrix rides the serialized closure (k=4096 ×
    dim=64 doubles ≈ 2 MB — well under task-broadcast comfort)."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    ordered = sorted(centroids)  # by cluster id → argmax ties break low
    cl_ids = np.array([c for c, _ in ordered], dtype=np.int64)
    pm = np.array([v for _, v in ordered], dtype=np.float64)
    pn = np.sqrt((pm * pm).sum(axis=1))
    pn[pn == 0.0] = 1.0  # same guard as _nearest_cluster_expr's `or 1.0`
    pmn = (pm / pn[:, None]).T  # (dim, k), pre-normalized

    out_schema = StructType(list(df.schema.fields)
                            + [StructField(out_col, IntegerType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            if len(pdf) == 0:
                out[out_col] = np.array([], dtype=np.int32)
                yield out
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                nv = np.sqrt((m * m).sum(axis=1))
                sims = (m @ pmn) / nv[:, None]
            out[out_col] = cl_ids[np.argmax(sims, axis=1)].astype(np.int32)
            yield out

    return df.mapInPandas(assign, out_schema)


def _nearest_cluster_expr(vec: "F.Column",
                          centroids: list[tuple[int, list[float]]]) -> "F.Column":
    """Nearest-centroid id as a PLAN-TIME expression over literal centroid
    arrays: k dot-folds per row, no join, no shuffle — assigning a 100 TB
    corpus is purely map-side. Ties break toward the LOWER cluster id (the
    struct max sees (sim, -cluster)). Scale guard: only sound at small k —
    `assign_nearest_cluster` dispatches away from this above
    `LITERAL_ASSIGN_MAX_K` branches (codegen bytecode cliff)."""
    v = to_double(vec)
    nv = F.sqrt(dot(v, v))
    best = None
    for cl, cv in centroids:
        p = F.array(*[F.lit(float(x)) for x in cv])
        pn = math.sqrt(sum(x * x for x in cv)) or 1.0
        cand = F.struct((dot(v, p) / (nv * F.lit(pn))).alias("s"),
                        F.lit(-cl).alias("negc"))
        best = cand if best is None else F.greatest(best, cand)
    return (-best.getField("negc")).cast("int")


def _nprobe_clusters_expr(vec: "F.Column",
                          centroids: list[tuple[int, list[float]]],
                          nprobe: int) -> "F.Column":
    """Array of the ``nprobe`` nearest cluster ids, best first — the
    map-only twin of a row_number()<=nprobe window over a centroid join."""
    v = to_double(vec)
    nv = F.sqrt(dot(v, v))
    cands = []
    for cl, cv in centroids:
        p = F.array(*[F.lit(float(x)) for x in cv])
        pn = math.sqrt(sum(x * x for x in cv)) or 1.0
        cands.append(F.struct((-dot(v, p) / (nv * F.lit(pn))).alias("negs"),
                              F.lit(cl).alias("c")))
    ordered = F.array_sort(F.array(*cands))  # asc by negs = desc by sim
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s.getField("c"))


def kmeans_lite(corpus: DataFrame, id_col: str, vec_col: str,
                k: int = 8, iterations: int = 2,
                sample_fraction: float | None = None) -> DataFrame:
    """Deterministic Lloyd iterations for IVF coarse quantization:
    seeds = the k lowest-id vectors; assign → recompute means → repeat.

    TRAINING iterations assign via the GEMM path (`_assign_clusters_gemm`)
    at every k — not the literal-expression path the final one-shot
    assignment uses. The centroids CHANGE each round, so a literal plan
    is a fresh codegen unit per iteration and the janino compile bill
    recurs every round (measured at sf0.1, k=8, 4 iterations: 4.4s warm
    / 9.1s cold literal vs 2.3s / 4.0s GEMM — the compile, not the
    arithmetic, dominates). The GEMM plan's SHAPE is constant (centroid
    values ride the closure), so it compiles once. Assignment is still
    map-only; the only shuffle is the (cluster, dim position) aggregation
    for the elementwise mean — nothing scales with corpus² and centroids
    stay tiny. Consumers' one-shot assignments (`ann_ivf_topk`,
    `semdedup`) keep the dual-path policy: literal ≤ 64 (right for a
    single compiled plan), GEMM above.

    The training input is persisted across the seed/iteration actions (it
    is read ``iterations+1`` times). At 100 TB pass ``sample_fraction``:
    centroid QUALITY needs only a sample, the later full-corpus assignment
    in `ann_ivf_topk` stays exact, and the persisted footprint becomes
    sample-sized instead of corpus-sized.
    Returns (cluster, centroid array<double>).
    """
    src = corpus if sample_fraction is None else \
        corpus.sample(fraction=sample_fraction, seed=42)
    c = src.select(F.col(id_col).alias("id"),
                   to_double(F.col(vec_col)).alias("v")).persist()
    seeds = (c.orderBy("id").limit(k)
             .select(F.monotonically_increasing_id().alias("_seq"), "v"))
    centroids = [(int(i), [float(x) for x in row.v])
                 for i, row in enumerate(seeds.collect())]

    for _ in range(iterations):
        assigned = assign_nearest_cluster(c, "v", centroids,
                                          literal_k_max=0)
        means = (assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
                 .groupBy("cluster", "pos").agg(F.avg("x").alias("m"))
                 .groupBy("cluster")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("pm"))
                 .select("cluster",
                         F.transform("pm", lambda s: s.getField("m")).alias("cv")))
        centroids = [(int(r.cluster), [float(x) for x in r.cv])
                     for r in means.collect()]
    c.unpersist()
    return corpus.sparkSession.createDataFrame(
        centroids, "cluster int, cv array<double>")


def ann_ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, k: int = 5, n_clusters: int = 8,
                 nprobe: int = 3,
                 train_sample_fraction: float | None = None) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to kmeans_lite centroids;
    each query probes its ``nprobe`` nearest centroids and ranks only those
    clusters' vectors. Corpus assignment is a map-only pass against
    broadcast centroids — the scan never shuffles on data size.

    ``train_sample_fraction`` bounds the k-means TRAINING input (and its
    persisted footprint) to a sample — at 100 TB centroid quality needs
    only a sample while the later full-corpus assignment stays exact."""
    centroids = [(int(r["cluster"]), [float(x) for x in r["cv"]])
                 for r in kmeans_lite(corpus, id_col, vec_col, k=n_clusters,
                                      sample_fraction=train_sample_fraction
                                      ).collect()]
    # map-only corpus assignment (a windowed argmin here would shuffle
    # k×corpus rows for nothing); literal expression at the default k=8,
    # GEMM argmax above LITERAL_ASSIGN_MAX_K
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
    c_assigned = assign_nearest_cluster(c, "nv", centroids)
    q = _prep(queries, id_col, vec_col, "q_id", "qv", "nq")
    q_probes = (q.withColumn(
        "probes", _nprobe_clusters_expr(F.col("qv"), centroids, nprobe))
        .select("q_id", "qv", "nq", F.explode("probes").alias("cluster")))
    scored = (c_assigned.join(F.broadcast(q_probes), "cluster")
              .filter(F.col("q_id") != F.col("n_id"))
              .withColumn("sim", dot(F.col("qv"), F.col("nv"))
                          / (F.col("nq") * F.col("nn"))))
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "sim", "rank"))


def knn_graph_topk(corpus: DataFrame, id_col: str, vec_col: str,
                   k: int = 3, n_blocks: int | None = None,
                   pad: int = 3) -> DataFrame:
    """Top-k cosine neighbors for EVERY corpus row — the kNN-graph builder
    (near-dup clustering, label propagation, and diversity sampling all
    start from this graph).

    Scale shape: vectors pack into ``n_blocks`` row-blocks; every
    (query-block, corpus-block) grid cell runs ONE numpy GEMM and emits
    only that cell's top-(k+pad) candidates per query row, so the shuffle
    carries n·n_blocks·(k+pad) candidate rows — never the n² score matrix.
    Survivors are re-scored with the exact left-fold expression (bit-
    identical to `cosine_pairs` / DuckDB's list kernel) and re-ranked, so
    the result matches the naive all-pairs ranking exactly; ``pad``
    absorbs any ulp-level GEMM-vs-fold rank flips at each cell's cut line.
    ``n_blocks=None`` derives the block count from corpus bytes
    (`_auto_n_blocks`) — every per-cell true-top-k is a superset of the
    global top-k restricted to that cell, so the result is invariant to
    the derived value.
    """
    import numpy as np

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    if n_blocks is None:
        n_blocks = _auto_n_blocks(corpus, vec_col)
    b = corpus.select(F.col(id_col).alias("id"),
                      to_double(F.col(vec_col)).alias("v"),
                      (F.col(id_col) % n_blocks).alias("blk"))
    packed = _pack_blocks(b)
    grid = (packed.select(F.col("blk").alias("ablk"),
                          F.col("ids").alias("aids"),
                          F.col("flat").alias("aflat"),
                          F.col("dim").alias("adim"),
                          F.explode(F.sequence(F.lit(0),
                                               F.lit(n_blocks - 1))).alias("bblk"))
            .join(packed.select(F.col("blk").alias("bblk"),
                                F.col("ids").alias("bids"),
                                F.col("flat").alias("bflat"),
                                F.col("dim").alias("bdim")), "bblk")
            .repartition(n_blocks * n_blocks))
    m = k + pad

    def gemm_topk(batches):
        import pandas as pd

        def empty():
            return pd.DataFrame({"q_id": np.array([], dtype=np.int64),
                                 "n_id": np.array([], dtype=np.int64)})

        for pdf in batches:
            outs = []
            for i in range(len(pdf)):
                aid, am = _unpack_block(pdf["aids"].iloc[i],
                                        pdf["aflat"].iloc[i],
                                        pdf["adim"].iloc[i])
                bid, bm = _unpack_block(pdf["bids"].iloc[i],
                                        pdf["bflat"].iloc[i],
                                        pdf["bdim"].iloc[i])
                am = _l2_normalize_rows(am)
                bm = _l2_normalize_rows(bm)
                s = am @ bm.T
                s[aid[:, None] == bid[None, :]] = -np.inf  # no self-edges
                t = min(m, s.shape[1])
                idx = _local_topt_ids(s, bid, t)
                sims = np.take_along_axis(s, idx, axis=1).ravel()
                keep = np.isfinite(sims)
                outs.append(pd.DataFrame({
                    "q_id": np.repeat(aid, t)[keep],
                    "n_id": bid[idx.ravel()][keep]}))
            yield pd.concat(outs) if outs else empty()

    cand = grid.mapInPandas(gemm_topk, "q_id long, n_id long")
    q = _prep(corpus, id_col, vec_col, "q_id", "qv", "nq")
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
    scored = (cand.join(q, "q_id").join(c, "n_id")
              .withColumn("sim", dot(F.col("qv"), F.col("nv"))
                          / (F.col("nq") * F.col("nn"))))
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "sim", "rank"))


def cosine_pairs_blocked(df: DataFrame, id_col: str, vec_col: str,
                         threshold: float, n_blocks: int | None = None,
                         ) -> DataFrame:
    """Exact all-pairs cosine via BLOCK-MATRIX multiply — the form that
    survives corpus scale. Vectors are packed into ``n_blocks`` row-blocks
    (pick n_blocks so a block is ~2-8 MB: bounded task memory); the
    block-pair grid (i ≤ j) is a tiny cross join, and each grid cell runs
    ONE numpy GEMM on an executor instead of |block|² interpreted
    expression folds. Same pair set as `cosine_pairs`; sims may differ in
    the last ulp (numpy pairwise summation vs left fold) → rows-only
    outside, equality asserted in tests with tolerance.

    ``n_blocks=None`` derives the count from corpus bytes so a block stays
    ~8 MB regardless of scale (`_auto_n_blocks`).
    """
    import numpy as np

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    if n_blocks is None:
        n_blocks = _auto_n_blocks(df, vec_col)
    b = df.select(F.col(id_col).alias("id"),
                  to_double(F.col(vec_col)).alias("v"),
                  (F.col(id_col) % n_blocks).alias("blk"))
    packed = _pack_blocks(b)
    # upper-triangle block grid as explode + EQUI-join (a cross join here
    # would plan as BroadcastNestedLoopJoin — harmless on n_blocks rows but
    # indistinguishable in the plan from an O(n²) row join, so keep the
    # plan clean of BNLJ entirely)
    grid = (packed.select(F.col("blk").alias("ablk"), F.col("ids").alias("aids"),
                          F.col("flat").alias("aflat"),
                          F.col("dim").alias("adim"),
                          F.explode(F.sequence(F.col("blk"),
                                               F.lit(n_blocks - 1))).alias("bblk"))
            .join(packed.select(F.col("blk").alias("bblk"),
                                F.col("ids").alias("bids"),
                                F.col("flat").alias("bflat"),
                                F.col("dim").alias("bdim")), "bblk")
            # one GEMM per task: spread grid cells across the cluster
            .repartition(n_blocks * (n_blocks + 1) // 2))

    def gemm(batches):
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for i in range(len(pdf)):
                aid, am = _unpack_block(pdf["aids"].iloc[i],
                                        pdf["aflat"].iloc[i],
                                        pdf["adim"].iloc[i])
                bid, bm = _unpack_block(pdf["bids"].iloc[i],
                                        pdf["bflat"].iloc[i],
                                        pdf["bdim"].iloc[i])
                am = _l2_normalize_rows(am)
                bm = _l2_normalize_rows(bm)
                s = am @ bm.T
                # diagonal cell: keep one orientation; off-diagonal: each
                # unordered pair appears in exactly one grid cell, but the
                # larger id may sit on either side → emit (min, max)
                if pdf["ablk"].iloc[i] == pdf["bblk"].iloc[i]:
                    mask = (s >= threshold) & (aid[:, None] < bid[None, :])
                else:
                    mask = s >= threshold
                ai, bi = np.nonzero(mask)
                lo = np.minimum(aid[ai], bid[bi])
                hi = np.maximum(aid[ai], bid[bi])
                out_a.append(lo); out_b.append(hi)
                out_s.append(s[ai, bi])
            yield pd.DataFrame({
                "a_id": np.concatenate(out_a) if out_a else [],
                "b_id": np.concatenate(out_b) if out_b else [],
                "sim": np.concatenate(out_s) if out_s else [],
            })

    return grid.mapInPandas(gemm, "a_id long, b_id long, sim double")


def semdedup(df: DataFrame, id_col: str, vec_col: str,
             threshold: float = 0.45, n_clusters: int | None = None,
             train_sample_fraction: float | None = None) -> DataFrame:
    """Semantic deduplication (SemDeDup-style): coarse k-means clusters,
    exact within-cluster cosine pairs ≥ threshold, connected components,
    keep the min-id representative per duplicate group.

    Returns (``id_col``, cluster, keep) for EVERY input row — keep=0 rows
    are the semantic duplicates a curation pass drops.

    Scale shape: candidate generation is an equi-self-join on the cluster
    id, never corpus-wide all-pairs; ``n_clusters=None`` derives k from
    the corpus so the EXPECTED cluster stays ~256 vectors (within-cluster
    work is then linear-ish in n at fixed cluster size). Cross-cluster
    near-dups are deliberately missed — that is SemDeDup's documented
    recall trade; `cosine_pairs_scaled` is the exact alternative."""
    from .dedup import connected_components

    if n_clusters is None:
        n_rows = df.count()
        n_clusters = max(8, min(4096, -(-n_rows // 256)))
    centroids_df = kmeans_lite(df, id_col, vec_col, k=n_clusters,
                               sample_fraction=train_sample_fraction)
    centroids = [(int(r["cluster"]), [float(x) for x in r["cv"]])
                 for r in centroids_df.collect()]
    from ..catalog import spread_scan

    # spread the POST-TRAINING assignment input only: assignment is a
    # deterministic map per row, so parallelizing it cannot change the
    # result. Deliberately NOT applied to kmeans_lite's training input —
    # the per-(cluster, dim) float mean merges partial sums in task-
    # completion order, so re-partitioning the training relation would
    # make centroids nondeterministic across runs (a driver-hash breaker).
    c = assign_nearest_cluster(
        _prep(spread_scan(df, id_col), id_col, vec_col, "vid", "v", "nv"),
        "v", centroids)
    # persisted for the pair join's two sides + the final keep join;
    # released below once the result is checkpointed
    c = c.persist()
    a = c.select("cluster", F.col("vid").alias("a_id"),
                 F.col("v").alias("va"), F.col("nv").alias("na"))
    b = c.select("cluster", F.col("vid").alias("b_id"),
                 F.col("v").alias("vb"), F.col("nv").alias("nb"))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (a.join(b, "cluster")
             .filter(F.col("a_id") < F.col("b_id"))
             .withColumn("sim", sim)
             .filter(F.col("sim") >= threshold)
             .select("a_id", "b_id"))
    comp = connected_components(pairs)  # (node, component=min id)
    keep = F.when(F.col("component").isNull()
                  | (F.col("node") == F.col("component")), 1).otherwise(0)
    out = (c.join(comp, c.vid == comp.node, "left")
           .select(F.col("vid").alias(id_col), "cluster",
                   keep.cast("int").alias("keep")))
    # epilogue: materialize the (3-narrow-column) result once so the
    # vector-bearing assignment cache can be RELEASED now instead of
    # pinning corpus-sized vectors for the session's lifetime. The
    # operator is already multi-action (k-means training, CC convergence
    # checks), so the one extra job here does not change its nature;
    # callers get a checkpoint-backed DataFrame.
    out = out.localCheckpoint(eager=True)
    c.unpersist()
    return out


# --------------------------------------------------------------------------
# Product quantization (PQ): the memory tier of the ANN stack. Vectors
# compress to m sub-space codebook ids (8 bytes/vector at m=8 — 64×
# smaller than 64 float64 dims), asymmetric-distance (ADC) scans run on
# CODES ONLY, and a small exact re-rank restores precision. At 100 TB
# this is what makes the candidate scan memory-resident.
# --------------------------------------------------------------------------

def pq_train(corpus: DataFrame, id_col: str, vec_col: str, m: int = 8,
             ksub: int = 16, sample_limit: int = 4096,
             iters: int = 8) -> list[list[list[float]]]:
    """Per-subspace codebooks via numpy Lloyd on a DRIVER-SIDE sample —
    the published PQ practice: codebook quality needs only a sample
    (sample_limit rows, lowest-id for determinism), while encoding and
    scanning stay distributed. Vectors are L2-normalized before
    training so ADC inner products approximate cosine. Returns
    (m, ksub, dim/m) nested lists (plain data: rides task closures).
    Deterministic: fixed sample, seeds = first ksub sample rows, numpy
    argmin ties break to the first (lowest) centroid."""
    import numpy as np

    rows = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_limit).collect())
    X = _l2_normalize_rows(np.array(
        [[float(x) for x in r[1]] for r in rows], dtype=np.float64))
    return pq_train_matrix(X, m=m, ksub=ksub, iters=iters)


def pq_train_matrix(X, m: int = 8, ksub: int = 16,
                    iters: int = 8) -> list[list[list[float]]]:
    """The numpy Lloyd core of `pq_train` over an ALREADY-prepared
    training matrix — factored out so residual IVF-PQ can train
    codebooks on (vector − coarse centroid) rows with identical
    determinism (seeds = first ksub rows, argmin ties to the lowest
    centroid)."""
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = []
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[:ksub].copy()
        for _ in range(iters):
            dist = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for c in range(ksub):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books.append(C.tolist())
    return books


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str,
              books: list[list[list[float]]],
              passthrough: tuple[str, ...] = ()) -> DataFrame:
    """(n_id, codes array<int>[, passthrough…]) — map-only Arrow-batched
    encoding: per subspace, argmin distance to its codebook. The codes
    relation is the persistable PQ index (8 ints/vector); nothing here
    shuffles. ``passthrough`` columns (e.g. an IVF cluster id computed
    upstream in the same map stage) ride along so composed index builds
    stay single-pass instead of re-joining corpus-sized relations."""
    import numpy as np

    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    B = [np.array(b, dtype=np.float64) for b in books]
    m = len(B)
    dsub = B[0].shape[1]
    out_schema = StructType(
        [StructField("n_id", LongType()),
         StructField("codes", ArrayType(LongType()))]
        + [corpus.schema[c] for c in passthrough])

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _l2_normalize_rows(  # zero vectors encode deterministically
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                S = X[:, j * dsub:(j + 1) * dsub]
                dist = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = dist.argmin(axis=1)
            out = {"n_id": pdf[id_col].to_numpy(), "codes": list(codes)}
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col, *passthrough).mapInPandas(
        encode, out_schema)


def ann_pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 5, m: int = 8, ksub: int = 16,
                rerank: int = 32,
                books: list[list[list[float]]] | None = None) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank: train (sampled) →
    encode (map-only) → per-Arrow-batch ADC scan over CODES (lookup-
    table sums, no vector math) emitting local top-``rerank`` per query
    → exact fold re-score of the candidates → top-k. Shuffles carry
    only |q|·n_batches·rerank candidate rows; the data-sized scan reads
    8 ints/vector. Recall follows rerank (measured in the recall-floor
    twin); exactness of the final sims comes from the fold re-score."""
    import numpy as np

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    if books is None:
        books = pq_train(corpus, id_col, vec_col, m=m, ksub=ksub)
    B = [np.array(b, dtype=np.float64) for b in books]
    dsub = B[0].shape[1]
    codes = pq_encode(corpus, id_col, vec_col, books)

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _l2_normalize_rows(np.array(
        [[float(x) for x in r[1]] for r in q_rows], dtype=np.float64))
    # LUT[q, j, c] = <q_j, B[j][c]> : ADC sim = sum_j LUT[q, j, code_j]
    lut = np.stack([qm[:, j * dsub:(j + 1) * dsub] @ B[j].T
                    for j in range(len(B))], axis=1)

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (b, m)
            cid = pdf["n_id"].to_numpy(dtype=np.int64)
            # sims (nq, b): gather each query's LUT rows at the codes
            sims = lut[:, np.arange(C.shape[1])[None, :], C].sum(axis=2)
            sims[q_ids[:, None] == cid[None, :]] = -np.inf
            t = min(rerank, sims.shape[1])
            idx = _local_topt_ids(sims, cid, t)
            vals = np.take_along_axis(sims, idx, axis=1).ravel()
            keep = np.isfinite(vals)
            yield pd.DataFrame({"q_id": np.repeat(q_ids, t)[keep],
                                "n_id": cid[idx.ravel()][keep]})

    cand = codes.mapInPandas(adc, "q_id long, n_id long")
    return exact_rerank_topk(cand, corpus, queries, id_col, vec_col, k)


def exact_rerank_topk(cand: DataFrame, corpus: DataFrame,
                      queries: DataFrame, id_col: str, vec_col: str,
                      k: int) -> DataFrame:
    """Exact fold re-score of a (q_id, n_id) candidate relation against
    the corpus vectors + per-query top-k window — the precision-
    restoring tail every approximate candidate generator (ADC, LSH,
    per-batch GEMM) shares. Candidates ≈ output-sized, so the joins and
    the window are cheap; sims are bit-identical to the naive plan
    (same `dot/(n·n)` subtree). Candidates are DEDUPED on (q_id, n_id)
    first: a replayed non-atomic index append duplicates code rows, and
    a duplicated candidate would otherwise occupy two consecutive ranks
    — this one candidate-sized exchange makes every index consumer
    replay-tolerant. Returns (q_id, n_id, sim, rank)."""
    q = _prep(queries, id_col, vec_col, "q_id", "qv", "nq")
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
    scored = (cand.dropDuplicates(["q_id", "n_id"])
              .join(F.broadcast(q), "q_id").join(c, "n_id")
              .filter(F.col("q_id") != F.col("n_id"))
              .withColumn("sim", dot(F.col("qv"), F.col("nv"))
                          / (F.col("nq") * F.col("nn"))))
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "sim", "rank"))


def nprobe_sets(qm, centroids: list[tuple[int, list[float]]],
                nprobe: int):
    """Driver-side probe assignment for a collected query matrix:
    (probe boolean matrix (nq, max_cluster+1), sorted probed ids).
    Same ordering contract as `_nprobe_clusters_expr` — cosine sim
    descending, ties to the LOWER cluster id — so plan-literal and
    numpy probing agree."""
    import numpy as np

    ordered = sorted(centroids)
    cl_ids = np.array([c for c, _ in ordered], dtype=np.int64)
    cm = _l2_normalize_rows(np.array([v for _, v in ordered],
                                     dtype=np.float64))
    sims = _l2_normalize_rows(qm) @ cm.T  # (nq, k)
    order = np.lexsort((np.broadcast_to(cl_ids, sims.shape), -sims),
                       axis=1)[:, :nprobe]
    probed = cl_ids[order]  # (nq, nprobe) cluster ids
    mask = np.zeros((qm.shape[0], int(cl_ids.max()) + 1), dtype=bool)
    rows = np.repeat(np.arange(qm.shape[0]), probed.shape[1])
    mask[rows, probed.ravel()] = True
    return mask, sorted({int(x) for x in probed.ravel()})


def adc_scan_candidates(codes: DataFrame, books: list[list[list[float]]],
                        q_ids, qm, rerank: int,
                        probe_mask=None, cluster_scalar=None) -> DataFrame:
    """Per-Arrow-batch ADC scan over a (n_id, codes[, cluster]) relation:
    lookup-table sums against the collected query matrix, emitting each
    batch's local top-``rerank`` candidates per query — tie-safe
    (`_local_topt_ids`) and self-match-free. With ``probe_mask``
    ((nq, n_clusters) boolean; requires a ``cluster`` column), a code
    row only scores for queries that probed its cluster — the IVF-PQ
    composition. ``cluster_scalar`` ((nq, n_clusters) float) adds the
    RESIDUAL-encoding correction q·ĉ_cluster per row: with codes over
    residuals, ADC(q, x) = q·ĉ_k + Σⱼ LUT[q, j, codeⱼ] — one shared
    LUT still serves every cluster because the codebooks are trained
    on POOLED residuals (the FAISS IVFPQ layout); only the tiny scalar
    matrix is per-cluster. Shuffles carry |q|·n_batches·rerank rows."""
    import numpy as np

    B = [np.array(b, dtype=np.float64) for b in books]
    dsub = B[0].shape[1]
    qmn = _l2_normalize_rows(np.asarray(qm, dtype=np.float64))
    qi = np.asarray(q_ids, dtype=np.int64)
    lut = np.stack([qmn[:, j * dsub:(j + 1) * dsub] @ B[j].T
                    for j in range(len(B))], axis=1)

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (b, m)
            cid = pdf["n_id"].to_numpy(dtype=np.int64)
            sims = lut[:, np.arange(C.shape[1])[None, :], C].sum(axis=2)
            if cluster_scalar is not None:
                cl = pdf["cluster"].to_numpy(dtype=np.int64)
                sims = sims + cluster_scalar[:, cl]
            if probe_mask is not None:
                cl = pdf["cluster"].to_numpy(dtype=np.int64)
                sims[~probe_mask[:, cl]] = -np.inf
            sims[qi[:, None] == cid[None, :]] = -np.inf
            t = min(rerank, sims.shape[1])
            idx = _local_topt_ids(sims, cid, t)
            vals = np.take_along_axis(sims, idx, axis=1).ravel()
            keep = np.isfinite(vals)
            yield pd.DataFrame({"q_id": np.repeat(qi, t)[keep],
                                "n_id": cid[idx.ravel()][keep]})

    return codes.mapInPandas(adc, "q_id long, n_id long")


def ann_ivfpq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 5, n_clusters: int = 8,
                   nprobe: int = 3, m: int = 8, ksub: int = 16,
                   rerank: int = 128,
                   centroids: list[tuple[int, list[float]]] | None = None,
                   books: list[list[list[float]]] | None = None,
                   train_sample_fraction: float | None = None) -> DataFrame:
    """IVF-PQ (the FAISS-standard serving layout) as a one-shot
    composition of the two existing tiers: a coarse quantizer prunes
    WHICH codes are scanned (IVF), product quantization shrinks WHAT a
    scan reads (8 ints/vector), and the exact fold re-rank restores
    precision on the candidates. Codes are RAW-vector PQ, not
    residual: one shared (nq, m, ksub) ADC lookup table serves every
    cluster (residual codes need a per-(cluster, subspace) table — k×
    the LUT memory for recall the re-rank step already recovers here).

    Map-only assignment + encoding in ONE pass (cluster rides
    `pq_encode`'s passthrough — no corpus-sized join), masked ADC scan
    (a code row scores only for queries that probed its cluster), and
    shuffles carry only candidate rows. With ``nprobe == n_clusters``
    and ``rerank ≥ |corpus|`` every code scores for every query, so
    the result provably equals `ann_bruteforce_topk` — the
    certification twin. ``centroids``/``books`` accept pre-trained
    artifacts (a persisted index's halves) so index-vs-direct equality
    is testable at fixed quantizers."""
    import numpy as np

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    if centroids is None:
        centroids = [(int(r["cluster"]), [float(x) for x in r["cv"]])
                     for r in kmeans_lite(
                         corpus, id_col, vec_col, k=n_clusters,
                         sample_fraction=train_sample_fraction).collect()]
    if books is None:
        books = pq_train(corpus, id_col, vec_col, m=m, ksub=ksub)
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
    assigned = assign_nearest_cluster(c, "nv", centroids)
    codes = pq_encode(assigned, "n_id", "nv", books,
                      passthrough=("cluster",))
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([[float(x) for x in r[1]] for r in q_rows],
                  dtype=np.float64)
    mask, _probed = nprobe_sets(qm, centroids, nprobe)
    cand = adc_scan_candidates(codes, books, q_ids, qm, rerank,
                               probe_mask=mask)
    return exact_rerank_topk(cand, corpus, queries, id_col, vec_col, k)


# --------------------------------------------------------------------------
# Residual encoding for IVF-PQ (the FAISS IVFPQ default): codebooks
# train on (x̂ − ĉ_assigned) POOLED across clusters — residuals carry
# far less variance than raw vectors once the coarse quantizer has
# absorbed cluster structure, so the same ksub spends its codes on
# finer detail. One codebook set (and one ADC LUT) still serves the
# whole index; only a tiny (nq × k) q·ĉ scalar matrix is per-cluster.
# --------------------------------------------------------------------------

def normalized_centroid_matrix(centroids: list[tuple[int, list[float]]]):
    """(cluster ids ASC, L2-normalized k×dim centroid matrix) — the
    shared artifact of residual encoding (subtract ĉ_k), the residual
    ADC scalar (q·ĉ_k), and driver-side probe assignment."""
    import numpy as np

    ordered = sorted(centroids)
    cl_ids = np.array([c for c, _ in ordered], dtype=np.int64)
    cm = _l2_normalize_rows(np.array([v for _, v in ordered],
                                     dtype=np.float64))
    return cl_ids, cm


def anchor_matrix(anchors: list[tuple[int, list[float]]]):
    """(cluster ids ASC, UN-normalized k×dim anchor matrix). Residual
    anchors are per-cluster MEANS OF NORMALIZED members, not normalized
    centroids: the mean minimizes within-cluster SSE, so residual
    variance ≤ raw variance is GUARANTEED (measured: subtracting the
    unit-norm centroid instead INCREASED reconstruction error 0.54→0.71
    on weakly-clustered uniform vectors — ‖x̂−ĉ‖² ≈ 2−2·x̂·ĉ > 1 when
    cluster structure is weak). The ADC decomposition q̂·x̂ =
    q̂·a_k + q̂·(x̂−a_k) is exact for ANY fixed per-cluster offset, so
    correctness never depends on the anchor choice — only code-budget
    efficiency does."""
    import numpy as np

    ordered = sorted(anchors)
    cl_ids = np.array([c for c, _ in ordered], dtype=np.int64)
    am = np.array([v for _, v in ordered], dtype=np.float64)
    return cl_ids, am


def pq_train_residual_sample(corpus: DataFrame, id_col: str, vec_col: str,
                             centroids: list[tuple[int, list[float]]],
                             anchors: list[tuple[int, list[float]]],
                             m: int = 8, ksub: int = 16,
                             sample_limit: int = 4096,
                             iters: int = 8) -> list[list[list[float]]]:
    """Residual codebooks from the lowest-id sample: normalize, assign
    to the nearest centroid replicating `assign_nearest_cluster`'s
    tie-break (argmax over centroids sorted by cluster id → lowest id
    wins), subtract the cluster's residual ANCHOR, Lloyd per subspace —
    same determinism contract as `pq_train`."""
    import numpy as np

    rows = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_limit).collect())
    X = _l2_normalize_rows(np.array(
        [[float(x) for x in r[1]] for r in rows], dtype=np.float64))
    _cl_ids, cm = normalized_centroid_matrix(centroids)
    assign = np.argmax(X @ cm.T, axis=1)
    a_ids, am = anchor_matrix(anchors)
    pos = np.full(int(a_ids.max()) + 1, -1, dtype=np.int64)
    pos[a_ids] = np.arange(len(a_ids))
    return pq_train_matrix(X - am[pos[_cl_ids[assign]]], m=m, ksub=ksub,
                           iters=iters)


def pq_encode_residual(assigned: DataFrame, id_col: str, vec_col: str,
                       books: list[list[list[float]]],
                       anchors: list[tuple[int, list[float]]],
                       cluster_col: str = "cluster") -> DataFrame:
    """(n_id, codes, cluster) — map-only residual encoding: normalize,
    subtract the row's cluster residual ANCHOR (mean of normalized
    members — see `anchor_matrix`), per-subspace argmin against the
    residual codebooks. ``assigned`` must already carry ``cluster_col``
    (from `assign_nearest_cluster`, the same map stage — the composed
    index build stays single-pass)."""
    import numpy as np

    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(assigned.sparkSession)
    B = [np.array(b, dtype=np.float64) for b in books]
    m = len(B)
    dsub = B[0].shape[1]
    cl_ids, cm = anchor_matrix(anchors)
    pos = np.full(int(cl_ids.max()) + 1, -1, dtype=np.int64)
    pos[cl_ids] = np.arange(len(cl_ids))  # cluster id → anchor row
    out_schema = StructType([StructField("n_id", LongType()),
                             StructField("codes", ArrayType(LongType())),
                             StructField("cluster", IntegerType())])

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _l2_normalize_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            cl = pdf[cluster_col].to_numpy(dtype=np.int64)
            # a cluster id with no anchor row must fail loudly — the
            # -1 sentinel would otherwise wrap to the LAST anchor and
            # encode against the wrong residual origin (builds since
            # round 8 persist an anchor for every centroid, so this
            # only trips on a pre-fix index)
            if (cl >= len(pos)).any() or (pos[np.clip(cl, 0, len(pos) - 1)]
                                          < 0).any():
                raise ValueError(
                    "pq_encode_residual: cluster id without an anchor "
                    "row — rebuild the index (anchors must cover every "
                    "centroid)")
            R = X - cm[pos[cl]]
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                S = R[:, j * dsub:(j + 1) * dsub]
                dist = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = dist.argmin(axis=1)
            yield pd.DataFrame({"n_id": pdf[id_col].to_numpy(),
                                "codes": list(codes),
                                "cluster": cl.astype(np.int32)})

    return assigned.select(id_col, vec_col, cluster_col).mapInPandas(
        encode, out_schema)
