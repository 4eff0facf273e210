"""Round-8 breadth: the scale paths the round-7 verdict asked for —
Arrow-batched BPE application certified against the codegen chain's
oracle, an IVF-PQ serving-settings recall floor, a streaming
heavy-hitters certification over a real availableNow run, a physically
z-ordered write path, and the modern end-to-end curation composite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.texts import words
from .breadth27 import BPE_MERGES, _bpe_oracle
from .registry import cert_work_dir, query


# --------------------------------------------------------------------------
# Arrow-batched BPE application (`operators/bpe.py`): the same 24-merge
# table text_bpe_tokenize certifies through its regexp_replace chain,
# applied through the KERNEL path (mode="kernel" — vocabulary-memoized,
# substring-prefiltered mapInPandas). The oracle is the CHAIN's SQL
# replay, so the hash certifies kernel == chain cross-engine — the
# equality that licenses swapping in a 32k-merge production table the
# chain could never plan. Reference scope: tokenizer-aware curation
# (SURVEY §2.3); no counterpart in /root/reference (pandas POC, no
# subword tooling).
# --------------------------------------------------------------------------
@query("bpe_apply_large", oracle=_bpe_oracle())
def bpe_apply_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword counts via the Arrow kernel. Scale: the kernel's
    per-batch cost follows the batch VOCABULARY (distinct-word cache)
    and each word consults only the merges indexed by its own
    substrings — both independent of merge-table size, which is the
    whole point versus the chain's one-projection-per-merge plan."""
    from ..operators.bpe import bpe_apply

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = docs.select("doc_id",
                    F.explode(words(F.lower(F.col("text")))).alias("word"))
    toks = bpe_apply(w, "word", BPE_MERGES, out_col="n_sym",
                     mode="kernel")
    return (toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("n_sym").cast("long").alias("n_tokens"))
            .withColumn("tokens_per_word_milli",
                        F.expr("1000 * n_tokens div n_words").cast("long"))
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# END-TO-END curation v2: the MODERN pipeline a 100 TB pretraining run
# actually chains — certifying stage INTEROP (id/schema handoffs), which
# per-stage certification cannot. Six stages over `documents`:
#   1. Gopher quality gate (codegen scan)
#   2. paragraph-granularity first-occurrence dedup (CCNet tier) —
#      later stages run on the CLEANED text, not the raw text
#   3. near-dup keep-one via EXACT prefix-filtered Jaccard >= 4/5
#      (AllPairs candidates + CC + min-id representative); the oracle
#      verifies with the brute-force all-shingle join, so the hash also
#      re-proves prefix completeness on the composed input
#   4. deterministic md5 split + anti-contamination (train docs sharing
#      any 3-shingle with the test set are dropped)
#   5. token-budget mix APPLIED (per-source keep-fraction, md5 bucket)
#   6. sequence packing offsets (hierarchical windows — no global
#      window) + 16-way shard assignment, reported per (split, source)
# Every id handoff is an equi-join on doc_id; no stage adds a shuffle
# shape beyond its own certified operator.
# --------------------------------------------------------------------------
_V2_BUDGET_TOKENS = 20_000  # selective at every SF (corpus 27k-270k)

_V2_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, source, text, t FROM toks
  WHERE len(t) BETWEEN 20 AND 100000
    AND floor(coalesce(list_sum(list_transform(t, x -> len(x))), 0) * 100.0
              / greatest(len(t), 1)) BETWEEN 300 AND 1000
    AND floor(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000.0
              / greatest(len(text), 1)) >= 600
    AND len(list_filter(t, x -> list_contains(
          ['the','a','and','of','to','in','is','it','that','for'],
          lower(x)))) >= 2
),
ch AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
  FROM q, unnest(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
  WHERE len(t) > 0
),
first_k AS (
  SELECT chunk, CAST(min(doc_id * 1000000 + chunk_idx) AS BIGINT) AS fk
  FROM ch GROUP BY chunk
),
cleaned AS (
  SELECT * FROM (
    SELECT c.doc_id,
           string_agg(c.chunk, ' ' ORDER BY c.chunk_idx)
             FILTER (WHERE c.doc_id * 1000000 + c.chunk_idx = f.fk) AS ct
    FROM ch c JOIN first_k f ON c.chunk = f.chunk
    GROUP BY c.doc_id
  ) WHERE ct IS NOT NULL
),
cw AS (
  SELECT q.doc_id, q.source,
         list_filter(string_split_regex(trim(cleaned.ct), '\\s+'),
                     x -> x <> '') AS w
  FROM q JOIN cleaned USING (doc_id)
),
idx2 AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
         FROM cw),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       FROM idx2),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a_id, b_id
),
good AS (
  SELECT a_id, b_id FROM pairs
  JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
  WHERE inter * 5 >= 4 * (sa.n + sb.n - inter)
),
edges AS (SELECT a_id AS src, b_id AS dst FROM good
          UNION ALL SELECT b_id, a_id FROM good),
cc(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
kept AS (SELECT * FROM cw
         WHERE doc_id NOT IN (SELECT node FROM comp
                              WHERE node <> component)),
spl AS (
  SELECT *, CASE WHEN CAST(('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 6)) AS BIGINT)
                  % 1000 < 200
             THEN 'test' ELSE 'train' END AS split
  FROM kept
),
te AS (SELECT DISTINCT s FROM sh JOIN spl USING (doc_id)
       WHERE split = 'test'),
bad AS (SELECT DISTINCT sh.doc_id
        FROM sh JOIN spl USING (doc_id) JOIN te ON sh.s = te.s
        WHERE spl.split = 'train'),
surv AS (SELECT doc_id, source, split, CAST(len(w) AS BIGINT) AS n_tok
         FROM spl
         WHERE split = 'test' OR doc_id NOT IN (SELECT doc_id FROM bad)),
per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM surv GROUP BY source),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM per),
fr AS (
  SELECT source,
         CAST(least(1000000, ({_V2_BUDGET_TOKENS} // n_sources) * 1000000
                    // greatest(n_tokens, 1)) AS BIGINT) AS fraction_micro
  FROM per CROSS JOIN g
),
samp AS (
  SELECT surv.* FROM surv JOIN fr USING (source)
  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 1000000 < fr.fraction_micro
),
packed AS (
  SELECT *, CAST(sum(n_tok) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - n_tok AS BIGINT)
              AS start_off
  FROM samp
),
fin AS (
  SELECT split, source, n_tok, start_off // 512 AS bin_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'shard'),
                                 1, 6)) AS BIGINT) % 16 AS shard
  FROM packed
)
SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
       CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
FROM fin GROUP BY split, source ORDER BY split, source
"""


@query("curate_corpus_v2", oracle=_V2_ORACLE)
def curate_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the block comment above. Scale notes per stage: the gate is
    one scan; paragraph dedup shuffles on the chunk key once; the
    near-dup candidate join runs only over rarest-shingle prefixes
    (sum of small-bucket squares, no max_df needed — boilerplate
    paragraphs were already stripped by stage 2, which is WHY v2 runs
    prefix-Jaccard after paragraph dedup); contamination joins on the
    shingle key with a broadcast test set; the mix decision is map-only
    against a |sources|-row broadcast; packing uses the hierarchical
    two-level offset scheme (no window partition scales with corpus)."""
    from ..operators.dedup import (dedup_keep_representatives,
                                   jaccard_prefix_pairs)
    from ..operators.text import gopher_quality_rules, train_test_split
    from ..functions.texts import word_shingles

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # 1. quality gate
    keep_ids = (gopher_quality_rules(docs, "text", "doc_id")
                .filter(F.col("keep")).select("doc_id"))
    q = docs.join(keep_ids, "doc_id").select("doc_id", "source", "text")

    # 2. paragraph dedup (the dedup_paragraph construction, kept-text)
    w = q.select("doc_id", words(F.col("text")).alias("w"))
    n_chunks = F.expr("(size(w) + 9) div 10")
    chunks = F.when(
        F.size("w") > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.concat_ws(" ", F.slice("w", i * 10 + 1, 10)))
    ).otherwise(F.array().cast("array<string>"))
    ch = w.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    key = (F.col("doc_id") * 1_000_000 + F.col("chunk_idx")).cast("long")
    # first-occurrence filter as ONE window over the chunk key instead of
    # groupBy(chunk)+join-back (r15, guide §2.4: two operations keyed the
    # same way share one exchange): the agg+join shape computed the chunk
    # explode TWICE and shuffled it twice; min-over-partition(chunk) is
    # the identical first_key per chunk with one explode and one shuffle
    first_key = F.min(key).over(W.partitionBy("chunk"))
    cleaned = (ch.withColumn("first_key", first_key)
               .filter(key == F.col("first_key"))
               .groupBy("doc_id")
               .agg(F.concat_ws(" ", F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("chunk_idx", "chunk"))),
                   lambda s: s.getField("chunk"))).alias("clean_text")))
    cd = (q.select("doc_id", "source").join(cleaned, "doc_id")
          .localCheckpoint())  # three consumers below (pairs, split, sh)

    # 3. near-dup keep-one, exact prefix-filtered Jaccard >= 4/5
    pairs = jaccard_prefix_pairs(cd, "doc_id", "clean_text", n=3,
                                 tau_num=4, tau_den=5)
    deduped = dedup_keep_representatives(cd, pairs, "doc_id")

    # 4. split + anti-contamination. sp/surv each feed multiple plan
    # subtrees, but checkpointing them was MEASURED a net loss (r15 A/B:
    # 14.6 → 17.4s with localCheckpoints on both): their recompute is
    # one cheap map-side join per consumer because the expensive parents
    # (cd, the CC labels inside dedup_keep_representatives) are already
    # materialized — the checkpoint re-wrote all the clean_text bytes
    # for nothing (guide §5: cache only when recompute beats the memory
    # pressure; here it does not).
    sp = train_test_split(deduped, "doc_id", test_permille=200)
    sh = sp.select("doc_id", "split",
                   F.explode(word_shingles(F.col("clean_text"), 3))
                   .alias("s"))
    te = sh.filter(F.col("split") == "test").select("s").distinct()
    bad = (sh.filter(F.col("split") == "train")
           .join(F.broadcast(te), "s").select("doc_id").distinct())
    surv = (sp.join(bad, "doc_id", "left_anti")
            .select("doc_id", "source", "split",
                    F.size(words(F.col("clean_text"))).cast("long")
                    .alias("n_tok")))

    # 5. token-budget mix applied
    per = surv.groupBy("source").agg(F.sum("n_tok").cast("long")
                                     .alias("n_tokens"))
    g = per.agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    fr = (per.crossJoin(F.broadcast(g))
          .select("source",
                  F.least(F.lit(1_000_000).cast("long"),
                          F.expr(f"({_V2_BUDGET_TOKENS} div n_sources)"
                                 " * 1000000 div greatest(n_tokens, 1)"))
                  .cast("long").alias("fraction_micro")))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 1_000_000)
    samp = (surv.join(F.broadcast(fr), "source")
            .filter(bucket < F.col("fraction_micro"))
            .select("doc_id", "source", "split", "n_tok"))

    # 6. packing offsets (hierarchical — no global window) + shards
    t = samp.withColumn("bucket", F.expr("doc_id div 1000"))
    bsums = (t.groupBy("bucket").agg(F.sum("n_tok").alias("bsum"))
             .withColumn("sb", F.expr("bucket div 1000")))
    sw = (W.partitionBy("sb").orderBy("bucket")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    within_sb = F.sum("bsum").over(sw) - F.col("bsum")
    ssums = bsums.groupBy("sb").agg(F.sum("bsum").alias("ssum"))
    gw = (W.partitionBy().orderBy("sb")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    sbases = (ssums.withColumn("sbase",
                               F.sum("ssum").over(gw) - F.col("ssum"))
              .select("sb", "sbase"))
    bases = (bsums.withColumn("within", within_sb)
             .join(F.broadcast(sbases), "sb")
             .select("bucket",
                     (F.col("sbase") + F.col("within")).alias("base")))
    ww = (W.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    packed = (t.join(F.broadcast(bases), "bucket")
              .withColumn("start_off",
                          F.col("base") + F.sum("n_tok").over(ww)
                          - F.col("n_tok")))
    shard = (F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("shard"))),
        1, 6), 16, 10).cast("long") % 16)
    fin = packed.select("split", "source", "n_tok",
                        F.expr("start_off div 512").alias("bin_id"),
                        shard.alias("shard"))
    return (fin.groupBy("split", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("total_tokens"),
                 F.countDistinct("bin_id").cast("long").alias("n_bins"),
                 F.countDistinct("shard").cast("long").alias("n_shards"))
            .orderBy("split", "source"))


# --------------------------------------------------------------------------
# Streaming Misra-Gries certification: the batch `heavy_hitters` query
# proves the sketch's guarantees over a one-shot aggregation; THIS runs
# a REAL availableNow stream (multiple micro-batches through
# foreachBatch → per-batch partial summaries on disk → manifest-aware
# read-time merge) and hashes the SAME layout-independent guarantee
# relation vs exact counts. The MG bounds hold for ANY merge tree over
# the partials, which is exactly what makes this certifiable: the
# sketch VALUES depend on batch boundaries, the guarantee columns do
# not. Oracle = the batch oracle (exact counts + theorem constants).
# --------------------------------------------------------------------------
_SHH_K = 30  # matches breadth29._MG_K — mid-distribution threshold


@query("stream_heavy_hitters_cert", oracle=f"""
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
),
e AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM t GROUP BY token),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
SELECT e.token, e.exact_cnt, n.n_total,
       CAST(e.exact_cnt * {_SHH_K} > n.n_total AS INT) AS heavy,
       CAST(1 AS INT) AS cert_ok
FROM e CROSS JOIN n ORDER BY e.token
""")
def stream_heavy_hitters_cert(spark: SparkSession, sf_dir: str,
                              ) -> DataFrame:
    """Real stream, real state: tokens land as 4 source files, the
    availableNow query folds each micro-batch into a partitions·k-row
    partial under its batch_tag, and the merged summary's guarantees
    (est <= exact, deficit·(k+1) <= n, heavy => present) are checked
    per token. Rebuilt per call (the ann_ivfpq pattern) so the
    certification always reflects the current warehouse."""
    import os
    import shutil

    from ..streaming import summary
    from ..streaming.heavy_hitters import HEAVY_HITTERS

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        F.explode(words(F.lower(F.col("text")))).alias("token"))

    work = cert_work_dir("shh", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    toks.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema("token string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(HEAVY_HITTERS, stream, os.path.join(work, "state"),
                      os.path.join(work, "ckpt"), "token", _SHH_K)
    q.awaitTermination(300)
    sketch = summary.read(HEAVY_HITTERS, spark,
                          os.path.join(work, "state"), _SHH_K)

    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    n = toks.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    j = (exact.crossJoin(F.broadcast(n))
         .join(F.broadcast(sketch), "token", "left"))
    heavy = (F.col("exact_cnt") * _SHH_K > F.col("n_total"))
    present = F.col("est").isNotNull()
    est_ok = F.when(
        present,
        (F.col("est") <= F.col("exact_cnt"))
        & ((F.col("exact_cnt") - F.col("est")) * (_SHH_K + 1)
           <= F.col("n_total"))).otherwise(F.lit(True))
    cert = (F.when(heavy, present).otherwise(F.lit(True)) & est_ok)
    return (j.select("token", "exact_cnt", "n_total",
                     heavy.cast("int").alias("heavy"),
                     cert.cast("int").alias("cert_ok"))
            .orderBy("token"))


# --------------------------------------------------------------------------
# Z-order as an ACTUAL write path: breadth30 certifies the layout math
# on a relation; this lands orders PHYSICALLY z-ordered
# (repartitionByRange on zv → sortWithinPartitions → parquet, so every
# FILE covers a contiguous z range and therefore a tight rectangle in
# BOTH x and y), reads it back through a literal 2-D box filter —
# PushedFilters all the way to the parquet row groups — and certifies
# the scanned result row-exact against the un-laid-out table. The
# files-skipped superiority over a single-key sort is asserted from the
# parquet footers in tests/test_breadth31.py (engine-independent:
# footer min/max vs the box).
# --------------------------------------------------------------------------
@query("zorder_write_roundtrip", oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS x,
         CAST(greatest(date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)), 0)
              AS BIGINT) AS y
  FROM orders
),
box AS (
  SELECT CAST(max(x) * 25 // 100 AS BIGINT) AS lo_x,
         CAST(max(x) * 30 // 100 AS BIGINT) AS hi_x,
         CAST(min(y) + (max(y) - min(y)) * 40 // 100 AS BIGINT) AS lo_y,
         CAST(min(y) + (max(y) - min(y)) * 45 // 100 AS BIGINT) AS hi_y
  FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(x), 0) AS BIGINT) AS sum_x,
       CAST(coalesce(sum(y), 0) AS BIGINT) AS sum_y,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_key
FROM base, box
WHERE x BETWEEN lo_x AND hi_x AND y BETWEEN lo_y AND hi_y
""")
def zorder_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read-back → aggregate, so the hash proves the physical
    layout loses/duplicates nothing under pruned scans. The box bounds
    are integer scalar aggregates pulled once (1-row collect, the
    bounded-artifact class) BECAUSE the read-back filter must be
    literal — only literal predicates reach the parquet footers as
    min/max row-group pruning, which is the lever being laid out."""
    import os

    from .breadth30 import _z_terms

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("x"),
        F.greatest(
            F.datediff(F.col("o_orderdate").cast("date"),
                       F.lit("1992-01-01").cast("date")).cast("long"),
            F.lit(0).cast("long")).alias("y"))
    box = base.agg(
        F.expr("CAST(max(x) * 25 div 100 AS BIGINT)").alias("lo_x"),
        F.expr("CAST(max(x) * 30 div 100 AS BIGINT)").alias("hi_x"),
        F.expr("CAST(min(y) + (max(y) - min(y)) * 40 div 100 AS BIGINT)")
        .alias("lo_y"),
        F.expr("CAST(min(y) + (max(y) - min(y)) * 45 div 100 AS BIGINT)")
        .alias("hi_y")).collect()[0]

    path = cert_work_dir("zw", sf_dir)
    z = base.withColumn("zv", F.expr(_z_terms("x", "y", "", True)))
    (z.repartitionByRange(16, "zv").sortWithinPartitions("zv")
     .write.mode("overwrite").parquet(path))

    back = (spark.read.parquet(path)
            .filter((F.col("x") >= F.lit(int(box["lo_x"])))
                    & (F.col("x") <= F.lit(int(box["hi_x"])))
                    & (F.col("y") >= F.lit(int(box["lo_y"])))
                    & (F.col("y") <= F.lit(int(box["hi_y"])))))
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("sum_x"),
        F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("sum_y"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_key"))


# --------------------------------------------------------------------------
# IVF-PQ serving-settings recall floor — the third leg next to the
# rows-only ann_ivfpq and the degenerate-exact twin (the
# ann_pq_recall_floor pattern for the composed tier): recall@5 at
# nprobe 3/8 + rerank 128 vs brute-force truth, hash-certified against
# a floor chosen from the measured values.
# --------------------------------------------------------------------------
@query("ann_ivfpq_recall_floor", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(1 AS INT) AS recall_ge_50pct
FROM embeddings WHERE vec_id % 100 = 0
""")
def ann_ivfpq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic at fixed seeds (seeded k-means, sampled Lloyd
    books): measured recall@5 is 0.80/0.56/0.58 at sf0.001/0.01/0.1 —
    the synthetic near-uniform embeddings are the hostile case for BOTH
    tiers at once (coarse clusters carry little mass separation AND
    codebooks little structure), so the 50% floor certifies the
    centroids → PartitionFilters → masked ADC → re-rank chain with
    real margin while the degenerate twin proves exactness."""
    from ..operators.similarity import ann_bruteforce_topk
    from .breadth28 import _ivfpq_result

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    truth = (ann_bruteforce_topk(emb, qs, "vec_id", "embedding", k=5)
             .select("q_id", "n_id"))
    approx = (_ivfpq_result(spark, sf_dir, nprobe=3, rerank=128)
              .select("q_id", "n_id"))
    hits = approx.join(truth, ["q_id", "n_id"]).agg(
        F.count(F.lit(1)).alias("hits"))
    total = truth.agg(F.count(F.lit(1)).alias("total"))
    n_q = qs.agg(F.count(F.lit(1)).alias("n_queries"))
    return n_q.crossJoin(hits).crossJoin(total).select(
        "n_queries",
        (F.col("hits") * 100 >= F.col("total") * 50).cast("int")
        .alias("recall_ge_50pct"))


# --------------------------------------------------------------------------
# Subword-symbol census through the kernel's SYMBOL SEQUENCES: stronger
# than bpe_apply_large's counts — the census hashes every emitted
# symbol corpus-wide, so a kernel that produced the right counts from
# the wrong segmentation (e.g. merging in rank order instead of table
# order) is caught. Also the vocabulary-utilization report a tokenizer
# owner actually reads (which merges fire, how often).
# --------------------------------------------------------------------------
def _bpe_census_oracle() -> str:
    expr = "' ' || regexp_replace(word, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        expr = f"regexp_replace({expr}, ' {a} {b} ', ' {a}{b} ', 'g')"
    return f"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
sy AS (
  SELECT doc_id, word,
         unnest(string_split_regex(trim({expr}), ' +')) AS symbol
  FROM w
)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words
FROM sy GROUP BY symbol ORDER BY symbol
"""


@query("bpe_symbol_census", oracle=_bpe_census_oracle())
def bpe_symbol_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide symbol counts from the kernel's emitted sequences
    (symbols_col, forced kernel path). Scale: explode happens after the
    vocabulary-memoized tokenize, and the census groups on the symbol
    key — |alphabet|+|merges| groups, a broadcast-sized result."""
    from ..operators.bpe import bpe_apply

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = docs.select("doc_id",
                    F.explode(words(F.lower(F.col("text")))).alias("word"))
    toks = bpe_apply(w, "word", BPE_MERGES, out_col="n_sym",
                     mode="kernel", symbols_col="symbols")
    return (toks.select("word", F.explode("symbols").alias("symbol"))
            .groupBy("symbol")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                 F.countDistinct("word").cast("long")
                 .alias("n_distinct_words"))
            .orderBy("symbol"))


# --------------------------------------------------------------------------
# The OPTIMIZE loop, hash-certified end to end: z-write a base slice,
# land two unsorted delta appends, run the incremental optimize
# (manifest-published generation swap, only overlapped files
# rewritten), then aggregate the maintained table through a pruned box
# read — row-exact against the plain table. Complements the tests-only
# zorder_optimize surface with a driver-checked roundtrip the way
# compaction_roundtrip does for compact_files.
# --------------------------------------------------------------------------
@query("zorder_optimize_roundtrip", oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS x,
         CAST(greatest(date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)), 0)
              AS BIGINT) AS y
  FROM orders
),
box AS (
  SELECT CAST(max(x) * 25 // 100 AS BIGINT) AS lo_x,
         CAST(max(x) * 75 // 100 AS BIGINT) AS hi_x,
         CAST(min(y) + (max(y) - min(y)) * 40 // 100 AS BIGINT) AS lo_y,
         CAST(min(y) + (max(y) - min(y)) * 45 // 100 AS BIGINT) AS hi_y
  FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(x), 0) AS BIGINT) AS sum_x,
       CAST(coalesce(sum(y), 0) AS BIGINT) AS sum_y,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_key
FROM base, box
WHERE x BETWEEN lo_x AND hi_x AND y BETWEEN lo_y AND hi_y
""")
def zorder_optimize_roundtrip(spark: SparkSession, sf_dir: str,
                              ) -> DataFrame:
    """Write 6/7 of orders z-sorted, append the other 1/7 as two
    unsorted deltas, optimize (incremental fold), box-aggregate the
    result. Any row lost or duplicated by the link/rewrite/swap/sweep
    machinery flips the hash."""
    import os
    import shutil

    from ..operators.zorder import (append_zorder_delta, optimize_zorder,
                                    read_zordered, write_zordered)

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("x"),
        F.greatest(
            F.datediff(F.col("o_orderdate").cast("date"),
                       F.lit("1992-01-01").cast("date")).cast("long"),
            F.lit(0).cast("long")).alias("y"))
    box = base.agg(
        F.expr("CAST(max(x) * 25 div 100 AS BIGINT)").alias("lo_x"),
        F.expr("CAST(max(x) * 75 div 100 AS BIGINT)").alias("hi_x"),
        F.expr("CAST(min(y) + (max(y) - min(y)) * 40 div 100 AS BIGINT)")
        .alias("lo_y"),
        F.expr("CAST(min(y) + (max(y) - min(y)) * 45 div 100 AS BIGINT)")
        .alias("hi_y")).collect()[0]

    path = cert_work_dir("zopt", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_zordered(base.filter(F.col("k") % 7 != 0), path, "x", "y",
                   n_files=8)
    append_zorder_delta(
        base.filter((F.col("k") % 7 == 0) & (F.col("k") % 2 == 0)),
        path, "x", "y")
    append_zorder_delta(
        base.filter((F.col("k") % 7 == 0) & (F.col("k") % 2 == 1)),
        path, "x", "y")
    optimize_zorder(spark, path)

    back = (read_zordered(spark, path)
            .filter((F.col("x") >= F.lit(int(box["lo_x"])))
                    & (F.col("x") <= F.lit(int(box["hi_x"])))
                    & (F.col("y") >= F.lit(int(box["lo_y"])))
                    & (F.col("y") <= F.lit(int(box["hi_y"])))))
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("sum_x"),
        F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("sum_y"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_key"))


# --------------------------------------------------------------------------
# Exact set-CONTAINMENT >= 0.9 ordered-pair join via the ASYMMETRIC
# prefix filter — the quote/subset-duplicate tier of the dedup stack
# (a short doc embedded in a long one: high containment, low Jaccard,
# so dedup_jaccard_prefix and minhash both miss it by design). The
# oracle is the brute-force all-shingle join, so the hash proves the
# asymmetric prefix theorem's completeness the way dedup_jaccard_prefix
# proves the symmetric one. Same n=3 / max_df=500 shingle contract as
# dedup_ngram_jaccard so the dedup surfaces stay comparable.
# --------------------------------------------------------------------------
from .llm import _NGRAM_MAX_DF, _SHINGLE_CTE  # noqa: E402


@query("dedup_containment_prefix", oracle=f"""
WITH {_SHINGLE_CTE},
fil AS (
  SELECT * FROM sh
  WHERE s NOT IN (SELECT s FROM sh GROUP BY s
                  HAVING count(*) > {_NGRAM_MAX_DF})
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       FROM fil GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(count(*) AS BIGINT) AS inter
  FROM fil a JOIN fil b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY a_id, b_id
)
SELECT p.a_id, p.b_id, p.inter, sa.n AS sa
FROM pairs p JOIN sz sa ON sa.doc_id = p.a_id
WHERE p.inter * 10 >= 9 * sa.n
ORDER BY p.a_id, p.b_id
""")
def dedup_containment_prefix(spark: SparkSession, sf_dir: str,
                             ) -> DataFrame:
    """Ordered containment pairs over `documents`. Scale shape: only
    the PROBING side shrinks to its rarest-shingle prefix; the probed
    side stays the full posting list (asymmetry is inherent — a
    contained doc constrains nothing about its container), so the join
    cost is sum over prefix keys of df(s), bounded by the max_df
    boilerplate guard, never doc-pairs."""
    from ..operators.dedup import containment_prefix_pairs

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = containment_prefix_pairs(docs, "doc_id", "text", n=3,
                                     tau_num=9, tau_den=10,
                                     max_df=_NGRAM_MAX_DF)
    return pairs.orderBy("a_id", "b_id")


# --------------------------------------------------------------------------
# Hilbert-curve layout certification — the locality upgrade over the
# Morton interleave (zorder_zone_prune): every unit step on the Hilbert
# curve is a unit grid step, so value-contiguous zones have no Morton
# "seams" and their (x, y) rectangles run tighter on the same zone
# budget. The curve is `bits` chained integer projections whose
# EXPRESSION TEXT is shared with the DuckDB oracle (CASE/div/mod only),
# making the whole layout — curve, zones, box, pruning — byte-identical
# cross-engine. Three layouts are compared on the same budget: hilbert,
# zorder, and a single-key sort.
# --------------------------------------------------------------------------
def _hilbert_oracle() -> str:
    from ..operators.zorder import hilbert_sql_ctes
    from .breadth30 import _z_terms

    ctes = hilbert_sql_ctes("base", "x, y", "x", "y", bits=16)
    return f"""
WITH base AS (
  SELECT o_custkey AS x,
         CAST(greatest(date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)), 0)
              AS BIGINT) AS y
  FROM orders
),
{ctes},
hv AS (SELECT x, y, _hd AS hv FROM h0),
zv AS (SELECT x, y, {_z_terms('x', 'y', '', False)} AS zv FROM base),
box AS (
  SELECT CAST(max(x) * 25 // 100 AS BIGINT) AS lo_x,
         CAST(max(x) * 30 // 100 AS BIGINT) AS hi_x,
         CAST(min(y) + (max(y) - min(y)) * 40 // 100 AS BIGINT) AS lo_y,
         CAST(min(y) + (max(y) - min(y)) * 45 // 100 AS BIGINT) AS hi_y
  FROM base
),
zones_h AS (
  SELECT hv // 65536 AS zone, count(*) AS rows_in_zone,
         min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM hv GROUP BY 1
),
zones_z AS (
  SELECT zv // 65536 AS zone, count(*) AS rows_in_zone,
         min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM zv GROUP BY 1
),
zones_k AS (
  SELECT x // 256 AS zone, count(*) AS rows_in_zone,
         min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM base GROUP BY 1
),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_in_box
  FROM base, box b
  WHERE x BETWEEN b.lo_x AND b.hi_x AND y BETWEEN b.lo_y AND b.hi_y
),
cand AS (
  SELECT 'hilbert' AS layout,
         CAST(count(*) AS BIGINT) AS zones_total,
         CAST(sum(CASE WHEN max_x >= lo_x AND min_x <= hi_x
                        AND max_y >= lo_y AND min_y <= hi_y
                  THEN 1 ELSE 0 END) AS BIGINT) AS candidate_zones,
         CAST(sum(CASE WHEN max_x >= lo_x AND min_x <= hi_x
                        AND max_y >= lo_y AND min_y <= hi_y
                  THEN rows_in_zone ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM zones_h, box
  UNION ALL
  SELECT 'zorder', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN max_x >= lo_x AND min_x <= hi_x
                        AND max_y >= lo_y AND min_y <= hi_y
                  THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN max_x >= lo_x AND min_x <= hi_x
                        AND max_y >= lo_y AND min_y <= hi_y
                  THEN rows_in_zone ELSE 0 END) AS BIGINT)
  FROM zones_z, box
  UNION ALL
  SELECT 'custkey_sort', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN max_x >= lo_x AND min_x <= hi_x
                        AND max_y >= lo_y AND min_y <= hi_y
                  THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN max_x >= lo_x AND min_x <= hi_x
                        AND max_y >= lo_y AND min_y <= hi_y
                  THEN rows_in_zone ELSE 0 END) AS BIGINT)
  FROM zones_k, box
)
SELECT layout, zones_total, candidate_zones, rows_scanned,
       hits.rows_in_box
FROM cand CROSS JOIN hits
ORDER BY layout
"""


@query("hilbert_zone_prune", oracle=_hilbert_oracle())
def hilbert_zone_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-budget pruning comparison across hilbert / zorder /
    single-key layouts on the breadth30 data-relative box. Cost shape
    identical to zorder_zone_prune: three zone-stat aggregations
    (output ∝ zones) + a broadcast 1-row box; the Hilbert chain is 16
    codegen projections, corpus scanned once per layout stat."""
    from ..operators.zorder import hilbert_df
    from .breadth30 import _z_terms

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        F.col("o_custkey").alias("x"),
        F.greatest(
            F.datediff(F.col("o_orderdate").cast("date"),
                       F.lit("1992-01-01").cast("date")).cast("long"),
            F.lit(0).cast("long")).alias("y"))
    hv = hilbert_df(base, "x", "y", out_col="hv", bits=16)
    zv = base.withColumn("zv", F.expr(_z_terms("x", "y", "", True)))
    box = base.agg(
        F.expr("CAST(max(x) * 25 div 100 AS BIGINT)").alias("lo_x"),
        F.expr("CAST(max(x) * 30 div 100 AS BIGINT)").alias("hi_x"),
        F.expr("CAST(min(y) + (max(y) - min(y)) * 40 div 100 AS BIGINT)")
        .alias("lo_y"),
        F.expr("CAST(min(y) + (max(y) - min(y)) * 45 div 100 AS BIGINT)")
        .alias("hi_y"))

    def zone_stats(df: DataFrame, zone_expr: str) -> DataFrame:
        return (df.groupBy(F.expr(zone_expr).alias("zone"))
                .agg(F.count(F.lit(1)).alias("rows_in_zone"),
                     F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                     F.min("y").alias("min_y"), F.max("y").alias("max_y")))

    def pruned(stats: DataFrame, layout: str) -> DataFrame:
        hit = ((F.col("max_x") >= F.col("lo_x"))
               & (F.col("min_x") <= F.col("hi_x"))
               & (F.col("max_y") >= F.col("lo_y"))
               & (F.col("min_y") <= F.col("hi_y")))
        return (stats.crossJoin(F.broadcast(box))
                .agg(F.count(F.lit(1)).cast("long").alias("zones_total"),
                     F.sum(hit.cast("long")).cast("long")
                     .alias("candidate_zones"),
                     F.sum(F.when(hit, F.col("rows_in_zone"))
                           .otherwise(F.lit(0))).cast("long")
                     .alias("rows_scanned"))
                .select(F.lit(layout).alias("layout"), "zones_total",
                        "candidate_zones", "rows_scanned"))

    hits = (base.crossJoin(F.broadcast(box))
            .filter((F.col("x") >= F.col("lo_x"))
                    & (F.col("x") <= F.col("hi_x"))
                    & (F.col("y") >= F.col("lo_y"))
                    & (F.col("y") <= F.col("hi_y")))
            .agg(F.count(F.lit(1)).cast("long").alias("rows_in_box")))
    out = (pruned(zone_stats(hv, "hv div 65536"), "hilbert")
           .unionByName(pruned(zone_stats(zv, "zv div 65536"), "zorder"))
           .unionByName(pruned(zone_stats(base, "x div 256"),
                               "custkey_sort")))
    return out.crossJoin(F.broadcast(hits)).orderBy("layout")


# --------------------------------------------------------------------------
# Quality CURRICULUM tiers: the training-order artifact quality scores
# exist to feed — docs bucketed into score quartiles (exact
# percentile_disc cuts via the DISTRIBUTED exact_quantile_cuts helper,
# never the all-distinct-values percentile buffer), reported per tier
# with the doc/token mass a scheduler needs to anneal from high- to
# low-quality data. Composes two certified surfaces
# (quality_logistic_score's formula + equidepth_histogram's cut
# contract) into the operator between them.
# --------------------------------------------------------------------------
@query("quality_curriculum_tiers", oracle="""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w,
         length(text) AS nc
  FROM documents
), sig AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000.0
                    / greatest(nc, 1)) AS BIGINT) AS alpha_milli,
         CAST(round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000.0
                    / greatest(nc, 1)) AS BIGINT) AS digit_milli,
         CAST(round(len(list_filter(w, x -> list_contains(
                  ['the','a','and','of','to','in','is','it','that','for'],
                  lower(x)))) * 1000.0 / greatest(len(w), 1)) AS BIGINT)
           AS stopword_milli
  FROM t
), z AS (
  SELECT doc_id, n_words,
         1.5 * (alpha_milli - 600) / 1000.0
           + 4.0 * (stopword_milli - 250) / 1000.0
           - 2.0 * digit_milli / 1000.0
           + least(n_words, 400) / 400.0
           - 1.0 AS z
  FROM sig
),
sc AS (
  SELECT doc_id, n_words,
         CAST(round(1000000.0 / (1.0 + exp(-z))) AS BIGINT) AS score_micro
  FROM z
),
cd AS (SELECT score_micro, cume_dist() OVER (ORDER BY score_micro) AS cd
       FROM sc),
cuts AS (
  SELECT min(CASE WHEN cd >= 0.25 THEN score_micro END) AS c25,
         min(CASE WHEN cd >= 0.5 THEN score_micro END) AS c50,
         min(CASE WHEN cd >= 0.75 THEN score_micro END) AS c75
  FROM cd
),
tiers AS (
  SELECT sc.doc_id, sc.n_words, sc.score_micro,
         CAST(1 + CAST(sc.score_micro > c.c25 AS INT)
                + CAST(sc.score_micro > c.c50 AS INT)
                + CAST(sc.score_micro > c.c75 AS INT) AS INT) AS tier
  FROM sc, cuts c
)
SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(max(score_micro) AS BIGINT) AS max_score_micro
FROM tiers GROUP BY tier ORDER BY tier
""")
def quality_curriculum_tiers(spark: SparkSession, sf_dir: str,
                             ) -> DataFrame:
    """Tier 4 = top quartile (trained first in an annealing schedule).
    Cuts come from `exact_quantile_cuts` (every data-sized step
    distributed, ≤4096-row bounded window); tier assignment and the
    report are one broadcast-join + one 4-group aggregate."""
    from ..operators.scale import exact_quantile_cuts
    from ..operators.text import quality_metrics

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sig = quality_metrics(docs.select("doc_id", "text"), "text")
    z = (1.5 * (F.col("alpha_milli") - 600) / 1000.0
         + 4.0 * (F.col("stopword_milli") - 250) / 1000.0
         - 2.0 * F.col("digit_milli") / 1000.0
         + F.least(F.col("n_words").cast("bigint"), F.lit(400)) / 400.0
         - 1.0)
    score = F.round(1_000_000.0 / (1.0 + F.exp(-z))).cast("long")
    sc = sig.select("doc_id",
                    F.col("n_words").cast("long").alias("n_words"),
                    score.alias("score_micro"))
    cuts = exact_quantile_cuts(sc, "score_micro",
                               {"c25": 0.25, "c50": 0.5, "c75": 0.75})
    tiers = (sc.crossJoin(F.broadcast(cuts))
             .select("doc_id", "n_words", "score_micro",
                     (F.lit(1)
                      + (F.col("score_micro") > F.col("c25")).cast("int")
                      + (F.col("score_micro") > F.col("c50")).cast("int")
                      + (F.col("score_micro") > F.col("c75")).cast("int"))
                     .cast("int").alias("tier")))
    return (tiers.groupBy("tier")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("total_tokens"),
                 F.min("score_micro").cast("long")
                 .alias("min_score_micro"),
                 F.max("score_micro").cast("long")
                 .alias("max_score_micro"))
            .orderBy("tier"))


# --------------------------------------------------------------------------
# Containment KEEP-ONE: the drop decision the containment pairs exist
# to feed — a doc is dropped when its shingle set sits >= 0.9 inside a
# LARGER doc's (the contained quote/subset duplicate; the container
# carries all the information). Equal-size mutual containments break
# ties by id (higher id drops), so the rule is a total decision with no
# order dependence. Every doc gets a keep flag — the oracle replays the
# same rule off the brute-force pair join.
# --------------------------------------------------------------------------
@query("dedup_containment_keep", oracle=f"""
WITH {_SHINGLE_CTE},
fil AS (
  SELECT * FROM sh
  WHERE s NOT IN (SELECT s FROM sh GROUP BY s
                  HAVING count(*) > {_NGRAM_MAX_DF})
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       FROM fil GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(count(*) AS BIGINT) AS inter
  FROM fil a JOIN fil b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY a_id, b_id
),
contained AS (
  SELECT DISTINCT p.a_id AS doc_id
  FROM pairs p
  JOIN sz sa ON sa.doc_id = p.a_id
  JOIN sz sb ON sb.doc_id = p.b_id
  WHERE p.inter * 10 >= 9 * sa.n
    AND (sa.n < sb.n OR (sa.n = sb.n AND p.a_id > p.b_id))
)
SELECT d.doc_id,
       CAST(d.doc_id NOT IN (SELECT doc_id FROM contained) AS INT)
         AS keep
FROM documents d
ORDER BY d.doc_id
""")
def dedup_containment_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keep flags from the prefix-filtered containment join.
    Scale: one extra |pairs|-row filter over the already-bounded
    candidate relation; the decision needs no graph pass (containment
    into a larger doc is acyclic by the size tie-break)."""
    from ..operators.dedup import containment_prefix_pairs

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = containment_prefix_pairs(docs, "doc_id", "text", n=3,
                                     tau_num=9, tau_den=10,
                                     max_df=_NGRAM_MAX_DF)
    # pairs carries sa but not sb (not every doc appears as an a_id),
    # so derive b-side sizes with the operator's own shingle contract
    from ..functions.texts import word_shingles

    sh = docs.select(F.col("doc_id").alias("d"),
                     F.explode(word_shingles(F.col("text"), 3)).alias("s"))
    hot = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
           .filter(F.col("df_") > _NGRAM_MAX_DF).select("s"))
    sh = sh.join(F.broadcast(hot), "s", "left_anti")
    sizes = sh.groupBy("d").agg(F.count(F.lit(1)).alias("nb"))
    contained = (pairs
                 .join(sizes.select(F.col("d").alias("b_id"), "nb"),
                       "b_id")
                 .filter((F.col("sa") < F.col("nb"))
                         | ((F.col("sa") == F.col("nb"))
                            & (F.col("a_id") > F.col("b_id"))))
                 .select(F.col("a_id").alias("doc_id")).distinct())
    return (docs.select("doc_id")
            .join(contained.withColumn("drop", F.lit(1)), "doc_id",
                  "left")
            .select("doc_id",
                    F.when(F.col("drop").isNull(), 1).otherwise(0)
                    .cast("int").alias("keep"))
            .orderBy("doc_id"))
