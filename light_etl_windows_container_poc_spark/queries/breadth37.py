"""Round-10 breadth: the OWN quantile sketch family (deterministic
adaptive level-sampling — operators/qsketch.py documents why this is
the right mergeable quantile summary for a distributed engine and how
it relates to KLL), certified at CONSTRUCTION level like the Count-Min
/ HLL-grid families: every kept cell replayed in DuckDB, the exact
merge theorem hashed, the rank-containment guarantee hashed, and the
streaming maintainer certified as the fifth generation-manifest
payload. Plus the two lifecycle certifications the r9 verdict named:
the ANN APPEND leg under the driver hash (the refresh leg got
ann_lifecycle_refresh in r9) and the reference-parity batch pipeline
flow (watch → route → clean → append → log → archive) as a hashed
relation instead of pytest-only.

Determinism bridges: md5/bin level assignment (identical
no-leading-zeros semantics), money as round(·100) BIGINT cents,
targets as integer ceil-div, all oracle outputs CAST (HUGEINT guard).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import cert_work_dir, query

_QSK_CAP = 256

# the shared construction replay: level = 52 − bit_length(first 52 md5
# bits of the key); L* = (largest level whose suffix-count exceeds
# cap) + 1 else 0; kept = rows at lvl ≥ L*. cnt_ge stays internal
# (DuckDB window sums promote to HUGEINT — never exposed as output).
_QSK_SQL = f"""
lv AS (
  SELECT o_orderkey AS key,
         CAST(round(o_totalprice * 100) AS BIGINT) AS val,
         CAST(52 - length(bin(CAST(('0x' || substring(
              md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT)))
              AS BIGINT) AS lvl
  FROM orders),
hist AS (SELECT lvl, CAST(count(*) AS BIGINT) AS cnt FROM lv GROUP BY lvl),
cg AS (SELECT lvl, sum(cnt) OVER (ORDER BY lvl DESC) AS cnt_ge FROM hist),
ls AS (SELECT CAST(coalesce(max(CASE WHEN cnt_ge > {_QSK_CAP} THEN lvl
                                       END) + 1,
                            0) AS BIGINT) AS l_star,
              (SELECT CAST(count(*) AS BIGINT) FROM lv) AS n_total
       FROM cg),
kept AS (SELECT key, val, lvl, l_star, n_total FROM lv, ls
         WHERE lvl >= l_star)
"""


def _orders_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))["orders"]
    return t.select("o_orderkey",
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("cents"))


# --------------------------------------------------------------------------
# The sketch itself, cell-exact: every kept (key, val, lvl) row plus
# the l_star/n_total scalars hashed against DuckDB's replay of the
# same md5/bin construction — certification at the same level as
# countmin_sketch / hll_grid_sketch (the sketch's exact state, not
# just its error envelope).
# --------------------------------------------------------------------------
@query("qsketch_build", oracle=f"""
WITH {_QSK_SQL}
SELECT key, val, lvl, l_star, n_total FROM kept ORDER BY key
""")
def qsketch_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.qsketch import qsketch_build

    df = _orders_cents(spark, sf_dir)
    return qsketch_build(df, "o_orderkey", "cents", _QSK_CAP) \
        .orderBy("key")


# --------------------------------------------------------------------------
# The rank-containment guarantee, hashed: for each decile target p·n,
# invert the sketch (first kept row whose estimated rank reaches the
# target — a window over the ≤ cap-row kept set, never over data) and
# verify the probe value's TRUE rank (one aggregate count per probe,
# no data-sized window) sits within n/4 of the target. Measured worst
# |true−target| is ≈ 0.10·n across the three SFs (std-err
# sqrt(n·2^L*) ≈ n/16 at cap 256), so n/4 ≈ 4σ holds with margin —
# and everything is md5-deterministic, so the flag is reproducible,
# not probabilistic. Saturation guard: if no kept row reaches the
# target (est total < target), the last kept row serves as the probe.
# --------------------------------------------------------------------------
@query("qsketch_rank_bounds", oracle=f"""
WITH {_QSK_SQL},
pk AS (
  SELECT val, l_star, n_total,
         row_number() OVER (ORDER BY val, key) AS rn
  FROM kept),
pr AS (
  SELECT p, CAST((p * n_total + 99) // 100 AS BIGINT) AS target_rank,
         CAST(coalesce(
           min(CASE WHEN (CAST(1 AS BIGINT) << l_star) * rn
                         >= (p * n_total + 99) // 100 THEN rn END),
           max(rn)) AS BIGINT) AS prn
  FROM pk, (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p)
  GROUP BY p, n_total),
pv AS (
  SELECT pr.p, pr.target_rank, pk.val AS probe_val,
         CAST((CAST(1 AS BIGINT) << pk.l_star) * pk.rn AS BIGINT)
           AS est_rank,
         pk.n_total
  FROM pr JOIN pk ON pk.rn = pr.prn),
tr AS (
  SELECT pv.p, pv.target_rank, pv.probe_val, pv.est_rank, pv.n_total,
         CAST((SELECT count(*) FROM lv WHERE lv.val <= pv.probe_val)
              AS BIGINT) AS true_rank
  FROM pv)
SELECT p, probe_val, target_rank, est_rank, true_rank,
       CAST(abs(true_rank - target_rank) * 4 <= n_total AS INT)
         AS within_quarter_n
FROM tr ORDER BY p
""")
def qsketch_rank_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.qsketch import qsketch_build

    df = _orders_cents(spark, sf_dir)
    kept = qsketch_build(df, "o_orderkey", "cents", _QSK_CAP)
    rn_w = W.orderBy("val", "key")  # bounded: ≤ cap kept rows
    pk = kept.withColumn("rn", F.row_number().over(rn_w))
    ps = spark.range(1, 10).select((F.col("id") * 10).cast("int")
                                   .alias("p"))
    pr = (pk.crossJoin(F.broadcast(ps))
          .withColumn("target_rank",
                      F.expr("(p * n_total + 99) div 100").cast("long"))
          .withColumn("reaches",
                      F.expr("shiftleft(1L, cast(l_star AS int)) * rn")
                      >= F.col("target_rank"))
          .groupBy("p", "target_rank")
          .agg(F.coalesce(F.min(F.when(F.col("reaches"), F.col("rn"))),
                          F.max("rn")).cast("long").alias("prn")))
    pv = (pr.join(pk, pr["prn"] == pk["rn"])
          .select("p", "target_rank", F.col("val").alias("probe_val"),
                  F.expr("CAST(shiftleft(1L, cast(l_star AS int)) * rn "
                         "AS BIGINT)").alias("est_rank"),
                  "n_total"))
    # true rank: one aggregate count per probe — probe_val is itself a
    # data value, so every probe matches ≥ 1 row and an inner join
    # against the broadcast 9-row probe relation loses nothing
    lv = df.select(F.col("cents").alias("lval"))
    tr = (lv.join(F.broadcast(pv), lv["lval"] <= pv["probe_val"])
          .groupBy("p", "target_rank", "probe_val", "est_rank", "n_total")
          .agg(F.count(F.lit(1)).cast("long").alias("true_rank")))
    return (tr.select("p", "probe_val", "target_rank", "est_rank",
                      "true_rank",
                      (F.abs(F.col("true_rank") - F.col("target_rank")) * 4
                       <= F.col("n_total")).cast("int")
                      .alias("within_quarter_n"))
            .orderBy("p"))


# --------------------------------------------------------------------------
# The exact-merge theorem, hashed: the sketch over all orders must
# equal (cell-for-cell, same L*) the qsketch_merge of four disjoint
# per-segment sketches — the property that makes a distributed
# tree-reduce deterministic and the streaming maintainer replay-safe.
# Oracle = one construction replay; the theorem says both Spark
# relations reproduce it, so mismatched_cells is identically 0.
# --------------------------------------------------------------------------
@query("qsketch_merge_consistent", oracle=f"""
WITH {_QSK_SQL}
SELECT l_star AS l_star_direct, l_star AS l_star_merged,
       (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
       CAST(0 AS BIGINT) AS mismatched_cells
FROM ls
""")
def qsketch_merge_consistent(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.qsketch import qsketch_build, qsketch_merge

    df = _orders_cents(spark, sf_dir)
    direct = qsketch_build(df, "o_orderkey", "cents", _QSK_CAP)
    segs = [qsketch_build(df.filter(F.col("o_orderkey") % 4 == i),
                          "o_orderkey", "cents", _QSK_CAP)
            for i in range(4)]
    merged = qsketch_merge(segs, _QSK_CAP)
    d_cells = direct.select("key", "val", "lvl")
    m_cells = merged.select("key", "val", "lvl")
    mism = (d_cells.exceptAll(m_cells)
            .unionByName(m_cells.exceptAll(d_cells))
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("mismatched_cells")))
    ld = direct.agg(F.max("l_star").cast("long").alias("l_star_direct"),
                    F.count(F.lit(1)).cast("long").alias("n_kept"))
    lm = merged.agg(F.max("l_star").cast("long").alias("l_star_merged"))
    return (ld.crossJoin(F.broadcast(lm)).crossJoin(F.broadcast(mism))
            .select("l_star_direct", "l_star_merged", "n_kept",
                    "mismatched_cells"))


# --------------------------------------------------------------------------
# The streaming maintainer certified: orders stream in as 4 source
# files → per-micro-batch ≤ cap-row sketches under batch_tag →
# read-time exact merge → the SAME cell-exact relation qsketch_build
# hashes. Fifth payload of the generation-manifest protocol; the
# pytest twin proves split-invariance and replay idempotency.
# --------------------------------------------------------------------------
@query("stream_qsketch_cert", oracle=f"""
WITH {_QSK_SQL}
SELECT key, val, lvl, l_star, n_total FROM kept ORDER BY key
""")
def stream_qsketch_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import summary
    from ..streaming.qsketch import QSKETCH

    df = _orders_cents(spark, sf_dir)
    work = cert_work_dir("sqsk", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    df.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema("o_orderkey long, cents long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(QSKETCH, stream, os.path.join(work, "state"),
                      os.path.join(work, "ckpt"),
                      "o_orderkey", "cents", _QSK_CAP)
    q.awaitTermination(300)
    out = (summary.read(QSKETCH, spark, os.path.join(work, "state"),
                        _QSK_CAP)
           .orderBy("key"))
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# ANN APPEND leg, hash-certified (r9 verdict #2 — the last tests-only
# lifecycle surface): build the IVF-PQ index on the even half of the
# embeddings, STREAM the odd half into it in 3 micro-batches through
# the real maintainer (readStream → foreachBatch append against the
# FROZEN quantizers, applied-batch markers), then certify on the grown
# index: (a) code completeness — codes/ holds exactly |corpus| rows,
# so replays did not duplicate; (b) replay safety — re-invoking an
# applied batch's handler leaves the code count unchanged (the marker
# skip); (c) exactness — probe-all + rerank ≥ corpus equals
# brute-force top-5 on the grown corpus (the ann_ivfpq_fullprobe_exact
# theorem surviving the append); (d) the serving floor at partial
# probe (nprobe 2, rerank 32) vs brute-force truth. Deterministic at
# the seeded k-means/codebooks, like every ANN certificate here.
# --------------------------------------------------------------------------
@query("ann_append_cert", oracle="""
SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_base,
       CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_appended,
       CAST(sum(CASE WHEN vec_id % 100 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_queries,
       CAST(1 AS INT) AS codes_complete,
       CAST(1 AS INT) AS replay_skipped,
       CAST(0 AS BIGINT) AS mismatched_neighbors,
       CAST(1 AS INT) AS recall_partial_ge_40pct
FROM embeddings
""")
def ann_append_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_index import (build_ivfpq_index,
                                       load_ivfpq_quantizers,
                                       query_ivfpq_index)
    from ..operators.similarity import ann_bruteforce_topk
    from ..streaming.ann_maintenance import (ann_append_batch_handler,
                                             start_ann_index_maintenance)
    from .invariants import _sym_diff_count

    emb = (load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 2 == 0)
    growth = emb.filter(F.col("vec_id") % 2 == 1)

    work = cert_work_dir("annap", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    idx = os.path.join(work, "idx")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=6)

    src = os.path.join(work, "src")
    growth.repartition(3).write.parquet(src)
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_ann_index_maintenance(stream, idx,
                                    os.path.join(work, "ckpt"))
    q.awaitTermination(300)

    codes = spark.read.parquet(os.path.join(idx, "codes"))
    n_base, n_growth = base.count(), growth.count()
    n_codes = codes.count()
    # replay an applied batch by hand: the marker must skip it
    ann_append_batch_handler(idx)(growth.limit(50), 0)
    n_codes_after_replay = \
        spark.read.parquet(os.path.join(idx, "codes")).count()

    queries = emb.filter(F.col("vec_id") % 100 == 1)
    # truth feeds the exact sym-diff, the partial-recall join AND the
    # total count — one brute-force GEMM pass instead of three (r15,
    # guide §5; the takedown cert already checkpoints its truth)
    truth = (ann_bruteforce_topk(emb, queries, "vec_id", "embedding",
                                 k=5).select(F.col("q_id").alias("a_id"),
                                             F.col("n_id").alias("b_id"))
             .localCheckpoint(eager=False))
    # the exact and partial probes serve the SAME frozen quantizers —
    # one load instead of two (guide §4.5)
    qz = load_ivfpq_quantizers(spark, idx)
    exact = (query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                               "embedding", k=5, nprobe=6,
                               rerank=1 << 30, quantizers=qz)
             .select(F.col("q_id").alias("a_id"),
                     F.col("n_id").alias("b_id")))
    mismatched = _sym_diff_count(exact, truth).count()
    partial = (query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                                 "embedding", k=5, nprobe=2, rerank=32,
                                 quantizers=qz)
               .select(F.col("q_id").alias("a_id"),
                       F.col("n_id").alias("b_id")))
    hits = partial.join(truth, ["a_id", "b_id"]).count()
    total = truth.count()
    n_queries = queries.count()
    shutil.rmtree(work, ignore_errors=True)

    return spark.createDataFrame(
        [(n_base, n_growth, n_queries,
          int(n_codes == n_base + n_growth),
          int(n_codes_after_replay == n_codes),
          int(mismatched), int(hits * 100 >= total * 40))],
        "n_base long, n_appended long, n_queries long, "
        "codes_complete int, replay_skipped int, "
        "mismatched_neighbors long, recall_partial_ge_40pct int")


# --------------------------------------------------------------------------
# The reference-parity batch pipeline flow under the driver hash (r9
# verdict #3): seed a deterministic CSV drop derived from the
# customer/orders tables (dirty headers, unparseable amounts, empty
# dates, all-empty rows, plus an unroutable file group), run the REAL
# ETLPipeline.ingest_csv_dir (binaryFile scan → encoding-fallback CSV
# parse → pattern route → sanitize/coerce/drop-empty → single-pass
# per-table append → processing log → archive), then hash the
# warehouse back against a DuckDB replay of the same
# cleaning/routing semantics over the same source tables. The routed
# row counts, null-coercion counts, exact cent sums, date ranges, the
# log's recorded counts, and the archive sweep all ride one relation —
# reference pattern_based_cleaner_watcher.py:136-157 +
# dataframe_tasks.py:54-67 + enhanced_tasks.py:97-219 as ONE
# certificate.
# --------------------------------------------------------------------------
_PIPE_BATCH_TS = "2025-01-01 00:00:00"


@query("pipeline_e2e_cert", oracle="""
WITH cust AS (
  SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL
              WHEN c_custkey % 10 = 0 THEN NULL
              ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS cents,
         CASE WHEN c_custkey % 13 = 0 OR c_custkey % 7 = 0 THEN NULL
              ELSE DATE '2024-01-01'
                   + CAST(c_custkey % 60 AS INTEGER) END AS d,
         c_custkey % 13 = 0 AS all_empty
  FROM customer),
sales AS (
  SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_orderkey % 10 = 0 THEN NULL
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
         CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0 THEN NULL
              ELSE CAST(o_orderdate AS DATE) END AS d,
         o_orderkey % 13 = 0 AS all_empty
  FROM orders),
both_t AS (
  SELECT 'dim_customers' AS table_name, * FROM cust
  UNION ALL
  SELECT 'fact_sales' AS table_name, * FROM sales)
SELECT table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_amount_null,
       CAST(sum(cents) AS BIGINT) AS sum_amount_cents,
       CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_date_null,
       CAST(min(d) AS VARCHAR) AS min_date,
       CAST(max(d) AS VARCHAR) AS max_date,
       CAST(count(*) AS BIGINT) AS log_rows,
       'success' AS log_status,
       CAST(1 AS INT) AS archived_ok
FROM both_t WHERE NOT all_empty
GROUP BY table_name ORDER BY table_name
""")
def pipeline_e2e_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline import ETLPipeline

    t = load_tables(spark, sf_dir, ("customer", "orders", "nation"))
    work = cert_work_dir("pipe", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    drop = os.path.join(work, "drop")
    wh = os.path.join(work, "warehouse")
    arch = os.path.join(work, "archive")

    def seed(df, key, amount, date, subdir):
        k = F.col(key)
        out = df.select(
            F.when(k % 13 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("K"), k.cast("string")))
            .alias("Raw Key"),
            F.when(k % 13 == 0, F.lit(None))
            .when(k % 10 == 0, F.lit("garbage"))
            .otherwise(F.format_string("%.2f", amount))
            .alias("Amount Due"),
            F.when((k % 13 == 0) | (k % 7 == 0), F.lit(None))
            .otherwise(date.cast("string")).alias("Event Date"))
        (out.repartition(1).write.option("header", True)
         .csv(os.path.join(drop, subdir)))

    seed(t["customer"], "c_custkey", F.col("c_acctbal"),
         F.date_add(F.lit("2024-01-01").cast("date"),
                    (F.col("c_custkey") % 60).cast("int")),
         "customer_data_drop")
    seed(t["orders"], "o_orderkey", F.col("o_totalprice"),
         F.col("o_orderdate"), "sales_data_drop")
    # an unroutable group: no pattern matches → must reach no table
    (t["nation"].select(F.col("n_name").alias("Raw Key"),
                        F.lit("1.00").alias("Amount Due"),
                        F.lit("2024-01-01").alias("Event Date"))
     .repartition(1).write.option("header", True)
     .csv(os.path.join(drop, "misc_notes_drop")))

    pipe = ETLPipeline(spark, warehouse_dir=wh)
    pipe.ingest_csv_dir(
        drop, "`Raw Key` string, `Amount Due` string, "
              "`Event Date` string",
        batch_ts=_PIPE_BATCH_TS, archive_dir=arch)

    leftover = sum(len([n for n in names if n.endswith(".csv")])
                   for _, _, names in os.walk(drop))
    archived_ok = int(leftover == 0 and os.path.isdir(arch))

    log = (spark.read.parquet(os.path.join(wh, "etl_processing_log"))
           .filter(F.col("status") == "success")
           .groupBy("sheet_name")
           .agg(F.sum("rows_processed").cast("long").alias("log_rows"),
                F.first("status").alias("log_status"))
           .withColumnRenamed("sheet_name", "table_name"))

    parts = []
    for table in ("dim_customers", "fact_sales"):
        w = spark.read.parquet(os.path.join(wh, table))
        parts.append(w.agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("amount_due").isNull().cast("int")).cast("long")
            .alias("n_amount_null"),
            F.sum(F.round(F.col("amount_due") * 100).cast("long"))
            .cast("long").alias("sum_amount_cents"),
            F.sum(F.col("event_date").isNull().cast("int")).cast("long")
            .alias("n_date_null"),
            F.min("event_date").cast("string").alias("min_date"),
            F.max("event_date").cast("string").alias("max_date")))
    wide = parts[0].unionByName(parts[1])
    out = (wide.join(F.broadcast(log), "table_name", "left")
           .withColumn("archived_ok", F.lit(archived_ok).cast("int"))
           .select("table_name", "n_rows", "n_amount_null",
                   "sum_amount_cents", "n_date_null", "min_date",
                   "max_date", "log_rows", "log_status", "archived_ok")
           .orderBy("table_name"))
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Grouped sketches + algebraic ROLLUP — the shape a 100 TB pipeline
# actually runs: one quantile sketch PER SOURCE (every window
# partitioned by source), then the corpus-level sketch obtained by
# MERGING the 20 per-source sketches — never re-scanning the data —
# and certified cell-identical to a direct global build (the exact
# merge theorem applied at rollup granularity). cap=16 keeps every
# per-source L* > 0 at sf0.01+ so the rollup exercises real
# truncation, not the degenerate keep-everything case. Output: one row
# per source (its L*, kept-cell count, n) plus the __all__ rollup row
# carrying the direct-vs-merged sym-diff (identically 0).
# --------------------------------------------------------------------------
_QSRC_CAP = 16

_QSRC_SQL = f"""
lv AS (
  SELECT source, doc_id AS key, n_chars AS val,
         CAST(52 - length(bin(CAST(('0x' || substring(
              md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)))
              AS BIGINT) AS lvl
  FROM documents),
hist AS (SELECT source, lvl, CAST(count(*) AS BIGINT) AS cnt
         FROM lv GROUP BY source, lvl),
cg AS (SELECT source, lvl,
              sum(cnt) OVER (PARTITION BY source ORDER BY lvl DESC)
                AS cnt_ge
       FROM hist),
ls AS (SELECT source,
              CAST(coalesce(max(CASE WHEN cnt_ge > {_QSRC_CAP} THEN lvl
                                END) + 1,
                            0) AS BIGINT) AS l_star
       FROM cg GROUP BY source),
nt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
       FROM lv GROUP BY source),
kept AS (SELECT lv.source, lv.key, lv.val, lv.lvl, ls.l_star
         FROM lv JOIN ls ON lv.source = ls.source
         WHERE lv.lvl >= ls.l_star),
g_hist AS (SELECT lvl, CAST(count(*) AS BIGINT) AS cnt
           FROM lv GROUP BY lvl),
g_cg AS (SELECT lvl, sum(cnt) OVER (ORDER BY lvl DESC) AS cnt_ge
         FROM g_hist),
g_ls AS (SELECT CAST(coalesce(max(CASE WHEN cnt_ge > {_QSRC_CAP} THEN lvl
                                       END)
                              + 1, 0) AS BIGINT) AS l_star,
                (SELECT CAST(count(*) AS BIGINT) FROM lv) AS n_total
         FROM g_cg),
g_kept AS (SELECT key FROM lv, g_ls WHERE lvl >= g_ls.l_star)
"""


@query("qsketch_by_source", oracle=f"""
WITH {_QSRC_SQL}
SELECT source, l_star, n_kept, n_total,
       CAST(0 AS BIGINT) AS rollup_mismatch
FROM (
  SELECT k.source, max(k.l_star) AS l_star,
         CAST(count(*) AS BIGINT) AS n_kept, max(nt.n_total) AS n_total
  FROM kept k JOIN nt ON k.source = nt.source
  GROUP BY k.source
  UNION ALL
  SELECT '__all__', g_ls.l_star,
         (SELECT CAST(count(*) AS BIGINT) FROM g_kept),
         g_ls.n_total
  FROM g_ls)
ORDER BY source
""")
def qsketch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.qsketch import qsketch_build, qsketch_level

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    lv = docs.select("source", F.col("doc_id").alias("key"),
                     F.col("n_chars").alias("val"),
                     qsketch_level(F.col("doc_id")).alias("lvl"))
    hist = lv.groupBy("source", "lvl").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w = (W.partitionBy("source").orderBy(F.desc("lvl"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    ls = (hist.withColumn("cnt_ge", F.sum("cnt").over(w))
          .groupBy("source")
          .agg(F.coalesce(
              F.max(F.when(F.col("cnt_ge") > _QSRC_CAP, F.col("lvl")))
              + 1, F.lit(0)).cast("long").alias("l_star"),
              F.sum("cnt").cast("long").alias("n_total")))
    # pin the per-source kept cells once (≤ |sources|·(cap+ties) rows):
    # they feed the merge histogram, the merge filter, the per-source
    # aggregate, and the mismatch probe — without the checkpoint the
    # docs-scan + window lineage re-executes for every consumer
    kept = (lv.join(F.broadcast(ls), "source")
            .filter(F.col("lvl") >= F.col("l_star"))
            .localCheckpoint(eager=True))

    # the rollup: merge the 20 per-source sketches relationally through
    # the ONE shared L* re-decision (operators/qsketch.py
    # merge_sketch_parts — also behind qsketch_merge and the streaming
    # reader) and prove it cell-identical to a direct global build
    from ..operators.qsketch import merge_sketch_parts

    scal = ls.agg(F.sum("n_total").cast("long").alias("n_total"),
                  F.max("l_star").cast("long").alias("ls_floor"))
    merged = merge_sketch_parts(kept.select("key", "val", "lvl"),
                                scal, _QSRC_CAP).localCheckpoint(eager=True)
    direct = qsketch_build(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars",
        _QSRC_CAP).localCheckpoint(eager=True)
    # multiset symmetric difference in ONE aggregation instead of two
    # exceptAll shuffles: Σ_cells |count_merged − count_direct| — equal
    # to |merged ∖ direct| + |direct ∖ merged| by definition
    m_cells = merged.select("key", "val", "lvl")
    d_cells = direct.select("key", "val", "lvl")
    mism = (m_cells.withColumn("sgn", F.lit(1))
            .unionByName(d_cells.withColumn("sgn", F.lit(-1)))
            .groupBy("key", "val", "lvl")
            .agg(F.sum("sgn").alias("d"))
            .agg(F.coalesce(F.sum(F.abs(F.col("d"))), F.lit(0))
                 .cast("long").alias("rollup_mismatch")))

    per_src = (kept.groupBy("source")
               .agg(F.max("l_star").cast("long").alias("l_star"),
                    F.count(F.lit(1)).cast("long").alias("n_kept"),
                    F.max("n_total").cast("long").alias("n_total"))
               .withColumn("rollup_mismatch", F.lit(0).cast("long")))
    g_row = (merged.agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                        F.max("l_star").cast("long").alias("l_star"),
                        F.max("n_total").cast("long").alias("n_total"))
             .crossJoin(F.broadcast(mism))
             .select(F.lit("__all__").alias("source"), "l_star",
                     "n_kept", "n_total", "rollup_mismatch"))
    return per_src.unionByName(g_row).orderBy("source")
