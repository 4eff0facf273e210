"""Round-12+ head candidates, pre-certified. Eight queries:
pipeline_e2e_stream_cert (the streaming flagship flow under the driver
hash), graph_jaccard_similarity, ann_dim_truncation_recall,
wordpiece_tokenize, changepoint_binary_seg, delete_where_cert,
delete_where_versioned_cert and proximity_search_cert — each with a
full DuckDB oracle and the exact driver-replica gate compare green at
all three SFs (tests/test_breadth43.py holds the sf0.001 legs).

`pipeline_e2e_cert` (queries/breadth37.py) certifies the BATCH
re-expression of the reference's whole watcher flow; this module
certifies its STREAMING twin (streaming/excel_pipeline.py — the excel
drive watch → pattern-route → clean → per-table append → processing
log loop that IS the reference watcher,
pattern_based_cleaner_watcher.py:239-314). Same deterministic
corruption recipe, same DuckDB replay of the cleaned warehouse
aggregates; what it certifies BEYOND the batch cert is the streaming
machinery: the python-data-source excel reader, the per-micro-batch
route+clean handler, checkpointed ingest, and the 7-column
processing-log contract shared with the batch pipeline.

Promoted + registered in round 12 (the r11 verdict's locked head
allocation): all eight carry @query decorators backed by the 3-SF
gate-compare evidence in tests/test_breadth43.py — the promotion added
the decorators, nothing else.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import cert_work_dir, query

_STREAM_PIPE_BATCH_TS = "2025-01-01 00:00:00"

PIPELINE_E2E_STREAM_ORACLE = """
WITH cust AS (
  SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL
              WHEN c_custkey % 10 = 0 THEN NULL
              ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS cents,
         CASE WHEN c_custkey % 13 = 0 OR c_custkey % 7 = 0 THEN NULL
              ELSE DATE '2024-01-01'
                   + CAST(c_custkey % 60 AS INTEGER) END AS d,
         c_custkey % 13 = 0 AS all_empty
  FROM customer WHERE c_custkey % 20 = 1),
sales AS (
  SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_orderkey % 10 = 0 THEN NULL
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
         CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0 THEN NULL
              ELSE CAST(o_orderdate AS DATE) END AS d,
         o_orderkey % 13 = 0 AS all_empty
  FROM orders WHERE o_orderkey % 20 = 1),
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
       'completed' AS log_status
FROM both_t WHERE NOT all_empty
GROUP BY table_name ORDER BY table_name
"""


@query("pipeline_e2e_stream_cert", oracle=PIPELINE_E2E_STREAM_ORACLE)
def pipeline_e2e_stream_cert(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Seed xlsx workbooks from customer/orders (c/o key % 20 == 1,
    corrupted exactly like pipeline_e2e_cert: key % 13 → all-empty row,
    % 10 → garbage amount, % 7 → null date), stream them through the
    excel ETL (two checkpointed streams, one per pattern dir like the
    reference's per-pattern watcher configs), then hash the cleaned
    warehouse per table: row counts, null counts, exact cents sum,
    date range, and the processing log's per-table row totals + status.
    DuckDB replays every cell from the base tables."""
    from ..sources.xlsx import build_xlsx_bytes
    from ..streaming.excel_pipeline import start_excel_etl_stream

    t = load_tables(spark, sf_dir, ("customer", "orders"))
    work = cert_work_dir("spipe", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    try:
        drive = os.path.join(work, "drive")
        wh = os.path.join(work, "warehouse")

        def seed(df, key, amount, date, subdir):
            k = F.col(key)
            rows = (df.filter(k % 20 == 1).select(
                k.alias("k"),
                F.when(k % 13 == 0, F.lit(None))
                .otherwise(F.concat(F.lit("K"), k.cast("string")))
                .alias("raw_key"),
                F.when(k % 13 == 0, F.lit(None))
                .when(k % 10 == 0, F.lit("garbage"))
                .otherwise(F.format_string("%.2f", amount))
                .alias("amount"),
                F.when((k % 13 == 0) | (k % 7 == 0), F.lit(None))
                .otherwise(date.cast("string")).alias("date"))
                .orderBy("k").collect())
            header = ["Raw Key", "Amount Due", "Event Date"]
            for part in (0, 1):  # two books -> the log sums over files
                grid = [header] + [[r.raw_key, r.amount, r.date]
                                   for r in rows if r.k % 2 == part]
                path = os.path.join(drive, subdir, f"book{part}.xlsx")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as fh:
                    fh.write(build_xlsx_bytes({"Sheet1": grid}))

        seed(t["customer"], "c_custkey", F.col("c_acctbal"),
             F.date_add(F.lit("2024-01-01").cast("date"),
                        (F.col("c_custkey") % 60).cast("int")),
             "customer_data_drop")
        seed(t["orders"], "o_orderkey", F.col("o_totalprice"),
             F.col("o_orderdate"), "sales_data_drop")

        ddl = "`Raw Key` string, `Amount Due` string, `Event Date` string"
        # the two per-pattern streams are disjoint (own source dir, own
        # checkpoint, own warehouse table), so they run concurrently:
        # the ~13s one-time streaming machinery cost is paid once, not
        # serially per stream. The SHARED processing-log table is the
        # one overlap — append_processing_log writes each batch's rows as
        # its own file under the table's driver path lock, renamed into
        # place (see sinks/__init__.py)
        streams = [(sub, start_excel_etl_stream(
            spark, os.path.join(drive, sub), ddl, wh,
            os.path.join(work, f"ckpt_{sub}"),
            batch_ts=_STREAM_PIPE_BATCH_TS))
            for sub in ("customer_data_drop", "sales_data_drop")]
        for sub, q in streams:
            assert q.awaitTermination(300), f"{sub} ingest did not finish"

        log = (spark.read.parquet(os.path.join(wh, "etl_processing_log"))
               .withColumn(
                   "table_name",
                   F.when(F.col("filename").contains("customer_data"),
                          F.lit("dim_customers"))
                   .otherwise(F.lit("fact_sales")))
               .groupBy("table_name")
               .agg(F.sum("rows_processed").cast("long").alias("log_rows"),
                    F.first("status").alias("log_status")))

        parts = []
        for table in ("dim_customers", "fact_sales"):
            w = spark.read.parquet(os.path.join(wh, table))
            parts.append(w.agg(
                F.lit(table).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("amount_due").isNull().cast("int"))
                .cast("long").alias("n_amount_null"),
                F.sum(F.round(F.col("amount_due") * 100).cast("long"))
                .cast("long").alias("sum_amount_cents"),
                F.sum(F.col("event_date").isNull().cast("int"))
                .cast("long").alias("n_date_null"),
                F.min("event_date").cast("string").alias("min_date"),
                F.max("event_date").cast("string").alias("max_date")))
        wide = parts[0].unionByName(parts[1])
        out = (wide.join(F.broadcast(log), "table_name", "left")
               .select("table_name", "n_rows", "n_amount_null",
                       "sum_amount_cents", "n_date_null", "min_date",
                       "max_date", "log_rows", "log_status")
               .orderBy("table_name"))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# Neighbor-Jaccard link prediction — the set-overlap sibling of
# graph_adamic_adar over the same customer–part bipartite graph:
# J(c1,c2) = |N(c1) ∩ N(c2)| / |N(c1) ∪ N(c2)| on the hub-capped
# signal subgraph (parts with deg in [2, 64]; deg-1 parts witness no
# pair, hubs alone drive the Σ deg² pair blowup — the same cap, with
# degrees and unions defined over the SAME subgraph so the statement
# is self-consistent and DuckDB-replayable). All-integer backbone:
# common, deg1, deg2, and jac_micro = floor(1e6·common/(d1+d2−common)
# + 0.5); pairs need common ≥ 2 (single-witness pairs are the
# J-saturating noise tier), top-50 rides TakeOrdered on the total
# order (jac DESC, c1, c2) — never a global window.
# --------------------------------------------------------------------------
GRAPH_JACCARD_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
keep AS (
  SELECT s FROM (SELECT s, count(*) AS deg FROM e0 GROUP BY s)
  WHERE deg BETWEEN 2 AND 64
),
e AS (SELECT c, e0.s FROM e0 JOIN keep ON e0.s = keep.s),
cd AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY c),
p AS (
  SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS common_parts
  FROM e a JOIN e b ON a.s = b.s AND a.c < b.c
  GROUP BY a.c, b.c
  HAVING count(*) >= 2
)
SELECT p.c1, p.c2, p.common_parts,
       d1.deg AS deg1, d2.deg AS deg2,
       CAST(floor(1000000.0 * p.common_parts
                  / (d1.deg + d2.deg - p.common_parts) + 0.5) AS BIGINT)
         AS jac_micro
FROM p JOIN cd d1 ON p.c1 = d1.c JOIN cd d2 ON p.c2 = d2.c
ORDER BY jac_micro DESC, p.c1, p.c2 LIMIT 50
"""


@query("graph_jaccard_similarity", oracle=GRAPH_JACCARD_ORACLE)
def graph_jaccard_similarity(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Top-50 customer pairs by neighbor-Jaccard over shared purchased
    parts. Scale shape mirrors graph_adamic_adar: the hub cap bounds
    the self-join to ≤ 64·|edges| candidate rows, per-customer degrees
    ride a broadcast-joinable |customers|-row relation, and the final
    top-50 is TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    e0 = (t["orders"].join(t["lineitem"],
                           F.col("o_orderkey") == F.col("l_orderkey"))
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_partkey").alias("s"))
          .distinct()
          # materialize once: e0 feeds the hub census AND the capped edge
          # relation, whose three downstream readers (degrees + both
          # self-join sides) otherwise each recompute the orders-lineitem
          # join + distinct from scratch (4 subtree copies in the plan;
          # sf0.1 warm 4.8s -> 2.6s)
          .localCheckpoint(eager=True))
    keep = (e0.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
            .filter((F.col("deg") >= 2) & (F.col("deg") <= 64))
            .select("s"))
    e = e0.join(F.broadcast(keep), "s")
    cd = e.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a = e.select(F.col("c").alias("c1"), "s")
    b = e.select(F.col("c").alias("c2"), "s")
    p = (a.join(b, "s").filter(F.col("c1") < F.col("c2"))
         .groupBy("c1", "c2")
         .agg(F.count(F.lit(1)).cast("long").alias("common_parts"))
         .filter(F.col("common_parts") >= 2))
    d1 = cd.select(F.col("c").alias("c1"), F.col("deg").alias("deg1"))
    d2 = cd.select(F.col("c").alias("c2"), F.col("deg").alias("deg2"))
    jac = F.floor(F.lit(1_000_000.0) * F.col("common_parts")
                  / (F.col("deg1") + F.col("deg2")
                     - F.col("common_parts")) + F.lit(0.5)).cast("long")
    return (p.join(d1, "c1").join(d2, "c2")
            .select("c1", "c2", "common_parts", "deg1", "deg2",
                    jac.alias("jac_micro"))
            .orderBy(F.desc("jac_micro"), "c1", "c2").limit(50))


# --------------------------------------------------------------------------
# Matryoshka-style truncation recall — the embedding-ops certificate a
# dimension-reduction rollout needs: serve from a PREFIX of each vector
# (16 / 32 of 64 dims) and measure exact recall@5 against the full-dim
# brute-force truth. Both sides are exact brute-force scans (the
# ann_bruteforce exactness contract: re-scored left-fold cosine,
# bit-identical to DuckDB's list kernel, ties on n_id), so the overlap
# counts are deterministic integers — the dim=64 row doubles as the
# identity check (overlap == 5·queries). Complements embed_pca
# (learned projection) with the projection-free truncation every
# Matryoshka-trained embedder offers.
# --------------------------------------------------------------------------
ANN_DIM_TRUNCATION_ORACLE = """
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 100 = 1),
c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings),
dims(dim) AS (VALUES (16), (32), (64)),
scored AS (
  SELECT dims.dim, q.q_id, c.n_id,
         list_cosine_similarity(q.qv[1:dims.dim],
                                c.nv[1:dims.dim]) AS sim
  FROM q, c, dims WHERE q.q_id <> c.n_id
),
topk AS (
  SELECT dim, q_id, n_id
  FROM (SELECT dim, q_id, n_id,
               row_number() OVER (PARTITION BY dim, q_id
                                  ORDER BY sim DESC, n_id) AS rn
        FROM scored)
  WHERE rn <= 5
),
truth AS (SELECT q_id, n_id FROM topk WHERE dim = 64),
hits AS (
  SELECT t.dim, CAST(count(*) AS BIGINT) AS n_overlap
  FROM topk t JOIN truth ON t.q_id = truth.q_id
                        AND t.n_id = truth.n_id
  GROUP BY t.dim
)
SELECT CAST(dim AS INT) AS dim,
       (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
       n_overlap,
       CAST(floor(1000000.0 * n_overlap
                  / (5 * (SELECT count(*) FROM q)) + 0.5) AS BIGINT)
         AS recall_micro
FROM hits ORDER BY dim
"""


@query("ann_dim_truncation_recall", oracle=ANN_DIM_TRUNCATION_ORACLE)
def ann_dim_truncation_recall(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """recall@5 of prefix-truncated cosine search (16/32/64 of 64 dims)
    vs the full-dim exact truth, as exact overlap counts. One GEMM-
    batched brute-force scan per dim (operators/similarity
    .ann_bruteforce_topk — local top-k per Arrow batch, no scored
    |q|·|corpus| exchange); the dim=64 leg must equal 5·n_queries."""
    from ..operators.similarity import ann_bruteforce_topk

    emb = (load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
           .select("vec_id", "embedding"))
    queries = emb.filter(F.col("vec_id") % 100 == 1)
    n_queries = queries.count()

    def topk_at(dim: int) -> DataFrame:
        trunc = F.slice("embedding", 1, dim).alias("embedding")
        return (ann_bruteforce_topk(emb.select("vec_id", trunc),
                                    queries.select("vec_id", trunc),
                                    "vec_id", "embedding", k=5)
                .select("q_id", "n_id"))

    truth = topk_at(64).localCheckpoint(eager=True)
    rows = []
    for dim in (16, 32, 64):
        got = topk_at(dim) if dim != 64 else truth
        n_overlap = got.join(truth, ["q_id", "n_id"]).count()
        rows.append((dim, n_queries, n_overlap,
                     int(1_000_000.0 * n_overlap
                         / (5 * n_queries) + 0.5)))
    return spark.createDataFrame(
        rows, "dim int, n_queries long, n_overlap long, recall_micro long")


# --------------------------------------------------------------------------
# WordPiece-style greedy tokenizer — the longest-match-first tier of the
# tokenizer family (BPE applies merges in LEARNED RANK order,
# breadth27/breadth31; unigram-LM segments by likelihood, breadth32;
# WordPiece walks each word left-to-right taking the longest vocab
# entry at every position, with a separate continuation vocabulary for
# non-initial positions — the BERT-family scheme). The vocab here is a
# FROZEN fixture (learning is certified separately by bpe_learn /
# unigram_lm_learn); what this op certifies is the greedy matcher
# itself, replayed step-for-step in DuckDB by a recursive CTE whose
# recursive term is an unrolled longest-first CASE over the vocab —
# each (word, pos) state has exactly one successor, so the chain is
# deterministic and terminal rows (pos ≥ len) carry the token count.
#
# Scale shape: tokenization runs ONCE PER DISTINCT (16-char-truncated)
# word via an Arrow-batched pandas UDF with a per-batch memo dict, and
# instance counts join back — cost follows |vocabulary|, never corpus
# tokens (the dictionary-not-corpus contract of bpe_apply_large).
# --------------------------------------------------------------------------
WP_INITIAL = [
    "stream", "window", "column", "filter", "vector", "query", "merge",
    "group", "batch", "table", "spark", "order", "value", "scan",
    "sort", "part", "join", "hash", "line", "key", "agg", "the",
    "fast", "slow", "qu", "st", "sc", "wh", "th", "gr", "pa", "jo",
    "ba", "ta", "va", "co", "fi", "me", "or", "so",
]
WP_CONTINUATION = [
    "tion", "ing", "er", "ed", "es", "le", "re", "ry", "rt", "up",
    "in", "an", "on", "at", "ow", "ue", "sh", "ort", "ine", "ump",
    "ble", "dow", "umn", "lter", "rge", "tch", "eam", "ctor", "uery",
]
_WP_MAX_WORD = 16


def _wp_case(vocab: list[str], pos_expr: str) -> str:
    branches = "\n".join(
        f"WHEN substr(word, {pos_expr}, {len(v)}) = '{v}' THEN {len(v)}"
        for v in sorted(vocab, key=len, reverse=True))
    return f"CASE {branches} ELSE 1 END"


def _wordpiece_oracle() -> str:
    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id, substr(word, 1, {_WP_MAX_WORD}) AS word
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)),
                                                     '\\s+'),
                                  x -> x <> '')) AS word
        FROM documents)
),
seg AS (
  SELECT doc_id, word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n_tok
  FROM w
  UNION ALL
  SELECT doc_id, word, pos + step, n_tok + 1
  FROM (
    SELECT doc_id, word, pos, n_tok,
           CASE WHEN pos = 0
                THEN {_wp_case(WP_INITIAL, "1")}
                ELSE {_wp_case(WP_CONTINUATION, "CAST(pos + 1 AS INT)")}
           END AS step
    FROM seg WHERE pos < len(word))
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(1000 * sum(n_tok) // count(*) AS BIGINT)
         AS tokens_per_word_milli
FROM seg WHERE pos >= len(word)
GROUP BY doc_id ORDER BY doc_id
"""


WORDPIECE_TOKENIZE_ORACLE = _wordpiece_oracle()


def wordpiece_greedy_lengths(word: str) -> int:
    """Reference greedy matcher (driver-side twin of the UDF loop):
    token count of one ≤16-char word under the frozen vocab."""
    init = sorted(WP_INITIAL, key=len, reverse=True)
    cont = sorted(WP_CONTINUATION, key=len, reverse=True)
    pos, n = 0, 0
    while pos < len(word):
        table = init if pos == 0 else cont
        step = 1
        for v in table:
            if word.startswith(v, pos):
                step = len(v)
                break
        pos += step
        n += 1
    return n


@query("wordpiece_tokenize", oracle=WORDPIECE_TOKENIZE_ORACLE)
def wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc WordPiece-style token stats: n_words, n_tokens and the
    milli-fertility, greedy longest-match over the frozen two-table
    vocab. Distinct-word tokenization + instance-count join-back."""
    from ..functions.texts import words

    init = sorted(WP_INITIAL, key=len, reverse=True)
    cont = sorted(WP_CONTINUATION, key=len, reverse=True)

    def tok_batches(batches):
        memo: dict[str, int] = {}

        def count(word: str) -> int:
            got = memo.get(word)
            if got is not None:
                return got
            pos, n = 0, 0
            while pos < len(word):
                table = init if pos == 0 else cont
                step = 1
                for v in table:
                    if word.startswith(v, pos):
                        step = len(v)
                        break
                pos += step
                n += 1
            memo[word] = n
            return n

        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_tok"] = pdf["word"].map(count).astype("int64")
            yield pdf

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    inst = (docs.select("doc_id",
                        F.explode(words(F.lower(F.col("text"))))
                        .alias("raw"))
            .select("doc_id",
                    F.substring("raw", 1, _WP_MAX_WORD).alias("word")))
    per_word = (inst.groupBy("doc_id", "word")
                .agg(F.count(F.lit(1)).cast("long").alias("n_inst")))
    vocab = (per_word.select("word").distinct()
             .mapInPandas(tok_batches, "word string, n_tok long"))
    return (per_word.join(F.broadcast(vocab), "word")
            .groupBy("doc_id")
            .agg(F.sum("n_inst").cast("long").alias("n_words"),
                 F.sum(F.col("n_inst") * F.col("n_tok")).cast("long")
                 .alias("n_tokens"))
            .withColumn("tokens_per_word_milli",
                        F.expr("1000 * n_tokens div n_words").cast("long"))
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# Binary-segmentation changepoint — the drift family's "WHERE did the
# level shift" tier next to cusum (sequential drift score), theil-sen /
# mann-kendall (trend), seasonality_dft/acf (periodicity): per event
# type, the split day t of the daily count series minimizing two-
# segment SSE, equivalently maximizing score(t) = S1²/n1 + S2²/n2.
# Exact-integer backbone (n1, n2, S1, S2 from one cumulative window
# over the calendar-bounded day spine); the score rides as a double
# derived from those exact integers with a textually parallel formula
# in both engines (the grouped_ols contract), gain_micro =
# floor(1e6·(best − unsplit S²/n) + 0.5) micro-rounds ONCE at the end.
# Argmax ties break on the earlier day — a total order, so the picked
# split is deterministic. Splits per type are |days|² only in the
# trivial sense of scoring |days| candidates with O(1) window state —
# one pass, never a pair join.
# --------------------------------------------------------------------------
CHANGEPOINT_ORACLE = """
WITH d AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cnt) AS BIGINT) AS s
  FROM d GROUP BY t
),
cum AS (
  SELECT t, day,
         CAST(row_number() OVER w AS BIGINT) AS n1,
         CAST(sum(cnt) OVER w AS BIGINT) AS s1
  FROM d WINDOW w AS (PARTITION BY t ORDER BY day
                      ROWS UNBOUNDED PRECEDING)
),
scored AS (
  SELECT cum.t, cum.day, cum.n1, tot.n - cum.n1 AS n2,
         cum.s1, tot.s - cum.s1 AS s2, tot.n AS n, tot.s AS s,
         CAST(cum.s1 AS DOUBLE) * CAST(cum.s1 AS DOUBLE)
           / CAST(cum.n1 AS DOUBLE)
         + CAST(tot.s - cum.s1 AS DOUBLE)
           * CAST(tot.s - cum.s1 AS DOUBLE)
           / CAST(tot.n - cum.n1 AS DOUBLE) AS score
  FROM cum JOIN tot ON cum.t = tot.t
  WHERE cum.n1 < tot.n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY t
                               ORDER BY score DESC, day) AS rn
  FROM scored
)
SELECT t AS event_type, CAST(day AS VARCHAR) AS split_day,
       n1, n2, s1, s2,
       CAST(floor(1000000.0 * (score - CAST(s AS DOUBLE)
                                       * CAST(s AS DOUBLE)
                                       / CAST(n AS DOUBLE)) + 0.5)
            AS BIGINT) AS gain_micro
FROM best WHERE rn = 1 ORDER BY event_type
"""


@query("changepoint_binary_seg", oracle=CHANGEPOINT_ORACLE)
def changepoint_binary_seg(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Best two-segment split of each event type's daily count series:
    one cumulative window over the day spine scores every candidate
    split, distributed TakeOrdered-free argmax via a type-partitioned
    rank on the (score DESC, day) total order."""
    from pyspark.sql import Window as W

    events = load_tables(spark, sf_dir, ("events",))["events"]
    d = (events.select(F.col("event_type").alias("t"),
                       F.to_date("ts").alias("day"))
         .groupBy("t", "day")
         .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    tot = d.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"),
                             F.sum("cnt").cast("long").alias("s"))
    w = (W.partitionBy("t").orderBy("day")
         .rowsBetween(W.unboundedPreceding, 0))
    cum = (d.withColumn("n1", F.count(F.lit(1)).over(w).cast("long"))
           .withColumn("s1", F.sum("cnt").over(w).cast("long")))
    j = (cum.join(F.broadcast(tot), "t")
         .filter(F.col("n1") < F.col("n"))
         .withColumn("n2", (F.col("n") - F.col("n1")).cast("long"))
         .withColumn("s2", (F.col("s") - F.col("s1")).cast("long")))
    s1d, n1d = F.col("s1").cast("double"), F.col("n1").cast("double")
    s2d, n2d = F.col("s2").cast("double"), F.col("n2").cast("double")
    score = s1d * s1d / n1d + s2d * s2d / n2d
    sd, nd = F.col("s").cast("double"), F.col("n").cast("double")
    rk = W.partitionBy("t").orderBy(F.desc("score"), "day")
    return (j.withColumn("score", score)
            .withColumn("rn", F.row_number().over(rk))
            .filter(F.col("rn") == 1)
            .select(F.col("t").alias("event_type"),
                    F.col("day").cast("string").alias("split_day"),
                    "n1", "n2", "s1", "s2",
                    F.floor(F.lit(1_000_000.0)
                            * (F.col("score") - sd * sd / nd)
                            + F.lit(0.5)).cast("long")
                    .alias("gain_micro"))
            .orderBy("event_type"))


# --------------------------------------------------------------------------
# Warehouse + versioned takedown certificates — the last two governance
# surfaces without a driver-hashable statement (BM25 / ANN / dedup-index
# takedown certs live in breadth41). Both replay the delete in DuckDB
# as a plain anti-filter over the base table: the certified statement is
# "the surviving table equals the table that never contained the keys".
# --------------------------------------------------------------------------
DELETE_WHERE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_custkey % 9 = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matching_left,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 20 = 1 AND o_custkey % 9 = 2) AS n_deleted
FROM orders
WHERE o_orderkey % 20 = 1 AND o_custkey % 9 <> 2
"""


@query("delete_where_cert", oracle=DELETE_WHERE_ORACLE)
def delete_where_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route a deterministic orders slice (o_orderkey % 20 == 1) into a
    parquet warehouse table, delete_where the customer-key set
    o_custkey % 9 == 2 through the REAL staged-rewrite path, then hash
    the survivors: row count, zero remaining matches, exact cents sum,
    and the operator's reported delete count — all replayed by DuckDB
    as an anti-filter over orders."""
    from ..sinks import delete_where

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    sl = orders.filter(F.col("o_orderkey") % 20 == 1)
    work = cert_work_dir("dwc", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    try:
        path = os.path.join(work, "fact_orders")
        sl.write.parquet(path)
        keys = (sl.filter(F.col("o_custkey") % 9 == 2)
                .select("o_custkey"))
        n_deleted = delete_where(spark, path, keys, ["o_custkey"])
        surv = spark.read.parquet(path)
        out = surv.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum((F.col("o_custkey") % 9 == 2).cast("int")).cast("long")
            .alias("n_matching_left"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long").alias("total_cents"),
            F.lit(n_deleted).cast("long").alias("n_deleted"))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


DELETE_WHERE_VERSIONED_ORACLE = """
WITH v0 AS (SELECT * FROM orders
            WHERE o_orderkey % 20 = 1 AND (o_orderkey // 20) % 2 = 0),
v1 AS (SELECT * FROM orders WHERE o_orderkey % 20 = 1),
both_v AS (
  SELECT 0 AS version, * FROM v0
  UNION ALL
  SELECT 1 AS version, * FROM v1)
SELECT CAST(version AS INT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_custkey % 11 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matching_left,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM both_v
WHERE o_custkey % 11 <> 3
GROUP BY version ORDER BY version
"""


@query("delete_where_versioned_cert", oracle=DELETE_WHERE_VERSIONED_ORACLE)
def delete_where_versioned_cert(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The time-travel purge certified: land two snapshots of an orders
    slice (v0 = the even-(key div 20) half — the slice's keys are all
    odd, so plain key parity would select nothing — v1 = all), purge
    o_custkey % 11 == 3 across
    the RETAINED HISTORY through delete_where_versioned, then hash BOTH
    versions' survivors via pinned time-travel reads — DuckDB replays
    each version as an anti-filtered base-table slice. The row the r10
    verdict flagged (deleted rows resurrectable via read_version) is
    exactly what the zero n_matching_left columns certify away."""
    from ..sinks.versioned import delete_where_versioned, read_version, \
        write_version

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    sl = orders.filter(F.col("o_orderkey") % 20 == 1)
    work = cert_work_dir("dwvc", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    try:
        path = os.path.join(work, "versioned_orders")
        write_version(
            sl.filter(F.expr("(o_orderkey div 20) % 2 = 0")), path)
        write_version(sl, path)
        keys = (sl.filter(F.col("o_custkey") % 11 == 3)
                .select("o_custkey"))
        delete_where_versioned(spark, path, keys, ["o_custkey"])
        parts = []
        for v in (0, 1):
            snap = read_version(spark, path, v)
            parts.append(snap.agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum((F.col("o_custkey") % 11 == 3).cast("int"))
                .cast("long").alias("n_matching_left"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long").alias("total_cents")))
        out = parts[0].unionByName(parts[1]).orderBy("version")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


PROXIMITY_SEARCH_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
),
t AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS idx
      FROM d),
m AS (
  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
  FROM t a JOIN t b ON a.doc_id = b.doc_id
                   AND b.idx > a.idx AND b.idx <= a.idx + 3
  WHERE a.tok = 'window' AND b.tok = 'join'
  GROUP BY a.doc_id
)
SELECT doc_id, n_matches,
       CAST(row_number() OVER (ORDER BY n_matches DESC, doc_id)
            AS INT) AS rank
FROM m
QUALIFY rank <= 20
ORDER BY rank
"""


@query("proximity_search_cert", oracle=PROXIMITY_SEARCH_ORACLE)
def proximity_search_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity search (slop=3) from the POSITIONAL maintained
    index under the driver hash: ingest the corpus through the
    maintainer, then count ordered ("window" … "join") chains with gap
    in [1, 3] per doc — hashed against a DuckDB replay that re-derives
    token offsets and chains them with a bounded-range join. The query
    class between bag-of-words (bm25_topk) and exact phrase
    (phrase_topk), served from the SAME state as both."""
    from ..streaming import summary
    from ..streaming.bm25 import BM25, proximity_topk

    docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
            .select("doc_id", "text"))
    work = cert_work_dir("xbm25", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    try:
        src = os.path.join(work, "src")
        docs.repartition(3).write.parquet(src)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = summary.start(BM25, stream, os.path.join(work, "state"),
                          os.path.join(work, "ckpt"), "doc_id", "text")
        assert q.awaitTermination(300), "bm25 ingest did not finish"
        out = proximity_topk(spark, os.path.join(work, "state"),
                             ("window", "join"), slop=3)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
