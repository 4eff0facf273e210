"""Round-7 breadth, second wave: scale-lever operators a 100 TB
pipeline leans on daily — deterministic weighted sampling
(Efraimidis-Spirakis priorities), a window-only 2-D Pareto skyline,
bloom-filter data skipping (the zonemap_stats sibling for unclustered
point lookups), distributed Misra-Gries heavy hitters with their
deterministic guarantees hash-certified, and BPE merge-table LEARNING
(the training loop, not just application — text_bpe_tokenize applies a
fixed table; this derives one from the corpus, hash-certified against
a DuckDB replay of the same argmax/merge rounds).

Determinism contracts: md5-derived uniforms (the budget_sample_apply
mechanics) make sampling decisions engine-portable; the one
transcendental (ln u) is micro-rounded BEFORE use and the ranking key
is then a SINGLE double division of exact integers (IEEE-correctly
rounded, identical everywhere); skyline/bloom/heavy-hitter arithmetic
is pure BIGINT (cross-multiplied thresholds, bit masks); BPE merge
selection tie-breaks (count DESC, left ASC, right ASC) and applies
merges with literal `replace` — leftmost, non-overlapping,
continue-after-match in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.texts import words
from .registry import query
from .tpch import _units


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis): priority
# u^(1/w) ranks every doc; the global top-k IS the weighted sample.
# Monotone-transformed to ln(u)/w, with ln micro-rounded (dsir contract)
# and the ranking key one double division of exact BIGINTs — so both
# engines rank identically. Spark's orderBy+limit compiles to
# TakeOrderedAndProject: distributed per-partition top-k + driver merge,
# never a global sort or window.
# --------------------------------------------------------------------------
@query("weighted_sample", oracle="""
WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM documents
),
p AS (
  SELECT doc_id, w,
         CAST(round(1000000 * ln((h + 1) / 4294967296.0)) AS BIGINT)
           AS lu_micro
  FROM d
)
SELECT doc_id, w, lu_micro
FROM p
ORDER BY CAST(lu_micro AS DOUBLE) / w DESC, doc_id
LIMIT 100
""")
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample of 100 documents: longer
    docs proportionally likelier, selection reproducible across engines
    and cluster layouts (the property a training-mix rerun needs). The
    only transcendental (ln of the md5 uniform) is micro-rounded before
    the comparison key, which is then lu_micro/w — one IEEE division of
    exact integers, bit-identical in Spark and DuckDB."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    d = docs.select(
        "doc_id", F.length("text").cast("long").alias("w"), h.alias("h"))
    lu = F.round(1_000_000 * F.log((F.col("h") + 1) / F.lit(4294967296.0)))
    p = d.select("doc_id", "w", lu.cast("long").alias("lu_micro"))
    # try_divide: a w = 0 doc ranks last (NULL) instead of raising under ANSI
    pri = F.try_divide(F.col("lu_micro").cast("double"), F.col("w"))
    return p.orderBy(pri.desc(), "doc_id").limit(100)


# --------------------------------------------------------------------------
# 2-D Pareto skyline per brand (min price, max size) WITHOUT the O(n²)
# dominance join: a point survives iff no same-brand point is cheaper
# with >= size, and no equal-price point is strictly larger. Three
# window passes encode that — a cross-bucket prefix max over the tiny
# (brand, $10-bucket) relation, then per-(brand, bucket) windows that
# partition-parallelize. The oracle IS the O(n²) NOT EXISTS dominance
# predicate, so the hash match proves the window decomposition exact.
# --------------------------------------------------------------------------
@query("skyline_parts", oracle="""
WITH p AS (
  SELECT p_brand, p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS psize
  FROM part
)
SELECT p1.p_brand, p1.p_partkey, p1.price_cents, p1.psize
FROM p p1
WHERE NOT EXISTS (
  SELECT 1 FROM p p2
  WHERE p2.p_brand = p1.p_brand
    AND p2.price_cents <= p1.price_cents AND p2.psize >= p1.psize
    AND (p2.price_cents < p1.price_cents OR p2.psize > p1.psize))
ORDER BY p1.p_brand, p1.p_partkey
""")
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (cheapest-for-the-size) per brand. Scale shape:
    the only cross-partition state is max(size) per (brand, price
    bucket) — |brands|·|buckets| rows — carried by a prefix-max window
    over that bounded relation; everything row-level runs inside
    per-(brand, bucket) window partitions. Shuffle cost is one
    (brand, bucket) exchange of the fact, never pairs."""
    part = load_tables(spark, sf_dir, ("part",))["part"]
    pr = part.select(
        "p_brand", "p_partkey",
        _units(F.col("p_retailprice"), 100).alias("price_cents"),
        F.col("p_size").cast("long").alias("psize"),
    ).withColumn("b", F.expr("price_cents div 1000"))

    stats = pr.groupBy("p_brand", "b").agg(F.max("psize").alias("bmax"))
    w_prefix = (W.partitionBy("p_brand").orderBy("b")
                .rowsBetween(W.unboundedPreceding, -1))
    prefix = stats.select(
        "p_brand", "b", F.max("bmax").over(w_prefix).alias("prefix_max"))

    w_strict = (W.partitionBy("p_brand", "b").orderBy("price_cents")
                .rangeBetween(W.unboundedPreceding, -1))
    w_eq = (W.partitionBy("p_brand", "b").orderBy("price_cents")
            .rangeBetween(0, 0))
    j = (pr.join(F.broadcast(prefix), ["p_brand", "b"])
         .withColumn("strict_max", F.max("psize").over(w_strict))
         .withColumn("eq_max", F.max("psize").over(w_eq)))
    cheaper_max = F.greatest(F.coalesce(F.col("prefix_max"), F.lit(-1)),
                             F.coalesce(F.col("strict_max"), F.lit(-1)))
    keep = (F.col("psize") > cheaper_max) & (F.col("psize") == F.col("eq_max"))
    return (j.filter(keep)
            .select("p_brand", "p_partkey", "price_cents", "psize")
            .orderBy("p_brand", "p_partkey"))


# --------------------------------------------------------------------------
# Bloom-filter data skipping: per-4096-orderkey zone (the zonemap_stats
# granularity), a 16128-bit bloom of o_custkey as 256 bit_or'd BIGINT
# words (63 usable bits each — bit 63 would overflow DuckDB's checked
# left shift) — ~0.5 bytes/row of index for ~80% zone pruning on point
# lookups of an UNCLUSTERED key (where min/max zonemaps prune nothing).
# The certification: for 5 probe keys, every zone that truly contains
# the key is in the candidate set (false_negatives must be 0 — blooms
# may over-admit, never under-admit), plus the measured candidate/true
# zone counts. All arithmetic is md5 + integer bit ops, replayed
# exactly in DuckDB.
# --------------------------------------------------------------------------
@query("bloom_zone_prune", oracle="""
WITH o AS (
  SELECT o_orderkey // 4096 AS zone, o_custkey,
         CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM orders
),
s AS (SELECT zone, (h // 64) % 256 AS word,
             CAST(1 AS BIGINT) << CAST(h % 63 AS INT) AS sig
      FROM o),
bloom AS (SELECT zone, word, bit_or(sig) AS mask FROM s GROUP BY zone, word),
probes AS (SELECT DISTINCT o_custkey AS ck FROM orders ORDER BY ck LIMIT 5),
ps AS (
  SELECT ck, (h // 64) % 256 AS word,
         CAST(1 AS BIGINT) << CAST(h % 63 AS INT) AS sig
  FROM (SELECT ck,
               CAST(('0x' || substring(md5(CAST(ck AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM probes)
),
cand AS (SELECT ps.ck, b.zone FROM ps JOIN bloom b ON ps.word = b.word
         WHERE (b.mask & ps.sig) <> 0),
tz AS (SELECT DISTINCT o.o_custkey AS ck, o.zone
       FROM o JOIN probes p ON o.o_custkey = p.ck),
zt AS (SELECT CAST(count(DISTINCT zone) AS BIGINT) AS zones_total FROM o),
agg AS (
  SELECT p.ck,
         (SELECT CAST(count(*) AS BIGINT) FROM cand c WHERE c.ck = p.ck)
           AS candidate_zones,
         (SELECT CAST(count(*) AS BIGINT) FROM tz t WHERE t.ck = p.ck)
           AS true_zones,
         (SELECT CAST(count(*) AS BIGINT) FROM tz t
          WHERE t.ck = p.ck
            AND NOT EXISTS (SELECT 1 FROM cand c
                            WHERE c.ck = t.ck AND c.zone = t.zone))
           AS false_negatives
  FROM probes p
)
SELECT ck AS probe_custkey, zones_total, candidate_zones, true_zones,
       false_negatives
FROM agg CROSS JOIN zt ORDER BY probe_custkey
""")
def bloom_zone_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build = ONE groupBy producing |zones|·256 mask rows (the index);
    probe = the tiny probe relation broadcast against the index. At
    100 TB the masks live next to the zonemap in the table metadata and
    a point lookup opens only candidate zones."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]

    def h_of(col):
        return F.conv(F.substring(F.md5(col.cast("string")), 1, 8),
                      16, 10).cast("long")

    o = orders.select(
        F.expr("o_orderkey div 4096").alias("zone"),
        F.col("o_custkey"), h_of(F.col("o_custkey")).alias("h"))
    s = o.select(
        "zone", F.expr("(h div 64) % 256").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 63 AS INT))")
        .alias("sig"))
    bloom = s.groupBy("zone", "word").agg(F.expr("bit_or(sig)").alias("mask"))

    probes = (orders.select(F.col("o_custkey").alias("ck")).distinct()
              .orderBy("ck").limit(5))
    ps = (probes.withColumn("h", h_of(F.col("ck")))
          .select("ck", F.expr("(h div 64) % 256").alias("word"),
                  F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 63 AS INT))")
                  .alias("sig")))
    cand = (bloom.join(F.broadcast(ps), "word")
            .filter(F.expr("(mask & sig) <> 0"))
            .select("ck", "zone"))
    tz = (o.join(F.broadcast(probes), o.o_custkey == probes.ck)
          .select("ck", "zone").distinct())
    fn = (tz.join(cand, ["ck", "zone"], "left_anti")
          .groupBy("ck").agg(F.count(F.lit(1)).cast("long").alias("fn")))
    zt = o.agg(F.countDistinct("zone").cast("long").alias("zones_total"))

    per_cand = cand.groupBy("ck").agg(
        F.count(F.lit(1)).cast("long").alias("candidate_zones"))
    per_true = tz.groupBy("ck").agg(
        F.count(F.lit(1)).cast("long").alias("true_zones"))
    return (probes
            .join(per_cand, "ck", "left")
            .join(per_true, "ck", "left")
            .join(fn, "ck", "left")
            .crossJoin(F.broadcast(zt))
            .select(F.col("ck").alias("probe_custkey"), "zones_total",
                    F.coalesce("candidate_zones", F.lit(0)).cast("long")
                    .alias("candidate_zones"),
                    F.coalesce("true_zones", F.lit(0)).cast("long")
                    .alias("true_zones"),
                    F.coalesce("fn", F.lit(0)).cast("long")
                    .alias("false_negatives"))
            .orderBy("probe_custkey"))


# --------------------------------------------------------------------------
# Distributed Misra-Gries heavy hitters (k=30 counters): per-partition
# summaries merged with the subtract-(k+1)-th-largest rule
# (operators/sketches.py). The sketch's per-token estimates depend on
# partition layout, so the CERTIFIED output is the layout-independent
# part: exact counts, the integer cross-multiplied heavy flag, and
# cert_ok proving the three MG guarantees held for every token —
# est <= exact, (exact-est)·(k+1) <= n, and heavy => present. The
# oracle emits cert_ok literally 1: any guarantee violation anywhere
# breaks the hash.
# --------------------------------------------------------------------------
_MG_K = 30


@query("heavy_hitters", oracle=f"""
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
),
e AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM t GROUP BY token),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
SELECT e.token, e.exact_cnt, n.n_total,
       CAST(e.exact_cnt * {_MG_K} > n.n_total AS INT) AS heavy,
       CAST(1 AS INT) AS cert_ok
FROM e CROSS JOIN n ORDER BY e.token
""")
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch answers 'which tokens exceed n/k frequency' with
    partitions·k rows of shuffle instead of |vocabulary|; this corpus's
    31-word near-uniform vocabulary vs k=30 counters forces real
    compression (decrements fire), and the n/k threshold lands mid-
    distribution, so both the presence and the error-band guarantees
    are exercised non-vacuously."""
    from ..operators.sketches import mg_heavy_hitters

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        F.explode(words(F.lower(F.col("text")))).alias("token"))
    sketch = mg_heavy_hitters(toks, "token", _MG_K)
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    n = toks.agg(F.count(F.lit(1)).cast("long").alias("n_total"))

    j = (exact.crossJoin(F.broadcast(n))
         .join(F.broadcast(sketch), "token", "left"))
    heavy = (F.col("exact_cnt") * _MG_K > F.col("n_total"))
    present = F.col("est").isNotNull()
    est_ok = F.when(
        present,
        (F.col("est") <= F.col("exact_cnt"))
        & ((F.col("exact_cnt") - F.col("est")) * (_MG_K + 1)
           <= F.col("n_total"))).otherwise(F.lit(True))
    cert = (F.when(heavy, present).otherwise(F.lit(True)) & est_ok)
    return (j.select("token", "exact_cnt", "n_total",
                     heavy.cast("int").alias("heavy"),
                     cert.cast("int").alias("cert_ok"))
            .orderBy("token"))


# --------------------------------------------------------------------------
# BPE merge-table LEARNING: 6 rounds of (count adjacent symbol pairs
# over the word-frequency dict) -> (argmax with count DESC, left ASC,
# right ASC tie-break) -> (apply the merge with literal replace).
# text_bpe_tokenize ships a FIXED table; this is where such a table
# comes from. Scale shape: the corpus tokenizes ONCE into a
# |vocabulary|-row (word, count) dict (localCheckpoint'd), and every
# round is one explode+groupBy over that dict — cost ∝ vocabulary,
# independent of corpus size, exactly how production BPE trainers work.
# --------------------------------------------------------------------------
_BPE_ROUNDS = 6


def _bpe_learn_oracle(rounds: int) -> str:
    stages = ["""
v0 AS (
  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS rep, cnt
  FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS word
              FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word)
)"""]
    for i in range(1, rounds + 1):
        stages.append(f"""
p{i} AS (
  SELECT arr[i] AS l, arr[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT arr, cnt, unnest(range(1, len(arr))) AS i
        FROM (SELECT string_split(trim(rep), ' ') AS arr, cnt FROM v{i-1}))
  GROUP BY 1, 2
),
m{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
v{i} AS (
  SELECT word,
         replace(rep, ' ' || m.l || ' ' || m.r || ' ',
                 ' ' || m.l || m.r || ' ') AS rep,
         cnt
  FROM v{i-1}, m{i} m
)""")
    picks = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS lft, r AS rgt, l || r AS merged,"
        f" c AS pair_count FROM m{i}" for i in range(1, rounds + 1))
    return ("WITH " + ",".join(stages)
            + f"\nSELECT * FROM ({picks}) ORDER BY merge_rank")


@query("bpe_learn", oracle=_bpe_learn_oracle(_BPE_ROUNDS))
def bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learns 6 merges from the corpus. Determinism: integer pair
    counts, lexicographic tie-break, and literal-`replace` application
    (leftmost, non-overlapping, continue-after-match — the
    text_bpe_tokenize contract) make every round's argmax and rewrite
    identical in both engines. The per-round argmax is a 1-row collect
    (bounded, like centroid pulls); symbols stay ^[a-z]+$ so the
    replace patterns never need escaping."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    vocab = (docs.select(
        F.explode(words(F.lower(F.col("text")))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("rep", F.concat(
            F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")))
        .localCheckpoint())  # corpus scanned ONCE; rounds run on the dict

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, _BPE_ROUNDS + 1):
        pairs = (vocab
                 .select("cnt", F.expr("split(trim(rep), ' ')").alias("arr"))
                 .filter(F.size("arr") >= 2)
                 .select("cnt", F.explode(F.expr(
                     "transform(sequence(1, size(arr)-1),"
                     " i -> struct(arr[i-1] AS l, arr[i] AS r))")).alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("cnt").alias("c")))
        top = pairs.orderBy(F.desc("c"), "l", "r").limit(1).collect()
        if not top:  # vocabulary fully merged — the oracle's chained
            break    # stages go empty the same way, emitting no row
        best = top[0]
        merges.append((rank, best["l"], best["r"],
                       best["l"] + best["r"], int(best["c"])))
        vocab = vocab.withColumn("rep", F.expr(
            f"replace(rep, ' {best['l']} {best['r']} ',"
            f" ' {best['l']}{best['r']} ')")).localCheckpoint()

    return spark.createDataFrame(
        merges,
        "merge_rank int, lft string, rgt string, merged string,"
        " pair_count long").orderBy("merge_rank")
