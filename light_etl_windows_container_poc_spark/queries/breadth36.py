"""Round-9 fifth wave: an OWN-implementation HyperLogLog register
sketch, certified cell-exact the Count-Min way (the existing
sketch_hll_* rows certify Spark's built-in approx_count_distinct via
error/merge bounds; THIS one replays every register in DuckDB, so the
hash certifies the sketch construction itself), plus the streaming
MAX-merge maintainer — the fourth payload of the generation-manifest
protocol, and the only idempotent one (max forgives replays even
without batch-tag overwrite).

Determinism: bucket/rho come off the md5 bridge (first 8 hex nibbles
mod m; 33 − bit_length of the next 8 — `bin()` has identical
no-leading-zeros semantics in both engines, and w = 0 maps to 32 in
both, a 2⁻³² corner documented rather than special-cased). The
harmonic estimate avoids float-order drift entirely: Σ 2^(−reg) is
computed as the EXACT BIGINT Σ 2^(33−reg) (reg ≤ 33), so both engines
divide the same two exact integers — no partition-order ulp anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import cert_work_dir, query

_HLL_M = 64  # registers; RSE = 1.04/√64 ≈ 13%
_HLL_ALPHA = 0.709  # the standard alpha_64

_HLL_GRID_SQL = """
h AS (
  SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 64 AS bucket,
         33 - length(bin(CAST(('0x' || substring(
                 md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT))) AS rho
  FROM events
),
regs AS (
  SELECT bucket, CAST(max(rho) AS BIGINT) AS reg FROM h GROUP BY bucket
)
"""


# --------------------------------------------------------------------------
# The register grid itself, cell-exact: every (bucket, max-rho) row
# hashed against DuckDB's replay of the same md5/bin construction.
# Buckets nobody hashed into are absent on both sides.
# --------------------------------------------------------------------------
@query("hll_grid_sketch", oracle=f"""
WITH {_HLL_GRID_SQL}
SELECT bucket, reg FROM regs ORDER BY bucket
""")
def hll_grid_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.hll import hll_grid

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return hll_grid(ev, "user_id", _HLL_M).orderBy("bucket")


# --------------------------------------------------------------------------
# The estimator over that grid, with the standard small-range
# (linear-counting) correction, against the exact distinct count:
# raw = α·m² / Σ2^(−reg); if raw ≤ 2.5m and zero registers exist,
# est = m·ln(m/V). The within-±35% flag is certified (measured error
# 13.9%/1.0%/16.0% at sf0.001/0.01/0.1 — RSE 13% at m=64, so 35% ≈
# 2.7σ holds with real margin on every SF).
# --------------------------------------------------------------------------
@query("hll_grid_estimate", oracle=f"""
WITH {_HLL_GRID_SQL},
spine AS (SELECT unnest(range(64)) AS bucket),
fullg AS (
  SELECT CAST(coalesce(r.reg, 0) AS BIGINT) AS reg
  FROM spine s LEFT JOIN regs r ON s.bucket = r.bucket
),
agg AS (
  SELECT CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_zero,
         CAST(sum(CAST(8589934592 AS BIGINT) // CAST(power(2, reg)
              AS BIGINT)) AS BIGINT) AS sum_scaled
  FROM fullg
),
ex AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
),
est AS (
  SELECT ex.n_exact, agg.v_zero,
         CASE WHEN ({_HLL_ALPHA} * 64 * 64 * 8589934592.0
                    / agg.sum_scaled) <= 160.0 AND agg.v_zero > 0
              THEN 64.0 * ln(64.0 / agg.v_zero)
              ELSE {_HLL_ALPHA} * 64 * 64 * 8589934592.0
                   / agg.sum_scaled END AS e
  FROM agg, ex
)
SELECT CAST(64 AS BIGINT) AS m, n_exact, v_zero,
       CAST(floor(e * 1000 + 0.5) AS BIGINT) AS est_milli,
       CAST(abs(e - n_exact) * 100 <= n_exact * 35 AS INT)
         AS within_35pct
FROM est
""")
def hll_grid_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.hll import hll_grid

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    regs = hll_grid(ev, "user_id", _HLL_M)
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    fullg = (spine.join(F.broadcast(regs), "bucket", "left")
             .select(F.coalesce("reg", F.lit(0)).cast("long")
                     .alias("reg")))
    # Σ 2^(33−reg) as exact BIGINTs: 8589934592 = 2^33, reg ≤ 33
    agg = fullg.agg(
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0)).cast("long")
        .alias("v_zero"),
        F.sum((F.lit(8589934592) / F.pow(F.lit(2.0), F.col("reg")))
              .cast("long")).cast("long").alias("sum_scaled"))
    ex = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    raw = (F.lit(_HLL_ALPHA) * 64 * 64 * F.lit(8589934592.0)
           / F.col("sum_scaled"))
    e = F.when((raw <= 160.0) & (F.col("v_zero") > 0),
               F.lit(64.0) * F.log(F.lit(64.0) / F.col("v_zero"))
               ).otherwise(raw)
    return (agg.crossJoin(F.broadcast(ex))
            .select(F.lit(64).cast("long").alias("m"), "n_exact",
                    "v_zero",
                    F.floor(e * 1000 + F.lit(0.5)).cast("long")
                    .alias("est_milli"),
                    (F.abs(e - F.col("n_exact")) * 100
                     <= F.col("n_exact") * 35).cast("int")
                    .alias("within_35pct")))


# --------------------------------------------------------------------------
# The streaming maintainer certified: user_id streams in as 4 source
# files → per-micro-batch ≤ m-row register partials → read-time
# MAX-merge → the SAME cell-exact grid relation hll_grid_sketch
# hashes. Max-merge is idempotent, so this is the one payload whose
# streamed state equals the batch sketch under ANY replay history —
# the pytest twin re-applies a batch and proves the grid unchanged.
# --------------------------------------------------------------------------
@query("stream_hll_cert", oracle=f"""
WITH {_HLL_GRID_SQL}
SELECT bucket, reg FROM regs ORDER BY bucket
""")
def stream_hll_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..streaming import summary
    from ..streaming.hll import HLL

    ev = load_tables(spark, sf_dir, ("events",))["events"]

    work = cert_work_dir("shll", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    ev.select("user_id").repartition(4).write.parquet(src)
    stream = (spark.readStream.schema("user_id long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(HLL, stream, os.path.join(work, "state"),
                      os.path.join(work, "ckpt"), "user_id", _HLL_M)
    q.awaitTermination(300)
    out = (summary.read(HLL, spark, os.path.join(work, "state"))
           .orderBy("bucket"))
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# KMV INTERSECTION between source shingle sets — the set-OPERATION leg
# of the KMV family (kmv_set_cardinality certifies single-set size;
# this certifies |A∩B| estimation between corpus segments, the
# "how much do these two sources overlap" question behind source-level
# dedup budgeting). Scale-correct union sketch: the union's k smallest
# hashes are a SUBSET of (A's k smallest ∪ B's k smallest) — h ≤
# kth(union) ≤ kth(B) means any union-prefix member of B is in B's own
# prefix — so the pair stage unions two ≤k-row sketches (≤2k rows per
# pair, broadcast-sized) and NEVER windows a set-sized relation;
# membership flags read off the per-source sketches exactly.
# est = (matches/k)·(k−1)/unit(kth_union); exact |A∩B| (the
# certification truth) is one distributed equi-join on the hash.
# Restricted to the 5 lexicographically-first sources (10 pairs) to
# keep the certified relation small; the construction is source-count
# generic.
# --------------------------------------------------------------------------
_KMV_OV_K = 256
_KMV_OV_SRC = "('src0', 'src1', 'src10', 'src11', 'src12')"


@query("kmv_source_overlap", oracle=f"""
WITH sh AS (
  SELECT DISTINCT source, md5(shingle) AS h
  FROM (
    SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (
      SELECT source,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents WHERE source IN {_KMV_OV_SRC}),
    LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
  )
),
kmv AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS r
    FROM sh) WHERE r <= {_KMV_OV_K}
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM sh) a
  JOIN (SELECT DISTINCT source FROM sh) b ON a.source < b.source
),
u AS (
  SELECT sa, sb, h, CAST(max(in_a) AS BIGINT) AS in_a,
         CAST(max(in_b) AS BIGINT) AS in_b
  FROM (
    SELECT p.sa, p.sb, k.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN kmv k ON k.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, k.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN kmv k ON k.source = p.sb
  ) GROUP BY 1, 2, 3
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
  FROM u
),
kth AS (SELECT sa, sb, h AS kth_min FROM rk WHERE r = {_KMV_OV_K}),
mt AS (
  SELECT sa, sb,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS matches
  FROM rk WHERE r <= {_KMV_OV_K} GROUP BY 1, 2
),
ex AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
),
est AS (
  SELECT kth.sa, kth.sb, mt.matches, coalesce(ex.n_inter, 0) AS n_inter,
         (mt.matches / {_KMV_OV_K}.0) * ({_KMV_OV_K} - 1)
         / (CAST(('0x' || substring(kth.kth_min, 1, 13)) AS BIGINT)
            / 4503599627370496.0) AS e
  FROM kth JOIN mt ON kth.sa = mt.sa AND kth.sb = mt.sb
  LEFT JOIN ex ON kth.sa = ex.sa AND kth.sb = ex.sb
)
SELECT sa AS source_a, sb AS source_b, n_inter, matches,
       CAST(floor(e * 1000 + 0.5) AS BIGINT) AS est_milli,
       CAST(abs(e - n_inter) * 100 <= n_inter * 50 AS INT)
         AS within_50pct
FROM est ORDER BY sa, sb
""")
def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
            .filter(F.col("source").isin(
                "src0", "src1", "src10", "src11", "src12")))
    from ..functions.texts import words

    w = docs.select("source", words(F.lower(F.col("text"))).alias("w"))
    tri = F.expr("transform(sequence(1, size(w) - 2), "
                 "i -> concat_ws(' ', w[i-1], w[i], w[i+1]))")
    sh = (w.select("source", F.explode(tri).alias("g"))
          .select("source", F.md5("g").alias("h")).distinct()
          .persist())
    rk_w = W.partitionBy("source").orderBy("h")
    kmv = (sh.withColumn("r", F.row_number().over(rk_w))
           .filter(F.col("r") <= _KMV_OV_K).select("source", "h"))
    srcs = sh.select("source").distinct()
    pairs = (srcs.select(F.col("source").alias("sa"))
             .join(srcs.select(F.col("source").alias("sb")),
                   F.col("sa") < F.col("sb")))
    side_a = (kmv.join(F.broadcast(pairs), kmv["source"] == pairs["sa"])
              .select("sa", "sb", "h", F.lit(1).alias("in_a"),
                      F.lit(0).alias("in_b")))
    side_b = (kmv.join(F.broadcast(pairs), kmv["source"] == pairs["sb"])
              .select("sa", "sb", "h", F.lit(0).alias("in_a"),
                      F.lit(1).alias("in_b")))
    u = (side_a.unionByName(side_b)
         .groupBy("sa", "sb", "h")
         .agg(F.max("in_a").cast("long").alias("in_a"),
              F.max("in_b").cast("long").alias("in_b")))
    u_w = W.partitionBy("sa", "sb").orderBy("h")
    rk = u.withColumn("r", F.row_number().over(u_w))
    kth = (rk.filter(F.col("r") == _KMV_OV_K)
           .select("sa", "sb", F.col("h").alias("kth_min")))
    mt = (rk.filter(F.col("r") <= _KMV_OV_K)
          .groupBy("sa", "sb")
          .agg(F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1))
                     .cast("long")).cast("long").alias("matches")))
    a = sh.select(F.col("source").alias("sa"), "h")
    b = sh.select(F.col("source").alias("sb"), "h")
    ex = (a.join(b, "h").filter(F.col("sa") < F.col("sb"))
          .groupBy("sa", "sb")
          .agg(F.count(F.lit(1)).cast("long").alias("n_inter")))
    e = ((F.col("matches") / F.lit(float(_KMV_OV_K)))
         * F.lit(_KMV_OV_K - 1)
         / (F.conv(F.substring("kth_min", 1, 13), 16, 10).cast("double")
            / F.lit(4503599627370496.0)))
    out = (kth.join(mt, ["sa", "sb"])
           .join(ex, ["sa", "sb"], "left")
           .select(F.col("sa").alias("source_a"),
                   F.col("sb").alias("source_b"),
                   F.coalesce("n_inter", F.lit(0)).cast("long")
                   .alias("n_inter"), "matches",
                   F.floor(e * 1000 + F.lit(0.5)).cast("long")
                   .alias("est_milli"),
                   (F.abs(e - F.coalesce("n_inter", F.lit(0))) * 100
                    <= F.coalesce("n_inter", F.lit(0)) * 50).cast("int")
                   .alias("within_50pct"))
           .orderBy("source_a", "source_b"))
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out
