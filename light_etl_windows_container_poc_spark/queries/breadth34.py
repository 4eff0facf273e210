"""Round-8 breadth, fourth wave: robust statistics — Theil–Sen grouped
regression (the median-of-pairwise-slopes estimator OLS users reach for
when outliers poison least squares) and Tukey median polish (the robust
two-way decomposition behind seasonally-adjusted anomaly detection).

Determinism contracts: samples are md5-ordered (the repo bridge), all
medians are LOWER medians under an explicit total order (no parity
averaging, no engine-specific interpolation), pairwise slopes are plain
IEEE double divisions identical in both engines, and every reported
value is micro-rounded with floor(x·1e6 + 0.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import cert_work_dir, query

_TS_SAMPLE = 120  # rows per group → ≤ 7140 pairs per group


def _micro(col):
    return F.floor(col * 1_000_000 + F.lit(0.5)).cast("long")


# --------------------------------------------------------------------------
# Theil–Sen: per l_returnflag, the LOWER-median pairwise slope of
# extendedprice over quantity on an md5-deterministic 120-row sample,
# plus the matching median intercept (y − slope·x). Pairwise-quadratic
# work is confined to the bounded sample (the estimator's standard
# production shape — full-data TS is O(n²) by definition); the oracle
# replays sample, pairs, both medians, and the micro-rounding exactly.
# --------------------------------------------------------------------------
@query("grouped_theil_sen", oracle=f"""
WITH s AS (
  SELECT l_returnflag AS flag, l_quantity AS x, l_extendedprice AS y,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                        CAST(l_linenumber AS VARCHAR)),
                    l_orderkey, l_linenumber, l_quantity,
                    l_extendedprice) AS rn
  FROM lineitem
),
sm AS (SELECT * FROM s WHERE rn <= {_TS_SAMPLE}),
p AS (
  SELECT a.flag, a.rn AS arn, b.rn AS brn,
         (b.y - a.y) / (b.x - a.x) AS slope
  FROM sm a JOIN sm b ON a.flag = b.flag AND a.rn < b.rn AND a.x <> b.x
),
pr AS (
  SELECT flag, slope,
         row_number() OVER (PARTITION BY flag
                            ORDER BY slope, arn, brn) AS r,
         count(*) OVER (PARTITION BY flag) AS n
  FROM p
),
med AS (
  SELECT flag, CAST(n AS BIGINT) AS n_pairs, slope AS slope_med
  FROM pr WHERE r = CAST(ceil(n / 2.0) AS BIGINT)
),
ic AS (
  SELECT sm.flag, sm.y - med.slope_med * sm.x AS v, sm.rn,
         med.n_pairs, med.slope_med
  FROM sm JOIN med ON sm.flag = med.flag
),
icr AS (
  SELECT flag, v, n_pairs, slope_med,
         row_number() OVER (PARTITION BY flag ORDER BY v, rn) AS r,
         count(*) OVER (PARTITION BY flag) AS n
  FROM ic
)
SELECT flag AS l_returnflag, n_pairs,
       CAST(floor(slope_med * 1000000 + 0.5) AS BIGINT) AS slope_micro,
       CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS intercept_micro
FROM icr WHERE r = CAST(ceil(n / 2.0) AS BIGINT)
ORDER BY l_returnflag
""")
def grouped_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    order_key = F.md5(F.concat_ws(
        ":", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string")))
    # (orderkey, linenumber) is NOT unique in the synthetic lineitem, so
    # the tie-break extends through the regression variables — identical
    # full rows are interchangeable, anything less is engine-dependent
    rn_w = W.partitionBy("flag").orderBy(
        order_key, "l_orderkey", "l_linenumber", "x", "y")
    sm = (li.select(F.col("l_returnflag").alias("flag"),
                    F.col("l_quantity").alias("x"),
                    F.col("l_extendedprice").alias("y"),
                    "l_orderkey", "l_linenumber")
          .withColumn("rn", F.row_number().over(rn_w))
          .filter(F.col("rn") <= _TS_SAMPLE)
          .select("flag", "x", "y", "rn").persist())
    a = sm.select("flag", F.col("x").alias("xa"), F.col("y").alias("ya"),
                  F.col("rn").alias("arn"))
    b = sm.select("flag", F.col("x").alias("xb"), F.col("y").alias("yb"),
                  F.col("rn").alias("brn"))
    p = (a.join(b, "flag")
         .filter((F.col("arn") < F.col("brn")) & (F.col("xa") != F.col("xb")))
         .select("flag", "arn", "brn",
                 ((F.col("yb") - F.col("ya"))
                  / (F.col("xb") - F.col("xa"))).alias("slope")))
    pr_w = W.partitionBy("flag").orderBy("slope", "arn", "brn")
    cnt_w = W.partitionBy("flag")
    med = (p.withColumn("r", F.row_number().over(pr_w))
           .withColumn("n", F.count(F.lit(1)).over(cnt_w))
           .filter(F.col("r") == F.ceil(F.col("n") / 2.0).cast("long"))
           .select("flag", F.col("n").alias("n_pairs"),
                   F.col("slope").alias("slope_med")))
    ic = (sm.join(med, "flag")
          .select("flag", "n_pairs", "slope_med", "rn",
                  (F.col("y") - F.col("slope_med") * F.col("x")).alias("v")))
    ic_w = W.partitionBy("flag").orderBy("v", "rn")
    out = (ic.withColumn("r", F.row_number().over(ic_w))
           .withColumn("n", F.count(F.lit(1)).over(cnt_w))
           .filter(F.col("r") == F.ceil(F.col("n") / 2.0).cast("long"))
           .select(F.col("flag").alias("l_returnflag"), "n_pairs",
                   _micro(F.col("slope_med")).alias("slope_micro"),
                   _micro(F.col("v")).alias("intercept_micro"))
           .orderBy("l_returnflag"))
    out = out.localCheckpoint(eager=True)
    sm.unpersist()
    return out


def _mp_stage(src: str, part: str, other: str, out: str) -> str:
    """One median-polish subtraction in SQL: subtract the per-``part``
    LOWER median (total order (v, other)) from every cell."""
    return f"""
{out}m AS (
  SELECT {part}, v AS m FROM (
    SELECT {part}, v,
           row_number() OVER (PARTITION BY {part} ORDER BY v, {other}) AS r,
           count(*) OVER (PARTITION BY {part}) AS n
    FROM {src}) WHERE r = CAST(ceil(n / 2.0) AS BIGINT)
),
{out} AS (
  SELECT s.dow, s.hour, s.v - m.m AS v
  FROM {src} s JOIN {out}m m USING ({part})
)"""


# --------------------------------------------------------------------------
# Tukey median polish on the (day-of-week × hour) matrix of mean event
# value: two full sweeps of alternating row/column LOWER-median
# subtraction, then the 20 largest |residual| cells — the robust
# two-way seasonal decomposition (medians shrug off the outlier cells
# that poison a mean-based decomposition), i.e. seasonally-adjusted
# anomaly surfacing. Integer end-to-end: cells are milli-value via
# exact cents sums and integer division, medians are LOWER medians
# under (value, key) total orders — both engines compute byte-identical
# residual matrices at every step.
# --------------------------------------------------------------------------
@query("median_polish_anomaly", oracle=f"""
WITH c0 AS (
  SELECT dayofweek(ts) AS dow, hour(ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) * 10
              // count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
{_mp_stage('c0', 'dow', 'hour', 'c1')},
{_mp_stage('c1', 'hour', 'dow', 'c2')},
{_mp_stage('c2', 'dow', 'hour', 'c3')},
{_mp_stage('c3', 'hour', 'dow', 'c4')}
SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour,
       CAST(v AS BIGINT) AS resid_milli
FROM c4 ORDER BY abs(v) DESC, dow, hour LIMIT 20
""")
def median_polish_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cells = (ev.groupBy((F.dayofweek("ts") - 1).alias("dow"),
                        F.hour("ts").alias("hour"))
             .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("cents"),
                  F.count(F.lit(1)).alias("cnt"))
             # exact BIGINT division (cents*10 div cnt) — a double
             # division + cast can land one ulp above an integer and
             # truncate differently than DuckDB's // floor
             .select("dow", "hour",
                     F.expr("(cents * 10) div cnt").alias("v")))

    def subtract_median(df: DataFrame, part: str, other: str) -> DataFrame:
        w = W.partitionBy(part).orderBy("v", other)
        cw = W.partitionBy(part)
        med = (df.withColumn("r", F.row_number().over(w))
               .withColumn("n", F.count(F.lit(1)).over(cw))
               .filter(F.col("r") == F.ceil(F.col("n") / 2.0).cast("long"))
               .select(part, F.col("v").alias("m")))
        return (df.join(med, part)
                .select("dow", "hour", (F.col("v") - F.col("m")).alias("v")))

    c = cells
    for part, other in (("dow", "hour"), ("hour", "dow"),
                        ("dow", "hour"), ("hour", "dow")):
        c = subtract_median(c, part, other)
    return (c.select(F.col("dow").cast("int"), F.col("hour").cast("int"),
                     F.col("v").alias("resid_milli"))
            .orderBy(F.abs(F.col("resid_milli")).desc(), "dow", "hour")
            .limit(20))


# --------------------------------------------------------------------------
# Streaming quantiles from the fixed-width histogram state
# (streaming/histogram.py — the third payload of the batch_tag/manifest
# protocol): a real availableNow stream lands per-batch bin partials,
# the merged state answers p25/p50/p90/p99, and the hashed relation
# carries the estimates, the EXACT order statistics, and the
# containment theorem (the k-th smallest value lies inside the bin
# whose cumulative count first reaches k — so every histogram answer is
# exact to one bin width, deterministically, not probabilistically).
# --------------------------------------------------------------------------
_HQ_BIN = 100  # cents per bin (1 value unit)
_HQ_QS = (250, 500, 900, 990)  # permille


@query("stream_histogram_quantiles", oracle=f"""
WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
h AS (SELECT cents // {_HQ_BIN} AS bin, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
qs AS (SELECT unnest([{", ".join(str(q) for q in _HQ_QS)}]) AS q_permille),
k AS (SELECT q_permille, n,
             CAST(ceil(q_permille * n / 1000.0) AS BIGINT) AS k
      FROM qs CROSS JOIN n),
cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM h),
est AS (SELECT k.q_permille, k.n, k.k, min(cum.bin) AS bin
        FROM k JOIN cum ON cum.cum >= k.k
        GROUP BY k.q_permille, k.n, k.k),
r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
ex AS (SELECT k.q_permille, r.cents AS exact_cents
       FROM k JOIN r ON r.rn = k.k)
SELECT CAST(est.q_permille AS INT) AS q_permille, est.n,
       ex.exact_cents,
       est.bin * {_HQ_BIN} AS est_lo_cents,
       est.bin * {_HQ_BIN} + {_HQ_BIN - 1} AS est_hi_cents,
       CAST(ex.exact_cents BETWEEN est.bin * {_HQ_BIN}
            AND est.bin * {_HQ_BIN} + {_HQ_BIN - 1} AS INT) AS within_bin
FROM est JOIN ex ON est.q_permille = ex.q_permille
ORDER BY q_permille
""")
def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.value cents stream in as 4 files → 4 micro-batch bin
    partials → merged state answers the quantiles (the
    stream_countmin_cert pattern: streamed state is cell-identical to
    the batch histogram, so the oracle builds it from the table)."""
    import os
    import shutil

    from ..streaming import summary
    from ..streaming.histogram import HISTOGRAM

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cents = ev.select(F.round(F.col("value") * 100).cast("long")
                      .alias("cents"))

    work = cert_work_dir("shq", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    cents.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema("cents long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(HISTOGRAM, stream, os.path.join(work, "state"),
                      os.path.join(work, "ckpt"), "cents", _HQ_BIN)
    q.awaitTermination(300)
    hist = summary.read(HISTOGRAM, spark,
                        os.path.join(work, "state")).persist()

    n_total = int(hist.agg(F.sum("cnt")).first()[0])
    cum_w = W.orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(cum_w))
    rows = []
    for q_pm in _HQ_QS:
        k = -(-q_pm * n_total // 1000)  # ceil without floats
        bin_row = (cum.filter(F.col("cum") >= k)
                   .orderBy("bin").limit(1).collect()[0])
        exact = (cents.orderBy("cents").limit(k)
                 .agg(F.max("cents")).first()[0])
        lo = int(bin_row["bin"]) * _HQ_BIN
        hi = lo + _HQ_BIN - 1
        rows.append((q_pm, n_total, int(exact), lo, hi,
                     int(lo <= int(exact) <= hi)))
    hist.unpersist()
    return spark.createDataFrame(
        rows, "q_permille int, n bigint, exact_cents bigint,"
              " est_lo_cents bigint, est_hi_cents bigint, within_bin int"
    ).orderBy("q_permille")


# --------------------------------------------------------------------------
# Interval concurrency (sweep line): peak simultaneous sessions per day
# — the capacity-planning question ("how many concurrent users must we
# serve") asked of the same 30-minute-gap sessions `sessionize`
# certifies. Each session contributes (+1 at start, −1 at end, CLOSED
# intervals: +1 sorts before −1 at equal instants, so 1-event sessions
# count); the running sum is computed SCALABLY as a two-phase prefix
# sum — per-day partitioned cumulative sums plus a tiny cumulative
# day-offset relation — never one global unpartitioned window over the
# event stream. Day peaks are order-invariant among equal (t, delta)
# rows, so both engines agree exactly.
# --------------------------------------------------------------------------
@query("interval_concurrency", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, min(ts) AS s, max(ts) AS e
  FROM numbered GROUP BY user_id, sid
),
pts AS (
  SELECT strftime(s, '%Y-%m-%d') AS day, epoch_us(s) AS t,
         CAST(1 AS BIGINT) AS delta FROM sess
  UNION ALL
  SELECT strftime(e, '%Y-%m-%d'), epoch_us(e), CAST(-1 AS BIGINT) FROM sess
),
cums AS (
  SELECT day, delta,
         sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pts
),
daytot AS (SELECT day, sum(delta) AS tot,
                  max(cum) AS day_peak
           FROM cums GROUP BY day),
offs AS (
  SELECT day, day_peak,
         coalesce(sum(tot) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM daytot
)
SELECT day, CAST(off + day_peak AS BIGINT) AS max_concurrency
FROM offs ORDER BY day
""")
def interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (W.partitionBy("user_id").orderBy("ts")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    sess = (ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | (F.unix_micros("ts")
                  - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
               F.lit(1)).otherwise(F.lit(0)))
        .withColumn("sid", F.sum("new_session").over(w_run))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    pts = (sess.select(F.date_format("s", "yyyy-MM-dd").alias("day"),
                       F.unix_micros("s").alias("t"),
                       F.lit(1).cast("long").alias("delta"))
           .unionAll(sess.select(F.date_format("e", "yyyy-MM-dd"),
                                 F.unix_micros("e"),
                                 F.lit(-1).cast("long"))))
    cum_w = (W.partitionBy("day").orderBy(F.col("t"), F.col("delta").desc())
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    cums = pts.withColumn("cum", F.sum("delta").over(cum_w))
    daytot = (cums.groupBy("day")
              .agg(F.sum("delta").alias("tot"),
                   F.max("cum").alias("day_peak")))
    off_w = (W.orderBy("day")
             .rowsBetween(W.unboundedPreceding, -1))
    return (daytot.withColumn(
        "off", F.coalesce(F.sum("tot").over(off_w), F.lit(0)))
        .select("day", (F.col("off") + F.col("day_peak")).cast("long")
                .alias("max_concurrency"))
        .orderBy("day"))


# --------------------------------------------------------------------------
# CUSUM drift detection per event type — statistical process control
# over the daily event-count series (the pipeline-health monitor that
# catches slow upstream drift a fixed threshold misses). The textbook
# recursion CUSUM_t = max(0, CUSUM_{t-1} + dev_t) is not
# window-expressible, but its closed form IS: with S_t = Σ dev_i,
# CUSUM_t = S_t − min(0, min_{j≤t} S_j) — a prefix sum minus a
# running minimum (current row INCLUDED — the reflection identity),
# two per-type windows. Deviations are integer milli-counts against the
# type's own mean (BIGINT div), so both engines walk byte-identical
# series. Output: per type, the peak CUSUM, its day, and the first day
# the statistic crossed 5× the mean (0-rows-none ⇒ NULLs).
# --------------------------------------------------------------------------
@query("cusum_drift", oracle="""
WITH d AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(sum(cnt) * 1000 // count(*) AS BIGINT) AS mean_milli,
         CAST(count(*) AS BIGINT) AS n_days
  FROM d GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.day, d.cnt * 1000 - m.mean_milli AS dev,
         m.mean_milli, m.n_days
  FROM d JOIN m USING (event_type)
),
s AS (
  SELECT *, sum(dev) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
  FROM dev
),
c AS (
  SELECT *, ps - least(0, min(ps) OVER (PARTITION BY event_type
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)) AS cusum
  FROM s
),
pk AS (
  -- CAST: sum(BIGINT) OVER (...) promotes to HUGEINT in DuckDB, and the
  -- driver's pandas fetch renders uncast HUGEINT as float64 ("38670.0"),
  -- hash-mismatching Spark's long. r8's only red row; class guarded in
  -- tools/check_oracle.py (DESCRIBE-based HUGEINT output ban).
  SELECT event_type, CAST(cusum AS BIGINT) AS peak_cusum_milli,
         day AS peak_day FROM (
    SELECT event_type, cusum, day,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cusum DESC, day) AS r
    FROM c) WHERE r = 1
),
alarm AS (
  SELECT c.event_type, min(c.day) AS first_alarm_day
  FROM c JOIN m ON c.event_type = m.event_type
  WHERE c.cusum > 5 * m.mean_milli
  GROUP BY c.event_type
)
SELECT m.event_type, m.n_days, pk.peak_cusum_milli, pk.peak_day,
       alarm.first_alarm_day
FROM m JOIN pk USING (event_type)
LEFT JOIN alarm ON m.event_type = alarm.event_type
ORDER BY m.event_type
""")
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = (ev.groupBy("event_type",
                    F.date_format("ts", "yyyy-MM-dd").alias("day"))
         .agg(F.count(F.lit(1)).alias("cnt")))
    m = (d.groupBy("event_type")
         .agg(F.expr("(sum(cnt) * 1000) div count(*)").alias("mean_milli"),
              F.count(F.lit(1)).alias("n_days")))
    dev = (d.join(m, "event_type")
           .select("event_type", "day", "mean_milli", "n_days",
                   (F.col("cnt") * 1000 - F.col("mean_milli"))
                   .alias("dev")))
    run = (W.partitionBy("event_type").orderBy("day")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = (dev.withColumn("ps", F.sum("dev").over(run))
         .withColumn("cusum",
                     F.col("ps") - F.least(F.lit(0).cast("long"),
                                           F.min("ps").over(run))))
    pk_w = W.partitionBy("event_type").orderBy(F.desc("cusum"), "day")
    pk = (c.withColumn("r", F.row_number().over(pk_w))
          .filter(F.col("r") == 1)
          .select("event_type", F.col("cusum").alias("peak_cusum_milli"),
                  F.col("day").alias("peak_day")))
    alarm = (c.filter(F.col("cusum") > 5 * F.col("mean_milli"))
             .groupBy("event_type")
             .agg(F.min("day").alias("first_alarm_day")))
    return (m.join(pk, "event_type").join(alarm, "event_type", "left")
            .select("event_type", "n_days", "peak_cusum_milli",
                    "peak_day", "first_alarm_day")
            .orderBy("event_type"))


def _kcore_round(prev: str, cur: str, k: int) -> str:
    return f"""
{cur} AS (
  SELECT e.u AS n FROM edges e
  JOIN {prev} x ON e.u = x.n JOIN {prev} y ON e.v = y.n
  GROUP BY e.u HAVING count(*) >= {k}
)"""


# --------------------------------------------------------------------------
# 2-core extraction by fixed-budget peeling: iteratively shed every
# node with fewer than 2 surviving neighbors until the cycle-containing
# backbone remains — the graph-cleanup pass (pendant/tree removal)
# that precedes community detection and cycle analytics. The peel needs
# 0/1/3 rounds at the three SFs; the certified form runs SIX rounds in
# BOTH engines (double margin) and hashes the converged flag (alive
# sets shrink monotonically, so equal consecutive counts == fixpoint).
# Completes the graph-analytics family: CC (both disciplines), LPA,
# PageRank, triangles, degree census, and now coreness.
# --------------------------------------------------------------------------
@query("graph_kcore", oracle=f"""
WITH pairs AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS u,
         's' || CAST(l_suppkey AS VARCHAR) AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
a0 AS (SELECT DISTINCT u AS n FROM edges),
{",".join(_kcore_round(f"a{i}", f"a{i + 1}", 2) for i in range(6))},
conv AS (
  SELECT CAST((SELECT count(*) FROM a5) = (SELECT count(*) FROM a6)
              AS INT) AS converged
)
SELECT substring(x.n, 1, 1) AS side,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(CASE WHEN c.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_core,
       conv.converged
FROM a0 x LEFT JOIN a6 c ON x.n = c.n CROSS JOIN conv
GROUP BY side, conv.converged
ORDER BY side
""")
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    pairs = (t["lineitem"].join(t["orders"],
                                F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy(F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
                      .alias("a_id"),
                      F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
                      .alias("b_id"))
             .agg(F.count(F.lit(1)).alias("w"))
             .filter(F.col("w") >= 2).select("a_id", "b_id"))
    core, converged = k_core(pairs, k=2, rounds=6)
    nodes = (pairs.select(F.col("a_id").alias("n"))
             .unionAll(pairs.select(F.col("b_id").alias("n"))).distinct())
    return (nodes.join(core.withColumn("in_core", F.lit(1)), "n", "left")
            .groupBy(F.substring("n", 1, 1).alias("side"))
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum(F.coalesce(F.col("in_core"), F.lit(0)))
                 .alias("n_core"))
            .withColumn("converged", F.lit(int(converged)))
            .orderBy("side"))


# zipf_slope's sample bound: ≤ _ZIPF_STRATUM_CAP words per decimal-digit
# frequency stratum (≤19 strata for BIGINT counts) → ≤ 494 points,
# ≤ ~122k slope pairs — constants independent of corpus size.
_ZIPF_STRATUM_CAP = 26


# --------------------------------------------------------------------------
# Zipf exponent of the corpus rank–frequency curve, estimated with the
# SAME Theil–Sen median machinery as grouped_theil_sen (least-squares
# slopes on log-log rank curves are notoriously dragged by the head and
# tail; the median pairwise slope is the robust standard). The r8 shape
# ranked the FULL vocabulary through an unpartitioned window and paired
# all |vocab|² ranks — green on the 31-word synthetic dict, 10¹²⁺ pairs
# through ONE partition on a real 10⁶–10⁷-word vocabulary. This version
# adopts grouped_theil_sen's sample-bound discipline end-to-end:
#   1. md5-deterministic FREQUENCY-stratified sample (≤26 words per
#      decimal-digit-of-count stratum → ≤494 points; digit-length strata
#      are string-length computations, exact in both engines where
#      floor(log) is not) — the sampler's row_number is PARTITIONED by
#      stratum, so it distributes.
#   2. Global rank reconstructed only for sampled words, without ranking
#      the vocabulary: rank = (#words with higher cnt, a prefix sum over
#      the DISTINCT-FREQUENCY histogram — the one unpartitioned-window
#      input, O(distinct counts) ≈ O(√total-tokens) rows, never |vocab|)
#      + (#same-cnt words earlier in word order, an equi-join of the
#      corpus dict against the ≤494-row broadcast sample) + 1.
#   3. Pairs and the LOWER-median slope run on the ≤494-point sample
#      (≤ ~122k pairs through the bounded median window — the
#      grouped_theil_sen contract, not a data-sized relation).
# x/y are micro-rounded lns (the shared transcendental discipline);
# equal-x pairs are excluded (adjacent deep ranks can collide at micro
# precision). Plan-locked by test_zipf_slope_windows_are_bounded.
# --------------------------------------------------------------------------
@query("zipf_slope", oracle=f"""
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 x -> x <> '')) AS word
        FROM documents)
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
),
sm AS (
  SELECT word, cnt FROM (
    SELECT word, cnt,
           row_number() OVER (PARTITION BY length(CAST(cnt AS VARCHAR))
                              ORDER BY md5(word), word) AS srn
    FROM w) WHERE srn <= {_ZIPF_STRATUM_CAP}
),
hist AS (
  SELECT cnt, CAST(count(*) AS BIGINT) AS nw FROM w GROUP BY cnt
),
hi AS (
  SELECT cnt, CAST(coalesce(sum(nw) OVER (ORDER BY cnt DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS higher
  FROM hist
),
tb AS (
  SELECT s.word, s.cnt, CAST(count(w.word) AS BIGINT) AS ties_before
  FROM sm s LEFT JOIN w ON w.cnt = s.cnt AND w.word < s.word
  GROUP BY s.word, s.cnt
),
lp AS (
  SELECT CAST(hi.higher + tb.ties_before + 1 AS BIGINT) AS r,
         CAST(floor(ln(CAST(hi.higher + tb.ties_before + 1 AS DOUBLE))
              * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(tb.cnt) * 1000000 + 0.5) AS BIGINT) AS y
  FROM tb JOIN hi ON tb.cnt = hi.cnt
),
p AS (
  SELECT a.r AS ar, b.r AS br,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM lp a JOIN lp b ON a.r < b.r AND a.x <> b.x
),
pr AS (
  SELECT slope,
         row_number() OVER (ORDER BY slope, ar, br) AS rn,
         count(*) OVER () AS n
  FROM p
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_words,
       (SELECT CAST(count(*) AS BIGINT) FROM sm) AS n_sampled,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(floor(slope * 1000000 + 0.5) AS BIGINT) AS slope_micro
FROM pr WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
""")
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, handles = _zipf_build(spark, sf_dir)
    out = out.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return out


def _zipf_build(spark: SparkSession, sf_dir: str,
                persist: bool = True) -> tuple[DataFrame, list[DataFrame]]:
    """zipf_slope's plan, pre-checkpoint — split out so the window-
    boundedness plan test can inspect it (persist=False keeps cached
    subtrees out of the plan text)."""
    from ..operators.unigram import word_dict

    handles: list[DataFrame] = []

    def _p(df: DataFrame) -> DataFrame:
        if persist:
            df = df.persist()
            handles.append(df)
        return df

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = _p(word_dict(docs, "text"))
    # 1. frequency-stratified md5 sample — partitioned window, distributes
    st_w = W.partitionBy("stratum").orderBy(F.md5("word"), "word")
    sm = _p(w.withColumn("stratum", F.length(F.col("cnt").cast("string")))
            .withColumn("srn", F.row_number().over(st_w))
            .filter(F.col("srn") <= _ZIPF_STRATUM_CAP)
            .select("word", "cnt"))
    # 2a. higher-count offset: prefix sum over the distinct-cnt histogram
    hist = w.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("nw"))
    hi_w = W.orderBy(F.desc("cnt")).rowsBetween(W.unboundedPreceding, -1)
    hi = hist.select(
        "cnt",
        F.coalesce(F.sum("nw").over(hi_w), F.lit(0)).cast("long")
        .alias("higher"))
    # 2b. same-cnt earlier-word ties: corpus dict ⋈ broadcast sample
    s = sm.select(F.col("word").alias("s_word"), F.col("cnt").alias("s_cnt"))
    ties = (w.join(F.broadcast(s),
                   (F.col("cnt") == F.col("s_cnt"))
                   & (F.col("word") < F.col("s_word")))
            .groupBy("s_word")
            .agg(F.count(F.lit(1)).cast("long").alias("tb")))
    rk = (sm.join(F.broadcast(ties), sm["word"] == ties["s_word"], "left")
          .select("cnt",
                  F.coalesce(F.col("tb"), F.lit(0)).alias("ties_before")))
    lp = _p(rk.join(F.broadcast(hi.join(
                F.broadcast(sm.select("cnt").distinct()), "cnt")), "cnt")
            .select((F.col("higher") + F.col("ties_before") + 1)
                    .cast("long").alias("r"), "cnt")
            .select("r",
                    F.floor(F.log(F.col("r").cast("double")) * 1_000_000
                            + F.lit(0.5)).cast("long").alias("x"),
                    F.floor(F.log(F.col("cnt").cast("double")) * 1_000_000
                            + F.lit(0.5)).cast("long").alias("y")))
    # 3. pairs + LOWER-median slope over the ≤494-point sample
    a = lp.select(F.col("r").alias("ar"), F.col("x").alias("xa"),
                  F.col("y").alias("ya"))
    b = lp.select(F.col("r").alias("br"), F.col("x").alias("xb"),
                  F.col("y").alias("yb"))
    p = (a.join(F.broadcast(b),
                (F.col("ar") < F.col("br")) & (F.col("xa") != F.col("xb")))
         .select("ar", "br",
                 ((F.col("yb") - F.col("ya")).cast("double")
                  / (F.col("xb") - F.col("xa")).cast("double"))
                 .alias("slope")))
    med_w = W.orderBy("slope", "ar", "br")
    n_words = w.count()
    n_sampled = sm.count()
    out = (p.withColumn("rn", F.row_number().over(med_w))
           .withColumn("n", F.count(F.lit(1)).over(
               W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
           .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long"))
           .select(F.lit(n_words).cast("long").alias("n_words"),
                   F.lit(n_sampled).cast("long").alias("n_sampled"),
                   F.col("n").alias("n_pairs"),
                   _micro(F.col("slope")).alias("slope_micro")))
    return out, handles
