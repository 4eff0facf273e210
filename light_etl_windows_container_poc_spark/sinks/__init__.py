"""Warehouse sinks — reference parity.

The reference appends cleaned frames to Postgres tables in 1000-row
chunks and logs every job to `etl_processing_log`
(`dataframe_tasks.py:78-103`). Here the warehouse is partitioned parquet
(append mode = the same always-append contract); the JDBC sink is kept
for literal Postgres parity but gated on a driver jar.

The processing log is the one table written without Spark: its rows are
a handful of driver-side values per ingest call, so
``append_processing_log`` writes them as one small parquet file with
pyarrow — no job, no Python worker — under the same per-path lock as
Spark appends, staged under a dot-name (hidden from Spark and pyarrow
scans) and renamed into place.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# Concurrent appends to ONE parquet directory are unsafe under Hadoop's
# FileOutputCommitter: every job stages under `<dir>/_temporary/0/`, and
# whichever job commits first recursively deletes `_temporary` — wiping
# the other job's in-flight task files (observed as both a chmod
# ExitCodeException AND silent row loss when two streaming foreachBatch
# handlers appended to the shared `etl_processing_log` concurrently).
# Appends to the SAME resolved path therefore serialize on a per-path
# driver lock; distinct tables keep distinct locks, so cross-table
# concurrency (the common case) is untouched. Cross-PROCESS appends are
# out of scope — certs isolate per-process via cert_work_dir.
# Processing-log files bypass the committer (append_processing_log writes
# them on the driver) but still take this lock and land by atomic rename,
# so a log file never appears inside a Spark append's commit window.
# key -> (lock, refcount): refcounted so entries reap deterministically
# when the last holder releases — a long-lived driver's cert scratch
# paths would otherwise grow the dict unboundedly (r13 ADVICE).
_APPEND_LOCKS: dict[str, tuple[threading.Lock, int]] = {}
_APPEND_LOCKS_GUARD = threading.Lock()


@contextlib.contextmanager
def _path_lock(path: str):
    """Serialize on the PHYSICAL directory: realpath, not abspath, so a
    symlinked warehouse alias and its target take the same lock (r13
    ADVICE — abspath kept two aliases of one dir racing the committer)."""
    key = os.path.realpath(path)
    with _APPEND_LOCKS_GUARD:
        lock, refs = _APPEND_LOCKS.get(key, (threading.Lock(), 0))
        _APPEND_LOCKS[key] = (lock, refs + 1)
    try:
        with lock:
            yield
    finally:
        with _APPEND_LOCKS_GUARD:
            lock2, refs2 = _APPEND_LOCKS[key]
            if refs2 <= 1:
                del _APPEND_LOCKS[key]
            else:
                _APPEND_LOCKS[key] = (lock2, refs2 - 1)


def append_table(df: DataFrame, warehouse_dir: str, table: str,
                 partition_by: list[str] | None = None) -> str:
    """Append to a warehouse table as parquet. ``partition_by`` (e.g. an
    ingest-date column) gives downstream queries partition pruning.
    Same-path appends from concurrent driver threads serialize (see the
    committer note above); distinct tables append concurrently."""
    path = os.path.join(warehouse_dir, table)
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    with _path_lock(path):
        writer.parquet(path)
    return path


# `etl_processing_log` (reference `database_postgres.py:71-83`): the one
# schema every writer of the table uses, so its parquet files never mix
PROCESSING_LOG_SCHEMA = pa.schema([
    ("filename", pa.string()), ("sheet_name", pa.string()),
    ("rows_processed", pa.int64()), ("status", pa.string()),
    ("error_message", pa.string()), ("processed_at", pa.string()),
    ("processing_time_seconds", pa.float64())])


def log_entry(filename: str, rows_processed: int, status: str,
              error_message: str | None = None,
              processing_time_seconds: float = 0.0,
              sheet_name: str = "") -> dict:
    """One processing-log row, stamped now; the error is cut to 1000
    characters like the reference's column."""
    return {"filename": filename, "sheet_name": sheet_name,
            "rows_processed": int(rows_processed), "status": status,
            "error_message": (error_message or "")[:1000],
            "processed_at": time.strftime("%Y-%m-%d %H:%M:%S"),
            "processing_time_seconds": float(processing_time_seconds)}


def append_processing_log(warehouse_dir: str, entries: list[dict]) -> None:
    """Append ``log_entry`` rows to `etl_processing_log` as ONE parquet
    file written on the driver: no Spark job. The file is staged under a
    dot-name and renamed into place while holding the table's path lock,
    so readers and concurrent appenders never see a partial file."""
    if not entries:
        return
    path = os.path.join(warehouse_dir, "etl_processing_log")
    table = pa.Table.from_pylist(entries, schema=PROCESSING_LOG_SCHEMA)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}-log.snappy.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    with _path_lock(path):
        try:
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, os.path.join(path, name))
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise


def write_processing_log(spark: SparkSession, warehouse_dir: str,
                         filename: str, rows_processed: int, status: str,
                         error_message: str | None = None,
                         processing_time_seconds: float = 0.0,
                         sheet_name: str = "") -> None:
    """One-row ``append_processing_log``; ``spark`` is unused and kept
    for callers of the original signature."""
    append_processing_log(warehouse_dir, [log_entry(
        filename, rows_processed, status, error_message,
        processing_time_seconds, sheet_name)])


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "append", **options) -> None:
    """JDBC sink (Postgres parity, reference `database_postgres.py:10-44`).
    Requires the target database's JDBC driver jar on the cluster
    classpath (pass ``driver=...`` when the jar doesn't auto-register).
    Round-trip tested in-image against embedded Apache Derby
    (tests/test_db_sink.py); for Postgres itself ship postgresql.jar via
    ``spark.jars`` exactly as the reference ships psycopg2."""
    df.write.mode(mode).format("jdbc").option("url", url) \
        .option("dbtable", table).options(**options).save()


def write_dbapi(df: DataFrame, connect_factory, table: str,
                batch_size: int = 1000, paramstyle: str = "qmark") -> None:
    """Relational-DB sink through any PEP-249 driver, no JDBC jar needed:
    each PARTITION opens its own connection via ``connect_factory`` (must
    be picklable — a top-level function or functools.partial) and inserts
    in ``batch_size`` executemany chunks.

    This is the reference's chunked pandas ``to_sql(..., chunksize=1000)``
    append (`database_postgres.py:10-44`) with the row loop distributed:
    N partitions stream concurrently into the database instead of one
    driver-side loop. ``paramstyle``: 'qmark' (sqlite3/duckdb) or
    'format' (psycopg2/mysql). Chunks commit per batch, matching the
    reference's incremental-commit behavior.
    """
    cols = df.columns
    ph = "%s" if paramstyle == "format" else "?"
    insert = (f"INSERT INTO {table} ({', '.join(cols)}) "
              f"VALUES ({', '.join([ph] * len(cols))})")

    def write_partition(rows) -> None:
        conn = connect_factory()
        try:
            cur = conn.cursor()
            buf = []
            for row in rows:
                buf.append(tuple(row))
                if len(buf) >= batch_size:
                    cur.executemany(insert, buf)
                    conn.commit()
                    buf = []
            if buf:
                cur.executemany(insert, buf)
                conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      fmt: str = "parquet") -> None:
    """Partitioned warehouse write: downstream queries filtering on the
    partition columns prune whole directories (PartitionFilters in the
    scan), the single highest-leverage layout decision at 100 TB."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def write_format(df: DataFrame, path: str, fmt: str = "json",
                 mode: str = "overwrite") -> None:
    """Format-generic sink (json / csv / orc / parquet)."""
    w = df.write.mode(mode)
    if fmt == "csv":
        w = w.option("header", True)
    w.format(fmt).save(path)


def _staged_rewrite(spark: SparkSession, df: DataFrame, path: str,
                    partition_by: list[str] | None = None) -> int:
    """Write ``df`` to a staging dir NEXT TO ``path`` (same filesystem,
    so the final move is a rename, never a cross-device copy that could
    die half-way after the live table is gone), count it, then swap.
    Returns the staged row count."""
    import shutil
    import tempfile

    parent = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=".staging_", dir=parent)
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        n = spark.read.parquet(staging).count()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.replace(staging, path)  # same-filesystem rename — atomic
    return n


def upsert_parquet(spark: SparkSession, path: str, updates: DataFrame,
                   key_cols: list[str],
                   partition_by: list[str] | None = None) -> int:
    """MERGE-style upsert into a parquet table without a table format:
    rows matching ``key_cols`` are replaced by ``updates``, everything
    else is kept, new keys are inserted. Returns the resulting row count.

    Mechanics: existing LEFT-ANTI-joins the (deduplicated) update keys —
    one shuffle on the key, or a broadcast when the update batch is small
    (the common CDC case: Catalyst picks it from the batch's size) — then
    the union is rewritten via a staging directory and atomic-ish rename,
    so a failed write never truncates the live table. Updates carrying
    duplicate keys keep one deterministic winner (max of a total struct
    order over the non-key columns) rather than exploding the join.

    At warehouse scale the same code narrows to the touched partitions:
    pass ``partition_by`` and pre-filter ``updates``' partitions upstream
    — full-table rewrite is the no-table-format floor, which is exactly
    why the docstring says so instead of hiding it (Delta/Iceberg/Hudi
    replace this op when available).

    Guard rails: an update batch whose columns don't cover the existing
    table's raises instead of silently narrowing the table's schema; a
    batch that ADDS columns widens the table (kept rows null-fill the
    new columns — additive schema evolution, the direction that loses
    nothing); and the key anti-join is NULL-SAFE — a NULL-keyed update
    REPLACES the existing NULL-keyed row instead of duplicating it
    forever."""
    from pyspark.sql import functions as F

    non_key = [c for c in updates.columns if c not in key_cols]
    if non_key:
        # one deterministic row per key: greatest struct wins
        upd = (updates.groupBy(*key_cols)
               .agg(F.max(F.struct(*non_key)).alias("_s"))
               .select(*key_cols, *[F.col(f"_s.{c}").alias(c)
                                    for c in non_key]))
    else:
        upd = updates.dropDuplicates(key_cols)
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        missing = set(existing.columns) - set(upd.columns)
        if missing:
            raise ValueError(
                f"upsert batch lacks existing columns {sorted(missing)} — "
                "a narrower batch would silently drop them from the table; "
                "carry them (NULL is fine) or migrate the schema explicitly")
        keys = upd.select(*key_cols)
        cond = None
        for k in key_cols:  # null-safe: NULL key matches NULL key
            c = existing[k].eqNullSafe(keys[k])
            cond = c if cond is None else (cond & c)
        kept = existing.join(keys, cond, "left_anti")
        # additive evolution: columns new in the batch null-fill kept rows
        upd_types = dict(upd.dtypes)
        for new_col in [c for c in upd.columns
                        if c not in existing.columns]:
            kept = kept.withColumn(
                new_col, F.lit(None).cast(upd_types[new_col]))
        merged = kept.select(*upd.columns).unionByName(upd)
    else:
        merged = upd
    return _staged_rewrite(spark, merged, path, partition_by)


def apply_ttl(spark: SparkSession, path: str, ts_col: str,
              keep_days: int, now: str,
              partition_by: list[str] | None = None,
              keep_null_ts: bool = False) -> int:
    """Retention sweep: rewrite the table keeping only rows whose
    ``ts_col`` is within ``keep_days`` of ``now`` (an explicit timestamp
    string — callers pass it so reruns are deterministic). Returns rows
    kept. Same staging-rename discipline as ``upsert_parquet``; with a
    date-partitioned layout pass ``partition_by`` to preserve the
    directory layout (a partition-drop — deleting old directories —
    replaces the rewrite entirely when the TTL aligns with partitions).

    Guard rails: an unparseable ``now`` raises up front (a NULL cutoff
    would filter every row out and silently wipe the table). Rows with a
    NULL ``ts_col`` are EXPIRED by default — pass ``keep_null_ts=True``
    to retain not-yet-stamped rows instead."""
    import datetime

    from pyspark.sql import functions as F

    try:  # driver-side parse check — never let a NULL cutoff reach filter
        datetime.datetime.fromisoformat(now)
    except ValueError as e:
        raise ValueError(
            f"apply_ttl now={now!r} is not an ISO timestamp — refusing "
            "(a NULL cutoff would expire every row)") from e
    df = spark.read.parquet(path)
    cutoff = (F.to_timestamp(F.lit(now))
              - F.expr(f"interval {int(keep_days)} days"))
    cond = F.col(ts_col) >= cutoff
    if keep_null_ts:
        cond = cond | F.col(ts_col).isNull()
    return _staged_rewrite(spark, df.filter(cond), path, partition_by)


def delete_where(spark: SparkSession, path: str, keys: DataFrame,
                 key_cols: list[str],
                 partition_by: list[str] | None = None) -> int:
    """Key-set row deletion from a parquet table — the warehouse tier of
    the takedown story (streaming/bm25.py, operators/ann_index.py and
    operators/incremental.py cover the maintained indexes; this covers
    the routed tables the reference's Postgres warehouse would DELETE
    from). Rows whose ``key_cols`` match any row of ``keys`` are
    removed; the survivors are rewritten via the same staging-directory
    + atomic-rename discipline as ``upsert_parquet``, so a failed write
    never truncates the live table. Returns the number of rows deleted.

    The key match is NULL-SAFE (a NULL-keyed delete removes the
    NULL-keyed rows, mirroring upsert's replace semantics). An empty
    key set returns 0 WITHOUT rewriting the table. At warehouse scale
    the deleted-key relation is takedown-sized — the anti-join
    broadcasts it; pass ``partition_by`` to preserve a partitioned
    layout through the rewrite."""
    from pyspark.sql import functions as F

    if not os.path.isdir(path):
        return 0
    dels = keys.select(*key_cols).dropDuplicates(key_cols)
    if dels.limit(1).count() == 0:
        return 0
    existing = spark.read.parquet(path)
    missing = set(key_cols) - set(existing.columns)
    if missing:
        raise ValueError(
            f"delete_where key columns {sorted(missing)} not in table")
    cond = None
    for k in key_cols:
        c = existing[k].eqNullSafe(dels[k])
        cond = c if cond is None else (cond & c)
    n_before = existing.count()
    kept = existing.join(F.broadcast(dels), cond, "left_anti")
    n_kept = _staged_rewrite(spark, kept, path, partition_by)
    return n_before - n_kept
