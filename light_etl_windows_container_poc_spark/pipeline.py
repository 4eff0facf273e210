"""End-to-end ETL pipeline — the reference's whole flow as one engine call.

Reference flow (watch → pattern-route → read → clean → append → log →
archive → notify) lived across a file watcher, Celery tasks, and pandas
(`pattern_based_cleaner_watcher.py`, `dataframe_tasks.py`,
`enhanced_tasks.py`). Here it's a single batch (or streaming — see
streaming/watcher.py) job:

    discover files → route by path pattern → sanitize columns, coerce
    types, drop empty rows, enrich metadata (ALL tables in one plan) →
    per-table append from the persisted frame → write the call's
    processing-log rows → archive inputs → fire completion callbacks.

Scale shape: the input corpus is parsed and cleaned exactly ONCE — the
routed+cleaned frame is persisted, per-table row counts come from one
aggregation over it, and each table's append re-reads the cache, never
the raw files. Discovery/routing/archive are metadata-only, and the
processing log is one driver-side parquet write per call
(`sinks.append_processing_log`), not a Spark job per table.

Reliability surface (reference `enhanced_tasks.py`):
- per-file retry with backoff then quarantine (`ingest_files_with_retry`
  ~ Celery task retries, `enhanced_tasks.py` bind=True task classes)
- archive processed inputs (`enhanced_tasks.py:207-219`)
- on_success / on_failure completion callbacks
  (`notify_processing_complete`, `enhanced_tasks.py:28-49`)
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cleaning import (coerce_by_name, drop_empty_rows,
                                 sanitize_column_names)
from .operators.routing import PatternRouter
from .sinks import append_processing_log, append_table, log_entry
from .sources.files import read_csv_auto


@dataclass
class IngestResult:
    table: str
    rows: int
    status: str
    error: str | None = None


def _move_file(src: str, dest_dir: str) -> str:
    """Driver-side file move for local/POSIX paths (the reference archives
    on a local share, `enhanced_tasks.py:207-219`). On HDFS/S3 swap this
    for the Hadoop FileSystem rename — the pipeline only ever moves a
    METADATA-scale list of paths, never data."""
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, os.path.basename(src))
    if os.path.exists(dest):  # keep moves idempotent across retries
        base, ext = os.path.splitext(dest)
        dest = f"{base}_{int(time.time() * 1000)}{ext}"
    shutil.move(src, dest)
    return dest


@dataclass
class ETLPipeline:
    spark: SparkSession
    warehouse_dir: str
    router: PatternRouter = field(default_factory=PatternRouter)
    # completion callbacks (reference notify_processing_complete /
    # on_failure hooks): called once per ingest with the result list
    on_success: Callable[[list[IngestResult]], None] | None = None
    on_failure: Callable[[list[IngestResult]], None] | None = None

    def ingest_csv_dir(self, input_dir: str, schema_ddl: str,
                       batch_ts: str | None = None,
                       archive_dir: str | None = None,
                       notify: bool = True) -> list[IngestResult]:
        """Route every CSV under ``input_dir`` by path pattern and append
        each routed group to its warehouse table.

        Single-pass: the binaryFile scan + CSV parse + cleaning run once
        into a persisted frame; per-table counts come from ONE aggregation
        over it and per-table appends re-read the cache. Each table's
        outcome (success, or error with 0 rows) becomes one log row, and
        the call's rows are written once after the loop, on the driver;
        a failing log write raises. ``archive_dir`` moves
        successfully-ingested input files there afterwards.
        """
        df = read_csv_auto(self.spark, input_dir, schema_ddl)
        routed = self.router.route(df, path_col="source_path")
        # clean ALL tables in one plan: the transforms are schema-wide and
        # table-independent; lineage columns derive from target_table
        cleaned = self._clean(routed, batch_ts).persist()
        try:
            counts = {r["target_table"]: r["n"] for r in
                      cleaned.groupBy("target_table")
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
            results: list[IngestResult] = []
            log: list[dict] = []
            for table in sorted(counts):
                t0 = time.time()
                part = (cleaned.filter(F.col("target_table") == table)
                        .drop("target_table"))
                try:
                    append_table(part, self.warehouse_dir, table)
                    log.append(log_entry(
                        input_dir, counts[table], "success",
                        processing_time_seconds=time.time() - t0,
                        sheet_name=table))
                    results.append(IngestResult(table, counts[table], "success"))
                except Exception as e:  # log-and-continue, reference behavior
                    log.append(log_entry(
                        input_dir, 0, "error", error_message=str(e),
                        processing_time_seconds=time.time() - t0,
                        sheet_name=table))
                    results.append(IngestResult(table, 0, "error", str(e)))
            append_processing_log(self.warehouse_dir, log)
        finally:
            cleaned.unpersist()
        if archive_dir is not None and results and \
                all(r.status == "success" for r in results):
            for src in self._list_input_files(input_dir):
                _move_file(src, archive_dir)
        if notify:
            self._notify(results)
        return results

    def ingest_files_with_retry(self, files: list[str], schema_ddl: str,
                                batch_ts: str | None = None,
                                max_retries: int = 3,
                                backoff_seconds: float = 0.1,
                                archive_dir: str | None = None,
                                quarantine_dir: str | None = None,
                                ) -> list[IngestResult]:
        """Per-FILE ingest with the reference's Celery retry policy: each
        file is attempted up to ``max_retries`` times with exponential
        backoff; a file that still fails is quarantined (moved to
        ``quarantine_dir``) and logged — one poison file never sinks the
        batch, and unlike Spark's task retries this re-attempts the whole
        file-level job."""
        results: list[IngestResult] = []
        for path in files:
            last_err: str | None = None
            for attempt in range(max_retries):
                try:
                    # read_csv_auto accepts a single-file path: the per-file
                    # job re-runs end-to-end on retry, not just a Spark task
                    file_results = self.ingest_csv_dir(
                        path, schema_ddl, batch_ts=batch_ts, notify=False)
                    results.extend(file_results)
                    last_err = None
                    break
                except Exception as e:
                    last_err = str(e)
                    time.sleep(backoff_seconds * (2 ** attempt))
            if last_err is not None:
                append_processing_log(self.warehouse_dir, [log_entry(
                    path, 0, "quarantined", error_message=last_err)])
                if quarantine_dir is not None and os.path.isfile(path):
                    _move_file(path, quarantine_dir)
                results.append(IngestResult(os.path.basename(path), 0,
                                            "quarantined", last_err))
            elif archive_dir is not None and os.path.isfile(path):
                _move_file(path, archive_dir)
        self._notify(results)
        return results

    # -- internals --------------------------------------------------------

    def _clean(self, routed: DataFrame, batch_ts: str | None) -> DataFrame:
        # dropna(how='all') parity (reference enhanced_tasks.py:97-103)
        # runs over the DATA columns only: the pipeline's source_path /
        # target_table lineage columns are always non-null, so including
        # them would keep every all-empty data row
        named = sanitize_column_names(routed)
        data_cols = [c for c in named.columns
                     if c not in ("source_path", "target_table")]
        base = coerce_by_name(drop_empty_rows(named, data_cols))
        # with_etl_metadata takes a scalar source name; here lineage derives
        # from the routed target_table COLUMN so one plan serves all tables
        ts = (F.lit(batch_ts).cast("timestamp") if batch_ts
              else F.current_timestamp())
        return (base.withColumn("source_name", F.col("target_table"))
                .withColumn("processed_at", ts)
                .withColumn("processing_batch",
                            F.concat(F.col("target_table"), F.lit("_"),
                                     F.date_format(ts, "yyyyMMdd_HHmmss"))))

    def _list_input_files(self, input_dir: str) -> list[str]:
        out = []
        for root, _dirs, names in os.walk(input_dir):
            out += [os.path.join(root, n) for n in names if n.endswith(".csv")]
        return out

    def _notify(self, results: list[IngestResult]) -> None:
        failed = [r for r in results if r.status != "success"]
        try:
            if failed and self.on_failure is not None:
                self.on_failure(results)
            elif not failed and self.on_success is not None:
                self.on_success(results)
        except Exception:  # a broken callback must not fail the ingest
            pass


def health_check(spark: SparkSession, warehouse_dir: str | None = None,
                 tables: list[str] | None = None) -> dict:
    """Reference `health_check` parity (`enhanced_tasks.py:264-284`):
    session liveness + warehouse readability in one probe dict."""
    out: dict = {"status": "healthy", "spark_version": spark.version,
                 "default_parallelism": spark.sparkContext.defaultParallelism}
    try:
        out["session_alive"] = spark.range(1).count() == 1
    except Exception as e:  # pragma: no cover
        return {"status": "unhealthy", "error": str(e)}
    if warehouse_dir and tables:
        table_status = {}
        for t in tables:
            try:
                spark.read.parquet(f"{warehouse_dir}/{t}").limit(1).collect()
                table_status[t] = "ok"
            except Exception as e:
                table_status[t] = f"error: {e}"[:200]
                out["status"] = "degraded"
        out["tables"] = table_status
    return out
