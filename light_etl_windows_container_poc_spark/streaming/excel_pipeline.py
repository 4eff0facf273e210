"""The reference's WHOLE flow, streaming: watch an Excel drive →
pattern-route → clean → per-table warehouse append → processing log.

The batch pipeline (`pipeline.py`) already re-expresses the reference's
watcher+Celery+pandas composition as one engine call; this module runs
the same operators continuously on top of the streaming excel source
(`sources/excel_datasource.py`), so new/modified workbooks flow to the
warehouse without a poll-loop process — the Structured Streaming
checkpoint replaces the watcher's seen-file bookkeeping
(`pattern_based_cleaner_watcher.py:239-314`).

Per micro-batch, the parsed corpus is routed+cleaned ONCE (persisted),
per-table appends re-read that cache, and the processing-log rows are
derived from one row-count aggregation — the batch pipeline's
single-parse scale contract, preserved under streaming.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cleaning import (coerce_by_name, drop_empty_rows,
                                  sanitize_column_names, with_etl_metadata)
from ..operators.routing import PatternRouter
from ..sinks import append_processing_log, append_table, log_entry


def excel_etl_batch_handler(warehouse_dir: str,
                            router: PatternRouter | None = None,
                            batch_ts: str | None = None,
                            source_name: str = "excel_stream",
                            ) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: route on source_path → sanitize/coerce/
    drop-empty/enrich in one plan → append each routed table → append
    per-file processing-log rows (reference `etl_processing_log`,
    `database_postgres.py:71-83`)."""
    router = router or PatternRouter()

    def handle(batch: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        routed = router.route(batch, path_col="source_path")
        # the drop-empty column list must come from the SANITIZED frame:
        # sanitize_column_names may rewrite schema names (e.g. `Order ID`
        # -> order_id), and a pre-sanitization name would be unresolvable
        # in every micro-batch
        sanitized = sanitize_column_names(routed)
        cleaned = with_etl_metadata(
            drop_empty_rows(
                coerce_by_name(sanitized),
                cols=[c for c in sanitized.columns
                      if c not in ("source_path", "target_table")]),
            source_name, batch_ts=batch_ts)
        cleaned.persist()
        try:
            per_file = (cleaned.groupBy("source_path", "target_table")
                        .agg(F.count(F.lit(1)).cast("long").alias("n"))
                        .collect())
            for table in sorted({r["target_table"] for r in per_file}):
                sub = (cleaned.filter(F.col("target_table") == table)
                       .drop("target_table"))
                append_table(sub, warehouse_dir, table)
            # the micro-batch id lives in the streaming checkpoint/
            # metrics, not in the log rows
            dt = time.time() - t0
            append_processing_log(warehouse_dir, [
                log_entry(r["source_path"], r["n"], "completed",
                          processing_time_seconds=dt)
                for r in per_file])
        finally:
            cleaned.unpersist()

    return handle


def start_excel_etl_stream(spark: SparkSession, input_dir: str,
                           schema_ddl: str, warehouse_dir: str,
                           checkpoint_dir: str,
                           router: PatternRouter | None = None,
                           batch_ts: str | None = None,
                           available_now: bool = True) -> StreamingQuery:
    """Wire the streaming excel source into the ETL handler. The schema
    gains `source_path` automatically (routing needs it). Register-once
    semantics: re-registering the data source per session is a no-op."""
    from ..session import ensure_package_on_executors
    from ..sources.excel_datasource import ExcelDataSource

    ensure_package_on_executors(spark)
    spark.dataSource.register(ExcelDataSource)
    ddl = schema_ddl if "source_path" in schema_ddl \
        else schema_ddl + ", source_path string"
    stream = spark.readStream.format("excel").schema(ddl).load(input_dir)
    writer = (stream.writeStream
              .foreachBatch(excel_etl_batch_handler(
                  warehouse_dir, router, batch_ts))
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
