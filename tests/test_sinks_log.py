"""The processing log's on-disk contract: driver-written files mix with
Spark-written ones under one schema, and concurrent appenders lose no
rows."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import Row

from light_etl_windows_container_poc_spark.sinks import (
    append_processing_log, append_table, log_entry, write_processing_log)

LOG_DDL = ("filename string, sheet_name string, rows_processed bigint, "
           "status string, error_message string, processed_at string, "
           "processing_time_seconds double")
ARROW_TYPES = [("filename", "string"), ("sheet_name", "string"),
               ("rows_processed", "int64"), ("status", "string"),
               ("error_message", "string"), ("processed_at", "string"),
               ("processing_time_seconds", "double")]


def test_spark_and_driver_written_log_files_read_as_one_schema(spark,
                                                               tmp_path):
    wh = str(tmp_path / "wh")
    # a warehouse written before the log moved to the driver: one-row
    # Row frames appended through Spark
    old = spark.createDataFrame([Row(
        filename="old.csv", sheet_name="dim_customers", rows_processed=3,
        status="success", error_message="", processed_at="2025-01-01 00:00:00",
        processing_time_seconds=0.5)])
    append_table(old, wh, "etl_processing_log")
    write_processing_log(spark, wh, "new.csv", 7, "error",
                         error_message="boom", processing_time_seconds=1.25,
                         sheet_name="fact_sales")
    path = os.path.join(wh, "etl_processing_log")

    df = spark.read.parquet(path)
    assert df.schema.simpleString() == \
        spark.createDataFrame([], LOG_DDL).schema.simpleString()
    assert sorted((r.filename, r.rows_processed, r.status, r.error_message,
                   r.processing_time_seconds) for r in df.collect()) == [
        ("new.csv", 7, "error", "boom", 1.25),
        ("old.csv", 3, "success", "", 0.5)]

    t = pq.read_table(path)
    assert [(f.name, str(f.type)) for f in t.schema] == ARROW_TYPES
    assert sorted(t.column("filename").to_pylist()) == ["new.csv", "old.csv"]


def test_concurrent_log_appends_lose_no_rows(tmp_path):
    wh = str(tmp_path / "wh")
    threads, calls = 8, 25

    def writer(w):
        for i in range(calls):
            append_processing_log(wh, [
                log_entry(f"w{w}_{i}_{j}", j, "success") for j in range(3)])

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(threads) as pool:
            list(pool.map(writer, range(threads), timeout=120))
    finally:
        sys.setswitchinterval(switch)

    path = os.path.join(wh, "etl_processing_log")
    names = pq.read_table(path).column("filename").to_pylist()
    assert len(names) == len(set(names)) == threads * calls * 3
    assert not [n for n in os.listdir(path) if n.startswith(".")]
