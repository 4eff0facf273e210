from __future__ import annotations

from light_etl_windows_container_poc_spark.pipeline import ETLPipeline

SCHEMA = "Customer_Name string, Order_Date string, Amount string"


def _mkcsv(p, rows):
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text("Customer Name,Order Date,Amount\n" + "\n".join(rows) + "\n")


def test_pipeline_routes_cleans_appends_and_logs(spark, tmp_path):
    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv",
           ["Ana,2024-01-05,10.5", "Bob,2024-02-01,20.0"])
    _mkcsv(src / "sales_data" / "b.csv", ["Cy,2024-03-01,30.25"])
    _mkcsv(src / "unmatched_stuff" / "c.csv", ["Zed,2024-01-01,99.0"])

    wh = str(tmp_path / "warehouse")
    pipe = ETLPipeline(spark, warehouse_dir=wh)
    # read_csv_auto parses with pandas (header from file), so the DDL uses
    # the raw header names — sanitize runs inside the pipeline
    results = pipe.ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00")

    by_table = {r.table: r for r in results}
    assert set(by_table) == {"dim_customers", "fact_sales"}  # unmatched skipped
    assert by_table["dim_customers"].rows == 2
    assert by_table["dim_customers"].status == "success"

    cust = spark.read.parquet(f"{wh}/dim_customers")
    assert sorted(cust.columns)[:3] == ["amount", "customer_name", "order_date"]
    row = cust.filter(cust.customer_name == "Ana").collect()[0]
    assert row.amount == 10.5            # *amount* name-coerced to double
    assert str(row.order_date) == "2024-01-05"  # *date* coerced to DATE
    assert row.source_name == "dim_customers"

    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert log.filter(log.status == "success").count() == 2


def test_pipeline_ingest_is_single_pass(spark, tmp_path, monkeypatch):
    """The input corpus must be parsed exactly once per ingest: the routed+
    cleaned frame is persisted and every per-table append reads the cache.
    Spy on read_csv_auto to count parse-plan constructions and check the
    per-table write plans hit InMemoryRelation."""
    import light_etl_windows_container_poc_spark.pipeline as pl

    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv", ["Ana,2024-01-05,10.5"])
    _mkcsv(src / "sales_data" / "b.csv", ["Cy,2024-03-01,30.25"])

    calls = {"n": 0}
    real = pl.read_csv_auto

    def spy(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(pl, "read_csv_auto", spy)
    wh = str(tmp_path / "warehouse")
    pipe = pl.ETLPipeline(spark, warehouse_dir=wh)
    results = pipe.ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00")
    assert calls["n"] == 1          # ONE parse plan for the whole ingest
    assert len(results) == 2
    # both tables landed from the one pass
    assert spark.read.parquet(f"{wh}/dim_customers").count() == 1
    assert spark.read.parquet(f"{wh}/fact_sales").count() == 1


def test_pipeline_archives_and_notifies(spark, tmp_path):
    import os

    import light_etl_windows_container_poc_spark.pipeline as pl

    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv", ["Ana,2024-01-05,10.5"])
    archive = tmp_path / "archive"
    seen = {}
    pipe = pl.ETLPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"),
        on_success=lambda rs: seen.setdefault("ok", rs),
        on_failure=lambda rs: seen.setdefault("bad", rs))
    pipe.ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00", archive_dir=str(archive))
    # file moved out of the drop dir into the archive
    assert not (src / "customer_data" / "a.csv").exists()
    assert os.listdir(archive) == ["a.csv"]
    # success callback fired with the results, failure one did not
    assert [r.table for r in seen["ok"]] == ["dim_customers"]
    assert "bad" not in seen


def test_pipeline_retries_then_quarantines_poison_file(spark, tmp_path):
    import light_etl_windows_container_poc_spark.pipeline as pl

    src = tmp_path / "drop" / "customer_data"
    good = src / "good.csv"
    _mkcsv(good, ["Ana,2024-01-05,10.5"])
    poison = src / "poison.csv"
    # unclosed quote + ragged rows → pandas C tokenizer raises ParserError
    poison.write_text('Customer Name,Order Date,Amount\n"Bad,x\nc,d,e,f,g,h\n')

    seen = {}
    quarantine = tmp_path / "quarantine"
    wh = str(tmp_path / "wh")
    pipe = pl.ETLPipeline(spark, warehouse_dir=wh,
                          on_failure=lambda rs: seen.setdefault("bad", rs))
    results = pipe.ingest_files_with_retry(
        [str(good), str(poison)],
        "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00", max_retries=2,
        backoff_seconds=0.01, quarantine_dir=str(quarantine),
        archive_dir=str(tmp_path / "archive"))

    by_status = {r.status for r in results}
    assert by_status == {"success", "quarantined"}
    # the poison file was moved to quarantine, the good one archived
    assert (quarantine / "poison.csv").exists()
    assert (tmp_path / "archive" / "good.csv").exists()
    # quarantine event recorded in the processing log
    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert log.filter(log.status == "quarantined").count() == 1
    # failure callback fired (batch contains a non-success result)
    assert "bad" in seen


def _log_parts(wh):
    import os

    d = os.path.join(wh, "etl_processing_log")
    if not os.path.isdir(d):
        return set()
    return {n for n in os.listdir(d) if n.endswith(".parquet")}


def _three_table_drop(tmp_path):
    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv", ["Ana,2024-01-05,10.5"])
    _mkcsv(src / "sales_data" / "b.csv",
           ["Cy,2024-03-01,30.25", "Di,2024-03-02,1.0"])
    _mkcsv(src / "product_info" / "c.csv", ["Ed,2024-04-01,2.0"])
    return src


def test_ingest_log_is_one_driver_side_file(spark, tmp_path, monkeypatch):
    """One ingest call over several routed tables adds exactly ONE part
    file to etl_processing_log, and writing it runs no Spark job."""
    import light_etl_windows_container_poc_spark.pipeline as pl

    src = _three_table_drop(tmp_path)
    wh = str(tmp_path / "warehouse")
    pipe = pl.ETLPipeline(spark, warehouse_dir=wh)
    ddl = "`Customer Name` string, `Order Date` string, Amount string"
    pipe.ingest_csv_dir(str(src), ddl, batch_ts="2026-01-01 00:00:00")
    before = _log_parts(wh)

    sc = spark.sparkContext
    real = pl.append_processing_log
    logged = []

    def in_log_group(warehouse_dir, entries):
        # any job the log write launches lands in its own group
        sc.setJobGroup("log_write", "processing log")
        try:
            real(warehouse_dir, entries)
        finally:
            sc.setJobGroup("ingest_call", "ingest")
        logged.append(len(entries))

    monkeypatch.setattr(pl, "append_processing_log", in_log_group)
    sc.setJobGroup("ingest_call", "ingest")
    try:
        results = pipe.ingest_csv_dir(str(src), ddl,
                                      batch_ts="2026-01-01 00:00:00")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    tracker = sc.statusTracker()
    assert len(results) == 3 and logged == [3]
    assert tracker.getJobIdsForGroup("ingest_call")   # the tracker sees jobs
    assert tracker.getJobIdsForGroup("log_write") == []
    assert len(_log_parts(wh) - before) == 1
    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert log.count() == 6
    assert sorted((r.sheet_name, r.rows_processed) for r in log.collect()
                  if r.status == "success") == sorted(
        [("dim_customers", 1), ("fact_sales", 2), ("dim_products", 1)] * 2)


def test_ingest_log_error_rows_come_from_the_one_write(spark, tmp_path,
                                                       monkeypatch):
    """A failing table append logs `error` with 0 rows and a 1000-char
    message; the other tables log `success`; all in one new part file."""
    import light_etl_windows_container_poc_spark.pipeline as pl

    src = _three_table_drop(tmp_path)
    wh = str(tmp_path / "warehouse")
    real = pl.append_table

    def failing(df, warehouse_dir, table, *a, **k):
        if table == "fact_sales":
            raise RuntimeError("disk full " + "x" * 2000)
        return real(df, warehouse_dir, table, *a, **k)

    monkeypatch.setattr(pl, "append_table", failing)
    results = pl.ETLPipeline(spark, warehouse_dir=wh).ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00", notify=False)

    by_table = {r.table: r for r in results}
    assert by_table["fact_sales"].status == "error"
    assert by_table["fact_sales"].rows == 0
    assert by_table["fact_sales"].error.startswith("disk full")
    assert {t: (r.rows, r.status) for t, r in by_table.items()
            if t != "fact_sales"} == {"dim_customers": (1, "success"),
                                      "dim_products": (1, "success")}
    assert len(_log_parts(wh)) == 1
    rows = {r.sheet_name: r for r in
            spark.read.parquet(f"{wh}/etl_processing_log").collect()}
    assert {t: (r.rows_processed, r.status) for t, r in rows.items()} == {
        t: (r.rows, r.status) for t, r in by_table.items()}
    assert rows["fact_sales"].error_message == by_table["fact_sales"].error[:1000]
    assert len(rows["fact_sales"].error_message) == 1000
    assert rows["dim_customers"].error_message == ""
