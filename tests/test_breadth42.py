"""Round-11 head candidates pre-certified through the EXACT local-gate
compare (tools/check_oracle's pandas fetch + frame_fingerprint) at
sf0.001 — queries/breadth41.py registers these in round 11 by adding
the @query decorator; the certification evidence exists NOW."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from check_oracle import (  # noqa: E402
    _pandas_rows,
    frame_fingerprint,
    oracle_type_problems,
)

from light_etl_windows_container_poc_spark.catalog import (  # noqa: E402
    TABLES,
    table_path,
)
from light_etl_windows_container_poc_spark.queries.breadth41 import (  # noqa: E402
    SALTING_ADVICE_ORACLE,
    STREAM_BM25_ORACLE,
    salting_advice_cert,
    stream_bm25_cert,
)


@pytest.fixture()
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"read_parquet('{table_path(sf_dir, t)}')")
    yield c
    c.close()


def _gate_compare(spark_df, con, oracle_sql):
    """The driver-replica compare: type guard, row count, column set,
    order-insensitive value hash over the pandas fetch path."""
    assert oracle_type_problems(con, oracle_sql) == []
    scols = spark_df.columns
    srows = [tuple(r) for r in spark_df.collect()]
    odf = con.execute(oracle_sql).df()
    ocols, orows = list(odf.columns), _pandas_rows(odf)
    assert len(srows) == len(orows)
    assert sorted(scols) == sorted(ocols)
    assert frame_fingerprint(scols, srows) == frame_fingerprint(ocols, orows)
    return len(srows)


def test_stream_bm25_cert_gate_green(spark, sf_dir, con):
    n = _gate_compare(stream_bm25_cert(spark, sf_dir), con,
                      STREAM_BM25_ORACLE)
    assert n > 0  # non-empty certification at sf0.001


def test_salting_advice_cert_gate_green(spark, sf_dir, con):
    n = _gate_compare(salting_advice_cert(spark, sf_dir), con,
                      SALTING_ADVICE_ORACLE)
    assert n > 0


def test_mann_kendall_trend_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        MANN_KENDALL_ORACLE,
        mann_kendall_trend,
    )

    n = _gate_compare(mann_kendall_trend(spark, sf_dir), con,
                      MANN_KENDALL_ORACLE)
    assert n > 0


def test_acf_daily_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        ACF_DAILY_ORACLE,
        acf_daily,
    )

    n = _gate_compare(acf_daily(spark, sf_dir), con, ACF_DAILY_ORACLE)
    assert n == 7  # one row per lag 1..7


def test_bm25_batch_cert_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        BM25_BATCH_ORACLE,
        bm25_batch_cert,
    )

    n = _gate_compare(bm25_batch_cert(spark, sf_dir), con,
                      BM25_BATCH_ORACLE)
    assert n > 20  # more than one query produced a full page


def test_r11_candidate_plans_are_cartesian_free(spark, sf_dir):
    """The r11 pre-certified candidates hold the same plan contract the
    registered drift family locks: no CartesianProduct anywhere; pair
    relations are calendar-bounded and broadcast (the only nested-loop
    joins are the 7-row lag spine and 1-row scalar broadcasts)."""
    from light_etl_windows_container_poc_spark.plans import formatted_plan
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        acf_daily,
        mann_kendall_trend,
        salting_advice_cert,
    )

    for fn in (mann_kendall_trend, acf_daily, salting_advice_cert):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__


def test_bm25_serving_plan_prunes_postings(spark, sf_dir, tmp_path):
    """The maintained-index serving path must push the query-term
    filter into the postings scan (cost follows matching postings, not
    corpus size) and stay cartesian-free."""
    from light_etl_windows_container_poc_spark.plans import formatted_plan
    from light_etl_windows_container_poc_spark.streaming.bm25 import bm25_topk

    state = _ingest_docs(spark, sf_dir, tmp_path)
    plan = formatted_plan(bm25_topk(spark, state, ("spark", "query")))
    assert "CartesianProduct" not in plan
    # the isin filter reaches the parquet scan as a pushed filter
    assert "PushedFilters" in plan and "In(tok" in plan


def _ingest_docs(spark, sf_dir, tmp_path):
    from light_etl_windows_container_poc_spark.streaming import summary
    from light_etl_windows_container_poc_spark.streaming.bm25 import BM25

    src = str(tmp_path / "psrc")
    (spark.read.parquet(f"{sf_dir}/documents.parquet")
     .select("doc_id", "text").repartition(2).write.parquet(src))
    state = str(tmp_path / "pstate")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = summary.start(BM25, stream, state, str(tmp_path / "pckpt"),
                      "doc_id", "text")
    q.awaitTermination(120)
    return state


def test_bm25_takedown_cert_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        BM25_TAKEDOWN_ORACLE,
        bm25_takedown_cert,
    )

    n = _gate_compare(bm25_takedown_cert(spark, sf_dir), con,
                      BM25_TAKEDOWN_ORACLE)
    assert n > 0


def test_ann_takedown_cert_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        ANN_TAKEDOWN_ORACLE,
        ann_takedown_cert,
    )

    n = _gate_compare(ann_takedown_cert(spark, sf_dir), con,
                      ANN_TAKEDOWN_ORACLE)
    assert n == 1


def test_dedup_takedown_cert_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        DEDUP_TAKEDOWN_ORACLE,
        dedup_takedown_cert,
    )

    n = _gate_compare(dedup_takedown_cert(spark, sf_dir), con,
                      DEDUP_TAKEDOWN_ORACLE)
    assert n > 0


def test_phrase_search_cert_gate_green(spark, sf_dir, con):
    from light_etl_windows_container_poc_spark.queries.breadth41 import (
        PHRASE_SEARCH_ORACLE,
        phrase_search_cert,
    )

    n = _gate_compare(phrase_search_cert(spark, sf_dir), con,
                      PHRASE_SEARCH_ORACLE)
    assert n > 0
