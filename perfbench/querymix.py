"""query_mix: the warehouse read side and the LLM-curation operators.

Closed loop, one client, whole passes over QUERIES in an order the seed
permutes per pass. Inputs are a seeded warehouse the benchmark writes
itself; every result is checked against the DuckDB oracle twin the
registry carries, hashed with tools/check_oracle.py's normalisation.
"""

from __future__ import annotations

import os
import random
import sys
import time

import common
import gen

# (query, the module its work exercises — the per-layer group name)
QUERIES = (
    ("q1_pricing_summary", "queries.tpch"),
    ("q18_large_orders", "queries.tpch"),
    ("sessionize", "queries.temporal"),
    ("asof_join", "queries.temporal"),
    ("dedup_ngram_jaccard", "operators.dedup"),
    ("ann_bruteforce", "operators.similarity"),
    ("knn_graph", "operators.similarity"),
    ("text_quality", "operators.text"),
)
GROUPS = ("queries.tpch", "queries.temporal", "operators.dedup",
          "operators.similarity", "operators.text")
SCALE = 0.01          # ~60k lineitems: per-job overhead dominates, as at sf0.1
WARM_SCALE = 0.001    # same plan shapes, warmed without flattering data reuse
PASS_S = 6.5          # a warm pass on 4 cores; runs time whole passes only,
                      # so every run times the same query multiset


class QueryMix:
    def __init__(self, work: str, seed: int, root: str):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "sf")
        self.warm_data = os.path.join(work, "sf_warm")
        self.root = root
        self.latencies: list[float] = []
        self.results: dict[str, list] = {}
        self.attempted = 0
        self.failed = 0
        self.pass_s: list[float] = []          # untraced passes
        self.traced_passes = 0
        # (traced, seconds, rows read) per query of a traced run
        self.ops: list[tuple[bool, float, float]] = []
        self.table_rows: dict[str, int] = {}

    def prepare(self) -> None:
        """Write both warehouses; runs before the session starts."""
        self.table_rows = gen.write_query_warehouse(self.data, self.seed, SCALE)
        gen.write_query_warehouse(self.warm_data, self.seed + 1, WARM_SCALE)

    @property
    def warehouse_rows(self) -> int:
        return sum(self.table_rows.values())

    def _run(self, spark, name: str, sf_dir: str):
        from light_etl_windows_container_poc_spark.queries import \
            QUERIES as REG

        df = REG[name](spark, sf_dir)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        spark.catalog.clearCache()
        return df, cols, rows

    def setup(self, spark) -> None:
        for name, _ in QUERIES:
            self._run(spark, name, self.warm_data)

    def measure(self, spark, seconds: float, tracer=None) -> None:
        passes = max(1, int(seconds // PASS_S))
        kinds = common.pairs(passes) if tracer else [False] * passes
        for p, traced in enumerate(kinds):
            order = list(QUERIES)
            random.Random(f"mix-{self.seed}-{p}").shuffle(order)
            t_pass = time.perf_counter()
            for name, group in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.span(group, query=name) as s:
                            df, cols, rows = self._run(spark, name, self.data)
                        s.attrs["plan_ms"] = plan_ms(df)
                    else:
                        _, cols, rows = self._run(spark, name, self.data)
                except Exception as e:  # noqa: BLE001 — counted
                    print(f"{name} raised: {e!r}", flush=True)
                    self.failed += 1
                    continue
                wall = time.perf_counter() - t0
                self.ops.append((traced, wall,
                                 self.warehouse_rows / len(QUERIES)))
                if not traced:
                    self.latencies.append(wall)
                self.results.setdefault(name, []).append((cols, rows))
            if traced:
                self.traced_passes += 1
            else:
                self.pass_s.append(time.perf_counter() - t_pass)

    def check(self) -> None:
        """Each result against the DuckDB oracle; rows-only where the
        registry has no oracle."""
        import duckdb

        sys.path.insert(0, os.path.join(self.root, "tools"))
        import check_oracle

        from light_etl_windows_container_poc_spark.catalog import TABLES
        from light_etl_windows_container_poc_spark.queries import ORACLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.data, t + '.parquet')}')")
        for name, runs in self.results.items():
            sql = ORACLES.get(name)
            if sql is None:
                want = None
            else:
                odf = con.execute(sql).df()
                want = (len(odf), sorted(odf.columns),
                        check_oracle.frame_fingerprint(
                            list(odf.columns), check_oracle._pandas_rows(odf)))
            for cols, rows in runs:
                if want is None:
                    ok = len(rows) > 0
                else:
                    ok = (len(rows), sorted(cols),
                          check_oracle.frame_fingerprint(cols, rows)) == want
                if not ok:
                    print(f"{name}: result differs from the oracle",
                          flush=True)
                    self.failed += 1
        con.close()

    def op_wall_s(self) -> float:
        return sum(self.pass_s)


def plan_ms(df) -> float:
    """Analysis + optimisation + planning time from the frame's
    QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.keySet().iterator()
    total = 0.0
    while it.hasNext():
        total += phases.apply(it.next()).durationMs()
    return float(total)
