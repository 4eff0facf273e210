"""The reference ETL flow as two workloads.

ingest_batch_csv — closed loop, one client: `ETLPipeline.ingest_csv_dir`
on successive seeded CSV drops, appending into one growing warehouse.

ingest_stream_excel — open loop: a generator in the benchmark process
renames seeded workbooks into the drive a
`start_excel_etl_stream(available_now=False)` query watches, at a fixed
rate, while the query drains them on its own threads.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
from contextlib import nullcontext

import common
import gen

# sizes chosen so one measured call/batch is dominated by per-file and
# per-job fixed costs, as on a real shared drive (see README.md)
CSV_FILES_PER_DIR = 6          # 48 files per drop across the 8 directories
CSV_ROWS_PER_FILE = 40
CSV_WARM_DROPS = 3             # JIT still converges over the first ~8 calls
CALL_S = 4.0                   # nominal warm call on 4 cores: a run makes
                               # seconds // CALL_S calls, the same count
                               # every run, so every run has equal samples
BOOK_ROWS = 300
BOOK_WARM = 8                  # one per directory, all three formats
STREAM_RATE = 4.0              # workbooks per second, ~half the drain rate
STREAM_DRAIN_TIMEOUT = 60.0


def _plain(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _warehouse(wh: str, table: str) -> list[dict]:
    """A warehouse table's rows, read with pyarrow rather than the engine
    under test."""
    import pyarrow.parquet as pq

    path = os.path.join(wh, table)
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def _aggregates(rows: list[dict], key) -> dict:
    """{key(source_path): (rows, amount nulls, amount cents, price cents,
    date nulls, min date, max date, names that decoded wrongly)} — the
    TableExpect tuple plus the decode check."""
    acc: dict = {}
    for r in rows:
        a = acc.setdefault(key(_plain(r["source_path"])),
                           [0, 0, 0, 0, 0, None, None, 0])
        a[0] += 1
        if r["amount_due"] is None:
            a[1] += 1
        else:
            a[2] += round(r["amount_due"] * 100)
        a[3] += round((r["unit_price"] or 0) * 100)
        if r["event_date"] is None:
            a[4] += 1
        else:
            d = r["event_date"].isoformat()
            a[5] = min(a[5] or d, d)
            a[6] = max(a[6] or d, d)
        a[7] += r["customer_name"] not in gen.NAMES
    return {k: tuple(v) for k, v in acc.items()}


def _seen(offset) -> set[str]:
    """Workbook paths in an excel stream offset ({"seen": {path: mtime}})."""
    if isinstance(offset, str):
        offset = json.loads(offset)
    return set((offset or {}).get("seen", {}))


class IngestBase:
    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.wh = os.path.join(work, "warehouse")
        self.latencies: list[float] = []     # seconds per untraced operation
        # (traced, seconds, expected rows) per operation of a traced run
        self.ops: list[tuple[bool, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.rows_committed = 0

    # the isolated pass: each layer's public function on the previous
    # layer's persisted output, so its span is that layer's self time
    def isolated_chain(self, spark, tracer: common.Tracer, source_span: str,
                       make_source, expect_tables: list[str]) -> dict:
        from pyspark.sql import functions as F

        from light_etl_windows_container_poc_spark.operators.cleaning import (
            coerce_by_name, drop_empty_rows, sanitize_column_names)
        from light_etl_windows_container_poc_spark.operators.routing import \
            PatternRouter
        from light_etl_windows_container_poc_spark.sinks import (
            append_table, write_processing_log)

        wh = os.path.join(self.work, "isolated_wh")
        held = []
        out = {}
        try:
            with tracer.span("isolated") as chain:
                out["chain"] = chain.id
                with tracer.span(source_span):
                    src = make_source().persist()
                    held.append(src)
                    out["source_rows"] = src.count()
                with tracer.span("operators.routing"):
                    routed = PatternRouter().route(
                        src, path_col="source_path").persist()
                    held.append(routed)
                    out["routing_rows_out"] = routed.count()
                with tracer.span("operators.cleaning"):
                    named = sanitize_column_names(routed)
                    data_cols = [c for c in named.columns
                                 if c not in ("source_path", "target_table")]
                    cleaned = coerce_by_name(
                        drop_empty_rows(named, data_cols)).persist()
                    held.append(cleaned)
                    out["cleaning_rows_out"] = cleaned.count()
                with tracer.span("sinks.append"):
                    for table in expect_tables:
                        append_table(
                            cleaned.filter(F.col("target_table") == table)
                            .drop("target_table"), wh, table)
                with tracer.span("sinks.log"):
                    for table in expect_tables:
                        write_processing_log(
                            spark, wh, filename="isolated", rows_processed=0,
                            status="success", sheet_name=table)
        finally:
            for df in held:
                df.unpersist()
        return out


class BatchCsv(IngestBase):
    """Closed loop over seeded CSV drops."""

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.drops_root = os.path.join(work, "drops")
        self.drops: list[gen.Drop] = []
        self.next_index = 0
        self.pipe = None
        self.measured: dict[str, bool] = {}   # drop name -> statuses ok
        self.chains: list[dict] = []           # isolated passes, traced runs

    def _drop(self) -> gen.Drop:
        d = gen.write_csv_drop(self.drops_root, self.seed, self.next_index,
                               CSV_FILES_PER_DIR, CSV_ROWS_PER_FILE)
        self.next_index += 1
        return d

    def prepare(self) -> None:
        """Write the warm-up drops; runs before the session starts."""
        self.warm = [self._drop() for _ in range(CSV_WARM_DROPS)]

    def setup(self, spark) -> None:
        from light_etl_windows_container_poc_spark.pipeline import ETLPipeline

        self.pipe = ETLPipeline(spark, warehouse_dir=self.wh)
        for d in self.warm:
            t0 = time.perf_counter()
            self.pipe.ingest_csv_dir(d.path, gen.SCHEMA_DDL)
            print(f"warm-up drop {time.perf_counter() - t0:.2f}s", flush=True)
            self.drops.append(d)

    def measure(self, spark, seconds: float, tracer=None) -> None:
        calls = max(1, int(seconds // CALL_S))
        if tracer is None:
            for _ in range(calls):
                self._call(None)
            return
        # the isolated pass follows each pair, so it warms neither side
        kinds = common.pairs(calls)
        for i, traced in enumerate(kinds):
            self._call(tracer if traced else None)
            if i % 2:
                self.chains.append(self._csv_chain(spark, tracer))

    def _call(self, tracer) -> None:
        """One ingest call on a fresh drop; a span around it when traced."""
        traced = tracer is not None
        d = self._drop()
        self.attempted += 1
        size0 = common.dir_bytes(self.wh) if traced else 0
        ctx = tracer.span("pipeline") if traced else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx as span:
                res = self.pipe.ingest_csv_dir(d.path, gen.SCHEMA_DDL)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            print(f"ingest of {d.path} raised: {e!r}", flush=True)
            self.failed += 1
            return
        wall = time.perf_counter() - t0
        self.ops.append((traced, wall, d.rows))
        if traced:
            span.attrs["bytes_written"] = common.dir_bytes(self.wh) - size0
        else:
            self.latencies.append(wall)
        self.measured[os.path.basename(d.path)] = \
            all(r.status == "success" for r in res)
        self.drops.append(d)

    def check(self) -> None:
        """Every measured drop's rows, aggregates and log rows must match
        the generator's expectations; the unroutable directory must reach
        no table."""
        def drop_of(path: str) -> str:
            return re.search(r"/(drop\d{5})/", path).group(1)

        got: dict[tuple[str, str], tuple] = {}
        misplaced = set()
        for _, table in gen.PATTERN_TABLES:
            rows = _warehouse(self.wh, table)
            for k, agg in _aggregates(rows, drop_of).items():
                got[(k, table)] = agg
            misplaced |= {drop_of(_plain(r["source_path"])) for r in rows
                          if gen.route_table(_plain(r["source_path"]))
                          != table}
        log: dict[tuple[str, str], list] = {}
        for r in _warehouse(self.wh, "etl_processing_log"):
            key = (os.path.basename(r["filename"].rstrip("/")),
                   r["sheet_name"])
            log.setdefault(key, []).append((r["rows_processed"], r["status"]))
        for d in self.drops:
            name = os.path.basename(d.path)
            if name not in self.measured:
                continue
            ok = self.measured[name] and name not in misplaced
            for table, exp in d.tables.items():
                want = exp.as_tuple() + (0,)
                have = got.get((name, table))
                if have != want:
                    print(f"{name}/{table}: warehouse {have} != "
                          f"expected {want}", flush=True)
                    ok = False
                if log.get((name, table)) != [(exp.rows, "success")]:
                    print(f"{name}/{table}: log {log.get((name, table))}",
                          flush=True)
                    ok = False
            extra = {t for (k, t) in got if k == name} - set(d.tables)
            if extra:
                ok = False
            if ok:
                self.rows_committed += d.rows
            else:
                self.failed += 1

    def op_wall_s(self) -> float:
        return sum(self.latencies)

    def _csv_chain(self, spark, tracer) -> dict:
        from light_etl_windows_container_poc_spark.sources.files import \
            read_csv_auto

        d = self._drop()
        out = self.isolated_chain(
            spark, tracer, "sources.files",
            lambda: read_csv_auto(spark, d.path, gen.SCHEMA_DDL),
            sorted(d.tables))
        out["files"] = len(d.files)
        return out

    def isolated(self, spark, tracer) -> dict:
        """The flow's Excel arm, so its layers are measured in this run
        too: the workbook codecs, and one streaming micro-batch over a
        drop. The CSV chains ran beside the traced calls."""
        excel = StreamExcel(os.path.join(self.work, "excel"), self.seed)
        out = excel.decode(tracer)[0]
        excel.drain_once(spark)
        out["stream"] = excel
        out["chains"] = self.chains
        return out


class StreamExcel(IngestBase):
    """Open loop: workbooks dropped at STREAM_RATE into a watched drive."""

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.drive = os.path.join(work, "drive")
        self.ckpt = os.path.join(work, "checkpoint")
        self.books: list[tuple[gen.Drop, float, float]] = []  # drop, due, at
        self.next_index = 0
        self.query = None
        self.progress: list[dict] = []
        self.late_s: list[float] = []
        self.batch_s: list[float] = []
        # workbook path -> (start, end) of the micro-batch that took it
        self.file_batch: dict[str, tuple[float, float]] = {}

    def _place(self) -> tuple[gen.Drop, str]:
        d = gen.Drop("")
        path = gen.place_workbook(self.drive, self.seed, self.next_index,
                                  BOOK_ROWS, d)
        d.path = path
        self.next_index += 1
        return d, path

    def _committed_paths(self) -> set[str]:
        seen: set[str] = set()
        for p in self.query.recentProgress:
            for s in json.loads(p.json)["sources"]:
                seen.update(_seen(s["endOffset"]))
        return seen

    def _wait_committed(self, paths: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            # progress is reported once a micro-batch's sink has finished
            if set(paths) <= self._committed_paths():
                return True
            time.sleep(0.05)
        return False

    def prepare(self) -> None:
        """Place the warm-up workbooks; runs before the session starts."""
        os.makedirs(self.drive, exist_ok=True)
        self.warm = [self._place()[1] for _ in range(BOOK_WARM)]

    def setup(self, spark) -> None:
        from light_etl_windows_container_poc_spark.streaming.excel_pipeline \
            import start_excel_etl_stream

        self.query = start_excel_etl_stream(
            spark, self.drive, gen.SCHEMA_DDL, self.wh, self.ckpt,
            available_now=False)
        if not self._wait_committed(self.warm, 120):
            raise RuntimeError("warm-up workbooks were not committed")

    def measure(self, spark, seconds: float, tracer=None) -> None:
        start = time.time() + 0.2
        n = int(seconds * STREAM_RATE)
        placed: list[tuple[gen.Drop, float, float]] = []

        def generate() -> None:
            for j in range(n):
                due = start + j / STREAM_RATE
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                d, _ = self._place()
                placed.append((d, due, time.time()))

        first_batch = len(self.query.recentProgress)
        before = self._committed_paths()
        size0 = common.dir_bytes(self.wh)
        generate()
        self.attempted += len(placed)
        self._wait_committed([d.path for d, _, _ in placed],
                             STREAM_DRAIN_TIMEOUT)
        self.books.extend(placed)
        self.late_s = [at - due for _, due, at in placed]
        self.progress = [json.loads(p.json)
                         for p in self.query.recentProgress[first_batch:]]
        self._freshness(placed, before)
        self.bytes_written = common.dir_bytes(self.wh) - size0

    def _freshness(self, placed, prev: set[str]) -> None:
        """File → batch from the difference between consecutive endOffset
        seen-sets; freshness = rename → end of that micro-batch."""
        for p in self.progress:
            seen = _seen(p["sources"][0]["endOffset"])
            new = seen - prev
            prev = seen
            if not new:
                continue
            t0 = datetime.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
            self.batch_s.append(dur)
            for path in new:
                self.file_batch[path] = (t0, t0 + dur)
        for d, _due, at in placed:
            if d.path in self.file_batch:
                self.latencies.append(self.file_batch[d.path][1] - at)

    def stop_stream(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def check(self) -> None:
        """Per workbook: its rows and aggregates in its routed table, one
        'completed' log row with its row count; unrouted books nowhere."""
        got: dict[str, tuple] = {}
        where: dict[str, set] = {}
        for _, table in gen.PATTERN_TABLES:
            for k, agg in _aggregates(_warehouse(self.wh, table),
                                      lambda p: p).items():
                got[k] = agg
                where.setdefault(k, set()).add(table)
        log: dict[str, list] = {}
        for r in _warehouse(self.wh, "etl_processing_log"):
            log.setdefault(_plain(r["filename"]), []).append(
                (r["rows_processed"], r["status"]))
        for d, _, _ in self.books:
            table, rows = d.per_file[d.path]
            if table is None:
                ok = d.path not in got and d.path not in log
            else:
                want = d.tables[table].as_tuple() + (0,)
                ok = (got.get(d.path) == want and where[d.path] == {table}
                      and log.get(d.path) == [(rows, "completed")])
                if not ok:
                    print(f"{d.path}: warehouse {got.get(d.path)} "
                          f"log {log.get(d.path)} expected {want}", flush=True)
            if ok:
                self.rows_committed += rows
            else:
                self.failed += 1

    def op_wall_s(self) -> float:
        return sum(self.batch_s)

    def decode(self, tracer) -> tuple[dict, list]:
        """``parse_workbook`` on fresh workbooks of each format: the median
        ms per format, the rows, and the decoded frames."""
        from light_etl_windows_container_poc_spark.sources.files import \
            parse_workbook

        per_fmt: dict[str, list[float]] = {f: [] for f in gen.WORKBOOK_FORMATS}
        frames, rows = [], 0
        with tracer.span("sources.excel"):
            for i in range(self.next_index, self.next_index + 12):
                sub, fmt, raw, _ = gen.workbook_bytes(self.seed, i, BOOK_ROWS)
                t0 = time.perf_counter()
                pdf = parse_workbook(raw, path=f"{sub}/book{i}.{fmt}")
                per_fmt[fmt].append(time.perf_counter() - t0)
                rows += len(pdf)
                pdf = pdf.astype(object).where(pdf.notna(), None)
                pdf["source_path"] = os.path.join(self.drive, sub,
                                                  f"isolated{i}.{fmt}")
                frames.append(pdf)
        out = {f"{fmt}_ms": 1000.0 * common.median(ts)
               for fmt, ts in per_fmt.items()}
        out["excel_rows"] = rows
        return out, frames

    def drain_once(self, spark) -> None:
        """One availableNow stream over a drop of BOOK_WARM workbooks: the
        streaming layer's numbers without the open loop."""
        from light_etl_windows_container_poc_spark.streaming.excel_pipeline \
            import start_excel_etl_stream

        placed = []
        for _ in range(BOOK_WARM):
            d, _ = self._place()
            placed.append((d, time.time(), time.time()))
        size0 = common.dir_bytes(self.wh)
        q = start_excel_etl_stream(spark, self.drive, gen.SCHEMA_DDL,
                                   self.wh, self.ckpt, available_now=True)
        q.awaitTermination(120)
        self.books = placed
        self.progress = [json.loads(p.json) for p in q.recentProgress]
        self._freshness(placed, set())
        self.bytes_written = common.dir_bytes(self.wh) - size0

    def isolated(self, spark, tracer) -> dict:
        """Decode each format with parse_workbook, then run the same chain
        on the decoded rows."""
        import pandas as pd

        out, frames = self.decode(tracer)
        tables = sorted({gen.route_table(f["source_path"][0]) for f in frames}
                        - {None})
        whole = pd.concat(frames, ignore_index=True)
        ddl = gen.SCHEMA_DDL + ", source_path string"
        out["chains"] = [self.isolated_chain(
            spark, tracer, "sources.excel.frame",
            lambda: spark.createDataFrame(whole, ddl), tables)]
        return out
