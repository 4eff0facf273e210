"""Per-layer metrics of a traced run.

Layers carry the package's module names. Every workload reports every
layer; a layer the workload never calls reads 0, which is the prediction
"should not move" made checkable. Which end-to-end metric each layer
should move, and where it should not, is in README.md.
"""

from __future__ import annotations

import common
from querymix import GROUPS

GROUP_METRICS = ("ms", "plan_ms", "jobs", "stages", "tasks",
                 "shuffle_bytes", "spill_bytes", "gc_ms")
# the ingest layers' self times; with pipeline.driver_gap_ms they must
# add up to pipeline.wall_ms within RECONCILE_PCT, or the run fails
SELF_TIMES = ("sources.files.ms", "operators.routing.ms",
              "operators.cleaning.ms", "sinks.append_ms", "sinks.log_ms")
RECONCILE_PCT = 10.0

# name -> (unit, better); the order BENCHMARK.json lists them in
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "session.start_ms": ("ms", "lower"),
    "sources.files.ms": ("ms", "lower"),
    "sources.files.files": ("count", "higher"),
    "sources.files.rows": ("count", "higher"),
    "sources.files.jobs": ("count", "lower"),
    "sources.files.tasks": ("count", "lower"),
    "sources.excel.xlsx_ms": ("ms", "lower"),
    "sources.excel.xls_ms": ("ms", "lower"),
    "sources.excel.xlsb_ms": ("ms", "lower"),
    "sources.excel.rows": ("count", "higher"),
    "operators.routing.ms": ("ms", "lower"),
    "operators.routing.rows_in": ("count", "higher"),
    "operators.routing.rows_out": ("count", "higher"),
    "operators.cleaning.ms": ("ms", "lower"),
    "operators.cleaning.rows_in": ("count", "higher"),
    "operators.cleaning.rows_out": ("count", "higher"),
    "sinks.append_ms": ("ms", "lower"),
    "sinks.append_jobs": ("count", "lower"),
    "sinks.log_ms": ("ms", "lower"),
    "sinks.log_jobs": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "pipeline.wall_ms": ("ms", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.stages": ("count", "lower"),
    "pipeline.tasks": ("count", "lower"),
    "pipeline.shuffle_bytes": ("bytes", "lower"),
    "pipeline.gc_ms": ("ms", "lower"),
    "pipeline.driver_gap_ms": ("ms", "lower"),
    "pipeline.reconcile_pct": ("%", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wait_ms": ("ms", "lower"),
    "streaming.files_per_batch": ("count", "higher"),
    "streaming.rows_per_batch": ("count", "higher"),
    **{f"{g}.{m}": ("ms" if m.endswith("ms") else
                    "bytes" if m.endswith("bytes") else "count", "lower")
       for g in GROUPS for m in GROUP_METRICS},
    "trace.p50_overhead_pct": ("%", "lower"),
    "trace.rows_per_s_overhead_pct": ("%", "lower"),
}


def overhead(ops: list[tuple[bool, float, float]]) -> dict:
    """Traced against untraced operations of one traced run: the rise in
    median latency and the fall in rows per second, in percent. Both 0
    when the workload makes no pairs (the open-loop stream)."""
    t = [(s, r) for traced, s, r in ops if traced]
    u = [(s, r) for traced, s, r in ops if not traced]
    if not t or not u:
        return {"trace.p50_overhead_pct": 0.0,
                "trace.rows_per_s_overhead_pct": 0.0}

    def rate(xs):
        return sum(r for _, r in xs) / sum(s for s, _ in xs)

    return {
        "trace.p50_overhead_pct": 100.0 * (
            common.median([s for s, _ in t])
            / common.median([s for s, _ in u]) - 1.0),
        "trace.rows_per_s_overhead_pct": 100.0 * (1.0 - rate(t) / rate(u)),
    }


def _is_sink(ev: common.EventLog, job: common.Job) -> str | None:
    """'log' or 'append' for a job that inserts into the warehouse."""
    return ev.sql_write.get(job.sql_id)


def _span_jobs(ev, span):
    return [j for j in ev.jobs.values() if j.span == span.id]


def per_layer(workload: str, traced, tracer: common.Tracer,
              ev: common.EventLog, isolated: dict) -> dict:
    out = {name: 0.0 for name in LAYER_METRICS}
    out["session.start_ms"] = traced.session_ms
    if workload == "query_mix":
        _query_groups(out, traced, tracer, ev)
    else:
        _isolated(out, tracer, ev, isolated, workload)
        if workload == "ingest_batch_csv":
            _fused_calls(out, tracer, ev)
            _stream(out, isolated["stream"], ev, sinks=False)
        else:
            _stream(out, traced, ev, sinks=True)
    out.update(overhead(getattr(traced, "ops", [])))
    return {k: (float(v), LAYER_METRICS[k][0]) for k, v in out.items()}


def _isolated(out, tracer, ev, iso, workload) -> None:
    """Self times from the isolated passes, the median over passes. A
    layer's self time is the part of its isolated span that its Spark jobs
    cover; its driver-side time, which the pass's persist-and-count
    inflates, is counted once, in the fused call's driver gap."""
    chains = iso["chains"]

    def layer(chain, name):
        return [s for s in tracer.spans
                if s.parent == chain["chain"] and s.name == name]

    def med(fn):
        return common.median([fn(c) for c in chains])

    def ms(name):
        return med(lambda c: sum(
            common.busy_ms(_span_jobs(ev, s), s.start, s.end)
            for s in layer(c, name)))

    def jobs(c, name):
        return [j for s in layer(c, name) for j in _span_jobs(ev, s)]

    first = chains[0]
    if workload == "ingest_batch_csv":
        out["sources.files.ms"] = ms("sources.files")
        out["sources.files.files"] = first["files"]
        out["sources.files.rows"] = first["source_rows"]
        out["sources.files.jobs"] = med(
            lambda c: len(jobs(c, "sources.files")))
        out["sources.files.tasks"] = med(
            lambda c: ev.totals(jobs(c, "sources.files"))["tasks"])
    for fmt in ("xlsx", "xls", "xlsb"):
        out[f"sources.excel.{fmt}_ms"] = iso[f"{fmt}_ms"]
    out["sources.excel.rows"] = iso["excel_rows"]
    out["operators.routing.ms"] = ms("operators.routing")
    out["operators.routing.rows_in"] = first["source_rows"]
    out["operators.routing.rows_out"] = first["routing_rows_out"]
    out["operators.cleaning.ms"] = ms("operators.cleaning")
    out["operators.cleaning.rows_in"] = first["routing_rows_out"]
    out["operators.cleaning.rows_out"] = first["cleaning_rows_out"]
    out["sinks.append_ms"] = ms("sinks.append")
    out["sinks.log_ms"] = ms("sinks.log")


def _per_op(values: list[dict], key: str) -> float:
    return common.median([v[key] for v in values]) if values else 0.0


def _fused_calls(out, tracer, ev) -> None:
    """Each traced ingest_csv_dir call: its jobs split into pipeline and
    sinks work, and its wall minus the union of its job intervals. Then
    the reconciliation of the reported figures: the layers' self times
    plus the driver gap against the fused wall."""
    calls = []
    for span in tracer.by_name("pipeline"):
        jobs = _span_jobs(ev, span)
        kinds = [_is_sink(ev, j) for j in jobs]
        t = ev.totals([j for j, k in zip(jobs, kinds) if k is None])
        gap = span.ms - common.busy_ms(jobs, span.start, span.end)
        calls.append({
            "wall": span.ms,
            "gap": gap,
            "append_jobs": kinds.count("append"),
            "log_jobs": kinds.count("log"),
            "bytes_written": span.attrs.get("bytes_written", 0),
            **t})
    out["sinks.append_jobs"] = _per_op(calls, "append_jobs")
    out["sinks.log_jobs"] = _per_op(calls, "log_jobs")
    out["sinks.bytes_written"] = _per_op(calls, "bytes_written")
    out["pipeline.wall_ms"] = _per_op(calls, "wall")
    for key in ("jobs", "stages", "tasks", "shuffle_bytes", "gc_ms"):
        out[f"pipeline.{key}"] = _per_op(calls, key)
    out["pipeline.driver_gap_ms"] = _per_op(calls, "gap")
    wall = out["pipeline.wall_ms"]
    if wall:
        out["pipeline.reconcile_pct"] = 100.0 * abs(
            sum(out[k] for k in SELF_TIMES)
            + out["pipeline.driver_gap_ms"] - wall) / wall


def _stream(out, traced, ev, sinks: bool) -> None:
    """Micro-batch numbers from recentProgress and, with ``sinks``, sink
    jobs from the event log over the measured batches."""
    batches = [p for p in traced.progress if p.get("numInputRows", 0) > 0]
    spans = sorted(set(traced.file_batch.values()))
    if not batches or not spans:
        return
    out["streaming.batches"] = len(batches)
    out["streaming.batch_ms"] = common.median(
        [p["durationMs"].get("triggerExecution", 0) for p in batches])
    out["streaming.add_batch_ms"] = common.median(
        [p["durationMs"].get("addBatch", 0) for p in batches])
    out["streaming.rows_per_batch"] = common.median(
        [p["numInputRows"] for p in batches])
    out["streaming.files_per_batch"] = len(traced.books) / len(batches)
    # a workbook waits from its rename until the micro-batch that took it
    out["streaming.wait_ms"] = common.median(
        [1000.0 * (traced.file_batch[d.path][0] - at)
         for d, _due, at in traced.books if d.path in traced.file_batch])
    if not sinks:
        return
    kinds = [_is_sink(ev, j)
             for j in ev.jobs_in(spans[0][0], max(e for _, e in spans))]
    out["sinks.append_jobs"] = kinds.count("append") / len(batches)
    out["sinks.log_jobs"] = kinds.count("log") / len(batches)
    out["sinks.bytes_written"] = traced.bytes_written / len(batches)


def _query_groups(out, traced, tracer, ev) -> None:
    passes = max(1, traced.traced_passes)
    for group in GROUPS:
        spans = tracer.by_name(group)
        jobs = [j for s in spans for j in _span_jobs(ev, s)]
        t = ev.totals(jobs)
        out[f"{group}.ms"] = sum(s.ms for s in spans) / passes
        out[f"{group}.plan_ms"] = sum(s.attrs.get("plan_ms", 0.0)
                                      for s in spans) / passes
        for key in ("jobs", "stages", "tasks", "shuffle_bytes",
                    "spill_bytes", "gc_ms"):
            out[f"{group}.{key}"] = t[key] / passes
