"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_batch_csv --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Prints progress lines, then as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics. --trace 1 turns on spans, job
tags and Spark's event log, pairs traced with untraced operations, and
reports the per-layer metrics plus the tracing overhead (traced against
untraced operations). Workloads and metrics: README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_batch_csv", "ingest_stream_excel", "query_mix")


def process_start() -> float:
    """Epoch seconds at which this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh
                     if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def make_workload(name: str, work: str, seed: int):
    if name == "ingest_batch_csv":
        from ingest import BatchCsv
        return BatchCsv(work, seed)
    if name == "ingest_stream_excel":
        from ingest import StreamExcel
        return StreamExcel(work, seed)
    from querymix import QueryMix
    return QueryMix(work, seed, ROOT)


def end_to_end(w, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics of one measured loop, plus figures reported
    beside them: the latency tail with its percentile and sample count (at
    the declared run length a run has under 20 samples, where the tail
    rule falls back to the median), and peak memory (bimodal between runs
    of identical code, see README.md)."""
    import common

    lat_ms = [1000.0 * x for x in w.latencies]
    p, tail_ms = common.tail(lat_ms)
    metrics = {
        "setup_s": (setup_s, "s"),
        "p50_ms": (common.median(lat_ms), "ms"),
        "rows_per_s": (rows_per_s(w), "rows/s"),
    }
    detail = {"tail_ms": tail_ms, "tail_percentile": p,
              "samples": len(lat_ms), "peak_rss_mb": peak_mb}
    if getattr(w, "late_s", None):
        # the open loop: how far behind its schedule the generator ran
        detail["generator_late_ms"] = 1000.0 * max(w.late_s)
    return metrics, detail


def rows_per_s(w) -> float:
    """Ingest: warehouse rows committed ÷ summed operation wall (ingest
    calls, or micro-batches). query_mix: warehouse rows the mix reads per
    pass ÷ pass wall."""
    if hasattr(w, "warehouse_rows"):
        return w.warehouse_rows * len(w.pass_s) / w.op_wall_s()
    return w.rows_committed / w.op_wall_s()


def run_once(name: str, work: str, seed: int, seconds: float, t_start: float,
             traced: bool = False):
    """Set up, measure and check one workload in a fresh session. When
    ``traced`` the session logs events and the loop records spans.
    ``setup_s`` runs from process start to the end of the warm-up, less
    the time the benchmark spends writing its own inputs.
    Returns (workload, session, setup_s, peak_mb, tracer, isolated)."""
    import common

    w = make_workload(name, work, seed)
    t0 = time.time()
    w.prepare()
    gen_s = time.time() - t0
    sess = common.Session(work)
    tracer, isolated = None, {}
    t0 = time.time()
    spark = sess.start(event_log=traced)
    session_ms = 1000.0 * (time.time() - t0)
    w.setup(spark)
    setup_s = time.time() - t_start - gen_s
    print(f"[{name}] inputs in {gen_s:.2f}s, session in "
          f"{session_ms / 1000:.2f}s, set up in {setup_s:.2f}s", flush=True)
    if traced:
        tracer = common.Tracer(spark)
    w.measure(spark, seconds, tracer)
    if traced and hasattr(w, "isolated"):
        isolated = w.isolated(spark, tracer)
    if hasattr(w, "stop_stream"):
        w.stop_stream()
    peak_mb = common.hwm_mb(common.driver_pids())
    sess.stop()
    w.check()
    w.session_ms = session_ms
    return w, sess, setup_s, peak_mb, tracer, isolated


def traced_run(args, work: str, work_root: str):
    """A traced run: spans, job tags and Spark's event log on, with traced
    and untraced operations in pairs; per-layer metrics plus the tracing
    overhead between the two kinds of operation. On ingest_batch_csv a
    reconciliation off by more than layers.RECONCILE_PCT is a failure."""
    import common
    import layers

    tw, sess, _, _, tracer, isolated = run_once(
        args.workload, work, args.seed, args.seconds, time.time(),
        traced=True)
    tracer.dump(os.path.join(work_root,
                             f"spans-{args.workload}-{args.seed}.jsonl"))
    metrics = layers.per_layer(args.workload, tw, tracer,
                               common.EventLog(sess.event_dir), isolated)
    failed = tw.failed
    if args.workload == "ingest_batch_csv":
        off = metrics["pipeline.reconcile_pct"][0]
        print(f"reconciliation: self times + driver gap are {off:.1f}% off "
              f"the fused wall", flush=True)
        if off > layers.RECONCILE_PCT:
            failed += 1
    return metrics, tw.attempted, failed


def main() -> int:
    t_start = process_start()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    sys.path[:0] = [HERE, ROOT]
    try:
        import light_etl_windows_container_poc_spark  # noqa: F401
    except ImportError:
        print("perfbench: the light_etl_windows_container_poc_spark package "
              "is not importable; run from the repository root",
              file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every scratch file the run makes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    import common

    try:
        if not args.trace:
            w, _, setup_s, peak_mb, _, _ = run_once(
                args.workload, work, args.seed, args.seconds, t_start)
            metrics, detail = end_to_end(w, setup_s, peak_mb)
            print(json.dumps({"workload": args.workload, "seed": args.seed,
                              **detail}), flush=True)
            attempted, failed = w.attempted, w.failed
        else:
            metrics, attempted, failed = traced_run(args, work, work_root)
        if attempted < 1:
            raise RuntimeError("the run attempted no operation")
    finally:
        common.Session.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
