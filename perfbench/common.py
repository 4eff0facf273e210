"""Shared benchmark machinery: session lifecycle, statistics, memory
sampling, spans and the Spark event-log parser."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """One SparkSession on local[cores] with every scratch path inside the
    work directory."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self, event_log: bool = False):
        from light_etl_windows_container_poc_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-wh"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            # the machine is shared: cap the heap well under the 8g default
            "spark.driver.memory": "2g",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("perfbench", master=f"local[{cores()}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the gateway JVM and wait for it: it exits when its stdin
        closes."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- statistics ----------------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, floored
    at the median when the sample is too small for any tail.
    Returns (percentile, value)."""
    n = len(values)
    p = max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def pairs(n: int) -> list[bool]:
    """Traced? per operation of a traced run: at least ``n`` pairs of one
    traced and one untraced operation, an even number of pairs, the side
    that goes first alternating, so neither side is always the warmer."""
    k = 2 * ((n + 1) // 2)
    return [i % 4 in (0, 3) for i in range(2 * k)]


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- memory --------------------------------------------------------------------

def hwm_mb(pids: list[int]) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(ln.split()[1]) for ln in fh
                          if ln.startswith("VmHWM:"))
    return total / 1024.0


def driver_pids() -> list[int]:
    """This Python process and the gateway JVM it launched."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return [os.getpid()] + ([proc.pid] if proc is not None else [])


# -- spans ---------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory spans. Entering a span tags every Spark job the calling
    thread launches with the span id (a local property the event log
    records), so jobs attribute to spans after the run."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.s = Span(len(t.spans), self.name, parent, 0.0, attrs=self.attrs)
        t.spans.append(self.s)
        t._stack.append(self.s.id)
        if t.spark is not None:
            t.spark.sparkContext.setLocalProperty(SPAN_PROP, str(self.s.id))
        self.s.start = time.time()
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.end = time.time()
        t = self.t
        t._stack.pop()
        if t.spark is not None:
            t.spark.sparkContext.setLocalProperty(
                SPAN_PROP, str(t._stack[-1]) if t._stack else None)


# -- event log -----------------------------------------------------------------

@dataclass
class Job:
    id: int
    start_ms: int
    end_ms: int = 0
    span: int | None = None
    sql_id: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    ran: bool = False


class EventLog:
    """Parsed Spark event log (uncompressed JSON lines)."""

    def __init__(self, event_dir: str):
        files = sorted(glob.glob(os.path.join(event_dir, "*")),
                       key=os.path.getmtime)
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, StageStats] = defaultdict(StageStats)
        self.sql_write: dict[int, str] = {}   # execution id -> log | append
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            span = props.get(SPAN_PROP)
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e.get("Submission Time", 0),
                span=int(span) if span not in (None, "") else None,
                sql_id=int(sql) if sql not in (None, "") else None,
                stages=[s["Stage ID"] for s in infos])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e.get("Completion Time", job.start_ms)
        elif kind == "SparkListenerStageCompleted":
            self.stages[e["Stage Info"]["Stage ID"]].ran = True
        elif kind == "SparkListenerTaskEnd":
            st = self.stages[e["Stage ID"]]
            st.tasks += 1
            m = e.get("Task Metrics") or {}
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            # a parquet append: PySpark records no Python call site for
            # writes, so the plan's insert target stands in for it
            plan = e.get("physicalPlanDescription", "")
            if "InsertIntoHadoopFsRelationCommand" in plan:
                self.sql_write[e["executionId"]] = \
                    "log" if "etl_processing_log" in plan else "append"

    def jobs_in(self, start: float, end: float) -> list[Job]:
        """Jobs submitted within [start, end] (epoch seconds)."""
        lo, hi = start * 1000.0, end * 1000.0
        return [j for j in self.jobs.values() if lo <= j.start_ms <= hi]

    def totals(self, jobs: list[Job]) -> dict:
        """jobs, stages that ran, tasks, shuffle and spill bytes, GC."""
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "gc_ms": 0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for j in jobs:
            for sid in j.stages:
                st = self.stages.get(sid)
                if st is None or not st.ran:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.tasks
                out["gc_ms"] += st.gc_ms
                out["shuffle_bytes"] += st.shuffle_bytes
                out["spill_bytes"] += st.spill_bytes
        return out


def busy_ms(jobs: list[Job], start: float, end: float) -> float:
    """Milliseconds of [start, end] covered by the union of job intervals."""
    lo, hi = start * 1000.0, end * 1000.0
    ivs = sorted((max(lo, j.start_ms), min(hi, j.end_ms or hi))
                 for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
