"""The ONE state maintainer every streamed sketch shares: a mergeable
summary is a ``Summary(schema, build, merge)`` spec — a per-batch build
step and an associative merge over landed partials — and this module
owns everything else: landing, streaming, reading and compacting.

State shape: each micro-batch lands ``build(batch, *params)`` under
``state_dir/batch_tag=N/`` with OVERWRITE — replaying a crashed batch
rewrites its partition byte-for-byte instead of double-counting (the
per-batch-directory replay contract of streaming/incremental_dedup.py).
Readers merge all live partials at read time; ``compact`` folds history
into one partial. Each sketch module states the merge-exactness theorem
(or, for Misra-Gries, the guarantee that survives any merge tree) that
makes the read-time merge and the compacted form interchangeable.

Compaction crash-safety (generation manifest): the folded summary lands
under ``batch_tag=compacted_G`` and ``_compact_manifest.json`` is the
single atomically-replaced publication point — it names the ACTIVE
compacted generation and the subsumed-batch WATERMARK (every batch id
<= W is folded into it; ids are monotonic, so the manifest stays O(1)
forever). Readers take the active generation plus every batch tag above
the watermark and ignore unpublished compacted dirs, so every crash
window is safe: the old partials are never deleted before the manifest
that replaces them is live, and the double-count window (new summary
visible alongside the partials it folded) is closed by the watermark
rather than by deletion ordering. A replayed subsumed batch re-lands
its partial but stays excluded — its mass is already in the active
summary.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


@dataclass(frozen=True)
class Summary:
    """A mergeable summary: ``schema`` types the landed partials (and the
    empty read), ``build(batch, *params)`` reduces one micro-batch to its
    partial, and ``merge(spark, state_dir, live_dirs, *params)`` folds a
    snapshot of partial dir names into one partial of the same shape."""

    schema: str
    build: Callable[..., DataFrame]
    merge: Callable[..., DataFrame]


def partials(spark: SparkSession, state_dir: str, dirs: list[str],
             schema: str) -> DataFrame:
    """The union of the named partial dirs, typed by ``schema``."""
    return spark.read.schema(schema).parquet(
        *[os.path.join(state_dir, d) for d in dirs])


def batch_handler(spec: Summary, state_dir: str,
                  *params) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: land the micro-batch's partial under its
    batch_tag (overwrite = replay-idempotent)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        (spec.build(batch, *params).write.mode("overwrite")
         .parquet(os.path.join(state_dir, f"batch_tag={batch_id}")))

    return handle


def start(spec: Summary, stream: DataFrame, state_dir: str,
          checkpoint_dir: str, *params) -> StreamingQuery:
    """Maintain ``spec`` over everything ``stream`` has available now."""
    return (stream.writeStream
            .foreachBatch(batch_handler(spec, state_dir, *params))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read(spec: Summary, spark: SparkSession, state_dir: str,
         *params) -> DataFrame:
    """The merged summary over everything landed so far; the
    schema-typed empty frame when nothing is live."""
    dirs = live_partial_dirs(state_dir)
    if not dirs:
        return spark.createDataFrame([], spec.schema)
    return spec.merge(spark, state_dir, dirs, *params)


_MANIFEST = "_compact_manifest.json"


def _read_manifest(state_dir: str) -> dict:
    import json

    path = os.path.join(state_dir, _MANIFEST)
    if not os.path.exists(path):
        return {"active": None, "max_subsumed_batch": -1}
    with open(path) as f:
        return json.load(f)


def live_partial_dirs(state_dir: str) -> list[str]:
    """The partial directories a reader should merge: the manifest's
    active compacted generation (if any) plus every batch tag ABOVE the
    subsumed watermark. Structured Streaming batch ids are monotonic,
    so "every id <= W is folded into the active summary" is exact and
    keeps the manifest O(1) across any number of compactions — a
    subsumed-id LIST would grow with ingest history and a later
    generation's list would have to carry every earlier one forward.
    Unpublished compacted dirs (renamed in but crashed before the
    manifest swap) are ignored — their mass is still fully present in
    the partials they would have replaced. A state dir that does not
    exist yet (a stream that never landed a batch) has no live
    partials."""
    if not os.path.isdir(state_dir):
        return []
    man = _read_manifest(state_dir)
    watermark = man["max_subsumed_batch"]
    out = []
    for d in sorted(os.listdir(state_dir)):
        if not d.startswith("batch_tag="):
            continue
        tag = d.split("=", 1)[1]
        if tag.startswith("compacted"):
            if d == man["active"]:
                out.append(d)
        elif int(tag) > watermark:
            out.append(d)
    return out


def compact(spec: Summary, spark: SparkSession, state_dir: str,
            *params) -> None:
    """Fold the live partials into one generation with ``spec.merge``,
    published through the generation manifest. The merge is computed
    from the listed SNAPSHOT of live dir names, never a re-listing — a
    batch landing while the merge runs must stay out of this generation
    or it would be counted both in the summary and as a live partial.

    Crash-safe ordering — no step deletes data that is not yet
    replaced by a PUBLISHED equivalent:

    1. merge the live partials into ``_compact_staging`` (invisible);
    2. rename staging to ``batch_tag=compacted_{G+1}`` — still ignored
       by readers because the manifest does not name it;
    3. atomically replace the manifest (tmp + ``os.replace``) naming
       the new generation active and raising the subsumed-batch
       watermark over every folded id — the single publication point;
    4. only then delete the subsumed dirs (storage sweep; readers
       already skip them). The sweep removes every numeric batch_tag
       at or below the NEW watermark — not just the snapshot — so a
       crash-replayed batch that rewrote an already-subsumed tag is
       reclaimed too.

    A crash at any point leaves a state whose read-time merge equals
    the pre- or post-compaction summary exactly; re-running the
    compactor sweeps any orphan staging/unpublished dirs."""
    import json
    import shutil

    live = live_partial_dirs(state_dir)
    if not live:
        return
    man = _read_manifest(state_dir)
    gen = 0
    if man["active"]:
        gen = int(man["active"].rsplit("_", 1)[1])
    new_tag = f"batch_tag=compacted_{gen + 1}"

    merged = spec.merge(spark, state_dir, live, *params)
    staged = os.path.join(state_dir, "_compact_staging")
    merged.write.mode("overwrite").parquet(staged)

    # orphan from a crashed previous attempt at this generation
    shutil.rmtree(os.path.join(state_dir, new_tag), ignore_errors=True)
    os.rename(staged, os.path.join(state_dir, new_tag))

    batch_ids = [int(d.split("=", 1)[1]) for d in live
                 if not d.split("=", 1)[1].startswith("compacted")]
    watermark = max([man["max_subsumed_batch"], *batch_ids])
    tmp = os.path.join(state_dir, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"active": new_tag, "max_subsumed_batch": watermark}, f)
    os.replace(tmp, os.path.join(state_dir, _MANIFEST))

    old_active = man["active"]
    for d in sorted(os.listdir(state_dir)):
        if not d.startswith("batch_tag="):
            continue
        tag = d.split("=", 1)[1]
        if tag.startswith("compacted"):
            if d == old_active:  # replaced generation
                shutil.rmtree(os.path.join(state_dir, d),
                              ignore_errors=True)
        elif int(tag) <= watermark:  # subsumed + crash-replay orphans
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
