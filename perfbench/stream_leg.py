"""The streaming leg: ``streaming.ingest.stream_ingest(quality=True,
triples=True, kg_every=1, kg_incremental=True)`` draining pre-staged
shard files, one shard per micro-batch.

It is a closed loop with one consumer (``trigger(availableNow=True)``):
each batch starts after the previous one commits.  The shards are
consecutive slices of the seeded corpus, so a near-duplicate clone in a
later shard meets its source in the versioned dedup state of an earlier
batch.  Batch 0 bootstraps the KG snapshot with a full build; every
later batch takes the incremental (``kg.incremental``) path.

Timing comes from the query's own progress reports (``triggerExecution``
and its parts) and from a span around every snapshot rebuild, wrapped
from outside the module.  The check is untimed: the final
snapshot's nodes and edges must equal a full ``rebuild_kg_snapshot``
over a copy of the same triples store.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

N_PAGES = 80
SHARDS = 2
N_BUCKETS = 8


def stage_shards(corpus: str, dst: str) -> int:
    """Copy the first ``N_PAGES`` pages of ``corpus`` into ``SHARDS``
    consecutive shard files under ``dst``; returns the page count."""
    import pyarrow.parquet as pq

    pages = pq.read_table(os.path.join(corpus, "pages.parquet"))
    pages = pages.slice(0, min(N_PAGES, pages.num_rows))
    os.makedirs(dst)
    per = -(-pages.num_rows // SHARDS)
    for i in range(SHARDS):
        pq.write_table(pages.slice(i * per, per),
                       os.path.join(dst, f"shard-{i:05d}.parquet"))
    return pages.num_rows


class _SnapshotTimer:
    """Wraps ``rebuild_kg_snapshot_incremental``, which ``stream_ingest``
    looks up at call time, recording each call's duration; restores it
    on exit."""

    NAME = "rebuild_kg_snapshot_incremental"

    def __init__(self, tracer):
        self.tracer = tracer
        self.calls: list[float] = []

    def __enter__(self):
        from driftmind_spark.streaming import ingest

        self._orig = getattr(ingest, self.NAME)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"stream.{self.NAME}"):
                    return self._orig(*args, **kwargs)
            finally:
                self.calls.append(time.perf_counter() - t0)

        setattr(ingest, self.NAME, timed)
        return self

    def __exit__(self, *exc):
        from driftmind_spark.streaming import ingest

        setattr(ingest, self.NAME, self._orig)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, n))
               for dp, _, ns in os.walk(path) for n in ns)


def run_leg(ctx, spark, corpus: str) -> dict:
    """Stage the shards, drain them through ``stream_ingest`` from an
    empty ``out_dir`` and checkpoint, and check the final snapshot.
    Returns the leg's measurements and failed checks."""
    from pyspark.sql import functions as F

    from driftmind_spark.streaming.ingest import stream_ingest
    from driftmind_spark.streaming.stream import read_pages_stream

    src = ctx.path("stream_src")
    out_dir = ctx.path("stream_out")
    ckpt = ctx.path("stream_ckpt")
    for p in (out_dir, ckpt):
        if os.path.exists(p):
            # a re-used checkpoint resumes instead of ingesting
            raise RuntimeError(f"{p} exists; every stream starts empty")
    n_pages = stage_shards(corpus, src)
    aliases = spark.read.parquet(os.path.join(corpus, "aliases.parquet"))

    t0 = time.perf_counter()
    with _SnapshotTimer(ctx.tracer) as snaps, ctx.tracer.span("stream.run"):
        query = stream_ingest(
            read_pages_stream(spark, src, max_files_per_trigger=1),
            out_dir, ckpt, quality=True, triples=True, kg_every=1,
            kg_incremental=True, aliases=aliases, n_buckets=N_BUCKETS)
        query.awaitTermination()
    wall = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    error = query.exception()

    failures = []
    if error is not None:
        failures.append(f"stream query died: {error}")
    if len(progress) != SHARDS:
        failures.append(f"{len(progress)} batches != {SHARDS} shards")
    leg = {"failures": failures, "pages": n_pages, "wall_s": wall,
           "progress": progress, "snapshot_s": snaps.calls,
           "written": _dir_bytes(out_dir), "state_rows": 0,
           "state_bytes": 0, "dup_events": 0}
    if failures:
        return leg
    spark.sparkContext.setJobDescription("bench:stream_check")
    failures += check_snapshot(spark, out_dir, aliases, progress[-1].batchId)
    state_root = os.path.join(out_dir, "dedup_state")
    last_state = os.path.join(state_root, max(
        (d for d in os.listdir(state_root) if d.startswith("state_v=")),
        key=lambda d: int(d.split("=")[1])))
    leg["state_rows"] = spark.read.parquet(last_state).count()
    leg["state_bytes"] = _dir_bytes(last_state)
    leg["dup_events"] = spark.read.parquet(
        os.path.join(out_dir, "dup_flags")).filter(
        F.col("dup_of").isNotNull()).select("url", "warc_ts").distinct() \
        .count()
    spark.sparkContext.setJobDescription(None)
    return leg


def check_snapshot(spark, out_dir: str, aliases, version: int) -> list[str]:
    """The final incremental snapshot against a full rebuild over a copy
    of the same triples store (read-time edges view included)."""
    from driftmind_spark.streaming.ingest import (
        read_kg_snapshot,
        rebuild_kg_snapshot,
    )

    full_dir = out_dir + "_full"
    shutil.copytree(os.path.join(out_dir, "triples"),
                    os.path.join(full_dir, "triples"))
    if not rebuild_kg_snapshot(spark, full_dir, version, aliases=aliases,
                               n_buckets=N_BUCKETS):
        return ["full rebuild found no triples"]
    failures = []
    for table in ("nodes", "edges"):
        a = read_kg_snapshot(spark, out_dir, table)
        b = read_kg_snapshot(spark, full_dir, table)
        if a is None:
            failures.append(f"no committed {table} snapshot")
            continue
        cols = sorted(set(a.columns) & set(b.columns))
        a, b = a.select(*cols), b.select(*cols)
        n_a, n_b = a.count(), b.count()
        extra, missing = a.exceptAll(b).count(), b.exceptAll(a).count()
        if n_a == 0 or n_a != n_b or extra or missing:
            failures.append(f"{table}: incremental {n_a} rows, full {n_b}, "
                            f"{extra} extra, {missing} missing")
    return failures


def leg_layers(leg: dict | None, groups: dict) -> dict:
    """Per-layer figures of the streaming layers from the leg's progress
    reports, snapshot spans, state tables and event-log groups; zeros
    when the run had no streaming leg."""
    prog = leg["progress"] if leg else []

    def med(values):
        return statistics.median(values) if values else 0.0

    def dur(key):
        return med([p.durationMs.get(key, 0) / 1000 for p in prog])

    n = max(1, len(prog))
    leg = leg or {"pages": 0, "wall_s": 1.0, "snapshot_s": [],
                  "written": 0, "state_rows": 0, "state_bytes": 0,
                  "dup_events": 0}
    return {
        "stream.batch_p50_s": (dur("triggerExecution"), "s"),
        "stream.add_batch_s": (dur("addBatch"), "s"),
        "stream.query_planning_s": (dur("queryPlanning"), "s"),
        "stream.wal_commit_s": (dur("walCommit"), "s"),
        "stream.jobs_per_batch": (groups.get("stream", {}).get("jobs", 0)
                                  / n, "jobs"),
        "stream.snapshot_s": (med(leg["snapshot_s"]), "s"),
        "stream.state_rows": (leg["state_rows"], "rows"),
        "stream.state_bytes": (leg["state_bytes"], "B"),
        "stream.dup_events": (leg["dup_events"], "events"),
        "stream.docs_per_s": (leg["pages"] / leg["wall_s"], "pages/s"),
        "stream.written_bytes_per_doc": (
            leg["written"] / max(1, leg["pages"]), "B/page"),
    }
