"""K8 — per-partition lineage/metrics checkpointing and resumability.

Every pipeline stage commits one lineage row per url-range bucket
``(run_id, stage, bucket, row_count, max_warc_ts, status)``; a restarted
run skips completed buckets and processes only the remainder
(SURVEY.md §4.3).  This replaces the reference's 120+ lines of
compensating-delete sagas (``Services/DocumentProcessingService.cs:
183-296,330-347,490-520``) with idempotent partition overwrite + commit:

- stage outputs are written with dynamic partition overwrite, so a
  bucket partition that was half-written when the job died is cleanly
  replaced on re-run (its lineage row was never committed);
- the row counts and ``max_warc_ts`` come from the stage write itself
  (``TableIO.write`` observes them), so nothing is read back;
- the commit happens strictly AFTER the stage write returns, so a
  lineage row implies its bucket's data is durable;
- a commit is one small Parquet file written by the driver through the
  Hadoop FS API under a hidden ``_`` name and then renamed, so a stage's
  metadata rows and its done-marker appear together or not at all, and
  no Spark job runs for bookkeeping;
- ``max_warc_ts`` per bucket is the event-time watermark analog of the
  reference's ``CreatedAt`` stamps (Models/DocumentChunk.cs:24-25);
- the bucket count is part of the out_dir's layout: it is recorded
  with the first commit into the out_dir, as a meta row ``(stage, -1,
  n_buckets, status='n_buckets')`` that rides in that commit's file,
  and a run of ANY run_id under another count raises before any Spark
  job runs — bucket ``b`` of 8 and bucket ``b`` of 16 hold different
  urls, and dynamic partition overwrite leaves the other count's bucket
  directories in place, so mixing counts duplicates rows.

:class:`Lineage` reads the out_dir's rows once, on the driver, and
answers every later question from memory.  The files use Spark's own
Parquet layout (INT96 timestamps), so Spark and pyarrow readers see one
table whichever process wrote each file.
"""

from __future__ import annotations

import io
import os
import uuid

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import hadoop_fs

LINEAGE_SCHEMA = (
    "run_id string, stage string, bucket int, row_count long, "
    "max_warc_ts timestamp, status string"
)


# The engine's one bucket count: every bucketed KG table (the batch
# stages, nodes/edges, the streaming snapshots) defaults to it.  8 fits
# a few-core box and corpora of thousands of pages: a 600-page build
# wrote 624 files for 3.1 MB at 32 and 180 files for 2.2 MB at 8 (tiny
# files carry a footer each and compress worse).  Very large corpora
# pass ``n_buckets`` explicitly.
N_BUCKETS = 8


def bucket_col(url_col: str = "url", n_buckets: int = N_BUCKETS):
    """Deterministic url-range bucketing: pmod(xxhash64(url), n)."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def bucket_metrics(buckets, ts_col: str | None) -> list[Column]:
    """Named aggregates for a bucketed stage write to observe: the row
    count ``rows_<b>`` and the max ``ts_col`` ``ts_<b>`` (as epoch
    microseconds) of every bucket in ``buckets`` — a bounded set,
    ``n_buckets`` is a config constant.  Built from SQL text: one call
    per aggregate instead of one per operator keeps the driver cost of
    64 aggregates negligible."""
    out = []
    for b in map(int, buckets):
        out.append(F.expr(f"count_if(bucket = {b}) AS rows_{b}"))
        if ts_col:
            out.append(F.expr(
                f"max(if(bucket = {b}, unix_micros(`{ts_col}`), null)) AS ts_{b}"))
    return out


class Lineage:
    """One run's committed lineage, read once on the driver (no Spark
    job) and kept in memory; commits update both the files and this
    copy.  ``n_buckets``, the count the caller builds with, is checked
    against every run of the out_dir — the tables are shared — and
    recorded with the out_dir's first commit; a lineage that predates
    the record mismatches when any run holds a bucket outside
    ``range(n_buckets)``."""

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str,
                 n_buckets: int | None = None):
        self.spark, self.out_dir, self.run_id = spark, out_dir, run_id
        self.n_buckets = n_buckets
        rows = self._read()
        self.rows: list[tuple[str, int, int]] = [
            (s, b, n) for r, s, b, n, status in rows
            if r == run_id and status == "done"]
        self.bucket_counts = {
            n for _, _, _, n, status in rows if status == "n_buckets"}
        self.max_bucket = max(
            (b for _, _, b, _, status in rows if status == "done"),
            default=-1)
        if n_buckets is not None:
            self._check_bucket_count(n_buckets)

    def _read(self) -> list[tuple[str, str, int, int, str]]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        fs, directory = hadoop_fs(self.spark, lineage_path(self.out_dir))
        if not fs.exists(directory):
            return []
        read_bytes = self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray
        rows = []
        for entry in fs.listStatus(directory):
            if entry.getPath().getName().startswith(("_", ".")):
                continue  # uncommitted temp files, _SUCCESS, checksums
            stream = fs.open(entry.getPath())
            try:
                data = read_bytes(stream)
            finally:
                stream.close()
            rows += pq.read_table(pa.BufferReader(data), columns=[
                "run_id", "stage", "bucket", "row_count", "status",
            ]).to_pylist()
        return [
            (r["run_id"], r["stage"], r["bucket"], r["row_count"],
             r["status"])
            for r in rows
        ]

    def _check_bucket_count(self, n_buckets: int) -> None:
        other = self.bucket_counts - {n_buckets}
        if other or self.max_bucket >= n_buckets:
            committed = (f"{min(other)} buckets" if other
                         else f"buckets up to {self.max_bucket}")
            raise ValueError(
                f"{self.out_dir} was committed with {committed}, run "
                f"{self.run_id!r} builds with n_buckets={n_buckets}: bucket "
                "b holds different urls under another count, so the run "
                "would duplicate rows; build with the committed count or "
                "start a fresh out_dir"
            )

    def completed_buckets(self, stage: str) -> set[int]:
        return {b for s, b, _ in self.rows if s == stage}

    def stage_marker_done(self, stage: str) -> bool:
        """For global (non-bucketed) stages: any committed row."""
        return any(s == stage for s, _, _ in self.rows)

    def committed_row_count(self, stage: str) -> int:
        """Total rows committed for ``stage``.  Each bucket is counted
        once (max per bucket guards a double commit)."""
        per_bucket: dict[int, int] = {}
        for s, b, n in self.rows:
            if s == stage:
                per_bucket[b] = max(per_bucket.get(b, 0), n)
        return sum(per_bucket.values())

    def commit_buckets(self, stage: str, buckets, observed: dict) -> None:
        """Commit every bucket this run PROCESSED, from the write's
        :func:`bucket_metrics`.  A processed bucket whose pages yielded
        zero output still gets a ``row_count=0`` row: without it the
        bucket is re-attempted on every resume forever."""
        self._commit([
            (stage, b, observed[f"rows_{b}"], observed.get(f"ts_{b}"))
            for b in sorted(buckets)
        ])

    def commit_global(self, stage: str, row_count: int,
                      meta: dict[str, int] | None = None) -> None:
        """Commit a global stage: its ``meta`` rows (stage name -> count)
        and its done-marker, last, in the same file."""
        self._commit([(s, -1, n, None) for s, n in (meta or {}).items()]
                     + [(stage, -1, row_count, None)])

    def _commit(self, rows: list[tuple]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        status = ["done"] * len(rows)
        if self.n_buckets is not None and not self.bucket_counts and rows:
            rows = [(rows[0][0], -1, self.n_buckets, None)] + rows
            status = ["n_buckets"] + status
        table = pa.table({
            "run_id": pa.array([self.run_id] * len(rows), pa.string()),
            "stage": pa.array([r[0] for r in rows], pa.string()),
            "bucket": pa.array([r[1] for r in rows], pa.int32()),
            "row_count": pa.array([r[2] for r in rows], pa.int64()),
            "max_warc_ts": pa.array([r[3] for r in rows], pa.int64())
            .cast(pa.timestamp("us")),
            "status": pa.array(status, pa.string()),
        })
        buf = io.BytesIO()
        pq.write_table(table, buf, use_deprecated_int96_timestamps=True)
        fs, directory = hadoop_fs(self.spark, lineage_path(self.out_dir))
        path = self.spark._jvm.org.apache.hadoop.fs.Path
        name = f"commit-{uuid.uuid4().hex}.parquet"
        tmp = path(directory, "_" + name)
        stream = fs.create(tmp, True)
        try:
            stream.write(buf.getvalue())
        finally:
            stream.close()
        if not fs.rename(tmp, path(directory, name)):
            raise OSError(f"lineage commit rename failed under {directory}")
        for (s, b, n, _), st in zip(rows, status):
            if st == "done":
                self.rows.append((s, b, n))
            else:
                self.bucket_counts.add(n)

