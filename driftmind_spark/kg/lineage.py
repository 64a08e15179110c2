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
  reference's ``CreatedAt`` stamps (Models/DocumentChunk.cs:24-25).

:class:`Lineage` reads a run's rows once and answers every later
question from memory.  The files use Spark's own Parquet layout (INT96
timestamps), so Spark and pyarrow readers see one table whichever
process wrote each file.
"""

from __future__ import annotations

import io
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import _path_exists

LINEAGE_SCHEMA = (
    "run_id string, stage string, bucket int, row_count long, "
    "max_warc_ts timestamp, status string"
)


def bucket_col(url_col: str = "url", n_buckets: int = 32):
    """Deterministic url-range bucketing: pmod(xxhash64(url), n)."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = lineage_path(out_dir)
    if not _path_exists(spark, path):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


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
    """One run's committed lineage, read once (one Spark job, none when
    the out_dir is new) and kept in memory; commits update both the
    files and this copy."""

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str):
        self.spark, self.out_dir, self.run_id = spark, out_dir, run_id
        self.rows: list[tuple[str, int, int]] = []
        if _path_exists(spark, lineage_path(out_dir)):
            self.rows = [
                tuple(r) for r in read_lineage(spark, out_dir)
                .filter((F.col("run_id") == run_id)
                        & (F.col("status") == "done"))
                .select("stage", "bucket", "row_count").collect()
            ]

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

        table = pa.table({
            "run_id": pa.array([self.run_id] * len(rows), pa.string()),
            "stage": pa.array([r[0] for r in rows], pa.string()),
            "bucket": pa.array([r[1] for r in rows], pa.int32()),
            "row_count": pa.array([r[2] for r in rows], pa.int64()),
            "max_warc_ts": pa.array([r[3] for r in rows], pa.int64())
            .cast(pa.timestamp("us")),
            "status": pa.array(["done"] * len(rows), pa.string()),
        })
        buf = io.BytesIO()
        pq.write_table(table, buf, use_deprecated_int96_timestamps=True)
        path = self.spark._jvm.org.apache.hadoop.fs.Path
        directory = path(lineage_path(self.out_dir))
        fs = directory.getFileSystem(self.spark._jsc.hadoopConfiguration())
        name = f"commit-{uuid.uuid4().hex}.parquet"
        tmp = path(directory, "_" + name)
        stream = fs.create(tmp, True)
        try:
            stream.write(buf.getvalue())
        finally:
            stream.close()
        if not fs.rename(tmp, path(directory, name)):
            raise OSError(f"lineage commit rename failed under {directory}")
        self.rows += [(s, b, n) for s, b, n, _ in rows]
