"""K8 — per-partition lineage/metrics checkpointing and resumability.

Every pipeline stage commits one lineage row per url-range bucket
``(run_id, stage, bucket, row_count, max_warc_ts, status)``; a restarted
run anti-joins completed buckets and processes only the remainder
(SURVEY.md §4.3).  This replaces the reference's 120+ lines of
compensating-delete sagas (``Services/DocumentProcessingService.cs:
183-296,330-347,490-520``) with idempotent partition overwrite + commit:

- stage outputs are written with ``partitionOverwriteMode=dynamic``, so a
  bucket partition that was half-written when the job died is cleanly
  replaced on re-run (its lineage row was never committed);
- the lineage append happens strictly AFTER the stage write returns, so a
  lineage row implies its bucket's data is durable;
- ``max_warc_ts`` per bucket is the event-time watermark analog of the
  reference's ``CreatedAt`` stamps (Models/DocumentChunk.cs:24-25).

On Iceberg deployments both writes fold into one transactional commit;
the parquet layout here keeps the same protocol with directory-level
atomicity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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


def completed_buckets(
    spark: SparkSession, out_dir: str, run_id: str, stage: str
) -> DataFrame:
    """Buckets already committed for (run_id, stage) — one small column,
    always broadcastable."""
    return (
        read_lineage(spark, out_dir)
        .filter(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "done")
        )
        .select("bucket")
        .distinct()
    )


def commit_stage(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    stage: str,
    written: DataFrame,
    ts_col: str = "warc_ts",
    attempted_buckets: list[int] | None = None,
) -> None:
    """Append per-bucket lineage rows for data that is already durable.
    ``written`` must carry a ``bucket`` column.

    ``attempted_buckets`` is the set of buckets this run PROCESSED, not
    just the ones that produced rows: a processed bucket whose pages
    yielded zero output still gets a ``row_count=0`` 'done' row —
    without it the bucket is re-attempted on every resume forever, and
    its empty re-write is exactly the trigger for the empty-DataFrame
    table-wipe hazard TableIO guards against."""
    agg_ts = (
        F.max(ts_col).alias("max_warc_ts")
        if ts_col in written.columns
        else F.lit(None).cast("timestamp").alias("max_warc_ts")
    )
    counts = written.groupBy("bucket").agg(
        F.count("*").alias("row_count"), agg_ts
    )
    if attempted_buckets is not None:
        attempted = spark.createDataFrame(
            [(int(b),) for b in attempted_buckets], "bucket int"
        )
        counts = attempted.join(counts, "bucket", "left").select(
            "bucket",
            F.coalesce("row_count", F.lit(0)).alias("row_count"),
            F.col("max_warc_ts"),
        )
    rows = (
        counts.withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("status", F.lit("done"))
        .select("run_id", "stage", "bucket", "row_count", "max_warc_ts", "status")
    )
    rows.write.mode("append").parquet(lineage_path(out_dir))


def committed_row_count(
    spark: SparkSession, out_dir: str, run_id: str, stage: str
) -> int:
    """Total rows committed for (run_id, stage), summed from the lineage
    table — the tiny-metadata replacement for re-scanning a freshly
    written stage table just to report its size (at 100 TB that re-scan
    is a full extra pass per stage).  Each bucket is counted once (max
    per bucket guards a double-append)."""
    per_bucket = (
        read_lineage(spark, out_dir)
        .filter(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "done")
        )
        .groupBy("bucket")
        .agg(F.max("row_count").alias("row_count"))
    )
    row = per_bucket.agg(F.coalesce(F.sum("row_count"), F.lit(0))).collect()[0]
    return int(row[0])


def stage_marker_done(spark: SparkSession, out_dir: str, run_id: str, stage: str) -> bool:
    """For global (non-bucketed) stages: any committed lineage row."""
    return (
        read_lineage(spark, out_dir)
        .filter(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "done")
        )
        .limit(1)
        .count()
        > 0
    )


def commit_global_stage(
    spark: SparkSession, out_dir: str, run_id: str, stage: str, row_count: int
) -> None:
    rows = spark.createDataFrame(
        [(run_id, stage, -1, row_count, None, "done")], LINEAGE_SCHEMA
    )
    rows.write.mode("append").parquet(lineage_path(out_dir))
