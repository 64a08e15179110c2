"""S13/S14 — runnable one-shot data migrations over a chunks table
(Spark ports of ``Services/DataMigrationService.cs:28-227``), not just
the query shapes: each ``run_*`` reads the table, applies the
transformation, rewrites it through TableIO, commits a lineage marker,
and is idempotent — a re-run (same run_id) is a no-op, and re-applying
the transformation to migrated data changes nothing.

The reference loops documents through the search index one at a time
(GetAllDocumentsAsync page -> mutate -> IndexDocumentChunksAsync); here
each migration is ONE declarative pass: a window/groupBy per document
key instead of 200 lines of per-document mutation, executed at whatever
parallelism the cluster has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import mime_from_name
from ..kg import lineage as ln
from ..sources.tables import TableIO

# the chunk-0 metadata convention columns (Models/DocumentChunk.cs)
META_COLS = ("original_file_name", "content_type", "file_size_bytes")


def _first_chunk_rank(doc_col: str) -> F.Column:
    return F.row_number().over(
        Window.partitionBy(doc_col).orderBy(F.asc("chunk_index"))
    )


def migrate_metadata_to_chunk0(
    chunks: DataFrame,
    doc_col: str = "url",
    meta_cols: tuple[str, ...] = META_COLS,
) -> DataFrame:
    """S13 (MigrateToOptimizedMetadataStorageAsync, DataMigrationService
    .cs:28-160): per document, the FIRST chunk (lowest index) carries all
    metadata — promoted from the first metadata-bearing chunk when the
    first chunk's original_file_name is empty and the document has more
    than one chunk — and every later chunk's metadata columns are
    nulled."""
    has_meta = F.lit(False)
    for c in meta_cols:
        has_meta = has_meta | (F.col(c).isNotNull() & (F.col(c).cast("string") != ""))
    w = Window.partitionBy(doc_col)
    donor = F.min(  # first metadata-bearing chunk, by chunk index
        F.when(has_meta, F.struct("chunk_index", *meta_cols))
    ).over(w)
    n_chunks = F.count("*").over(w)
    ranked = chunks.withColumn("_rank", _first_chunk_rank(doc_col))
    first_name = F.col(meta_cols[0])
    promote = (
        (F.col("_rank") == 1)
        & (first_name.isNull() | (first_name.cast("string") == ""))
        & (n_chunks > 1)
        & donor.isNotNull()
    )
    # ONE simultaneous projection: sequential withColumn calls would make
    # later columns' promote-condition read the already-promoted filename
    dtypes = dict(chunks.dtypes)
    return ranked.withColumns(
        {
            c: F.when(F.col("_rank") > 1, F.lit(None).cast(dtypes[c]))
            .when(promote, donor[c])
            .otherwise(F.col(c))
            for c in meta_cols
        }
    ).drop("_rank")


def fix_content_types(
    chunks: DataFrame,
    doc_col: str = "url",
) -> DataFrame:
    """S14 (FixContentTypesAsync, DataMigrationService.cs:165-227): for
    each document's first chunk with a filename, set content_type from
    the extension map (falling back to the existing value, then
    application/octet-stream), case-insensitively skipping already-
    correct rows (a no-op rewrite, same value)."""
    correct = F.coalesce(
        F.when(
            mime_from_name(F.col("original_file_name"))
            != "application/octet-stream",
            mime_from_name(F.col("original_file_name")),
        ),
        F.col("content_type"),
        F.lit("application/octet-stream"),
    )
    ranked = chunks.withColumn("_rank", _first_chunk_rank(doc_col))
    applies = (
        (F.col("_rank") == 1)
        & F.col("original_file_name").isNotNull()
        & (F.col("original_file_name") != "")
    )
    return ranked.withColumn(
        "content_type", F.when(applies, correct).otherwise(F.col("content_type"))
    ).drop("_rank")


def _run_migration(
    spark: SparkSession,
    table_path: str,
    out_path: str,
    run_id: str,
    stage: str,
    transform,
) -> dict:
    """Shared job shell: skip when the lineage marker exists (idempotent
    re-run), else read -> transform -> write -> commit marker, with the
    row count the write observed."""
    lineage = ln.Lineage(spark, out_path, run_id)
    if lineage.stage_marker_done(stage):
        return {"stage": stage, "skipped": True,
                "rows": lineage.committed_row_count(stage)}
    io = TableIO(spark)
    migrated = transform(io.read(table_path))
    n = io.write(migrated, f"{out_path}/{stage}")["rows"]
    lineage.commit_global(stage, n)
    return {"stage": stage, "skipped": False, "rows": n}


def run_metadata_migration(
    spark: SparkSession, table_path: str, out_path: str, run_id: str = "mig-1"
) -> dict:
    return _run_migration(
        spark, table_path, out_path, run_id, "s13_metadata_chunk0",
        migrate_metadata_to_chunk0,
    )


def run_content_type_fix(
    spark: SparkSession, table_path: str, out_path: str, run_id: str = "mig-1"
) -> dict:
    return _run_migration(
        spark, table_path, out_path, run_id, "s14_content_type",
        fix_content_types,
    )
