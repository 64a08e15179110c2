"""Table IO abstraction (SURVEY.md §7.4.5): one writer/reader API shared
by the partitioned-Parquet backend (sandbox) and an Iceberg backend
(activated when an Iceberg catalog is configured — no runtime jar ships
in this container).

The pipeline's durability protocol (dynamic partition overwrite + lineage
commit, kg/lineage.py) is backend-independent: on Iceberg both writes
fold into one transactional commit; on Parquet the directory layout plus
commit-after-write ordering provides the same resume semantics.

Schema evolution (the reference's in-place index migration,
``Services/SearchService.cs:114-208`` / S12): additive columns are free —
Parquet via ``mergeSchema`` reads, Iceberg via ``ALTER TABLE ADD
COLUMNS``.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on this session."""
    try:
        conf = spark.conf
        for key in ("spark.sql.catalog.spark_catalog", "spark.sql.catalog.iceberg"):
            try:
                if "iceberg" in (conf.get(key) or "").lower():
                    return True
            except Exception:
                continue
    except Exception:
        pass
    return False


def hadoop_fs(spark: SparkSession, target: str):
    """``(fs, path)``: the Hadoop filesystem and path of ``target``.  The
    package's one copy of the py4j boilerplate; going through the Hadoop
    FS API works for local, HDFS and object-store paths alike, where
    ``os.path`` would only see the local filesystem."""
    path = spark._jvm.org.apache.hadoop.fs.Path(target)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


@dataclass
class TableIO:
    """``backend='parquet'`` writes path-addressed partitioned Parquet;
    ``backend='iceberg'`` writes name-addressed tables via ``writeTo``.
    ``auto`` picks iceberg when a catalog is configured."""

    spark: SparkSession
    backend: str = "auto"

    def _resolved(self) -> str:
        if self.backend != "auto":
            return self.backend
        return "iceberg" if iceberg_available(self.spark) else "parquet"

    def write(
        self,
        df: DataFrame,
        target: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
        pre_clustered: bool = False,
        observe: Sequence[Column] = (),
    ) -> dict:
        """Write ``df`` and return what the write observed:
        ``rows`` (the row count) plus one value per named aggregate in
        ``observe``, all from a ``DataFrame.observe`` on the write itself,
        so nothing is read back.

        ``mode='overwrite_partitions'`` replaces only the partitions the
        rows land in (dynamic partition overwrite, set on the write, not
        taken from the session).  A zero-row result is settled after the
        write from the observed count: a new target, or a full
        ``overwrite``, gets an empty file carrying the schema (a
        partitioned write of zero rows writes no file at all); an
        existing target is left as it was, because replacing zero
        partitions changes nothing.

        ``pre_clustered=True``: the caller guarantees rows are already
        physically grouped by the partition key (e.g. a narrow map over a
        table partitioned by the same key), so the defensive
        ``repartition`` shuffle is skipped — each task then holds rows of
        only the bucket(s) its input split came from and still writes one
        file per (task, bucket).  Wrongly claiming it does not corrupt
        data, it only fans out files (tasks × partitions).

        The Iceberg backend returns no metrics (its commit snapshot
        records them)."""
        backend = self._resolved()
        if backend == "iceberg":
            writer = df.writeTo(target)
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            if mode == "overwrite":
                writer.createOrReplace()
            elif mode == "overwrite_partitions":
                writer.overwritePartitions()
            else:
                writer.append()
            return {}
        existed = False
        if partition_by:
            fs, path = hadoop_fs(self.spark, target)
            existed = bool(fs.exists(path))
        if partition_by and not pre_clustered:
            # cluster rows by the partition key first: otherwise every
            # task fans out across every partition directory and the job
            # commits tasks x partitions tiny files (measured 230s -> 36s
            # on a 2.8M-row 64-bucket edges write).  Skipped when the
            # caller attests the rows already arrive clustered (chunks/
            # triples stages map 1:1 over the bucket-partitioned
            # extracted table — a parquet split never crosses partition
            # directories, so each task already holds one bucket and the
            # repartition would shuffle the whole stage output for
            # nothing).
            df = df.repartition(*[df[c] for c in partition_by])
        # observed after the repartition, i.e. in the write's result
        # stage, where each task's metric update is applied exactly once
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"), *observe)
        w = observed.write.mode(
            "overwrite" if mode == "overwrite_partitions" else mode
        )
        if mode == "overwrite_partitions":
            w = w.option("partitionOverwriteMode", "dynamic")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)
        metrics = obs.get
        if partition_by and metrics["rows"] == 0 and (
            mode == "overwrite" or not existed
        ):
            self.spark.createDataFrame([], df.schema).write.mode(
                "overwrite"
            ).parquet(target)
        return metrics

    def read(self, target: str, merge_schema: bool = False) -> DataFrame:
        if self._resolved() == "iceberg":
            return self.spark.table(target)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(target)

    def add_columns_read(self, target: str) -> DataFrame:
        """S12 additive schema evolution: union the schemas of all files
        (old rows get NULLs for new columns)."""
        return self.read(target, merge_schema=True)
