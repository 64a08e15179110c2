"""Table IO abstraction: parquet backend write/read, partition overwrite,
empty-write schema retention, additive schema evolution (S12)."""

import pytest
from pyspark.sql import functions as F

from driftmind_spark.sources.tables import TableIO, iceberg_available


@pytest.fixture()
def io(spark):
    return TableIO(spark, backend="parquet")


def test_auto_backend_is_parquet_in_sandbox(spark):
    assert not iceberg_available(spark)
    assert TableIO(spark, backend="auto")._resolved() == "parquet"


def test_write_read_partitioned(spark, io, tmp_path):
    df = spark.range(100).withColumn("bucket", (F.col("id") % 4).cast("int"))
    target = str(tmp_path / "t1")
    io.write(df, target, partition_by=("bucket",))
    back = io.read(target)
    assert back.count() == 100
    assert set(back.columns) == {"id", "bucket"}


def test_overwrite_partitions_only_touched(spark, io, tmp_path):
    target = str(tmp_path / "t2")
    df = spark.range(40).withColumn("bucket", (F.col("id") % 4).cast("int"))
    io.write(df, target, partition_by=("bucket",))
    # overwrite only bucket 0 with new values
    patch = (
        spark.range(1000, 1005)
        .withColumn("bucket", F.lit(0).cast("int"))
    )
    io.write(patch, target, partition_by=("bucket",), mode="overwrite_partitions")
    back = io.read(target)
    assert back.filter("bucket = 0").count() == 5
    assert back.filter("bucket != 0").count() == 30


def test_empty_write_keeps_schema(spark, io, tmp_path):
    target = str(tmp_path / "t3")
    df = spark.range(10).filter("id < 0").withColumn(
        "bucket", (F.col("id") % 4).cast("int")
    )
    io.write(df, target, partition_by=("bucket",))
    back = io.read(target)
    assert back.count() == 0
    assert set(back.columns) == {"id", "bucket"}


def test_empty_overwrite_partitions_never_wipes_existing(spark, io, tmp_path):
    """Regression (r1 advice): an EMPTY DataFrame under
    overwrite_partitions used to fall back to a full unpartitioned
    overwrite, truncating every previously committed partition — the
    resume-with-empty-todo-bucket data-loss path."""
    target = str(tmp_path / "t5")
    df = spark.range(40).withColumn("bucket", (F.col("id") % 4).cast("int"))
    io.write(df, target, partition_by=("bucket",))
    empty = df.filter("id < 0")
    io.write(empty, target, partition_by=("bucket",), mode="overwrite_partitions")
    back = io.read(target)
    assert back.count() == 40  # nothing wiped
    # append of an empty DF on an existing table is likewise a no-op
    io.write(empty, target, partition_by=("bucket",), mode="append")
    assert io.read(target).count() == 40


def test_zero_output_bucket_committed_once(spark, tmp_path):
    """Regression (r1 advice): a processed bucket with zero output rows
    must still get a row_count=0 lineage row, or it is re-attempted on
    every resume forever."""
    from driftmind_spark.kg import lineage as ln

    out_dir = str(tmp_path / "lin")
    written = spark.createDataFrame(
        [(0, "u1"), (0, "u2"), (2, "u3")], "bucket int, url string"
    )
    # the counts a stage write observes over the buckets it attempted
    observed = written.agg(
        *ln.bucket_metrics([0, 1, 2], None)).first().asDict()
    ln.Lineage(spark, out_dir, "r").commit_buckets("chunks", [0, 1, 2],
                                                   observed)
    lineage = ln.Lineage(spark, out_dir, "r")  # re-read from the files
    done = lineage.completed_buckets("chunks")
    assert done == {0, 1, 2}  # bucket 1 committed with zero rows
    rows = {
        r["bucket"]: r["row_count"]
        for r in spark.read.schema(ln.LINEAGE_SCHEMA)
        .parquet(ln.lineage_path(out_dir)).collect()
    }
    assert rows == {0: 2, 1: 0, 2: 1}
    assert lineage.committed_row_count("chunks") == 3


def test_overwrite_partitions_keeps_buckets_under_static_session(
        spark, io, tmp_path):
    """overwrite_partitions must replace only the touched buckets even
    when the session's partitionOverwriteMode is Spark's default
    'static' (a caller's own session), for a non-empty and for an empty
    write alike."""
    target = str(tmp_path / "t6")
    df = spark.range(40).withColumn("bucket", (F.col("id") % 4).cast("int"))
    io.write(df, target, partition_by=("bucket",))
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        patch = spark.range(1000, 1005).withColumn("bucket", F.lit(0))
        got = io.write(patch, target, partition_by=("bucket",),
                       mode="overwrite_partitions")
        assert got["rows"] == 5
        back = io.read(target)
        assert back.filter("bucket = 0").count() == 5
        assert back.filter("bucket != 0").count() == 30
        got = io.write(df.filter("id < 0"), target, partition_by=("bucket",),
                       mode="overwrite_partitions")
        assert got["rows"] == 0
        assert io.read(target).count() == 35
    finally:
        spark.conf.set(key, before)


def test_write_observes_rows_and_extra_aggregates(spark, io, tmp_path):
    """The write returns its row count and the caller's aggregates from
    the write job itself, for partitioned and unpartitioned targets."""
    df = spark.range(50).withColumn("bucket", (F.col("id") % 5).cast("int"))
    got = io.write(df, str(tmp_path / "p"), partition_by=("bucket",),
                   observe=[F.count_if(F.col("id") % 2 == 1).alias("odd"),
                            F.max("id").alias("top")])
    assert got == {"rows": 50, "odd": 25, "top": 49}
    assert io.write(df.filter("id < 7"), str(tmp_path / "u"))["rows"] == 7
    assert io.read(str(tmp_path / "u")).count() == 7


def test_driver_lineage_reads_same_in_spark_and_pyarrow(spark, tmp_path):
    """Driver-written commits sit next to a Spark-written (INT96
    timestamp) lineage file and read as one table in Spark and in
    pyarrow, with the same values."""
    import datetime

    import pyarrow.parquet as pq

    from driftmind_spark.kg import lineage as ln

    out_dir = str(tmp_path / "mixed")
    ts = datetime.datetime(2024, 3, 1, 12, 30, 5, 123456)
    spark.createDataFrame(
        [("r", "extract", 0, 4, ts, "done")], ln.LINEAGE_SCHEMA
    ).write.mode("append").parquet(ln.lineage_path(out_dir))
    micros = int((ts - datetime.datetime(1970, 1, 1)).total_seconds()
                 * 1_000_000)
    lineage = ln.Lineage(spark, out_dir, "r")
    lineage.commit_buckets("extract", [1, 2],
                           {"rows_1": 3, "ts_1": micros,
                            "rows_2": 0, "ts_2": None})
    lineage.commit_global("nodes", 9, {"nodes_components": 5})
    expected = {
        ("extract", 0, 4, ts), ("extract", 1, 3, ts), ("extract", 2, 0, None),
        ("nodes_components", -1, 5, None), ("nodes", -1, 9, None),
    }
    got_spark = {
        (r["stage"], r["bucket"], r["row_count"], r["max_warc_ts"])
        for r in spark.read.schema(ln.LINEAGE_SCHEMA)
        .parquet(ln.lineage_path(out_dir)).collect()
    }
    assert got_spark == expected
    table = pq.read_table(ln.lineage_path(out_dir)).to_pylist()
    got_arrow = {
        (r["stage"], r["bucket"], r["row_count"],
         None if r["max_warc_ts"] is None
         else r["max_warc_ts"].to_pydatetime())
        for r in table
    }
    assert got_arrow == expected
    assert {r["run_id"] for r in table} == {"r"}
    assert {r["status"] for r in table} == {"done"}
    reread = ln.Lineage(spark, out_dir, "r")
    assert reread.completed_buckets("extract") == {0, 1, 2}
    assert reread.committed_row_count("extract") == 7
    assert reread.stage_marker_done("nodes")
    assert not reread.stage_marker_done("edges")


def test_additive_schema_evolution(spark, io, tmp_path):
    """S12: old rows readable after new columns appear (mergeSchema)."""
    target = str(tmp_path / "t4")
    v1 = spark.range(5).select("id", F.lit("a").alias("col_a"))
    io.write(v1, target)
    v2 = spark.range(5, 10).select(
        "id", F.lit("b").alias("col_a"), F.lit(1.5).alias("col_new")
    )
    io.write(v2, target, mode="append")
    evolved = io.add_columns_read(target)
    assert set(evolved.columns) == {"id", "col_a", "col_new"}
    assert evolved.filter(F.col("col_new").isNull()).count() == 5


def test_additive_schema_evolution_partitioned_buckets(spark, io, tmp_path):
    """S12 as the INDEX-TABLE job shape (ref SearchService.cs:114-208):
    a widened-schema batch lands in new buckets of an existing
    partitioned table; add_columns_read must union the schemas (old
    buckets -> NULL for the new column), and partition pruning must
    still reach the scan for both generations."""
    target = str(tmp_path / "evolved_idx")
    v1 = spark.createDataFrame(
        [(i % 2, f"u{i}", "t") for i in range(20)],
        "bucket int, url string, text string",
    )
    io.write(v1, target, partition_by=("bucket",))
    v2 = spark.createDataFrame(
        [(2 + i % 2, f"v{i}", "t", "en") for i in range(10)],
        "bucket int, url string, text string, lang string",
    )
    io.write(v2, target, partition_by=("bucket",), mode="append")
    evolved = io.add_columns_read(target)
    assert set(evolved.columns) == {"bucket", "url", "text", "lang"}
    assert evolved.filter(F.col("lang").isNull()).count() == 20
    assert evolved.filter(F.col("lang") == "en").count() == 10
    # partition pruning survives the merged-schema read
    pruned = evolved.filter(F.col("bucket") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 5
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan


class _RecordingIcebergWriter:
    """Stand-in for DataFrameWriterV2 — records the call chain so the
    Iceberg branch's mode/partition dispatch executes under test even
    though no Iceberg runtime jar ships in this sandbox (round 4; flip
    to a real catalog whenever a jar lands)."""

    def __init__(self, calls, target):
        self.calls = calls
        self.calls.append(("writeTo", target))

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", len(cols)))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))

    def append(self):
        self.calls.append(("append",))


def test_iceberg_branch_mode_dispatch(spark, monkeypatch):
    df = spark.createDataFrame([(0, "a"), (1, "b")], "bucket int, url string")
    calls = []
    monkeypatch.setattr(
        type(df), "writeTo",
        lambda self, target: _RecordingIcebergWriter(calls, target),
    )
    io = TableIO(spark, backend="iceberg")

    io.write(df, "cat.db.t", partition_by=("bucket",), mode="overwrite")
    assert calls == [
        ("writeTo", "cat.db.t"), ("partitionedBy", 1), ("createOrReplace",),
    ]

    calls.clear()
    io.write(df, "cat.db.t", partition_by=("bucket",),
             mode="overwrite_partitions")
    assert calls == [
        ("writeTo", "cat.db.t"), ("partitionedBy", 1),
        ("overwritePartitions",),
    ]

    calls.clear()
    io.write(df, "cat.db.t", mode="append")
    assert calls == [("writeTo", "cat.db.t"), ("append",)]


def test_iceberg_branch_read_is_name_addressed(spark, monkeypatch):
    seen = {}
    monkeypatch.setattr(
        type(spark), "table",
        lambda self, name: seen.setdefault("name", name),
    )
    io = TableIO(spark, backend="iceberg")
    io.read("cat.db.chunks")
    assert seen["name"] == "cat.db.chunks"
