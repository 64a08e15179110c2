"""End-to-end KG construction pipeline (north_rule):

  pages ──> extracted (boilerplate-strip once)    [stage: extract, bucketed]
        └─> extracted_dedup (optional near-dup    [stage: dedup,   global]
            MinHash-LSH corpus dedup + audit)
        └─> chunks (extract/chunk/embed)          [stage: chunks,  bucketed]
              └─> chunk_dedup_audit (optional     [stage: chunk_dedup, global]
                  dropped repeats; kept = chunks ⋉̸ audit, at read time)
        └─> triples (OpenIE)                      [stage: triples, bucketed]
              └─> mentions ─> LSH pairs ─> links ─> components
                    └─> nodes (canonical map)     [stage: nodes,   global]
              └─> edges = triples ⨝ canonical map [stage: edges,   bucketed]

Each stage is one Spark write plus driver-side bookkeeping: bucketed
stages write ``partitionBy("bucket")`` with dynamic partition overwrite,
the write observes its own row counts, and the driver then commits the
stage's lineage (kg/lineage.py).  Re-running the same ``run_id`` skips
committed buckets and stages — kill the job between any two stages and
the re-run completes with identical tables (the kill-and-resume tests in
tests/test_kg.py).

Skew (north_rule): Zipf head entities concentrate edges on few
``subj_canonical_id``s.  The edges table is therefore written partitioned
by a SALTED key — ``pmod(hash(subj_id, hash(obj_id) % EDGE_SALT), P)``
spreads one hot subject over EDGE_SALT partitions (kg/graph.py); readers
aggregating by subject do a two-phase agg (partial per salted partition,
final merge), which ``dedup_triples``-style queries get for free from
Catalyst partial aggregation.  AQE skew-join splitting is on globally (session.py).
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.chunking import build_chunks, extract_text_table
from . import lineage as ln
from .graph import build_edges, build_nodes, planned_nodes_schema
from .linking import EMBEDDING_DIM
from .triples import extract_triples_df


class StageKill(RuntimeError):
    """Raised by the fail-injection hook (resumability tests)."""


def _write_bucketed(df: DataFrame, path: str, pre_clustered: bool = False,
                    observe: Sequence[Column] = ()) -> dict:
    """Bucket-partitioned stage write through the shared TableIO layer
    (sources/tables.py): dynamic partition overwrite so resumed runs
    replace only their buckets, empty results keep a readable schema,
    and the write returns its observed ``rows`` plus ``observe``.

    ``pre_clustered``: stages that map 1:1 over the bucket-partitioned
    extracted table (chunks, triples) keep their input's physical bucket
    grouping, so the write skips the defensive repartition shuffle.
    Measured A/B at 100k pages, local[32]: chunks stage 37.2s -> 12.9s
    (the shuffle moved every chunk's content + embedding a second time),
    e2e 103-109s -> 65.3s, with identical row counts and exactly one
    output file per (task, bucket)."""
    from ..sources.tables import TableIO

    return TableIO(df.sparkSession).write(
        df, path, partition_by=("bucket",), mode="overwrite_partitions",
        pre_clustered=pre_clustered, observe=observe,
    )


def _run_bucketed(lineage: ln.Lineage, stage: str, n_buckets: int, pages,
                  build, path: str, pre_clustered: bool = False) -> StructType:
    """One bucketed stage: ``build`` maps the not-yet-committed buckets'
    pages (with a ``bucket`` column) to the stage output, one write
    stores it, and the buckets commit with the counts the write
    observed.  The todo set is ``range(n_buckets)`` minus the committed
    buckets, so deciding it costs no Spark job.  Returns the output's
    schema, planned even when every bucket is already committed."""
    buckets = sorted(set(range(n_buckets)) - lineage.completed_buckets(stage))
    todo = pages.withColumn("bucket", ln.bucket_col("url", n_buckets))
    if len(buckets) < n_buckets:
        todo = todo.filter(F.col("bucket").isin(buckets))
    out = build(todo)
    if buckets:
        observed = _write_bucketed(
            out, path, pre_clustered=pre_clustered,
            observe=ln.bucket_metrics(
                buckets, "warc_ts" if "warc_ts" in out.columns else None),
        )
        lineage.commit_buckets(stage, buckets, observed)
    return out.schema


def run(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    run_id: str = "run-1",
    n_buckets: int = ln.N_BUCKETS,
    embedding_dim: int = EMBEDDING_DIM,
    fail_after_stage: str | None = None,
    quality: bool = False,
    dedup: bool = False,
    chunk_dedup: bool = False,
) -> dict:
    """Execute (or resume) the full pipeline; returns stage metrics.

    The tuning is fixed in the modules that own each decision: chunks
    are ``kernels.textproc.chunk_text``'s 300-char chunks with a 20-char
    overlap (the reference's TextChunkingService), linking uses the
    ``kg.blocking`` / ``kg.linking`` constants and the edges table's
    bucket salt is ``kg.graph.EDGE_SALT``.

    ``quality=True`` inserts a quality/language gate between extract and
    dedup — the step a crawl pipeline runs BEFORE spending dedup/embed
    compute (operators/quality.py): pure column-expression thresholds
    over the oracle-checked ``quality_scores``/``lang_id`` features.
    Kept docs land in ``extracted_quality`` (bucketed; the filter is
    row-narrow so the write keeps the aligned shuffle-free path);
    rejected docs with their features and ``reject_reasons`` become the
    ``quality_audit`` table.  The gate runs ``quality_filter``'s default
    thresholds.

    ``chunk_dedup=True`` adds passage-level dedup AFTER the chunks
    stage (operators/passages.py::chunk_dedup — the Lee-et-al
    intra-document layer, default thresholds): chunk rows whose
    normalized content repeats corpus-wide keep only their first
    occurrence.  The stage writes only its decision, the dropped rows
    (narrow: ids + fingerprint + keeper), as ``chunk_dedup_audit``; the
    kept chunks are ``chunks`` left-anti-joined with it on ``(url,
    chunk_index)``.  Chunk boundaries stay byte-exact — dedup only
    FILTERS rows, so the parity contract is untouched.

    ``dedup=True`` inserts a corpus-level near-duplicate dedup stage
    between extract and chunk — the step a training-data pipeline runs
    before it embeds/extracts anything: ``operators.dedup.corpus_dedup``
    (exact md5 grouping first, MinHash-LSH with signature-agreement
    VERIFICATION on unique texts only, transitive closure, deterministic
    min-url keeper election), then an anti-join that drops the
    non-keepers.  Keepers land in ``extracted_dedup`` (bucketed like
    ``extracted``, so chunks/triples keep their aligned 1:1 writes); the
    full cluster assignment for every clustered doc is kept as the
    ``dedup_audit`` table (the non-keeper frame IS the audit trail).
    ``corpus_dedup`` runs with its default signature and band
    parameters.

    Every bucketed table is written in ``n_buckets`` url-hash buckets;
    the default is the engine's one bucket count, ``kg.lineage.N_BUCKETS``
    (8, sized for a few-core box and thousands of pages; very large
    corpora pass ``n_buckets`` explicitly).  The count is part of the
    out_dir's layout: it is recorded with the first commit into
    ``out_dir``, and a run of any ``run_id`` under another count raises
    ``ValueError`` before any Spark job runs, since bucket ``b`` holds
    different urls under each count and the tables are shared by every
    run; to change the count, start a fresh ``out_dir``.

    Every Spark job the build runs, from the first read of the corpus
    on, carries a ``dm:<run_id>:<stage>`` job description."""
    def _desc(stage: str) -> None:
        # Tag every job of this pipeline stage in the Spark UI / REST API
        # (description survives into /api/v1/.../stages), so task-level
        # skew metrics attribute to pipeline stages by name.
        spark.sparkContext.setJobDescription(f"dm:{run_id}:{stage}")

    def _read(path: str, schema: StructType) -> DataFrame:
        # a stage output is re-read with the schema it was written (or,
        # on a resume, planned) with: a bare spark.read.parquet runs a
        # footer-inference Spark job for every re-read
        return spark.read.schema(schema).parquet(path)

    # checked against the committed lineage before the first Spark job
    lineage = ln.Lineage(spark, out_dir, run_id, n_buckets)
    # the corpus reads' schema-inference jobs belong to the extract stage
    _desc("extract")
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    aliases_path = os.path.join(corpus_dir, "aliases.parquet")
    aliases = None
    if os.path.exists(aliases_path):
        aliases = spark.read.parquet(aliases_path)

    metrics: dict = {"run_id": run_id}
    _t0 = time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal _t0
        metrics[f"sec_{stage}"] = round(time.perf_counter() - _t0, 1)
        _t0 = time.perf_counter()

    # ---- stage 0: extract once (bucketed, resumable) ------------------------
    # The extracted-text table is the Spark analog of the reference's
    # extracted-text twin blob (BlobStorageService.cs:174-234); chunking
    # and triple extraction both consume it, so the html column — the
    # bulk of the bytes at 100 TB — is read and boilerplate-stripped once.
    extracted_path = os.path.join(out_dir, "extracted")
    extracted = _read(extracted_path, _run_bucketed(
        lineage, "extract", n_buckets, pages,
        lambda todo: extract_text_table(todo).withColumn(
            "bucket", ln.bucket_col("url", n_buckets)),
        extracted_path,
    ))
    metrics["extracted"] = lineage.committed_row_count("extract")
    _mark("extract")
    if fail_after_stage == "extract":
        raise StageKill("injected failure after stage: extract")

    # ---- stage 0.3 (optional): quality/language gate (global) ---------------
    # Before dedup: the gate is a pure column-expression filter (no UDF, no
    # shuffle on the verdict), so running it first prunes the dedup stage's
    # signature work too.  The kept write is pre_clustered — a row-narrow
    # filter of the bucket-partitioned extracted table keeps its physical
    # grouping (a parquet split never crosses partition dirs), so no shuffle.
    if quality:
        _desc("quality")
        quality_path = os.path.join(out_dir, "extracted_quality")
        qaudit_path = os.path.join(out_dir, "quality_audit")
        if not lineage.stage_marker_done("quality"):
            from ..operators.quality import quality_filter

            # The audit and kept writes are two actions over the same
            # filter, i.e. two scans of the extracted parquet.  That is
            # DELIBERATE: caching `judged` would pin the corpus text —
            # the bulk of the bytes — in executor memory, and at 1M
            # pages the columnar cache build already thrashes the block
            # manager (measured: the persist variant failed mid-cache
            # at 1M while the two-scan variant completes); at 100 TB a
            # text-bearing cache is impossible by construction, while a
            # second columnar scan + whole-stage-codegen features is
            # cheap and embarrassingly parallel.
            judged = quality_filter(extracted)
            audit = judged.filter(~F.col("keep")).select(
                "url", "bucket", "n_chars", "n_tokens", "punct_ratio",
                "stop_ratio", "chars_per_token", "lang_guess",
                "reject_reasons",
            )
            n_dropped = _write_bucketed(audit, qaudit_path,
                                        pre_clustered=True)["rows"]
            kept = judged.filter(F.col("keep")).select(*extracted.columns)
            n_kept = _write_bucketed(kept, quality_path,
                                     pre_clustered=True)["rows"]
            lineage.commit_global("quality", n_kept,
                                  {"quality_dropped": n_dropped})
        # the kept rows keep the extracted table's columns
        extracted = _read(quality_path, extracted.schema)
        metrics["quality_kept"] = lineage.committed_row_count("quality")
        metrics["quality_dropped"] = lineage.committed_row_count(
            "quality_dropped")
        _mark("quality")
        if fail_after_stage == "quality":
            raise StageKill("injected failure after stage: quality")

    # ---- stage 0.5 (optional): corpus-level near-dup dedup (global) ---------
    # Global like the nodes stage: LSH candidate pairs span url buckets, so
    # bucket-level resume can't apply; the whole stage is deterministic
    # (seeded minhash params, CC, min-id keeper), so a killed run re-derives
    # byte-identical tables under dynamic partition overwrite.  The keeper
    # filter is a left_anti equi-join against the (smaller) non-keeper set —
    # broadcast at dictionary scale, SMJ beyond the threshold; the rewrite
    # re-clusters by bucket so every downstream stage keeps the aligned
    # shuffle-free write path.
    if dedup:
        from ..operators.dedup import MINHASH_SIG_VERSION

        _desc("dedup")
        dedup_path = os.path.join(out_dir, "extracted_dedup")
        audit_path = os.path.join(out_dir, "dedup_audit")
        if lineage.stage_marker_done("dedup"):
            # Mixed-signature-version resume guard (round-6 advice): the
            # committed tables' near-dup lineage came from the signature
            # construction recorded at commit time; comparing or
            # extending them under a bumped construction silently loses
            # recall, so fail loudly instead.  (Version history:
            # operators/dedup.py::MINHASH_SIG_VERSION.)
            committed_v = lineage.committed_row_count("dedup_sig_version")
            if committed_v != MINHASH_SIG_VERSION:
                raise RuntimeError(
                    f"dedup tables under {out_dir} were committed with "
                    f"signature version {committed_v or 'pre-versioning'}, "
                    f"current code builds version {MINHASH_SIG_VERSION}; "
                    "re-run dedup from scratch (fresh out_dir or run_id) "
                    "instead of resuming across a signature break"
                )
        else:
            from ..operators.dedup import corpus_dedup

            docs = extracted.select(F.col("url").alias("doc_id"), "text")
            resolution = corpus_dedup(docs)
            clusters = resolution.filter(F.col("cluster_size") > 1).withColumn(
                "bucket", ln.bucket_col("doc_id", n_buckets)
            )
            n_dropped = _write_bucketed(
                clusters, audit_path,
                observe=[F.count_if(~F.col("is_keeper")).alias("dropped")],
            )["dropped"]
            # non-keepers come from the durable audit table, not the live
            # lineage — the pairs/CC work is never recomputed past here
            non_keepers = (
                _read(audit_path, clusters.schema)
                .filter(~F.col("is_keeper"))
                .select(F.col("doc_id").alias("url"))
            )
            deduped = extracted.join(non_keepers, "url", "left_anti")
            n_kept = _write_bucketed(deduped, dedup_path)["rows"]
            lineage.commit_global("dedup", n_kept, {
                "dedup_sig_version": MINHASH_SIG_VERSION,
                "dedup_dropped": n_dropped,
            })
        # the anti-join keeps the extracted table's columns (url first)
        extracted = _read(dedup_path, extracted.schema)
        metrics["dedup_kept"] = lineage.committed_row_count("dedup")
        metrics["dedup_dropped"] = lineage.committed_row_count("dedup_dropped")
        _mark("dedup")
        if fail_after_stage == "dedup":
            raise StageKill("injected failure after stage: dedup")

    # ---- stage 1: chunks (bucketed, resumable) -----------------------------
    _desc("chunks")
    chunks_path = os.path.join(out_dir, "chunks")
    # input is the bucket-partitioned extracted table mapped 1:1 -> rows
    # arrive clustered; skip the write-side shuffle
    chunks_schema = _run_bucketed(
        lineage, "chunks", n_buckets, extracted,
        lambda todo: build_chunks(
            todo, embedding_dim=embedding_dim, use_text_column=True,
        ).drop(
            # norm_text is an intra-kernel column (the embedding cache
            # key); nothing reads it from the durable table and it nearly
            # duplicates `content` — dropping it cuts the written chunks
            # table ~30% (measured 1.4 GB -> 1.0 GB at 1M pages, wall
            # time unchanged; at 100 TB that is real storage).
            "norm_text"
        ).withColumn("bucket", ln.bucket_col("url", n_buckets)),
        chunks_path, pre_clustered=True,
    )
    metrics["chunks"] = lineage.committed_row_count("chunks")
    _mark("chunks")
    if fail_after_stage == "chunks":
        raise StageKill("injected failure after stage: chunks")

    # ---- stage 1.5 (optional): passage-level chunk dedup (global) -----------
    # Global like the dedup stage: fingerprints repeat ACROSS url buckets, so
    # bucket-level resume can't apply; the keeper election is deterministic
    # (md5 fingerprint, min-(url,chunk_index) keeper), so a killed run
    # re-derives an identical audit under dynamic partition overwrite.
    if chunk_dedup:
        _desc("chunk_dedup")
        cdaudit_path = os.path.join(out_dir, "chunk_dedup_audit")
        if not lineage.stage_marker_done("chunk_dedup"):
            from ..operators.passages import chunk_dedup as _chunk_dedup

            res = _chunk_dedup(_read(chunks_path, chunks_schema))
            # only the decision is written, NARROW (ids + fingerprint +
            # keeper): the kept chunks are `chunks` anti-joined with it at
            # read time, so at 100 TB the stage costs ids, not content
            audit = res.filter(~F.col("is_kept")).select(
                "url", "chunk_index", "bucket", "fingerprint",
                "n_occurrences", "keeper_doc", "keeper_idx",
            )
            n_dropped = _write_bucketed(audit, cdaudit_path)["rows"]
            n_kept = lineage.committed_row_count("chunks") - n_dropped
            lineage.commit_global("chunk_dedup", n_kept,
                                  {"chunk_dedup_dropped": n_dropped})
        metrics["chunk_dedup_kept"] = lineage.committed_row_count(
            "chunk_dedup")
        metrics["chunk_dedup_dropped"] = lineage.committed_row_count(
            "chunk_dedup_dropped")
        _mark("chunk_dedup")
        if fail_after_stage == "chunk_dedup":
            raise StageKill("injected failure after stage: chunk_dedup")

    # ---- stage 2: triples (bucketed, resumable) -----------------------------
    _desc("triples")
    triples_path = os.path.join(out_dir, "triples")
    triples = _read(triples_path, _run_bucketed(
        lineage, "triples", n_buckets, extracted,
        lambda todo: extract_triples_df(todo, use_text_column=True).withColumn(
            "bucket", ln.bucket_col("url", n_buckets)),
        triples_path, pre_clustered=True,
    ))
    metrics["triples"] = lineage.committed_row_count("triples")
    _mark("triples")
    if fail_after_stage == "triples":
        raise StageKill("injected failure after stage: triples")

    # ---- stage 3: linking + canonicalization (global) -----------------------
    _desc("nodes")
    nodes_path = os.path.join(out_dir, "nodes")
    if lineage.stage_marker_done("nodes"):
        nodes_schema = planned_nodes_schema(triples)
    else:
        # dataflow lives in kg/graph.py — shared with the streaming
        # rebuild (streaming/ingest.py), so the two paths cannot drift
        nodes, caches = build_nodes(
            triples, aliases, embedding_dim=embedding_dim,
            n_buckets=n_buckets,
        )
        # the canonical id is its component's minimum member id
        # (kg/cc.py), so each component has exactly one row whose
        # mention is its own canonical: counting those counts components
        observed = _write_bucketed(nodes, nodes_path, observe=[
            F.count_if(F.col("mention_id") == F.col("canonical_id"))
            .alias("components"),
        ])
        lineage.commit_global("nodes", observed["rows"],
                              {"nodes_components": observed["components"]})
        for c in caches:
            c.unpersist()
        nodes_schema = nodes.schema
    nodes = _read(nodes_path, nodes_schema)
    metrics["nodes"] = lineage.committed_row_count("nodes")
    metrics["components"] = lineage.committed_row_count("nodes_components")
    _mark("nodes")
    if fail_after_stage == "nodes":
        raise StageKill("injected failure after stage: nodes")

    # ---- stage 4: edges = triples resolved to canonical ids (bucketed) ------
    _desc("edges")
    edges_path = os.path.join(out_dir, "edges")
    if not lineage.stage_marker_done("edges"):
        # broadcast canonical-map join + salted bucket key — shared core
        # in kg/graph.py (see there for the skew-mitigation rationale)
        edges = build_edges(triples, nodes, n_buckets=n_buckets)
        lineage.commit_global("edges", _write_bucketed(edges, edges_path)["rows"])
    metrics["edges"] = lineage.committed_row_count("edges")
    _mark("edges")
    spark.sparkContext.setJobDescription(None)
    return metrics
