"""Shared nodes/edges construction core — the ONE copy of the
linking/canonicalization dataflow and the salted edge-bucket recipe.

Two call sites wrap it:
  * the batch pipeline's stage 3/4 (kg/pipeline.py), which interleaves
    lineage commits and bucketed stage writes around it, and
  * the streaming rebuild (streaming/ingest.py::rebuild_kg_snapshot),
    which wraps it in versioned ``_SUCCESS``-gated snapshots.

Keeping the dataflow here (round-7 self-review) means a change to the
salt/bucket arithmetic or the canonical-map join propagates to BOTH
paths — previously the streaming rebuild re-implemented ~50 lines of
the batch stages and the streamed-==-batch parity test only pinned the
configurations it happened to run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .blocking import candidate_pairs, mentions_from_triples
from .cc import canonical_mapping, connected_components
from .lineage import N_BUCKETS
from .linking import EMBEDDING_DIM, all_link_edges

# Salt of the edges table's bucket key: a hot head subject spreads over
# this many pseudo-random buckets (see :func:`build_edges`).  Recorded in
# each incremental snapshot's ``meta``.
EDGE_SALT = 8


def build_nodes(
    triples: DataFrame,
    aliases: DataFrame | None = None,
    embedding_dim: int = EMBEDDING_DIM,
    n_buckets: int = N_BUCKETS,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """triples -> canonical nodes table (mentions -> LSH candidate pairs
    -> link edges -> connected components -> canonical mapping), with
    the batch pipeline's bucket column.

    Returns ``(nodes, caches)``: ``caches`` are the cached intermediates
    (mentions, link_edges) the CALLER must ``unpersist()`` only after
    materializing ``nodes`` — the caches span CC's path-decision collect
    and the final write, so releasing them early re-runs the whole
    linking UDF lineage."""
    mentions = mentions_from_triples(triples).cache()
    pairs = candidate_pairs(mentions)
    # the link-edge list is dictionary-sized (LSH-capped pairs over
    # distinct surfaces) but its lineage holds every linking UDF
    # stage — cache it so CC's path-decision collect doesn't re-run
    # the banding/jaccard/embedding work
    link_edges = all_link_edges(
        mentions, aliases, pairs, embedding_dim=embedding_dim
    ).cache()
    components = connected_components(
        mentions.select("mention_id"), link_edges
    )
    return _nodes_table(mentions, components, n_buckets), (mentions, link_edges)


def _nodes_table(mentions: DataFrame, components: DataFrame,
                 n_buckets: int) -> DataFrame:
    return canonical_mapping(mentions, components).withColumn(
        "bucket",
        F.pmod(F.xxhash64("canonical_id"), F.lit(n_buckets)).cast("int"),
    )


def planned_nodes_schema(triples: DataFrame) -> StructType:
    """The schema :func:`build_nodes` yields, planned over an empty
    component map: no Spark job (the linking itself collects the link
    graph), so a resumed build re-reads a committed nodes table without
    a footer-inference job."""
    components = triples.sparkSession.createDataFrame(
        [], "id long, component long")
    return _nodes_table(
        mentions_from_triples(triples), components, N_BUCKETS).schema


def build_edges(
    triples: DataFrame,
    nodes: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """triples resolved to canonical ids via the MATERIALIZED nodes
    table (re-deriving nodes per join side would re-run the whole
    linking lineage twice), with the salted bucket key.

    No broadcast hint on the canonical map: an explicit hint FORCES the
    broadcast regardless of size (Catalyst does not fall back to SMJ),
    and over a crawl lifetime the surface dictionary reaches 100M+ rows
    — an explicit hint here would force an oversized driver-side
    broadcast on every edges read.  AQE picks broadcast when the map's
    measured size fits (the sandbox case) and a shuffle join when it
    does not — the same reasoning that removed the hint from the
    contracted-CC canonical map in kg/incremental.py."""
    canon = nodes.select("surface", "canonical_id", "canonical_surface")
    return (
        triples
        .join(
            canon.withColumnRenamed("canonical_id", "subj_id")
            .withColumnRenamed("canonical_surface", "subj_canonical"),
            triples.subj == F.col("surface"),
        )
        .drop("surface")
        .join(
            canon.withColumnRenamed("canonical_id", "obj_id")
            .withColumnRenamed("canonical_surface", "obj_canonical"),
            triples.obj == F.col("surface"),
        )
        .drop("surface")
        .select(
            "subj_id", "subj_canonical", "pred", "obj_id", "obj_canonical",
            "url", "warc_ts", "conf",
        )
        # SALTED partitioning key (explicit skew mitigation, north_rule):
        # hash the (subject, obj-derived salt) PAIR so a hot head subject
        # spreads over EDGE_SALT pseudo-random buckets.  (Multiplying a
        # bucket id by the salt and re-modding collapses to a fixed
        # residue class — measured max-bucket share stayed 2x too high;
        # hashing the composite key does not.)
        .withColumn(
            "bucket",
            F.pmod(
                F.xxhash64("subj_id",
                          F.pmod(F.xxhash64("obj_id"), F.lit(EDGE_SALT))),
                F.lit(n_buckets),
            ).cast("int"),
        )
    )
