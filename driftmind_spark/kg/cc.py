"""K6 — connected components as iterative DataFrame joins (no GraphFrames
jar in the sandbox; SURVEY.md §7.1).

Algorithm: the ALTERNATING large-star/small-star method (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
web-scale-safe choice the round-1 docstring promised.  Each round:

  large-star: every node u computes m = min(N(u) ∪ {u}) and re-points
              its strictly LARGER neighbors at m — big hubs detach their
              high neighborhoods in one step;
  small-star: edges oriented child=max/parent=min; every child block
              re-points its smaller neighbors (and itself) at the block
              minimum — chains collapse toward the root.

Convergence is O(log² n) rounds worst case (paths), O(log n) typical —
vs O(component diameter) for plain min-label propagation, which a 100-TB
crawl's giant component would break.  Each round is two hash
aggregations + two joins over the edge list; ``localCheckpoint``
truncates the iterative lineage; the round's change test is one
aggregate (count + bit_xor fingerprint), no driver-side edge collection.

Deterministic canonical-id election (north_rule): the final star roots
are the minimum 64-bit mention id of each component, and the canonical
*surface* is the lexicographically smallest surface in the component —
both total orders, so re-runs at any parallelism elect identical
canonicals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """(src,dst) -> edges re-pointing every larger neighbor of u at
    min(N(u) ∪ {u}).  No dedup here: duplicates don't affect the min
    aggregations downstream, and the following small-star pass ends in a
    distinct — one fewer shuffle per round."""
    nbrs = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("mn", F.col("u")).alias("m")
    )
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Edges oriented child=max/parent=min; every child block re-points
    its parents (and itself) at the block minimum."""
    oriented = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .unionByName(mins.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)),
    ).collect()[0]
    return int(row[0]), int(row[1])


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "mention_id",
    max_iter: int = 50,
    stats: dict | None = None,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """(id) + (src, dst) -> (id, component) with component = min id of
    the connected component (isolated vertices map to themselves); any
    other vertex columns pass through after ``component``, so a caller
    that keys per-vertex data by id needs no join back.
    ``stats``, if given, receives {'rounds': n} for scaling assertions.

    Size-adaptive (the broadcast-threshold philosophy applied to CC):
    an edge list at or under ``small_graph_threshold`` is collected and
    solved by driver-side union-find — the entity-link graph is
    dictionary-sized under Zipf (|distinct surfaces|², heavily pruned by
    LSH + scoring), and the alternating algorithm's ~5 rounds × several
    Spark jobs of fixed overhead dwarf milliseconds of union-find there.
    Above the threshold (a true web-scale crawl graph) the distributed
    alternating large/small-star path runs; both elect component = min
    id, so the output is identical either way (property-tested)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    rows = None
    if small_graph_threshold:
        # ONE action decides the path AND fetches the edges: collecting
        # limit(threshold+1) costs the same scan the old count did, but
        # the old code then collected AGAIN — and upstream of this DF sit
        # the linking UDF stages, so every extra action re-ran them
        # (measured: the 100k-page nodes stage spent ~11 s in CC for a
        # 64-edge graph, almost all of it recomputing lineage).
        rows = e.limit(small_graph_threshold + 1).collect()
        if len(rows) > small_graph_threshold:
            rows = None  # true web-scale graph: distributed path below
    if rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(k, find(k)) for k in parent]
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "driver_union_find"
        spark = vertices.sparkSession
        # the label schema follows the VERTEX id type — dedup over string
        # doc ids runs CC on strings, the KG path on int64 mention ids
        from pyspark.sql.types import StructField, StructType

        id_type = vertices.schema[id_col].dataType
        label_schema = StructType([
            StructField("id", id_type), StructField("component", id_type),
        ])
        label_df = spark.createDataFrame(labels, label_schema)
        return _label(vertices, id_col, F.broadcast(label_df))
    if stats is not None:
        stats["mode"] = "alternating_star"
    e = e.localCheckpoint()
    fp = _fingerprint(e)
    for rounds in range(1, max_iter + 1):
        e = _small_star(_large_star(e)).localCheckpoint()
        new_fp = _fingerprint(e)
        if new_fp == fp:
            if stats is not None:
                stats["rounds"] = rounds
            break
        fp = new_fp
    else:
        # never pass silently: returning before the star fixpoint would
        # yield SPLIT components with no error
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds; raise max_iter"
        )
    # fixpoint edges form disjoint stars: src=child -> dst=root
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    return _label(vertices, id_col, labels)


def _label(vertices: DataFrame, id_col: str, labels: DataFrame) -> DataFrame:
    """Vertices left-joined to their (id, component) labels; an
    unlabeled (isolated) vertex is its own component."""
    ids = vertices.withColumnRenamed(id_col, "id")
    rest = [c for c in ids.columns if c != "id"]
    return ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component"), *rest
    )


def canonical_mapping(mentions: DataFrame, components: DataFrame) -> DataFrame:
    """(mention_id, surface, n_mentions) x (id, component) ->
    (mention_id, surface, canonical_id, canonical_surface).

    Canonical surface election: min(surface) per component —
    deterministic under any execution order (min over a total order)."""
    labeled = mentions.join(
        components, mentions.mention_id == components.id, "left"
    ).withColumn(
        "canonical_id", F.coalesce(F.col("component"), F.col("mention_id"))
    ).drop("id", "component")
    canon_surfaces = labeled.groupBy("canonical_id").agg(
        F.min("surface").alias("canonical_surface")
    )
    return labeled.join(canon_surfaces, "canonical_id").select(
        "mention_id", "surface", "n_mentions", "canonical_id", "canonical_surface"
    )
