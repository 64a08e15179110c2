"""Similarity search over an embedding column (ARRAY<FLOAT>).

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the corpus, per-query window top-k.  The correctness
  baseline; O(|corpus| * |queries|) but embarrassingly parallel and
  scan-bound — the right thing when queries are few.
- ``lsh_topk``: the scale path — random-hyperplane signs (one vectorized
  Arrow-batched matmul emitting every table's bucket id at once) bucket
  the corpus; candidates share a bucket in >= 1 of ``n_tables`` tables,
  then exact cosine re-rank.  Probe cost drops from full-scan to
  bucket-scan; recall is tested against the brute-force baseline in
  pytest at 64 and 1536 dims (1536 = the reference's real ada-002
  dimensionality, Models/DocumentChunk.cs:21-22).

  Parameter guidance: hyperplane LSH recall depends on how separated the
  true neighbors are.  On tightly clustered corpora 8 planes x 4 tables
  keeps buckets small with high recall; on weakly separated data (near-
  uniform cosines, like the synthetic ``embeddings`` fixture at ~0.37
  top-cosine) fewer planes + more tables (4 x 8, the defaults here)
  trade bucket size for recall — measured 0.62 vs 0.04 on that fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import cosine_sim_prenorm, l2_norm
from ..kernels.hashing import stable_hash64


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10
) -> DataFrame:
    """(query_id, embedding) x (vec_id, embedding) -> top-k neighbors per
    query by cosine, ranked (ties broken by vec_id asc)."""
    # norms hoisted to before the cross join (see l2_norm): the corpus
    # vector's norm is evaluated once per row instead of once per query
    # pair — measured 0.68 -> 0.51 s warm at sf0.1, values bit-identical
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("qn", l2_norm("qv"))
    c = corpus.select(
        F.col("vec_id"), _as_double("embedding").alias("cv")
    ).withColumn("cn", l2_norm("cv"))
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "vec_id",
        cosine_sim_prenorm("qv", "cv", "qn", "cn").alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos_raw", 4).alias("cosine"),
            "rank",
        )
    )


from functools import lru_cache


@lru_cache(maxsize=8)
def _hyperplane_coeffs(dim: int, n_planes: int, n_tables: int, seed: int):
    """Deterministic ±1 hyperplane coefficients, shape (tables*planes,
    dim) — table t's plane p keeps the same sign convention the round-1
    JVM-expression variant used (stable_hash64(f"{seed+t}:{p}:{d}") & 1),
    computed once per Python worker and cached."""
    import numpy as np

    flat = np.fromiter(
        (
            1.0 if (stable_hash64(f"{seed + t}:{p}:{d}") & 1) else -1.0
            for t in range(n_tables)
            for p in range(n_planes)
            for d in range(dim)
        ),
        dtype=np.float64,
        count=n_tables * n_planes * dim,
    )
    return flat.reshape(n_tables * n_planes, dim)


def _bucket_ids_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Vectorized bucket signatures for ALL tables in ONE pass: a pandas
    UDF returning array<long>[n_tables].  The round-1 variant built the
    signature from literal coefficient-array expressions PER TABLE — at
    1536 dims that is ~49k literal expression nodes per side, falls out
    of whole-stage codegen, and re-scans the corpus once per table.
    Here: one matmul (batch × dim) @ (dim × tables*planes) per Arrow
    batch, one corpus scan total."""
    from pyspark.sql.functions import pandas_udf

    def bucket_ids(emb):
        import numpy as np
        import pandas as pd

        coeffs = _hyperplane_coeffs(dim, n_planes, n_tables, seed)
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        dots = mat @ coeffs.T                       # (n, tables*planes)
        bits = (dots >= 0).reshape(len(mat), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        ids = (bits * weights).sum(axis=2)          # (n, tables)
        return pd.Series(list(ids))

    return pandas_udf(bucket_ids, "array<long>")


def train_ivf_centroids(
    sample, n_centroids: int = 16, n_iters: int = 5
):
    """Deterministic IVF coarse quantizer: spherical k-means (Lloyd on
    l2-normalized vectors, cosine assignment) over a driver-side sample.
    Pure numpy — the SAME function trains the oracle fixture, so Spark
    and the reference implementation share centroids bit-for-bit.

    Init: evenly spaced rows of the (vec_id-sorted) sample — no RNG, so
    re-runs and the fixture generator agree.  Empty clusters keep their
    previous centroid."""
    import numpy as np

    mat = np.asarray(sample, dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    idx = (np.arange(n_centroids) * len(mat)) // n_centroids
    cents = mat[idx].copy()
    for _ in range(n_iters):
        assign = (mat @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def ivf_assign(mat, cents, n_probe: int):
    """Top-``n_probe`` nearest-centroid ids per row (pure numpy, shared
    by the Spark UDF and the oracle fixture so tie behavior is
    bit-identical)."""
    import numpy as np

    mat = np.asarray(mat, dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    dots = mat @ cents.T
    n_probe = min(n_probe, dots.shape[1])  # can't probe more lists than exist
    if n_probe == 1:
        ids = dots.argmax(axis=1)[:, None]
    elif n_probe == dots.shape[1]:
        ids = (-dots).argsort(axis=1)  # probe every list, ranked
    else:
        # argpartition then exact sort of the head: O(C) per row
        head = np.argpartition(-dots, n_probe - 1, axis=1)[:, :n_probe]
        order = np.take_along_axis(dots, head, axis=1).argsort(axis=1)[:, ::-1]
        ids = np.take_along_axis(head, order, axis=1)
    return ids.astype(np.int64)


def _ivf_assign_udf(cents, n_probe: int):
    """Arrow-batched wrapper of ``ivf_assign`` (one matmul per batch
    against the broadcast centroid matrix)."""
    from pyspark.sql.functions import pandas_udf

    def assign(emb):
        import numpy as np
        import pandas as pd

        ids = ivf_assign(np.stack(emb.to_numpy()), cents, n_probe)
        return pd.Series(list(ids))

    return pandas_udf(assign, "array<long>")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_mod: int | None = None,
    n_iters: int = 5,
    max_sample_rows: int = 100_000,
) -> DataFrame:
    """IVF approximate top-k (the coarse-quantizer counterpart of
    ``lsh_topk``): corpus vectors land in their nearest centroid's
    inverted list; queries probe their ``n_probe`` nearest lists; exact
    cosine re-rank inside the probed lists.

    Scale shape: the quantizer trains on a DETERMINISTIC BOUNDED sample
    (``pmod(xxhash64(vec_id), sample_mod) == 0`` — hashing makes the
    1/mod keep-rate hold for ANY id structure; a raw ``vec_id % mod``
    filter returns an EMPTY sample when ids share a residue class,
    e.g. all-odd keeper ids after dedup).  By default (``sample_mod``
    unset) the sample is the global top-``max_sample_rows`` rows by
    ``xxhash64(vec_id)``, taken NARROW (ids only, so the takeOrdered
    driver merge never ships per-partition embedding payloads) and then
    fetched via a broadcast semi-join — bounded driver traffic at any
    corpus size and partition count.  Hard guards raise on an over-cap
    sample (caller
    forced ``sample_mod`` too small) and on an empty one (degenerate
    corpus).  Centroids broadcast inside the assignment
    UDF's closure, each side is scanned once, and the candidate join is
    an equi-join on ``list_id`` — probe cost is |list| * n_probe
    instead of |corpus|."""
    import numpy as np

    if sample_mod is None:
        # Default sampling: global top-max_sample_rows by xxhash64(vec_id)
        # — the hash order makes the sample uniformly pseudo-random AND
        # deterministic, and when the corpus has fewer rows than the cap
        # it returns every row, so small-corpus fixtures (sf0.01: all
        # 2,000 vectors) are bit-unchanged.  Two NARROW-then-FETCH
        # actions (round 8): takeOrdered's driver merge receives every
        # partition's candidate top-k, so running it over (vec_id,
        # embedding) ships O(partitions x cap x dim) — the 1M x 256-d
        # ANN sweep blew spark.driver.maxResultSize at just 40
        # partitions (BENCH/ann_operating_point_r8.json), and a
        # cluster-scale scan has thousands.  Pass 1 takes the ids alone
        # (16 B/row through the merge); pass 2 fetches the sampled rows'
        # embeddings through a broadcast semi-join, shipping exactly
        # max_sample_rows fat rows.  The second scan of the corpus is
        # the price; callers with expensive upstream lineage should
        # cache the corpus (the bench does).
        spark = corpus.sparkSession
        # distinct before the top-k: duplicate vec_ids (unioned tables,
        # replay appends) would otherwise multiply through the fetch
        # join below into an unbounded driver collect
        ids = (
            corpus.select("vec_id").distinct()
            .orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
            .limit(max_sample_rows)
            .collect()
        )
        id_df = spark.createDataFrame(
            ids, corpus.select("vec_id").schema
        )
        # one row per sampled id with a DETERMINISTIC pick when a
        # duplicate vec_id carries conflicting embeddings (unioned
        # tables, replay appends): min_by on the embedding's hash —
        # dropDuplicates chose whichever copy a partition happened to
        # deliver first, which broke the docstring's determinism claim
        sample_rows = (
            corpus.join(F.broadcast(id_df), "vec_id")
            .groupBy("vec_id")
            .agg(
                F.min_by("embedding", F.xxhash64("embedding"))
                .alias("embedding")
            )
            .collect()
        )
    else:
        sample_rows = (
            corpus.filter(
                F.pmod(F.xxhash64("vec_id"), F.lit(sample_mod)) == 0
            )
            .select("vec_id", "embedding")
            .collect()
        )
        # 2x slack: the hashed keep-rate concentrates tightly around 1/mod
        if len(sample_rows) > 2 * max_sample_rows:
            raise ValueError(
                f"ivf_topk training sample ({len(sample_rows)} rows) exceeds "
                f"max_sample_rows={max_sample_rows}; raise sample_mod (got "
                f"{sample_mod}) or the cap — refusing an unbounded driver "
                "collect"
            )
    if not sample_rows:
        raise ValueError(
            "ivf_topk training sample is empty — corpus too small for "
            f"sample_mod={sample_mod}; pass a smaller sample_mod"
        )
    sample_rows.sort(key=lambda r: r["vec_id"])
    cents = train_ivf_centroids(
        np.array([r["embedding"] for r in sample_rows], dtype=np.float64),
        n_centroids,
        n_iters,
    )
    c_assign = _ivf_assign_udf(cents, 1)
    q_assign = _ivf_assign_udf(cents, n_probe)
    # norms from the aliased vectors in a follow-on projection: the
    # double cast runs once per vector, not once more inside l2_norm
    cb = corpus.select(
        "vec_id",
        _as_double("embedding").alias("cv"),
        c_assign("embedding")[0].alias("list_id"),
    ).withColumn("cn", l2_norm("cv"))
    qb = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
        q_assign("embedding").alias("lists"),
    ).withColumn("qn", l2_norm("qv")).select(
        "query_id", "qv", "qn", F.explode("lists").alias("list_id")
    )
    scored = (
        F.broadcast(qb)
        .join(cb, "list_id")
        .select(
            "query_id", "vec_id",
            cosine_sim_prenorm("qv", "cv", "qn", "cn").alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cos_raw", 4).alias("cosine"), "rank")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Hyperplane-LSH-bucketed approximate top-k: candidates share a
    bucket in >= 1 of ``n_tables`` tables, exact cosine re-rank.

    Plan shape (single-pass): each side is scanned ONCE — the bucket UDF
    emits all table signatures as an array, ``posexplode`` turns them
    into (table, bucket) keys, and the candidate join broadcasts the
    (small) query side, so the corpus never shuffles; only matched
    candidate pairs hit the dedup exchange."""
    budf = _bucket_ids_udf(dim, n_planes, n_tables, seed)
    # norms from the aliased vectors (one double cast per vector), in a
    # projection of their own below the explode
    qb = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
        budf("embedding").alias("bks"),
    ).withColumn("qn", l2_norm("qv")).select(
        "query_id", "qv", "qn", F.posexplode("bks").alias("tbl", "bucket")
    )
    cb = corpus.select(
        "vec_id",
        _as_double("embedding").alias("cv"),
        budf("embedding").alias("bks"),
    ).withColumn("cn", l2_norm("cv")).select(
        "vec_id", "cv", "cn", F.posexplode("bks").alias("tbl", "bucket")
    )
    cand = (
        F.broadcast(qb)
        .join(cb, ["tbl", "bucket"])
        .select("query_id", "qv", "qn", "vec_id", "cv", "cn")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_sim_prenorm("qv", "cv", "qn", "cn").alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cos_raw", 4).alias("cosine"), "rank")
    )
