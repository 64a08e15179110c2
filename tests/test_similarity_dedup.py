"""Operator-level tests for the similarity-search and dedup families:
LSH recall vs brute-force on clustered and weakly-separated data, and
planted near-duplicate detection for each dedup variant."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from driftmind_spark.operators import dedup as dd
from driftmind_spark.operators.similarity import brute_force_topk, lsh_topk

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


# ---- similarity search -----------------------------------------------------------

@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """5 well-separated clusters of 40 vectors each: base direction +
    small noise (norm ~0.3 vs unit signal) -> true neighbors share the
    cluster (cos ~0.95)."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(5):
        base = rng.randn(64)
        base /= np.linalg.norm(base)
        for _ in range(40):
            v = base + 0.04 * rng.randn(64)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def test_brute_force_topk_exact(spark, clustered_embeddings):
    emb = clustered_embeddings
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    res = brute_force_topk(q, c, k=5)
    rows = res.collect()
    assert len(rows) == 15
    # neighbors of a cluster-0 query are cluster-0 members
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in rows:
        assert labels[r["vec_id"]] == 0
        assert r["cosine"] > 0.5
    # ranks are 1..5 per query, scores descending
    for qid in (0, 1, 2):
        ranked = sorted((r for r in rows if r["query_id"] == qid),
                        key=lambda r: r["rank"])
        scores = [r["cosine"] for r in ranked]
        assert scores == sorted(scores, reverse=True)


def test_lsh_topk_high_recall_on_clustered_data(spark, clustered_embeddings):
    emb = clustered_embeddings
    q = emb.filter(F.col("vec_id") % 40 == 0)  # one query per cluster
    c = emb.filter(F.col("vec_id") % 40 != 0)
    bf = _pairs(brute_force_topk(q, c, k=10).select("query_id", "vec_id"))
    lsh = _pairs(lsh_topk(q, c, k=10, dim=64).select("query_id", "vec_id"))
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.9, f"clustered LSH recall {recall:.2f}"


def test_lsh_topk_recall_at_1536_dims(spark):
    """The reference's real dimensionality (ada-002 1536,
    Models/DocumentChunk.cs:21-22): clustered corpus, recall vs brute
    force must hold where the round-1 literal-coefficient variant blew
    up the plan (~49k literal nodes/side)."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows, vid = [], 0
    for c in range(8):
        base = rng.randn(1536)
        base /= np.linalg.norm(base)
        for _ in range(30):
            # noise scaled for ~0.75 intra-cluster cosine: at 1536 dims a
            # per-dim sigma of 0.04 would give noise NORM 1.57 (> the unit
            # signal), i.e. no clusters at all — scale by sqrt(dim)
            v = base + (0.65 / np.sqrt(1536)) * rng.randn(1536)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % 30 == 0)
    c = emb.filter(F.col("vec_id") % 30 != 0)
    bf = _pairs(brute_force_topk(q, c, k=10).select("query_id", "vec_id"))
    lsh_df = lsh_topk(q, c, k=10, dim=1536)
    lsh = _pairs(lsh_df.select("query_id", "vec_id"))
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.9, f"1536-d LSH recall {recall:.2f}"
    # single-pass plan: round 1 re-hashed and re-scanned the corpus per
    # table as 8 UNIONED branches; the rewrite must have none
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan


def test_lsh_topk_recall_on_weak_data(spark):
    """Weakly separated corpus (the sf fixture, top cosines ~0.37):
    documented regime where 4x8 params still recall >= 0.4."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    bf = _pairs(brute_force_topk(q, c, k=10).select("query_id", "vec_id"))
    lsh = _pairs(lsh_topk(q, c, k=10, dim=64).select("query_id", "vec_id"))
    assert len(bf & lsh) / len(bf) >= 0.4


# ---- dedup family ----------------------------------------------------------------

@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark executes declarative plans with catalyst and tungsten codegen",
        "knowledge graphs link canonical entities through typed predicates",
        "completely unrelated text about cooking pasta with fresh tomatoes",
    ]
    rows = []
    did = 0
    for i, text in enumerate(base):
        rows.append((did, text, "blk")); did += 1
        # exact duplicate
        rows.append((did, text, "blk")); did += 1
        # near duplicate: one appended word (keeps n-gram jaccard ~0.9)
        rows.append((did, text + " appended", "blk")); did += 1
    # singletons
    for j in range(5):
        rows.append((did, f"unique filler document number {j} with its own words {j*7}", "blk"))
        did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, source string").cache()


def test_exact_dedup_planted(spark, docs_with_dups):
    out = dd.exact_dedup(docs_with_dups)
    dup_groups = out.filter(F.col("n_copies") > 1).collect()
    assert len(dup_groups) == 4  # one per base text
    for g in dup_groups:
        assert g["n_copies"] == 2
        assert g["keeper"] % 3 == 0  # min doc_id of the pair


def test_ngram_jaccard_planted(spark, docs_with_dups):
    pairs = _pairs(
        dd.ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.5)
        .select("doc_a", "doc_b")
    )
    # each (original, exact-copy) pair and (original, near-dup) pair found
    for base in (0, 3, 6, 9):
        assert (base, base + 1) in pairs
        assert (base, base + 2) in pairs or (base + 1, base + 2) in pairs


def test_minhash_lsh_planted(spark, docs_with_dups):
    cand = _pairs(dd.minhash_lsh_pairs_sql(docs_with_dups))
    for base in (0, 3, 6, 9):
        assert (base, base + 1) in cand  # exact copies always collide


def test_simhash_planted(spark, docs_with_dups):
    pairs = _pairs(
        dd.simhash_near_dups(docs_with_dups, max_hamming=10)
        .select("doc_a", "doc_b")
    )
    for base in (0, 3, 6, 9):
        assert (base, base + 1) in pairs


def test_embedding_near_dups_planted(spark, clustered_embeddings):
    out = dd.embedding_near_dups(clustered_embeddings, threshold=0.85)
    rows = out.collect()
    assert len(rows) > 50  # intra-cluster pairs collide on dominant dim
    labels = {r["vec_id"]: r["label"]
              for r in clustered_embeddings.collect()}
    same = sum(1 for r in rows if labels[r["vec_a"]] == labels[r["vec_b"]])
    assert same / len(rows) > 0.95  # cosine >= 0.85 implies same cluster

def test_embedding_near_dups_multiprobe_recall(spark):
    """n_probes=2 must strictly contain the single-probe pairs and lift
    recall vs exact all-pairs (the single-probe weakness: near-dups whose
    top-two |components| are close can disagree on the argmax)."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for i in range(120):
        v = rng.randn(16)
        v /= np.linalg.norm(v)
        rows.append((2 * i, [float(x) for x in v]))
        w = v + 0.18 * rng.randn(16)  # near-dup, argmax may flip
        w /= np.linalg.norm(w)
        rows.append((2 * i + 1, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def pairs(df):
        return {(r["vec_a"], r["vec_b"]) for r in df.collect()}

    single = pairs(dd.embedding_near_dups(emb, threshold=0.8, dim=16, n_probes=1))
    multi = pairs(dd.embedding_near_dups(emb, threshold=0.8, dim=16, n_probes=2))
    assert single <= multi
    # exact ground truth: planted pairs with cosine >= 0.8
    truth = set()
    for i in range(120):
        a = np.array(rows[2 * i][1], dtype=np.float64)
        b = np.array(rows[2 * i + 1][1], dtype=np.float64)
        if float(a @ b) >= 0.8:
            truth.add((2 * i, 2 * i + 1))
    r1 = len(single & truth) / len(truth)
    r2 = len(multi & truth) / len(truth)
    assert r2 >= r1
    assert r2 >= 0.5, f"multi-probe recall {r2:.2f} (single {r1:.2f})"


def test_embedding_near_dups_bucket_count_grows_with_corpus(spark):
    """The round-2 argmax blocking had a CONSTANT 8 buckets regardless of
    corpus size (O(n²/8) self-join at crawl scale).  The hyperplane
    scheme must spread a growing corpus over more occupied buckets."""
    import numpy as np

    from driftmind_spark.operators.dedup import _near_dup_key_udf

    rng = np.random.RandomState(3)

    def occupied(n):
        rows = []
        for i in range(n):
            v = rng.randn(64)
            rows.append((i, [float(x) for x in (v / np.linalg.norm(v))]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # n_planes=10 (1024 buckets/table): the point of the scheme is
        # that capacity is a PARAMETER sized to the corpus, not a constant
        budf = _near_dup_key_udf(64, 10, 4, 7, 1)
        return (
            emb.select(F.explode(budf("embedding")).alias("k"))
            .select("k").distinct().count()
        )

    k_small, k_big = occupied(40), occupied(2000)
    assert k_big > 2 * k_small, (k_small, k_big)


def test_embedding_near_dups_hot_bucket_cap(spark):
    """A degenerate corpus (every vector nearly identical -> one bucket
    per table) must NOT produce a quadratic pair explosion: the cap
    drops the hot buckets and reports them via the stats frame."""
    import numpy as np

    rng = np.random.RandomState(9)
    base = rng.randn(64)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(300):
        v = base + 1e-4 * rng.randn(64)
        rows.append((i, [float(x) for x in (v / np.linalg.norm(v))]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.embedding_near_dups(emb, threshold=0.9, max_bucket_size=100)
    hot = dd.embedding_hot_bucket_stats(emb, max_bucket_size=100)
    assert out.count() == 0          # all buckets over cap -> dropped
    assert hot.count() >= 4          # ...and every drop is observable
    assert hot.agg(F.max("bucket_size")).first()[0] == 300


def test_minhash_lsh_hot_band_cap(spark):
    """One boilerplate cluster sharing a signature must not go O(n²):
    with the cap the cluster's band buckets are dropped (observable),
    while distinct near-dup pairs below the cap still come through."""
    rows = [(i, "all rights reserved boilerplate footer text " * 3, "blk")
            for i in range(300)]
    rows += [(1000, "a genuinely distinct document about spark plans", "blk"),
             (1001, "a genuinely distinct document about spark plans", "blk")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = _pairs(dd.minhash_lsh_pairs_sql(docs, max_bucket_size=100))
    assert (1000, 1001) in out       # small bucket survives
    assert all(a >= 1000 for a, _ in out), "hot-cluster pairs must be dropped"
    hot = dd.minhash_hot_band_stats(docs, max_bucket_size=100)
    assert hot.count() == 4          # the boilerplate cluster, every band
    # uncapped, the same input would emit C(300,2) = 44850 cluster pairs
    uncapped = dd.minhash_lsh_pairs_sql(docs, max_bucket_size=None).count()
    assert uncapped > 44000


def test_simhash_manku_catches_prefix_diffs(spark):
    """Recall-hole regression: pairs whose differing bits land in the
    TOP 16 bits — exactly what the round-2 single-prefix band missed —
    must be found by the Manku blocking (pigeonhole guarantee), checked
    against exact Hamming ground truth on planted hashes."""
    import itertools
    import random

    rng = random.Random(13)
    rows, expected = [], set()
    did = 0
    for k in range(40):
        h = rng.getrandbits(64)
        # plant the diff INSIDE the old prefix band (bits 48..63)
        flipped = h ^ (0b101 << 61)  # hamming 2 <= 3, top bits differ
        rows.append((did, h)); rows.append((did + 1, flipped))
        expected.add((did, did + 1))
        did += 2
    hashed = spark.createDataFrame(
        [(i, _to_i64(h)) for i, h in rows], "doc_id long, simhash long"
    )
    got = _pairs(
        dd.simhash_pairs_from_hashes(hashed, max_hamming=3)
        .select("doc_a", "doc_b")
    )
    # exact ground truth over ALL planted hashes (random cross pairs too)
    vals = dict(rows)
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(vals), 2)
        if bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    assert expected <= truth
    assert got == truth, (
        f"missed {len(truth - got)} / spurious {len(got - truth)}"
    )


def _to_i64(h: int) -> int:
    """unsigned 64-bit -> signed (Spark LongType)."""
    return h - (1 << 64) if h >= (1 << 63) else h


def test_simhash_hot_block_cap(spark):
    """Degenerate identical hashes must be capped out, observably."""
    hashed = spark.createDataFrame(
        [(i, 12345) for i in range(300)] + [(900, 99), (901, 99)],
        "doc_id long, simhash long",
    )
    out = _pairs(
        dd.simhash_pairs_from_hashes(hashed, max_hamming=3, max_bucket_size=100)
        .select("doc_a", "doc_b")
    )
    assert out == {(900, 901)}


def test_ivf_topk_recall_on_clustered_data(spark, clustered_embeddings):
    """IVF coarse-quantizer ANN: with enough centroids and probes the
    probed lists must recover the brute-force neighbors on clustered
    data (same bar as lsh_topk)."""
    from driftmind_spark.operators.similarity import ivf_topk

    emb = clustered_embeddings
    q = emb.filter(F.col("vec_id") % 40 == 0)  # one query per cluster
    c = emb.filter(F.col("vec_id") % 40 != 0)
    bf = _pairs(brute_force_topk(q, c, k=10).select("query_id", "vec_id"))
    ivf = _pairs(
        ivf_topk(q, c, k=10, n_centroids=10, n_probe=3)
        .select("query_id", "vec_id")
    )
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.9, f"IVF recall {recall:.2f}"


def test_ivf_centroids_deterministic(spark):
    """Same sample -> same centroids (no RNG anywhere): the oracle
    fixture and the operator must always agree."""
    import numpy as np

    from driftmind_spark.operators.similarity import train_ivf_centroids

    rng = np.random.RandomState(21)
    sample = rng.randn(200, 32)
    c1 = train_ivf_centroids(sample, 8)
    c2 = train_ivf_centroids(sample.copy(), 8)
    assert np.array_equal(c1, c2)


def test_simhash_manku_equals_bruteforce_property(spark):
    """Property check of the pigeonhole guarantee across max_hamming
    settings: for random-plus-planted hash populations, Manku blocking +
    exact verify must equal all-pairs brute force EXACTLY (no recall
    loss, no spurious pairs), for every k."""
    import itertools
    import random

    rng = random.Random(99)
    for k in (1, 3, 5, 7):
        vals = {}
        did = 0
        for _ in range(25):
            h = rng.getrandbits(64)
            vals[did] = h
            did += 1
            # planted near-dup: flip up to k random bit positions
            flipped = h
            for b in rng.sample(range(64), rng.randint(1, k)):
                flipped ^= 1 << b
            vals[did] = flipped
            did += 1
        hashed = spark.createDataFrame(
            [(i, _to_i64(h)) for i, h in vals.items()],
            "doc_id long, simhash long",
        )
        got = _pairs(
            dd.simhash_pairs_from_hashes(hashed, max_hamming=k)
            .select("doc_a", "doc_b")
        )
        truth = {
            (a, b)
            for a, b in itertools.combinations(sorted(vals), 2)
            if bin(vals[a] ^ vals[b]).count("1") <= k
        }
        assert got == truth, f"k={k}: missed {len(truth - got)}, spurious {len(got - truth)}"


def test_ivf_training_sample_bounded_by_default(spark, monkeypatch):
    """Scale guard (round 4, tightened round 5): on a corpus LARGER than
    max_sample_rows the default path takes the global top-cap rows by
    xxhash64(vec_id) in ONE TakeOrdered action, so the driver-side
    training collect is bounded by construction — never the corpus, and
    no separate count() action over the upstream lineage."""
    import numpy as np

    from driftmind_spark.operators import similarity as sim

    seen = {}
    real_train = sim.train_ivf_centroids

    def spy(sample, *a, **kw):
        seen["n"] = len(sample)
        return real_train(sample, *a, **kw)

    monkeypatch.setattr(sim, "train_ivf_centroids", spy)
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(8).tolist()) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.ivf_topk(
        emb.filter(F.col("vec_id") < 3),
        emb.filter(F.col("vec_id") >= 3),
        k=5, n_centroids=4, n_probe=2, max_sample_rows=100,
    )
    assert out.count() == 15
    # hashed sampling keeps ~1/mod of rows; the operator's hard guard
    # allows 2x slack over the cap
    assert 0 < seen["n"] <= 200, f"sample size {seen['n']} exceeds cap"


def test_ivf_sampling_survives_residue_clustered_ids(spark, monkeypatch):
    """Ids sharing a residue class (all odd — e.g. post-dedup keeper
    ids) must still yield a non-empty bounded sample: the round-4 raw
    `vec_id % mod` filter would have collected ZERO rows here."""
    import numpy as np

    from driftmind_spark.operators import similarity as sim

    seen = {}
    real_train = sim.train_ivf_centroids

    def spy(sample, *a, **kw):
        seen["n"] = len(sample)
        return real_train(sample, *a, **kw)

    monkeypatch.setattr(sim, "train_ivf_centroids", spy)
    rng = np.random.RandomState(13)
    rows = [(2 * i + 1, rng.randn(8).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.ivf_topk(
        emb.filter(F.col("vec_id") < 7),
        emb.filter(F.col("vec_id") >= 7),
        k=5, n_centroids=4, n_probe=2, max_sample_rows=64,
    )
    assert out.count() == 15
    assert 0 < seen["n"] <= 128, seen


def test_ivf_sampling_dedups_repeated_vec_ids(spark, monkeypatch):
    """Duplicate vec_ids (unioned embedding tables, replay appends)
    must not multiply through the two-pass sampler (round 8: the narrow
    takeOrdered + broadcast-fetch split fixed an O(partitions x cap x
    dim) driver merge, and the fetch join must stay bounded too —
    one training row per sampled id)."""
    import numpy as np

    from driftmind_spark.operators import similarity as sim

    seen = {}
    real_train = sim.train_ivf_centroids

    def spy(sample, *a, **kw):
        seen["n"] = len(sample)
        return real_train(sample, *a, **kw)

    monkeypatch.setattr(sim, "train_ivf_centroids", spy)
    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(8).tolist()) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tripled = emb.unionByName(emb).unionByName(emb)  # every id x3
    out = sim.ivf_topk(
        emb.filter(F.col("vec_id") < 3),
        tripled.filter(F.col("vec_id") >= 3),
        k=5, n_centroids=4, n_probe=2, max_sample_rows=100,
    )
    assert out.count() == 15
    assert 0 < seen["n"] <= 100, (
        f"duplicate ids multiplied the training sample: {seen['n']}"
    )


def test_ivf_explicit_oversized_sample_raises(spark):
    """Forcing sample_mod=1 past the cap must refuse the unbounded
    driver collect loudly instead of OOMing at scale."""
    import numpy as np

    from driftmind_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(8)
    rows = [(i, rng.randn(8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_sample_rows"):
        ivf_topk(
            emb.filter(F.col("vec_id") < 3),
            emb.filter(F.col("vec_id") >= 3),
            sample_mod=1, max_sample_rows=50,
        ).count()


def test_ivf_assign_probe_clamp(spark):
    """n_probe >= n_centroids must degrade to probing every list (ranked),
    never an argpartition index error."""
    import numpy as np

    from driftmind_spark.operators.similarity import ivf_assign, train_ivf_centroids

    rng = np.random.RandomState(4)
    sample = rng.randn(50, 16)
    cents = train_ivf_centroids(sample, 4)
    ids = ivf_assign(sample[:5], cents, n_probe=10)
    assert ids.shape == (5, 4)
    for row in ids:
        assert sorted(row.tolist()) == [0, 1, 2, 3]


# ---- round 4: pair -> cluster -> keeper resolution ------------------------

def test_dedup_resolution_vs_union_find_oracle(spark):
    """Planted pair graph (chains, a triangle, singletons) resolved to
    keeper assignments must equal transitive-closure union-find."""
    n = 40
    pairs = [(0, 1), (1, 2), (2, 3),          # chain -> keeper 0
             (10, 11), (11, 12), (10, 12),    # triangle -> keeper 10
             (20, 39), (21, 38)]              # two 2-clusters
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {(i, find(i)) for i in range(n)}

    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = dd.dedup_resolution(docs, pdf).collect()
    assert {(r["doc_id"], r["keeper_id"]) for r in got} == expect
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[3]["cluster_size"] == 4 and not by_id[3]["is_keeper"]
    assert by_id[0]["is_keeper"] and by_id[10]["is_keeper"]
    assert by_id[5]["cluster_size"] == 1 and by_id[5]["is_keeper"]
    # keepers form exactly one survivor per cluster
    keepers = [r for r in got if r["is_keeper"]]
    assert len(keepers) == len({find(i) for i in range(n)})


def test_dedup_resolution_composes_with_minhash(spark):
    """End-to-end policy: a planted boilerplate cluster collapses to
    one keeper through minhash pairs -> resolution."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "while the cat watches from the warm windowsill every morning"
    )
    rows = [(i, base + f" variant {i % 3}") for i in range(12)]
    rows += [(100 + i, f"совершенно другой текст номер {i} без пересечений "
              f"с остальными документами в корпусе вообще") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.minhash_lsh_pairs_sql(docs).select("doc_a", "doc_b")
    res = dd.dedup_resolution(docs, pairs)
    kept = res.filter("is_keeper").count()
    # 12 near-identical docs collapse to ~3 variants; 3 unrelated stay
    assert kept <= 3 + 3 + 1
    assert res.count() == 15
    assert res.filter("cluster_size >= 4").count() >= 4


def _sentences(rng, n, vocab):
    return " ".join(
        " ".join(rng.choice(vocab, size=8)) + "." for _ in range(n)
    )


def test_minhash_verified_pairs_rejects_boilerplate_siblings(spark):
    """The round-5 over-merge regression: docs sharing half their
    sentences (boilerplate siblings, J ~ 0.5) must NOT pair, while a
    verbatim copy and a one-sentence edit of a 30-sentence doc must.
    (Unverified 16/4 banding merged 87% of a 100k crawl corpus.)"""
    rng = np.random.RandomState(41)
    vocab = np.array(["alpha", "bravo", "charlie", "delta", "echo",
                      "foxtrot", "golf", "hotel", "india", "juliet",
                      "kilo", "lima", "mike", "november", "oscar"])
    base = _sentences(rng, 30, vocab)
    shared = _sentences(rng, 15, vocab)  # common boilerplate block
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                                     # verbatim
            (2, base + " " + _sentences(rng, 1, vocab)),   # one appended sent
            (3, shared + " " + _sentences(rng, 15, vocab)),  # sibling A
            (4, shared + " " + _sentences(rng, 15, vocab)),  # sibling B
            (5, _sentences(rng, 30, vocab)),               # unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_verified_pairs(docs).collect()
    }
    assert (0, 1) in got, "verbatim pair missed"
    assert (0, 2) in got and (1, 2) in got, "near pair missed"
    assert not any(3 in p or 4 in p for p in got), (
        f"boilerplate siblings falsely paired: {got}"
    )
    assert not any(5 in p for p in got)


def test_corpus_dedup_exact_then_near(spark):
    """corpus_dedup: exact copies collapse through the md5 group stage,
    near-dups through verified LSH, and the final frame is doc-level
    with global-min keepers and doc-level cluster sizes."""
    rng = np.random.RandomState(43)
    vocab = np.array(["papa", "quebec", "romeo", "sierra", "tango",
                      "uniform", "victor", "whiskey", "xray", "yankee"])
    base = _sentences(rng, 25, vocab)
    near = base + " " + _sentences(rng, 1, vocab)
    other = _sentences(rng, 25, vocab)
    docs = spark.createDataFrame(
        [("d1", base), ("d3", base), ("d5", base),      # exact x3
         ("d2", near),                                   # near of the trio
         ("d4", other), ("d0", other),                   # exact x2
         ("d9", _sentences(rng, 25, vocab))],            # singleton
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in dd.corpus_dedup(docs).collect()}
    assert len(got) == 7
    # {d1,d3,d5,d2} one cluster, keeper d1 (global min); sizes DOC-level
    for d in ("d1", "d3", "d5", "d2"):
        assert got[d]["keeper_id"] == "d1"
        assert got[d]["cluster_size"] == 4
    assert got["d1"]["is_keeper"] and not got["d2"]["is_keeper"]
    # {d4,d0} keeper d0
    assert got["d4"]["keeper_id"] == "d0" and got["d0"]["is_keeper"]
    assert got["d0"]["cluster_size"] == 2
    assert got["d9"]["is_keeper"] and got["d9"]["cluster_size"] == 1


def test_corpus_dedup_closes_at_representative_level(spark, monkeypatch):
    """Verbatim copies never reach the closure: its edge list holds only
    the verified pairs between representatives, so the driver/distributed
    CC switch does not count copies, and both CC paths resolve alike
    with doc-level cluster sizes."""
    from driftmind_spark.kg import cc

    real, modes = cc.connected_components, []

    def spy(vertices, edges, **kw):
        stats = {}
        out = real(vertices, edges, stats=stats, **kw)
        modes.append(stats["mode"])
        return out

    monkeypatch.setattr(cc, "connected_components", spy)
    rng = np.random.RandomState(53)
    vocab = np.array(["amber", "birch", "cedar", "delta", "elder",
                      "fjord", "grove", "heath", "inlet", "juniper"])
    base = _sentences(rng, 25, vocab)
    docs = spark.createDataFrame(
        [(f"c{i:02d}", base) for i in range(40)]               # exact x40
        + [("n0", base + " " + _sentences(rng, 1, vocab)),     # near
           ("x0", _sentences(rng, 25, vocab))],                # singleton
        "doc_id string, text string",
    )
    on_driver = sorted(
        map(tuple, dd.corpus_dedup(docs, small_graph_threshold=1).collect()))
    assert modes == ["driver_union_find"]  # one edge: (c00, n0)
    distributed = sorted(
        map(tuple, dd.corpus_dedup(docs, small_graph_threshold=0).collect()))
    assert modes == ["driver_union_find", "alternating_star"]
    assert on_driver == distributed
    got = {r[0]: r[1:] for r in on_driver}
    assert got["c00"] == ("c00", True, 41)
    assert got["c39"] == got["n0"] == ("c00", False, 41)
    assert got["x0"] == ("x0", True, 1)


def test_portable_sample_mod_takes_effect(spark):
    """Regression (round-5 review): the portable path used to ignore
    sample_mod entirely (hardcoded 1/4 digits).  Different mods must
    sample different shingle sets, mod=4 must keep the oracle's exact
    '0'..'3' digits, and non-divisors of 16 are rejected."""
    from driftmind_spark.operators.dedup import (
        _minhash_signatures,
        _portable_sample_digits,
    )

    assert _portable_sample_digits(4) == ["0", "1", "2", "3"]
    assert _portable_sample_digits(8) == ["0", "1"]
    assert _portable_sample_digits(1) == list("0123456789abcdef")
    with pytest.raises(ValueError, match="dividing 16"):
        _portable_sample_digits(3)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog repeatedly "
          "while seventeen violet zeppelins hover above the harbor")],
        "doc_id long, text string",
    )
    s4 = _minhash_signatures(docs, "text", 8, 5, sample_mod=4).collect()[0]
    s16 = _minhash_signatures(docs, "text", 8, 5, sample_mod=16).collect()[0]
    # a 1/16 sample is a subset of the 1/4 sample, so every min can only
    # rise; at least one slot must actually change on this text
    assert any(s16[f"s{i}"] != s4[f"s{i}"] for i in range(8))
    assert all(s16[f"s{i}"] >= s4[f"s{i}"] for i in range(8))


def test_corpus_dedup_idempotent(spark):
    """Fixed-point property: running corpus_dedup over the keepers of a
    previous run must drop nothing — every surviving doc is its own
    keeper in a singleton cluster.  (The round-5 over-merge bug would
    fail this: unverified chaining kept collapsing survivors.)"""
    rng = np.random.RandomState(47)
    vocab = np.array(["zulu", "actor", "binder", "copper", "dragon",
                      "ember", "falcon", "garnet", "harbor", "island"])
    rows = []
    for i in range(12):
        base = _sentences(rng, 20, vocab)
        rows.append((f"s{i}a", base))
        if i % 3 == 0:
            rows.append((f"s{i}b", base))                       # exact
        if i % 4 == 0:
            rows.append((f"s{i}c", base + " " + _sentences(rng, 1, vocab)))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    res1 = dd.corpus_dedup(docs)
    keepers = docs.join(
        res1.filter("is_keeper").select("doc_id"), "doc_id", "left_semi"
    )
    res2 = dd.corpus_dedup(keepers)
    again = res2.filter("not is_keeper").count()
    assert again == 0, f"dedup not idempotent: {again} re-drops"
    assert res2.filter("cluster_size > 1").count() == 0
    # and the first pass did collapse the planted families
    assert res1.filter("not is_keeper").count() >= 4


def test_dedup_resolution_string_ids(spark):
    """The documented composition with the perceptual pair families:
    STRING media ids must flow through the CC driver path (its label
    schema follows the vertex id type — round-4 review fix)."""
    docs = spark.createDataFrame(
        [(f"m{i}",) for i in range(6)], "media_id string"
    )
    pairs = spark.createDataFrame(
        [("m0", "m1"), ("m1", "m2"), ("m4", "m5")],
        "media_a string, media_b string",
    )
    got = {r["media_id"]: (r["keeper_id"], r["is_keeper"], r["cluster_size"])
           for r in dd.dedup_resolution(
               docs, pairs, id_col="media_id",
               pair_a="media_a", pair_b="media_b").collect()}
    assert got["m2"] == ("m0", False, 3)
    assert got["m0"] == ("m0", True, 3)
    assert got["m3"] == ("m3", True, 1)
    assert got["m5"] == ("m4", False, 2)


def test_corpus_dedup_null_text_not_dropped(spark):
    """Round-6 advice fix: NULL text coalesces to '' — null-text docs
    must appear in the output (previously md5(NULL)=NULL made every
    inner join miss them and they vanished: neither keeper nor dup)."""
    docs = spark.createDataFrame(
        [("n1", None), ("n2", None), ("e1", ""), ("t1", "real content here")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in dd.corpus_dedup(docs).collect()}
    assert set(got) == {"n1", "n2", "e1", "t1"}, "null-text docs dropped"
    # NULL == '' after coalesce: {n1, n2, e1} are exact copies, keeper e1
    assert got["e1"]["is_keeper"] and got["e1"]["cluster_size"] == 3
    assert got["n1"]["keeper_id"] == "e1" and not got["n1"]["is_keeper"]
    assert got["t1"]["is_keeper"] and got["t1"]["cluster_size"] == 1


def test_short_docs_get_signatures(spark):
    """Round-6 advice fix: docs with fewer than shingle_k words (null
    zip_with padding) and docs whose few grams all missed the 1/mod
    sample used to be signature-less — invisible to near-dup detection.
    Now every doc gets >= 1 gram (null-fold coalesce + first-gram-always
    sampling), so every doc has a full signature row."""
    from driftmind_spark.operators.dedup import _minhash_signatures

    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three tiny words"),
         (4, "exactly four word doc"),
         (5, "a full five word document now present")],
        "doc_id long, text string",
    )
    sig = _minhash_signatures(docs, "text", 8, 5, portable=False,
                              sample_mod=4)
    rows = sig.collect()
    assert len(rows) == 5, f"missing signatures: {sorted(r[0] for r in rows)}"
    assert all(r[f"s{i}"] is not None for r in rows for i in range(8))
    # and identical short texts still agree slot-for-slot
    twins = spark.createDataFrame(
        [(10, "tiny doc"), (11, "tiny doc")], "doc_id long, text string"
    )
    t = {r["doc_id"]: [r[f"s{i}"] for i in range(8)]
         for r in _minhash_signatures(
             twins, "text", 8, 5, portable=False).collect()}
    assert t[10] == t[11]


def test_corpus_dedup_params_shared_with_stats(spark):
    """Round-6 advice fix: the observability call must see the SAME
    signature construction as the production pair run —
    CORPUS_DEDUP_SIG_DEFAULTS is the single source of truth for both."""
    from driftmind_spark.operators.dedup import (
        CORPUS_DEDUP_SIG_DEFAULTS,
        minhash_hot_band_stats,
    )

    p = CORPUS_DEDUP_SIG_DEFAULTS
    assert p["portable"] is False, "defaults must match the production path"

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with some shared words in it plus token{i}")
         for i in range(6)],
        "doc_id long, text string",
    )
    # stats call with the resolved params runs against the production
    # (portable=False) construction without error
    stats = minhash_hot_band_stats(docs, **CORPUS_DEDUP_SIG_DEFAULTS)
    assert stats.columns == ["band_idx", "band_hash", "bucket_size"]
    assert stats.count() == 0  # 6 distinct docs saturate no bucket


def test_corpus_dedup_params_none_disables_cap(spark):
    """Round-6 review fix: max_bucket_size=None means DISABLE the cap
    (the documented pre-round-6 semantics), not 'use the default'."""
    from driftmind_spark.operators.dedup import (
        CORPUS_DEDUP_SIG_DEFAULTS, minhash_hot_band_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"shared words everywhere {i}") for i in range(4)],
        "doc_id long, text string",
    )
    # stats with a disabled cap: nothing is ever dropped -> empty frame
    stats = minhash_hot_band_stats(
        docs, **{**CORPUS_DEDUP_SIG_DEFAULTS, "max_bucket_size": None}
    )
    assert stats.count() == 0


def test_hoisted_norm_cosine_bit_identical(spark):
    """Round 9: brute_force_topk / lsh_topk / ivf_topk /
    embedding_near_dups hoist the per-side L2 norms to before their
    joins (evaluated once per vector instead of once per pair).  The
    hoist is pure common-subexpression motion — l2_norm is the exact
    aggregate cosine_sim uses — so scores must be BIT-identical, not
    merely close, including the edge cases the when() guard handles
    (zero vector, mismatched lengths, negative components)."""
    from driftmind_spark.functions.text import (
        cosine_sim,
        cosine_sim_prenorm,
        l2_norm,
    )

    rows = [
        (1, [1.0, 2.0, -3.0], [0.5, -0.25, 4.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),      # zero-norm guard
        (3, [1.0, 2.0], [1.0, 2.0, 3.0]),           # size mismatch guard
        (4, [1e-8, 2e-8, 3e-8], [3e8, 2e8, 1e8]),   # extreme magnitudes
        (5, [0.1] * 64, [0.30000000000000004] * 64),  # fold-order sensitive
        (6, [float("nan"), 1.0], [1.0, 1.0]),       # NaN norm -> NaN
        (7, [float("inf"), 1.0], [1.0, 1.0]),       # inf / inf -> NaN
    ]
    df = spark.createDataFrame(rows, ["id", "a", "b"])

    def ref_norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))

    def ref_cosine(a, b):
        # the same formula built node by node through the Column API
        dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                          lambda acc, v: acc + v)
        na, nb = ref_norm(a), ref_norm(b)
        return F.when((F.size(a) != F.size(b)) | (na == 0.0) | (nb == 0.0),
                      F.lit(0.0)).otherwise(dot / (na * nb))

    inline = df.select("id", cosine_sim("a", "b").alias("c"))
    hoisted = (
        df.withColumn("na", l2_norm("a"))
        .withColumn("nb", l2_norm("b"))
        .select("id", cosine_sim_prenorm("a", "b", "na", "nb").alias("c"))
    )
    reference = df.select("id", ref_cosine(F.col("a"), F.col("b")).alias("c"))
    # repr equality: exact, no tolerance, and NaN matches NaN (which
    # float == would reject) while -0.0 stays distinct from 0.0
    got_i = {r["id"]: repr(r["c"]) for r in inline.collect()}
    got_h = {r["id"]: repr(r["c"]) for r in hoisted.collect()}
    got_r = {r["id"]: repr(r["c"]) for r in reference.collect()}
    assert got_i == got_h == got_r
    assert got_i[6] == got_i[7] == "nan"
