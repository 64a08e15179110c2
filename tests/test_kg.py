"""KG pipeline tests: connected components vs union-find oracle, LSH
blocking recall, end-to-end P/R gate, canonicalization purity, and
kill/resume identity (north_rule resumability)."""

import os

import pytest
from pyspark.sql import functions as F

from driftmind_spark.kernels.vocab import ALIASES
from driftmind_spark.kg.blocking import candidate_pairs, mentions_from_triples
from driftmind_spark.kg.cc import canonical_mapping, connected_components
from driftmind_spark.kg.pipeline import StageKill, run
from driftmind_spark.kg.triples import dedup_triples, extract_triples_df


# ---- connected components vs union-find oracle --------------------------------

def _union_find_oracle(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully canonicalize: label = min member id of the component
    return {i: find(i) for i in range(n)}


@pytest.mark.parametrize(
    "n,edge_list",
    [
        (6, [(0, 1), (1, 2), (3, 4)]),
        (8, [(0, 7), (7, 3), (3, 5), (1, 2), (2, 6)]),
        (5, []),
        (10, [(i, i + 1) for i in range(9)]),  # long chain (worst diameter)
        (7, [(0, 1), (0, 2), (0, 3), (4, 5), (5, 6), (4, 6)]),
    ],
)
def test_connected_components_matches_union_find(spark, n, edge_list):
    vertices = spark.createDataFrame([(i,) for i in range(n)], "mention_id long")
    edges = spark.createDataFrame(
        edge_list or [(-1, -1)], "src long, dst long"
    )
    if not edge_list:
        edges = edges.filter(F.col("src") >= 0)
    expected = _union_find_oracle(n, edge_list)
    # both paths must agree with the oracle: the driver union-find fast
    # path (default threshold) and the distributed alternating
    # large/small-star path (threshold 0 forces it)
    for threshold in (200_000, 0):
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                vertices, edges, max_iter=30,
                small_graph_threshold=threshold,
            ).collect()
        }
        assert got == expected, f"threshold={threshold}"


def test_connected_components_raises_on_non_convergence(spark):
    """Hitting max_iter before the star fixpoint must fail loudly, never
    return silently split components (r1 advice)."""
    n = 64
    vertices = spark.createDataFrame([(i,) for i in range(n)], "mention_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iter=1,
                             small_graph_threshold=0)


def test_connected_components_path_worst_case_low_rounds(spark):
    """Giant-diameter worst case (north_rule: a 100-TB crawl WILL have a
    giant component): 100 disjoint 1000-node paths = 10^5 nodes,
    diameter 999.  Plain min-label propagation needs ~1000 rounds; the
    alternating large/small-star algorithm must converge in O(log²)
    rounds and match the union-find oracle exactly."""
    paths, plen = 100, 1000
    n = paths * plen
    edge_list = [
        (p * plen + i, p * plen + i + 1)
        for p in range(paths)
        for i in range(plen - 1)
    ]
    vertices = spark.range(n).withColumnRenamed("id", "mention_id")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    stats: dict = {}
    got = connected_components(vertices, edges, max_iter=40, stats=stats,
                               small_graph_threshold=0)
    assert stats["mode"] == "alternating_star"
    assert stats["rounds"] <= 25, stats
    # every node's component == its path's first node id
    bad = got.filter(
        F.col("component") != (F.col("id") - F.col("id") % plen)
    ).count()
    assert bad == 0


# ---- blocking + canonicalization over planted clusters ------------------------

@pytest.fixture(scope="module")
def triples_df(spark, pages_dir):
    pages = spark.read.parquet(f"{pages_dir}/pages.parquet")
    return extract_triples_df(pages).cache()


def test_mentions_distinct_surfaces(spark, triples_df):
    mentions = mentions_from_triples(triples_df)
    pdm = mentions.toPandas()
    assert pdm["surface"].is_unique
    assert (pdm["n_mentions"] >= 1).all()
    # every surface used in sentences is a known alias
    assert set(pdm["surface"]).issubset(set(ALIASES))


def test_lsh_candidate_recall_on_planted_variants(spark, triples_df):
    """Near-duplicate surface pairs (jaccard >= 0.4 on 3-shingles) of the
    same planted entity must appear among LSH candidates."""
    from driftmind_spark.kernels import hashing as hk

    mentions = mentions_from_triples(triples_df).cache()
    surfaces = [r["surface"] for r in mentions.select("surface").collect()]
    pairs = {
        tuple(sorted((a, b)))
        for a in surfaces
        for b in surfaces
        if a < b and ALIASES[a] == ALIASES[b]
        and hk.jaccard(
            set(hk.char_shingles(a.lower(), 3)), set(hk.char_shingles(b.lower(), 3))
        ) >= 0.4
    }
    got = {
        tuple(sorted((r["surface_a"], r["surface_b"])))
        for r in candidate_pairs(mentions).collect()
    }
    missed = pairs - got
    assert len(pairs) > 5
    assert len(missed) / len(pairs) <= 0.1, f"missed {missed}"


def test_candidate_pairs_cap_is_broadcast_anti(spark, triples_df):
    """Round 4: the hot-bucket cap must plan as a BROADCAST anti join
    against the tiny over-cap list — never an inner join shuffling the
    full bucket-size dictionary with the banded stream."""
    mentions = mentions_from_triples(triples_df)
    df = candidate_pairs(mentions, max_bucket_size=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, "cap is not an anti join"
    anti_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert any("Broadcast" in l for l in anti_lines), "cap side not broadcast"
    # tightening the cap can only remove pairs, never add them
    capped = df.count()
    uncapped = candidate_pairs(mentions, max_bucket_size=10 ** 6).count()
    assert capped <= uncapped


def test_link_scoring_defaults_to_the_kg_embedding_dim(spark, triples_df):
    """Every entry point that embeds chunks or link surfaces defaults to
    the one KG dimension, so a direct ``all_link_edges`` call scores the
    same pairs, with the same cosines, as the pipeline's nodes stage."""
    import inspect

    from driftmind_spark.kg import graph, incremental, linking, pipeline
    from driftmind_spark.streaming import ingest

    for fn in (linking.score_candidate_pairs, linking.all_link_edges,
               graph.build_nodes, incremental.incremental_nodes,
               pipeline.run, ingest.stream_ingest,
               ingest.rebuild_kg_snapshot,
               ingest.rebuild_kg_snapshot_incremental):
        default = inspect.signature(fn).parameters["embedding_dim"].default
        assert default == linking.EMBEDDING_DIM == 64, fn.__qualname__

    aliases = spark.createDataFrame(sorted(ALIASES.items()),
                                    "alias string, entity string")
    _, (mentions, pipeline_links) = graph.build_nodes(triples_df, aliases)
    direct = linking.all_link_edges(mentions, aliases,
                                    candidate_pairs(mentions))

    def links(df):
        return sorted(tuple(r) for r in df.select(
            "src", "dst", "evidence", "cosine").collect())

    got = links(direct)
    assert any(e == "cosine" or c < 1.0 for _, _, e, c in got)
    assert got == links(pipeline_links)
    mentions.unpersist()
    pipeline_links.unpersist()


def test_dedup_triples_counts(spark, triples_df):
    dd = dedup_triples(triples_df)
    assert dd.count() <= triples_df.count()
    assert dd.agg(F.sum("support")).first()[0] == triples_df.count()


# ---- end-to-end pipeline + gates ----------------------------------------------

@pytest.fixture(scope="module")
def pipeline_out(spark, pages_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    metrics = run(spark, pages_dir, out, embedding_dim=32, n_buckets=8)
    return out, metrics


def test_pipeline_metrics(pipeline_out):
    _, m = pipeline_out
    assert m["chunks"] > 0 and m["triples"] > 0
    assert m["edges"] == m["triples"]  # every triple resolves (closed vocab)
    assert m["components"] <= m["nodes"]


def test_observed_component_count(spark, pipeline_out):
    """The component count the nodes write observes (rows whose mention
    is its own canonical id) equals the distinct canonical ids."""
    out, m = pipeline_out
    nodes = spark.read.parquet(f"{out}/nodes")
    assert m["components"] == nodes.select(
        F.count_distinct("canonical_id")).first()[0]
    assert m["nodes"] == nodes.count()


def test_pipeline_pr_gate_spark(spark, pages_dir, pipeline_out):
    """North-rule gate: Spark-emitted triples vs planted truth, P/R >= 0.95."""
    out, _ = pipeline_out
    got = spark.read.parquet(f"{out}/triples").select("url", "subj", "pred", "obj")
    exp = spark.read.parquet(f"{pages_dir}/expected_triples.parquet").select(
        "url", "subj", "pred", "obj"
    )
    tp = got.intersect(exp).count()
    precision = tp / got.distinct().count()
    recall = tp / exp.distinct().count()
    assert precision >= 0.95 and recall >= 0.95


def test_canonicalization_purity(spark, pipeline_out):
    """No planted entity split across clusters; no cluster mixing planted
    entities (homogeneity + completeness = 1 on the closed vocabulary)."""
    out, _ = pipeline_out
    pdn = spark.read.parquet(f"{out}/nodes").toPandas()
    pdn["truth"] = pdn["surface"].map(lambda s: ALIASES.get(s, s))
    assert (pdn.groupby("truth")["canonical_id"].nunique() == 1).all()
    assert (pdn.groupby("canonical_id")["truth"].nunique() == 1).all()


def test_edges_resolved_to_canonicals(spark, pipeline_out):
    out, _ = pipeline_out
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.filter(F.col("subj_id").isNull() | F.col("obj_id").isNull()).count() == 0
    # canonical surfaces are canonical ids' elected surfaces, never null
    assert edges.filter(F.col("subj_canonical").isNull()).count() == 0


# ---- resumability (north_rule): kill mid-run, resume, identical output --------

def _table_fingerprint(spark, path, cols):
    return _df_fingerprint(spark.read.parquet(path), cols)


def _df_fingerprint(df, cols):
    df = df.select(*cols)
    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).first()
    return (row["n"], row["h"])


def test_kill_and_resume_identical(spark, pages_dir, tmp_path_factory):
    out_killed = str(tmp_path_factory.mktemp("kg_resume"))
    out_full = str(tmp_path_factory.mktemp("kg_full"))

    with pytest.raises(StageKill):
        run(spark, pages_dir, out_killed, embedding_dim=32, n_buckets=8,
            fail_after_stage="triples")
    # lineage shows chunks+triples committed, nodes/edges absent
    lin = spark.read.parquet(f"{out_killed}/lineage")
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "chunks", "triples"}
    assert not os.path.exists(f"{out_killed}/nodes")

    # resume completes; independent full run for comparison
    run(spark, pages_dir, out_killed, embedding_dim=32, n_buckets=8)
    run(spark, pages_dir, out_full, embedding_dim=32, n_buckets=8)

    for table, cols in [
        ("triples", ["url", "subj", "pred", "obj"]),
        ("nodes", ["surface", "canonical_surface"]),
        ("edges", ["url", "subj_canonical", "pred", "obj_canonical"]),
        ("chunks", ["url", "chunk_index", "content"]),
    ]:
        fp_resumed = _table_fingerprint(spark, f"{out_killed}/{table}", cols)
        fp_full = _table_fingerprint(spark, f"{out_full}/{table}", cols)
        assert fp_resumed == fp_full, f"{table} differs after resume"


def test_degenerate_corpus_zero_triples(spark, tmp_path_factory):
    """A corpus whose pages yield no triples (edge pages only) must still
    complete: empty stage outputs keep a readable schema (regression for
    the partitionBy-drops-empty-schema bug found in verification)."""
    from driftmind_spark.synth import write_corpus

    corpus = str(tmp_path_factory.mktemp("tiny_corpus"))
    write_corpus(corpus, n=8)
    out = str(tmp_path_factory.mktemp("tiny_out"))
    m = run(spark, corpus, out, embedding_dim=32, n_buckets=4)
    assert m["triples"] == 0 and m["edges"] == 0 and m["nodes"] == 0
    # and a resume over the empty tables also works
    m2 = run(spark, corpus, out, embedding_dim=32, n_buckets=4)
    assert m2["triples"] == 0


def test_resume_skips_completed_buckets(spark, pages_dir, tmp_path_factory):
    """Second run of the same run_id must not reprocess: lineage row count
    per (stage, bucket) stays 1."""
    out = str(tmp_path_factory.mktemp("kg_skip"))
    run(spark, pages_dir, out, embedding_dim=32, n_buckets=8)
    run(spark, pages_dir, out, embedding_dim=32, n_buckets=8)
    lin = spark.read.parquet(f"{out}/lineage")
    dupes = (
        lin.filter(F.col("stage").isin("extract", "chunks", "triples"))
        .groupBy("stage", "bucket").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


# ---- bucket count: one default, checked on resume ---------------------------

def _jobs_and_files(spark, out, call):
    """Run ``call`` in its own job group; return its Spark job count and
    the (path, size, mtime) listing of ``out`` before and after."""
    import uuid

    def listing():
        return sorted(
            (os.path.join(d, f), os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for d, _, fs in os.walk(out) for f in fs
        )

    before = listing()
    sc = spark.sparkContext
    group = f"kg-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return (len(sc.statusTracker().getJobIdsForGroup(group)), before,
            listing())


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    from driftmind_spark.synth import write_corpus

    out = str(tmp_path_factory.mktemp("small_corpus"))
    write_corpus(out, n=40, seed=5)
    return out


@pytest.mark.parametrize("built,resumed", [(8, 16), (16, 8)])
def test_resume_under_other_bucket_count_raises(
        spark, small_corpus, tmp_path_factory, built, resumed):
    """Bucket b holds different urls under another count, so a resume
    that mixes counts would duplicate rows: it must raise before any
    Spark job and write nothing."""
    out = str(tmp_path_factory.mktemp("kg_nbuckets"))
    with pytest.raises(StageKill):
        run(spark, small_corpus, out, embedding_dim=32, n_buckets=built,
            fail_after_stage="chunks")

    def resume():
        with pytest.raises(ValueError, match=f"{built} buckets.*"
                                             f"n_buckets={resumed}"):
            run(spark, small_corpus, out, embedding_dim=32,
                n_buckets=resumed)

    jobs, before, after = _jobs_and_files(spark, out, resume)
    assert jobs == 0
    assert after == before
    # the recorded count rides in the first commit, once
    lin = spark.read.parquet(f"{out}/lineage")
    recorded = lin.filter(F.col("status") == "n_buckets").collect()
    assert [(r["stage"], r["bucket"], r["row_count"]) for r in recorded] \
        == [("extract", -1, built)]


def test_new_run_id_under_other_bucket_count_raises(
        spark, small_corpus, tmp_path_factory):
    """The count belongs to the out_dir, not to one run: a new run_id
    under another count would overwrite buckets 0..7 and leave the old
    count's other bucket directories in every table."""
    out = str(tmp_path_factory.mktemp("kg_nbuckets_new_run"))
    run(spark, small_corpus, out, run_id="a", embedding_dim=32,
        n_buckets=16)

    def other_run():
        with pytest.raises(ValueError, match="16 buckets.*n_buckets=8"):
            run(spark, small_corpus, out, run_id="b", embedding_dim=32,
                n_buckets=8)

    jobs, before, after = _jobs_and_files(spark, out, other_run)
    assert jobs == 0
    assert after == before


def test_resume_unrecorded_count_with_stray_bucket_raises(
        spark, small_corpus, tmp_path_factory):
    """A lineage that predates the recorded count is a mismatch when a
    committed bucket lies outside range(n_buckets)."""
    from driftmind_spark.kg import lineage as ln

    out = str(tmp_path_factory.mktemp("kg_legacy_buckets"))
    ln.Lineage(spark, out, "run-1").commit_buckets(
        "extract", [3, 12], {"rows_3": 2, "rows_12": 1})
    assert not ln.Lineage(spark, out, "run-1").bucket_counts

    def resume():
        with pytest.raises(ValueError, match="buckets up to 12"):
            run(spark, small_corpus, out, embedding_dim=32, n_buckets=8)

    jobs, before, after = _jobs_and_files(spark, out, resume)
    assert jobs == 0 and after == before
    # every committed bucket inside range(n_buckets): no mismatch
    assert ln.Lineage(spark, out, "run-1", 13).completed_buckets(
        "extract") == {3, 12}


def test_default_bucket_count_is_one_constant():
    import inspect

    from driftmind_spark.kg import graph, incremental
    from driftmind_spark.kg import lineage as ln
    from driftmind_spark.kg import pipeline
    from driftmind_spark.streaming import ingest

    entry_points = [
        pipeline.run, ln.bucket_col, graph.build_nodes, graph.build_edges,
        incremental.incremental_nodes, ingest.stream_ingest,
        ingest.rebuild_kg_snapshot, ingest.rebuild_kg_snapshot_incremental,
    ]
    for fn in entry_points:
        default = inspect.signature(fn).parameters["n_buckets"].default
        assert default == ln.N_BUCKETS, fn.__qualname__
    assert ln.N_BUCKETS == 8


# ---- corpus-level near-dup dedup stage (round 5) ---------------------------

@pytest.fixture(scope="module")
def dup_corpus(tmp_path_factory):
    """400 pages with ~15% planted near-duplicate clones (half verbatim,
    half one-appended-paragraph)."""
    from driftmind_spark.synth import write_corpus

    corpus = str(tmp_path_factory.mktemp("dup_corpus"))
    write_corpus(corpus, n=400, dup_rate=0.15)
    return corpus


@pytest.fixture(scope="module")
def dedup_pipeline_out(spark, dup_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_dedup_out"))
    metrics = run(spark, dup_corpus, out, embedding_dim=32, n_buckets=8,
                  dedup=True)
    return out, metrics


def test_dedup_stage_collapses_duplicates(spark, dup_corpus, dedup_pipeline_out):
    from driftmind_spark.synth import _is_planted_clone

    out, m = dedup_pipeline_out
    assert m["dedup_dropped"] > 0
    assert m["dedup_kept"] + m["dedup_dropped"] == m["extracted"]

    # No over-merge (round-5 regression: unverified LSH candidates chained
    # 87% of a boilerplate-heavy corpus into one cluster through CC).
    # Planted clones are the only true duplicates here; signature-agreement
    # verification must keep the drop count in their neighborhood, and
    # verbatim clones (exact-md5 recall is structural) must ALL be caught.
    n_planted = sum(_is_planted_clone(i, 42, 0.15) for i in range(400))
    assert m["dedup_dropped"] <= n_planted + 5, (
        f"over-merge: dropped {m['dedup_dropped']} vs {n_planted} planted"
    )
    ext = spark.read.parquet(f"{out}/extracted")
    n_verbatim_extra = (
        ext.groupBy("text").count().filter("count > 1")
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0))).collect()[0][0]
    )
    assert m["dedup_dropped"] >= n_verbatim_extra
    assert m["dedup_kept"] == spark.read.parquet(f"{out}/extracted_dedup").count()

    # verbatim clones have identical MinHash signatures, so exact-dup
    # recall is structural: the deduped corpus contains no two docs with
    # the same non-empty text
    ded = spark.read.parquet(f"{out}/extracted_dedup")
    assert (
        ded.filter(F.length("text") > 0)
        .groupBy("text").count().filter(F.col("count") > 1).count()
    ) == 0

    # keeper election is the cluster's minimum doc id (deterministic)
    audit = spark.read.parquet(f"{out}/dedup_audit")
    per_cluster = audit.groupBy("keeper_id").agg(F.min("doc_id").alias("lo"))
    assert per_cluster.filter(F.col("keeper_id") != F.col("lo")).count() == 0
    # the audit table holds whole clusters: keeper row + non-keepers
    assert audit.filter(F.col("is_keeper")).count() > 0
    assert audit.filter(~F.col("is_keeper")).count() == m["dedup_dropped"]


def test_dedup_stage_downstream_consumes_keepers(spark, dedup_pipeline_out):
    """chunks/triples must be built from the deduped corpus only, and the
    aligned shuffle-free write must survive the extra stage."""
    import glob

    out, m = dedup_pipeline_out
    chunk_urls = spark.read.parquet(f"{out}/chunks").select("url").distinct()
    keepers = spark.read.parquet(f"{out}/extracted_dedup").select("url")
    assert chunk_urls.join(keepers, "url", "left_anti").count() == 0
    dropped = (
        spark.read.parquet(f"{out}/dedup_audit")
        .filter(~F.col("is_keeper"))
        .select(F.col("doc_id").alias("url"))
    )
    assert chunk_urls.join(dropped, "url", "left_semi").count() == 0
    for table in ("chunks", "triples"):
        files = glob.glob(f"{out}/{table}/bucket=*/*.parquet")
        buckets = glob.glob(f"{out}/{table}/bucket=*")
        assert buckets and len(files) <= 4 * len(buckets)


def test_dedup_kill_and_resume_identical(spark, dup_corpus, tmp_path_factory):
    """Kill right after the dedup stage commit; the resumed run must
    produce tables identical to an independent full dedup run — including
    the dedup tables themselves (deterministic pairs + CC + keeper)."""
    out_killed = str(tmp_path_factory.mktemp("kg_dedup_resume"))
    out_full = str(tmp_path_factory.mktemp("kg_dedup_full"))

    with pytest.raises(StageKill):
        run(spark, dup_corpus, out_killed, embedding_dim=32, n_buckets=8,
            dedup=True, fail_after_stage="dedup")
    lin = spark.read.parquet(f"{out_killed}/lineage")
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "dedup", "dedup_dropped",
                      "dedup_sig_version"}
    assert not os.path.exists(f"{out_killed}/chunks")

    run(spark, dup_corpus, out_killed, embedding_dim=32, n_buckets=8, dedup=True)
    run(spark, dup_corpus, out_full, embedding_dim=32, n_buckets=8, dedup=True)

    for table, cols in [
        ("extracted_dedup", ["url", "text"]),
        ("dedup_audit", ["doc_id", "keeper_id", "is_keeper", "cluster_size"]),
        ("triples", ["url", "subj", "pred", "obj"]),
        ("nodes", ["surface", "canonical_surface"]),
        ("edges", ["url", "subj_canonical", "pred", "obj_canonical"]),
        ("chunks", ["url", "chunk_index", "content"]),
    ]:
        fp_resumed = _table_fingerprint(spark, f"{out_killed}/{table}", cols)
        fp_full = _table_fingerprint(spark, f"{out_full}/{table}", cols)
        assert fp_resumed == fp_full, f"{table} differs after resume"


def test_dedup_noop_on_clean_corpus(spark, tmp_path_factory):
    """dedup=True over a corpus with no duplicate content must keep every
    page and write an empty (but readable) audit table."""
    from driftmind_spark.synth import write_corpus

    corpus = str(tmp_path_factory.mktemp("clean_corpus"))
    # edge pages only: unique texts, incl. the empty page
    write_corpus(corpus, n=8)
    out = str(tmp_path_factory.mktemp("clean_out"))
    m = run(spark, corpus, out, embedding_dim=32, n_buckets=4, dedup=True)
    assert m["dedup_dropped"] == 0 and m["dedup_kept"] == 8
    audit = spark.read.parquet(f"{out}/dedup_audit")
    assert audit.count() == 0 and "is_keeper" in audit.columns


def test_aligned_write_no_file_fanout(pipeline_out):
    """pre_clustered write (r3): the chunks/triples stages inherit the
    extracted table's bucket clustering, so skipping the repartition
    must NOT fan files out to tasks x buckets — each bucket directory
    stays at ~one file per contributing input split."""
    import glob

    out, _ = pipeline_out
    for table in ("chunks", "triples"):
        files = glob.glob(f"{out}/{table}/bucket=*/*.parquet")
        buckets = glob.glob(f"{out}/{table}/bucket=*")
        assert len(buckets) > 0
        assert len(files) <= 4 * len(buckets), (
            f"{table}: {len(files)} files over {len(buckets)} buckets"
        )


# ---- quality-gate stage (round 6) ------------------------------------------

@pytest.fixture(scope="module")
def junk_corpus(tmp_path_factory):
    """400 pages with ~15% planted junk (gibberish / fragments / symbol
    noise) the quality gate must reject."""
    from driftmind_spark.synth import write_corpus

    corpus = str(tmp_path_factory.mktemp("junk_corpus"))
    write_corpus(corpus, n=400, junk_rate=0.15)
    return corpus


@pytest.fixture(scope="module")
def quality_pipeline_out(spark, junk_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_quality_out"))
    metrics = run(spark, junk_corpus, out, embedding_dim=32, n_buckets=8,
                  quality=True)
    return out, metrics


def test_quality_stage_rejects_planted_junk(spark, junk_corpus,
                                            quality_pipeline_out):
    from driftmind_spark.synth import _is_planted_junk, generate_page

    out, m = quality_pipeline_out
    assert m["quality_kept"] + m["quality_dropped"] == m["extracted"]
    assert m["quality_dropped"] > 0

    junk_urls = {
        generate_page(i, 42, junk_rate=0.15)["url"]
        for i in range(400) if _is_planted_junk(i, 42, 0.15)
    }
    assert junk_urls, "fixture must actually plant junk"
    kept = {r["url"] for r in
            spark.read.parquet(f"{out}/extracted_quality")
            .select("url").collect()}
    # every planted junk page is rejected (recall = 1 on planted junk)
    assert not (junk_urls & kept)
    # and the gate is not a shredder: most real pages survive
    assert m["quality_kept"] >= 0.5 * (400 - len(junk_urls))

    audit = spark.read.parquet(f"{out}/quality_audit")
    assert audit.count() == m["quality_dropped"]
    # audit rows carry at least one reason, and junk urls are all there
    assert audit.filter(F.size("reject_reasons") == 0).count() == 0
    audited = {r["url"] for r in audit.select("url").collect()}
    assert junk_urls <= audited

    # downstream consumed the gated corpus only
    chunk_urls = spark.read.parquet(f"{out}/chunks").select("url").distinct()
    gated = spark.read.parquet(f"{out}/extracted_quality").select("url")
    assert chunk_urls.join(gated, "url", "left_anti").count() == 0


def test_quality_reason_counts(spark):
    from driftmind_spark.operators.quality import (
        quality_filter, quality_params, quality_reason_counts,
    )

    docs = spark.createDataFrame(
        [("u1", "Ok."),
         ("u2", "the and is not a with for on of to " * 20),
         ("u3", "!!! ??? ;;; " * 30)],
        "url string, text string",
    )
    judged = quality_filter(docs)
    got = {r["url"]: r for r in judged.collect()}
    assert "too_short" in got["u1"]["reject_reasons"]
    assert got["u2"]["keep"]
    assert "high_punct_ratio" in got["u3"]["reject_reasons"]
    counts = {r["reason"]: r["n"] for r in quality_reason_counts(judged).collect()}
    assert counts["too_short"] >= 1 and counts["high_punct_ratio"] >= 1
    with pytest.raises(TypeError, match="min_stopword"):
        quality_params(min_stopword=1)


def test_quality_kill_and_resume_identical(spark, junk_corpus,
                                           tmp_path_factory):
    out_killed = str(tmp_path_factory.mktemp("kg_quality_resume"))
    out_full = str(tmp_path_factory.mktemp("kg_quality_full"))

    with pytest.raises(StageKill):
        run(spark, junk_corpus, out_killed, embedding_dim=32, n_buckets=8,
            quality=True, fail_after_stage="quality")
    lin = spark.read.parquet(f"{out_killed}/lineage")
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "quality", "quality_dropped"}
    assert not os.path.exists(f"{out_killed}/chunks")

    run(spark, junk_corpus, out_killed, embedding_dim=32, n_buckets=8,
        quality=True)
    run(spark, junk_corpus, out_full, embedding_dim=32, n_buckets=8,
        quality=True)

    for table, cols in [
        ("extracted_quality", ["url", "text"]),
        ("quality_audit", ["url", "lang_guess"]),
        ("chunks", ["url", "chunk_index", "content"]),
        ("edges", ["url", "subj_canonical", "pred", "obj_canonical"]),
    ]:
        fp_resumed = _table_fingerprint(spark, f"{out_killed}/{table}", cols)
        fp_full = _table_fingerprint(spark, f"{out_full}/{table}", cols)
        assert fp_resumed == fp_full, f"{table} differs after resume"


# ---- passage-level chunk dedup stage (round 6) ------------------------------

def _kept_chunks(spark, out):
    """The chunk-dedup stage's kept set: ``chunks`` left-anti-joined with
    the dropped rows in ``chunk_dedup_audit``."""
    return spark.read.parquet(f"{out}/chunks").join(
        spark.read.parquet(f"{out}/chunk_dedup_audit")
        .select("url", "chunk_index"),
        ["url", "chunk_index"], "left_anti",
    )


def test_chunk_dedup_stage(spark, dup_corpus, tmp_path_factory):
    """chunk_dedup=True: repeated chunk content keeps only its first
    occurrence; kept + dropped = chunks; audit is consistent; and the
    kept set has no repeated eligible fingerprints."""
    out = str(tmp_path_factory.mktemp("kg_cdedup_out"))
    m = run(spark, dup_corpus, out, embedding_dim=32, n_buckets=8,
            chunk_dedup=True)
    assert m["chunk_dedup_kept"] + m["chunk_dedup_dropped"] == m["chunks"]
    # the dup corpus plants verbatim clones -> repeated chunks exist
    assert m["chunk_dedup_dropped"] > 0
    # the stage records its decision only: no second chunks table
    assert not os.path.exists(f"{out}/chunks_dedup")

    kept = _kept_chunks(spark, out)
    assert kept.count() == m["chunk_dedup_kept"]
    from driftmind_spark.operators.passages import chunk_dedup as cd
    again = cd(kept.select("url", "chunk_index", "content"))
    assert again.filter("not is_kept").count() == 0, "dedup not idempotent"

    audit = spark.read.parquet(f"{out}/chunk_dedup_audit")
    assert audit.count() == m["chunk_dedup_dropped"]
    # every dropped chunk's keeper is present in the kept table
    keeper_ids = audit.select(
        F.col("keeper_doc").alias("url"), F.col("keeper_idx").alias("chunk_index")
    ).distinct()
    missing = keeper_ids.join(
        kept.select("url", "chunk_index"), ["url", "chunk_index"], "left_anti"
    )
    assert missing.count() == 0

    # the stage's lineage row is the committed chunks minus the dropped
    lin = {(r["stage"], r["bucket"]): r["row_count"]
           for r in spark.read.parquet(f"{out}/lineage")
           .filter("status = 'done'").collect()}
    n_chunks = sum(n for (stage, _), n in lin.items() if stage == "chunks")
    assert lin[("chunk_dedup", -1)] == (
        n_chunks - lin[("chunk_dedup_dropped", -1)])
    assert lin[("chunk_dedup", -1)] == m["chunk_dedup_kept"]


def test_chunk_dedup_kill_and_resume_identical(spark, dup_corpus,
                                               tmp_path_factory):
    out_killed = str(tmp_path_factory.mktemp("kg_cdedup_resume"))
    out_full = str(tmp_path_factory.mktemp("kg_cdedup_full"))

    with pytest.raises(StageKill):
        run(spark, dup_corpus, out_killed, embedding_dim=32, n_buckets=8,
            chunk_dedup=True, fail_after_stage="chunk_dedup")
    lin = spark.read.parquet(f"{out_killed}/lineage")
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "chunks", "chunk_dedup",
                      "chunk_dedup_dropped"}

    run(spark, dup_corpus, out_killed, embedding_dim=32, n_buckets=8,
        chunk_dedup=True)
    run(spark, dup_corpus, out_full, embedding_dim=32, n_buckets=8,
        chunk_dedup=True)

    kept_cols = ["url", "chunk_index", "content"]
    assert _df_fingerprint(_kept_chunks(spark, out_killed), kept_cols) == (
        _df_fingerprint(_kept_chunks(spark, out_full), kept_cols)
    ), "kept chunks differ after resume"
    for table, cols in [
        ("chunk_dedup_audit",
         ["url", "chunk_index", "fingerprint", "keeper_doc", "keeper_idx"]),
        ("edges", ["url", "subj_canonical", "pred", "obj_canonical"]),
    ]:
        fp_resumed = _table_fingerprint(spark, f"{out_killed}/{table}", cols)
        fp_full = _table_fingerprint(spark, f"{out_full}/{table}", cols)
        assert fp_resumed == fp_full, f"{table} differs after resume"


def test_quality_filter_null_text_rejected(spark):
    """Round-6 review fix: NULL text must be rejected by the gate even
    with the langs check disabled — previously every threshold compared
    NULL, every when() fell to NULL, and the doc passed as 'clean'."""
    from driftmind_spark.operators.quality import quality_filter

    docs = spark.createDataFrame(
        [("n", None), ("e", ""), ("ok", "the and is not a with for " * 30)],
        "url string, text string",
    )
    got = {r["url"]: r for r in quality_filter(docs, langs=None).collect()}
    assert not got["n"]["keep"] and "too_short" in got["n"]["reject_reasons"]
    assert not got["e"]["keep"]
    assert got["ok"]["keep"]
    # the pass-through text column itself is untouched
    assert got["n"]["text"] is None


def test_quality_filter_reapply_idempotent_columns(spark):
    """Round-6 advice fix: quality_filter over a frame that ALREADY
    carries the derived columns (a persisted judged table fed back in)
    must drop the stale verdicts instead of producing duplicate column
    names and ambiguous-column failures downstream."""
    from driftmind_spark.operators.quality import quality_filter

    docs = spark.createDataFrame(
        [("a", "the and is not a with for " * 30), ("b", "x")],
        "url string, text string",
    )
    judged = quality_filter(docs, langs=None)
    again = quality_filter(judged, langs=None)  # was: duplicate columns
    assert sorted(again.columns) == sorted(judged.columns)
    a = {r["url"]: r for r in judged.collect()}
    b = {r["url"]: r for r in again.collect()}
    for u in a:
        assert a[u]["keep"] == b[u]["keep"]
        assert list(a[u]["reject_reasons"]) == list(b[u]["reject_reasons"])


def test_dedup_resume_sig_version_guard(spark, dup_corpus, tmp_path_factory,
                                        monkeypatch):
    """Round-6 advice fix: resuming a run whose dedup tables were
    committed under a different MinHash signature construction must fail
    loudly — mixed-version signatures silently lose near-dup recall."""
    import driftmind_spark.operators.dedup as dd

    out = str(tmp_path_factory.mktemp("kg_sigv_out"))
    run(spark, dup_corpus, out, embedding_dim=32, n_buckets=8, dedup=True)
    # same run_id, same code: resume is a no-op and succeeds
    run(spark, dup_corpus, out, embedding_dim=32, n_buckets=8, dedup=True)
    # simulate a signature-construction bump, then resume
    monkeypatch.setattr(dd, "MINHASH_SIG_VERSION", dd.MINHASH_SIG_VERSION + 1)
    with pytest.raises(RuntimeError, match="signature version"):
        run(spark, dup_corpus, out, embedding_dim=32, n_buckets=8, dedup=True)


def test_quality_gate_multilingual_markers(spark):
    """Round-7: the marker-list design extends beyond en/de — planted
    fr/es/pt docs are guessed correctly, rejected as bad_lang under the
    default en/de allow-list, kept once their language is allowed (or
    the gate disabled with langs=None)."""
    from driftmind_spark.operators.quality import quality_filter
    from driftmind_spark.operators.textstats import LANG_MARKERS

    docs = spark.createDataFrame(
        [
            ("fr", "le chat est dans la maison et les oiseaux qui "
                   "chantent sur le toit ne sont pas au jardin une belle "
                   "promenade dans le parc au bord de la riviere"),
            ("es", "el perro corre por la calle y los gatos juegan como "
                   "una fiesta del pueblo con los vecinos por la tarde y "
                   "el sol brilla como siempre sobre las casas"),
            ("pt", "o menino e os amigos em um dia de sol não se esquecem "
                   "de uma história em que o mar é mais bonito se a praia "
                   "é grande e o vento é mais calmo"),
            ("en", "the quick brown fox jumps over the lazy dog and runs "
                   "for the hills with a big smile on its face not once "
                   "stopping to look at the sky of blue"),
        ],
        "url string, text string",
    )
    judged = {r["url"]: r for r in quality_filter(docs).collect()}
    for lang in ("fr", "es", "pt", "en"):
        assert judged[lang]["lang_guess"] == lang, (
            lang, judged[lang]["lang_guess"])
    for lang in ("fr", "es", "pt"):
        assert not judged[lang]["keep"]
        assert judged[lang]["reject_reasons"] == ["bad_lang"]
    assert judged["en"]["keep"]

    # allow-list extended to every known language: all pass
    all_langs = tuple(LANG_MARKERS)
    j2 = {r["url"]: r for r in
          quality_filter(docs, langs=all_langs).collect()}
    assert all(j2[u]["keep"] for u in j2)

    # langs=None disables the language gate entirely
    j3 = {r["url"]: r for r in quality_filter(docs, langs=None).collect()}
    assert all(j3[u]["keep"] for u in j3)


def test_quality_filter_partial_collision_fails_loudly(spark):
    """Round-7 self-review: the re-application guard must not silently
    drop a USER column that happens to share a derived name ('keep',
    'n_chars', ...).  Only the full judged-table column set is
    unambiguously the gate's own output; a partial collision raises."""
    from driftmind_spark.operators.quality import quality_filter

    docs = spark.createDataFrame(
        [("a", "the and is not a with for " * 30, False)],
        "url string, text string, keep boolean",
    )
    with pytest.raises(ValueError, match="collide"):
        quality_filter(docs, langs=None)


# ---- Spark job budget of one build ------------------------------------------

# A fresh run(quality, dedup, chunk_dedup) over 200 pages with planted
# junk and clones ran 211 Spark jobs when every stage read its output
# back, probed isEmpty before each write and kept lineage as Spark
# appends; with one observed write per table and driver-side lineage it
# ran 76, 67 once stage re-reads carry their schema and corpus dedup
# carries each text group's doc count through the closure, and 63 once
# the chunk-dedup stage writes only its dropped rows.  The budget is 63
# plus 10%.
MAX_BUILD_JOBS = 69


def test_build_job_budget(spark, tmp_path_factory):
    import uuid

    from driftmind_spark.synth import write_corpus

    corpus = str(tmp_path_factory.mktemp("budget_corpus"))
    write_corpus(corpus, n=200, junk_rate=0.1, dup_rate=0.1)
    out = str(tmp_path_factory.mktemp("budget_out"))
    sc = spark.sparkContext
    group = f"kg-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        m = run(spark, corpus, out, embedding_dim=32, n_buckets=8,
                quality=True, dedup=True, chunk_dedup=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert m["quality_dropped"] > 0 and m["dedup_dropped"] > 0
    assert jobs <= MAX_BUILD_JOBS, f"{jobs} Spark jobs for one build"
