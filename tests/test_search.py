"""Search-orchestration pipeline (§3.2 rewrite) + expansion/reference
kernels."""

import uuid

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from driftmind_spark.functions.text import relevance_score
from driftmind_spark.kernels.textproc import (
    ALL_STOP_WORDS,
    MULTI_LANGUAGE_SYNONYMS,
    calculate_relevance_score,
    contains_any_keyword,
    document_referenced,
    expand_query,
    extract_document_references,
)
from driftmind_spark.operators.chunking import build_chunks
from driftmind_spark.operators.search import search


# ---- kernels -------------------------------------------------------------------

def test_expand_query_adds_synonyms():
    out = expand_query("database setup")
    assert out.startswith("database setup ")
    # first two synonyms of each term from the reference's table
    assert "datenbank" in out and "konfigurieren" in out


def test_expand_query_no_terms_unchanged():
    assert expand_query("the and or") == "the and or"
    assert expand_query("") == ""


def test_extract_document_references():
    msgs = [
        "see report_v2.pdf and notes.md for details",
        "irrelevant chatter",
        "also NOTES.md again plus guide.docx",
    ]
    refs = extract_document_references(msgs)
    assert refs == ["report_v2.pdf", "notes.md", "guide.docx"]


def test_document_referenced_containment_both_ways():
    assert document_referenced("https://x/report_v2.pdf", ["report_v2.pdf"])
    assert not document_referenced("https://x/other.pdf", ["report_v2.pdf"])
    assert not document_referenced("", ["a.pdf"])


def test_contains_any_keyword():
    assert contains_any_keyword("Spark SHUFFLE internals", ["shuffle"])
    assert not contains_any_keyword("nothing here", ["shuffle"])


# ---- pipeline ------------------------------------------------------------------

@pytest.fixture(scope="module")
def chunks(spark, pages_dir):
    pages = spark.read.parquet(f"{pages_dir}/pages.parquet")
    return build_chunks(pages, embedding_dim=64).cache()


def test_search_returns_ranked_diverse_results(spark, chunks):
    res = search(chunks, "Acme Corp acquired Beta Systems",
                 max_results=5, embedding_dim=64).collect()
    assert 0 < len(res) <= 5
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    # diversification: one row per document
    assert len({r["url"] for r in res}) == len(res)
    # context assembled and contains the hit chunk itself
    for r in res:
        assert r["content"] in r["context"]


def test_search_threshold_filters(spark, chunks):
    # gibberish query -> no text match; vector scores low -> empty or few
    res = search(chunks, "zzz qqq xxyzzy unmatched", max_results=5,
                 embedding_dim=64).collect()
    assert all(r["score"] >= 0.05 for r in res)


def test_search_history_boost_promotes_referenced_doc(spark, chunks):
    base = search(chunks, "Kappa Software invested", max_results=8,
                  embedding_dim=64).collect()
    assert base, "need non-empty baseline"
    target = base[-1]["url"]  # lowest-ranked result
    fname = target.rsplit("/", 1)[-1].replace(".html", ".pdf")
    history = [f"Earlier we discussed {fname} in depth."]
    boosted = search(chunks, "Kappa Software invested", max_results=8,
                     embedding_dim=64, history=history).collect()
    b_scores = {r["url"]: r["score"] for r in boosted}
    a_scores = {r["url"]: r["score"] for r in base}
    if target in b_scores:
        assert b_scores[target] > a_scores[target] * 1.7


def test_search_expansion_changes_candidates(spark, chunks):
    # "database" expands with datenbank/db synonyms -> legs merged by max
    with_exp = search(chunks, "database storage", max_results=5,
                      embedding_dim=64, use_expansion=True)
    without = search(chunks, "database storage", max_results=5,
                     embedding_dim=64, use_expansion=False)
    assert with_exp.count() >= 0 and without.count() >= 0


def test_enhanced_second_leg_merge_matches_reference_loop(spark, chunks):
    """The history-enhanced second leg + merge (SearchOrchestrationService
    .cs:450-483): Spark's merged output must equal a pure-Python port of
    the C# merge loop applied to the two legs' rows."""
    from driftmind_spark.kernels.textproc import expand_query
    from driftmind_spark.operators.search import enhanced_history_leg

    query = "Acme Corp acquired Beta Systems"
    history = ["Earlier we looked at doc-42.pdf and shuffle performance."]
    max_results = 6

    base = search(chunks, query, max_results=max_results,
                  embedding_dim=64).collect()
    enh = enhanced_history_leg(
        chunks, expand_query(query), history, embedding_dim=64
    ).collect()

    # pure-Python port of MergeSearchResults: enhanced first (dedup per
    # document), unseen base docs fill seats, final top max_results
    seen, combined = set(), []
    for r in sorted(enh, key=lambda r: (-r["score"], r["url"], r["chunk_index"])):
        if r["url"] not in seen:
            combined.append(r)
            seen.add(r["url"])
    for r in sorted(base, key=lambda r: (-r["score"], r["url"])):
        if r["url"] not in seen and len(combined) < max_results:
            combined.append(r)
            seen.add(r["url"])
    expected = sorted(combined, key=lambda r: (-r["score"], r["url"]))[:max_results]

    got = search(chunks, query, max_results=max_results, embedding_dim=64,
                 history=history).collect()
    got_keys = [(r["url"], r["chunk_index"], round(r["score"], 6)) for r in got]
    exp_keys = [(r["url"], r["chunk_index"], round(r["score"], 6))
                for r in expected]
    assert got_keys == exp_keys


# ---- native relevance score vs the kernel ----------------------------------------

_SPLIT_CHARS = " ,.!?:;-()[]\n\r"
_VOCAB = sorted(
    set(MULTI_LANGUAGE_SYNONYMS)
    | {w for syns in MULTI_LANGUAGE_SYNONYMS.values() for w in syns}
    | set(sorted(ALL_STOP_WORDS)[::8])
    | {"db", "a", "ab", "DATABASE", "Datenbank", "databases", "xsetupx",
       "İstanbul", "İİİ", "straße", "STRASSE", "ΣΑΣ", "ΟΔΟΣ", "σας"}
)
_token = st.one_of(
    st.sampled_from(_VOCAB),
    st.text(alphabet="abcsİßΣσςẞK'\\$%{}\t_", min_size=1, max_size=6),
    # Latin, Latin-1, Latin Extended-A, Greek and Cyrillic letters
    st.text(alphabet=st.characters(min_codepoint=0x41, max_codepoint=0x4FF,
                                   categories=("Lu", "Ll", "Lt", "Mn")),
            min_size=1, max_size=6),
)
_sep = st.sampled_from(list(_SPLIT_CHARS) + ["", "  ", "\t", "_", ".."])
_text = st.lists(st.tuples(_token, _sep), max_size=10).map(
    lambda parts: "".join(t + s for t, s in parts)
)


@settings(max_examples=40, deadline=None)
@given(
    query=_text,
    rows=st.lists(
        st.tuples(st.one_of(st.none(), st.just(""), _text),
                  st.one_of(st.none(), st.floats(-1.0, 1.0))),
        min_size=1, max_size=6,
    ),
)
@example(query="İstanbul straße ΣΑΣ", rows=[("i̇stanbul STRASSE σας.", 0.5)])
@example(query="database setup", rows=[("die datenbank, ein setup-lauf", 0.25),
                                       ("sqlite (lokal)", None)])
@example(query="the and or db", rows=[("the database", 0.42), (None, None)])
@example(query="sqlite", rows=[("datenbank\r\nlokal", 0.1), ("xsqlitex", 0.3)])
@example(query="", rows=[("", None)])
def test_relevance_column_matches_kernel_exactly(spark, query, rows):
    """``functions.text.relevance_score`` equals the pure kernel
    ``calculate_relevance_score`` bit for bit: Unicode case folding,
    every split character, stop words, short terms, synonyms in both
    directions, None/empty content, queries without meaningful terms."""
    df = spark.createDataFrame(
        [(i, c, v) for i, (c, v) in enumerate(rows)],
        "i int, content string, vs double",
    )
    got = dict(df.select("i", relevance_score("content", "vs", query)).collect())
    for i, (c, v) in enumerate(rows):
        assert got[i] == calculate_relevance_score(c or "", query, v), (c, v)


# ---- plan shape, job count, misconfiguration ----------------------------------

_HISTORY = ["Earlier we discussed doc-42.pdf about Acme Corp.",
            "Acme Corp acquired Beta Systems."]


@pytest.fixture(scope="module")
def chunks_table(spark, chunks, tmp_path_factory):
    """The chunks as a table read back from parquet, like a serving
    index: no Python in its own lineage."""
    path = str(tmp_path_factory.mktemp("search") / "chunks")
    chunks.write.parquet(path)
    table = spark.read.parquet(path).cache()
    table.count()
    return table


def _jobs(spark, df) -> int:
    sc = spark.sparkContext
    group = f"search-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("history", [None, _HISTORY], ids=["single", "follow_up"])
def test_search_plan_runs_no_python(spark, chunks_table, history):
    df = search(chunks_table, "tell me more about Acme Corp database",
                history=history, embedding_dim=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("query,history,max_jobs", [
    ("Acme Corp", None, 3),
    ("Acme Corp database setup", None, 3),  # expands: two query vectors
    ("tell me more about Acme Corp", _HISTORY, 5),
], ids=["short", "synonym", "follow_up"])
def test_search_job_count(spark, chunks_table, query, history, max_jobs):
    df = search(chunks_table, query, max_results=10, history=history,
                embedding_dim=64)
    assert _jobs(spark, df) <= max_jobs


def test_search_raises_on_embedding_dim_mismatch(spark, pages_dir):
    pages = spark.read.parquet(f"{pages_dir}/pages.parquet").limit(20)
    chunks32 = build_chunks(pages, embedding_dim=32)
    with pytest.raises(Exception, match="embedding size 32 != embedding_dim 64"):
        search(chunks32, "Acme Corp", embedding_dim=64).collect()
