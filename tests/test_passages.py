"""Chunk-level dedup (the Lee-et-al intra-document layer the pipeline's
chunk_dedup stage runs): first-occurrence keeper election, idempotence,
and re-running on its own output."""

from driftmind_spark.operators import passages as ps

NAV = "Home News Sports Archive Contact About and further navigation text."


def test_chunk_dedup_filters_repeated_chunks(spark):
    rows = [
        ("u1", 0, "unique chunk content for url one, long enough to count."),
        ("u1", 1, NAV),
        ("u2", 0, NAV),
        ("u2", 1, "another distinct body chunk that is long enough too."),
        ("u3", 5, NAV),
    ]
    chunks = spark.createDataFrame(
        rows, "url string, chunk_index int, content string"
    )
    res = ps.chunk_dedup(chunks, min_chars=40)
    assert res.columns[:3] == ["url", "chunk_index", "content"]
    got = {(r["url"], r["chunk_index"]): r for r in res.collect()}
    assert got[("u1", 1)]["is_kept"]          # first occurrence of NAV
    assert not got[("u2", 0)]["is_kept"]
    assert not got[("u3", 5)]["is_kept"]
    assert got[("u2", 0)]["keeper_doc"] == "u1"
    assert got[("u2", 0)]["keeper_idx"] == 1
    assert got[("u1", 0)]["is_kept"] and got[("u2", 1)]["is_kept"]
    kept = res.filter("is_kept")
    assert kept.count() == 3
    # idempotence: dedup of the kept set drops nothing
    again = ps.chunk_dedup(
        kept.select("url", "chunk_index", "content"), min_chars=40
    )
    assert again.filter("not is_kept").count() == 0


def test_chunk_dedup_rerunnable_on_own_output(spark):
    """Round-6 review fix: feeding chunk_dedup its own full output (with
    derived columns still attached) must recompute instead of raising
    AMBIGUOUS_REFERENCE."""
    rows = [("u1", 0, NAV), ("u2", 0, NAV),
            ("u3", 0, "a distinct body long enough to be eligible here.")]
    chunks = spark.createDataFrame(
        rows, "url string, chunk_index int, content string"
    )
    first = ps.chunk_dedup(chunks, min_chars=40)
    again = ps.chunk_dedup(first.filter("is_kept"), min_chars=40)
    assert again.filter("not is_kept").count() == 0
    assert again.count() == 2
