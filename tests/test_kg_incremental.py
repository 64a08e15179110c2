"""Incremental KG snapshot rebuild (kg/incremental.py +
streaming/ingest.py::rebuild_kg_snapshot_incremental) — the round-8
delta-linking / contracted-CC path must publish snapshots IDENTICAL to
the full from-scratch rebuild, including across component merges, alias
bridges, re-seen surfaces, and the hot-bucket cap-crossing fallback.

Reference analog for the semantics: per-document upsert into a live
index vs corpus-wide re-index (`Services/SearchService.cs:210-233`)."""

from __future__ import annotations

import datetime
import glob
import os

import pytest


def _mk_triples(spark, rows, ts_base=1_700_000_000):
    """(subj, pred, obj) rows -> a triples DataFrame with the streaming
    store's full column set (url/warc_ts/lang/conf/bucket synthesized
    deterministically)."""
    data = [
        (
            f"https://ex.org/p{i}",
            datetime.datetime.utcfromtimestamp(ts_base + i),
            "en",
            s, p, o, 0.9,
        )
        for i, (s, p, o) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "url string, warc_ts timestamp, lang string, subj string, "
        "pred string, obj string, conf float",
    )


def _nodes_rows(df):
    cols = ["mention_id", "surface", "n_mentions", "canonical_id",
            "canonical_surface", "bucket"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _bootstrap_state(spark, tmp_path, triples, aliases):
    """Full build over ``triples`` + state derived from the materialized
    nodes — exactly what rebuild_kg_snapshot_incremental's bootstrap
    branch does."""
    from driftmind_spark.kg.graph import build_nodes
    from driftmind_spark.kg.incremental import derive_state_from_nodes

    nodes, caches = build_nodes(triples, aliases, embedding_dim=32)
    p = str(tmp_path / "boot_nodes")
    nodes.write.parquet(p)
    for c in caches:
        c.unpersist()
    nodes_t = spark.read.parquet(p)
    bands, hubs = derive_state_from_nodes(nodes_t, aliases)
    return nodes_t, bands, hubs


def test_incremental_nodes_matches_full_over_delta(spark, tmp_path):
    """Two-step build (bootstrap on batch 1, delta-link batch 2) equals
    the full build over both batches: new similar surfaces join their
    cluster, re-seen surfaces only bump n_mentions, disjoint new
    surfaces form their own components."""
    from driftmind_spark.kg.graph import build_nodes
    from driftmind_spark.kg.incremental import incremental_nodes

    t1 = _mk_triples(spark, [
        ("Acme Corporation", "makes", "widgets"),
        ("Acme Corp", "sells", "widgets"),
        ("Zeta Systems", "builds", "routers"),
        ("Zeta Systems", "ships", "routers"),
    ])
    t2 = _mk_triples(spark, [
        ("Acme Corporatio", "acquires", "Qux Industries"),  # near-dup of Acme
        ("Zeta Systems", "hires", "engineers"),             # re-seen surface
        ("Unrelated Thing", "is", "alone"),                 # brand new island
    ], ts_base=1_700_100_000)

    prev_nodes, bands, hubs = _bootstrap_state(spark, tmp_path, t1, None)
    res = incremental_nodes(prev_nodes, bands, hubs, t2,
                            aliases=None, embedding_dim=32)
    assert res is not None, "no cap crossing expected"
    inc_nodes, bands_out, hubs_out, caches = res
    got = _nodes_rows(inc_nodes)
    for c in caches:
        c.unpersist()

    full, fcaches = build_nodes(t1.unionByName(t2), None, embedding_dim=32)
    want = _nodes_rows(full)
    for c in fcaches:
        c.unpersist()
    assert got == want
    # the returned band frame is the DELTA: exactly the new surfaces'
    # band rows (the band dictionary is append-only — round 8's
    # external delta store depends on this)
    new_surfaces = {r[1] for r in want} - {
        r["surface"] for r in prev_nodes.select("surface").collect()
    }
    assert bands_out.count() == len(new_surfaces) * 32


def test_incremental_merge_of_two_prev_components(spark, tmp_path):
    """A new surface that is string-similar to component A and
    alias-bridged into component B must MERGE them — and the merged
    component's canonical id/surface must equal the full rebuild's
    (global min over the union, not either previous canonical)."""
    from driftmind_spark.kg.graph import build_nodes
    from driftmind_spark.kg.incremental import incremental_nodes

    aliases = spark.createDataFrame(
        [("alpha foo companies", "E9"), ("bar llc", "E9")],
        "alias string, entity string",
    )
    t1 = _mk_triples(spark, [
        ("Alpha Foo Company", "makes", "gears"),
        ("Bar LLC", "sells", "gears"),
    ])
    # "Alpha Foo Companies": char-shingle jaccard ~0.78 with "Alpha Foo
    # Company" (jaccard edge into Alpha's component, comfortably above
    # both the 0.5 threshold and the LSH recall knee) AND
    # alias-resolved to E9, whose hub sits in Bar's component (alias
    # edge into Bar's).
    t2 = _mk_triples(spark, [
        ("Alpha Foo Companies", "acquires", "gears"),
    ], ts_base=1_700_100_000)

    prev_nodes, bands, hubs = _bootstrap_state(spark, tmp_path, t1, aliases)
    # preflight: the two clusters really are separate before the delta
    assert prev_nodes.select("canonical_id").distinct().count() >= 3

    res = incremental_nodes(prev_nodes, bands, hubs, t2,
                            aliases=aliases, embedding_dim=32)
    assert res is not None
    inc_nodes, _, _, caches = res
    got = _nodes_rows(inc_nodes)
    for c in caches:
        c.unpersist()

    full, fcaches = build_nodes(t1.unionByName(t2), aliases,
                                embedding_dim=32)
    want = _nodes_rows(full)
    for c in fcaches:
        c.unpersist()
    assert got == want
    # and the merge actually happened: all three surfaces share one
    # canonical
    canon = {r[1]: r[3] for r in got}
    assert (canon["Alpha Foo Company"] == canon["Bar LLC"]
            == canon["Alpha Foo Companies"])


def test_persisted_stamps_are_pinned():
    """The stamps persisted with streaming dedup state, incremental KG
    state and batch dedup lineage, written out literally: a tuning
    constant cannot change without a visible edit here and the version
    bump the resume guards rely on."""
    from driftmind_spark.kernels.hashing import MINHASH_KERNEL_VERSION
    from driftmind_spark.kg.graph import EDGE_SALT
    from driftmind_spark.kg.incremental import KG_STATE_VERSION, state_params
    from driftmind_spark.operators.dedup import MINHASH_SIG_VERSION
    from driftmind_spark.streaming.stateful import GATE_SIG_PARAMS

    assert GATE_SIG_PARAMS == (
        "construction=kernel;num_perm=64;bands=8;shingle_k=3")
    assert state_params(64, None) == (
        "kgstate=1;num_perm=128;bands=32;shingle_k=3;seed=42;cap=256;"
        "jaccard=0.5;cosine=0.85;embedding_dim=64;aliases=none")
    assert MINHASH_SIG_VERSION == 2
    assert MINHASH_KERNEL_VERSION == 1
    assert KG_STATE_VERSION == 1
    assert EDGE_SALT == 8  # the salt column of incremental snapshot meta


def test_cap_crossing_returns_none(spark, tmp_path, monkeypatch):
    """Pushing a band bucket that previously generated pairs over the
    hot-bucket cap must refuse the delta path (the full rebuild would
    retract those pairs, so incremental state could diverge)."""
    import driftmind_spark.kg.incremental as kginc

    monkeypatch.setattr(kginc, "LSH_MAX_BUCKET", 2)
    # identical norms -> identical band sets -> every bucket holds all
    # members of this cluster
    t1 = _mk_triples(spark, [
        ("Acme Corp", "makes", "widgets"),
        ("acme corp", "sells", "widgets"),
    ])
    t2 = _mk_triples(spark, [
        ("ACME CORP", "ships", "widgets"),
    ], ts_base=1_700_100_000)
    prev_nodes, bands, hubs = _bootstrap_state(spark, tmp_path, t1, None)
    res = kginc.incremental_nodes(prev_nodes, bands, hubs, t2,
                                  aliases=None, embedding_dim=32)
    assert res is None


def _write_parts(tmp_path_factory, name, n_parts=3, per_part=30, **gen_kw):
    import pyarrow.parquet as pq

    from driftmind_spark.synth import generate_pages

    d = str(tmp_path_factory.mktemp(name))
    for part in range(n_parts):
        pages, _ = generate_pages(per_part, start=part * per_part,
                                  min_sent=8, max_sent=14, **gen_kw)
        path = f"{d}/part-{part}.parquet"
        pq.write_table(pages, path)
        os.utime(path, (1_700_000_000 + part, 1_700_000_000 + part))
    return d


def _same(a, b, label):
    cols = sorted(set(a.columns) & set(b.columns))
    a, b = a.select(*cols), b.select(*cols)
    assert a.count() == b.count() > 0, label
    assert a.exceptAll(b).count() == 0, f"{label}: incremental extra rows"
    assert b.exceptAll(a).count() == 0, f"{label}: incremental missing rows"


def test_stream_ingest_incremental_matches_full(spark, tmp_path_factory):
    """End-to-end: the composed streaming ingest with
    ``kg_incremental=True`` publishes final nodes/edges identical to the
    full-rebuild mode over the same corpus — with the delta path
    actually exercised (snapshot meta records mode='incremental') and
    edges served as the read-time view (no materialized edges dir)."""
    from driftmind_spark.streaming.ingest import (
        latest_kg_snapshot_version,
        read_kg_snapshot,
        stream_ingest,
    )
    from driftmind_spark.streaming.stream import read_pages_stream

    d = _write_parts(tmp_path_factory, "kginc_pages", dup_rate=0.15)

    outs = {}
    for mode, inc in (("full", False), ("inc", True)):
        out = str(tmp_path_factory.mktemp(f"kginc_out_{mode}"))
        ckpt = str(tmp_path_factory.mktemp(f"kginc_ckpt_{mode}"))
        q = stream_ingest(
            read_pages_stream(spark, d, max_files_per_trigger=1), out, ckpt,
            triples=True, kg_every=1, kg_incremental=inc,
        )
        q.awaitTermination(300)
        outs[mode] = out

    v = latest_kg_snapshot_version(spark, outs["inc"])
    assert v is not None and v >= 2
    snap = f"{outs['inc']}/kg/snap_v={v}"
    meta = spark.read.parquet(f"{snap}/meta").first()
    assert meta["mode"] == "incremental", (
        "later snapshots must take the delta path, not re-bootstrap"
    )
    assert not os.path.exists(f"{snap}/edges"), (
        "incremental snapshots serve edges as a view, not a copy"
    )
    assert not glob.glob(f"{outs['inc']}/kg/_tmp_snap_v=*"), "staging debris"
    # band dictionary is an external append-only delta store: one delta
    # per rebuild (bootstrap wrote the full dictionary as delta_v=0),
    # never a rewritten union inside the snapshot
    assert not os.path.exists(f"{snap}/state/bands")
    deltas = sorted(glob.glob(f"{outs['inc']}/kg_bands/delta_v=*"))
    assert len(deltas) == 3, deltas

    for table in ("nodes", "edges"):
        _same(read_kg_snapshot(spark, outs["inc"], table),
              read_kg_snapshot(spark, outs["full"], table), table)


def test_incremental_rebuild_replay_is_idempotent(spark, tmp_path_factory):
    """A replayed incremental rebuild at the SAME version (foreachBatch
    retry) rewrites an identical snapshot, and the previous snapshot's
    state survives for it to fold from."""
    from driftmind_spark.streaming.ingest import (
        read_kg_snapshot,
        rebuild_kg_snapshot_incremental,
        stream_ingest,
    )
    from driftmind_spark.streaming.stream import read_pages_stream

    d = _write_parts(tmp_path_factory, "kgrep_pages", n_parts=2)
    out = str(tmp_path_factory.mktemp("kgrep_out"))
    ckpt = str(tmp_path_factory.mktemp("kgrep_ckpt"))
    q = stream_ingest(
        read_pages_stream(spark, d, max_files_per_trigger=1), out, ckpt,
        triples=True, kg_every=1, kg_incremental=True,
    )
    q.awaitTermination(300)

    before = _nodes_like(read_kg_snapshot(spark, out, "nodes"))
    # replay the newest rebuild (version 1) directly
    assert rebuild_kg_snapshot_incremental(spark, out, 1)
    after = _nodes_like(read_kg_snapshot(spark, out, "nodes"))
    assert before == after
    meta = spark.read.parquet(f"{out}/kg/snap_v=1/meta").first()
    assert meta["mode"] == "incremental"


def _nodes_like(df):
    return sorted(tuple(r) for r in df.collect())
