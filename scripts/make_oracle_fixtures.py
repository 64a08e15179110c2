#!/usr/bin/env python
"""Generate expected-result parquet fixtures for the queries whose
semantics SQL cannot express (byte-parity chunking, OpenIE, LSH/linking,
SimHash) so the DuckDB oracle can still check them:
``oracle_sql()`` reads these files with ``read_parquet`` and the driver
compares them against the live Spark results at sf0.01.

Everything here is computed with the PURE PYTHON kernels
(driftmind_spark/kernels/*) — no Spark session, no DataFrames — i.e. an
independent single-threaded reference implementation of the same
semantics.  What the comparison then certifies is the DISTRIBUTED
plumbing: Arrow batch boundaries, explode/join/groupBy shapes,
float32/float64 promotion in column expressions, id assignment, and
ordering/tie-break discipline all have to reproduce the sequential
reference bit-for-bit.

Re-run when /root/testdata changes:
    python scripts/make_oracle_fixtures.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from driftmind_spark.kernels import hashing as hk  # noqa: E402
from driftmind_spark.kernels.extract import extract_main_text  # noqa: E402
from driftmind_spark.kernels.openie import extract_triples  # noqa: E402
from driftmind_spark.kernels.textproc import chunk_text  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "oracle", "sf0_01",
)


def _round_spark(x: float, scale: int = 4) -> float:
    """Spark's round(double, n): BigDecimal.valueOf (shortest-repr
    string) + HALF_UP — == Decimal(repr(x)) quantize HALF_UP."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    ))


def _write(name: str, table: pa.Table) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}.parquet")
    pq.write_table(table, path)
    print(f"{name}: {table.num_rows} rows -> {path}")


# ---- chunk_documents: byte-parity chunker over documents.text ------------

def fixture_chunk_documents(docs: pa.Table) -> pa.Table:
    ids, idxs, contents = [], [], []
    for doc_id, text in zip(
        docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
    ):
        for i, ch in enumerate(chunk_text(text)):
            ids.append(doc_id)
            idxs.append(i)
            contents.append(ch)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "chunk_index": pa.array(idxs, pa.int32()),
            "content": pa.array(contents, pa.string()),
        }
    )


# ---- kg_triples / kg_nodes: OpenIE + blocking + linking + components -----

def _synth_pages(n: int = 400):
    from driftmind_spark.synth import generate_pages

    pages, _ = generate_pages(n)
    return pages  # pyarrow table: url, warc_ts, html, text, lang


def _pure_triples(pages) -> list[tuple[str, str, str, str]]:
    out = []
    for url, html, lang in zip(
        pages.column("url").to_pylist(),
        pages.column("html").to_pylist(),
        pages.column("lang").to_pylist(),
    ):
        text = extract_main_text(html)
        for (s, p, o, _c) in extract_triples(text, lang or "en"):
            out.append((url, s, p, o))
    return out


def fixture_kg_triples() -> pa.Table:
    rows = _pure_triples(_synth_pages())
    return pa.table(
        {
            "url": pa.array([r[0] for r in rows], pa.string()),
            "subj": pa.array([r[1] for r in rows], pa.string()),
            "pred": pa.array([r[2] for r in rows], pa.string()),
            "obj": pa.array([r[3] for r in rows], pa.string()),
        }
    )


def _spark_cosine32(a32: np.ndarray, b32: np.ndarray) -> float:
    """cosine_sim over ARRAY<FLOAT>: products in float32 (float*float
    stays float in Spark SQL), left-fold accumulation in float64."""
    if len(a32) != len(b32):
        return 0.0
    dot = 0.0
    for p in (a32 * b32):
        dot += float(p)
    na = 0.0
    for v in a32:
        na += float(v * v)
    nb = 0.0
    for v in b32:
        nb += float(v * v)
    na, nb = np.sqrt(na), np.sqrt(nb)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / float(na * nb)


def fixture_kg_nodes() -> pa.Table:
    """Pure replica of q_kg_nodes: mentions -> LSH blocking (bucket cap
    256) -> jaccard/cosine link scoring -> union-find -> canonical
    surface = min(surface) per component.  mention ids only order/group,
    never appear in the output, so any deterministic id works."""
    triples = _pure_triples(_synth_pages())
    # mentions: distinct surfaces (subj + obj multiset)
    surfaces = sorted({t[1] for t in triples} | {t[3] for t in triples})
    sid = {s: i for i, s in enumerate(surfaces)}
    # Spark F.trim removes ASCII spaces only — strip(' '), not strip()
    norm = {s: s.strip(" ").lower() for s in surfaces}

    # LSH banding identical to make_minhash_bands_udf(128, 32, 3, 42)
    mh = hk.MinHasher(num_perm=128, seed=42)
    buckets: dict[tuple[int, int], list[int]] = {}
    for s in surfaces:
        sig = mh.signature(hk.char_shingles(norm[s].lower(), k=3))
        for band_idx, band_hash in enumerate(mh.band_hashes(sig, 32)):
            buckets.setdefault((band_idx, band_hash), []).append(sid[s])
    pairs = set()
    for members in buckets.values():
        if len(members) > 256:  # hot-bucket cap (kg/blocking.py)
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))

    # link scoring (kg/linking.py): shingle-jaccard >= 0.5 OR
    # hashed-ngram cosine >= 0.85 at dim=32 (q_kg_nodes embedding_dim)
    emb = {
        s: hk.hashed_ngram_embedding(norm[s] or "", 32) for s in surfaces
    }
    shl = {s: set(hk.char_shingles(norm[s] or "", k=3)) for s in surfaces}
    parent = list(range(len(surfaces)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        sa, sb = surfaces[a], surfaces[b]
        jac = hk.jaccard(shl[sa], shl[sb])
        cos = _spark_cosine32(emb[sa], emb[sb])
        if jac >= 0.5 or cos >= 0.85:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    comp_min_surface: dict[int, str] = {}
    for i, s in enumerate(surfaces):
        r = find(i)
        if r not in comp_min_surface or s < comp_min_surface[r]:
            comp_min_surface[r] = s
    return pa.table(
        {
            "surface": pa.array(surfaces, pa.string()),
            "canonical_surface": pa.array(
                [comp_min_surface[find(i)] for i in range(len(surfaces))],
                pa.string(),
            ),
        }
    )


# ---- ann_lsh: hyperplane-LSH approximate top-k ---------------------------

def fixture_ann_lsh(embs: pa.Table, k: int = 10, dim: int = 64,
                    n_planes: int = 4, n_tables: int = 8, seed: int = 42
                    ) -> pa.Table:
    from driftmind_spark.operators.similarity import _hyperplane_coeffs

    ids = embs.column("vec_id").to_pylist()
    vecs = [np.asarray(v, dtype=np.float64) for v in
            embs.column("embedding").to_pylist()]
    coeffs = _hyperplane_coeffs(dim, n_planes, n_tables, seed)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def bucket_ids(v64):
        dots = coeffs @ v64
        bits = (dots >= 0).reshape(n_tables, n_planes)
        return tuple((bits * weights).sum(axis=1))

    def fold_cosine64(a, b):
        dot = 0.0
        for p in (a * b):
            dot += float(p)
        na = 0.0
        for v in a:
            na += float(v * v)
        nb = 0.0
        for v in b:
            nb += float(v * v)
        na, nb = np.sqrt(na), np.sqrt(nb)
        return 0.0 if (na == 0.0 or nb == 0.0) else dot / float(na * nb)

    queries = [(i, v) for i, v in zip(ids, vecs) if i < 5]
    corpus = [(i, v) for i, v in zip(ids, vecs) if i >= 5]
    cbuckets = [(i, v, bucket_ids(v)) for i, v in corpus]
    out_q, out_v, out_c, out_r = [], [], [], []
    for qid, qv in queries:
        qb = bucket_ids(qv)
        cand = [
            (cid, cv)
            for cid, cv, cb in cbuckets
            if any(qb[t] == cb[t] for t in range(n_tables))
        ]
        scored = sorted(
            ((fold_cosine64(qv, cv), cid) for cid, cv in cand),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        for rank, (cos, cid) in enumerate(scored, start=1):
            out_q.append(qid)
            out_v.append(cid)
            out_c.append(_round_spark(cos, 4))
            out_r.append(rank)
    return pa.table(
        {
            "query_id": pa.array(out_q, pa.int64()),
            "vec_id": pa.array(out_v, pa.int64()),
            "cosine": pa.array(out_c, pa.float64()),
            "rank": pa.array(out_r, pa.int32()),
        }
    )


# ---- ann_ivf: IVF coarse-quantizer approximate top-k ----------------------

def fixture_ivf_topk(embs: pa.Table, k: int = 10, n_centroids: int = 16,
                     n_probe: int = 4) -> pa.Table:
    """Mirror of operators/similarity.ivf_topk: SAME training function
    (train_ivf_centroids) and SAME assignment function (ivf_assign), so
    centroids and probed lists match bit-for-bit; exact cosine re-rank
    uses the JVM fold order (fold_cosine64 conventions above)."""
    from driftmind_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    ids = embs.column("vec_id").to_pylist()
    vecs = [np.asarray(v, dtype=np.float64) for v in
            embs.column("embedding").to_pylist()]

    def fold_cosine64(a, b):
        dot = 0.0
        for p in (a * b):
            dot += float(p)
        na = sum(float(v * v) for v in a)
        nb = sum(float(v * v) for v in b)
        na, nb = np.sqrt(na), np.sqrt(nb)
        return 0.0 if (na == 0.0 or nb == 0.0) else dot / float(na * nb)

    queries = [(i, v) for i, v in zip(ids, vecs) if i < 5]
    corpus = sorted(
        ((i, v) for i, v in zip(ids, vecs) if i >= 5), key=lambda r: r[0]
    )
    cents = train_ivf_centroids(
        np.array([v for _, v in corpus]), n_centroids
    )
    c_lists = ivf_assign(np.array([v for _, v in corpus]), cents, 1)[:, 0]
    out_q, out_v, out_c, out_r = [], [], [], []
    for qid, qv in queries:
        probes = set(ivf_assign(qv[None, :], cents, n_probe)[0].tolist())
        cand = [
            (cid, cv)
            for (cid, cv), lst in zip(corpus, c_lists)
            if int(lst) in probes
        ]
        scored = sorted(
            ((fold_cosine64(qv, cv), cid) for cid, cv in cand),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        for rank, (cos, cid) in enumerate(scored, start=1):
            out_q.append(qid)
            out_v.append(cid)
            out_c.append(_round_spark(cos, 4))
            out_r.append(rank)
    return pa.table(
        {
            "query_id": pa.array(out_q, pa.int64()),
            "vec_id": pa.array(out_v, pa.int64()),
            "cosine": pa.array(out_c, pa.float64()),
            "rank": pa.array(out_r, pa.int32()),
        }
    )


# ---- simhash_pairs: Manku-blocked SimHash near-dups ----------------------

def fixture_simhash_pairs(docs: pa.Table, max_hamming: int = 3,
                          max_bucket_size: int = 1024) -> pa.Table:
    """Pure-python mirror of operators/dedup.simhash_near_dups (round 3:
    full Manku blocking — max_hamming+1 disjoint LSB-up bit blocks,
    hot-bucket cap, pair dedup)."""
    from driftmind_spark.operators.dedup import simhash_block_layout

    ids = docs.column("doc_id").to_pylist()
    sims = [
        int(np.uint64(hk.simhash64((t or "").lower().split())))
        for t in docs.column("text").to_pylist()
    ]
    layout = simhash_block_layout(max_hamming)
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, s in enumerate(sims):
        for bi, (off, width) in enumerate(layout):
            key = (bi, (s >> off) & ((1 << width) - 1))
            buckets.setdefault(key, []).append(i)
    pairs: dict[tuple[int, int], int] = {}
    for members in buckets.values():
        if len(members) > max_bucket_size:
            continue
        members = sorted(members, key=lambda i: ids[i])
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                h = bin(sims[i] ^ sims[j]).count("1")
                if h <= max_hamming:
                    pairs[(ids[i], ids[j])] = h
    out = sorted(pairs.items())
    return pa.table(
        {
            "doc_a": pa.array([a for (a, _), _ in out], pa.int64()),
            "doc_b": pa.array([b for (_, b), _ in out], pa.int64()),
            "hamming": pa.array([h for _, h in out], pa.int32()),
        }
    )


# ---- hyperplane_buckets: embedding near-dup blocking keys -----------------

def fixture_hyperplane_buckets(embs: pa.Table, n_probes: int,
                               dim: int = 64, n_planes: int = 6,
                               n_tables: int = 4, seed: int = 7) -> pa.Table:
    """Per-vector hyperplane-LSH bucket keys, computed by the SAME
    pure-numpy function the Spark UDF wraps
    (operators/dedup.hyperplane_bucket_keys).  Round 4: the oracle SQL
    previously REBUILT the sign bits with DuckDB's list_dot_product —
    structurally flaky for near-zero dots whose sign depends on
    summation order.  Joining these literal keys removes the
    cross-engine float dependency entirely; cosine verification stays
    independent SQL."""
    from driftmind_spark.operators.dedup import hyperplane_bucket_keys

    ids = embs.column("vec_id").to_pylist()
    mat = np.array(embs.column("embedding").to_pylist(), dtype=np.float64)
    keys = hyperplane_bucket_keys(mat, dim, n_planes, n_tables, seed, n_probes)
    out_id, out_key = [], []
    for vid, row in zip(ids, keys):
        for k in row:
            out_id.append(vid)
            out_key.append(int(k))
    return pa.table(
        {
            "vec_id": pa.array(out_id, pa.int64()),
            "bucket_key": pa.array(out_key, pa.int64()),
        }
    )


# ---- hmac_tokens: F12 secure-token sign/verify ----------------------------

def fixture_hmac_tokens(docs: pa.Table) -> pa.Table:
    """Independent reference for the Spark HMAC column expressions:
    python's stdlib hmac/hashlib computes the same RFC-2104 construction
    the reference uses (Services/DownloadService.cs:338-430)."""
    import base64
    import hashlib
    import hmac

    import json

    secret = b"driftmind-demo-secret"
    now = 1755000000  # the query's fixed validation instant (_TOKEN_NOW)

    def _sign(payload: bytes) -> str:
        sig = base64.b64encode(
            hmac.new(secret, payload, hashlib.sha256).digest()
        ).decode()
        return base64.b64encode(payload).decode() + "." + sig

    ids, tokens, valid_now, expired_valid = [], [], [], []
    for did in docs.column("doc_id").to_pylist():
        fresh = f'{{"doc_id":{did},"exp":1767225600}}'.encode()
        stale = f'{{"doc_id":{did},"exp":946684800}}'.encode()
        ids.append(did)
        tokens.append(_sign(fresh))
        # full validation = signature ok AND exp >= now (the expiry rule
        # of DownloadService.cs:122), computed here from the payload json
        valid_now.append(json.loads(fresh)["exp"] >= now)
        expired_valid.append(json.loads(stale)["exp"] >= now)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "token": pa.array(tokens, pa.string()),
            "valid": pa.array([True] * len(ids), pa.bool_()),
            "tampered_valid": pa.array([False] * len(ids), pa.bool_()),
            "valid_now": pa.array(valid_now, pa.bool_()),
            "expired_valid": pa.array(expired_valid, pa.bool_()),
        }
    )


def main() -> None:
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    embs = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    _write("chunk_documents", fixture_chunk_documents(docs))
    _write("kg_triples", fixture_kg_triples())
    _write("kg_nodes", fixture_kg_nodes())
    _write("ann_lsh", fixture_ann_lsh(embs))
    _write("simhash_pairs", fixture_simhash_pairs(docs))
    _write("hmac_tokens", fixture_hmac_tokens(docs))
    _write("ann_ivf", fixture_ivf_topk(embs))
    _write("hyperplane_buckets_p1", fixture_hyperplane_buckets(embs, 1))
    _write("hyperplane_buckets_p2", fixture_hyperplane_buckets(embs, 2))


if __name__ == "__main__":
    main()
