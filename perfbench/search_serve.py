"""search_serve: ``operators.search.search`` over a chunks table built in
set-up, driven as an open loop.

One dispatcher (this thread) sends requests at ``RATE_QPS`` whatever the
system does; at most ``nproc`` worker threads run them.  Each request's
latency runs from when it was due, so a stall also charges the requests
queued behind it, and the dispatcher's own lateness is reported.  Every
request builds its query vector as a literal and a new relevance UDF,
so plan construction, codegen and the Python-worker crossing dominate;
the workload is read-only and the KG layers do nothing.

The traced run adds the streaming leg (``stream_leg.py``) after the
window, the only place the streaming layers are measured.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor, wait

from . import harness, stream_leg
from .corpus import ensure_corpus
from .tracing import Tracer

N_PAGES = 300
EMBEDDING_DIM = 64
MAX_RESULTS = 10
# Offered load, frozen after calibration below closed-loop capacity
# (README.md records the calibration).
RATE_QPS = 0.4
DRAIN_TIMEOUT_S = 60.0
VERIFY_SAMPLE = 12
TOL = 1e-6

SYNONYM_TERMS = ("database", "setup", "storage", "deploy", "cloud",
                 "configure")


# Request kinds, offered in this fixed cyclic order so every run has the
# same composition and arrival pattern whatever the seed.  The cycle, and
# so the shares, are an assumption: no traffic data exists for this
# engine.  A 16 s run offers short, follow-up, long, synonym, short,
# follow-up: the two follow-ups (extra action + second leg, the slowest
# kind) are the two samples the 90th percentile interpolates between.
KINDS = ("short", "follow_up", "long", "synonym")


def make_queries(seed: int, n: int) -> list[dict]:
    """Seeded requests cycling through ``KINDS``: short (<20 chars), long,
    queries that expand to synonyms, and follow-ups with chat history
    (the enhanced second leg plus merge).  The seed picks the entities
    and wording.  Every query names an entity, so every query has
    matching chunks."""
    from driftmind_spark.kernels.textproc import expand_query
    from driftmind_spark.kernels.vocab import CANONICAL_ENTITIES, PREDICATES

    rng = random.Random(seed ^ 0x5EA5C4)
    short_names = [e for e in CANONICAL_ENTITIES if len(e) < 20]
    preds = sorted(PREDICATES)
    out = []
    for i in range(n):
        kind = KINDS[i % len(KINDS)]
        ent = rng.choice(CANONICAL_ENTITIES)
        other = rng.choice([e for e in CANONICAL_ENTITIES if e != ent])
        phrase = PREDICATES[rng.choice(preds)]["en"]
        q = {"id": i, "kind": kind, "history": None}
        if kind == "short":
            q["query"] = rng.choice(short_names)
        elif kind == "long":
            q["query"] = f"{ent} {phrase} {other} in {rng.randint(1999, 2024)}"
        elif kind == "synonym":
            terms = rng.sample(SYNONYM_TERMS, 2)
            q["query"] = f"{ent} {terms[0]} {terms[1]}"
            assert expand_query(q["query"]) != q["query"]
        else:
            doc = rng.randrange(30, 30 + N_PAGES)
            q["query"] = f"tell me more about {ent}"
            q["history"] = [f"Earlier we discussed doc-{doc}.pdf about {ent}.",
                            f"{ent} {phrase} {other}."]
        out.append(q)
    return out


def build_index(ctx, corpus: str):
    """Set-up step: chunk + embed the corpus, write the chunks table,
    read it back, pin it in memory (the serving index) and run one
    warm-up search on it."""

    def build(spark):
        from driftmind_spark.operators.chunking import build_chunks

        spark.sparkContext.setJobDescription("bench:index")
        path = ctx.path("index")
        pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        build_chunks(pages, embedding_dim=EMBEDDING_DIM,
                     use_text_column=True).drop("norm_text").write.parquet(path)
        index = spark.read.parquet(path).cache()
        index.count()
        spark.sparkContext.setJobDescription(None)
        # warm-up before the window: one query that expands to synonyms
        # (two base legs + union) and carries history (second leg +
        # merge) runs every search path
        by_kind = {q["kind"]: q for q in make_queries(ctx.seed + 1,
                                                      len(KINDS))}
        warm_q = dict(by_kind["follow_up"], query=by_kind["synonym"]["query"])
        warm = _request(spark, index, warm_q, 0.0, 0.0, Tracer(enabled=False),
                        group="warm")
        if warm["error"]:
            raise RuntimeError(f"warm-up search failed: {warm['error']}")
        return index, path

    return build


def _request(spark, index, q: dict, due: float, sent: float, tracer,
             group: str = "search") -> dict:
    from driftmind_spark.operators.search import search

    res = {"id": q["id"], "due": due, "sent": sent, "rows": None,
           "error": None}
    tid = f"q{q['id']}"
    try:
        spark.sparkContext.setJobDescription(f"bench:{group}:{q['id']}")
        with tracer.span("search.request", trace_id=tid):
            t0 = time.perf_counter()
            with tracer.span("search.plan"):
                df = search(index, q["query"], max_results=MAX_RESULTS,
                            history=q["history"],
                            embedding_dim=EMBEDDING_DIM)
            t1 = time.perf_counter()
            with tracer.span("search.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        res.update(rows=[r.asDict() for r in rows], plan_s=t1 - t0,
                   exec_s=t2 - t1)
    except Exception:  # a failed request is counted, the loop goes on
        res["error"] = traceback.format_exc()
    res["done"] = time.perf_counter()
    return res


def serve(spark, index, queries, rate: float, tracer) -> list[dict]:
    pool = ThreadPoolExecutor(max_workers=harness.nproc())
    futures = []
    t0 = time.perf_counter() + 0.05
    dues = [t0 + i / rate for i in range(len(queries))]
    try:
        for q, due in zip(queries, dues):
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(_request, spark, index, q, due,
                                       time.perf_counter(), tracer))
        done, _ = wait(futures, timeout=DRAIN_TIMEOUT_S)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    out = []
    for q, due, f in zip(queries, dues, futures):
        if f in done:
            out.append(f.result())
        else:
            out.append({"id": q["id"], "due": due, "rows": None, "done": None,
                        "error": "not completed within the drain timeout"})
    return out


def verify(resp: dict, q: dict, embedding_of: dict) -> str | None:
    """None if the response is right, else why not.  Invariants on every
    response; scores recomputed with the pure kernels when
    ``embedding_of`` is given."""
    from driftmind_spark.kernels.hashing import hashed_ngram_embedding
    from driftmind_spark.kernels.textproc import (
        calculate_relevance_score,
        cosine_similarity,
        expand_query,
        is_follow_up_question,
    )
    from driftmind_spark.operators.search import MIN_SCORE, MIN_SCORE_FOLLOW_UP

    if resp["error"]:
        return resp["error"].strip().splitlines()[-1]
    rows = resp["rows"]
    if not rows:
        return "empty result"
    if len(rows) > MAX_RESULTS:
        return f"{len(rows)} rows > cap {MAX_RESULTS}"
    keys = [(-r["score"], r["url"]) for r in rows]
    if keys != sorted(keys):
        return "rows not ordered by score desc, url asc"
    if len({r["url"] for r in rows}) != len(rows):
        return "more than one row per document"
    query, history = q["query"], q["history"]
    min_score = MIN_SCORE_FOLLOW_UP if is_follow_up_question(query) \
        else MIN_SCORE
    if not history and any(r["score"] < min_score - TOL for r in rows):
        return f"score below threshold {min_score}"
    if embedding_of is None:
        return None
    expanded = expand_query(query)
    qv = hashed_ngram_embedding(query, EMBEDDING_DIM).tolist()
    ev = hashed_ngram_embedding(expanded, EMBEDDING_DIM).tolist()
    for r in rows:
        emb = embedding_of[(r["url"], r["chunk_index"])]
        cq, ce = cosine_similarity(emb, qv), cosine_similarity(emb, ev)
        vs, score = r["vector_score"], r["score"]
        base_ok = (math.isclose(vs, max(cq, ce), abs_tol=TOL)
                   and math.isclose(score, calculate_relevance_score(
                       r["content"], query, vs), abs_tol=TOL))
        # enhanced-leg rows: expanded query, x1.8 / x1.3 history boosts
        enh = calculate_relevance_score(r["content"], expanded, ce)
        enh_ok = bool(history) and math.isclose(vs, ce, abs_tol=TOL) and any(
            math.isclose(score, enh * b, abs_tol=TOL) for b in (1.0, 1.3, 1.8))
        if not (base_ok or enh_ok):
            return (f"score mismatch for {r['url']}#{r['chunk_index']}: "
                    f"vector_score={vs} score={score}")
    return None


def run(ctx: harness.RunContext) -> dict:
    import pyarrow.parquet as pq

    corpus = ensure_corpus(harness.WORK, ctx.seed, N_PAGES)
    n_requests = max(1, round(RATE_QPS * ctx.seconds))
    queries = make_queries(ctx.seed, n_requests)

    with harness.RssSampler(ctx.trace) as rss:
        spark, (index, index_path), setup = harness.set_up(
            ctx, build_index(ctx, corpus))
        # guard: a dim mismatch makes cosine_sim score every chunk 0.0
        # and every query silently returns nothing
        emb = pq.read_table(index_path, columns=["embedding"]).column(
            "embedding")
        dims = set(emb.combine_chunks().value_lengths().to_pylist())
        if dims != {EMBEDDING_DIM}:
            raise RuntimeError(f"index embedding sizes {dims} != "
                               f"embedding_dim {EMBEDDING_DIM}")
        t0 = time.perf_counter()
        responses = serve(spark, index, queries, RATE_QPS, ctx.tracer)
        wall = time.perf_counter() - t0
    leg = None
    if ctx.trace:
        # the streaming layers' only measurement: a separate leg after
        # the window, so it moves none of the search figures
        leg = stream_leg.run_leg(ctx, spark, corpus)
    spark.stop()

    table = pq.read_table(index_path,
                          columns=["url", "chunk_index", "embedding"])
    embedding_of = dict(zip(
        zip(table.column("url").to_pylist(),
            table.column("chunk_index").to_pylist()),
        table.column("embedding").to_pylist()))
    sampled = set(random.Random(ctx.seed).sample(
        range(len(queries)), min(VERIFY_SAMPLE, len(queries))))
    failed = 0
    for msg in leg["failures"] if leg else []:
        failed += 1
        print(f"stream leg check failed: {msg}", file=sys.stderr)
    for resp, q in zip(responses, queries):
        why = verify(resp, q, embedding_of if q["id"] in sampled else None)
        if why:
            failed += 1
            print(f"search_serve request {q['id']} ({q['kind']}) failed: "
                  f"{why}", file=sys.stderr)

    # a failed request counts as missing any latency limit
    ok = [r for r in responses if r["error"] is None]
    lat_ms = [(r["done"] - r["due"]) * 1000 if r["error"] is None
              else DRAIN_TIMEOUT_S * 1000 for r in responses]
    # service time: the program's own time per request, not the
    # dispatcher's rate
    service_s = sum(r["plan_s"] + r["exec_s"] for r in ok)
    index_bytes = sum(os.path.getsize(os.path.join(dp, n))
                      for dp, _, ns in os.walk(index_path) for n in ns)
    result = {
        "correct": failed == 0,
        "attempted": len(responses) + (1 if leg else 0),
        "failed": failed,
        "wall_s": wall,
        "metrics": {
            "setup_s": (setup["setup_s"], "s"),
            "docs_per_s": (len(ok) * N_PAGES / max(service_s, 1e-9),
                           "pages/s"),
            "query_p50_ms": (harness.percentile(lat_ms, 50), "ms"),
            "query_p90_ms": (harness.percentile(lat_ms, 90), "ms"),
            "written_bytes_per_doc": (index_bytes / N_PAGES, "B/page"),
        },
    }
    if ctx.trace:
        result["layers"] = {"peak_rss_mb": (rss.peak_mb, "MiB")}
        result["layers"].update(_layer_metrics(ctx, setup, responses, leg))
    return result


def _layer_metrics(ctx, setup, responses, leg) -> dict:
    from .tracing import summarize_event_logs

    groups = summarize_event_logs(ctx.eventlog_dir)
    s = groups.get("search", {})
    n = max(1, len(responses))
    done = [r for r in responses if r.get("plan_s") is not None]
    late_ms = [(r["sent"] - r["due"]) * 1000 for r in responses
               if r.get("sent") is not None]
    layers = {
        "session.start_s": (setup["session.start_s"], "s"),
        "setup.prepare_s": (setup["setup.prepare_s"], "s"),
        "search.plan_ms": (harness.median(
            [r["plan_s"] * 1000 for r in done]), "ms"),
        "search.exec_ms": (harness.median(
            [r["exec_s"] * 1000 for r in done]), "ms"),
        "search.jobs_per_query": (s.get("jobs", 0) / n, "jobs"),
        "search.udf_rows": (s.get("python_rows", 0) / n, "rows"),
        "search.scan_bytes": (s.get("input_bytes", 0) / n, "B"),
        "search.gen_late_ms": (harness.percentile(late_ms, 90), "ms"),
    }
    layers.update(stream_leg.leg_layers(leg, groups))
    ctx.tracer.write(ctx.trace_output, {"event_log_groups": groups})
    return layers
