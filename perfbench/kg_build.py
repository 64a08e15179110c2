"""kg_build: one full ``kg.pipeline.run(quality=True, dedup=True,
chunk_dedup=True)`` over a fresh ``out_dir`` — the north-rule batch job.

Every batch layer does real work here (extract, quality, dedup, chunks,
chunk_dedup, triples, nodes, edges, lineage writes); the search layer
does none.  The measured window is exactly one build, because a build is
the unit of work a user submits; ``--seconds`` does not change it.
Outputs are checked afterwards, untimed, with pyarrow and the pure
kernels only (no Spark), so a check cannot share a bug with the plan it
checks.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from collections import Counter

from . import harness, stream_leg
from .corpus import ensure_corpus

N_PAGES = 600
PARITY_SAMPLE = 25
MIN_TRIPLE_PR = 0.95
# The gate's language guess is a heuristic: on some seeds it rejects a
# few entity-dense German pages as bad_lang (3 of 541 real pages on seed
# 706), so real pages may be rejected up to this share; planted junk
# must all be rejected.
MAX_FALSE_REJECT = 0.01
# pipeline stages in the order run() executes them; each is the job
# description group dm:<run_id>:<stage>
STAGES = ("extract", "quality", "dedup", "chunks", "chunk_dedup", "triples",
          "nodes", "edges")


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _read(path: str, columns=None):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns)


def check_outputs(corpus: str, out_dir: str, metrics: dict, meta: dict,
                  seed: int) -> list[str]:
    """Failed checks, as messages (empty when every check passes)."""
    from driftmind_spark.kernels.textproc import chunk_text

    failures = []
    n_pages = meta["pages"]

    lineage = _read(os.path.join(out_dir, "lineage")).to_pylist()
    extract_rows: dict[int, int] = {}
    for r in lineage:
        if r["stage"] == "extract" and r["status"] == "done":
            extract_rows[r["bucket"]] = max(extract_rows.get(r["bucket"], 0),
                                            r["row_count"])
    if sum(extract_rows.values()) != n_pages:
        failures.append(f"lineage extract rows {sum(extract_rows.values())} "
                        f"!= pages fed {n_pages}")
    rejected = _read(os.path.join(out_dir, "quality_audit"),
                     ["url"]).column("url").to_pylist()
    junk = set(meta["junk_urls"])
    passed_junk, false_rejects = junk - set(rejected), set(rejected) - junk
    if metrics.get("quality_dropped") != len(rejected):
        failures.append(f"quality_dropped {metrics.get('quality_dropped')} "
                        f"!= {len(rejected)} quality_audit rows")
    if passed_junk:
        failures.append(f"{len(passed_junk)} of {len(junk)} planted junk "
                        "pages passed the quality gate")
    if len(false_rejects) > MAX_FALSE_REJECT * (n_pages - len(junk)):
        failures.append(f"{len(false_rejects)} real pages rejected as junk")

    kept = set(_read(os.path.join(out_dir, "extracted_dedup"),
                     ["url"]).column("url").to_pylist())
    cols = ["url", "subj", "pred", "obj"]
    exp_t = _read(os.path.join(corpus, "expected_triples.parquet"), cols)
    expected = Counter(t for t in zip(*(exp_t.column(c).to_pylist()
                                        for c in cols)) if t[0] in kept)
    got_t = _read(os.path.join(out_dir, "triples"), cols)
    got = Counter(zip(*(got_t.column(c).to_pylist() for c in cols)))
    tp = sum((got & expected).values())
    precision = tp / max(1, sum(got.values()))
    recall = tp / max(1, sum(expected.values()))
    if not expected or precision < MIN_TRIPLE_PR or recall < MIN_TRIPLE_PR:
        failures.append(f"triples P={precision:.4f} R={recall:.4f} "
                        f"(expected {sum(expected.values())})")
    if metrics.get("edges") != metrics.get("triples"):
        failures.append(f"edges {metrics.get('edges')} != triples "
                        f"{metrics.get('triples')}")

    pages = _read(os.path.join(corpus, "pages.parquet"), ["url", "text"])
    text_of = dict(zip(pages.column("url").to_pylist(),
                       pages.column("text").to_pylist()))
    sample = random.Random(seed).sample(sorted(kept),
                                        min(PARITY_SAMPLE, len(kept)))
    chunks = _read(os.path.join(out_dir, "chunks"),
                   ["url", "chunk_index", "content"]).to_pylist()
    by_url: dict[str, list] = {}
    for r in chunks:
        by_url.setdefault(r["url"], []).append(r)
    for url in sample:
        got_chunks = [r["content"] for r in sorted(
            by_url.get(url, []), key=lambda r: r["chunk_index"])]
        if got_chunks != chunk_text(text_of[url], 300, 20):
            failures.append(f"chunk byte-parity failed for {url}")
    return failures


def run(ctx: harness.RunContext) -> dict:
    from driftmind_spark.kg.pipeline import run as kg_run

    corpus = ensure_corpus(harness.WORK, ctx.seed, N_PAGES)
    with open(os.path.join(corpus, "meta.json")) as f:
        meta = json.load(f)
    out_dir = ctx.path("kg_out")
    run_id = f"bench-s{ctx.seed}-{os.getpid()}"
    if os.path.exists(out_dir):
        # a re-used out_dir/run_id silently skips committed buckets
        raise RuntimeError(f"{out_dir} exists; every build starts empty")

    with harness.RssSampler(ctx.trace) as rss:
        spark, _, setup = harness.set_up(ctx)
        t0 = time.perf_counter()
        epoch0 = time.time()
        with ctx.tracer.span("kg.pipeline.run", trace_id=run_id):
            metrics = kg_run(spark, corpus, out_dir, run_id=run_id,
                             quality=True, dedup=True, chunk_dedup=True)
        wall = time.perf_counter() - t0
    spark.stop()

    failures = check_outputs(corpus, out_dir, metrics, meta, ctx.seed)
    for msg in failures:
        print(f"kg_build check failed: {msg}", file=sys.stderr)
    written, files = _dir_bytes_files(out_dir)
    pages = meta["pages"]

    result = {
        "correct": not failures,
        "attempted": 1,
        "failed": 1 if failures else 0,
        "wall_s": wall,
        "metrics": {
            "setup_s": (setup["setup_s"], "s"),
            "docs_per_s": (pages / wall, "pages/s"),
            "query_p50_ms": (wall * 1000, "ms"),
            "query_p90_ms": (wall * 1000, "ms"),
            "written_bytes_per_doc": (written / pages, "B/page"),
        },
    }
    if ctx.trace:
        result["layers"] = {"peak_rss_mb": (rss.peak_mb, "MiB")}
        result["layers"].update(_layer_metrics(
            ctx, metrics, setup, written, files, epoch0, t0))
    return result


def _layer_metrics(ctx, metrics, setup, written, files, epoch0,
                   t0) -> dict:
    from .tracing import summarize_event_logs

    groups = summarize_event_logs(ctx.eventlog_dir)
    root = next(s["id"] for s in ctx.tracer.spans
                if s["name"] == "kg.pipeline.run")
    for stage in STAGES:
        g = groups.get(stage)
        if g:
            # event-log epoch seconds -> this process's perf_counter clock
            ctx.tracer.add_span(f"kg.stage.{stage}",
                                g["first_start"] - epoch0 + t0,
                                g["last_end"] - epoch0 + t0, parent=root)
    self_s = ctx.tracer.self_times()

    def g(stage, key):
        return groups.get(stage, {}).get(key, 0)

    layers = {
        "session.start_s": (setup["session.start_s"], "s"),
        "setup.prepare_s": (setup["setup.prepare_s"], "s"),
        "chunking.extract_s": (self_s.get("kg.stage.extract", 0.0), "s"),
        "chunking.chunks_s": (self_s.get("kg.stage.chunks", 0.0), "s"),
        "chunking.chunks_rows": (metrics["chunks"], "rows"),
        "chunking.python_bytes": (g("extract", "python_bytes")
                                  + g("chunks", "python_bytes"), "B"),
        "quality.s": (self_s.get("kg.stage.quality", 0.0), "s"),
        "quality.rejected": (metrics["quality_dropped"], "pages"),
        "dedup.s": (self_s.get("kg.stage.dedup", 0.0), "s"),
        "dedup.dropped": (metrics["dedup_dropped"], "pages"),
        "dedup.shuffle_bytes": (g("dedup", "shuffle_write_bytes"), "B"),
        "chunk_dedup.s": (self_s.get("kg.stage.chunk_dedup", 0.0), "s"),
        "chunk_dedup.dropped": (metrics["chunk_dedup_dropped"], "rows"),
        "triples.s": (self_s.get("kg.stage.triples", 0.0), "s"),
        "triples.rows": (metrics["triples"], "rows"),
        "nodes.s": (self_s.get("kg.stage.nodes", 0.0), "s"),
        "nodes.components": (metrics["components"], "count"),
        "edges.s": (self_s.get("kg.stage.edges", 0.0), "s"),
        "kg.pipeline.self_s": (self_s.get("kg.pipeline.run", 0.0), "s"),
        "sources.bytes_written": (written, "B"),
        "sources.files_written": (files, "count"),
    }
    for stage in STAGES:
        layers[f"{stage}.jobs"] = (g(stage, "jobs"), "count")
        layers[f"{stage}.tasks"] = (g(stage, "tasks"), "count")
        layers[f"{stage}.shuffle_write_bytes"] = (
            g(stage, "shuffle_write_bytes"), "B")
        layers[f"{stage}.spill_bytes"] = (g(stage, "spill_bytes"), "B")
    # the streaming leg runs only in search_serve's traced run
    layers.update(stream_leg.leg_layers(None, groups))
    ctx.tracer.write(ctx.trace_output, {"event_log_groups": groups})
    return layers
