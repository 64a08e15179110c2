"""Seeded benchmark corpora, generated in the benchmark process before
Spark starts, and cached per (seed, pages).  A corpus directory holds

* ``pages.parquet/part-*.parquet``: ``driftmind_spark.synth.generate_pages``
  output with 20-60 sentences per page, 10% planted junk and 10%
  near-duplicate clones, split over ``PARTS`` files so a scan has a task
  per core;
* ``expected_triples.parquet`` and ``aliases.parquet`` (the synth
  contract tables);
* ``meta.json`` with the page count and the planted junk pages' urls,
  then a ``_DONE`` marker.

Pages start after the synthesizer's chunking-adversarial edge pages
(empty page, one-word page, ...): those are unit-test fixtures, not
crawl content, and the quality gate rightly rejects them.
"""

from __future__ import annotations

import json
import os
import shutil

PARTS = 8
DUP_RATE = 0.1
JUNK_RATE = 0.1
MIN_SENT, MAX_SENT = 20, 60


def write_corpus(out_dir: str, seed: int, n_pages: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftmind_spark import synth
    from driftmind_spark.kernels.vocab import ALIASES

    start = len(synth.EDGE_TEXTS)
    pages, triples = synth.generate_pages(
        n_pages, seed=seed, start=start, min_sent=MIN_SENT, max_sent=MAX_SENT,
        dup_rate=DUP_RATE, junk_rate=JUNK_RATE,
    )
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages.parquet"))
    per = -(-n_pages // PARTS)
    for i in range(PARTS):
        part = pages.slice(i * per, per)
        path = os.path.join(tmp, "pages.parquet", f"part-{i:05d}.parquet")
        pq.write_table(part, path)
    pq.write_table(triples, os.path.join(tmp, "expected_triples.parquet"))
    pq.write_table(
        pa.table({"alias": list(ALIASES), "entity": list(ALIASES.values())}),
        os.path.join(tmp, "aliases.parquet"),
    )
    # the synthesizer's own definition of a planted junk page
    junk_urls = [url for i, url in enumerate(pages.column("url").to_pylist())
                 if synth._is_planted_junk(start + i, seed, JUNK_RATE)]
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"seed": seed, "pages": n_pages, "junk_urls": junk_urls}, f)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def ensure_corpus(cache_dir: str, seed: int, n_pages: int,
                  keep: int = 12) -> str:
    """Path of the cached corpus for (seed, n_pages), generating it when
    missing.  Keeps the ``keep`` most recently used corpora."""
    out = os.path.join(cache_dir, f"corpus-s{seed}-n{n_pages}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        os.makedirs(cache_dir, exist_ok=True)
        write_corpus(out, seed, n_pages)
    os.utime(out)
    cached = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
         if d.startswith("corpus-") and not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in cached[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return out
