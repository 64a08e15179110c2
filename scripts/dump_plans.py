#!/usr/bin/env python
"""Dump .explain("formatted") for declared queries into plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix from $PLAN_SUFFIX,
default "before").  Besides the driver queries, ``search`` dumps one
request plan of ``operators.search.search`` (the driver's ``entry``):
``python scripts/dump_plans.py search-ab search`` on two trees gives the
request plans to diff.  Not part of the bench contract; a measurement aid
for the optimization rounds (guide §1 / §7.2).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(2 * 1024 * 1024))
    os.environ.setdefault("SPARK_GRAFT_OPEN_COST_BYTES", str(128 * 1024))
    from driftmind_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="driftmind-plans")
    qmap = {**entry_mod.queries(),
            "search": lambda spark, _sf_dir: entry_mod.entry(spark)}
    if not names:
        names = list(qmap)
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    for name in names:
        try:
            df = qmap[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 - record the failure, keep going
            plan = f"ERROR: {e!r}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} chars")
    spark.stop()


if __name__ == "__main__":
    main()
