"""Shared benchmark pieces: the per-run directory, the Spark session
set-up and warm pass, process-tree RSS sampling and small statistics.

Everything a run writes lives under ``<checkout>/.perfbench`` (git
ignored): corpora cached per seed, the run's own scratch directory
(deleted at exit) and the untraced wall times a traced run compares
itself against.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    """Cores this process may run on; every pool and Spark master in the
    benchmark is sized from it."""
    return len(os.sched_getaffinity(0))


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] (inclusive
    method, so it stays inside the observed range)."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[int(q) - 1])


class RunContext:
    """One benchmark run: workload, seed, window length, trace flag and a
    fresh scratch directory that nothing else uses."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        from .tracing import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = os.path.join(
            WORK, "runs", f"{workload}-s{seed}-{os.getpid()}"
        )
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(os.path.join(self.run_dir, "tmp"))
        self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.eventlog_dir)
        self.tracer = Tracer(enabled=trace)
        self.trace_output = os.path.join(WORK, "traces",
                                         f"{workload}-s{seed}.json")
        if trace:
            os.makedirs(os.path.dirname(self.trace_output), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def export_env(self) -> None:
        """Environment the Spark JVMs and Python workers inherit: the
        checkout on the import path and every scratch file inside it
        (no JVM perf-data file under /tmp either)."""
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}")

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Spark session set-up
# ---------------------------------------------------------------------------


def start_session(ctx: RunContext):
    from driftmind_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": ctx.path("warehouse")}
    if ctx.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(master=f"local[{nproc()}]",
                     app_name=f"perfbench-{ctx.workload}", extra_conf=conf)


def _warm_kernel(batches):
    # import every kernel module a pipeline task loads, so the worker
    # pool's import cost lands in set-up and not in the first timed task
    import driftmind_spark.kernels.extract  # noqa: F401
    import driftmind_spark.kernels.hashing  # noqa: F401
    import driftmind_spark.kernels.openie  # noqa: F401
    import driftmind_spark.kernels.textproc  # noqa: F401

    yield from batches


def warm_pass(spark) -> None:
    """One Arrow-UDF pass with a task on every core (starts the Python
    worker pool) and one planned shuffle query (codegen + exchange)."""
    n = nproc()
    sc = spark.sparkContext
    sc.setJobDescription("bench:warm")
    spark.range(0, 64 * n, 1, n).mapInArrow(_warm_kernel, "id long").count()
    spark.range(0, 10_000, 1, n).selectExpr("id % 97 AS k").groupBy(
        "k").count().collect()
    sc.setJobDescription(None)


def set_up(ctx: RunContext, prepare=warm_pass):
    """The run's set-up: session start (JVM launch included), then
    ``prepare``: the warm pass, or a workload's own preparation, which
    must itself run an Arrow-UDF pass and a planned query.  Returns the
    session, what ``prepare`` returned and the set-up metrics."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        spark = start_session(ctx)
    t1 = time.perf_counter()
    with ctx.tracer.span("setup.prepare"):
        prepared = prepare(spark)
    t2 = time.perf_counter()
    return spark, prepared, {
        "setup_s": t2 - t0,
        "session.start_s": t1 - t0,
        "setup.prepare_s": t2 - t1,
    }


def stop_jvm() -> None:
    """Shut down the JVM that PySpark launched, if any, and wait for it:
    the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# Process-tree RSS
# ---------------------------------------------------------------------------


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after ')'
        parent[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (the Spark JVM, Python worker daemon and workers) every ``interval``
    seconds on a background thread; ``peak_mb`` is the largest sample.
    Disabled samplers (untraced runs, which do not report memory) start
    no thread, so the timed window shares the GIL with nothing."""

    def __init__(self, enabled: bool, interval: float = 0.25):
        self.enabled = enabled
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ---------------------------------------------------------------------------
# Untraced wall times, for the traced run's overhead ratio
# ---------------------------------------------------------------------------


def tree_hash() -> str:
    """Hash of the Python sources of the package under test and of the
    benchmark in this checkout: a traced run compares itself only with
    untraced runs of the same code."""
    h = hashlib.sha1()
    for top in ("driftmind_spark", "perfbench"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(dirpath, n)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def _walls_path(workload: str) -> str:
    return os.path.join(WORK, f"untraced-{workload}.jsonl")


def record_untraced_wall(workload: str, seed: int, wall_s: float) -> None:
    """Record the measured wall of an untraced run whose checks passed."""
    with open(_walls_path(workload), "a") as f:
        f.write(json.dumps({"tree": tree_hash(), "seed": seed,
                            "wall_s": wall_s}) + "\n")


def untraced_walls(workload: str) -> list[float]:
    """Walls of the recorded untraced runs of the current code."""
    tree = tree_hash()
    try:
        with open(_walls_path(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    return [r["wall_s"] for r in rows if r.get("tree") == tree]
