"""Shared plumbing for the benchmark: checkout-local paths, the Spark
session, host/JVM diagnostics, latency statistics and the span tracer.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
directory it is started from (Spark scratch, temp files, stored tables,
event backlogs); nothing is read from outside that directory.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
#: self-test size: every workload shrinks to a few ops
TINY = os.environ.get("PERFBENCH_TINY") == "1"


def prepare_work_dir() -> None:
    """Fresh work directory; Spark and Python temp files are pointed at
    it before the JVM starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (os.cpu_count() or 4)


def new_session():
    """``local[nproc]`` session built by the package's own
    :func:`get_spark`, with scratch and warehouse inside the work dir."""
    from transaq_clickhouse_exporter_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app="perfbench",
        cpus=cores(),
        extra={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.python.worker.reuse": "true",
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


# --------------------------------------------------------------------------
# diagnostics: host canary and JVM GC counters (never gated)
# --------------------------------------------------------------------------


def canary_ms() -> float:
    """Fixed single-core hashing loop; its time tracks how fast the host
    is right now, independent of the program under test."""
    t = time.perf_counter()
    h = b"x" * 1024
    for _ in range(20000):
        h = hashlib.sha256(h).digest()
    return (time.perf_counter() - t) * 1e3


def gc_counters(spark) -> tuple[float, int]:
    """(total GC ms, total GC count) over the driver JVM's collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    ms, n = 0.0, 0
    for bean in mf.getGarbageCollectorMXBeans():
        ms += max(0, bean.getCollectionTime())
        n += max(0, bean.getCollectionCount())
    return ms, n


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  Spans nest by call structure; each is
    ``[name, start_s, end_s, parent_index]``.  Disabled tracers record
    nothing and cost one attribute check."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        fn = getattr(module, attr)
        label = name or attr
        tracer = self

        def wrapped(*a, **k):
            with tracer.span(label):
                return fn(*a, **k)

        wrapped.__wrapped__ = fn
        setattr(module, attr, wrapped)

    def total_ms(self, name: str, since: int = 0) -> float:
        return sum((s[2] - s[1]) * 1e3 for s in self.spans[since:] if s[0] == name and s[2])

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s[0] == name)

    def check(self) -> list[str]:
        """Well-formedness problems: unfinished spans, children outside
        their parent, negative self time."""
        problems = []
        child_ms = [0.0] * len(self.spans)
        for i, (name, s, e, p) in enumerate(self.spans):
            if e is None or e < s:
                problems.append(f"span {i} {name} unfinished or reversed")
                continue
            if p >= 0:
                ps, pe = self.spans[p][1], self.spans[p][2]
                if pe is None or s < ps or e > pe:
                    problems.append(f"span {i} {name} outside parent {p}")
                child_ms[p] += e - s
        for i, (name, s, e, _p) in enumerate(self.spans):
            if e is not None and (e - s) - child_ms[i] < -1e-9:
                problems.append(f"span {i} {name} negative self time")
        return problems

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(self.spans, f)
