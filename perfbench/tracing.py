"""The traced window: per-layer metrics from the benchmark's own spans
and from what Spark reports about each op.

Spans wrap ``run_ch_sql``, ``translate_ch_sql`` and
``register_ch_functions`` (patched on ``queries.ch_compat`` for the
traced window only), ``storage.read_table_range`` and
``storage.write_table``, and the fetch.  After each op the probe reads
the query's ``QueryPlanningTracker`` phases, walks the final adaptive
plan for node counts and SQL metrics, and counts the jobs, stages and
tasks ``statusTracker`` saw under the op's job group.  Execute time
comes from a ``noop``-sink re-run of the same DataFrame; Arrow fetch
time is ``toPandas`` minus that.  Streaming ops read
``StreamingQueryProgress.durationMs``.  Spans stay in memory and are
written to ``.perfbench_work/spans.json`` at the end.

Per-op metrics are means over the traced window's ops.  So that every
layer reads a measured value on every workload, the traced window ends
with a small fixed cross-probe of the layers the workload's own path
skips: ``panels`` drains one trades file and one tick file through the
ingest pipelines; ``ingest`` writes the panels tables and runs the
template variables and three panels.  Those layers' metrics come from
the cross-probe alone.  Last, on both workloads, :mod:`catalog_probe`
runs pinned ``parity.catalog()`` entries, one or more per family, for the
``catalog.*_ms`` metrics; its ops are timed on their own and add to no
other layer's mean.  A metric the run never sampled is left out of the
result rather than printed as 0, so the self-test catches a layer that
went unmeasured.  ``op_p90_ms`` and ``op_p99_ms`` are the
untraced window's tails: with a few dozen ops per run they do not repeat
within a tenth from run to run, so they are reported here, not gated.
"""

from __future__ import annotations

import os
import time

from . import catalog_probe, common

UNITS = {
    "op_p90_ms": "ms",
    "op_p99_ms": "ms",
    "ch_compat.translate_ms": "ms",
    "ch_compat.shim_register_ms": "ms",
    "ch_compat.shims_registered": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.sorts": "count",
    "plan.windows": "count",
    "plan.python_evals": "count",
    "plan.inmemory_scans": "count",
    "plan.broadcasts": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.execute_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_memory_bytes": "bytes",
    "fetch.arrow_ms": "ms",
    "fetch.rows": "count",
    "storage.read_build_ms": "ms",
    "storage.files_listed": "count",
    "storage.bytes_scanned": "bytes",
    "storage.write_ms": "ms",
    "storage.files_written": "count",
    "storage.bytes_written_per_row": "bytes",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "ingest.add_batch_ms": "ms",
    "ingest.get_batch_ms": "ms",
    "ingest.query_planning_ms": "ms",
    "ingest.commit_ms": "ms",
    "ingest.rows_per_batch": "count",
    "ingest.candle_state_rows": "count",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "host.canary_ms": "ms",
    "setup.session_s": "s",
    "setup.prewarm_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_pct": "%",
}
UNITS.update({f"catalog.{fam}_ms": "ms" for fam in catalog_probe.FAMILIES})

_PYTHON_NODES = ("Python", "Pandas", "ArrowEval", "BatchEval")


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def walk_plan(plan) -> dict:
    """Node counts and summed SQL metrics of a physical plan, looking
    through adaptive wrappers, query stages and reused exchanges."""
    out = {"exchanges": 0, "sorts": 0, "windows": 0, "python_evals": 0, "inmemory_scans": 0,
           "broadcasts": 0, "shuffle_bytes": 0, "spill": 0, "peak_mem": 0, "files": 0,
           "file_bytes": 0}
    stack = [plan]
    seen = 0
    while stack and seen < 500:
        node = stack.pop()
        seen += 1
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        if name == "ReusedExchange":
            stack.append(node.child())
            continue
        if name == "Exchange":
            out["exchanges"] += 1
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
        elif name == "Sort":
            out["sorts"] += 1
        elif name.startswith("Window"):
            out["windows"] += 1
        elif name == "InMemoryTableScan":
            out["inmemory_scans"] += 1
        elif any(k in name for k in _PYTHON_NODES):
            out["python_evals"] += 1
        for kv in _scala_iter(node.metrics()):
            k, v = kv._1(), kv._2().value()
            if k == "shuffleBytesWritten":
                out["shuffle_bytes"] += v
            elif k == "spillSize":
                out["spill"] += v
            elif k == "peakMemory":
                out["peak_mem"] = max(out["peak_mem"], v)
            elif k == "numFiles":
                out["files"] += v
            elif k == "filesSize":
                out["file_bytes"] += v
        stack.extend(_scala_iter(node.children()))
    return out


def phases(df) -> dict:
    tr = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = tr.get(p)
        out[p] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


class Probe:
    """Collects per-op observations during the traced window."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.n_ops = 0
        self._group = None

    def add(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(float(v))

    # -- op boundaries (Recorder hooks) --------------------------------------

    def begin(self, spark, name: str) -> None:
        self.n_ops += 1
        self._group = f"pb-op-{self.n_ops}"
        spark.sparkContext.setJobGroup(self._group, name)

    def end(self, spark) -> None:
        st = spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(self._group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        self.add("exec.jobs", len(jobs))
        self.add("exec.stages", stages)
        self.add("exec.tasks", tasks)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- batch queries (panels) ----------------------------------------------

    def fetch(self, spark, df):
        """noop-sink run (execute), then ``toPandas`` (execute + fetch)."""
        t = time.perf_counter()
        with self.tracer.span("noop_execute"):
            df.write.format("noop").mode("overwrite").save()
        exec_ms = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        with self.tracer.span("toPandas"):
            pdf = df.toPandas()
        total_ms = (time.perf_counter() - t) * 1e3
        self.add("exec.execute_ms", exec_ms)
        self.add("fetch.arrow_ms", max(0.0, total_ms - exec_ms))
        self.add("fetch.rows", len(pdf))
        for k, v in phases(df).items():
            self.add(f"catalyst.{k}_ms", v)
        p = walk_plan(df._jdf.queryExecution().executedPlan())
        for k in ("exchanges", "sorts", "windows", "python_evals", "inmemory_scans", "broadcasts"):
            self.add(f"plan.{k}", p[k])
        self.add("exec.shuffle_write_bytes", p["shuffle_bytes"])
        self.add("exec.spill_bytes", p["spill"])
        self.add("exec.peak_memory_bytes", p["peak_mem"])
        self.add("storage.files_listed", p["files"])
        self.add("storage.bytes_scanned", p["file_bytes"])
        return pdf

    def storage_read(self, spark, table_dir: str, frm, to) -> None:
        """Rows before and after dedup-on-read for one refresh's range."""
        from pyspark.sql import functions as F
        from transaq_clickhouse_exporter_spark import storage

        path = os.path.join(table_dir, "trades")
        raw = spark.read.parquet(path).filter(
            (F.col("time") >= F.lit(frm.to_pydatetime())) & (F.col("time") <= F.lit(to.to_pydatetime())))
        fn = getattr(storage.read_table_range, "__wrapped__", storage.read_table_range)
        final = fn(spark, path, "transaq_trades", frm=frm.to_pydatetime(), to=to.to_pydatetime(),
                   final=True)
        self.add("dedup.rows_in", raw.count())
        self.add("dedup.rows_out", final.count())

    # -- streaming (ingest) ----------------------------------------------------

    def progress(self, name: str, p, table_path: str) -> None:
        d = p.durationMs
        self.add("ingest.add_batch_ms", d.get("addBatch", 0))
        self.add("ingest.get_batch_ms", d.get("getBatch", 0))
        self.add("ingest.query_planning_ms", d.get("queryPlanning", 0))
        self.add("ingest.commit_ms", d.get("commitOffsets", 0) + d.get("walCommit", 0))
        self.add("ingest.rows_per_batch", p.numInputRows)
        if name == "ticks" and p.stateOperators:
            self.add("ingest.candle_state_rows", p.stateOperators[0].numRowsTotal)

    def stored_files(self, root: str, rows: int) -> None:
        files = size = 0
        for d, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
        self.add("storage.files_written", files)
        if rows:
            self.add("storage.bytes_written_per_row", size / rows)


def traced_window(wl, spark, seconds: float, probe: Probe, recorder_cls, measure) -> dict:
    """Run ``measure`` with tracing on; returns the per-layer metrics."""
    from transaq_clickhouse_exporter_spark import storage
    from transaq_clickhouse_exporter_spark.queries import ch_compat

    tracer = probe.tracer
    patched = [(ch_compat, "run_ch_sql"), (ch_compat, "translate_ch_sql"),
               (ch_compat, "register_ch_functions"), (storage, "read_table_range"),
               (storage, "write_table")]
    originals = [(m, a, getattr(m, a)) for m, a in patched]
    for m, a in patched:
        tracer.wrap(m, a)
    tracer.enabled = True
    wl.probe = probe
    rec = recorder_cls()
    rec.before_op = lambda name: probe.begin(spark, name)
    rec.after_op = lambda name, ms: probe.end(spark)
    gc0 = common.gc_counters(spark)
    try:
        measure(wl, spark, seconds, rec)
        gc1 = common.gc_counters(spark)
        traced_p50 = common.pct(rec.lat_ms, 50)
        cross = getattr(wl, "cross_probe", None)
        if cross is not None:
            with tracer.span("cross_probe"):
                cross(spark, probe, rec)
    finally:
        tracer.enabled = False
        wl.probe = None
        for m, a, fn in originals:
            setattr(m, a, fn)
    # after the patches are gone, so catalog entries that go through
    # ch_compat or storage leave the workload's own per-call means alone
    catalog_probe.run(spark, wl.seed, probe, rec)
    # only what was sampled: a layer the window never reached stays out
    # of the result instead of reading 0
    out = {k: sum(v) / len(v) for k, v in probe.samples.items() if v}
    per_call = {"ch_compat.translate_ms": ("translate_ch_sql", "run_ch_sql"),
                "ch_compat.shim_register_ms": ("register_ch_functions", "run_ch_sql"),
                "storage.read_build_ms": ("read_table_range", "read_table_range"),
                "storage.write_ms": ("write_table", "write_table")}
    for key, (span, per) in per_call.items():
        if tracer.count(span) and tracer.count(per):
            out[key] = tracer.total_ms(span) / tracer.count(per)
    # the session's shim marker: "<token>" once every shim is registered,
    # "<token>:<name>,<name>…" while only some are
    marker = spark.conf.get("spark.tce.ch_shims", None)
    if marker is not None:
        names = marker.split(":", 1)[1].split(",") if ":" in marker else ch_compat._SCALAR_SHIMS
        out["ch_compat.shims_registered"] = len([x for x in names if x])
    out["jvm.gc_ms"] = gc1[0] - gc0[0]
    out["jvm.gc_count"] = gc1[1] - gc0[1]
    out["_traced_p50_ms"] = traced_p50
    out["_attempted"] = rec.attempted
    out["_failed"] = rec.failed
    return out
