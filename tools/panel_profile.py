#!/usr/bin/env python3
"""Per-panel layer profile of a Grafana refresh over FINAL snapshots.

Drives ``perfbench.w_panels`` (imported as is) on the benchmark's own
session and stored tables: one cold refresh, then ``--refreshes`` timed
ones, each with fresh drawn parameters.  A refresh registers both
tables with ``storage.read_table_range(final=True)``, runs the three
template variables, then every panel.  Per variable and panel it
reports medians over the timed refreshes of

- ``build_ms``: ``run_ch_sql`` — substitution, translation, shim
  registration and Catalyst analysis (``spark.sql``);
- ``fetch_ms``: ``toPandas`` — planning, execution and the Arrow fetch;
- ``jobs``: Spark jobs started under the op's own job group;
- ``failed``: ``spark.sql`` calls that raised (failed analyses a
  statement retried past), summed over the timed refreshes;

then ``register_ms`` and the refresh total.  The first op of a refresh
fills the trades snapshot, so its fetch carries the dedup.

Run from the checkout root (work files go to ``.perfbench_work/``, as
the benchmark's do, and are removed at exit):

    python3 tools/panel_profile.py [--seed 1] [--refreshes 5] [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, w_panels  # noqa: E402


def _count_sql_failures():
    """Wrap ``SparkSession.sql`` to count calls that raise; returns the
    counter (a one-element list)."""
    from pyspark.sql import SparkSession

    failed = [0]
    sql = SparkSession.sql

    def counted(self, *a, **k):
        try:
            return sql(self, *a, **k)
        except Exception:
            failed[0] += 1
            raise

    SparkSession.sql = counted
    return failed


def _op(spark, name: str, group: str, fn, failed) -> tuple[dict, object]:
    """Run ``fn`` (returns ``(build_ms, fetch_ms, pdf)``) under its own
    job group; returns its row and the fetched frame."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    before = failed[0]
    try:
        build_ms, fetch_ms, pdf = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"build_ms": build_ms, "fetch_ms": fetch_ms, "jobs": jobs,
            "failed": failed[0] - before}, pdf


def profile(spark, seed: int, refreshes: int) -> dict:
    from transaq_clickhouse_exporter_spark.queries import ch_compat

    failed = _count_sql_failures()
    wl = w_panels.Workload(seed, common.Tracer())
    wl.write_tables(spark, "tables")
    rows: dict[str, list[dict]] = {}
    totals: dict[str, list[float]] = {"register_ms": [], "refresh_ms": []}
    n_op = 0
    for r in range(refreshes + 1):
        params = wl.warmup_params() if r == 0 else wl.draw_params()
        t0 = time.perf_counter()
        wl.register(spark, params)
        register_ms = (time.perf_counter() - t0) * 1e3
        fetched: dict = {}
        for p in w_panels.VARIABLES + w_panels.PANELS:
            if p is w_panels.PANELS[0]:  # the variables feed the panels
                etf = fetched["var_sec_code_etf"]
                params = dict(params, sec_code_etf=list(etf["sec_code"]))

            def run(p=p, params=params):
                t = time.perf_counter()
                df = ch_compat.run_ch_sql(spark, p.ch, params, w_panels.TABLE_MAP)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                return (t1 - t) * 1e3, (time.perf_counter() - t1) * 1e3, pdf

            n_op += 1
            row, fetched[p.name] = _op(spark, p.name, f"panel-profile-{n_op}", run, failed)
            if r:
                rows.setdefault(p.name, []).append(row)
        if r:
            totals["register_ms"].append(register_ms)
            totals["refresh_ms"].append((time.perf_counter() - t0) * 1e3)
    table = {
        name: {"build_ms": statistics.median(x["build_ms"] for x in rs),
               "fetch_ms": statistics.median(x["fetch_ms"] for x in rs),
               "jobs": statistics.median(x["jobs"] for x in rs),
               "failed": sum(x["failed"] for x in rs)}
        for name, rs in rows.items()
    }
    return {"seed": seed, "refreshes": refreshes, "ops": table,
            "register_ms": statistics.median(totals["register_ms"]),
            "refresh_ms": statistics.median(totals["refresh_ms"]),
            "sum_build_ms": sum(v["build_ms"] for v in table.values()),
            "sum_fetch_ms": sum(v["fetch_ms"] for v in table.values())}


def render(res: dict, canary: list[float]) -> str:
    lines = [f"seed {res['seed']}, {res['refreshes']} refreshes (medians),"
             f" canary {canary[0]:.1f} / {canary[1]:.1f} ms", "",
             "| op | build ms | fetch ms | jobs | failed |", "|---|---|---|---|---|"]
    for name, v in res["ops"].items():
        lines.append(f"| {name} | {v['build_ms']:.0f} | {v['fetch_ms']:.0f}"
                     f" | {v['jobs']:g} | {v['failed']} |")
    lines += ["", f"register {res['register_ms']:.0f} ms; sum of builds"
              f" {res['sum_build_ms']:.0f} ms; sum of fetches {res['sum_fetch_ms']:.0f} ms;"
              f" refresh {res['refresh_ms']:.0f} ms"]
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--refreshes", type=int, default=5)
    ap.add_argument("--json", action="store_true", help="print one JSON line instead of a table")
    args = ap.parse_args(argv)
    common.prepare_work_dir()
    spark = common.new_session()
    try:
        canary = [common.canary_ms()]
        res = profile(spark, args.seed, args.refreshes)
        canary.append(common.canary_ms())
    finally:
        spark.stop()
        shutil.rmtree(common.WORK, ignore_errors=True)
    res["canary_ms"] = canary
    print(json.dumps(res) if args.json else render(res, canary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
