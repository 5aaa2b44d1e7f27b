#!/usr/bin/env python3
"""Per-op profile of the query plane: catalog entries or a Grafana refresh.

Both subjects time each op with one measurement, :func:`measure`: the
op runs under its own Spark job group, and the profile records its
build time, each action's time, the jobs the group started and the
``spark.sql`` calls that raised.  For catalog entries it adds the
``QueryPlanningTracker`` phases and the node counts and SQL metrics of
the final adaptive plan (``perfbench.tracing``'s ``phases`` and
``walk_plan``).

``catalog``: every ``parity.catalog()`` entry (or the named ones) at
one scale factor, after every cached view is filled.  Per entry:
``build_ms``; ``pandas_ms``, the first execution fetched with
``toPandas``; ``noop_ms``, a second execution
into the ``noop`` sink (execution alone, no result transfer); ``rows``;
``jobs`` (both executions); ``failed``; ``phases``; the plan's node
counts (``exchanges``, ``broadcasts``, ``sorts``, ``windows``,
``python_evals``, ``inmemory_scans``) and metrics (``shuffle_bytes``,
``spill``, ``peak_mem``, ``files``, ``file_bytes``).  ``--out`` writes
them as JSON (else they are printed), ``--budget`` writes the node counts alone (the format of
``tests/plan_budget.json``), ``--plan NAME`` prints one entry's
formatted final plan (profiling that entry alone unless others are
named).  Entries run in catalog order; an entry's node counts do not
depend on the order or on which cached views are filled, so they are
the counts the oracle test in ``tests/test_parity_catalog.py``
reads from its own run (which goes in name order).

``panels``: drives ``perfbench.w_panels`` (imported as is) on the
benchmark's own session and stored tables: one cold refresh, then
``--refreshes`` timed ones, each with fresh drawn parameters.  A
refresh registers both tables with ``storage.read_table_range(final=
True)``, runs the three template variables, then every panel.  Per
variable and panel it reports medians over the timed refreshes of
``build_ms`` (``run_ch_sql``: substitution, translation, shim
registration and Catalyst analysis), ``fetch_ms`` (``toPandas``:
planning, execution and the Arrow fetch), ``jobs`` and ``failed``
(summed over the timed refreshes), then ``register_ms`` and the
refresh total.  The first op of a refresh fills the trades snapshot,
so its fetch carries the dedup.  Work files go to ``.perfbench_work/``,
as the benchmark's do, and are removed at exit.

Run from the checkout root (add ``2>/dev/null`` to drop Spark's log):

    python3 tools/profile.py catalog --sf DIR [--cpus N]
        [--shuffle-partitions N] [--out PROFILE.json] [--budget FILE]
        [--plan NAME] [NAME ...]
    python3 tools/profile.py panels [--seed 1] [--refreshes 5] [--json]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(_HERE)
# Run as a script, this directory heads sys.path, and this file would
# shadow the standard library's ``profile`` that cProfile (so pyspark)
# imports: the checkout root takes its place.
sys.path[:] = [p for p in sys.path if os.path.abspath(p or os.curdir) != _HERE]
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common, tracing  # noqa: E402

#: the node counts ``tests/plan_budget.json`` pins per catalog entry
BUDGET_KEYS = ("exchanges", "broadcasts", "sorts", "windows", "python_evals",
               "inmemory_scans")


def plan_counts(df) -> dict:
    """The budget's node counts of ``df``'s executed plan (the final
    adaptive plan once an action has run)."""
    p = tracing.walk_plan(df._jdf.queryExecution().executedPlan())
    return {k: p[k] for k in BUDGET_KEYS}


@contextlib.contextmanager
def sql_failures():
    """Count ``SparkSession.sql`` calls that raise while the block
    runs; yields the counter (a one-element list)."""
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
    try:
        yield failed
    finally:
        SparkSession.sql = sql


def measure(spark, group: str, name: str, build, actions: dict, failed,
            plan: bool = False) -> tuple[dict, object, dict]:
    """Run one op under job group ``group``: ``build()`` returns a
    DataFrame, then each of ``actions`` (key -> function of it) runs in
    order.  Returns the op's row (``build_ms``, ``<key>_ms``, ``jobs``,
    ``failed``; with ``plan`` also ``phases`` and the final plan's node
    counts and metrics), the DataFrame and each action's result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    before = failed[0]
    row, out = {}, {}
    try:
        t = time.perf_counter()
        df = build()
        row["build_ms"] = (time.perf_counter() - t) * 1e3
        for key, action in actions.items():
            t = time.perf_counter()
            out[key] = action(df)
            row[f"{key}_ms"] = (time.perf_counter() - t) * 1e3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    row["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    row["failed"] = failed[0] - before
    if plan:
        row["phases"] = tracing.phases(df)
        row.update(tracing.walk_plan(df._jdf.queryExecution().executedPlan()))
    return row, df, out


# -- catalog --------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def catalog(spark, sf_dir: str, names=None, plan_of: str | None = None) -> dict:
    """Profile ``names`` (default: every catalog entry, in catalog
    order) at ``sf_dir``; returns entry -> row.  ``plan_of`` prints
    that entry's formatted final plan."""
    from transaq_clickhouse_exporter_spark.queries import parity

    rows = {}
    with sql_failures() as failed:
        for i, name in enumerate(names or parity.catalog()):
            rows[name], df, out = measure(
                spark, f"profile-catalog-{i}", name,
                lambda name=name: parity.run(spark, sf_dir, name),
                {"pandas": lambda df: df.toPandas(), "noop": _noop}, failed, plan=True)
            rows[name]["rows"] = len(out["pandas"])
            if name == plan_of:
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted")
                print(df._jdf.queryExecution().explainString(mode))
    return rows


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def fill_caches(spark, sf_dir: str) -> None:
    """Register the catalog's views at ``sf_dir`` and fill every cached
    one, so no entry's time carries a cache fill."""
    from transaq_clickhouse_exporter_spark.queries import parity
    from transaq_clickhouse_exporter_spark.testdata import register_views

    register_views(spark, sf_dir)
    parity.register_derived_views(spark, sf_dir)
    for t in spark.catalog.listTables():
        if t.isTemporary and spark.catalog.isCached(t.name):
            spark.table(t.name).count()


def main_catalog(args) -> None:
    from transaq_clickhouse_exporter_spark.session import get_spark

    spark = get_spark(app="tce-profile", cpus=args.cpus,
                      shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        fill_caches(spark, args.sf)
        canary = [common.canary_ms()]
        names = args.names or ([args.plan] if args.plan else None)
        rows = catalog(spark, args.sf, names, args.plan)
        canary.append(common.canary_ms())
        meta = {"sf": args.sf, "cpus": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "host_cores": common.cores(), "canary_ms": canary}
    finally:
        spark.stop()
    if args.out:
        _write_json(args.out, {"meta": meta, "entries": rows})
    if args.budget:
        _write_json(args.budget, {n: {k: r[k] for k in BUDGET_KEYS} for n, r in rows.items()})
    if not (args.out or args.budget):
        print(json.dumps(rows, indent=1))


# -- panels ---------------------------------------------------------------


def panels(spark, seed: int, refreshes: int) -> dict:
    from perfbench import w_panels
    from transaq_clickhouse_exporter_spark.queries import ch_compat

    wl = w_panels.Workload(seed, common.Tracer())
    wl.write_tables(spark, "tables")
    rows: dict[str, list[dict]] = {}
    totals: dict[str, list[float]] = {"register_ms": [], "refresh_ms": []}
    n_op = 0
    with sql_failures() as failed:
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
                n_op += 1
                row, _, out = measure(
                    spark, f"panel-profile-{n_op}", p.name,
                    lambda p=p, params=params: ch_compat.run_ch_sql(
                        spark, p.ch, params, w_panels.TABLE_MAP),
                    {"fetch": lambda df: df.toPandas()}, failed)
                fetched[p.name] = out["fetch"]
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


def render_panels(res: dict, canary: list[float]) -> str:
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


def main_panels(args) -> None:
    common.prepare_work_dir()
    spark = common.new_session()
    try:
        canary = [common.canary_ms()]
        res = panels(spark, args.seed, args.refreshes)
        canary.append(common.canary_ms())
    finally:
        spark.stop()
        shutil.rmtree(common.WORK, ignore_errors=True)
    res["canary_ms"] = canary
    print(json.dumps(res) if args.json else render_panels(res, canary))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="subject", required=True)
    c = sub.add_parser("catalog", help="parity.catalog() entries at one scale factor")
    c.add_argument("--sf", required=True, help="scale-factor directory of the base tables")
    c.add_argument("--cpus", type=int, default=None, help="local[N] (default: all cores)")
    c.add_argument("--shuffle-partitions", type=int, default=None)
    c.add_argument("--out", help="write every entry's record as JSON")
    c.add_argument("--budget", help="write the node counts as a plan budget")
    c.add_argument("--plan", metavar="NAME", help="print NAME's formatted final plan")
    c.add_argument("names", nargs="*", help="entries to profile (default: all)")
    p = sub.add_parser("panels", help="a Grafana refresh over perfbench's stored tables")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--refreshes", type=int, default=5)
    p.add_argument("--json", action="store_true", help="print one JSON line instead of a table")
    args = ap.parse_args(argv)
    (main_catalog if args.subject == "catalog" else main_panels)(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
