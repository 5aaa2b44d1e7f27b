"""The operator catalog, probed at the end of every traced run.

A small pinned set of ``parity.catalog()`` entries — at least one per
family — gives the ``catalog.<family>_ms`` per-layer metrics and, with
them, a measured path through ``operators/`` (dedup, asof, aggregating
states), ``datapipe/`` and ``functions/``.  The ten base tables the
derived views come from are written from the run's seed at scale 0.001
(~6k lineitem rows) and registered with the package's own
``register_views`` + ``register_derived_views`` (cached).

Each entry is built fresh and fetched with ``toPandas`` once to warm,
then ``REPS`` more times; each timed fetch is one sample of its
family's metric.  Every call is an op of the traced run (attempted, and
failed if it raises).  Each entry's last result is checked against its
DuckDB oracle (``parity.oracle_map()``) over the same parquet files.
"""

from __future__ import annotations

import os
import time

from . import datagen
from .common import WORK

SCALE = 0.001
REPS = 2
#: family -> pinned entries (cheap ones; ``op`` covers the three
#: operator modules the catalog exists to exercise)
ENTRIES = {
    "db": ("db01_volume_by_interval_buy",),
    "an": ("an01_vwap",),
    "op": ("op01_dedup_last_write_wins", "op04_asof_join", "op07_aggregating_states"),
    "in": ("in02_parse_ref_timestamps",),
    "ev": ("ev01_tumbling_agg",),
    "tp": ("tp01_pricing_summary",),
    "dp": ("dp01_exact_dedup",),
    "ann": ("ann01_brute_force_topk",),
    "mm": ("mm01_feature_extract",),
}
FAMILIES = tuple(ENTRIES)


def _duck(base: str):
    import duckdb
    from transaq_clickhouse_exporter_spark.testdata import DRIVER_TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in DRIVER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    return con


def compare(got, want) -> str | None:
    """None when the Spark and DuckDB frames hold the same rows (column
    names case-insensitive, row order ignored, floats to 1e-9)."""
    from .w_panels import compare as compare_rows

    got.columns = [c.lower() for c in got.columns]
    want.columns = [c.lower() for c in want.columns]
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    return compare_rows("rows", got, want[list(got.columns)])


def run(spark, seed: int, probe, rec) -> None:
    """Register the catalog's views, time the pinned entries into
    ``probe`` and check them; per-op hooks are off meanwhile, so these
    ops add to no other layer's mean."""
    from transaq_clickhouse_exporter_spark.queries import parity
    from transaq_clickhouse_exporter_spark.testdata import register_views

    base = os.path.join(WORK, "catalog", "base")
    datagen.write_base_tables(seed, base, SCALE)
    register_views(spark, base)
    parity.register_derived_views(spark, base)
    specs, oracle = parity.catalog(), parity.oracle_map()
    hooks = rec.before_op, rec.after_op
    rec.before_op = rec.after_op = None
    con = _duck(base)
    try:
        for fam, names in ENTRIES.items():
            for name in names:
                build = specs[name].build

                def fetch(build=build):
                    t = time.perf_counter()
                    pdf = build(spark).toPandas()
                    return pdf, (time.perf_counter() - t) * 1e3

                res = None
                for rep in range(1 + REPS):
                    res = rec.op(name, fetch)
                    if res is not None and rep:
                        probe.add(f"catalog.{fam}_ms", res[1])
                if res is not None and name in oracle:
                    rec.check(name, compare(res[0], con.execute(oracle[name]).df()))
    finally:
        con.close()
        rec.before_op, rec.after_op = hooks
