"""Time-series gap filling — ClickHouse ``ORDER BY … WITH FILL``
parity plus forward fill (LOCF).

ClickHouse dashboards lean on two idioms this module reproduces:

* ``WITH FILL STEP n`` — materialize the missing time buckets of a
  sparse series so charts don't interpolate across gaps
  (``etc/grafana-dashboard-trades.json`` avoids it only because
  Grafana's ``$__timeGroup`` fills client-side; the SQL-level engine
  feature is WITH FILL).  Absent buckets get 0/NULL per column.
* last-observation-carried-forward — quotes/candles hold their last
  value through silent minutes (CH: ``anyLast`` over neighbors or
  ``WITH FILL INTERPOLATE (col AS col)``).

Spark-first decomposition, three relational steps:

1. **Spine** — per key, ``sequence(min_ts, max_ts, step)`` exploded:
   the complete bucket axis.  Row inflation is (span/step) per key —
   linear, computed from a tiny pre-agg (one row per key), never by
   cross-joining a calendar dimension against the fact table.
2. **Left join** facts onto the spine on (keys, bucket) — plain
   shuffled/broadcast hash join Catalyst already distributes.
3. **Forward fill** — ``last(col, ignorenulls=True)`` over
   (keys, bucket): ONE window exchange, shared by every filled
   column.  Zero-fill columns are a plain ``coalesce`` inside the
   same projection (no extra pass).

At 100 TB the spine is bounded by keys × buckets (a chart axis, not
the tick volume), the join shuffles buckets not ticks when the input
is already aggregated (the intended use: fill AFTER the bucket agg,
exactly where CH puts WITH FILL — on the result ORDER BY), and the
LOCF window is the same single-exchange shape as every window op in
this repo (``an08_gap_fill``'s entry in ``tests/plan_budget.json`` pins
its node counts).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fill_gaps(
    df: DataFrame,
    ts_col: str,
    step: int,
    keys: Sequence[str] = (),
    fill: Mapping[str, str] = (),
) -> DataFrame:
    """Complete the ``ts_col`` axis per key with buckets every ``step``
    from each key's min to max timestamp (CH ``WITH FILL`` without
    FROM/TO bounds fills the observed range likewise).

    ``fill`` maps column → strategy: ``'ffill'`` (carry last observed
    value forward; leading gap stays NULL) or ``'zero'`` (absent
    bucket → 0, the CH WITH FILL default for unmentioned columns).
    Unlisted columns pass through with NULL in generated rows.
    Emits ``is_gap`` marking generated rows.  ``ts_col`` must already
    be bucket-aligned (multiples of ``step`` apart per key) — fill
    AFTER the bucket aggregation, where WITH FILL sits in CH."""
    keys = list(keys)
    fill = dict(fill)
    bad = [c for c, s in fill.items() if s not in ("ffill", "zero")]
    if bad:
        raise ValueError(f"unknown fill strategy for {bad}; use 'ffill' or 'zero'")
    bounds = df.groupBy(*keys).agg(
        F.min(ts_col).alias("__mn"), F.max(ts_col).alias("__mx")
    )
    spine = bounds.select(
        *keys,
        F.explode(F.sequence("__mn", "__mx", F.lit(step))).alias(ts_col),
    )
    joined = spine.join(
        df.withColumn("__obs", F.lit(1)), [*keys, ts_col], "left"
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out_cols = [F.col(c) for c in keys] + [F.col(ts_col)]
    for c in df.columns:
        if c in keys or c == ts_col:
            continue
        strat = fill.get(c)
        if strat == "ffill":
            out_cols.append(F.last(c, ignorenulls=True).over(w).alias(c))
        elif strat == "zero":
            out_cols.append(F.coalesce(F.col(c), F.lit(0)).alias(c))
        else:
            out_cols.append(F.col(c))
    out_cols.append(F.col("__obs").isNull().alias("is_gap"))
    return joined.select(*out_cols)
