"""SCD2 history construction — turn a versioned change stream into
slowly-changing-dimension validity intervals ``[valid_from, valid_to)``.

The reference keeps only the LATEST state per key: ReplacingMergeTree
``FINAL`` (``db.go:31-107``), which this repo mirrors as
:func:`.dedup.dedup_last_write_wins`.  A warehouse built on that feed
also wants the *history* form — "what was the quote for SEC007 at
14:02?" — which is the standard SCD type-2 dimension: one row per
(key, value-run) with its validity interval.  That table is exactly
the interval side :func:`.range_join.interval_join` (op05) consumes,
so the two operators compose into time-travel lookups.

Three relational steps, all shuffle-on-the-key:

1. **Version collapse** — at-least-once ingest means several
   ``_ingest_seq`` versions per (key, ts); last write wins (the
   existing dedup operator, one shuffle).
2. **Change collapse** — consecutive equal values are ONE validity
   run: keep a row iff any tracked value differs from its
   predecessor (``lag`` over the key, the gaps-and-islands "island
   head" trick).  This is what separates SCD2 from a raw snapshot
   log: unchanged re-quotes don't fragment the history.
3. **Interval close** — ``valid_to = lead(valid_from)``; the current
   run stays open (NULL), the SQL-standard SCD2 convention.

At 100 TB: steps 2–3 are windows over the same (keys, ts) ordering,
so Catalyst plans ONE Exchange + one sort for both (one sort and no
Exchange when the input is already partitioned on the keys, as
``op06_scd2_history``'s is: its entry in ``tests/plan_budget.json``
pins both counts); step 1's exchange is on (keys, ts) — finer but
compatible work, carrying the raw feed once.  State per key is a single lag/lead
row, never the full history.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import INGEST_SEQ, dedup_last_write_wins


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    order_col: str | None = INGEST_SEQ,
) -> DataFrame:
    """Validity-interval history: one row per value run,
    ``(*keys, valid_from_s, valid_to_s, *value_cols)`` with half-open
    ``[valid_from_s, valid_to_s)`` and NULL ``valid_to_s`` on the
    current run.  NULL-safe value comparison (``<=>``) — a NULL→value
    transition is a real change."""
    keys = list(keys)
    value_cols = list(value_cols)
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    snap = df.select(*keys, ts_col, *value_cols, *([order_col] if order_col and order_col in df.columns else []))
    if order_col and order_col in df.columns:
        snap = dedup_last_write_wins(snap, (*keys, ts_col), order_col)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    same_as_prev = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.lag(c).over(w)) for c in value_cols],
    )
    runs = snap.withColumn("__same", same_as_prev).filter(
        ~F.coalesce(F.col("__same"), F.lit(False))
    )
    return runs.select(
        *keys,
        F.col(ts_col).alias("valid_from_s"),
        F.lead(ts_col).over(Window.partitionBy(*keys).orderBy(ts_col)).alias(
            "valid_to_s"
        ),
        *value_cols,
    )


def as_of_state(history: DataFrame, ts: int, ts_from: str = "valid_from_s", ts_to: str = "valid_to_s") -> DataFrame:
    """Time-travel read over an SCD2 table: the state at instant
    ``ts`` — a pure narrow filter (parquet row-group stats prune on
    both interval bounds)."""
    return history.filter(
        (F.col(ts_from) <= ts) & (F.col(ts_to).isNull() | (F.col(ts_to) > ts))
    )
