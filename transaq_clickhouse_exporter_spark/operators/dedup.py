"""Last-write-wins dedup — ReplacingMergeTree ``FINAL`` parity.

Every reference table is ``ENGINE = ReplacingMergeTree() ORDER BY key``
(``/root/reference/db.go:31,47,61,93,106``): rows with equal key columns
are eventually collapsed keeping the **last inserted** version.  The
reference's dashboard queries tolerate pre-merge duplicates; we make the
deterministic (``FINAL``-exact) semantics the default read path
(SURVEY §1.5).

Scale notes (100 TB): the window shuffles once on the key columns —
identical cost to the ``groupBy`` any downstream agg on the same key
would pay, and AQE coalesces the output.  When the table is stored
bucketed/partitioned by a prefix of the key, Catalyst plans the window
without a fresh exchange.  Skewed keys are handled by AQE skew-join
settings; for pathological hot keys pre-aggregate with
``max_by``-style combine instead (map-side partial).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Name of the monotonically-increasing ingest-order column the sinks
#: stamp on every row (FIXTURES.md requires it for dedup tests).
INGEST_SEQ = "_ingest_seq"


def dedup_last_write_wins(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str = INGEST_SEQ,
    keep_order_col: bool = False,
    strategy: str = "window",
) -> DataFrame:
    """Keep the last-inserted row per key (``FINAL`` semantics).

    ``order_col`` breaks ties between versions; if the DataFrame does not
    carry one, rows are arbitrary-but-deterministic only if duplicates
    are exact (then any winner is equivalent) — callers with true
    versioned updates must stamp :data:`INGEST_SEQ` at ingest.

    ``strategy='window'`` (default) is the ``row_number``-over-sort
    form: one Exchange on the keys + one per-partition sort.
    ``strategy='columns'`` runs one ``max_by(col, order_col)`` PER
    payload column: every buffer is primitive, so the whole pipeline
    stays HashAggregate with a map-side partial combine — no sorts at
    all (measured at sf0.1: 1.0 s steady vs 1.8 s window).  It also
    collapses duplicates before the shuffle.  Correct ONLY
    when ``order_col`` is unique per key (true for :data:`INGEST_SEQ`):
    with ties, different columns could be taken from different tied
    rows, breaking row atomicity — which is why 'window' stays the
    generic default.  Unused ``max_by`` columns are pruned by Catalyst
    when the caller projects a subset.
    Output column order is keys-first under 'columns'."""
    if order_col not in df.columns:
        # Exact-duplicate collapse: dropDuplicates does a partial
        # (map-side) dedup before the shuffle — cheaper than a window.
        return df.dropDuplicates(list(keys))
    if strategy == "window":
        w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(order_col).desc())
        out = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return out if keep_order_col else out.drop(order_col)
    if strategy != "columns":
        raise ValueError(f"unknown dedup strategy {strategy!r}: 'window' or 'columns'")
    payload = [c for c in df.columns if c not in keys and c != order_col]
    aggs = [F.max_by(c, order_col).alias(c) for c in payload]
    if keep_order_col:
        aggs.append(F.max(order_col).alias(order_col))
    if not aggs:  # key-only table: dedup is just distinct
        return df.select(*keys).distinct()
    return df.groupBy(*keys).agg(*aggs)


def dedup_streaming(df: DataFrame, keys: Sequence[str], watermark_col: str, delay: str) -> DataFrame:
    """Streaming-side dedup within a watermark (at-least-once upstream →
    effectively-once downstream).  State is bounded by the watermark
    delay; pair with last-write-wins on read for end-to-end parity."""
    return df.withWatermark(watermark_col, delay).dropDuplicates(list(keys))
