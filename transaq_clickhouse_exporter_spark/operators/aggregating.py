"""Aggregating/SummingMergeTree semantics — ClickHouse's incremental
materialized-aggregate engines (the MergeTree family members beyond
the reference's ReplacingMergeTree, ``db.go:31``): ingest writes
small PARTIAL aggregate states per key; background merges combine
states; reads finalize.  The Spark-first re-expression keeps one
mergeable-state row per key per ingest batch:

* ``sum`` / ``count`` states merge by addition (SummingMergeTree),
* ``min`` / ``max`` by min/max,
* approx-distinct by HLL register max-merge — the registers ride
  along as a ``map<bucket, rho>`` column (`functions/hll.py`'s
  portable seed-free sketch, so partial-merged registers are
  IDENTICAL to whole-data registers and the estimate is
  engine-reproducible).

Why this matters at 100 TB: a rollup consumer never re-reads raw
data — each new batch contributes |keys| state rows, compaction
(`storage.compact_table`'s shape) merges states instead of rows, and
the read-side finalize touches only states.  Merge is associative +
commutative by construction, so batch boundaries, re-shards, and
replays cannot change the final answer (proved by the split-invariance
test).

Plan shape: partials are ONE map-side-combinable hash agg per batch
(plus the register agg sharing the same shuffle key); merge is one
hash agg over state rows; finalize is a narrow projection + the
exact-integer HLL estimator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hll import _bucket_rho, hll_estimate_from_registers
from ..ingest.streaming import guarded_batch


def partial_states(
    df: DataFrame,
    keys: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    hll_col: str | None = None,
    precision: int = 10,
) -> DataFrame:
    """One mergeable state row per key for this batch:
    ``(keys…, n, sum_<c>…, min_<c>…, max_<c>…[, hll map<int,int>])``.

    With ``hll_col`` the scalars ride the register aggregation's own
    two-level pass — count/sum/min/max all decompose over the
    (keys, bucket) grain, so one scan and one shuffle produce BOTH
    the scalar states and the register map (no second agg, no join)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
    if hll_col is None:
        return df.groupBy(*keys).agg(*aggs)
    keep = list(dict.fromkeys([*keys, *sum_cols, *min_cols, *max_cols]))
    lvl1 = (
        _bucket_rho(df, hll_col, keep, precision)
        .groupBy(*keys, "bucket")
        .agg(*aggs, F.max("__rho").alias("m_rho"))
    )
    relay = [F.sum("n").alias("n")]
    relay += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
    relay += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
    relay += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
    return lvl1.groupBy(*keys).agg(
        *relay,
        F.map_from_entries(
            F.filter(
                F.collect_list(F.struct("bucket", "m_rho")),
                lambda e: e["bucket"].isNotNull(),
            )
        ).alias("hll"),
    )


def merge_states(states: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Combine state rows per key (background-merge semantics): adds
    counts/sums, min/max of extrema, per-bucket max of HLL registers.
    Associative + commutative — any grouping of batches merges to the
    same state."""
    has_hll = "hll" in states.columns
    aggs = []
    for c in states.columns:
        if c in keys or c == "hll":
            continue
        if c == "n" or c.startswith("sum_"):
            aggs.append(F.sum(c).alias(c))
        elif c.startswith("min_"):
            aggs.append(F.min(c).alias(c))
        elif c.startswith("max_"):
            aggs.append(F.max(c).alias(c))
        else:
            raise ValueError(f"unmergeable state column: {c}")
    if has_hll:
        # r16 (guide §2.4 remove shuffles / §1.2 fewer passes): the
        # old form referenced ``states`` TWICE — once for the scalar
        # re-aggregation and once for an explode → per-bucket max →
        # re-pack register pipeline, then LEFT-joined the two.  A
        # state table is cheap, but the state SUBTREE feeding it (per-
        # batch partial aggregations over raw data) is not, and a dual
        # reference executes it twice (no common-subtree sharing
        # across different aggregates in Spark).  Registers are maps,
        # and a per-bucket max IS a map merge, so ONE grouped pass
        # collects each key's maps and folds them with map_zip_with /
        # greatest — same per-bucket max integers, no second subtree,
        # no join.  Keys whose maps were all empty fold to the empty
        # map exactly as the old coalesce did (ADVICE r6 preserved).
        empty_map = F.map_from_arrays(
            F.array().cast("array<int>"), F.array().cast("array<int>")
        )
        merged_map = F.aggregate(
            F.collect_list("hll"),
            empty_map,
            lambda acc, m: F.map_zip_with(
                acc, m, lambda _k, v1, v2: F.greatest(v1, v2)
            ),
        )
        return states.groupBy(*keys).agg(*aggs, merged_map.alias("hll"))
    return states.groupBy(*keys).agg(*aggs)


def finalize(
    states: DataFrame,
    keys: tuple[str, ...],
    precision: int = 10,
) -> DataFrame:
    """Read-side FINAL: scalar states pass through; the HLL map (if
    present) becomes a ``distinct_est`` column via the exact-integer
    estimator.  Registers go straight from the state maps to the
    estimator (explode → per-bucket max → estimate) without the
    intermediate re-packed map ``merge_states`` would build — the
    per-bucket max IS the merge, so the estimate is identical."""
    if "hll" not in states.columns:
        return merge_states(states, keys)
    # r16 (guide §2.4/§1.2): the old read-side FINAL referenced the
    # ``states`` subtree twice (scalar merge + register explode →
    # estimator) and re-joined them — at sf0.1 the op07 plan showed
    # SIX scans of trades (3 per-batch partials × 2 references) under
    # a SortMergeJoin.  Now: merge_states' single grouped pass yields
    # the merged register MAP alongside the scalars, and the HLL
    # estimate is computed from that map with array/map expressions —
    # the same exact-integer harmonic sum as
    # hll_estimate_from_registers (s_present = Σ 2^(scale−rho) as
    # integers, nb = map size; integer adds commute, so fold order
    # cannot change the sum), with the SAME closed-form branch for
    # the linear-counting regime.  A key with an all-empty map gets
    # nb=0 → the linear-counting branch returns round(m·ln(m/m)) = 0,
    # exactly the old LEFT-join + coalesce-0 value (ADVICE r6).
    from ..functions.hll import _alpha

    m = 1 << precision
    r_bits = 60 - precision
    scale = r_bits + 1
    merged = merge_states(states, keys)
    s_present = F.aggregate(
        F.map_values("hll"),
        F.lit(0).cast("long"),
        lambda acc, rho: acc
        + F.pow(F.lit(2.0), F.lit(scale) - rho).cast("long"),
    )
    nb = F.size("hll").cast("long")
    s_total = (s_present + (F.lit(m) - nb) * (1 << scale)).cast("double")
    e_raw = F.lit(_alpha(m) * m * m * float(1 << scale)) / s_total
    v = F.lit(m) - nb
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v)),
    ).otherwise(F.round(e_raw))
    return merged.select(
        *[c for c in merged.columns if c != "hll"],
        est.cast("long").alias("distinct_est"),
    )


# ---- streaming maintenance (CH: a materialized view feeding the
# AggregatingMergeTree on every insert) -----------------------------------


def states_stream_sink(
    state_root: str,
    keys: tuple[str, ...],
    **spec,
):
    """``foreachBatch`` sink: each micro-batch writes its partial
    states to ``<state_root>/b<batch_id>`` with ``mode("overwrite")``
    — the per-batch-directory overwrite makes crash replays idempotent
    (the re-run batch recomputes the same states and overwrites its
    own directory; streaming_curation.py's exactly-once discipline).

    State volume per batch is |keys in batch| rows, not |rows|; the
    raw batch is held only while its own micro-batch runs, so the
    non-empty guard and the write read it once
    (:func:`..ingest.streaming.guarded_batch`)."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        partial_states(batch, keys, **spec).write.mode("overwrite").parquet(
            f"{state_root}/b{int(batch_id)}"
        )

    return guarded_batch(_sink)


def read_final(
    spark,
    state_root: str,
    keys: tuple[str, ...],
    precision: int = 10,
) -> DataFrame:
    """Read-side FINAL over every batch's states (merge + estimate)."""
    return finalize(spark.read.parquet(f"{state_root}/b*"), keys, precision)
