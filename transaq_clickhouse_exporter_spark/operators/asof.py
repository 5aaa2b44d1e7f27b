"""As-of join — the canonical market-data operator Spark lacks
natively (join each left row to the latest right row at-or-before its
timestamp, per key).  The reference's dashboard never needs it, but a
trades⋈quotes engine without it is incomplete; it also generalizes the
positions-merge pattern (O-11) to two-sided streams.

Implementation is the **union + last-ignorenulls window** trick, not a
per-group ``pd.merge_asof`` UDF:

1. tag right rows side=0 carrying their payload as ONE struct (so the
   matched row travels whole — per-column fills would mix rows when a
   payload column is NULL), left rows side=1 with a NULL struct;
2. union; one window per key ordered by (ts, side) — at equal
   timestamps the right row sorts first, giving the standard
   ``left.ts >= right.ts`` inclusive semantics;
3. ``last(struct, ignorenulls=True)`` over the unbounded-preceding
   frame pulls the latest right ROW onto every left row;
4. keep side=1, expand the struct fields.

Scale shape: ONE shuffle (the window partition on the key), no
row-pairing blowup, no Python.  Skewed keys behave like any windowed
aggregation (AQE/salting apply).  ``tolerance`` optionally voids
matches older than the given seconds, like ``pd.merge_asof``.

One implementation: :func:`asof_join_multi` builds the plan for k
right sides sharing the key, and :func:`asof_join` is its one-right
form (its own input checks, plus the tolerance projection)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join_multi(
    left: DataFrame,
    rights: Sequence[tuple[DataFrame, str, str]],
    by: Sequence[str],
    left_ts: str = "time",
    direction: str = "backward",
    strict: bool = False,
) -> DataFrame:
    """Chained/parallel as-of join against MULTIPLE right sides that
    share the equality key and align on the LEFT's own timestamp — in
    ONE keyed window, i.e. one shuffle total where a chain of
    :func:`asof_join` calls costs one shuffle per link (each link's
    union destroys the previous link's partitioning — Spark's Union
    never preserves child partitioning).

    ``rights``: (right_df, right_ts, right_ts_out) triples — or
    5-tuples (…, direction, strict) overriding the call-level
    comparator PER SIDE (r15: mixed-comparator chains still share the
    one exchange; each distinct (direction, strict) ordering adds
    only a Sort under the same partitioning, never a shuffle).  Each
    side's payload columns (everything except ``by`` + its ts) appear
    on the output under their own names, its matched timestamp under
    ``right_ts_out`` (NULL = no match — filter on it for CH's INNER
    ``ASOF JOIN`` gating).  Payload names must be disjoint across
    sides and from the left.

    Semantics are EXACTLY k successive ``asof_join`` links sharing
    (by, left_ts, direction, strict): each left row independently
    picks, per side, the closest right row at-or-before (backward)
    or at-or-after (forward) its own timestamp.  A chained CH
    ``ASOF JOIN`` whose links all key on the same columns and compare
    against the same left timestamp is this exact shape.

    Plan: tag each side i with its own payload struct column (NULL on
    every other source), union all k+1 sources, ONE window per key —
    k ``last(ignorenulls)`` columns ride the same WindowExec — then
    keep left rows.  Scale: single exchange on ``by``; skewed keys
    behave like any keyed window (AQE/salting apply)."""
    by = list(by)
    rights = [
        (r + (direction, strict)) if len(r) == 3 else tuple(r)
        for r in rights
    ]
    if not rights:
        raise ValueError("asof_join_multi needs at least one right side")
    if any(r[3] not in ("backward", "forward") for r in rights):
        raise ValueError("direction must be 'backward' or 'forward'")
    if left_ts in by:
        raise ValueError("timestamp column must not be a key column")
    l_cols = [c for c in left.columns if c not in by + [left_ts]]
    taken = set(left.columns)
    payloads: list[list[str]] = []
    for rdf, rts, out_col, _, _ in rights:
        pay = [c for c in rdf.columns if c not in by + [rts]]
        clash = (set(pay) | {out_col}) & taken
        if clash:
            raise ValueError(
                f"right payload/output columns collide: {sorted(clash)}")
        taken |= set(pay) | {out_col}
        payloads.append(pay)

    # Each side's payload rides ONE struct (plus its matched timestamp)
    # so a single last(ignorenulls) pulls the matched right row WHOLE —
    # per-column windows would silently mix columns from different
    # right rows whenever the matched row holds a NULL in one payload
    # column (CH ASOF JOIN returns the row incl. its NULLs).  The
    # struct itself is non-null on right rows even when every payload
    # field is NULL, so it is an exact row marker.
    pay_types = [
        T.StructType(
            [T.StructField(c, rdf.schema[c].dataType) for c in pay]
            + [T.StructField("__rts", rdf.schema[rts].dataType)]
        )
        for (rdf, rts, _, _, _), pay in zip(rights, payloads)
    ]
    nulls = [F.lit(None).cast(t) for t in pay_types]

    # Key columns are RE-ALIASED (same name) in every leg: an Alias
    # mints a fresh unqualified attribute, so each leg's OUTPUT attr
    # and its alias-propagated outputPartitioning attr are the same
    # object on both sides of UnionExec's partitioning comparison.
    # Without it, a leg whose view qualifier differs from the cached
    # relation's (e.g. trades_core over the cached trades) reports a
    # partitioning attr qualified `trades` under an output qualified
    # `trades_core`; UnionExec.comparePartitioning uses strict equals
    # (qualifier included), silently dropping the union's partitioning
    # and re-exchanging the whole union for the window (r17, measured:
    # op10 1.32 → 1.10 s once propagation holds).
    l_tag = left.select(
        *[F.col(k).alias(k) for k in by],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.col(left_ts),
        *[F.col(c) for c in l_cols],
        *[n.alias(f"__pay{i}") for i, n in enumerate(nulls)],
    )
    tagged = [l_tag]
    for i, ((rdf, rts, _, _, _), pay) in enumerate(zip(rights, payloads)):
        tagged.append(rdf.select(
            *[F.col(k).alias(k) for k in by],
            F.col(rts).alias("__ts"),
            F.lit(0).alias("__side"),
            F.lit(None).cast(left.schema[left_ts].dataType).alias(left_ts),
            *[F.lit(None).cast(left.schema[c].dataType).alias(c)
              for c in l_cols],
            *[(F.struct(*[F.col(c).alias(c) for c in pay],
                        F.col(rts).alias("__rts")).alias(f"__pay{j}")
               if j == i else nulls[j].alias(f"__pay{j}"))
              for j in range(len(rights))],
        ))
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    # one window PER SIDE: all share the key partitioning (one
    # exchange); sides with the same (direction, strict) share the
    # sort too, a differing comparator adds only a Sort node.  Time
    # order: ascending for backward (last seen = closest BELOW),
    # descending for forward.  Tie order: right rows (side 0) before
    # left rows for inclusive matches; left first under strict, so
    # same-timestamp right rows are not yet visible to the left row.
    def _w(d: str, s: bool):
        ts_ord = F.col("__ts").asc() if d == "backward" \
            else F.col("__ts").desc()
        side_ord = (F.col("__side").desc() if s
                    else F.col("__side").asc())
        return (
            Window.partitionBy(*by)
            .orderBy(ts_ord, side_ord)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    filled = u.select(
        *by,
        "__side",
        left_ts,
        *l_cols,
        *[F.last(f"__pay{i}", ignorenulls=True)
          .over(_w(r[3], r[4])).alias(f"__pay{i}")
          for i, r in enumerate(rights)],
    )
    return filled.filter(F.col("__side") == 1).select(
        *by, left_ts, *l_cols,
        *[c
          for i, ((_, _, out_col, _, _), pay)
          in enumerate(zip(rights, payloads))
          for c in ([F.col(f"__pay{i}.{p}").alias(p) for p in pay]
                    + [F.col(f"__pay{i}.__rts").alias(out_col)])],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str = "time",
    right_ts: str = "time",
    tolerance_seconds: int | None = None,
    right_ts_out: str | None = None,
    direction: str = "backward",
    strict: bool = False,
) -> DataFrame:
    """Left as-of join: the one-right form of :func:`asof_join_multi`
    (same plan — union + one keyed running window, single shuffle).
    Right payload columns (everything except ``by`` + ``right_ts``)
    appear on the output with their own names; left rows with no prior
    right row get NULLs.  ``right_ts_out`` additionally emits the
    MATCHED right row's timestamp under that name (NULL = no match) —
    the match indicator ClickHouse's inner ``ASOF JOIN`` semantics
    need.

    ``direction``/``strict`` span ClickHouse's four ASOF comparators
    (r11e): ``backward`` picks the closest right row at-or-before the
    left timestamp (CH ``l.ts >= r.ts``; ``strict`` excludes the
    equal timestamp — CH ``>``), ``forward`` the closest at-or-after
    (CH ``<=``; ``strict`` → ``<``).  All four ride the SAME plan:
    direction flips the window's time order, strictness flips which
    side wins the equal-timestamp tie (left-before-right hides
    same-ts right rows).  ``tolerance_seconds`` voids matches further
    away than that, as a projection over the joined rows (no extra
    shuffle).
    """
    by = list(by)
    if right_ts in by:
        raise ValueError("timestamp column must not be a key column")
    payload = [c for c in right.columns if c not in by + [right_ts]]
    overlap = set(payload) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {sorted(overlap)}")
    out_col = right_ts_out or "__asof_rts"
    out = asof_join_multi(
        left, [(right, right_ts, out_col, direction, strict)], by,
        left_ts=left_ts)
    if tolerance_seconds is not None:
        is_ts = right.schema[right_ts].dataType.typeName().startswith("timestamp")
        as_s = F.unix_timestamp if is_ts else (lambda c: c)
        lts, rts = as_s(F.col(left_ts)), as_s(F.col(out_col))
        # a NULL gap (no match, or a NULL timestamp) keeps the row as is
        stale = (lts - rts if direction == "backward" else rts - lts) \
            > tolerance_seconds
        out = out.select(*[
            F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c)
            if c in payload or c == out_col else F.col(c)
            for c in out.columns])
    return out if right_ts_out else out.drop(out_col)
