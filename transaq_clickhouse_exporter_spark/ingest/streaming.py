"""Streaming event pipelines — the reference's hot path
(``/root/reference/process.go:50-67`` dispatch → ``db.go:111-174``
row shaping + async inserts).

Each event type becomes: ``readStream → shape (select/cast/parse) →
writeStream.foreachBatch(sink)``.  Spark's micro-batch IS the
reference's async-insert buffer (``asyncInsertWait=false``,
``db.go:12``): rows buffer until the trigger fires, then land in one
batched insert — same latency/throughput trade, but with checkpointed
at-least-once delivery instead of fire-and-forget.  Combined with
ReplacingMergeTree keys (or the dedup-on-read operator) retries are
idempotent.

Each micro-batch's plan runs once.  ``shape`` is applied to the
streaming DataFrame when the query is built, so the shaped plan is
analyzed once and Catalyst re-plans it per batch in the JVM.  Inside
``foreachBatch`` the batch is persisted; the non-empty guard and the
sink both read that one materialization, and it is unpersisted once
the batch is done.  A stateful operator upstream (the candle builder's
``applyInPandasWithState``) therefore folds each key once per batch,
and the progress ``numInputRows`` counts each input row once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.timeparse import parse_ref_date, parse_ref_datetime


def _cast_to(df: DataFrame, schema) -> DataFrame:
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


def shape_trades(raw: DataFrame) -> DataFrame:
    """O-7 (db.go:124-137): raw trade event → ``transaq_trades`` row.
    ``time`` parses from ``'dd.MM.yyyy HH:mm:ss'`` (db.go:125)."""
    return _cast_to(
        raw.withColumn("time", parse_ref_datetime(F.col("time").cast("string"))),
        schemas.TRADES,
    )


def shape_quotes(raw: DataFrame, batch_time: Column | None = None) -> DataFrame:
    """O-8 (process.go:56-63, db.go:111-123): raw quote → row; the event
    time is the enclosing batch's receipt time broadcast to every row
    (process.go:59) — ``batch_time`` defaults to the raw column stamped
    by the source adapter."""
    t = batch_time if batch_time is not None else parse_ref_datetime(F.col("batch_time"))
    return _cast_to(raw.withColumn("time", t), schemas.QUOTES)


def shape_sec_info(raw: DataFrame) -> DataFrame:
    """O-9 (db.go:139-174): raw sec-info → declared 28-column row; the
    three date fields parse from ``'dd.MM.yyyy'`` (db.go:140-142).
    Implements the declared DDL schema, not the reference's off-by-one
    insert binding (SURVEY §1.3)."""
    out = raw
    for c in ("mat_date", "coupon_date", "buybackdate"):
        out = out.withColumn(c, parse_ref_date(F.col(c).cast("string")))
    return _cast_to(out, schemas.SECURITIES_INFO)


def shape_candles(raw: DataFrame) -> DataFrame:
    """Candle history page rows (process.go:103-125): parse
    ``'dd.MM.yyyy HH:mm:ss'`` date, cast to table schema."""
    return _cast_to(
        raw.withColumn("date", parse_ref_datetime(F.col("date").cast("string"))),
        schemas.CANDLES,
    )


def shape_builder_candles(raw: DataFrame) -> DataFrame:
    """Candle-builder emissions (process.go:131-143): the stateful
    builder stamps dates already in the *write* format
    ``'yyyy-MM-dd HH:mm:ss'`` (db.go:15) — ``timeNow.Format`` + tick
    time — unlike history pages, which arrive in the ingest format."""
    from ..functions.timeparse import REF_OUT_FMT

    return _cast_to(
        raw.withColumn(
            "date", F.try_to_timestamp(F.col("date").cast("string"), F.lit(REF_OUT_FMT))
        ),
        schemas.CANDLES,
    )


def stamp_ingest_seq(df: DataFrame, batch_id: int) -> DataFrame:
    """Stamp the last-write-wins version column.  Batch-granular: all
    rows of one micro-batch share a version — within-batch duplicates
    are upstream retries of identical rows, so any winner is correct;
    across batches later wins (ReplacingMergeTree insert-order parity).
    """
    return df.withColumn("_ingest_seq", F.lit(int(batch_id)).cast("long"))


def guarded_batch(sink):
    """Wrap ``sink(df, batch_id)`` as a ``foreachBatch`` function that
    evaluates each micro-batch once: the batch is persisted, checked
    for rows, handed to the sink, and unpersisted.  A batch with no
    rows never reaches the sink — the reference's non-empty guard
    before ``Send()`` (main.go:224-228, O-14).  Without the persist the
    guard and the sink would each run the batch's plan: stateful
    upstream folds would run twice and progress would over-count
    ``numInputRows``."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return _process


def start_pipeline(
    stream: DataFrame,
    shape,
    sink,
    checkpoint: str,
    trigger_seconds: int | None = None,
    query_name: str | None = None,
):
    """Wire ``readStream → shape → foreachBatch(sink)``.

    ``shape`` maps the streaming DataFrame to its table rows; it is
    applied once, here, so the shaped plan is built once per query.
    ``sink(df, batch_id)`` receives the shaped, version-stamped batch —
    see :mod:`..sources.clickhouse` for the JDBC writer.  Each batch is
    evaluated once and a batch with no rows never reaches the sink
    (:func:`guarded_batch`).  The trigger interval is the reference's
    async-insert buffering knob (S4)."""
    process = guarded_batch(
        lambda batch_df, batch_id: sink(stamp_ingest_seq(batch_df, batch_id), batch_id))
    w = shape(stream).writeStream.foreachBatch(process).option("checkpointLocation", checkpoint)
    if query_name:
        w = w.queryName(query_name)
    if trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        w = w.trigger(availableNow=True)
    return w.start()


def run_with_restarts(start_query, max_restarts: int = 10, backoff_seconds: float = 3.0):
    """Reconnect watchdog (S6/S7): the reference retries its ClickHouse
    connection 10×3 s (main.go:46-59) and re-connects upstream on a
    5-minute ticker (process.go:13,43-49).  On Spark the checkpoint
    makes restarts safe (exactly-where-it-left-off), so the watchdog is
    just: restart the query on failure with backoff.

    ``start_query()`` must build and start a fresh StreamingQuery each
    call.  Returns the final (successfully terminated) query."""
    import time as _time

    attempts = 0
    while True:
        q = start_query()
        try:
            q.awaitTermination()
            return q
        except Exception:
            attempts += 1
            if attempts > max_restarts:
                raise
            _time.sleep(backoff_seconds)


def subscription_lists(
    raw_securities,
    boards=("TQBR", "TQCB", "FUT"),
    export_sec_codes=(),
    alltrades_codes=(),
    info_names=(),
) -> dict[str, list[int]]:
    """O-13 (main.go:131-176): materialize the three driver-side
    subscription id lists from the securities directory.  These are the
    out-of-band control messages sent upstream (S2) — inherently small
    (≤ number of listed securities), so ``collect`` is correct here."""
    from .batch import alltrades_subscription, quotation_subscription, sec_info_subscription

    def ids(df) -> list[int]:
        return sorted(r[0] for r in df.distinct().collect())

    return {
        "quotations": ids(quotation_subscription(raw_securities, boards, export_sec_codes)),
        "alltrades": ids(alltrades_subscription(raw_securities, boards, alltrades_codes)),
        "sec_info": ids(sec_info_subscription(raw_securities, info_names)),
    }


def stream_enrich_trades_with_quotes(
    trades: DataFrame,
    quotes: DataFrame,
    max_lag_seconds: int = 300,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Stream-stream enrichment: join each streaming trade to the
    streaming quotes of the same security observed within
    ``max_lag_seconds`` BEFORE (or at) the trade — the streaming
    counterpart of the batch as-of/range join family
    (``operators/asof.py``, ``operators/range_join.py``).

    Spark's stream-stream inner join requires (a) watermarks on both
    sides and (b) a time-range join condition; together they bound the
    state store: each side keeps only rows younger than
    ``watermark + max_lag``, evicted as the watermark advances — the
    100 TB-friendly property (state is O(rate × window), not O(stream)).

    Inputs need event-time columns ``t_ts`` / ``q_ts`` (TIMESTAMP) and
    a ``sec_code`` on both sides; quote payload columns ride along."""
    t = trades.withWatermark("t_ts", watermark)
    q = quotes.withWatermark("q_ts", watermark).withColumnRenamed(
        "sec_code", "q_sec_code"
    )
    cond = (
        (F.col("sec_code") == F.col("q_sec_code"))
        & (F.col("q_ts") <= F.col("t_ts"))
        & (F.col("q_ts") >= F.col("t_ts") - F.expr(f"INTERVAL {int(max_lag_seconds)} SECONDS"))
    )
    return t.join(q, cond, "inner").drop("q_sec_code")
