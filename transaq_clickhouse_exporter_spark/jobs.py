"""End-to-end jobs — the reference daemon's top-level control flow
(``/root/reference/main.go:71-229``) as composable Spark jobs.

A user of the reference runs one process that (1) bootstraps the
securities dimension and subscriptions, (2) backfills candle history,
(3) streams live events into the five tables.  Here each phase is a
function over explicit inputs/outputs; together :func:`bootstrap_job` +
:func:`streaming_job` are the daemon, minus the proprietary gRPC bridge
(any streaming DataFrame source plugs in; tests replay JSONL).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas, storage
from .ingest import streaming as ing
from .ingest.batch import DEFAULT_BOARDS, valid_securities
from .ingest.candles import quotation_candles_stream
from .ingest.streaming import subscription_lists
from .sources.replay import read_replay_stream


@dataclass
class EngineConfig:
    """The reference's EXPORT_* environment surface (main.go:79-120)."""

    data_dir: str
    boards: Sequence[str] = DEFAULT_BOARDS
    export_sec_codes: Sequence[str] = ()
    alltrades_codes: Sequence[str] = ()
    sec_info_names: Sequence[str] = ()
    trigger_seconds: int | None = None
    extra: dict = field(default_factory=dict)

    def table_path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)

    @classmethod
    def from_env(cls, data_dir: str, env=os.environ) -> "EngineConfig":
        split = lambda k: tuple(v for v in env.get(k, "").split(",") if v)
        return cls(
            data_dir=data_dir,
            boards=split("EXPORT_SEC_BOARDS") or DEFAULT_BOARDS,
            export_sec_codes=split("EXPORT_SEC_CODES"),
            alltrades_codes=split("EXPORT_ALL_TRADES"),
            sec_info_names=split("EXPORT_SEC_INFO_NAMES"),
        )


def bootstrap_job(
    spark: SparkSession, raw_securities: DataFrame, cfg: EngineConfig
) -> dict[str, list[int]]:
    """Phase 1 (main.go:126-176): filter + project the securities
    directory into the stored dimension, and return the subscription id
    lists to send upstream (S2)."""
    dim = valid_securities(raw_securities)
    storage.write_table(dim, cfg.table_path("transaq_securities"), "transaq_securities",
                        mode="overwrite")
    return subscription_lists(
        raw_securities,
        boards=cfg.boards,
        export_sec_codes=cfg.export_sec_codes,
        alltrades_codes=cfg.alltrades_codes,
        info_names=cfg.sec_info_names,
    )


def backfill_job(spark: SparkSession, candle_pages: DataFrame, cfg: EngineConfig) -> None:
    """Phase 2 (main.go:189-228): parse + store history candle pages
    (already fetched by the source adapter via the S8 paging loop)."""
    parsed = ing.shape_candles(candle_pages)
    storage.write_table(
        ing.stamp_ingest_seq(parsed, 0), cfg.table_path("transaq_candles"), "transaq_candles"
    )


def _storage_sink(cfg: EngineConfig, table: str):
    def sink(df: DataFrame, batch_id: int) -> None:
        storage.write_table(df, cfg.table_path(table), table)

    return sink


#: (event name → (raw schema, shaping fn, target table))
PIPELINES = {
    "trades": (schemas.RAW_TRADE, ing.shape_trades, "transaq_trades"),
    "quotes": (schemas.RAW_QUOTE, ing.shape_quotes, "transaq_quotes"),
    "sec_info": (schemas.RAW_SEC_INFO, ing.shape_sec_info, "transaq_securities_info"),
    "candles": (schemas.RAW_CANDLE, ing.shape_candles, "transaq_candles"),
}


def streaming_job(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig,
    pipelines: Sequence[str] = ("trades", "quotes", "sec_info", "candles"),
    sink_factory=None,
):
    """Phase 3 (process.go:11-175): one streaming query per event type,
    replaying ``events_dir/<name>/`` (or any source the caller wires) into
    day-partitioned storage.  Returns the started queries.

    ``sink_factory(cfg, table) -> foreachBatch sink`` overrides the
    storage sink — e.g. the CLI composes storage + ClickHouse JDBC
    append when CLICKHOUSE_URL is configured."""
    make_sink = sink_factory or _storage_sink
    queries = []
    for name in pipelines:
        schema, shape, table = PIPELINES[name]
        stream = read_replay_stream(spark, os.path.join(events_dir, name), schema)
        queries.append(
            ing.start_pipeline(
                stream,
                shape,
                make_sink(cfg, table),
                checkpoint=os.path.join(checkpoint_dir, name),
                trigger_seconds=cfg.trigger_seconds,
                query_name=f"tce_{name}",
            )
        )
    return queries


def enriched_trades_job(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    cfg: EngineConfig,
    sink_factory=None,
):
    """Optional enriched-trades pipeline (r16, VERDICT r15 item 4):
    the reference's dashboard joins trades⋈quotes at query time
    (etc/grafana-dashboard-trades.json panels); this job does the join
    IN the stream — each trade row lands in
    ``transaq_trades_enriched`` already carrying the latest quote per
    (sec_code, board) at-or-before the trade
    (:func:`operators.asof_stream.asof_join_stream_multi`, one state
    row per key, one keyed exchange).  Started by
    ``serve --enrich-trades`` when both event directories are live."""
    from .operators.asof_stream import asof_join_stream_multi

    tr = ing.shape_trades(read_replay_stream(
        spark, os.path.join(events_dir, "trades"), schemas.RAW_TRADE))
    qt = ing.shape_quotes(read_replay_stream(
        spark, os.path.join(events_dir, "quotes"), schemas.RAW_QUOTE))
    quotes = qt.select(
        "sec_code", "board", "time",
        F.col("price").alias("quote_price"),
        F.col("buy").alias("quote_buy"),
        F.col("sell").alias("quote_sell"),
        F.col("yield").alias("quote_yield"),
        F.col("source").alias("quote_source"),
    )
    enriched = asof_join_stream_multi(
        tr, [(quotes, "time", "quote_time")],
        by=["sec_code", "board"], left_ts="time")
    sink = (sink_factory or _storage_sink)(cfg, "transaq_trades_enriched")
    return ing.start_pipeline(enriched, lambda df: df, sink, checkpoint,
                              cfg.trigger_seconds, "tce_trades_enriched")


def candle_builder_job(
    spark: SparkSession, ticks_dir: str, checkpoint: str, cfg: EngineConfig, emit_date: str
):
    """The stateful O-10 pipeline: quotation ticks → 1-minute candles →
    candles table (period=1, process.go:135)."""
    tick_schema = T.StructType([*schemas.RAW_QUOTATION.fields, T.StructField("seq", T.LongType())])
    stream = read_replay_stream(spark, ticks_dir, tick_schema)
    candles = quotation_candles_stream(stream, emit_date)
    shaped = lambda df: ing.shape_builder_candles(df.select(
        "date", "sec_code", "period", "open", "close", "high", "low", "volume"
    ))
    return ing.start_pipeline(
        candles,
        shaped,
        _storage_sink(cfg, "transaq_candles"),
        checkpoint=checkpoint,
        trigger_seconds=cfg.trigger_seconds,
        query_name="tce_candle_builder",
    )
