"""Table registry, ClickHouse DDL bootstrap, and read/write helpers.

The reference creates its five tables at startup with ``CREATE TABLE IF
NOT EXISTS`` (``/root/reference/main.go:61-65``; DDL ``db.go:22-108``).
Here each table is a :class:`TableSpec` carrying the Spark schema, the
ReplacingMergeTree dedup key, and the equivalent ClickHouse DDL for the
JDBC bootstrap path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import schemas


@dataclass(frozen=True)
class TableSpec:
    name: str
    schema: "object"
    #: ReplacingMergeTree ORDER BY key — the last-write-wins dedup key.
    dedup_keys: tuple[str, ...]
    #: ClickHouse DDL (reference-equivalent) for JDBC bootstrap.
    ch_ddl: str


def _ddl(name: str, cols: str, order_by: str) -> str:
    return (
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) "
        f"ENGINE = ReplacingMergeTree() ORDER BY ({order_by})"
    )


#: Registry of the five reference tables.  Dedup keys cite the ORDER BY
#: clauses: candles db.go:32, securities db.go:48, trades db.go:62,
#: securities_info db.go:94, quotes db.go:107.
TABLES: dict[str, TableSpec] = {
    "transaq_candles": TableSpec(
        "transaq_candles",
        schemas.CANDLES,
        ("date", "sec_code", "period"),
        _ddl(
            "transaq_candles",
            "date DateTime('Europe/Moscow'), sec_code FixedString(16), period UInt8, "
            "open Float32, close Float32, high Float32, low Float32, volume UInt64",
            "date, sec_code, period",
        ),
    ),
    "transaq_securities": TableSpec(
        "transaq_securities",
        schemas.SECURITIES,
        ("seccode", "instrclass", "board", "market", "sectype", "quotestype"),
        _ddl(
            "transaq_securities",
            "secid UInt16, seccode FixedString(16), instrclass String, board String, "
            "market UInt8, shortname String, decimals UInt8, minstep Float32, "
            "lotsize UInt8, point_cost Float32, sectype String, quotestype UInt8",
            "seccode, instrclass, board, market, sectype, quotestype",
        ),
    ),
    "transaq_trades": TableSpec(
        "transaq_trades",
        schemas.TRADES,
        ("secid", "board", "sec_code", "trade_no", "time", "buy_sell"),
        _ddl(
            "transaq_trades",
            "time DateTime('Europe/Moscow'), secid UInt16, "
            "sec_code LowCardinality(FixedString(16)), trade_no Int64, "
            "board LowCardinality(String), price Float32, quantity UInt32, "
            "buy_sell LowCardinality(FixedString(1)), open_interest Int32, "
            "period LowCardinality(FixedString(1))",
            "secid, board, sec_code, trade_no, time, buy_sell",
        ),
    ),
    "transaq_securities_info": TableSpec(
        "transaq_securities_info",
        schemas.SECURITIES_INFO,
        ("sec_code", "market", "regnumber", "isin"),
        _ddl(
            "transaq_securities_info",
            "secid UInt16, sec_name String, sec_code FixedString(16), market UInt8, "
            "pname String, mat_date DateTime, clearing_price Float32, minprice Float32, "
            "maxprice Float32, buy_deposit Float32, sell_deposit Float32, bgo_c Float32, "
            "bgo_nc Float32, bgo_buy Float32, accruedint Float32, coupon_value Float32, "
            "coupon_date DateTime, coupon_period UInt8, facevalue Float32, "
            "put_call FixedString(1), point_cost Float32, opt_type FixedString(1), "
            "lot_volume UInt8, isin String, regnumber String, buybackprice Float32, "
            "buybackdate DateTime, currencyid String",
            "sec_code, market, regnumber, isin",
        ),
    ),
    "transaq_quotes": TableSpec(
        "transaq_quotes",
        schemas.QUOTES,
        ("sec_code", "board", "price", "source"),
        _ddl(
            "transaq_quotes",
            "time DateTime('Europe/Moscow'), secid UInt16, "
            "board LowCardinality(String), sec_code LowCardinality(FixedString(16)), "
            "price Float32, source LowCardinality(String), yield Int8, buy Int16, "
            "sell Int16",
            "sec_code, board, price, source",
        ),
    ),
    # Engine extension (r16, not in the reference's five): trades
    # stream-enriched with the latest quote per (sec_code, board) —
    # the materialized form of the dashboard's query-time trades⋈
    # quotes join (operators/asof_stream.asof_join_stream_multi;
    # started by ``serve --enrich-trades``).  Dedup key = the trades
    # key: one row per trade, the quote columns are derived payload.
    "transaq_trades_enriched": TableSpec(
        "transaq_trades_enriched",
        schemas.TRADES_ENRICHED,
        ("secid", "board", "sec_code", "trade_no", "time", "buy_sell"),
        _ddl(
            "transaq_trades_enriched",
            "time DateTime('Europe/Moscow'), secid UInt16, "
            "sec_code LowCardinality(FixedString(16)), trade_no Int64, "
            "board LowCardinality(String), price Float32, quantity UInt32, "
            "buy_sell LowCardinality(FixedString(1)), open_interest Int32, "
            "period LowCardinality(FixedString(1)), quote_price Float32, "
            "quote_buy Int16, quote_sell Int16, quote_yield Int8, "
            "quote_source LowCardinality(String), quote_time DateTime('Europe/Moscow')",
            "secid, board, sec_code, trade_no, time, buy_sell",
        ),
    ),
}

#: The reference's own five tables (main.go:61-65); everything else in
#: TABLES is an engine extension.
REFERENCE_TABLES = (
    "transaq_candles", "transaq_securities", "transaq_trades",
    "transaq_securities_info", "transaq_quotes",
)


def read_table(spark: SparkSession, path: str, name: str, final: bool = True) -> DataFrame:
    """Read a stored table; ``final=True`` applies last-write-wins dedup
    on the ReplacingMergeTree key (deterministic ``FINAL`` semantics,
    SURVEY §1.5).  ``final=False`` matches the reference's dashboard
    reads, which tolerate pre-merge duplicates.  Delegates to
    :func:`~transaq_clickhouse_exporter_spark.storage.read_table_range`
    over the whole table, so a FINAL read is the table's snapshot."""
    from .storage import read_table_range  # storage imports this module

    return read_table_range(spark, path, name, final=final)


def bootstrap_ddl() -> list[str]:
    """The five CREATE TABLE IF NOT EXISTS statements (main.go:61-65).
    Engine-extension tables (``transaq_trades_enriched``) are created
    on demand by their own jobs, not by the reference bootstrap."""
    return [spec.ch_ddl for name, spec in TABLES.items()
            if name in REFERENCE_TABLES]
