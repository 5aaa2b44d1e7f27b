"""``panels``: a Grafana refresh over stored tables.

Setup writes seeded trades through ``storage.write_table`` as eight
appended batches plus a ~2% re-versioned batch, and the securities
dimension beside them.  One refresh re-registers both tables with
``storage.read_table_range(final=True)`` (a dashboard that must see new
files), runs the three template-variable queries, then the twenty
panels.  One op is one panel or variable query:
``run_ch_sql(spark, sql, params, table_map).toPandas()``.

Each panel is written twice: in the ClickHouse dialect the dashboard
ships, and as a DuckDB twin over the same parquet files with explicit
last-write-wins dedup — the independent evaluation the outputs are
checked against after the timed window.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass

import pandas as pd

from . import datagen
from .common import TINY, WORK

N_TRADES = 5_000 if TINY else 40_000
TABLE_MAP = {"default.transaq_trades": "pb_trades", "default.transaq_securities": "pb_securities"}
#: the dashboard's interval variable choices (minutes)
INTERVALS = (1, 3, 5, 10, 12, 15, 20, 24, 30, 48, 60, 120, 240, 480)
RANGE_S = 6 * 3600
DAY2 = pd.Timestamp(datagen.DAYS[1])

T = "default.transaq_trades"
S = "default.transaq_securities"
BUCKET = "toStartOfInterval(time, INTERVAL $interval MINUTE)"
RANGE = "time >= $__fromTime AND time <= $__toTime"
JOIN_S = f"{T} JOIN {S} s ON (sec_code = s.seccode AND board = s.board)"
SIGNED_MONEY = "if(buy_sell = 'S', -1, 1) * sum(price * quantity * s.lotsize)"

#: DuckDB spellings of the same pieces (``trades``/``securities`` are
#: the deduplicated parquet views built in :func:`duck_connection`).
D_BUCKET = ("to_timestamp(floor(epoch(time) / (60 * $interval)) * (60 * $interval))")
D_JOIN = "trades JOIN securities s ON (sec_code = s.seccode AND trades.board = s.board)"
D_SIGNED_MONEY = ("(CASE WHEN buy_sell = 'S' THEN -1 ELSE 1 END)"
                  " * sum(price * quantity * s.lotsize)")


@dataclass(frozen=True)
class Panel:
    name: str
    ch: str
    duck: str
    #: "rows" exact-set compare; "topk" / "uniq" see :func:`compare`
    kind: str = "rows"


VARIABLES = [
    Panel("var_sec_code",
          f"SELECT sec_code FROM {T} WHERE {RANGE} GROUP BY sec_code ORDER BY sec_code LIMIT 1000",
          f"SELECT sec_code FROM trades WHERE {RANGE} GROUP BY sec_code ORDER BY sec_code LIMIT 1000"),
    Panel("var_sec_code_etf",
          f"SELECT DISTINCT t.sec_code FROM {T} t JOIN {S} s ON (t.sec_code = s.seccode"
          f" AND t.board = s.board) WHERE s.board = 'TQTF' AND {RANGE} ORDER BY t.sec_code",
          "SELECT DISTINCT t.sec_code FROM trades t JOIN securities s ON (t.sec_code = s.seccode"
          f" AND t.board = s.board) WHERE s.board = 'TQTF' AND {RANGE} ORDER BY t.sec_code"),
    Panel("var_boards",
          f"SELECT DISTINCT board FROM {S} ORDER BY board",
          "SELECT DISTINCT board FROM securities ORDER BY board"),
]

PANELS = [
    # two-level aggregation, lotsize join, signed money, NOT IN the ETF
    # variable, HAVING, top 10
    Panel("net_buyers_top10",
          f"SELECT sec_code, sum(vol) AS net FROM (SELECT {BUCKET} AS t, sec_code, buy_sell,"
          f" {SIGNED_MONEY} AS vol FROM {JOIN_S} WHERE {RANGE} AND sec_code NOT IN [$sec_code_etf]"
          " GROUP BY t, sec_code, buy_sell) GROUP BY sec_code HAVING net > 0"
          " ORDER BY net DESC, sec_code LIMIT 10",
          f"SELECT sec_code, sum(vol) AS net FROM (SELECT {D_BUCKET} AS t, sec_code, buy_sell,"
          f" {D_SIGNED_MONEY} AS vol FROM {D_JOIN} WHERE {RANGE} AND sec_code NOT IN ($sec_code_etf)"
          " GROUP BY t, sec_code, buy_sell) GROUP BY sec_code HAVING net > 0"
          " ORDER BY net DESC, sec_code LIMIT 10"),
    Panel("net_sellers_top10",
          f"SELECT sec_code, sum(vol) AS net FROM (SELECT {BUCKET} AS t, sec_code, buy_sell,"
          f" {SIGNED_MONEY} AS vol FROM {JOIN_S} WHERE {RANGE} AND sec_code NOT IN [$sec_code_etf]"
          " GROUP BY t, sec_code, buy_sell) GROUP BY sec_code HAVING net < 0"
          " ORDER BY net ASC, sec_code LIMIT 10",
          f"SELECT sec_code, sum(vol) AS net FROM (SELECT {D_BUCKET} AS t, sec_code, buy_sell,"
          f" {D_SIGNED_MONEY} AS vol FROM {D_JOIN} WHERE {RANGE} AND sec_code NOT IN ($sec_code_etf)"
          " GROUP BY t, sec_code, buy_sell) GROUP BY sec_code HAVING net < 0"
          " ORDER BY net ASC, sec_code LIMIT 10"),
    # UNION ALL of a buy branch and a negated sell branch, re-aggregated
    Panel("net_union_top10",
          f"SELECT sec_code, sum(v) AS net FROM (SELECT sec_code, sum(price * quantity) AS v"
          f" FROM {T} WHERE {RANGE} AND buy_sell = 'B' GROUP BY sec_code UNION ALL"
          f" SELECT sec_code, sum(price * quantity) * -1 AS v FROM {T} WHERE {RANGE}"
          " AND buy_sell = 'S' GROUP BY sec_code) GROUP BY sec_code"
          " ORDER BY net DESC, sec_code LIMIT 10",
          "SELECT sec_code, sum(v) AS net FROM (SELECT sec_code, sum(price * quantity) AS v"
          f" FROM trades WHERE {RANGE} AND buy_sell = 'B' GROUP BY sec_code UNION ALL"
          f" SELECT sec_code, sum(price * quantity) * -1 AS v FROM trades WHERE {RANGE}"
          " AND buy_sell = 'S' GROUP BY sec_code) GROUP BY sec_code"
          " ORDER BY net DESC, sec_code LIMIT 10"),
    Panel("signed_volume_by_interval",
          f"SELECT {BUCKET} AS t, sec_code, {SIGNED_MONEY} AS vol FROM {JOIN_S}"
          f" WHERE {RANGE} AND sec_code IN [$sec_code] GROUP BY t, sec_code, buy_sell"
          " ORDER BY t, sec_code, vol LIMIT 10000",
          f"SELECT {D_BUCKET} AS t, sec_code, {D_SIGNED_MONEY} AS vol FROM {D_JOIN}"
          f" WHERE {RANGE} AND sec_code IN ($sec_code) GROUP BY t, sec_code, buy_sell"
          " ORDER BY t, sec_code, vol LIMIT 10000"),
    Panel("lots_by_interval",
          f"SELECT {BUCKET} AS t, sec_code, sum(quantity) AS lots FROM {T}"
          f" WHERE {RANGE} AND sec_code IN [$sec_code] GROUP BY t, sec_code ORDER BY t, sec_code",
          f"SELECT {D_BUCKET} AS t, sec_code, sum(quantity) AS lots FROM trades"
          f" WHERE {RANGE} AND sec_code IN ($sec_code) GROUP BY t, sec_code ORDER BY t, sec_code"),
    Panel("trade_count_by_interval",
          f"SELECT {BUCKET} AS t, count(price) AS n FROM {T} WHERE {RANGE}"
          " AND sec_code NOT IN [$sec_code_etf] GROUP BY t ORDER BY t",
          f"SELECT {D_BUCKET} AS t, count(price) AS n FROM trades WHERE {RANGE}"
          " AND sec_code NOT IN ($sec_code_etf) GROUP BY t ORDER BY t"),
    Panel("icebergs",
          f"SELECT sec_code, count() AS n FROM {T} WHERE {RANGE} AND quantity = 1"
          " GROUP BY sec_code HAVING n > 1 ORDER BY n DESC, sec_code LIMIT 10",
          f"SELECT sec_code, count(*) AS n FROM trades WHERE {RANGE} AND quantity = 1"
          " GROUP BY sec_code HAVING n > 1 ORDER BY n DESC, sec_code LIMIT 10"),
    Panel("top_codes_by_interval",
          f"SELECT {BUCKET} AS t, topK(10)(sec_code) AS top FROM {T} WHERE {RANGE}"
          " GROUP BY t ORDER BY t",
          f"SELECT {D_BUCKET} AS t, sec_code, count(*) AS n FROM trades WHERE {RANGE}"
          " GROUP BY t, sec_code", kind="topk"),
    Panel("active_codes_by_interval",
          f"SELECT {BUCKET} AS t, uniq(sec_code) AS codes, count() AS n FROM {T}"
          f" WHERE {RANGE} GROUP BY t ORDER BY t",
          f"SELECT {D_BUCKET} AS t, count(DISTINCT sec_code) AS codes, count(*) AS n FROM trades"
          f" WHERE {RANGE} GROUP BY t ORDER BY t", kind="uniq"),
    Panel("etf_money_by_interval",
          f"SELECT {BUCKET} AS t, sum(price * quantity * s.lotsize) AS money FROM {JOIN_S}"
          f" WHERE {RANGE} AND sec_code IN [$sec_code_etf] GROUP BY t ORDER BY t",
          f"SELECT {D_BUCKET} AS t, sum(price * quantity * s.lotsize) AS money FROM {D_JOIN}"
          f" WHERE {RANGE} AND sec_code IN ($sec_code_etf) GROUP BY t ORDER BY t"),
    Panel("final_lots_by_code",
          f"SELECT sec_code, sum(quantity) AS lots, count() AS n FROM {T} FINAL WHERE {RANGE}"
          " GROUP BY sec_code ORDER BY sec_code",
          f"SELECT sec_code, sum(quantity) AS lots, count(*) AS n FROM trades WHERE {RANGE}"
          " GROUP BY sec_code ORDER BY sec_code"),
    Panel("yesterday_overlay",
          "SELECT toStartOfInterval(time + INTERVAL 1 DAY, INTERVAL $interval MINUTE) AS t,"
          f" sum(quantity) AS lots FROM {T} WHERE time >= $__fromTime - INTERVAL 1 DAY"
          " AND time <= $__toTime - INTERVAL 1 DAY AND sec_code IN [$sec_code]"
          " GROUP BY t ORDER BY t",
          "SELECT to_timestamp(floor(epoch(time + INTERVAL 1 DAY) / (60 * $interval))"
          " * (60 * $interval)) AS t, sum(quantity) AS lots FROM trades"
          " WHERE time >= CAST($__fromTime AS TIMESTAMPTZ) - INTERVAL 1 DAY"
          " AND time <= CAST($__toTime AS TIMESTAMPTZ) - INTERVAL 1 DAY"
          " AND sec_code IN ($sec_code) GROUP BY t ORDER BY t"),
    Panel("board_breakdown",
          f"SELECT board, count() AS n, sum(quantity) AS lots FROM {T} WHERE {RANGE}"
          " GROUP BY board ORDER BY board",
          f"SELECT board, count(*) AS n, sum(quantity) AS lots FROM trades WHERE {RANGE}"
          " GROUP BY board ORDER BY board"),
    Panel("futures_open_interest",
          f"SELECT sec_code, max(open_interest) AS oi, sum(quantity) AS lots FROM {T}"
          f" WHERE {RANGE} AND board = 'FUT' GROUP BY sec_code ORDER BY sec_code",
          f"SELECT sec_code, max(open_interest) AS oi, sum(quantity) AS lots FROM trades"
          f" WHERE {RANGE} AND board = 'FUT' GROUP BY sec_code ORDER BY sec_code"),
    Panel("vwap_by_interval",
          f"SELECT {BUCKET} AS t, sec_code, sum(price * quantity) / sum(quantity) AS vwap"
          f" FROM {T} WHERE {RANGE} AND sec_code IN [$sec_code] GROUP BY t, sec_code"
          " ORDER BY t, sec_code",
          f"SELECT {D_BUCKET} AS t, sec_code, sum(price * quantity) / sum(quantity) AS vwap"
          f" FROM trades WHERE {RANGE} AND sec_code IN ($sec_code) GROUP BY t, sec_code"
          " ORDER BY t, sec_code"),
    Panel("last_trades",
          f"SELECT time, sec_code, trade_no, price, quantity, buy_sell FROM {T}"
          f" WHERE {RANGE} AND sec_code IN [$sec_code] ORDER BY time DESC, trade_no DESC"
          " LIMIT 10000",
          "SELECT time, sec_code, trade_no, price, quantity, buy_sell FROM trades"
          f" WHERE {RANGE} AND sec_code IN ($sec_code) ORDER BY time DESC, trade_no DESC"
          " LIMIT 10000"),
    Panel("buy_sell_imbalance",
          f"SELECT sec_code, sumIf(quantity, buy_sell = 'B') - sumIf(quantity, buy_sell = 'S')"
          f" AS imbalance FROM {T} WHERE {RANGE} GROUP BY sec_code"
          " ORDER BY imbalance DESC, sec_code LIMIT 10",
          "SELECT sec_code, sum(CASE WHEN buy_sell = 'B' THEN quantity ELSE 0 END)"
          " - sum(CASE WHEN buy_sell = 'S' THEN quantity ELSE 0 END) AS imbalance"
          f" FROM trades WHERE {RANGE} GROUP BY sec_code ORDER BY imbalance DESC, sec_code"
          " LIMIT 10"),
    Panel("market_money_by_interval",
          f"SELECT t, sum(vol) AS money FROM (SELECT {BUCKET} AS t, sec_code, {SIGNED_MONEY}"
          f" AS vol FROM {JOIN_S} WHERE {RANGE} AND sec_code NOT IN [$sec_code_etf]"
          " GROUP BY t, sec_code, buy_sell) GROUP BY t ORDER BY t",
          f"SELECT t, sum(vol) AS money FROM (SELECT {D_BUCKET} AS t, sec_code, {D_SIGNED_MONEY}"
          f" AS vol FROM {D_JOIN} WHERE {RANGE} AND sec_code NOT IN ($sec_code_etf)"
          " GROUP BY t, sec_code, buy_sell) GROUP BY t ORDER BY t"),
    Panel("price_range_by_interval",
          f"SELECT {BUCKET} AS t, sec_code, min(price) AS lo, max(price) AS hi FROM {T}"
          f" WHERE {RANGE} AND sec_code IN [$sec_code] GROUP BY t, sec_code ORDER BY t, sec_code",
          f"SELECT {D_BUCKET} AS t, sec_code, min(price) AS lo, max(price) AS hi FROM trades"
          f" WHERE {RANGE} AND sec_code IN ($sec_code) GROUP BY t, sec_code ORDER BY t, sec_code"),
    Panel("big_trade_share",
          f"SELECT sec_code, countIf(quantity >= 50) / count() AS share FROM {T}"
          f" WHERE {RANGE} GROUP BY sec_code ORDER BY sec_code",
          "SELECT sec_code, count(*) FILTER (WHERE quantity >= 50) / count(*) AS share"
          f" FROM trades WHERE {RANGE} GROUP BY sec_code ORDER BY sec_code"),
    Panel("sell_pressure_top10",
          f"SELECT sec_code, sum(price * quantity) AS sold FROM {T} WHERE {RANGE}"
          " AND buy_sell = 'S' AND sec_code NOT IN [$sec_code_etf] GROUP BY sec_code"
          " HAVING sold > 0 ORDER BY sold DESC, sec_code LIMIT 10",
          f"SELECT sec_code, sum(price * quantity) AS sold FROM trades WHERE {RANGE}"
          " AND buy_sell = 'S' AND sec_code NOT IN ($sec_code_etf) GROUP BY sec_code"
          " HAVING sold > 0 ORDER BY sold DESC, sec_code LIMIT 10"),
]


if TINY:
    PANELS = PANELS[:4]


def render(sql: str, params: dict) -> str:
    """DuckDB-side template substitution with the same values."""
    import re

    def one(v):
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, (list, tuple)):
            return ", ".join(one(str(x)) for x in sorted(map(str, v)))
        return "'" + str(v).replace("'", "''") + "'"

    return re.sub(r"\$(\w+)", lambda m: one(params[m.group(1)]), sql)


# --------------------------------------------------------------------------
# output comparison
# --------------------------------------------------------------------------


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp) or hasattr(v, "isoformat"):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, (list, tuple)) or getattr(v, "ndim", 0):
        return tuple(v.tolist() if hasattr(v, "tolist") else v)
    return v.item() if hasattr(v, "item") else v


def _rows(df: pd.DataFrame) -> list[tuple]:
    return [tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None)]


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def compare(kind: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` (Spark) matches ``want`` (DuckDB); else why.
    ``kind`` is a :class:`Panel` kind."""
    if kind == "topk":
        counts: dict = {}
        for t, code, n in _rows(want):
            counts.setdefault(t, {})[code] = n
        g = _rows(got)
        if sorted(r[0] for r in g) != sorted(counts):
            return "topK bucket set differs"
        for t, top in g:
            c = counts[t]
            expect = sorted(c.values(), reverse=True)[:10]
            if len(set(top)) != len(top) or any(x not in c for x in top):
                return f"topK at {t} returned unknown or repeated codes"
            if sorted((c[x] for x in top), reverse=True) != expect:
                return f"topK at {t} is not a top-10 by count"
        return None
    g, w = _rows(got), _rows(want)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    for rg, rw in zip(sorted(g, key=key), sorted(w, key=key)):
        for i, (a, b) in enumerate(zip(rg, rw)):
            if kind == "uniq" and i == 1:
                # uniq is an HLL estimate: at a few dozen distinct codes
                # a hash collision or two is normal, so allow 20%
                ok = abs(a - b) <= max(2, 0.2 * b)
            else:
                ok = _same(a, b)
            if not ok:
                return f"value {a!r} != {b!r} in column {i}"
    return None


def duck_connection(table_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    con.execute(
        "CREATE VIEW trades AS SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER ("
        "PARTITION BY secid, board, sec_code, trade_no, time, buy_sell ORDER BY _ingest_seq DESC)"
        f" AS rn FROM read_parquet('{table_dir}/trades/**/*.parquet', hive_partitioning = true))"
        " WHERE rn = 1")
    con.execute(
        f"CREATE VIEW securities AS SELECT DISTINCT * EXCLUDE (_ingest_seq) FROM"
        f" read_parquet('{table_dir}/securities/*.parquet')")
    return con


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


class Workload:
    name = "panels"

    def __init__(self, seed: int, tracer, probe=None):
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.probe = probe
        self.table_dir = ""
        self.trades_pdf = datagen.trades(seed, N_TRADES)
        self.revs_pdf = datagen.reversions(seed, self.trades_pdf)
        self.sec_pdf = datagen.securities()
        self.results: list[dict] = []
        self.diag: dict = {}

    # -- setup -------------------------------------------------------------

    def write_tables(self, spark, tag: str) -> None:
        from pyspark.sql import types as T_
        from transaq_clickhouse_exporter_spark import schemas, storage

        self.table_dir = os.path.join(WORK, "panels", tag)
        shutil.rmtree(self.table_dir, ignore_errors=True)
        seq = T_.StructField("_ingest_seq", T_.LongType(), False)
        tschema = T_.StructType(list(schemas.TRADES.fields) + [seq])
        sschema = T_.StructType(list(schemas.SECURITIES.fields) + [seq])
        tpath = os.path.join(self.table_dir, "trades")
        for b in range(1, 9):
            batch = self.trades_pdf[self.trades_pdf["_ingest_seq"] == b]
            storage.write_table(spark.createDataFrame(batch, tschema), tpath, "transaq_trades")
        storage.write_table(spark.createDataFrame(self.revs_pdf, tschema), tpath, "transaq_trades")
        storage.write_table(spark.createDataFrame(self.sec_pdf, sschema),
                            os.path.join(self.table_dir, "securities"), "transaq_securities")

    def prewarm(self, spark) -> None:
        """Cold pass: write the tables, register, one full refresh."""
        t0 = time.perf_counter()
        self.write_tables(spark, "tables")
        self.diag["setup.table_write_s"] = time.perf_counter() - t0
        self.register(spark, self.warmup_params())
        self.refresh(spark, self.warmup_params(), rec=None)

    def setup(self, spark, rep: int) -> dict:
        """Warm re-setup: register the stored tables again and run the
        template-variable queries."""
        parts = {}
        t0 = time.perf_counter()
        self.register(spark, self.warmup_params())
        parts["register_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for v in VARIABLES:
            self._one(spark, v, self.warmup_params())
        parts["warmup_s"] = time.perf_counter() - t0
        return parts

    # -- params ------------------------------------------------------------

    def warmup_params(self) -> dict:
        return self._params(DAY2 + pd.Timedelta(hours=11), 5, ["SEC005", "SEC012", "SEC023"])

    def _params(self, frm: pd.Timestamp, interval: int, codes: list[str]) -> dict:
        to = frm + pd.Timedelta(seconds=RANGE_S)
        return {"__fromTime": frm.strftime("%Y-%m-%d %H:%M:%S"),
                "__toTime": to.strftime("%Y-%m-%d %H:%M:%S"),
                "interval": interval, "sec_code": codes}

    def draw_params(self) -> dict:
        frm = DAY2 + pd.Timedelta(hours=10) + pd.Timedelta(minutes=self.rng.randrange(0, 160))
        codes = sorted(self.rng.sample([datagen.sec_code(i) for i in range(1, 33)], 4))
        return self._params(frm, self.rng.choice(INTERVALS), codes)

    # -- one refresh -------------------------------------------------------

    def register(self, spark, params: dict) -> None:
        from transaq_clickhouse_exporter_spark import storage

        frm = pd.Timestamp(params["__fromTime"]) - pd.Timedelta(days=1)
        to = pd.Timestamp(params["__toTime"])
        storage.read_table_range(
            spark, os.path.join(self.table_dir, "trades"), "transaq_trades",
            frm=frm.to_pydatetime(), to=to.to_pydatetime(), final=True,
        ).createOrReplaceTempView("pb_trades")
        storage.read_table_range(
            spark, os.path.join(self.table_dir, "securities"), "transaq_securities", final=True,
        ).createOrReplaceTempView("pb_securities")
        if self.probe is not None:
            self.probe.storage_read(spark, self.table_dir, frm, to)

    def _one(self, spark, panel: Panel, params: dict) -> pd.DataFrame:
        from transaq_clickhouse_exporter_spark.queries import ch_compat

        df = ch_compat.run_ch_sql(spark, panel.ch, params, TABLE_MAP)
        if self.probe is not None:
            return self.probe.fetch(spark, df)
        with self.tracer.span("toPandas"):
            return df.toPandas()

    def refresh(self, spark, params: dict, rec, panels=None) -> dict:
        """Run the variables, then the panels (all, or ``panels``); returns
        the parameters used and ``{name: pdf}`` (None for a failed op)."""
        out: dict[str, pd.DataFrame] = {}
        params = dict(params)

        def run(p: Panel):
            if rec is None:
                return self._one(spark, p, params)
            return rec.op(p.name, lambda: self._one(spark, p, params))

        for v in VARIABLES:
            out[v.name] = run(v)
        codes = out["var_sec_code_etf"]
        params["sec_code_etf"] = list(codes["sec_code"]) if codes is not None else []
        for p in PANELS if panels is None else panels:
            out[p.name] = run(p)
        return {"params": params, "out": out}

    def run_pass(self, spark, rec) -> None:
        params = self.draw_params()
        with self.tracer.span("refresh"):
            with self.tracer.span("register"):
                self.register(spark, params)
            res = self.refresh(spark, params, rec)
        if len(self.results) < 2:
            self.results.append(res)

    def cross_probe(self, spark, probe, rec) -> None:
        """Traced runs only: one trades file and one tick file through the
        ingest pipelines, for the write-side layer metrics."""
        from .w_ingest import Workload as Ingest

        ing = Ingest(self.seed, self.tracer, probe)
        out = os.path.join(WORK, "cross")
        ing.drain(spark, out, rec, files=1, only=("trades", "ticks"))
        probe.stored_files(os.path.join(out, "tables"), ing.committed)

    # -- output check ------------------------------------------------------

    def check(self, spark, rec) -> None:
        """Compare every kept refresh's outputs with the DuckDB twins."""
        con = duck_connection(self.table_dir)
        for res in self.results:
            params = res["params"]
            for p in VARIABLES + PANELS:
                got = res["out"].get(p.name)
                if got is None:
                    continue  # the op already counted as failed
                want = con.execute(render(p.duck, params)).df()
                rec.check(p.name, compare(p.kind, got, want))
        con.close()
