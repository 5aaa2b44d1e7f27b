"""``ingest``: drain an event backlog, the reference's catch-up after a
reconnect.

A seeded backlog of JSONL event files — trades, quotes, sec_info,
history candles, and quotation ticks for the stateful candle builder —
is replayed with ``read_replay_stream(max_files_per_trigger=1)`` into
``start_pipeline`` under ``availableNow``, each pipeline writing its
table through ``storage.write_table``.  Pipelines run one after
another, never as concurrent queries.  One op is one micro-batch
(``durationMs.triggerExecution``); ``work_per_s`` is events committed
per second of the whole window, query start and stop included.

A pass drains a full copy of the backlog into fresh table and
checkpoint directories, so every pass does the same work.  After the
window the first pass's stored tables are read back with
``tables.read_table(final=True)`` and must equal the generator's own
last-write-wins set; the built candles must equal
``ingest.candles.fold_ticks`` over the same ticks.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pandas as pd

from . import datagen
from .common import TINY, WORK

EMIT_DATE = "2024-12-20"
#: files per pipeline in one pass; each file is one micro-batch
FILES = {"trades": 16, "quotes": 4, "sec_info": 3, "candles": 4, "ticks": 4}
ROWS = {"trades": 1500, "quotes": 800, "sec_info": 40, "candles": 300, "ticks": 400}
N_TICK_SECS = 8
if TINY:
    FILES = {"trades": 2, "quotes": 1, "sec_info": 1, "candles": 1, "ticks": 1}


def _ref_dt(ts: int) -> str:
    return pd.Timestamp(ts, unit="s").strftime("%d.%m.%Y %H:%M:%S")


def _write(path: str, rows: list[dict], mtime: float) -> None:
    from transaq_clickhouse_exporter_spark.sources.replay import write_jsonl_fixture

    write_jsonl_fixture(path, rows, mtime=mtime)


def make_backlog(seed: int, root: str) -> dict:
    """Write the backlog; returns the expected last-write-wins rows per
    pipeline (keyed by each table's dedup key) and the tick stream."""
    rng = np.random.default_rng(seed)
    base_t = int(pd.Timestamp(EMIT_DATE).value // 10**9) + 10 * 3600
    mtime = time.time() - 10_000
    expect: dict = {}

    def emit(name: str, files: list[list[dict]]):
        nonlocal mtime
        for k, rows in enumerate(files):
            mtime += 2
            _write(os.path.join(root, name, f"part-{k:03d}.json"), rows, mtime)

    # trades: unique trade_no per file; later files re-version earlier
    # trades with a new price
    files, trades = [], {}
    next_no = 1
    for f in range(FILES["trades"]):
        rows = []
        n_new = ROWS["trades"] if f == 0 else ROWS["trades"] * 9 // 10
        for _ in range(n_new):
            sid = int(rng.integers(1, datagen.N_SEC + 1))
            r = {"time": _ref_dt(base_t + int(rng.integers(0, 30000))), "secid": sid,
                 "sec_code": datagen.sec_code(sid), "trade_no": next_no,
                 "board": datagen.board_of(sid), "price": float(100 + rng.integers(0, 4000) / 4),
                 "quantity": int(rng.integers(1, 100)), "buy_sell": "B" if rng.random() < .5 else "S",
                 "open_interest": 0, "period": "N"}
            next_no += 1
            rows.append(r)
        if f:
            for no in rng.choice(np.arange(1, next_no - n_new), ROWS["trades"] - n_new, replace=False):
                r = dict(trades[int(no)])
                r["price"] = r["price"] + 0.25
                rows.append(r)
        for r in rows:
            trades[r["trade_no"]] = r
        files.append(rows)
    emit("trades", files)
    expect["trades"] = trades

    # quotes: key (sec_code, board, price, source), unique within a file
    files, quotes = [], {}
    for f in range(FILES["quotes"]):
        bt = _ref_dt(base_t + 600 * f)
        keys = set()
        rows = []
        while len(rows) < ROWS["quotes"]:
            sid = int(rng.integers(1, 11))
            k = (datagen.sec_code(sid), datagen.board_of(sid), float(100 + rng.integers(0, 60)),
                 "market" if rng.random() < .5 else "")
            if k in keys:
                continue
            keys.add(k)
            rows.append({"batch_time": bt, "secid": sid, "board": k[1], "sec_code": k[0],
                         "price": k[2], "source": k[3], "yield": int(rng.integers(0, 5)),
                         "buy": int(rng.integers(-100, 100)), "sell": int(rng.integers(-90, 90))})
        for r in rows:
            quotes[(r["sec_code"], r["board"], r["price"], r["source"])] = r
        files.append(rows)
    emit("quotes", files)
    expect["quotes"] = quotes

    # sec_info: the same instruments re-sent with a new clearing price
    files, infos = [], {}
    for f in range(FILES["sec_info"]):
        rows = []
        for sid in range(1, ROWS["sec_info"] + 1):
            rows.append({"secid": sid, "sec_name": f"Bond {sid}", "sec_code": f"BND{sid:03d}",
                         "market": 1, "pname": "issuer", "mat_date": "20.12.2030",
                         "clearing_price": float(90 + f + sid % 7), "minprice": 80.0,
                         "maxprice": 120.0, "buy_deposit": 1.0, "sell_deposit": 1.0, "bgo_c": 0.0,
                         "bgo_nc": 0.0, "bgo_buy": 0.0, "accruedint": float(rng.integers(0, 40)),
                         "coupon_value": 25.0, "coupon_date": "01.03.2025", "coupon_period": 182,
                         "facevalue": 1000.0, "put_call": "", "point_cost": 1.0, "opt_type": "",
                         "lot_volume": 1, "isin": f"RU000A{sid:06d}", "regnumber": f"4B02-{sid:05d}",
                         "buybackprice": 0.0, "buybackdate": "01.01.2031", "currencyid": "RUB"})
        for r in rows:
            infos[(r["sec_code"], r["market"], r["regnumber"], r["isin"])] = r
        files.append(rows)
    emit("sec_info", files)
    expect["sec_info"] = infos

    # history candles: key (date, sec_code, period); later pages revise
    files, candles = [], {}
    for f in range(FILES["candles"]):
        rows = []
        for j in range(ROWS["candles"]):
            minute = (f * ROWS["candles"] + j) % 500 if f < 2 else j
            o = float(100 + rng.integers(0, 100))
            rows.append({"date": _ref_dt(base_t + 60 * minute), "sec_code": f"SEC{(j % 3) + 1:03d}",
                         "period": 1, "open": o, "close": o + 1, "high": o + 2, "low": o - 1,
                         "volume": int(rng.integers(1, 1000))})
        # one row per key within a page
        uniq = {}
        for r in rows:
            uniq[(r["date"], r["sec_code"], r["period"])] = r
        rows = list(uniq.values())
        for r in rows:
            candles[(r["date"], r["sec_code"], r["period"])] = r
        files.append(rows)
    emit("candles", files)
    expect["candles"] = candles

    # quotation ticks: per security strictly increasing 10 s steps,
    # arrival order = file order, then row order
    clock = {s: 10 * 3600 + int(rng.integers(0, 6)) * 10 for s in range(1, N_TICK_SECS + 1)}
    files, ticks, seq = [], [], 0
    for f in range(FILES["ticks"]):
        rows = []
        for _ in range(ROWS["ticks"]):
            s = int(rng.integers(1, N_TICK_SECS + 1))
            clock[s] += 10 * int(rng.integers(1, 4))
            t = clock[s]
            seq += 1
            rows.append({"sec_id": s, "sec_code": f"TICK{s:03d}",
                         "time": f"{t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d}",
                         "open": 0.0 if rng.random() < 0.67 else float(100 + rng.integers(0, 50)),
                         "last": float(100 + rng.integers(0, 50)),
                         "quantity": int(rng.integers(1, 20)), "seq": seq})
        ticks.extend(rows)
        files.append(rows)
    emit("ticks", files)
    expect["ticks"] = ticks
    return expect


class Workload:
    name = "ingest"

    def __init__(self, seed: int, tracer, probe=None):
        self.seed = seed
        self.tracer = tracer
        self.probe = probe
        self.events = os.path.join(WORK, "ingest", "events")
        self.expect = make_backlog(seed, self.events)
        self.n_pass = 0
        self.diag: dict = {}
        self.committed = 0
        self.first_pass_dir = None

    def work_units(self) -> int:
        return self.committed

    # -- one drain of every pipeline ----------------------------------------

    def _pipelines(self):
        from transaq_clickhouse_exporter_spark import jobs, schemas
        from transaq_clickhouse_exporter_spark.ingest import streaming as ing
        from transaq_clickhouse_exporter_spark.ingest.candles import quotation_candles_stream
        from pyspark.sql import types as T_

        for name in ("trades", "quotes", "sec_info", "candles"):
            schema, shape, table = jobs.PIPELINES[name]
            yield name, schema, table, (lambda s, shape=shape: s), shape
        tick_schema = T_.StructType(list(schemas.RAW_QUOTATION.fields)
                                    + [T_.StructField("seq", T_.LongType())])

        def builder(stream):
            return quotation_candles_stream(stream, EMIT_DATE)

        def shaped(df):
            return ing.shape_builder_candles(df.select(
                "date", "sec_code", "period", "open", "close", "high", "low", "volume"))

        yield "ticks", tick_schema, "transaq_candles", builder, shaped

    def drain(self, spark, out_dir: str, rec, files: int | None = None, only=None) -> None:
        """Run every pipeline (or ``only`` these) to completion into
        ``out_dir``; ``files`` drains a copy of the first files only."""
        from transaq_clickhouse_exporter_spark import storage
        from transaq_clickhouse_exporter_spark.ingest import streaming as ing
        from transaq_clickhouse_exporter_spark.sources.replay import read_replay_stream

        for name, schema, table, transform, shape in self._pipelines():
            if only is not None and name not in only:
                continue
            src = os.path.join(self.events, name)
            if files is not None:  # warm-up: a one-file copy of the backlog
                src = os.path.join(out_dir, "src", name)
                os.makedirs(src, exist_ok=True)
                first = sorted(os.listdir(os.path.join(self.events, name)))[:files]
                for fn in first:
                    shutil.copy2(os.path.join(self.events, name, fn), src)
            path = os.path.join(out_dir, "tables", name)

            def sink(df, batch_id, path=path, table=table):
                storage.write_table(df, path, table)

            stream = transform(read_replay_stream(spark, src, schema, max_files_per_trigger=1))
            with self.tracer.span(f"pipeline:{name}"):
                q = ing.start_pipeline(stream, shape, sink,
                                       checkpoint=os.path.join(out_dir, "chk", name),
                                       query_name=f"pb_{name}")
                try:
                    q.awaitTermination()
                    err = None
                except Exception as e:  # the query failed: its batch is a failed op
                    err = f"{type(e).__name__}: {str(e)[:200]}"
            progress = q.recentProgress
            if rec is None:
                continue
            for p in progress:
                rows = int(p.numInputRows)
                if rows == 0:
                    continue
                rec.add(name, float(p.durationMs.get("triggerExecution", 0)))
                self.diag.setdefault(f"batch_ms.{name}", []).append(
                    int(p.durationMs.get("triggerExecution", 0)))
                self.committed += rows
                if self.probe is not None:
                    self.probe.progress(name, p, path)
            if err:
                rec.add(name, 0.0, ok=False, why=err)

    def prewarm(self, spark) -> None:
        """Cold pass: one file of every pipeline."""
        self.drain(spark, os.path.join(WORK, "ingest", "prewarm"), None, files=1)

    def setup(self, spark, rep: int) -> dict:
        """Warm re-setup: drain one file of the trades pipeline."""
        t0 = time.perf_counter()
        self.drain(spark, os.path.join(WORK, "ingest", f"warm{rep}"), None, files=1,
                   only=("trades",))
        return {"warmup_s": time.perf_counter() - t0}

    def run_pass(self, spark, rec) -> None:
        out = os.path.join(WORK, "ingest", f"pass{self.n_pass}")
        self.n_pass += 1
        before = self.committed
        with self.tracer.span("pass"):
            self.drain(spark, out, rec)
        if self.probe is not None:
            self.probe.stored_files(os.path.join(out, "tables"), self.committed - before)
        if self.first_pass_dir is None:
            self.first_pass_dir = out
        else:
            shutil.rmtree(out, ignore_errors=True)

    def cross_probe(self, spark, probe, rec) -> None:
        """Traced runs only: the panels tables, the template variables and
        three panels, for the read-side layer metrics."""
        from . import w_panels

        pan = w_panels.Workload(self.seed, self.tracer, probe)
        pan.write_tables(spark, "cross")
        params = pan.warmup_params()
        pan.register(spark, params)
        pan.refresh(spark, params, rec, panels=w_panels.PANELS[:3])

    # -- output check ------------------------------------------------------

    def check(self, spark, rec) -> None:
        from transaq_clickhouse_exporter_spark import tables
        from transaq_clickhouse_exporter_spark.ingest.candles import fold_ticks

        base = os.path.join(self.first_pass_dir, "tables")

        def stored(name, table):
            return tables.read_table(spark, os.path.join(base, name), table, final=True).toPandas()

        fmt = "%d.%m.%Y %H:%M:%S"
        t = stored("trades", "transaq_trades")
        got = {int(r.trade_no): (r.time.strftime(fmt), float(r.price), int(r.quantity), r.buy_sell)
               for r in t.itertuples()}
        want = {k: (v["time"], float(np.float32(v["price"])), v["quantity"], v["buy_sell"])
                for k, v in self.expect["trades"].items()}
        rec.check("trades", None if got == want and len(t) == len(want)
                  else f"{len(t)} stored rows differ from {len(want)} expected")

        q = stored("quotes", "transaq_quotes")
        got = {(r.sec_code, r.board, float(r.price), r.source): (int(r.buy), int(r.sell),
               r.time.strftime(fmt)) for r in q.itertuples()}
        want = {(k[0], k[1], float(np.float32(k[2])), k[3]): (v["buy"], v["sell"], v["batch_time"])
                for k, v in self.expect["quotes"].items()}
        rec.check("quotes", None if got == want and len(q) == len(want)
                  else f"{len(q)} stored quotes differ from {len(want)} expected")

        si = stored("sec_info", "transaq_securities_info")
        got = {(r.sec_code, int(r.market), r.regnumber, r.isin): float(r.clearing_price)
               for r in si.itertuples()}
        want = {k: float(np.float32(v["clearing_price"])) for k, v in self.expect["sec_info"].items()}
        rec.check("sec_info", None if got == want and len(si) == len(want)
                  else "stored securities_info differs from the last-write-wins set")

        c = stored("candles", "transaq_candles")
        got = {(r.date.strftime(fmt), r.sec_code, int(r.period)): (float(r.close), int(r.volume))
               for r in c.itertuples()}
        want = {k: (float(np.float32(v["close"])), v["volume"]) for k, v in self.expect["candles"].items()}
        rec.check("candles", None if got == want and len(c) == len(want)
                  else "stored history candles differ from the last-write-wins set")

        b = stored("ticks", "transaq_candles")
        got = sorted((r.sec_code, r.date.strftime("%Y-%m-%d %H:%M:%S"), float(r.open), float(r.close),
                      float(r.high), float(r.low), int(r.volume)) for r in b.itertuples())
        want = []
        by_sec: dict = {}
        for r in self.expect["ticks"]:
            by_sec.setdefault(r["sec_id"], []).append(r)
        for rows in by_sec.values():
            emitted, _ = fold_ticks(rows, EMIT_DATE)
            want.extend((e["sec_code"], e["date"], *(float(np.float32(e[k])) for k in
                         ("open", "close", "high", "low")), int(e["volume"])) for e in emitted)
        rec.check("candle_builder", None if got == sorted(want)
                  else f"{len(got)} built candles differ from {len(want)} folded")
