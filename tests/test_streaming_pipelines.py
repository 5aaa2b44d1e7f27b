"""End-to-end streaming smoke (SURVEY §5.5): replay JSONL events through
the shaping pipelines into a sink table; verify parsing, version
stamping, and idempotent-dedup interplay."""

from __future__ import annotations

from pyspark.sql import functions as F

from transaq_clickhouse_exporter_spark import schemas
from transaq_clickhouse_exporter_spark.ingest import streaming as ing
from transaq_clickhouse_exporter_spark.operators.dedup import dedup_last_write_wins
from transaq_clickhouse_exporter_spark.sources.replay import (
    read_replay_stream,
    write_jsonl_fixture,
)

from tests.oracle import utc_str

RAW_TRADES = [
    {"time": "20.12.2024 10:00:01", "secid": 1, "sec_code": "SBER", "trade_no": 101,
     "board": "TQBR", "price": 250.5, "quantity": 10, "buy_sell": "B",
     "open_interest": 0, "period": "N"},
    {"time": "20.12.2024 10:00:02", "secid": 1, "sec_code": "SBER", "trade_no": 102,
     "board": "TQBR", "price": 250.6, "quantity": 5, "buy_sell": "S",
     "open_interest": 0, "period": "N"},
    {"time": "not a date", "secid": 2, "sec_code": "GAZP", "trade_no": 103,
     "board": "TQBR", "price": 130.0, "quantity": 1, "buy_sell": "B",
     "open_interest": 0, "period": "N"},
]


def test_trades_pipeline_end_to_end(spark, tmp_path):
    write_jsonl_fixture(str(tmp_path / "in" / "t0.json"), RAW_TRADES[:2])
    write_jsonl_fixture(str(tmp_path / "in" / "t1.json"), RAW_TRADES[2:] + RAW_TRADES[:1])  # retry of 101
    stream = read_replay_stream(spark, str(tmp_path / "in"), schemas.RAW_TRADE, max_files_per_trigger=1)

    sink_dir = str(tmp_path / "out")

    def sink(df, batch_id):
        df.write.mode("append").parquet(sink_dir)

    q = ing.start_pipeline(stream, ing.shape_trades, sink, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(120)

    out = spark.read.parquet(sink_dir)
    assert out.count() == 4
    assert "_ingest_seq" in out.columns
    # failed parse → NULL, not zero-time (stricter than the reference, O-5)
    assert out.filter(F.col("trade_no") == 103).select("time").first()[0] is None
    # at-least-once retry collapses under the ReplacingMergeTree key
    final = dedup_last_write_wins(
        out, ("secid", "board", "sec_code", "trade_no", "time", "buy_sell"), "_ingest_seq"
    )
    assert final.count() == 3
    t = final.filter(F.col("trade_no") == 101).first()
    assert utc_str(t["time"]) == "2024-12-20 10:00:01"


def test_quotes_and_secinfo_shaping(spark):
    raw_q = spark.createDataFrame(
        [("20.12.2024 12:00:00", 1, "TQBR", "SBER", 250.5, "", 0, 100, -50)],
        schema=schemas.RAW_QUOTE,
    )
    q = ing.shape_quotes(raw_q)
    assert [f.name for f in q.schema.fields] == [f.name for f in schemas.QUOTES.fields]
    row = q.first()
    assert row["sell"] == -50 and utc_str(row["time"]).startswith("2024-12-20 12:00")

    vals = {f.name: None for f in schemas.RAW_SEC_INFO.fields}
    vals.update(secid=6, sec_code="RU000A0JX0J2", sec_name="МТС 001P", market=1,
                mat_date="15.06.2025", coupon_date="15.12.2024", buybackdate=None,
                coupon_period=182, facevalue=1000.0)
    raw_si = spark.createDataFrame([tuple(vals[f.name] for f in schemas.RAW_SEC_INFO.fields)],
                                   schema=schemas.RAW_SEC_INFO)
    si = ing.shape_sec_info(raw_si)
    assert len(si.schema.fields) == 28  # declared DDL schema (db.go:64-94)
    r = si.first()
    assert utc_str(r["mat_date"]).startswith("2025-06-15")
    assert r["coupon_period"] == 182


def test_candle_page_shaping(spark):
    raw = spark.createDataFrame(
        [("20.12.2024 10:00:00", "SBER", 60, 1.0, 2.0, 3.0, 0.5, 1000)],
        schema=schemas.RAW_CANDLE,
    )
    out = ing.shape_candles(raw)
    r = out.first()
    assert utc_str(r["date"]) == "2024-12-20 10:00:00" and r["volume"] == 1000


def test_corrupt_jsonl_line_becomes_null_row(spark, tmp_path):
    """A corrupt feed line must not kill the pipeline: permissive JSON
    parsing yields an all-null row, the shaper passes NULLs through
    (vs the reference, which would silently insert zero values)."""
    import os

    os.makedirs(tmp_path / "c", exist_ok=True)
    with open(tmp_path / "c" / "x.json", "w") as f:
        f.write('{"time": "20.12.2024 10:00:01", "secid": 1, "sec_code": "SBER", '
                '"trade_no": 1, "board": "TQBR", "price": 1.0, "quantity": 1, '
                '"buy_sell": "B", "open_interest": 0, "period": "N"}\n')
        f.write("{this is not json at all\n")
    stream = read_replay_stream(spark, str(tmp_path / "c"), schemas.RAW_TRADE)
    out_dir = str(tmp_path / "out")
    q = ing.start_pipeline(
        stream, ing.shape_trades,
        lambda df, bid: df.write.mode("append").parquet(out_dir),
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(60)
    out = spark.read.parquet(out_dir)
    assert out.count() == 2  # corrupt line survives as a null row
    assert out.filter(F.col("trade_no").isNull()).count() == 1


def test_stream_stream_enrich_bounded_lag(spark, tmp_path):
    from transaq_clickhouse_exporter_spark.ingest.streaming import (
        stream_enrich_trades_with_quotes,
    )
    from transaq_clickhouse_exporter_spark.sources.replay import (
        read_replay_stream,
        write_jsonl_fixture,
    )

    base = 1734688800
    trades = [
        {"sec_code": "SBER", "ts_s": base + 100, "price": 101.0, "tid": 1},
        {"sec_code": "SBER", "ts_s": base + 400, "price": 102.0, "tid": 2},
        {"sec_code": "GAZP", "ts_s": base + 100, "price": 50.0, "tid": 3},
    ]
    quotes = [
        {"sec_code": "SBER", "ts_s": base + 90, "bid": 100.5, "qid": 10},   # lag 10s -> t1
        {"sec_code": "SBER", "ts_s": base + 50, "bid": 100.0, "qid": 11},   # lag 50s -> t1 only
        {"sec_code": "SBER", "ts_s": base + 390, "bid": 101.9, "qid": 12},  # -> t2
        {"sec_code": "GAZP", "ts_s": base + 150, "bid": 49.9, "qid": 13},   # AFTER t3 -> no match
    ]
    write_jsonl_fixture(str(tmp_path / "t" / "t.json"), trades, mtime=1000)
    write_jsonl_fixture(str(tmp_path / "q" / "q.json"), quotes, mtime=1000)
    ts = read_replay_stream(
        spark, str(tmp_path / "t"), "sec_code string, ts_s long, price double, tid long"
    ).withColumn("t_ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    qs = read_replay_stream(
        spark, str(tmp_path / "q"), "sec_code string, ts_s long, bid double, qid long"
    ).withColumn("q_ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    out = stream_enrich_trades_with_quotes(ts, qs, max_lag_seconds=60)
    q = (out.writeStream.outputMode("append").format("memory").queryName("enr")
         .option("checkpointLocation", str(tmp_path / "ck2")).start())
    q.processAllAvailable()
    q.stop()
    got = {(r.tid, r.qid) for r in spark.sql("SELECT tid, qid FROM enr").collect()}
    # t1 matches quotes 10+11 (within 60s before), t2 matches 12, t3 nothing
    assert got == {(1, 10), (1, 11), (2, 12)}


def test_run_with_restarts_transient_and_permanent():
    """S6 watchdog (main.go:46-59 parity): transient failures restart
    the query with backoff; exceeding the budget re-raises."""
    import pytest

    calls = {"n": 0}

    class FakeQuery:
        def __init__(self, fail):
            self.fail = fail

        def awaitTermination(self):
            if self.fail:
                raise RuntimeError("transient upstream drop")

    def start():
        calls["n"] += 1
        return FakeQuery(fail=calls["n"] <= 2)

    q = ing.run_with_restarts(start, max_restarts=5, backoff_seconds=0.01)
    assert calls["n"] == 3 and isinstance(q, FakeQuery)

    with pytest.raises(RuntimeError, match="transient"):
        ing.run_with_restarts(lambda: FakeQuery(True), max_restarts=2,
                              backoff_seconds=0.01)


def _batch_rows(q) -> list[int]:
    """``numInputRows`` per micro-batch, in batch order."""
    by_batch = {p.batchId: int(p.numInputRows) for p in q.recentProgress}
    return [by_batch[b] for b in sorted(by_batch)]


def test_each_batch_reads_its_input_once_and_empty_batches_skip_the_sink(spark, tmp_path):
    """The non-empty guard (O-14) and the sink share one evaluation of
    the batch, so progress counts every input row once; the empty file's
    batch never reaches the sink."""
    rows = [dict(RAW_TRADES[0], trade_no=200 + i) for i in range(15)]
    write_jsonl_fixture(str(tmp_path / "in" / "a.json"), rows[:10], mtime=1000)
    write_jsonl_fixture(str(tmp_path / "in" / "b.json"), [], mtime=2000)
    write_jsonl_fixture(str(tmp_path / "in" / "c.json"), rows[10:], mtime=3000)
    stream = read_replay_stream(spark, str(tmp_path / "in"), schemas.RAW_TRADE,
                                max_files_per_trigger=1)
    calls = []

    def sink(df, batch_id):
        calls.append((batch_id, sorted(r.trade_no for r in df.collect())))

    q = ing.start_pipeline(stream, ing.shape_trades, sink, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert _batch_rows(q) == [10, 0, 5]
    assert calls == [(0, list(range(200, 210))), (2, list(range(210, 215)))]


def test_stateful_fold_runs_once_per_batch_and_key(spark, tmp_path):
    """An ``applyInPandasWithState`` fold upstream of the sink runs once
    per (batch, key).  The count is a side effect outside Spark: each
    call appends one line to a file."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    log = str(tmp_path / "fold_calls.log")

    def fold(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += int(pdf["v"].sum())
        state.update((total,))
        with open(log, "a") as f:
            f.write(f"{key[0]}\n")
        yield pd.DataFrame({"k": [key[0]], "total": [total]})

    write_jsonl_fixture(str(tmp_path / "in" / "a.json"),
                        [{"k": k, "v": 1} for k in ("a", "b", "c", "a")], mtime=1000)
    write_jsonl_fixture(str(tmp_path / "in" / "b.json"),
                        [{"k": k, "v": 10} for k in ("a", "b", "d")], mtime=2000)
    stream = read_replay_stream(spark, str(tmp_path / "in"), "k string, v long",
                                max_files_per_trigger=1)
    folded = stream.groupBy("k").applyInPandasWithState(
        fold, outputStructType="k string, total long", stateStructType="total long",
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)
    out = []

    def sink(df, batch_id):
        out.extend((batch_id, r.k, r.total) for r in df.collect())

    q = ing.start_pipeline(folded, lambda df: df, sink, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(120)
    with open(log) as f:
        assert sorted(f.read().split()) == ["a", "a", "b", "b", "c", "d"]
    assert sorted(out) == [(0, "a", 2), (0, "b", 1), (0, "c", 1),
                           (1, "a", 12), (1, "b", 11), (1, "d", 10)]


def test_candle_batch_without_boundary_tick_reaches_no_sink(spark, tmp_path, monkeypatch):
    """A tick batch with no boundary tick builds no candle: the builder
    job calls no sink for it and adds no file to the candles table."""
    import os

    from transaq_clickhouse_exporter_spark import jobs
    from transaq_clickhouse_exporter_spark.ingest.candles import fold_ticks

    cfg = jobs.EngineConfig(data_dir=str(tmp_path / "data"))
    table = cfg.table_path("transaq_candles")
    calls = []
    storage_sink = jobs._storage_sink

    def recording_sink(cfg, name):
        write = storage_sink(cfg, name)

        def sink(df, batch_id):
            files = [f for _, _, fs in os.walk(table) for f in fs if f.endswith(".parquet")]
            calls.append((batch_id, len(files)))
            write(df, batch_id)

        return sink

    monkeypatch.setattr(jobs, "_storage_sink", recording_sink)

    ticks = [("10:00:30", 0.0, 100.0, 5), ("10:00:45", 250.0, 101.0, 3),
             ("10:01:00", 0.0, 102.0, 7)]
    rows = [{"sec_id": 1, "sec_code": "SBER", "time": t, "open": o, "last": l,
             "quantity": n, "seq": i} for i, (t, o, l, n) in enumerate(ticks)]
    write_jsonl_fixture(str(tmp_path / "ticks" / "a.json"), rows[:2], mtime=1000)
    write_jsonl_fixture(str(tmp_path / "ticks" / "b.json"), rows[2:], mtime=2000)
    monkeypatch.setattr(jobs, "read_replay_stream",
                        lambda spark, d, schema: read_replay_stream(
                            spark, d, schema, max_files_per_trigger=1))
    raw_fields = list(schemas.RAW_QUOTATION.fields)
    q = jobs.candle_builder_job(spark, str(tmp_path / "ticks"), str(tmp_path / "ck"), cfg,
                                "2024-12-20")
    q.awaitTermination(120)
    assert schemas.RAW_QUOTATION.fields == raw_fields  # a second job start must work too
    assert _batch_rows(q) == [2, 1]
    assert calls == [(1, 0)]  # batch 0 folded two ticks and emitted nothing
    got = [r.asDict() for r in spark.read.parquet(table).collect()]
    want, _ = fold_ticks(rows, "2024-12-20")
    assert [(utc_str(r["date"]), r["open"], r["close"], r["high"], r["low"], r["volume"])
            for r in got] == [(w["date"], w["open"], w["close"], w["high"], w["low"],
                               w["volume"]) for w in want]


def _drain(spark, src, schema, sink, ckpt):
    """Replay ``src`` one file per micro-batch through ``sink``."""
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .json(src))
    q = (stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return q


def test_states_sink_reads_each_batch_once(spark, tmp_path):
    """The aggregating-states sink guards and writes one evaluation of
    the batch: a 10-row file counts 10 input rows, and the empty file's
    batch writes no state directory."""
    import os

    from transaq_clickhouse_exporter_spark.operators.aggregating import (
        states_stream_sink)

    src, state = str(tmp_path / "in"), str(tmp_path / "state")
    write_jsonl_fixture(os.path.join(src, "a.json"),
                        [{"key": f"K{i % 3}", "qty": i} for i in range(10)], mtime=1000)
    write_jsonl_fixture(os.path.join(src, "b.json"), [], mtime=2000)
    q = _drain(spark, src, "key string, qty long",
               states_stream_sink(state, ("key",), sum_cols=("qty",)),
               str(tmp_path / "ck"))
    assert _batch_rows(q) == [10, 0]
    assert sorted(os.listdir(state)) == ["b0"]


def test_index_sink_reads_each_batch_once(spark, tmp_path):
    """The chunk-index sink guards and writes one evaluation of the
    batch: a 10-row file counts 10 input rows, and the empty file's
    batch writes no index increment."""
    import os

    from transaq_clickhouse_exporter_spark.datapipe.retrieval import (
        index_stream_sink)

    src, root = str(tmp_path / "in"), str(tmp_path / "idx")
    write_jsonl_fixture(os.path.join(src, "a.json"),
                        [{"doc_id": i, "text": f"document {i} about quotes and trades"}
                         for i in range(10)], mtime=1000)
    write_jsonl_fixture(os.path.join(src, "b.json"), [], mtime=2000)
    q = _drain(spark, src, "doc_id long, text string", index_stream_sink(root),
               str(tmp_path / "ck"))
    assert _batch_rows(q) == [10, 0]
    assert sorted(os.listdir(root)) == ["b0"]
