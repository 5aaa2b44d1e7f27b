"""Scale-path physical properties, asserted on the actual plans:
partition pruning, parquet filter pushdown, broadcast joins, top-k
without total sort, and the approx-top-k sketch."""

from __future__ import annotations

from pyspark.sql import functions as F

from transaq_clickhouse_exporter_spark import storage
from transaq_clickhouse_exporter_spark.functions.topk import approx_top_k, top_k_per_group
from transaq_clickhouse_exporter_spark.queries import dashboard as dash


def _trades_df(spark, n=2000):
    return spark.range(n).select(
        F.timestamp_seconds(1734688800 + (F.col("id") % 3) * 86400 + (F.col("id") % 520) * 60)
        .alias("time"),
        (F.col("id") % 40 + 1).cast("int").alias("secid"),
        F.concat(F.lit("SEC"), F.lpad((F.col("id") % 40 + 1).cast("string"), 3, "0"))
        .alias("sec_code"),
        F.col("id").alias("trade_no"),
        F.lit("TQBR").alias("board"),
        (F.col("id") % 900 + 100).cast("float").alias("price"),
        (F.col("id") % 50 + 1).alias("quantity"),
        F.when(F.col("id") % 2 == 0, "B").otherwise("S").alias("buy_sell"),
        F.lit(0).alias("open_interest"),
        F.lit("N").alias("period"),
        F.col("id").alias("_ingest_seq"),
    )


def test_partitioned_write_and_pruned_read(spark, tmp_path):
    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark), path, "transaq_trades", files_per_day=2)
    # three day-partitions on disk
    days = sorted(p.name for p in (tmp_path / "trades").glob("p_date=*"))
    assert days == ["p_date=2024-12-20", "p_date=2024-12-21", "p_date=2024-12-22"]

    df = storage.read_table_range(
        spark, path, "transaq_trades", frm="2024-12-21 00:00:00", to="2024-12-21 23:59:59"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition pruning reached the scan…
    assert "PartitionFilters: [" in plan and "p_date" in plan.split("PartitionFilters")[1][:200]
    # …and the time predicate pushed into parquet row-group stats
    assert "PushedFilters: [" in plan and "time" in plan.split("PushedFilters")[1][:200]
    got_days = {str(r[0]) for r in df.select(F.to_date("time")).distinct().collect()}
    assert got_days == {"2024-12-21"}


def test_dedup_on_read_after_pruning(spark, tmp_path):
    path = str(tmp_path / "t2")
    base = _trades_df(spark, 500)
    dup = base.filter(F.col("trade_no") % 10 == 0).withColumn(
        "_ingest_seq", F.col("_ingest_seq") + 10_000
    ).withColumn("price", F.col("price") + F.lit(1.0))
    storage.write_table(base.unionByName(dup), path, "transaq_trades")
    final = storage.read_table_range(spark, path, "transaq_trades")
    assert final.count() == 500
    raw = storage.read_table_range(spark, path, "transaq_trades", final=False)
    assert raw.count() == 550


def test_dim_join_is_broadcast(spark):
    trades = _trades_df(spark)
    securities = spark.range(40).select(
        (F.col("id") + 1).cast("int").alias("secid"),
        F.concat(F.lit("SEC"), F.lpad((F.col("id") + 1).cast("string"), 3, "0")).alias("seccode"),
        F.lit("TQBR").alias("board"),
        F.lit(10).cast("int").alias("lotsize"),
    )
    joined = dash.join_lotsize(trades, securities, on_secid=True)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_plans_without_total_sort(spark):
    trades = _trades_df(spark)
    securities = spark.range(40).select(
        (F.col("id") + 1).cast("int").alias("secid"),
        F.concat(F.lit("SEC"), F.lpad((F.col("id") + 1).cast("string"), 3, "0")).alias("seccode"),
        F.lit("TQBR").alias("board"), F.lit(10).cast("int").alias("lotsize"),
    )
    etf = spark.createDataFrame([("NOPE",)], "sec_code string")
    top = dash.netto_top10(trades, securities, etf, 5, "2024-12-20 00:00:00", "2024-12-23 00:00:00")
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # ORDER BY+LIMIT → no global sort


def test_approx_top_k_matches_exact(spark):
    df = _trades_df(spark, 5000).select("sec_code")
    approx = {(r[0], r[1]) for r in approx_top_k(df, "sec_code", 5).collect()}
    exact = {
        (r["sec_code"], r["weight"])
        for r in top_k_per_group(df.withColumn("g", F.lit(1)), ["g"], "sec_code", 5).collect()
    }
    assert approx == exact


def test_subscription_lists(spark):
    from transaq_clickhouse_exporter_spark import schemas
    from transaq_clickhouse_exporter_spark.ingest.streaming import subscription_lists

    rows = [
        (1, "SBER", "E", "TQBR", 1, "Сбербанк", 2, 0.01, 10, 1.0, "SHARE", 1, "true"),
        (6, "RU01", "B", "TQCB", 1, "Бонд МТС", 0, 0.01, 1, 1.0, "BOND", 0, "true"),
    ]
    raw = spark.createDataFrame(rows, schema=schemas.RAW_SECURITY)
    subs = subscription_lists(
        raw, export_sec_codes=["ALL"], alltrades_codes=["SBER"], info_names=["МТС"]
    )
    assert subs == {"quotations": [1, 6], "alltrades": [1], "sec_info": [6]}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed+sorted on the join key ⇒ SortMergeJoin with
    zero Exchange and zero Sort nodes — the pay-shuffle-once layout."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bt LOCATION '{tmp_path}/wh'")
    trades = _trades_df(spark, 5000)
    quotes = trades.select("secid", "time", (F.col("price") + 0.5).alias("quote_px"))
    storage.write_table_bucketed(trades, "bt.trades_b", "transaq_trades", buckets=8,
                                 bucket_cols=("secid",))
    storage.write_table_bucketed(quotes, "bt.quotes_b", "transaq_trades", buckets=8,
                                 bucket_cols=("secid",))
    t = spark.table("bt.trades_b")
    q = spark.table("bt.quotes_b").groupBy("secid").agg(F.max("quote_px").alias("best"))
    joined = t.join(q.hint("merge"), "secid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the bucketed scan side needs no exchange; only the agg shuffles
    assert plan.count("Exchange hashpartitioning") <= 1
    assert joined.count() == 5000
    spark.sql("DROP DATABASE bt CASCADE")


def test_compact_table_merges_files_and_dedups(spark, tmp_path):
    path = str(tmp_path / "trades")
    base = _trades_df(spark, 900)
    # three fragmented appends; the third re-ingests 300 rows with a
    # later _ingest_seq and shifted price (the merge-tree upsert shape)
    storage.write_table(base.repartition(8), path, "transaq_trades")
    storage.write_table(_trades_df(spark, 600).repartition(8), path, "transaq_trades")
    dup = (
        _trades_df(spark, 300)
        .withColumn("_ingest_seq", F.col("_ingest_seq") + 10_000)
        .withColumn("price", (F.col("price") + 1).cast("float"))
    )
    storage.write_table(dup.repartition(8), path, "transaq_trades")

    expected = sorted(
        map(
            tuple,
            storage.read_table_range(spark, path, "transaq_trades").collect(),
        )
    )
    report = storage.compact_table(spark, path, "transaq_trades")
    assert report and all(before > after for before, after in report.values())
    # post-compaction: FINAL during the rewrite -> plain read equals the
    # pre-compaction dedup-on-read result
    got = sorted(
        map(
            tuple,
            storage.read_table_range(
                spark, path, "transaq_trades", final=False
            ).collect(),
        )
    )
    assert got == expected
    # and dedup-on-read stays idempotent over the compacted layout
    still = sorted(
        map(tuple, storage.read_table_range(spark, path, "transaq_trades").collect())
    )
    assert still == expected


def test_compact_table_day_restriction(spark, tmp_path):
    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 600).repartition(6), path, "transaq_trades")
    days = sorted(
        p.name.split("=")[1] for p in (tmp_path / "trades").glob("p_date=*")
    )
    report = storage.compact_table(spark, path, "transaq_trades", days=[days[0]])
    assert list(report) == [days[0]]


def test_compact_table_crash_recovery(spark, tmp_path):
    import os
    import shutil

    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 600).repartition(6), path, "transaq_trades")
    expected = sorted(
        map(tuple, storage.read_table_range(spark, path, "transaq_trades").collect())
    )
    day_dir = sorted((tmp_path / "trades").glob("p_date=*"))[0]
    # crash window 1: between the two swap renames (live dir missing)
    os.rename(day_dir, str(day_dir) + ".compact.old")
    # crash window 2: an incomplete rewrite of another day
    other = sorted((tmp_path / "trades").glob("p_date=*"))[0]
    shutil.copytree(other, str(other) + ".compact.tmp")
    report = storage.compact_table(spark, path, "transaq_trades")
    assert report  # recovery restored the day, then compacted it
    leftovers = [p.name for p in (tmp_path / "trades").glob("*.compact.*")]
    assert leftovers == []
    got = sorted(
        map(tuple, storage.read_table_range(spark, path, "transaq_trades").collect())
    )
    assert got == expected


def test_space_saving_state_is_bounded_by_m():
    """VERDICT r6 item 2: with per-partition distinct >> M the sketch
    must hold O(M) state (not a full distinct dict) and still retain
    every true heavy hitter (Space-Saving residency guarantee)."""
    import random

    from transaq_clickhouse_exporter_spark.functions.topk import SpaceSaving

    m, n_noise, n_heavy = 50, 20_000, 10
    heavy = [f"HOT{i:02d}" for i in range(n_heavy)]
    stream = [f"noise{i}" for i in range(n_noise)] + heavy * 500
    random.Random(7).shuffle(stream)

    sk = SpaceSaving(m)
    max_counters = max_heap = 0
    for v in stream:
        sk.add(v)
        max_counters = max(max_counters, len(sk.counters))
        max_heap = max(max_heap, len(sk._heap))
    assert max_counters <= m                 # hard counter bound
    assert max_heap <= 8 * m + 1             # lazy heap compaction bound
    resident = set(sk.counters)
    assert set(heavy) <= resident            # every heavy hitter survives
    # overestimate invariant: estimate >= true count, error <= N/m
    n = len(stream)
    for h in heavy:
        assert 500 <= sk.counters[h] <= 500 + n // m


def test_approx_top_k_high_cardinality_partition(spark):
    """End-to-end: distinct >> M in a single partition; the bounded
    sketch plus exact re-count still returns the exact top-k."""
    rows = [(f"noise{i}",) for i in range(5000)] + [
        (f"HOT{j}",) for j in range(5) for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "sec_code string").coalesce(1)
    got = approx_top_k(df, "sec_code", 5, candidates_per_partition=60).collect()
    assert [(r[0], r[1]) for r in got] == [(f"HOT{j}", 200) for j in range(5)]


def test_window_funnel_ch_single_sort_plan(spark):
    """The CH-exact funnel's k-1 RANGE running maxes must share ONE
    exchange + ONE sort (chained Window operators), then aggregate —
    the plan shape its 100 TB story claims."""
    import re

    from transaq_clickhouse_exporter_spark.functions.funnel import window_funnel_ch

    ev = spark.createDataFrame(
        [(1, "a", 1)], "user_id long, event_type string, ts_s long"
    )
    conds = [F.col("event_type") == t for t in ("a", "b", "c", "d")]
    plan = (
        window_funnel_ch(ev, conds, window=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1
    assert len(re.findall(r"\bWindow \[", plan)) == 3  # k-1 chained


# -- FINAL snapshots ---------------------------------------------------------

DAY = ("2024-12-21 00:00:00", "2024-12-21 23:59:59")


def _plan_nodes(df) -> list[str]:
    """Physical node names of ``df``'s plan, looking through adaptive
    wrappers and query stages but not into cached relations."""
    stack, names = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
        else:
            names.append(name)
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return names


def _persistent_rdds(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _with_reversions(spark, n, mod=10):
    """``n`` trades plus re-versions of every ``mod``-th, repriced +1."""
    base = _trades_df(spark, n)
    return base.filter(F.col("trade_no") % mod == 0).withColumn(
        "_ingest_seq", F.col("_ingest_seq") + 10_000
    ).withColumn("price", (F.col("price") + 1).cast("float"))


def test_final_snapshot_serves_panel_queries(spark, tmp_path):
    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 900), path, "transaq_trades")
    expected = _rows(storage.read_table_range(spark, path, "transaq_trades", *DAY))
    # a second read over the unchanged files, shared by panels via a view
    snap = storage.read_table_range(spark, path, "transaq_trades", *DAY)
    snap.createOrReplaceTempView("snap_trades")
    panel = spark.sql("SELECT sec_code, count(*) AS n FROM snap_trades GROUP BY sec_code")
    nodes = _plan_nodes(panel)
    assert "InMemoryTableScan" in nodes
    assert not any(n.startswith("Window") for n in nodes)
    assert _rows(snap) == expected
    assert sum(r.n for r in panel.collect()) == len(expected)


def test_final_snapshot_sees_appended_versions(spark, tmp_path):
    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 500), path, "transaq_trades")
    before = _persistent_rdds(spark)
    old = storage.read_table_range(spark, path, "transaq_trades")
    old_prices = {r.trade_no: r.price for r in old.collect()}
    old_rdds = _persistent_rdds(spark) - before
    assert len(old_rdds) == 1  # the first action filled the snapshot

    storage.write_table(_with_reversions(spark, 500), path, "transaq_trades")
    new = storage.read_table_range(spark, path, "transaq_trades")
    assert new is not old
    new_prices = {r.trade_no: r.price for r in new.collect()}
    assert len(new_prices) == 500
    assert all(new_prices[k] == old_prices[k] + (1 if k % 10 == 0 else 0) for k in old_prices)
    assert not old.is_cached
    assert not old_rdds & _persistent_rdds(spark)


def test_final_snapshot_across_compaction(spark, tmp_path):
    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 600).repartition(6), path, "transaq_trades")
    storage.write_table(_with_reversions(spark, 600).repartition(6), path, "transaq_trades")
    expected = _rows(storage.read_table_range(spark, path, "transaq_trades"))
    assert storage.compact_table(spark, path, "transaq_trades")
    # the pre-compaction files are gone: a stale snapshot or file listing
    # would fail here with FileNotFound
    assert _rows(storage.read_table_range(spark, path, "transaq_trades")) == expected


def test_final_snapshot_quotes_keep_in_range_version(spark, tmp_path):
    """``transaq_quotes`` dedups on (sec_code, board, price, source) — no
    time column — so a key's later version outside the range must not
    shadow its in-range version."""
    import datetime as dt

    from pyspark.sql import types as T

    from transaq_clickhouse_exporter_spark import schemas

    day1, day2 = dt.datetime(2024, 12, 21, 10), dt.datetime(2024, 12, 22, 10)
    rows = [
        (day1, 1, "TQBR", "SBER", 100.0, "S", 0, 7, 0, 1),
        (day2, 1, "TQBR", "SBER", 100.0, "S", 0, 9, 0, 2),
        (day1, 2, "TQBR", "GAZP", 200.0, "S", 0, 3, 0, 3),
    ]
    schema = T.StructType(schemas.QUOTES.fields + [T.StructField("_ingest_seq", T.LongType())])
    path = str(tmp_path / "quotes")
    storage.write_table(spark.createDataFrame(rows, schema), path, "transaq_quotes")

    def buys(frm=None, to=None):
        df = storage.read_table_range(spark, path, "transaq_quotes", frm, to)
        return {r.sec_code: r.buy for r in df.collect()}

    assert buys() == {"SBER": 9, "GAZP": 3}
    assert buys(*DAY) == {"SBER": 7, "GAZP": 3}
    assert buys() == {"SBER": 9, "GAZP": 3}


def test_final_snapshot_size_guard_falls_back(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 500), path, "transaq_trades")
    old = {r.trade_no: r.price for r in storage.read_table_range(spark, path, "transaq_trades").collect()}
    storage.write_table(_with_reversions(spark, 500), path, "transaq_trades")
    monkeypatch.setattr(storage, "_free_storage_bytes", lambda spark: 0)
    df = storage.read_table_range(spark, path, "transaq_trades")
    assert not df.is_cached
    nodes = _plan_nodes(df)
    assert "InMemoryTableScan" not in nodes  # nor the old snapshot's cache
    assert any(n.startswith("Window") for n in nodes)
    new = {r.trade_no: r.price for r in df.collect()}
    assert all(new[k] == old[k] + (1 if k % 10 == 0 else 0) for k in old)


def test_final_snapshot_concurrent_readers(spark, tmp_path):
    """More readers than cores race on one table and get equal rows."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 800), path, "transaq_trades")
    storage.write_table(_with_reversions(spark, 800), path, "transaq_trades")
    n = 8
    start = threading.Barrier(n)

    def read(_):
        start.wait(timeout=60)
        return _rows(storage.read_table_range(spark, path, "transaq_trades"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            got = [f.result(timeout=300) for f in [pool.submit(read, i) for i in range(n)]]
    finally:
        sys.setswitchinterval(interval)
    assert all(rows == got[0] for rows in got)
    assert len(got[0]) == 800


def test_final_snapshot_later_reader_sees_append(spark, tmp_path, monkeypatch):
    """Reader A lists the files, a batch is appended, reader B lists
    again; A is held until B is done or blocked.  B must still read the
    appended versions, whichever of the two registers its snapshot last."""
    import threading

    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "trades")
    storage.write_table(_trades_df(spark, 500), path, "transaq_trades")
    old = {r.trade_no: r.price for r in storage.read_table_range(spark, path, "transaq_trades").collect()}
    listed, go = threading.Event(), threading.Event()
    parquet = DataFrameReader.parquet

    def held_parquet(reader, *paths, **options):
        df = parquet(reader, *paths, **options)
        if threading.current_thread().name == "reader-a":
            listed.set()
            go.wait(timeout=60)
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", held_parquet)
    got = {}

    def read(who):
        got[who] = storage.read_table_range(spark, path, "transaq_trades")

    a = threading.Thread(target=read, args=("a",), name="reader-a")
    a.start()
    assert listed.wait(timeout=60)
    storage.write_table(_with_reversions(spark, 500), path, "transaq_trades")
    b = threading.Thread(target=read, args=("b",), name="reader-b")
    b.start()
    b.join(timeout=5)  # done, or waiting on A
    go.set()
    a.join(timeout=120)
    b.join(timeout=120)
    assert not a.is_alive() and not b.is_alive()
    new = {r.trade_no: r.price for r in got["b"].collect()}
    assert all(new[k] == old[k] + (1 if k % 10 == 0 else 0) for k in old)
