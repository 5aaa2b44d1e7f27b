"""ClickHouse-dialect compatibility (queries/ch_compat.py): translator
unit behavior, scalar SQL-UDF shims, template substitution safety, and
a CH-style panel query verified against its DataFrame twin."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from transaq_clickhouse_exporter_spark.queries.ch_compat import (
    UnsupportedChSql,
    register_ch_functions,
    run_ch_sql,
    substitute,
    translate_ch_sql,
)
from transaq_clickhouse_exporter_spark.queries.parity import register_derived_views
from transaq_clickhouse_exporter_spark.testdata import register_views


def test_translate_renames_and_if_aggs():
    assert translate_ch_sql("SELECT uniq(x) FROM t") == (
        "SELECT approx_count_distinct(x) FROM t"
    )
    assert translate_ch_sql("SELECT uniqExact(a, b) FROM t") == (
        "SELECT count(DISTINCT a, b) FROM t"
    )
    # CH sum returns 0, not NULL, when no row matches; CH conditions
    # are UInt8, so each one is CAST to a Spark boolean
    assert translate_ch_sql("SELECT sumIf(v, x > 1) FROM t") == (
        "SELECT coalesce(sum(CASE WHEN CAST((x > 1) AS BOOLEAN) THEN v END),"
        " 0) FROM t"
    )
    assert translate_ch_sql("SELECT countIf(x = 'B') FROM t") == (
        "SELECT count_if(CAST((x = 'B') AS BOOLEAN)) FROM t"
    )


def test_translate_parameterized_quantile_and_nesting():
    assert translate_ch_sql("SELECT quantile(0.9)(price) FROM t") == (
        "SELECT percentile(price, 0.9) FROM t"
    )
    assert translate_ch_sql("SELECT quantile(price) FROM t") == (
        "SELECT percentile(price, 0.5) FROM t"
    )
    # nested calls rewrite inside-out
    assert translate_ch_sql("SELECT uniq(intDiv(a, b)) FROM t") == (
        "SELECT approx_count_distinct(intDiv(a, b)) FROM t"
    )


def test_translate_final_and_literals():
    assert translate_ch_sql("SELECT * FROM trades FINAL WHERE x=1") == (
        "SELECT * FROM trades WHERE x=1"
    )
    # a column named final and quoted text survive
    assert translate_ch_sql("SELECT final, 'uniq(a) FINAL' FROM t") == (
        "SELECT final, 'uniq(a) FINAL' FROM t"
    )
    # ANSI quantified ANY is bridged (r12b) to the NULL-exact CASE
    s = "SELECT * FROM t WHERE x > ANY (SELECT y FROM u)"
    out = translate_ch_sql(s)
    assert "min(__qv)" in out and "ANY (SELECT" not in out


def test_unsupported_raises():
    # all six CH-valid (direction, base) pairs translate since r14;
    # the two pairs CH's own factory rejects keep the named raise
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT sequenceNextNode('backward', 'head')(ts, e, c) FROM t")
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT sequenceNextNode('forward', 'tail')(ts, e, c) FROM t")
    # time guards translate since r16 (greedy chain fold, not regex)
    out = translate_ch_sql(
        "SELECT sequenceMatch('(?1)(?t<3600)(?2)')(ts, a=1, b=2) FROM e"
    )
    assert "aggregate(" in out and "regexp_like" not in out


def test_substitute_quotes_hostile_values():
    out = substitute("WHERE c = $code AND t >= $frm", {
        "code": "SBER' OR '1'='1", "frm": 5,
    })
    assert out == "WHERE c = 'SBER'' OR ''1''=''1' AND t >= 5"
    with pytest.raises(KeyError):
        substitute("$missing", {})


def test_scalar_shims(spark):
    register_ch_functions(spark)
    # timestamps rendered SERVER-side (session tz, pinned UTC):
    # collect() converts TIMESTAMP to a datetime in the PYTHON process
    # timezone, so str(row.ts) would break under a hostile TZ env
    row = spark.sql(
        "SELECT CAST(toStartOfInterval(timestamp'2024-12-20 10:07:33',"
        " INTERVAL 5 minute) AS STRING) AS b,"
        " CAST(toDateTime('2024-12-20 10:00:00') AS STRING) AS dt,"
        " intDiv(17, 5) AS d,"
        " toInt64(3.9) AS i,"
        " CAST(toStartOfHour(timestamp'2024-12-20 10:07:33') AS STRING) AS h"
    ).collect()[0]
    assert row.b == "2024-12-20 10:05:00"
    assert row.dt == "2024-12-20 10:00:00"
    assert (row.d, row.i) == (3, 3)
    assert row.h == "2024-12-20 10:00:00"
    # calendar family — 2024-12-20 is a Friday (ISO dow 5), Q4
    cal = spark.sql(
        "SELECT toStartOfWeek(timestamp'2024-12-20 10:07:33') AS w,"
        " toStartOfWeek(timestamp'2024-12-22 00:00:00') AS w_sun,"
        " toStartOfISOWeek(timestamp'2024-12-20 10:07:33') AS wi,"
        " toStartOfMonth(timestamp'2024-12-20 10:07:33') AS m,"
        " toStartOfQuarter(timestamp'2024-12-20 10:07:33') AS q,"
        " toStartOfYear(timestamp'2024-12-20 10:07:33') AS y,"
        " toYYYYMM(timestamp'2024-12-20 10:07:33') AS ym,"
        " toYYYYMMDD(timestamp'2024-12-20 10:07:33') AS ymd,"
        " toDayOfWeek(timestamp'2024-12-20 10:07:33') AS dw,"
        " toDayOfWeek(timestamp'2024-12-22 00:00:00') AS dw_sun,"
        " toHour(timestamp'2024-12-20 10:07:33') AS hh,"
        " toMinute(timestamp'2024-12-20 10:07:33') AS mi,"
        " toSecond(timestamp'2024-12-20 10:07:33') AS ss"
    ).collect()[0]
    # CH default mode 0: week starts SUNDAY (Fri 20th -> Sun 15th;
    # a Sunday is its own week start); ISO variant -> Monday
    assert str(cal.w) == "2024-12-15"
    assert str(cal.w_sun) == "2024-12-22"
    assert str(cal.wi) == "2024-12-16"
    assert (str(cal.m), str(cal.q), str(cal.y)) == (
        "2024-12-01", "2024-10-01", "2024-01-01",
    )
    assert (cal.ym, cal.ymd) == (202412, 20241220)
    assert (cal.dw, cal.dw_sun) == (5, 7)  # CH ISO: Mon=1 … Sun=7
    assert (cal.hh, cal.mi, cal.ss) == (10, 7, 33)


def test_ch_panel_runs_verbatim_vs_dataframe_twin(spark, sf_smoke):
    """A CH-dialect panel (the reference's volume-by-interval shape,
    GDJ:1069 style, written as a CH user would) must equal the same
    aggregation built with the DataFrame API."""
    register_views(spark, sf_smoke)
    register_derived_views(spark, sf_smoke)
    ch = """
    SELECT toStartOfInterval(time, INTERVAL $interval minute) AS minute,
           sum(price * quantity) AS vol,
           uniqExact(trade_no) AS n_trades,
           countIf(buy_sell = $bs) AS n_buys
    FROM trades FINAL
    GROUP BY minute
    """
    got = run_ch_sql(spark, ch, {"interval": 5, "bs": "B"})
    want = (
        spark.table("trades")
        .groupBy(
            F.timestamp_seconds(F.expr("unix_timestamp(time) DIV 300 * 300")).alias(
                "minute"
            )
        )
        .agg(
            F.sum(F.col("price") * F.col("quantity")).alias("vol"),
            F.countDistinct("trade_no").alias("n_trades"),
            F.count_if(F.col("buy_sell") == "B").alias("n_buys"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 10


def test_limit_by_translation():
    out = translate_ch_sql(
        "SELECT a, b FROM t ORDER BY b DESC LIMIT 2 BY a"
    )
    assert ("row_number() OVER (PARTITION BY a ORDER BY b DESC"
            " NULLS LAST)" in out)  # CH default NULL placement (r12g)
    assert "__rn <= 2" in out
    assert out.rstrip().endswith("ORDER BY b DESC NULLS LAST")
    # offset form + trailing global LIMIT
    out2 = translate_ch_sql("SELECT a, b FROM t ORDER BY b LIMIT 1, 2 BY a LIMIT 10")
    assert "__rn > 1 AND __rn <= 3" in out2 and out2.rstrip().endswith("LIMIT 10")
    with pytest.raises(UnsupportedChSql):  # storage-order nondeterminism
        translate_ch_sql("SELECT a FROM t LIMIT 2 BY a")
    # plain LIMIT untouched (sort key gains CH's NULLS LAST default)
    s = "SELECT a FROM t ORDER BY a LIMIT 5"
    assert translate_ch_sql(s) == (
        "SELECT a FROM t ORDER BY a NULLS LAST LIMIT 5")


def test_limit_by_runs(spark):
    spark.createDataFrame(
        [(1, "a", 3), (1, "b", 2), (1, "c", 1), (2, "x", 9), (2, "y", 8), (2, "z", 7)],
        "user_id long, k string, v int",
    ).createOrReplaceTempView("lb_t")
    out = run_ch_sql(
        spark, "SELECT user_id, k, v FROM lb_t ORDER BY v DESC LIMIT 2 BY user_id"
    )
    assert sorted(map(tuple, out.collect())) == [
        (1, "a", 3), (1, "b", 2), (2, "x", 9), (2, "y", 8),
    ]


def test_prewhere_settings_format_and_plural_quantiles(spark):
    # PREWHERE merges into WHERE; SETTINGS / FORMAT tails drop
    out = translate_ch_sql(
        "SELECT a FROM t PREWHERE x > 1 WHERE y < 2 GROUP BY a "
        "SETTINGS max_threads = 8"
    )
    assert out == "SELECT a FROM t WHERE (x > 1) AND (y < 2) GROUP BY a"
    assert translate_ch_sql("SELECT a FROM t PREWHERE x > 1 ORDER BY a") == (
        "SELECT a FROM t WHERE x > 1 ORDER BY a NULLS LAST"
    )  # NULLS LAST: CH's default NULL placement (r12g)
    assert translate_ch_sql("SELECT a FROM t FORMAT JSON") == "SELECT a FROM t"
    # a nested SETTINGS-looking literal survives
    s = "SELECT 'SETTINGS x=1' FROM t"
    assert translate_ch_sql(s) == s
    # plural quantiles → array percentile
    assert translate_ch_sql("SELECT quantiles(0.5, 0.9)(v) FROM t") == (
        "SELECT percentile(v, array(0.5, 0.9)) FROM t"
    )
    spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "v double"
    ).createOrReplaceTempView("pq_t")
    [row] = run_ch_sql(
        spark, "SELECT quantiles(0.5, 0.99)(v) AS qs FROM pq_t"
    ).collect()
    assert row.qs == [50.5, 99.01]


def test_array_join_clause_and_guards(spark):
    spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"]), (3, [])],
        "id long, tags array<string>",
    ).createOrReplaceTempView("aj_t")
    # aliased form
    out = run_ch_sql(spark, "SELECT id, t FROM aj_t ARRAY JOIN tags AS t")
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (1, "b"), (2, "c")]
    # LEFT keeps empty-array rows (NULL element), as in CH
    out2 = run_ch_sql(spark, "SELECT id, t FROM aj_t LEFT ARRAY JOIN tags AS t")
    assert (3, None) in set(map(tuple, out2.collect()))
    # bare form shadows the source column (simple-FROM wrap)
    out3 = run_ch_sql(spark, "SELECT id, tags FROM aj_t ARRAY JOIN tags")
    assert sorted(map(tuple, out3.collect())) == [(1, "a"), (1, "b"), (2, "c")]
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT 1 FROM t ARRAY JOIN a, b")
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT 1 FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t")
    # GLOBAL hint strips
    assert translate_ch_sql("SELECT 1 FROM t WHERE x GLOBAL IN (SELECT y FROM u)") == (
        "SELECT 1 FROM t WHERE x IN (SELECT y FROM u)"
    )
    # GLOBAL strips, then ANY JOIN (round 9f) dedups the right side
    # on the USING key — one arbitrary right row per key, like CH
    t = translate_ch_sql("SELECT 1 FROM a GLOBAL ANY LEFT JOIN b USING (k)")
    assert t.startswith("SELECT 1 FROM a LEFT JOIN (SELECT __any_s.* FROM")
    assert "any_value(struct(*))" in t and t.endswith("`b` USING (k)")
    # ADVICE r6: an identifier literally named 'global' in operand
    # position must NOT be deleted
    for kept in (
        "SELECT 1 FROM t WHERE global IN (1, 2)",
        "SELECT 1 FROM t WHERE x = 1 AND global IN (1, 2)",
        "SELECT 1 FROM t WHERE (global IN (1, 2))",
        "SELECT global IN (1, 2) FROM t",
        "SELECT 1 FROM global JOIN u USING (k)",
    ):
        assert translate_ch_sql(kept) == kept, kept
    # hint after a closing paren (completed expression) still strips
    assert translate_ch_sql(
        "SELECT 1 FROM t WHERE lower(x) GLOBAL IN (SELECT y FROM u)"
    ) == "SELECT 1 FROM t WHERE lower(x) IN (SELECT y FROM u)"


def test_grammar_bridges_leave_literals_alone():
    for s in (
        "SELECT 'PREWHERE x' FROM t",
        "SELECT 'LIMIT 2 BY a' FROM t",
        "SELECT 'ARRAY JOIN tags' FROM t",
        "SELECT 'GLOBAL IN (1)' FROM t",
        "SELECT 'FORMAT JSON' AS fmt_note FROM t",
    ):
        assert translate_ch_sql(s) == s


def test_quantile_exact_weighted(spark):
    spark.createDataFrame(
        [(1.0, 1), (2.0, 3), (3.0, 1)], "v double, w long"
    ).createOrReplaceTempView("qw_t")
    [row] = run_ch_sql(
        spark, "SELECT quantileExactWeighted(0.5)(v, w) AS q FROM qw_t"
    ).collect()
    # weight-expanded multiset {1,2,2,2,3} -> median 2
    assert row.q == 2.0
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT quantileExactWeighted(0.5)(v) FROM t")


def test_everyday_scalar_rewrites(spark):
    # conditions gain a BOOLEAN cast: CH accepts truthy numbers
    # (multiIf(0, …)) where Spark CASE requires booleans (probe r9)
    assert translate_ch_sql("SELECT multiIf(a > 1, 'x', a > 0, 'y', 'z') FROM t") == (
        "SELECT CASE WHEN CAST((a > 1) AS BOOLEAN) THEN 'x' "
        "WHEN CAST((a > 0) AS BOOLEAN) THEN 'y' ELSE 'z' END FROM t"
    )
    # the separator is escaped for BOTH layers: the regex needs \.
    # and the string literal parser consumes one backslash, so the
    # emitted TEXT carries two (self-review r8)
    assert translate_ch_sql("SELECT splitByChar('.', host) FROM t") == (
        "SELECT split(host, '\\\\.') FROM t"
    )
    assert translate_ch_sql("SELECT assumeNotNull(x) FROM t") == (
        "SELECT (x) FROM t"
    )
    [row] = run_ch_sql(
        spark,
        "SELECT has(array(1, 2), 2) AS h, indexOf(array(7, 8), 8) AS i, "
        "arrayStringConcat(array('a', 'b'), '-') AS j, "
        "multiIf(1 = 2, 'no', 1 = 1, 'yes', 'else') AS m, "
        "splitByChar(',', 'a,b,c') AS s",
    ).collect()
    assert (row.h, row.i, row.j, row.m, row.s) == (
        True, 2, "a-b", "yes", ["a", "b", "c"],
    )
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT multiIf(a, b) FROM t")
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT splitByChar(sep_col, s) FROM t")


def test_asof_join_bridge(spark):
    """CH `ASOF JOIN` through run_ch_sql: bare form is INNER, LEFT
    keeps unmatched rows; key columns may differ in name; the rest of
    the statement (WHERE/GROUP BY/aliases) keeps working against the
    bridged view."""
    from transaq_clickhouse_exporter_spark.queries.ch_compat import run_ch_sql

    spark.createDataFrame(
        [("SBER", 100, 250.0), ("SBER", 200, 251.0), ("GAZP", 150, 170.0),
         ("LKOH", 50, 6000.0)],
        "sec string, t_tr long, price double",
    ).createOrReplaceTempView("asof_tr")
    spark.createDataFrame(
        [("SBER", 90, 249.5), ("SBER", 180, 250.5), ("GAZP", 150, 169.5)],
        "qsec string, t_q long, bid double",
    ).createOrReplaceTempView("asof_q")

    inner = {
        (r.sec, r.t_tr): (r.bid, r.t_q_out if hasattr(r, "t_q_out") else None)
        for r in run_ch_sql(
            spark,
            "SELECT a.sec, a.t_tr, b.bid FROM asof_tr a ASOF JOIN asof_q b "
            "ON a.sec = b.qsec AND a.t_tr >= b.t_q",
        ).collect()
    }
    # SBER@100 -> quote@90; SBER@200 -> quote@180; GAZP@150 -> 150
    # (inclusive); LKOH has no quote -> dropped by the INNER form
    assert {k: v[0] for k, v in inner.items()} == {
        ("SBER", 100): 249.5, ("SBER", 200): 250.5, ("GAZP", 150): 169.5,
    }

    left = {
        (r.sec, r.t_tr): r.bid
        for r in run_ch_sql(
            spark,
            "SELECT sec, t_tr, bid FROM asof_tr a ASOF LEFT JOIN asof_q b "
            "ON a.sec = b.qsec AND a.t_tr >= b.t_q",
        ).collect()
    }
    assert left[("LKOH", 50)] is None and len(left) == 4

    # mirrored <= inequality + aggregation over the bridged view
    agg = run_ch_sql(
        spark,
        "SELECT sec, count(*) AS n, max(bid) AS top_bid "
        "FROM asof_tr a ASOF JOIN asof_q b "
        "ON b.qsec = a.sec AND b.t_q <= a.t_tr "
        "WHERE a.price > 200 GROUP BY sec ORDER BY sec",
    ).collect()
    assert [(r.sec, r.n, r.top_bid) for r in agg] == [("SBER", 2, 250.5)]


def test_asof_join_bridge_rejects_unsupported_forms(spark):
    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        UnsupportedChSql,
        _bridge_asof_join,
    )

    # (strict `>` and the mirrored/forward comparators are bridged
    # since r11e — tests/test_asof.py pins all four vs DuckDB)
    for bad in (
        # no equality
        "SELECT 1 FROM asof_tr a ASOF JOIN asof_q b ON a.t_tr >= b.t_q",
        # two inequalities
        "SELECT 1 FROM asof_tr a ASOF JOIN asof_q b ON a.sec = b.qsec "
        "AND a.t_tr >= b.t_q AND a.t_tr <= b.t_q",
        # unqualified column
        "SELECT 1 FROM asof_tr a ASOF JOIN asof_q b ON sec = qsec AND a.t_tr >= b.t_q",
        # same-side inequality (relates one table to itself)
        "SELECT 1 FROM asof_tr a ASOF JOIN asof_q b ON a.sec = b.qsec AND a.t_tr >= a.t_tr",
    ):
        with pytest.raises(UnsupportedChSql):
            _bridge_asof_join(spark, bad, None)


def test_array_join_zip_form(spark):
    """Multi-array ARRAY JOIN iterates arrays in lockstep (CH zip
    semantics) — bridged via one explode over arrays_zip with alias
    rewriting; non-simple items still raise."""
    spark.createDataFrame(
        [(1, ["a", "b"], [10, 20]), (2, ["c"], [30])],
        "id long, ks array<string>, vs array<int>",
    ).createOrReplaceTempView("ajz_t")
    out = run_ch_sql(
        spark,
        "SELECT id, k, v FROM ajz_t ARRAY JOIN ks AS k, vs AS v "
        "WHERE v > 5 ORDER BY id, v",
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "a", 10), (1, "b", 20), (2, "c", 30),
    ]
    # aggregation over zipped aliases
    agg = run_ch_sql(
        spark,
        "SELECT k, sum(v) AS s FROM ajz_t ARRAY JOIN ks AS k, vs AS v "
        "GROUP BY k ORDER BY k",
    )
    assert [tuple(r) for r in agg.collect()] == [("a", 10), ("b", 20), ("c", 30)]
    # r13: an EXPRESSION member after a simple FROM now computes into
    # a wrapped-FROM synthetic column and zips (was a raise)
    t = translate_ch_sql("SELECT 1 FROM t ARRAY JOIN f(x) AS a, ys AS b")
    assert "__ajm0_" in t and "arrays_zip" in t  # uuid-suffixed (advice r13)
    # a subquery FROM keeps the named raise for expression members
    with pytest.raises(UnsupportedChSql, match="EXPRESSION"):
        translate_ch_sql("SELECT 1 FROM (SELECT * FROM t) q"
                         " ARRAY JOIN f(x) AS a, ys AS b")


def test_asof_bridge_right_ts_reference_resolves_to_matched_row(spark):
    """ADVICE r7 (medium): `q.<ts>` outside ON must be the MATCHED
    right-row timestamp (what CH returns), not the left timestamp —
    including the nasty case where both sides share the ts name."""
    from transaq_clickhouse_exporter_spark.queries.ch_compat import run_ch_sql

    spark.createDataFrame(
        [("SBER", 100, 250.0), ("SBER", 200, 251.0), ("LKOH", 50, 6000.0)],
        "sec string, time_s long, price double",
    ).createOrReplaceTempView("asof_tr2")
    spark.createDataFrame(
        [("SBER", 90, 249.5), ("SBER", 180, 250.5)],
        "qsec string, time_s long, bid double",
    ).createOrReplaceTempView("asof_q2")

    got = {
        (r.sec, r.lt): (r.rt, r.bid)
        for r in run_ch_sql(
            spark,
            "SELECT a.sec, a.time_s AS lt, q.time_s AS rt, q.bid "
            "FROM asof_tr2 a ASOF JOIN asof_q2 q "
            "ON a.sec = q.qsec AND a.time_s >= q.time_s",
        ).collect()
    }
    assert got == {
        ("SBER", 100): (90, 249.5),   # matched quote@90, NOT 100
        ("SBER", 200): (180, 250.5),  # matched quote@180, NOT 200
    }
    # LEFT form: unmatched left rows carry NULL matched ts
    left = {
        (r.sec, r.lt): r.rt
        for r in run_ch_sql(
            spark,
            "SELECT a.sec, a.time_s AS lt, q.time_s AS rt "
            "FROM asof_tr2 a ASOF LEFT JOIN asof_q2 q "
            "ON a.sec = q.qsec AND a.time_s >= q.time_s",
        ).collect()
    }
    assert left[("LKOH", 50)] is None and left[("SBER", 100)] == 90


def test_asof_bridge_view_cleanup_and_uniqueness(spark):
    """ADVICE r7: the bridge's temp view must not leak, and the
    returned DataFrame must survive the drop (plan inlined at
    analysis)."""
    from transaq_clickhouse_exporter_spark.queries.ch_compat import run_ch_sql

    before = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    df = run_ch_sql(
        spark,
        "SELECT a.sec, b.bid FROM asof_tr a ASOF JOIN asof_q b "
        "ON a.sec = b.qsec AND a.t_tr >= b.t_q",
    )
    after = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    assert not {n for n in after - before if n.startswith("__ch_asof_")}
    assert len(df.collect()) == 3  # still executable after the drop


def test_array_join_zip_alias_rewrite_scoped_to_block(spark):
    """ADVICE r7: the multi-array alias rewrite must not touch other
    scopes (UNION branches) that legitimately define the same name."""
    from transaq_clickhouse_exporter_spark.queries.ch_compat import run_ch_sql

    spark.createDataFrame(
        [(1, ["a", "b"], [10, 20])],
        "id long, ks array<string>, vs array<int>",
    ).createOrReplaceTempView("ajz_scope")
    rows = run_ch_sql(
        spark,
        "SELECT k, v FROM (SELECT 'x' AS k, 0 AS v) u "
        "UNION ALL "
        "SELECT k, v FROM ajz_scope ARRAY JOIN ks AS k, vs AS v",
    ).collect()
    assert sorted((r.k, r.v) for r in rows) == [("a", 10), ("b", 20), ("x", 0)]


def test_with_fill_bridged_value_pinned_vs_duckdb(spark):
    """VERDICT r9 item 4: ``ORDER BY col WITH FILL [FROM/TO/STEP]`` is
    bridged through run_ch_sql (spine + anti-join + union, CH default
    values in generated rows) instead of raising.  Values pinned
    against DuckDB spelling the fill as generate_series + left join +
    coalesce."""
    import duckdb

    spark.createDataFrame(
        [(1, 10.0, "a"), (3, 30.0, "c"), (7, 70.0, "g")],
        "n int, v double, s string",
    ).createOrReplaceTempView("wfill_t")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE wfill_t AS SELECT * FROM (VALUES"
        " (1, 10.0, 'a'), (3, 30.0, 'c'), (7, 70.0, 'g'))"
        " t(n, v, s)")

    # plain fill: observed min..max, step 1, CH type defaults (0, '')
    got = [
        (r.n, r.v, r.s)
        for r in run_ch_sql(
            spark, "SELECT n, v, s FROM wfill_t ORDER BY n WITH FILL"
        ).collect()
    ]
    want = con.execute(
        "SELECT g.n, coalesce(t.v, 0) AS v, coalesce(t.s, '') AS s"
        " FROM (SELECT CAST(unnest(generate_series(1, 7)) AS INT) AS n)"
        " g LEFT JOIN wfill_t t USING (n) ORDER BY n"
    ).fetchall()
    assert got == [tuple(w) for w in want]

    # FROM/TO/STEP: grid 0,2,4,6,8 (TO exclusive) + off-grid originals
    got = [
        (r.n, r.v)
        for r in run_ch_sql(
            spark,
            "SELECT n, v FROM wfill_t ORDER BY n"
            " WITH FILL FROM 0 TO 9 STEP 2",
        ).collect()
    ]
    want = con.execute(
        "SELECT n, coalesce(v, 0) AS v FROM (SELECT CAST("
        "unnest(generate_series(0, 8, 2)) AS INT) AS n UNION"
        " SELECT n FROM wfill_t) g LEFT JOIN wfill_t t USING (n)"
        " ORDER BY n"
    ).fetchall()
    assert got == [tuple(w) for w in want]

    # timestamp axis, numeric step = seconds (CH DateTime rule)
    spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' AS t, 1 AS v"
        " UNION ALL SELECT timestamp'2024-01-01 00:03:00', 2"
    ).createOrReplaceTempView("wfill_ts")
    got = [
        (str(r.t), r.v)
        for r in run_ch_sql(
            spark,
            "SELECT t, v FROM wfill_ts ORDER BY t WITH FILL STEP 60",
        ).collect()
    ]
    assert got == [
        ("2024-01-01 00:00:00", 1), ("2024-01-01 00:01:00", 0),
        ("2024-01-01 00:02:00", 0), ("2024-01-01 00:03:00", 2),
    ]

    # unbridged forms raise naming the richer operator
    # (INTERPOLATE's LOCF form is bridged since r11c — see
    # test_r11c_with_fill_interpolate_and_tails; the non-LOCF
    # expression form still raises)
    for bad in (
        "SELECT n, v FROM wfill_t ORDER BY n DESC WITH FILL",
        "SELECT n, v FROM wfill_t ORDER BY n WITH FILL"
        " INTERPOLATE (v AS v + 1)",
        "SELECT n, v FROM wfill_t ORDER BY n WITH FILL, v WITH FILL",
        "SELECT n, v FROM wfill_t ORDER BY n WITH FILL STALENESS 3",
        "SELECT * FROM (SELECT n FROM wfill_t ORDER BY n WITH FILL)",
        "SELECT s, v FROM wfill_t ORDER BY s WITH FILL",
    ):
        with pytest.raises(UnsupportedChSql):
            run_ch_sql(spark, bad).collect()
    # translate-only callers still get the loud raise
    with pytest.raises(UnsupportedChSql, match="run_ch_sql"):
        translate_ch_sql("SELECT n FROM wfill_t ORDER BY n WITH FILL")


def test_r11c_with_fill_interpolate_and_tails(spark):
    """VERDICT r10 item 4 + ADVICE r10: ``WITH FILL … INTERPOLATE``
    (LOCF form) bridges to a struct-wrapped last(ignorenulls) window;
    SETTINGS/FORMAT execution tails after the fill spec strip instead
    of corrupting the STEP value; a trailing ``LIMIT n`` applies to
    the FILLED result; the fill column resolves case-insensitively;
    and a FROM/TO/STEP implying an axis beyond the grid cap raises at
    runtime by name instead of materializing the grid."""
    import duckdb

    spark.createDataFrame(
        [(1, 10.0, "a"), (4, 40.0, "d")], "n int, v double, s string"
    ).createOrReplaceTempView("wfill_i")
    con = duckdb.connect()
    con.execute("CREATE TABLE wfill_i AS SELECT * FROM (VALUES"
                " (1, 10.0, 'a'), (4, 40.0, 'd')) t(n, v, s)")

    # INTERPOLATE (v): LOCF carry for v, CH default '' for s; the
    # leading inserted row (n=0, no previous real row) takes the
    # column DEFAULT like the plain fill.  DuckDB spells the same
    # thing as generate_series + last_value IGNORE NULLS carry.
    got = [(r.n, r.v, r.s) for r in run_ch_sql(
        spark,
        "SELECT n, v, s FROM wfill_i ORDER BY n WITH FILL"
        " FROM 0 TO 6 INTERPOLATE (v)",
    ).collect()]
    want = con.execute(
        "SELECT g.n,"
        " coalesce(last_value(t.v IGNORE NULLS) OVER"
        "   (ORDER BY g.n ROWS UNBOUNDED PRECEDING), 0) AS v,"
        " coalesce(t.s, '') AS s"
        " FROM (SELECT CAST(unnest(generate_series(0, 5)) AS INT)"
        " AS n) g LEFT JOIN wfill_i t USING (n) ORDER BY n"
    ).fetchall()
    assert got == [tuple(w) for w in want]
    assert got == [(0, 0.0, ""), (1, 10.0, "a"), (2, 10.0, ""),
                   (3, 10.0, ""), (4, 40.0, "d"), (5, 40.0, "")]

    # bare INTERPOLATE carries EVERY non-sort column
    got = [(r.n, r.v, r.s) for r in run_ch_sql(
        spark,
        "SELECT n, v, s FROM wfill_i ORDER BY n WITH FILL INTERPOLATE",
    ).collect()]
    assert got == [(1, 10.0, "a"), (2, 10.0, "a"), (3, 10.0, "a"),
                   (4, 40.0, "d")]

    # a REAL NULL is carried as NULL (not skipped to an older value)
    spark.createDataFrame(
        [(1, 10.0), (3, None), (6, 60.0)], "n int, v double"
    ).createOrReplaceTempView("wfill_nul")
    got = [(r.n, r.v) for r in run_ch_sql(
        spark,
        "SELECT n, v FROM wfill_nul ORDER BY n WITH FILL INTERPOLATE (v)",
    ).collect()]
    assert got == [(1, 10.0), (2, 10.0), (3, None), (4, None),
                   (5, None), (6, 60.0)]

    # SETTINGS / FORMAT tails strip; LIMIT applies post-fill;
    # case-insensitive fill column (ADVICE r10)
    got = [r.n for r in run_ch_sql(
        spark,
        "SELECT n FROM wfill_i ORDER BY n WITH FILL STEP 1"
        " SETTINGS max_threads = 2",
    ).collect()]
    assert got == [1, 2, 3, 4]
    got = [r.n for r in run_ch_sql(
        spark,
        "SELECT n FROM wfill_i ORDER BY N WITH FILL LIMIT 2 FORMAT"
        " JSONEachRow",
    ).collect()]
    assert got == [1, 2]

    # grid cap guard: loud runtime raise, never a billion-row grid
    with pytest.raises(Exception, match="grid would hold"):
        run_ch_sql(
            spark,
            "SELECT n FROM wfill_i ORDER BY n WITH FILL"
            " FROM 0 TO 2000000000 STEP 1",
        ).collect()
    # non-LOCF INTERPOLATE expressions keep a named raise
    with pytest.raises(UnsupportedChSql, match="LOCF"):
        run_ch_sql(spark, "SELECT n, v FROM wfill_i ORDER BY n"
                          " WITH FILL INTERPOLATE (v AS v * 2)")
    with pytest.raises(UnsupportedChSql, match="integer"):
        run_ch_sql(spark, "SELECT n FROM wfill_i ORDER BY n"
                          " WITH FILL LIMIT 2 OFFSET 1")


def test_review_r11c_fixes_are_pinned(spark):
    """Review r11c findings: qualified `t.* APPLY` keeps the named
    raise (consuming only the `*` glued the qualifier to the first
    expansion); `* EXCEPT` matches case-insensitively like every
    other identifier; WITH FILL LIMIT 0 returns zero rows (falsy-zero
    check); invalid COLUMNS patterns raise by name; duplicate
    INTERPOLATE/LIMIT clauses raise instead of last-one-wins."""
    spark.sql("SELECT 1 AS a, 2 AS b, 'x' AS name"
              ).createOrReplaceTempView("star_r11")
    with pytest.raises(UnsupportedChSql, match="APPLY"):
        run_ch_sql(spark, "SELECT t.* APPLY (max) FROM star_r11 t")
    rows = run_ch_sql(
        spark, "SELECT * EXCEPT (Name, B) APPLY(max) FROM star_r11"
    ).collect()
    assert rows[0].__fields__ == ["max(a)"]
    with pytest.raises(UnsupportedChSql, match="invalid pattern"):
        run_ch_sql(spark, "SELECT COLUMNS('[') FROM star_r11")
    spark.createDataFrame([(1,), (4,)], "n int"
                          ).createOrReplaceTempView("wfill_r11")
    assert run_ch_sql(
        spark, "SELECT n FROM wfill_r11 ORDER BY n WITH FILL LIMIT 0"
    ).count() == 0
    with pytest.raises(UnsupportedChSql, match="twice"):
        run_ch_sql(spark, "SELECT n FROM wfill_r11 ORDER BY n"
                          " WITH FILL LIMIT 2 LIMIT 3")
    with pytest.raises(UnsupportedChSql, match="twice"):
        run_ch_sql(spark, "SELECT n, n AS v FROM wfill_r11 ORDER BY n"
                          " WITH FILL INTERPOLATE (v) INTERPOLATE (v)")


def test_r11f_regression_ties_base64_setops(spark):
    """r11f batch: simpleLinearRegression → regr_slope/intercept
    (dependent-variable argument swap, colN tuple); LIMIT n WITH TIES
    → rank() wrapper (first n rows PLUS every row tied with the n-th,
    CH's documented contract); tryBase64Decode ('' on garbage, NULL
    propagates); bare INTERSECT/EXCEPT raise by name (CH keeps left
    duplicates — a membership filter — where Spark's bare forms
    deduplicate and ALL is bag subtraction); the DISTINCT spellings
    are value-equal and pass."""
    r = run_ch_sql(
        spark,
        "SELECT tupleElement(simpleLinearRegression(number,"
        " number * 2 + 1), 1) AS k, tupleElement("
        "simpleLinearRegression(number, number * 2 + 1), 2) AS b"
        " FROM numbers(10)").collect()[0]
    assert (r.k, r.b) == (2.0, 1.0)

    rows = run_ch_sql(
        spark,
        "SELECT number % 2 AS v, number AS i FROM numbers(5)"
        " ORDER BY v, i LIMIT 2 WITH TIES").collect()
    # ORDER BY v, i: no ties on the full key → plain top-2
    assert [(r.v, r.i) for r in rows] == [(0, 0), (0, 2)]
    rows = run_ch_sql(
        spark,
        "SELECT number % 2 AS v FROM numbers(5)"
        " ORDER BY v LIMIT 2 WITH TIES").collect()
    # [0,0,0,1,1]: the third 0 ties with the 2nd row and survives
    assert [r.v for r in rows] == [0, 0, 0]
    # r13: the NESTED spelling is bridged now (rank wrapper per
    # SELECT block) — count over the ties page [0,0,0] is 3
    r = run_ch_sql(
        spark,
        "SELECT count() AS c FROM (SELECT number % 2 AS v FROM"
        " numbers(5) ORDER BY v LIMIT 2 WITH TIES)").collect()[0]
    assert r.c == 3
    # no same-block ORDER BY still raises (ties are undefined)
    with pytest.raises(UnsupportedChSql, match="TIES"):
        run_ch_sql(spark,
                   "SELECT number AS v FROM numbers(5) LIMIT 2 WITH TIES")

    r = run_ch_sql(
        spark,
        "SELECT tryBase64Decode('YWJj') AS a, tryBase64Decode('###')"
        " AS b, tryBase64Decode(NULL) AS c").collect()[0]
    assert (r.a, r.b, r.c) == ("abc", "", None)

    assert run_ch_sql(
        spark, "SELECT number FROM numbers(6) INTERSECT DISTINCT"
               " SELECT number FROM numbers(4)").count() == 4
    assert run_ch_sql(
        spark, "SELECT number FROM numbers(6) EXCEPT DISTINCT"
               " SELECT number FROM numbers(4)").count() == 2
    for op in ("INTERSECT", "EXCEPT"):
        with pytest.raises(UnsupportedChSql, match="duplicates"):
            run_ch_sql(spark, f"SELECT number FROM numbers(6) {op}"
                              " SELECT number FROM numbers(4)")
    # the star modifier spelling of EXCEPT is untouched by the guard
    assert run_ch_sql(
        spark, "SELECT count() AS c FROM (SELECT * EXCEPT (board)"
               " APPLY(count) FROM trades)").count() == 1


def test_review_r11f_fixes_are_pinned(spark):
    """Review r11f findings: INTERSECT/EXCEPT **ALL** raise too (CH's
    ALL is its membership-filter default, not Spark's bag form); a
    CTE literally named `ties` doesn't trip the WITH TIES raise;
    decimal literals in sort-key expressions don't false-trip the
    qualified-keys guard; positional sort keys raise by name (a bare
    integer is a CONSTANT inside the rank window — every row would
    tie); simpleLinearRegression answers (nan, nan) like CH on
    degenerate groups instead of regr_*'s NULLs."""
    for op in ("INTERSECT ALL", "EXCEPT ALL"):
        with pytest.raises(UnsupportedChSql, match="duplicates"):
            run_ch_sql(spark, f"SELECT number FROM numbers(6) {op}"
                              " SELECT number FROM numbers(4)")
    assert run_ch_sql(
        spark, "WITH ties AS (SELECT 1 AS x) SELECT x FROM ties"
    ).collect()[0].x == 1
    rows = run_ch_sql(
        spark,
        "SELECT number AS v FROM numbers(5)"
        " ORDER BY round(v * 0.5) * 2, v LIMIT 2 WITH TIES").collect()
    assert [r.v for r in rows] == [0, 1]
    with pytest.raises(UnsupportedChSql, match="POSITIONAL"):
        run_ch_sql(spark, "SELECT number AS v FROM numbers(5)"
                          " ORDER BY 1 LIMIT 2 WITH TIES")
    r = run_ch_sql(
        spark,
        "SELECT isNaN(tupleElement(simpleLinearRegression(number,"
        " number), 1)) AS d FROM numbers(1)").collect()[0]
    assert bool(r.d) is True


def test_r11l_array_join_at_any_nesting_depth(spark):
    """Probe r11l found the ARRAY JOIN bridge only fired at the TOP
    level: inside a subquery the clause survived to Spark's parser,
    which reads `ARRAY JOIN arr AS x` as a plain join against a
    relation named `arr` — LOUD when no such table exists, SILENT
    when one does.  The bridge now applies per SELECT block at any
    depth; the decoy table here proves the silent path is gone."""
    rows = run_ch_sql(
        spark,
        "SELECT sum(u) AS s FROM (SELECT u FROM (SELECT"
        " arrayEnumerateUniq([7, 7, 8]) AS a FROM numbers(1))"
        " ARRAY JOIN a AS u)").collect()
    assert rows[0].s == 4  # [1, 2, 1]
    # decoy: a registered table named like the array column — before
    # the fix Spark would silently JOIN it
    spark.createDataFrame([(99,)], "z int"
                          ).createOrReplaceTempView("decoy_arr")
    try:
        rows = run_ch_sql(
            spark,
            "SELECT count() AS c FROM (SELECT x FROM (SELECT"
            " array(1, 2, 3) AS decoy_arr FROM numbers(1))"
            " ARRAY JOIN decoy_arr AS x)").collect()
        assert rows[0].c == 3  # exploded elements, NOT a decoy join
    finally:
        spark.catalog.dropTempView("decoy_arr")


def test_advice_r12_position_ansi_alias_and_ties_rewritten_keys(spark):
    """ADVICE r11 #3/#4: CH's ANSI alias ``position(needle IN
    haystack)`` (one arg, no top-level comma) must keep working
    through the case-insensitive interception — it maps to the same
    byte-based position as position(haystack, needle); and a LIMIT …
    WITH TIES sort key whose REWRITE emits bound-struct field access
    (greatest → __abN.field) must not trip the table-qualified-key
    guard."""
    r = run_ch_sql(
        spark,
        "SELECT position('c' IN 'abcd') AS p1,"
        " POSITION('x' IN 'abcd') AS p0,"
        " position('в' IN 'привет') AS pb,"
        " position(upper('c') IN upper('abcd')) AS pe"
        " FROM numbers(1)").collect()[0]
    # byte offsets, like CH's position: 'в' is the 4th char but byte 7
    assert (r.p1, r.p0, r.pb, r.pe) == (3, 0, 7, 3)
    # two-arg form still haystack-first
    r = run_ch_sql(spark, "SELECT position('abcd', 'c') AS p"
                          " FROM numbers(1)").collect()[0]
    assert r.p == 3
    rows = run_ch_sql(
        spark,
        "SELECT number AS a, number % 3 AS b FROM numbers(6)"
        " ORDER BY greatest(b, 0), a LIMIT 2 WITH TIES").collect()
    assert [(r.a, r.b) for r in rows] == [(0, 0), (3, 0)]


def test_r12_interval_length_sum_plans_stateless_window(spark):
    """VERDICT r11 item 3: intervalLengthSum plans the STATELESS
    window spelling by default — the source is wrapped to compute a
    per-row merge contribution (running max(end) cover within the
    GROUP BY keys) and the call becomes sum() over it, so no task
    ever collects O(intervals-per-group) structs.  Value-pinned
    against the fold across grouped/ungrouped/sibling-aggregate/
    qualified shapes incl. NULL intervals; declined shapes (joined
    FROM) keep the fold and warn by name."""
    import random
    import warnings

    from transaq_clickhouse_exporter_spark.queries import ch_compat
    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        IlsFoldWarning)

    rng = random.Random(42)
    rows = [(k, rng.randint(0, 100), rng.randint(0, 100))
            for k in range(6) for _ in range(50)]
    rows += [(0, None, 5), (1, 7, None), (7, None, None)]
    spark.createDataFrame(rows, "k int, s int, e int"
                          ).createOrReplaceTempView("ils_t")
    spark.createDataFrame(rows, "k int, s int, e int"
                          ).createOrReplaceGlobalTempView("ils_g")

    orig = ch_compat._preaggregate_ils

    def both(sql):
        got = [tuple(r) for r in run_ch_sql(spark, sql).collect()]
        ch_compat._preaggregate_ils = lambda s: s
        try:
            fold = [tuple(r) for r in run_ch_sql(spark, sql).collect()]
        finally:
            ch_compat._preaggregate_ils = orig
        return got, fold

    for sql in (
        "SELECT k, intervalLengthSum(s, e) AS c FROM ils_t"
        " GROUP BY k ORDER BY k",
        "SELECT intervalLengthSum(s, e) AS c FROM ils_t",
        "SELECT k % 2 AS kk, count(*) AS n,"
        " intervalLengthSum(s, e + 1) AS c, sum(e) AS se FROM ils_t"
        " WHERE k < 5 GROUP BY kk"
        " HAVING intervalLengthSum(s, e + 1) > 0 ORDER BY kk",
        "SELECT max(c) AS m FROM (SELECT k, intervalLengthSum(s, e)"
        " AS c FROM ils_t GROUP BY k)",
        "SELECT t.k AS k, intervalLengthSum(t.s, t.e) AS c"
        " FROM ils_t AS t GROUP BY t.k ORDER BY k",
        # review r12a: the CH alias-in-WHERE idiom must survive the
        # wrap (the statement-level inliner runs after the rewrite
        # and can no longer see this block's SELECT list)
        "SELECT k % 2 AS kk, intervalLengthSum(s, e) AS c FROM ils_t"
        " WHERE kk = 1 GROUP BY kk",
        # review r12a: a bare schema-qualified table keeps its last
        # name component as the wrap alias, so qualified refs resolve
        "SELECT ils_g.k AS k, intervalLengthSum(ils_g.s, ils_g.e)"
        " AS c FROM global_temp.ils_g GROUP BY ils_g.k ORDER BY k",
    ):
        got, fold = both(sql)
        assert got == fold, sql

    df = run_ch_sql(spark, "SELECT k, intervalLengthSum(s, e) AS c"
                           " FROM ils_t GROUP BY k")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "Window" in plan

    spark.createDataFrame([(0,), (1,)], "k int"
                          ).createOrReplaceTempView("ils_k")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = run_ch_sql(
            spark,
            "SELECT t.k AS k, intervalLengthSum(t.s, t.e) AS c"
            " FROM ils_t AS t INNER JOIN ils_k AS j ON t.k = j.k"
            " GROUP BY t.k ORDER BY k").collect()
    assert any(issubclass(x.category, IlsFoldWarning) for x in w)
    assert len(out) == 2


def test_r12b_quantified_subquery_comparisons_vs_duckdb(spark):
    """VERDICT r11 item 6: ANSI quantified comparisons (`x > ANY
    (SELECT …)`, `<= ALL`, `= ANY`, `!= ALL`, …) — CH parses them,
    Spark 4 does not.  Bridged to a NULL-exact CASE over min/max/
    membership scalar subqueries; pinned against DuckDB's native
    quantifiers across every op x quantifier x {plain, empty,
    NULL-bearing, all-NULL} set x NULL left operand.  Spark's own
    IN/NOT IN were NOT reused: their projection-context ListQuery
    answers FALSE where ANSI answers NULL.  Compound left operands
    raise by name (parenthesizing fixes them); the any() AGGREGATE
    (no comparison op / non-subquery arg) is untouched."""
    import itertools

    import duckdb

    con = duckdb.connect()
    sets = {
        "plain": "SELECT x FROM (VALUES (3), (5), (8)) AS t(x)",
        "empty": "SELECT x FROM (VALUES (1)) AS t(x) WHERE x > 99",
        "withnull": "SELECT x FROM (VALUES (3), (NULL), (8)) AS t(x)",
        "allnull": "SELECT x FROM (VALUES (CAST(NULL AS INT))) AS t(x)",
    }
    for (sname, sset), lhs, op, q in itertools.product(
            sets.items(), ["1", "5", "9", "8", "CAST(NULL AS INT)"],
            [">", ">=", "<", "<=", "=", "!=", "<>"], ["ANY", "ALL"]):
        sql = f"SELECT {lhs} {op} {q} ({sset}) AS r"
        want = con.execute(sql).fetchone()[0]
        got = run_ch_sql(spark, sql).collect()[0].r
        assert got == want, (sql, got, want)
    # compound left operand: loud named raise, never a misparse
    with pytest.raises(UnsupportedChSql, match="left"):
        run_ch_sql(spark, "SELECT 1 + 2 > ANY (SELECT 1) AS r")
    # nondeterministic left operand raises (the rewrite splices it
    # into several CASE branches — review r12b: rand64/rand32 bypassed
    # the first guard)
    for nd in ("rand()", "rand64()"):
        with pytest.raises(UnsupportedChSql, match="nondeterministic"):
            run_ch_sql(spark, f"SELECT {nd} > ANY (SELECT 1) AS r")
    assert run_ch_sql(
        spark, "SELECT (1 + 2) > ANY (SELECT 1) AS r").collect()[0].r
    # function-call and paren left operands work
    assert run_ch_sql(
        spark, "SELECT abs(-5) >= ALL (SELECT number FROM"
               " numbers(5)) AS r").collect()[0].r
    # the CH any() aggregate keeps working, incl. the scalar-subquery
    # argument shape ANY((SELECT …)) — extra parens = aggregate
    assert run_ch_sql(
        spark, "SELECT max(number) = any(number) AS r"
               " FROM numbers(1)").collect()[0].r


def test_r12c_bridges_reach_subqueries_under_case_parens(spark):
    """Review r12b follow-up: _recurse_select_blocks refused to
    descend into paren groups not starting with SELECT/WITH/( — so a
    subquery nested under a CASE arm (or any function-argument paren)
    was invisible to EVERY per-block bridge (LIMIT BY, SETTINGS,
    PREWHERE, ARRAY JOIN).  The walker now traverses all paren groups
    and applies block rewrites only at select-block levels."""
    # SETTINGS tail inside a CASE-paren scalar subquery
    r = run_ch_sql(
        spark,
        "SELECT CASE WHEN (SELECT count() FROM (SELECT number FROM"
        " numbers(3) SETTINGS max_threads = 1)) > 2 THEN 7 ELSE 0 END"
        " AS x").collect()[0]
    assert r.x == 7
    # PREWHERE inside a CASE-paren subquery two levels down
    r = run_ch_sql(
        spark,
        "SELECT sum(u) AS s FROM (SELECT CASE WHEN 1 = 1 THEN (SELECT"
        " sum(x) FROM (SELECT number AS x FROM numbers(4) PREWHERE"
        " number > 1)) ELSE 0 END AS u FROM numbers(2))").collect()[0]
    assert r.s == 10
    # LIMIT BY inside a quantified-comparison splice (the shape that
    # exposed the gap: the rewrite wraps the subquery in CASE arms)
    r = run_ch_sql(
        spark,
        "SELECT count() AS c FROM numbers(10) WHERE number = ANY"
        " (SELECT v FROM (SELECT g, v FROM (SELECT number % 2 AS g,"
        " number AS v FROM numbers(6)) ORDER BY g, v LIMIT 1 BY g))"
        ).collect()[0]
    assert r.c == 2
    # ARRAY JOIN under a CASE-paren subquery (the SILENT decoy class)
    r = run_ch_sql(
        spark,
        "SELECT CASE WHEN (SELECT sum(u) FROM (SELECT [1, 2, 3] AS a"
        " FROM numbers(1)) ARRAY JOIN a AS u) = 6 THEN 1 ELSE 0 END"
        " AS ok").collect()[0]
    assert r.ok == 1


def test_r12_ils_window_equals_fold_randomized(spark):
    """Property pin for the r12 default flip: on randomized interval
    data (overlaps, containment, duplicates, negative-length
    intervals, NULL endpoints, hot and singleton groups) the
    stateless window plan and the sorted fold answer bit-equal
    per-group totals."""
    import random

    from transaq_clickhouse_exporter_spark.queries import ch_compat

    rng = random.Random(0x115)
    rows = []
    for k in range(8):
        for _ in range(rng.randint(1, 60)):
            s = rng.randint(-20, 100)
            e = s + rng.randint(-5, 40)  # some negative-length
            if rng.random() < 0.07:
                s = None
            if rng.random() < 0.07:
                e = None
            rows.append((k, s, e))
    rows.append((9, None, None))  # all-NULL group
    spark.createDataFrame(rows, "k int, s int, e int"
                          ).createOrReplaceTempView("ils_rand")
    sql = ("SELECT k, intervalLengthSum(s, e) AS c FROM ils_rand"
           " GROUP BY k ORDER BY k")
    got = [tuple(r) for r in run_ch_sql(spark, sql).collect()]
    orig = ch_compat._preaggregate_ils
    ch_compat._preaggregate_ils = lambda q: q
    try:
        fold = [tuple(r) for r in run_ch_sql(spark, sql).collect()]
    finally:
        ch_compat._preaggregate_ils = orig
    assert got == fold


def test_r12g_null_ordering_follows_ch(spark):
    """r12g: CH sorts NULLs LAST by default in BOTH directions
    (`ORDER BY ... [ASC|DESC]` without a NULLS modifier), Spark's ASC
    default is NULLS FIRST — a silent-value difference for every
    ORDER-BY-driven pick over a NULL-bearing key.  The normalization
    pass appends NULLS LAST to every unmodified sort key (statement
    level AND inside OVER clauses); explicit NULLS FIRST/LAST pass
    through; a bare ordinal stays positional for the LIMIT BY / WITH
    TIES guards (the first draft's appended modifier bypassed them —
    every row would tie on the constant)."""
    spark.sql("SELECT * FROM VALUES (0, 5), (0, NULL), (1, NULL),"
              " (1, 7) AS t(g, v)").createOrReplaceTempView("no_t")
    rows = run_ch_sql(spark, "SELECT v FROM no_t ORDER BY v").collect()
    assert [r.v for r in rows] == [5, 7, None, None]
    rows = run_ch_sql(spark,
                      "SELECT v FROM no_t ORDER BY v DESC").collect()
    assert [r.v for r in rows] == [7, 5, None, None]
    rows = run_ch_sql(spark, "SELECT v FROM no_t ORDER BY v"
                             " NULLS FIRST").collect()
    assert [r.v for r in rows] == [None, None, 5, 7]
    # ORDER-BY-driven picks choose the non-NULL values like CH
    rows = run_ch_sql(spark, "SELECT g, v FROM no_t ORDER BY g, v"
                             " LIMIT 1 BY g").collect()
    assert sorted([(r.g, r.v) for r in rows]) == [(0, 5), (1, 7)]
    rows = run_ch_sql(spark, "SELECT DISTINCT ON (g) g, v FROM no_t"
                             " ORDER BY g, v").collect()
    assert sorted([(r.g, r.v) for r in rows]) == [(0, 5), (1, 7)]
    rows = run_ch_sql(spark, "SELECT v FROM no_t ORDER BY v"
                             " LIMIT 2 WITH TIES").collect()
    assert [r.v for r in rows] == [5, 7]
    # OVER-clause ORDER BY gets the modifier too
    r = run_ch_sql(
        spark,
        "SELECT max(lv) AS m FROM (SELECT last_value(v) OVER ("
        "PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND UNBOUNDED FOLLOWING) AS lv FROM no_t)").collect()[0]
    assert r.m is None  # NULL is the LAST value under CH ordering
    # positional guards survive the appended modifier
    with pytest.raises(UnsupportedChSql, match="POSITIONAL"):
        run_ch_sql(spark, "SELECT v FROM no_t ORDER BY 1"
                          " LIMIT 2 WITH TIES")
    with pytest.raises(UnsupportedChSql, match="POSITIONAL"):
        run_ch_sql(spark, "SELECT g, v FROM no_t ORDER BY 1, 2"
                          " LIMIT 1 BY g")
    # review r12g: backtick-quoted sort keys whose NAME contains a
    # terminator keyword stay whole; a bare COLUMN named like a frame
    # keyword is a sort key (frame starters need their grammar)
    out = translate_ch_sql(
        'SELECT "limit price" AS p FROM t ORDER BY "limit price"')
    assert out.endswith("ORDER BY `limit price` NULLS LAST")
    out = translate_ch_sql("SELECT 1 FROM t ORDER BY rows")
    assert out.endswith("ORDER BY rows NULLS LAST")
    spark.sql("SELECT * FROM VALUES (1, 5), (2, NULL) AS t(rows, v)"
              ).createOrReplaceTempView("no_kw")
    r = run_ch_sql(spark, "SELECT v FROM no_kw ORDER BY rows DESC"
                          " LIMIT 1").collect()[0]
    assert r.v is None  # rows=2 sorts first under DESC
    # the WITH FILL DataFrame path honors the same contract: a NULL
    # axis row presents LAST, not first
    spark.sql("SELECT * FROM VALUES (1, 10), (3, 30),"
              " (CAST(NULL AS INT), 99) AS t(m, val)"
              ).createOrReplaceTempView("no_fill")
    rows = run_ch_sql(spark, "SELECT m, val FROM no_fill"
                             " ORDER BY m WITH FILL").collect()
    assert [r.m for r in rows] == [1, 2, 3, None]


def test_r12h_asof_join_cte_sides(spark):
    """r12h: ASOF JOIN sides named by a LEADING statement-level WITH
    clause resolve through the dialect recursively (CH scoping — the
    CTE shadows a catalog table of the same name); previously they
    died with Spark's raw TABLE_OR_VIEW_NOT_FOUND.  When the right-ts
    name is unique to the right side, the bridge keeps CH's OWN
    column name on the matched-timestamp output, so a BARE reference
    (`SELECT rv`) resolves like CH's matched-right-row rule; chained
    CTEs (the right side built FROM the left) and scalar WITH entries
    ride the recursive prefix; the rewrites skip the WITH region so
    entry bodies keep their own scope."""
    rows = run_ch_sql(spark, """
        WITH lhs AS (SELECT 1 AS g, 5 AS v UNION ALL
                     SELECT 1 AS g, 2 AS v),
             rhs AS (SELECT 1 AS g, 3 AS rv UNION ALL
                     SELECT 1 AS g, 4 AS rv)
        SELECT g, v, rv FROM lhs
        ASOF JOIN rhs ON lhs.g = rhs.g AND lhs.v >= rhs.rv
        ORDER BY v""").collect()
    assert [(r.g, r.v, r.rv) for r in rows] == [(1, 5, 4)]
    assert rows[0].__fields__ == ["g", "v", "rv"]  # CH's own name

    # LEFT keeps unmatched rows; a QUALIFIED right-ts reference
    # resolves to the matched value under an alias
    rows = run_ch_sql(spark, """
        WITH lhs AS (SELECT 1 AS g, 5 AS v UNION ALL
                     SELECT 1 AS g, 2 AS v UNION ALL
                     SELECT 1 AS g, 1 AS v),
             rhs AS (SELECT 1 AS g, 3 AS rv UNION ALL
                     SELECT 1 AS g, 4 AS rv)
        SELECT g, v, rhs.rv AS mrv FROM lhs
        ASOF LEFT JOIN rhs ON lhs.g = rhs.g AND lhs.v >= rhs.rv
        ORDER BY v""").collect()
    assert [(r.v, r.mrv) for r in rows] == [(1, None), (2, None), (5, 4)]

    # chained CTEs + a scalar WITH entry feeding both bodies
    rows = run_ch_sql(spark, """
        WITH 10 AS base,
             lhs AS (SELECT 1 AS g, base + 5 AS v),
             rhs AS (SELECT g, v - 2 AS rv FROM lhs)
        SELECT g, v, rv FROM lhs
        ASOF JOIN rhs ON lhs.g = rhs.g AND lhs.v >= rhs.rv""").collect()
    assert [(r.g, r.v, r.rv) for r in rows] == [(1, 15, 13)]


def test_r12h_asof_cte_oracle_duckdb(spark):
    """Randomized CTE-sided ASOF LEFT JOIN vs DuckDB's native ASOF
    JOIN on identical inline relations (both engines parse the same
    text modulo the mirror)."""
    import random

    import duckdb

    rng = random.Random(1207)
    for trial in range(4):
        lrows = sorted(
            {(rng.randint(0, 2), rng.randint(0, 30))
             for _ in range(rng.randint(3, 10))})
        rrows = sorted(
            {(rng.randint(0, 2), rng.randint(0, 30))
             for _ in range(rng.randint(2, 8))})
        lsql = " UNION ALL ".join(
            f"SELECT {g} AS g, {v} AS v" for g, v in lrows)
        rsql = " UNION ALL ".join(
            f"SELECT {g} AS g, {v} AS rv" for g, v in rrows)
        q = (f"WITH lhs AS ({lsql}), rhs AS ({rsql}) "
             f"SELECT lhs.g AS g, v, rv FROM lhs ASOF LEFT JOIN rhs "
             f"ON lhs.g = rhs.g AND lhs.v >= rhs.rv")
        got = sorted(tuple(r) for r in run_ch_sql(spark, q).collect())
        want = sorted(
            tuple(r) for r in duckdb.connect().execute(q).fetchall())
        assert got == want, f"trial {trial}: {got} != {want}\n{q}"


def test_r12h_asof_inside_cte_body(spark):
    """Fuzz seed 61803's find, pinned: an ASOF JOIN whose OWN local
    WITH clause sits inside an OUTER CTE's body.  The outer clause
    ENCLOSES the ASOF select, so its end must not bound the rewrite
    region (taking it shielded the side-qualifier strip and left
    `al.g` dangling); only clauses ending BEFORE the ASOF FROM
    protect their entry bodies."""
    rows = run_ch_sql(spark, """
        SELECT CAST(sum(v) AS BIGINT) AS s FROM (
          WITH c1 AS (
            SELECT g, v FROM (
              WITH al AS (SELECT number % 3 AS g, number AS v
                          FROM numbers(9)),
                   ar AS (SELECT number % 2 AS g, number + 1 AS rv
                          FROM numbers(7))
              SELECT al.g AS g, v + coalesce(rv, 0) AS v
              FROM al ASOF LEFT JOIN ar
              ON al.g = ar.g AND al.v >= ar.rv))
          SELECT g, v FROM c1)""").collect()
    import duckdb

    want = duckdb.connect().execute("""
        SELECT CAST(sum(v) AS BIGINT) AS s FROM (
          WITH c1 AS (
            SELECT g, v FROM (
              WITH al AS (SELECT number % 3 AS g, number AS v
                          FROM (SELECT range AS number FROM range(9))),
                   ar AS (SELECT number % 2 AS g, number + 1 AS rv
                          FROM (SELECT range AS number FROM range(7)))
              SELECT al.g AS g, v + coalesce(rv, 0) AS v
              FROM al ASOF LEFT JOIN ar
              ON al.g = ar.g AND al.v >= ar.rv))
          SELECT g, v FROM c1)""").fetchone()
    assert rows[0].s == want[0]


def test_r12i_asof_subquery_sides_inner_using(spark):
    """r12i: ASOF JOIN widens to CH's other documented spellings —
    parenthesized SUBQUERY sides (aliased), the explicit `ASOF INNER
    JOIN`, and `USING (k…, ts)` where the LAST column is the fixed
    `>=` inequality.  Subquery sides without aliases raise by name
    when ON needs qualifiers."""
    import duckdb

    import pytest as _pytest

    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        UnsupportedChSql)

    rows = run_ch_sql(spark, """
        SELECT a.g AS g, a.v AS v, b.rv AS rv
        FROM (SELECT 1 AS g, 5 AS v) AS a
        ASOF INNER JOIN (SELECT 1 AS g, 3 AS rv UNION ALL
                         SELECT 1 AS g, 4 AS rv) AS b
        ON a.g = b.g AND a.v >= b.rv""").collect()
    assert [(r.g, r.v, r.rv) for r in rows] == [(1, 5, 4)]

    # USING: shared names, backward >=, LEFT keeps unmatched; the
    # bare (unqualified) ts is the LEFT side's value like CH/DuckDB
    q = """WITH lhs AS (SELECT 1 AS g, 5 AS ts UNION ALL
                        SELECT 1 AS g, 2 AS ts),
               rhs AS (SELECT 1 AS g, 3 AS ts UNION ALL
                       SELECT 1 AS g, 4 AS ts)
          SELECT g, ts FROM lhs ASOF LEFT JOIN rhs USING (g, ts)
          ORDER BY ts"""
    got = [(r.g, r.ts) for r in run_ch_sql(spark, q).collect()]
    want = duckdb.connect().execute(q).fetchall()
    assert got == [tuple(r) for r in want] == [(1, 2), (1, 5)]

    # bare USING list (no parens) parses too
    rows = run_ch_sql(spark, """
        WITH lhs AS (SELECT 1 AS g, 5 AS ts),
             rhs AS (SELECT 1 AS g, 4 AS ts)
        SELECT count() AS n FROM lhs ASOF JOIN rhs USING g, ts
        """).collect()
    assert rows[0].n == 1

    # subquery sides + ON need aliases to qualify columns
    with _pytest.raises(UnsupportedChSql, match="needs aliases"):
        run_ch_sql(spark, """
            SELECT 1 FROM (SELECT 1 AS g, 5 AS v)
            ASOF JOIN (SELECT 1 AS g, 3 AS rv)
            ON g = g AND v >= rv""")

    # USING rejects expression members by name
    with _pytest.raises(UnsupportedChSql, match="plain columns"):
        run_ch_sql(spark, """
            WITH lhs AS (SELECT 1 AS g, 5 AS ts),
                 rhs AS (SELECT 1 AS g, 4 AS ts)
            SELECT 1 FROM lhs ASOF JOIN rhs USING (g + 1, ts)""")


def test_r12i_asof_subquery_sides_oracle_duckdb(spark):
    """Randomized subquery-sided ASOF JOIN (inner + USING) vs DuckDB's
    native ASOF on the same text."""
    import random

    import duckdb

    rng = random.Random(1208)
    for trial in range(4):
        lrows = sorted({(rng.randint(0, 2), rng.randint(0, 30))
                        for _ in range(rng.randint(3, 10))})
        rrows = sorted({(rng.randint(0, 2), rng.randint(0, 30))
                        for _ in range(rng.randint(2, 8))})
        lsql = " UNION ALL ".join(
            f"SELECT {g} AS g, {v} AS v" for g, v in lrows)
        rsql = " UNION ALL ".join(
            f"SELECT {g} AS g, {v} AS rv" for g, v in rrows)
        q = (f"SELECT a.g AS g, a.v AS v, rv FROM ({lsql}) AS a "
             f"ASOF JOIN ({rsql}) AS b "
             f"ON a.g = b.g AND a.v >= b.rv")
        got = sorted(tuple(r) for r in run_ch_sql(spark, q).collect())
        want = sorted(
            tuple(r) for r in duckdb.connect().execute(q).fetchall())
        assert got == want, f"trial {trial}: {got} != {want}\n{q}"


def test_r12j_asof_consumed_cte_entries_excised(spark):
    """Fuzz seed 880001/72: leftover CTE entries whose only reference
    the ASOF view replaced must be excised — composed with the view
    reference and a sibling branch's own WITH they trip a Spark
    CTE-inlining bug (InlineCTE "key not found" in one session state,
    a silently wrong row count in another).  The excision runs after
    the qualifier strip; an entry referenced elsewhere stays."""
    import duckdb

    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        _bridge_asof_join)

    q = ("SELECT CAST(sum(v * g) AS BIGINT) AS s, count() AS c FROM"
         " (SELECT g, v FROM (WITH al1 AS (SELECT g, coalesce(v, 0)"
         " AS v FROM (SELECT number % 3 AS g, number AS v FROM"
         " numbers(6))), ar2 AS (SELECT g, coalesce(v, 0) + 1 AS rv"
         " FROM (SELECT number % 3 AS g, number AS v FROM numbers(9)))"
         " SELECT al1.g AS g, v + coalesce(rv, 0) AS v FROM al1"
         " ASOF LEFT JOIN ar2 ON al1.g = ar2.g AND al1.v >= ar2.rv)"
         " INTERSECT DISTINCT SELECT g, v FROM (WITH c3 AS (SELECT"
         " g, v FROM (SELECT number % 4 AS g, CASE WHEN number % 7 = 6"
         " THEN NULL ELSE number END AS v FROM numbers(5)))"
         " SELECT g, v FROM c3))")
    new_sql, view = _bridge_asof_join(spark, q, None)
    try:
        assert "al1 AS (" not in new_sql and "ar2 AS (" not in new_sql
        assert "c3 AS (" in new_sql  # sibling clause untouched
    finally:
        spark.catalog.dropTempView(view)
    got = [tuple(r) for r in run_ch_sql(spark, q).collect()]
    want = duckdb.connect().execute(
        q.replace("numbers(6)", "(SELECT range AS number FROM range(6))")
         .replace("numbers(9)", "(SELECT range AS number FROM range(9))")
         .replace("numbers(5)", "(SELECT range AS number FROM range(5))")
         .replace("count()", "count(*)")).fetchall()
    assert got == [tuple(r) for r in want] == [(5, 4)]

    # an entry with a SURVIVING reference keeps its definition
    q2 = ("WITH lhs AS (SELECT 1 AS g, 5 AS v),"
          " rhs AS (SELECT 1 AS g, 4 AS rv)"
          " SELECT g, v, rv, (SELECT count(*) FROM lhs) AS n_lhs"
          " FROM lhs ASOF JOIN rhs ON lhs.g = rhs.g AND lhs.v >= rhs.rv")
    rows = run_ch_sql(spark, q2).collect()
    assert [(r.g, r.v, r.rv, r.n_lhs) for r in rows] == [(1, 5, 4, 1)]


def test_r12k_parallel_asof_joins(spark):
    """r12k: several ASOF JOINs in PARALLEL branches bridge in one
    statement (the bridge loops, one per pass); an ASOF inside a
    subquery SIDE of another ASOF resolves through the recursion;
    CHAINED ASOF (second join's left side is the first's result)
    stays a loud named raise."""
    import duckdb

    q1 = """SELECT CAST(sum(rv) AS BIGINT) AS s FROM (
      SELECT rv FROM (SELECT 1 AS g, 5 AS v) AS a ASOF JOIN
        (SELECT 1 AS g, 3 AS rv) AS b ON a.g = b.g AND a.v >= b.rv
      UNION ALL
      SELECT rv FROM (SELECT 2 AS g, 9 AS v) AS c ASOF JOIN
        (SELECT 2 AS g, 7 AS rv) AS d ON c.g = d.g AND c.v >= d.rv)"""
    assert run_ch_sql(spark, q1).collect()[0].s == 10
    assert duckdb.connect().execute(q1).fetchone()[0] == 10

    q2 = """SELECT x.g AS g, x.v AS v, y.rv2 AS rv2 FROM
      (SELECT a.g AS g, a.v AS v FROM (SELECT 1 AS g, 8 AS v) AS a
       ASOF JOIN (SELECT 1 AS g, 2 AS rv) AS b
       ON a.g = b.g AND a.v >= b.rv) AS x
      ASOF JOIN (SELECT 1 AS g, 6 AS rv2) AS y
      ON x.g = y.g AND x.v >= y.rv2"""
    got = [tuple(r) for r in run_ch_sql(spark, q2).collect()]
    want = duckdb.connect().execute(q2).fetchall()
    assert got == [tuple(r) for r in want] == [(1, 8, 6)]

    # r13: CHAINED ASOF joined the subset (left-associative, pass
    # N+1 bridges against pass N's view) — the old ON-term raise is
    # gone; values pinned vs DuckDB's native chained ASOF
    q3 = ("SELECT a.v AS v, b.rv AS rv, e.r2 AS r2"
          " FROM (SELECT 1 AS g, 5 AS v) AS a ASOF JOIN"
          " (SELECT 1 AS g, 3 AS rv) AS b ON a.g = b.g AND"
          " a.v >= b.rv ASOF JOIN (SELECT 1 AS g, 2 AS r2) AS e"
          " ON a.g = e.g AND a.v >= e.r2")
    got = [tuple(r) for r in run_ch_sql(spark, q3).collect()]
    want = duckdb.connect().execute(q3).fetchall()
    assert got == [tuple(r) for r in want] == [(5, 3, 2)]


def test_r12l_pagination_and_qualify(spark):
    """r12l: CH's other pagination spellings and QUALIFY bridge —
    ``LIMIT offset, n`` (MySQL form), ANSI ``OFFSET a ROWS FETCH
    FIRST b ROWS ONLY|WITH TIES``, bare ``OFFSET a ROWS``, and the
    post-window ``QUALIFY pred`` filter (projected alongside the
    select list, filtered in a wrapper, tail relocated).  The ORDER BY
    NULLS-LAST pass learned OFFSET/FETCH as key-list terminators — a
    COLUMN literally named `offset` stays a sort key (grammar
    lookahead on the following count)."""
    import duckdb

    con = duckdb.connect()

    q = ("SELECT number AS v FROM numbers(10) ORDER BY v LIMIT 2, 3")
    got = [r.v for r in run_ch_sql(spark, q).collect()]
    assert got == [2, 3, 4]
    dq = ("SELECT range AS v FROM range(10) ORDER BY v LIMIT 3 OFFSET 2")
    assert got == [r[0] for r in con.execute(dq).fetchall()]

    q = ("SELECT number AS v FROM numbers(10) ORDER BY v"
         " OFFSET 2 ROWS FETCH FIRST 3 ROWS ONLY")
    assert [r.v for r in run_ch_sql(spark, q).collect()] == [2, 3, 4]

    q = ("SELECT v FROM (SELECT number % 3 AS v FROM numbers(9))"
         " ORDER BY v FETCH FIRST 4 ROWS WITH TIES")
    assert [r.v for r in run_ch_sql(spark, q).collect()] == [0] * 3 + [1] * 3

    q = "SELECT number AS v FROM numbers(5) ORDER BY v OFFSET 3 ROWS"
    assert [r.v for r in run_ch_sql(spark, q).collect()] == [3, 4]

    with pytest.raises(UnsupportedChSql, match="no offset seam"):
        run_ch_sql(spark, "SELECT number AS v FROM numbers(9) ORDER BY"
                          " v OFFSET 1 ROWS FETCH FIRST 4 ROWS WITH TIES")
    # the comma in `LIMIT offset, n BY expr` belongs to LIMIT BY's own
    # grammar (already bridged) — the pagination pass must not eat it
    rows = run_ch_sql(spark, "SELECT number % 2 AS g, number AS v FROM"
                             " numbers(6) ORDER BY g, v LIMIT 1, 1 BY g"
                      ).collect()
    assert sorted((r.g, r.v) for r in rows) == [(0, 2), (1, 3)]

    # a column named `offset` keeps sorting (lookahead needs a count)
    q = ("SELECT v AS offset FROM (SELECT number AS v FROM numbers(3))"
         " ORDER BY offset DESC LIMIT 1")
    assert run_ch_sql(spark, q).collect()[0][0] == 2

    # QUALIFY: plain, grouped-with-aggregate-window, nested, vs
    # DuckDB's native QUALIFY on the mirrored text
    q = ("SELECT g, v FROM (SELECT number % 2 AS g, number AS v FROM"
         " numbers(6)) QUALIFY row_number() OVER (PARTITION BY g"
         " ORDER BY v) = 1 ORDER BY g")
    got = [tuple(r) for r in run_ch_sql(spark, q).collect()]
    dq = q.replace("numbers(6)", "(SELECT range AS number FROM range(6))")
    assert got == con.execute(dq).fetchall() == [(0, 0), (1, 1)]

    q = ("SELECT g, CAST(sum(v) AS BIGINT) AS s FROM (SELECT number %"
         " 3 AS g, number AS v FROM numbers(9)) GROUP BY g QUALIFY"
         " rank() OVER (ORDER BY sum(v) DESC) <= 2 ORDER BY g")
    got = [tuple(r) for r in run_ch_sql(spark, q).collect()]
    dq = q.replace("numbers(9)", "(SELECT range AS number FROM range(9))")
    assert got == con.execute(dq).fetchall() == [(1, 12), (2, 15)]

    q = ("SELECT CAST(sum(v) AS BIGINT) AS s FROM (SELECT g, v FROM"
         " (SELECT number % 2 AS g, number AS v FROM numbers(8))"
         " QUALIFY v = max(v) OVER (PARTITION BY g))")
    assert run_ch_sql(spark, q).collect()[0].s == 13

    with pytest.raises(UnsupportedChSql, match="DISTINCT after the"):
        run_ch_sql(spark, "SELECT DISTINCT g FROM (SELECT number % 2"
                          " AS g, number AS v FROM numbers(4)) QUALIFY"
                          " row_number() OVER (ORDER BY g) = 1")


def test_r12m_ternary_cast_tuple_access(spark):
    """r12m: three CH expression spellings Spark's parser rejects —
    the C-style ternary ``cond ? a : b`` (CH's lowest-precedence
    operator, right-associative; rewritten to ``if()``), the postfix
    ``expr::Type`` cast (riding the CAST machinery's CH type mapping,
    so ``300::UInt8`` wraps to 44), and ``(tuple_expr).N`` element
    access (``tupleElement``); the operand scan keeps a callee
    identifier with its paren group (``CAST(…)::String``,
    ``tuple(…).1``)."""
    import duckdb

    con = duckdb.connect()
    q = ("SELECT CAST(sum(number % 2 = 0 ? number : -number)"
         " AS BIGINT) AS s FROM numbers(5)")
    got = run_ch_sql(spark, q).collect()[0].s
    dq = ("SELECT CAST(sum(CASE WHEN range % 2 = 0 THEN range ELSE"
          " -range END) AS BIGINT) AS s FROM range(5)")
    assert got == con.execute(dq).fetchone()[0] == 2

    # right-associative nesting, and a ternary as a sort key
    rows = run_ch_sql(
        spark, "SELECT number = 0 ? 'a' : number = 1 ? 'b' : 'c' AS p"
               " FROM numbers(3) ORDER BY p").collect()
    assert [r.p for r in rows] == ["a", "b", "c"]
    r = run_ch_sql(spark, "SELECT number AS v FROM numbers(3)"
                          " ORDER BY number = 1 ? -10 : number DESC"
                          " LIMIT 1").collect()
    assert r[0].v == 2
    with pytest.raises(UnsupportedChSql, match="matching ':'"):
        run_ch_sql(spark, "SELECT 1 ? 2 FROM numbers(1)")

    # :: casts: CH type names, wrap semantics, chains, paren operands
    r = run_ch_sql(spark, "SELECT 300::UInt8 AS w, '7'::Int64::String"
                          " AS c, (1 + 2)::String AS p,"
                          " 'x'::Nullable(String) AS n").collect()[0]
    assert (r.w, r.c, r.p, r.n) == (44, "7", "3", "x")

    # tuple element access, chained, and composed with the ternary
    r = run_ch_sql(spark, "SELECT tuple(3, 'x').1 AS a,"
                          " tuple(tuple(1, 2), 'y').1.2 AS b,"
                          " 1 = 1 ? tuple(5, 6).2 : 0 AS c").collect()[0]
    assert (r.a, r.b, r.c) == (3, 2, 6)


def test_r12n_top_except_col_paste(spark):
    """r12n: ``SELECT TOP n [WITH TIES]`` (T-SQL style, CH parses it)
    respells to LIMIT; the parenless ``* EXCEPT col`` single-column
    modifier gains its parens (keyword guard keeps the EXCEPT set
    operator out); PASTE JOIN raises by name — Spark would silently
    read PASTE as a table alias and cartesian-join where CH pairs
    rows positionally (the 1-row probe case even LOOKED right)."""
    rows = run_ch_sql(spark, "SELECT TOP 2 number AS v FROM"
                             " numbers(10) ORDER BY v DESC").collect()
    assert [r.v for r in rows] == [9, 8]
    rows = run_ch_sql(spark, "SELECT TOP 4 WITH TIES v FROM (SELECT"
                             " number % 3 AS v FROM numbers(9))"
                             " ORDER BY v").collect()
    assert [r.v for r in rows] == [0, 0, 0, 1, 1, 1]
    r = run_ch_sql(spark, "SELECT CAST(sum(v) AS BIGINT) AS s FROM"
                          " (SELECT TOP 3 number AS v FROM numbers(10)"
                          " ORDER BY v DESC)").collect()[0]
    assert r.s == 24

    rows = run_ch_sql(spark, "SELECT * EXCEPT v FROM"
                             " (SELECT 1 AS g, 2 AS v)").collect()
    assert rows[0].asDict() == {"g": 1}
    # the set operator spelling stays a set operator
    rows = run_ch_sql(spark, "SELECT * FROM (SELECT 1 AS a)"
                             " EXCEPT DISTINCT SELECT 2 AS a").collect()
    assert [r.a for r in rows] == [1]

    with pytest.raises(UnsupportedChSql, match="PASTE JOIN"):
        run_ch_sql(spark, "SELECT * FROM (SELECT 1 AS a) PASTE JOIN"
                          " (SELECT 2 AS b)")
    with pytest.raises(UnsupportedChSql, match="TOP combined"):
        run_ch_sql(spark, "SELECT TOP 2 number FROM numbers(3)"
                          " UNION ALL SELECT 9")


def test_r12o_quoted_names_survive_expression_scanners(spark):
    """r12o: identifiers whose NAMES contain the new scanners' trigger
    characters — '?', ':', '.N', clause keywords — must not trip the
    ternary / cast / tuple-access / pagination rewrites.
    ``_scan_toplevel`` now skips backtick spans and the expression
    scanners blank quoted-identifier content (CH double quotes arrive
    as backticks via _dquotes_to_backticks)."""
    cases = [
        ('SELECT "a?b" AS x FROM (SELECT 1 AS "a?b")', 1),
        ('SELECT "c:d" + 1 AS x FROM (SELECT 5 AS "c:d")', 6),
        ('SELECT "my col"::String AS x FROM (SELECT 9 AS "my col")',
         "9"),
        ('SELECT "v.1" AS x FROM (SELECT 2 AS "v.1")', 2),
        ('SELECT * EXCEPT "a?b" FROM (SELECT 1 AS "a?b", 3 AS g)', 3),
        ('SELECT "limit 5" AS x FROM (SELECT 7 AS "limit 5")'
         ' ORDER BY "limit 5"', 7),
    ]
    for q, want in cases:
        got = run_ch_sql(spark, q).collect()[0][0]
        assert got == want, f"{q!r} -> {got!r}, want {want!r}"


@pytest.mark.parametrize("quoted, twin", [
    ("SELECT sumIf(x, `a(b` > 0) AS c FROM t",
     "SELECT sumIf(x, `ab` > 0) AS c FROM t"),
    ("SELECT sumIf(x, `a,b` > 0) AS c FROM t",
     "SELECT sumIf(x, `ab` > 0) AS c FROM t"),
    ("SELECT avgIf(`p)`, `q` = 1) AS c FROM t",
     "SELECT avgIf(`p`, `q` = 1) AS c FROM t"),
    ("SELECT countIf(x, `a,b` > 0) AS c FROM t",
     "SELECT countIf(x, `ab` > 0) AS c FROM t"),
    ("SELECT * REPLACE (`a)` + 1 AS b) FROM t",
     "SELECT * REPLACE (`a` + 1 AS b) FROM t"),
    ("SELECT uniq(`x[1]`) AS u FROM t WHERE `g,h` IN [1, 2]",
     "SELECT uniq(`x1`) AS u FROM t WHERE `gh` IN [1, 2]"),
])
def test_quoted_identifier_brackets_and_commas_are_opaque(quoted, twin):
    """A backtick-quoted name holding a bracket or a comma translates
    exactly like a plain quoted name: every scanner treats the
    identifier as one opaque span."""
    want = translate_ch_sql(twin)
    for plain, name in zip(re.findall(r"`[^`]*`", twin),
                           re.findall(r"`[^`]*`", quoted)):
        want = want.replace(plain, name)
    assert translate_ch_sql(quoted) == want


def test_quoted_identifier_with_paren_runs(spark):
    rows = run_ch_sql(
        spark,
        "SELECT sumIf(x, `a(b` > 0) AS c, countIf(x, `a,b` > 0) AS n"
        " FROM (SELECT number AS x, number - 1 AS `a(b`,"
        " number - 2 AS `a,b` FROM numbers(4))").collect()
    assert [tuple(r) for r in rows] == [(5, 1)]


def test_scanner_helpers():
    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        _find_partner, _split_args, _sub_masked)

    s = "f(a, 'x)''(', `y)(`, g(b)) + [1, `]`]"
    assert _find_partner(s, 1) == s.index(") +")
    assert _find_partner(s, s.index(") +")) == 1
    assert _find_partner(s, s.index("[")) == len(s) - 1
    assert _find_partner(s, len(s) - 1) == s.index("[")
    assert _find_partner(s, s.index("'")) == s.index("', `")
    assert _find_partner("f(a", 1) == -1
    assert _find_partner("a)", 1) == -1
    assert _find_partner("'it''s", 0) == -1
    assert _split_args(" a, 'b,''c', `d,e`, f(g, h) ") == [
        "a", "'b,''c'", "`d,e`", "f(g, h)"]
    assert _sub_masked(r"\bx\b", lambda m: m.group(0).upper(),
                       "x + 'x' + x") == "X + 'x' + X"


@pytest.mark.parametrize("ch, spark_sql", [
    ("SELECT a FROM t WHERE a IN []", "SELECT a FROM t WHERE false"),
    ("SELECT a FROM t WHERE b > 1 AND a NOT IN [] AND c IN [1]",
     "SELECT a FROM t WHERE b > 1 AND true AND c IN (1)"),
    ("SELECT lower(a) IN [ ] AS f, (a, b) NOT IN [] AS g FROM t",
     "SELECT false AS f, true AS g FROM t"),
    ("SELECT a FROM t WHERE NOT a IN [] OR a GLOBAL NOT IN []",
     "SELECT a FROM t WHERE NOT false OR true"),
    ("SELECT if(a IN [], 1, 2) FROM t WHERE a IN ['[]']",
     "SELECT if(CAST((false) AS BOOLEAN), 1, 2) FROM t WHERE a IN ('[]')"),
    # the operand ends at the clause keyword or lambda arrow before it
    ("SELECT a FROM t WHERE a > 1 ORDER BY code IN []",
     "SELECT a FROM t WHERE a > 1 ORDER BY false NULLS LAST"),
    ("SELECT a FROM t ORDER BY code IN []", "SELECT a FROM t ORDER BY false NULLS LAST"),
    ("SELECT count() FROM t GROUP BY code NOT IN []",
     "SELECT count(*) FROM t GROUP BY true"),
    ("SELECT DISTINCT code IN [] FROM t", "SELECT DISTINCT false FROM t"),
    ("SELECT arrayFilter(v -> v IN [], arr) FROM t", "SELECT filter(arr, v -> false) FROM t"),
    ("SELECT arrayExists((v) -> v NOT IN [], arr) FROM t",
     "SELECT exists(arr, (v) -> true) FROM t"),
])
def test_translate_empty_in_list(ch, spark_sql):
    """An empty multi-value variable substitutes to ``IN []``: ClickHouse
    reads it as the empty set (``IN`` false, ``NOT IN`` true), and
    Spark has no ``IN ()``."""
    assert translate_ch_sql(ch) == spark_sql


def test_substitute_empty_variable_translates():
    sql = substitute("SELECT count() FROM t WHERE code NOT IN [$etf]", {"etf": []})
    assert translate_ch_sql(sql) == "SELECT count(*) FROM t WHERE true"


def test_topk_group_by_select_alias_preaggregates():
    sql = ("SELECT toStartOfInterval(time, INTERVAL 5 MINUTE) AS t, topK(10)(sec_code) AS top"
           " FROM trades GROUP BY t ORDER BY t")
    out = translate_ch_sql(sql, strict_scale=True)
    assert "__tkpre" in out
    assert "GROUP BY toStartOfInterval(time, INTERVAL 5 MINUTE), __tk_v" in out
    # an alias shadowing a column its own expression reads stays on the
    # expansion: GROUP BY would otherwise switch meaning
    with pytest.raises(UnsupportedChSql):
        translate_ch_sql("SELECT lower(code) AS code, topK(3)(b) AS top FROM t GROUP BY code",
                         strict_scale=True)


class _Columns:
    """Stand-in session: ``table(v).columns`` for three joinable views."""

    views = {"a": ["k", "board", "x"], "b": ["k", "board", "y"], "c": ["k", "z"]}

    def table(self, name):
        return type("T", (), {"columns": self.views[name]})


@pytest.mark.parametrize("text, want", [
    # a column on both sides resolves to the LEFT relation, everywhere in the block
    ("SELECT board FROM a JOIN b s ON (k = s.k AND board = s.board) WHERE board = 'X'",
     "SELECT a.board FROM a JOIN b s ON (a.k = s.k AND a.board = s.board) WHERE a.board = 'X'"),
    # leftmost of a chain; an alias is the qualifier; USING keys stay bare
    ("SELECT k FROM a LEFT JOIN b ON a.k = b.k JOIN c ON c.k = a.k",
     "SELECT a.k FROM a LEFT JOIN b ON a.k = b.k JOIN c ON c.k = a.k"),
    ("SELECT board, k FROM a t JOIN b USING (k)", "SELECT t.board, k FROM a t JOIN b USING (k)"),
    # each block on its own: the nested subquery and the UNION branch
    ("SELECT board FROM a JOIN b ON a.k = b.k WHERE k IN (SELECT k FROM c) UNION ALL SELECT board FROM a",
     "SELECT a.board FROM a JOIN b ON a.k = b.k WHERE a.k IN (SELECT k FROM c) UNION ALL SELECT board FROM a"),
    # left to the analysis-time retry: a subquery side, a CTE name
    ("SELECT board FROM a JOIN (SELECT * FROM b) s ON a.k = s.k", None),
    ("WITH a AS (SELECT 1 AS board, 1 AS k) SELECT board FROM a JOIN b ON a.k = b.k", None),
    # names the block defines: an alias with or without AS, lambda parameters
    ("SELECT s.board AS board FROM a JOIN b s ON a.k = s.k ORDER BY board", None),
    ("SELECT s.board board FROM a JOIN b s ON a.k = s.k ORDER BY board", None),
    ("SELECT count(*) k FROM a JOIN b s ON a.k = s.k GROUP BY s.board", None),
    ("SELECT arrayMap(board -> board, [a.x]) FROM a JOIN b s ON a.k = s.k", None),
    ("SELECT arrayMap((k, y) -> k, [a.x], [s.y]) FROM a JOIN b s ON a.k = s.k", None),
])
def test_qualify_join_columns(text, want):
    from transaq_clickhouse_exporter_spark.queries.ch_compat import _qualify_join_columns

    assert _qualify_join_columns(_Columns(), text) == (want or text)


@pytest.mark.parametrize("text, error, want", [
    # the leftmost relation among the ones Spark lists as holding the column
    ("SELECT y FROM a JOIN (SELECT k, y FROM b) s ON a.k = s.k JOIN (SELECT k, y FROM c) u ON s.k = u.k",
     "[AMBIGUOUS_REFERENCE] Reference `y` is ambiguous, could be: [`s`.`y`, `u`.`y`].",
     "SELECT s.y FROM a JOIN (SELECT k, y FROM b) s ON a.k = s.k JOIN (SELECT k, y FROM c) u ON s.k = u.k"),
    ("SELECT board FROM t JOIN (SELECT board, k FROM b) s ON t.k = s.k",
     "Reference `board` is ambiguous, could be: [`s`.`board`, `spark_catalog`.`default`.`t`.`board`].",
     "SELECT t.board FROM t JOIN (SELECT board, k FROM b) s ON t.k = s.k"),
    # another error, or no joining block names a holder: not retried
    ("SELECT y FROM a JOIN b ON a.k = b.k", "[TABLE_OR_VIEW_NOT_FOUND] ...", None),
    ("SELECT y FROM a JOIN b ON a.k = b.k",
     "Reference `y` is ambiguous, could be: [`x`.`y`, `z`.`y`].", None),
    ("SELECT y y FROM a JOIN b ON a.k = b.k",
     "Reference `y` is ambiguous, could be: [`a`.`y`, `b`.`y`].", None),
])
def test_qualify_reported(text, error, want):
    from transaq_clickhouse_exporter_spark.queries.ch_compat import _qualify_reported

    assert _qualify_reported(text, error) == want
