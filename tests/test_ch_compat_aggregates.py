"""The CH funnel-family aggregate expansions (queries/ch_compat.py)
value-checked against the engine's own DataFrame operators — one
contract, two front-ends:

* ``windowFunnel(w)(ts, c1…)``  vs functions/funnel.window_funnel
* ``sequenceMatch/Count``        vs functions/seqmatch operators
* ``topK(k)(x)``                 vs an exact groupBy-count top-k
* ``retention(c1…)``             vs an independent per-user flag model
* ``quantileTiming``             runs as percentile_approx (rank-approx)
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from transaq_clickhouse_exporter_spark.functions import seqmatch as sm
from transaq_clickhouse_exporter_spark.functions.funnel import (
    window_funnel_ch,
)
from transaq_clickhouse_exporter_spark.queries import ch_compat as cc


@pytest.fixture(scope="module")
def events(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    ev.createOrReplaceTempView("cc_events")
    return ev


STAGES = ("view", "click", "purchase")


def _conds():
    return [F.col("event_type") == v for v in STAGES]


def test_window_funnel_matches_dataframe_operator(spark, events):
    got = {
        r.user_id: r.lvl
        for r in cc.run_ch_sql(
            spark,
            "SELECT user_id, windowFunnel(3600)(ts, event_type='view', "
            "event_type='click', event_type='purchase') AS lvl "
            "FROM cc_events GROUP BY user_id",
        ).collect()
    }
    want_df = window_funnel_ch(
        events.withColumn("ts_s", F.col("ts").cast("timestamp").cast("double")),
        _conds(),
        ts_col="ts_s",
        window=3600,
    )
    want = {r.user_id: r.level for r in want_df.collect()}
    assert want  # driver data exercises multiple levels
    # both front-ends emit level 0 for users with no cond1 match (CH
    # behavior) — compare the FULL maps, zero-level users included
    assert got == want


def test_window_funnel_ch_default_mode_semantics(spark):
    """CH default-mode cases the earliest-anchor contract misses
    (ADVICE r6 medium): a LATER cond1 anchor completing a chain, and
    equal-timestamp stage advancement."""
    rows = [
        # u1: ADVICE example — c1@0, c1@2000, c2@5000, w=3600: the
        # 2000 anchor reaches c2 (5000 <= 5600) -> level 2
        (1, "a", 0), (1, "a", 2000), (1, "b", 5000),
        # u2: equal timestamps allowed in default mode -> level 2
        (2, "a", 100), (2, "b", 100),
        # u3: order still matters (b before any a) -> level 1
        (3, "b", 100), (3, "a", 200),
        # u4: full chain via the later anchor only -> level 3
        (4, "a", 0), (4, "b", 5000), (4, "a", 4000), (4, "c", 6000),
        # u5: no anchor at all -> level 0 (CH keeps the user)
        (5, "b", 10), (5, "c", 20),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts_s long")
    conds = [F.col("event_type") == t for t in ("a", "b", "c")]
    want = {1: 2, 2: 2, 3: 1, 4: 3, 5: 0}
    got = {
        r.user_id: r.level
        for r in window_funnel_ch(ev, conds, window=3600).collect()
    }
    assert got == want
    # the SQL bridge implements the same fold
    ev.createOrReplaceTempView("wf_ch_events")
    got_sql = {
        r.user_id: r.lvl
        for r in cc.run_ch_sql(
            spark,
            "SELECT user_id, windowFunnel(3600)(ts_s, event_type='a', "
            "event_type='b', event_type='c') AS lvl "
            "FROM wf_ch_events GROUP BY user_id",
        ).collect()
    }
    assert got_sql == want  # zero-level users included on both paths


def test_window_funnel_strict_increase_mode(spark):
    """CH 'strict_increase': chain timestamps must strictly increase —
    the equal-timestamp advance allowed in default mode is refused;
    anchors still follow CH's greedy latest-slot rule."""
    rows = [
        (1, "a", 100), (1, "b", 100),            # equal ts -> level 1
        (2, "a", 100), (2, "b", 200), (2, "c", 200),  # c at b's ts -> 2
        (3, "a", 100), (3, "b", 200), (3, "c", 300),  # increasing -> 3
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts_s long")
    ev.createOrReplaceTempView("wf_strict_events")
    q = (
        "SELECT user_id, windowFunnel(3600, {mode})(ts_s, event_type='a', "
        "event_type='b', event_type='c') AS lvl "
        "FROM wf_strict_events GROUP BY user_id"
    )
    strict = {
        r.user_id: r.lvl
        for r in cc.run_ch_sql(spark, q.format(mode="'strict_increase'")).collect()
    }
    assert strict == {1: 1, 2: 2, 3: 3}
    default = {
        r.user_id: r.lvl
        for r in cc.run_ch_sql(
            spark,
            "SELECT user_id, windowFunnel(3600)(ts_s, event_type='a', "
            "event_type='b', event_type='c') AS lvl "
            "FROM wf_strict_events GROUP BY user_id",
        ).collect()
    }
    assert default == {1: 2, 2: 3, 3: 3}
    # every documented funnel mode is now bridged (strict_order
    # r11d, strict_deduplication r14 — each pinned vs the CH scan
    # reference); an unknown mode keeps the named raise
    with pytest.raises(cc.UnsupportedChSql):
        cc.translate_ch_sql(q.format(mode="'no_such_mode'"))


def test_sequence_count_matches_token_strings(spark, events):
    got = {
        r.user_id: r.c
        for r in cc.run_ch_sql(
            spark,
            "SELECT user_id, sequenceCount('(?1).*(?2)')(ts, "
            "event_type='view', event_type='purchase') AS c "
            "FROM cc_events GROUP BY user_id",
        ).collect()
    }
    strs = sm.sequence_strings(
        events.withColumn("ts_s", F.col("ts").cast("timestamp").cast("double")),
        [F.col("event_type") == v for v in ("view", "purchase")],
        ts_col="ts_s",
        order_col="event_id",
    )
    want = {r.user_id: len(re.findall("1.*?2", r.seq)) for r in strs.collect()}
    assert sum(want.values()) > 0
    assert {u: c for u, c in got.items() if u in want} == want


def test_sequence_match_repeating_alphabet(spark, events):
    """(?1).*(?2).*(?1) — the repeat-pattern class joins can't express;
    verify against a driver-side regex over the same token strings."""
    got = {
        r.user_id: r.m
        for r in cc.run_ch_sql(
            spark,
            "SELECT user_id, sequenceMatch('(?1).*(?2).*(?1)')(ts, "
            "event_type='signup', event_type='purchase') AS m "
            "FROM cc_events WHERE ts < '2024-01-03' GROUP BY user_id",
        ).collect()
    }
    strs = sm.sequence_strings(
        events.filter(F.col("ts") < "2024-01-03").withColumn(
            "ts_s", F.col("ts").cast("timestamp").cast("double")
        ),
        [F.col("event_type") == v for v in ("signup", "purchase")],
        ts_col="ts_s",
        order_col="event_id",
    )
    want = {r.user_id: bool(re.search("1.*2.*1", r.seq)) for r in strs.collect()}
    assert any(want.values()) and not all(want.values())
    assert {u: m for u, m in got.items() if u in want} == want


def test_topk_matches_exact_counts(spark, events):
    [row] = cc.run_ch_sql(
        spark, "SELECT topK(3)(event_type) AS top FROM cc_events"
    ).collect()
    want = [
        r.event_type
        for r in events.groupBy("event_type")
        .count()
        .orderBy(F.desc("count"), "event_type")
        .limit(3)
        .collect()
    ]
    assert row.top == want


def test_retention_flag_semantics(spark, events):
    got = {
        r.user_id: r.r
        for r in cc.run_ch_sql(
            spark,
            "SELECT user_id, retention(event_type='view', "
            "event_type='click', event_type='purchase') AS r "
            "FROM cc_events GROUP BY user_id",
        ).collect()
    }
    per_user = {
        r.user_id: set(r.types)
        for r in events.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("types"))
        .collect()
    }
    for u, types in per_user.items():
        f1 = int("view" in types)
        want = [f1, f1 * int("click" in types), f1 * int("purchase" in types)]
        assert got[u] == want


def test_quantile_timing_runs_near_exact(spark, events):
    [row] = cc.run_ch_sql(
        spark, "SELECT quantileTiming(0.5)(value) AS q FROM cc_events"
    ).collect()
    [exact] = spark.sql("SELECT percentile(value, 0.5) AS q FROM cc_events").collect()
    assert row.q == pytest.approx(exact.q, rel=0.05)


def test_renames_run(spark, events):
    [row] = cc.run_ch_sql(
        spark,
        "SELECT argMax(event_type, ts) AS last_t, "
        "size(groupUniqArray(event_type)) AS n FROM cc_events",
    ).collect()
    assert row.last_t in {"view", "click", "purchase", "signup", "error"}
    assert row.n == 5
    out = cc.run_ch_sql(spark, "SELECT arrayJoin(array(1, 2, 3)) AS v").collect()
    assert sorted(r.v for r in out) == [1, 2, 3]


def test_retention_expansion_streams(spark, tmp_path):
    """The retention expansion is a plain max-flag aggregation, so the
    SAME translated SQL runs as a streaming aggregation: stream events
    in 2 micro-batches (update mode into a memory sink) and the final
    per-user flags equal the batch answer."""
    import os

    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        register_ch_functions,
        translate_ch_sql,
    )
    from transaq_clickhouse_exporter_spark.sources.replay import (
        write_jsonl_fixture,
    )

    rows = [
        {"user_id": u, "event_type": t}
        for u, t in [(1, "view"), (1, "click"), (2, "click"),
                     (3, "view"), (3, "purchase"), (2, "view")]
    ]
    src = str(tmp_path / "src")
    write_jsonl_fixture(os.path.join(src, "b0.jsonl"), rows[:3], mtime=1_000)
    write_jsonl_fixture(os.path.join(src, "b1.jsonl"), rows[3:], mtime=2_000)
    stream = (
        spark.readStream.schema("user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    stream.createOrReplaceTempView("ret_stream")
    register_ch_functions(spark)
    sql = translate_ch_sql(
        "SELECT user_id, retention(event_type='view', event_type='click', "
        "event_type='purchase') AS r FROM ret_stream GROUP BY user_id"
    )
    q = (
        spark.sql(sql)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ret_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.user_id: r.r for r in spark.table("ret_out").collect()}
    assert got == {1: [1, 1, 0], 2: [1, 1, 0], 3: [1, 0, 1]}


def test_topk_weighted_and_uniq_upto(spark):
    """topKWeighted ranks by summed weight (count is irrelevant);
    uniqUpTo is exact up to N and pins N+1 beyond."""
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 10), ("c", 5), ("c", 1)],
        "x string, w long",
    ).createOrReplaceTempView("tw_t")
    [row] = cc.run_ch_sql(
        spark, "SELECT topKWeighted(2)(x, w) AS top FROM tw_t"
    ).collect()
    assert row.top == ["b", "c"]  # weights: b=10, c=6, a=3
    [u] = cc.run_ch_sql(
        spark,
        "SELECT uniqUpTo(2)(x) AS u2, uniqUpTo(5)(x) AS u5, "
        "uniqUpTo(3)(x) AS u3 FROM tw_t",
    ).collect()
    assert (u.u2, u.u5, u.u3) == (3, 3, 3)  # 3 distinct: capped at 2+1
    spark.createDataFrame(
        [(i % 7,) for i in range(50)], "x long"
    ).createOrReplaceTempView("tw_u")
    [v] = cc.run_ch_sql(
        spark, "SELECT uniqUpTo(3)(x) AS u FROM tw_u"
    ).collect()
    assert v.u == 4  # 7 distinct > 3 -> N+1
    # TimingWeighted maps to the exact weighted percentile (same
    # honest-analogue rule as quantileTiming -> percentile_approx)
    [qt] = cc.run_ch_sql(
        spark, "SELECT quantileTimingWeighted(0.5)(w, w) AS q FROM tw_t"
    ).collect()
    # weight-expanded multiset {1x4, 5x5, 10x10} (19 elems): the 0.5
    # interpolated rank (10th) lands on 10
    assert qt.q == 10.0


def test_window_funnel_randomized_vs_reference_simulation(spark):
    """60 random event sets (dense small timestamps -> plenty of
    equal-ts collisions) checked against a direct simulation of CH's
    greedy slot algorithm, for BOTH engines (running-max DataFrame op,
    SQL fold) and BOTH modes (default, strict_increase)."""
    import random

    n_conds, window = 3, 7

    def ref_level(evs, strict):
        # CH AggregateFunctionWindowFunnel: events sorted by ts (cond
        # index ascending at ties = our deterministic tie contract);
        # one (anchor, last_event_ts) slot per level, greedy overwrite.
        slots = [None] * n_conds
        for t, i in sorted(evs):
            if i == 1:
                slots[0] = (t, t)
            elif slots[i - 2] is not None:
                a, last = slots[i - 2]
                if t <= a + window and (not strict or t > last):
                    slots[i - 1] = (a, t)
        return sum(1 for s in slots if s is not None)

    rng = random.Random(1234)
    rows, want_default, want_strict = [], {}, {}
    for u in range(60):
        evs = [
            (rng.randrange(0, 15), rng.randrange(1, n_conds + 1))
            for _ in range(rng.randrange(0, 13))
        ]
        for t, i in evs:
            rows.append((u, f"e{i}", t))
        want_default[u] = ref_level(evs, strict=False)
        want_strict[u] = ref_level(evs, strict=True)
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts_s long")
    ev.createOrReplaceTempView("wf_rand_events")

    conds = [F.col("event_type") == f"e{i}" for i in range(1, n_conds + 1)]
    got_df = {
        r.user_id: r.level
        for r in window_funnel_ch(ev, conds, window=window).collect()
    }
    # users WITH events compare in full (level 0 kept, CH behavior);
    # users whose random draw produced zero events have no rows at all
    present = {u for u, _, _ in rows}
    assert got_df == {u: l for u, l in want_default.items() if u in present}

    base = (
        "SELECT user_id, windowFunnel({w}{mode})(ts_s, event_type='e1', "
        "event_type='e2', event_type='e3') AS lvl "
        "FROM wf_rand_events GROUP BY user_id"
    )
    got_sql = {
        r.user_id: r.lvl
        for r in cc.run_ch_sql(spark, base.format(w=window, mode="")).collect()
    }
    assert got_sql == {u: l for u, l in want_default.items() if u in present}
    got_strict = {
        r.user_id: r.lvl
        for r in cc.run_ch_sql(
            spark, base.format(w=window, mode=", 'strict_increase'")
        ).collect()
    }
    assert got_strict == {u: l for u, l in want_strict.items() if u in present}


# ---- topK pre-aggregation (the scale path, _preaggregate_topk) ---------
# VERDICT r7: the expression expansion collect_lists every ROW of the
# group (O(d·n), OOM-shaped ungrouped).  The translator now restructures
# supported SELECT blocks into a two-level hash aggregate whose collected
# array is d-sized.  These tests pin (a) that the rewrite fires and
# produces identical results to the n-sized expansion, (b) the grouped /
# expression-key / sibling-aggregate contexts, (c) that unsupported
# shapes fall back rather than mistranslate.


def _preagg_fired(sql: str) -> bool:
    return "__tkpre" in cc.translate_ch_sql(sql)


def test_topk_preagg_fires_and_matches_fallback(spark, events):
    sql = "SELECT topK(3)(event_type) AS top FROM cc_events"
    assert _preagg_fired(sql)
    [pre] = cc.run_ch_sql(spark, sql).collect()
    # force the n-sized expansion by pairing with a non-decomposable
    # sibling (uniqExact) — same topK answer, old path
    fb_sql = "SELECT topK(3)(event_type) AS top, uniqExact(user_id) AS u FROM cc_events"
    assert not _preagg_fired(fb_sql)
    [fb] = cc.run_ch_sql(spark, fb_sql).collect()
    assert pre.top == fb.top


def test_topk_preagg_grouped_with_expression_keys_and_siblings(spark, events):
    """VERDICT r7 item 5: funnel-family aggregate alongside other
    aggregates AND a GROUP BY with expression keys."""
    sql = """
        SELECT toStartOfInterval(ts, INTERVAL 1 day) AS d,
               topK(2)(event_type) AS top,
               count(*) AS n, sum(value) AS sv, min(value) AS mn,
               max(value) AS mx, avg(value) AS av,
               countIf(event_type = 'view') AS nv
        FROM cc_events GROUP BY toStartOfInterval(ts, INTERVAL 1 day)
        ORDER BY d
    """
    assert _preagg_fired(sql)
    got = cc.run_ch_sql(spark, sql).collect()
    want = (
        spark.table("cc_events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.avg("value").alias("av"),
            F.count_if(F.col("event_type") == "view").alias("nv"),
        )
        .orderBy("d")
        .collect()
    )
    assert len(got) == len(want) and len(got) > 1
    for g, w in zip(got, want):
        assert (g.d, g.n, g.mn, g.mx, g.nv) == (w.d, w.n, w.mn, w.mx, w.nv)
        # double sums re-associate through the per-value partials: ulp-
        # level difference is expected, the value is the same sum
        assert g.sv == pytest.approx(w.sv, rel=1e-12)
        assert g.av == pytest.approx(w.av)
        # per-day exact top-2 by count, tie value-asc
        day_want = [
            r.event_type
            for r in spark.table("cc_events")
            .filter(F.date_trunc("day", "ts") == g.d)
            .groupBy("event_type").count()
            .orderBy(F.desc("count"), "event_type").limit(2).collect()
        ]
        assert g.top == day_want


def test_topk_preagg_having_where_alias_and_mixed_weights(spark):
    spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 10), ("b", 5, 10), ("b", 6, 20),
         ("c", 100, 20), ("a", 1, 20)],
        "x string, w long, g long",
    ).createOrReplaceTempView("tk_mix")
    # same x for topK and topKWeighted, HAVING on an aggregate alias,
    # WHERE referencing a SELECT alias (CH-ism)
    sql = """
        SELECT g AS grp, topK(2)(x) AS by_count, topKWeighted(2)(x, w) AS by_w,
               count(*) AS n
        FROM tk_mix WHERE grp >= 10 GROUP BY g HAVING n >= 3 ORDER BY grp
    """
    assert _preagg_fired(sql)
    rows = cc.run_ch_sql(spark, sql).collect()
    assert [r.grp for r in rows] == [10, 20]
    # g=10: counts a=2,b=1; weights a=1+2=3, b=5
    assert rows[0].by_count == ["a", "b"] and rows[0].by_w == ["b", "a"]
    # g=20: counts a=1,b=1,c=1 → value-asc tie; weights c=100,b=6,a=1
    assert rows[1].by_count == ["a", "b"] and rows[1].by_w == ["c", "b"]


def test_topk_preagg_fallback_shapes_still_correct(spark, events):
    # DISTINCT select, window fn in select list, positional GROUP BY →
    # all fall back (translate keeps ch_topk/collect_list) yet the
    # supported ones still run correctly
    for sql in (
        "SELECT topK(2)(event_type) AS t, uniqExact(user_id) AS u FROM cc_events",
        "SELECT user_id, topK(1)(event_type) AS t, "
        "quantile(0.5)(value) AS q FROM cc_events GROUP BY user_id",
    ):
        assert not _preagg_fired(sql)
        assert cc.run_ch_sql(spark, sql).collect()


def test_topk_preagg_null_values_skipped(spark):
    spark.createDataFrame(
        [("a", 1), (None, 50), ("b", 2), ("b", 3), (None, 50)],
        "x string, w long",
    ).createOrReplaceTempView("tk_null")
    [r] = cc.run_ch_sql(
        spark, "SELECT topK(5)(x) AS t, topKWeighted(5)(x, w) AS tw FROM tk_null"
    ).collect()
    # CH aggregate functions skip NULLs — on the scale path both forms do
    assert r.t == ["b", "a"] and r.tw == ["b", "a"]


def test_topk_preagg_plan_is_two_level_hash_agg(spark, events):
    """The physical plan must aggregate per (key, value) BEFORE any
    collect — i.e. two HashAggregate pairs and the collect_list sits
    above an aggregate keyed on __tk_v, not above the raw scan."""
    df = cc.run_ch_sql(spark, "SELECT topK(3)(event_type) AS top FROM cc_events")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__tk_v" in plan  # pre-aggregation key survives to the plan
    # the collect_list input is the d-sized pre-aggregate output
    txt = cc.translate_ch_sql("SELECT topK(3)(event_type) AS top FROM cc_events")
    assert "__tkpre" in txt and "count(*)" in txt


def test_funnel_family_grouped_with_expression_keys(spark, events):
    """VERDICT r7 item 5 (funnel family): windowFunnel and
    sequenceMatch expansions alongside other aggregates AND a GROUP BY
    with an expression key (`toStartOfInterval`), locking the rewriter
    against alias/positional regressions.  Oracle: the same fold
    recomputed per (day, user) partition via the DataFrame operator on
    day-filtered slices."""
    rows = cc.run_ch_sql(
        spark,
        """
        SELECT toStartOfInterval(ts, INTERVAL 1 day) AS d, user_id,
               windowFunnel(3600)(unix_timestamp(ts), event_type='view',
                                  event_type='click') AS lvl,
               sequenceMatch('(?1).*(?2)')(unix_timestamp(ts),
                                  event_type='view',
                                  event_type='purchase') AS sm,
               count(*) AS n, max(value) AS mx
        FROM cc_events
        GROUP BY toStartOfInterval(ts, INTERVAL 1 day), user_id
        ORDER BY d, user_id
        """,
    ).collect()
    assert rows
    ev = spark.table("cc_events")
    days = {r.d for r in rows}
    assert len(days) > 1
    for d in sorted(days)[:2]:  # two days suffice to pin the shape
        day_ev = ev.filter(F.date_trunc("day", "ts") == d).withColumn(
            "ts_s", F.unix_timestamp("ts").cast("double")
        )
        want_lvl = {
            r.user_id: r.level
            for r in window_funnel_ch(
                day_ev,
                [F.col("event_type") == "view", F.col("event_type") == "click"],
                window=3600,
            ).collect()
        }
        want_n = {
            r.user_id: (r.n, r.mx)
            for r in day_ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.max("value").alias("mx"))
            .collect()
        }
        import re as _re2

        want_sm = {
            r.user_id: bool(_re2.search("1.*2", r.seq))
            for r in sm.sequence_strings(
                day_ev,
                [F.col("event_type") == "view", F.col("event_type") == "purchase"],
                ts_col="ts_s",
                order_col="event_id",
            ).collect()
        }
        got_day = [r for r in rows if r.d == d]
        assert {r.user_id: r.lvl for r in got_day} == want_lvl
        assert {r.user_id: (r.n, r.mx) for r in got_day} == want_n
        # sequence_strings omits users with zero matching events; the
        # SQL aggregate reports them as no-match — fill with False
        assert {r.user_id: bool(r.sm) for r in got_day} == {
            r.user_id: want_sm.get(r.user_id, False) for r in got_day
        }


def test_topk_preagg_equivalence_vs_forced_fallback(spark, events, monkeypatch):
    """Every supported rewrite shape must return exactly what the
    n-sized expression expansion returns (the structural pass disabled
    via monkeypatch) — the two paths are one contract."""
    queries = [
        "SELECT topK(3)(event_type) AS t FROM cc_events",
        "SELECT topKWeighted(4)(event_type, value) AS t FROM cc_events",
        "SELECT user_id, topK(2)(event_type) AS t, count(*) AS n "
        "FROM cc_events GROUP BY user_id",
        """SELECT toStartOfInterval(ts, INTERVAL 1 day) AS d,
                  topK(2)(event_type) AS t, sum(value) AS sv
           FROM cc_events WHERE value > 1
           GROUP BY toStartOfInterval(ts, INTERVAL 1 day)
           HAVING sv > 0 ORDER BY d LIMIT 5""",
        "SELECT CAST(pos + 1 AS BIGINT) AS rnk, col AS v FROM "
        "(SELECT posexplode(t) FROM "
        "(SELECT topKWeighted(3)(event_type, value) AS t FROM cc_events))",
    ]
    for q in queries:
        assert "__tkpre" in cc.translate_ch_sql(q), q  # rewrite fires
        pre = sorted(map(tuple, cc.run_ch_sql(spark, q).collect()), key=repr)
        with monkeypatch.context() as mp:
            mp.setattr(cc, "_preaggregate_topk", lambda s, strict_scale=False: s)
            assert "__tkpre" not in cc.translate_ch_sql(q)
            fb = sorted(map(tuple, cc.run_ch_sql(spark, q).collect()), key=repr)
        # float sums re-associate through partials: compare with repr
        # rounding via pytest.approx on numeric fields
        assert len(pre) == len(fb), q
        for a, b in zip(pre, fb):
            assert len(a) == len(b)
            for x, y in zip(a, b):
                if isinstance(x, float):
                    assert x == pytest.approx(y, rel=1e-12), q
                else:
                    assert x == y, q


def test_topk_preagg_combinatorial_equivalence(spark, monkeypatch):
    """Systematic shape sweep: grouped/ungrouped × sibling-aggregate
    sets × HAVING/ORDER BY/LIMIT combinations, every supported shape
    compared against the forced-fallback expression path.  Catches
    interaction regressions the hand-picked shapes miss."""
    spark.createDataFrame(
        [(g, f"v{(g * 7 + i * 3) % 5}", (g + i) % 11, float((i * 13) % 7))
         for g in range(4) for i in range(25)],
        "g long, x string, w long, val double",
    ).createOrReplaceTempView("tk_fuzz")

    sib_sets = [
        "",
        ", count(*) AS n",
        ", sum(w) AS sw, min(val) AS mn",
        ", avg(val) AS av, max(w) AS mxw",
        ", countIf(w > 5) AS ci, sumIf(w, val > 2) AS si",
    ]
    tails_grouped = [
        "",
        " HAVING n >= 1",
        " ORDER BY g",
        " ORDER BY g LIMIT 3",
    ]
    checked = 0
    for grouped in (False, True):
        for sib in sib_sets:
            for tail in (tails_grouped if grouped else [""]):
                if "HAVING n" in tail and ", count(*) AS n" != sib:
                    continue
                if grouped:
                    q = (f"SELECT g, topK(2)(x) AS t{sib} FROM tk_fuzz "
                         f"GROUP BY g{tail}")
                else:
                    q = f"SELECT topK(2)(x) AS t{sib} FROM tk_fuzz"
                assert "__tkpre" in cc.translate_ch_sql(q), q
                pre = sorted(map(tuple, cc.run_ch_sql(spark, q).collect()),
                             key=repr)
                with monkeypatch.context() as mp:
                    mp.setattr(cc, "_preaggregate_topk", lambda s, strict_scale=False: s)
                    fb = sorted(map(tuple, cc.run_ch_sql(spark, q).collect()),
                                key=repr)
                assert len(pre) == len(fb), q
                for a, b in zip(pre, fb):
                    for xx, yy in zip(a, b):
                        if isinstance(xx, float):
                            assert xx == pytest.approx(yy, rel=1e-12), q
                        else:
                            assert xx == yy, q
                checked += 1
    assert checked >= 20


def test_topk_fallback_warns_naming_construct(spark):
    """Round-9 guard (VERDICT r8 item 2): a declined topK block is no
    longer silent — the translator names the unsupported construct and
    flags the ungrouped hazard (the 95x/OOM shape from SCALE.md)."""
    import warnings as w

    # ungrouped + aggregate FILTER (advisor round-9 item 1: the FILTER
    # clause must force the whole-block fallback, not half-decompose)
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        text = cc.translate_ch_sql(
            "SELECT topK(3)(event_type) AS t, "
            "sum(value) FILTER (WHERE value > 1) AS s FROM cc_events")
    assert "__tkpre" not in text
    msgs = [str(r.message) for r in rec
            if issubclass(r.category, cc.TopkFallbackWarning)]
    assert len(msgs) == 1
    assert "aggregate FILTER clause" in msgs[0]
    assert "UNGROUPED" in msgs[0]

    # grouped decline names the construct but skips the ungrouped alarm
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        cc.translate_ch_sql(
            "SELECT user_id, topK(2)(DISTINCT event_type) AS t "
            "FROM cc_events GROUP BY user_id")
    msgs = [str(r.message) for r in rec
            if issubclass(r.category, cc.TopkFallbackWarning)]
    assert len(msgs) == 1
    assert "DISTINCT inside topK" in msgs[0]
    assert "UNGROUPED" not in msgs[0]

    # a supported shape stays quiet
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        text = cc.translate_ch_sql(
            "SELECT user_id, topK(2)(event_type) AS t "
            "FROM cc_events GROUP BY user_id")
    assert "__tkpre" in text
    assert not [r for r in rec
                if issubclass(r.category, cc.TopkFallbackWarning)]


def test_topk_fallback_strict_scale_raises(spark, events):
    """``strict_scale=True`` refuses the n-sized path outright, through
    both translate_ch_sql and run_ch_sql; supported shapes still run."""
    bad = ("SELECT topK(3)(event_type) AS t, "
           "sum(value) FILTER (WHERE value > 1) AS s FROM cc_events")
    with pytest.raises(cc.UnsupportedChSql, match="FILTER"):
        cc.translate_ch_sql(bad, strict_scale=True)
    with pytest.raises(cc.UnsupportedChSql, match="FILTER"):
        cc.run_ch_sql(spark, bad, strict_scale=True)
    ok = ("SELECT user_id, topK(2)(event_type) AS t "
          "FROM cc_events GROUP BY user_id")
    assert cc.run_ch_sql(spark, ok, strict_scale=True).collect()


def test_topk_sibling_filter_values_correct(spark, events):
    """The FILTER-forced fallback must also be value-correct: compare
    against the same query spelled with sumIf (no FILTER clause)."""
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore", cc.TopkFallbackWarning)
        a = sorted(map(tuple, cc.run_ch_sql(
            spark,
            "SELECT user_id, topK(2)(event_type) AS t, "
            "sum(value) FILTER (WHERE value > 1) AS s "
            "FROM cc_events GROUP BY user_id").collect()), key=repr)
    b = sorted(map(tuple, cc.run_ch_sql(
        spark,
        "SELECT user_id, topK(2)(event_type) AS t, "
        "sumIf(value, value > 1) AS s "
        "FROM cc_events GROUP BY user_id").collect()), key=repr)
    # float sums re-associate between the two plans: approx-compare
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for xa, xb in zip(ra, rb):
            if isinstance(xa, float):
                assert xa == pytest.approx(xb, rel=1e-12)
            else:
                assert xa == xb


def test_r12d_t_tests_exact(spark):
    """r12d (VERDICT r11 'what's missing' tail): studentTTest and
    welchTTest return the full CH (t, p) tuple exactly — t from
    conditional aggregates, the two-sided p-value via the regularized
    incomplete beta I_{df/(df+t^2)}(df/2, 1/2) implemented as an
    inline Lanczos log-gamma + a bounded Lentz continued-fraction
    fold (pure JVM, no Python).  Pinned against an independent
    numerical-integration reference; standalone ch_lgamma /
    ch_ibeta / ch_t_pvalue shims pinned against math.lgamma and
    closed-form beta values.  Degenerate inputs (one-sided sample,
    singletons, zero pooled variance) answer (NaN, NaN) like CH's
    float NaNs — and never raise under ANSI mode."""
    import math

    from transaq_clickhouse_exporter_spark.queries.ch_compat import (
        run_ch_sql)

    # ch_lgamma == math.lgamma to ~1e-14 relative
    vals = [0.5, 1.0, 2.5, 10.0, 123.25]
    row = run_ch_sql(spark, "SELECT " + ", ".join(
        f"ch_lgamma(CAST({v} AS DOUBLE)) AS g{i}"
        for i, v in enumerate(vals))).collect()[0]
    for i, v in enumerate(vals):
        assert abs(row[f"g{i}"] - math.lgamma(v)) <= 1e-12, v
    # closed forms: I_x(1, 1) = x; I_x(0.5, 0.5) = 2/pi asin(sqrt x)
    row = run_ch_sql(
        spark,
        "SELECT ch_ibeta(CAST(1 AS DOUBLE), CAST(1 AS DOUBLE),"
        " CAST(0.37 AS DOUBLE)) AS a,"
        " ch_ibeta(CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE),"
        " CAST(0.25 AS DOUBLE)) AS b").collect()[0]
    assert abs(row.a - 0.37) < 1e-12
    assert abs(row.b - 2 / math.pi * math.asin(math.sqrt(0.25))) < 1e-12
    # the standalone ch_t_pvalue / ch_betacf shims share builders with
    # the inline t-test path — pin them against an independent
    # numerical-integration value AND against the ibeta identity
    # I_x(a,b) = front * betacf / a, so a param-name drift between the
    # shim bodies and the builders cannot ship silently (review r12d)
    row = run_ch_sql(
        spark,
        "SELECT ch_t_pvalue(CAST(4.2 AS DOUBLE), CAST(28 AS DOUBLE))"
        " AS p,"
        " ch_ibeta(CAST(2 AS DOUBLE), CAST(0.5 AS DOUBLE),"
        " CAST(0.3 AS DOUBLE)) AS ib,"
        " exp(2 * ln(0.3) + 0.5 * ln(0.7) - (ch_lgamma(CAST(2 AS"
        " DOUBLE)) + ch_lgamma(CAST(0.5 AS DOUBLE)) - ch_lgamma("
        " CAST(2.5 AS DOUBLE)))) * ch_betacf(CAST(2 AS DOUBLE),"
        " CAST(0.5 AS DOUBLE), CAST(0.3 AS DOUBLE)) / 2 AS ib2"
        ).collect()[0]
    assert abs(row.p - 0.0002452552161) < 1e-7
    assert abs(row.ib - row.ib2) < 1e-14

    # numbers(8) % 2: m0=3, m1=4, pooled var 20/3 -> t = -1/sqrt(10/3)
    r = run_ch_sql(
        spark,
        "SELECT tupleElement(studentTTest(number, number % 2), 1) AS st,"
        " tupleElement(studentTTest(number, number % 2), 2) AS sp,"
        " tupleElement(welchTTest(number, number % 2), 1) AS wt,"
        " tupleElement(welchTTest(number, number % 2), 2) AS wp"
        " FROM numbers(8)").collect()[0]
    t_ref = -1 / math.sqrt(10 / 3)
    assert abs(r.st - t_ref) < 1e-12 and abs(r.wt - t_ref) < 1e-12
    # equal sizes + equal variances: Welch == Student here
    assert abs(r.sp - 0.6036445926) < 1e-6 and abs(r.wp - r.sp) < 1e-12
    # the inline handler path and the standalone shim answer the SAME
    # p for the same (t, df)
    shim_p = run_ch_sql(
        spark,
        f"SELECT ch_t_pvalue(CAST({t_ref} AS DOUBLE),"
        " CAST(6 AS DOUBLE)) AS p").collect()[0].p
    assert abs(r.sp - shim_p) < 1e-14

    # unequal samples vs a python reference (t exact; p via the same
    # CF algorithm cross-checked against numerical integration when
    # this test was written)
    rows = ([(float(x), 0) for x in (3, 5, 7, 9, 11, 4)]
            + [(float(x), 1) for x in (6, 8, 10, 12, 14, 16, 18)])
    spark.createDataFrame(rows, "v double, idx int"
                          ).createOrReplaceTempView("tt_r12d")
    a = [v for v, i in rows if i == 0]
    b = [v for v, i in rows if i == 1]
    n0, n1 = len(a), len(b)
    m0, m1 = sum(a) / n0, sum(b) / n1
    v0 = sum((x - m0) ** 2 for x in a) / (n0 - 1)
    v1 = sum((x - m1) ** 2 for x in b) / (n1 - 1)
    t_s = (m0 - m1) / math.sqrt(
        (((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2))
        * (1 / n0 + 1 / n1))
    se2 = v0 / n0 + v1 / n1
    t_w = (m0 - m1) / math.sqrt(se2)
    r = run_ch_sql(
        spark,
        "SELECT tupleElement(studentTTest(v, idx), 1) AS st,"
        " tupleElement(welchTTest(v, idx), 1) AS wt,"
        " tupleElement(studentTTest(v, idx), 2) AS sp FROM tt_r12d"
        ).collect()[0]
    assert abs(r.st - t_s) < 1e-12 and abs(r.wt - t_w) < 1e-12
    assert 0 < r.sp < 1

    # degenerate shapes -> NaN, never an ANSI divide-by-zero raise
    for q in (
        "SELECT tupleElement(studentTTest(v, idx), 2) AS p"
        " FROM (SELECT 1.0 AS v, 0 AS idx)",
        "SELECT tupleElement(welchTTest(v, idx), 2) AS p FROM"
        " (SELECT * FROM VALUES (1.0, 0), (2.0, 1) AS t(v, idx))",
        "SELECT tupleElement(studentTTest(v, idx), 1) AS p FROM"
        " (SELECT * FROM VALUES (1.0, 0), (1.0, 0), (2.0, 1),"
        " (2.0, 1) AS t(v, idx))",
    ):
        val = run_ch_sql(spark, q).collect()[0].p
        assert val != val, q  # NaN


def test_if_combinators_take_numeric_conditions(spark):
    """ClickHouse conditions are UInt8: an INT flag column is a valid
    condition for every -If aggregate, both countIf forms and
    argMaxIf/argMinIf (any non-zero value holds).  The f=0 rows carry
    the extreme x and y values, so a condition that is ignored shows."""
    r = cc.run_ch_sql(
        spark,
        "SELECT sumIf(x, f) AS s, avgIf(x, f) AS a, minIf(x, f) AS mn,"
        " maxIf(x, f) AS mx, uniqIf(x, f) AS u, uniqExactIf(x, f) AS ue,"
        " anyIf(x, f) AS an, anyLastIf(x, f) AS al,"
        " groupArrayIf(x, f) AS ga, groupUniqArrayIf(x, f) AS gu,"
        " medianIf(x, f) AS md, medianExactIf(x, f) AS me,"
        " countIf(f) AS c1, countIf(x, f) AS c2,"
        " argMaxIf(x, y, f) AS amx, argMinIf(x, y, f) AS amn"
        " FROM VALUES (1, 10, 1), (2, 50, 0), (3, 20, 2), (NULL, 15, 1),"
        " (4, 1, 0) AS t(x, y, f)").collect()[0]
    assert (r.s, r.a, r.mn, r.mx, r.u, r.ue) == (4, 2.0, 1, 3, 2, 2)
    assert r.an in (1, 3) and r.al in (1, 3)
    assert sorted(r.ga) == [1, 3] and sorted(r.gu) == [1, 3]
    assert (r.md, r.me) == (2.0, 2.0)
    assert (r.c1, r.c2, r.amx, r.amn) == (3, 2, 3, 1)


def test_conditions_outside_if_combinators_take_numeric_flags(spark):
    """``if``, ``retention``, ``windowFunnel``, ``sequenceMatch`` and
    ``sequenceCount`` take UInt8 conditions too: over INT flags (f2 = 2
    on its one set row, so any non-zero value must hold) each answers
    what the same statement answers over ``f = 1`` booleans."""
    t = (" FROM VALUES (1, 0, 1, 10), (0, 2, 2, 20), (0, 0, 1, 30)"
         " AS t(f1, f2, u, ts)")
    rows = cc.run_ch_sql(
        spark, "SELECT ts, if(f1, 'a', 'b') AS s, if(f2, ts, -ts) AS v" + t
    ).collect()
    assert sorted((r.ts, r.s, r.v) for r in rows) == [
        (10, "a", -10), (20, "b", 20), (30, "b", -30)]
    aggs = ("retention(f1, f2) AS r, windowFunnel(60)(ts, f1, f2) AS w,"
            " sequenceMatch('(?1)(?2)')(ts, f1, f2) AS m,"
            " sequenceCount('(?1)(?2)')(ts, f1, f2) AS c")
    r = cc.run_ch_sql(spark, "SELECT " + aggs + t).collect()[0]
    assert (list(r.r), r.w, r.m, r.c) == ([1, 1], 2, True, 1)
    by_u = cc.run_ch_sql(spark, "SELECT u, " + aggs + t + " GROUP BY u").collect()
    assert sorted((r.u, list(r.r), r.w, r.m, r.c) for r in by_u) == [
        (1, [1, 0], 1, False, 0), (2, [0, 0], 0, False, 0)]
