"""Round-15: uniform shared-key ASOF chains fold into ONE keyed
window — the bridge's k decision takes every link into one
asof_join_multi call.  Any shape doubt leaves k = 1, one link per
bridge pass — these tests pin BOTH routes and their agreement.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from transaq_clickhouse_exporter_spark.operators import asof
from transaq_clickhouse_exporter_spark.queries.ch_compat import run_ch_sql

CHAIN = (
    "SELECT a.g AS g, a.v AS v, b.rv AS rv, c.ix AS ix"
    " FROM (SELECT 1 AS g, 10 AS v UNION ALL SELECT 1, 20"
    " UNION ALL SELECT 2, 7) AS a"
    " ASOF JOIN (SELECT 1 AS g, 8 AS rv UNION ALL SELECT 1, 15) AS b"
    " ON a.g = b.g AND a.v >= b.rv"
    " ASOF LEFT JOIN (SELECT 1 AS g, 9 AS ix UNION ALL SELECT 2, 5)"
    " AS c ON a.g = c.g AND a.v >= c.ix ORDER BY v"
)


def test_uniform_chain_takes_single_window_plan(spark):
    df = run_ch_sql(spark, CHAIN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1  # one keyed window for BOTH links
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in duckdb.connect().execute(CHAIN).fetchall()]
    assert got == want == [(1, 10, 8, 9), (1, 20, 15, 9)]


def test_fast_path_agrees_with_per_link_path(spark, monkeypatch):
    rng = random.Random(1515)
    for _ in range(4):
        rows = lambda col, off: " UNION ALL ".join(
            f"SELECT {g} AS g, {rng.randint(0, 30) + off} AS {col}"
            for g in range(3) for _ in range(rng.randint(1, 6)))
        q = (f"SELECT a.g AS g, a.v AS v, b.rv AS rv, c.ix AS ix"
             f" FROM (SELECT DISTINCT g, v FROM ({rows('v', 0)})) AS a"
             f" ASOF JOIN (SELECT DISTINCT g, rv FROM ({rows('rv', 1)}))"
             f" AS b ON a.g = b.g AND a.v >= b.rv"
             f" ASOF LEFT JOIN (SELECT DISTINCT g, ix FROM"
             f" ({rows('ix', 2)})) AS c"
             f" ON a.g = c.g AND a.v >= c.ix")
        fast = sorted(tuple(r) for r in run_ch_sql(spark, q).collect())
        # a failing k-link build drops the bridge to k = 1: each link
        # then takes its own pass and one-right asof_join_multi call
        calls = []
        real = asof.asof_join_multi

        def one_right_only(left, rights, *a, **k):
            calls.append(len(rights))
            if len(rights) > 1:
                raise ValueError("k-link build refused")
            return real(left, rights, *a, **k)

        monkeypatch.setattr(asof, "asof_join_multi", one_right_only)
        slow = sorted(tuple(r) for r in run_ch_sql(spark, q).collect())
        monkeypatch.undo()
        assert calls == [2, 1, 1]
        want = sorted(tuple(r) for r in
                      duckdb.connect().execute(q).fetchall())
        assert fast == slow == want


def test_mixed_comparator_chain_single_exchange(spark):
    # link 1 backward (>=), link 2 forward (<=): the fast path STILL
    # folds the chain (r15 second phase) — the differing comparator
    # adds only a Sort under the shared key partitioning, so the plan
    # has two Window nodes but ONE keyed exchange (the per-link route
    # would pay two: one per link's union)
    q = ("SELECT a.v AS v, b.rv AS rv, c.ix AS ix"
         " FROM (SELECT 1 AS g, 10 AS v) AS a"
         " ASOF JOIN (SELECT 1 AS g, 8 AS rv) AS b"
         " ON a.g = b.g AND a.v >= b.rv"
         " ASOF JOIN (SELECT 1 AS g, 12 AS ix) AS c"
         " ON a.g = c.g AND a.v <= c.ix")
    df = run_ch_sql(spark, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2  # one ordering per comparator
    assert plan.count("Exchange hashpartitioning") == 1
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in duckdb.connect().execute(q).fetchall()]
    assert got == want == [(10, 8, 12)]


def test_earlier_right_reference_falls_back_and_matches(spark):
    # link 2's inequality compares against link 1's MATCHED column —
    # outside the fast path's contract (it only folds chains aligned
    # on the original left's own timestamp)
    q = ("SELECT a.v AS v, b.rv AS rv, c.ix AS ix"
         " FROM (SELECT 1 AS g, 10 AS v) AS a"
         " ASOF JOIN (SELECT 1 AS g, 8 AS rv) AS b"
         " ON a.g = b.g AND a.v >= b.rv"
         " ASOF JOIN (SELECT 1 AS g, 7 AS ix) AS c"
         " ON a.g = c.g AND b.rv >= c.ix")
    df = run_ch_sql(spark, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in duckdb.connect().execute(q).fetchall()]
    assert got == want == [(10, 8, 7)]


def test_cte_named_side_falls_back_and_matches(spark):
    # a side named by an enclosing CTE stays on the per-link path
    # (its CTE-excision machinery owns that case)
    q = ("WITH src AS (SELECT 1 AS g, 8 AS rv)"
         " SELECT a.v AS v, src.rv AS rv, c.ix AS ix"
         " FROM (SELECT 1 AS g, 10 AS v) AS a"
         " ASOF JOIN src ON a.g = src.g AND a.v >= src.rv"
         " ASOF JOIN (SELECT 1 AS g, 9 AS ix) AS c"
         " ON a.g = c.g AND a.v >= c.ix")
    got = [tuple(r) for r in run_ch_sql(spark, q).collect()]
    want = [tuple(r) for r in duckdb.connect().execute(q).fetchall()]
    assert got == want == [(10, 8, 9)]


def test_matched_ts_reference_resolves_per_link(spark):
    # the body references BOTH rights' matched inequality columns when
    # the names collide with the left's own column name: each must
    # resolve to ITS link's matched value (CH resolution)
    q = ("SELECT a.ts AS ts, b.ts AS mb, c.ts AS mc"
         " FROM (SELECT 1 AS g, 10 AS ts) AS a"
         " ASOF JOIN (SELECT 1 AS g, 8 AS ts) AS b"
         " ON a.g = b.g AND a.ts >= b.ts"
         " ASOF JOIN (SELECT 1 AS g, 9 AS ts) AS c"
         " ON a.g = c.g AND a.ts >= c.ts")
    df = run_ch_sql(spark, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1  # uniform chain → fast path
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in duckdb.connect().execute(q).fetchall()]
    assert got == want == [(10, 8, 9)]
