"""Every oracle-paired catalog query must match DuckDB exactly at
sf0.001 (fast), the check ``__spark_entry__.oracle_sql`` pairs it with
at sf0.01, and its final plan must hold exactly the node counts
``plan_budget.json`` pins for it.  A plan change regenerates the budget
in the same commit, with the ``spark`` fixture's session and
``sf_smoke`` (``conftest.SF_SMOKE``):

    python3 tools/profile.py catalog --sf <SF_SMOKE> \
        --cpus 8 --shuffle-partitions 8 --budget tests/plan_budget.json
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare, duck_connection
from tools.profile import plan_counts

BUDGET = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_budget.json")


def _catalog_names():
    from transaq_clickhouse_exporter_spark.queries import parity

    return sorted(parity.catalog().keys())


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duck_connection(sf_smoke)
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns


@pytest.fixture(scope="module")
def budget():
    with open(BUDGET, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("name", _catalog_names())
def test_query_matches_oracle(spark, sf_smoke, duck, budget, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    df = qs[name](spark, sf_smoke)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check, like the driver's
        return
    compare(df, duck, oracles[name])
    # the plan compare() just ran: no extra Spark query
    got, want = plan_counts(df), budget[name]
    diff = {k: f"{want[k]} -> {got[k]}" for k in want if got[k] != want[k]}
    assert not diff, f"{name}: plan node counts changed (budget -> plan): {diff}"


def test_budget_covers_the_catalog(budget):
    assert sorted(budget) == _catalog_names()


def test_all_queries_have_oracles_or_reason():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    missing = set(qs) - set(oracles)
    # every catalog entry is oracle-paired since round 5 (mm01's 'fake'
    # decoder is a pure function of the payload bytes, so even the
    # multimodal plumbing got a DuckDB twin); keep the set explicit so
    # future oracle-less additions are deliberate
    allowed_missing: set[str] = set()
    assert missing == allowed_missing, f"queries without oracle: {missing ^ allowed_missing}"
