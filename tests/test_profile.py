"""``tools/profile.py catalog`` records every field it documents, and
its node counts are the plan budget's: the profiler and the Tier-1 gate
(``test_parity_catalog``) measure plans the same way."""

from __future__ import annotations

import json

from tests.test_parity_catalog import BUDGET
from tools import profile

ENTRIES = ("db01_volume_by_interval_buy", "op04_asof_join")


def test_catalog_records_and_budget(spark, sf_smoke):
    rows = profile.catalog(spark, sf_smoke, ENTRIES)
    with open(BUDGET, encoding="utf-8") as f:
        budget = json.load(f)
    assert list(rows) == list(ENTRIES)
    for name, row in rows.items():
        for key in ("build_ms", "pandas_ms", "noop_ms"):
            assert row[key] > 0, (name, key)
        assert row["rows"] > 0 and row["failed"] == 0
        # one job or more per execution: toPandas, then the noop sink
        assert row["jobs"] >= 2
        assert set(row["phases"]) == {"analysis", "optimization", "planning"}
        assert row["phases"]["analysis"] > 0
        for key in ("shuffle_bytes", "spill", "peak_mem", "files", "file_bytes"):
            assert row[key] >= 0, (name, key)
        assert {k: row[k] for k in profile.BUDGET_KEYS} == budget[name], name
