"""Dashboard gate over this repo's own Grafana-shaped fixture.

``perfbench/w_panels.py`` holds 3 template variables and 21 ClickHouse
panels covering the reference dashboard's constructs (``$__fromTime``/
``$__toTime``, ``toStartOfInterval(…, INTERVAL $interval MINUTE)``,
``IN [$sec_code]`` / ``NOT IN [$sec_code_etf]`` with a
subquery-defined variable, ``topK(10)``, ``uniq``, ``if()`` signed
money), each with a DuckDB twin over the same parquet files.  At the
benchmark's TINY size (5,000 seeded trades written through
``storage.write_table``) every variable and panel runs

- through ``run_ch_sql`` over FINAL snapshots, as a refresh does, and
- through the ``dashboard`` CLI over a Grafana-shaped JSON,

and each result must match its twin under ``w_panels.compare``."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import w_panels
from perfbench.common import Tracer
from transaq_clickhouse_exporter_spark.__main__ import main

SEED = 1009


@pytest.fixture(scope="module")
def board(spark, tmp_path_factory):
    """Stored tables, one library refresh, and the DuckDB twins."""
    mp = pytest.MonkeyPatch()
    mp.setattr(w_panels, "WORK", str(tmp_path_factory.mktemp("panels")))
    mp.setattr(w_panels, "N_TRADES", 5_000)  # perfbench's TINY size
    wl = w_panels.Workload(SEED, Tracer())
    wl.write_tables(spark, "tables")
    params = wl.warmup_params()
    wl.register(spark, params)
    res = wl.refresh(spark, params, rec=None)
    con = w_panels.duck_connection(wl.table_dir)
    twins = {p.name: con.execute(w_panels.render(p.duck, res["params"])).df()
             for p in w_panels.VARIABLES + w_panels.PANELS}
    con.close()
    yield wl, res, twins
    mp.undo()


def test_fixture_is_the_full_dashboard():
    # imported without PERFBENCH_TINY: every panel, not the first four
    assert len(w_panels.VARIABLES) == 3 and len(w_panels.PANELS) >= 20


def test_run_ch_sql_matches_duckdb(board):
    _, res, twins = board
    assert all(len(df) for df in res["out"].values())  # no vacuous match
    bad = {p.name: why for p in w_panels.VARIABLES + w_panels.PANELS
           if (why := w_panels.compare(p.kind, res["out"][p.name], twins[p.name]))}
    assert not bad


def test_dashboard_cli_matches_duckdb(board, tmp_path, capsys):
    wl, res, twins = board
    params = res["params"]
    data = tmp_path / "data"
    data.mkdir()
    for table in ("trades", "securities"):
        os.symlink(os.path.join(wl.table_dir, table), data / f"transaq_{table}")
    panels = {p.name: p for p in w_panels.VARIABLES + w_panels.PANELS}
    doc = {"title": "perfbench panels", "panels": [
        {"title": p.name, "type": "table",
         "targets": [{"refId": "A", "rawSql": p.ch}]} for p in panels.values()]}
    (tmp_path / "dash.json").write_text(json.dumps(doc))
    argv = ["--tz", "UTC", "dashboard", "--data-dir", str(data),
            "--json", str(tmp_path / "dash.json"), "--format", "json"]
    for k in ("__fromTime", "__toTime", "interval", "sec_code", "sec_code_etf"):
        v = params[k]
        argv += ["--param", f"{k}={','.join(v) if isinstance(v, list) else v}"]
    capsys.readouterr()
    assert main(argv) == 0
    rows: dict[str, list] = {}
    for line in capsys.readouterr().out.splitlines():
        if line.startswith("== "):
            title = line[3:]
            rows[title] = []
        else:
            rows[title].append(json.loads(line))
    assert set(rows) == set(panels)
    bad = {}
    for name, p in panels.items():
        # column order from the library run of the same panel; JSON
        # drops NULL fields and spells timestamps as text
        got = pd.DataFrame(rows[name], columns=list(res["out"][name].columns))
        want = twins[name]
        for col, dtype in zip(got.columns, want.dtypes):
            if pd.api.types.is_datetime64_any_dtype(dtype):
                got[col] = pd.to_datetime(got[col], utc=True)
        if why := w_panels.compare(p.kind, got, want):
            bad[name] = why
    assert not bad
