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

and each result must match its twin under ``w_panels.compare``.  The
join panels must analyze once, the ``topK`` panel must pre-aggregate,
and the panels must run with an empty ETF variable."""

from __future__ import annotations

import json
import os
import warnings

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from perfbench import w_panels
from perfbench.common import Tracer
from transaq_clickhouse_exporter_spark.__main__ import main
from transaq_clickhouse_exporter_spark.queries.ch_compat import TopkFallbackWarning, run_ch_sql

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


def test_join_panels_analyze_once(board, spark, monkeypatch):
    """ClickHouse's left-table rule for a column on both join sides
    (``board``) is resolved before analysis: each join statement runs
    ``spark.sql`` once, with no failed analysis to retry past."""
    _, res, twins = board
    calls = []
    sql = SparkSession.sql

    def counted(self, *a, **k):
        calls.append(a[0])
        return sql(self, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", counted)
    joins = [p for p in w_panels.VARIABLES + w_panels.PANELS if " JOIN " in p.ch]
    assert len(joins) == 6
    for p in joins:
        calls.clear()
        got = run_ch_sql(spark, p.ch, res["params"], w_panels.TABLE_MAP).toPandas()
        assert len(calls) == 1, p.name
        assert len(got) and not w_panels.compare(p.kind, got, twins[p.name]), p.name


def test_subquery_join_retries_with_leftmost_holder(board, spark, monkeypatch):
    """A column of a subquery side is only known once Spark analyzes it:
    each ``AMBIGUOUS_REFERENCE`` is qualified with the leftmost relation
    Spark lists as holding the column, and the statement retried.
    ``lotsize`` is on the two subquery sides, not on the trades."""
    _, res, _ = board
    sql = ("SELECT {t}board, {s}lotsize AS lot, count() AS n FROM default.transaq_trades"
           " JOIN (SELECT seccode, board, lotsize FROM default.transaq_securities) s"
           " ON (sec_code = s.seccode AND {t}board = s.board)"
           " JOIN (SELECT seccode AS code, lotsize FROM default.transaq_securities) u"
           " ON s.seccode = u.code WHERE time >= $__fromTime AND time <= $__toTime"
           " GROUP BY {t}board, lot ORDER BY {t}board, lot")
    calls = []
    real = SparkSession.sql

    def counted(self, *a, **k):
        calls.append(a[0])
        return real(self, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", counted)
    got = run_ch_sql(spark, sql.format(t="", s=""), res["params"],
                     w_panels.TABLE_MAP).toPandas()
    assert len(calls) == 3  # one failed analysis per ambiguous column
    assert "s.lotsize AS lot" in calls[-1] and "pb_trades.board = s.board" in calls[-1]
    want = run_ch_sql(spark, sql.format(t="pb_trades.", s="s."), res["params"],
                      w_panels.TABLE_MAP).toPandas()
    assert len(calls) == 4  # the qualified statement analyzes once
    assert len(got) and got.equals(want)


def test_topk_panel_over_group_by_alias_preaggregates(board, spark):
    """``GROUP BY t`` naming the SELECT alias of the bucket expression
    takes the topK pre-aggregation, not the n-sized fallback."""
    _, res, twins = board
    (p,) = [p for p in w_panels.PANELS if p.name == "top_codes_by_interval"]
    with warnings.catch_warnings():
        warnings.simplefilter("error", TopkFallbackWarning)
        got = run_ch_sql(spark, p.ch, res["params"], w_panels.TABLE_MAP,
                         strict_scale=True).toPandas()
    assert len(got) and not w_panels.compare("topk", got, twins[p.name])


def test_panels_with_empty_multi_value_variable(board, spark):
    """An ETF variable whose query returns no rows: ``NOT IN []`` keeps
    every row and ``IN []`` keeps none, as in ClickHouse."""
    wl, res, _ = board
    params = dict(res["params"], sec_code_etf=[])
    con = w_panels.duck_connection(wl.table_dir)
    checked = 0
    for p in w_panels.PANELS:
        if "NOT IN [$sec_code_etf]" in p.ch:
            duck = p.duck.replace("sec_code NOT IN ($sec_code_etf)", "true")
        elif "IN [$sec_code_etf]" in p.ch:
            duck = p.duck.replace("sec_code IN ($sec_code_etf)", "false")
        else:
            continue
        got = run_ch_sql(spark, p.ch, params, w_panels.TABLE_MAP).toPandas()
        want = con.execute(w_panels.render(duck, params)).df()
        assert not w_panels.compare(p.kind, got, want), p.name
        checked += len(want) > 0
    con.close()
    assert checked >= 4
