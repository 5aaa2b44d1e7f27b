"""Byte-identity gate for the ASOF JOIN bridge.

Every ASOF-bearing statement of the dialect probe corpus
(``tools/dialect_probe.py`` ``CORPUS``), the literal-row ASOF
statements of the three ASOF bridge test files, and the SQL of catalog
entries op08–op13 go through the ``_bridge_asof_join`` loop exactly as
``run_ch_sql`` drives it.  For each statement the committed fixture
holds:

- ``sql``: the sha256 of the bridged text, or
  ``raise:<ExceptionClass>:<message>`` when the bridge raises;
- ``plan``: the executed plan's ``[Exchange, Window, Sort]`` counts
  after ``run_ch_sql(...).collect()`` (``None`` when it raises).

Catalog entries op04 and op08–op14 also pin their executed-plan counts
by entry name.  A refactor of the bridge or of ``operators/asof.py``
that is meant to keep behaviour must keep this test green unchanged; a
deliberate change regenerates the fixture with
``python tests/test_asof_bridge_golden.py --write`` and says why in
its change notes.

Generated names are made reproducible per statement: ``uuid.uuid4``
yields a fixed sequence (distinct in the 12 leading hex digits the
bridge uses), and the 12-hex-digit ids inside the bridge's
``__ch_asof_<id>`` views and ``__asof_rts_<id>`` columns are renumbered
in order of first appearance, so a digest pins the rewrite and not how
many ids were drawn on the way."""

from __future__ import annotations

import ast
import contextlib
import hashlib
import itertools
import json
import os
import re
import sys
import uuid
import warnings
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.tracing import walk_plan  # noqa: E402
from tests.conftest import SF_SMOKE as SF_DIR  # noqa: E402
from tools.dialect_probe import CORPUS  # noqa: E402
from transaq_clickhouse_exporter_spark.queries import ch_compat, parity  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "asof_bridge_golden.json")
TEST_FILES = ("test_r13_asof_chain.py", "test_r15_asof_chain_fast.py",
              "test_ch_compat.py")
SQL_ENTRIES = ("op08_asof_sql_bridge", "op09_asof_left_bridge",
               "op10_asof_forward_sql", "op11_asof_using_sql",
               "op12_asof_parallel_sql", "op13_asof_chained_sql")
PLAN_ENTRIES = ("op04_asof_join",) + SQL_ENTRIES + (
    "op14_asof_multi_single_shuffle",)

_ASOF = re.compile(r"(?is)\bASOF\s+(?:LEFT\s+|INNER\s+)?JOIN\b")
_UID = re.compile(r"(__ch_asof_|__asof_rts_)([0-9a-f]{12})")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _renumber(text: str) -> str:
    ids: dict[str, str] = {}
    return _UID.sub(
        lambda m: m.group(1) + ids.setdefault(m.group(2), f"id{len(ids)}"),
        text)


@contextlib.contextmanager
def _pinned():
    seq = itertools.count(1)
    with mock.patch.object(uuid, "uuid4",
                           lambda: uuid.UUID(int=next(seq) << 96)), \
            warnings.catch_warnings():
        warnings.simplefilter("ignore")
        yield


def _literal_rows(sql: str) -> bool:
    """A whole statement whose every FROM/JOIN source is a subquery, a
    CTE of the statement, or ``numbers``/``range`` — it needs no table."""
    if not re.match(r"(?i)\s*(SELECT|WITH)\b", sql):
        return False
    defined = set(re.findall(r"\b([A-Za-z_]\w*)\s+AS\s*\(", sql))
    return all(
        m.group(1) in defined or m.group(1).lower() in ("numbers", "range")
        for m in re.finditer(r"(?i)\b(?:FROM|JOIN)\s+([A-Za-z_]\w*)", sql))


def _test_file_statements() -> list[str]:
    out = []
    for name in TEST_FILES:
        with open(os.path.join(HERE, name), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        out += [n.value for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
                and _ASOF.search(n.value) and _literal_rows(n.value)]
    return out


def _bridged(spark, sql: str) -> str:
    """The ``run_ch_sql`` prefix up to and including the ASOF loop."""
    views: list[str] = []
    with _pinned():
        try:
            sql = ch_compat._normalize_escapes(sql)
            sql = ch_compat._star_apply_columns(spark, sql, None)
            sql, _ = ch_compat._extract_with_fill(sql)
            for _ in range(8):
                sql, view = ch_compat._bridge_asof_join(spark, sql, None)
                if view is None:
                    break
                views.append(view)
            return _sha(_renumber(sql))
        except Exception as e:  # the raise is part of the contract
            # analyzer messages embed session-global expression ids
            return re.sub(r"#\d+", "#", _renumber(
                f"raise:{type(e).__name__}:{e}"))
        finally:
            for v in views:
                spark.catalog.dropTempView(v)


def _counts(df) -> list[int]:
    df.collect()
    p = walk_plan(df._jdf.queryExecution().executedPlan())
    return [p["exchanges"], p["windows"], p["sorts"]]


def _executed(spark, sql: str) -> list[int] | None:
    with _pinned():
        try:
            return _counts(ch_compat.run_ch_sql(spark, sql))
        except Exception:
            return None


def _catalog_run(spark, name: str) -> tuple[list[int], str | None]:
    """Build one catalog entry under pinned ids; returns its plan counts
    and the statement it handed to ``run_ch_sql`` (outermost call)."""
    seen: list[str] = []
    real = ch_compat.run_ch_sql

    def record(spark_, sql, *a, **k):
        seen.append(sql)
        return real(spark_, sql, *a, **k)

    with _pinned():
        with mock.patch.object(ch_compat, "run_ch_sql", record):
            df = parity.run(spark, SF_DIR, name)
        return _counts(df), (seen[0] if seen else None)


def digests(spark) -> dict[str, dict]:
    out: dict[str, dict] = {}
    stmts = [sql for sql, _ in CORPUS if _ASOF.search(sql)]
    stmts += _test_file_statements()
    for name in PLAN_ENTRIES:  # parity.run registers the views first
        plan, sql = _catalog_run(spark, name)
        out[name] = {"plan": plan}
        if name in SQL_ENTRIES:
            assert sql is not None, name
            stmts.append(sql)
    for sql in stmts:
        out.setdefault(_sha(sql), {
            "sql": _bridged(spark, sql), "plan": _executed(spark, sql)})
    return out


def test_asof_bridge_unchanged(spark):
    with open(FIXTURE, encoding="utf-8") as f:
        want = json.load(f)
    got = digests(spark)
    assert set(got) == set(want), "statement set changed: regenerate"
    bad = sorted(k for k in want if got[k] != want[k])
    for k in bad:
        print(f"--- {k}\n  want {want[k]}\n  got  {got[k]}")
    assert not bad, f"{len(bad)} of {len(want)} ASOF digests changed"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        raise SystemExit("usage: python tests/test_asof_bridge_golden.py"
                         " --write")
    from transaq_clickhouse_exporter_spark.session import get_spark

    s = get_spark(app="tce-asof-golden", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    with open(FIXTURE, "w", encoding="utf-8") as f:
        json.dump(digests(s), f, indent=0, sort_keys=True)
        f.write("\n")
