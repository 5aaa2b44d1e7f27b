"""Lazy shim registration creates dependencies first.

Spark resolves a SQL function body when the function is created, so a
shim whose body calls another shim (``JSONExtractInt`` →
``ch_json_v_int``) can only be created after it.  ``run_ch_sql``
registers just the shims a statement names (``needed=…``) plus their
dependency closure; these tests register each calling shim ALONE on a
fresh session — whatever the interpreter's string-hash seed — and call
it once, and register from several threads on one session."""

from __future__ import annotations

import re
import sys
import threading

from transaq_clickhouse_exporter_spark.queries.ch_compat import (
    _SCALAR_SHIMS,
    _SHIMS_MARKER,
    register_ch_functions,
)


def _callers() -> list[str]:
    low = {n.lower(): n for n in _SCALAR_SHIMS}
    return sorted(
        n for n, body in _SCALAR_SHIMS.items()
        if any(low.get(m.group(1).lower(), n) != n
               for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", body)))


def _call(spark, name: str) -> list:
    # every calling shim takes (url) or (json, key) STRING arguments
    n_args = _SCALAR_SHIMS[name].split(")", 1)[0].count(",") + 1
    args = ("'https://news.example.co.uk/a'" if n_args == 1
            else "'{\"a\": 1}', 'a'")
    return spark.sql(f"SELECT {name}({args}) AS v").collect()


def test_each_calling_shim_registers_alone(spark):
    callers = _callers()
    assert len(callers) == 15
    failed = []
    for name in callers:
        fresh = spark.newSession()
        try:
            register_ch_functions(fresh, needed={name})
            assert len(_call(fresh, name)) == 1
        except Exception as e:
            failed.append(f"{name}: {str(e).splitlines()[0][:100]}")
    assert not failed, f"{len(failed)} of {len(callers)}: {failed}"


def test_concurrent_registration_keeps_every_name(spark):
    """More threads than cores register disjoint shims on one fresh
    session; a lost update of the marker would drop names from it."""
    fresh = spark.newSession()
    callers = _callers()
    groups = [callers[i::8] for i in range(8)]
    errors: list[Exception] = []

    def work(names):
        try:
            for name in names:
                register_ch_functions(fresh, needed={name})
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(g,)) for g in groups]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    listed = set(fresh.conf.get(_SHIMS_MARKER).split(":", 1)[1].split(","))
    assert set(callers) <= listed
    for name in callers:
        assert len(_call(fresh, name)) == 1
