"""Byte-identity gate for the ClickHouse text translator.

Every golden input is translated with :func:`translate_ch_sql` and
compared against a committed digest: ``sha256(translation)``, or
``raise:<ExceptionClass>:<message>`` when translation raises.  Entries
are keyed by the sha256 of the input statement.  The inputs are:

- every statement of the dialect probe corpus (``tools/dialect_probe.py``
  ``CORPUS``);
- the call-shape probe ``SELECT <name>(c1, c2) FROM __t`` for every name
  of the collision sweep's ClickHouse universe
  (``tools/collision_sweep.py`` ``CH_FUNCTIONS``), spelled as documented,
  upper-cased and lower-cased, which pins each name's case rule;
- ``EXTRA``: correct-arity calls of the names neither list reaches, the
  ``(params)(args)`` forms and the ``-State``/``-Merge`` refusals.

A refactor of
``ch_compat.py`` that is meant to keep behaviour must keep this test
green unchanged; a deliberate translation change regenerates the
fixture with ``python tests/test_ch_translate_golden.py --write`` and
says why in its change notes.

Generated names are made reproducible per statement: the lambda
variable counter restarts at 1 and ``uuid.uuid4`` yields a fixed
sequence, so a digest does not depend on what ran earlier in the
process.  Pure Python: no Spark session."""

from __future__ import annotations

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

from tools.collision_sweep import CH_FUNCTIONS  # noqa: E402
from tools.dialect_probe import CORPUS  # noqa: E402
from transaq_clickhouse_exporter_spark.queries import ch_compat  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "ch_translate_golden.json")


#: translate-only statements over a notional ``t(x, y, f, ts, s, arr)``
EXTRA = (
    # correct-arity calls of names no other input reaches
    "SELECT anyLastIf(x, f) FROM t",
    "SELECT argMaxIf(x, y, f) FROM t",
    "SELECT argMinIf(x, y, f) FROM t",
    "SELECT arrayDotProduct([1, 2], [3, 4])",
    "SELECT avgDistinct(x) FROM t",
    "SELECT avgIf(x, f) FROM t",
    "SELECT groupArrayIf(x, f) FROM t",
    "SELECT groupUniqArrayIf(x, f) FROM t",
    "SELECT maxIf(x, f) FROM t",
    "SELECT medianExactIf(x, f) FROM t",
    "SELECT medianIf(x, f) FROM t",
    "SELECT minIf(x, f) FROM t",
    "SELECT multiSearchAnyCaseInsensitive('Hello', ['hel', 'xyz'])",
    "SELECT multiSearchAny('Hello', ['hel', 'xyz'])",
    "SELECT toDecimal128(x, 4) FROM t",
    "SELECT toIntervalSecond(1), toIntervalMinute(2), toIntervalHour(3),"
    " toIntervalDay(4), toIntervalWeek(5), toIntervalMonth(6),"
    " toIntervalQuarter(7), toIntervalYear(8)",
    "SELECT uniqIf(x, f) FROM t",
    "SELECT covarPopStable(x, y), covarSampStable(x, y) FROM t",
    "SELECT stddevPopStable(x), stddevSampStable(x) FROM t",
    "SELECT varPopStable(x), varSampStable(x) FROM t",
    "SELECT dictGetOrDefault('d', 'a', x, 0) FROM t",
    "SELECT exponentialTimeDecayedCount(10)(ts) FROM t",
    "SELECT exponentialTimeDecayedMax(10)(x, ts) FROM t",
    "SELECT wyHash64(s) FROM t",
    "SELECT arrayIntersect([1, 2, 3], [2, 3], [3])",
    # the (params)(args) forms, and the same names without params
    "SELECT topK(3)(x) FROM t",
    "SELECT topK (3) (x) FROM t",
    "SELECT topK(x) FROM t",
    "SELECT topKWeighted(3)(x, y) FROM t",
    "SELECT uniqUpTo(3)(x) FROM t",
    "SELECT sequenceMatch('(?1)(?2)')(ts, x = 1, x = 2) FROM t",
    "SELECT sequenceCount('(?1)(?2)')(ts, x = 1, x = 2) FROM t",
    "SELECT windowFunnel(3600)(ts, x = 1, x = 2) FROM t",
    "SELECT sequenceNextNode('forward', 'head')(ts, s, x = 1) FROM t",
    "SELECT exponentialMovingAverage(5)(x, ts) FROM t",
    "SELECT largestTriangleThreeBuckets(4)(ts, x) FROM t",
    "SELECT lttb(4)(ts, x) FROM t",
    "SELECT quantiles(0.25, 0.5)(x), quantilesExact(0.1)(x) FROM t",
    "SELECT quantilesDeterministic(0.5)(x, 7) FROM t",
    "SELECT quantilesTiming(0.9)(x), quantilesTDigest(0.9)(x) FROM t",
    "SELECT quantiles(x) FROM t",
    "SELECT quantileExactWeighted(0.5)(x, y) FROM t",
    "SELECT quantileTimingWeighted(0.5)(x, y) FROM t",
    "SELECT quantileExactWeighted(x, y) FROM t",
    "SELECT quantile(0.9)(x), quantileExact(0.9)(x) FROM t",
    "SELECT quantileExactLow(0.9)(x), quantileExactHigh(0.9)(x) FROM t",
    "SELECT quantileDeterministic(0.9)(x, 1) FROM t",
    "SELECT quantileTiming(0.9)(x), quantileTDigest(0.9)(x) FROM t",
    "SELECT quantile\n(0.9)\t(x) FROM t",
    "SELECT quantile(x), quantileExactHigh(x), quantileTDigest(x) FROM t",
    "SELECT groupArray(3)(x) FROM t",
    "SELECT groupUniqArray(3)(x) FROM t",
    "SELECT groupArray(x), groupUniqArray(x) FROM t",
    "SELECT sumIf(x, f)(y) FROM t",
    "SELECT count(x)(y) FROM t",
    # -State / -Merge sketches are refused
    "SELECT sumState(x) FROM t",
    "SELECT quantilesTDigestIfMergeState(x) FROM t",
    "SELECT uniqCombined64SimpleState(x) FROM t",
    "SELECT argMaxMerge(x) FROM t",
)


def golden_inputs() -> list[str]:
    """The probe corpus, the call-shape probes and ``EXTRA``, each
    statement once."""
    inputs = dict.fromkeys(sql for sql, _ in CORPUS)
    for name in CH_FUNCTIONS:
        for spelled in (name, name.upper(), name.lower()):
            inputs[f"SELECT {spelled}(c1, c2) FROM __t"] = None
    inputs.update(dict.fromkeys(EXTRA))
    return list(inputs)


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _digest(sql: str) -> str:
    seq = itertools.count(1)
    with mock.patch.object(ch_compat, "_BIND_SEQ", itertools.count(1)), \
            mock.patch.object(uuid, "uuid4",
                              lambda: uuid.UUID(int=next(seq))), \
            warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            return _sha(ch_compat.translate_ch_sql(sql))
        except Exception as e:  # the raise is part of the contract
            return f"raise:{type(e).__name__}:{e}"


def golden_digests() -> dict[str, str]:
    return {_sha(sql): _digest(sql) for sql in golden_inputs()}


def test_probe_corpus_translations_unchanged():
    with open(FIXTURE, encoding="utf-8") as f:
        want = json.load(f)
    got = golden_digests()
    assert set(got) == set(want), "golden inputs changed: regenerate"
    bad = [sql for sql in golden_inputs()
           if got[_sha(sql)] != want[_sha(sql)]]
    for sql in bad:
        k = _sha(sql)
        print(f"--- translation changed:\n{sql}\n  want {want[k]}"
              f"\n  got  {got[k]}")
    assert not bad, f"{len(bad)} of {len(want)} translations changed"


def test_every_registry_name_is_a_golden_call():
    """Each call-registry entry is pinned: its name is called in some
    golden input (in any casing for a case-insensitive entry)."""
    called = {m.group(1) for sql in golden_inputs()
              for m in re.finditer(r"([A-Za-z_]\w*)\s*\(", sql)}
    lowered = {name.lower() for name in called}
    missing = ([n for n in ch_compat._CALLS if n not in called]
               + [n for n in ch_compat._CALLS_CI if n not in lowered])
    assert not missing, f"no golden input calls {sorted(missing)}"


def test_registry_refuses_a_second_claim():
    """A name is claimed once: again exactly, in a casing that a
    case-insensitive entry matches, or as a -State/-Merge spelling."""
    before = (dict(ch_compat._CALLS), dict(ch_compat._CALLS_CI))
    for name, ci in (("sumIf", False), ("sumIF", True), ("ROUND", False),
                     ("Round", True), ("sumState", False),
                     ("uniqmerge", True)):
        try:
            ch_compat._register(name, lambda call: None, ci=ci)
        except ValueError:
            continue
        raise AssertionError(f"{name!r} (ci={ci}) registered twice")
    assert (ch_compat._CALLS, ch_compat._CALLS_CI) == before


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        raise SystemExit("usage: python tests/test_ch_translate_golden.py"
                         " --write")
    with open(FIXTURE, "w", encoding="utf-8") as f:
        json.dump(golden_digests(), f, indent=0, sort_keys=True)
        f.write("\n")
