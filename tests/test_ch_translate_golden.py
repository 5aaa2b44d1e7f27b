"""Byte-identity gate for the ClickHouse text translator.

Every statement of the dialect probe corpus (``tools/dialect_probe.py``
``CORPUS``) is translated with :func:`translate_ch_sql` and compared
against a committed digest: ``sha256(translation)``, or
``raise:<ExceptionClass>:<message>`` when translation raises.  Entries
are keyed by the sha256 of the input statement.  A refactor of
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
import sys
import uuid
import warnings
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tools.dialect_probe import CORPUS  # noqa: E402
from transaq_clickhouse_exporter_spark.queries import ch_compat  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "ch_translate_golden.json")


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


def corpus_digests() -> dict[str, str]:
    return {_sha(sql): _digest(sql) for sql, _ in CORPUS}


def test_probe_corpus_translations_unchanged():
    with open(FIXTURE, encoding="utf-8") as f:
        want = json.load(f)
    got = corpus_digests()
    assert set(got) == set(want), "probe corpus changed: regenerate"
    bad = [sql for sql, _ in CORPUS if got[_sha(sql)] != want[_sha(sql)]]
    for sql in bad:
        k = _sha(sql)
        print(f"--- translation changed:\n{sql}\n  want {want[k]}"
              f"\n  got  {got[k]}")
    assert not bad, f"{len(bad)} of {len(want)} translations changed"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        raise SystemExit("usage: python tests/test_ch_translate_golden.py"
                         " --write")
    with open(FIXTURE, "w", encoding="utf-8") as f:
        json.dump(corpus_digests(), f, indent=0, sort_keys=True)
        f.write("\n")
