"""Fast self-test of the benchmark itself (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Every workload runs at tiny size (a few ops, ``PERFBENCH_TINY=1``):

- untraced, it must print every end-to-end metric of BENCHMARK.json
  with its unit, attempt at least one op, fail none and be correct;
- with one injected op failure, it must count that failure and report
  ``correct: false``;
- traced, it must print every per-layer metric with its unit, and the
  spans it kept must be well formed (each child inside its parent,
  self time >= 0).  A traced run prints only the metrics it sampled,
  so a layer left unmeasured on a workload fails here.

The span checker is also run on hand-made malformed spans.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.common import Tracer  # noqa: E402


def run(workload: str, trace: int, env_extra: dict) -> dict:
    env = dict(os.environ, PERFBENCH_TINY="1", **env_extra)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "0",
           "--seconds", "0.1", "--trace", str(trace), "--keep-work"]
    p = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(workload: str, out: dict, spec: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    names = {m["name"]: m["unit"] for m in spec}
    assert set(out["metrics"]) == set(names), (workload, set(out["metrics"]) ^ set(names))
    for k, v in out["metrics"].items():
        assert v["unit"] == names[k], (workload, k, v)
        assert isinstance(v["value"], (int, float)), (workload, k, v)


def check_span_checker() -> None:
    good = Tracer(enabled=True)
    with good.span("a"):
        with good.span("b"):
            pass
    assert good.check() == [], good.check()
    bad = Tracer()
    bad.spans = [["p", 0.0, 1.0, -1], ["c", 0.5, 1.5, 0]]  # child ends after parent
    assert any("outside parent" in p for p in bad.check())
    bad.spans = [["p", 0.0, 1.0, -1], ["c1", 0.0, 0.7, 0], ["c2", 0.2, 0.9, 0]]  # overlap
    assert any("negative self time" in p for p in bad.check())


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_span_checker()
    work = os.path.join(ROOT, ".perfbench_work")
    for w in [w["name"] for w in bench["workloads"]]:
        out = run(w, 0, {})
        check_metrics(w, out, bench["end_to_end"])
        assert out["correct"] and out["failed"] == 0, (w, out)
        out = run(w, 0, {"PERFBENCH_INJECT_FAILURE": "1"})
        assert out["failed"] >= 1 and not out["correct"], (w, out)
        out = run(w, 1, {})
        check_metrics(w, out, bench["per_layer"])
        assert out["correct"] and out["failed"] == 0, (w, out)
        spans = Tracer()
        with open(os.path.join(work, "spans.json")) as f:
            spans.spans = json.load(f)
        assert spans.spans, f"{w}: traced run kept no spans"
        assert spans.check() == [], (w, spans.check()[:5])
        print(f"selftest {w}: ok ({len(spans.spans)} spans)")
    shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
