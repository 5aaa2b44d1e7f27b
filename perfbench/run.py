"""Benchmark entry point.

    python3 perfbench/run.py --workload panels --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: imports the package from the
working directory, generates its inputs from ``--seed`` under
``.perfbench_work/``, sets the workload up ``SETUP_REPS`` times on one
session after one cold pass (``setup_s`` is session start, that pass and
the median set-up), measures whole passes of ops in a
single-threaded closed loop until ``--seconds`` have elapsed, checks
the outputs, and prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a second, traced window (plus the tracing overhead
against the untraced window before it).  Host canary and JVM GC
counters are printed on a ``diagnostics`` line in every run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("panels", "ingest")
SETUP_REPS = 1 if common.TINY else 3


class Recorder:
    """Counts attempted/failed ops and keeps each op's latency."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lat_ms: list[float] = []
        self.problems: list[str] = []
        self.before_op = None  # trace hooks: (name) and (name, ms)
        self.after_op = None
        # self-test hook: fail the first op to prove failures are counted
        self.inject = os.environ.get("PERFBENCH_INJECT_FAILURE") == "1"

    def _injected(self) -> bool:
        hit, self.inject = self.inject, False
        return hit

    def op(self, name: str, fn):
        self.attempted += 1
        if self.before_op is not None:
            self.before_op(name)
        t = time.perf_counter()
        try:
            if self._injected():
                raise RuntimeError("injected failure")
            out = fn()
        except Exception as e:  # any exception is a failed op
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None
        ms = (time.perf_counter() - t) * 1e3
        self.lat_ms.append(ms)
        if self.after_op is not None:
            self.after_op(name, ms)
        return out

    def add(self, name: str, ms: float, ok: bool = True, why: str = "") -> None:
        """Record an op timed elsewhere (a streaming micro-batch)."""
        self.attempted += 1
        if self._injected():
            ok, why = False, "injected failure"
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {why}")
            return
        self.lat_ms.append(ms)

    def check(self, name: str, problem: str | None) -> None:
        if problem:
            self.failed += 1
            self.problems.append(f"check {name}: {problem}")


def load(workload: str):
    mod = importlib.import_module(f"perfbench.w_{workload}")
    return mod.Workload


def measure(wl, spark, seconds: float, rec: Recorder) -> float:
    """Whole passes until ``seconds`` have elapsed; returns wall time."""
    t0 = time.perf_counter()
    while True:
        wl.run_pass(spark, rec)
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


def e2e(wl, rec: Recorder, wall_s: float, setup_s: float) -> dict:
    work = getattr(wl, "work_units", None)
    units = work() if work else len(rec.lat_ms)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "work_per_s": {"value": units / wall_s, "unit": "1/s"},
        "op_p50_ms": {"value": common.pct(rec.lat_ms, 50), "unit": "ms"},
    }


def stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-work", action="store_true", help="leave .perfbench_work/ behind")
    args = ap.parse_args(argv)

    sys.path.insert(0, common.ROOT)
    try:
        import transaq_clickhouse_exporter_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package under test is not importable here: {e}", file=sys.stderr)
        return 3
    if not os.path.abspath(pkg.__file__).startswith(common.ROOT + os.sep):
        print(f"perfbench: {pkg.__file__} is not the checkout's package", file=sys.stderr)
        return 3
    common.prepare_work_dir()
    from perfbench import tracing

    tracer = common.Tracer(enabled=False)
    probe = tracing.Probe(tracer) if args.trace else None
    diag: dict = {"workload": args.workload, "seed": args.seed}
    t_start = t0 = time.perf_counter()
    spark = common.new_session()
    diag["setup.session_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl = load(args.workload)(args.seed, tracer)
        diag["inputs_s"] = time.perf_counter() - t0
        # one cold pass, then SETUP_REPS identical warm re-setups on the
        # same session; setup_s = session start + cold pass + median
        t0 = time.perf_counter()
        wl.prewarm(spark)
        prewarm_s = time.perf_counter() - t0
        setups = []
        for rep in range(SETUP_REPS):
            parts = wl.setup(spark, rep)
            setups.append((sum(parts.values()), parts))
        setups.sort(key=lambda x: x[0])
        setup_s, setup_parts = setups[len(setups) // 2]
        setup_s += diag["setup.session_s"] + prewarm_s
        setup_parts["prewarm_s"] = prewarm_s
        diag.update({f"setup.{k}": v for k, v in setup_parts.items()})

        rec = Recorder()
        canary = [common.canary_ms()]
        gc0 = common.gc_counters(spark)
        wall = measure(wl, spark, args.seconds, rec)
        gc1 = common.gc_counters(spark)
        canary.append(common.canary_ms())
        diag["host.canary_ms"] = common.median(canary)
        diag["jvm.gc_ms"] = gc1[0] - gc0[0]
        diag["jvm.gc_count"] = gc1[1] - gc0[1]
        diag["window_s"] = wall
        diag["ops"] = len(rec.lat_ms)
        metrics = e2e(wl, rec, wall, setup_s)

        layer = None
        if args.trace:
            layer = tracing.traced_window(wl, spark, args.seconds, probe, Recorder, measure)
            for k, v in diag.items():
                if k.startswith(("setup.", "host.", "jvm.")):
                    layer.setdefault(k, v)
            layer["op_p90_ms"] = common.pct(rec.lat_ms, 90)
            layer["op_p99_ms"] = common.pct(rec.lat_ms, 99)
            base = metrics["op_p50_ms"]["value"]
            layer["trace.overhead_pct"] = 100.0 * (layer.pop("_traced_p50_ms") / base - 1)
            problems = tracer.check()
            if problems:
                rec.problems.extend(problems[:5])
                rec.failed += 1
            tracer.dump(os.path.join(common.WORK, "spans.json"))
            rec.attempted += layer.pop("_attempted")
            rec.failed += layer.pop("_failed")
        t0 = time.perf_counter()
        wl.check(spark, rec)
        diag["check_s"] = time.perf_counter() - t0
        diag.update(getattr(wl, "diag", {}))
    finally:
        stop_jvm(spark)
        if not args.keep_work:
            shutil.rmtree(common.WORK, ignore_errors=True)

    diag["run_s"] = time.perf_counter() - t_start
    for p in rec.problems[:20]:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"diagnostics": diag}))
    if args.trace:
        units = tracing.UNITS
        # only what the traced run measured: a layer it never sampled
        # is missing from the result, not printed as 0
        metrics = {k: {"value": float(layer[k]), "unit": units[k]} for k in units if k in layer}
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(2)
