#!/usr/bin/env python3
"""Pool-makespan sweep (VERDICT r16 item 1): run bench.py under a set
of `SPARK_GRAFT_BENCH_CONCURRENCY` values (and optional extra env
overrides), one fresh process per setting, and tabulate
cold/steady/canary so the best scheduling configuration is chosen from
measurement rather than taste.

Run: python tools/sweep_pool.py [conc ...]        (default 8 12 16 24 32)
     env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS pass through.
Each setting runs ONCE per invocation; interleave invocations for
repetition so host drift spreads across settings evenly.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_one(conc: int, extra_env: dict | None = None) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_CONCURRENCY"] = str(conc)
    env.update(extra_env or {})
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO,
    )
    if p.returncode != 0:
        raise RuntimeError(f"bench.py exited {p.returncode} at conc={conc}:\n{p.stderr}")
    last = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")][-1]
    d = json.loads(last)
    return {
        "conc": conc,
        "cold": d["value"],
        "steady": d["steady_state_sec"],
        "canary": d["host_canary"],
        "canary_post": d["host_canary_post"],
    }


def main() -> None:
    concs = [int(a) for a in sys.argv[1:]] or [8, 12, 16, 24, 32]
    out = []
    for c in concs:
        r = run_one(c)
        out.append(r)
        print(json.dumps(r), flush=True)
    best = min(out, key=lambda r: r["steady"])
    print(f"# best steady: conc={best['conc']} steady={best['steady']}")


if __name__ == "__main__":
    main()
