#!/usr/bin/env python3
"""Round-17 optimization profiler: per-query noop-sink timings + formatted
plans (guide §1.1/§1.4/§1.5).

For each named catalog query (default: the heavy set) in a warm session at
$SPARK_GRAFT_SF_DIR (default sf0.1):

* time `df.write.format("noop")` — computation only, no result transfer —
  first build + median of N rebuilds (fresh plans, full re-execution);
* optionally (--plans) write `.explain("formatted")` to
  plans/r17/<name>_<tag>.txt;
* optionally (--pandas) also time the bench's toPandas action for the
  transfer-vs-compute split.

Run: python tools/profile_r17.py [--plans TAG] [--pandas] [--reps N] [name ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transaq_clickhouse_exporter_spark.queries import parity  # noqa: E402
from transaq_clickhouse_exporter_spark.session import get_spark  # noqa: E402
from transaq_clickhouse_exporter_spark.testdata import register_views  # noqa: E402

DEFAULT_PICKS = [
    "ev31_max_intersections_sql", "op13_asof_chained_sql",
    "dp32_chunk_search_lsh", "op10_asof_forward_sql", "op11_asof_using_sql",
    "op07_aggregating_states", "op01_dedup_last_write_wins",
    "op12_asof_parallel_sql", "dp02_text_profile", "ev23_per_group_topn_sql",
    "dp28_bigram_lm", "dp16_dup_clusters", "op04_asof_join",
    "op09_asof_left_bridge", "op08_asof_sql_bridge", "tp07_hll_distinct",
    "ev30_exponential_moving_average_sql", "ann02_lsh_topk", "ann03_ivf_topk",
    "dp22_passage_dedup", "an06_ema", "ev06_funnel", "ev08_window_funnel",
    "dp31_chunk_search", "ev29_sequence_next_node_sql", "ev33_sequence_time_guards_sql",
    "op14_asof_multi_single_shuffle", "dp05_minhash_lsh_near_dups",
    "in05_candle_builder_exact", "in06_candles_rollup", "db03_netto_buy_top10",
    "db01_volume_by_interval_buy", "dp19_repetition_profile",
]


def main() -> None:
    args = sys.argv[1:]
    plans_tag = None
    do_pandas = False
    reps = 3
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans":
            plans_tag = args[i + 1]
            i += 2
        elif a == "--pandas":
            do_pandas = True
            i += 1
        elif a == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(a)
            i += 1
    if not names:
        names = DEFAULT_PICKS

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app="tce-profile-r16")
    register_views(spark, sf_dir)
    parity.register_derived_views(spark, sf_dir)
    cat = parity.catalog()
    for t in ("trades", "documents", "embeddings", "doc_shingles", "doc_bands",
              "ticks", "quotes_dup", "trades_dup", "lineitem", "ev",
              "chunk_index", "sess_windows"):
        spark.table(t).count()
    cat["dp02_text_profile"].build(spark).toPandas()  # python worker warm

    plan_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "plans", "r17")
    os.makedirs(plan_dir, exist_ok=True)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        if name not in cat:
            print(f"!! unknown query {name}", flush=True)
            continue
        spec = cat[name]
        spark.sparkContext.setJobDescription(f"r17-profile {name}")
        t0 = time.perf_counter()
        df = spec.build(spark)
        built = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(df)
        first = time.perf_counter() - t0
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            noop(spec.build(spark))
            times.append(time.perf_counter() - t0)
        rec = {
            "build_s": round(built, 3),
            "first_noop_s": round(first, 3),
            "median_noop_s": round(statistics.median(times), 3),
            "min_noop_s": round(min(times), 3),
        }
        if do_pandas:
            tp = []
            for _ in range(reps):
                t0 = time.perf_counter()
                spec.build(spark).toPandas()
                tp.append(time.perf_counter() - t0)
            rec["median_topandas_s"] = round(statistics.median(tp), 3)
        if plans_tag:
            with open(os.path.join(plan_dir, f"{name}_{plans_tag}.txt"), "w") as f:
                f.write(spec.build(spark)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        out[name] = rec
        print(name, json.dumps(rec), flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
