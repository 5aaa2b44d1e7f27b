"""SparkSession construction and session-level configuration.

The reference pins every timestamp to ``Europe/Moscow``
(``/root/reference/db.go:23``); production sessions use
:func:`get_spark` with ``tz='Europe/Moscow'``.  Oracle-compared test
sessions pin UTC so Spark and DuckDB agree on naive-timestamp
arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MOSCOW_TZ = "Europe/Moscow"

#: Defaults chosen for correctness *and* scale-out behavior:
#: AQE on (runtime join re-planning, skew-join splitting, partition
#: coalescing) and Arrow on (vectorized Pandas-UDF transfer).
_BASE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r17: the whole-stage-codegen class cache defaults to 100 entries
    # — far below this engine's working set (131-entry catalog × ~4-6
    # codegen units each), so any session that runs the catalog (the
    # bench pool, a dashboard refresh, a long test session) LRU-thrashes
    # the cache and recompiles Janino classes on every query re-run.
    # Measured at sf0.1 (quiet host, 33-query × 4-run session):
    # total 48.6 s → 29.7 s (1.63×) with op04 7.7×, op09 3.4×, op08
    # 3.0×; bench steady-state pool median 16.6 s → 10.0 s.  4096
    # bounds the cache by CLASS COUNT (plan shapes), not data size, so
    # the value is scale-independent; memory cost is compiled-class
    # metadata only (evicted classes unload with GC).
    "spark.sql.codegen.cache.maxEntries": "4096",
    # The driver's events.parquet carries TIMESTAMP(NANOS) which Spark
    # refuses by default; read as raw nanos since epoch (LongType).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}


def get_spark(
    app: str = "transaq-spark",
    cpus: int | None = None,
    tz: str = "UTC",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.  Shuffle
    partitions default to the core count — on a real cluster you would
    size this to ~2-3x total executor cores instead; AQE coalesces
    downward either way.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    b = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for k, v in session_confs(cpus, tz, shuffle_partitions, extra).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_confs(
    cpus: int,
    tz: str = "UTC",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """The confs :func:`get_spark` builds with, later entries winning:
    :data:`_BASE_CONFS`, the fixed session confs, then
    ``$SPARK_GRAFT_EXTRA_CONF``, then ``extra``."""
    confs = dict(_BASE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    confs["spark.sql.session.timeZone"] = tz
    confs["spark.ui.enabled"] = "false"
    confs["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEM", "8g")
    # Ad-hoc conf overrides for measurement experiments (guide §1):
    # `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` — lets A/B runs of bench.py/
    # profilers vary STATIC confs (codegen cache size, scheduler mode)
    # without editing code, and override any fixed conf above.  Empty
    # by default; anything that wins an A/B is promoted to _BASE_CONFS
    # with its rationale.
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            confs[k.strip()] = v.strip()
    confs.update(extra or {})
    return confs


def configure_session(spark: SparkSession, tz: str = "UTC", adaptive: bool | None = None) -> SparkSession:
    """Pin runtime confs on a session we did not build (e.g. the
    driver's).  All of these are runtime-settable SQLConfs.

    ``adaptive``: None leaves the session's AQE setting alone; True/False
    pin it.  AQE is the correct default at scale (skew-join splitting,
    partition coalescing) but its runtime re-planning adds ~20-30%
    latency on sub-GB interactive queries — micro-benchmarks may pin it
    off."""
    spark.conf.set("spark.sql.session.timeZone", tz)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if adaptive is not None:
        spark.conf.set("spark.sql.adaptive.enabled", str(adaptive).lower())
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
