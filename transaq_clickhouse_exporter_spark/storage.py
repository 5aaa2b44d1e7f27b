"""Table storage layout for the 100 TB shape.

The reference delegates physical layout to ClickHouse's
ReplacingMergeTree ``ORDER BY`` keys (``/root/reference/db.go:31-107``):
a sparse primary index over (secid/board/sec_code/…/time) gives it
key-range pruning and locality.  The Spark-native equivalent:

- **Partition by day** (``p_date``) — every dashboard query is a
  time-range scan (GDJ ``$__fromTime``); Hive partitioning turns that
  into partition pruning (whole days never open).
- **Sort within files by the dedup key prefix** — parquet min/max row
  -group stats then prune by secid/sec_code inside each day, and the
  dedup-on-read window finds its groups co-located.
- **Repartition on the key before write** so one security's day lands
  in few files (no small-file explosion at 1000 executors).

FINAL snapshots.  ReplacingMergeTree collapses row versions once, in
background merges; a dashboard then reads merged parts from every
panel.  :func:`read_table_range` with ``final=True`` gets the same
shape: it persists the pruned, deduplicated DataFrame it returns, so a
refresh that registers it as a view and runs 20 panels over it pays the
dedup Exchange + Sort + Window once, not once per panel.

- **Fresh per call:** every call lists the table's files and builds a
  new snapshot over that listing, so it sees every append, overwrite
  and :func:`compact_table` made before it.  Nothing is reused across
  calls: dashboard time ranges move on every refresh.
- **Bound:** at most one snapshot per table path.  A call unpersists
  the path's previous snapshot *before* it builds its own: Spark's
  cache matches any read of one root path with the same range as the
  same plan, whatever its files, so a stale entry would otherwise
  answer the new read.
- **Ordering:** listing, unpersist and registration run under one
  lock, so the registered snapshot always comes from the newest
  listing.  An older DataFrame of the same range that is still in use
  may then be served that newer snapshot, never an older one.
- **Size guard:** a snapshot is taken only when Catalyst's size
  estimate of the pruned read fits in the block managers' free storage
  memory; otherwise the plain, recomputed-per-query DataFrame is
  returned.  ``final=False`` never snapshots.

The snapshot fills lazily, on the first action that reads it.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import INGEST_SEQ, dedup_last_write_wins
from .tables import TABLES

#: Time column per table (the partition source).
_TIME_COL = {
    "transaq_trades": "time",
    "transaq_quotes": "time",
    "transaq_candles": "date",
    "transaq_securities": None,
    "transaq_securities_info": None,
    "transaq_trades_enriched": "time",  # r16 extension: trade time
}


def write_table(
    df: DataFrame, path: str, name: str, files_per_day: int | None = None, mode: str = "append"
) -> None:
    """Write a table with the scale layout: day partitions, key-sorted
    files.  ``files_per_day`` caps output files per partition (defaults
    to the session's shuffle parallelism)."""
    spec = TABLES[name]
    tcol = _TIME_COL[name]
    if tcol is None:  # small dimensions: single-dir, key-sorted
        df.sortWithinPartitions(*spec.dedup_keys).write.mode(mode).parquet(path)
        return
    out = df.withColumn("p_date", F.to_date(F.col(tcol)))
    keys = [k for k in spec.dedup_keys if k != tcol]
    if files_per_day:
        out = out.repartition(files_per_day, "p_date", *keys[:1])
    (
        out.sortWithinPartitions("p_date", *keys)
        .write.mode(mode)
        .partitionBy("p_date")
        .parquet(path)
    )


def write_table_bucketed(
    df: DataFrame,
    qualified_table: str,
    name: str,
    buckets: int = 64,
    bucket_cols: tuple[str, ...] | None = None,
) -> None:
    """Bucketed managed-table layout for the big⋈big case (e.g. trades
    ⋈ quotes co-located on ``secid``): both sides hash-bucketed and
    sorted on the key at write time join with NO exchange and NO sort
    at read time — the shuffle is paid once, at ingest, instead of per
    query.  Day-partitioning (see :func:`write_table`) remains the
    default for time-ranged analytics; bucketing is the layout for
    repeated key joins."""
    spec = TABLES[name]
    cols = list(bucket_cols or spec.dedup_keys[:1])
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, *cols)
        .sortBy(*cols)
        .format("parquet")
        .saveAsTable(qualified_table)
    )


#: Absolute table path → its one FINAL snapshot.
_SNAPSHOTS: dict[str, DataFrame] = {}
_SNAPSHOTS_LOCK = threading.Lock()


def _free_storage_bytes(spark: SparkSession) -> int:
    """Storage memory still free across the cluster's block managers."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().valuesIterator()
    free = 0
    while status.hasNext():
        free += status.next()._2()
    return free


def _pruned_read(spark: SparkSession, path: str, name: str, frm, to) -> tuple[DataFrame, list[str]]:
    """The table's rows in [``frm``, ``to``], and its schema columns.
    Building the DataFrame lists the table's files."""
    raw = spark.read.parquet(path)
    cols = [f.name for f in TABLES[name].schema.fields if f.name in raw.columns]
    df = raw
    tcol = _TIME_COL[name]
    if tcol and frm is not None:
        df = df.filter((F.col("p_date") >= F.to_date(F.lit(frm))) & (F.col(tcol) >= F.lit(frm)))
    if tcol and to is not None:
        df = df.filter((F.col("p_date") <= F.to_date(F.lit(to))) & (F.col(tcol) <= F.lit(to)))
    return df, cols


def read_table_range(
    spark: SparkSession,
    path: str,
    name: str,
    frm=None,
    to=None,
    final: bool = True,
) -> DataFrame:
    """Read with partition pruning: the ``p_date`` predicate derived
    from the time range prunes day directories before any file opens;
    the raw time predicate then prunes row groups via min/max stats.
    Dedup-on-read (``final``) runs *after* pruning — the window only
    sees surviving partitions.

    ``final=True`` returns a FINAL snapshot (see the module docstring):
    the deduplicated DataFrame over the files listed by this call,
    persisted so that every query over it reuses one dedup, and
    replacing the table path's previous snapshot.  When the pruned
    read's size estimate does not fit in free storage memory it returns
    the plain dedup plan instead."""
    if not final:
        df, cols = _pruned_read(spark, path, name, frm, to)
        return df.select(*cols)
    table = os.path.abspath(path)
    with _SNAPSHOTS_LOCK:
        old = _SNAPSHOTS.pop(table, None)
        if old is not None and old.sparkSession.sparkContext is spark.sparkContext:
            old.unpersist(blocking=False)
        df, cols = _pruned_read(spark, path, name, frm, to)
        out = dedup_last_write_wins(df, TABLES[name].dedup_keys, INGEST_SEQ).select(*cols)
        # estimated on the pruned read, not on ``out``: planning ``out``
        # before persist() would pin its plan to the uncached form
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if size <= _free_storage_bytes(spark):
            _SNAPSHOTS[table] = out.persist()
        return out


def compact_table(
    spark: SparkSession,
    path: str,
    name: str,
    target_file_mb: int = 128,
    final: bool = True,
    days: list[str] | None = None,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction — the job ClickHouse's background merges
    do for the reference's ReplacingMergeTree parts (``db.go:31-107``):
    streaming ingest appends a file per micro-batch per day, and a
    1000-executor deployment turns that into millions of tiny files
    unless something periodically rewrites them.

    Per day partition: measure on-disk bytes, rewrite the partition as
    ``ceil(bytes / target_file_mb)`` RANGE-partitioned key-sorted files
    (range, not hash: a day dominated by one security would hash into
    one oversized file plus empties), and (``final``) apply
    last-write-wins dedup DURING the rewrite — exactly the merge-tree
    contract, so a compacted table needs no dedup-on-read until new
    appends arrive.

    Crash safety: the rewrite goes to ``<dir>.compact.tmp``, then
    ``dir → <dir>.compact.old`` / ``tmp → dir`` / delete old.  Each
    rename is atomic, the whole swap is NOT — a crash between the two
    renames leaves the day offline until the next call.  Every call
    therefore begins with recovery: a leftover ``.old`` whose live dir
    is missing is renamed back (the rewrite then redoes from the
    original), any other leftover ``.tmp``/``.old`` is deleted, and
    the partition scan ignores ``.compact.*`` names so poison dirs are
    never mistaken for day partitions.  Readers racing the swap can
    observe the gap; a deployment needing read-during-compact runs it
    on a snapshot/manifest layer (object stores: flip a manifest
    instead of renaming).

    The per-day loop is metadata-driven (a directory listing), not a
    data collect; each day's rewrite is one narrow Spark job whose
    parallelism is the day's own size.  ``days`` restricts compaction
    (e.g. yesterday only — the steady-state incremental regime).

    Returns ``{day: (files_before, files_after)}``."""
    import math
    import os
    import shutil

    spec = TABLES[name]
    tcol = _TIME_COL[name]
    keys = [k for k in spec.dedup_keys if k != tcol]
    # recovery pass: heal any leftovers of a previously-crashed swap
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if entry.endswith(".compact.old"):
            live = full[: -len(".compact.old")]
            if not os.path.exists(live):
                os.rename(full, live)  # crash between the two renames
            else:
                shutil.rmtree(full)  # crash before the old dir's delete
        elif entry.endswith(".compact.tmp"):
            shutil.rmtree(full)  # incomplete rewrite — redo from source
    out: dict[str, tuple[int, int]] = {}
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("p_date=") or ".compact." in entry:
            continue
        day = entry.split("=", 1)[1]
        if days is not None and day not in days:
            continue
        part_dir = os.path.join(path, entry)
        files = [
            os.path.join(part_dir, f)
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        ]
        if not files:
            continue
        nbytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(nbytes / (target_file_mb * 1024 * 1024)))
        df = spark.read.parquet(part_dir)
        if final:
            df = dedup_last_write_wins(df, spec.dedup_keys, INGEST_SEQ)
        tmp_dir = part_dir + ".compact.tmp"
        old_dir = part_dir + ".compact.old"
        (
            df.repartitionByRange(n_out, *keys)
            .sortWithinPartitions(*keys)
            .write.mode("overwrite")
            .parquet(tmp_dir)
        )
        os.rename(part_dir, old_dir)
        os.rename(tmp_dir, part_dir)
        shutil.rmtree(old_dir)
        n_after = len(
            [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        )
        out[day] = (len(files), n_after)
    return out
