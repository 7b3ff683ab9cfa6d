"""Sinks: load modes and partition-aware writes (SURVEY.md §2.1 S3-S6).

The reference has two load modes (``reference: dags/de_spotify_to_bronze.py``):
``full`` = TRUNCATE + insert (:193-196) and ``batch`` = append (:198-200),
selected by config with a guard that a *scheduled* run may not be a full
load (:58-60). Spark mapping: ``overwrite`` / ``append`` save modes.

Scale posture: bronze is partitioned by ``batch_identifier`` — the
idiomatic replacement for the reference's B-tree indexes
(``reference: dags/sql/de_spotify_create_table.sql:31-33``): partition
pruning + parquet min/max row-group skipping serve the same access paths.
"""

from __future__ import annotations

from contextlib import contextmanager
from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class LoadMode(str, Enum):
    FULL = "full"  # TRUNCATE + insert ≡ overwrite
    BATCH = "batch"  # append


class ScheduledFullLoadError(ValueError):
    """A scheduled run may not request a full load
    (reference: dags/de_spotify_to_bronze.py:58-60)."""


def resolve_load_mode(load_type: str, run_type: str = "manual") -> LoadMode:
    mode = LoadMode(load_type)
    if mode is LoadMode.FULL and run_type == "scheduled":
        raise ScheduledFullLoadError(
            "load_type='full' is not allowed for scheduled runs"
        )
    return mode


def write_table(
    df: DataFrame,
    path: str,
    mode: LoadMode = LoadMode.BATCH,
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
) -> None:
    """Write a table in the selected load mode.

    ``sort_within_partitions`` gives scan locality on a hot key (the
    analogue of the reference's ``idx_track_id``) without a global sort.
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode("overwrite" if mode is LoadMode.FULL else "append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_with_metrics(
    df: DataFrame,
    path: str,
    mode: LoadMode = LoadMode.BATCH,
    count_nulls: list[str] | None = None,
    metrics: list[Column] | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Write + observe in ONE pass: the reference validates loads by
    re-counting the table after insert (reference:
    dags/de_spotify_to_bronze.py:213-214 — a second full scan); Spark's
    Observation API attaches aggregates to the write job itself, so row
    count and per-column null counts are collected as the data streams
    to the sink — zero extra scans at any scale. ``metrics`` adds any
    further aggregate columns, named by their aliases (plain aggregates
    only: ``observe`` rejects distinct ones). Returns the observed
    metrics dict (``n_rows`` + ``nulls_<col>`` + ``metrics``)."""
    from pyspark.sql import Observation

    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        for c in (count_nulls or [])
    ]
    obs = Observation()
    write_table(
        df.observe(obs, *aggs, *(metrics or [])), path, mode, partition_by
    )
    return dict(obs.get)


@contextmanager
def staged_directory(spark, path: str):
    """Write-audit-publish for a directory table: yields a hidden staging
    path next to ``path`` (``.<name>.staging`` in the same parent, so
    listings of the parent skip it). Write and audit there; when the
    block exits normally the staging directory replaces ``path`` by
    Hadoop ``FileSystem`` renames: ``path`` → ``.<name>.previous``,
    staging → ``path``, then the previous copy is deleted. If ``path``
    does not exist yet, the one rename publishes it. Between the two
    renames ``path`` is briefly absent; readers never see a partial
    directory. If the block raises, the staging directory is deleted and
    ``path`` is left untouched."""
    sc = spark.sparkContext
    fs_path = sc._jvm.org.apache.hadoop.fs.Path
    fs = fs_path(path).getFileSystem(sc._jsc.hadoopConfiguration())
    target = fs.makeQualified(fs_path(path))
    parent, name = target.getParent(), target.getName()
    staging = fs_path(parent, f".{name}.staging")
    previous = fs_path(parent, f".{name}.previous")
    fs.delete(staging, True)  # a crashed run's leftover
    try:
        yield staging.toString()
    except BaseException:
        fs.delete(staging, True)
        raise
    fs.delete(previous, True)
    had_target = fs.exists(target)
    if had_target and not fs.rename(target, previous):
        fs.delete(staging, True)
        raise OSError(f"could not move {target} aside to publish {staging}")
    if not fs.rename(staging, target):
        if had_target:
            fs.rename(previous, target)
        fs.delete(staging, True)
        raise OSError(f"could not publish {staging} as {target}")
    if had_target:
        fs.delete(previous, True)


def compact_table(
    spark,
    src_path: str,
    dst_path: str,
    target_files: int,
    sort_within_partitions: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files (the operational fix for streaming/append
    sinks that accumulate thousands of tiny files — at 100 TB the
    driver-side file listing and per-file open cost dominate reads
    long before data volume does).

    Uses ``coalesce`` (shuffle-free narrow merge of input splits), not
    ``repartition``: compaction should move bytes once, not hash them.
    ``sort_within_partitions`` re-sorts rows inside each output file
    for min/max row-group skipping on a hot key. Writes to ``dst_path``
    (never in-place — reading and overwriting the same parquet path in
    one job corrupts it). Returns the row count written.
    """
    def order(df):
        if sort_within_partitions:
            return df.sortWithinPartitions(*sort_within_partitions)
        return df

    return _compaction_rewrite(spark, src_path, dst_path, target_files, order)


def _compaction_rewrite(spark, src_path, dst_path, target_files, order) -> int:
    """Shared rewrite kernel for ``compact_table``/``optimize_table``:
    read → shuffle-free coalesce → caller's in-partition ordering →
    overwrite ``dst_path``; returns rows written, observed on the write
    (no re-read). One implementation so the two maintenance entry points
    can't drift."""
    df = spark.read.parquet(src_path)
    out = order(df.coalesce(target_files))
    return write_with_metrics(out, dst_path, LoadMode.FULL)["n_rows"]


def optimize_table(
    spark,
    src_path: str,
    dst_path: str,
    target_files: int,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """OPTIMIZE-style table maintenance: compaction plus optional
    Z-order clustering in one rewrite — the parquet-native analogue of
    a lakehouse ``OPTIMIZE ... ZORDER BY (a, b)``. With ``zorder_by``,
    rows are sorted by the Morton interleave of the two columns so
    row-group min/max stats stay tight for BOTH (multi-dimensional
    data skipping); without it this is plain ``compact_table``. One
    shuffle-free coalesce + an in-partition sort; returns rows written.
    """
    from spotify_tracks_etl_portfolio_spark.functions import morton_code

    def order(df):
        if zorder_by is not None:
            a, b = zorder_by
            return (
                df.withColumn("__z", morton_code(a, b))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        return df

    return _compaction_rewrite(spark, src_path, dst_path, target_files, order)


def refresh_rollup_partition(
    spark,
    fact_path: str,
    rollup_path: str,
    day: str,
    ts_col: str = "ts",
) -> None:
    """Incremental materialized-rollup refresh: recompute ONE day's
    aggregate partition from the fact table and overwrite ONLY that
    partition (dynamic partitionOverwriteMode) — the daily-refresh
    pattern that keeps a 100 TB rollup current by touching 1/Nth of it.
    The fact scan prunes to the day via the partition-able date
    predicate; every other rollup partition's files are untouched."""
    from pyspark.sql import functions as F

    facts = spark.read.parquet(fact_path)
    day_col = F.date_format(F.date_trunc("day", ts_col), "yyyy-MM-dd")
    one_day = facts.filter(day_col == day)
    rollup = one_day.groupBy(
        day_col.alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
            "sum_value"
        ),
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        rollup.write.mode("overwrite").partitionBy("day").parquet(rollup_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: LoadMode = LoadMode.BATCH,
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
    batchsize: int = 1000,
    save: bool = True,
):
    """Relational (JDBC) sink — direct parity with the reference's MySQL
    insert (reference: dags/de_spotify_to_bronze.py:206-210, pandas
    ``to_sql`` in 1000-row chunks): ``FULL`` ≡ overwrite (the TRUNCATE +
    insert mode, :193-196), ``BATCH`` ≡ append (:198-200).

    Scale posture: each partition opens one connection and streams its
    rows in ``batchsize`` batches; ``num_partitions`` coalesces first so
    a 1000-task stage doesn't open 1000 database connections — the
    parallelism knob IS the connection count. (The parquet/catalog path
    in ``write_table`` remains the analytics-grade sink; JDBC is for
    serving-database handoff like the reference's MySQL.)

    ``save=False`` returns the fully-configured writer without executing
    (the container ships no JDBC driver; tests assert the configuration
    seam).
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.mode("overwrite" if mode is LoadMode.FULL else "append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        # overwrite must TRUNCATE (keep indexes/DDL), not DROP+recreate —
        # matches the reference's TRUNCATE TABLE semantics
        .option("truncate", "true")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    if save:
        writer.save()
        return None
    return writer


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    overwrite: bool = True,
) -> None:
    """Persist a managed table bucketed (hash-partitioned at WRITE time)
    on the join/aggregation key.

    This is the 100 TB co-location lever: two tables bucketed on the
    same key with the same bucket count join WITHOUT a shuffle — the
    SortMergeJoin reads bucket i of each side directly (verified in
    tests: zero Exchange nodes in the joined plan). Same effect for
    groupBy on the bucket key. At petabyte scale this converts every
    repeated fact-to-fact join from a full network shuffle into a local
    merge — the write-once cost is amortized over every downstream
    query. (Parquet path-based writes can't carry bucket metadata; this
    requires a catalog table, hence ``saveAsTable``.)
    """
    writer = (
        df.write.mode("overwrite" if overwrite else "append")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    shards: int | None = None,
) -> None:
    """Export a corpus as JSON-Lines (the format training stacks and
    labeling tools ingest): one object per line, optionally gzip'd and
    re-sharded.

    ``shards`` uses ``repartition`` (round-robin, even shard sizes for
    downstream loaders) rather than ``coalesce`` (which skews shard
    sizes by collapsing neighbors). At 100 TB pick shards so each
    compressed file lands in the 100 MB–1 GB sweet spot."""
    w = df.repartition(shards) if shards else df
    writer = w.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    shards: int | None = None,
) -> None:
    """Export as ORC (the columnar interchange Hive/Trino stacks read
    natively) — same round-robin resharding contract as ``write_jsonl``
    so downstream loaders see even shard sizes."""
    w = df.repartition(shards) if shards else df
    w.write.mode(mode).option("compression", compression).orc(path)
