"""Bucketed tables for co-located, shuffle-free joins (SURVEY.md §4;
the 100 TB join strategy).

A fact table bucketed by its join key joins another table bucketed the
same way WITHOUT a shuffle — at 100 TB that turns the dominant cost of
repeated (orders ⋈ lineitem)-shaped joins into a local merge.  Spark
buckets via ``bucketBy`` + ``saveAsTable`` (works on the in-memory
catalog + parquet; on a cluster this is the managed-table layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import data_files


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    num_buckets: int = 32,
    sort_key: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table.  Sorting
    within buckets additionally removes the sort from sort-merge
    joins.  `path` makes it an external table (managed otherwise —
    warehouse dir is a static config)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, bucket_key)
    if sort_key:
        writer = writer.sortBy(sort_key)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on the bucket key — Catalyst
    elides both shuffles (verify: no Exchange above the scans)."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, key, how)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Data-lake layout writer: directory-partition by the prune
    columns (date, tenant, lang, ...), optionally sort rows WITHIN
    each output file, and cap file sizes.

    At 100 TB this is what makes the read side cheap: partition
    directories give Catalyst PartitionFilters (entire directories
    skipped before any IO), in-file sort gives parquet min/max stats
    that drive row-group skipping for range predicates, and
    maxRecordsPerFile keeps files within executor-friendly sizes.
    """
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).parquet(path)


def read_pruned(
    spark: SparkSession, path: str
) -> DataFrame:
    """Read a partitioned layout; apply partition-column filters BEFORE
    anything else so they lower to PartitionFilters (directory pruning,
    visible in the formatted plan)."""
    return spark.read.parquet(path)


def scale_for_zorder(col: Column, lo: int, hi: int, bits: int = 16) -> Column:
    """Affine-map an integer column from [lo, hi] onto [0, 2^bits):
    ((clamped − lo) · (2^bits − 1)) div max(hi − lo, 1) — pure long
    arithmetic, so the mapping is exact and engine-portable."""
    c = F.greatest(F.least(col.cast("bigint"), F.lit(hi)), F.lit(lo))
    # the (range · 2^bits) product runs in decimal(38,0): full-width
    # id ranges (snowflake-style 1e18 ids) would overflow a bigint
    return F.call_function(
        "div",
        (c - F.lit(lo)).cast("decimal(20,0)") * F.lit((1 << bits) - 1),
        F.lit(max(hi - lo, 1)).cast("decimal(20,0)"),
    )


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Z-order (Morton) curve value: interleave the low `bits` bits of
    each already-scaled non-negative integer column (bit i of column c
    lands at position i·n_cols + c).  Nearby points in EVERY dimension
    get nearby z-values, so range-partitioning by z clusters
    multi-dimensional locality into few files — the layout behind
    Delta/Iceberg OPTIMIZE ZORDER, as a plain codegen expression.
    n_cols·bits must stay ≤ 62 (bigint)."""
    n = len(cols)
    if n < 2:
        raise ValueError("z-ordering needs ≥ 2 columns (use a plain sort for 1)")
    if n * bits > 62:
        raise ValueError(f"{n} cols × {bits} bits exceeds a bigint")
    terms = []
    for c_idx, col in enumerate(cols):
        v = col.cast("bigint")
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(v, i).bitwiseAND(F.lit(1)), i * n + c_idx
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional data-skipping layout: scale each z column to
    `bits` bits from its corpus min/max (ONE 1-row aggregate — the only
    driver traffic), range-partition by the interleaved z-value, and
    sort within files.

    Every z column's values then cluster within few files, so a range
    predicate on ANY of them maps to a narrow z-range whose parquet
    footer min/max stats skip the rest — the read-side win directory
    partitioning gives one column, extended to several.  The z-value
    itself is dropped before writing (derivable, not schema)."""
    aggs = []
    for c in zorder_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    stats = df.agg(*aggs).first()
    scaled = [
        scale_for_zorder(
            F.col(c), int(stats[f"_min_{c}"]), int(stats[f"_max_{c}"]), bits
        )
        for c in zorder_cols
    ]
    out = (
        df.withColumn("_z", zorder_value(scaled, bits))
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    out.write.mode(mode).parquet(path)


def compact_partition(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partition_value,
    target_files: int = 1,
) -> int:
    """Small-file compaction for one partition directory: rewrite
    ``<path>/<col>=<value>`` into ``target_files`` files.

    Streaming ingestion (micro-batches, maxRecordsPerFile caps) leaves
    partitions as many small files; scans then pay per-file open/footer
    cost.  This job reads ONLY the target directory (no full-table
    scan), repartitions, writes the hidden tmp ``.<col>=<value>._compact``
    beside it (partition discovery skips it, so no read ever sees a
    staging dir as a partition value), deletes the old directory and
    renames the tmp in — `streaming.store.compact`'s order and crash
    rule: a tmp holding ``_SUCCESS`` is the partition's complete
    rewrite, so the next call first finishes its swap; an unfinished
    tmp is dropped (the old directory was not touched yet).  Between
    the delete and the rename the partition reads empty, like the
    partition delete-then-rename of merge_upsert's dynamic overwrite;
    on a transactional table format (Delta/Iceberg) OPTIMIZE replaces
    this.  Local filesystem only.  Returns the row count of the
    compacted partition (sanity handle for the caller).
    """
    import os
    import shutil

    name = f"{partition_col}={partition_value}"
    part_dir = os.path.join(path, name)
    tmp_dir = os.path.join(path, f".{name}._compact")

    def finish() -> None:
        if os.path.exists(os.path.join(tmp_dir, "_SUCCESS")):
            if os.path.exists(part_dir):
                shutil.rmtree(part_dir)
            os.rename(tmp_dir, part_dir)
        elif os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)

    finish()
    df = spark.read.parquet(part_dir)
    n = df.count()
    df.repartition(target_files).write.mode("overwrite").parquet(tmp_dir)
    finish()
    return n


def lake_report(
    spark: SparkSession,
    path: str,
    small_file_mb: int = 16,
    max_files: int = 64,
) -> DataFrame:
    """Small-file / skew report over a lake table directory — the
    trigger signal `compact_partition` acts on: one row per top-level
    partition directory holding data files, with (partition, n_files,
    total_bytes, median_file_bytes, max_file_bytes, needs_compaction).

    needs_compaction flags a partition whose file count exceeds
    `max_files` OR whose median data file is under `small_file_mb` —
    the two shapes streaming ingestion leaves behind (per-micro-batch
    files; maxRecordsPerFile splits).  Files are listed by
    `util.data_files` (Hadoop FileSystem API, any scheme; hidden
    components at any depth — an aborted write's _temporary/ attempts,
    staging dirs — are skipped, as a scan skips them); the listing is
    driver-side and proportional to FILE COUNT, not data size — at
    extreme file counts (the problem being diagnosed!) run it per
    partition or use the store's inventory listing.  Loose files at
    the table root report under partition '.'."""
    groups: dict[str, list[int]] = {}
    for _, rel, size in data_files(spark, path):
        top, sub, _ = rel.partition("/")
        groups.setdefault(top if sub else ".", []).append(size)
    rows = []
    for part in sorted(groups):
        sizes = sorted(groups[part])
        n, med = len(sizes), sizes[len(sizes) // 2]
        rows.append(
            (
                part, n, sum(sizes), med, sizes[-1],
                n > max_files or med < small_file_mb * 1024 * 1024,
            )
        )
    return spark.createDataFrame(
        rows,
        "partition string, n_files long, total_bytes long, "
        "median_file_bytes long, max_file_bytes long, needs_compaction boolean",
    )
