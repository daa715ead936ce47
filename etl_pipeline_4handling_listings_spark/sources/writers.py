"""Sinks: columnar export + JSON-lines side channels.

Covers SURVEY §2.1 S7 (sized columnar export) and S8 (the reject /
outdated JSON-lines side channel, reference
listings/mls_listings_curated.py:290-313).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_4handling_listings_spark.sources.readers import read_table


def write_export(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Columnar export with explicit output-file sizing.

    The reference always ``repartition(n)``s before write (a full
    shuffle, curated.py:357-363); we ``coalesce`` when shrinking —
    no shuffle — and only repartition when growing the file count.
    """
    if num_files is not None:
        current = df.rdd.getNumPartitions()
        df = df.coalesce(num_files) if num_files <= current else df.repartition(num_files)
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def write_json_lines(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Serialize whole rows as JSON text lines (reject side channel).

    One generated ``to_json(struct(*))`` expression — stays in the
    JVM, no Python serialization.
    """
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    out.write.mode(mode).text(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed managed table: pre-shuffled storage for co-located joins.

    Two tables bucketed the same way on the join key join WITHOUT a
    shuffle (no Exchange in the plan) — at 100 TB this converts the
    recurring join shuffle of every daily run into a one-time
    bucketing cost at write. Sorting within buckets additionally
    enables shuffle-AND-sort-free sort-merge joins.
    """
    writer = df.write.format(fmt).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode("overwrite").saveAsTable(name)


def compact(
    spark,
    path: str,
    target_file_mb: int = 256,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> int:
    """Small-files compaction: rewrite a directory into files of
    ~``target_file_mb`` based on the current on-disk size.

    The small-files problem is the silent killer of 100TB tables —
    a day of streaming micro-batches leaves thousands of KB-files
    whose open/footer cost dominates scans. Returns the new file
    count. Rewrite is staged through a sibling temp dir + atomic
    rename, so readers never see a half-compacted directory.
    """
    import math
    import os
    import shutil

    size_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            size_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    df = read_table(spark, path, fmt=fmt)
    tmp = path.rstrip("/") + "._compact_tmp"
    (
        df.coalesce(n_files)
        .write.mode("overwrite")
        .option("compression", compression)
        .format(fmt)
        .save(tmp)
    )
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return n_files


def write_incremental_partition(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    fmt: str = "parquet",
    compression: str = "zstd",
) -> None:
    """Overwrite ONLY the partitions present in ``df`` — the daily
    incremental-load write (today's ``load_date`` replaces itself;
    every other day's data is untouched).

    Uses dynamic partition overwrite as a per-write option, so the
    session default (static overwrite = truncate the whole table)
    stays safe for everything else. At 100 TB this is the difference
    between rewriting one day and rewriting the table.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy(*partition_by)
        .format(fmt)
        .save(path)
    )
