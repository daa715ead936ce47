"""Columnar sources with pushdown-friendly read patterns.

Covers the reference's scan surface (SURVEY §2.1 S1-S4, S10):
filtered raw scans, multi-directory union scans, dimension scans.
Filters are passed as SQL-string or Column predicates applied
directly on the scan so Catalyst pushes them into the parquet/ORC
reader (``PushedFilters``) and prunes partitions — the property the
reference relies on for its ``load_date between`` incremental reads
(reference listings/mls_listings_curated.py:71-77).

Schema-less parquet opens anywhere in the package go through
:func:`open_parquet`: Spark's parquet schema inference runs a job on
every open, even of one file, so the inferred ``StructType`` is kept
per file version and later opens declare it.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable, Sequence
from functools import reduce
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# (application id, path, inference confs) -> (fingerprint, schema);
# one slot per key, replaced when the files under the path change.
# Bounded, oldest slot out first: streaming state versions open a
# new path per micro-batch.
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}
_MAX_SLOTS = 1024
_SCHEMAS_LOCK = threading.Lock()


def _local_path(path: str) -> str | None:
    """``path`` as a local filesystem path, or ``None`` when it names
    another filesystem (a non-``file`` URI scheme)."""
    u = urlparse(path)
    if u.scheme == "file":
        return u.path
    return path if u.scheme == "" else None


def fingerprint(path: str) -> tuple | None:
    """File identity of a local table path: (inode, size, mtime_ns)
    of a file, or (relpath, inode, size, mtime_ns) of every file
    under a directory, found by a recursive walk, so a rewrite, an
    added file or a new ``load_date=`` partition changes it. ``None``
    when the path is missing or not local: nothing may be cached
    against it."""
    local = _local_path(path)
    if local is None:
        return None
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not os.path.isdir(local):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    out = []
    for root, dirs, files in os.walk(local):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            try:
                st = os.stat(full)
            except OSError:
                continue  # removed mid-walk: the next open re-walks
            out.append(
                (
                    os.path.relpath(full, local),
                    st.st_ino,
                    st.st_size,
                    st.st_mtime_ns,
                )
            )
    return tuple(out)


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per
    file version. The first open runs Spark's own inference (one
    job) and keeps the result under (application id, path, the
    inference confs) with the path's :func:`fingerprint`; later
    opens of the same files declare it, so no job runs before the
    caller's action. Paths on other filesystems, and missing ones,
    infer every time."""
    fp = fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        path,
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _SCHEMAS_LOCK:
        _SCHEMAS.pop(key, None)
        _SCHEMAS[key] = (fp, schema)
        while len(_SCHEMAS) > _MAX_SLOTS:
            del _SCHEMAS[next(iter(_SCHEMAS))]
    return df


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    predicate: str | Column | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Read one columnar table with optional pushed filter/projection."""
    if fmt == "parquet":
        df = open_parquet(spark, path)
    else:
        df = spark.read.format(fmt).load(path)
    if predicate is not None:
        df = df.filter(predicate)
    if columns is not None:
        df = df.select(*columns)
    return df


def read_union(
    spark: SparkSession,
    paths: Iterable[str],
    fmt: str = "parquet",
    predicate: str | Column | None = None,
) -> DataFrame:
    """Union scan over multiple directories (S2).

    The reference reduces with position-based ``unionAll``
    (curated.py:77) — a latent column-order hazard; we use
    ``unionByName`` with missing columns allowed so schema drift
    across daily directories cannot silently misalign values.
    """
    dfs = [read_table(spark, p, fmt=fmt, predicate=predicate) for p in paths]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def read_dims(
    spark: SparkSession, paths: dict[str, str], fmt: str = "parquet"
) -> dict[str, DataFrame]:
    """Load named dimension tables (S3). Callers broadcast at join
    time — broadcast is a join-site decision, not a read-site one."""
    return {name: read_table(spark, p, fmt=fmt) for name, p in paths.items()}


def read_json_lenient(
    spark: SparkSession,
    path: str,
    schema,
    corrupt_col: str = "_corrupt_record",
):
    """JSON-lines ingestion that captures malformed rows instead of
    failing the job (S10's source side, hardened).

    PERMISSIVE mode parses what it can; a row that does not parse
    lands whole in ``corrupt_col`` with nulls elsewhere. Returns
    (good, bad): ``bad`` carries the raw offending line — route it
    to the reject sink (S8) so ingestion quality is observable, the
    same degrade-don't-fail posture as the enrichment transport.

    ``schema`` must NOT contain ``corrupt_col``; it is added here.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    # Spark requires materializing before filtering on the corrupt
    # column (it is populated at parse time, not re-derivable)
    df = df.cache()
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return good, bad
