"""File-level min/max statistics index: data skipping above the scan.

Parquet footers already carry per-row-group min/max, but Spark only
consults them AFTER planning — every file still becomes (at least)
one task and one footer read. A file-level stats index prunes the
FILE LIST before the job exists, which is the Delta/Iceberg
data-skipping model: at 100 TB with ~1e5-1e6 files, a selective
predicate on a clustered column (load_date, a z-order key —
sources/writers + layout_zorder make such columns) plans hundreds
of tasks instead of hundreds of thousands.

The index is one JSON row per file (metadata-scale: collected to
the driver is bounded by the FILE count, never row count), built
with one distributed pass grouping on ``input_file_name()``.
Rebuild after compaction/merge — the builder overwrites
atomically. Stats prune conservatively: a file with NULL stats
(missing column, all-null) is always kept; results are verified by
the residual filter Spark still applies, so a stale index can only
lose speed, never rows — the same contract as Delta's stats.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_4handling_listings_spark.sources.readers import open_parquet
from etl_pipeline_4handling_listings_spark.sources.store import FILE_STATS


def _as_datetime(v) -> _dt.datetime:
    """Normalize a stats/bound value to a typed datetime.

    Stats are serialized via ``json.dump(default=str)``, so a
    timestamp min arrives as ``'2024-01-01 00:00:00'`` while a
    caller's bound may be the shorter ``'2024-01-01'`` (or a real
    date/datetime object). Lexicographic comparison across those
    forms is WRONG — ``'2024-01-01 00:00:00' > '2024-01-01'`` would
    prune a file whose min is exactly midnight of ``hi`` even
    though ``between(lo, hi)`` matches its rows. Parse both sides
    to datetimes before comparing; raises on unparseable input (the
    caller catches and keeps the file — pruning may only lose
    speed, never rows).
    """
    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    return _dt.datetime.fromisoformat(str(v).strip().replace("T", " "))


def build_file_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> int:
    """One distributed pass -> the stats index file under ``path``
    (the name a store snapshot's ``read_file_stats`` reads).

    Returns the number of files indexed.
    """
    df = open_parquet(spark, path)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    rows = (
        df.withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(*aggs)
        .collect()
    )
    stats = {
        r["_file"]: {
            c: [r[f"min_{c}"], r[f"max_{c}"]] for c in cols
        }
        for r in rows
    }
    tmp = os.path.join(path, FILE_STATS + ".tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, default=str)
    os.replace(tmp, os.path.join(path, FILE_STATS))
    return len(stats)


def read_with_skip(
    spark: SparkSession, path: str, col: str, lo, hi
) -> DataFrame:
    """Scan only files whose [min, max] for ``col`` overlaps
    [lo, hi]; the residual ``BETWEEN`` filter still applies (the
    index is an optimization, never the correctness boundary).

    Falls back to the full directory when no index exists or the
    column is unindexed.
    """
    stats_path = os.path.join(path, FILE_STATS)
    try:
        with open(stats_path) as f:
            stats = json.load(f)
    except FileNotFoundError:
        stats = None
    base = open_parquet(spark, path)
    dtype = dict(base.dtypes).get(col)
    if stats is not None:
        # prune against the LIVE file list, never the index alone:
        # files written after the index was built have no stats row
        # and are kept (conservative); files the index remembers but
        # that no longer exist (compaction/vacuum) are dropped —
        # either direction of staleness only costs speed, not rows.
        live = base.inputFiles()
        keep = []
        for file in live:
            rng = (stats.get(file) or {}).get(col)
            if rng is None or rng[0] is None or rng[1] is None:
                keep.append(file)  # unindexed/no stats -> keep
                continue
            fmin, fmax = rng
            if dtype in ("bigint", "int", "smallint", "tinyint"):
                fmin, fmax = int(fmin), int(fmax)
            elif dtype in ("double", "float"):
                fmin, fmax = float(fmin), float(fmax)
            elif dtype == "string":
                # plain strings: lexicographic IS the column order
                fmin, fmax, lo_c, hi_c = (
                    str(fmin), str(fmax), str(lo), str(hi)
                )
                if not (fmax < lo_c or fmin > hi_c):
                    keep.append(file)
                continue
            elif dtype == "date" or (dtype or "").startswith("timestamp"):
                # stats were stringified (default=str) — parse BOTH
                # sides to typed datetimes; mixed-precision string
                # compare ('...00:00:00' vs a bare date) mis-prunes
                try:
                    fmin_t, fmax_t = _as_datetime(fmin), _as_datetime(fmax)
                    lo_t, hi_t = _as_datetime(lo), _as_datetime(hi)
                except (ValueError, TypeError):
                    keep.append(file)  # unparseable: never prune
                    continue
                if not (fmax_t < lo_t or fmin_t > hi_t):
                    keep.append(file)
                continue
            else:
                keep.append(file)  # unsupported dtype: never prune
                continue
            if not (fmax < lo or fmin > hi):
                keep.append(file)
        if not keep:
            return base.filter(F.lit(False))
        if len(keep) < len(live):
            # basePath keeps Hive-style partition-directory columns
            # resolvable when scanning an explicit leaf-file list
            base = (
                spark.read.schema(base.schema)
                .option("basePath", path)
                .parquet(*keep)
            )
    return base.filter(F.col(col).between(lo, hi))


# -- per-file bloom filters (point-lookup skipping) ---------------------
#
# Min/max stats skip RANGE predicates on clustered columns, but an
# equality probe on a high-cardinality UNclustered column (a user id,
# a document fingerprint) overlaps almost every file's [min, max] —
# stats prune nothing. Delta's answer is a per-file bloom filter
# index; this is that index above the scan: ~one cache line of bloom
# words per file, built in one distributed pass, pruning the file
# list to the handful whose bloom admits the probed value. False
# positives only KEEP files (the residual equality filter is still
# applied); a bloom can never produce a false negative for a value
# actually present, so pruning may only lose speed, never rows.

_BLOOM = "_FILE_BLOOM.json"


def build_file_bloom(
    spark: SparkSession,
    path: str,
    col: str,
    num_bits: int = 1 << 13,
    num_hashes: int = 5,
) -> int:
    """One distributed pass -> per-file bloom words for ``col`` in
    ``{path}/_FILE_BLOOM.json`` (merged with other columns' entries).
    Returns the number of files indexed.

    Metadata scale: at most ``ceil(num_bits/62)`` words per file
    (132 at the default 8192 bits) — the collect is bounded by file
    count, never rows. NULL rows map to the sentinel word ``-1`` so
    an all-NULL file still gets an (empty) index entry and is
    provably prunable, while an UNindexed file stays conservative.
    """
    from etl_pipeline_4handling_listings_spark.operators.bloomfilter import (
        _WORD_BITS,
        _positions,
    )

    df = open_parquet(spark, path)
    c = F.col(col)
    pos = F.explode(
        F.when(
            c.isNotNull(), _positions(c, num_hashes, num_bits)
        ).otherwise(F.array(F.lit(-1).cast("long")))
    ).alias("pos")
    rows = (
        df.select(F.input_file_name().alias("_file"), pos)
        .select(
            "_file",
            F.when(
                F.col("pos") >= 0,
                (F.col("pos") / _WORD_BITS).cast("long"),
            )
            .otherwise(F.lit(-1))
            .alias("word_idx"),
            F.when(
                F.col("pos") >= 0,
                F.expr(
                    f"shiftleft(1L, CAST(pos % {_WORD_BITS} AS INT))"
                ),
            )
            .otherwise(F.lit(0))
            .alias("bit"),
        )
        .groupBy("_file", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    files: dict[str, dict[str, int]] = {}
    for r in rows:
        words = files.setdefault(r["_file"], {})
        if r["word_idx"] >= 0:
            words[str(r["word_idx"])] = r["word"]
    bloom_path = os.path.join(path, _BLOOM)
    try:
        with open(bloom_path) as f:
            index = json.load(f)
    except (FileNotFoundError, ValueError):
        index = {}
    index[col] = {
        "num_bits": num_bits,
        "num_hashes": num_hashes,
        "files": files,
    }
    tmp = bloom_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(index, f)
    os.replace(tmp, bloom_path)
    return len(files)


def read_with_skip_eq(
    spark: SparkSession, path: str, col: str, value
) -> DataFrame:
    """Equality read scanning only files whose bloom admits
    ``value``; the residual ``col == value`` filter still applies.

    Falls back to the full directory when no bloom index exists for
    the column (or ``value`` is None — blooms only index non-null
    values). The probe's bit positions are computed with the SAME
    Spark expressions the build used (one one-row job, so the hash
    family can never drift between build and probe), with the value
    cast to the column's type — ``xxhash64`` of the long 7 and the
    string '7' differ.
    """
    base = open_parquet(spark, path)
    entry = None
    if value is not None:
        try:
            with open(os.path.join(path, _BLOOM)) as f:
                entry = json.load(f).get(col)
        except (FileNotFoundError, ValueError):
            entry = None
    if entry is None:
        return base.filter(F.col(col) == F.lit(value))

    from etl_pipeline_4handling_listings_spark.operators.bloomfilter import (
        _WORD_BITS,
        _positions,
    )

    dtype = dict(base.dtypes).get(col)
    probe = F.lit(value).cast(dtype) if dtype else F.lit(value)
    positions = (
        spark.range(1)
        .select(
            _positions(
                probe, entry["num_hashes"], entry["num_bits"]
            ).alias("p")
        )
        .head()["p"]
    )
    needed: dict[str, int] = {}
    for p in positions:
        w = str(p // _WORD_BITS)
        needed[w] = needed.get(w, 0) | (1 << (p % _WORD_BITS))
    files = entry["files"]
    live = base.inputFiles()
    keep = []
    for file in live:
        words = files.get(file)
        if words is None:
            keep.append(file)  # written after the index: keep
            continue
        if all(
            (words.get(w, 0) & bits) == bits for w, bits in needed.items()
        ):
            keep.append(file)
    if not keep:
        return base.filter(F.lit(False))
    if len(keep) < len(live):
        base = (
            spark.read.schema(base.schema)
            .option("basePath", path)
            .parquet(*keep)
        )
    return base.filter(F.col(col) == F.lit(value))
