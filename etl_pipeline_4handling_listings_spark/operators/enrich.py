"""Batched external enrichment over Arrow batches.

Re-expression of the reference's PropertyMaster REST lookup
(reference listings/mls_listings_transform.py:419-567, X1 in SURVEY
§2.11): the reference uses ``rdd.mapPartitions`` with a Python
generator that JSON-posts 500-row batches and degrades gracefully on
transport errors. We keep the same operational semantics —
partition-as-batch sizing, pluggable transport, degrade-to-null with
an issue column — but move to ``mapInPandas`` so rows cross the
JVM↔Python boundary as Arrow column batches, not pickled Rows
(~10-100x cheaper at scale).

Transport is any callable ``list[dict] -> list[dict]`` (keyed
responses); HTTP, JDBC-extract, or an in-process fake for tests.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

Transport = Callable[[list[dict]], list[dict]]

ISSUE_COL = "_issue_text"


def batched_lookup(
    df: DataFrame,
    key_cols: Sequence[str],
    transport: Transport,
    result_schema: StructType,
    batch_size: int = 500,
) -> DataFrame:
    """Look up distinct keys through ``transport`` in bounded batches.

    Returns one row per distinct key: the key columns + the
    transport's result fields (``result_schema``) + ``_issue_text``
    (NULL on success; the transport error message when the whole
    batch degraded — reference :458-481 yields null ids with
    IssueText instead of failing the job).

    Partitioning mirrors the reference's quota logic (:504-520) —
    one transport call per ``batch_size`` keys — but the partition
    count is capped at one task per core: batching happens by
    slicing the Arrow frame *inside* the task, so 10^9 distinct keys
    cannot create millions of tiny shuffle partitions, and transport
    concurrency is bounded by cores either way — a task beyond that
    only adds its Python-worker start-up cost. The count here is
    exact — cheap at this cardinality since only key columns are
    scanned.
    """
    # the sizing count recomputes the distinct when the caller later
    # acts on the returned plan — a bounded narrow shuffle over key
    # columns only. Deliberately NOT persisted: a cache block here
    # outlives the call (nothing can unpersist after the caller's
    # action), and a long-lived session running hundreds of lookups
    # would accumulate one leaked block per call.
    keys = df.select(*key_cols).distinct()
    n = keys.count()
    if n == 0:
        empty = keys
        for field in result_schema.fields:
            empty = empty.withColumn(field.name, F.lit(None).cast(field.dataType))
        return empty.withColumn(ISSUE_COL, F.lit(None).cast("string"))
    max_parts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    num_batches = min(max(1, math.ceil(n / batch_size)), max_parts)
    keys = keys.repartition(num_batches)

    out_schema = StructType(
        [f for f in keys.schema.fields]
        + [f for f in result_schema.fields]
    ).add(ISSUE_COL, "string")
    key_names = list(key_cols)
    result_names = [f.name for f in result_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a partition may hold many transport batches; slice the
            # Arrow frame so each call still sees <= batch_size rows
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                rows = chunk[key_names].to_dict("records")
                try:
                    results = transport(rows)
                    issue = None
                except Exception as exc:  # degrade, don't fail the stage
                    results = [{} for _ in rows]
                    issue = str(exc)[:500]
                rdf = pd.DataFrame.from_records(results)
                for col in result_names:
                    if col not in rdf.columns:
                        rdf[col] = None
                out = pd.concat(
                    [chunk[key_names].reset_index(drop=True), rdf[result_names]],
                    axis=1,
                )
                out[ISSUE_COL] = issue
                yield out

    return keys.mapInPandas(run, schema=out_schema)


def apply_enrichment(
    df: DataFrame,
    lookup: DataFrame,
    key_cols: Sequence[str],
    overwrite: dict[str, Column] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join lookup results back and overwrite bookkeeping columns
    (reference J14, curated.py:237-255)."""
    out = df.join(lookup, on=list(key_cols), how=how)
    for name, expr in (overwrite or {}).items():
        out = out.withColumn(name, expr)
    return out
