"""Declarative data-quality expectations (the Deequ/Great-
Expectations pattern, Spark-first).

Generalizes the reference's listing-validation Rule table
(mls_listings_transform.py:207-234 applies per-column checks and
routes failures) into a reusable constraint report over ANY frame:

- each expectation contributes ONE aggregate expression counting
  its violations, so an arbitrary number of column checks
  (not-null, range, set membership, regex, uniqueness) runs in a
  SINGLE pass over the data — one job, one shuffle-free scan plus
  one hash aggregate, regardless of how many constraints;
- referential-integrity checks need a join, so they run as
  separate left-anti probes and union into the same report schema;
- the report is one row per expectation: name, kind, total rows,
  violation count, passed flag.

At 100 TB the single-pass property is the whole point: N
constraints cost one table scan, not N. Uniqueness uses
count - count(distinct), which Spark executes with a partial
distinct aggregate per partition (expand + two-level agg) — no
row explosion.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_4handling_listings_spark.arrowframe import arrow_frame


@dataclass
class Expectation:
    name: str
    kind: str
    violations: Column  # aggregate expression counting violations


def expect_not_null(col: str) -> Expectation:
    return Expectation(
        f"{col}_not_null",
        "completeness",
        F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)),
    )


def expect_between(col: str, lo, hi) -> Expectation:
    c = F.col(col)
    return Expectation(
        f"{col}_between",
        "range",
        F.sum(
            F.when(c.isNull() | (c < lo) | (c > hi), 1).otherwise(0)
        ),
    )


def expect_in_set(col: str, values: list) -> Expectation:
    c = F.col(col)
    return Expectation(
        f"{col}_in_set",
        "domain",
        F.sum(F.when(c.isNull() | ~c.isin(values), 1).otherwise(0)),
    )


def expect_regex(col: str, pattern: str) -> Expectation:
    c = F.col(col)
    return Expectation(
        f"{col}_regex",
        "format",
        F.sum(F.when(c.isNull() | ~c.rlike(pattern), 1).otherwise(0)),
    )


def expect_unique(*cols: str) -> Expectation:
    return Expectation(
        "_".join(cols) + "_unique",
        "uniqueness",
        F.count(F.lit(1)) - F.countDistinct(*[F.col(c) for c in cols]),
    )


_REPORT_COLS = ["constraint", "kind", "n_rows", "violations", "passed"]


def run_expectations(
    df: DataFrame, expectations: list[Expectation]
) -> DataFrame:
    """All column expectations in ONE aggregate pass -> report frame."""
    spark = df.sparkSession
    if not expectations:
        return arrow_frame(
            spark,
            [],
            "constraint string, kind string, n_rows long,"
            " violations long, passed boolean",
        )
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")] + [
        e.violations.cast("long").alias(f"_v{i}")
        for i, e in enumerate(expectations)
    ]
    wide = df.agg(*aggs)

    def q(text: str) -> str:
        # SQL string literal: double embedded single quotes
        return "'" + text.replace("'", "''") + "'"

    stack_args = ", ".join(
        f"{q(e.name)}, {q(e.kind)}, _v{i}"
        for i, e in enumerate(expectations)
    )
    tall = wide.select(
        F.col("_n"),
        F.expr(
            f"stack({len(expectations)}, {stack_args})"
            " as (constraint, kind, violations)"
        ),
    )
    return tall.select(
        "constraint",
        "kind",
        F.col("_n").alias("n_rows"),
        F.coalesce(F.col("violations"), F.lit(0)).alias("violations"),
        (F.coalesce(F.col("violations"), F.lit(0)) == 0).alias("passed"),
    )


def referential_integrity(
    df: DataFrame,
    col: str,
    ref: DataFrame,
    ref_col: str,
    name: str | None = None,
) -> DataFrame:
    """Orphan-count probe as a left-anti join; same report schema.

    The anti join shuffles on the key (or broadcasts when the
    reference side is small); orphan rows are counted, never
    collected. Fully lazy — the report row is a plan, not a
    driver-side action, so it unions with :func:`run_expectations`
    output into one job.
    """
    orphans = (
        df.select(col)
        .filter(F.col(col).isNotNull())
        .join(
            ref.select(F.col(ref_col).alias(col)).distinct(),
            col,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    return (
        orphans.crossJoin(F.broadcast(total))
        .select(
            F.lit(name or f"{col}_refs_{ref_col}").alias("constraint"),
            F.lit("referential").alias("kind"),
            "n_rows",
            "violations",
            (F.col("violations") == 0).alias("passed"),
        )
    )
