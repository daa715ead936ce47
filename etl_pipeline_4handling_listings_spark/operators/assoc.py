"""Market-basket association rules (support / confidence / lift).

The classic co-purchase mining kernel, Spark-first:

- baskets collapse to one array row each via ``collect_set`` —
  a SINGLE shuffle with map-side partial aggregation (no separate
  distinct pass);
- item pairs come from two Generate stages (explode x explode
  with an ``a < b`` value filter) over the basket's own array —
  co-located by construction, bounded per basket by the basket's
  size squared, never a join and never a cross join of the item
  universe;
- pair counts, item counts, and the basket total all derive from
  the SAME grouped frame inside one lazy plan, so ReuseExchange
  computes the shuffle once (no persist, no driver-side count());
- the metric arithmetic (support, confidence, lift) happens on
  the TOP-K frame only, after a TakeOrderedAndProject, with the
  top-K side broadcast into the item-count join.

At 100 TB the only superlinear term is the per-basket pair
fan-out, quadratic in basket SIZE (bounded: retail baskets are
tens of items, not millions); everything else is linear shuffles
on (basket) and (item-pair) keys. A mega-basket guard drops
baskets above ``max_basket`` items — the standard defense against
a single degenerate basket exploding the fan-out (same skew
argument as operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    top_n: int = 20,
    max_basket: int = 1000,
) -> DataFrame:
    """Top-N item pairs by co-occurrence with support/confidence/lift.

    Returns one row per (item_a, item_b) pair, item_a < item_b:
    ``pair_count``, ``count_a``, ``count_b``, ``n_baskets``, and the
    derived ``support``/``conf_a_to_b``/``lift`` (raw IEEE divisions
    of exact integers — deterministic; quantize at the call site if
    an oracle grid is needed).

    The basket arrays and the item-count frame are materialized with
    EAGER ``localCheckpoint``s: their consumers alias-diverge, so the
    lazy plan re-scans and re-aggregates the input up to four times;
    the freeze runs each once. Trade-offs (same as
    ``setsim.prefix_filter_jaccard_pairs``): plan construction runs
    Spark jobs eagerly, lineage is truncated, and the checkpoint
    blocks are unreplicated executor-local storage released only on
    driver-side GC.
    """
    # ONE shuffle: collect_set dedups per basket with map-side
    # partials (no separate distinct pass). Pairs, item counts, and
    # the basket total all derive from this grouped frame — and
    # ReuseExchange does NOT unify its three consumers in practice
    # (alias divergence: the executed plan scanned + re-aggregated
    # the input FOUR times), so freeze the basket arrays once and
    # let every consumer read the materialized rows.
    grouped = (
        df.groupBy(basket_col)
        .agg(F.collect_set(F.col(item_col)).alias("_items"))
        .filter(F.size("_items") <= max_basket)
        .select(F.col("_items"))
        .localCheckpoint(eager=True)
    )
    # pair fan-out via two Generate stages (explode x explode with a
    # value filter) — bounded by basket size squared, zero joins
    pairs = (
        grouped.select(
            F.explode("_items").alias("item_a"), F.col("_items")
        )
        .select("item_a", F.explode("_items").alias("item_b"))
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "item_a", "item_b")
        .limit(top_n)
    )
    # the per-item counts feed BOTH sides of the top-N join (count_a
    # and count_b) — materialize the item-vocabulary-sized frame so
    # the explode+aggregate over the baskets runs once, not twice
    item_counts = (
        grouped.select(F.explode("_items").alias(item_col))
        .groupBy(item_col)
        .agg(F.count("*").cast("long").alias("item_count"))
        .localCheckpoint(eager=True)
    )
    nb = grouped.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    ca = item_counts.select(
        F.col(item_col).alias("item_a"), F.col("item_count").alias("count_a")
    )
    cb = item_counts.select(
        F.col(item_col).alias("item_b"), F.col("item_count").alias("count_b")
    )
    # the top-N frame is the tiny side — broadcast IT, stream the
    # item-count table (the item universe is huge at scale; the
    # pairs frame is top_n rows)
    out = (
        F.broadcast(pairs)
        .join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(nb))
    )
    nd = F.col("n_baskets").cast("double")
    return out.select(
        "item_a",
        "item_b",
        "pair_count",
        "count_a",
        "count_b",
        "n_baskets",
        (F.col("pair_count").cast("double") / nd).alias("support"),
        (
            F.col("pair_count").cast("double") / F.col("count_a")
        ).alias("conf_a_to_b"),
        (
            F.col("pair_count").cast("double") * nd
            / (F.col("count_a").cast("double") * F.col("count_b"))
        ).alias("lift"),
    )
