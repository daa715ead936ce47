"""Exact set-similarity join with prefix filtering (PPJoin-style).

Beyond-reference corpus operator: the third point in the dedup
design space alongside the inverted-index count closure
(``dedup_approx.exact_jaccard_pairs``, cost Σ df²) and MinHash+LSH
(approximate, recall < 1). Prefix filtering (Chaudhuri et al.
SSJoin / Xiao et al. PPJoin, both published) keeps the result EXACT
while indexing only a small prefix of each record's token set:

For Jaccard(a, b) >= t, |a ∩ b| >= ceil(t/(1+t) * (|a|+|b|)) —
so if the tokens of each set are sorted by one canonical global
order, two qualifying sets MUST share at least one token among
their first ``|x| - ceil(t*|x|) + 1`` tokens. Candidate generation
joins only those prefixes; ordering by ascending document frequency
makes the indexed prefixes the rarest tokens, so the candidate join
cost follows rare-token document frequencies instead of full-set
frequencies.

Design for 100 TB
-----------------
- candidate join shuffles on the prefix token only: output size is
  Σ_prefix-token df·(df-1)/2, which at t=0.7 indexes ~30% of each
  set's rarest tokens — the head-of-distribution stopword tokens
  that drive Σ df² quadratic never enter the index;
- the size-ratio filter (t·|a| <= |b|) prunes candidates before
  verification at zero extra shuffle (sizes ride along the explode);
- verification is a token-array intersection on the surviving pairs
  only — arrays live in the rows, no further shuffle beyond the
  pair groupBy;
- all counts are integers, so the Jaccard closure is bit-exact in
  any engine (same guarantee as ``exact_jaccard_pairs``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    threshold: float,
) -> DataFrame:
    """All pairs with exact Jaccard(token sets) >= ``threshold``.

    ``tokens`` is an array column expression; duplicates within a
    document are collapsed. Returns (id_a, id_b, jaccard) with
    id_a < id_b — identical contract (and identical output) to
    ``exact_jaccard_pairs``, reached through a prefix index.

    The tokenized doc table is materialized with an EAGER
    ``localCheckpoint``: the tokenize subtree feeds four
    alias-divergent consumers that ReuseExchange does not unify, so
    the lazy plan tokenizes the corpus up to six times; the freeze
    runs it once. The trade-offs of the eager checkpoint: building
    the DataFrame runs Spark jobs immediately, lineage is truncated,
    and the blocks are UNREPLICATED executor-local storage — on a
    cluster, losing an executor makes downstream actions
    unrecoverable (must re-call the operator), and the blocks are
    only released when the RDD is garbage-collected driver-side.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # the tokenized doc table feeds the df-count pass, the rank pass,
    # and both verify sides — ReuseExchange does not unify them
    # (alias divergence; the executed plan tokenized the corpus SIX
    # times), so freeze it once
    base = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.array_sort(F.array_distinct(tokens)).alias("_toks"),
        )
        .withColumn("_sz", F.size("_toks"))
        .localCheckpoint(eager=True)
    )

    ex = base.select("_id", "_sz", F.explode("_toks").alias("_tok"))
    # canonical global order: ascending document frequency, token as
    # tiebreak — a total order, identical on every partitioning
    df_counts = ex.groupBy("_tok").agg(F.count("*").alias("_df"))
    ranked = ex.join(df_counts, "_tok").withColumn(
        "_rank",
        F.row_number().over(
            Window.partitionBy("_id").orderBy("_df", "_tok")
        ),
    )
    # prefix length |x| - ceil(t|x|) + 1: a qualifying pair must
    # share a token inside both prefixes under the global order
    prefix = ranked.filter(
        F.col("_rank")
        <= F.col("_sz") - F.ceil(F.col("_sz") * F.lit(threshold)) + 1
    ).select("_tok", "_id", "_sz")

    # candidate pairs via per-token posting lists expanded map-side
    # (the member_pairs kernel) instead of the a-x-b self-join: one
    # shuffle of the prefix index instead of two, and the
    # explode+rank subtree runs once instead of twice. Posting lists
    # here are PREFIX postings — ascending-df order puts only the
    # rarest tokens in prefixes, so per-token fan-out is small by
    # construction.
    postings = prefix.groupBy("_tok").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_id"), F.col("_sz")))
        ).alias("_ms")
    )
    spread = postings.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    pair_rows = (
        spread.select(F.col("_ms"), F.posexplode("_ms").alias("_i", "_a"))
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_a._sz").alias("_sa"),
            F.explode(
                F.slice(F.col("_ms"), F.col("_i") + 2, F.size("_ms"))
            ).alias("_b"),
        )
        .select(
            "id_a",
            "_sa",
            F.col("_b._id").alias("id_b"),
            F.col("_b._sz").alias("_sb"),
        )
    )
    cands = (
        pair_rows.filter(
            # size-ratio filter: Jaccard >= t forces t|a| <= |b| <= |a|/t
            (F.col("_sb") >= F.col("_sa") * F.lit(threshold))
            & (F.col("_sa") >= F.col("_sb") * F.lit(threshold))
        )
        .select("id_a", "id_b")
        .distinct()
    )

    sets = base.select("_id", "_toks", "_sz")
    verified = (
        cands.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_toks").alias("_ta"),
                F.col("_sz").alias("_va"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_toks").alias("_tb"),
                F.col("_sz").alias("_vb"),
            ),
            "id_b",
        )
        .withColumn("_inter", F.size(F.array_intersect("_ta", "_tb")))
    )
    jac = F.col("_inter") / (
        F.col("_va") + F.col("_vb") - F.col("_inter")
    ).cast("double")
    return verified.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= F.lit(threshold))


def prefix_index_stats(
    docs: DataFrame, id_col: str, tokens: Column, threshold: float
) -> DataFrame:
    """Diagnostic: indexed-prefix fraction per document — how much
    of the corpus the prefix filter actually indexes at this
    threshold (1 row per doc: id, set size, prefix length)."""
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.size(F.array_distinct(tokens)).alias("set_size"),
    )
    return base.select(
        F.col("_id").alias(id_col),
        "set_size",
        (
            F.col("set_size")
            - F.ceil(F.col("set_size") * F.lit(threshold))
            + 1
        ).alias("prefix_len"),
    )
