"""The listings-domain pipelines: curated, history, prop-id backfill.

End-to-end re-expressions of the reference's three executables on
this engine's operator kernels (reference §3.1-3.3):

- :func:`run_curated_load`  ≙ mls_listings_curated.py — validate →
  transform → union-with-store → latest-record dedup (W1) with
  carry-forward (W2) → MERGE (M1) → reject/outdated side channels.
- :func:`run_history_load`  ≙ mls_listings_hist_curated.py —
  same front-end → per-(key, as_of) dedup (W4) → previous-value
  lead + changed flags (W6) → three-clause MERGE (M2: update /
  DELETE-unchanged / insert).
- :func:`backfill_property_ids` ≙ mls_listings_curated_propid_backfill
  — priority top-k (O1) → batched external lookup (X1) → changed-
  only MERGE (M3).

The column set is the reference's driving core (key, status, price,
address, type columns — the full 133-column schema is a wider
instance of the same shapes; schemas load via ``schema.load_schema``).

Scale notes: dimension joins broadcast; the union-dedup shuffles
once on the business key; MERGE shuffles once on the same key —
at 100 TB you partition the store by a stable hash of the key so
merges prune untouched partitions.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_4handling_listings_spark.functions.cleaning import (
    blank_as_null,
    clean_phone_number,
    null_if_before_year,
    trim_all_strings,
)
from etl_pipeline_4handling_listings_spark.operators.dedup import (
    latest_record,
    superseded_records,
)
from etl_pipeline_4handling_listings_spark.operators.enrich import (
    Transport,
    batched_lookup,
)
from etl_pipeline_4handling_listings_spark.operators.history import (
    ANY_CHANGED_COL,
    changed_against_previous,
)
from etl_pipeline_4handling_listings_spark.operators.merge import unchanged_guard
from etl_pipeline_4handling_listings_spark.operators.validate import (
    Rule,
    ValidationSplit,
    apply_rules,
    dimension_miss_rule,
    split_valid,
)
from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

KEYS = ["mls", "mls_listing_id"]
HIST_KEYS = ["mls", "mls_listing_id", "source_as_of_date"]
# newest-first ordering for the latest-record pick (ref W1,
# curated.py:141-147): 5-deep tiebreak
LATEST_ORDER = lambda: [  # noqa: E731 - session-bound Columns need a thunk
    F.desc("source_as_of_date"),
    F.desc("listing_date"),
    F.asc("entry_date"),
    F.desc("load_date"),
]
# driving columns whose change forces a history row (ref
# hist_curated.py:143-159)
DRIVING_COLS = [
    "listing_status",
    "current_price",
    "source_listing_id",
    "street_address_raw",
    "property_type",
    "property_sub_type",
]

VALID_RENT_SALE = ["Sale", "Rental"]
VALID_STATUS = ["A", "U", "S", "X"]
VALID_PROPERTY_TYPES = [
    "AP", "CO", "CP", "DU", "FM", "LL", "MB", "MF", "SF", "TH", "TS", "VL", "ZZ",
]


class ListingsDims(NamedTuple):
    """Broadcast dimension tables (ref curated.py:79-85)."""

    boards: DataFrame  # mls, movedto
    states: DataFrame  # state, name
    zipcodes: DataFrame  # zipcode, state
    property_sub_types: DataFrame  # property_sub_type


def validate_listings(raw: DataFrame, dims: ListingsDims) -> ValidationSplit:
    """Flag (:func:`flag_listings`), then split good/rejected over
    the persisted flagged frame (ref transform.py:55-130)."""
    return split_valid(flag_listings(raw, dims))


def flag_listings(raw: DataFrame, dims: ListingsDims) -> DataFrame:
    """Broadcast-join dims, remap merged MLS boards, emit the ten
    validation flags plus the reject sum/reasons columns."""
    boards = dims.boards.filter(F.col("mls").isNotNull()).select(
        F.col("mls").alias("_b_mls"), F.col("movedto").alias("_b_movedto")
    )
    states = dims.states.select(
        F.col("state").alias("_st_state"), F.col("name").alias("_st_name")
    )
    zips = dims.zipcodes.select(
        F.col("zipcode").alias("_z_zip"), F.col("state").alias("_z_state")
    )
    subtypes = dims.property_sub_types.select(
        F.col("property_sub_type").alias("_pst_value")
    )

    df = raw.join(F.broadcast(boards), raw["mls"] == boards["_b_mls"], "left")
    # J2: state matches by abbreviation OR full name (disjunctive join;
    # ref transform.py:66,71 — Spark executes broadcast nested loop)
    df = df.join(
        F.broadcast(states),
        (df["state_raw"] == states["_st_state"])
        | (df["state_raw"] == states["_st_name"]),
        "left",
    )
    df = df.join(
        F.broadcast(zips),
        (df["state_raw"] == zips["_z_state"]) & (df["zip_raw"] == zips["_z_zip"]),
        "left",
    )
    df = df.join(
        F.broadcast(subtypes),
        df["property_sub_type"] == subtypes["_pst_value"],
        "left",
    )
    # board consolidation: a merged MLS remaps to its successor
    # (ref transform.py:75-80)
    df = df.withColumn("mls", F.coalesce("_b_movedto", "mls")).dropDuplicates()

    rules = [
        dimension_miss_rule("invalid_mls", "_b_mls", "invalid mls"),
        Rule("mls_null", F.col("mls").isNull(), "mls is null"),
        Rule(
            "mls_listing_id_null",
            F.col("mls_listing_id").isNull(),
            "mls_listing_id is null",
        ),
        Rule(
            "invalid_rent_sale",
            ~F.col("rent_sale").isin(VALID_RENT_SALE) | F.col("rent_sale").isNull(),
            "invalid rent_sale",
        ),
        Rule(
            "invalid_listing_status",
            ~F.col("listing_status").isin(VALID_STATUS)
            | F.col("listing_status").isNull(),
            "invalid listing_status",
        ),
        Rule(
            "invalid_property_type",
            ~F.col("property_type").isin(VALID_PROPERTY_TYPES)
            | F.col("property_type").isNull(),
            "invalid property_type",
        ),
        dimension_miss_rule(
            "invalid_property_sub_type", "_pst_value", "invalid property_sub_type"
        ),
        # price rule (ref transform.py:111-114): worthless price unless
        # a sold listing carries a closed price
        Rule(
            "invalid_price",
            (F.coalesce(F.col("current_price"), F.lit(0)) < 1)
            & (
                ((F.col("listing_status") == "S") & F.col("closed_price").isNull())
                | (F.col("listing_status") != "S")
            ),
            "invalid price",
        ),
        dimension_miss_rule("invalid_state", "_st_state", "invalid state"),
        dimension_miss_rule("invalid_zipcode", "_z_zip", "invalid zipcode"),
    ]
    flagged = apply_rules(df, rules)
    helper_cols = [c for c in flagged.columns if c.startswith(("_b_", "_st_", "_z_", "_pst_"))]
    return flagged.drop(*helper_cols)


def transform_listings(df: DataFrame) -> DataFrame:
    """Scalar normalization pass (ref transform.py:132-417, compact):
    trim everything, blank→null, pre-1900 date sanity, phone
    cleaning, price casts — one generated projection per stage."""
    df = trim_all_strings(df)
    out_cols = []
    for field in df.schema.fields:
        name, dtype = field.name, field.dataType
        c = F.col(name)
        if isinstance(dtype, T.StringType):
            expr = blank_as_null(c)
            if "phone" in name:
                expr = clean_phone_number(c)
            out_cols.append(expr.alias(name))
        elif isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            out_cols.append(null_if_before_year(c).alias(name))
        elif isinstance(dtype, T.DecimalType) and "price" in name:
            out_cols.append(c.cast(T.DecimalType(16, 4)).alias(name))
        else:
            out_cols.append(c)
    return df.select(*out_cols)


class CuratedResult(NamedTuple):
    curated: DataFrame
    rejected: DataFrame
    outdated: DataFrame
    # frames the load persisted for the reject/outdated fan-out;
    # ``release()`` them once those channels have been written
    persisted: tuple[DataFrame, ...] = ()

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()


def run_curated_load(
    raw: DataFrame, dims: ListingsDims, store: MergeStore
) -> CuratedResult:
    """Daily curated load (ref §3.1): validate → transform → union
    with current store → W1 dedup + W2 carry-forward → M1 MERGE.

    Returns the post-merge table plus the reject/outdated side
    channels (callers write them via sources.writers, then call
    ``release()`` on the result to drop the two cached frames the
    channels read from).

    If ``store`` was constructed with ``partition_by``, the bucket
    column (``MergeStore.hash_bucket`` of the business key into the
    store's ``bucket_count()``) is added automatically and merges
    prune untouched buckets.
    """
    # refuses a count the existing store was not bucketed with,
    # before anything is cached or written
    n_buckets = store.bucket_count() if store.partition_by else None
    flagged = flag_listings(raw, dims).persist()
    good, rejected = split_valid(flagged, cache=False)
    # final-schema projection drops the validation bookkeeping (ref P5)
    good = good.drop(*[c for c in good.columns if c.startswith("_")])
    new = transform_listings(good).withColumn("_from", F.lit("new"))
    if store.partition_by and store.partition_by not in new.columns:
        new = new.withColumn(
            store.partition_by, MergeStore.hash_bucket(KEYS, n_buckets)
        )
    store.create_if_absent(new.drop("_from"))
    curated = store.read().withColumn("_from", F.lit("curated"))
    unioned = new.unionByName(curated, allowMissingColumns=True)
    order = LATEST_ORDER() + [F.desc("_from")]  # 'new' > 'curated'
    # ONE window pass computes both outputs: rownum=1 is the
    # latest-record pick, rownum>1 of the 'new' side is the outdated
    # side channel — the reference (and our earlier version) paid a
    # second shuffle for the complement
    from pyspark.sql import Window

    w = Window.partitionBy(*KEYS).orderBy(*order)
    whole = Window.partitionBy(*KEYS)
    ranked = unioned.select(
        *[c for c in unioned.columns if c != "create_timestamp"],
        F.row_number().over(w).alias("_rownum"),
        F.min("create_timestamp").over(whole).alias("create_timestamp"),
    ).persist()
    latest = ranked.filter(F.col("_rownum") == 1).drop("_rownum")
    outdated = ranked.filter(
        (F.col("_rownum") > 1) & (F.col("_from") == "new")
    ).drop("_rownum")
    final = latest.filter(F.col("_from") == "new").drop("_from")
    store.merge(final)
    return CuratedResult(
        store.read(), rejected, outdated.drop("_from"), (flagged, ranked)
    )


def run_history_load(
    raw: DataFrame, dims: ListingsDims, hist_store: MergeStore
) -> DataFrame:
    """History load (ref §3.2): per-(key, as_of) dedup (W4), lead
    previous values + changed flags (W6), three-clause MERGE (M2):
    changed → upsert; unchanged-but-present → DELETE."""
    flagged = flag_listings(raw, dims).persist()
    try:
        good, _ = split_valid(flagged, cache=False)
        good = good.drop(*[c for c in good.columns if c.startswith("_")])
        new = transform_listings(good).withColumn("_from", F.lit("new"))
        hist_store.create_if_absent(new.drop("_from"))
        current = hist_store.read().withColumn("_from", F.lit("curated"))
        # pre-partition on the business key: HashPartitioning(mls, lid)
        # satisfies the clustered distribution of BOTH windows below
        # (W4 on (mls, lid, as_of) and W6 on (mls, lid)), so the whole
        # dedup+lead stage runs on a single exchange
        unioned = new.unionByName(current, allowMissingColumns=True).repartition(
            *[F.col(k) for k in KEYS]
        )
        deduped = latest_record(
            unioned,
            HIST_KEYS,
            [F.desc("listing_date"), F.asc("entry_date"), F.desc("load_date"), F.desc("_from")],
        )
        with_changes = changed_against_previous(
            deduped,
            KEYS,
            ["source_as_of_date"],
            DRIVING_COLS,
        )
        source = with_changes.drop(
            *[c + "_old" for c in DRIVING_COLS],
            *[c + "_changed_flag" for c in DRIVING_COLS],
        ).withColumnRenamed(ANY_CHANGED_COL, "_insert_update_flag").drop("_from")
        differs = unchanged_guard(DRIVING_COLS)
        hist_store.merge(
            source,
            update_condition=lambda t, s: s["_insert_update_flag"] & differs(t, s),
            delete_condition=lambda t, s: ~s["_insert_update_flag"],
            insert_condition=lambda t, s: s["_insert_update_flag"],
        )
    finally:
        flagged.unpersist()
    return hist_store.read()


def backfill_property_ids(
    store: MergeStore,
    transport: Transport,
    limit: int | None = None,
    batch_size: int = 500,
    run_ts: str | None = None,
) -> DataFrame:
    """Prop-id enrichment backfill (ref §3.3): pick un-enriched rows
    (priority: never-queried first), batched external lookup,
    changed-only MERGE of the bookkeeping columns (M3).

    ``run_ts`` replaces the reference's ``current_timestamp()``
    bookkeeping stamp for deterministic/testable runs (SURVEY §4
    hazard 4); None falls back to the wall clock.
    """
    cur = store.read()
    todo = cur.filter(F.col("asg_primary_id").isNull())
    if limit is not None:
        todo = todo.orderBy(
            F.asc_nulls_first("asg_primary_id_queried_ts"), F.asc("mls"),
            F.asc("mls_listing_id"),
        ).limit(limit)
    results = batched_lookup(
        todo,
        KEYS,
        transport,
        T.StructType([T.StructField("asg_primary_id", T.LongType())]),
        batch_size=batch_size,
    )
    stamp = (
        F.lit(run_ts).cast("timestamp") if run_ts else F.current_timestamp()
    )
    source = (
        cur.drop("asg_primary_id")
        .join(results.drop("_issue_text"), KEYS, "inner")
        .withColumn("asg_primary_id_queried_ts", stamp)
        .select(*cur.columns)
    )
    store.merge(
        source,
        update_condition=unchanged_guard(["asg_primary_id"]),
    )
    return store.read()
