"""Structured Streaming counterparts of the batch kernels.

The reference is incremental-batch: re-read a ``load_date`` range,
window-dedup, MERGE (SURVEY §2.12 — no streaming anywhere). On
Spark the same contract maps naturally onto Structured Streaming:

- latest-record semantics  → ``dropDuplicates`` within a watermark
  (exactly-once per key per watermark window), or full W1 semantics
  per micro-batch inside ``foreachBatch``;
- MERGE into the curated store → ``foreachBatch`` + MergeStore
  (micro-batch = the reference's daily increment, minutes instead
  of a day);
- the hourly rollup → windowed aggregation with watermark-bounded
  state.

State stays bounded by the watermark; the shuffle keys match the
batch kernels so a migration between the two is a config change,
not a rewrite.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_4handling_listings_spark.arrowframe import arrow_frame
from etl_pipeline_4handling_listings_spark.operators.dedup import latest_record
from etl_pipeline_4handling_listings_spark.sources.readers import open_parquet
from etl_pipeline_4handling_listings_spark.sources.store import MergeStore


def stream_latest_record_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-observation-wins dedup within the watermark horizon.

    ``dropDuplicates`` keyed on the business key: one row per key
    per watermark window, state evicted after the horizon. For
    newest-record-wins (the reference's W1 ordering), use
    :func:`foreach_batch_upsert` — ordering across micro-batches
    requires a store, not stream state.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicates(list(keys))


def stream_dedup_redelivery(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Duplicate suppression for at-least-once sources whose
    re-deliveries carry DIFFERENT event times (retry timestamps).

    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) dedups on the
    business key alone while still bounding state by the watermark:
    a key's state is evictable once the watermark passes the FIRST
    observation + horizon, even though later duplicates carry later
    event times. Plain ``dropDuplicates(keys)`` without the event
    time in the key set never evicts state — unbounded at 100 TB;
    with the event time in the key set it fails to suppress retried
    rows at all. This is the only shape that is both correct under
    retries and bounded.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_hourly_rollup(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    group_extra: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling 1-hour windowed aggregate with late-data watermark —
    the streaming twin of the ``events_hourly_rollup`` batch query."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour"), *group_extra)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
    )


def stream_ohlc_bars(
    stream: DataFrame,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling 1-hour OHLC bars — the streaming twin of the
    ``events_ohlc_bars`` batch query: open/close via min_by/max_by
    over the (ts, id) composite, ONE windowed aggregate, no
    per-window sort. State per open window is a fixed handful of
    scalars regardless of event volume, and the watermark closes
    windows for append-mode emission — the time-series downsampler
    that holds up on an unbounded stream."""
    order_key = F.struct(F.col(ts_col), F.col(id_col))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour"))
        .agg(
            F.count("*").alias("n"),
            F.min_by(value_col, order_key).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, order_key).alias("close"),
        )
    )


def _app_marker(store_path: str, txn_app_id: str):
    """Per-app-id applied-batch watermark for ``foreachBatch`` sinks
    whose write is key-idempotent (a replay re-produces the same
    snapshot, so the marker only avoids version churn — the append
    sinks, which are NOT replay-safe, ride the commit manifest's
    txn fields instead).

    One FILE per ``txn_app_id`` (``_LAST_BATCH.<app-id>``) — Delta's
    (txnAppId, txnVersion) scheme, not a bare batch id: a second
    streaming query writing the same store, or a restart with a
    reset checkpoint (batch ids restart at 0), must not have its
    real batches dropped as "replays" of another query's ids. Each
    update is a self-contained atomic replace, so concurrent app
    ids can never erase each other's markers. Returns
    ``(applied, record)``: the highest applied batch id (-1 = none)
    and the recorder."""
    import hashlib
    import json
    import os
    import re

    legacy_marker = os.path.join(store_path, "_LAST_BATCH")
    # filesystem-safe, collision-safe name for the app's own marker:
    # readable prefix + short digest (two app ids that sanitize to
    # the same prefix still get distinct files)
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", txn_app_id)[:40]
    digest = hashlib.sha256(txn_app_id.encode()).hexdigest()[:8]
    marker = f"{legacy_marker}.{safe}-{digest}"

    def applied() -> int:
        """Highest batch id THIS app id has applied (-1 = none).
        The per-app file wins; the legacy shared marker (plain int
        or JSON map) is only consulted when the per-app file does
        not exist yet, so pre-migration stores resume correctly."""
        try:
            with open(marker) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            pass
        try:
            with open(legacy_marker) as f:
                d = json.loads(f.read().strip())
        except (OSError, ValueError):
            return -1
        if isinstance(d, dict):
            v = d.get(txn_app_id, -1)
            return v if isinstance(v, int) else -1
        if isinstance(d, int) and txn_app_id == "default":
            return d  # legacy plain-int marker ("7" IS json)
        return -1

    def record(batch_id: int) -> None:
        # atomic self-contained replace: no read-modify-write of
        # shared state, so concurrent app ids can't erase each other
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, marker)

    return applied, record


def foreach_batch_upsert(
    store: MergeStore,
    keys: Sequence[str],
    order: Sequence[Column] | Callable[[], Sequence[Column]],
    txn_app_id: str = "default",
    auto_optimize_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink: W1-dedup each micro-batch, MERGE into
    the store — the reference's daily curated load as a streaming
    sink.

    Exactly-once per batch: Structured Streaming replays the last
    uncommitted micro-batch after a restart, so the sink records
    the highest applied batch id in ``_LAST_BATCH`` (written
    atomically AFTER the merge commits) and skips batch ids at or
    below it — a replay neither re-merges nor churns a new store
    version. MERGE's key-idempotency still backstops the one
    torn-write window (crash after merge, before marker): the redo
    produces an identical snapshot, never duplicate rows.

    The marker is ONE FILE PER ``txn_app_id``
    (``_LAST_BATCH.<app-id>``) — Delta's (txnAppId, txnVersion)
    scheme, not a bare batch id: a SECOND streaming query writing
    the same store, or a restart with a RESET checkpoint (batch ids
    restart at 0), must not have its real batches dropped as
    "replays" of another query's ids. Give every distinct
    query/checkpoint its own ``txn_app_id``, and a FRESH id after
    wiping a checkpoint. Per-app files make each update a
    self-contained atomic replace — concurrent queries with
    DIFFERENT app ids can NEVER erase each other's markers (a
    shared map would need read-modify-write); single writer per app
    id is assumed, as in Delta. Pre-existing shared markers (the
    old plain-int and JSON-map formats of ``_LAST_BATCH``) are
    read as a fallback, so existing stores resume seamlessly.

    ``order`` may be a thunk because Column objects are bound to a
    session; a thunk lets the caller defer construction to the
    executor-side invocation.

    ``auto_optimize_every=N`` compacts the store's small files
    (``MergeStore.optimize``) after every Nth APPLIED batch —
    Delta's autoCompact analogue: a micro-batch cadence of
    one-file-per-partition commits accretes files linearly with
    stream uptime, so maintenance must ride the ingest path.
    Optimize commits through the same claim protocol, and its
    manifest names the compacted partitions as touched, so a racing
    batch merge into other partitions fast-forwards rather than
    re-merging. Optimize failures never fail the batch (the data is
    already committed); they surface on the next cycle.
    """
    _applied, _record = _app_marker(store.path, txn_app_id)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= _applied():
            return  # replayed, already applied by THIS query
        cols = order() if callable(order) else list(order)
        deduped = latest_record(batch, keys, cols)
        store.create_if_absent(deduped)
        store.merge(deduped)
        _record(batch_id)
        if (
            auto_optimize_every
            and (batch_id + 1) % auto_optimize_every == 0
        ):
            try:
                store.optimize()
            except Exception:
                pass  # data already committed; retry next cycle

    return sink


def foreach_batch_append(
    store: MergeStore,
    txn_app_id: str = "default",
    auto_optimize_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for APPEND-ONLY ingest (event/fact
    tables): each micro-batch lands via ``MergeStore.append`` —
    O(batch rows) written, no key join, the streaming write path
    that stays flat at 100 TB table size.

    Exactly-once is STRONGER here than the upsert sink's marker
    file: append is not key-idempotent (a replayed batch would
    duplicate rows), so the (txn_app_id, batch_id) pair rides the
    COMMIT MANIFEST itself (Delta's txnAppId/txnVersion). The
    commit is the marker — there is no torn window between "data
    committed" and "progress recorded", and a restart replay is
    skipped atomically by ``last_txn_version``. Single writer per
    app id; give each query/checkpoint its own id, and a fresh one
    after wiping a checkpoint (batch ids restart at 0).

    ``auto_optimize_every=N``: same autoCompact ride-along as the
    upsert sink — micro-batch appends accrete one file set per
    batch, so compaction must ride the ingest path; failures never
    fail the already-committed batch.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.create_if_absent(batch)
        applied = store.append(batch, txn=(txn_app_id, batch_id))
        if (
            applied is not None
            and auto_optimize_every
            and (batch_id + 1) % auto_optimize_every == 0
        ):
            try:
                store.optimize()
            except Exception:
                pass  # data already committed; retry next cycle

    return sink


def foreach_batch_cdc_apply(
    target: MergeStore,
    keys: Sequence[str],
    txn_app_id: str,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink that REPLAYS a ``mergestore_cdc`` change
    feed into a downstream store — the bronze→silver medallion hop:

        (spark.readStream.format("mergestore_cdc")
              .option("keys", "k").load(bronze.path)
              .writeStream.foreachBatch(
                  foreach_batch_cdc_apply(silver, ["k"], "br-to-ag"))
              .option("checkpointLocation", ...).start())

    ``txn_app_id`` is REQUIRED, one distinct id per (query,
    checkpoint): batch-id watermarks are per app id, so two feeds
    writing the same target under a shared id would silently drop
    each other's batches as replays (the same failure the anonymous
    stream-sink identity was banned for in the data source).

    The sink consumes EITHER feed shape: ``mergestore_cdc``
    (``_commit_version`` as ``vNNNNN`` strings) or a spec Change
    Data Feed such as ``delta_tail`` with ``readChangeFeed`` (LONG
    ``_commit_version``, plus ``_commit_timestamp`` and
    ``update_preimage`` rows — preimages are dropped before the
    collapse, since a preimage sharing its postimage's key AND
    version could otherwise win the tie and upsert the stale
    value). A micro-batch may span several upstream commits, so
    changes first collapse to the LAST change per key — ordered by
    the NUMERIC commit number, never the raw string: versions
    format as ``v{n:05d}``, so past 99,999 commits ``v100000``
    sorts lexicographically BEFORE ``v99999`` and a string max
    would pick a stale change — then apply in one MERGE: postimages
    upsert, deletes delete. Order within the batch therefore never
    matters, and the per-key collapse keeps the merge source unique
    per key (the Delta MERGE precondition).

    Exactly-once: the merge is key-idempotent (replaying a batch of
    postimages/deletes reproduces the same snapshot), so the per-app
    marker file only prevents replay version churn — same contract
    as :func:`foreach_batch_upsert`. Transformations between feed
    and sink are fine as long as they are row-wise (filter/project):
    anything that re-aggregates across keys should land in its own
    store via :func:`foreach_batch_upsert` instead.

    Scale: cost per batch is O(changed keys), never O(table) — the
    downstream table follows a 100 TB upstream at the write rate,
    not the table size; with both stores partitioned by the same
    key function the merge prunes to the touched partitions.
    """
    _applied, _record = _app_marker(target.path, txn_app_id)
    meta = ("_change_type", "_commit_version", "_commit_timestamp")

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= _applied():
            return  # replayed, already applied by THIS query
        batch = batch.where(
            F.col("_change_type") != F.lit("update_preimage")
        )
        # numeric order for either feed shape: LONG versions (spec
        # CDF) cast directly; 'vNNNNN' strings strip the prefix —
        # the %05d zero-padding only sorts correctly below 100,000
        # commits, and this sink must not inherit that ceiling
        vtype = dict(batch.dtypes).get("_commit_version", "string")
        vnum = (
            F.col("_commit_version").cast("long")
            if vtype in ("bigint", "int", "long")
            else F.substring("_commit_version", 2, 18).cast("long")
        )
        last = latest_record(batch, keys, [F.desc(vnum)]).drop(
            "_commit_version"
        )
        data_cols = [c for c in last.columns if c not in meta]
        target.create_if_absent(last.select(*data_cols))
        # merge_upsert clause order evaluates update BEFORE delete,
        # so the conditions must be mutually exclusive on the flag
        target.merge(
            last,
            update_condition=lambda t, s: s["_change_type"]
            != F.lit("delete"),
            delete_condition=lambda t, s: s["_change_type"]
            == F.lit("delete"),
            insert_condition=lambda t, s: s["_change_type"]
            != F.lit("delete"),
        )
        _record(batch_id)

    return sink


def stream_session_rollup(
    events: DataFrame,
    key: str = "k",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key session aggregation via the NATIVE ``session_window``
    — Spark merges overlapping gap-extended windows in the state
    store, closing a session once the watermark passes its end.
    The built-in twin of ``stateful.sessionize`` (the
    applyInPandasWithState version, which exists for custom
    session logic); for plain gap sessions this one stays fully
    JVM-side with watermark-bounded state.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def _versioned_merge_sink(
    path: str,
    batch_to_state: Callable[[DataFrame], DataFrame],
    merge_states: Callable[[DataFrame, DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """Shared scaffolding for incremental mergeable-state sinks
    (Count-Min sketch, value histogram): per micro-batch, build the
    batch's state frame, merge it with the latest stored version,
    and publish as ``{path}/v<batch_id>``.

    Crash safety + idempotency: the merged state writes to a
    ``_tmp`` directory first and is RENAMED into place — Spark
    creates output dirs at job start, so checking the final name
    can never mistake a mid-write crash for an applied batch
    (retries of a torn write redo the merge; replays of a
    committed batch_id are skipped). Production would hold the
    version pointer in a transactional table (MergeStore/Delta)
    instead of directory listing.
    """
    import os
    import shutil

    def sink(batch: DataFrame, batch_id: int) -> None:
        final = os.path.join(path, f"v{batch_id}")
        if os.path.isdir(final):
            return  # replay of an already-committed batch
        spark = batch.sparkSession
        merged = batch_to_state(batch)
        versions = (
            sorted(
                int(d[1:])
                for d in os.listdir(path)
                if d.startswith("v") and d[1:].isdigit()
            )
            if os.path.isdir(path)
            else []
        )
        if versions:
            current = open_parquet(
                spark, os.path.join(path, f"v{versions[-1]}")
            )
            merged = merge_states(merged, current)
        tmp = os.path.join(path, f"_tmp_v{batch_id}")
        shutil.rmtree(tmp, ignore_errors=True)  # torn earlier attempt
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.replace(tmp, final)

    return sink


def foreach_batch_sketch_merge(
    path: str, key: str, depth: int = 3, width: int = 2048
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining a Count-Min sketch
    incrementally: per micro-batch, build the batch's sketch and
    merge it counter-wise into the stored grid — streaming heavy
    hitters with a few KB of persisted state and O(batch) work per
    trigger, never a rescan of history (the streaming twin of the
    ``incr_sketch_merge`` batch query). State scheme:
    :func:`_versioned_merge_sink`.
    """
    from etl_pipeline_4handling_listings_spark.operators.sketch_cms import (
        cms_build,
    )

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _versioned_merge_sink(
        path,
        lambda batch: cms_build(batch, key, depth=depth, width=width),
        merge,
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_lag: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval:
    right rows match left rows with ``right_ts`` in
    ``[left_ts - max_lag, left_ts]`` on the same key — the streaming
    twin of the batch range join (operators/rangejoin.py), e.g.
    purchases attributed to the click window preceding them.

    Both sides carry watermarks, and the time bound appears in the
    join condition — together they let Spark evict join state once
    an event can no longer match anything (state is O(events within
    watermark+lag), not unbounded). Without the time bound a
    stream-stream inner join must buffer each side forever.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_lag}")
        )
    )
    return l.join(r, cond, "inner")


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension.

    The static side is re-read per micro-batch (so a dim refresh is
    picked up without a restart) and broadcast when small — exactly
    the batch pipeline's J1 dimension join lifted to streaming.
    Stateless: unlike stream-stream joins, no watermark or join
    state is needed, because the static side is always complete.

    Reference analogue: the listings dimension join of the curated
    load (SURVEY §2.4 J1) running against a live feed.
    """
    return stream.join(F.broadcast(dim), on=on, how=how)


def foreach_batch_histogram(
    path: str, value_col: str, bin_cents: int = 5000, n_bins: int = 10
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining a value histogram
    incrementally — the online half of a PSI drift monitor
    (operators/drift.py; batch twin: query ``stats_psi_drift``).

    Per micro-batch: bin the batch (integer cents-bins), merge
    counter-wise into the stored n_bins-row state. PSI against a
    frozen reference window is then O(n_bins) arithmetic on the
    state at ANY trigger — drift detection never rescans history.
    State scheme (crash-safe rename + replay skip):
    :func:`_versioned_merge_sink`.
    """
    from etl_pipeline_4handling_listings_spark.operators.drift import (
        merge_histograms,
        value_histogram,
    )

    return _versioned_merge_sink(
        path,
        lambda batch: value_histogram(
            batch, value_col, bin_cents=bin_cents, n_bins=n_bins
        ),
        merge_histograms,
    )


_LATENESS_BANDS: tuple[tuple[str, int | None], ...] = (
    ("0_in_order", 0),
    ("1_lt_1s", 1_000_000),
    ("2_lt_1m", 60_000_000),
    ("3_lt_10m", 600_000_000),
    ("4_lt_1h", 3_600_000_000),
    ("5_ge_1h", None),
)


def foreach_batch_lateness_profile(
    path: str,
    ts_us_col: str,
    bands: Sequence[tuple[str, int | None]] = _LATENESS_BANDS,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining a LIVE event-time lateness
    profile — the streaming twin of query
    ``events_lateness_profile`` and THE measurement that sizes a
    Structured Streaming watermark from the stream itself (pick the
    smallest band boundary whose cumulative share meets the loss
    target; :func:`suggest_watermark_us`).

    Semantics match the engine being sized, not the batch query:
    Spark advances the watermark at micro-batch BOUNDARIES, so each
    event's lateness is measured against the high-watermark (max
    event time) of all PRIOR batches — "would a watermark of X have
    dropped this row". Rows of the first batch are in_order by
    definition, exactly as a fresh stream's watermark starts at
    zero. State is one tiny frame (one row per band + the carried
    high-watermark), merged counter-wise per batch; crash safety +
    replay idempotency use the same rename-versioned scheme as
    :func:`_versioned_merge_sink` (a replayed batch_id is a no-op,
    so counts are exactly-once).

    ``ts_us_col``: event time in integer MICROSECONDS (the events
    convention) — integer arithmetic end to end, no tz hazards.
    ``bands``: ascending ``(label, upper_bound_us)`` with a final
    ``(label, None)`` catch-all; labels are lexicographically
    ordered by construction so the profile reads sorted.
    """
    import os
    import shutil

    labels = [b[0] for b in bands]
    uppers = [b[1] for b in bands]
    if uppers[-1] is not None or any(u is None for u in uppers[:-1]):
        raise ValueError(
            "bands must end with the single (label, None) catch-all"
        )

    def band_col(late: Column) -> Column:
        expr = F.lit(labels[-1])
        for label, upper in reversed(list(zip(labels[:-1], uppers[:-1]))):
            cond = (
                (late <= 0) if upper == 0 else (late < F.lit(upper))
            )
            expr = F.when(cond, label).otherwise(expr)
        return expr

    def sink(batch: DataFrame, batch_id: int) -> None:
        final = os.path.join(path, f"v{batch_id}")
        if os.path.isdir(final):
            return  # replay of an already-committed batch
        spark = batch.sparkSession
        current = None
        versions = (
            sorted(
                int(d[1:])
                for d in os.listdir(path)
                if d.startswith("v") and d[1:].isdigit()
            )
            if os.path.isdir(path)
            else []
        )
        if versions:
            current = open_parquet(
                spark, os.path.join(path, f"v{versions[-1]}")
            )
        hw_prev = (
            None
            if current is None
            else current.agg(F.max("hw_us")).collect()[0][0]
        )
        ts = F.col(ts_us_col).cast("long")
        late = (
            F.lit(0).cast("long")
            if hw_prev is None
            else F.when(ts >= F.lit(hw_prev), F.lit(0).cast("long"))
            .otherwise(F.lit(hw_prev) - ts)
        )
        prof = batch.select(
            late.alias("_late"), ts.alias("_ts")
        ).agg(
            *[
                F.sum(
                    F.when(band_col(F.col("_late")) == lb, 1).otherwise(0)
                ).cast("long").alias(f"_n_{i}")
                for i, lb in enumerate(labels)
            ],
            F.max(
                F.when(F.col("_late") > 0, F.col("_late")).otherwise(0)
            ).cast("long").alias("_maxl"),
            F.max("_ts").cast("long").alias("_bmax"),
        )
        [row] = prof.collect()  # one row — the profile IS tiny state
        new_hw = max(
            v for v in (hw_prev, row["_bmax"], 0) if v is not None
        )
        rows = [
            (
                lb,
                int(row[f"_n_{i}"] or 0),
                int(row["_maxl"] or 0),
                int(new_hw),
            )
            for i, lb in enumerate(labels)
        ]
        merged = arrow_frame(
            spark,
            rows,
            "band string, n_events long, max_late_us long, hw_us long",
        )
        # max_late_us belongs to the profile, not a band — carry the
        # running max on every row (merge = max), like hw_us
        if current is not None:
            prev_max = current.agg(F.max("max_late_us")).collect()[0][0] or 0
            prev_counts = {
                r["band"]: r["n_events"] for r in current.collect()
            }
            rows = [
                (
                    lb,
                    n + int(prev_counts.get(lb, 0)),
                    max(m, int(prev_max)),
                    hw,
                )
                for (lb, n, m, hw) in rows
            ]
            merged = arrow_frame(
                spark,
                rows,
                "band string, n_events long, max_late_us long, hw_us long",
            )
        tmp = os.path.join(path, f"_tmp_v{batch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.replace(tmp, final)

    return sink


def suggest_watermark_us(
    profile: DataFrame,
    coverage: float = 0.99,
    bands: Sequence[tuple[str, int | None]] = _LATENESS_BANDS,
) -> int | None:
    """Watermark sizing from a lateness profile (the consumer of
    :func:`foreach_batch_lateness_profile`): the smallest band
    upper bound whose cumulative event share reaches ``coverage``.
    None means only the unbounded catch-all reaches it — the stream
    is too disordered for a finite watermark at that target (raise
    the target's loss tolerance or fix the source). Driver-side on
    the n_bands-row profile — never touches the stream."""
    rows = sorted(
        (r["band"], int(r["n_events"]))
        for r in profile.select("band", "n_events").collect()
    )
    total = sum(n for _b, n in rows)
    if total == 0:
        return 0
    uppers = {b[0]: b[1] for b in bands}
    cum = 0
    for band, n in rows:
        cum += n
        if cum >= coverage * total:
            upper = uppers.get(band, None)
            return upper if upper is not None else None
    return None
