"""Benchmark harness: every registry query at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines — a compact summary FIRST (always parseable
even if a log captor truncates long lines), then the full payload
with the per-query map:
    {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
     "sf": <sf>, ...totals...}
    {...same + "queries": {"q1": sec, ...}}
The full payload is also written to BENCH_LOCAL.json at the repo
root so the per-query map survives any stdout truncation (round 2
lost the front of the single long line: BENCH_r02 parsed: null).

``value`` sums the HEADLINE subset only (stable round-over-round
metric); ``queries`` carries per-query wall time for the FULL
registry so per-operator regressions are visible. A query that
throws gets the sentinel -1.0 in the map and is excluded from every
total; every exception the bench survives (warm-up, shared builds,
timed runs, re-runs, the pipeline line) is named in the payload's
``errors`` map as ``"ExceptionClass: message"``.

Each query is executed fully (noop sink — no driver collect, no
result materialization skew) after a warm-up of the session. Wall
time is per-query, session startup excluded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_curated",
    "q1_pricing_summary",
    "q3_topk_join_agg",
    "q5_multi_join_agg",
    "q6_forecast_revenue",
    "q18_large_orders",
    "w1_latest_record",
    "w6_lead_changed",
    "v_validation_flags",
    "m1_merge_upsert",
    "m2_history_merge",
    "o1_priority_topk",
    "x1_enrich_lookup",
    "events_hourly_rollup",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "text_langid",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from etl_pipeline_4handling_listings_spark.session import get_spark
    from etl_pipeline_4handling_listings_spark.queries import REGISTRY

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up pass at the smallest sf: triggers JVM class loading,
    # codegen compilation, and parquet footer caching for the same
    # plan shapes, so the timed pass measures steady-state execution
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    spark.range(1000).selectExpr("sum(id)").collect()
    # warm the Arrow/Python worker pool: the first Arrow stage of a
    # session pays 4-5 s of Python-worker + serializer cold start
    # that would otherwise be billed to x1_enrich_lookup / udf_*.
    # Fan across ALL cores — a single-partition warmup spawns one
    # worker and the remaining 31 still cold-start inside the timed
    # udf_* queries (local-mode workers are per-concurrent-task).
    spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    errors: dict[str, str] = {}
    all_names = list(REGISTRY)
    for name in all_names:
        _attempt(
            errors,
            f"warmup.{name}",
            lambda: _run_noop(REGISTRY, name, spark, warm_dir),
        )

    # drop warm-up cached RDDs so the timed pass starts clean
    spark.catalog.clearCache()

    # the three graph queries consume ONE session-materialized
    # co-presence edge frame by design; build it before the timed
    # pass and report its cost as its own line item, so it neither
    # lands on whichever graph query happens to run first nor
    # silently disappears into the 2-run minimum
    from etl_pipeline_4handling_listings_spark.queries import (
        _copresence_edges_cached,
        _tokens,
    )

    edge_build = _timed(
        errors,
        "shared_edge_build_sec",
        lambda: _copresence_edges_cached(spark, sf_dir),
    )
    # same for the retrieval family's shared (doc_id, word) stream
    token_build = _timed(
        errors, "shared_token_build_sec", lambda: _tokens(spark, sf_dir)
    )

    times = time_queries(spark, REGISTRY, sf_dir, errors)

    # honesty guard: single runs of the slower (>1 s) queries move
    # round-over-round on GC/JIT/concurrent-suite noise alone (the
    # r4 7 s-vs-9 s link-prediction discrepancy; the r5 ±17% drift
    # on unchanged plans). Re-time those in-sequence and report the
    # MIN of the two runs — the stable "capability" number — with
    # per-query run counts in the payload so the metadata shows
    # which numbers are 2-run minima. Sub-second queries stay
    # single-run: their absolute drift is noise-bounded already and
    # the re-run pass would double bench wall-clock for nothing.
    runs = {name: 1 for name in times}
    for name in all_names:
        if times.get(name, -1.0) <= 1.0:
            continue
        # a failed re-run keeps the first run's number
        t = _timed(
            errors,
            f"rerun.{name}",
            lambda: _run_noop(REGISTRY, name, spark, sf_dir),
        )
        if t >= 0:
            times[name] = min(times[name], t)
            runs[name] = 2
        spark.catalog.clearCache()

    # sentinels stay visible in the map but never deflate a total
    total = round(sum(times[n] for n in HEADLINE if times.get(n, -1.0) >= 0), 3)
    registry_total = round(sum(t for t in times.values() if t >= 0), 3)
    # warm the pipeline plan shapes
    _attempt(
        errors, "pipeline_warmup", lambda: _pipeline_throughput(spark, 5_000)
    )
    pipeline = _attempt(
        errors, "pipeline_rows_per_sec", lambda: _pipeline_throughput(spark)
    )
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "registry_queries_total": registry_total,
        "pipeline_rows_per_sec": pipeline,
        "shared_edge_build_sec": edge_build,
        "shared_token_build_sec": token_build,
    }
    full = {
        **summary,
        "queries": times,
        "query_runs": {n: r for n, r in runs.items() if r > 1},
        "errors": errors,
    }
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "BENCH_LOCAL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print_payload(summary, full)
    spark.stop()


def _error(e: BaseException) -> str:
    """``ExceptionClass: message`` (the message's first line: JVM
    errors carry their whole stack trace after it)."""
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"


def _attempt(errors: dict, key: str, fn):
    """``fn()``, or ``None`` with the exception named under ``key`` in
    ``errors``: one failure must not kill the bench line, and must not
    vanish either."""
    try:
        return fn()
    except Exception as e:
        errors[key] = _error(e)
        return None


def _timed(errors: dict, key: str, fn) -> float:
    """Wall seconds of ``fn()``, or -1.0 with its exception named."""
    t0 = time.perf_counter()
    try:
        fn()
    except Exception as e:
        errors[key] = _error(e)
        return -1.0
    return round(time.perf_counter() - t0, 3)


def _run_noop(registry, name: str, spark, sf_dir: str) -> None:
    registry[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def time_queries(spark, registry, sf_dir: str, errors: dict) -> dict:
    """One timed noop run of every query in ``registry``. A query
    that throws gets the sentinel -1.0 (one broken query must not
    kill the whole bench line) and its exception under its name in
    ``errors``."""
    times: dict[str, float] = {}
    for name in registry:
        times[name] = _timed(
            errors, name, lambda: _run_noop(registry, name, spark, sf_dir)
        )
        # per-query isolation: queries that persist() intermediates
        # (budget_select, unigram LM) must not squat on block-manager
        # memory during LATER queries' shuffles — measured up to 3x
        # inflation on heap-heavy queries downstream of a leak
        spark.catalog.clearCache()
    return times


def print_payload(summary: dict, full: dict) -> None:
    """The stdout contract: the compact summary first, then the full
    payload as the LAST line. Consumers parse the last line, so it
    must carry the per-query map (a trailing summary-only line hid
    all 233 per-query times); ``full`` holds every summary key too,
    so a captor keeping only the tail still reads the totals."""
    print(json.dumps(summary), flush=True)
    print(json.dumps(full), flush=True)


def _pipeline_throughput(spark, n_rows: int = 200_000) -> float:
    """End-to-end curated-load throughput (rows/sec): generate
    listings-shaped rows, run validate→transform→dedup→MERGE into a
    fresh store — the reference's daily-load workload."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_pipeline_4handling_listings_spark.plans import (
        ListingsDims,
        run_curated_load,
    )
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    raw = (
    spark.range(n_rows)
        .select(
            F.concat(F.lit("MLS"), (F.col("id") % 5).cast("string")).alias("mls"),
            F.concat(F.lit("L"), (F.col("id") % (n_rows // 2)).cast("string")).alias(
                "mls_listing_id"
            ),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias(
                "source_as_of_date"
            ),
            F.lit("20240101").alias("load_date"),
            F.lit("2024-01-01").cast("date").alias("listing_date"),
            F.lit("2024-01-01").cast("date").alias("entry_date"),
            F.when(F.col("id") % 17 == 0, "Z").otherwise("A").alias(
                "listing_status"
            ),
            (F.col("id") % 900000 + 1000).cast("decimal(16,4)").alias(
                "current_price"
            ),
            F.lit(None).cast("decimal(16,4)").alias("closed_price"),
            F.lit("Sale").alias("rent_sale"),
            F.lit("SF").alias("property_type"),
            F.lit("House").alias("property_sub_type"),
            F.lit("CO").alias("state_raw"),
            F.lit("80001").alias("zip_raw"),
            F.concat((F.col("id") % 999).cast("string"), F.lit(" Main St")).alias(
                "street_address_raw"
            ),
            F.col("id").cast("string").alias("source_listing_id"),
            F.lit("(303) 555-1234").alias("owner_phone"),
            F.timestamp_seconds(F.lit(1700000000)).alias("create_timestamp"),
            F.lit(None).cast("long").alias("asg_primary_id"),
            F.lit(None).cast("timestamp").alias("asg_primary_id_queried_ts"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dims = ListingsDims(
        boards=spark.createDataFrame(
            [(f"MLS{i}", None) for i in range(5)], "mls STRING, movedto STRING"
        ),
        states=spark.createDataFrame(
            [("CO", "Colorado")], "state STRING, name STRING"
        ),
        zipcodes=spark.createDataFrame(
            [("80001", "CO")], "zipcode STRING, state STRING"
        ),
        property_sub_types=spark.createDataFrame(
            [("House",)], "property_sub_type STRING"
        ),
    )
    tmp = tempfile.mkdtemp(prefix="bench_store_")
    try:
        store = MergeStore(
            spark, os.path.join(tmp, "store"), keys=["mls", "mls_listing_id"]
        )
        t0 = time.perf_counter()
        run_curated_load(raw, dims, store)
        elapsed = time.perf_counter() - t0
        return round(n_rows / elapsed, 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
