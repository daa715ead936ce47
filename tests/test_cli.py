"""CLI end-to-end: curated load through the argparse surface."""

from __future__ import annotations

import datetime
import json
import os

from etl_pipeline_4handling_listings_spark.plans.cli import main

from tests.test_listings_pipeline import RAW_SCHEMA, _row

TS = datetime.datetime


def _write_dims(spark, dims_dir):
    spark.createDataFrame(
        [("MLSA", None), ("MLSB", None)], "mls STRING, movedto STRING"
    ).write.parquet(f"{dims_dir}/boards.parquet")
    spark.createDataFrame(
        [("CO", "Colorado")], "state STRING, name STRING"
    ).write.parquet(f"{dims_dir}/states.parquet")
    spark.createDataFrame(
        [("80001", "CO")], "zipcode STRING, state STRING"
    ).write.parquet(f"{dims_dir}/zipcodes.parquet")
    spark.createDataFrame(
        [("House",)], "property_sub_type STRING"
    ).write.parquet(f"{dims_dir}/property_sub_types.parquet")


def test_cli_curated_end_to_end(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    dims_dir = str(tmp_path / "dims")
    store_dir = str(tmp_path / "store")
    out_dir = str(tmp_path / "export")
    rejects_dir = str(tmp_path / "rejects")

    spark.createDataFrame(
        [
            _row(load_date="20240101"),
            _row(lid="L2", load_date="20240102"),
            _row(lid="L3", load_date="20240301"),  # outside range
            _row(lid="L4", load_date="20240101", status="Z"),  # reject
        ],
        RAW_SCHEMA,
    ).write.parquet(raw_dir)
    _write_dims(spark, dims_dir)

    rc = main(
        [
            "curated",
            "--raw-dirs", raw_dir,
            "--load-date-from", "20240101",
            "--load-date-to", "20240131",
            "--dims-dir", dims_dir,
            "--store", store_dir,
            "--output", out_dir,
            "--num-output-files", "1",
            "--rejects-dir", rejects_dir,
        ],
        spark=spark,
    )
    assert rc == 0
    exported = spark.read.parquet(out_dir)
    assert {r["mls_listing_id"] for r in exported.collect()} == {"L1", "L2"}
    # reject side channel carries the bad-status row as JSON lines
    lines = []
    rej = os.path.join(rejects_dir, "rejected")
    for f in os.listdir(rej):
        if f.startswith("part-"):
            lines += [
                json.loads(line)
                for line in open(os.path.join(rej, f))
                if line.strip()
            ]
    assert {d["mls_listing_id"] for d in lines} == {"L4"}
    assert any("invalid listing_status" in d.get("_reject_reasons", "") for d in lines)


def test_cli_backfill(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    dims_dir = str(tmp_path / "dims")
    store_dir = str(tmp_path / "store")
    spark.createDataFrame([_row(), _row(lid="L2")], RAW_SCHEMA).write.parquet(raw_dir)
    _write_dims(spark, dims_dir)
    main(
        [
            "curated",
            "--raw-dirs", raw_dir,
            "--dims-dir", dims_dir,
            "--store", store_dir,
        ],
        spark=spark,
    )
    rc = main(
        ["backfill", "--store", store_dir, "--run-ts", "2024-02-01 00:00:00"],
        spark=spark,
    )
    assert rc == 0
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    store = MergeStore(spark, store_dir, keys=["mls", "mls_listing_id"])
    rows = store.read().collect()
    assert all(r["asg_primary_id"] is not None for r in rows)


def test_cli_history(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    dims_dir = str(tmp_path / "dims")
    store_dir = str(tmp_path / "hist_store")
    out_dir = str(tmp_path / "hist_export")
    spark.createDataFrame(
        [
            _row(as_of=TS(2024, 1, 1), price=100.0),
            _row(as_of=TS(2024, 1, 2), price=200.0),
            _row(lid="L2", as_of=TS(2024, 1, 1)),
        ],
        RAW_SCHEMA,
    ).write.parquet(raw_dir)
    _write_dims(spark, dims_dir)
    rc = main(
        [
            "history",
            "--raw-dirs", raw_dir,
            "--dims-dir", dims_dir,
            "--store", store_dir,
            "--output", out_dir,
            "--num-output-files", "1",
        ],
        spark=spark,
    )
    assert rc == 0
    hist = spark.read.parquet(out_dir)
    keys = {(r["mls_listing_id"], r["source_as_of_date"]) for r in hist.collect()}
    assert keys == {
        ("L1", TS(2024, 1, 1)),
        ("L1", TS(2024, 1, 2)),
        ("L2", TS(2024, 1, 1)),
    }


def test_cli_curated_partitioned_store(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    dims_dir = str(tmp_path / "dims")
    store_dir = str(tmp_path / "bstore")
    spark.createDataFrame(
        [_row(), _row(lid="L2"), _row(lid="L3")], RAW_SCHEMA
    ).write.parquet(raw_dir)
    _write_dims(spark, dims_dir)
    rc = main(
        [
            "curated",
            "--raw-dirs", raw_dir,
            "--dims-dir", dims_dir,
            "--store", store_dir,
            "--partition-buckets", "64",
        ],
        spark=spark,
    )
    assert rc == 0
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    store = MergeStore(
        spark, store_dir, keys=["mls", "mls_listing_id"], partition_by="_bucket"
    )
    rows = store.read().collect()
    assert {r["mls_listing_id"] for r in rows} == {"L1", "L2", "L3"}
    # bucket dirs exist on disk
    vdir = os.path.join(store_dir, store.current_version())
    assert any(d.startswith("_bucket=") for d in os.listdir(vdir))


def test_cli_curated_partition_buckets_sets_bucket_count(spark, tmp_path):
    """``--partition-buckets N`` buckets the store into 0..N-1."""
    raw_dir = str(tmp_path / "raw")
    dims_dir = str(tmp_path / "dims")
    store_dir = str(tmp_path / "bstore")
    spark.createDataFrame(
        [_row(lid=f"L{i}") for i in range(1, 13)], RAW_SCHEMA
    ).write.parquet(raw_dir)
    _write_dims(spark, dims_dir)
    rc = main(
        [
            "curated",
            "--raw-dirs", raw_dir,
            "--dims-dir", dims_dir,
            "--store", store_dir,
            "--partition-buckets", "8",
        ],
        spark=spark,
    )
    assert rc == 0
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    store = MergeStore(
        spark, store_dir, keys=["mls", "mls_listing_id"], partition_by="_bucket"
    )
    assert store.read().count() == 12
    vdir = os.path.join(store_dir, store.current_version())
    buckets = {
        int(d.split("=", 1)[1]) for d in os.listdir(vdir) if d.startswith("_bucket=")
    }
    assert buckets and buckets <= set(range(8))


def test_cli_curated_keeps_the_store_bucket_count(spark, tmp_path):
    """A store keeps the bucket count it was created with: a day run
    with another ``--partition-buckets`` is refused before it writes
    (a pruned merge would miss the updated key's old bucket and
    duplicate the key); the same count updates in place."""
    import pytest

    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    dims_dir = str(tmp_path / "dims")
    store_dir = str(tmp_path / "bstore")
    _write_dims(spark, dims_dir)
    day0 = str(tmp_path / "raw0")
    spark.createDataFrame(
        [_row(lid=f"L{i}") for i in range(1, 13)], RAW_SCHEMA
    ).write.parquet(day0)
    day1 = str(tmp_path / "raw1")
    spark.createDataFrame(
        [_row(lid="L1", as_of=TS(2024, 1, 2), load_date="20240102")],
        RAW_SCHEMA,
    ).write.parquet(day1)

    def run(raw_dir, n):
        return main(
            [
                "curated",
                "--raw-dirs", raw_dir,
                "--dims-dir", dims_dir,
                "--store", store_dir,
                "--partition-buckets", str(n),
            ],
            spark=spark,
        )

    assert run(day0, 8) == 0
    store = MergeStore(
        spark, store_dir, keys=["mls", "mls_listing_id"], partition_by="_bucket"
    )
    assert store.table_meta()["n_buckets"] == 8
    before = store.current_version()
    with pytest.raises(ValueError, match="bucketed into 8 buckets"):
        run(day1, 16)
    assert store.current_version() == before
    assert run(day1, 8) == 0
    rows = store.read().collect()
    assert len(rows) == 12
    assert len({r["mls_listing_id"] for r in rows}) == 12
    (l1,) = [r for r in rows if r["mls_listing_id"] == "L1"]
    assert l1["source_as_of_date"] == TS(2024, 1, 2)


def test_bucket_count_of_a_store_without_a_recorded_count_is_64(spark, tmp_path):
    """Stores created before the count was recorded were all bucketed
    into 64; a non-positive count is refused outright."""
    import pytest

    from etl_pipeline_4handling_listings_spark.plans.cli import build_parser
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    path = str(tmp_path / "legacy")
    legacy = MergeStore(spark, path, keys=["k"], partition_by="_bucket")
    legacy.create_if_absent(spark.createDataFrame([(1, 0)], "k INT, _bucket INT"))
    assert "n_buckets" not in legacy.table_meta()
    assert legacy.bucket_count() == 64
    assert MergeStore(
        spark, path, keys=["k"], partition_by="_bucket", n_buckets=64
    ).bucket_count() == 64
    with pytest.raises(ValueError, match="bucketed into 64 buckets"):
        MergeStore(
            spark, path, keys=["k"], partition_by="_bucket", n_buckets=16
        ).bucket_count()
    with pytest.raises(ValueError, match="n_buckets must be >= 1"):
        MergeStore(spark, path, keys=["k"], n_buckets=0)
    argv = ["curated", "--raw-dirs", "r", "--dims-dir", "d", "--store", "s"]
    for bad in ("0", "-4"):
        with pytest.raises(SystemExit):
            build_parser().parse_args([*argv, "--partition-buckets", bad])


def test_cli_history_has_no_partition_buckets_flag(tmp_path):
    """The history store is never bucketed, so the flag is curated-only
    rather than silently ignored."""
    import pytest

    from etl_pipeline_4handling_listings_spark.plans.cli import build_parser

    argv = ["--raw-dirs", "r", "--dims-dir", "d", "--store", "s"]
    assert build_parser().parse_args(
        ["curated", *argv, "--partition-buckets", "8"]
    ).partition_buckets == 8
    with pytest.raises(SystemExit):
        build_parser().parse_args(["history", *argv, "--partition-buckets", "8"])


def test_read_json_lenient_splits_corrupt_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from etl_pipeline_4handling_listings_spark.sources.readers import (
        read_json_lenient,
    )

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"k": 1, "v": "a"}\n'
        "this is not json\n"
        '{"k": 2, "v": "b"}\n'
        '{"k": "not-an-int", "v": "c"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    good, bad = read_json_lenient(spark, str(p), schema)
    assert sorted((r["k"], r["v"]) for r in good.collect()) == [(1, "a"), (2, "b")]
    bad_rows = [r["_corrupt_record"] for r in bad.collect()]
    assert len(bad_rows) == 2
    assert "this is not json" in bad_rows[0] or "this is not json" in bad_rows[1]


def test_cli_curated_releases_its_cached_frames(spark, tmp_path):
    """A curated run persists the flagged and ranked frames for the
    reject/outdated fan-out and releases both once the channels and
    the export are written; a history run releases its flagged frame
    too, so repeated loads in one session hold no cache blocks."""
    raw_dir = str(tmp_path / "raw")
    dims_dir = str(tmp_path / "dims")
    spark.createDataFrame(
        [
            _row(load_date="20240101"),
            _row(load_date="20240101", status="Z"),  # reject
        ],
        RAW_SCHEMA,
    ).write.parquet(raw_dir)
    _write_dims(spark, dims_dir)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for cmd in ("curated", "history"):
        argv = [
            cmd,
            "--raw-dirs", raw_dir,
            "--dims-dir", dims_dir,
            "--store", str(tmp_path / cmd),
        ]  # fmt: skip
        if cmd == "curated":
            argv += [
                "--output", str(tmp_path / "export"),
                "--rejects-dir", str(tmp_path / "rejects"),
            ]  # fmt: skip
        assert main(argv, spark=spark) == 0
        assert jsc.getPersistentRDDs().size() == before, cmd
