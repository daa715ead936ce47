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
