"""Command-line entry points mirroring the reference executables.

    python -m etl_pipeline_4handling_listings_spark.plans.cli curated \
        --raw-dirs /data/raw1,/data/raw2 --load-date-from 20240101 \
        --load-date-to 20240131 --dims-dir /data/dims \
        --store /data/curated_store --output /data/curated_export \
        --rejects-dir /data/rejects [--mls MLSA,MLSB] [--num-output-files 100]

    python -m ... history  --raw-dirs ... --dims-dir ... --store ...
    python -m ... backfill --store ... [--limit 1000] [--batch-size 500]

Flag surface follows the reference CLIs (ref
mls_listings_curated.py:18-56, hist :20-50, backfill :22-56):
load-date range scan, optional MLS membership filter, output-file
sizing, batch sizing for the external lookup. The backfill transport
defaults to a deterministic local stub; pass a real HTTP transport
in library use (operators/enrich.py).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_pipeline_4handling_listings_spark.plans.listings import (
    HIST_KEYS,
    KEYS,
    ListingsDims,
    backfill_property_ids,
    run_curated_load,
    run_history_load,
)
from etl_pipeline_4handling_listings_spark.session import get_spark
from etl_pipeline_4handling_listings_spark.sources.readers import (
    open_parquet,
    read_union,
)
from etl_pipeline_4handling_listings_spark.sources.store import MergeStore
from etl_pipeline_4handling_listings_spark.sources.writers import (
    write_export,
    write_json_lines,
)


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--raw-dirs", required=True, help="comma-separated raw dirs")
    p.add_argument("--load-date-from", default=None, help="YYYYMMDD inclusive")
    p.add_argument("--load-date-to", default=None, help="YYYYMMDD inclusive")
    p.add_argument("--mls", default=None, help="comma-separated MLS filter")
    p.add_argument("--dims-dir", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--output", default=None, help="columnar export dir")
    p.add_argument("--num-output-files", type=int, default=None)
    p.add_argument("--vacuum-keep", type=int, default=None)


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="listings-engine")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("curated", "history"):
        p = sub.add_parser(name)
        _add_common(p)
        if name == "curated":
            p.add_argument("--rejects-dir", default=None)
            p.add_argument(
                "--partition-buckets",
                type=_positive_int,
                default=None,
                help="hash-bucket the store on the business key into N "
                "buckets for partition-pruned merges; an existing store "
                "keeps the count it was created with",
            )
    b = sub.add_parser("backfill")
    b.add_argument("--store", required=True)
    b.add_argument("--limit", type=int, default=None)
    b.add_argument("--batch-size", type=int, default=500)
    b.add_argument("--run-ts", default=None)
    return ap


def _load_raw(spark: SparkSession, args: argparse.Namespace):
    predicate = None
    if args.load_date_from and args.load_date_to:
        predicate = (
            f"load_date between '{args.load_date_from}' and '{args.load_date_to}'"
        )
    raw = read_union(spark, args.raw_dirs.split(","), predicate=predicate)
    if args.mls:
        raw = raw.filter(F.col("mls").isin(args.mls.split(",")))
    return raw


def _load_dims(spark: SparkSession, dims_dir: str) -> ListingsDims:
    def t(name: str):
        return open_parquet(spark, f"{dims_dir}/{name}.parquet")

    return ListingsDims(
        boards=t("boards"),
        states=t("states"),
        zipcodes=t("zipcodes"),
        property_sub_types=t("property_sub_types"),
    )


def _stub_transport(rows: list[dict]) -> list[dict]:
    """Deterministic local stand-in for the PropertyMaster API.

    Uses a stable content hash (not Python's per-process-salted
    ``hash()``) so re-runs assign identical ids.
    """
    import zlib

    return [
        {
            "asg_primary_id": zlib.crc32(
                f"{r['mls']}|{r['mls_listing_id']}".encode()
            )
        }
        for r in rows
    ]


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    owns_session = spark is None
    spark = spark or get_spark(app_name=f"listings-{args.cmd}")
    try:
        if args.cmd in ("curated", "history"):
            raw = _load_raw(spark, args)
            dims = _load_dims(spark, args.dims_dir)
            if args.cmd == "curated":
                pb = "_bucket" if args.partition_buckets else None
                store = MergeStore(
                    spark,
                    args.store,
                    keys=KEYS,
                    partition_by=pb,
                    n_buckets=args.partition_buckets,
                )
            else:
                store = MergeStore(spark, args.store, keys=HIST_KEYS)
            res = None
            try:
                if args.cmd == "curated":
                    res = run_curated_load(raw, dims, store)
                    if args.rejects_dir:
                        write_json_lines(res.rejected, f"{args.rejects_dir}/rejected")
                        write_json_lines(
                            res.outdated, f"{args.rejects_dir}/outdated", mode="append"
                        )
                    table = res.curated
                else:
                    table = run_history_load(raw, dims, store)
                if args.output:
                    write_export(table, args.output, num_files=args.num_output_files)
            finally:
                if res is not None:
                    res.release()
            if args.vacuum_keep:
                store.vacuum(keep=args.vacuum_keep)
        else:  # backfill
            store = MergeStore(spark, args.store, keys=KEYS)
            backfill_property_ids(
                store,
                _stub_transport,
                limit=args.limit,
                batch_size=args.batch_size,
                run_ts=args.run_ts,
            )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
