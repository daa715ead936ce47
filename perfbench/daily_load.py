"""daily_load: the reference's daily job through the CLI users run,
then point DML on a ``_delta_log`` table.

Set-up loads day 0 into fresh stores (the initial load, which also
warms every plan shape). A timed pass starts from a copy of those
stores and, per later day, calls ``plans.cli.main(["curated", ...])``
then ``plans.cli.main(["history", ...])``, so each day merges into a
store that grew the day before; then one ``backfill_property_ids``
call whose transport gives the CLI stub's crc32 ids and counts its
calls; then the Delta phase (``perfbench.delta_dml``).
"""

from __future__ import annotations

import os
import shutil
import zlib
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.common import NoTracer, Ops, median, parquet_bytes
from perfbench.delta_dml import DeltaDml

DAYS = 2
ROWS_PER_DAY = 6_000
BATCH_SIZE = 500
RUN_TS = "2024-02-01 00:00:00"


class CrcTransport:
    """The CLI stub's ids (crc32 of ``mls|mls_listing_id``), counting
    calls and keys through Spark accumulators: it runs in the Python
    workers."""

    def __init__(self, sc, batch_size: int):
        self.batch_size = batch_size
        self.calls = sc.accumulator(0)
        self.keys = sc.accumulator(0)

    def __call__(self, rows: list[dict]) -> list[dict]:
        self.calls.add(1)
        self.keys.add(len(rows))
        return [{"asg_primary_id": zlib.crc32(f"{r['mls']}|{r['mls_listing_id']}".encode())} for r in rows]


class DailyLoad:
    def __init__(self, work: str, seed: int, rows_per_day: int = ROWS_PER_DAY, dml=None):
        self.work = work
        self.dml = DeltaDml(os.path.join(work, "delta"), seed, **(dml or {}))
        self.batches = gen.listings_days(seed, DAYS, rows_per_day)
        gen.write_listings(os.path.join(work, "input"), self.batches)
        self.input_rows = (DAYS - 1) * rows_per_day
        self.template = os.path.join(work, "initial")
        self.out = os.path.join(work, "out")
        self.spark = None
        self.passes = 0

    # -- set-up ------------------------------------------------------

    def warm(self, spark) -> None:
        """The initial load: day 0 through the same calls as a timed
        pass, into the stores every pass starts from; it compiles every
        plan shape the pass uses and starts the Python workers. Calls
        that share no state run in parallel threads (curated then
        backfill | history | the Delta phase's warm-up): most of a cold
        start is single-threaded work (planning, codegen, JIT), which
        overlaps on a multi-core machine."""
        self.spark = spark
        shutil.rmtree(self.template, ignore_errors=True)

        # one Ops per thread; warm-up calls are not counted
        def curated_then_backfill():
            ops = Ops()
            self._curated(self.template, 0, ops, NoTracer())
            self._backfill(self.template, ops, NoTracer())

        with ThreadPoolExecutor(3) as ex:
            futures = [
                ex.submit(curated_then_backfill),
                ex.submit(self._history, self.template, 0, Ops(), NoTracer()),
                ex.submit(self.dml.warm, spark),
            ]
            for f in futures:
                f.result()

    # -- timed pass --------------------------------------------------

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.template, self.out)
        self.dml.reset()

    def run_pass(self, ops, tracer) -> None:
        self.passes += 1
        self.transport = self._daily(self.out, ops, tracer)
        self.dml.run_pass(ops, tracer)

    def _daily(self, out: str, ops, tracer) -> CrcTransport:
        for day in range(1, DAYS):
            self._curated(out, day, ops, tracer)
            self._history(out, day, ops, tracer)
        return self._backfill(out, ops, tracer)

    def _cli(self, name: str, args: list[str], day: int, ops, tracer) -> None:
        from etl_pipeline_4handling_listings_spark.plans import cli

        inp = os.path.join(self.work, "input")
        ld = gen.load_date(day)
        argv = [
            name, *args,
            "--raw-dirs", os.path.join(inp, "raw"),
            "--load-date-from", ld, "--load-date-to", ld,
            "--dims-dir", os.path.join(inp, "dims"),
            "--vacuum-keep", "2",
        ]  # fmt: skip
        with tracer.span(f"plans.{name}"):
            rc = ops.call(name, cli.main, argv, spark=self.spark)
        if rc != 0:
            raise RuntimeError(f"{name} exited {rc}")

    def _curated(self, out: str, day: int, ops, tracer) -> None:
        ld = gen.load_date(day)
        self._cli("curated", ["--store", os.path.join(out, "store"),
                              "--output", os.path.join(out, "export", ld), "--num-output-files", "2",
                              "--rejects-dir", os.path.join(out, "rejects", ld)], day, ops, tracer)  # fmt: skip

    def _history(self, out: str, day: int, ops, tracer) -> None:
        self._cli("history", ["--store", os.path.join(out, "hist_store")], day, ops, tracer)

    def _backfill(self, out: str, ops, tracer) -> CrcTransport:
        from etl_pipeline_4handling_listings_spark.plans.listings import KEYS, backfill_property_ids
        from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

        transport = CrcTransport(self.spark.sparkContext, BATCH_SIZE)
        store = MergeStore(self.spark, os.path.join(out, "store"), keys=KEYS)
        with tracer.span("plans.backfill"):
            ops.call("backfill", backfill_property_ids, store, transport, batch_size=BATCH_SIZE, run_ts=RUN_TS)
        return transport

    # -- results -----------------------------------------------------

    def workload_metrics(self, ops) -> dict:
        curated, history = ops.times.get("curated", []), ops.times.get("history", [])
        store = os.path.join(self.out, "store")
        return {
            "load_rows_per_s": (self.input_rows * self.passes / (sum(curated) + sum(history)), "1/s"),
            "curated_batch_s_p50": (median(curated), "s"),
            "history_batch_s_p50": (median(history), "s"),
            "backfill_s": (median(ops.times.get("backfill", [])), "s"),
            "bytes_per_live_byte": (parquet_bytes(store) / self._live_bytes(store), "ratio"),
            **self.dml.workload_metrics(ops),
        }

    def _live_bytes(self, path: str) -> int:
        from etl_pipeline_4handling_listings_spark.plans.listings import KEYS
        from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

        files = MergeStore(self.spark, path, keys=KEYS).read().inputFiles()
        return sum(os.path.getsize(f.removeprefix("file:")) for f in files)

    def check(self) -> list[str]:
        """Final curated rows, per-day reject/outdated counts, history
        rows and backfilled ids against a pandas model of the input."""
        import pandas as pd

        from etl_pipeline_4handling_listings_spark.plans.listings import HIST_KEYS, KEYS
        from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

        spark = self.spark
        out = self.out
        problems = []
        raw = pd.concat(self.batches, ignore_index=True)
        valid = raw[raw["kind"] != "rej"]
        latest = valid.sort_values("source_as_of_date").groupby(KEYS, as_index=False).last()
        want = {
            (r.mls, r.mls_listing_id, r.source_as_of_date.value // 1000, str(r.current_price))
            for r in latest.itertuples()
        }
        got_df = (
            MergeStore(spark, os.path.join(out, "store"), keys=KEYS)
            .read()
            .selectExpr("mls", "mls_listing_id", "unix_micros(source_as_of_date) AS as_of",
                        "CAST(current_price AS STRING) AS price", "asg_primary_id")  # fmt: skip
            .toPandas()
        )
        got = set(zip(got_df["mls"], got_df["mls_listing_id"], got_df["as_of"], got_df["price"]))
        if got != want or len(got_df) != len(latest):
            problems.append(f"curated: {len(got_df)} rows, {len(got ^ want)} differ from the model's {len(latest)}")
        crc = [zlib.crc32(f"{m}|{lid}".encode()) for m, lid in zip(got_df["mls"], got_df["mls_listing_id"])]
        bad_ids = sum(1 for a, b in zip(got_df["asg_primary_id"], crc) if a != b)
        if bad_ids:
            problems.append(f"backfill: {bad_ids} ids differ from crc32")
        for day, batch in enumerate(self.batches):
            ld = gen.load_date(day)
            for channel, kind in (("rejected", "rej"), ("outdated", "dup")):
                n = _count_lines(os.path.join(out, "rejects", ld, channel))
                want_n = int((batch["kind"] == kind).sum())
                if n != want_n:
                    problems.append(f"{channel} {ld}: {n} rows, model {want_n}")
        hist = MergeStore(spark, os.path.join(out, "hist_store"), keys=HIST_KEYS).read()
        rows, keys = hist.selectExpr("count(*)", f"count(DISTINCT {', '.join(HIST_KEYS)})").first()
        if rows != len(valid) or keys != len(valid):
            problems.append(f"history: {rows} rows, {keys} keys, model {len(valid)}")
        return problems + self.dml.check()


def _count_lines(path: str) -> int:
    n = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                n += sum(1 for line in f if line.strip())
    return n
