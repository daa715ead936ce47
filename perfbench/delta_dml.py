"""delta_dml: point DML on a ``_delta_log`` table with deletion vectors.

Per round: ``merge_into_delta`` (upsert of a day's changes),
``delete_from_delta(strategy="dv")`` and ``update_from_delta(
strategy="dv")``; then ``optimize_delta(purge=True)``,
``vacuum_delta`` at the table's default retention, and
``read_delta`` at the head and at every round's version.
"""

from __future__ import annotations

import json
import os
import shutil

from perfbench import gen, layers
from perfbench.common import NoTracer, Ops, dir_files, median

N_ROWS = 6_000
ROUNDS = 1
BATCH = 600
FILES = 8
SCHEMA = "k long, mls string, mls_listing_id string, listing_status string, current_price long, rev long"


class DeltaDml:
    def __init__(self, work: str, seed: int, n_rows: int = N_ROWS, batch: int = BATCH):
        self.work = work
        self.base = gen.dml_base(seed, n_rows)
        self.rounds = gen.dml_rounds(seed, n_rows, ROUNDS, batch)
        self.states = gen.dml_replay(self.base, self.rounds)
        self.table = os.path.join(work, "table")
        self.template = os.path.join(work, "template")
        self.spark = None

    # -- set-up ------------------------------------------------------

    def _create(self, path: str, base) -> None:
        """Version 0: protocol with the deletionVectors table feature
        plus metadata; version 1: the base rows in ``FILES`` files."""
        from pyspark.sql.types import _parse_datatype_string

        from etl_pipeline_4handling_listings_spark.sources.deltalog import append_to_delta

        schema = _parse_datatype_string(SCHEMA)
        os.makedirs(os.path.join(path, "_delta_log"))
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {
                "metaData": {
                    "id": "perfbench-delta-dml",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": [],
                    "configuration": {"delta.enableDeletionVectors": "true"},
                    "createdTime": 0,
                }
            },
        ]
        with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        df = self.spark.createDataFrame(base[gen.DML_COLUMNS], schema).repartition(FILES, "k")
        append_to_delta(df, path)

    def warm(self, spark) -> None:
        """Create the base table every pass starts from, then run the
        whole op sequence once on a copy of it, so the timed pass meets
        the same plan shapes at the same sizes."""
        self.spark = spark
        shutil.rmtree(self.template, ignore_errors=True)
        self._create(self.template, self.base)
        warm_path = os.path.join(self.work, "warm_table")
        shutil.rmtree(warm_path, ignore_errors=True)
        shutil.copytree(self.template, warm_path)
        self._sequence(warm_path, self.rounds, Ops(), NoTracer())
        shutil.rmtree(warm_path)

    # -- timed pass --------------------------------------------------

    def reset(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.template, self.table)

    def run_pass(self, ops, tracer) -> None:
        self.versions = self._sequence(self.table, self.rounds, ops, tracer)

    def _sequence(self, path: str, rounds, ops, tracer) -> list[int]:
        from pyspark.sql.types import _parse_datatype_string

        from etl_pipeline_4handling_listings_spark.sources import deltalog

        spark = self.spark
        schema = _parse_datatype_string(SCHEMA)
        traced = not isinstance(tracer, NoTracer)

        def step(name, fn, *args, **kwargs):
            before = dir_files(path) if traced else None
            with tracer.span(f"deltalog.{name}"):
                out = ops.call(name, fn, *args, **kwargs)
            if traced:
                # merge returns per-clause row counts, delete/update one
                # count, optimize file counts (no row changes)
                changed = {"merge": lambda r: sum(r.values()), "optimize": lambda r: 0}.get(name, int)(out[1])
                layers.delta_after(tracer, path, before, changed)
            return out

        versions = []
        for r in rounds:
            src = spark.createDataFrame(r["source"][gen.DML_COLUMNS], schema)
            step("merge", deltalog.merge_into_delta, spark, path, src, "target.k = source.k",
                 when_matched_update=True, when_not_matched_insert=True)  # fmt: skip
            step("delete", deltalog.delete_from_delta, spark, path,
                 f"k % {gen.DELETE_MODULUS} = {r['delete_mod']}", strategy="dv")  # fmt: skip
            ver, _ = step("update", deltalog.update_from_delta, spark, path,
                          f"k % {gen.UPDATE_MODULUS} = {r['update_mod']}",
                          {"current_price": "current_price + 1000", "listing_status": "'U'"},
                          strategy="dv")  # fmt: skip
            versions.append(ver)
        step("optimize", deltalog.optimize_delta, spark, path, purge=True)
        with tracer.span("deltalog.vacuum"):
            ops.call("vacuum", deltalog.vacuum_delta, spark, path)

        def read(version):
            deltalog.read_delta(spark, path, version=version).write.format("noop").mode("overwrite").save()

        for v in [None, *versions]:
            with tracer.span("deltalog.read"):
                ops.call("read", read, v)
        return versions

    # -- results -----------------------------------------------------

    def workload_metrics(self, ops) -> dict:
        from etl_pipeline_4handling_listings_spark.sources.deltalog import read_delta

        files = dir_files(self.table)
        data = sum(s for p, s in files.items() if os.sep + "_delta_log" + os.sep not in p)
        live = sum(os.path.getsize(f.removeprefix("file:")) for f in read_delta(self.spark, self.table).inputFiles())
        t = ops.times
        return {
            "dml_merge_s_p50": (median(t.get("merge", [])), "s"),
            "dml_delete_s_p50": (median(t.get("delete", [])), "s"),
            "dml_update_s_p50": (median(t.get("update", [])), "s"),
            "dml_optimize_s": (median(t.get("optimize", [])), "s"),
            "dml_read_s_p50": (median(t.get("read", [])), "s"),
            "dml_bytes_per_live_byte": (data / live, "ratio"),
        }

    def check(self) -> list[str]:
        """Head and time-travel reads against the pandas replay."""
        from etl_pipeline_4handling_listings_spark.sources.deltalog import read_delta

        problems = []
        for label, version, want in [("head", None, self.states[-1])] + [
            (f"v{v}", v, self.states[i + 1]) for i, v in enumerate(self.versions)
        ]:
            got = read_delta(self.spark, self.table, version=version).toPandas()
            a = got[gen.DML_COLUMNS].sort_values("k").reset_index(drop=True)
            b = want[gen.DML_COLUMNS].sort_values("k").reset_index(drop=True)
            if len(a) != len(b) or not a.astype(str).equals(b.astype(str)):
                problems.append(f"read {label}: {len(a)} rows differ from the replay's {len(b)}")
        return problems
