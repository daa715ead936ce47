"""Per-layer spans and counters, installed around the program's public
functions for a traced pass, and the per-layer metrics read back from
them. Every workload installs the same wrappers, so a layer a
workload does not reach reads 0 there (measured, not assumed).
"""

from __future__ import annotations

import json
import os

from perfbench.common import dir_files
from perfbench.registry_mix import QUERIES


def install(tracer) -> None:
    from etl_pipeline_4handling_listings_spark import queries
    from etl_pipeline_4handling_listings_spark.plans import cli, listings
    from etl_pipeline_4handling_listings_spark.sources import deltalog
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    # table open (parquet open + schema inference, before any job)
    tracer.wrap(queries, "tbl", "queries.tbl")
    tracer.wrap(queries, "tbl_events", "queries.tbl")
    # the daily job's readers, writers and store
    tracer.wrap(cli, "read_union", "readers.read_union")
    tracer.wrap(cli, "write_json_lines", "writers.json_lines")
    tracer.wrap(cli, "write_export", "writers.export")
    tracer.wrap(MergeStore, "read", "store.read")
    tracer.wrap(MergeStore, "vacuum", "store.vacuum")
    tracer.wrap(listings, "batched_lookup", "enrich.batched_lookup")

    def merge_before(args, kwargs):
        return dir_files(args[0].path)

    def merge_after(files_before, args, kwargs, out):
        new = {p: s for p, s in dir_files(args[0].path).items() if p not in files_before}
        tracer.count("store.files_written", sum(p.endswith(".parquet") for p in new))
        tracer.count("store.bytes_written", sum(new.values()))
        tracer.count("store.merge_recomputes", args[0].merge_recomputes)

    tracer.wrap(MergeStore, "merge", "store.merge", before=merge_before, after=merge_after)

    # the _delta_log commit claim: count commits and lost claims
    orig_claim = deltalog._claim_commit

    class CountingLogStore:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def create_exclusive(self, *args, **kwargs):
            won = self._inner.create_exclusive(*args, **kwargs)
            if not won:
                tracer.count("deltalog.commit_retries")
            return won

    def claim(store, *args, **kwargs):
        tracer.count("deltalog.commits")
        return orig_claim(CountingLogStore(store), *args, **kwargs)

    tracer.replace(deltalog, "_claim_commit", claim)


def delta_after(tracer, path: str, files_before: dict[str, int], changed_rows: int) -> None:
    """Bytes and files one DML call left in a ``_delta_log`` table."""
    new = {p: s for p, s in dir_files(path).items() if p not in files_before}
    log = {p: s for p, s in new.items() if os.sep + "_delta_log" + os.sep in p}
    tracer.count("deltalog.log_bytes_written", sum(log.values()))
    tracer.count("deltalog.data_bytes_written", sum(s for p, s in new.items() if p not in log))
    tracer.count("deltalog.dv_files_written", sum(os.path.basename(p).startswith("deletion_vector") for p in new))
    tracer.count("deltalog.changed_rows", changed_rows)
    for p in log:
        if not p.endswith(".json"):
            continue
        with open(p) as f:
            for line in f:
                action = json.loads(line)
                tracer.count("deltalog.files_added", "add" in action)
                tracer.count("deltalog.files_removed", "remove" in action)


def metrics(tracer, passes: int, input_rows: int, transport) -> dict:
    """Per-layer metrics of the traced passes, each per pass. ``_s``
    metrics are self time: span time minus time in child spans."""
    t = tracer.layer_totals()
    c = tracer.counts

    def get(name, key):
        return t.get(name, {}).get(key, 0) / passes

    def count(name):
        return c.get(name, 0) / passes

    plans = ("plans.curated", "plans.history", "plans.backfill")
    dml = [n for n in t if n.startswith("deltalog.")]
    commits = count("deltalog.commits")
    calls = transport.calls.value if transport else 0
    out = {
        "queries.tbl_calls": get("queries.tbl", "calls"),
        "queries.tbl_s": get("queries.tbl", "self_s"),
        "queries.build_s": get("queries.build", "self_s"),
        "queries.build_jobs": get("queries.build", "jobs"),
        "queries.action_s": get("queries.action", "self_s"),
        "queries.action_jobs": get("queries.action", "jobs"),
        "queries.shuffle_write_bytes": get("queries.build", "shuffle") + get("queries.action", "shuffle"),
        "queries.spill_bytes": get("queries.build", "spill") + get("queries.action", "spill"),
        "plans.curated_s": get("plans.curated", "self_s"),
        "plans.history_s": get("plans.history", "self_s"),
        "plans.jobs": sum(get(p, "jobs") for p in plans),
        "plans.shuffle_write_bytes": sum(get(p, "shuffle") for p in plans),
        "plans.spill_bytes": sum(get(p, "spill") for p in plans),
        "readers.read_union_s": get("readers.read_union", "self_s"),
        "readers.read_union_calls": get("readers.read_union", "calls"),
        "writers.json_lines_s": get("writers.json_lines", "self_s"),
        "writers.export_s": get("writers.export", "self_s"),
        "store.merge_s": get("store.merge", "self_s"),
        "store.merge_calls": get("store.merge", "calls"),
        "store.merge_jobs": get("store.merge", "jobs"),
        "store.read_s": get("store.read", "self_s"),
        "store.vacuum_s": get("store.vacuum", "self_s"),
        "store.files_written": count("store.files_written"),
        "store.bytes_written_per_input_row": count("store.bytes_written") / max(1, input_rows),
        "store.merge_recomputes": count("store.merge_recomputes"),
        "enrich.batched_lookup_s": get("enrich.batched_lookup", "self_s"),
        # the transport of the last traced pass
        "enrich.transport_calls": calls,
        "enrich.batch_fill_ratio": transport.keys.value / (calls * transport.batch_size) if calls else 0,
        "deltalog.jobs_per_commit": sum(get(n, "jobs") for n in dml) / commits if commits else 0,
        "deltalog.log_bytes_written": count("deltalog.log_bytes_written"),
        "deltalog.data_bytes_written": count("deltalog.data_bytes_written"),
        "deltalog.bytes_written_per_changed_row": (
            (count("deltalog.log_bytes_written") + count("deltalog.data_bytes_written"))
            / count("deltalog.changed_rows")
            if count("deltalog.changed_rows")
            else 0
        ),
        "deltalog.files_added": count("deltalog.files_added"),
        "deltalog.files_removed": count("deltalog.files_removed"),
        "deltalog.dv_files_written": count("deltalog.dv_files_written"),
        "deltalog.commit_retries": count("deltalog.commit_retries"),
    }
    # per registry query: build and action seconds, inclusive of the
    # table opens inside the build
    for q in QUERIES:
        for phase in ("build", "action"):
            out[f"queries.{phase}_s.{q}"] = 0.0
    for sp in tracer.spans:
        q = sp.attrs.get("query")
        if q is not None:
            out[f"{sp.name}_s.{q}"] += (sp.end - sp.start) / passes
    return out
