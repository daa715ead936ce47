"""registry_mix: the read side. Registry queries over a generated
TPC-H-shaped dataset, each built (``REGISTRY[q].fn(spark, dir)``) and
then run to the noop sink, in a seed-permuted order.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import gen

# Table-open-heavy joins (flagship_curated: 3 opens,
# q5_multi_join_agg: 6), the Arrow/Python boundary
# (x1_enrich_lookup), the events table (events_sessionize), and two
# queries that run eager localCheckpoint jobs while their DataFrame is
# built (graph_link_prediction over the session's co-presence cache,
# basket_assoc_rules).
QUERIES = [
    "flagship_curated",
    "q5_multi_join_agg",
    "x1_enrich_lookup",
    "events_sessionize",
    "graph_link_prediction",
    "basket_assoc_rules",
]
SF = 0.01


def _normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    return v


def result_hash(rows, columns) -> str:
    """Order-insensitive hash: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((repr(tuple(_normalize(r[i]) for i in order)) for r in rows))
    return hashlib.sha256("\n".join([repr(sorted(columns))] + canon).encode()).hexdigest()


class RegistryMix:
    def __init__(self, work: str, seed: int, sf: float = SF):
        self.data = os.path.join(work, "data")
        tables = gen.registry_tables(seed, sf)
        gen.write_registry(self.data, tables)
        self.input_rows = sum(t.num_rows for t in tables.values())
        self.order = [QUERIES[i] for i in np.random.default_rng([seed, 5]).permutation(len(QUERIES))]
        self.spark = None

    def warm(self, spark) -> None:
        """Every query once on the timed dataset, three at a time (a
        cold start is mostly single-threaded planning, codegen and JIT
        work, which overlaps), so the timed pass meets the same plan
        shapes and join strategies. Each result is collected and
        hashed here for :meth:`check`: the timed noop writes leave
        nothing to check. Then the session's shared frames (co-presence
        edges, token stream) are built, so no timed query pays to build
        them."""
        from etl_pipeline_4handling_listings_spark.queries import REGISTRY, _copresence_edges_cached, _tokens

        self.spark = spark

        def run(q):
            df = REGISTRY[q].fn(spark, self.data)
            return result_hash(df.collect(), df.columns)

        with ThreadPoolExecutor(3) as ex:
            futures = {q: ex.submit(run, q) for q in QUERIES}
            self.hashes = {q: f.result() for q, f in futures.items()}
        spark.catalog.clearCache()
        _copresence_edges_cached(spark, self.data)
        _tokens(spark, self.data)

    def reset(self) -> None:
        pass

    def run_pass(self, ops, tracer) -> None:
        from etl_pipeline_4handling_listings_spark.queries import REGISTRY

        spark = self.spark

        def run(q):
            with tracer.span("queries.build", query=q):
                df = REGISTRY[q].fn(spark, self.data)
            with tracer.span("queries.action", query=q):
                df.write.format("noop").mode("overwrite").save()

        for q in self.order:
            ops.call(q, run, q)
            spark.catalog.clearCache()

    def workload_metrics(self, ops) -> dict:
        from perfbench.common import median

        per_pass = len(ops.times.get(QUERIES[0], []))
        return {
            "query_total_s": (sum(ops.all_times()) / max(1, per_pass), "s"),
            "query_s_p50": (median(ops.all_times()), "s"),
        }

    def check(self) -> list[str]:
        """Each query's order-insensitive hash, taken in set-up, against
        its DuckDB oracle over the same parquet files."""
        import duckdb

        from etl_pipeline_4handling_listings_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            for t in gen.REGISTRY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{self.data}/{t}.parquet')")
            problems = []
            for q in QUERIES:
                res = con.execute(REGISTRY[q].oracle)
                if self.hashes[q] != result_hash(res.fetchall(), [d[0] for d in res.description]):
                    problems.append(f"{q}: result differs from its DuckDB oracle")
        finally:
            con.close()
        return problems
