"""Table metadata resolved on the driver.

A parquet open infers its schema once per file version
(``readers.open_parquet``), and a Delta read replays its log in plain
Python, so Spark jobs touch data only. The tests count jobs with the
status tracker inside a job group, and check that every change to the
files (a rewrite, a new partition, a different inference conf) is
seen by the next open.
"""

from __future__ import annotations

import ast
import os
import sys
import threading
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pipeline_4handling_listings_spark import queries
from etl_pipeline_4handling_listings_spark.sources import readers
from etl_pipeline_4handling_listings_spark.sources.deltalog import read_delta
from etl_pipeline_4handling_listings_spark.sources.readers import (
    fingerprint,
    open_parquet,
    read_union,
)

from test_python_boundary import _dv_table

PKG = Path(__file__).resolve().parent.parent / "etl_pipeline_4handling_listings_spark"
READERS = PKG / "sources" / "readers.py"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_second_open_of_an_unchanged_file_runs_no_job(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, a=pa.array([1, 2, 3], pa.int64()), b=pa.array(["x", "y", "z"]))
    first, n_first = _jobs(spark, lambda: open_parquet(spark, p))
    second, n_second = _jobs(spark, lambda: open_parquet(spark, p))
    assert n_first == 1  # Spark's own inference, once
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    # file: URIs are the same local file
    _, n_uri = _jobs(spark, lambda: open_parquet(spark, f"file://{p}"))
    _, n_uri2 = _jobs(spark, lambda: open_parquet(spark, f"file://{p}"))
    assert n_uri2 == 0


def test_a_rewrite_with_an_extra_column_is_seen(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, a=pa.array([1], pa.int64()))
    assert open_parquet(spark, p).columns == ["a"]
    _write(p, a=pa.array([1, 2], pa.int64()), c=pa.array([0.5, 1.5]))
    df = open_parquet(spark, p)
    assert df.columns == ["a", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 0.5), (2, 1.5)]


def test_a_new_load_date_partition_is_seen_by_read_union(spark, tmp_path):
    raw = tmp_path / "raw"
    (raw / "load_date=2024-01-01").mkdir(parents=True)
    _write(
        str(raw / "load_date=2024-01-01" / "part-0.parquet"),
        k=pa.array([1, 2], pa.int64()),
    )
    before = read_union(spark, [str(raw)])
    assert before.count() == 2
    (raw / "load_date=2024-01-02").mkdir()
    _write(
        str(raw / "load_date=2024-01-02" / "part-0.parquet"),
        k=pa.array([3], pa.int64()),
    )
    after = read_union(spark, [str(raw)])
    rows = sorted((r.k, str(r.load_date)) for r in after.collect())
    assert rows == [
        (1, "2024-01-01"),
        (2, "2024-01-01"),
        (3, "2024-01-02"),
    ]
    # the new partition is pruned like any other
    one = read_union(spark, [str(raw)], predicate="load_date = '2024-01-02'")
    assert [r.k for r in one.collect()] == [3]


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    ts = pa.array(
        [1_700_000_000_123_456_789, 1_700_000_100_000_000_001],
        pa.timestamp("ns"),
    )
    pq.write_table(
        pa.table({"user_id": pa.array([1, 2], pa.int64()), "ts": ts}),
        str(sf / "events.parquet"),
        version="2.6",
    )
    path = str(sf / "events.parquet")
    old = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        e = queries.tbl_events(spark, str(sf))
        assert dict(e.dtypes)["ts"] == "bigint"
        assert sorted(r.ts_us for r in e.collect()) == [
            1_700_000_000_123_456,
            1_700_000_100_000_000,
        ]
        # with the conf off the same file infers afresh (Spark refuses
        # nanosecond timestamps) instead of reusing the bigint schema
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            open_parquet(spark, path)
        spark.conf.set(NANOS, "true")
        _, n = _jobs(spark, lambda: open_parquet(spark, path))
        assert n == 0
    finally:
        spark.conf.set(NANOS, old)


def test_session_slots_key_on_the_file_fingerprint(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = str(sf / "documents.parquet")
    _write(docs, doc_id=pa.array([1], pa.int64()), text=pa.array(["a b"]))
    assert queries._tokens(spark, str(sf)).count() == 2
    st = os.stat(docs)
    # a rewrite that keeps the mtime: the slot must not be reused
    _write(
        docs,
        doc_id=pa.array([1, 2], pa.int64()),
        text=pa.array(["a b", "c d e"]),
    )
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert fingerprint(docs) != (st.st_ino, st.st_size, st.st_mtime_ns)
    assert queries._tokens(spark, str(sf)).count() == 5
    # a missing input is an error, not the last slot's frame
    os.remove(docs)
    assert fingerprint(docs) is None
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        queries._tokens(spark, str(sf)).count()


def test_concurrent_opens_and_evictions(spark, tmp_path, monkeypatch):
    """More threads than cores open three files at once while a
    two-slot cache evicts on every miss; each round rewrites the files
    with a new column. Every open must show the columns on disk, and
    no update or eviction may raise or leave the cache over its
    bound."""
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    monkeypatch.setattr(readers, "_MAX_SLOTS", 2)
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(3)]
    errors = []

    def worker(i):
        try:
            for k in range(6):
                p = paths[(i + k) % len(paths)]
                assert open_parquet(spark, p).columns == pq.read_schema(p).names
        except Exception as e:  # surfaced below, with its thread
            errors.append((i, e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for rnd in range(3):
            for p in paths:
                _write(
                    p,
                    a=pa.array([rnd], pa.int64()),
                    **{f"c{rnd}": pa.array([rnd], pa.int64())},
                )
            threads = [
                threading.Thread(target=worker, args=(i,)) for i in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    assert len(readers._SCHEMAS) <= 2


def test_read_delta_replays_the_log_without_a_job(spark, tmp_path):
    tbl, _ = _dv_table(spark, tmp_path)
    df, n = _jobs(spark, lambda: read_delta(spark, tbl))
    assert n == 0
    assert sorted(r.k for r in df.collect()) == [
        i for i in range(40) if i % 10 != 3
    ]


# ---- guard ------------------------------------------------------------


def _chain(node):
    """Attribute names along a call chain, outermost first."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            return names


def test_schema_less_opens_go_through_the_resolver():
    """Guard: a ``spark.read`` chain ending in ``.parquet(`` or
    ``.load(`` declares a ``.schema(`` or lives in ``readers.py``, so
    no open in the package infers a schema behind the resolver's
    back."""
    files = sorted(p for p in PKG.rglob("*.py") if p != READERS)
    offenders = []
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("parquet", "load")
            ):
                continue
            chain = _chain(node.func.value)
            if "read" in chain and "schema" not in chain:
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert len(files) > 30
    assert not offenders, offenders
    # the guard sees the chains it is meant to catch
    for src in (
        "spark.read.parquet(p)",
        "self.spark.read.format('parquet').load(p)",
        "spark.read.option('basePath', b).parquet(*fs)",
    ):
        call = ast.parse(src).body[0].value
        assert "read" in _chain(call.func.value)
        assert "schema" not in _chain(call.func.value)
    call = ast.parse("spark.read.schema(s).option('x', 1).parquet(p)").body[0].value
    assert "schema" in _chain(call.func.value)
