"""Python-task budget of the write path.

Every Python-worker task pays a fixed start-up cost however few rows
it moves, so the write path keeps driver-built frames JVM-side
(``arrow_frame``) and sizes the DV decode stage from the logged
cardinalities. (The lookup's one-task-per-core cap is pinned in
``test_store_enrich.py``.)
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_4handling_listings_spark.arrowframe import arrow_frame
from etl_pipeline_4handling_listings_spark.sources.deltalog import (
    _apply_dvs,
    _dv_decode_parts,
    _norm_fp_col,
    append_to_delta,
    delete_from_delta,
    read_delta,
)

from test_deltaappend import _entry_lines, _mk_foreign

PKG = Path(__file__).resolve().parent.parent / "etl_pipeline_4handling_listings_spark"


def _runs_python(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# ---- arrow_frame ------------------------------------------------------


def test_arrow_frame_rows_types_and_no_python_stage(spark):
    ddl = (
        "s string, n long, i int, d double, b boolean, "
        "m map<string,string>, a array<string>"
    )
    rows = [
        ("x", 1, 2, 1.5, True, {"k": "v"}, ["p", "q"]),
        (None, None, None, None, None, None, None),
    ]
    df = arrow_frame(spark, rows, ddl)
    assert df.schema == T.StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows
    assert not _runs_python(df)
    # the list path this replaces re-serializes through Python
    assert _runs_python(spark.createDataFrame(rows, ddl))


def test_arrow_frame_dicts_and_empty(spark):
    ddl = "a string, b long"
    df = arrow_frame(spark, [{"b": 2, "a": "x"}], ddl)
    assert [tuple(r) for r in df.collect()] == [("x", 2)]
    empty = arrow_frame(spark, [], T.StructType.fromDDL(ddl))
    assert empty.count() == 0 and empty.columns == ["a", "b"]
    assert not _runs_python(empty)


def test_arrow_frame_rejects_mistyped_value(spark):
    with pytest.raises(Exception):
        arrow_frame(spark, [("not a number",)], "n long")


def test_no_list_built_frames_outside_the_helper():
    """Guard: ``createDataFrame`` in the engine's sources, operators,
    plans, streaming and query registry goes through ``arrow_frame``
    only, so the one-Python-task-per-core-per-consumption list path
    cannot come back."""
    files = [PKG / "arrowframe.py", PKG / "queries.py"] + sorted(
        p
        for sub in ("sources", "operators", "plans", "streaming")
        for p in (PKG / sub).rglob("*.py")
    )
    offenders = []
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "arrow_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert len(files) > 30
    assert not offenders, offenders


# ---- DV decode stage sizing -------------------------------------------


def test_dv_decode_parts_rule():
    # sum of cardinalities within one Arrow batch -> one task
    assert _dv_decode_parts([3, 4, 5], 10_000, 4) == 1
    assert _dv_decode_parts([10_000], 10_000, 4) == 1
    # one task per batch of positions, capped by descriptors and cores
    assert _dv_decode_parts([15_000, 10], 10_000, 4) == 2
    assert _dv_decode_parts([30_000] * 8, 10_000, 4) == 4
    assert _dv_decode_parts([30_000] * 2, 10_000, 4) == 2
    # unbounded batches
    assert _dv_decode_parts([30_000] * 8, 0, 4) == 1
    # a descriptor without cardinality: no estimate -> the upper bound
    assert _dv_decode_parts([3, None, 5], 10_000, 4) == 3
    assert _dv_decode_parts([None] * 9, 10_000, 4) == 4


def _dv_table(spark, tmp_path):
    """Four files, one DV-deleted row in each."""
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
    tbl = _mk_foreign(tmp_path, protocol=proto, name="dvparts")
    for lo in range(0, 40, 10):
        rows = [(i, str(i)) for i in range(lo, lo + 10)]
        append_to_delta(spark.createDataFrame(rows, "k long, v string").coalesce(1), tbl)
    ver, n = delete_from_delta(spark, tbl, "k % 10 = 3", strategy="dv")
    assert n == 4
    adds = [ln["add"] for ln in _entry_lines(tbl, ver)[1:] if "add" in ln]
    assert len(adds) == 4 and all(a["deletionVector"] for a in adds)
    return tbl, adds


def test_dv_decode_runs_one_task_when_positions_fit_a_batch(spark, tmp_path):
    tbl, _ = _dv_table(spark, tmp_path)
    df = read_delta(spark, tbl)
    assert "Repartition 1, true" in _plan(df)
    assert sorted(r.k for r in df.collect()) == [
        i for i in range(40) if i % 10 != 3
    ]


def test_dv_decode_without_cardinality_takes_the_fallback(spark, tmp_path):
    tbl, adds = _dv_table(spark, tmp_path)
    descs = []
    for a in adds:
        dv = {k: v for k, v in a["deletionVector"].items() if k != "cardinality"}
        descs.append((os.path.join(tbl, a["path"]), dv))
    scan = (
        spark.read.parquet(*[f for f, _ in descs])
        .select("*", _norm_fp_col().alias("__fp"), F.col("_metadata.row_index").alias("__ri"))
    )
    out = _apply_dvs(spark, tbl, scan, descs)
    n = min(len(descs), spark.sparkContext.defaultParallelism)
    assert f"Repartition {n}, true" in _plan(out)
    assert sorted(r.k for r in out.collect()) == [
        i for i in range(40) if i % 10 != 3
    ]
