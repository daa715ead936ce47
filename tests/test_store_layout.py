"""One reader of the MergeStore on-disk layout.

``sources/store.py`` is the only engine module that names the
layout's files and directories; the data source and the Delta
exporter read a store through its session-free readers. The guard
below keeps it that way, and the agreement test checks that the data
source, reading through those readers, returns what the engine
returns on a store that exercises every layout piece: a deletion
vector, a per-snapshot schema and a compacted commit log.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F

from etl_pipeline_4handling_listings_spark.sources.datasource import register
from etl_pipeline_4handling_listings_spark.sources.store import (
    MergeStore,
    read_commit,
    read_commit_record,
)

PKG = Path(__file__).resolve().parent.parent / "etl_pipeline_4handling_listings_spark"
STORE = PKG / "sources" / "store.py"

LAYOUT_NAMES = (
    "_CURRENT",
    "_COMMITS",
    "_compacted.json",
    "_FILES.json",
    "_SCHEMA.json",
    "_TABLE.json",
    "_PROTOCOL",
    "_dv",
    "_STAGING",
    "_CONSTRAINTS.json",
    "_GENERATED.json",
    "_IDENTITY.json",
    "_FILE_STATS.json",
)
# a layout name as a whole path token: "_dv/" and "_dv" count,
# the "_dv_file" column and the "_dv_export" dir do not
_NAME_RE = re.compile(
    r"(?<![\w.])(?:" + "|".join(map(re.escape, LAYOUT_NAMES)) + r")(?!\w)"
)


def _string_constants(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node


def test_only_the_store_module_names_the_layout():
    files = sorted(p for p in PKG.rglob("*.py") if p != STORE)
    offenders = [
        f"{path.relative_to(PKG)}:{node.lineno}: {m.group(0)}"
        for path in files
        for node in _string_constants(path)
        for m in _NAME_RE.finditer(node.value)
    ]
    assert len(files) > 30
    assert not offenders, offenders
    # the guard would catch a copy: the store module itself names them all
    named = {
        m.group(0)
        for node in _string_constants(STORE)
        for m in _NAME_RE.finditer(node.value)
    }
    assert named == set(LAYOUT_NAMES)


def test_datasource_and_deltalog_import_the_store_readers():
    for mod, readers in (
        ("datasource.py", {"read_pointer", "read_schema", "snapshot_files",
                           "read_dv_positions", "read_file_stats",
                           "read_commit_record", "staging_dir"}),
        ("deltalog.py", {"read_commit_record", "snapshot_files"}),
    ):
        tree = ast.parse((PKG / "sources" / mod).read_text())
        imported = {
            alias.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            and (node.module or "").endswith("store")
            for alias in node.names
        }
        assert readers <= imported, (mod, readers - imported)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_datasource_agrees_with_engine_on_dv_evolution_and_compacted_log(
    spark, tmp_path
):
    store = MergeStore(spark, str(tmp_path / "store"), keys=["k"])
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    store.create_if_absent(base)  # v0
    store.merge(base)  # v1
    store.delete(F.col("k") == 2)  # v2: deletion vector
    store.merge(
        spark.createDataFrame(
            [(3, "C", "x"), (4, "d", "y")], ["k", "v", "extra"]
        ),
        schema_evolution=True,
    )  # v3: per-snapshot schema
    store.merge(
        spark.createDataFrame([(1, "A", "z"), (5, "e", None)],
                              "k bigint, v string, extra string")
    )  # v4
    assert store.vacuum(keep=3) == ["v00000", "v00001"]
    assert store.compact_log(claim_expiry_s=0) == 2
    # the folded records: readable through the fallback only
    assert read_commit(store.path, "v00001") is None
    assert read_commit_record(store.path, "v00001")["version"] == "v00001"
    assert "v00001" in {r.version for r in store.history().collect()}

    register(spark)
    wide = ["k", "v", "extra"]
    snapshot = spark.read.format("mergestore").load(store.path)
    assert _rows(snapshot, wide) == _rows(store.read(), wide)
    assert _rows(snapshot, wide) == [
        (1, "A", "z"), (3, "C", "x"), (4, "d", "y"), (5, "e", None)
    ]
    # time travel to the DV'd, pre-evolution snapshot
    v2 = spark.read.format("mergestore").option("version", 2).load(store.path)
    assert v2.columns == ["k", "v"]
    assert _rows(v2, ["k", "v"]) == _rows(
        store.read_version("v00002"), ["k", "v"]
    ) == [(1, "a"), (3, "c")]
    # change feed of the last commit, both ways
    feed = (
        spark.read.format("mergestore")
        .option("readChangeFeed", "true")
        .option("keys", "k")
        .option("startingVersion", 3)
        .option("endingVersion", 4)
        .load(store.path)
    )
    cdc = wide + ["_change_type"]
    assert _rows(feed, cdc) == _rows(store.read_changes("v00003", "v00004"), cdc)
    assert _rows(feed, cdc) == [
        (1, "A", "z", "update_postimage"), (5, "e", None, "insert")
    ]
