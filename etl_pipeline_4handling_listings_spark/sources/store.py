"""MergeStore: an upsert-able keyed table on plain columnar files.

The reference keeps its curated tables in Delta Lake and mutates
them with ``MERGE INTO`` + ``VACUUM`` (reference
listings/mls_listings_curated.py:319-368, S4-S6/S9 in SURVEY §2.1).
This container has no Delta distribution, so the store implements
the same contract — probe/create-if-absent, keyed merge, vacuum —
as **versioned immutable parquet snapshots with an atomic pointer**:

    <path>/_CURRENT            -> "v00003"          (atomic rename)
    <path>/v00002/…parquet     (previous snapshot)
    <path>/v00003/…parquet     (current snapshot)

Each merge materializes a new snapshot via the relational
:func:`merge_upsert` and flips the pointer; ``vacuum`` drops
superseded snapshots. Readers always see a consistent version;
``read_version``/``read_changes`` give time travel and a change
feed over retained snapshots (Delta ``versionAsOf``/CDF analogues).

Delta swap-in path (NOT auto-enabled — no delta-spark in this
container, so a Delta branch would be untestable dead code): the
public API maps 1:1 onto Delta — ``merge`` ≙ ``MERGE INTO`` with
the same clause conditions (see ``operators/merge.py`` docstring),
``vacuum`` ≙ ``VACUUM``, ``read_version`` ≙ ``versionAsOf``,
``read_changes`` ≙ change data feed. Independent of that swap-in,
``sources/deltalog.export_delta_log`` mirrors a store's
retained history into a spec-shaped ``_delta_log`` (JSON entries +
parquet checkpoint per the public PROTOCOL.md) so STOCK Delta
clients (delta-spark, delta-rs, Trino, DuckDB-delta) can read the
table — including ``VERSION AS OF`` aligned with ``vNNNNN`` — and
``deltalog.read_delta`` replays a foreign ``_delta_log`` with
plain Spark, so Delta-written tables are readable here without
delta-spark.

Scale note: a full-snapshot rewrite per merge is O(table), which is
the same asymptotic cost as Delta MERGE's worst case (every file
touched); at 100 TB you'd partition the store (``partition_by``) so
a merge only rewrites partitions containing matched keys — the
store prunes untouched partitions by joining source keys against
the partition column when one is declared.

Concurrent writers (the Delta commit-protocol analogue, reference
runs nightly + backfill jobs against the same curated table,
curated.py:319-368 / backfill.py): a merge is OPTIMISTICALLY
CONCURRENT, not last-writer-wins —

1. the merged snapshot is staged under ``_STAGING/<uuid>``;
2. the writer CLAIMS version base+1 by ``O_CREAT|O_EXCL``-creating
   ``_COMMITS/v<N>.json`` — atomic on POSIX, exactly Delta's
   "write the next _delta_log entry or lose" rule. A claim is only
   ever for base+1, so a commit is serializable: you can commit
   v(N+1) only if you merged against v(N);
3. winner renames staging -> ``v<N>`` (atomic dir rename — the
   final arbiter even if a stale claim was broken) and flips the
   ``_CURRENT`` pointer; loser discards its staging, waits for the
   winner's pointer, RE-RUNS the merge against the new snapshot,
   and claims the next version — no lost updates;
4. a claim whose snapshot never appears (crashed writer) expires
   after ``claim_expiry_s`` and may be broken by a later writer.

``compact_log`` folds commit manifests of vacuumed snapshots into
one ``_compacted.json`` (the Delta checkpoint/log-compaction
analogue) so the commit dir stays O(retained versions).

Protocol versioning (Delta reader/writer table features,
delta-io/delta PROTOCOL.md): the first use of a feature whose
on-disk effects an unaware build would misinterpret (deletion
vectors, per-snapshot schemas, generated columns, CHECK
constraints) drops a marker under ``_PROTOCOL/{reader,writer}/``
BEFORE the enabling commit. Readers refuse tables whose reader set
they do not cover; writers must cover both sets — refusal
(:class:`ProtocolUnsupportedError`) instead of the silent
corruption modes (resurrecting DV-deleted rows, committing stale
generated values). Markers are one file per feature, created
O_EXCL and never removed, so protocol upgrades are monotone and
race-free with no read-modify-write document.

On-disk layout. This module is the only one that knows it: the data
source (``sources/datasource.py``) and the Delta exporter
(``sources/deltalog.py``) read a store through the session-free
readers below (``read_pointer``, ``read_protocol`` and the
``check_*_protocol`` refusals, ``read_table_meta``,
``read_schema``, ``read_manifest`` / ``snapshot_files``,
``dv_files`` / ``read_dv_positions``, ``read_file_stats``,
``read_commit`` / ``read_commit_record``, ``staging_dir``), never
by path::

    <path>/_CURRENT                    pointer: name of the live version
    <path>/_PROTOCOL/{reader,writer}/  one marker file per table feature
    <path>/_TABLE.json                 declared keys, partition column and
                                       bucket count, format
    <path>/_SCHEMA.json                table-level schema (pre-evolution)
    <path>/_CONSTRAINTS.json, _GENERATED.json, _IDENTITY.json
                                       engine-enforced write rules
    <path>/vNNNNN/                     one immutable snapshot
        _SCHEMA.json                   the schema it was committed with
        _FILES.json                    data-file relpath -> bytes
        _OWNER                         the committing writer's claim id
        _dv/                           deletion vectors (_dv_file, _dv_pos)
        _FILE_STATS.json               per-file min/max index, when built
                                       (``build_store_stats``)
    <path>/_COMMITS/vNNNNN.json        commit record (claim + metadata)
    <path>/_COMMITS/_compacted.json    records of vacuumed versions
    <path>/_STAGING/                   writers' scratch, aged out by vacuum
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from etl_pipeline_4handling_listings_spark.arrowframe import arrow_frame
from etl_pipeline_4handling_listings_spark.operators.merge import Cond, merge_upsert
from etl_pipeline_4handling_listings_spark.sources.hivepath import hive_part_str
from etl_pipeline_4handling_listings_spark.sources.readers import read_table

_POINTER = "_CURRENT"
_PROTOCOL = "_PROTOCOL"
_TABLE_META = "_TABLE.json"
_SCHEMA = "_SCHEMA.json"
_CONSTRAINTS = "_CONSTRAINTS.json"
_GENERATED = "_GENERATED.json"
_IDENTITY = "_IDENTITY.json"
_FILES = "_FILES.json"
_DV = "_dv"
_COMMITS = "_COMMITS"
_COMPACTED = "_compacted.json"
_STAGING = "_STAGING"
# also the name fileindex.build_file_stats writes under any directory
FILE_STATS = "_FILE_STATS.json"
# the bucket count of a partitioned store whose _TABLE.json predates
# recording one: every such store was bucketed into 64
_DEFAULT_BUCKETS = 64


def _vnum(version: str) -> int:
    """Numeric order of a version name. Version strings are
    ``f"v{n:05d}"`` — MIN-width 5, so v100000 has six digits and
    sorts lexically BEFORE v99999; every ordering decision
    (pointer advance, repair, vacuum retention, log compaction)
    must compare numerically or a long-lived store wedges at
    commit 100000."""
    return int(version[1:])


class ConstraintViolationError(ValueError):
    """A merge attempted to commit rows violating a table CHECK
    constraint (Delta's ``DeltaInvariantViolationException``
    analogue). The commit is aborted before the claim — the store
    is left exactly at its pre-merge version."""


class ProtocolUnsupportedError(RuntimeError):
    """The table's protocol requires a feature this build does not
    implement (Delta's ``InvalidProtocolVersionException`` /
    reader-writer table-features analogue, PROTOCOL.md). Raised
    instead of proceeding, because the failure modes of ignoring a
    protocol feature are silent corruption, not errors: a reader
    that does not understand deletion vectors resurrects deleted
    rows; a writer that does not recompute generated columns
    commits stale derived values."""


# Table features this BUILD understands (Delta's reader/writer
# feature sets). A table lists the features it actually uses under
# ``_PROTOCOL/reader/<name>`` and ``_PROTOCOL/writer/<name>``
# marker files; a build may only read a table whose reader set it
# covers, and only write one whose reader AND writer sets it covers.
# Marker files (one per feature, created O_EXCL, never removed) make
# protocol upgrades monotone and race-free by construction — no
# read-modify-write of a single protocol document, so two writers
# enabling different features concurrently can never lose one.
SUPPORTED_READER_FEATURES = frozenset(
    {
        "deletion-vectors",  # _dv/ sidecars must be anti-joined on read
        "snapshot-schema",  # per-snapshot _SCHEMA.json governs the scan
    }
)
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "deletion-vectors",
        "snapshot-schema",
        "generated-columns",  # writers must recompute generated cols
        "check-constraints",  # writers must enforce CHECK constraints
        "identity-columns",  # writers must allocate from the hwm
    }
)

# feature name -> True if it also changes what READERS must do
_FEATURE_TOUCHES_READERS = {
    "deletion-vectors": True,
    "snapshot-schema": True,
    "generated-columns": False,
    "check-constraints": False,
    "identity-columns": False,  # readers see plain bigint values
}


# -- layout readers (pure filesystem/JSON, session-free) ---------------
# Shared by MergeStore and by every module that reads a store without
# one (the data source plans and reads in processes with no session).


def _read_json(p: str, default=None):
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def version_dir(path: str, version: str) -> str:
    return os.path.join(path, version)


def staging_dir(path: str) -> str:
    return os.path.join(path, _STAGING)


def read_pointer(path: str) -> str | None:
    """The live version named by ``_CURRENT``; ``None`` when the
    store does not exist (or the pointer is empty)."""
    try:
        with open(os.path.join(path, _POINTER)) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def read_protocol(path: str, side: str) -> frozenset:
    """Feature names the table lists under ``_PROTOCOL/<side>``
    (``reader`` or ``writer``); dotfiles are not requirements."""
    try:
        return frozenset(
            name
            for name in os.listdir(os.path.join(path, _PROTOCOL, side))
            if not name.startswith(".")
        )
    except FileNotFoundError:
        return frozenset()


def check_read_protocol(path: str) -> None:
    unknown = read_protocol(path, "reader") - SUPPORTED_READER_FEATURES
    if unknown:
        raise ProtocolUnsupportedError(
            f"table at {path} requires reader features "
            f"{sorted(unknown)} this build does not implement "
            f"(supported: {sorted(SUPPORTED_READER_FEATURES)}); "
            "refusing to read rather than silently misread"
        )


def check_write_protocol(path: str) -> None:
    # a writer must satisfy BOTH sides (Delta's rule): every write
    # re-materializes table state, so a writer blind to a reader
    # feature would commit data that drops its effects
    check_read_protocol(path)
    unknown = read_protocol(path, "writer") - SUPPORTED_WRITER_FEATURES
    if unknown:
        raise ProtocolUnsupportedError(
            f"table at {path} requires writer features "
            f"{sorted(unknown)} this build does not implement "
            f"(supported: {sorted(SUPPORTED_WRITER_FEATURES)}); "
            "refusing to write rather than corrupt"
        )


def read_table_meta(path: str) -> dict:
    """The declared shape from ``_TABLE.json`` (empty dict for
    pre-metadata stores — consumers fall back to layout
    detection)."""
    return _read_json(os.path.join(path, _TABLE_META), {})


def declared_write_rules(path: str) -> list[str]:
    """The engine-enforced write rules the table has a declaration
    file for (even an emptied one), as readable names: a writer
    outside ``MergeStore`` cannot honor them and must refuse."""
    return [
        rule
        for name, rule in (
            (_CONSTRAINTS, "CHECK constraints"),
            (_GENERATED, "generated columns"),
            (_IDENTITY, "identity columns"),
        )
        if os.path.exists(os.path.join(path, name))
    ]


def read_schema(path: str, version: str) -> StructType | None:
    """The schema ``version`` was COMMITTED with: the snapshot-local
    ``_SCHEMA.json`` (written atomically with the commit — Delta's
    per-log-entry schema), falling back to the table-level file for
    pre-evolution snapshots, else ``None`` (inference). Per-version
    schemas are what make ``schema_evolution`` time-travel-faithful:
    reading v3 must not grow v7's columns."""
    for p in (
        os.path.join(version_dir(path, version), _SCHEMA),
        os.path.join(path, _SCHEMA),
    ):
        try:
            with open(p) as f:
                return StructType.fromJson(json.load(f))
        except (FileNotFoundError, ValueError):
            continue
    return None


def _walk_data_files(snapshot_dir: str) -> dict[str, int]:
    """Data-file relpath -> bytes by one directory walk. Bookkeeping
    SUBTREES (``_dv``) are pruned: their files have plain
    part-*.parquet names, so the basename check would register them
    as data."""
    files = {}
    for root, dirs, names in os.walk(snapshot_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if name.startswith(("_", ".")):
                continue  # _SUCCESS, .crc, _FILES.json itself
            full = os.path.join(root, name)
            files[os.path.relpath(full, snapshot_dir)] = os.path.getsize(full)
    return files


def read_manifest(path: str, version: str) -> dict[str, int] | None:
    """Data-file relpath -> bytes from the snapshot's ``_FILES.json``
    manifest, or ``None`` (pre-manifest snapshot)."""
    return _read_json(os.path.join(version_dir(path, version), _FILES))


def snapshot_files(path: str, version: str) -> dict[str, int] | None:
    """Every data file of ``version`` (relpath -> bytes): the
    manifest, or one directory walk for a pre-manifest snapshot.
    ``None`` when the snapshot directory is gone (vacuumed)."""
    vdir = version_dir(path, version)
    if not os.path.isdir(vdir):
        return None
    files = read_manifest(path, version)
    return _walk_data_files(vdir) if files is None else files


def dv_files(path: str, version: str) -> list[str]:
    """The snapshot's deletion-vector sidecar files (parquet rows of
    ``_dv_file`` relpath, ``_dv_pos`` row index)."""
    dvdir = os.path.join(version_dir(path, version), _DV)
    try:
        return [
            os.path.join(dvdir, n)
            for n in os.listdir(dvdir)
            if not n.startswith(("_", "."))
        ]
    except OSError:
        return []


def read_dv_positions(
    path: str, version: str, prefix: str = ""
) -> dict[str, set]:
    """Data-file relpath -> set of soft-deleted row positions, from
    the snapshot's DV sidecars. ``prefix`` restricts the map to one
    partition directory so a partition-scoped reader never holds the
    whole table's DV state."""
    import pyarrow.parquet as pq

    out: dict[str, set] = {}
    for f in dv_files(path, version):
        t = pq.read_table(f)
        for rel, pos in zip(
            t.column("_dv_file").to_pylist(),
            t.column("_dv_pos").to_pylist(),
        ):
            if prefix and not rel.startswith(prefix):
                continue
            out.setdefault(rel, set()).add(pos)
    return out


def read_file_stats(path: str, version: str) -> dict | None:
    """The snapshot's per-file min/max index (``input_file_name()``
    URL -> column -> [min, max], as ``fileindex.build_file_stats``
    wrote it), or ``None`` when none was built or it is unreadable."""
    return _read_json(os.path.join(version_dir(path, version), FILE_STATS))


def _commit_path(path: str, version: str) -> str:
    return os.path.join(path, _COMMITS, f"{version}.json")


def read_commit(path: str, version: str) -> dict | None:
    """``version``'s LIVE commit record (``_COMMITS/vN.json``), or
    ``None``. Conflict checks trust only this, never the compacted
    copy."""
    return _read_json(_commit_path(path, version))


def read_compacted(path: str) -> dict:
    """version -> record for the commits ``compact_log`` folded."""
    return _read_json(os.path.join(path, _COMMITS, _COMPACTED), {})


def read_commit_record(path: str, version: str) -> dict:
    """``version``'s commit record, live or compacted (``{}`` when
    neither has it)."""
    rec = read_commit(path, version)
    if rec is not None:
        return rec
    return read_compacted(path).get(version) or {}


def _evolve_target(target: DataFrame, source: DataFrame) -> DataFrame:
    """Schema evolution (Delta ``withSchemaEvolution`` analogue):
    append the source's NEW columns to the target as typed NULLs, so
    the merge output carries the union schema and pre-existing rows
    read NULL for the added columns. Only additive — existing column
    types are never changed (a type conflict surfaces as the same
    cast/analysis error it would raise without evolution)."""
    have = set(target.columns)
    new = [f for f in source.schema.fields if f.name not in have]
    if not new:
        return target
    return target.select(
        "*",
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in new
        ],
    )


def _union_schema(
    primary: StructType, extra: StructType | None
) -> StructType:
    """``primary`` plus any fields only ``extra`` has (by name).
    Schema evolution is additive-only, so the union is well-defined;
    files lacking a unioned column read it as NULL."""
    if extra is None:
        return primary
    have = {f.name for f in primary.fields}
    added = [f for f in extra.fields if f.name not in have]
    if not added:
        return primary
    return StructType(list(primary.fields) + added)


def _link_tree(src: str, dst: str) -> None:
    """Hardlink a directory tree: O(1) data movement per file.

    Snapshots stay immutable (links share inodes, never content
    mutation) and vacuum of an old version only unlinks names."""
    os.makedirs(dst, exist_ok=True)
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        target_root = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(target_root, exist_ok=True)
        for fname in files:
            os.link(os.path.join(root, fname), os.path.join(target_root, fname))


class MergeStore:
    """Keyed upsert store over versioned parquet snapshots."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        fmt: str = "parquet",
        partition_by: str | None = None,
        log_store=None,
        n_buckets: int | None = None,
    ) -> None:
        from .logstore import PosixLogStore

        if n_buckets is not None and n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.fmt = fmt
        self.partition_by = partition_by
        # hash-bucket count of a bucketed partition column, recorded
        # in the table meta at creation (see bucket_count)
        self.n_buckets = n_buckets
        # storage strategy for the four commit primitives (claim
        # create/break, publish, vacuum) — POSIX rename semantics by
        # default; object-store backends swap in a conditional-PUT
        # pointer write (sources/logstore.py)
        self.log_store = log_store or PosixLogStore()
        # per-merge instrumentation (reset by each merge() call):
        # how many times the merge computation ran vs how many lost
        # races were absorbed by the partition-disjoint fast-forward
        self.merge_recomputes = 0
        self.merge_fast_forwards = 0

    # -- pointer bookkeeping -------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> str | None:
        return read_pointer(self.path)

    def _set_current(self, version: str) -> None:
        """Advance-only pointer flip: ``_CURRENT`` never moves
        backwards. A writer paused between the commit rename and its
        pointer flip must not overwrite the pointer after a NEWER
        version committed (that would serve stale snapshots until the
        next repair). Two checks enforce that: the early check here
        skips the staging write entirely, and the backend re-runs the
        ``guard`` IMMEDIATELY before its atomic swap — so the
        regression window is the instant of the swap itself, not the
        whole tmp-write on slow storage. A writer that loses that
        instant is corrected by the next ``_repair_pointer``, which
        routes through here and therefore can also only advance. The
        backend's ``replace_file`` uses unique tmp names, so racing
        flippers never clobber each other's staging file. Comparisons
        are numeric (``_vnum``): lexical order inverts at v99999 ->
        v100000 and would freeze the pointer forever."""

        def _behind() -> bool:
            cur = self.current_version()
            return cur is None or _vnum(cur) < _vnum(version)

        if not _behind():
            return
        self.log_store.replace_file(
            self._pointer_path(), version, guard=_behind
        )

    def _version_dir(self, version: str) -> str:
        return version_dir(self.path, version)

    # -- protocol versioning (Delta reader/writer table features) -------
    def _protocol_dir(self, side: str) -> str:
        return os.path.join(self.path, _PROTOCOL, side)

    def _protocol_side(self, side: str) -> frozenset:
        return read_protocol(self.path, side)

    def protocol(self) -> dict:
        """The table's protocol: which features readers and writers
        of THIS table must implement. A table with no ``_PROTOCOL``
        directory is a baseline table every build can serve (the
        legacy-compatible default — protocol only appears once a
        feature is first enabled)."""
        return {
            "reader_features": sorted(self._protocol_side("reader")),
            "writer_features": sorted(self._protocol_side("writer")),
        }

    def _require_feature(self, feature: str) -> None:
        """Enable ``feature`` on this table (idempotent, monotone —
        features are never disabled, mirroring Delta, where dropping
        a feature is a separate migration, not a flag flip). Called
        BEFORE the enabling commit is claimed, so no reader can
        observe feature-bearing data without the protocol saying so.
        Concurrent enablers race benignly: both O_EXCL creates of the
        same marker succeed-or-exist, and distinct markers never
        contend."""
        sides = ["writer"]
        if _FEATURE_TOUCHES_READERS.get(feature, True):
            sides.append("reader")
        payload = json.dumps({"feature": feature, "ts": time.time()})
        for side in sides:
            os.makedirs(self._protocol_dir(side), exist_ok=True)
            marker = os.path.join(self._protocol_dir(side), feature)
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    f.write(payload)
            except FileExistsError:
                pass

    def _check_read_protocol(self) -> None:
        check_read_protocol(self.path)

    def _check_write_protocol(self) -> None:
        check_write_protocol(self.path)

    # -- commit protocol (optimistic concurrency) -----------------------
    def _commits_dir(self) -> str:
        return os.path.join(self.path, _COMMITS)

    def _commit_ts(self, version: str) -> float:
        """In-commit timestamp (Delta ``inCommitTimestamps``
        analogue): the recorded commit time is clamped to be
        STRICTLY AFTER the predecessor's, so the version order and
        the timestamp order can never disagree — without this, a
        writer with a slow clock records an earlier ts than the
        commit it builds on, and ``read_as_of`` (newest version at
        or before t) silently resolves to the WRONG snapshot for
        every t in the inverted window. The predecessor is the
        committed base (retained by definition — compaction only
        folds versions older than the oldest retained), so its
        manifest is always readable; a missing/legacy manifest
        falls back to the wall clock."""
        now = time.time()
        n = _vnum(version)
        if n <= 0:
            return now
        prev = self._manifest_ts(f"v{n - 1:05d}")
        if prev is not None and now <= prev:
            return prev + 1e-6
        return now

    def _staging_dir(self) -> str:
        return staging_dir(self.path)

    def _claim_version(
        self,
        version: str,
        expiry_s: float,
        touched: list[str] | None = None,
        extra: dict | None = None,
    ) -> bool:
        """Atomically claim ``version``; True iff this writer owns it.

        The exclusive create is the serialization point (Delta's
        next-log-entry rule). A pre-existing claim whose snapshot
        directory never materialized within ``expiry_s`` is a
        crashed writer's orphan and is broken by ``os.replace``
        (atomic); the subsequent staging->version dir rename is the
        final arbiter if two breakers ever race through the
        expiry-check window.

        ``touched`` (partitioned merges) records WHICH partition
        values this commit rewrites — Delta-style conflict metadata:
        a losing writer whose own touched set is disjoint can
        fast-forward past this commit without re-running its merge.
        """
        os.makedirs(self._commits_dir(), exist_ok=True)
        manifest = _commit_path(self.path, version)
        record = {
            "version": version,
            "owner": uuid.uuid4().hex,
            "ts": self._commit_ts(version),
        }
        if touched is not None:
            record["touched"] = sorted(touched)
        if extra:
            record.update(extra)
        payload = json.dumps(record)
        if self.log_store.create_exclusive(manifest, payload):
            self._claim_owner = record["owner"]
            return True
        try:
            age = time.time() - os.path.getmtime(manifest)
        except OSError:
            return False
        if age > expiry_s and not os.path.isdir(self._version_dir(version)):
            self.log_store.replace_file(manifest, payload)
            self._claim_owner = record["owner"]
            return True
        return False

    _OWNER = "_OWNER"

    def _stamp_owner(self, staging: str) -> None:
        """Write this writer's claim owner id INSIDE the staged
        snapshot, so the commit rename publishes content and
        authorship atomically. Needed because a stalled writer whose
        expired claim was BROKEN (manifest rewritten by the breaker)
        can still win the dir-rename arbiter: the committed content
        is the stalled writer's while the manifest describes the
        breaker — and ``_ff_valid`` trusting that manifest's
        ``touched`` set would green-light a fast-forward over
        partitions the commit actually rewrote (a lost update).

        Written via tmp + ``os.replace``, never ``open("w")`` in
        place: restore/append stagings HARDLINK a previous
        snapshot's files, and a truncate-in-place writes through the
        shared inode — restamping the staging would silently rewrite
        the SOURCE version's ``_OWNER``, de-attributing its commit
        (its manifest owner no longer matches) and killing
        fast-forward attribution for history that was never touched.
        ``os.replace`` swaps the directory entry only; the source
        inode keeps its content."""
        owner = getattr(self, "_claim_owner", None)
        if owner:
            tmp = os.path.join(
                staging, self._OWNER + "." + uuid.uuid4().hex + ".tmp"
            )
            with open(tmp, "w") as f:
                f.write(owner)
            os.replace(tmp, os.path.join(staging, self._OWNER))

    def _reassert_manifest(
        self,
        version: str,
        touched: list[str] | None = None,
        extra: dict | None = None,
    ) -> None:
        """After winning the dir-rename arbiter, heal the commit
        manifest if a claim-breaker rewrote it while we were stalled:
        the snapshot's true metadata (our ``touched`` set) replaces
        the breaker's. Readers in the tiny window between rename and
        re-assert are protected by ``_manifest_touched``'s owner
        cross-check, which refuses to attribute a manifest whose
        owner differs from the committed snapshot's ``_OWNER``."""
        owner = getattr(self, "_claim_owner", None)
        if not owner:
            return
        if (read_commit(self.path, version) or {}).get("owner") == owner:
            return
        record = {
            "version": version,
            "owner": owner,
            "ts": self._commit_ts(version),
        }
        if touched is not None:
            record["touched"] = sorted(touched)
        if extra:
            record.update(extra)
        self.log_store.replace_file(
            _commit_path(self.path, version), json.dumps(record)
        )

    def _finalize_commit(
        self,
        staging: str,
        version: str,
        touched: list[str] | None = None,
        extra: dict | None = None,
    ) -> bool:
        """Stamp authorship, rename (THE commit point), re-assert the
        manifest, advance the pointer. ``False`` = lost the dir-rename
        arbiter to a broken-claim racer; the caller treats it exactly
        like a lost claim (drop staging, await, retry)."""
        self._stamp_owner(staging)
        if not self.log_store.publish_snapshot(
            staging, self._version_dir(version)
        ):
            return False
        self._reassert_manifest(version, touched=touched, extra=extra)
        self._set_current(version)
        return True

    def _manifest_touched(self, version: str) -> list[str] | None:
        """The partition values ``version``'s commit rewrote, or
        ``None`` when unattributed (non-partitioned commit, legacy
        manifest, or unreadable) — ``None`` always disables
        fast-forward; absence of evidence is treated as conflict.

        The manifest is trusted only when its ``owner`` matches the
        committed snapshot's ``_OWNER`` stamp: a broken-then-revived
        claim can commit one writer's CONTENT under another writer's
        manifest (see ``_stamp_owner``), and attributing that commit
        would let a third writer fast-forward over partitions it
        actually rewrote. Mismatch (or a pending re-assert) degrades
        to the conservative full re-merge. Snapshots without a stamp
        (pre-stamp commits) keep the old trust-the-manifest behavior."""
        record = read_commit(self.path, version)
        if record is None:
            return None
        t = record.get("touched")
        if not isinstance(t, list):
            return None
        try:
            with open(
                os.path.join(self._version_dir(version), self._OWNER)
            ) as f:
                stamped = f.read().strip()
        except OSError:
            stamped = None
        if stamped is not None and record.get("owner") != stamped:
            return None
        return t

    def _ff_valid(
        self, from_v: str, to_v: str, touched_strs: Sequence[str]
    ) -> bool:
        """True iff EVERY commit in ``(from_v, to_v]`` declares a
        touched-partition set disjoint from ``touched_strs`` — the
        precondition for reusing merge output computed against
        ``from_v`` when committing on top of ``to_v``."""
        mine = set(touched_strs)
        for i in range(int(from_v[1:]) + 1, int(to_v[1:]) + 1):
            theirs = self._manifest_touched(f"v{i:05d}")
            if theirs is None or mine & set(theirs):
                return False
        return True

    def _await_advance(self, beyond: str, timeout_s: float = 30.0) -> None:
        """Wait for another writer's committed pointer to pass
        ``beyond`` (bounded poll; returns on timeout — the caller's
        next attempt then re-claims or breaks the stale claim).
        Repairs the pointer while waiting: a writer that crashed
        between the dir rename (the commit point) and the pointer
        flip leaves a committed snapshot the pointer doesn't see."""
        deadline = time.monotonic() + timeout_s
        floor = _vnum(beyond) if beyond else -1
        while time.monotonic() < deadline:
            self._repair_pointer()
            cur = self.current_version()
            if cur is not None and _vnum(cur) > floor:
                return
            time.sleep(0.05)

    def _repair_pointer(self) -> None:
        """Roll the pointer forward to the newest snapshot directory
        that holds a commit manifest. The dir rename is the commit
        point, so a renamed-but-unpointed version (writer crashed
        before the flip) is COMMITTED — without repair its claim is
        unbreakable (dir exists) and every later writer would wedge
        computing base+1 from the stale pointer. Forward-only and
        idempotent: any process may repair; racing repairs write the
        same value."""
        versions = self.list_versions()
        if not versions:
            return
        commits = self._commits_dir()
        committed = [
            v
            for v in versions
            if os.path.exists(os.path.join(commits, f"{v}.json"))
        ]
        if not committed:
            return
        newest = max(committed, key=_vnum)
        cur = self.current_version()
        if cur is None or _vnum(newest) > _vnum(cur):
            self._set_current(newest)

    def compact_log(self, claim_expiry_s: float = 300.0) -> int:
        """Fold commit manifests of snapshots no longer on disk into
        ``_COMPACTED`` inside ``_COMMITS`` (Delta checkpoint
        analogue). Returns the number of manifests folded; the commit
        dir stays O(retained versions) under any merge cadence.

        Only manifests STRICTLY OLDER than the oldest retained
        snapshot are eligible: an in-flight claim (manifest written,
        version dir not yet renamed) sorts AFTER every live version,
        and folding it would delete the commit's serialization point
        mid-commit — after the rename that version would permanently
        lack a manifest and ``_repair_pointer`` could never roll
        forward to it. A manifest younger than ``claim_expiry_s`` is
        likewise spared as belt-and-braces against clock/listing
        races (mirrors ``_claim_version``'s expiry rule)."""
        commits = self._commits_dir()
        if not os.path.isdir(commits):
            return 0
        live = self.list_versions()
        oldest_live = live[0] if live else None
        compacted_path = os.path.join(commits, _COMPACTED)
        try:
            with open(compacted_path) as f:
                compacted = json.load(f)
        except (FileNotFoundError, ValueError):
            compacted = {}
        folded = 0
        for entry in sorted(os.listdir(commits)):
            if not entry.endswith(".json") or entry == _COMPACTED:
                continue
            version = entry[:-5]
            if oldest_live is None or _vnum(version) >= _vnum(oldest_live):
                # retained snapshot, or an in-flight/orphaned claim
                # beyond the newest live version — never fold those
                # (an orphan past expiry is reusable via
                # _claim_version's break path, not compaction)
                continue
            try:
                age = time.time() - os.path.getmtime(
                    os.path.join(commits, entry)
                )
            except OSError:
                continue
            if age <= claim_expiry_s:
                continue
            try:
                with open(os.path.join(commits, entry)) as f:
                    compacted[version] = json.load(f)
            except (OSError, ValueError):
                compacted[version] = {"version": version}
            os.remove(os.path.join(commits, entry))
            folded += 1
        if folded:
            tmp = compacted_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(compacted, f)
            os.replace(tmp, compacted_path)
        return folded

    # -- public API ----------------------------------------------------
    def exists(self) -> bool:
        return self.current_version() is not None

    def _schema_path(self) -> str:
        return os.path.join(self.path, _SCHEMA)

    def _version_schema(self, version: str) -> StructType | None:
        return read_schema(self.path, version)

    @staticmethod
    def _write_snapshot_schema(snapshot_dir: str, schema: StructType) -> None:
        """Persist the snapshot's schema INSIDE the (pre-rename)
        snapshot dir, so schema travels atomically with the commit."""
        tmp = os.path.join(snapshot_dir, _SCHEMA + ".tmp")
        with open(tmp, "w") as f:
            json.dump(schema.jsonValue(), f)
        os.replace(tmp, os.path.join(snapshot_dir, _SCHEMA))

    # -- generated columns (Delta GENERATED ALWAYS AS analogue) ---------
    def _generated_path(self) -> str:
        return os.path.join(self.path, _GENERATED)

    def generated_columns(self) -> dict[str, str]:
        """Active generated columns: ``{name: sql_expr}``."""
        try:
            with open(self._generated_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def add_generated_column(self, name: str, expr: str) -> None:
        """Declare ``name`` as GENERATED ALWAYS AS (``expr``): a
        merge source missing the column gets it computed; a source
        PROVIDING it must agree with the expression (checked on the
        written rows via the same Observation that rides CHECK
        constraints — a mismatch aborts before the commit claim);
        :meth:`update` recomputes it after assignments. The main use
        is a derived partition column (a date from a timestamp, a
        hash bucket from the keys) that writers then never have to
        remember to populate consistently."""
        F.expr(expr)  # parse now: fail at declaration, not at merge
        self._check_write_protocol()
        self._require_feature("generated-columns")
        gens = self.generated_columns()
        gens[name] = expr
        os.makedirs(self.path, exist_ok=True)
        tmp = self._generated_path() + "." + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(gens, f)
        os.replace(tmp, self._generated_path())

    def drop_generated_column(self, name: str) -> None:
        gens = self.generated_columns()
        gens.pop(name, None)
        tmp = self._generated_path() + "." + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(gens, f)
        os.replace(tmp, self._generated_path())

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Fill MISSING generated columns (provided ones are left for
        the write-time equality observation to validate)."""
        for name, expr in self.generated_columns().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
        return df

    def _recompute_generated(self, df: DataFrame) -> DataFrame:
        """Overwrite generated columns from their expressions — what
        UPDATE owes them after assigning base columns."""
        gens = self.generated_columns()
        if not gens:
            return df
        return df.withColumns({n: F.expr(e) for n, e in gens.items()})

    # -- clustered tables (Delta liquid-clustering analogue) ------------
    def _clustering_path(self) -> str:
        return os.path.join(self.path, "_CLUSTER.json")

    def clustering(self) -> list[str]:
        """Declared clustering columns (empty = unclustered)."""
        try:
            with open(self._clustering_path()) as f:
                return list(json.load(f))
        except (FileNotFoundError, ValueError):
            return []

    def set_clustering(self, cols: Sequence[str]) -> None:
        """Declare the table CLUSTERED BY ``cols`` (Delta
        ``CLUSTER BY`` / liquid-clustering analogue): every
        subsequent merge/append range-clusters the data it writes on
        the Morton interleave of ``cols``, and ``optimize()`` with no
        explicit ``zorder_by`` compacts on them — so min/max file
        skipping on the clustered columns keeps working
        CONTINUOUSLY, not only right after a manual OPTIMIZE ZORDER.
        Unlike a partition column, clustering can be changed at any
        time (``set_clustering([])`` stops clustering): it shapes
        future file layout, never row placement semantics. Costs one
        range shuffle per write — the same trade Delta's clustered
        tables make."""
        cols = list(cols)
        if self.partition_by in set(cols):
            raise ValueError(
                f"clustering may not include the partition column "
                f"{self.partition_by!r}: partition pruning already "
                "covers that dimension, and its values live in "
                "directory names, not data files"
            )
        # fail a non-integer-castable column NOW with the real error:
        # left undetected it surfaces as an ANSI NumberFormatException
        # inside EVERY subsequent write's Morton cast (columns not yet
        # in the schema are skipped — declare-then-evolve stays legal)
        cur = self.current_version() if self.exists() else None
        if cur is not None and cols:
            schema = self._snapshot_schema(cur)
            kinds = {f.name: f.dataType.simpleString() for f in schema.fields}
            castable = {"tinyint", "smallint", "int", "bigint",
                        "float", "double", "boolean", "timestamp",
                        "timestamp_ntz"}

            def _ok(t: str) -> bool:
                # decimal(p,s) and timestamps cast to bigint legally;
                # strings are the landmine the guard exists for
                return t in castable or t.startswith("decimal")

            bad = [
                c for c in cols
                if c in kinds and not _ok(kinds[c])
            ]
            if bad:
                raise ValueError(
                    f"clustering columns {bad} are not integer-castable "
                    f"({ {c: kinds[c] for c in bad} }); the Morton key "
                    "bit-interleaves bigint casts — cluster on keys, "
                    "buckets, or numeric dimensions"
                )
        os.makedirs(self.path, exist_ok=True)
        tmp = self._clustering_path() + "." + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(cols, f)
        os.replace(tmp, self._clustering_path())

    def _apply_clustering(self, df: DataFrame) -> DataFrame:
        """Range-cluster a frame about to be staged: repartition by
        range on (partition column, Morton key) so each written
        file covers a NARROW multi-dimensional range — the write-
        side layout that makes the stats index prune on every
        clustered column at once. No-op for unclustered tables; a
        clustered column missing from the frame (pre-evolution
        writes) degrades to no-op rather than failing the write."""
        cols = [c for c in self.clustering() if c in df.columns]
        if not cols:
            return df
        key = MergeStore.zorder_key(cols)
        by = (
            [F.col(self.partition_by), key]
            if self.partition_by and self.partition_by in df.columns
            else [key]
        )
        return df.repartitionByRange(*by)

    # -- identity columns (GENERATED ALWAYS AS IDENTITY) ----------------
    def _identity_path(self) -> str:
        return os.path.join(self.path, _IDENTITY)

    def identity_columns(self) -> dict[str, dict]:
        """Declared identity columns: ``{name: {"start": s, "step": k}}``."""
        try:
            with open(self._identity_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> None:
        """Declare ``name`` GENERATED ALWAYS AS IDENTITY (Delta
        analogue): :meth:`append` allocates values above the
        table's high-water mark, which rides the COMMIT MANIFEST
        (``identity_hwm``) — the same serialization point as
        everything else, so allocation survives vacuum/compaction
        and needs no side table. Values are unique and increasing
        per Delta's contract, NOT contiguous (concurrent/retried
        allocations may leave gaps — gaps are explicitly allowed).

        Delta-parity restrictions, enforced rather than fudged:
        sources may never SUPPLY the column (that is what ALWAYS
        means), ``update`` may not assign it, and ``merge`` on an
        identity table is unsupported (Delta documents the same
        MERGE limitation) — identity tables are append-path tables.
        """
        if step < 1:
            raise ValueError(
                "identity step must be a positive integer (the "
                "high-water mark is a max; descending sequences are "
                "out of scope)"
            )
        self._check_write_protocol()
        self._require_feature("identity-columns")
        ids = self.identity_columns()
        ids[name] = {"start": int(start), "step": int(step)}
        os.makedirs(self.path, exist_ok=True)
        tmp = self._identity_path() + "." + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(ids, f)
        os.replace(tmp, self._identity_path())

    def _identity_hwm(
        self, name: str, exclude_version: str | None = None
    ) -> int | None:
        """Highest allocated value for ``name`` across all commit
        records (live + compacted), or ``None`` if never allocated.
        Metadata-scale, same scan as :meth:`last_txn_version`.
        ``exclude_version`` skips one record — the under-claim
        verification must not see its OWN claim's mark."""
        best = None
        commits = self._commits_dir()
        records = list(read_compacted(self.path).values())
        try:
            entries = os.listdir(commits)
        except FileNotFoundError:
            entries = []
        for entry in entries:
            if not entry.endswith(".json") or entry.startswith("_"):
                continue
            try:
                with open(os.path.join(commits, entry)) as f:
                    records.append(json.load(f))
            except (OSError, ValueError):
                continue
        for rec in records:
            if (
                exclude_version is not None
                and rec.get("version") == exclude_version
            ):
                continue
            hwm = (rec.get("identity_hwm") or {}).get(name)
            if hwm is None:
                continue
            try:
                hwm = int(hwm)
            except (TypeError, ValueError):
                continue
            if best is None or hwm > best:
                best = hwm
        return best

    def _assign_identity(self, df: DataFrame):
        """Allocate identity values for every declared column the
        source (correctly) lacks. Returns ``(df, hwm_snapshot)`` —
        the caller re-checks ``hwm_snapshot`` against disk UNDER the
        won claim and rebuilds on a concurrent identity allocation
        (the one conflict identity creates), and reads the assigned
        maxima off the scratch write's Observation (no extra pass
        over the source). Contiguous ranks come from the distributed
        two-level prefix scan (operators/prefix.py) — never a global
        single-partition window."""
        ids = self.identity_columns()
        if not ids:
            return df, {}
        from etl_pipeline_4handling_listings_spark.operators.prefix import (
            keyed_prefix_sum,
        )

        supplied = [c for c in ids if c in df.columns]
        if supplied:
            raise ValueError(
                f"columns {sorted(supplied)} are GENERATED ALWAYS AS "
                "IDENTITY — values are allocated by the table and "
                "may not be supplied"
            )
        snapshot = {name: self._identity_hwm(name) for name in ids}
        out = df.withColumn("_idk", F.monotonically_increasing_id())
        # exclusive rank of each row: prefix count of rows with a
        # smaller unique tag
        out = out.withColumn("_one", F.lit(1))
        out = keyed_prefix_sum(out, "_idk", "_one", out_col="_rank")
        for name, spec in ids.items():
            start, step = int(spec["start"]), int(spec["step"])
            hwm = snapshot[name]
            base = start if hwm is None else hwm + step
            out = out.withColumn(
                name, (F.lit(base) + F.col("_rank") * step).cast("bigint")
            )
        return out.drop("_idk", "_one", "_rank"), snapshot

    # -- CHECK constraints (Delta invariant analogue) -------------------
    def _constraints_path(self) -> str:
        return os.path.join(self.path, _CONSTRAINTS)

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: ``{name: sql_boolean_expr}``."""
        try:
            with open(self._constraints_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def add_constraint(self, name: str, expr: str) -> None:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``.

        SQL CHECK semantics: a row violates only when ``expr``
        evaluates to FALSE — NULL passes (use ``col IS NOT NULL``
        for a null guard). Existing data is validated first (one
        scan of the current snapshot, same as Delta), so a
        constraint can never be added in an already-violated state;
        every subsequent merge enforces it on the rows it writes at
        zero extra passes (an ``Observation`` on the staging write).
        """
        self._check_write_protocol()
        if self.exists():
            bad = (
                self.read()
                .filter(F.expr(f"({expr}) IS FALSE"))
                .limit(1)
                .count()
            )
            if bad:
                raise ConstraintViolationError(
                    f"existing rows violate CHECK ({expr!r}); "
                    f"constraint {name!r} not added"
                )
        self._require_feature("check-constraints")
        cons = self.constraints()
        cons[name] = expr
        tmp = self._constraints_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cons, f)
        os.replace(tmp, self._constraints_path())

    def drop_constraint(self, name: str) -> None:
        cons = self.constraints()
        cons.pop(name, None)
        tmp = self._constraints_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cons, f)
        os.replace(tmp, self._constraints_path())

    def _observe_constraints(self, df: DataFrame):
        """Attach violation counters to the frame about to be
        staged. Returns ``(df, observation | None)`` — the counters
        ride the write job itself (Spark ``Observation``), so
        enforcement costs no extra scan of the merged data."""
        cons = dict(self.constraints())
        # generated columns are write-time invariants too: whatever
        # lands on disk must agree with the generating expression
        # (<=> is never NULL, so IS FALSE below is exactly mismatch)
        for name, expr in self.generated_columns().items():
            if name in df.columns:
                cons[f"__generated_{name}"] = f"{name} <=> ({expr})"
        if not cons:
            return df, None
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(
            obs,
            *[
                F.sum(
                    F.expr(f"({expr}) IS FALSE").cast("long")
                ).alias(name)
                for name, expr in cons.items()
            ],
        )
        return df, obs

    def _check_observed(self, obs, *scratch_dirs: str) -> None:
        """After the staging write: abort the commit (pre-claim) if
        any constraint counter is non-zero."""
        if obs is None:
            return
        counts = obs.get
        bad = {k: v for k, v in counts.items() if v}
        if bad:
            for d in scratch_dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise ConstraintViolationError(
                f"merge writes violate CHECK constraints {bad}; "
                "commit aborted (store unchanged)"
            )

    def create_if_absent(self, template: DataFrame) -> None:
        """Create an empty table with ``template``'s schema — the
        reference's probe-then-``limit(0)``-write pattern
        (curated.py:319-325, S5). The schema is persisted alongside
        so empty/partitioned snapshots stay readable without
        inference."""
        if self.exists():
            return
        os.makedirs(self.path, exist_ok=True)
        # concurrent creators serialize on the v00000 claim; the
        # loser waits for the winner's pointer instead of double-
        # writing (the old exists()-then-write was check-then-act)
        if not self._claim_version("v00000", expiry_s=300.0):
            self._await_advance(beyond="")
            return
        template = self._apply_generated(template)
        with open(self._schema_path(), "w") as f:
            json.dump(template.schema.jsonValue(), f)
        self._write_table_meta()
        self._write_snapshot(template.limit(0), "v00000")

    def _write_table_meta(self) -> None:
        """Persist the table's DECLARED shape (merge keys, partition
        column) so layout-independent consumers can discover it —
        the data source writer must know a fresh partitioned table
        is partitioned even before any ``pcol=value`` dir exists on
        disk (an empty template write creates none)."""
        meta = {
            "keys": self.keys,
            "partition_by": self.partition_by,
            "format": self.fmt,
        }
        if self.n_buckets is not None:
            meta["n_buckets"] = self.n_buckets
        tmp = os.path.join(
            self.path, _TABLE_META + "." + uuid.uuid4().hex
        )
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.path, _TABLE_META))

    def table_meta(self) -> dict:
        return read_table_meta(self.path)

    def bucket_count(self) -> int:
        """The bucket count for :meth:`hash_bucket` on this store: the
        one recorded at creation (64 for a store created before counts
        were recorded), or the constructor's ``n_buckets`` (default
        64) while the store does not exist yet. A pruned merge reads
        only the source rows' buckets, so a row bucketed under another
        count would never be matched and its key would duplicate:
        a constructor count that disagrees with the recorded one is
        refused."""
        if not self.exists():
            return self.n_buckets or _DEFAULT_BUCKETS
        recorded = self.table_meta().get("n_buckets", _DEFAULT_BUCKETS)
        if self.n_buckets is not None and self.n_buckets != recorded:
            raise ValueError(
                f"store at {self.path} is bucketed into {recorded} "
                f"buckets; n_buckets={self.n_buckets} would bucket new "
                "rows differently and duplicate updated keys — pass "
                f"{recorded} or rebuild the store"
            )
        return recorded

    def read(self) -> DataFrame:
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"MergeStore at {self.path} does not exist")
        return self.read_version(version)

    # -- file manifests (Delta log-replay analogue) ---------------------
    @staticmethod
    def _write_file_manifest(snapshot_dir: str) -> int:
        """Record the snapshot's data files (relpath + size) inside
        the snapshot itself, BEFORE the commit rename makes it live —
        the manifest is therefore exactly as atomic as the commit.
        Delta readers never LIST the table directory: they replay the
        log's add-file entries. This is that read path re-expressed:
        one small JSON read replaces a recursive directory listing —
        O(1) metadata ops per read instead of O(files) LIST calls,
        the difference that matters on object stores where LIST is
        the slowest, rate-limited primitive. Returns the file count."""
        files = _walk_data_files(snapshot_dir)
        tmp = os.path.join(snapshot_dir, _FILES + ".tmp")
        with open(tmp, "w") as f:
            json.dump(files, f)
        os.replace(tmp, os.path.join(snapshot_dir, _FILES))
        return len(files)

    def _manifest_sizes(self, version: str) -> dict[str, int] | None:
        """Absolute data-file path -> byte size from the snapshot's
        manifest, or ``None`` (pre-manifest snapshot). The manifest
        already recorded every size at commit time, so consumers
        (optimize's bin-packing) never re-stat O(files) paths — the
        exact per-file metadata traffic the manifest exists to
        eliminate on object stores."""
        files = read_manifest(self.path, version)
        if files is None:
            return None
        vdir = self._version_dir(version)
        return {
            os.path.join(vdir, rel): int(size)
            for rel, size in files.items()
        }

    def _manifest_files(self, version: str) -> list[str] | None:
        """Absolute data-file paths from the snapshot's manifest, or
        ``None`` (pre-manifest snapshot) -> caller falls back to a
        directory listing. An empty snapshot is a valid empty list."""
        sizes = self._manifest_sizes(version)
        if sizes is None:
            return None
        return sorted(sizes)

    def _write_snapshot(self, df: DataFrame, version: str) -> None:
        writer = df.write.mode("overwrite").format(self.fmt)
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.save(self._version_dir(version))
        self._write_snapshot_schema(self._version_dir(version), df.schema)
        self._write_file_manifest(self._version_dir(version))
        self._set_current(version)

    @staticmethod
    def hash_bucket(key_cols: Sequence[str], n_buckets: int):
        """Stable partition column for partition-pruned merges:
        ``pmod(xxhash64(keys), n)``. Derived from the merge keys, so
        a row can never change partitions across updates — the
        precondition for pruning."""
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)
        )

    def merge(
        self,
        source: DataFrame,
        update_condition: Cond = None,
        delete_condition: Cond = None,
        insert_condition: Cond = None,
        max_retries: int = 5,
        claim_expiry_s: float = 300.0,
        schema_evolution: bool = False,
    ) -> str:
        """Keyed MERGE of ``source`` into the store (M1-M3 semantics).
        Returns the committed version.

        ``schema_evolution=True`` (Delta ``withSchemaEvolution``):
        source columns absent from the table are ADDED — existing
        rows read NULL for them, and the committed snapshot carries
        its own ``_SCHEMA.json`` so time travel to older versions
        keeps their narrower schema. Note this persists EVERY extra
        source column; condition-only helper columns (change flags)
        belong with the default ``False``, where they remain
        droppable merge inputs.

        CHECK constraints (``add_constraint``) are enforced on the
        rows each merge writes, via an ``Observation`` riding the
        staging write (no extra scan); a violation aborts before the
        commit claim and raises :class:`ConstraintViolationError`
        with the store unchanged.

        With ``partition_by`` declared, the merge is PRUNED: only
        partitions containing source rows are joined and rewritten;
        untouched partitions are hardlinked from the previous
        snapshot (O(1) per file). Requires the partition column to
        be a pure function of the merge keys (use
        :meth:`hash_bucket`) so updates cannot move rows across
        partitions.

        Concurrency: optimistic, serializable per merge (module
        docstring). Each attempt merges against the CURRENT
        snapshot and can only commit current+1; losing the claim
        discards the staged snapshot and re-runs the merge against
        the winner's result. Raises ``RuntimeError`` after
        ``max_retries`` lost races.

        PARTITION-DISJOINT FAST-FORWARD: with ``partition_by`` set,
        each commit manifest records the partition values it rewrote
        (Delta's conflict-detection metadata). A loser whose touched
        set is disjoint from EVERY commit that landed since its base
        does not re-run the merge: its already-written merged
        partitions are still byte-valid against the new base, so it
        just re-links the (new) untouched partitions and claims the
        next version — two writers loading disjoint daily partitions
        both commit with ONE merge computation each. Any overlapping
        or unattributed intermediate commit (non-partitioned writer,
        legacy manifest) forces the conservative full re-merge.
        ``merge_recomputes`` / ``merge_fast_forwards`` expose the
        path taken for tests and ops introspection.
        """
        self._check_write_protocol()
        if self.identity_columns():
            raise ValueError(
                "MERGE on a table with GENERATED ALWAYS AS IDENTITY "
                "columns is unsupported (Delta documents the same "
                "limitation): a merge source can neither supply the "
                "column nor preserve matched rows' values through "
                "UPDATE SET *. Identity tables are append-path "
                "tables — use append()/delete()/update()"
            )
        if schema_evolution:
            # enable BEFORE the commit: a snapshot whose partitions
            # disagree on columns is only correct under the committed
            # _SCHEMA.json, and readers must know to honor it
            self._require_feature("snapshot-schema")
            self._refuse_tombstoned(source)
        source = self._apply_generated(source)
        self.merge_recomputes = 0
        self.merge_fast_forwards = 0
        # surviving merged output across lost-but-disjoint races:
        # {"dir": staged parquet of touched partitions, "base":
        #  version it was merged against, "touched": raw values,
        #  "strs": escaped dir-name values (hive_part_str manifest
        #  form — matches what Spark's partitionBy wrote on disk)}
        ff: dict | None = None
        try:
            for _attempt in range(max_retries + 1):
                self._repair_pointer()
                base = self.current_version()
                if base is None:
                    raise FileNotFoundError(
                        f"MergeStore at {self.path} does not exist"
                    )
                nxt = f"v{int(base[1:]) + 1:05d}"
                os.makedirs(self._staging_dir(), exist_ok=True)
                staging = os.path.join(
                    self._staging_dir(), uuid.uuid4().hex
                )

                if self.partition_by:
                    pcol = self.partition_by
                    if ff is not None and ff["base"] != base:
                        # reusable only if EVERY commit in
                        # (ff.base, base] is provably disjoint
                        if not self._ff_valid(
                            ff["base"], base, ff["strs"]
                        ):
                            shutil.rmtree(ff["dir"], ignore_errors=True)
                            ff = None
                    if ff is None:
                        touched = [
                            row[0]
                            for row in source.select(pcol)
                            .distinct()
                            .collect()
                        ]
                        if any(v is None for v in touched):
                            # Spark writes NULL partitions to
                            # __HIVE_DEFAULT_PARTITION__, which the
                            # str(v) dir bookkeeping can't name — and
                            # a key-derived partition (hash_bucket)
                            # is never null, so this is always a
                            # misconfigured partition column
                            raise ValueError(
                                f"partition column {pcol!r} contains "
                                "NULLs; derive it from the merge keys "
                                "(MergeStore.hash_bucket)"
                            )
                        tgt = self.read_version(base).filter(
                            F.col(pcol).isin(touched)
                        )
                        if schema_evolution:
                            tgt = _evolve_target(tgt, source)
                        merged = merge_upsert(
                            tgt,
                            source,
                            self.keys,
                            update_condition=update_condition,
                            delete_condition=delete_condition,
                            insert_condition=insert_condition,
                        )
                        out_schema = merged.schema
                        merged = self._apply_clustering(merged)
                        merged, obs = self._observe_constraints(merged)
                        merged_dir = os.path.join(
                            self._staging_dir(),
                            uuid.uuid4().hex + ".merged",
                        )
                        (
                            merged.write.mode("overwrite")
                            .format(self.fmt)
                            .partitionBy(pcol)
                            .save(merged_dir)
                        )
                        self._check_observed(obs, merged_dir)
                        self.merge_recomputes += 1
                        ff = {
                            "dir": merged_dir,
                            "base": base,
                            "touched": touched,
                            # manifest/dir form: MUST be the escaped
                            # dir-name encoding, or the hardlink
                            # exclusion below re-links rewritten
                            # partitions (resurrecting rows) and
                            # _ff_valid mis-judges disjointness
                            "strs": sorted(
                                hive_part_str(v) for v in touched
                            ),
                            "schema": out_schema,
                        }
                    else:
                        self.merge_fast_forwards += 1
                    # commit candidate: hardlinks of the merged
                    # touched partitions + untouched partitions from
                    # the (current) base. Base is immutable, but
                    # "vacuum never drops current" only protects the
                    # INSTANTANEOUS current: if a concurrent writer
                    # advanced the store and a vacuum dropped our
                    # now-stale base mid-build, listdir/link raise
                    # OSError — that is just a lost race, so discard
                    # staging and retry against the winner.
                    touched_dirs = {
                        f"{pcol}={s}" for s in ff["strs"]
                    }
                    base_dir = self._version_dir(base)
                    try:
                        _link_tree(ff["dir"], staging)
                        for entry in os.listdir(base_dir):
                            if (
                                entry.startswith(f"{pcol}=")
                                and entry not in touched_dirs
                            ):
                                _link_tree(
                                    os.path.join(base_dir, entry),
                                    os.path.join(staging, entry),
                                )
                    except OSError:
                        shutil.rmtree(staging, ignore_errors=True)
                        self._await_advance(beyond=base)
                        continue
                    # deletion vectors: rewritten partitions had
                    # theirs applied (tgt reads through read_version);
                    # hardlinked partitions keep theirs verbatim
                    self._carry_dv(base, staging, touched_dirs)
                    # snapshot-local schema: the evolved (union)
                    # schema — untouched base partitions lack the
                    # added columns on disk and read as NULL under
                    # it. ff["schema"] was computed against
                    # ff["base"]; a fast-forward past an
                    # INTERMEDIATE schema-evolution commit must not
                    # narrow the table back, so union with the
                    # current base's committed schema (disjoint
                    # partitions can't conflict on columns — both
                    # sides' files read NULL for the other's adds).
                    snap_schema = ff["schema"]
                    if ff["base"] != base:
                        snap_schema = _union_schema(
                            snap_schema, self._version_schema(base)
                        )
                    self._write_snapshot_schema(staging, snap_schema)
                    claim_touched = ff["strs"]
                else:
                    tgt = self.read_version(base)
                    if schema_evolution:
                        tgt = _evolve_target(tgt, source)
                    merged = merge_upsert(
                        tgt,
                        source,
                        self.keys,
                        update_condition=update_condition,
                        delete_condition=delete_condition,
                        insert_condition=insert_condition,
                    )
                    out_schema = merged.schema
                    merged = self._apply_clustering(merged)
                    merged, obs = self._observe_constraints(merged)
                    (
                        merged.write.mode("overwrite")
                        .format(self.fmt)
                        .save(staging)
                    )
                    self._check_observed(obs, staging)
                    self._write_snapshot_schema(staging, out_schema)
                    self.merge_recomputes += 1
                    claim_touched = None

                # file manifest travels INSIDE the staged snapshot,
                # so the commit rename publishes data + manifest
                # atomically (Delta's add-file log entries analogue)
                self._write_file_manifest(staging)

                if self._claim_version(
                    nxt, claim_expiry_s, touched=claim_touched
                ):
                    if self._finalize_commit(
                        staging, nxt, touched=claim_touched
                    ):
                        return nxt
                    # a broken-claim race lost the dir-rename
                    # arbiter: treat as a lost claim and retry
                    shutil.rmtree(staging, ignore_errors=True)
                    self._await_advance(beyond=base)
                    continue
                # lost the race: drop the stale staging, wait for
                # the winner's pointer, retry against the new
                # snapshot (fast-forward decides at loop top whether
                # the merge computation itself can be reused)
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
            raise RuntimeError(
                f"merge at {self.path} lost {max_retries + 1} straight "
                "commit races; raise max_retries or serialize writers"
            )
        finally:
            # committed staging holds hardlinks to the merged files,
            # so dropping the scratch dir never touches live data
            if ff is not None:
                shutil.rmtree(ff["dir"], ignore_errors=True)

    def last_txn_version(self, app_id: str) -> int:
        """Highest ``txn_ver`` committed under ``app_id`` (-1 =
        none) — Delta's (txnAppId, txnVersion) idempotent-writer
        lookup. Scans live commit manifests plus the compacted log:
        metadata-scale, and the transaction watermark survives both
        vacuum and ``compact_log`` because compaction folds full
        records.

        Only MATERIALIZED commits count. The (txn_app, txn_ver)
        pair is written into the claim manifest BEFORE the
        staging->version rename (the commit point), so a writer
        that crashes mid-commit leaves an orphan claim carrying the
        txn with no data behind it — counting it would make the
        restart replay skip the batch as already-applied (silent
        loss). A live manifest is therefore trusted only when

        - its version directory exists AND (no ``_OWNER`` stamp —
          pre-stamp legacy — or the stamp matches the manifest
          owner: a stalled writer that won the rename arbiter but
          crashed before ``_reassert_manifest`` leaves the
          BREAKER's txn over the staller's content, and the breaker
          retries its batch at the next version), or
        - its version is at or below the current pointer with the
          directory gone: vacuum removed the snapshot, and vacuum
          only ever removes committed versions (an orphan claim is
          always numbered past the pointer — every commit of that
          number would have replaced its manifest).

        Compacted records are committed by definition (compaction
        folds only versions older than the oldest retained)."""
        best = -1
        for rec in self.committed_txn_records():
            if rec.get("txn_app") == app_id:
                try:
                    best = max(best, int(rec.get("txn_ver", -1)))
                except (TypeError, ValueError):
                    continue
        return best

    def committed_txn_records(self) -> list[dict]:
        """Commit records trusted as MATERIALIZED — the single
        source of truth behind :meth:`last_txn_version` and the
        Delta-log export's checkpoint ``txn`` watermarks
        (``deltalog._write_checkpoint``). The two MUST agree: a
        watermark built from a superset of these records (e.g. an
        orphan claim past the pointer, or a breaker-raced manifest
        whose ``_OWNER`` stamp mismatches) overstates the version
        and makes a stock Delta client silently drop a real batch;
        a subset (e.g. missing a vacuumed-but-not-yet-compacted
        manifest) understates it and re-applies an already-applied
        batch as duplicates. Masking rules documented on
        :meth:`last_txn_version`."""
        commits = self._commits_dir()
        records = list(read_compacted(self.path).values())
        try:
            entries = os.listdir(commits)
        except FileNotFoundError:
            entries = []
        cur = self.current_version()
        cur_n = _vnum(cur) if cur is not None else -1
        for entry in entries:
            if not entry.endswith(".json") or entry.startswith("_"):
                continue
            try:
                with open(os.path.join(commits, entry)) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            version = str(rec.get("version") or entry[:-5])
            if self._commit_record_materialized(version, rec, cur_n):
                records.append(rec)
        return records

    def _commit_record_materialized(
        self, version: str, rec: dict, cur_n: int
    ) -> bool:
        """True when ``version``'s manifest describes content that
        actually committed (masking rules on
        :meth:`last_txn_version`). Shared by
        :meth:`committed_txn_records` and the Delta-log export's
        per-entry txn emission, which must never trust a manifest
        this predicate rejects."""
        vdir = self._version_dir(version)
        if os.path.isdir(vdir):
            try:
                with open(os.path.join(vdir, self._OWNER)) as f:
                    stamped = f.read().strip()
            except OSError:
                return True  # pre-stamp legacy
            # arbiter raced: content isn't this manifest's txn
            return rec.get("owner") == stamped
        # dir gone: vacuum only removes committed versions; an
        # orphan claim is always numbered past the pointer
        return _vnum(version) <= cur_n

    def append(
        self,
        source: DataFrame,
        max_retries: int = 5,
        claim_expiry_s: float = 300.0,
        schema_evolution: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> str | None:
        """Blind APPEND (Delta ``mode("append")`` / ``INSERT INTO``):
        add ``source``'s rows without matching keys — the
        high-throughput ingest path. Returns the committed version,
        or ``None`` for an empty source (no version burned).

        Cost model: the new rows are written ONCE to scratch; every
        commit attempt is pure hardlinks (new files + the whole base
        snapshot). Because an append's content is independent of the
        base, a lost race NEVER recomputes — the same files re-link
        against the winner's snapshot and re-claim. Compare merge,
        whose staged output is only reusable when every intervening
        commit is partition-disjoint.

        Conflict metadata: with ``partition_by``, the partitions
        gaining files are declared touched, so a racing merge that
        rewrote one of them does NOT fast-forward past this append
        (its rewrite was computed before these rows existed;
        fast-forwarding would silently drop them). Disjoint merges
        fast-forward as usual.

        Contract: append does not look at keys — ingesting a key
        that already exists creates a duplicate, exactly like a
        Delta append under a conceptual primary key. Use
        :meth:`merge` for upsert semantics; append is for fact/event
        tables where rows are immutable arrivals. CHECK constraints
        and generated columns are enforced on the appended rows
        (same Observation ride as merge); deletion vectors carry
        verbatim (no base file changes, so every vector stays
        valid). ``schema_evolution=True`` admits new source columns;
        existing rows read NULL for them.

        ``txn=(app_id, version)`` makes the append IDEMPOTENT per
        writer (Delta's txnAppId/txnVersion): the pair rides the
        commit manifest itself — the commit IS the marker, so there
        is no torn window between "data committed" and "progress
        recorded". A replay whose version is at or below
        :meth:`last_txn_version` returns ``None`` without writing.
        Single writer per app id, as in Delta.
        """
        self._check_write_protocol()
        extra = None
        if txn is not None:
            app_id, txn_ver = txn
            if self.last_txn_version(str(app_id)) >= int(txn_ver):
                return None  # replay: already applied, atomically
            extra = {"txn_app": str(app_id), "txn_ver": int(txn_ver)}
        if schema_evolution:
            self._require_feature("snapshot-schema")
            self._refuse_tombstoned(source)
        base0 = self.current_version()
        if base0 is None:
            raise FileNotFoundError(
                f"MergeStore at {self.path} does not exist"
            )
        source0 = self._apply_generated(source)
        table_schema = self._version_schema(base0)
        has_identity = bool(self.identity_columns())

        def build() -> dict:
            """Assign identity, align, cluster, observe, write
            scratch — everything whose OUTPUT depends on the
            identity high-water mark, so a concurrent identity
            allocation can trigger exactly one clean rebuild."""
            src, id_snap = self._assign_identity(source0)
            if table_schema is not None:
                have = [f.name for f in table_schema.fields]
                extra_cols = [c for c in src.columns if c not in have]
                missing = [c for c in have if c not in src.columns]
                # generated/identity columns declared since the last
                # commit are table metadata, not foreign columns —
                # the write that introduces them is exactly this one
                known = set(self.generated_columns()) | set(
                    self.identity_columns()
                )
                foreign = [c for c in extra_cols if c not in known]
                if foreign and not schema_evolution:
                    raise ValueError(
                        f"append source has columns {foreign} the "
                        "table lacks; pass schema_evolution=True to "
                        "add them"
                    )
                if any(c in known for c in extra_cols):
                    # a metadata column is being introduced: the
                    # snapshot will mix files with/without it, which
                    # only the per-snapshot schema makes readable
                    self._require_feature("snapshot-schema")
                if missing:
                    raise ValueError(
                        f"append source is missing table columns "
                        f"{missing}; INSERT requires every column "
                        "(generated columns are computed "
                        "automatically)"
                    )
                # table column order first — appended files stay
                # uniformly readable under the snapshot schema
                src = src.select(*have, *sorted(extra_cols))

            os.makedirs(self._staging_dir(), exist_ok=True)
            scratch = os.path.join(
                self._staging_dir(), uuid.uuid4().hex + ".append"
            )
            src = self._apply_clustering(src)
            observed, obs = self._observe_constraints(src)
            # row-count observation rides the same write job: an
            # empty source must be a no-op (no version spent), and
            # empty writes still emit zero-row part files, so the
            # file listing cannot tell
            from pyspark.sql import Observation

            nobs = Observation()
            # assigned-identity maxima ride the SAME write job as
            # the row count — no extra pass over the source
            aggs = [F.count(F.lit(1)).alias("n")] + [
                F.max(name).alias(f"_max_{name}")
                for name in self.identity_columns()
                if name in observed.columns
            ]
            observed = observed.observe(nobs, *aggs)
            writer = observed.write.mode("overwrite").format(self.fmt)
            if self.partition_by:
                writer = writer.partitionBy(self.partition_by)
            writer.save(scratch)
            self._check_observed(obs, scratch)
            new_entries = [
                e
                for e in os.listdir(scratch)
                if not e.startswith(("_", "."))
            ]
            touched: list[str] | None = None
            if self.partition_by:
                pfx = f"{self.partition_by}="
                bad = [
                    e for e in new_entries if not e.startswith(pfx)
                ]
                if bad or any(
                    e == pfx + "__HIVE_DEFAULT_PARTITION__"
                    for e in new_entries
                ):
                    shutil.rmtree(scratch, ignore_errors=True)
                    raise ValueError(
                        f"partition column {self.partition_by!r} "
                        "produced NULL/unpartitioned output; derive "
                        "it from row content (MergeStore.hash_bucket)"
                    )
                # dir-name encoding straight off the written layout
                # — exactly the form manifests and _ff_valid compare
                touched = sorted(e[len(pfx):] for e in new_entries)
            rec = dict(extra) if extra else {}
            counts = nobs.get
            if has_identity and counts["n"]:
                rec["identity_hwm"] = {
                    name: int(counts[f"_max_{name}"])
                    for name in self.identity_columns()
                    if counts.get(f"_max_{name}") is not None
                }
            return {
                "scratch": scratch,
                "entries": new_entries,
                "touched": touched,
                "extra": rec or None,
                "n": counts["n"],
                "id_snap": id_snap,
                "schema": (
                    observed.schema
                    if table_schema is None
                    else _union_schema(table_schema, observed.schema)
                ),
            }

        state = build()
        preclaim = None
        if has_identity:

            def preclaim(exclude_version=None):
                """Re-check the identity high-water mark UNDER the
                won claim (own record excluded): another writer's
                allocation since our scratch was written means our
                baked-in values collide — rebuild from the new mark
                (the ONE conflict identity introduces; non-identity
                commits never invalidate an append)."""
                nonlocal state
                current = {
                    name: self._identity_hwm(
                        name, exclude_version=exclude_version
                    )
                    for name in self.identity_columns()
                }
                if current == state["id_snap"]:
                    return None
                shutil.rmtree(state["scratch"], ignore_errors=True)
                state = build()
                return (
                    state["scratch"],
                    state["entries"],
                    state["touched"],
                    state["extra"],
                )

        try:
            if state["n"] == 0:
                return None  # empty source: no-op, no version spent
            return self._commit_appended_files(
                state["scratch"],
                state["entries"],
                state["schema"],
                touched=state["touched"],
                extra=state["extra"],
                max_retries=max_retries,
                claim_expiry_s=claim_expiry_s,
                preclaim=preclaim,
            )
        finally:
            shutil.rmtree(state["scratch"], ignore_errors=True)

    def _commit_appended_files(
        self,
        scratch: str,
        new_entries: list[str],
        src_schema: StructType,
        touched: list[str] | None,
        extra: dict | None,
        max_retries: int,
        claim_expiry_s: float,
        preclaim=None,
    ) -> str:
        """OCC commit of already-written data files as an APPEND:
        every attempt hardlinks (whole base snapshot + the new
        files), claims base+1, renames. Shared by :meth:`append`
        and the data source's ``df.write`` path — the files are
        base-independent, so lost races re-link and re-claim, never
        re-write. Caller owns ``scratch`` cleanup.

        ``preclaim`` (identity tables): called again AFTER the claim
        is won, with the claimed version excluded from the scan —
        the claim is the serialization point (nobody can claim past
        it), so a verification UNDER the claim is race-free where a
        check before it is not. Returning a (scratch, entries,
        touched, extra) tuple swaps in a REBUILT payload; the
        identity-allocation conflict is the one case where an
        append's content depends on other writers' commits."""

        def link_staging(base: str, scr: str, entries: list[str]):
            """Build a commit candidate: hardlinks of the whole base
            snapshot (data + _dv verbatim) plus the appended files.
            Returns the staging path, or ``None`` for a lost race
            (base vacuumed mid-link after a concurrent advance)."""
            staging = os.path.join(
                self._staging_dir(), uuid.uuid4().hex
            )
            try:
                base_dir = self._version_dir(base)
                os.makedirs(staging, exist_ok=True)
                for entry in os.listdir(base_dir):
                    src = os.path.join(base_dir, entry)
                    if entry.startswith("."):
                        continue
                    if entry.startswith("_"):
                        # _SCHEMA/_FILES/_OWNER are re-derived by
                        # the caller (never linked: writing through
                        # a shared inode would rewrite the base's)
                        if entry == _DV:
                            _link_tree(
                                src, os.path.join(staging, entry)
                            )
                        continue
                    if os.path.isdir(src):
                        _link_tree(src, os.path.join(staging, entry))
                    else:
                        os.link(src, os.path.join(staging, entry))
                # appended files: part names carry job UUIDs —
                # collision-free. Entries may be top-level names OR
                # relpaths into hive partition dirs (the data source
                # writer links exactly its own batch's files, never
                # a whole shared scratch subdir)
                for entry in entries:
                    src = os.path.join(scr, entry)
                    dst = os.path.join(staging, entry)
                    if os.path.isdir(src):
                        _link_tree(src, dst)
                    else:
                        os.makedirs(
                            os.path.dirname(dst), exist_ok=True
                        )
                        os.link(src, dst)
            except OSError:
                shutil.rmtree(staging, ignore_errors=True)
                # disambiguate before retrying: a vanished BASE is
                # a lost race; a vanished NEW file is a caller bug
                # (wrong scratch dir, files consumed twice) no
                # retry can fix — retrying would wedge the writer
                # for max_retries x 30 s timeouts
                missing = [
                    e
                    for e in entries
                    if not os.path.exists(os.path.join(scr, e))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"append input files vanished from scratch "
                        f"{scr}: {missing[:3]}"
                    )
                return None
            self._write_snapshot_schema(
                staging,
                _union_schema(src_schema, self._version_schema(base)),
            )
            self._write_file_manifest(staging)
            return staging

        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            nxt = f"v{int(base[1:]) + 1:05d}"
            staging = link_staging(base, scratch, new_entries)
            if staging is None:
                self._await_advance(beyond=base)
                continue
            if self._claim_version(
                nxt, claim_expiry_s, touched=touched, extra=extra
            ):
                if preclaim is not None:
                    # verification UNDER the claim: our own record
                    # (which carries our stale mark) is excluded;
                    # any OTHER allocation that landed since our
                    # scratch was written forces a rebuild — safe,
                    # because holding the vN claim means no further
                    # commit can land until we rename or expire
                    rebuilt = preclaim(exclude_version=nxt)
                    if rebuilt is not None:
                        scratch, new_entries, touched, extra = rebuilt
                        shutil.rmtree(staging, ignore_errors=True)
                        staging = link_staging(
                            base, scratch, new_entries
                        )
                        if staging is None:
                            # base vanished under the claim: give
                            # the claim up (no rename happened, so
                            # removing our own manifest is safe)
                            self._drop_own_claim(nxt)
                            self._await_advance(beyond=base)
                            continue
                        self._rewrite_own_claim(
                            nxt, touched=touched, extra=extra
                        )
                if self._finalize_commit(
                    staging, nxt, touched=touched, extra=extra
                ):
                    return nxt
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
                continue
            shutil.rmtree(staging, ignore_errors=True)
            self._await_advance(beyond=base)
        raise RuntimeError(
            f"append at {self.path} lost {max_retries + 1} straight "
            "commit races; raise max_retries or serialize writers"
        )

    def _drop_own_claim(self, version: str) -> None:
        """Release a claim THIS writer holds and has not renamed
        into: safe exactly because no snapshot dir exists yet, so
        nothing references the manifest."""
        manifest = _commit_path(self.path, version)
        try:
            with open(manifest) as f:
                if json.load(f).get("owner") != getattr(
                    self, "_claim_owner", None
                ):
                    return
            os.remove(manifest)
        except (OSError, ValueError):
            pass

    def _rewrite_own_claim(
        self,
        version: str,
        touched: list[str] | None,
        extra: dict | None,
    ) -> None:
        """Refresh the metadata of a claim THIS writer holds (same
        owner) after an under-claim rebuild changed the payload."""
        owner = getattr(self, "_claim_owner", None)
        if not owner:
            return
        manifest = _commit_path(self.path, version)
        record = {
            "version": version,
            "owner": owner,
            "ts": self._commit_ts(version),
        }
        if touched is not None:
            record["touched"] = sorted(touched)
        if extra:
            record.update(extra)
        tmp = manifest + "." + uuid.uuid4().hex
        with open(tmp, "w") as f:
            f.write(json.dumps(record))
        os.replace(tmp, manifest)

    def list_versions(self) -> list[str]:
        """All snapshot versions on disk, oldest first (numeric
        order — lexical inverts past v99999)."""
        return sorted(
            (
                d
                for d in os.listdir(self.path)
                if d.startswith("v") and d[1:].isdigit()
            ),
            key=_vnum,
        )

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific retained snapshot (the Delta
        ``versionAsOf`` analogue; snapshots are immutable so this is
        just a scan of that version's directory), minus any rows the
        snapshot's deletion vectors soft-deleted (:meth:`delete`)."""
        return self._apply_dv(self._load_version(version), version)

    def _load_version(self, version: str) -> DataFrame:
        """Raw snapshot scan WITHOUT deletion-vector application —
        internal: callers that need ``_metadata`` access (delete's
        match scan) or that apply DVs themselves."""
        self._check_read_protocol()
        if version not in self.list_versions():
            raise FileNotFoundError(
                f"version {version!r} not present at {self.path} "
                f"(have {self.list_versions()})"
            )
        reader = self.spark.read.format(self.fmt)
        schema = self._version_schema(version)
        if schema is not None:
            reader = reader.schema(schema)
        # manifest read path (no directory LIST): explicit file set
        # from the commit-time manifest; basePath keeps partition-
        # column inference over pcol=value paths. Pre-manifest or
        # empty snapshots fall back to the directory scan.
        files = self._manifest_files(version)
        if files:
            return reader.option(
                "basePath", self._version_dir(version)
            ).load(files)
        return reader.load(self._version_dir(version))

    def version_as_of(self, ts) -> str:
        """Resolve a timestamp to the newest retained snapshot
        committed at or before it — the lookup behind both
        :meth:`read_as_of` and ``RESTORE TABLE ... TO TIMESTAMP``.

        ``ts`` may be an epoch-seconds number, a ``datetime``, or an
        ISO string (naive strings are taken as UTC, matching the
        epoch clock the commit manifests record). Raises if every
        retained snapshot is newer than ``ts`` — same contract as
        Delta (you cannot read before the table existed), and if the
        candidate's commit time was lost to log compaction the
        lookup refuses rather than guessing."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts.replace("T", " "))
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        best = None
        for version in self.list_versions():
            rec_ts = self._manifest_ts(version)
            if rec_ts is not None and rec_ts <= float(ts):
                best = version  # list_versions is ascending
        if best is None:
            raise FileNotFoundError(
                f"no retained snapshot at {self.path} committed at or "
                f"before {ts} (oldest retained: {self.list_versions()})"
            )
        return best

    def read_as_of(self, ts) -> DataFrame:
        """Time travel by TIMESTAMP (Delta ``timestampAsOf``): read
        the newest retained snapshot committed at or before ``ts``
        (see :meth:`version_as_of` for accepted forms and the
        refusal contract)."""
        return self.read_version(self.version_as_of(ts))

    def _manifest_ts(self, version: str) -> float | None:
        try:
            return float(read_commit(self.path, version)["ts"])
        except (ValueError, KeyError, TypeError):
            return None

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        fmt: str = "parquet",
        partition_by: str | None = None,
    ) -> "MergeStore":
        """``CONVERT TO DELTA`` analogue: adopt an existing columnar
        directory as a MergeStore IN PLACE, without rewriting data.

        The directory's data files are hardlinked into a STAGED
        ``v00000`` (O(1) per file) which is then atomically renamed
        into place — the same commit discipline as every other
        writer in this module, so a concurrent ``_repair_pointer``
        can never observe (and flip the pointer to) a half-built
        snapshot, and a crashed convert leaves only an expirable
        claim, never a wedged store. The originals are unlinked
        AFTER the pointer flip — same inodes, no copy; a crash in
        that last step leaves harmless root-level leftovers that no
        reader or merge ever consults. Idempotent: a path that is
        already a store is just opened.

        With ``partition_by`` the directory must actually HAVE that
        Hive layout (every data entry a ``pcol=value/`` dir): a flat
        directory adopted as partitioned would lose its root-level
        files at the first merge (the partition-pruned staging build
        neither merges nor hardlinks them), so it is rejected here.
        """
        store = cls(
            spark, path, keys, fmt=fmt, partition_by=partition_by
        )
        if store.exists():
            return store
        if not os.path.isdir(path):
            raise FileNotFoundError(f"nothing to convert at {path}")
        # adopt only data entries: bookkeeping (_COMMITS, _STAGING,
        # _SUCCESS, dotfiles) stays at the root
        adopted = [
            e
            for e in os.listdir(path)
            if not e.startswith(("_", "."))
            and e != "v00000"
        ]
        if partition_by is not None:
            flat = [
                e
                for e in adopted
                if not (
                    e.startswith(f"{partition_by}=")
                    and os.path.isdir(os.path.join(path, e))
                )
            ]
            if flat or not adopted:
                raise ValueError(
                    f"convert(partition_by={partition_by!r}) requires "
                    f"a Hive-partitioned layout ({partition_by}=value/ "
                    f"directories); found "
                    f"{flat[:5] or 'no data entries'} at {path} — "
                    "convert without partition_by, or rewrite the "
                    "data partitioned first"
                )
        schema = read_table(spark, path, fmt=fmt).schema
        if not store._claim_version(
            "v00000", expiry_s=300.0, extra={"operation": "convert"}
        ):
            store._await_advance(beyond="")
            return store
        os.makedirs(store._staging_dir(), exist_ok=True)
        staging = os.path.join(store._staging_dir(), uuid.uuid4().hex)
        os.makedirs(staging, exist_ok=True)
        for entry in adopted:
            src = os.path.join(path, entry)
            dst = os.path.join(staging, entry)
            if os.path.isdir(src):
                _link_tree(src, dst)
            else:
                os.link(src, dst)
        store._write_snapshot_schema(staging, schema)
        store._write_file_manifest(staging)
        with open(store._schema_path(), "w") as f:
            json.dump(schema.jsonValue(), f)
        store._write_table_meta()
        if not store.log_store.publish_snapshot(
            staging, store._version_dir("v00000")
        ):
            # only reachable when a >expiry-stalled claim was broken
            # and the breaker published first; its content is now
            # v00000 — surfacing beats silently unlinking originals
            # whose content never became the snapshot
            raise RuntimeError(
                f"convert lost the v00000 publish race at {path}"
            )
        store._set_current("v00000")
        # unlink the originals — the inodes live on in v00000
        for entry in adopted:
            src = os.path.join(path, entry)
            if os.path.isdir(src):
                shutil.rmtree(src)
            else:
                os.remove(src)
        return store

    def clone(self, new_path: str) -> "MergeStore":
        """Shallow(-ish) clone (Delta ``CLONE``): a NEW independent
        store whose ``v00000`` is the current snapshot. Data files
        are hardlinked (zero copy on the same filesystem — the
        closest POSIX analogue to Delta's file-reference clone);
        constraints and schema carry over; history does not (the
        clone starts its own commit log, exactly like Delta, where
        a clone's version counter resets)."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(
                f"MergeStore at {self.path} does not exist"
            )
        target = MergeStore(
            self.spark,
            new_path,
            self.keys,
            fmt=self.fmt,
            partition_by=self.partition_by,
            n_buckets=self.table_meta().get("n_buckets"),
        )
        if target.exists():
            raise FileExistsError(f"store already exists at {new_path}")
        os.makedirs(new_path, exist_ok=True)
        clone_extra: dict = {"operation": "clone", "clone_of": self.path}
        # identity high-water marks ride commit records, and the clone
        # starts a FRESH log — seed the source's marks into v00000 or
        # the clone's first append would re-allocate ids that already
        # exist in the cloned data (same seeding convert_from_delta does)
        hwms = {
            name: self._identity_hwm(name)
            for name in self.identity_columns()
        }
        hwms = {n: v for n, v in hwms.items() if v is not None}
        if hwms:
            clone_extra["identity_hwm"] = hwms
        if not target._claim_version(
            "v00000",
            expiry_s=300.0,
            extra=clone_extra,
        ):
            target._await_advance(beyond="")
            return target
        # stage + atomic rename (commit discipline as everywhere):
        # a concurrent reader/repair of the clone must never see a
        # partially-linked v00000
        os.makedirs(target._staging_dir(), exist_ok=True)
        staging = os.path.join(target._staging_dir(), uuid.uuid4().hex)
        _link_tree(self._version_dir(cur), staging)
        if not target.log_store.publish_snapshot(
            staging, target._version_dir("v00000")
        ):
            raise RuntimeError(
                f"clone lost the v00000 publish race at {new_path}"
            )
        schema = self._version_schema(cur)
        if schema is not None:
            with open(target._schema_path(), "w") as f:
                json.dump(schema.jsonValue(), f)
        cons = self.constraints()
        if cons:
            with open(target._constraints_path(), "w") as f:
                json.dump(cons, f)
        gens = self.generated_columns()
        if gens:
            with open(target._generated_path(), "w") as f:
                json.dump(gens, f)
        idents = self.identity_columns()
        if idents:
            with open(target._identity_path(), "w") as f:
                json.dump(idents, f)
        cluster = self.clustering()
        if cluster:
            target.set_clustering(cluster)
        # dropped-column tombstones MUST travel: the clone hardlinks
        # the source's data files, so re-adding a dropped name on the
        # clone would resurrect the source's stale bytes
        for stone in self.dropped_columns():
            target._write_tombstone(stone)
        target._write_table_meta()
        # the clone's v00000 carries the source's feature-bearing
        # state (DV sidecars, evolved schemas), so its protocol
        # travels with it — cloning must never downgrade
        src_proto = os.path.join(self.path, _PROTOCOL)
        if os.path.isdir(src_proto):
            shutil.copytree(
                src_proto,
                os.path.join(new_path, _PROTOCOL),
                dirs_exist_ok=True,
            )
        target._set_current("v00000")
        return target

    def restore(
        self,
        version: str,
        claim_expiry_s: float = 300.0,
        max_retries: int = 5,
    ) -> str:
        """``RESTORE TABLE ... TO VERSION AS OF`` (Delta RESTORE
        analogue): commit a NEW version whose content is a retained
        older snapshot's. Returns the committed version.

        Forward-only undo: nothing is rewritten or deleted — the new
        snapshot hardlinks the old files (O(1) data movement per
        file, exactly Delta's add-file re-listing), history stays
        intact and auditable, and the restored-over versions remain
        time-travelable until ``vacuum``. Goes through the same
        optimistic claim protocol as merge; a whole-table operation,
        so it declares no touched-partition metadata and conflicts
        with every concurrent commit (the loser re-links against the
        advanced base — last restore wins, same as Delta).
        """
        self._check_write_protocol()
        for _attempt in range(max_retries + 1):
            if version not in self.list_versions():
                raise FileNotFoundError(
                    f"version {version!r} not present at {self.path} "
                    f"(have {self.list_versions()})"
                )
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            nxt = f"v{int(base[1:]) + 1:05d}"
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            try:
                # carries the old snapshot's _FILES.json and local
                # _SCHEMA.json too — content, manifest, and schema
                # restore as one unit
                _link_tree(self._version_dir(version), staging)
            except OSError:
                # restore source vacuumed mid-link: re-check at loop
                # top (raises FileNotFoundError if truly gone)
                shutil.rmtree(staging, ignore_errors=True)
                continue
            if self._claim_version(
                nxt,
                claim_expiry_s,
                extra={"operation": "restore", "restore_of": version},
            ):
                if self._finalize_commit(
                    staging,
                    nxt,
                    extra={"operation": "restore", "restore_of": version},
                ):
                    return nxt
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
                continue
            shutil.rmtree(staging, ignore_errors=True)
            self._await_advance(beyond=base)
        raise RuntimeError(
            f"restore at {self.path} lost {max_retries + 1} straight "
            "commit races; raise max_retries or pause ingest"
        )

    def add_columns(
        self,
        cols: dict[str, str],
        claim_expiry_s: float = 300.0,
        max_retries: int = 5,
    ) -> str:
        """``ALTER TABLE ... ADD COLUMNS`` (Delta analogue): commit a
        NEW version whose data files are the current snapshot's
        (hardlinked, O(1) per file) under a WIDENED snapshot schema —
        existing rows read NULL for the new columns, exactly like
        merge/append ``schema_evolution`` but without needing a data
        batch to ride on. ``cols`` maps name -> Spark SQL type string
        (``{"score": "double"}``); new columns are nullable.

        Metadata-only by construction, so the commit is stamped
        ``data_change=false`` — CDC feeds skip it (no phantom
        "every row updated to NULL" diff), and time travel to older
        versions keeps their narrower schema (per-snapshot
        ``_SCHEMA.json``). Returns the committed version.
        """
        from pyspark.sql.types import _parse_datatype_string

        self._check_write_protocol()
        if not cols:
            raise ValueError("add_columns requires at least one column")
        new_fields = [
            StructField(name, _parse_datatype_string(t), True)
            for name, t in cols.items()
        ]
        extra = {"operation": "add columns", "data_change": False}
        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            schema = self._snapshot_schema(base)
            have = {f.name for f in schema.fields}
            dup = [f.name for f in new_fields if f.name in have]
            if dup:
                raise ValueError(
                    f"columns {dup} already exist at {self.path} "
                    f"(have {sorted(have)})"
                )
            dead = [
                f.name
                for f in new_fields
                if f.name in self.dropped_columns()
            ]
            if dead:
                raise ValueError(
                    f"columns {dead} were previously dropped and their "
                    "bytes still live in retained data files — "
                    "re-adding the name would resurrect stale values "
                    "through the explicit-schema read. Use a new name "
                    "(Delta reuses names only under column mapping, "
                    "which this store does not fake)."
                )
            widened = StructType(list(schema.fields) + new_fields)
            nxt = f"v{int(base[1:]) + 1:05d}"
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            try:
                _link_tree(self._version_dir(base), staging)
            except OSError:
                # base vacuumed mid-link: re-resolve and retry
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
                continue
            self._write_snapshot_schema(staging, widened)
            if self._claim_version(nxt, claim_expiry_s, extra=extra):
                if self._finalize_commit(staging, nxt, extra=extra):
                    return nxt
            shutil.rmtree(staging, ignore_errors=True)
            self._await_advance(beyond=base)
        raise RuntimeError(
            f"add_columns at {self.path} lost {max_retries + 1} "
            "straight commit races; raise max_retries or pause ingest"
        )

    def _tombstones_path(self) -> str:
        return os.path.join(self.path, "_TOMBSTONES.json")

    def _tombstones_dir(self) -> str:
        return os.path.join(self.path, "_TOMBSTONES")

    def _tombstones_enc_dir(self) -> str:
        # percent-encoded tombstones live in their own subdir so
        # decode is unambiguous: a root-level entry is ALWAYS a
        # legacy raw name, an enc/ entry ALWAYS decodes. (Encoding
        # in-place would make a legacy column literally named like
        # an encoded string indistinguishable from the encoding.)
        return os.path.join(self._tombstones_dir(), "enc")

    @staticmethod
    def _encode_tombstone_name(name: str) -> str:
        from urllib.parse import quote

        # quote(safe="") leaves '.' raw (unreserved); encode it too
        # so no filename can start with '.' or carry a '.tmp' marker
        return quote(name, safe="").replace(".", "%2E")

    def dropped_columns(self) -> list[str]:
        """Names logically dropped by :meth:`drop_column` — retired
        permanently (see there for why). One empty FILE per name
        under ``_TOMBSTONES/enc/``, percent-encoded so EVERY legal
        Spark column name round-trips (backtick names may start
        with '.' — which the legacy layout silently confused with
        its crashed-write temp files, voiding the resurrection
        guard — or contain '/', which would escape the directory).
        Each create is atomic — no read-modify-write for concurrent
        drops to race. Legacy layouts (raw names at the dir root,
        the older JSON list) are still read."""
        from urllib.parse import unquote

        names = set()
        try:
            names.update(
                unquote(n)
                for n in os.listdir(self._tombstones_enc_dir())
                if ".tmp" not in n  # crashed-write temp files
            )
        except FileNotFoundError:
            pass
        try:
            names.update(
                n
                for n in os.listdir(self._tombstones_dir())
                if not n.startswith(".")  # crashed-write temp files
                and n != "enc"
            )
        except FileNotFoundError:
            pass
        try:
            with open(self._tombstones_path()) as f:
                names.update(json.load(f))
        except (FileNotFoundError, ValueError):
            pass
        return sorted(names)

    def _refuse_tombstoned(self, source: DataFrame) -> None:
        """Schema evolution must not re-add a dropped column: the
        bytes still live in retained (hardlinked) data files, so the
        union schema would RESURRECT stale values for every
        pre-drop row — the same hazard :meth:`add_columns` guards.
        (A tombstoned name is normally never in the current schema —
        drop removes it, add refuses it. The exception is a STALE
        tombstone: drop_column writes the stone before its commit,
        so a drop that permanently failed leaves the name tombstoned
        while the column still lives in the schema. Such a name is
        an ordinary source column, not a re-add — refusing it would
        wedge every evolving merge on the store forever.)"""
        dead = set(source.columns) & set(self.dropped_columns())
        if dead:
            cur = self.current_version()
            if cur is not None:
                live = {f.name for f in self._snapshot_schema(cur).fields}
                dead -= live  # stale stones: never-committed drops
        dead = sorted(dead)
        if dead:
            raise ValueError(
                f"schema evolution would re-add dropped column(s) "
                f"{dead}: their bytes still live in retained data "
                "files and would resurrect through the explicit-"
                "schema read. Rename the source column(s)."
            )

    def _snapshot_schema(self, version: str) -> StructType:
        """The schema ``version`` commits to: the per-snapshot /
        table-level ``_SCHEMA.json`` when present, else inferred
        from the snapshot's files — the shared fallback the ALTER
        surface and clustering validation all resolve through."""
        schema = self._version_schema(version)
        if schema is None:
            schema = self.read_version(version).schema
        return schema

    def _write_tombstone(self, name: str) -> None:
        os.makedirs(self._tombstones_enc_dir(), exist_ok=True)
        enc = self._encode_tombstone_name(name)
        tmp = os.path.join(
            self._tombstones_enc_dir(), f"{enc}.tmp{uuid.uuid4().hex}"
        )
        with open(tmp, "w"):
            pass
        os.replace(tmp, os.path.join(self._tombstones_enc_dir(), enc))

    def drop_column(
        self,
        name: str,
        claim_expiry_s: float = 300.0,
        max_retries: int = 5,
    ) -> str:
        """``ALTER TABLE ... DROP COLUMN`` (logical drop): commit a
        NEW version whose data files are the current snapshot's
        (hardlinked) under a NARROWED snapshot schema — the column
        vanishes from every read path (engine, data source, CDC,
        Delta-log export all read through the per-snapshot schema),
        while time travel to older versions still sees it. Stamped
        ``data_change=false``: no row changed, CDC feeds skip it.

        The name is retired PERMANENTLY (recorded in
        ``_TOMBSTONES.json``; :meth:`add_columns` refuses it): the
        bytes still live in old data files, so re-adding the name
        would silently resurrect stale values through the
        explicit-schema read. Delta solves name reuse with column
        mapping (physical UUID names); without it Delta refuses
        DROP COLUMN entirely — this store does the logical drop but
        keeps the honest restriction. Refuses to drop the partition
        column, a merge key, or a column referenced by CHECK
        constraints, generated columns, identity columns, or the
        clustering spec (same guards Delta applies).
        """
        self._check_write_protocol()
        if name == self.partition_by:
            raise ValueError(f"cannot drop partition column {name!r}")
        if name in self.keys:
            raise ValueError(f"cannot drop merge key {name!r}")
        if name in self.clustering():
            raise ValueError(
                f"cannot drop clustering column {name!r}; "
                "run set_clustering without it first"
            )
        if name in self.identity_columns():
            raise ValueError(f"cannot drop identity column {name!r}")
        for gname, expr in self.generated_columns().items():
            if name == gname or re.search(
                rf"\b{re.escape(name)}\b", expr
            ):
                raise ValueError(
                    f"cannot drop {name!r}: referenced by generated "
                    f"column {gname!r}"
                )
        for cname, expr in self.constraints().items():
            if re.search(rf"\b{re.escape(name)}\b", expr):
                raise ValueError(
                    f"cannot drop {name!r}: referenced by CHECK "
                    f"constraint {cname!r}"
                )
        extra = {"operation": "drop column", "data_change": False}
        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            schema = self._snapshot_schema(base)
            if name not in {f.name for f in schema.fields}:
                raise ValueError(
                    f"column {name!r} not in the store schema "
                    f"(have {sorted(f.name for f in schema.fields)})"
                )
            narrowed = StructType(
                [f for f in schema.fields if f.name != name]
            )
            nxt = f"v{int(base[1:]) + 1:05d}"
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            try:
                _link_tree(self._version_dir(base), staging)
            except OSError:
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
                continue
            self._write_snapshot_schema(staging, narrowed)
            # tombstone BEFORE the commit: the tombstone is the ONLY
            # guard against add_columns resurrecting the dropped
            # bytes, so a crash between commit and tombstone must be
            # impossible. Over-claiming is safe — a tombstone for a
            # drop that never commits only blocks re-ADDING a name
            # after it is eventually dropped for real, and while the
            # column still exists add_columns refuses it as a
            # duplicate anyway. One atomic file per name: concurrent
            # drops of different columns cannot lose each other's
            # entries (no read-modify-write).
            self._write_tombstone(name)
            if self._claim_version(nxt, claim_expiry_s, extra=extra):
                if self._finalize_commit(staging, nxt, extra=extra):
                    return nxt
            shutil.rmtree(staging, ignore_errors=True)
            self._await_advance(beyond=base)
        raise RuntimeError(
            f"drop_column at {self.path} lost {max_retries + 1} "
            "straight commit races; raise max_retries or pause ingest"
        )

    def rename_column(
        self,
        old: str,
        new: str,
        claim_expiry_s: float = 300.0,
        max_retries: int = 5,
    ) -> str:
        """``ALTER TABLE ... RENAME COLUMN`` — as an EXPLICIT-COST
        whole-snapshot rewrite: the current snapshot is re-written
        with the column renamed (one scan + one write, deletion
        vectors applied in passing), the old name is tombstoned, and
        the commit is ``data_change=false`` (rows preserved — CDC
        feeds skip it). Delta renames metadata-only via column
        mapping (stable physical names); this store does not fake
        that — the rewrite is the honest price, stated here rather
        than hidden, and it runs through the same claim protocol as
        every commit. Refuses the same structural columns as
        :meth:`drop_column`, plus a ``new`` name that already exists
        or was previously dropped.
        """
        self._check_write_protocol()
        if old == self.partition_by:
            raise ValueError(f"cannot rename partition column {old!r}")
        if old in self.keys:
            raise ValueError(f"cannot rename merge key {old!r}")
        if old in self.clustering():
            raise ValueError(
                f"cannot rename clustering column {old!r}; "
                "run set_clustering without it first"
            )
        if old in self.identity_columns():
            raise ValueError(f"cannot rename identity column {old!r}")
        for gname, expr in self.generated_columns().items():
            if old == gname or re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"cannot rename {old!r}: referenced by generated "
                    f"column {gname!r}"
                )
        for cname, expr in self.constraints().items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"cannot rename {old!r}: referenced by CHECK "
                    f"constraint {cname!r}"
                )
        extra = {"operation": "rename column", "data_change": False}
        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            schema = self._snapshot_schema(base)
            names = {f.name for f in schema.fields}
            if old not in names:
                raise ValueError(
                    f"column {old!r} not in the store schema "
                    f"(have {sorted(names)})"
                )
            if new in names:
                raise ValueError(
                    f"target name {new!r} already exists "
                    f"(have {sorted(names)})"
                )
            # checked against THIS snapshot's names: a tombstone for
            # a name still in the schema is stale (drop_column writes
            # the stone before its commit, so a permanently-failed
            # drop over-claims) — such a name already failed the
            # duplicate check above; only a genuinely-absent dropped
            # name blocks the rename forever (its bytes live in
            # retained data files)
            if new in self.dropped_columns():
                raise ValueError(
                    f"target name {new!r} was previously dropped and "
                    "its bytes still live in retained data files — "
                    "pick another name"
                )
            renamed_schema = StructType(
                [
                    StructField(new, f.dataType, f.nullable)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            try:
                df = self.read_version(base).withColumnRenamed(old, new)
                writer = df.write.mode("overwrite").format(self.fmt)
                if self.partition_by:
                    writer = writer.partitionBy(self.partition_by)
                writer.save(staging)
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                # base vacuumed mid-scan is a lost race; anything
                # else is a real error — distinguish by pointer
                self._repair_pointer()
                if self.current_version() == base:
                    raise
                self._await_advance(beyond=base)
                continue
            self._write_snapshot_schema(staging, renamed_schema)
            self._write_file_manifest(staging)
            self._write_tombstone(old)
            nxt = f"v{int(base[1:]) + 1:05d}"
            if self._claim_version(nxt, claim_expiry_s, extra=extra):
                if self._finalize_commit(staging, nxt, extra=extra):
                    return nxt
            shutil.rmtree(staging, ignore_errors=True)
            self._await_advance(beyond=base)
        raise RuntimeError(
            f"rename_column at {self.path} lost {max_retries + 1} "
            "straight commit races; raise max_retries or pause ingest"
        )

    def detail(self) -> DataFrame:
        """One-row table summary (Delta ``DESCRIBE DETAIL``
        analogue): format, current version, file count and bytes
        (from the commit-time manifest — no LIST), partition column,
        merge keys, constraint/generated-column names, and the
        protocol's feature sets. Metadata-scale: a handful of JSON
        reads, no data files touched."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(
                f"MergeStore at {self.path} does not exist"
            )
        sizes = self._manifest_sizes(cur)
        proto = self.protocol()
        row = {
            "format": self.fmt,
            "location": self.path,
            "current_version": cur,
            "num_files": len(sizes) if sizes is not None else None,
            "size_bytes": (
                sum(sizes.values()) if sizes is not None else None
            ),
            "partition_by": self.partition_by,
            "keys": ",".join(self.keys),
            "constraints": ",".join(sorted(self.constraints())),
            "generated_columns": ",".join(
                sorted(self.generated_columns())
            ),
            "identity_columns": ",".join(sorted(self.identity_columns())),
            "dropped_columns": ",".join(self.dropped_columns()),
            "clustering": ",".join(self.clustering()),
            "reader_features": ",".join(proto["reader_features"]),
            "writer_features": ",".join(proto["writer_features"]),
            "retained_versions": len(self.list_versions()),
        }
        return arrow_frame(
            self.spark,
            [row],
            "format string, location string, current_version string, "
            "num_files bigint, size_bytes bigint, partition_by string, "
            "keys string, constraints string, generated_columns string, "
            "identity_columns string, dropped_columns string, "
            "clustering string, "
            "reader_features string, writer_features string, "
            "retained_versions bigint",
        )

    def history(self) -> DataFrame:
        """Commit log as a DataFrame — the ``DESCRIBE HISTORY``
        analogue: one row per known commit (live manifests plus the
        compacted log), with timestamp, owner, the touched-partition
        conflict metadata, and — for retained snapshots — file count
        and byte size from the snapshot's file manifest. Metadata
        scale: rows = commits, built driver-side from the commit dir
        (no data files are read)."""
        commits = self._commits_dir()
        records: dict[str, dict] = dict(read_compacted(self.path))
        if os.path.isdir(commits):
            for entry in os.listdir(commits):
                if not entry.endswith(".json") or entry == _COMPACTED:
                    continue
                try:
                    with open(os.path.join(commits, entry)) as f:
                        records[entry[:-5]] = json.load(f)
                except (OSError, ValueError):
                    records[entry[:-5]] = {"version": entry[:-5]}
        live = set(self.list_versions())
        current = self.current_version()
        rows = []
        for version in sorted(records, key=_vnum):
            rec = records[version] or {}
            n_files = size_bytes = None
            manifest = read_manifest(self.path, version) if version in live else None
            if manifest is not None:
                n_files = len(manifest)
                size_bytes = sum(manifest.values())
            touched = rec.get("touched")
            rows.append(
                (
                    version,
                    float(rec["ts"]) if rec.get("ts") else None,
                    rec.get("owner"),
                    rec.get("operation"),
                    rec.get("restore_of"),
                    ",".join(touched) if touched is not None else None,
                    version in live,
                    version == current,
                    n_files,
                    size_bytes,
                )
            )
        return arrow_frame(
            self.spark,
            rows,
            "version string, ts double, owner string,"
            " operation string, restore_of string,"
            " touched_partitions string, retained boolean,"
            " is_current boolean, n_files long, size_bytes long",
        )

    def read_changes(self, v_from: str, v_to: str | None = None) -> DataFrame:
        """Change-data-feed between two snapshots (Delta CDF
        analogue): every key whose row was inserted, updated, or
        deleted between ``v_from`` and ``v_to`` (default: current),
        tagged ``_change_type`` ∈ insert|update_postimage|delete.

        Implemented as ONE full-outer join on the store keys plus a
        null-safe any-column comparison — the same shuffle shape as
        the merge itself, so a CDC read costs no more than the merge
        that produced it. Unchanged rows are filtered before the
        join output materializes.
        """
        v_to = v_to or self.current_version()
        if v_to is None:
            raise FileNotFoundError(f"MergeStore at {self.path} does not exist")
        old = self.read_version(v_from)
        new = self.read_version(v_to)
        val_cols = [c for c in new.columns if c not in self.keys]
        o = old.select(
            *[F.col(k).alias(f"_o_{k}") for k in self.keys],
            *[F.col(c).alias(f"_o_{c}") for c in val_cols],
            F.lit(True).alias("_in_old"),
        )
        n = new.select(
            *self.keys, *val_cols, F.lit(True).alias("_in_new")
        )
        cond = F.lit(True)
        for k in self.keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"_o_{k}"))
        joined = n.join(o, on=cond, how="full_outer")
        changed_vals = F.lit(False)
        for c in val_cols:
            changed_vals = changed_vals | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
        change = (
            F.when(F.col("_in_old").isNull(), F.lit("insert"))
            .when(F.col("_in_new").isNull(), F.lit("delete"))
            .when(changed_vals, F.lit("update_postimage"))
        )
        # keys: either side (equal when both present). values: the
        # post-image for insert/update, the pre-image for delete —
        # selected on row presence, NOT coalesce, so an update that
        # legitimately sets a column to NULL keeps NULL.
        out_keys = [
            F.coalesce(F.col(k), F.col(f"_o_{k}")).alias(k) for k in self.keys
        ]
        out_vals = [
            F.when(F.col("_in_new").isNotNull(), F.col(c))
            .otherwise(F.col(f"_o_{c}"))
            .alias(c)
            for c in val_cols
        ]
        return (
            joined.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_keys, *out_vals, "_change_type")
        )

    # -- deletion vectors (merge-on-read DELETE) ------------------------
    #
    # A DELETE that rewrites every file containing a matched row is
    # copy-on-write: at 100 TB a point delete (one user id — GDPR
    # erasure) rewrites terabytes to remove kilobytes. Merge-on-read
    # instead records WHICH rows died: a sidecar of (file relpath,
    # row position) pairs under the snapshot's _dv/ directory,
    # committed through the normal claim protocol with the data files
    # HARDLINKED unchanged — O(1) write cost per file regardless of
    # table size. Readers anti-join the sidecar on (file, position);
    # Spark's _metadata.row_index supplies the position straight from
    # the parquet scan, and DV frames are tiny, so AQE plans the
    # anti-join as a broadcast. The read tax is repaid at the next
    # rewrite: merge and optimize apply DVs whenever they rewrite a
    # partition and carry the remainder forward, so a vector never
    # outlives one compaction cycle of its partition. Reference
    # semantics: Delta Lake deletion vectors / REORG APPLY (PURGE)
    # (public docs), re-expressed over plain parquet + _metadata.

    def _dv_files(self, version: str) -> list[str]:
        return dv_files(self.path, version)

    def _dv_frame(self, version: str) -> DataFrame | None:
        """The snapshot's deletion vectors as (_dv_file, _dv_pos), or
        ``None`` when it has none. Explicit schema: the sidecar must
        stay readable even when empty or single-file."""
        files = self._dv_files(version)
        if not files:
            return None
        return self.spark.read.schema(
            "_dv_file string, _dv_pos long"
        ).parquet(*files)

    @staticmethod
    def _rel_file(version: str) -> "F.Column":
        """Scanned file's path RELATIVE to its version directory —
        the DV key that stays stable when later snapshots hardlink
        the same file under a new version dir. The version-dir name
        appears as a path segment exactly once below the store root
        (partition dir names cannot contain '/'); if the STORE path
        itself contains a look-alike segment, the deepest occurrence
        is the real one — hence element_at(..., -1)."""
        return F.element_at(
            F.split(F.col("_metadata.file_path"), f"/{version}/"), -1
        )

    def _apply_dv(self, df: DataFrame, version: str) -> DataFrame:
        """Anti-join ``df`` (a scan over ``version``'s files that
        still exposes ``_metadata``) against the snapshot's deletion
        vectors; identity when the snapshot has none."""
        dv = self._dv_frame(version)
        if dv is None:
            return df
        cols = df.columns
        tagged = df.withColumn(
            "_dv_file", self._rel_file(version)
        ).withColumn("_dv_pos", F.col("_metadata.row_index"))
        return tagged.join(
            dv, ["_dv_file", "_dv_pos"], "left_anti"
        ).select(*cols)

    def _carry_dv(
        self, base: str, staging: str, rewritten_dirs: set[str]
    ) -> None:
        """Carry the base snapshot's DV entries for partitions NOT in
        ``rewritten_dirs`` into ``staging``. Rewritten partitions had
        their DVs applied during the rewrite (carrying those would be
        stale garbage); hardlinked partitions keep identical file
        names, so their entries stay valid verbatim."""
        if "" in rewritten_dirs:
            return  # whole-directory rewrite applied every vector
        dv = self._dv_frame(base)
        if dv is None:
            return
        keep = dv.filter(
            ~F.split(F.col("_dv_file"), "/")
            .getItem(0)
            .isin(sorted(rewritten_dirs))
        )
        if keep.limit(1).count() == 0:
            return
        keep.write.mode("overwrite").parquet(
            os.path.join(staging, _DV)
        )

    def delete(
        self,
        condition,
        rewrite: bool = False,
        max_retries: int = 5,
        claim_expiry_s: float = 300.0,
    ) -> str | None:
        """DELETE rows matching ``condition`` (str or Column).
        Returns the committed version, or ``None`` when nothing
        matched (no version is spent on a no-op).

        Default is MERGE-ON-READ: data files are hardlinked unchanged
        and the matched (file, row-position) pairs are appended to
        the new snapshot's ``_dv/`` sidecar — the Delta
        deletion-vector analogue, O(matched rows) written instead of
        O(touched files). ``rewrite=True`` forces COPY-ON-WRITE (only
        the partitions holding matches are rewritten when
        ``partition_by`` is set); non-parquet stores always take the
        rewrite path because row positions ride the parquet scan's
        ``_metadata.row_index``.

        NULL semantics match SQL DELETE: only rows where the
        condition is TRUE die; NULL-evaluating rows survive (the
        copy-on-write keep-filter is ``NOT coalesce(cond, false)``,
        never a bare negation).

        Concurrency: same optimistic claim protocol as merge. The
        commit manifest records the touched partition values, so a
        racing partition-disjoint merge fast-forwards past a delete
        instead of re-merging; a losing delete recomputes its matches
        against the winner's snapshot (rows the winner already
        removed simply stop matching).
        """
        self._check_write_protocol()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if self.fmt != "parquet":
            rewrite = True
        if not rewrite:
            # protocol first, data second: no reader may observe a
            # _dv/ sidecar before the table declares the feature
            self._require_feature("deletion-vectors")
        try:
            from pyspark.errors import AnalysisException
        except ImportError:  # pragma: no cover - pyspark < 3.4
            AnalysisException = OSError  # noqa: N806
        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            nxt = f"v{int(base[1:]) + 1:05d}"
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            scratch = staging + ".scratch"
            try:
                if not rewrite:
                    ok, touched, extra = self._delete_mor(
                        base, cond, staging, scratch, AnalysisException
                    )
                else:
                    ok, touched, extra = self._delete_cow(
                        base, cond, staging, scratch, AnalysisException
                    )
                if ok is None:
                    return None  # nothing matched — no-op
                if not ok:  # lost race mid-build: retry on new base
                    self._await_advance(beyond=base)
                    continue
                if self._claim_version(
                    nxt, claim_expiry_s, touched=touched, extra=extra
                ):
                    if self._finalize_commit(
                        staging, nxt, touched=touched, extra=extra
                    ):
                        return nxt
                    shutil.rmtree(staging, ignore_errors=True)
                    self._await_advance(beyond=base)
                    continue
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
        raise RuntimeError(
            f"delete at {self.path} lost {max_retries + 1} straight "
            "commit races; raise max_retries or serialize writers"
        )

    def update(
        self,
        condition,
        set_exprs: dict,
        rewrite: bool = False,
        max_retries: int = 5,
        claim_expiry_s: float = 300.0,
    ) -> str | None:
        """UPDATE rows matching ``condition``: assign each column in
        ``set_exprs`` (name -> Column or SQL string) on the matched
        rows. Returns the committed version, or ``None`` when nothing
        matched.

        Default is the deletion-vector form (Delta's DV-backed
        UPDATE): the matched rows' old positions join the ``_dv/``
        sidecar and their updated images are APPENDED as new data
        files — the untouched files are hardlinked, so write cost is
        O(matched rows), not O(touched files). ``rewrite=True`` (and
        any non-parquet store) rewrites the touched partitions
        copy-on-write instead.

        Key and partition columns may not be assigned: a key update
        is a delete+insert (use :meth:`merge`), and a row may never
        change partitions (the store's pruning precondition).
        NULL-evaluating rows are not matched, same as SQL UPDATE.
        """
        assigns = {
            name: (F.expr(e) if isinstance(e, str) else e)
            for name, e in set_exprs.items()
        }
        illegal = set(assigns) & (
            set(self.keys) | ({self.partition_by} - {None})
        )
        if illegal:
            raise ValueError(
                f"update may not assign key/partition columns {sorted(illegal)}; "
                "key changes are a delete+insert (merge), partition "
                "changes violate the pruning precondition"
            )
        gen = set(assigns) & set(self.generated_columns())
        if gen:
            raise ValueError(
                f"columns {sorted(gen)} are GENERATED ALWAYS AS — they "
                "are recomputed from their expressions after the "
                "update; assign the base columns instead"
            )
        ident = set(assigns) & set(self.identity_columns())
        if ident:
            raise ValueError(
                f"columns {sorted(ident)} are GENERATED ALWAYS AS "
                "IDENTITY — allocated by the table, never assignable"
            )
        self._check_write_protocol()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if self.fmt != "parquet":
            rewrite = True
        if not rewrite:
            self._require_feature("deletion-vectors")
        try:
            from pyspark.errors import AnalysisException
        except ImportError:  # pragma: no cover - pyspark < 3.4
            AnalysisException = OSError  # noqa: N806
        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            nxt = f"v{int(base[1:]) + 1:05d}"
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            scratch = staging + ".scratch"
            try:
                if not rewrite:
                    ok, touched, extra = self._update_mor(
                        base, cond, assigns, staging, scratch,
                        AnalysisException,
                    )
                else:
                    ok, touched, extra = self._update_cow(
                        base, cond, assigns, staging, scratch,
                        AnalysisException,
                    )
                if ok is None:
                    return None
                if not ok:
                    self._await_advance(beyond=base)
                    continue
                if self._claim_version(
                    nxt, claim_expiry_s, touched=touched, extra=extra
                ):
                    if self._finalize_commit(
                        staging, nxt, touched=touched, extra=extra
                    ):
                        return nxt
                    shutil.rmtree(staging, ignore_errors=True)
                    self._await_advance(beyond=base)
                    continue
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
        raise RuntimeError(
            f"update at {self.path} lost {max_retries + 1} straight "
            "commit races; raise max_retries or serialize writers"
        )

    def _update_mor(
        self, base, cond, assigns, staging, scratch, AnalysisException
    ):
        """DV-backed update staging build (``_delete_mor`` contract):
        matched rows' positions become vectors AND their updated
        images are appended as fresh data files."""
        raw = self._load_version(base)
        tagged = raw.withColumn(
            "_dv_file", self._rel_file(base)
        ).withColumn("_dv_pos", F.col("_metadata.row_index"))
        dv = self._dv_frame(base)
        if dv is not None:
            tagged = tagged.join(dv, ["_dv_file", "_dv_pos"], "left_anti")
        matched = tagged.filter(cond)
        data_cols = raw.columns
        try:
            # one pass writes BOTH outputs: positions for the sidecar
            # and the post-update images for the appended files
            out = matched.select(
                "_dv_file",
                "_dv_pos",
                *[
                    (assigns[c].alias(c) if c in assigns else F.col(c))
                    for c in data_cols
                ],
            )
            out.write.mode("overwrite").parquet(scratch)
        except (OSError, AnalysisException):
            return False, None, None
        # read back under the schema just written: the scratch dir is
        # new on every call, so inference would run each time
        snap = self.spark.read.schema(out.schema).parquet(scratch)
        n = snap.count()
        if n == 0:
            return None, None, None
        newdv = snap.select("_dv_file", "_dv_pos")
        touched = None
        if self.partition_by:
            touched = sorted(
                r[0].split("=", 1)[1]
                for r in newdv.select(
                    F.split(F.col("_dv_file"), "/").getItem(0).alias("p")
                )
                .distinct()
                .collect()
                if "=" in r[0]
            )
        try:
            _link_tree(self._version_dir(base), staging)
            images = self._recompute_generated(snap.select(*data_cols))
            images, obs = self._observe_constraints(images)
            writer = images.write.mode("append").format(self.fmt)
            if self.partition_by:
                writer = writer.partitionBy(self.partition_by)
            writer.save(staging)
            self._check_observed(obs, staging)
            dvdir = os.path.join(staging, _DV)
            os.makedirs(dvdir, exist_ok=True)
            dvtmp = scratch + ".dv"
            newdv.write.mode("overwrite").parquet(dvtmp)
            try:
                for fname in os.listdir(dvtmp):
                    if not fname.startswith(("_", ".")):
                        os.link(
                            os.path.join(dvtmp, fname),
                            os.path.join(dvdir, fname),
                        )
            finally:
                shutil.rmtree(dvtmp, ignore_errors=True)
        except ConstraintViolationError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        except (OSError, AnalysisException):
            shutil.rmtree(staging, ignore_errors=True)
            return False, None, None
        # new data files appeared: the hardlinked base manifest is
        # stale — regenerate (underscore subtrees stay excluded)
        self._write_file_manifest(staging)
        return (
            True,
            touched,
            {"operation": "update", "rows_updated": n},
        )

    def _update_cow(
        self, base, cond, assigns, staging, scratch, AnalysisException
    ):
        """Copy-on-write update: rewrite only the partitions holding
        matches, applying the assignments via when(cond)."""
        live = self.read_version(base)
        updated_cols = [
            (
                F.when(F.coalesce(cond, F.lit(False)), assigns[c])
                .otherwise(F.col(c))
                .alias(c)
                if c in assigns
                else F.col(c)
            )
            for c in live.columns
        ]
        try:
            if self.partition_by:
                pcol = self.partition_by
                touched_vals = [
                    r[0]
                    for r in live.filter(cond)
                    .select(pcol)
                    .distinct()
                    .collect()
                ]
                if not touched_vals:
                    return None, None, None
                out = self._recompute_generated(
                    live.filter(F.col(pcol).isin(touched_vals)).select(
                        *updated_cols
                    )
                )
                out, obs = self._observe_constraints(out)
                (
                    out.write.mode("overwrite")
                    .format(self.fmt)
                    .partitionBy(pcol)
                    .save(scratch)
                )
                self._check_observed(obs, scratch)
                # escaped dir-name form: str(v) differs from the
                # on-disk name for booleans/escapable chars, which
                # would hardlink the PRE-update base partition in
                # alongside the rewrite — duplicating every row
                touched = sorted(hive_part_str(v) for v in touched_vals)
                touched_dirs = {f"{pcol}={s}" for s in touched}
                _link_tree(scratch, staging)
                base_dir = self._version_dir(base)
                for entry in os.listdir(base_dir):
                    if (
                        entry.startswith(f"{pcol}=")
                        and entry not in touched_dirs
                    ):
                        _link_tree(
                            os.path.join(base_dir, entry),
                            os.path.join(staging, entry),
                        )
                self._carry_dv(base, staging, touched_dirs)
            else:
                if live.filter(cond).limit(1).count() == 0:
                    return None, None, None
                out = self._recompute_generated(live.select(*updated_cols))
                out, obs = self._observe_constraints(out)
                out.write.mode("overwrite").format(self.fmt).save(staging)
                self._check_observed(obs, staging)
                touched = None
        except ConstraintViolationError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        except (OSError, AnalysisException):
            shutil.rmtree(staging, ignore_errors=True)
            return False, None, None
        base_schema = self._version_schema(base)
        if base_schema is not None:
            self._write_snapshot_schema(staging, base_schema)
        self._write_file_manifest(staging)
        return True, touched, {"operation": "update", "rewrite": True}

    def _delete_mor(self, base, cond, staging, scratch, AnalysisException):
        """Merge-on-read staging build. Returns (ok, touched, extra):
        ok None = no matches, False = lost race (vacuumed base), True
        = ``staging`` is a commit candidate."""
        raw = self._load_version(base)
        tagged = raw.withColumn(
            "_dv_file", self._rel_file(base)
        ).withColumn("_dv_pos", F.col("_metadata.row_index"))
        dv = self._dv_frame(base)
        if dv is not None:
            # already-deleted rows must not re-match: dv_rows_added
            # stays the count of NEWLY dead rows and repeat deletes
            # cannot bloat the sidecar with duplicates
            tagged = tagged.join(dv, ["_dv_file", "_dv_pos"], "left_anti")
        matches = tagged.filter(cond).select("_dv_file", "_dv_pos")
        try:
            matches.write.mode("overwrite").parquet(scratch)
        except (OSError, AnalysisException):
            return False, None, None
        newdv = self.spark.read.schema(
            "_dv_file string, _dv_pos long"
        ).parquet(scratch)
        n_new = newdv.count()
        if n_new == 0:
            return None, None, None
        touched = None
        if self.partition_by:
            touched = sorted(
                r[0].split("=", 1)[1]
                for r in newdv.select(
                    F.split(F.col("_dv_file"), "/").getItem(0).alias("p")
                )
                .distinct()
                .collect()
                if "=" in r[0]
            )
        try:
            _link_tree(self._version_dir(base), staging)
            dvdir = os.path.join(staging, _DV)
            os.makedirs(dvdir, exist_ok=True)
            for fname in os.listdir(scratch):
                if fname.startswith(("_", ".")):
                    continue
                # scratch part-file names carry this write job's UUID,
                # so they never collide with hardlinked base DV files
                os.link(
                    os.path.join(scratch, fname),
                    os.path.join(dvdir, fname),
                )
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)
            return False, None, None
        return (
            True,
            touched,
            {"operation": "delete", "dv_rows_added": n_new},
        )

    def _delete_cow(self, base, cond, staging, scratch, AnalysisException):
        """Copy-on-write staging build (see ``_delete_mor`` contract):
        rewrite only the partitions holding matches; DVs of rewritten
        partitions are applied by reading through ``read_version``."""
        live = self.read_version(base)
        keep_cond = ~F.coalesce(cond, F.lit(False))
        try:
            if self.partition_by:
                pcol = self.partition_by
                touched_vals = [
                    r[0]
                    for r in live.filter(cond)
                    .select(pcol)
                    .distinct()
                    .collect()
                ]
                if not touched_vals:
                    return None, None, None
                kept = live.filter(
                    F.col(pcol).isin(touched_vals)
                ).filter(keep_cond)
                (
                    kept.write.mode("overwrite")
                    .format(self.fmt)
                    .partitionBy(pcol)
                    .save(scratch)
                )
                # escaped dir-name form: str(v) would fail to
                # exclude the rewritten partition's base dir from
                # hardlinking, silently resurrecting deleted rows
                touched = sorted(hive_part_str(v) for v in touched_vals)
                touched_dirs = {f"{pcol}={s}" for s in touched}
                _link_tree(scratch, staging)
                base_dir = self._version_dir(base)
                for entry in os.listdir(base_dir):
                    if (
                        entry.startswith(f"{pcol}=")
                        and entry not in touched_dirs
                    ):
                        _link_tree(
                            os.path.join(base_dir, entry),
                            os.path.join(staging, entry),
                        )
                self._carry_dv(base, staging, touched_dirs)
            else:
                if live.filter(cond).limit(1).count() == 0:
                    return None, None, None
                live.filter(keep_cond).write.mode("overwrite").format(
                    self.fmt
                ).save(staging)
                touched = None
        except (OSError, AnalysisException):
            shutil.rmtree(staging, ignore_errors=True)
            return False, None, None
        base_schema = self._version_schema(base)
        if base_schema is not None:
            self._write_snapshot_schema(staging, base_schema)
        self._write_file_manifest(staging)
        return True, touched, {"operation": "delete", "rewrite": True}

    @staticmethod
    def zorder_key(cols: Sequence[str], bits: int = 16) -> "F.Column":
        """Morton (Z-order) clustering key: bit-interleave up to a
        handful of non-negative integer-castable columns into ONE
        sort key, so range-partitioning by it co-locates rows that
        are close in EVERY dimension — the write-side layout that
        makes min/max file skipping effective for all the
        interleaved columns at once (what Delta/Iceberg OPTIMIZE
        ZORDER BY computes before repartitionByRange). Pure JVM
        expression (a ``bits``-step aggregate fold), stays inside
        whole-stage codegen. One column degenerates to a plain sort
        key. Negative values sort before positives as a block
        (sign-extension); intended for keys, buckets, and other
        non-negative dimensions.

        ``bits`` per column is capped so the highest interleaved bit
        stays below bit 63: with 4 columns an uncapped 16-bit
        interleave puts one dimension's bit 15 on the SIGN bit
        (those rows would range-partition first, silently destroying
        the Morton layout while still paying the shuffle), and 5+
        columns would wrap shift counts past 64 and collide
        dimensions. Capping trades key granularity for correctness —
        clustering quality degrades gracefully with coarser bits,
        never catastrophically with a broken order."""
        if len(cols) == 1:
            return F.col(cols[0]).cast("bigint")
        n = len(cols)
        bits = min(bits, 62 // n)  # top bit position n*(bits-1)+n-1 <= 62
        if bits < 1:
            raise ValueError(
                f"zorder on {n} columns cannot fit one bit per "
                "column under the bigint sign bit"
            )
        terms = " + ".join(
            f"shiftleft(shiftright(cast(`{c}` as bigint), i) & 1,"
            f" {n} * i + {j})"
            for j, c in enumerate(cols)
        )
        return F.expr(
            f"aggregate(sequence(0, {bits - 1}), 0L,"
            f" (acc, i) -> acc + {terms})"
        )

    def optimize(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        max_retries: int = 5,
        claim_expiry_s: float = 300.0,
        zorder_by: Sequence[str] | None = None,
        purge: bool = False,
    ) -> str | None:
        """Bin-pack small files into ~``target_file_bytes`` ones —
        the Delta ``OPTIMIZE`` analogue, committed as a NEW version
        through the same optimistic claim protocol (readers of older
        snapshots are untouched; ``vacuum`` reclaims the small files
        with the old versions later).

        MERGE writes one file set per commit, so a high-frequency
        writer accretes thousands of tiny files per partition — at
        100 TB the small-file problem IS the read-amplification
        problem (every file is a task + a footer fetch). Partitioned
        stores compact PER PARTITION, and only partitions holding at
        least ``min_files`` data files (decided from the _FILES.json
        manifest — no directory LIST); the commit manifest records
        exactly those partitions as touched, so a concurrent merge
        into OTHER partitions fast-forwards past an optimize instead
        of re-merging — maintenance never blocks ingest. Returns the
        committed version, or ``None`` when nothing needed
        compaction. Reference semantics: Delta OPTIMIZE / bin-packing
        (public docs); sizing policy shared with
        ``sources/writers.write_export`` (coalesce, never a shuffle).

        ``zorder_by`` additionally CLUSTERS the rewritten files by
        the Morton key of the given columns (``OPTIMIZE ZORDER BY``):
        rows are range-partitioned and sorted by the interleaved-bit
        key before writing, so a subsequent ``build_store_stats`` +
        ``read_store_skip`` prunes files on ANY of those columns.
        With ``zorder_by`` a compaction pass always rewrites the
        chosen partitions (one shuffle — clustering is the point);
        without it compaction is a shuffle-free coalesce. No
        sortedness metadata is kept, so re-running a zorder
        optimize rewrites again: schedule it after ingest windows,
        don't loop it.

        Deletion vectors: every rewritten partition has its DVs
        APPLIED (soft-deleted rows are physically dropped from the
        compacted files) and the survivors' vectors are carried
        forward. ``purge=True`` additionally forces a rewrite of any
        partition that holds DV entries even when it is under the
        small-file threshold — the ``REORG TABLE ... APPLY (PURGE)``
        analogue for hard-erasure deadlines.
        """
        self._check_write_protocol()
        if zorder_by is None:
            # clustered tables (set_clustering): compaction keeps
            # the declared layout without the caller re-stating it
            zorder_by = self.clustering() or None
        cur = self.current_version()
        if zorder_by and cur is not None:
            # fail a typo'd column NOW with the real error — inside
            # the loop it surfaces as an AnalysisException the
            # lost-race handler can only misattribute
            schema = self._version_schema(cur)
            if schema is None:
                schema = self.read_version(cur).schema
            have = {f.name for f in schema.fields}
            missing = [c for c in zorder_by if c not in have]
            if missing:
                raise ValueError(
                    f"zorder_by columns {missing} not in the store "
                    f"schema (have {sorted(have)})"
                )
        if zorder_by and self.partition_by in set(zorder_by):
            # partition values live in directory names, not in the
            # data files — interleaving on them would surface as a
            # missing-column AnalysisException that the lost-race
            # handler would retry forever; partition pruning already
            # covers that dimension
            raise ValueError(
                f"zorder_by may not include the partition column "
                f"{self.partition_by!r}"
            )
        for _attempt in range(max_retries + 1):
            self._repair_pointer()
            base = self.current_version()
            if base is None:
                raise FileNotFoundError(
                    f"MergeStore at {self.path} does not exist"
                )
            base_dir = self._version_dir(base)
            files = self._manifest_files(base)
            if files is None:  # pre-manifest snapshot: walk once
                files = []
                for root, dirs, names in os.walk(base_dir):
                    dirs[:] = [
                        d for d in dirs if not d.startswith(("_", "."))
                    ]  # _dv sidecar files are not data
                    files.extend(
                        os.path.join(root, name)
                        for name in names
                        if not name.startswith(("_", "."))
                    )
            # group data files by partition dir ("" = unpartitioned)
            groups: dict[str, list[str]] = {}
            for f in files:
                rel = os.path.relpath(f, base_dir)
                head = os.path.dirname(rel)
                groups.setdefault(head, []).append(f)
            # clustering rewrites even single-file partitions (the
            # file may be unsorted); plain bin-packing only acts on
            # genuine small-file accretion
            eff_min = 1 if zorder_by else min_files
            dv_parts: set[str] = set()
            if purge and self._dv_files(base):
                dv = self._dv_frame(base)
                dv_parts = {
                    r[0]
                    for r in dv.select(
                        F.when(
                            F.instr(F.col("_dv_file"), "/") > 0,
                            F.split(F.col("_dv_file"), "/").getItem(0),
                        )
                        .otherwise(F.lit(""))
                        .alias("p")
                    )
                    .distinct()
                    .collect()
                }
            chosen = {
                part: fs
                for part, fs in groups.items()
                if len(fs) >= eff_min or part in dv_parts
            }
            if not chosen:
                return None

            nxt = f"v{int(base[1:]) + 1:05d}"
            os.makedirs(self._staging_dir(), exist_ok=True)
            staging = os.path.join(self._staging_dir(), uuid.uuid4().hex)
            os.makedirs(staging, exist_ok=True)
            try:
                from pyspark.errors import AnalysisException
            except ImportError:  # pragma: no cover - pyspark < 3.4
                AnalysisException = OSError  # noqa: N806
            sizes = self._manifest_sizes(base) or {}
            # read through the snapshot's committed schema (minus the
            # partition column, which lives in dir names): a
            # partition whose files predate a schema evolution lacks
            # the added columns on disk — inference would drop them
            # (or a zorder key on one would fail analysis); the
            # explicit schema reads them as NULL, and the compacted
            # files then carry them physically
            snap_schema = self._version_schema(base)
            read_schema = (
                StructType(
                    [
                        f
                        for f in snap_schema.fields
                        if f.name != self.partition_by
                    ]
                )
                if snap_schema is not None
                else None
            )
            try:
                for part, fs in chosen.items():
                    total = sum(
                        sizes.get(f) or os.path.getsize(f) for f in fs
                    )
                    n_out = max(
                        1, -(-total // target_file_bytes)
                    )  # ceil
                    out_dir = (
                        os.path.join(staging, part) if part else staging
                    )
                    reader = self.spark.read.format(self.fmt)
                    if read_schema is not None:
                        reader = reader.schema(read_schema)
                    df = self._apply_dv(reader.load(fs), base)
                    if zorder_by:
                        df = (
                            df.withColumn(
                                "_zorder", self.zorder_key(zorder_by)
                            )
                            .repartitionByRange(int(n_out), "_zorder")
                            .sortWithinPartitions("_zorder")
                            .drop("_zorder")
                        )
                    else:
                        df = df.coalesce(int(n_out))
                    (
                        df.write.mode("overwrite")
                        .format(self.fmt)
                        .save(out_dir)
                    )
                # untouched partitions (and a partitioned store's
                # root files) hardlink from the base snapshot
                for part, fs in groups.items():
                    if part in chosen:
                        continue
                    for f in fs:
                        rel = os.path.relpath(f, base_dir)
                        dst = os.path.join(staging, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(f, dst)
            except (OSError, AnalysisException):
                # stale base vacuumed mid-build (getsize/link ->
                # OSError; the Spark path check on vanished input
                # files -> AnalysisException): lost race, retry.
                # Only a RACE though — if the pointer hasn't moved,
                # nobody vacuumed anything and the error is
                # deterministic (e.g. a zorder column absent from
                # one partition's files): re-raise instead of
                # spinning max_retries 30s waits into a misleading
                # "lost commit races" failure.
                shutil.rmtree(staging, ignore_errors=True)
                self._repair_pointer()
                if self.current_version() == base:
                    raise
                self._await_advance(beyond=base)
                continue
            # compacted partitions dropped their soft-deleted rows
            # above; survivors keep their vectors
            self._carry_dv(base, staging, set(chosen))
            # compaction never changes content schema: carry the
            # base snapshot's local schema (post-evolution stores)
            base_schema = self._version_schema(base)
            if base_schema is not None:
                self._write_snapshot_schema(staging, base_schema)
            self._write_file_manifest(staging)
            touched = (
                sorted(
                    p.split("=", 1)[1] for p in chosen if "=" in p
                )
                if self.partition_by
                else None
            )
            # bin-packing (DV application included: soft-deleted rows
            # were already invisible) preserves the visible row set —
            # mark the commit dataChange=false so CDC feeds skip it
            # entirely (Delta CDF semantics) instead of paying a
            # whole-snapshot diff to discover zero changes
            extra = {"operation": "optimize", "data_change": False}
            if self._claim_version(
                nxt, claim_expiry_s, touched=touched, extra=extra
            ):
                if self._finalize_commit(
                    staging, nxt, touched=touched, extra=extra
                ):
                    return nxt
                shutil.rmtree(staging, ignore_errors=True)
                self._await_advance(beyond=base)
                continue
            # lost to a concurrent commit: compaction choices may be
            # stale (the winner rewrote files) — recompute from the
            # new snapshot rather than fast-forwarding file moves
            shutil.rmtree(staging, ignore_errors=True)
            self._await_advance(beyond=base)
        raise RuntimeError(
            f"optimize at {self.path} lost {max_retries + 1} straight "
            "commit races; raise max_retries or pause ingest"
        )

    def fsck(self, claim_expiry_s: float = 300.0) -> list[dict]:
        """Metadata-only invariant check (the ops surface a store
        with this many moving parts owes its operators — Delta's
        equivalent is the transaction-log consistency the runtime
        enforces implicitly). Returns a list of findings, each
        ``{"version", "check", "detail"}``; empty means healthy.
        Only commit metadata, file stats, and the (tiny) DV sidecar
        are read — never data files — so it is safe to run against a
        live store at any size.

        Checks: the pointer targets a live version; the pointer is
        not BEHIND a newer committed version (repairable — the
        advance-only flip's one lost instant); every retained
        snapshot's manifest files exist with the recorded sizes;
        deletion-vector entries reference manifest files; snapshot
        schemas parse; claims older than ``claim_expiry_s`` whose
        snapshot never materialized (crashed writers — vacuum/
        compact_log will fold them)."""
        findings: list[dict] = []

        def flag(version: str | None, check: str, detail: str) -> None:
            findings.append(
                {"version": version, "check": check, "detail": detail}
            )

        current = self.current_version()
        live = self.list_versions()
        if current is None:
            flag(None, "pointer", "no _CURRENT pointer (store absent?)")
            return findings
        if current not in live:
            flag(
                current,
                "pointer",
                "pointer targets a missing version dir",
            )
        newest_committed = None
        for v in live:
            manifest = _commit_path(self.path, v)
            if os.path.isfile(manifest):
                newest_committed = v
        if newest_committed is not None and _vnum(newest_committed) > _vnum(
            current
        ):
            flag(
                current,
                "pointer-behind",
                f"newer committed snapshot {newest_committed} exists; "
                "_repair_pointer() will advance",
            )
        for v in live:
            vdir = self._version_dir(v)
            manifest = read_manifest(self.path, v)
            if manifest is None:
                continue  # pre-manifest snapshot: directory scan reads
            for rel, size in manifest.items():
                full = os.path.join(vdir, rel)
                try:
                    actual = os.path.getsize(full)
                except OSError:
                    flag(v, "manifest-missing-file", rel)
                    continue
                if actual != size:
                    flag(
                        v,
                        "manifest-size-mismatch",
                        f"{rel}: manifest {size} vs disk {actual}",
                    )
            dv = self._dv_frame(v)
            if dv is not None:
                for rel in {
                    r[0] for r in dv.select("_dv_file").distinct().collect()
                }:
                    if rel not in manifest:
                        flag(
                            v,
                            "dv-dangling-file",
                            f"deletion vector references {rel} not in "
                            "the manifest",
                        )
            if self._version_schema(v) is None:
                flag(v, "schema-missing", "no parseable schema")
        commits = self._commits_dir()
        if os.path.isdir(commits):
            for entry in os.listdir(commits):
                if not entry.endswith(".json") or entry.startswith("_"):
                    continue
                v = entry[:-5]
                if v in live or _vnum(v) <= _vnum(current):
                    continue
                try:
                    age = time.time() - os.path.getmtime(
                        os.path.join(commits, entry)
                    )
                except OSError:
                    continue
                if age > claim_expiry_s:
                    flag(
                        v,
                        "stale-claim",
                        f"claimed {age:.0f}s ago, snapshot never "
                        "materialized (crashed writer; next committer "
                        "breaks it)",
                    )
        # commit-timestamp monotonicity: version order and timestamp
        # order must agree (the in-commit-timestamp rule enforces it
        # at write time; an inversion marks a legacy store written
        # under skewed writer clocks, where read_as_of answers are
        # ambiguous inside the inverted window)
        prev_v, prev_ts = None, None
        for v in live:
            ts = self._manifest_ts(v)
            if ts is None:
                continue
            if prev_ts is not None and ts < prev_ts:
                flag(
                    v,
                    "timestamp-inversion",
                    f"committed at {ts:.6f}, before predecessor "
                    f"{prev_v} at {prev_ts:.6f} (writer clock skew; "
                    "read_as_of is ambiguous in this window)",
                )
            prev_v, prev_ts = v, ts
        # protocol: features this table requires that THIS build
        # lacks are the one finding that blocks serving, not just
        # repairing — surface them the way Delta's DESCRIBE DETAIL
        # surfaces an unsupported protocol
        for side, supported in (
            ("reader", SUPPORTED_READER_FEATURES),
            ("writer", SUPPORTED_WRITER_FEATURES),
        ):
            unknown = self._protocol_side(side) - supported
            if unknown:
                flag(
                    None,
                    f"protocol-{side}-unsupported",
                    f"table requires {side} features {sorted(unknown)} "
                    "this build does not implement",
                )
        return findings

    def vacuum(self, keep: int = 2, dry_run: bool = False) -> list[str]:
        """Drop all but the newest ``keep`` snapshots (S9 analogue).
        ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``) returns the
        versions that WOULD be reclaimed without touching anything —
        the check an operator runs before a retention change, and
        what a CDC consumer checks before trusting its lag."""
        current = self.current_version()
        versions = self.list_versions()
        doomed = [v for v in versions[:-keep] if v != current]
        if dry_run:
            return doomed
        for v in doomed:
            self.log_store.remove_snapshot(self._version_dir(v))
        # abandoned staging dirs (crashed writers) age out here too;
        # live writers hold theirs for well under the expiry
        staging = self._staging_dir()
        if os.path.isdir(staging):
            for entry in os.listdir(staging):
                p = os.path.join(staging, entry)
                try:
                    if time.time() - os.path.getmtime(p) > 3600:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
        return doomed


def build_store_stats(store: "MergeStore", cols: Sequence[str]) -> int:
    """Index the CURRENT snapshot's files with min/max stats
    (sources/fileindex.py) — rebuild after each merge/compaction.
    Returns the number of files indexed. Parquet stores only (the
    index builder reads parquet directories)."""
    from etl_pipeline_4handling_listings_spark.sources.fileindex import (
        build_file_stats,
    )

    version = store.current_version()
    if version is None:
        raise FileNotFoundError(f"MergeStore at {store.path} does not exist")
    return build_file_stats(
        store.spark, store._version_dir(version), list(cols)
    )


def read_store_skip(store: "MergeStore", col: str, lo, hi) -> DataFrame:
    """Range read over the current snapshot using the file-stats
    index when present (falls back to a full scan + filter). Skipping
    composes with deletion vectors: stats cover soft-deleted rows too
    (over-approximate — may keep a file, never loses one), and the
    DV anti-join is applied to whatever file subset survives."""
    from etl_pipeline_4handling_listings_spark.sources.fileindex import (
        read_with_skip,
    )

    store._check_read_protocol()
    version = store.current_version()
    if version is None:
        raise FileNotFoundError(f"MergeStore at {store.path} does not exist")
    return store._apply_dv(
        read_with_skip(
            store.spark, store._version_dir(version), col, lo, hi
        ),
        version,
    )


def build_store_bloom(
    store: "MergeStore", col: str, num_bits: int = 1 << 13
) -> int:
    """Per-file bloom index over the CURRENT snapshot (Delta bloom
    filter index analogue; sources/fileindex.py) — point-lookup
    skipping on high-cardinality unclustered columns where min/max
    stats prune nothing. Rebuild after each merge/compaction."""
    from etl_pipeline_4handling_listings_spark.sources.fileindex import (
        build_file_bloom,
    )

    version = store.current_version()
    if version is None:
        raise FileNotFoundError(f"MergeStore at {store.path} does not exist")
    return build_file_bloom(
        store.spark, store._version_dir(version), col, num_bits=num_bits
    )


def read_store_skip_eq(store: "MergeStore", col: str, value) -> DataFrame:
    """Equality read over the current snapshot using the bloom index
    when present (falls back to a full scan + filter). DV-aware, same
    contract as :func:`read_store_skip`."""
    from etl_pipeline_4handling_listings_spark.sources.fileindex import (
        read_with_skip_eq,
    )

    store._check_read_protocol()
    version = store.current_version()
    if version is None:
        raise FileNotFoundError(f"MergeStore at {store.path} does not exist")
    return store._apply_dv(
        read_with_skip_eq(
            store.spark, store._version_dir(version), col, value
        ),
        version,
    )
