"""E2E tests: MergeStore lifecycle, enrichment degradation, sinks."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_4handling_listings_spark.operators.enrich import batched_lookup
from etl_pipeline_4handling_listings_spark.operators.merge import unchanged_guard
from etl_pipeline_4handling_listings_spark.sources.store import MergeStore
from etl_pipeline_4handling_listings_spark.sources.writers import write_json_lines


def test_merge_store_lifecycle(spark, tmp_path):
    path = str(tmp_path / "store")
    store = MergeStore(spark, path, keys=["k"])
    template = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert not store.exists()
    store.create_if_absent(template)
    assert store.exists()
    assert store.read().count() == 0

    store.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    assert {r["k"]: r["v"] for r in store.read().collect()} == {1: "a", 2: "b"}

    # second merge: update 2, insert 3
    store.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    assert {r["k"]: r["v"] for r in store.read().collect()} == {1: "a", 2: "B", 3: "c"}

    # idempotency: merging the same source again changes nothing
    before = sorted(map(tuple, store.read().collect()))
    store.merge(
        spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
        update_condition=unchanged_guard(["v"]),
    )
    assert sorted(map(tuple, store.read().collect())) == before

    doomed = store.vacuum(keep=1)
    assert doomed  # old snapshots removed
    assert {r["k"] for r in store.read().collect()} == {1, 2, 3}


def test_batched_lookup_success_and_degradation(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    schema = T.StructType([T.StructField("pid", T.LongType())])

    def good(rows):
        return [{"pid": r["k"] * 10} for r in rows]

    out = batched_lookup(df, ["k"], good, schema, batch_size=3)
    got = {r["k"]: r["pid"] for r in out.collect()}
    assert got == {i: i * 10 for i in range(10)}

    def broken(rows):
        raise ConnectionError("api down")

    out2 = batched_lookup(df, ["k"], broken, schema, batch_size=3).collect()
    assert len(out2) == 10
    assert all(r["pid"] is None for r in out2)
    assert all("api down" in r["_issue_text"] for r in out2)


def test_batched_lookup_partition_cap(spark):
    # n >> batch_size * parallelism must NOT create one partition per
    # batch (the 10^9-key cliff): partitions are capped at one per
    # core and batching happens inside the task instead.
    n, batch_size = 2000, 3
    df = spark.createDataFrame([(i,) for i in range(n)], ["k"])
    schema = T.StructType([T.StructField("pid", T.LongType())])

    def sized(rows):
        # report the transport call's batch size through the result
        return [{"pid": len(rows)} for _ in rows]

    out = batched_lookup(df, ["k"], sized, schema, batch_size=batch_size)
    cap = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() <= cap
    rows = out.collect()
    assert len(rows) == n
    assert max(r["pid"] for r in rows) <= batch_size


def test_batched_lookup_empty_input(spark):
    df = spark.createDataFrame([], "k INT")
    schema = T.StructType([T.StructField("pid", T.LongType())])
    out = batched_lookup(df, ["k"], lambda rows: [], schema)
    assert out.count() == 0
    assert set(out.columns) == {"k", "pid", "_issue_text"}


def test_json_lines_reject_sink(spark, tmp_path):
    df = spark.createDataFrame([(1, "bad mls"), (2, None)], ["id", "reason"])
    path = str(tmp_path / "rejects")
    write_json_lines(df, path)
    lines = []
    for fname in os.listdir(path):
        if fname.startswith("part-"):
            with open(os.path.join(path, fname)) as f:
                lines += [json.loads(line) for line in f if line.strip()]
    assert sorted(lines, key=lambda d: d["id"]) == [
        {"id": 1, "reason": "bad mls"},
        {"id": 2},  # Spark to_json drops null fields
    ]


def test_partition_pruned_merge_hardlinks_untouched(spark, tmp_path):
    path = str(tmp_path / "pstore")
    store = MergeStore(spark, path, keys=["k"], partition_by="bucket")
    base = spark.createDataFrame(
        [(k, f"v{k}", k % 3) for k in range(30)], "k INT, v STRING, bucket INT"
    )
    store.create_if_absent(base)
    store.merge(base)
    v1 = store.current_version()

    # source touches only bucket 1
    src = spark.createDataFrame(
        [(1, "UPDATED", 1), (100, "NEW", 1)], "k INT, v STRING, bucket INT"
    )
    store.merge(src)
    v2 = store.current_version()
    assert v2 != v1

    got = {r["k"]: r["v"] for r in store.read().collect()}
    assert got[1] == "UPDATED"
    assert got[100] == "NEW"
    assert got[0] == "v0" and got[2] == "v2"
    assert len(got) == 31

    # untouched partitions must be hardlinks of the previous snapshot
    for bucket in (0, 2):
        prev = os.path.join(path, v1, f"bucket={bucket}")
        cur = os.path.join(path, v2, f"bucket={bucket}")
        prev_inodes = {
            f: os.stat(os.path.join(prev, f)).st_ino
            for f in os.listdir(prev)
            if f.startswith("part-")
        }
        cur_inodes = {
            f: os.stat(os.path.join(cur, f)).st_ino
            for f in os.listdir(cur)
            if f.startswith("part-")
        }
        assert prev_inodes == cur_inodes and prev_inodes
    # touched partition was rewritten (no shared inodes expected)
    prev1 = {
        os.stat(os.path.join(path, v1, "bucket=1", f)).st_ino
        for f in os.listdir(os.path.join(path, v1, "bucket=1"))
        if f.startswith("part-")
    }
    cur1 = {
        os.stat(os.path.join(path, v2, "bucket=1", f)).st_ino
        for f in os.listdir(os.path.join(path, v2, "bucket=1"))
        if f.startswith("part-")
    }
    assert not (prev1 & cur1)

    # vacuum old snapshot: hardlinked data must survive
    store.vacuum(keep=1)
    assert store.read().count() == 31


def test_store_time_travel_and_cdc(spark, tmp_path):
    import pytest

    path = str(tmp_path / "cdc_store")
    store = MergeStore(spark, path, keys=["k"])
    v0 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None)], "k LONG, v STRING, x DOUBLE"
    )
    store.create_if_absent(v0)
    store.merge(v0)  # v00001 = initial load
    batch = spark.createDataFrame(
        [(2, "B", None), (4, "d", 4.0), (3, "DELETE", None)],
        "k LONG, v STRING, x DOUBLE",
    )
    # update k=2 (x set to NULL — post-image must keep NULL), insert
    # k=4, delete k=3 via a source-side tombstone marker (delete is a
    # WHEN MATCHED clause; update must not swallow the marker row)
    store.merge(
        batch,
        update_condition=lambda t, s: s["v"] != "DELETE",
        delete_condition=lambda t, s: s["v"] == "DELETE",
        insert_condition=lambda t, s: s["v"] != "DELETE",
    )

    # time travel: v00001 still readable and unchanged
    assert sorted(
        (r["k"], r["v"]) for r in store.read_version("v00001").collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(FileNotFoundError, match="not present"):
        store.read_version("v99999")

    changes = {
        r["k"]: (r["_change_type"], r["v"], r["x"])
        for r in store.read_changes("v00001").collect()
    }
    assert changes == {
        2: ("update_postimage", "B", None),
        3: ("delete", "c", None),
        4: ("insert", "d", 4.0),
    }
    # unchanged key 1 must not appear
    assert 1 not in changes


def test_store_stats_skip_after_merge(spark, tmp_path):
    """Stats index over a bucketed MergeStore snapshot: reads prune
    the file list by key range and stay exact across a merge +
    rebuild cycle."""
    from pyspark.sql import functions as F

    from etl_pipeline_4handling_listings_spark.sources.store import (
        MergeStore,
        build_store_stats,
        read_store_skip,
    )

    store = MergeStore(spark, str(tmp_path / "st"), ["k"], partition_by="bucket")
    base = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") / 50).cast("int").alias("bucket"),
    )
    store.create_if_absent(base)
    store.merge(base)
    n = build_store_stats(store, ["k"])
    assert n >= 8  # one file per bucket at least

    out = read_store_skip(store, "k", 100, 149)
    full = store.read().filter(F.col("k").between(100, 149))
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert len(out.inputFiles()) < len(store.read().inputFiles())

    # after another merge the index targets the NEW snapshot
    delta = spark.createDataFrame([(100, 999, 2)], "k LONG, v LONG, bucket INT")
    store.merge(delta)
    build_store_stats(store, ["k"])
    again = read_store_skip(store, "k", 100, 100).collect()
    assert [(r["k"], r["v"]) for r in again] == [(100, 999)]


def test_store_stats_survive_concurrent_commit(spark, tmp_path):
    """A stats index built before ANOTHER writer's merge must degrade
    to correct-but-unpruned (the index lives in the indexed VERSION's
    directory; the winner's new snapshot has none), and a
    build_store_stats refresh restores pruning on the winner's
    snapshot — the skip claim survives concurrency, never lying."""
    from pyspark.sql import functions as F

    from etl_pipeline_4handling_listings_spark.sources.store import (
        MergeStore,
        build_store_stats,
        read_store_skip,
    )

    path = str(tmp_path / "st_cc")
    store = MergeStore(spark, path, ["k"], partition_by="bucket")
    base = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") / 50).cast("int").alias("bucket"),
    )
    store.create_if_absent(base)
    store.merge(base)
    build_store_stats(store, ["k"])
    pruned = read_store_skip(store, "k", 100, 149)
    assert len(pruned.inputFiles()) < len(store.read().inputFiles())

    # a CONCURRENT writer (separate handle) advances the store
    other = MergeStore(spark, path, ["k"], partition_by="bucket")
    other.merge(
        spark.createDataFrame([(100, 999, 2)], "k LONG, v LONG, bucket INT")
    )

    # pre-merge index: the read targets the WINNER's snapshot, which
    # has no index yet -> full scan, still row-correct (never stale)
    out = read_store_skip(store, "k", 100, 149).collect()
    got = {r["k"]: r["v"] for r in out}
    assert got[100] == 999  # sees the winner's update
    assert set(got) == set(range(100, 150))

    # refresh restores pruning on the new snapshot
    build_store_stats(store, ["k"])
    repruned = read_store_skip(store, "k", 100, 149)
    assert len(repruned.inputFiles()) < len(store.read().inputFiles())
    regot = {r["k"]: r["v"] for r in repruned.collect()}
    assert regot == got


def test_merge_store_concurrent_writers_no_lost_update(spark, tmp_path):
    """Optimistic concurrency: two writers racing disjoint merges
    must BOTH land (the old pointer flip was last-writer-wins). The
    loser re-merges against the winner's snapshot and commits the
    next version — serializable history, no lost updates."""
    import threading

    path = str(tmp_path / "occ")
    store = MergeStore(spark, path, keys=["k"])
    store.create_if_absent(spark.createDataFrame([(0, "z")], ["k", "v"]))

    errs = []

    def writer(lo: int):
        try:
            s = MergeStore(spark, path, keys=["k"])
            for i in range(3):
                s.merge(
                    spark.createDataFrame(
                        [(lo + i, f"w{lo}-{i}")], ["k", "v"]
                    )
                )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = {r["k"]: r["v"] for r in store.read().collect()}
    for lo in (100, 200):
        for i in range(3):
            assert got[lo + i] == f"w{lo}-{i}", f"lost update {lo+i}"
    # six merges -> six committed versions, serial history
    assert len(store.list_versions()) == 7  # v00000 + 6 commits
    manifests = sorted(
        f for f in os.listdir(os.path.join(path, "_COMMITS"))
        if f.endswith(".json") and f != "_compacted.json"
    )
    assert len(manifests) == 7


def test_merge_store_disjoint_partition_fast_forward(spark, tmp_path):
    """Two writers racing merges into DISJOINT partitions from the
    SAME base must both commit with ONE merge computation each: the
    loser's staged partitions are still valid against the winner's
    snapshot (the winner provably didn't touch them, per its commit
    manifest), so it fast-forwards — re-links and re-claims — rather
    than re-running the merge. Delta's partition-level conflict
    detection; reference analogue: partition-disjoint daily loads
    (mls_listings_curated.py merge semantics)."""
    import threading

    path = str(tmp_path / "ffwd")
    mk = lambda: MergeStore(spark, path, keys=["k"], partition_by="p")
    seed = spark.createDataFrame(
        [(0, 0, "z"), (1, 1, "z")], ["k", "p", "v"]
    )
    mk().create_if_absent(seed)
    mk().merge(seed)

    # force the true race: both writers finish staging BEFORE either
    # claims, so exactly one loses its claim with staging in hand
    barrier = threading.Barrier(2, timeout=120)
    armed = [True]
    orig_claim = MergeStore._claim_version

    def gated_claim(self, version, expiry_s, touched=None):
        if armed[0]:
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass
            armed[0] = False  # only the FIRST claim round is gated
        return orig_claim(self, version, expiry_s, touched=touched)

    stores, errs = {}, []

    def writer(part: int):
        try:
            s = mk()
            stores[part] = s
            s.merge(
                spark.createDataFrame(
                    [(part, part, f"w{part}")], ["k", "p", "v"]
                )
            )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    MergeStore._claim_version = gated_claim
    try:
        t0 = threading.Thread(target=writer, args=(0,))
        t1 = threading.Thread(target=writer, args=(1,))
        t0.start(); t1.start(); t0.join(); t1.join()
    finally:
        MergeStore._claim_version = orig_claim
    assert not errs, errs

    got = {r["k"]: r["v"] for r in mk().read().collect()}
    assert got == {0: "w0", 1: "w1"}  # neither update lost
    # both committed (v00001 base + 2), each computed its merge ONCE
    assert mk().current_version() == "v00003"
    recomputes = [stores[p].merge_recomputes for p in (0, 1)]
    ffs = [stores[p].merge_fast_forwards for p in (0, 1)]
    assert recomputes == [1, 1], (recomputes, ffs)
    assert sorted(ffs) == [0, 1], (recomputes, ffs)  # loser fast-forwarded
    # manifests carry the conflict metadata
    import json as _json

    for v in ("v00002", "v00003"):
        with open(os.path.join(path, "_COMMITS", f"{v}.json")) as f:
            assert "touched" in _json.load(f)


def test_merge_store_overlapping_partition_no_fast_forward(spark, tmp_path):
    """Overlapping touched sets must take the conservative re-merge:
    reusing output merged against the old base would drop the
    winner's update to the shared partition."""
    path = str(tmp_path / "no_ffwd")
    store = MergeStore(spark, path, keys=["k"], partition_by="p")
    seed = spark.createDataFrame([(0, 0, "z")], ["k", "p", "v"])
    store.create_if_absent(seed)
    store.merge(seed)

    # loser staged against v00001; winner then commits v00002
    # touching the SAME partition — simulate by validating directly
    assert store._ff_valid("v00001", "v00001", ["0"])  # no commits between
    winner = MergeStore(spark, path, keys=["k"], partition_by="p")
    winner.merge(spark.createDataFrame([(0, 0, "w")], ["k", "p", "v"]))
    assert store._manifest_touched("v00002") == ["0"]
    assert not store._ff_valid("v00001", "v00002", ["0"])  # overlap
    assert store._ff_valid("v00001", "v00002", ["1"])  # disjoint ok
    # unattributed commits (no touched metadata) always conflict
    import json as _json

    m = os.path.join(path, "_COMMITS", "v00002.json")
    with open(m) as f:
        rec = _json.load(f)
    rec.pop("touched")
    with open(m, "w") as f:
        _json.dump(rec, f)
    assert not store._ff_valid("v00001", "v00002", ["1"])
    # multi-commit chains: EVERY intervening commit must be disjoint
    # — one overlapping commit in the middle poisons the whole range
    with open(m, "w") as f:
        _json.dump({**rec, "touched": ["7"]}, f)
    for v, t in (("v00003", ["8"]), ("v00004", ["9"])):
        with open(os.path.join(path, "_COMMITS", f"{v}.json"), "w") as f:
            _json.dump({"version": v, "touched": t}, f)
    assert store._ff_valid("v00001", "v00004", ["1"])  # all disjoint
    assert not store._ff_valid("v00001", "v00004", ["8"])  # middle hit
    assert not store._ff_valid("v00001", "v00004", ["9"])  # end hit


def test_merge_store_stale_claim_expires(spark, tmp_path):
    """A crashed writer's claim (manifest without a snapshot dir)
    must not wedge the table: after claim_expiry_s it is broken and
    the next merge commits that version."""
    import json as _json

    path = str(tmp_path / "stale")
    store = MergeStore(spark, path, keys=["k"])
    store.create_if_absent(spark.createDataFrame([(0, "z")], ["k", "v"]))
    # simulate the crash: claim v00001, never write the snapshot
    os.makedirs(os.path.join(path, "_COMMITS"), exist_ok=True)
    stale = os.path.join(path, "_COMMITS", "v00001.json")
    with open(stale, "w") as f:
        _json.dump({"version": "v00001", "owner": "dead", "ts": 0}, f)
    old = time.time() - 1000
    os.utime(stale, (old, old))

    store.merge(
        spark.createDataFrame([(1, "a")], ["k", "v"]),
        claim_expiry_s=300.0,
    )
    assert store.current_version() == "v00001"
    assert {r["k"]: r["v"] for r in store.read().collect()} == {1: "a"}


def test_merge_store_compact_log(spark, tmp_path):
    """compact_log folds manifests of vacuumed snapshots into
    _compacted.json and keeps manifests of live ones."""
    path = str(tmp_path / "clog")
    store = MergeStore(spark, path, keys=["k"])
    store.create_if_absent(spark.createDataFrame([(0, "z")], ["k", "v"]))
    for i in range(4):
        store.merge(spark.createDataFrame([(i, f"v{i}")], ["k", "v"]))
    store.vacuum(keep=2)
    # manifests written seconds ago: the claim-age belt-and-braces
    # spares them at the default expiry, so the seconds-old-test
    # passes expiry 0 — the positional oldest-live guard (the real
    # in-flight protection) is exercised by the test below
    assert store.compact_log() == 0  # all younger than default expiry
    folded = store.compact_log(claim_expiry_s=0.0)
    assert folded == 3  # v00000..v00002 vacuumed (keep v00003/v00004)
    commits = os.path.join(path, "_COMMITS")
    import json as _json

    with open(os.path.join(commits, "_compacted.json")) as f:
        compacted = _json.load(f)
    assert set(compacted) == {"v00000", "v00001", "v00002"}
    live_manifests = {
        f[:-5] for f in os.listdir(commits)
        if f.endswith(".json") and f != "_compacted.json"
    }
    assert live_manifests == {"v00003", "v00004"}
    # idempotent
    assert store.compact_log(claim_expiry_s=0.0) == 0


def test_merge_store_compact_log_spares_inflight_claim(spark, tmp_path):
    """A claimed-but-not-yet-renamed version (writer mid-commit) must
    survive compaction even with expiry 0: folding it would delete
    the commit's serialization point and leave the renamed version
    permanently manifest-less (un-repairable). Same for any manifest
    beyond the newest live version."""
    path = str(tmp_path / "clog_inflight")
    store = MergeStore(spark, path, keys=["k"])
    store.create_if_absent(spark.createDataFrame([(0, "z")], ["k", "v"]))
    store.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    # in-flight claim: manifest exists, version dir does not (yet)
    commits = os.path.join(path, "_COMMITS")
    claim = os.path.join(commits, "v00002.json")
    import json as _json

    with open(claim, "w") as f:
        _json.dump({"version": "v00002", "owner": "live", "ts": 0}, f)
    old = time.time() - 10_000
    os.utime(claim, (old, old))  # even an ancient claim is spared
    assert store.compact_log(claim_expiry_s=0.0) == 0
    assert os.path.exists(claim)
    # the in-flight writer completes: rename + pointer flip still work
    os.makedirs(store._version_dir("v00002"))
    import shutil as _shutil

    for f_ in os.listdir(store._version_dir("v00001")):
        _shutil.copy(
            os.path.join(store._version_dir("v00001"), f_),
            os.path.join(store._version_dir("v00002"), f_),
        )
    store._repair_pointer()
    assert store.current_version() == "v00002"


def test_merge_store_optimize_compacts_small_files(spark, tmp_path):
    """OPTIMIZE bin-packs the small files that per-commit merges
    accrete, as a normal committed version: per-partition for
    partitioned stores with the compacted partitions recorded as
    touched (so concurrent disjoint merges can fast-forward past
    it), rows byte-identical, old snapshots untouched until vacuum."""
    import json as _json

    path = str(tmp_path / "opt")
    store = MergeStore(spark, path, keys=["k"], partition_by="p")
    seed = spark.createDataFrame(
        [(i, i % 2, f"v{i}") for i in range(20)], ["k", "p", "v"]
    )
    store.create_if_absent(seed)
    # small-file accretion: at scale each merge writes one file per
    # post-shuffle task into the touched partition dirs; AQE's
    # small-data coalescing hides that locally, so pin it off while
    # BUILDING the fixture (restored before optimize runs)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce_key, "false")
    try:
        store.merge(seed.repartition(6))
        for i in range(100, 102):
            store.merge(
                spark.createDataFrame([(i, 0, f"n{i}")], ["k", "p", "v"])
            )
    finally:
        spark.conf.set(coalesce_key, "true")
    before = {r["k"]: r["v"] for r in store.read().collect()}
    vdir = store._version_dir(store.current_version())
    n_files_p0 = len(
        [
            f
            for f in os.listdir(os.path.join(vdir, "p=0"))
            if not f.startswith(("_", "."))
        ]
    )
    assert n_files_p0 >= 2  # accretion happened

    v = store.optimize(min_files=2)
    assert v is not None
    assert store.current_version() == v
    after = {r["k"]: r["v"] for r in store.read().collect()}
    assert after == before  # pure layout change
    vdir2 = store._version_dir(v)
    n_after_p0 = len(
        [
            f
            for f in os.listdir(os.path.join(vdir2, "p=0"))
            if not f.startswith(("_", "."))
        ]
    )
    assert n_after_p0 < n_files_p0
    assert os.path.exists(os.path.join(vdir2, "_FILES.json"))
    # the commit manifest attributes the compacted partitions, so a
    # concurrent merge into a DIFFERENT partition may fast-forward
    with open(os.path.join(path, "_COMMITS", f"{v}.json")) as f:
        rec = _json.load(f)
    assert set(rec["touched"]) <= {"0", "1"} and rec["touched"]
    assert store._ff_valid(
        f"v{int(v[1:]) - 1:05d}", v, ["9999"]
    )  # disjoint partition sails past the optimize
    # nothing left to compact -> no-op, no version churn
    assert store.optimize(min_files=2) is None
    assert store.current_version() == v


def test_merge_store_history(spark, tmp_path):
    """history() surfaces the commit log: every commit (including
    compacted-away ones), touched-partition metadata, retention and
    current flags, and manifest-derived file/byte counts for
    retained snapshots."""
    path = str(tmp_path / "hist")
    store = MergeStore(spark, path, keys=["k"], partition_by="p")
    seed = spark.createDataFrame([(0, 0, "z"), (1, 1, "z")], ["k", "p", "v"])
    store.create_if_absent(seed)
    store.merge(seed)
    store.merge(spark.createDataFrame([(2, 0, "a")], ["k", "p", "v"]))
    store.vacuum(keep=2)
    store.compact_log(claim_expiry_s=0.0)

    h = {r["version"]: r for r in store.history().collect()}
    assert set(h) == {"v00000", "v00001", "v00002"}
    assert not h["v00000"]["retained"]  # vacuumed, still in the log
    assert h["v00002"]["is_current"] and h["v00002"]["retained"]
    assert h["v00002"]["touched_partitions"] == "0"
    assert h["v00001"]["touched_partitions"] == "0,1"
    assert h["v00002"]["n_files"] and h["v00002"]["size_bytes"] > 0
    assert h["v00000"]["n_files"] is None  # no manifest once vacuumed


def test_merge_store_optimize_zorder_enables_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY: compaction range-clusters the rewritten
    files by the Morton key, so the stats index prunes range reads
    that a hash-scattered layout cannot — rows identical, and a
    narrow key range now touches a strict subset of files."""
    from pyspark.sql import functions as F

    from etl_pipeline_4handling_listings_spark.sources.store import (
        MergeStore,
        build_store_stats,
        read_store_skip,
    )

    path = str(tmp_path / "zopt")
    store = MergeStore(spark, path, keys=["k"])
    # hash-scatter: every file sees the full k range -> no pruning
    seed = (
        spark.range(2000)
        .selectExpr("id as k", "id % 97 as v")
        .repartition(8, "v")
    )
    store.create_if_absent(seed)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce_key, "false")
    try:
        store.merge(seed)
    finally:
        spark.conf.set(coalesce_key, "true")
    before = {r["k"]: r["v"] for r in store.read().collect()}
    build_store_stats(store, ["k"])
    scattered = len(read_store_skip(store, "k", 0, 99).inputFiles())

    v = store.optimize(
        target_file_bytes=8 * 1024, min_files=1, zorder_by=["k"]
    )
    assert v is not None
    assert {r["k"]: r["v"] for r in store.read().collect()} == before
    n_total = len(store.read().inputFiles())
    assert n_total >= 2  # range partitioning kept multiple files
    build_store_stats(store, ["k"])
    pruned = len(read_store_skip(store, "k", 0, 99).inputFiles())
    assert pruned < n_total  # clustered layout actually prunes
    assert pruned <= scattered
    # range read stays row-correct through the clustered layout
    got = sorted(
        r["k"] for r in read_store_skip(store, "k", 0, 99).collect()
    )
    assert got == list(range(100))


def test_zorder_key_interleaves_two_dims(spark):
    """The 2-column Morton key interleaves bits: points close in
    BOTH dimensions land close on the key, and each dimension
    occupies its own bit positions (exact interleave identity)."""
    from etl_pipeline_4handling_listings_spark.sources.store import MergeStore

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (255, 255)], ["x", "y"]
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", MergeStore.zorder_key(["x", "y"])
        ).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(16):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y, z)


def test_merge_store_optimize_unpartitioned(spark, tmp_path):
    """Unpartitioned optimize rewrites the whole snapshot when it
    holds >= min_files files; rows identical, file count shrinks."""
    path = str(tmp_path / "opt_flat")
    store = MergeStore(spark, path, keys=["k"])
    seed = spark.range(50).selectExpr("id as k", "id * 2 as v")
    store.create_if_absent(seed)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce_key, "false")
    try:
        store.merge(seed.repartition(8))  # many small files
    finally:
        spark.conf.set(coalesce_key, "true")
    before = {r["k"]: r["v"] for r in store.read().collect()}
    vdir = store._version_dir(store.current_version())
    n_before = len(
        [f for f in os.listdir(vdir) if not f.startswith(("_", "."))]
    )
    assert n_before >= 2
    v = store.optimize(min_files=2)
    assert v is not None
    vdir2 = store._version_dir(v)
    n_after = len(
        [f for f in os.listdir(vdir2) if not f.startswith(("_", "."))]
    )
    assert n_after < n_before
    assert {r["k"]: r["v"] for r in store.read().collect()} == before


def test_merge_store_manifest_reads(spark, tmp_path):
    """Each committed snapshot carries a _FILES.json manifest written
    into staging BEFORE the commit rename (atomic with the data) —
    the Delta add-file log analogue. Reads resolve the file set from
    the manifest (no recursive directory LIST); pre-manifest
    snapshots fall back to the listing; partition columns survive
    the explicit-file read via basePath."""
    import json as _json

    path = str(tmp_path / "mani")
    store = MergeStore(spark, path, keys=["k"], partition_by="p")
    seed = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], ["k", "p", "v"]
    )
    store.create_if_absent(seed)
    store.merge(seed)

    vdir = store._version_dir(store.current_version())
    with open(os.path.join(vdir, "_FILES.json")) as f:
        manifest = _json.load(f)
    assert manifest, "manifest must list the data files"
    assert all(not os.path.basename(p_).startswith("_") for p_ in manifest)
    # every manifest entry exists with the recorded size
    for rel, size in manifest.items():
        assert os.path.getsize(os.path.join(vdir, rel)) == size

    # manifest read == listing read, partition column included
    got = {(r["k"], r["p"], r["v"]) for r in store.read().collect()}
    assert got == {(i, i % 3, f"v{i}") for i in range(30)}
    files = store._manifest_files(store.current_version())
    assert files and all(os.path.isabs(p_) for p_ in files)
    assert {os.path.relpath(p_, vdir) for p_ in files} == set(manifest)

    # a merge's new snapshot gets its own manifest (incl. hardlinked
    # untouched partitions), and reads see the update through it
    store.merge(spark.createDataFrame([(0, 0, "NEW")], ["k", "p", "v"]))
    vdir2 = store._version_dir(store.current_version())
    assert os.path.exists(os.path.join(vdir2, "_FILES.json"))
    got2 = {r["k"]: r["v"] for r in store.read().collect()}
    assert got2[0] == "NEW" and got2[29] == "v29"

    # pre-manifest snapshot (legacy): deleting the manifest falls
    # back to the directory listing with identical results
    os.remove(os.path.join(vdir2, "_FILES.json"))
    assert store._manifest_files(store.current_version()) is None
    got3 = {r["k"]: r["v"] for r in store.read().collect()}
    assert got3 == got2


def test_merge_store_pointer_is_advance_only(spark, tmp_path):
    """_CURRENT never moves backwards: a writer paused between its
    commit rename and pointer flip must not overwrite the pointer
    after a newer version committed (stale snapshot reads until the
    next repair). _set_current with an older version is a no-op."""
    path = str(tmp_path / "advance_only")
    store = MergeStore(spark, path, keys=["k"])
    store.create_if_absent(spark.createDataFrame([(0, "z")], ["k", "v"]))
    store.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    store.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))
    assert store.current_version() == "v00002"
    store._set_current("v00001")  # the paused writer's late flip
    assert store.current_version() == "v00002"
    store._set_current("v00002")  # idempotent same-version flip
    assert store.current_version() == "v00002"


def test_merge_store_pointer_repair_after_crash(spark, tmp_path):
    """A writer crashing between the dir rename (commit point) and
    the pointer flip must not wedge the table: the next merge rolls
    the pointer forward over the committed-but-unpointed snapshot
    and commits on top of it."""
    import shutil as _sh

    path = str(tmp_path / "crash")
    store = MergeStore(spark, path, keys=["k"])
    store.create_if_absent(spark.createDataFrame([(0, "z")], ["k", "v"]))
    store.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    assert store.current_version() == "v00001"

    # simulate the crash window: v00002 dir + manifest exist, but
    # the pointer still says v00001
    _sh.copytree(
        os.path.join(path, "v00001"), os.path.join(path, "v00002")
    )
    with open(os.path.join(path, "_COMMITS", "v00002.json"), "w") as f:
        json.dump({"version": "v00002", "owner": "dead"}, f)

    store.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))
    # repaired past v00002, committed v00003 on top of its contents
    assert store.current_version() == "v00003"
    assert {r["k"]: r["v"] for r in store.read().collect()} == {
        1: "a", 2: "b",
    }
