"""Manifest/commit-log transactional table protocol (sources/txtable.py).

The contract under test: on storage where rename is NOT atomic (object
stores — simulated by ``ObjectStoreSimStorage``, whose only primitives
are atomic PUT / list / delete), a reader that lists the table at ANY
instant — including mid-commit — sees a complete committed snapshot,
never a partial or missing table. Plus: optimistic concurrency
(put-if-absent arbitration), crash recovery, vacuum, MERGE, and the
OPTIMIZE dispatch from ``io.compact_parquet``.
"""

from __future__ import annotations

import json
import os
import re
import threading

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_pyspark_spark.sources.txtable import (
    CommitConflict,
    LocalStorage,
    ObjectStoreSimStorage,
    TransactionalTable,
    is_transactional,
)


def _snapshot_df(spark, version: int, rows: int = 50):
    """Deterministic content for snapshot ``version``: ``rows`` rows all
    tagged v=version — a reader can verify snapshot consistency from the
    data alone (mixed v values or a wrong count ⇒ torn read)."""
    return spark.range(rows).select(
        F.col("id"), F.lit(version).alias("v"), (F.col("id") * version).alias("x")
    )


def test_commit_read_roundtrip_and_time_travel(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    assert not t.exists()
    v0 = t.commit(_snapshot_df(spark, 0, 10))
    v1 = t.commit(_snapshot_df(spark, 1, 20))
    assert (v0, v1) == (0, 1)
    cur = t.read(spark)
    assert cur.count() == 20 and cur.agg(F.max("v")).first()[0] == 1
    # immutable history: version 0 still readable as committed
    old = t.read(spark, version=0)
    assert old.count() == 10 and old.agg(F.max("v")).first()[0] == 0
    assert is_transactional(str(tmp_path / "t"))


def test_append_mode_accumulates_files_and_rows(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(10).select("id"), mode="append")
    t.commit(spark.range(10, 25).select("id"), mode="append")
    got = t.read(spark)
    assert got.count() == 25
    assert sorted(r["id"] for r in got.collect()) == list(range(25))
    assert t.manifest()["rows"] == 25


def test_reader_mid_commit_sees_previous_complete_snapshot(spark, tmp_path):
    """Deterministic torn-read probe on object-store semantics: a hook
    fires at the exact instant BETWEEN data-file upload and the manifest
    put — the widest inconsistency window the protocol has. A reader at
    that instant must resolve the PREVIOUS version, complete."""
    root = str(tmp_path / "t")
    storage = ObjectStoreSimStorage(root)

    reads_mid_commit = []

    class HookedStorage(ObjectStoreSimStorage):
        def put_if_absent(self, key, data):
            if key.startswith("_commits/"):
                # data files for the NEW version are already uploaded;
                # the commit is not yet visible. Read now.
                snap = TransactionalTable(root, storage=storage).read(spark)
                rows = snap.collect()
                reads_mid_commit.append(
                    (len(rows), {r["v"] for r in rows})
                )
            return super().put_if_absent(key, data)

    hooked = HookedStorage(root)
    t = TransactionalTable(root, storage=storage)
    t.commit(_snapshot_df(spark, 0, 30))

    t_hooked = TransactionalTable(root, storage=hooked)
    t_hooked.commit(_snapshot_df(spark, 1, 40))

    # the mid-commit read saw version 0, whole and alone
    assert reads_mid_commit == [(30, {0})]
    # and after the put the new version is what readers resolve
    final = t.read(spark)
    assert final.count() == 40 and final.agg(F.max("v")).first()[0] == 1


def test_concurrent_reader_race_never_tears(spark, tmp_path):
    """Thread race on the shim: a writer commits 6 successive snapshots
    while a reader loops full reads. EVERY read must be internally
    consistent — all rows carry one version tag and the count matches
    that version's contract. (The rename-swap scheme fails this on an
    object store: the listing can catch the copy half-done.)"""
    root = str(tmp_path / "t")
    storage = ObjectStoreSimStorage(root)
    t = TransactionalTable(root, storage=storage)
    t.commit(_snapshot_df(spark, 0, rows=10))

    bad: list = []
    done = threading.Event()

    def reader():
        rt = TransactionalTable(root, storage=ObjectStoreSimStorage(root))
        while not done.is_set():
            rows = rt.read(spark).collect()
            versions = {r["v"] for r in rows}
            if len(versions) != 1 or len(rows) != 10 * (next(iter(versions)) + 1):
                bad.append((len(rows), versions))

    th = threading.Thread(target=reader)
    th.start()
    try:
        for v in range(1, 6):
            t.commit(_snapshot_df(spark, v, rows=10 * (v + 1)))
    finally:
        done.set()
        th.join()
    assert bad == []


def test_crash_before_manifest_put_leaves_table_readable(spark, tmp_path):
    """A writer that dies after uploading data files but before the
    manifest put must leave the table exactly at the previous version;
    the stranded files are invisible and vacuum reclaims them."""
    root = str(tmp_path / "t")

    class CrashingStorage(LocalStorage):
        def put_if_absent(self, key, data):
            if key.startswith("_commits/v" + "0" * 19 + "1"):
                raise RuntimeError("simulated writer death before manifest put")
            return super().put_if_absent(key, data)

    t = TransactionalTable(root)
    t.commit(_snapshot_df(spark, 0, 15))
    crasher = TransactionalTable(root, storage=CrashingStorage(root))
    with pytest.raises(RuntimeError, match="writer death"):
        crasher.commit(_snapshot_df(spark, 1, 99))

    got = t.read(spark)
    assert got.count() == 15 and got.agg(F.max("v")).first()[0] == 0
    # stranded (never-committed) data files exist, then vacuum reaps them
    live = set(t.manifest()["files"])
    all_data = set(t.storage.list("data"))
    assert all_data - live, "crash should strand unreferenced files"
    # default writer-grace refuses to touch YOUNG unreferenced files
    # (they may belong to an in-flight commit); grace 0 reclaims.
    guard = t.vacuum(retain_versions=2)
    assert guard["removed_data_files"] == 0
    assert guard["skipped_in_grace"] == len(all_data - live)
    stats = t.vacuum(retain_versions=2, unreferenced_grace_s=0)
    assert stats["removed_data_files"] == len(all_data - live)
    assert set(t.storage.list("data")) == live
    assert t.read(spark).count() == 15


def test_optimistic_concurrency_expect_version_and_retry(spark, tmp_path):
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(_snapshot_df(spark, 0, 10))
    # a read-modify-write derived from v0 loses to an interleaved commit
    t.commit(_snapshot_df(spark, 1, 10))
    with pytest.raises(CommitConflict):
        t.commit(_snapshot_df(spark, 99, 5), expect_version=0)
    # blind replace (no expectation) rebases past the conflict
    v = t.commit(_snapshot_df(spark, 2, 10))
    assert v == 2


def test_merge_upsert_transactional(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, name string, val double"
    )
    t.commit(base)
    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], "k int, name string, val double"
    )
    t.merge(spark, updates, ["k"])
    got = {r["k"]: (r["name"], r["val"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0)}
    assert t.manifest()["meta"]["op"] == "merge"


def test_optimize_retries_through_a_lost_commit_race(spark, tmp_path):
    """OPTIMIZE derived from snapshot N must NOT clobber a concurrent
    writer's N+1: the put-if-absent loses, optimize re-reads the new
    snapshot and compacts THAT."""
    root = str(tmp_path / "t")
    plain = TransactionalTable(root)
    plain.commit(_snapshot_df(spark, 0, 40).repartition(8))

    raced = {"done": False}

    class RacingStorage(LocalStorage):
        def put_if_absent(self, key, data):
            if key.startswith("_commits/") and not raced["done"]:
                raced["done"] = True
                # competing writer lands first, with DIFFERENT content
                plain.commit(_snapshot_df(spark, 7, 60).repartition(8))
            return super().put_if_absent(key, data)

    t = TransactionalTable(root, storage=RacingStorage(root))
    stats = t.optimize(spark, target_rows_per_file=1_000_000)
    got = plain.read(spark)
    # the competing snapshot (v=7, 60 rows) survived, compacted
    assert got.count() == 60 and got.agg(F.max("v")).first()[0] == 7
    assert stats["files_after"] == 1 and stats["files_before"] >= 8


def test_compact_parquet_dispatches_to_protocol(spark, tmp_path):
    """``io.compact_parquet`` on a commit-log table routes through
    OPTIMIZE: works without any rename, previous version stays readable
    (until vacuum), data identical."""
    from nyc_taxi_etl_pyspark_spark.sources.io import compact_parquet

    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(_snapshot_df(spark, 0, 200).repartition(16))
    assert len(t.manifest()["files"]) == 16
    stats = compact_parquet(spark, root, target_rows_per_file=1_000_000)
    assert stats["files_before"] == 16 and stats["files_after"] == 1
    assert stats["rows"] == 200
    assert t.read(spark).count() == 200
    # the pre-compaction snapshot is still time-travel readable
    assert t.read(spark, version=stats["version"] - 1).count() == 200


def test_vacuum_retains_reader_grace_window(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    for v in range(4):
        t.commit(_snapshot_df(spark, v, 10 + v))
    stats = t.vacuum(retain_versions=2)
    assert stats["retained_versions"] == [2, 3]
    assert t.versions() == [2, 3]
    assert t.read(spark, version=2).count() == 12
    assert t.read(spark).count() == 13
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=0)


def test_shim_rename_is_genuinely_non_atomic(tmp_path):
    """The negative control: the shim's rename (what the old swap scheme
    would rely on) is copy+delete — a crash between them leaves BOTH
    names visible, exactly the torn state the manifest protocol never
    exposes."""
    s = ObjectStoreSimStorage(str(tmp_path))
    assert s.put_if_absent("a/f.txt", b"hello")
    with pytest.raises(RuntimeError, match="simulated crash"):
        s.rename("a", "b", crash_after_copy=True)
    assert os.path.exists(s.url("a/f.txt")) and os.path.exists(s.url("b/f.txt"))


def test_manifest_is_single_atomic_object(tmp_path):
    """put_if_absent: loser of the race gets False and the winning
    content is untouched; the committed object parses whole."""
    s = LocalStorage(str(tmp_path))
    assert s.put_if_absent("_commits/v1.json", json.dumps({"a": 1}).encode())
    assert not s.put_if_absent("_commits/v1.json", json.dumps({"a": 2}).encode())
    assert json.loads(s.read("_commits/v1.json")) == {"a": 1}


def test_streaming_upsert_sink_manifest_protocol(spark, sf_dir, tmp_path):
    """The CDC upsert sink on the manifest protocol: converges to the
    same state as the batch computation, carries the replay marker in
    the manifest meta, and rejects a foreign checkpoint — all without a
    single rename, on the object-store shim."""
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_upsert_sink

    base = str(tmp_path / "state")
    storage = ObjectStoreSimStorage(base)
    run_streaming_upsert_sink(
        spark,
        sf_dir,
        base,
        checkpoint_path=str(tmp_path / "ckpt"),
        storage=storage,
    )
    t = TransactionalTable(base, storage=storage)
    got = t.read(spark)
    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy("user_id", "event_type").agg(
        F.max("ts").alias("last_ts"),
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value"),
        F.count("*").alias("n_events"),
    )
    cols = ["user_id", "event_type", "last_ts", "last_value", "n_events"]
    g = sorted(map(tuple, got.select(*cols).collect()))
    w = sorted(map(tuple, want.select(*cols).collect()))
    assert g == w and len(g) > 0
    replay = t.manifest()["meta"]["replay"]
    assert replay["applied_batch_id"] >= 0 and replay["ckpt_identity"]

    # foreign checkpoint → double-count guard fires (manifest-carried id)
    with pytest.raises(Exception, match="different streaming query"):
        run_streaming_upsert_sink(
            spark,
            sf_dir,
            base,
            checkpoint_path=str(tmp_path / "ckpt_other"),
            storage=storage,
        )


def test_checkpoint_identity_survives_relocation(spark, sf_dir, tmp_path):
    """ADVICE r3: identity lives INSIDE the checkpoint, so moving the
    checkpoint directory (same logical query) keeps the same identity —
    resuming against its base cannot raise 'different streaming query'.
    (The previous abspath-hash scheme changed identity on relocation.)
    Unit-level: the identity file travels with the move. Integration:
    the sink resumed from the moved checkpoint leaves the state intact
    and raises nothing."""
    import shutil

    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        _checkpoint_identity,
        run_streaming_upsert_sink,
    )

    p1, p2 = str(tmp_path / "idck"), str(tmp_path / "idck_moved")
    ident = _checkpoint_identity(p1)
    assert ident and _checkpoint_identity(p1) == ident  # stable
    shutil.move(p1, p2)
    assert _checkpoint_identity(p2) == ident  # relocation-proof

    base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    run_streaming_upsert_sink(spark, sf_dir, base, checkpoint_path=ckpt)
    before = sorted(map(tuple, spark.read.parquet(base).collect()))
    moved = str(tmp_path / "ckpt_moved")
    shutil.move(ckpt, moved)
    run_streaming_upsert_sink(spark, sf_dir, base, checkpoint_path=moved)
    after = sorted(map(tuple, spark.read.parquet(base).collect()))
    assert after == before  # resumed, replay-skipped, no double count


def test_corrupted_replay_marker_is_a_loud_error(spark, sf_dir, tmp_path):
    """ADVICE r3: a truncated/garbage ``_applied_batch_id`` marker must
    produce the explicit corruption error, not an opaque int() crash
    inside the stream. A FRESH checkpoint forces the batches to replay
    so the marker is actually consulted."""
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_upsert_sink

    base = str(tmp_path / "state")
    run_streaming_upsert_sink(
        spark, sf_dir, base, checkpoint_path=str(tmp_path / "ckpt")
    )
    with open(os.path.join(base, "_applied_batch_id"), "w") as f:
        f.write("garbage not-an-int")
    with pytest.raises(Exception, match="corrupted replay marker"):
        run_streaming_upsert_sink(
            spark, sf_dir, base, checkpoint_path=str(tmp_path / "ckpt2")
        )


def test_manifest_stats_prune_files_and_exact_results(spark, tmp_path):
    """Manifest-level data skipping: a range-layout commit stores
    per-file footer min/max, a selective read opens ONLY the files that
    can match, and the result is exactly the plain filtered read (the
    residual row filter makes the superset skip exact)."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("m"),
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("s"),
    )
    # disjoint per-file ranges on id -> prunable layout
    t.commit(df.repartitionByRange(8, "id").sortWithinPartitions("id"))
    m = t.manifest()
    assert len(m["files"]) == 8 and set(m["stats"]) == set(m["files"])
    for fstats in m["stats"].values():
        assert {"id", "m", "s"} <= set(fstats["cols"])

    where = [("id", 2000, 3200)]
    kept = prune_files(m, where)
    assert 0 < len(kept) < 8  # genuinely skipped files
    got = sorted(r["id"] for r in t.read(spark, where=where).collect())
    assert got == list(range(2000, 3201))

    # string-column pruning works too (lexicographic zero-padded keys)
    kept_s = prune_files(m, [("s", "k009000", None)])
    assert 0 < len(kept_s) < 8
    n = t.read(spark, where=[("s", "k009000", None)]).count()
    assert n == 1000

    # full-range predicate excludes nothing and loses nothing
    assert t.read(spark, where=[("id", None, None)]).count() == 10_000
    # out-of-domain predicate: all files pruned, empty frame, schema kept
    empty = t.read(spark, where=[("id", 1_000_000, None)])
    assert empty.count() == 0 and set(empty.columns) == {"id", "m", "s"}


def test_prune_files_missing_stats_is_conservative(spark, tmp_path):
    """Files without stats can never be excluded: stripping the stats
    from a manifest must make pruning keep everything (metadata loss
    degrades to a full read, never a wrong one)."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(1000).repartitionByRange(4, "id"))
    m = dict(t.manifest())
    assert len(prune_files(m, [("id", 0, 10)])) < 4
    m_nostats = {**m, "stats": {}}
    assert prune_files(m_nostats, [("id", 0, 10)]) == m["files"]
    # incomparable predicate type: no exclusion proof, keep all
    assert prune_files(m, [("id", "zzz", None)]) == m["files"]


def test_partitioned_commit_replace_partitions(spark, tmp_path):
    """Transactional dynamic partition overwrite: a batch that touches
    2 of 5 date partitions replaces exactly those partitions' files in
    one atomic manifest; untouched partitions keep their original file
    keys (never rewritten), partition columns come back from the hive
    paths, and partition pruning opens only the matching files."""
    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(500).select(
        F.col("id"), (F.col("id") % 5).alias("d"), F.lit("old").alias("tag")
    )
    t.commit(base, partition_by=["d"])
    m0 = t.manifest()
    assert m0["partition_by"] == ["d"]
    assert all("d=" in f for f in m0["files"])
    old_files = {
        f for f in m0["files"]
        if m0["stats"][f]["partition"]["d"] in ("0", "3")
    }
    untouched = set(m0["files"]) - old_files

    patch = spark.range(40).select(
        (F.col("id") * 5).alias("id"),            # d = 0
        F.lit(0).cast("long").alias("d"),
        F.lit("new").alias("tag"),
    ).unionByName(
        spark.range(30).select(
            (F.col("id") * 5 + 3).alias("id"),    # d = 3
            F.lit(3).cast("long").alias("d"),
            F.lit("new").alias("tag"),
        )
    )
    t.commit(patch, mode="replace_partitions", partition_by=["d"])
    m1 = t.manifest()
    # untouched partitions: identical file keys, no rewrite
    assert untouched <= set(m1["files"])
    assert not (old_files & set(m1["files"]))

    got = t.read(spark)
    assert set(got.columns) == {"id", "d", "tag"}  # d restored from paths
    by_part = {
        r["d"]: (r["n"], r["tags"])
        for r in got.groupBy("d").agg(
            F.count("*").alias("n"),
            F.collect_set("tag").alias("tags"),
        ).collect()
    }
    assert by_part[0] == (40, ["new"]) and by_part[3] == (30, ["new"])
    for d in (1, 2, 4):
        assert by_part[d] == (100, ["old"])
    assert m1["rows"] == got.count() == 370

    # exact partition pruning from the manifest: only d=3 files open
    pruned = t.read(spark, partitions={"d": [3]})
    assert pruned.count() == 30
    assert {r["d"] for r in pruned.select("d").distinct().collect()} == {3}

    # vacuum reclaims the replaced files (recursive listing; grace 0 —
    # no concurrent writer in this test)
    t.vacuum(retain_versions=1, unreferenced_grace_s=0)
    assert not (old_files & set(t.storage.list("data")))
    assert t.read(spark).count() == 370


def test_partitioned_optimize_preserves_layout(spark, tmp_path):
    """OPTIMIZE on a partitioned table compacts WITHIN partitions: the
    fragmented per-partition files collapse, partition_by and pruning
    survive, data identical."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(600).select(
        F.col("id"), (F.col("id") % 3).alias("d")
    ).repartition(8)
    t.commit(df, partition_by=["d"])
    files_before = len(t.manifest()["files"])
    assert files_before > 3  # fragmented: several files per partition
    stats = t.optimize(spark)
    m = t.manifest()
    assert m["partition_by"] == ["d"]
    assert stats["files_after"] == 3  # one per partition
    assert t.read(spark).count() == 600
    assert t.read(spark, partitions={"d": [1]}).count() == 200


def test_streaming_upsert_then_compact_on_partitioned_tx(spark, tmp_path):
    """compact_parquet dispatch still works after partitioned commits
    (end-to-end: commit partitioned -> compact via the io entry point)."""
    from nyc_taxi_etl_pyspark_spark.sources.io import compact_parquet

    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(200).select(F.col("id"), (F.col("id") % 2).alias("p"))
        .repartition(6),
        partition_by=["p"],
    )
    stats = compact_parquet(spark, root)
    assert stats["files_after"] == 2
    assert t.read(spark).count() == 200


def test_append_schema_guard_and_history(spark, tmp_path):
    """Appends and partition-replaces must match the table schema
    exactly (silent drift would corrupt every later read); schema
    evolution is an explicit full replace. history() reads the audit
    trail straight from the commit log."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(10).select(F.col("id"), F.lit(1.0).alias("x")))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit(
            spark.range(5).select(F.col("id"), F.lit("s").alias("x")),
            mode="append",
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit(spark.range(5).select("id"), mode="append")
    # matching append fine; evolution via replace fine
    t.commit(spark.range(10, 20).select(F.col("id"), F.lit(2.0).alias("x")),
             mode="append")
    t.commit(spark.range(3).select(F.col("id"), F.lit("s").alias("x")))
    assert t.manifest()["schema"] == {"id": "bigint", "x": "string"}

    h = t.history()
    assert [e["version"] for e in h] == [2, 1, 0]
    assert h[0]["rows"] == 3 and h[1]["rows"] == 20
    assert all(e["committed_at"] > 0 for e in h)


def test_merge_preserves_partition_layout_and_partition_filter_fallback(
    spark, tmp_path
):
    """Two regressions caught by the lakehouse example: (1) MERGE on a
    partitioned table must keep the hive layout (flattening would break
    partition pruning for every later reader); (2) a partitions= filter
    on a column the snapshot is NOT physically partitioned by must fall
    back to an exact row filter — never a silent empty result."""
    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(300).select(
        F.col("id"), (F.col("id") % 3).alias("d"), (F.col("id") * 2.0).alias("x")
    )
    t.commit(base, partition_by=["d"])
    fixes = t.read(spark).where("id < 10").withColumn("x", F.lit(-1.0)).select(
        "id", "d", "x"
    )
    t.merge(spark, fixes, key_cols=["id"])
    m = t.manifest()
    assert m["partition_by"] == ["d"]  # layout survived the merge
    assert all("d=" in f for f in m["files"])
    got = t.read(spark, partitions={"d": [1]})
    assert got.count() == 100  # pruning still exact post-merge
    assert t.read(spark).where("x = -1.0").count() == 10

    # unpartitioned table: partitions= degrades to a row filter
    u = TransactionalTable(str(tmp_path / "u"))
    u.commit(spark.range(90).select(F.col("id"), (F.col("id") % 3).alias("d")))
    got = u.read(spark, partitions={"d": [2]})
    assert got.count() == 30
    assert {r["d"] for r in got.select("d").distinct().collect()} == {2}


def test_concurrent_merges_serialize_without_lost_updates(spark, tmp_path):
    """Two writers merging DIFFERENT keys concurrently must both land:
    the version race is arbitrated by put-if-absent, the loser re-reads
    and re-merges, and the final state contains every update (no lost
    update, no torn manifest) — lock-free writer serialization."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(100).select(F.col("id"), F.lit(0.0).alias("val"))
    )

    errors: list = []

    def do_merge(lo: int, hi: int, tag: float):
        try:
            upd = spark.range(lo, hi).select(
                F.col("id"), F.lit(tag).alias("val")
            )
            TransactionalTable(root).merge(spark, upd, ["id"], max_retries=20)
        except Exception as e:  # pragma: no cover - failure is the assert
            errors.append(e)

    threads = [
        threading.Thread(target=do_merge, args=(0, 20, 1.0)),
        threading.Thread(target=do_merge, args=(20, 40, 2.0)),
        threading.Thread(target=do_merge, args=(40, 60, 3.0)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    got = {r["id"]: r["val"] for r in TransactionalTable(root).read(spark).collect()}
    assert len(got) == 100
    for i in range(100):
        want = 1.0 if i < 20 else 2.0 if i < 40 else 3.0 if i < 60 else 0.0
        assert got[i] == want, (i, got[i])


def test_change_feed_between_versions(spark, tmp_path):
    """changes(v0 -> v1) must emit exactly the keys whose state differs,
    tagged insert/update/delete, new values for upserts and old values
    for deletes — including NULL-valued fields on either side (struct
    comparison must not three-valued-logic a real change away)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k int, s string, v double",
    ))
    t.commit(spark.createDataFrame(
        [(1, "a", 1.0),        # unchanged
         (2, "b", 2.0),        # null -> value: update
         (3, None, 3.0),       # value -> null: update
         (5, "e", 5.0)],       # insert; 4 deleted
        "k int, s string, v double",
    ))
    feed = {r["k"]: (r["s"], r["v"], r["_change_type"])
            for r in t.changes(spark, ["k"], from_version=0).collect()}
    assert feed == {
        2: ("b", 2.0, "update"),
        3: (None, 3.0, "update"),
        4: ("d", 4.0, "delete"),
        5: ("e", 5.0, "insert"),
    }


# ---------------------------------------------------------------------------
# Property: random operation sequences vs an in-memory reference model.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# ops: ("replace"|"append"|"merge"|"zorder_replace"|"bloom_replace", rows)
#    | ("delete", (lo, width)) | ("optimize",) | ("vacuum",)
_rows = st.lists(
    st.tuples(st.integers(0, 9), st.integers(-50, 50)),
    min_size=1,
    max_size=6,
)
_op = st.one_of(
    st.tuples(st.just("replace"), _rows),
    st.tuples(st.just("append"), _rows),
    st.tuples(st.just("merge"), _rows),
    st.tuples(st.just("merge_full"), _rows),
    st.tuples(st.just("zorder_replace"), _rows),
    st.tuples(st.just("bloom_replace"), _rows),
    st.tuples(
        st.just("delete"),
        st.tuples(st.integers(-50, 50), st.integers(0, 20)),
    ),
    st.tuples(st.just("optimize")),
    st.tuples(st.just("vacuum")),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=6))
def test_txtable_matches_reference_model(spark, tmp_path_factory, ops):
    """Model-based property: ANY interleaving of replace / append /
    merge / delete / Z-order or bloom-indexed replace / optimize /
    vacuum leaves the table exactly where a trivial in-memory model
    says it should be — for the FULL read, for a zone-map band read,
    and for a bloom/stats point read, after every single op. replace
    and merge are keyed (latest-wins per key k); append is a bag
    union; delete removes a v-band; optimize and vacuum must be pure
    no-ops on CONTENT whatever clustering/bloom state the interleaving
    left. This is the whole protocol surface exercised in combinations
    no example-based test enumerates."""
    t = TransactionalTable(str(tmp_path_factory.mktemp("prop") / "t"))
    # tiny checkpoint interval: every op sequence crosses delta-log
    # checkpoint boundaries several times, so reconstruction (base
    # checkpoint + delta replay) is fuzzed alongside the DML mix
    t.checkpoint_interval = 3
    # model: list of (k, v) bags for append semantics; replace/merge
    # first collapse the incoming rows latest-wins by key (merge_upsert
    # contract via latest_by on a sequence column).
    model: list[tuple[int, int]] = []

    def collapse(rows):
        last = {}
        for k, v in rows:
            last[k] = v
        return sorted(last.items())

    for op in ops:
        if op[0] == "replace":
            rows = collapse(op[1])
            t.commit(
                spark.createDataFrame(rows, "k int, v int")
            )
            model = list(rows)
        elif op[0] == "append":
            if not t.exists():
                continue
            t.commit(
                spark.createDataFrame(op[1], "k int, v int"), mode="append"
            )
            model = model + list(op[1])
        elif op[0] == "merge":
            if not t.exists():
                continue
            # merge requires unique update keys: collapse latest-wins,
            # and requires a keyed model: only meaningful if the model
            # itself is key-unique; skip when appends made duplicates.
            if len({k for k, _ in model}) != len(model):
                continue
            updates = collapse(op[1])
            t.merge(
                spark,
                spark.createDataFrame(updates, "k int, v int"),
                key_cols=["k"],
            )
            d = dict(model)
            d.update(dict(updates))
            model = sorted(d.items())
        elif op[0] == "merge_full":
            # clause-form merge: matched negatives DELETE, matched
            # non-negatives UPDATE, unmatched non-negatives INSERT,
            # and deeply-negative never-matched target rows are swept
            # by NOT MATCHED BY SOURCE — every clause kind in the mix
            if not t.exists():
                continue
            if len({k for k, _ in model}) != len(model):
                continue
            updates = collapse(op[1])
            t.merge(
                spark,
                spark.createDataFrame(updates, "k int, v int"),
                key_cols=["k"],
                clauses=[
                    {"when": "matched", "cond": "s.v < 0",
                     "action": "delete"},
                    {"when": "matched", "cond": None, "action": "update",
                     "set": {"v": "s.v"}},
                    {"when": "not_matched", "cond": "s.v >= 0",
                     "action": "insert", "values": "*"},
                    {"when": "not_matched_by_source", "cond": "t.v < -40",
                     "action": "delete"},
                ],
            )
            d = dict(model)
            ukeys = {k for k, _ in updates}
            for k, v in updates:
                if k in d:
                    if v < 0:
                        del d[k]
                    else:
                        d[k] = v
                elif v >= 0:
                    d[k] = v
            for k in [k for k, v in d.items() if k not in ukeys and v < -40]:
                del d[k]
            model = sorted(d.items())
        elif op[0] == "zorder_replace":
            # content-wise identical to replace; additionally declares
            # the Z-order clustering property that optimize re-applies
            rows = collapse(op[1])
            t.commit(
                spark.createDataFrame(rows, "k int, v int"),
                zorder_by=["k", "v"],
                zorder_bits=4,
                num_files=2,
            )
            model = list(rows)
        elif op[0] == "bloom_replace":
            rows = collapse(op[1])
            t.commit(
                spark.createDataFrame(rows, "k int, v int"),
                bloom_by=["k"],
                num_files=2,
            )
            model = list(rows)
        elif op[0] == "delete":
            if not t.exists() or not model:
                continue
            lo, width = op[1]
            hi = lo + width
            t.delete(spark, [("v", lo, hi)])
            model = [r for r in model if not (lo <= r[1] <= hi)]
        elif op[0] == "optimize":
            if not t.exists():
                continue
            t.optimize(spark)
        elif op[0] == "vacuum":
            if not t.exists():
                continue
            t.vacuum(retain_versions=2)
        if t.exists():
            got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
            assert got == sorted(model), (op, got, model)
            # pruned reads must agree with the model after EVERY op,
            # whatever layout/stats/bloom state the interleaving left:
            # zone-map band read...
            band = sorted(
                (r["k"], r["v"]) for r in t.read(
                    spark, where=[("v", -10, 10)]
                ).collect()
            )
            assert band == sorted(
                r for r in model if -10 <= r[1] <= 10
            ), (op, "band", band)
            # ...and bloom/stats point read on a key the model holds
            if model:
                k0 = model[0][0]
                point = sorted(
                    (r["k"], r["v"]) for r in t.read(
                        spark, equals={"k": k0}
                    ).collect()
                )
                assert point == sorted(
                    r for r in model if r[0] == k0
                ), (op, "point", point)


def test_cluster_by_commit_enables_stats_skipping(spark, tmp_path):
    """cluster_by gives files disjoint key ranges, which is what turns
    manifest min/max stats into real file skipping; the same data
    committed unclustered (round-robin) can exclude nothing."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    # value column deliberately uncorrelated with insertion order
    df = spark.range(8000).select(
        F.col("id"), (F.col("id") * 2654435761 % 100000).alias("h")
    )
    where = [("h", 10000, 14000)]

    flat = TransactionalTable(str(tmp_path / "flat"))
    flat.commit(df, num_files=8)
    m = flat.manifest()
    assert len(m["files"]) == 8
    assert len(prune_files(m, where)) == 8  # nothing skippable

    clus = TransactionalTable(str(tmp_path / "clus"))
    clus.commit(df, cluster_by=["h"], num_files=8)
    m = clus.manifest()
    assert len(m["files"]) == 8
    kept = prune_files(m, where)
    assert len(kept) <= 2  # ~4% of the domain -> 1-2 of 8 range slices
    got = sorted(r["id"] for r in clus.read(spark, where=where).collect())
    want = sorted(
        r["id"] for r in df.where("h between 10000 and 14000").collect()
    )
    assert got == want and len(got) > 0


def test_zorder_commit_skips_on_any_clustered_column(spark, tmp_path):
    """zorder_by interleaves the clustered columns into one Morton key,
    so every file covers a small hyper-rectangle and manifest min/max
    stats skip files for a selective band on EITHER column; the same
    data committed cluster_by (lexicographic) skips on the leading
    column only — a band on the second column reads every file."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    # two mutually-independent hashed columns (uncorrelated with id
    # and with each other), so any skipping comes from layout alone
    df = spark.range(32000).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 100000).alias("a"),
        (F.col("id") * 40503 % 100000).alias("b"),
    )
    band_a = [("a", 10000, 14000)]
    band_b = [("b", 10000, 14000)]

    lex = TransactionalTable(str(tmp_path / "lex"))
    lex.commit(df, cluster_by=["a", "b"], num_files=16)
    m_lex = lex.manifest()
    assert len(m_lex["files"]) == 16
    assert len(prune_files(m_lex, band_a)) <= 2  # leading col: tight
    assert len(prune_files(m_lex, band_b)) == 16  # second col: nothing

    z = TransactionalTable(str(tmp_path / "z"))
    z.commit(df, zorder_by=["a", "b"], num_files=16)
    m_z = z.manifest()
    assert len(m_z["files"]) == 16
    # 16 files over a 256x256 cell grid -> each file spans ~1/4 of each
    # dimension; a 4%-wide band intersects at most 2 of 4 slabs
    assert len(prune_files(m_z, band_a)) <= 8
    assert len(prune_files(m_z, band_b)) <= 8

    for where in (band_a, band_b):
        col, lo, hi = where[0]
        got = sorted(r["id"] for r in z.read(spark, where=where).collect())
        want = sorted(
            r["id"]
            for r in df.where(f"{col} between {lo} and {hi}").collect()
        )
        assert got == want and len(got) > 0

    with pytest.raises(ValueError, match="mutually exclusive"):
        TransactionalTable(str(tmp_path / "bad")).commit(
            df, cluster_by=["a"], zorder_by=["b"]
        )


def test_optimize_reapplies_declared_clustering(spark, tmp_path):
    """The clustering declared at commit time is a sticky table
    property: appends land unclustered (and carry the property
    forward), and a no-args optimize() re-clusters the WHOLE table —
    without this, compaction would round-robin the rows and silently
    destroy the layout that zone-map skipping depends on."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    df = spark.range(16000).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 100000).alias("a"),
        (F.col("id") * 40503 % 100000).alias("b"),
    )
    extra = spark.range(16000, 32000).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 100000).alias("a"),
        (F.col("id") * 40503 % 100000).alias("b"),
    )
    band = [("b", 10000, 14000)]

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, zorder_by=["a", "b"], num_files=16)
    # blind append: unclustered files, property carried forward
    t.commit(extra, mode="append", num_files=8)
    m = t.manifest()
    assert m["meta"]["clustering"]["kind"] == "zorder"
    kept_before = len(prune_files(m, band))
    assert kept_before > 8  # the 8 appended files all overlap the band

    res = t.optimize(spark, target_rows_per_file=2000)
    m2 = t.manifest()
    assert m2["meta"]["clustering"] == m["meta"]["clustering"]  # still sticky
    kept_after = len(prune_files(m2, band))
    assert kept_after <= len(m2["files"]) // 2  # layout restored
    got = sorted(r["id"] for r in t.read(spark, where=band).collect())
    want = sorted(
        r["id"]
        for r in df.unionByName(extra).where("b between 10000 and 14000").collect()
    )
    assert got == want and len(got) > 0
    assert res["rows"] == 32000


def test_streaming_append_sink_tx_exactly_once(spark, sf_dir, tmp_path):
    """Bronze-ingest stream → transactional append: every event lands
    exactly once (batch commits are atomic appends with the replay
    marker in manifest meta), re-running the drained checkpoint no-ops,
    and a fresh checkpoint against the existing base raises instead of
    duplicating or dropping batches."""
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_append_sink_tx,
    )

    base = str(tmp_path / "bronze")
    storage = ObjectStoreSimStorage(base)
    ckpt = str(tmp_path / "ckpt")
    run_streaming_append_sink_tx(spark, sf_dir, base, ckpt, storage=storage)

    t = TransactionalTable(base, storage=storage)
    ev = load_table(spark, sf_dir, "events")
    got = t.read(spark)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()

    # drained checkpoint re-run: no new batches, nothing duplicated
    v = t.latest_version()
    run_streaming_append_sink_tx(spark, sf_dir, base, ckpt, storage=storage)
    assert t.latest_version() == v
    assert t.read(spark).count() == ev.count()

    # foreign checkpoint: loud refusal (appends can't be replay-skipped
    # by id alone — ids restart at 0)
    with pytest.raises(Exception, match="different streaming query"):
        run_streaming_append_sink_tx(
            spark, sf_dir, base, str(tmp_path / "ckpt2"), storage=storage
        )


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    """Copy-on-write DELETE plans from the manifest: on a clustered
    layout a narrow band rewrites 1-2 of 8 files, retains the rest
    byte-for-byte (same keys), and the surviving data equals the plain
    anti-filter. Stats-only 'maybe' files with no actual match commit
    nothing."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(8000).select(F.col("id"), (F.col("id") % 4).alias("g"))
    t.commit(df, cluster_by=["id"], num_files=8)
    m0 = t.manifest()

    stats = t.delete(spark, [("id", 2000, 2999)])
    assert stats["rows_deleted"] == 1000
    assert 1 <= stats["files_rewritten"] <= 2
    assert stats["files_retained"] >= 6
    m1 = t.manifest()
    # retained files kept their identity (no rewrite)
    assert set(m1["files"]) & set(m0["files"])
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [i for i in range(8000) if not (2000 <= i <= 2999)]
    assert m1["rows"] == 7000 and m1["meta"]["op"] == "delete"

    # no-match delete: stats can't exclude g's full range, data has no
    # match -> zero-commit no-op
    v = t.latest_version()
    stats = t.delete(spark, [("g", 99, 100)])
    assert stats["rows_deleted"] == 0 and t.latest_version() == v

    # partitioned table: delete prunes by partition-resident stats and
    # keeps the hive layout
    p = TransactionalTable(str(tmp_path / "p"))
    p.commit(
        spark.range(900).select(F.col("id"), (F.col("id") % 3).alias("d")),
        partition_by=["d"],
    )
    stats = p.delete(spark, [("id", 0, 99)])
    assert stats["rows_deleted"] == 100
    assert p.manifest()["partition_by"] == ["d"]
    assert p.read(spark, partitions={"d": [0]}).count() == 300 - 34
    assert p.read(spark).count() == 800


def test_replay_marker_survives_maintenance_commits(spark, sf_dir, tmp_path):
    """Review finding: the streaming replay watermark must survive
    OTHER commits on the sink table. optimize/merge write their own
    meta, but the reserved meta['replay'] slot is carried forward — so
    a maintenance pass between a batch commit and the checkpoint commit
    can no longer erase the marker and cause a replayed batch to be
    re-applied."""
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_append_sink_tx,
    )

    base = str(tmp_path / "bronze")
    run_streaming_append_sink_tx(spark, sf_dir, base, str(tmp_path / "ckpt"))
    t = TransactionalTable(base)
    replay0 = t.manifest()["meta"]["replay"]
    assert replay0["applied_batch_id"] >= 0

    t.optimize(spark)
    m = t.manifest()
    assert m["meta"]["op"] == "optimize"
    assert m["meta"]["replay"] == replay0  # carried forward

    upd = t.read(spark).limit(1).withColumn("value", F.lit(0.0))
    t.merge(spark, upd.select(*t.read(spark).columns), ["event_id"])
    assert t.manifest()["meta"]["replay"] == replay0  # survives merge too


def test_delete_keeps_null_rows(spark, tmp_path):
    """Review finding: SQL DELETE semantics — a NULL-evaluating
    predicate is NOT TRUE, so NULL rows in the banded column must be
    KEPT, not silently dropped by three-valued ~pred."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 70.0), (4, None), (5, 55.0)],
        "k int, v double",
    ))
    stats = t.delete(spark, [("v", 50.0, 100.0)])
    assert stats["rows_deleted"] == 2  # 70.0 and 55.0 only
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, 10.0), (2, None), (4, None)]


def test_first_merge_on_empty_table_conflicts_not_clobbers(spark, tmp_path):
    """Review finding: two concurrent FIRST merges on an empty table
    must serialize (conflict + re-merge), not blind-replace — the loser
    previously committed a snapshot containing only its own rows,
    silently erasing the winner's."""
    root = str(tmp_path / "t")
    plain = TransactionalTable(root)
    raced = {"done": False}

    class RacingStorage(LocalStorage):
        def put_if_absent(self, key, data):
            if key.startswith("_commits/") and not raced["done"]:
                raced["done"] = True
                plain.merge(
                    spark,
                    spark.createDataFrame([(100, "w")], "k int, s string"),
                    ["k"],
                )
            return super().put_if_absent(key, data)

    t = TransactionalTable(root, storage=RacingStorage(root))
    t.merge(spark, spark.createDataFrame([(200, "l")], "k int, s string"), ["k"])
    got = sorted((r["k"], r["s"]) for r in plain.read(spark).collect())
    assert got == [(100, "w"), (200, "l")]  # BOTH writers' rows survive


def test_vacuum_grace_protects_inflight_commit(spark, tmp_path):
    """Review finding: vacuum must not delete young unreferenced files —
    they may be a concurrent commit's staged uploads whose manifest has
    not landed yet. With the grace window, a vacuum fired mid-commit
    leaves the staged files alone and the commit completes readable."""
    root = str(tmp_path / "t")
    plain = TransactionalTable(root)
    plain.commit(_snapshot_df(spark, 0, 10))

    class VacuumingStorage(LocalStorage):
        def put_if_absent(self, key, data):
            if key.startswith("_commits/"):
                # adversarial vacuum at the widest window: files staged,
                # manifest not yet visible
                plain.vacuum(retain_versions=2)
            return super().put_if_absent(key, data)

    t = TransactionalTable(root, storage=VacuumingStorage(root))
    t.commit(_snapshot_df(spark, 1, 20))
    got = plain.read(spark)
    assert got.count() == 20 and got.agg(F.max("v")).first()[0] == 1


def test_legacy_identity_upgrade_in_place_resumes_fresh_ckpt_refuses(
    spark, sf_dir, tmp_path
):
    """Review findings, both directions: (a) a base built by the old
    sha256(abspath(ckpt)) identity scheme must keep resuming when its
    checkpoint is upgraded IN PLACE (offsets exist, identity file does
    not — the minted identity IS the legacy hash); (b) a FRESH
    checkpoint at a recycled path must still refuse the legacy-marked
    base — blanket acceptance of the legacy hash would silently skip
    the new stream's batches (data loss) instead of raising."""
    import hashlib
    import shutil

    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_upsert_sink

    base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt_legacy")
    run_streaming_upsert_sink(spark, sf_dir, base, checkpoint_path=ckpt)
    before = sorted(map(tuple, spark.read.parquet(base).collect()))

    # base marked as the OLD scheme recorded it; checkpoint keeps its
    # offsets but loses the identity file (the pre-upgrade state)
    legacy = hashlib.sha256(os.path.abspath(ckpt).encode()).hexdigest()[:16]
    with open(os.path.join(base, "_applied_batch_id"), "w") as f:
        f.write(f"{legacy} 999999")
    os.unlink(os.path.join(ckpt, "engine_identity"))
    assert os.path.isdir(os.path.join(ckpt, "offsets"))

    run_streaming_upsert_sink(spark, sf_dir, base, checkpoint_path=ckpt)
    after = sorted(map(tuple, spark.read.parquet(base).collect()))
    assert after == before  # upgrade-in-place resumed, no re-apply

    # recycled path, FRESH checkpoint: no prior state -> random id ->
    # the legacy-marked base is foreign and must raise, not skip
    shutil.rmtree(ckpt)
    with open(os.path.join(base, "_applied_batch_id"), "w") as f:
        f.write(f"{legacy} 999999")
    with pytest.raises(Exception, match="different streaming query"):
        run_streaming_upsert_sink(spark, sf_dir, base, checkpoint_path=ckpt)


def test_partitioned_optimize_splits_oversized_partitions(spark, tmp_path):
    """Partitioned OPTIMIZE must not fuse a huge partition into one
    giant file: the manifest's per-partition row counts derive an
    intra-partition split, so the hot partition compacts to
    ~target-row files while small partitions still collapse to one."""
    t = TransactionalTable(str(tmp_path / "t"))
    # skew: partition 0 has 5000 rows, partitions 1 and 2 have 100 each
    df = spark.range(5200).select(
        F.col("id"),
        F.when(F.col("id") < 5000, F.lit(0))
        .when(F.col("id") < 5100, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
        .alias("d"),
    ).repartition(10)
    t.commit(df, partition_by=["d"])
    t.optimize(spark, target_rows_per_file=1000)
    m = t.manifest()
    by_part: dict[str, list[int]] = {}
    for fstats in m["stats"].values():
        by_part.setdefault(fstats["partition"]["d"], []).append(fstats["rows"])
    # hot partition split at the writer: 5 files of exactly <= target
    assert len(by_part["0"]) == 5
    assert max(by_part["0"]) <= 1000  # no giant fused file
    assert sum(by_part["0"]) == 5000
    # small partitions stay EXACTLY one file each (a global split
    # factor would have fragmented them)
    assert len(by_part["1"]) == 1 and sum(by_part["1"]) == 100
    assert len(by_part["2"]) == 1 and sum(by_part["2"]) == 100
    assert t.read(spark).count() == 5200
    assert t.read(spark, partitions={"d": [1]}).count() == 100


def test_persisted_ivf_probe_equals_in_memory_and_prunes(spark, sf_dir, tmp_path):
    """The persisted IVF index must return EXACTLY what the in-memory
    IVF returns over identical centroids/probes (persistence changes
    the storage, not the math), and the probe must open only the probed
    cells' files (manifest partition pruning)."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_probe,
        ivf_topk_cosine,
    )
    from nyc_taxi_etl_pyspark_spark.plans.queries_text import _query_vec
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    q = _query_vec(spark, sf_dir)

    t = TransactionalTable(str(tmp_path / "ivf"))
    build_ivf_index(t, e, centroids, id_col="vec_id", vec_col="embedding")
    m = t.manifest()
    assert len(m["meta"]["app"]["codebook"]) == 16
    assert m["partition_by"] == ["centroid_id"]

    got_df = ivf_index_probe(
        spark, t, q, id_col="vec_id", vec_col="embedding", k=10, n_probe=4
    )
    # pruning contract: the probe's scan must touch ONLY probed cells'
    # files — every input file path carries one of <= 4 centroid dirs
    # (files hive-partition on the shadow segment __p_centroid_id=)
    probed_dirs = {
        f.split("centroid_id=")[1].split("/")[0]
        for f in got_df.inputFiles()
    }
    assert 1 <= len(probed_dirs) <= 4
    all_dirs = {fs["partition"]["centroid_id"] for fs in m["stats"].values()}
    assert probed_dirs < all_dirs  # strict subset: files were skipped

    got = ivf_index_probe(
        spark, t, q, id_col="vec_id", vec_col="embedding", k=10, n_probe=4
    ).collect()
    want = ivf_topk_cosine(
        e, centroids, q, id_col="vec_id", vec_col="embedding", k=10, n_probe=4
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in got] == [
        (r["vec_id"], r["cosine_sim"]) for r in want
    ]
    assert len(got) == 10

    # pruning: the probe's partition filter keeps only probed cells
    cells = {
        fs["partition"]["centroid_id"] for fs in m["stats"].values()
    }
    assert len(cells) > 4  # more cells exist than the probe opens


def test_ivf_codebook_survives_optimize(spark, sf_dir, tmp_path):
    """The persisted index's codebook is sticky meta: compacting the
    index table must not orphan the assignments from the codebook —
    probes after OPTIMIZE return exactly the pre-OPTIMIZE results."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_probe,
    )
    from nyc_taxi_etl_pyspark_spark.plans.queries_text import _query_vec
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    q = _query_vec(spark, sf_dir)
    t = TransactionalTable(str(tmp_path / "ivf"))
    build_ivf_index(t, e, centroids, id_col="vec_id", vec_col="embedding")
    before = ivf_index_probe(
        spark, t, q, id_col="vec_id", vec_col="embedding", k=10, n_probe=4
    ).collect()
    t.optimize(spark)
    assert t.manifest()["meta"]["op"] == "optimize"
    # carried forward via the sticky app namespace
    assert len(t.manifest()["meta"]["app"]["codebook"]) == 16
    after = ivf_index_probe(
        spark, t, q, id_col="vec_id", vec_col="embedding", k=10, n_probe=4
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]


def test_append_to_partitioned_table_inherits_layout(spark, tmp_path):
    """Review finding: a plain append to a hive-partitioned table must
    stage in the table's layout — flat appended files would carry no
    partition path/stats, silently vanish from partition-pruned reads,
    and break mixed-layout scans. The layout is inherited; the appended
    rows are pruning-visible; an explicit conflicting layout raises."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(300).select(F.col("id"), (F.col("id") % 3).alias("d")),
        partition_by=["d"],
    )
    t.commit(
        spark.range(300, 330).select(F.col("id"), (F.col("id") % 3).alias("d")),
        mode="append",
    )
    m = t.manifest()
    assert m["partition_by"] == ["d"]
    assert all("d=" in f for f in m["files"])  # layout preserved
    assert t.read(spark).count() == 330
    # appended rows visible through partition pruning (ids 300..329,
    # 10 per residue class)
    assert t.read(spark, partitions={"d": [1]}).count() == 110
    with pytest.raises(ValueError, match="append staged with layout"):
        t.commit(
            spark.range(5).select(F.col("id"), (F.col("id") % 3).alias("d")),
            mode="append",
            partition_by=["id"],
        )


def test_schema_evolution_append_and_merge_read(spark, tmp_path):
    """allow_schema_evolution appends: added columns NULL-fill on old
    files, omitted columns NULL-fill on new files, type changes never
    merge, the flag survives delete, and a full-replace optimize
    rewrites everything under the union schema and clears the flag."""
    df1 = spark.range(10).selectExpr("id", "cast(id * 1.5 as double) v")
    df2 = spark.range(10, 20).selectExpr(
        "id", "cast(id * 1.5 as double) v", "concat('t', id) tag"
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df1)

    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit(df2, mode="append")
    t.commit(df2, mode="append", allow_schema_evolution=True)
    m = t.manifest()
    assert m["mixed_schemas"] is True
    assert set(m["schema"]) == {"id", "v", "tag"}

    out = t.read(spark)
    assert set(out.columns) == {"id", "v", "tag"}
    rows = {r["id"]: r["tag"] for r in out.collect()}
    assert rows[5] is None and rows[15] == "t15"
    assert len(rows) == 20

    # appending with a MISSING column is also legal: NULL-fill
    df3 = spark.range(20, 25).selectExpr("id", "concat('t', id) tag")
    t.commit(df3, mode="append", allow_schema_evolution=True)
    got = {r["id"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert got[22] == (None, "t22") and got[3] == (4.5, None)

    # type change never merges
    bad = spark.range(3).selectExpr("id", "cast(id as string) v")
    with pytest.raises(ValueError, match="change column types"):
        t.commit(bad, mode="append", allow_schema_evolution=True)

    # delete on the mixed table keeps the flag and the evolved columns
    t.delete(spark, [("id", 0.0, 1.0)])
    m = t.manifest()
    assert m.get("mixed_schemas") is True
    assert set(t.read(spark).columns) == {"id", "v", "tag"}
    assert t.read(spark).count() == 23

    # full-replace optimize homogenizes the files and clears the flag
    t.optimize(spark, target_rows_per_file=1000)
    m = t.manifest()
    assert m.get("mixed_schemas") is None
    assert set(m["schema"]) == {"id", "v", "tag"}
    got = {r["id"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert got[22] == (None, "t22") and got[3] == (4.5, None)
    assert len(got) == 23


def test_bloom_build_vectorized_bit_identical(tmp_path):
    """The round-15 numpy bloom builder must produce BYTE-IDENTICAL
    filters to the per-value python loop (same md5 canon, modular
    identity (h1+i·h2)%m == ((h1%m)+i·(h2%m))%m): persisted blooms are
    probed by _bloom_positions forever, so any drift is a silent
    false-negative (wrongly skipped file). Exercises every value class
    the canon handles, above AND below the 256-distinct vectorization
    cutoff."""
    import base64
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _BLOOM_FORMAT_V,
        _BLOOM_K,
        _bloom_positions,
        bloom_might_contain,
        build_bloom_stats,
    )

    n = 3004
    pad = lambda xs: xs + [None] * (n - len(xs))  # noqa: E731
    ints = pad(list(range(3000)) + [-7])
    strs = pad([f"k{i}" for i in range(3000)] + ["a:b", "%41", ""])
    flts = pad([i / 8.0 for i in range(3000)] + [-0.0, 2.5])
    dates = pad([dt.date(2020, 1, 1 + (i % 27)) for i in range(300)])
    tss = pad([
        dt.datetime(2021, 3, 4, 5, 6, 7, 500000 * (i % 2),
                    tzinfo=dt.timezone.utc)
        for i in range(300)
    ])
    tbl = pa.table({
        "i": pa.array(ints, pa.int64()),
        "s": pa.array(strs, pa.string()),
        "f": pa.array(flts, pa.float64()),
        "d": pa.array(dates, pa.date32()),
        "t": pa.array(tss, pa.timestamp("us", tz="UTC")),
        "few": pa.array([i % 9 for i in range(n)], pa.int32()),
    })
    p = str(tmp_path / "b.parquet")
    pq.write_table(tbl, p)
    got = build_bloom_stats(p, ["i", "s", "f", "d", "t", "few"])
    for c in ("i", "s", "f", "d", "t", "few"):
        vals = {v for v in tbl.column(c).to_pylist() if v is not None}
        m, k = got[c]["m"], got[c]["k"]
        assert k == _BLOOM_K
        ref = bytearray(m // 8)
        for v in vals:
            for h in _bloom_positions(v, m, k):
                ref[h >> 3] |= 1 << (h & 7)
        assert base64.b64decode(got[c]["b64"]) == bytes(ref), c
    # one-sided contract across formats: a bloom whose "v" is not the
    # current format gives no proof — it may cost a read, never drop a
    # file — even for a value its bits would reject
    b = got["i"]
    absent = next(
        x for x in range(10**6, 10**6 + 1000) if not bloom_might_contain(b, x)
    )
    for foreign in (
        {**b, "v": _BLOOM_FORMAT_V - 1},
        {**b, "v": _BLOOM_FORMAT_V + 1},
        {key: x for key, x in b.items() if key != "v"},
    ):
        assert bloom_might_contain(foreign, absent), foreign["m"]


def test_bloom_index_prunes_point_lookups(spark, tmp_path):
    """bloom_by: equality predicates on an unsorted high-cardinality
    key prune by per-file Bloom filter where min/max can prove nothing;
    no false negatives (the matching file is always kept), the property
    is sticky through appends, and copy-on-write delete rebuilds blooms
    for the re-staged files."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    df = spark.range(20000).select(
        (F.col("id") * 2654435761 % 10**9).alias("k"),
        F.col("id").alias("payload"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df.repartition(8), bloom_by=["k"], num_files=8)
    m = t.manifest()
    assert m["meta"]["bloom_index"] == {"cols": ["k"]}

    key = df.where("id = 77").first().k
    # round-robin layout: every file spans the key domain, range stats
    # keep everything; the bloom keeps ~1 (FPR makes >1 possible)
    assert len(prune_files(m, [("k", key, key)])) == 8
    assert len(t.prune(equals=[("k", key)])) <= 2
    got = t.read(spark, equals={"k": key}).collect()
    assert len(got) == 1 and got[0].payload == 77

    # no false negatives across many probes
    probe = {r.k: r.payload for r in df.where("id % 997 = 0").collect()}
    for k, payload in probe.items():
        rows = t.read(spark, equals={"k": int(k)}).collect()
        assert [r.payload for r in rows] == [payload]

    # sticky: an append without bloom_by still indexes its new files
    extra = spark.range(20000, 21000).select(
        (F.col("id") * 2654435761 % 10**9).alias("k"),
        F.col("id").alias("payload"),
    )
    t.commit(extra.repartition(2), mode="append", num_files=2)
    m = t.manifest()
    new_key = extra.where("payload = 20500").first().k
    assert len(t.prune(equals=[("k", int(new_key))])) <= 3
    assert t.read(spark, equals={"k": int(new_key)}).first().payload == 20500

    # delete rewrite keeps the index on re-staged files
    victim = int(df.where("id = 5").first().k)
    t.delete(spark, [("k", victim, victim)])
    m = t.manifest()
    rewritten = [
        f for f in m["files"] if "bloom_ref" not in m["stats"].get(f, {})
    ]
    assert rewritten == []  # every live file still references its bloom
    assert t.read(spark, equals={"k": victim}).count() == 0
    assert t.read(spark, equals={"k": key}).first().payload == 77


def test_describe_reports_layout_and_health(spark, tmp_path):
    """describe() summarizes version, file sizing, layout, and declared
    properties from one manifest read — the operator's pre-OPTIMIZE
    health check."""
    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 2654435761 % 10**6).alias("k"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        df,
        partition_by=["grp"],
        bloom_by=["k"],
        max_records_per_file=1000,
    )
    d = t.describe()
    assert d["version"] == 0 and d["rows"] == 5000
    assert d["partition_by"] == ["grp"] and d["n_partitions"] == 4
    assert d["bloom_index"] == {"cols": ["k"]}
    assert d["mixed_schemas"] is False
    assert d["rows_per_file_max"] <= 1000
    assert set(d["schema"]) == {"id", "grp", "k"}

    t.commit(df.limit(100), mode="append")
    d2 = t.describe()
    assert d2["version"] == 1 and d2["rows"] == 5100
    assert d2["bloom_index"] == {"cols": ["k"]}  # sticky survives append
    assert t.describe(version=0)["rows"] == 5000  # time-travel describe


def test_bloom_probe_is_numeric_type_insensitive(spark, tmp_path):
    """Spark's equality matches 7 == 7.0 after cast, so the bloom's
    canonicalization must too — a type-sensitive hash would produce a
    FALSE NEGATIVE (wrongly skipped file) when the probe value arrives
    as float or numpy scalar for an int column."""
    import numpy as np

    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    df = spark.range(4000).select(
        (F.col("id") * 2654435761 % 10**6).alias("k"),
        F.col("id").alias("payload"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df.repartition(8), bloom_by=["k"], num_files=8)
    m = t.manifest()
    key = int(df.where("id = 9").first().k)
    for probe in (key, float(key), np.int64(key)):
        kept = t.prune(equals=[("k", probe)])
        assert 1 <= len(kept) <= 2, f"probe {probe!r} kept {len(kept)}"
        got = t.read(spark, equals={"k": probe}).collect()
        assert [r.payload for r in got] == [9], f"probe {probe!r}"


def test_txstream_emits_declared_schema_across_evolution(spark, tmp_path):
    """A stream over an evolved table must emit the DECLARED (stream-
    start) schema for every batch: pre-evolution files NULL-fill the
    added column instead of emitting short tuples."""
    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(spark.range(10).selectExpr("id", "cast(id*2 as double) v"))
    t.commit(
        spark.range(10, 20).selectExpr(
            "id", "cast(id*2 as double) v", "concat('t', id) tag"
        ),
        mode="append",
        allow_schema_evolution=True,
    )
    s = spark.readStream.format("txstream").option("path", root).load()
    assert set(s.schema.fieldNames()) == {"id", "v", "tag"}
    q = (
        s.writeStream.format("memory")
        .queryName("txs_evo")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["id"]: (r["v"], r["tag"]) for r in spark.table("txs_evo").collect()}
    assert len(rows) == 20
    assert rows[3] == (6.0, None) and rows[15] == (30.0, "t15")


def test_bloom_in_list_lookup(spark, tmp_path):
    """equals with a value LIST: a file survives only if its bloom
    might contain at least one listed key — a k-key fetch opens at
    most ~k files plus false positives, and the residual isin keeps it
    exact."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    df = spark.range(16000).select(
        (F.col("id") * 2654435761 % 10**9).alias("k"),
        F.col("id").alias("payload"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df.repartition(16), bloom_by=["k"], num_files=16)
    m = t.manifest()
    keys = [int(r.k) for r in df.where("id in (3, 4444, 15999)").collect()]
    kept = t.prune(equals=[("k", keys)])
    assert 1 <= len(kept) <= 5  # ≤ 3 true files + FPR slack
    got = t.read(spark, equals={"k": keys}).collect()
    assert sorted(r.payload for r in got) == [3, 4444, 15999]
    # absent keys prune everything
    assert t.read(spark, equals={"k": [111, 222]}).count() == 0


def test_fsck_detects_missing_files_and_orphans(spark, tmp_path):
    """fsck(): clean table passes; deleting a referenced file is FATAL
    (missing_files); an unreferenced stray is a benign orphan; a
    corrupted stats row count is flagged."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(100).select("id"), num_files=4)
    rep = t.fsck()
    assert rep["ok"] and rep["checked_files"] == 4
    assert rep["missing_files"] == [] and rep["orphan_files"] == []

    # stray file under data/ that no manifest references
    stray = os.path.join(str(tmp_path / "t"), "data", "stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"junk")
    rep = t.fsck()
    assert rep["ok"] and rep["orphan_files"] == ["data/stray.parquet"]

    # delete a referenced file: fatal
    victim = t.manifest()["files"][0]
    os.remove(os.path.join(str(tmp_path / "t"), victim))
    rep = t.fsck()
    assert not rep["ok"] and rep["missing_files"] == [victim]

    # corrupt the recorded row count of a healthy file: stats mismatch
    m_key = f"_commits/v{t.latest_version():020d}.json"
    m = json.loads(t.storage.read(m_key))
    healthy = m["files"][1]
    m["stats"][healthy]["rows"] += 1
    path = os.path.join(str(tmp_path / "t"), m_key)
    with open(path, "w") as f:
        json.dump(m, f)
    rep = t.fsck()
    assert healthy in rep["row_mismatches"] and not rep["ok"]


def test_partition_values_hive_decoded_in_manifest(spark, tmp_path):
    """Manifests record DECODED partition values: percent-escapes
    resolved and the hive NULL sentinel mapped to None, so manifest
    partition pruning compares what the batch reader reconstructs —
    not the escaped path segment. Decoding happens exactly once: a
    value that literally contains ``%XX`` survives a fresh handle's
    read unchanged."""
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "plain"), (3, None), (4, "p%3Aq")],
        "id int, grp string",
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, partition_by=["grp"])
    t = TransactionalTable(str(tmp_path / "t"))  # cold: from the log
    vals = {
        s["partition"]["grp"]
        for s in t.manifest()["stats"].values()
        if "partition" in s
    }
    assert vals == {"a:b", "plain", None, "p%3Aq"}
    got = t.read(spark, partitions={"grp": ["a:b"]}).collect()
    assert [(r.id, r.grp) for r in got] == [(1, "a:b")]
    got = t.read(spark, partitions={"grp": ["p%3Aq"]}).collect()
    assert [(r.id, r.grp) for r in got] == [(4, "p%3Aq")]


def test_txstream_date_partitions_and_escaped_values(spark, tmp_path):
    """The streaming source reconstructs typed partition values the
    batch reader would: date-typed partition columns cast correctly
    and escaped string values come back unescaped."""
    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    df = spark.createDataFrame(
        [(1, "2015-01-01", "x:y"), (2, "2015-01-02", "plain")],
        "id int, d string, grp string",
    ).selectExpr("id", "cast(d as date) d", "grp")
    t.commit(df, partition_by=["d", "grp"])
    s = spark.readStream.format("txstream").option("path", root).load()
    q = (
        s.writeStream.format("memory")
        .queryName("txs_dates")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.id: (str(r.d), r.grp) for r in spark.table("txs_dates").collect()
    }
    assert got == {1: ("2015-01-01", "x:y"), 2: ("2015-01-02", "plain")}


def test_txstream_missing_diff_base_fails_loudly(spark, tmp_path):
    """A vacuumed predecessor manifest must fail the batch plan the
    same way a missing in-range manifest does — silently treating it
    as empty would re-emit version N's whole cumulative file set."""
    import pytest

    from nyc_taxi_etl_pyspark_spark.sources.txstream import TxTableStreamReader

    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    for i in range(4):
        t.commit(
            spark.range(i * 10, (i + 1) * 10).select("id"),
            mode="append" if i else "replace",
        )
    t.vacuum(retain_versions=2, unreferenced_grace_s=0)  # drops v0, v1
    r = TxTableStreamReader({"path": root})
    with pytest.raises(ValueError, match="file-diff base"):
        r.partitions({"version": 0}, {"version": 3})
    # a range whose base survives still plans
    parts = r.partitions({"version": 2}, {"version": 3})
    assert len(parts) >= 1


def test_txstream_startingversion_beyond_head_waits(spark, tmp_path):
    """startingversion above the table head must WAIT for that version
    (offset never regresses), not silently re-emit the skipped range
    once the table catches up."""
    from nyc_taxi_etl_pyspark_spark.sources.txstream import TxTableStreamReader

    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(spark.range(10).select("id"))  # v0
    r = TxTableStreamReader({"path": root, "startingversion": "3"})
    assert r.initialOffset() == {"version": 2}
    assert r.latestOffset() == {"version": 2}  # clamped: waits, no regress
    t.commit(spark.range(10, 20).select("id"), mode="append")  # v1
    t.commit(spark.range(20, 30).select("id"), mode="append")  # v2
    t.commit(spark.range(30, 40).select("id"), mode="append")  # v3
    assert r.latestOffset() == {"version": 3}
    parts = r.partitions({"version": 2}, {"version": 3})
    # only v3's files — versions 0-2 stay skipped as requested
    v3, v2 = t.manifest(3), t.manifest(2)
    assert {p.value[0].split("/")[-1] for p in parts} == {
        f.split("/")[-1] for f in set(v3["files"]) - set(v2["files"])
    }
    import pytest

    with pytest.raises(ValueError, match="startingversion"):
        TxTableStreamReader({"path": root, "startingversion": "-2"})


def test_partition_query_none_and_boolean_values(spark, tmp_path):
    """partitions= handles the NULL partition (None selects it via an
    isNull residual — three-valued isin would drop it) and boolean
    columns (canonicalized to the lowercase path form the manifest
    records, not str(True))."""
    df = spark.createDataFrame(
        [(1, "a", True), (2, None, False), (3, "b", True)],
        "id int, grp string, flag boolean",
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, partition_by=["grp"])
    got = t.read(spark, partitions={"grp": [None]}).collect()
    assert [(r.id, r.grp) for r in got] == [(2, None)]
    both = t.read(spark, partitions={"grp": ["a", None]}).collect()
    assert sorted(r.id for r in both) == [1, 2]

    tb = TransactionalTable(str(tmp_path / "tb"))
    tb.commit(df, partition_by=["flag"])
    got = tb.read(spark, partitions={"flag": [True]}).collect()
    assert sorted(r.id for r in got) == [1, 3]
    assert [r.id for r in tb.read(spark, partitions={"flag": [False]}).collect()] == [2]


def test_checkpoint_interval_validated_before_any_commit(tmp_path):
    """checkpoint_interval < 1 must fail loudly at CONSTRUCTION — the
    old failure mode was a ZeroDivisionError raised AFTER the delta
    record landed, leaving the caller's error handling disagreeing with
    durable table state."""
    for bad in (0, -3):
        with pytest.raises(ValueError, match="checkpoint_interval"):
            TransactionalTable(str(tmp_path / "t"), checkpoint_interval=bad)
    # 1 is valid: every commit checkpoints
    TransactionalTable(str(tmp_path / "t"), checkpoint_interval=1)


def test_expectations_quarantine_splits_and_audits(spark, tmp_path):
    """commit_with_expectations(on_violation='quarantine'): passing rows
    become the snapshot, violators land in the sibling quarantine table
    tagged with the rules they broke, and per-rule counts ride the
    manifest meta."""
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 10).alias("bucket"),
        F.when(F.col("id") % 20 == 0, None)
        .otherwise(F.col("id").cast("double"))
        .alias("val"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    v = t.commit_with_expectations(
        df,
        {
            "bucket_nonzero": "bucket != 0",  # fails ids 0,10,...,90
            "val_present": "val IS NOT NULL",  # fails ids 0,20,...,80 (NULL)
        },
    )
    assert v == 0
    good = t.read(spark)
    ids = sorted(r["id"] for r in good.collect())
    assert ids == sorted(i for i in range(100) if i % 10 != 0 and i % 20 != 0)
    audit = t.manifest()["meta"]["expectations"]
    assert audit["rows_seen"] == 100
    assert audit["violations"] == {"bucket_nonzero": 10, "val_present": 5}
    assert audit["rows_failed"] == 10  # union, not sum: overlap at %20==0
    # quarantine holds exactly the complement, tagged per-rule
    q = TransactionalTable(str(tmp_path / "t_quarantine"))
    bad = {r["id"]: sorted(r["__failed_expectations"]) for r in q.read(spark).collect()}
    assert sorted(bad) == [0, 10, 20, 30, 40, 50, 60, 70, 80, 90]
    assert bad[10] == ["bucket_nonzero"]
    assert bad[20] == ["bucket_nonzero", "val_present"]
    # NULL predicate result counts as a violation (fail-closed)
    assert "val_present" in bad[0]


def test_expectations_fail_mode_commits_nothing(spark, tmp_path):
    from nyc_taxi_etl_pyspark_spark.sources.txtable import ExpectationViolation

    t = TransactionalTable(str(tmp_path / "t"))
    with pytest.raises(ExpectationViolation, match="violate"):
        t.commit_with_expectations(
            spark.range(10).select("id"),
            {"small": "id < 5"},
            on_violation="fail",
        )
    assert not t.exists()  # nothing staged into a manifest
    # a clean frame under the same gate commits normally
    t.commit_with_expectations(
        spark.range(5).select("id"), {"small": "id < 5"}, on_violation="fail"
    )
    assert t.read(spark).count() == 5
    audit = t.manifest()["meta"]["expectations"]
    assert audit["rows_failed"] == 0 and audit["violations"] == {"small": 0}


def test_expectations_drop_mode_discards_but_counts(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit_with_expectations(
        spark.range(10).select("id"), {"even": "id % 2 = 0"}, on_violation="drop"
    )
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 2, 4, 6, 8]
    assert t.manifest()["meta"]["expectations"]["violations"] == {"even": 5}
    assert not os.path.isdir(str(tmp_path / "t_quarantine"))


def test_read_appended_resolves_delta_from_manifests(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(10).select("id"), mode="append", num_files=2)
    v1 = t.commit(spark.range(10, 25).select("id"), mode="append", num_files=2)
    d = t.read_appended(spark, 0, v1)
    assert sorted(r["id"] for r in d.collect()) == list(range(10, 25))
    # same-version window: empty frame, schema intact
    assert t.read_appended(spark, v1, v1).count() == 0
    assert t.read_appended(spark, v1, v1).columns == ["id"]
    # bootstrap sentinel reads the whole snapshot
    assert t.read_appended(spark, -1).count() == 25
    # a rewrite inside the window breaks file-diff == row-delta: refuse
    t.optimize(spark, target_rows_per_file=100)
    with pytest.raises(ValueError, match="not append-only"):
        t.read_appended(spark, 0)


def test_mv_incremental_join_refresh_matches_full_recompute(spark, tmp_path):
    """operators/mv.py: the view maintained by delta propagation over
    three append schedules (left only, right only, both) must equal the
    full-recompute join at every step, refresh only APPENDS, a
    no-change refresh is a no-op, and a non-append base window raises
    with full_refresh as the documented recovery."""
    from nyc_taxi_etl_pyspark_spark.operators.mv import (
        full_refresh_join_view,
        refresh_join_view,
    )

    left = TransactionalTable(str(tmp_path / "L"))
    right = TransactionalTable(str(tmp_path / "R"))
    view = TransactionalTable(str(tmp_path / "V"))

    def join_fn(l, r):
        return l.join(r, l["k"] == r["rk"]).select("lid", "k", "rv")

    def lbatch(ids):
        return spark.createDataFrame(
            [(i, i % 5) for i in ids], "lid int, k int"
        )

    def rbatch(keys):
        return spark.createDataFrame(
            [(k, k * 100) for k in keys], "rk int, rv int"
        )

    def check():
        got = sorted(map(tuple, view.read(spark).collect()))
        want = sorted(
            map(tuple, join_fn(left.read(spark), right.read(spark)).collect())
        )
        assert got == want

    left.commit(lbatch(range(10)))
    right.commit(rbatch([0, 1, 2]))
    s = refresh_join_view(spark, left, right, view, join_fn)
    assert s["mode"] == "full"
    check()
    # left-only append
    left.commit(lbatch(range(10, 20)), mode="append")
    s = refresh_join_view(spark, left, right, view, join_fn)
    assert s["mode"] == "incremental"
    check()
    # right-only append (new key 3 joins OLD left rows too)
    right.commit(rbatch([3]), mode="append")
    s = refresh_join_view(spark, left, right, view, join_fn)
    assert s["mode"] == "incremental"
    check()
    # both sides advance in one window (the ΔL⋈ΔR term matters: key 4)
    left.commit(lbatch(range(20, 30)), mode="append")
    right.commit(rbatch([4]), mode="append")
    s = refresh_join_view(spark, left, right, view, join_fn)
    assert s["mode"] == "incremental"
    check()
    # nothing new: noop, no commit
    v_before = view.latest_version()
    assert refresh_join_view(spark, left, right, view, join_fn)["mode"] == "noop"
    assert view.latest_version() == v_before
    # compaction on a base breaks the append-only window: refuse loudly,
    # recover with a full refresh
    left.optimize(spark, target_rows_per_file=1000)
    left.commit(lbatch(range(30, 35)), mode="append")
    with pytest.raises(ValueError, match="not append-only"):
        refresh_join_view(spark, left, right, view, join_fn)
    s = full_refresh_join_view(spark, left, right, view, join_fn)
    assert s["mode"] == "full"
    check()
    # and incremental resumes cleanly on top of the full refresh
    left.commit(lbatch(range(35, 40)), mode="append")
    assert refresh_join_view(spark, left, right, view, join_fn)["mode"] == "incremental"
    check()


def test_mv_agg_refresh_matches_full_recompute(spark, tmp_path):
    """refresh_agg_view: partial-state view over appends equals the full
    recompute at every step; refresh REPLACES the tiny state snapshot;
    a compacted base window is refused."""
    from nyc_taxi_etl_pyspark_spark.operators.mv import refresh_agg_view

    base = TransactionalTable(str(tmp_path / "B"))
    view = TransactionalTable(str(tmp_path / "V"))

    def batch(ids):
        return spark.createDataFrame(
            [(i, "t" + str(i % 3), float(i)) for i in ids],
            "id int, k string, v double",
        )

    def partial_fn(df):
        return df.groupBy("k").agg(
            F.count("*").alias("__c"), F.sum("v").alias("__s")
        )

    def merge_fn(states):
        return states.groupBy("k").agg(
            F.sum("__c").alias("__c"), F.sum("__s").alias("__s")
        )

    def check():
        got = sorted(map(tuple, view.read(spark).collect()))
        want = sorted(map(tuple, partial_fn(base.read(spark)).collect()))
        assert got == want

    base.commit(batch(range(20)))
    assert refresh_agg_view(spark, base, view, partial_fn, merge_fn)["mode"] == "full"
    check()
    base.commit(batch(range(20, 50)), mode="append")
    s = refresh_agg_view(spark, base, view, partial_fn, merge_fn)
    assert s["mode"] == "incremental"
    check()
    assert refresh_agg_view(spark, base, view, partial_fn, merge_fn)["mode"] == "noop"
    base.optimize(spark, target_rows_per_file=1000)
    base.commit(batch(range(50, 60)), mode="append")
    with pytest.raises(ValueError, match="not append-only"):
        refresh_agg_view(spark, base, view, partial_fn, merge_fn)


def test_mv_refresh_race_conflicts_not_double_applies(spark, tmp_path):
    """Two refreshers deriving from the same view version: the loser
    must get CommitConflict (not silently append the same delta twice);
    its retry then sees the updated state and no-ops."""
    from nyc_taxi_etl_pyspark_spark.operators.mv import refresh_join_view

    left = TransactionalTable(str(tmp_path / "L"))
    right = TransactionalTable(str(tmp_path / "R"))
    view = TransactionalTable(str(tmp_path / "V"))

    def join_fn(l, r):
        return l.join(r, l["k"] == r["rk"]).select("lid", "k", "rv")

    left.commit(spark.createDataFrame([(1, 0), (2, 1)], "lid int, k int"))
    right.commit(spark.createDataFrame([(0, 100), (1, 200)], "rk int, rv int"))
    refresh_join_view(spark, left, right, view, join_fn)
    left.commit(
        spark.createDataFrame([(3, 0)], "lid int, k int"), mode="append"
    )
    # refresher A wins
    s = refresh_join_view(spark, left, right, view, join_fn)
    assert s["mode"] == "incremental"
    # refresher B raced from the OLD view manifest: simulate by rolling
    # the recorded state back to what B would have read (the pre-A
    # manifest), then refreshing against current bases — expect_version
    # pins the view at the stale version, so the commit must conflict.
    import json as _json

    stale = view.manifest(s["view_version"] - 1)
    assert stale is not None
    # B's in-flight computation replayed directly through the operator:
    # monkeypatch manifest() once to return the stale view state
    real_manifest = view.manifest
    calls = {"n": 0}

    def stale_once(version=None):
        if calls["n"] == 0 and version is None:
            calls["n"] += 1
            return stale
        return real_manifest(version)

    view.manifest = stale_once  # type: ignore[method-assign]
    try:
        with pytest.raises(CommitConflict):
            refresh_join_view(spark, left, right, view, join_fn)
    finally:
        view.manifest = real_manifest  # type: ignore[method-assign]
    # B retries from fresh state: nothing left to apply
    assert refresh_join_view(spark, left, right, view, join_fn)["mode"] == "noop"
    got = sorted(map(tuple, view.read(spark).collect()))
    want = sorted(
        map(tuple, join_fn(left.read(spark), right.read(spark)).collect())
    )
    assert got == want


def test_metadata_count_and_timestamp_as_of(spark, tmp_path):
    """count() answers from the manifest (no scan) and stays exact
    through append/delete/optimize; read(as_of_timestamp=...) resolves
    the snapshot committed at or before the instant."""
    import time as _time

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(10).select("id"))
    ts_v0 = _time.time()
    assert t.count() == 10
    _time.sleep(0.05)
    t.commit(spark.range(10, 25).select("id"), mode="append")
    assert t.count() == 25
    assert t.count(version=0) == 10
    # timestamp as-of: an instant between the commits resolves v0
    assert t.version_as_of(ts_v0) == 0
    assert t.read(spark, as_of_timestamp=ts_v0).count() == 10
    assert t.read(spark, as_of_timestamp=_time.time()).count() == 25
    with pytest.raises(FileNotFoundError, match="no retained version"):
        t.version_as_of(ts_v0 - 3600)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, version=0, as_of_timestamp=ts_v0)
    # count stays exact through mutation + maintenance
    t.delete(spark, [("id", None, 4)])
    assert t.count() == 20
    t.optimize(spark, target_rows_per_file=1000)
    assert t.count() == 20
    assert t.count() == t.read(spark).count()


def test_read_appended_partitioned_layout_rebuilds_partition_columns(spark, tmp_path):
    """read_appended on a hive-partitioned table must surface the
    partition columns (kept in the data pages) and return only the appended
    rows across partitions."""
    t = TransactionalTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, grp string"
    )
    t.commit(df1, partition_by=["grp"])
    df2 = spark.createDataFrame(
        [(3, "a"), (4, "c")], "id int, grp string"
    )
    t.commit(df2, mode="append", partition_by=["grp"])
    d = t.read_appended(spark, 0)
    assert sorted(d.columns) == ["grp", "id"]
    assert sorted((r["id"], r["grp"]) for r in d.collect()) == [(3, "a"), (4, "c")]


def test_expectations_compose_with_partitioned_commit(spark, tmp_path):
    """commit_with_expectations must pass layout kwargs through: the
    gated commit lands hive-partitioned, partition pruning works on the
    passing rows, and the quarantine still captures violators."""
    df = spark.createDataFrame(
        [(i, "g" + str(i % 3), float(i)) for i in range(30)],
        "id int, grp string, v double",
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit_with_expectations(
        df, {"id_not_5": "id % 5 != 0"}, partition_by=["grp"]
    )
    m = t.manifest()
    assert m["partition_by"] == ["grp"]
    pruned = t.read(spark, partitions={"grp": ["g1"]})
    ids = sorted(r["id"] for r in pruned.collect())
    assert ids == [i for i in range(30) if i % 3 == 1 and i % 5 != 0]
    q = TransactionalTable(str(tmp_path / "t_quarantine"))
    assert q.read(spark).count() == 6  # ids 0,5,10,15,20,25


def test_mv_agg_refresh_over_partitioned_base(spark, tmp_path):
    """refresh_agg_view over a hive-partitioned base: read_appended
    rebuilds partition columns for the delta, so partition-keyed
    aggregates stay correct across refreshes."""
    from nyc_taxi_etl_pyspark_spark.operators.mv import refresh_agg_view

    base = TransactionalTable(str(tmp_path / "B"))
    view = TransactionalTable(str(tmp_path / "V"))

    def batch(ids):
        return spark.createDataFrame(
            [(i, "d" + str(i % 2), float(i)) for i in ids],
            "id int, day string, v double",
        )

    def partial_fn(df):
        return df.groupBy("day").agg(
            F.count("*").alias("__c"), F.sum("v").alias("__s")
        )

    def merge_fn(states):
        return states.groupBy("day").agg(
            F.sum("__c").alias("__c"), F.sum("__s").alias("__s")
        )

    base.commit(batch(range(10)), partition_by=["day"])
    refresh_agg_view(spark, base, view, partial_fn, merge_fn)
    base.commit(batch(range(10, 30)), mode="append", partition_by=["day"])
    s = refresh_agg_view(spark, base, view, partial_fn, merge_fn)
    assert s["mode"] == "incremental"
    got = sorted(map(tuple, view.read(spark).collect()))
    want = sorted(map(tuple, partial_fn(base.read(spark)).collect()))
    assert got == want


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    """restore(v): a new manifest re-lists the target snapshot's files
    (no data copied — file keys identical), the read equals the old
    snapshot, history keeps the intermediate versions, sticky replay
    meta survives, and vacuum after restore never deletes files the
    restored head references."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(_snapshot_df(spark, 0, 30), num_files=2)
    good = t.manifest()
    t.commit(_snapshot_df(spark, 1, 7), num_files=2)  # the "bad" write
    v = t.restore(0)
    assert v == 2
    m = t.manifest()
    assert m["meta"]["op"] == "restore"
    assert m["meta"]["restored_version"] == 0
    assert sorted(m["files"]) == sorted(good["files"])  # shared, not copied
    got = t.read(spark)
    assert got.count() == 30 and got.agg(F.max("v")).first()[0] == 0
    assert t.count() == 30
    # the bad version stays auditable until vacuumed
    assert t.read(spark, version=1).agg(F.max("v")).first()[0] == 1
    # vacuum keeps every file the retained heads reference
    t.vacuum(retain_versions=2, unreferenced_grace_s=0)
    assert t.read(spark).count() == 30
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.restore(99)


def test_restore_conflicts_under_expect_version(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(_snapshot_df(spark, 0, 10))
    t.commit(_snapshot_df(spark, 1, 10))
    with pytest.raises(CommitConflict):
        t.restore(0, expect_version=0)  # table is at v1
    assert t.restore(0, expect_version=1) == 2


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_protocol_state_machine_fuzz(spark, tmp_path, seed):
    """Seeded random interleavings of the table's whole DML surface —
    append / replace / band-delete / optimize / restore / vacuum —
    checked after EVERY op against a pure-Python model of the expected
    row multiset, plus fsck() consistency and metadata count()
    exactness. Catches protocol seams (retained-file arithmetic, stats
    carry, restore-after-delete, vacuum-after-restore) that targeted
    tests can miss."""
    import random

    rng = random.Random(seed)
    t = TransactionalTable(str(tmp_path / "t"))
    t.checkpoint_interval = 3  # fuzz across delta-log checkpoint boundaries

    def batch(ids):
        return spark.createDataFrame([(i,) for i in ids], "id int")

    model: list[int] = []
    history: list[list[int]] = []  # model snapshot per committed version
    next_id = 0

    def do_append():
        nonlocal next_id
        n = rng.randint(5, 40)
        ids = list(range(next_id, next_id + n))
        next_id += n
        t.commit(batch(ids), mode="append", num_files=rng.randint(1, 3))
        model.extend(ids)

    def do_replace():
        nonlocal next_id
        n = rng.randint(5, 30)
        ids = list(range(next_id, next_id + n))
        next_id += n
        t.commit(batch(ids), num_files=rng.randint(1, 3))
        model[:] = ids

    def do_delete():
        if not model:
            return
        lo = rng.choice(model)
        hi = lo + rng.randint(0, 20)
        t.delete(spark, [("id", lo, hi)])
        model[:] = [i for i in model if not (lo <= i <= hi)]

    def do_optimize():
        if t.exists() and t.count() > 0:
            t.optimize(spark, target_rows_per_file=50)
            # content unchanged

    def do_optimize_incremental():
        if t.exists() and t.count() > 0:
            t.optimize_incremental(spark, target_rows_per_file=50)
            # content unchanged; may be a commit-free no-op

    def do_restore():
        vs = [v for v in t.versions() if v < t.latest_version()]
        if not vs:
            return
        v = rng.choice(vs)
        t.restore(v)
        model[:] = list(history[v])

    def do_vacuum():
        t.vacuum(retain_versions=3, unreferenced_grace_s=0)
        # rewrites history indices? versions keep their numbers; older
        # manifests vanish — restore() targets must come from versions()

    ops = [
        do_append,
        do_replace,
        do_delete,
        do_optimize,
        do_optimize_incremental,
        do_restore,
        do_vacuum,
    ]
    do_replace()  # establish the table
    history_fill = lambda: history.extend(
        [list(model)] * (t.latest_version() + 1 - len(history))
    )
    history_fill()
    for _ in range(14):
        op = rng.choice(ops)
        before_v = t.latest_version()
        op()
        history_fill()
        # postconditions after EVERY op
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == sorted(model), f"{op.__name__} diverged (seed {seed})"
        assert t.count() == len(model)
        f = t.fsck()
        assert f["ok"], f
        assert t.latest_version() >= before_v


@pytest.mark.parametrize("seed", [5, 61])
def test_protocol_fuzz_with_merge_and_expectations(spark, tmp_path, seed):
    """Fuzz v2 over a keyed-value table: MERGE (latest-wins upsert) and
    gated commits join the op mix, the model is a key->value dict, and
    every op's result is checked against it plus fsck/count."""
    import random

    rng = random.Random(seed)
    t = TransactionalTable(str(tmp_path / "t"))
    t.checkpoint_interval = 3  # fuzz across delta-log checkpoint boundaries
    model: dict[int, int] = {}
    history: list[dict[int, int]] = []

    def frame(d):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(d.items())], "id int, v int"
        )

    def do_merge():
        from nyc_taxi_etl_pyspark_spark.operators.merge import merge_upsert  # noqa: F401

        upd = {
            rng.randint(0, 60): rng.randint(0, 999)
            for _ in range(rng.randint(1, 15))
        }
        t.merge(spark, frame(upd), ["id"])
        model.update(upd)

    def do_gated_replace():
        cand = {
            rng.randint(0, 60): rng.randint(0, 999)
            for _ in range(rng.randint(5, 20))
        }
        t.commit_with_expectations(
            frame(cand), {"v_small": "v < 900"}, on_violation="drop"
        )
        model.clear()
        model.update({k: v for k, v in cand.items() if v < 900})

    def do_append_new():
        base = max(model, default=-1) + 100
        add = {base + i: rng.randint(0, 999) for i in range(rng.randint(1, 8))}
        t.commit(frame(add), mode="append")
        model.update(add)

    def do_optimize():
        if t.exists() and t.count() > 0:
            t.optimize(spark, target_rows_per_file=40)

    def do_restore():
        vs = [v for v in t.versions() if v < t.latest_version()]
        if vs:
            v = rng.choice(vs)
            t.restore(v)
            model.clear()
            model.update(history[v])

    def do_vacuum():
        t.vacuum(retain_versions=3, unreferenced_grace_s=0)

    t.commit(frame({i: i for i in range(20)}))
    model.update({i: i for i in range(20)})

    def fill():
        while len(history) < t.latest_version() + 1:
            history.append(dict(model))

    fill()
    ops = [do_merge, do_gated_replace, do_append_new, do_optimize, do_restore, do_vacuum]
    for _ in range(12):
        op = rng.choice(ops)
        op()
        fill()
        got = sorted((r["id"], r["v"]) for r in t.read(spark).collect())
        assert got == sorted(model.items()), f"{op.__name__} diverged (seed {seed})"
        assert t.count() == len(model)
        assert t.fsck()["ok"]


def test_expectations_conflict_does_not_double_quarantine(spark, tmp_path):
    """A CommitConflict on the gated MAIN commit (stale expect_version)
    must leave the quarantine untouched, so the caller's retry appends
    violators exactly once."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import CommitConflict

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(5).select("id"))  # table now at v0
    df = spark.range(10).select("id")
    with pytest.raises(CommitConflict):
        t.commit_with_expectations(
            df, {"small": "id < 8"}, expect_version=99
        )
    q = TransactionalTable(str(tmp_path / "t_quarantine"))
    assert not q.exists()  # nothing quarantined by the failed attempt
    t.commit_with_expectations(df, {"small": "id < 8"}, expect_version=0)
    assert q.read(spark).count() == 2  # exactly once after the retry


def test_listing_threshold_restored_after_manifest_read(spark, tmp_path):
    """ADVICE r6: the parallel-listing-threshold override must be
    scoped to the manifest-planned read, not ratcheted session-wide —
    unrelated directory scans in the same session keep Spark's
    parallel listing."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prior = spark.conf.get(key)
    t = TransactionalTable(str(tmp_path / "t_thresh"))
    # > default threshold (32) files so the override actually fires
    t.commit(spark.range(200).repartition(40), num_files=40)
    assert t.read(spark).count() == 200
    assert spark.conf.get(key) == prior


def test_bloom_probe_cross_representation_equality(spark, tmp_path):
    """Blooms canonicalize by LOGICAL VALUE (format v2): a probe that
    Spark's residual equality would match after implicit cast — string
    literal vs date column, differently-scaled Decimal, bool vs int —
    must never be a bloom FALSE NEGATIVE (a wrongly skipped file that
    silently empties the read)."""
    import datetime
    from decimal import Decimal

    df = spark.range(2000).select(
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 365).cast("int")).alias("d"),
        (F.col("id") % 2 == 0).alias("flag"),
        (F.col("id") + F.lit(0.5)).cast("decimal(10,2)").alias("amt"),
        # fractional-second timestamps: Spark renders '.5', Python
        # str() pads '.500000' — the bloom canon must hash one form
        (
            F.timestamp_seconds(F.lit(1578182400) + (F.col("id") % 365) * 86400)
            + F.expr("INTERVAL 500 MILLISECONDS")
        ).alias("ts"),
        F.col("id").alias("payload"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df.repartition(8), bloom_by=["d", "flag", "amt", "ts"], num_files=8)
    # date column probed as ISO string AND as date object
    for probe in ("2020-01-05", datetime.date(2020, 1, 5)):
        got = sorted(
            r.payload for r in t.read(spark, equals={"d": probe}).collect()
        )
        assert got == [4, 369, 734, 1099, 1464, 1829], f"probe {probe!r}"
    # decimal column (stored scale 2) probed as Decimal of another
    # scale, as float, and as the exact-scale Decimal
    for probe in (Decimal("7.5"), 7.5, Decimal("7.50")):
        got = [r.payload for r in t.read(spark, equals={"amt": probe}).collect()]
        assert got == [7], f"probe {probe!r}"
    # fractional-second timestamp probed in Spark's trimmed string
    # rendering AND as naive/aware datetime objects — the padded-vs-
    # trimmed (and tz-aware-vs-naive) divergence must not skip the file
    for probe in (
        "2020-01-05 00:00:00.5",
        # ADVICE r6 regression: 'T'-separated / fraction-padded / Z-
        # suffixed string forms of the SAME instant previously hashed
        # raw at probe time (build side hashed Spark's trimmed space-
        # separated rendering) => bloom FALSE NEGATIVE, silently empty
        # read. prune_files now canonicalizes temporal eq probes
        # through _canon_temporal_cmp before bloom_might_contain.
        "2020-01-05T00:00:00.5",
        "2020-01-05T00:00:00.500000",
        "2020-01-05 00:00:00.500000",
        "2020-01-05T00:00:00.5Z",
        datetime.datetime(2020, 1, 5, 0, 0, 0, 500000),
        datetime.datetime(
            2020, 1, 5, 0, 0, 0, 500000, tzinfo=datetime.timezone.utc
        ),
    ):
        got = sorted(
            r.payload for r in t.read(spark, equals={"ts": probe}).collect()
        )
        assert got == [0, 365, 730, 1095, 1460, 1825], f"probe {probe!r}"
    # bool column probed as bool end-to-end; the int form is checked
    # at the bloom level only (Spark's ANSI residual rejects bool = int,
    # so an int probe errors loudly rather than returning empty)
    assert t.read(spark, equals={"flag": True}).count() == 1000
    from nyc_taxi_etl_pyspark_spark.sources.txtable import bloom_might_contain

    m = t.manifest()
    flag_blooms = [
        t._bloom_sidecar(s["bloom_ref"]).get(f, {}).get("flag")
        for f, s in m["stats"].items()
        if "bloom_ref" in s
    ]
    flag_blooms = [b for b in flag_blooms if b is not None]
    assert flag_blooms and all(
        bloom_might_contain(b, True) == bloom_might_contain(b, 1)
        for b in flag_blooms
    )


def test_sql_delete_temporal_literal_hits_bloomed_files(spark, tmp_path):
    """ADVICE r6 end-to-end regression: the SQL DML path feeds raw
    literal strings into bloom eq probes, so ``DELETE ... WHERE ts =
    TIMESTAMP '2020-01-05T00:00:00.500000'`` (T separator, padded
    fraction) previously bloom-skipped every file containing the rows
    — the DELETE silently deleted nothing. With temporal probe
    canonicalization the files prune IN and the rows go."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    df = spark.range(400).select(
        (
            F.timestamp_seconds(
                F.lit(1578182400) + (F.col("id") % 50) * 86400
            )
            + F.expr("INTERVAL 500 MILLISECONDS")
        ).alias("ts"),
        F.col("id").alias("payload"),
    )
    t = TransactionalTable(str(tmp_path / "t_sqldel_ts"))
    t.commit(df.repartition(4), bloom_by=["ts"], num_files=4)
    res = execute_dml(
        spark,
        "DELETE FROM tbl WHERE ts = TIMESTAMP '2020-01-05T00:00:00.500000'",
        tables={"tbl": t},
    )
    assert res["rows_deleted"] == 8  # ids with id % 50 == 0
    remaining = t.read(spark)
    assert remaining.count() == 392
    assert (
        remaining.where("payload % 50 = 0").count() == 0
    ), "rows survived the DELETE (bloom false negative)"


def test_prune_files_in_list_none_and_mixed_types(spark, tmp_path):
    """An IN-list containing None (asking for NULLs) or mixed types
    must degrade to a conservative keep — never crash the read, never
    wrongly exclude."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import prune_files

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.col("id")).alias("s"),
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, cluster_by=["k"], num_files=4, bloom_by=["s"])
    m = t.manifest()
    # None-only IN-list: no range/bloom proof possible -> all files kept
    assert prune_files(m, None, [("k", [None])]) == m["files"]
    # mixed-type IN-list: min()/max() would TypeError -> no range band,
    # files kept (not crashed); the real key still prunes by range
    kept = prune_files(m, None, [("k", [5, "not-a-number"])])
    assert kept == m["files"]
    kept_typed = prune_files(m, None, [("k", [5])])
    assert len(kept_typed) == 1
    # None mixed into a bloom-indexed string IN-list: None is dropped
    # from the probe (SQL IN never matches NULL) and the real key wins
    kept_s = t.prune(equals=[("s", ["u7", None])])
    assert 1 <= len(kept_s) <= len(m["files"])
    got = t.read(spark, equals={"s": ["u7", None]}).collect()
    assert [r.k for r in got] == [7]
    # end-to-end: the read path with a None-bearing IN-list on the
    # range-clustered key neither crashes nor returns NULL-matched rows
    assert t.read(spark, equals={"k": [None]}).count() == 0


def test_empty_prune_on_evolved_table_keeps_table_schema(spark, tmp_path):
    """When pruning excludes EVERY file of a schema-evolved table, the
    empty frame must carry the MANIFEST (union) schema: a residual
    filter on an evolved column must not raise, and the empty result
    must union cleanly with a full read."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(10).selectExpr("id", "cast(id * 2 as double) v"))
    t.commit(
        spark.range(10, 20).selectExpr(
            "id", "cast(id * 2 as double) v", "concat('t', id) tag"
        ),
        mode="append",
        allow_schema_evolution=True,
    )
    # the v-band excludes every file; the residual ALSO references the
    # evolved column, which the oldest file's footer does not carry
    got = t.read(spark, where=[("v", 1e12, None), ("tag", "a", None)])
    assert got.count() == 0
    full = t.read(spark)
    assert set(got.columns) == set(full.columns)
    assert full.unionByName(got).count() == full.count()


def _spy_driver_file_io(monkeypatch, calls):
    """Count DRIVER-side per-file publish work. Executor workers import
    the real module in their own processes, so these driver-process
    patches do not reach them — a zero count is therefore proof the
    per-file work ran distributed, and a serial fallback would bump the
    counters loudly."""
    import nyc_taxi_etl_pyspark_spark.sources.txtable as tx

    orig_upload = tx.LocalStorage.upload_file
    orig_stats = tx.collect_file_stats
    orig_bloom = tx.build_bloom_stats

    def spy_upload(self, local, key):
        calls["upload"] += 1
        return orig_upload(self, local, key)

    def spy_stats(path):
        calls["stats"] += 1
        return orig_stats(path)

    def spy_bloom(path, cols):
        calls["bloom"] += 1
        return orig_bloom(path, cols)

    monkeypatch.setattr(tx.LocalStorage, "upload_file", spy_upload)
    monkeypatch.setattr(tx, "collect_file_stats", spy_stats)
    monkeypatch.setattr(tx, "build_bloom_stats", spy_bloom)


def test_commit_publish_is_distributed_no_per_file_driver_io(
    spark, tmp_path, monkeypatch
):
    """Committing a 1,000-file table performs ZERO per-file driver I/O:
    upload, footer-stat harvest and bloom build all run inside one
    distributed publish job (the writer-task-committer shape), and the
    driver handles only the manifest metadata. Stats/blooms/row counts
    must come back complete — identical to what the serial path
    collects."""
    calls = {"upload": 0, "stats": 0, "bloom": 0}
    _spy_driver_file_io(monkeypatch, calls)
    df = spark.range(20_000).selectExpr(
        "id", "id % 97 as k", "cast(id as double) v"
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, num_files=1000, bloom_by=["k"])
    assert calls == {"upload": 0, "stats": 0, "bloom": 0}, calls
    m = t.manifest()
    assert len(m["files"]) == 1000
    # every file's stats entry is complete: rows, min/max cols, bloom
    assert all(
        "rows" in m["stats"][f] and "bloom_ref" in m["stats"][f]
        for f in m["files"]
    )
    assert t.count() == 20_000  # metadata-only count from footer sums
    # bloom point-read over the distributed-built index stays exact
    got = t.read(spark, equals={"k": 5}).count()
    assert got == df.where("k = 5").count()
    assert t.fsck()["ok"]


def test_distributed_publish_preserves_partition_values(
    spark, tmp_path, monkeypatch
):
    """The distributed publish ships hive partition values through the
    job unchanged: partition pruning and path reconstruction behave
    exactly as under the serial path."""
    calls = {"upload": 0, "stats": 0, "bloom": 0}
    _spy_driver_file_io(monkeypatch, calls)
    df = spark.range(400).selectExpr(
        "id", "concat('g', id % 4) as grp", "cast(id as double) v"
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.distributed_publish_min_files = 1  # force the distributed path
    t.commit(df, partition_by=["grp"])
    assert calls["upload"] == 0 and calls["stats"] == 0
    m = t.manifest()
    assert all(
        m["stats"][f]["partition"]["grp"].startswith("g") for f in m["files"]
    )
    pruned = t.read(spark, partitions={"grp": ["g2"]})
    assert pruned.count() == 100
    assert {r.grp for r in pruned.select("grp").distinct().collect()} == {"g2"}


def test_distributed_publish_falls_back_on_unpicklable_storage(
    spark, tmp_path, monkeypatch
):
    """A storage subclass the workers cannot reconstruct must not fail
    the commit: the publish falls back to the driver-side loop and the
    committed table is byte-identical in behavior."""
    class UnpicklableStorage(LocalStorage):
        def __init__(self, root):
            super().__init__(root)
            self._lock = threading.Lock()  # unpicklable attribute

        def __reduce__(self):
            raise TypeError("deliberately unpicklable")

    root = str(tmp_path / "t")
    t = TransactionalTable(root, storage=UnpicklableStorage(root))
    t.distributed_publish_min_files = 1
    df = spark.range(100).selectExpr("id", "cast(id as double) v")
    t.commit(df, num_files=4)
    assert t.count() == 100
    assert len(t.manifest()["files"]) == 4
    assert t.read(spark).count() == 100


def _v2_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "b", 3.5), (4, "a", 4.5)],
        "id int, grp string, v double",
    )


def test_layout_v2_writes_data_bytes_once_at_final_keys(
    spark, tmp_path, monkeypatch
):
    """New tables commit in layout v2: executor tasks write the data
    files DIRECTLY at their final keys (one commit-scoped dir, shadow
    hive segments) — no staging temp dir is ever created and no
    per-file upload happens, so the data bytes are written exactly
    once. Pages keep the partition columns: schema order and types
    survive a read byte-exact, without basePath reconstruction."""
    import re
    import tempfile as _tf

    import nyc_taxi_etl_pyspark_spark.sources.txtable as tx

    uploads = []
    orig_upload = tx.LocalStorage.upload_file
    monkeypatch.setattr(
        tx.LocalStorage,
        "upload_file",
        lambda self, local, key: (uploads.append(key), orig_upload(self, local, key)),
    )

    def _no_staging(*a, **k):  # any staging mkdtemp = double write
        raise AssertionError("layout v2 commit must not stage locally")

    monkeypatch.setattr(_tf, "mkdtemp", _no_staging)
    df = _v2_df(spark)
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, partition_by=["grp"], bloom_by=["id"])
    m = t.manifest()
    assert m["meta"]["layout"] == 2
    assert uploads == []
    key_re = re.compile(
        r"^data/c[0-9a-f]{32}/__p_grp=[^/]+/[^/]+\.parquet$"
    )
    assert all(key_re.match(f) for f in m["files"]), m["files"]
    got = t.read(spark)
    # exact schema: original column ORDER and TYPES
    assert got.schema == df.schema
    assert sorted(got.collect(), key=lambda r: r.id) == sorted(
        df.collect(), key=lambda r: r.id
    )
    # partition pruning + NULL partition + bloom point read all work
    assert t.read(spark, partitions={"grp": ["a"]}).count() == 2
    assert t.read(spark, partitions={"grp": [None]}).count() == 1
    assert t.read(spark, equals={"id": 3}).count() == 1
    # partition columns now have footer stats: band pruning on grp
    stats = m["stats"][m["files"][0]]
    assert "rows" in stats and "partition" in stats
    # no write artifacts (_SUCCESS / .crc) left under the commit dir
    cdir = os.path.dirname(os.path.dirname(m["files"][0]))
    leftovers = [
        os.path.join(dp, f)
        for dp, _, fns in os.walk(t.storage.url(cdir))
        for f in fns
        if not f.endswith(".parquet")
    ]
    assert leftovers == []


def test_layout_v2_maintenance_stays_v2_and_reads_pin(spark, tmp_path):
    """Append, delete, incremental optimize and full optimize on a v2
    table keep the layout flag, mix commit dirs freely in one
    snapshot, and time travel keeps every version readable."""
    df = _v2_df(spark)
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, partition_by=["grp"])
    t.commit(
        spark.createDataFrame([(9, "c", 9.5)], "id int, grp string, v double"),
        mode="append",
        partition_by=["grp"],
    )
    m = t.manifest()
    assert m["meta"]["layout"] == 2
    # snapshot spans TWO commit dirs; read unifies them without basePath
    cdirs = {f.split("/")[1] for f in m["files"]}
    assert len(cdirs) == 2
    assert t.read(spark).count() == 5
    assert t.read(spark, partitions={"grp": ["c"]}).count() == 1
    t.delete(spark, [("id", 4, 4)])
    assert t.read(spark).count() == 4
    assert t.manifest()["meta"]["layout"] == 2
    res = t.optimize_incremental(spark, target_rows_per_file=1000)
    assert t.manifest()["meta"]["layout"] == 2
    t.optimize(spark)
    assert t.manifest()["meta"]["layout"] == 2
    assert t.read(spark).count() == 4
    assert t.read(spark, version=1).count() == 5  # pre-delete snapshot


def test_layout_v2_format_survives_non_direct_storage(spark, tmp_path):
    """A storage without direct-write capability changes TRANSPORT,
    not format: the commit stages locally and publishes the identical
    v2-format files (commit-dir keys, shadow segments, partition
    columns in pages), so appends from a direct-capable handle mix
    freely in the same snapshot."""
    import re

    df = _v2_df(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.storage.supports_direct_write = False  # e.g. an encrypting wrapper
    t.commit(df, partition_by=["grp"])
    m = t.manifest()
    assert m["meta"]["layout"] == 2
    key_re = re.compile(r"^data/c[0-9a-f]{32}/__p_grp=[^/]+/.+\.parquet$")
    assert all(key_re.match(f) for f in m["files"]), m["files"]
    got = t.read(spark)
    assert got.schema == df.schema and got.count() == 4
    # a direct-capable handle appends the same format
    t2 = TransactionalTable(root)
    t2.commit(
        spark.createDataFrame([(9, "c", 9.5)], "id int, grp string, v double"),
        mode="append",
        partition_by=["grp"],
    )
    assert t2.read(spark).count() == 5
    assert t2.read(spark, partitions={"grp": ["c"]}).count() == 1


@pytest.mark.parametrize("found", [1, None], ids=["layout_1", "layout_missing"])
def test_superseded_table_format_rejected(spark, tmp_path, found):
    """Every superseded on-disk format meets one clear ValueError from
    the single format gate. The old formats are fabricated by editing
    the raw ``_commits/`` records of a fresh table: ``meta.layout`` set
    to 1 (the path-partitioned format) or deleted (tables older than
    the flag). ``manifest``, ``read`` and predicated planning over a
    sharded checkpoint all refuse the snapshot instead of reading it
    under the current format's rules, and a commit asking for another
    format raises rather than being ignored."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root, checkpoint_interval=1, checkpoint_shard_files=8)
    ids = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    t.commit(ids(0, 200), cluster_by=["id"], num_files=16)
    t.commit(ids(200, 400), mode="append", cluster_by=["id"], num_files=16)
    t.checkpoint_interval = 10**9  # version 2: a delta past v1's sharded checkpoint
    t.commit(ids(400, 420), mode="append", num_files=2)
    band = [("id", 5, 9)]
    sharded = TransactionalTable(root, checkpoint_shard_files=8)
    assert sharded._planning_manifest(None, band, None, None)["pruned_view"]

    for key in t.storage.list("_commits"):
        raw = json.loads(t.storage.read(key))
        if found is None:
            raw["meta"].pop("layout")
        else:
            raw["meta"]["layout"] = found
        with open(t.storage.url(key), "w") as f:
            json.dump(raw, f)

    msg = rf"{re.escape(root)}: snapshot v2 has table format layout={found}"
    with pytest.raises(ValueError, match=msg):
        TransactionalTable(root).manifest()
    with pytest.raises(ValueError, match=msg):
        TransactionalTable(root).read(spark)
    cold = TransactionalTable(root, checkpoint_shard_files=8)
    with pytest.raises(ValueError, match=msg):
        cold._planning_manifest(None, band, None, None)
    with pytest.raises(ValueError, match=msg):
        cold.read(spark, where=band)

    fresh = TransactionalTable(str(tmp_path / "fresh"))
    with pytest.raises(ValueError, match=r"meta\['layout'\]=1"):
        fresh.commit(ids(0, 10), meta={"layout": 1})
    assert fresh.latest_version() == -1


def _dml_table(spark, tmp_path, name):
    from nyc_taxi_etl_pyspark_spark.sources.txsql import register_dml_target

    t = TransactionalTable(str(tmp_path / name))
    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)],
        "id int, grp string, v double",
    )
    t.commit(df, partition_by=["grp"], bloom_by=["id"], cluster_by=["id"])
    register_dml_target(name, t)
    return t


def test_sql_dml_update_delete_roundtrip_and_pruning(spark, tmp_path):
    """UPDATE/DELETE statement text routes to copy-on-write rewrites
    that PRUNE: band conjuncts in the WHERE reach the manifest's
    zone maps, so files provably outside the predicate are retained
    byte-for-byte. Assignment RHS evaluates against the OLD row,
    NULL-predicate rows keep SQL three-valued semantics, aliases
    strip."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = _dml_table(spark, tmp_path, "txdml_ud")
    n_files = len(t.manifest()["files"])
    r = execute_dml(
        spark,
        "UPDATE txdml_ud AS a SET v = a.v * 2, grp = upper(a.grp) "
        "WHERE a.id <= 9 AND a.id % 2 = 0",
    )
    assert r["op"] == "update" and r["rows_updated"] == 5
    # band id <= 9 pruned the clustered layout: most files untouched
    assert r["files_rewritten"] < n_files
    got = {row.id: (row.grp, row.v) for row in t.read(spark).collect()}
    assert got[4] == ("G1", 8.0)  # updated: RHS saw the OLD row
    assert got[5] == ("g2", 5.0)  # odd id: untouched
    assert got[12] == ("g0", 12.0)  # outside band: untouched
    r = execute_dml(spark, "DELETE FROM txdml_ud WHERE id BETWEEN 20 AND 24")
    assert r["rows_deleted"] == 5 and r["files_rewritten"] < n_files
    assert t.read(spark).count() == 25
    # schema never drifts across DML
    assert t.manifest()["schema"] == {
        "id": "int",
        "grp": "string",
        "v": "double",
    }


def test_sql_dml_merge_insert_and_view_integration(spark, tmp_path):
    """MERGE INTO (upsert-all form, named view or subquery source) and
    INSERT INTO route through create_view's auto-registered name;
    INSERT casts the query to the table schema (decimal literal →
    double) and lands in the right hive partition."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = _dml_table(spark, tmp_path, "txdml_mi_raw")
    t.create_view(spark, "txdml_mi")  # registers the DML target too
    spark.createDataFrame(
        [(1, "zz", 100.0), (999, "g0", 9.0)], "id int, grp string, v double"
    ).createOrReplaceTempView("txdml_ups")
    r = execute_dml(
        spark,
        "MERGE INTO txdml_mi AS t USING txdml_ups AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    assert r["op"] == "merge"
    rows = {row.id: (row.grp, row.v) for row in t.read(spark).collect()}
    assert rows[1] == ("zz", 100.0) and rows[999] == ("g0", 9.0)
    assert len(rows) == 31
    execute_dml(
        spark, "INSERT INTO txdml_mi SELECT 500 AS id, 'g9' AS grp, 1.5 AS v"
    )
    assert t.read(spark, partitions={"grp": ["g9"]}).count() == 1
    execute_dml(
        spark,
        "MERGE INTO txdml_mi USING "
        "(SELECT 500 AS id, 'gX' AS grp, CAST(7.5 AS double) AS v) s "
        "ON txdml_mi.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    rows = {row.id: (row.grp, row.v) for row in t.read(spark).collect()}
    assert rows[500] == ("gX", 7.5)


def test_sql_dml_null_semantics_and_rejects(spark, tmp_path):
    """NULL-evaluating predicates KEEP rows on UPDATE and DELETE
    (three-valued logic); malformed or unsupported statements raise
    ValueError without touching the table."""
    import pytest as _pt

    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = TransactionalTable(str(tmp_path / "t3"))
    t.commit(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 30.0)], "id int, v double"
        )
    )
    from nyc_taxi_etl_pyspark_spark.sources.txsql import register_dml_target

    register_dml_target("txdml_nulls", t)
    execute_dml(spark, "UPDATE txdml_nulls SET id = id + 100 WHERE v > 15")
    assert {r.id for r in t.read(spark).collect()} == {1, 2, 103}
    execute_dml(spark, "DELETE FROM txdml_nulls WHERE v > 15")
    assert {r.id for r in t.read(spark).collect()} == {1, 2}  # NULL kept
    v_before = t.latest_version()
    for bad in (
        "DELETE FROM txdml_nulls",  # unconstrained
        "MERGE INTO txdml_nulls USING x ON a.id = b.id "
        "WHEN MATCHED THEN DELETE",  # unsupported clause
        "UPDATE txdml_nulls SET nope = 1 WHERE id = 1",  # unknown column
        "DROP TABLE txdml_nulls",  # unsupported statement
    ):
        with _pt.raises(ValueError):
            execute_dml(spark, bad)
    assert t.latest_version() == v_before  # nothing committed


_HINT_COLS = ("a", "b", "c")


@st.composite
def _pred_conjuncts(draw):
    """A random SQL conjunction over int col a, float col b, str col c:
    simple comparisons in either orientation, BETWEENs, optional
    wrapping parens, and deliberately-unparseable conjuncts (ORs,
    arithmetic) that must yield NO hint."""
    parts = []
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["cmp", "flip", "between", "opaque"]))
        col = draw(st.sampled_from(_HINT_COLS))
        if col == "a":
            lit = str(draw(st.integers(-20, 20)))
        elif col == "b":
            lit = repr(round(draw(st.floats(-20, 20, allow_nan=False)), 2))
        else:
            raw = draw(st.sampled_from(["x", "qq", "z'z", "m"]))
            lit = "'" + raw.replace("'", "''") + "'"
        op = draw(st.sampled_from(["=", ">=", "<=", ">", "<"]))
        if kind == "cmp":
            p = f"{col} {op} {lit}"
        elif kind == "flip":
            p = f"{lit} {op} {col}"
        elif kind == "between":
            if col == "a":
                lo, hi = sorted(
                    (draw(st.integers(-20, 20)), draw(st.integers(-20, 20)))
                )
                p = f"{col} BETWEEN {lo} AND {hi}"
            else:
                p = f"{col} >= {lit}"
        else:
            p = draw(
                st.sampled_from(
                    [
                        f"({col} = {lit} OR a = 0)",
                        "a + 0 >= -100",
                        "length(c) >= 0",
                    ]
                )
            )
        if draw(st.booleans()):
            p = f"({p})"
        parts.append(p)
    return " AND ".join(parts)


@settings(max_examples=120, deadline=None)
@given(data=st.data())
def test_prune_hints_never_false_exclude_property(data):
    """Adversarial property for ``_sql_predicate_prune_hints`` (the
    DML front door's file pruning): for random predicates — flipped
    orientations, BETWEENs, parens, opaque conjuncts — a file whose
    min/max stats the extracted bands EXCLUDE must truly contain no
    matching row (DuckDB evaluates the predicate text as ground
    truth). Hints may keep too much, never too little."""
    import duckdb

    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _sql_predicate_prune_hints,
        prune_files,
    )

    pred = data.draw(_pred_conjuncts())
    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(-20, 20),
                st.floats(-20, 20, allow_nan=False),
                st.sampled_from(["x", "qq", "z'z", "m"]),
            ),
            min_size=1,
            max_size=6,
        )
    )
    bands, _eqs = _sql_predicate_prune_hints(pred)
    stats_cols = {
        "a": [min(r[0] for r in rows), max(r[0] for r in rows)],
        "b": [min(r[1] for r in rows), max(r[1] for r in rows)],
        "c": [min(r[2] for r in rows), max(r[2] for r in rows)],
    }
    manifest = {
        "files": ["f"],
        "stats": {"f": {"cols": stats_cols}},
        "schema": {"a": "int", "b": "double", "c": "string"},
    }
    kept = prune_files(manifest, bands or None)
    if kept:
        return  # kept: always sound
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(a INTEGER, b DOUBLE, c VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    n = con.execute(f"SELECT count(*) FROM t WHERE {pred}").fetchone()[0]
    assert n == 0, (pred, rows, bands)


def test_fsck_detects_page_vs_manifest_partition_mismatch(spark, tmp_path):
    """Layout v2 gives fsck a new exclusion proof: every row of a file
    shares the ONE partition value its stats record, so a footer whose
    min/max disagree with the manifest (a mis-stitched restore, a
    hand-moved file) is flagged — silent wrong-partition reads become
    an audit finding instead."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "a", 2.5), (3, "b", 3.5), (4, "b", 4.5),
             (5, None, 5.5), (6, None, 6.5)],
            "id int, grp string, v double",
        ).repartition(1),
        partition_by=["grp"],
    )
    assert t.fsck()["ok"]  # clean table: no false alarms (incl. NULLs)
    m = t.manifest()
    victim = next(
        f for f in m["files"] if m["stats"][f]["partition"]["grp"] == "a"
    )
    donor = next(
        f for f in m["files"] if m["stats"][f]["partition"]["grp"] == "b"
    )
    # same row count: the partition check must fire on its own,
    # not ride the row-count mismatch
    assert m["stats"][victim]["rows"] == m["stats"][donor]["rows"]
    # corruption: the 'a' partition's key now holds 'b'-valued pages
    t.storage.delete(victim)
    t.storage.put_if_absent(victim, t.storage.read(donor))
    fresh = TransactionalTable(str(tmp_path / "t"))
    rep = fresh.fsck()
    assert not rep["ok"]
    assert victim in rep["partition_mismatches"]
    assert victim not in rep["row_mismatches"]


def test_crashed_direct_write_is_invisible_and_vacuumed(spark, tmp_path):
    """A layout-v2 commit that crashes AFTER the Spark write but BEFORE
    the manifest put leaves a complete-looking commit dir under data/ —
    readers must never see it (nothing references it) and vacuum must
    reclaim the whole stray dir once past the writer grace."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(_v2_df(spark), partition_by=["grp"])
    live = set(t.manifest()["files"])
    # the "crash": stage writes at final keys, then no manifest lands
    stray_keys, _ = t._stage(
        spark.createDataFrame(
            [(7, "z", 7.5)], "id int, grp string, v double"
        ),
        partition_by=["grp"],
    )
    assert stray_keys and all(k.startswith("data/c") for k in stray_keys)
    # invisible to every read form
    assert t.read(spark).count() == 4
    assert t.read(spark, partitions={"grp": ["z"]}).count() == 0
    assert t.count() == 4
    assert t.fsck()["ok"]  # strays are benign orphans
    rep = t.vacuum(retain_versions=2, unreferenced_grace_s=0)
    assert rep["removed_data_files"] >= len(stray_keys)
    assert set(t.manifest()["files"]) == live
    assert t.read(spark).count() == 4
    # the stray commit DIR is swept too, not just its files
    leftover = [
        dp
        for dp, dns, fns in os.walk(t.storage.url("data"))
        if not dns and not fns
    ]
    assert leftover == []


def test_bloom_sidecars_shard_and_probe_loads_only_candidates(
    spark, tmp_path
):
    """A large commit's bloom index is SHARDED over the sorted key
    list (partition-clustered), so a partition-pruned equality probe
    loads only its candidate files' shard(s) — O(candidates), never
    O(commit) — while exactness and vacuum GC are unchanged."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.bloom_shard_files = 4
    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 8).alias("grp"),
        (F.col("id") * 2654435761 % 10**9).alias("k"),
    )
    t.commit(
        df.repartition(2, "grp"),
        partition_by=["grp"],
        bloom_by=["k"],
        max_records_per_file=30,
    )
    m = t.manifest()
    refs = {s["bloom_ref"] for s in m["stats"].values()}
    assert len(refs) > 2  # actually sharded
    # every shard holds only keys it lists (refs are self-consistent)
    for ref in refs:
        shard = json.loads(t.storage.read(ref))
        assert all(m["stats"][f]["bloom_ref"] == ref for f in shard)
    fresh = TransactionalTable(root)
    loads = []
    orig = fresh._bloom_sidecar
    fresh._bloom_sidecar = lambda key: (loads.append(key), orig(key))[1]
    key = int(df.where("id = 77").first().k)
    got = fresh.read(spark, partitions={"grp": [77 % 8]}, equals={"k": key})
    assert [r.id for r in got.collect()] == [77]
    assert 1 <= len(set(loads)) < len(refs)  # only candidate shards
    # rewrite everything; vacuum reclaims every old shard
    t.optimize(spark)
    t.vacuum(retain_versions=1, unreferenced_grace_s=0)
    live = {
        s["bloom_ref"]
        for s in t.manifest()["stats"].values()
        if "bloom_ref" in s
    }
    assert set(t.storage.list("_blooms")) == live
    assert t.read(spark, equals={"k": key}).count() == 1


def test_vacuum_prunes_vacated_commit_dirs(spark, tmp_path):
    """After OPTIMIZE + vacuum reclaims a commit's files, the emptied
    layout-v2 commit directory itself is swept (bottom-up, so emptied
    hive subdirs collapse too) — a filesystem backend must not
    accumulate one empty dir per historical commit."""
    t = TransactionalTable(str(tmp_path / "t"))
    for i in range(4):
        t.commit(
            spark.createDataFrame(
                [(i, f"g{i % 2}", float(i))], "id int, grp string, v double"
            ),
            mode="append" if i else "replace",
            partition_by=["grp"],
        )
    t.optimize(spark)
    t.vacuum(retain_versions=1, unreferenced_grace_s=0)
    data_root = t.storage.url("data")
    empties = [
        dp
        for dp, dns, fns in os.walk(data_root)
        if dp != data_root and not dns and not fns
    ]
    assert empties == []
    assert t.read(spark).count() == 4  # table intact


def test_sql_insert_into_truncated_table_matches_by_name(spark, tmp_path):
    """INSERT INTO a table whose head is an EMPTY snapshot (explicit
    truncation) has no physical column order to honor: by-name
    matching still lands, positional matching is refused loudly."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import (
        execute_dml,
        register_dml_target,
    )

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 1.0)], "id int, v double"))
    t.commit(
        spark.createDataFrame([], "id int, v double")
    )  # explicit truncation
    register_dml_target("txdml_trunc", t)
    execute_dml(
        spark, "INSERT INTO txdml_trunc SELECT 2.5 AS v, 7 AS id"
    )  # by name, any order, cast applies
    got = t.read(spark).collect()
    assert [(r.id, r.v) for r in got] == [(7, 2.5)]
    # files=[] is unreachable through commit() (an empty write still
    # lands one schema-bearing file) — exercise the defensive path by
    # forcing the no-readable-files condition: by-name still lands,
    # positional is refused (the schema dict is not positional)
    orig_read = TransactionalTable.read

    def _no_files(self, spark_, *a, **k):
        raise FileNotFoundError("forged: snapshot lists no files")

    TransactionalTable.read = _no_files
    try:
        with pytest.raises(ValueError, match="by name"):
            execute_dml(spark, "INSERT INTO txdml_trunc SELECT 7, 2.5")
    finally:
        TransactionalTable.read = orig_read
    assert t.read(spark).count() == 1  # nothing committed by the reject


def test_cold_count_is_one_record_read_no_reconstruction(
    spark, tmp_path, monkeypatch
):
    """count() on a COLD handle serves the total from the raw commit
    record — one small-object read, zero checkpoint parses, zero
    delta-chain walks (the record carries the absolute rows field)."""
    import nyc_taxi_etl_pyspark_spark.sources.txtable as tx

    t = TransactionalTable(str(tmp_path / "t"), checkpoint_interval=3)
    t.commit(spark.range(100).select("id"))
    for i in range(6):
        t.commit(spark.range(10).select("id"), mode="append")
    fresh = TransactionalTable(str(tmp_path / "t"))
    applies = []
    monkeypatch.setattr(
        tx,
        "_apply_delta",
        lambda *a, **k: applies.append(1) or tx._apply_delta,
    )
    monkeypatch.setattr(
        tx,
        "_decode_checkpoint_parquet",
        lambda *a, **k: applies.append(1),
    )
    assert fresh.count() == 160
    assert fresh.count(3) == 130
    assert applies == []


def test_sql_create_table_as_select_full_lifecycle(spark, tmp_path):
    """CTAS statement text: commits v0 at the given location,
    registers the name as BOTH a (pinned) view and a DML target, so
    the whole lifecycle — create, insert, update, re-view, describe —
    runs as SQL statements end to end."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    path = str(tmp_path / "ctas")
    spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(20)],
        "id int, grp string, v double",
    ).createOrReplaceTempView("ctas_src")
    r = execute_dml(
        spark,
        f"CREATE TABLE ctas_t LOCATION '{path}' PARTITIONED BY (grp) "
        "AS SELECT * FROM ctas_src",
    )
    assert r["op"] == "create_table" and r["version"] == 0
    assert spark.sql("SELECT count(*) AS n FROM ctas_t").first().n == 20
    t = TransactionalTable(path)
    assert t.manifest()["partition_by"] == ["grp"]
    assert t.manifest()["meta"]["layout"] == 2
    execute_dml(spark, "INSERT INTO ctas_t SELECT 99, 'g9', 9.5")
    execute_dml(spark, "UPDATE ctas_t SET v = v * 2 WHERE id = 99")
    assert t.read(spark, equals={"id": 99}).first().v == 19.0
    # the registered view is PINNED at creation time (MVCC) — re-create
    # to observe the writes
    assert spark.sql("SELECT count(*) AS n FROM ctas_t").first().n == 20
    t.create_view(spark, "ctas_t")
    assert spark.sql("SELECT count(*) AS n FROM ctas_t").first().n == 21
    h = execute_dml(spark, "DESCRIBE HISTORY ctas_t")["history"]
    assert [e["op"] for e in h] == ["update", "commit", "commit"]
    with pytest.raises(ValueError, match="already"):
        execute_dml(
            spark,
            f"CREATE TABLE ctas_t2 LOCATION '{path}' AS SELECT 1 AS x",
        )


def test_concurrent_update_delete_serialize_without_locks(spark, tmp_path):
    """Two copy-on-write DML writers racing on DISJOINT row sets must
    both land (optimistic concurrency: the loser rebases on the
    winner's snapshot and retries), and the final state equals the
    sequential application — no lost update, no resurrected rows."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "id int, v double"
        ),
        cluster_by=["id"],
    )
    errs: list = []

    def _upd():
        try:
            t.update_where(spark, {"v": "v + 100"}, "id < 10", max_retries=10)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    def _del():
        try:
            t.delete_where(spark, "id >= 30", max_retries=10)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    th = [threading.Thread(target=_upd), threading.Thread(target=_del)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert errs == []
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert len(got) == 30
    assert all(got[i] == i + 100 for i in range(10))
    assert all(got[i] == float(i) for i in range(10, 30))
    assert t.fsck()["ok"]


def test_sql_maintenance_statements_and_history(spark, tmp_path):
    """OPTIMIZE / VACUUM / DESCRIBE HISTORY statement text routes to
    the maintenance operators; history() serves the audit trail from
    raw commit records (op, delta sizes, layout), newest first."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import (
        execute_dml,
        register_dml_target,
    )

    t = _dml_table(spark, tmp_path, "txdml_maint")
    register_dml_target("txdml_maint", t)
    execute_dml(
        spark, "INSERT INTO txdml_maint SELECT 500, 'g9', CAST(1.5 AS double)"
    )
    execute_dml(spark, "DELETE FROM txdml_maint WHERE id = 500")
    r = execute_dml(spark, "OPTIMIZE txdml_maint INCREMENTAL")
    assert r["op"] == "optimize"
    r = execute_dml(spark, "OPTIMIZE txdml_maint")
    assert r["version"] == t.latest_version()
    h = execute_dml(spark, "DESCRIBE HISTORY txdml_maint")["history"]
    assert [e["version"] for e in h] == sorted(
        (e["version"] for e in h), reverse=True
    )
    ops = {e["version"]: e["op"] for e in h}
    assert ops[t.latest_version()] == "optimize"
    assert "delete" in ops.values()
    assert all(e["layout"] == 2 for e in h)
    append_e = next(e for e in h if e["version"] == 1)  # the INSERT
    assert append_e["n_added"] >= 1 and append_e["n_removed"] == 0
    r = execute_dml(spark, "OPTIMIZE txdml_maint ZORDER BY (id, v)")
    clus = t.manifest()["meta"]["clustering"]
    assert clus == {"kind": "zorder", "cols": ["id", "v"], "bits": 8}
    r = execute_dml(spark, "VACUUM txdml_maint RETAIN 2 VERSIONS")
    assert r["op"] == "vacuum"
    assert len(t.versions()) == 2
    assert t.read(spark).count() == 30
    # DESCRIBE DETAIL became a supported statement late in round 6
    assert execute_dml(spark, "DESCRIBE DETAIL txdml_maint")["detail"][
        "rows"
    ] == 30
    with pytest.raises(ValueError):
        execute_dml(spark, "DESCRIBE EXTENDED txdml_maint")
    with pytest.raises(ValueError):
        execute_dml(spark, "VACUUM txdml_maint RETAIN x VERSIONS")


def test_commit_record_is_o_delta_and_checkpoints_land(spark, tmp_path):
    """Commits put a DELTA record (the file-set change only, stats for
    added files only — O(changed files), not O(table)); every Nth
    commit also writes a derived checkpoint; and a fresh handle
    reconstructs every retained snapshot IDENTICALLY to the writer's
    own view (same file order, same stats, same describe)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.checkpoint_interval = 3
    t.commit(spark.range(100).selectExpr("id", "id % 5 as k"), num_files=8)
    for i in range(1, 7):
        t.commit(
            spark.range(100 * i, 100 * i + 10).selectExpr("id", "id % 5 as k"),
            mode="append",
            num_files=1,
        )
    raw = json.loads(t.storage.read(f"_commits/v{6:020d}.json"))
    assert "files" not in raw  # delta record, not a full manifest
    assert len(raw["add"]) == 1 and raw["remove"] == []
    assert set(raw["stats"]) == set(raw["add"])  # no retained-stat re-dump
    assert t.storage.list("_checkpoints") == [
        f"_checkpoints/v{3:020d}.parquet",
        f"_checkpoints/v{6:020d}.parquet",
    ]
    fresh = TransactionalTable(str(tmp_path / "t"))
    for v in t.versions():
        assert fresh.manifest(v) == t.manifest(v), f"v{v} diverged"
    assert fresh.describe() == t.describe()
    assert fresh.count() == 160 and fresh.read(spark).count() == 160
    # time travel through the delta chain (v2 predates the checkpoint)
    assert fresh.read(spark, version=2).count() == 120


def test_checkpoint_parquet_roundtrip_and_projection(spark, tmp_path):
    """Columnar checkpoints: the parquet encoding round-trips the FULL
    manifest dict byte-equal (partitioned table, NULL partitions,
    bloom refs, evolved schema), and a projected decode materializes
    only the requested stat columns — the lazy-stats half of the
    design."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _decode_checkpoint_parquet,
        _encode_checkpoint_parquet,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "b", 3.5)],
        "id int, grp string, v double",
    )
    t = TransactionalTable(str(tmp_path / "t"), checkpoint_interval=2)
    t.commit(df, partition_by=["grp"], bloom_by=["id"])
    t.commit(
        spark.createDataFrame([(9, "a", 9.5, "x")], "id int, grp string, v double, tag string"),
        mode="append",
        partition_by=["grp"],
        allow_schema_evolution=True,
    )  # v1; interval 2 → checkpoint lands at v2
    t.commit(
        spark.createDataFrame([(10, "c", 0.5, "y")], "id int, grp string, v double, tag string"),
        mode="append",
        partition_by=["grp"],
        allow_schema_evolution=True,
    )
    full = t.manifest(2)
    enc = _encode_checkpoint_parquet(full)
    assert enc is not None
    assert _decode_checkpoint_parquet(enc) == full
    # projection: only 'rows' requested → no cols/partition decoded
    proj = _decode_checkpoint_parquet(enc, columns=["rows"])
    assert proj["files"] == full["files"]
    assert all(
        set(s) <= {"rows"} for s in proj["stats"].values()
    )
    # the persisted checkpoint object at v2 is the parquet form and a
    # FRESH handle resolves the identical snapshot through it
    assert f"_checkpoints/v{2:020d}.parquet" in t.storage.list("_checkpoints")
    fresh = TransactionalTable(str(tmp_path / "t"))
    assert fresh.manifest(2) == full


def test_vacuum_checkpoints_oldest_retained_before_dropping_deltas(
    spark, tmp_path
):
    """Vacuum must leave every RETAINED version reconstructible after
    its ancestor delta records are deleted: it checkpoints the oldest
    retained version first. With no automatic checkpoints at all, the
    vacuum-written one is the only base left — reads, counts and time
    travel on all retained versions must still work from a fresh
    handle."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.checkpoint_interval = 10**9  # never checkpoint automatically
    totals = []
    t.commit(spark.range(20).select("id"))
    totals.append(20)
    for i in range(1, 8):
        t.commit(spark.range(100 * i, 100 * i + 5).select("id"), mode="append")
        totals.append(totals[-1] + 5)
    t.vacuum(retain_versions=3, unreferenced_grace_s=0)
    fresh = TransactionalTable(root)
    keep = fresh.versions()
    assert keep == [5, 6, 7]
    assert fresh.storage.list("_checkpoints") == [
        f"_checkpoints/v{5:020d}.parquet"
    ]
    for v in keep:
        assert fresh.count(v) == totals[v]
        assert fresh.read(spark, version=v).count() == totals[v]
    assert fresh.fsck()["ok"]
    # expired checkpoints are GC'd by a later vacuum
    t2 = TransactionalTable(root)
    t2.checkpoint_interval = 10**9
    t2.commit(spark.range(3).select("id"), mode="append")
    t2.vacuum(retain_versions=2, unreferenced_grace_s=0)
    assert t2.storage.list("_checkpoints") == [
        f"_checkpoints/v{7:020d}.parquet"
    ]


def test_create_view_sql_reads_pruned_pinned_snapshot(spark, tmp_path):
    """create_view registers a temp view whose SCAN lists only the
    manifest-pruned files (partition pruning intact under spark.sql),
    and the view is pinned to the resolved snapshot — a later commit
    does not leak into it until re-registration."""
    df = spark.range(300).selectExpr(
        "id", "concat('g', id % 3) as grp", "cast(id as double) v"
    )
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(df, partition_by=["grp"])
    t.create_view(spark, "tx_view_pruned", partitions={"grp": ["g1"]})
    m = t.manifest()
    g1_files = {
        os.path.basename(f)
        for f in m["files"]
        if m["stats"][f]["partition"]["grp"] == "g1"
    }
    scanned = {
        os.path.basename(p) for p in spark.table("tx_view_pruned").inputFiles()
    }
    assert scanned and scanned <= g1_files  # only the pruned partition
    assert (
        spark.sql("SELECT count(*) AS n FROM tx_view_pruned").first().n == 100
    )
    # Catalyst composes on top: residual predicate + aggregate
    got = spark.sql(
        "SELECT sum(cast(id AS bigint)) AS s FROM tx_view_pruned WHERE id < 10"
    ).first().s
    assert got == sum(i for i in range(10) if i % 3 == 1)
    # snapshot pinning: a new commit doesn't change the registered view
    t.commit(df.limit(30), partition_by=["grp"])
    assert spark.sql("SELECT count(*) AS n FROM tx_view_pruned").first().n == 100
    t.create_view(spark, "tx_view_pruned", partitions={"grp": ["g1"]})
    assert spark.sql("SELECT count(*) AS n FROM tx_view_pruned").first().n == 10


def test_vacuum_grace_protects_distributed_inflight_publish(spark, tmp_path):
    """Writer grace under the DISTRIBUTED publish: files uploaded by
    the executor-side job for a commit whose manifest has not landed
    yet (in-flight or crashed mid-commit) are unreferenced but YOUNG —
    vacuum must leave them alone inside the grace window (deleting one
    would let the racing commit publish a manifest naming a missing
    file) and reclaim them once the window passes."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.distributed_publish_min_files = 1  # force executor-side publish
    t.commit(spark.range(50).select("id"), num_files=2)
    # stage + publish WITHOUT committing: the crashed-mid-commit state
    keys, _stats = t._stage(spark.range(50, 90).select("id"))
    assert len(keys) >= 1
    rep = t.vacuum(retain_versions=2, unreferenced_grace_s=600.0)
    assert rep["removed_data_files"] == 0
    assert rep["skipped_in_grace"] == len(keys)
    assert t.fsck()["orphan_files"] == sorted(keys)
    # outside the window the strays are reclaimed, committed files kept
    rep = t.vacuum(retain_versions=2, unreferenced_grace_s=0.0)
    assert rep["removed_data_files"] == len(keys)
    assert t.read(spark).count() == 50 and t.fsck()["ok"]


def test_optimize_incremental_compacts_only_small_files(spark, tmp_path):
    """Incremental OPTIMIZE rewrites ONLY the sub-threshold fragments:
    the big files' keys survive byte-identically (no O(table) rewrite),
    content is unchanged, and a second pass is a commit-free no-op."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(200_000).select("id"), num_files=2)  # 100k rows each
    for i in range(6):
        t.commit(
            spark.range(1_000_000 + i * 1000, 1_000_000 + (i + 1) * 1000).select("id"),
            mode="append",
            num_files=1,
        )
    big = set(t.manifest(0)["files"])
    rep = t.optimize_incremental(spark, target_rows_per_file=100_000)
    assert rep["files_rewritten"] == 6 and rep["files_retained"] == 2
    assert rep["rows_compacted"] == 6000
    m = t.manifest()
    assert big <= set(m["files"])  # big files untouched, same keys
    assert t.count() == 206_000 and t.read(spark).count() == 206_000
    assert t.fsck()["ok"]
    # second pass: the 6000-row product is the lone small file -> no-op
    rep2 = t.optimize_incremental(spark, target_rows_per_file=100_000)
    assert rep2["files_rewritten"] == 0
    assert rep2["version"] == rep["version"]  # nothing committed


def test_optimize_incremental_partitioned_and_clustered(spark, tmp_path):
    """On a partitioned table the compaction unit is the partition
    (fragments of different partitions never merge into one file), and
    the table's declared range clustering is re-applied to the
    compacted subset so zone-map reads stay selective and exact."""
    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(40_000).selectExpr(
        "id", "concat('g', id % 2) as grp"
    )
    t.commit(base, partition_by=["grp"], cluster_by=["id"])
    for i in range(4):
        t.commit(
            spark.range(100_000 + i * 500, 100_000 + (i + 1) * 500).selectExpr(
                "id", "concat('g', id % 2) as grp"
            ),
            mode="append",
        )
    rep = t.optimize_incremental(spark, target_rows_per_file=30_000)
    assert rep["files_rewritten"] >= 4 and rep["rows_compacted"] >= 2000
    m = t.manifest()
    # every new file stayed inside one partition
    assert all("partition" in m["stats"][f] for f in m["files"])
    assert t.read(spark).count() == 42_000
    # clustering property survived the maintenance commit (sticky meta)
    assert m["meta"]["clustering"] == {"kind": "range", "cols": ["id"]}
    # zone-map band read exact after compaction
    got = sorted(
        r.id for r in t.read(spark, where=[("id", 100_100, 100_200)]).collect()
    )
    assert got == list(range(100_100, 100_201))


def test_bloom_sidecars_keep_manifests_small_and_load_lazily(spark, tmp_path):
    """Bloom payloads live in per-commit sidecar objects: the commit
    record carries only refs (manifest bytes independent of bloom
    size), non-equality reads never load a sidecar, equality reads
    load it once per handle (memoized), a MISSING sidecar degrades to
    a conservative keep (exact results, no crash), and vacuum reclaims
    sidecars no retained snapshot references."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    df = spark.range(8000).select(
        (F.col("id") * 2654435761 % 10**9).alias("k"),
        F.col("id").alias("payload"),
    )
    t.commit(df.repartition(8), bloom_by=["k"], num_files=8)
    raw = json.loads(t.storage.read(f"_commits/v{0:020d}.json"))
    assert all("bloom" not in s for s in raw["stats"].values())  # refs only
    refs = {s["bloom_ref"] for s in raw["stats"].values()}
    assert len(refs) == 1  # one sidecar per commit
    assert t.storage.list("_blooms") == sorted(refs)
    assert len(t.storage.read(f"_commits/v{0:020d}.json")) < 4000

    # laziness + memoization, observed through a spying fresh handle
    fresh = TransactionalTable(root)
    loads = []
    orig = fresh._bloom_sidecar

    def spy(key):
        loads.append(key)
        return orig(key)

    fresh._bloom_sidecar = spy
    fresh.read(spark, where=[("k", 0, 10**8)]).count()
    assert loads == []  # band read: no bloom bytes touched
    key = int(df.where("id = 9").first().k)
    assert fresh.read(spark, equals={"k": key}).first().payload == 9
    n_first = len(loads)
    assert n_first >= 1
    fresh.read(spark, equals={"k": key}).count()
    # memoized: the second probe re-calls the loader but hits the cache
    assert set(loads) == refs

    # missing sidecar: conservative keep, exact result via residual
    for ref in refs:
        t.storage.delete(ref)
    cold = TransactionalTable(root)
    assert cold.prune(equals=[("k", key)]) == cold.manifest()["files"]
    assert cold.read(spark, equals={"k": key}).first().payload == 9

    # vacuum GC: a replace commit orphans the (re-created) old sidecar
    t2 = TransactionalTable(root)
    t2.commit(df.limit(100).repartition(2), bloom_by=["k"], num_files=2)
    rep = t2.vacuum(retain_versions=1, unreferenced_grace_s=0)
    assert rep["removed_bloom_sidecars"] >= 0
    live_refs = {
        s["bloom_ref"]
        for s in t2.manifest()["stats"].values()
        if "bloom_ref" in s
    }
    assert set(t2.storage.list("_blooms")) == live_refs
    assert t2.read(spark, equals={"k": key}).count() in (0, 1)


def test_txstream_starting_timestamp(spark, tmp_path):
    """startingtimestamp (Delta's startingTimestamp, INCLUSIVE): the
    stream begins at the FIRST version committed at or after the given
    instant — a commit landing exactly AT the instant is read, matching
    Delta; an instant predating the table yields the whole table."""
    import time as _time

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(spark.range(10).selectExpr("id"))
    _time.sleep(0.05)
    t.commit(spark.range(100, 105).selectExpr("id"), mode="append")
    mid = (t.manifest(0)["committed_at"] + t.manifest(1)["committed_at"]) / 2

    def run(opts, name):
        r = spark.readStream.format("txstream").option("path", root)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(r_["id"] for r_ in spark.table(name).collect())

    # instant between the commits: only the append (v1) streams
    got = run({"startingtimestamp": str(mid)}, "txs_ts_mid")
    assert got == [100, 101, 102, 103, 104]
    # INCLUSIVE boundary: an instant exactly equal to v1's commit
    # wall-time must still stream v1 (Delta semantics: at or after)
    exact = t.manifest(1)["committed_at"]
    got_exact = run({"startingtimestamp": repr(exact)}, "txs_ts_exact")
    assert got_exact == [100, 101, 102, 103, 104]
    # instant predating the table: everything streams
    got_all = run({"startingtimestamp": "1970-01-01T00:00:00"}, "txs_ts_epoch")
    assert got_all == list(range(10)) + [100, 101, 102, 103, 104]
    # both options together is a loud config error
    with pytest.raises(Exception):
        run(
            {"startingtimestamp": str(mid), "startingversion": "0"},
            "txs_ts_conflict",
        )


def test_corrupted_parent_link_is_irrecoverable_not_infinite(spark, tmp_path):
    """A delta record whose parent link does not strictly decrease (a
    corruption that would cycle the reconstruction walk) makes THAT
    version irrecoverable — manifest() falls back to the newest
    readable version instead of hanging."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(5).select("id"))
    t.commit(spark.range(5, 8).select("id"), mode="append")
    key = f"_commits/v{1:020d}.json"
    raw = json.loads(t.storage.read(key))
    raw["parent"] = 1  # self-cycle
    with open(os.path.join(str(tmp_path / "t"), key), "w") as f:
        json.dump(raw, f)
    fresh = TransactionalTable(str(tmp_path / "t"))
    assert fresh.manifest(1) is None  # loudly irrecoverable, no hang
    m = fresh.manifest()  # latest readable: v0
    assert m["version"] == 0 and fresh.read(spark, version=0).count() == 5


def test_optimize_incremental_rejects_unstable_threshold(spark, tmp_path):
    """small_file_threshold > 1 would re-compact the pass's own
    near-target output forever (committing a version per no-progress
    pass) — rejected loudly; the boundary value 1.0 is stable and
    accepted."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(100).select("id"), num_files=4)
    with pytest.raises(ValueError, match="small_file_threshold"):
        t.optimize_incremental(spark, target_rows_per_file=50,
                               small_file_threshold=1.5)
    rep = t.optimize_incremental(
        spark, target_rows_per_file=50, small_file_threshold=1.0
    )
    assert rep["files_rewritten"] == 4  # 25-row files < 1.0 x 50
    rep2 = t.optimize_incremental(
        spark, target_rows_per_file=50, small_file_threshold=1.0
    )
    assert rep2["files_rewritten"] == 0  # stable: output retained


def test_read_appended_across_vacuumed_delta_log(spark, tmp_path):
    """Incremental consumers (MV refresh, streaming) diff manifests;
    after vacuum drops ancestor delta records, the oldest retained
    version survives only as the vacuum-written checkpoint — the
    appended-window read must still resolve both ends and open ONLY the
    delta files."""
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.checkpoint_interval = 10**9  # the vacuum checkpoint is the only base
    t.commit(spark.range(100).select("id"))
    for i in range(1, 8):
        t.commit(
            spark.range(1000 * i, 1000 * i + 10 + i).select("id"),
            mode="append",
            num_files=1,
        )
    t.vacuum(retain_versions=3, unreferenced_grace_s=0)
    fresh = TransactionalTable(root)
    assert fresh.versions() == [5, 6, 7]
    inc = fresh.read_appended(spark, from_version=5, to_version=7)
    # exactly the rows appended by v6 (16 rows) and v7 (17 rows)
    got = sorted(r.id for r in inc.collect())
    assert got == list(range(6000, 6016)) + list(range(7000, 7017))
    # and the window is planned from manifests alone: only 2 files open
    assert len(inc.inputFiles()) == 2


def test_concurrent_appends_with_distributed_publish(spark, tmp_path):
    """Two writers appending concurrently, BOTH forced through the
    executor-side publish job: the CAS loop rebases the loser, no rows
    are lost or doubled, stats stay complete, and the loser's published
    files are all referenced (no stray rebuild needed — append retries
    reuse the already-published keys)."""
    root = str(tmp_path / "t")
    base = TransactionalTable(root)
    base.distributed_publish_min_files = 1
    base.commit(spark.range(100).select("id"), num_files=2)
    errs = []

    def writer(lo: int):
        try:
            t = TransactionalTable(root)
            t.distributed_publish_min_files = 1
            t.commit(
                spark.range(lo, lo + 50).select("id"),
                mode="append",
                num_files=2,
            )
        except Exception as exc:  # pragma: no cover - fail loudly below
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=(1000,)),
        threading.Thread(target=writer, args=(2000,)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    t = TransactionalTable(root)
    assert t.latest_version() == 2  # both appends landed, serialized
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == sorted(
        list(range(100)) + list(range(1000, 1050)) + list(range(2000, 2050))
    )
    assert t.count() == 200
    m = t.manifest()
    assert all("rows" in m["stats"][f] for f in m["files"])
    f = t.fsck()
    assert f["ok"] and f["orphan_files"] == []


def test_sql_time_travel_select_version_and_timestamp(spark, tmp_path):
    """execute_sql rewrites `name VERSION AS OF n` / `name TIMESTAMP
    AS OF '<iso>'` clauses on registered transactional names into
    snapshot-pinned views: one SELECT can join/union several versions
    of the same table; timestamps resolve through commit wall-times
    (naive ISO = UTC); literals inside strings and names that are not
    registered stay untouched."""
    import datetime

    from nyc_taxi_etl_pyspark_spark.sources.txsql import (
        execute_sql,
        rewrite_time_travel,
    )

    t = _dml_table(spark, tmp_path, "txtt_sel")
    df2 = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30, 40)],
        "id int, grp string, v double",
    )
    t.commit(df2, mode="append", partition_by=["grp"])

    got = execute_sql(
        spark,
        """
        SELECT 'v0' AS snap, count(*) AS n FROM txtt_sel VERSION AS OF 0
        UNION ALL
        SELECT 'head' AS snap, count(*) AS n
        FROM (SELECT * FROM txtt_sel VERSION AS OF 1)
        """,
    ).collect()
    assert {(r.snap, r.n) for r in got} == {("v0", 30), ("head", 40)}

    # TIMESTAMP AS OF just after v0's commit (UTC ISO; +1ms because
    # the ISO form truncates to microseconds, which can land a hair
    # BEFORE the float wall-time and v1 is far more than 1ms later)
    ca = t.manifest(0)["committed_at"]
    iso = datetime.datetime.fromtimestamp(
        ca + 0.001, tz=datetime.timezone.utc
    ).replace(tzinfo=None).isoformat()
    n = execute_sql(
        spark,
        f"SELECT count(*) AS n FROM txtt_sel TIMESTAMP AS OF '{iso}'",
    ).first().n
    assert n == 30

    # epoch-number literal form
    n = execute_sql(
        spark, f"SELECT count(*) AS n FROM txtt_sel TIMESTAMP AS OF {ca}"
    ).first().n
    assert n == 30

    # a travel clause inside a string literal is data, not syntax;
    # an unregistered name is left for Spark to resolve (and fails
    # there, not in the rewriter)
    s = "SELECT 'txtt_sel VERSION AS OF 0' AS lit FROM txtt_sel"
    assert rewrite_time_travel(spark, s) == s
    s2 = "SELECT * FROM not_registered VERSION AS OF 0"
    assert rewrite_time_travel(spark, s2) == s2


def test_sql_time_travel_inside_dml_restores_snapshot(spark, tmp_path):
    """Travel clauses resolve before DML routing, so `INSERT INTO t
    SELECT * FROM t VERSION AS OF 0` — the SQL spelling of a snapshot
    restore-append — reads the OLD snapshot while appending to the
    head (MVCC: the pinned view is immune to the write it feeds)."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_sql

    t = _dml_table(spark, tmp_path, "txtt_dml")
    execute_sql(spark, "DELETE FROM txtt_dml WHERE id >= 10")
    assert t.read(spark).count() == 10
    r = execute_sql(
        spark,
        "INSERT INTO txtt_dml "
        "SELECT * FROM txtt_dml VERSION AS OF 0 WHERE id >= 10",
    )
    assert r["op"] == "insert"
    got = t.read(spark)
    assert got.count() == 30
    assert got.selectExpr("count(distinct id) d").first().d == 30


def test_sql_restore_and_table_changes(spark, tmp_path):
    """RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF routes to
    restore() (a NEW commit pinning the old snapshot — history intact),
    and SELECTs over table_changes('t', from[, to][, 'keys']) rewrite
    to the keyed snapshot-diff change feed; keys default to the
    table's sticky clustering columns, and a table with neither keys
    nor clustering fails loudly instead of guessing row identity."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import (
        execute_sql,
        register_dml_target,
    )

    t = _dml_table(spark, tmp_path, "txtt_cdf")  # clustered by id
    execute_sql(spark, "UPDATE txtt_cdf SET v = v + 100 WHERE id < 3")
    execute_sql(spark, "DELETE FROM txtt_cdf WHERE id = 29")

    # CDF via the TVF, explicit keys: v0 -> head
    feed = execute_sql(
        spark,
        "SELECT _change_type, count(*) AS n "
        "FROM table_changes('txtt_cdf', 0, 2, 'id') "
        "GROUP BY _change_type",
    ).collect()
    assert {(r._change_type, r.n) for r in feed} == {
        ("update", 3),
        ("delete", 1),
    }
    # keys default to the sticky clustering columns (cluster_by=["id"])
    n = execute_sql(
        spark,
        "SELECT count(*) AS n FROM table_changes('txtt_cdf', 0)",
    ).first().n
    assert n == 4

    # RESTORE to v0: head content equals v0, history is append-only
    r = execute_sql(
        spark, "RESTORE TABLE txtt_cdf TO VERSION AS OF 0"
    )
    assert r["op"] == "restore" and r["restored_to"] == 0
    assert t.read(spark).count() == 30
    assert (
        t.read(spark).selectExpr("sum(v) s").first().s
        == sum(float(i) for i in range(30))
    )
    # timestamp form restores too (instant just after v2's commit)
    execute_sql(spark, "DELETE FROM txtt_cdf WHERE id >= 20")
    ca = t.manifest(2)["committed_at"]
    r = execute_sql(
        spark, f"RESTORE TABLE txtt_cdf TO TIMESTAMP AS OF {ca}"
    )
    assert r["restored_to"] == 2
    assert t.read(spark).count() == 29  # v2: one row deleted

    # unclustered table + no explicit keys = loud error
    t2 = TransactionalTable(str(tmp_path / "nockey"))
    t2.commit(spark.createDataFrame([(1, "a")], "id int, s string"))
    register_dml_target("txtt_nokeys", t2)
    with pytest.raises(Exception, match="key columns"):
        execute_sql(
            spark, "SELECT * FROM table_changes('txtt_nokeys', 0)"
        )


def test_alter_table_add_columns_schema_only_commit(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS is a schema-only delta commit: no file
    moves, readers surface the new column as typed NULLs on files
    that predate it, copy-on-write DML can SET it immediately, INSERT
    accepts the widened schema, time travel still shows the old
    shape, and a duplicate/bad definition fails eagerly."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_sql

    t = _dml_table(spark, tmp_path, "txalter")
    files_before = list(t.manifest()["files"])
    r = execute_sql(
        spark, "ALTER TABLE txalter ADD COLUMNS (score double, tag string)"
    )
    assert r["op"] == "add_columns" and r["added"] == ["score", "tag"]
    m = t.manifest()
    assert m["files"] == files_before  # zero files rewritten
    assert m["schema"]["score"] == "double" and m["schema"]["tag"] == "string"

    got = t.read(spark)
    assert got.count() == 30
    assert dict(got.dtypes)["score"] == "double"
    assert got.where("score IS NOT NULL").count() == 0

    # DML on the new column works immediately (rewrite reconciles)
    execute_sql(
        spark, "UPDATE txalter SET score = v * 2.0 WHERE id < 5"
    )
    assert t.read(spark).where("score IS NOT NULL").count() == 5

    # INSERT with the widened schema (by name)
    spark.createDataFrame(
        [(100, "g0", 1.0, 9.9, "new")],
        "id int, grp string, v double, score double, tag string",
    ).createOrReplaceTempView("txalter_new")
    execute_sql(spark, "INSERT INTO txalter SELECT * FROM txalter_new")
    head = t.read(spark)
    assert head.count() == 31
    assert head.where("tag = 'new'").count() == 1

    # time travel: pre-alter snapshot keeps the narrow schema
    old = execute_sql(spark, "SELECT * FROM txalter VERSION AS OF 0")
    assert set(old.columns) == {"id", "grp", "v"}

    # guards: existing column and bad type both fail loudly, eagerly
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns(spark, {"v": "double"})
    with pytest.raises(Exception):
        t.add_columns(spark, {"broken": "not_a_type"})
    # neither failed attempt committed anything
    assert "broken" not in t.manifest()["schema"]


def test_alter_table_add_columns_streaming_and_empty_prune(spark, tmp_path):
    """The streaming source NULL-fills an ALTERed column on pre-alter
    files (declared schema = manifest union), and a fully-pruned read
    of an altered table still resolves residual filters on the new
    column (empty-frame schema comes from the manifest)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "alt_stream")
    t = TransactionalTable(root)
    t.commit(
        spark.range(0, 20).select(
            F.col("id"), (F.col("id") % 2).alias("side")
        ),
        bloom_by=["id"],
    )
    t.add_columns(spark, {"w": "double"})

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("txstream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert dict(got.dtypes)["w"] == "double"
    assert got.where("w IS NOT NULL").count() == 0

    # bloom-pruned empty read + residual filter on the NEW column
    empty = t.read(spark, equals={"id": 10_000}).where("w > 0")
    assert empty.count() == 0 and "w" in empty.columns


def test_sql_vacuum_dry_run_and_show_partitions(spark, tmp_path):
    """VACUUM ... DRY RUN reports exactly what a real run would
    reclaim without deleting (or even checkpointing) anything, and
    SHOW PARTITIONS serves the partition index from the manifest
    alone."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txsql import (
        execute_sql,
        register_dml_target,
    )

    t = TransactionalTable(str(tmp_path / "vac"))
    df = spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    t.commit(df, partition_by=["grp"])
    t.commit(df.where("id < 10"), partition_by=["grp"])  # v1 rewrite
    t.commit(df, partition_by=["grp"])  # v2
    register_dml_target("vac_demo", t)

    before = set(t.storage.list("data"))
    dry = execute_sql(
        spark, "VACUUM vac_demo RETAIN 1 VERSIONS DRY RUN"
    )
    assert dry["dry_run"] is True
    assert dry["removed_manifests"] == 2
    # default writer grace: every data file is younger than the
    # window, so a dry run REPORTS them as in-grace, not reclaimable
    assert dry["removed_data_files"] == 0 and dry["skipped_in_grace"] > 0
    # nothing actually moved
    assert set(t.storage.list("data")) == before
    assert sorted(t.versions()) == [0, 1, 2]

    # grace-0 dry run: the real reclaim set, still zero deletions
    dry0 = t.vacuum(retain_versions=1, unreferenced_grace_s=0, dry_run=True)
    assert dry0["removed_data_files"] > 0
    assert set(t.storage.list("data")) == before
    assert sorted(t.versions()) == [0, 1, 2]

    wet = t.vacuum(retain_versions=1, unreferenced_grace_s=0)
    assert wet["dry_run"] is False
    assert wet["removed_manifests"] == dry0["removed_manifests"]
    assert wet["removed_data_files"] == dry0["removed_data_files"]
    assert sorted(t.versions()) == [2]

    parts = execute_sql(spark, "SHOW PARTITIONS vac_demo")
    assert parts["partition_by"] == ["grp"]
    assert parts["partitions"] == [{"grp": "0"}, {"grp": "1"}, {"grp": "2"}]


def test_change_feed_across_alter_boundary(spark, tmp_path):
    """A change feed spanning an ALTER TABLE ADD COLUMNS diff runs in
    the NEW shape: the old snapshot NULL-fills the added column, rows
    whose real values didn't change stay out of the feed, and a row
    whose only change is the new column's value reports as update."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_sql

    t = _dml_table(spark, tmp_path, "txcdf_alter")
    t.add_columns(spark, {"score": "double"})
    execute_sql(
        spark, "UPDATE txcdf_alter SET score = 1.5 WHERE id = 3"
    )
    feed = t.changes(spark, ["id"], 0).collect()
    got = {(r.id, r._change_type) for r in feed}
    assert got == {(3, "update")}
    row = [r for r in feed if r.id == 3][0]
    assert row.score == 1.5 and "score" in feed[0].asDict()


def test_sql_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL serves the one-manifest layout/health summary
    (describe()) as statement text, size_bytes included now that the
    footer harvest records physical sizes."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_sql

    t = _dml_table(spark, tmp_path, "txdesc")
    d = execute_sql(spark, "DESCRIBE DETAIL txdesc")
    assert d["op"] == "describe_detail"
    det = d["detail"]
    assert det["rows"] == 30 and det["n_files"] >= 1
    assert det["size_bytes"] and det["size_bytes"] > 0
    assert det["clustering"] == {"kind": "range", "cols": ["id"]}


def test_alter_table_parenthesized_types(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS accepts parenthesized types —
    decimal(10,2) carries a comma and a ')' inside the column list,
    so the statement shape must scan to the FINAL paren and split
    paren-aware."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_sql

    t = _dml_table(spark, tmp_path, "txalter_dec")
    r = execute_sql(
        spark,
        "ALTER TABLE txalter_dec ADD COLUMNS "
        "(price decimal(10,2), tag string)",
    )
    assert r["added"] == ["price", "tag"]
    sch = t.manifest()["schema"]
    assert sch["price"] == "decimal(10,2)" and sch["tag"] == "string"
    got = t.read(spark)
    assert dict(got.dtypes)["price"] == "decimal(10,2)"
    assert got.where("price IS NOT NULL").count() == 0


def test_execute_sql_dml_source_reads_head(spark, tmp_path):
    """A DML statement whose SOURCE query references the target table
    reads the target's HEAD, not the snapshot its view pinned at
    registration: MERGE INTO t USING (SELECT from t) sees prior DML."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_sql

    t = _dml_table(spark, tmp_path, "txryw")  # pins view at v0
    execute_sql(spark, "DELETE FROM txryw WHERE id >= 10")  # head = v1
    # source: the surviving rows, shifted to fresh ids — if the
    # subquery read the STALE v0 view this would insert 30 rows
    r = execute_sql(
        spark,
        "MERGE INTO txryw AS t USING "
        "(SELECT id + 100 AS id, grp, v FROM txryw) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert r["op"] == "merge"
    assert t.read(spark).count() == 20  # 10 survivors + 10 shifted


# -- full-form MERGE (round-7) ---------------------------------------------


def _mergefull_fixture(spark, tmp_path, name="t_mf"):
    from nyc_taxi_etl_pyspark_spark.sources.txsql import register_dml_target

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, status string, amt double",
    )
    t = TransactionalTable(str(tmp_path / name))
    t.commit(base)
    register_dml_target(name, t)
    spark.createDataFrame(
        [(2, "B", 200.0), (3, "C", -1.0), (5, "e", 50.0), (6, "f", -6.0)],
        "k int, status string, amt double",
    ).createOrReplaceTempView(f"{name}_src")
    return t


def test_merge_full_form_all_clause_kinds(spark, tmp_path):
    """Conditional DELETE, conditional + fallthrough UPDATE with
    expressions over both sides, column-list INSERT with a condition,
    and NOT MATCHED BY SOURCE — the clause forms the upsert-all front
    door rejected — applied through one statement."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = _mergefull_fixture(spark, tmp_path, "t_mf_all")
    res = execute_dml(
        spark,
        """
        MERGE INTO t_mf_all AS t USING t_mf_all_src AS s ON t.k = s.k
        WHEN MATCHED AND s.amt < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET status = s.status, amt = t.amt + s.amt
        WHEN NOT MATCHED AND s.amt >= 0 THEN
            INSERT (k, status, amt) VALUES (s.k, upper(s.status), s.amt)
        WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN UPDATE SET status = 'stale'
        """,
    )
    assert res["op"] == "merge" and len(res["clauses"]) == 4
    got = sorted(
        (r.k, r.status, r.amt) for r in t.read(spark).collect()
    )
    assert got == [
        (1, "stale", 10.0),  # by-source conditional update
        (2, "B", 220.0),  # second matched clause (first's cond false)
        (4, "d", 40.0),  # no clause matched: target row kept
        (5, "E", 50.0),  # conditional insert (6 fails the condition)
    ]
    assert t.manifest()["meta"]["op"] == "merge"


def test_merge_full_form_bare_table_name_qualifiers(spark, tmp_path):
    """Standard SQL allows the bare table/source names as qualifiers
    instead of declared aliases; they canonicalize identically."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = _mergefull_fixture(spark, tmp_path, "t_mf_bare")
    execute_dml(
        spark,
        """
        MERGE INTO t_mf_bare USING t_mf_bare_src
        ON t_mf_bare.k = t_mf_bare_src.k
        WHEN MATCHED AND t_mf_bare_src.amt < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = t_mf_bare_src.amt
        """,
    )
    got = sorted((r.k, r.amt) for r in t.read(spark).collect())
    assert got == [(1, 10.0), (2, 200.0), (4, 40.0)]


def test_merge_full_form_cardinality_violation_raises(spark, tmp_path):
    """Duplicate source keys with a MATCHED clause = the SQL-standard
    cardinality violation: raise loudly, never fan the target out."""
    base = spark.createDataFrame([(1, 10.0)], "k int, amt double")
    t = TransactionalTable(str(tmp_path / "t_card"))
    t.commit(base)
    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "k int, amt double"
    )
    with pytest.raises(ValueError, match="cardinality"):
        t.merge(
            spark,
            dup,
            ["k"],
            clauses=[
                {"when": "matched", "cond": None, "action": "update",
                 "set": "*"}
            ],
        )
    # latest_by resolves the ambiguity the standard way
    v = t.merge(
        spark,
        dup,
        ["k"],
        latest_by=["amt"],
        clauses=[
            {"when": "matched", "cond": None, "action": "update", "set": "*"}
        ],
    )
    assert v >= 1
    assert [(r.k, r.amt) for r in t.read(spark).collect()] == [(1, 2.0)]


def test_merge_full_form_reject_paths(spark, tmp_path):
    """Malformed clause orders and impossible group/action pairs are
    statement bugs — rejected at parse time with the reason."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import _parse_merge_clauses

    # unreachable: unconditional clause precedes another in the group
    with pytest.raises(ValueError, match="unreachable"):
        _parse_merge_clauses(
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED AND t.k = 1 THEN UPDATE SET amt = 0",
            {"t"},
            {"s"},
        )
    # NOT MATCHED cannot DELETE (no target row)
    with pytest.raises(ValueError, match="INSERT only"):
        _parse_merge_clauses(
            "WHEN NOT MATCHED THEN DELETE", {"t"}, {"s"}
        )
    # NOT MATCHED BY SOURCE cannot INSERT (no source row)
    with pytest.raises(ValueError, match="UPDATE/DELETE only"):
        _parse_merge_clauses(
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *", {"t"}, {"s"}
        )
    # INSERT arity mismatch
    with pytest.raises(ValueError, match="arity"):
        _parse_merge_clauses(
            "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (s.a)", {"t"}, {"s"}
        )
    # missing THEN
    with pytest.raises(ValueError, match="THEN"):
        _parse_merge_clauses("WHEN MATCHED DELETE", {"t"}, {"s"})
    # unknown target column caught at the operator
    from nyc_taxi_etl_pyspark_spark.operators.merge import merge_clauses

    base = spark.createDataFrame([(1, 1.0)], "k int, amt double")
    with pytest.raises(ValueError, match="not on the target"):
        merge_clauses(
            base,
            base,
            ["k"],
            [
                {"when": "matched", "cond": None, "action": "update",
                 "set": {"nope": "s.amt"}}
            ],
        )


def test_merge_full_form_case_expression_in_clause(spark, tmp_path):
    """CASE WHEN ... THEN inside a clause condition or SET expression
    must not be mistaken for the clause-level WHEN/THEN split."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = _mergefull_fixture(spark, tmp_path, "t_mf_case")
    execute_dml(
        spark,
        """
        MERGE INTO t_mf_case AS t USING t_mf_case_src AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET
            amt = CASE WHEN s.amt > 100 THEN 100.0 ELSE s.amt END
        """,
    )
    got = sorted((r.k, r.amt) for r in t.read(spark).collect())
    assert got == [(1, 10.0), (2, 100.0), (3, -1.0), (4, 40.0)]


def test_merge_full_form_insert_omitted_columns_null(spark, tmp_path):
    """INSERT with a partial column list NULL-fills the rest (typed),
    keeping the merged schema identical to the table's."""
    base = spark.createDataFrame(
        [(1, "a", 10.0)], "k int, status string, amt double"
    )
    t = TransactionalTable(str(tmp_path / "t_mf_nulls"))
    t.commit(base)
    ups = spark.createDataFrame(
        [(9, "z", 99.0)], "k int, status string, amt double"
    )
    t.merge(
        spark,
        ups,
        ["k"],
        clauses=[
            {"when": "not_matched", "cond": None, "action": "insert",
             "values": {"k": "s.k", "amt": "s.amt"}}
        ],
    )
    rows = {r.k: (r.status, r.amt) for r in t.read(spark).collect()}
    assert rows == {1: ("a", 10.0), 9: (None, 99.0)}
    assert [f.name for f in t.read(spark).schema.fields] == [
        "k", "status", "amt",
    ]


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """MERGE is touched-file-only (the Delta shape): a small change set
    against a clustered multi-file table rewrites only the files whose
    key range the source hits — everything else is retained
    byte-for-byte, so a CDC batch against a 100 TB table never pays an
    O(table) write."""
    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit(base, cluster_by=["k"], num_files=8)
    files_before = {
        f: s for f, s in t.manifest()["stats"].items()
    }

    # a 3-row change set confined to one key neighborhood
    ups = spark.createDataFrame(
        [(10, -1), (11, -2), (5000, -3)], "k bigint, v bigint"
    )
    v = t.merge(spark, ups, ["k"])
    m = t.manifest(v)
    meta = m.get("meta", {})
    assert meta.get("strategy") == "touched-files"
    rewritten = meta.get("files_rewritten")
    retained = [f for f in m["files"] if f in files_before]
    assert rewritten is not None and rewritten <= 2, meta
    assert len(retained) >= 6, (len(retained), len(m["files"]))
    # retained files are the SAME objects (stats entries untouched)
    for f in retained:
        assert m["stats"][f] == files_before[f]

    # content is exactly the latest-wins upsert
    got = {r.k: r.v for r in t.read(spark).collect()}
    want = {i: i * 2 for i in range(1000)}
    want.update({10: -1, 11: -2, 5000: -3})
    assert got == want

    # clause-form merge is touched-file-only too
    ups2 = spark.createDataFrame([(20, 0), (21, 0)], "k bigint, v bigint")
    v2 = t.merge(
        spark,
        ups2,
        ["k"],
        clauses=[
            {"when": "matched", "cond": None, "action": "delete"},
        ],
    )
    m2 = t.manifest(v2)
    assert m2.get("meta", {}).get("strategy") == "touched-files"
    assert m2.get("meta", {}).get("files_rewritten", 99) <= 2
    got2 = {r.k: r.v for r in t.read(spark).collect()}
    assert 20 not in got2 and 21 not in got2 and len(got2) == len(want) - 2

    # NOT MATCHED BY SOURCE falls back to the full rewrite (it touches
    # every unmatched target row) and stays correct
    ups3 = spark.createDataFrame([(30, 7)], "k bigint, v bigint")
    v3 = t.merge(
        spark,
        ups3,
        ["k"],
        clauses=[
            {"when": "matched", "cond": None, "action": "update",
             "set": {"v": "s.v"}},
            {"when": "not_matched_by_source", "cond": "t.k = 31",
             "action": "delete"},
        ],
    )
    m3 = t.manifest(v3)
    assert m3.get("meta", {}).get("strategy") != "touched-files"
    got3 = {r.k: r.v for r in t.read(spark).collect()}
    assert got3[30] == 7 and 31 not in got3


def test_merge_insert_only_touched_files_appends(spark, tmp_path):
    """A merge whose source matches NO existing key appends the inserts
    and retains every file — zero rewrites."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        cluster_by=["k"],
        num_files=4,
    )
    n_before = set(t.manifest()["files"])
    ups = spark.createDataFrame([(900, 9), (901, 9)], "k bigint, v int")
    v = t.merge(spark, ups, ["k"])
    m = t.manifest(v)
    assert m.get("meta", {}).get("files_rewritten") == 0
    assert n_before <= set(m["files"])
    assert t.read(spark).count() == 102
    assert t.count() == 102

    # empty source: no-op, no new version
    empty = spark.createDataFrame([], "k bigint, v int")
    assert t.merge(spark, empty, ["k"]) == v


def test_alter_column_type_widens_without_rewrite(spark, tmp_path):
    """ALTER COLUMN TYPE (safe widening) is a schema-only commit: the
    narrow files stay byte-identical and every read path upcasts on
    scan via the explicit manifest schema (mergeSchema cannot merge
    int-vs-bigint footers)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("float").alias("v"),
        ),
        num_files=4,
    )
    files_before = sorted(t.manifest()["files"])
    t.alter_column_type(spark, "k", "bigint")
    t.alter_column_type(spark, "v", "double")
    assert sorted(t.manifest()["files"]) == files_before  # zero rewrites
    cur = t.read(spark)
    assert dict(cur.dtypes) == {"k": "bigint", "v": "double"}
    assert cur.count() == 100 and cur.agg(F.sum("k")).first()[0] == 4950

    # unsafe conversions reject loudly before any commit
    for col, bad in (("k", "int"), ("k", "string"), ("v", "float")):
        with pytest.raises(ValueError, match="not a safe widening"):
            t.alter_column_type(spark, col, bad)
    with pytest.raises(ValueError, match="unknown column"):
        t.alter_column_type(spark, "nope", "bigint")

    # post-widen append lands WIDE rows; reads mix narrow+wide files
    t.commit(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        ),
        mode="append",
    )
    assert t.read(spark).count() == 110
    # copy-on-write UPDATE across the mixed files keeps the wide schema
    t.update_where(spark, {"v": "v + 0.5"}, "k < 3")
    assert t.read(spark).where("k = 1").first()["v"] == 2.5
    assert dict(t.read(spark).dtypes) == {"k": "bigint", "v": "double"}

    # time travel: the pre-widen snapshot still reads narrow
    assert dict(t.read(spark, 0).dtypes) == {"k": "int", "v": "float"}
    # the widen itself is metadata-only: change feed reports nothing
    assert t.changes(spark, ["k"], 0, 1).count() == 0
    # maintenance over mixed widths materializes the wide schema
    t.optimize(spark, target_rows_per_file=1000)
    assert t.read(spark).count() == 110
    assert t.fsck()["ok"]


def test_alter_column_type_widen_partitioned_and_band_reads(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(60).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 3).alias("p"),
        ),
        partition_by=["p"],
    )
    t.alter_column_type(spark, "k", "bigint")
    assert dict(t.read(spark).dtypes)["k"] == "bigint"
    assert t.read(spark, partitions={"p": [1]}).count() == 20
    assert t.read(spark, where=[("k", 10, 20)]).count() == 11
    # DV delete over a widened table reads/filters through the wide schema
    res = t.delete_where(spark, "k >= 50", merge_on_read=True)
    assert res["files_rewritten"] == 0 and res["rows_deleted"] == 10
    assert t.read(spark).count() == 50


def test_append_narrower_than_declared_upcasts_on_read(spark, tmp_path):
    """A commit whose column types safely WIDEN to the declared table
    type is legal without allow_schema_evolution — the normal state of
    old writers after ALTER COLUMN TYPE (Delta's post-type-widening
    append contract). Declared type wins; narrow physical files upcast
    on scan via the sticky ``widened`` explicit-schema read path."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(10).select(F.col("id").cast("int").alias("k")),
    )
    t.alter_column_type(spark, "k", "bigint")
    # an old writer still produces int frames — accepted as-is
    t.commit(
        spark.range(10, 15).select(F.col("id").cast("int").alias("k")),
        mode="append",
    )
    cur = t.read(spark)
    assert dict(cur.dtypes) == {"k": "bigint"}
    assert cur.count() == 15 and cur.agg(F.sum("k")).first()[0] == 105
    assert t.count() == 15  # metadata count over mixed widths

    # ... even on a table that was never ALTERed: a replace declared
    # bigint, a narrow int append joins it — the commit itself flips
    # the sticky widened flag so mixed footers read under the wide one
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(spark.range(5).select(F.col("id").alias("k")))
    t2.commit(
        spark.range(5, 8).select(F.col("id").cast("int").alias("k")),
        mode="append",
    )
    assert t2.manifest()["meta"].get("widened") is True
    cur2 = t2.read(spark)
    assert dict(cur2.dtypes) == {"k": "bigint"} and cur2.count() == 8

    # the reverse — wider than declared — still rejects loudly, with
    # and without evolution (appends never silently change the schema)
    wide = spark.range(8, 9).select(F.col("id").cast("bigint").alias("k"))
    t3 = TransactionalTable(str(tmp_path / "t3"))
    t3.commit(spark.range(3).select(F.col("id").cast("int").alias("k")))
    with pytest.raises(ValueError, match="schema mismatch"):
        t3.commit(wide, mode="append")
    with pytest.raises(ValueError, match="cannot change column types"):
        t3.commit(wide, mode="append", allow_schema_evolution=True)

    # narrow append composes with evolution: int frame + a NEW column
    t.commit(
        spark.range(15, 18).select(
            F.col("id").cast("int").alias("k"),
            F.lit(1).alias("extra"),
        ),
        mode="append",
        allow_schema_evolution=True,
    )
    cur3 = t.read(spark)
    assert dict(cur3.dtypes) == {"k": "bigint", "extra": "int"}
    assert cur3.count() == 18
    assert cur3.where("extra is null").count() == 15


def test_alter_partitioning_evolution_metadata_only(spark, tmp_path):
    """Partition EVOLUTION (Iceberg's shape): a metadata-only commit
    changes the scheme for FUTURE writes; old files stay byte-identical
    under their own recorded values, partition-scoped reads stay exact
    on both the old and the new column across the mixed snapshot, and
    any rewrite migrates rows to the current scheme."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100).select(
            F.col("id"),
            (F.col("id") % 4).alias("p"),
            (F.col("id") % 3).alias("q"),
        ),
        partition_by=["p"],
    )
    files0 = sorted(t.manifest()["files"])
    v = t.alter_partitioning(spark, ["q"])
    m = t.manifest()
    assert m["partition_by"] == ["q"] and m["meta"]["op"] == "alter_partitioning"
    assert sorted(m["files"]) == files0  # zero rewrites, zero staging
    # appends now stage under the NEW scheme
    t.commit(
        spark.range(100, 160).select(
            F.col("id"),
            (F.col("id") % 4).alias("p"),
            (F.col("id") % 3).alias("q"),
        ),
        mode="append",
        partition_by=["q"],
    )
    cur = t.read(spark)
    assert cur.count() == 160
    # exact partition-scoped reads across the MIXED snapshot: old files
    # don't record q (kept + residual), new files don't record p
    assert t.read(spark, partitions={"q": [1]}).count() == 53
    assert t.read(spark, partitions={"p": [2]}).count() == 40
    assert t.count() == 160 and t.fsck()["ok"]
    # time travel: the pre-evolution snapshot keeps its own scheme
    assert t.manifest(v - 1)["partition_by"] == ["p"]
    # the evolution commit is content-invisible to the change feed
    assert t.changes(spark, ["id"], v - 1, v).count() == 0
    # a full rewrite migrates everything to the current scheme
    t.optimize(spark, target_rows_per_file=1000)
    parts = {
        tuple(sorted((s.get("partition") or {}).keys()))
        for s in t.manifest()["stats"].values()
    }
    assert parts == {("q",)}
    assert t.read(spark).count() == 160

    # an unknown column rejects loudly
    with pytest.raises(ValueError, match="unknown columns"):
        t.alter_partitioning(spark, ["nope"])


def test_alter_partitioning_sql_and_drop(spark, tmp_path):
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(60).select(F.col("id"), (F.col("id") % 3).alias("q"))
    )
    res = execute_dml(
        spark, "ALTER TABLE evo PARTITIONED BY (q)", {"evo": t}
    )
    assert res["partition_by"] == ["q"]
    assert t.manifest()["partition_by"] == ["q"]
    t.commit(
        spark.range(60, 90).select(F.col("id"), (F.col("id") % 3).alias("q")),
        mode="append",
        partition_by=["q"],
    )
    assert t.read(spark, partitions={"q": [0]}).count() == 30
    res = execute_dml(spark, "ALTER TABLE evo DROP PARTITIONING", {"evo": t})
    assert res["partition_by"] is None
    assert t.manifest().get("partition_by") is None
    t.commit(spark.range(90, 100).select(F.col("id"), (F.col("id") % 3).alias("q")), mode="append")
    assert t.read(spark).count() == 100 and t.fsck()["ok"]


def test_optimize_zordered_table_after_delete_all(spark, tmp_path):
    """Regression (hypothesis-found): OPTIMIZE on a zorder-clustered
    table whose rows were ALL deleted crashed on float(None) — the
    zorder bucketer had no min/max to span. Empty/all-NULL columns now
    bucket to a constant cell."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([(0, -40)], "k int, v int"), zorder_by=["v"]
    )
    t.delete(spark, [("v", -41, 1)])  # empties the table
    t.optimize(spark, target_rows_per_file=20)
    assert t.read(spark).count() == 0 and t.count() == 0
    assert t.fsck()["ok"]
    # and still usable afterwards
    t.commit(
        spark.createDataFrame([(1, 5)], "k int, v int"),
        mode="append",
    )
    assert t.read(spark).count() == 1


def test_replace_partitions_rejects_stale_scheme_files(spark, tmp_path):
    """advice r8: after ``alter_partitioning``, ``replace_partitions``
    only owns files recording the CURRENT scheme — old-scheme files
    whose rows logically belong to a replaced partition would be
    silently retained (duplicates). The commit now fails loudly until
    the table is migrated (optimize), with an explicit opt-in flag for
    callers who accept retain-by-file semantics."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100).select(
            F.col("id"),
            (F.col("id") % 4).alias("p"),
            (F.col("id") % 3).alias("q"),
        ),
        partition_by=["p"],
    )
    t.alter_partitioning(spark, ["q"])
    patch = spark.range(5).select(
        (F.col("id") * 3).alias("id"),
        ((F.col("id") * 3) % 4).alias("p"),
        F.lit(0).cast("long").alias("q"),
    )
    with pytest.raises(ValueError, match="different partition scheme"):
        t.commit(patch, mode="replace_partitions", partition_by=["q"])
    # explicit opt-in: commits, but old-scheme q=0 rows are RETAINED
    v = t.commit(
        patch,
        mode="replace_partitions",
        partition_by=["q"],
        allow_stale_partition_scheme=True,
    )
    cur = t.read(spark)
    assert cur.where("q = 0").count() == 34 + 5  # retained old + new
    assert t.count() == cur.count()
    t.restore(v - 1)
    # after optimize() migrates every file to the current scheme, the
    # replace owns q=0 exactly: 34 old rows drop, 5 new rows land
    t.optimize(spark, target_rows_per_file=1000)
    t.commit(patch, mode="replace_partitions", partition_by=["q"])
    cur = t.read(spark)
    assert cur.where("q = 0").count() == 5
    assert cur.count() == 100 - 34 + 5
    assert t.count() == cur.count() and t.fsck()["ok"]


def test_delete_all_on_partitioned_table_keeps_schema_anchor(spark, tmp_path):
    """Latent bug found by the round-9 soak (clone op reshuffled the
    sequence into delete-all × partitioning): an EMPTY frame written
    hive-partitioned produces ZERO part files, so a delete that
    removed every row of a partitioned table committed an unreadable
    zero-file snapshot. _stage now re-stages empty partitioned writes
    flat, keeping the one 0-row schema-anchor invariant everywhere."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("p")
        ),
        partition_by=["p"],
    )
    t.delete(spark, [("p", -10, 10)])  # removes every row
    assert t.read(spark).count() == 0
    assert t.count() == 0
    assert len(t.manifest()["files"]) == 1  # the schema anchor
    assert t.fsck()["ok"]
    # schema survives: appends keep working after the truncate
    t.commit(
        spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("p")),
        mode="append",
        partition_by=(t.manifest() or {}).get("partition_by"),
    )
    assert t.read(spark).count() == 5

    # truncate via an empty PARTITIONED replace: same anchor invariant
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(
        spark.range(9).select(F.col("id").alias("k"), (F.col("id") % 3).alias("p")),
        partition_by=["p"],
    )
    t2.commit(
        spark.range(0).select(F.col("id").alias("k"), (F.col("id") % 3).alias("p")),
        partition_by=["p"],
    )
    assert t2.read(spark).count() == 0 and len(t2.manifest()["files"]) == 1

    # the anchor RETIRES when real data arrives (else it would ride
    # every later snapshot as a stats-less no-op scan task), and an
    # empty append to a non-empty table never accretes one
    t2.commit(
        spark.range(6).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("p")
        ),
        mode="append",
        partition_by=["p"],
    )
    m2 = t2.manifest()
    assert not [
        f for f in m2["files"] if m2["stats"].get(f, {}).get("rows") == 0
    ]
    t2.commit(
        spark.range(0).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("p")
        ),
        mode="append",
        partition_by=["p"],
    )
    m2 = t2.manifest()
    assert not [
        f for f in m2["files"] if m2["stats"].get(f, {}).get("rows") == 0
    ]
    assert t2.read(spark).count() == 6 and t2.fsck()["ok"]


def test_replace_partitions_after_truncate_ignores_schema_anchor(
    spark, tmp_path
):
    """advice r9: a truncate (empty replace) leaves one 0-row schema
    anchor staged FLAT (partition={}); the stale-scheme guard must not
    classify it as an old-scheme file — a 0-row file cannot logically
    belong to any replaced partition."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(30).select(F.col("id"), (F.col("id") % 3).alias("p"))
    t.commit(df, partition_by=["p"])
    t.commit(df.limit(0), mode="replace", partition_by=["p"])  # truncate
    patch = spark.range(5).select(
        F.col("id"), F.lit(1).cast("long").alias("p")
    )
    t.commit(patch, mode="replace_partitions", partition_by=["p"])
    assert t.read(spark).count() == 5
    assert t.count() == 5
    assert t.fsck()["ok"]


def _constrained_table(spark, tmp_path, name="tc"):
    t = TransactionalTable(str(tmp_path / name))
    t.commit(
        spark.range(100).select(
            F.col("id"),
            (F.col("id") % 10).alias("k"),
            (F.col("id") * 2.0 + 1.0).alias("v"),  # v > 0 everywhere
        ),
        num_files=4,
        cluster_by=["id"],
    )
    t.add_constraint(spark, "v_positive", "v > 0")
    return t


def test_check_constraint_add_validates_and_gates_every_write(
    spark, tmp_path
):
    """verdict r9 #5: ALTER TABLE ADD CONSTRAINT ... CHECK is a STICKY
    always-on guarantee — validated against the existing snapshot at
    ADD time, then enforced fail-closed on append, UPDATE (both
    copy-on-write and deletion-vector), and MERGE (both forms). A
    rejected write commits NOTHING."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        ConstraintViolation,
    )

    t = _constrained_table(spark, tmp_path)
    assert t.constraints() == {"v_positive": "v > 0"}
    v0 = t.latest_version()

    # adding a constraint the data violates is itself rejected
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint(spark, "impossible", "v > 1000")
    # duplicate name rejected
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint(spark, "v_positive", "v > 0")

    bad = spark.createDataFrame(
        [(500, 0, -1.0), (501, 1, 5.0)], "id bigint, k bigint, v double"
    )
    good = spark.createDataFrame(
        [(502, 2, 7.0)], "id bigint, k bigint, v double"
    )
    with pytest.raises(ConstraintViolation, match="v_positive"):
        t.commit(bad, mode="append")
    assert t.latest_version() == v0  # nothing committed
    t.commit(good, mode="append")
    assert t.read(spark).count() == 101

    # UPDATE: copy-on-write and merge-on-read both reject
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, {"v": "-v"}, "k = 3")
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, {"v": "-v"}, "k = 3", merge_on_read=True)
    # NULL fails closed (x > 0 is not TRUE for NULL)
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, {"v": "NULL"}, "k = 4")

    # MERGE: violating source rows reject both forms
    src = spark.createDataFrame(
        [(5, 5, -9.0)], "id bigint, k bigint, v double"
    )
    with pytest.raises(ConstraintViolation):
        t.merge(spark, src, ["id"])
    with pytest.raises(ConstraintViolation):
        t.merge(spark, src, ["id"], merge_on_read=True)
    head = t.latest_version()

    # valid mutations still flow on every path
    t.update_where(spark, {"v": "v + 1"}, "k = 3", merge_on_read=True)
    t.merge(
        spark,
        spark.createDataFrame(
            [(5, 5, 9.0)], "id bigint, k bigint, v double"
        ),
        ["id"],
        merge_on_read=True,
    )
    assert t.latest_version() == head + 2
    assert t.fsck()["ok"]


def test_check_constraint_drop_sticky_and_clone(spark, tmp_path):
    """Constraints are sticky across maintenance (optimize) and carry
    to clones; DROP CONSTRAINT re-opens the gate."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        ConstraintViolation,
    )

    t = _constrained_table(spark, tmp_path)
    t.optimize(spark, target_rows_per_file=1000)
    assert t.constraints() == {"v_positive": "v > 0"}  # survived optimize

    dst = TransactionalTable(str(tmp_path / "tc_clone"))
    dst.clone_from(t)
    assert dst.constraints() == {"v_positive": "v > 0"}
    bad = spark.createDataFrame(
        [(900, 0, -3.0)], "id bigint, k bigint, v double"
    )
    with pytest.raises(ConstraintViolation):
        dst.commit(bad, mode="append")

    t.drop_constraint("v_positive")
    assert t.constraints() == {}
    t.commit(bad, mode="append")  # gate re-opened
    assert t.read(spark).where("v < 0").count() == 1
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("v_positive")


def test_check_constraint_sql_route(spark, tmp_path):
    """ADD/DROP CONSTRAINT via the SQL front door, and a violating SQL
    UPDATE rejected by the sticky constraint."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        ConstraintViolation,
    )

    t = TransactionalTable(str(tmp_path / "tsql"))
    t.commit(
        spark.range(50).select(F.col("id"), (F.col("id") + 1.0).alias("v"))
    )
    r = execute_dml(
        spark,
        "ALTER TABLE tsql ADD CONSTRAINT v_pos CHECK (v > 0)",
        tables={"tsql": t},
    )
    assert r["op"] == "add_constraint"
    assert r["constraints"] == {"v_pos": "v > 0"}
    with pytest.raises(ConstraintViolation):
        execute_dml(
            spark, "UPDATE tsql SET v = -1 WHERE id < 5", tables={"tsql": t}
        )
    r = execute_dml(
        spark, "ALTER TABLE tsql DROP CONSTRAINT v_pos", tables={"tsql": t}
    )
    assert r["constraints"] == {}
    execute_dml(
        spark, "UPDATE tsql SET v = -1 WHERE id < 5", tables={"tsql": t}
    )
    assert t.read(spark).where("v = -1").count() == 5


def test_replace_where_atomic_predicate_overwrite(spark, tmp_path):
    """verdict r9 #7 — REPLACE WHERE (Delta's predicate overwrite):
    delete-matching + append-new in ONE commit, band-pruned like
    delete_where, with Delta's validation that every replacement row
    satisfies the predicate."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100).select(
            F.col("id"), (F.col("id") % 10).alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        num_files=5,
        cluster_by=["id"],
    )
    files0 = set(t.manifest()["files"])
    v0 = t.latest_version()

    new = spark.createDataFrame(
        [(200, 3, -1.0), (201, 3, -2.0)], "id bigint, k bigint, v double"
    )
    res = t.replace_where(spark, new, "k = 3")
    assert res["version"] == v0 + 1  # ONE commit
    assert res["rows_deleted"] == 10 and res["rows_appended"] == 2
    cur = t.read(spark)
    assert cur.count() == 92
    assert sorted(r["id"] for r in cur.where("k = 3").collect()) == [200, 201]
    assert cur.where("k = 4").count() == 10  # untouched region intact
    # band pruning: id-clustered files outside the k hint... k is not
    # banded here, so all files are candidates — but retained files of
    # a PRUNABLE predicate stay byte-identical:
    res2 = t.replace_where(
        spark,
        spark.createDataFrame([(5, 5, 5.0)], "id bigint, k bigint, v double"),
        "id BETWEEN 0 AND 9",
    )
    m = t.manifest()
    # files covering id>=20 slices are retained from the previous
    # snapshot (pruned by the id band), not rewritten
    assert res2["files_retained"] > 0
    assert t.read(spark).where("id < 10").count() == 1

    # validation: replacement rows outside the predicate reject whole
    head = t.latest_version()
    with pytest.raises(ValueError, match="outside the region"):
        t.replace_where(
            spark,
            spark.createDataFrame(
                [(300, 9, 1.0)], "id bigint, k bigint, v double"
            ),
            "k = 2",
        )
    assert t.latest_version() == head
    # time travel: the pre-replace snapshot unchanged
    assert t.read(spark, v0).count() == 100
    assert t.count() == t.read(spark).count()
    assert t.fsck()["ok"]


def test_replace_where_sql_route_constraints_and_concurrency(
    spark, tmp_path
):
    """INSERT INTO t REPLACE WHERE <pred> SELECT ... routes through
    the SQL front door; CHECK constraints gate the replacement rows;
    a concurrent commit between read and publish retries cleanly."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        ConstraintViolation,
    )

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(50).select(
            F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") + 1.0).alias("v")
        )
    )
    r = execute_dml(
        spark,
        "INSERT INTO t REPLACE WHERE k = 2 "
        "SELECT CAST(900 AS BIGINT) AS id, CAST(2 AS BIGINT) AS k, "
        "CAST(9.0 AS DOUBLE) AS v",
        tables={"t": t},
    )
    assert r["op"] == "replace_where" and r["rows_deleted"] == 10
    assert t.read(spark).where("k = 2").count() == 1

    t.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ConstraintViolation):
        t.replace_where(
            spark,
            spark.createDataFrame(
                [(901, 2, -5.0)], "id bigint, k bigint, v double"
            ),
            "k = 2",
        )

    # concurrency: another writer lands between manifest read and CAS
    real_put = t._put_manifest
    raced = {"done": False}

    def racing_put(base_v, *a, **kw):
        if not raced["done"]:
            raced["done"] = True
            t.commit(
                spark.createDataFrame(
                    [(950, 4, 1.0)], "id bigint, k bigint, v double"
                ),
                mode="append",
            )
        return real_put(base_v, *a, **kw)

    t._put_manifest = racing_put
    try:
        res = t.replace_where(
            spark,
            spark.createDataFrame(
                [(902, 2, 2.0)], "id bigint, k bigint, v double"
            ),
            "k = 2",
        )
    finally:
        t._put_manifest = real_put
    cur = t.read(spark)
    assert {r["id"] for r in cur.where("k = 2").collect()} == {902}
    assert cur.where("id = 950").count() == 1  # racer's append survives
    assert t.count() == cur.count() and t.fsck()["ok"]


def test_sharded_checkpoint_roundtrip_and_pruned_planning(spark, tmp_path):
    """verdict r10 #3 — manifest scaling past ~10⁵ files: checkpoints
    shard into a manifest-list root + per-shard columnar objects, and
    a PREDICATED read plans from root + matched shards + deltas
    (O(shards touched)) instead of materializing O(live files). Full
    materialization (no predicate) must reconstruct the identical
    snapshot from all shards."""
    import os

    t = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=1, checkpoint_shard_files=8
    )
    t.commit(
        spark.range(500).select(
            F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        cluster_by=["id"],
        num_files=20,
    )
    t.commit(
        spark.range(500, 1000).select(
            F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        mode="append",
        cluster_by=["id"],
        num_files=20,
    )
    cps = sorted(os.listdir(tmp_path / "t" / "_checkpoints"))
    assert any(c.endswith(".root.json") for c in cps)
    assert sum(1 for c in cps if ".shard-" in c) == 5  # 40 files / 8

    # full materialization from shards == the writer's cached snapshot
    fresh = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=8)
    m_writer, m_fresh = t.manifest(), fresh.manifest()
    assert m_fresh["files"] == m_writer["files"]
    assert m_fresh["rows"] == m_writer["rows"] == 1000
    assert m_fresh["stats"] == m_writer["stats"]

    # predicated planning on a cold handle: pruned view, shard subset
    cold = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=8)
    shard_reads = {"n": 0}
    real_read = cold.storage.read

    def counting_read(key):
        if ".shard-" in key:
            shard_reads["n"] += 1
        return real_read(key)

    cold.storage.read = counting_read
    pm = cold._planning_manifest(None, [("id", 510, 520)], None, None)
    assert pm.get("pruned_view") and len(pm["files"]) < 40
    assert 1 <= shard_reads["n"] < 5  # matched shards only, never all
    got = sorted(
        r["id"] for r in cold.read(spark, where=[("id", 510, 520)]).collect()
    )
    assert got == list(range(510, 521))

    # all shards excluded: empty frame with the table schema
    cold2 = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=8)
    df = cold2.read(spark, where=[("id", 5000, 6000)])
    assert df.count() == 0 and set(df.columns) == {"id", "k", "v"}

    # a delta on top of the sharded base composes into the pruned view
    w = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=100, checkpoint_shard_files=8
    )
    w.commit(
        spark.createDataFrame([(2000, 1, 2.0)], "id bigint, k bigint, v double"),
        mode="append",
    )
    cold3 = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=8)
    got = sorted(
        r["id"] for r in cold3.read(spark, where=[("id", 1990, 2100)]).collect()
    )
    assert got == [2000]
    assert cold3.count() == 1001 and cold3.fsck()["ok"]


def test_sharded_checkpoint_on_object_store_sim(spark, tmp_path):
    """Sharded checkpoints use only put_if_absent / read / list —
    never rename — so the whole write/resolve/prune cycle must hold on
    object-store semantics (ObjectStoreSimStorage, whose rename is
    deliberately non-atomic and never called by the protocol)."""
    root = str(tmp_path / "t")
    t = TransactionalTable(
        root,
        storage=ObjectStoreSimStorage(root),
        checkpoint_interval=1,
        checkpoint_shard_files=8,
    )
    t.commit(
        spark.range(300).select(F.col("id"), (F.col("id") * 1.0).alias("v")),
        cluster_by=["id"],
        num_files=20,
    )
    t.commit(
        spark.range(300, 600).select(
            F.col("id"), (F.col("id") * 1.0).alias("v")
        ),
        mode="append",
        cluster_by=["id"],
        num_files=20,
    )
    assert any(
        k.endswith(".root.json") for k in t.storage.list("_checkpoints")
    )
    cold = TransactionalTable(
        root, storage=ObjectStoreSimStorage(root), checkpoint_shard_files=8
    )
    pm = cold._planning_manifest(None, [("id", 100, 110)], None, None)
    assert pm.get("pruned_view") and len(pm["files"]) < 40
    got = sorted(
        r["id"] for r in cold.read(spark, where=[("id", 100, 110)]).collect()
    )
    assert got == list(range(100, 111))
    assert cold.count() == 600 and cold.fsck()["ok"]


def test_shard_envelope_pruning_is_superset_safe():
    """Property: for ANY file-stats population and ANY band/equality/
    partition predicate, a shard whose envelope excludes it must
    contain NO file that per-file ``prune_files`` would keep — shard
    pruning can only ever remove provably-dead shards (the superset
    guarantee the pruned planning path rests on)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _shard_envelope,
        _shard_may_match,
        prune_files,
    )

    file_stat = st.fixed_dictionaries(
        {},
        optional={
            "rows": st.integers(0, 100),
            "cols": st.fixed_dictionaries(
                {},
                optional={
                    "a": st.tuples(
                        st.integers(-50, 50), st.integers(0, 60)
                    ).map(lambda t: [min(t), max(t)]),
                    "b": st.tuples(
                        st.integers(-5, 5), st.integers(-5, 5)
                    ).map(lambda t: [min(t), max(t)]),
                },
            ),
            "partition": st.fixed_dictionaries(
                {}, optional={"p": st.integers(0, 3)}
            ),
        },
    )

    @settings(max_examples=150, deadline=None)
    @given(
        stats_list=st.lists(file_stat, min_size=1, max_size=12),
        lo=st.one_of(st.none(), st.integers(-60, 70)),
        hi=st.one_of(st.none(), st.integers(-60, 70)),
        eq_vals=st.one_of(
            st.none(), st.lists(st.integers(-60, 70), min_size=1, max_size=3)
        ),
        part_vals=st.one_of(
            st.none(), st.lists(st.integers(0, 4), min_size=1, max_size=2)
        ),
    )
    def check(stats_list, lo, hi, eq_vals, part_vals):
        files = [f"data/f{i}.parquet" for i in range(len(stats_list))]
        stats = dict(zip(files, stats_list))
        env = _shard_envelope(files, stats)
        bands = [("a", lo, hi)] if (lo is not None or hi is not None) else []
        eq = [("a", eq_vals)] if eq_vals is not None else []
        partitions = {"p": part_vals} if part_vals is not None else None
        manifest = {"files": files, "stats": stats}
        kept = set(prune_files(manifest, bands or None, eq or None))
        if partitions:
            kept = {
                f
                for f in kept
                if "p" not in (stats[f].get("partition") or {})
                or stats[f]["partition"]["p"] in part_vals
            }
        if not _shard_may_match(env, bands, eq, partitions):
            assert not kept, (env, bands, eq, partitions, kept)

    check()


def test_vacuum_reclaims_orphan_checkpoint_shards(spark, tmp_path):
    """A sharded-checkpoint writer crashing after some shards but
    before the root leaves orphans no reader ever references (the
    root is written last); vacuum reclaims them under the writer
    grace while leaving complete sharded checkpoints intact."""
    import os
    import time as _time

    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _checkpoint_shard_key,
    )

    t = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=1, checkpoint_shard_files=8
    )
    t.commit(
        spark.range(300).select(F.col("id"), (F.col("id") * 1.0).alias("v")),
        cluster_by=["id"],
        num_files=20,
    )
    t.commit(
        spark.range(300, 600).select(
            F.col("id"), (F.col("id") * 1.0).alias("v")
        ),
        mode="append",
        cluster_by=["id"],
        num_files=20,
    )
    # fabricate a crashed writer: shards for a version with NO root
    orphan = _checkpoint_shard_key(t.latest_version() + 50, 0, 8)
    t.storage.put_if_absent(orphan, b"partial")
    _time.sleep(0.01)
    t.vacuum(retain_versions=10, unreferenced_grace_s=0.0)
    names = sorted(os.listdir(tmp_path / "t" / "_checkpoints"))
    assert not any(f"{t.latest_version() + 50:020d}" in n for n in names)
    # the COMPLETE sharded checkpoint survives and still resolves
    assert any(n.endswith(".root.json") for n in names)
    assert any(".shard-" in n for n in names)
    fresh = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=8)
    assert fresh.count() == 600 and fresh.fsck()["ok"]


def test_sharded_checkpoint_partition_envelopes(spark, tmp_path):
    """Partition-value envelopes in the shard root: a partitions={...}
    read on a cold handle loads only the shards whose recorded
    partition-value sets intersect the query — and stays EXACT (same
    rows as the unsharded read)."""
    t = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=1, checkpoint_shard_files=6
    )
    df = spark.range(400).select(
        F.col("id"), (F.col("id") % 8).alias("p"), (F.col("id") * 1.0).alias("v")
    )
    t.commit(df, partition_by=["p"], num_files=3)
    t.commit(
        spark.range(400, 500).select(
            F.col("id"), (F.col("id") % 8).alias("p"), (F.col("id") * 1.0).alias("v")
        ),
        mode="append",
        partition_by=["p"],
    )
    cold = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=6)
    shard_reads = {"n": 0}
    real_read = cold.storage.read

    def counting_read(key):
        if ".shard-" in key:
            shard_reads["n"] += 1
        return real_read(key)

    cold.storage.read = counting_read
    got = sorted(
        r["id"] for r in cold.read(spark, partitions={"p": [3]}).collect()
    )
    want = sorted(i for i in range(500) if i % 8 == 3)
    assert got == want
    n_shards = sum(
        1
        for c in __import__("os").listdir(tmp_path / "t" / "_checkpoints")
        if ".shard-" in c
    )
    assert 1 <= shard_reads["n"] < n_shards


def test_replace_where_in_list_predicate_sql(spark, tmp_path):
    """advice r10 — the REPLACE WHERE predicate/query boundary is
    parenthesis-aware: predicates containing an IN-list or a scalar
    subquery must split at the QUERY's SELECT/VALUES, not at the
    first '(' inside the predicate."""
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(30).select(
            F.col("id"), (F.col("id") % 3).alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    r = execute_dml(
        spark,
        "INSERT INTO t REPLACE WHERE k IN (0, 1) "
        "SELECT CAST(900 AS BIGINT) AS id, CAST(0 AS BIGINT) AS k, "
        "CAST(9.0 AS DOUBLE) AS v",
        tables={"t": t},
    )
    assert r["op"] == "replace_where" and r["rows_deleted"] == 20
    cur = t.read(spark)
    assert cur.count() == 11 and cur.where("k IN (0, 1)").count() == 1
    # VALUES query after an IN-list predicate splits correctly too
    r2 = execute_dml(
        spark,
        "INSERT INTO t REPLACE WHERE k IN (0) VALUES "
        "(CAST(901 AS BIGINT), CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE))",
        tables={"t": t},
    )
    assert r2["rows_appended"] == 1
    assert {x["id"] for x in t.read(spark).where("k = 0").collect()} == {901}


def test_commit_regates_constraints_added_by_race_winner(spark, tmp_path):
    """advice r10 — commit() gates constraints once at entry; if a
    concurrent ADD CONSTRAINT lands before the CAS attempt, the commit
    must RE-GATE against the race winner's constraint set instead of
    publishing a violating batch on top of it."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        ConstraintViolation,
    )

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(10).select(F.col("id"), (F.col("id") + 1.0).alias("v"))
    )
    # interleave: the constraint lands AFTER commit()'s front-door
    # gate (which runs before staging) but BEFORE the CAS loop reads
    # the base manifest — exactly the race the re-gate closes.
    real_stage = t._stage
    raced = {"done": False}

    def racing_stage(*a, **kw):
        keys, stats = real_stage(*a, **kw)
        if not raced["done"]:
            raced["done"] = True
            t2 = TransactionalTable(t.root)
            t2.add_constraint(spark, "v_small", "v < 1000")
        return keys, stats

    t._stage = racing_stage
    try:
        with pytest.raises(ConstraintViolation, match="v_small"):
            t.commit(
                spark.createDataFrame([(99, 5000.0)], "id bigint, v double"),
                mode="append",
            )
    finally:
        t._stage = real_stage
    # nothing published; the constraint holds on the head snapshot
    assert t.read(spark).where("v >= 1000").count() == 0
    assert "v_small" in t.constraints()
    assert t.fsck()["ok"]


def test_upload_file_copy_path_is_atomic(spark, tmp_path, monkeypatch):
    """advice r10 — the copy fallback in upload_file publishes via
    temp + os.replace: a pre-existing (e.g. truncated, crash-left)
    destination is atomically replaced with complete bytes and no
    temp artifact survives — what makes deep-clone's skip-if-exists
    resume safe."""
    import os as _os

    from nyc_taxi_etl_pyspark_spark.sources.txtable import LocalStorage

    st = LocalStorage(str(tmp_path / "store"))
    src = tmp_path / "src.bin"
    src.write_bytes(b"complete-content-" * 100)

    def no_link(*a, **kw):
        raise OSError("cross-device")

    monkeypatch.setattr(_os, "link", no_link)
    # crash-left truncated destination from a previous attempt
    dest = st.url("data/part-0.bin")
    _os.makedirs(_os.path.dirname(dest), exist_ok=True)
    with open(dest, "wb") as f:
        f.write(b"trunc")
    st.upload_file(str(src), "data/part-0.bin")
    with open(dest, "rb") as f:
        assert f.read() == src.read_bytes()
    leftovers = [
        n for n in _os.listdir(_os.path.dirname(dest)) if "__tmp" in n
    ]
    assert leftovers == []


def test_check_constraint_survives_restore(spark, tmp_path):
    """RESTORE keeps the CURRENT head's constraints (the engine's
    restore-sticky rule: data goes back in time, active guardrails do
    not) — a rollback must not silently drop the data contract."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        ConstraintViolation,
    )

    t = _constrained_table(spark, tmp_path)  # v0 data, v1 constraint
    t.commit(
        spark.createDataFrame(
            [(700, 0, 1.0)], "id bigint, k bigint, v double"
        ),
        mode="append",
    )
    t.restore(0)  # data back to v0 — constraint added at v1 persists
    assert t.constraints() == {"v_positive": "v > 0"}
    with pytest.raises(ConstraintViolation):
        t.commit(
            spark.createDataFrame(
                [(701, 0, -1.0)], "id bigint, k bigint, v double"
            ),
            mode="append",
        )
    assert t.read(spark).count() == 100 and t.fsck()["ok"]


def test_shard_may_match_canonicalizes_temporal_bounds():
    """advice r11 (high) — shard-envelope pruning must compare
    timestamp probes and envelope bands through the SAME temporal
    canonicalization ``prune_files`` uses: a Spark-trimmed fractional
    probe ('...00.5') or a 'T'-separated probe against a JSON-padded
    stat band ('...00.500000') denotes the same instant, and raw
    lexicographic compare would wrongly exclude the whole shard."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import _shard_may_match

    env = {
        "bands": {
            "ts": [
                "2024-01-01 00:00:00.500000",
                "2024-01-01 00:00:02.500000",
            ]
        }
    }
    temporal = {"ts"}
    trimmed = "2024-01-01 00:00:00.5"
    # point probe at the exact band min, trimmed: must keep the shard
    assert _shard_may_match(env, [("ts", trimmed, trimmed)], None, None, temporal)
    # 'T'-separated ISO form of the same instant
    t_sep = "2024-01-01T00:00:00.5"
    assert _shard_may_match(env, [("ts", t_sep, t_sep)], None, None, temporal)
    # equality probe in the trimmed form
    assert _shard_may_match(env, None, [("ts", [trimmed])], None, temporal)
    # a probe genuinely below the band still excludes
    lo = "2024-01-01 00:00:00.4"
    assert not _shard_may_match(env, [("ts", lo, lo)], None, None, temporal)
    # schema gate: a STRING column named like a timestamp keeps exact
    # raw ordering (no canonicalization) — '...0.5' < '...0.500000'
    assert not _shard_may_match(
        env, [("ts", trimmed, trimmed)], None, None, set()
    )


def test_sharded_checkpoint_temporal_probe_end_to_end(spark, tmp_path):
    """End-to-end reproduction of the advice r11 high item: a
    timestamp-banded predicated read on a sharded-checkpoint table,
    probing with the Spark-trimmed string form, must return the
    matching rows (before the fix the shard whose band min carries a
    padded fraction was wrongly excluded and the row silently lost)."""
    t = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=1, checkpoint_shard_files=4
    )
    # ts = 00:00:00.5 + id seconds → every file's band min/max carry a
    # .5 fraction (padded to .500000 in the recorded stats)
    df = spark.range(64).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00.5' + make_interval(0,0,0,0,0,0,id)"
        ).alias("ts"),
    )
    t.commit(df, cluster_by=["id"], num_files=16)
    t.commit(
        spark.range(64, 66).select(
            F.col("id"),
            F.expr(
                "timestamp'2024-01-01 00:10:00.5' + make_interval(0,0,0,0,0,0,id)"
            ).alias("ts"),
        ),
        mode="append",
    )
    import os as _os

    cps = _os.listdir(tmp_path / "t" / "_checkpoints")
    assert any(c.endswith(".root.json") for c in cps)  # sharded base
    cold = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=4)
    probe = "2024-01-01 00:00:00.5"  # Spark-trimmed point probe
    pm = cold._planning_manifest(None, [("ts", probe, probe)], None, None)
    assert pm is not None and pm["files"], "matching shard wrongly excluded"
    got = cold.read(spark, where=[("ts", probe, probe)]).collect()
    assert [r["id"] for r in got] == [0]


def test_sharded_checkpoint_layout_identity(spark, tmp_path):
    """advice r11 (medium) — the shard size is part of the object KEY
    and pinned in the root, so differently-configured writers of the
    same version publish disjoint key sets; and a shard whose decoded
    file count disagrees with the root envelope is rejected (reader
    falls back to the delta chain) instead of stitching a corrupt
    snapshot."""
    import os as _os

    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _decode_checkpoint_parquet,
        _encode_checkpoint_parquet,
    )

    t = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=1, checkpoint_shard_files=8
    )
    t.commit(_snapshot_df(spark, 0, rows=200), cluster_by=["id"], num_files=16)
    t.commit(
        _snapshot_df(spark, 1, rows=200).withColumn(
            "id", F.col("id") + 200
        ),
        mode="append",
        cluster_by=["id"],
        num_files=16,
    )
    ckdir = tmp_path / "t" / "_checkpoints"
    names = sorted(_os.listdir(ckdir))
    shard_names = [n for n in names if ".shard-" in n]
    assert shard_names and all(".s8.shard-" in n for n in shard_names)
    root_name = next(n for n in names if n.endswith(".root.json"))
    root = json.loads((ckdir / root_name).read_text())
    assert root["shard_size"] == 8

    # a cold reader configured with a DIFFERENT shard size resolves the
    # snapshot identically — the ROOT's recorded size drives key
    # composition, never the reader's local config
    cold = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=64)
    assert cold.manifest()["files"] == t.manifest()["files"]

    # corrupt shard 0 with a wrong-slicing shard (what a pre-fix
    # different-size writer could leave): count mismatch vs the root
    # envelope → sharded read rejected, snapshot rebuilt from the log
    shard0 = ckdir / shard_names[0]
    part = _decode_checkpoint_parquet(shard0.read_bytes())
    bad = dict(part)
    bad["files"] = part["files"][:3]
    bad["stats"] = {f: part["stats"][f] for f in bad["files"]}
    shard0.write_bytes(_encode_checkpoint_parquet(bad))
    cold2 = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=8)
    m2 = cold2.manifest()
    assert m2["files"] == t.manifest()["files"]  # delta-chain fallback
    got = cold2.read(spark, where=[("id", 0, 5)]).collect()
    assert sorted(r["id"] for r in got) == [0, 1, 2, 3, 4, 5]


def test_empty_prune_read_survives_vacuumed_anchor(spark, tmp_path):
    """advice r11 (low) — an all-shards-excluded read anchors its
    empty frame's schema on the checkpoint root's any_file; when a
    later delta removed that file and vacuum physically deleted it
    (the root survives its grace window), the read must fall back to
    the full manifest's normal empty handling, not raise."""
    t = TransactionalTable(
        str(tmp_path / "t"), checkpoint_interval=1, checkpoint_shard_files=4
    )
    t.commit(_snapshot_df(spark, 0, rows=64), cluster_by=["id"], num_files=16)
    t.commit(
        _snapshot_df(spark, 1, rows=64).withColumn("id", F.col("id") + 64),
        mode="append",
        cluster_by=["id"],
        num_files=16,
    )
    import os as _os

    ckdir = tmp_path / "t" / "_checkpoints"
    root_name = next(
        n for n in sorted(_os.listdir(ckdir)) if n.endswith(".root.json")
    )
    root = json.loads((ckdir / root_name).read_text())
    anchor = root["any_file"]
    band = t.manifest()["stats"][anchor]["cols"]["id"]
    # a delta on top of the sharded base removes the anchor file whole
    w = TransactionalTable(str(tmp_path / "t"), checkpoint_interval=1000)
    w.delete(spark, where=[("id", band[0], band[1])])
    assert anchor not in w.manifest()["files"]
    # simulated raced vacuum: the anchor's bytes are gone, root remains
    w.storage.delete(anchor)
    cold = TransactionalTable(str(tmp_path / "t"), checkpoint_shard_files=4)
    df = cold.read(spark, where=[("id", 50000, 60000)])
    assert df.count() == 0
    assert set(df.columns) == {"id", "v", "x"}


def test_arrow_stage_takes_non_nullable_schema(spark, tmp_path):
    """Round 15: Spark's arrow interchange marks non-nullable columns
    `not null` (e.g. spark.range ids, join keys), while the staging
    writer's declared schema (to_arrow_schema of df.schema) is all-
    nullable — the writer must cast, not crash into the Spark-writer
    fallback (the fallback kept results correct but burned a failed
    distributed job per commit; caught live in the streaming
    semantic-dedup sink)."""
    df = spark.range(10).withColumn("v", F.col("id").cast("double"))
    assert not df.schema["id"].nullable  # the precondition under test
    t = TransactionalTable(str(tmp_path / "t"))
    stats = t._stage_arrow_local(df, "data/ctest", None, None)
    assert stats is not None and len(stats) >= 1  # arrow path, no fallback
    assert sum(s.get("rows", 0) for s in stats.values()) == 10
    # and the end-to-end commit round-trips
    t.commit(df)
    assert t.read(spark).count() == 10
