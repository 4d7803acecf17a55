"""SHALLOW CLONE (``TransactionalTable.clone_from`` / SQL ``CREATE
TABLE ... SHALLOW CLONE`` — Delta's clone shape; no reference
counterpart, the reference has no storage layer at all).

Contract under test: a clone is an O(metadata) commit that BORROWS the
source snapshot's data files (absolutized keys, zero bytes copied) and
is a fully independent table from that instant — its own log, time
travel, appends, copy-on-write and merge-on-read DML, pruning through
the borrowed stats/blooms, and ``optimize()`` as the materialize-to-
deep-clone recipe. Deletion-vector sidecars are REWRITTEN (tiny) so
the clone's DV reads key correctly and survive the source's sidecar
vacuum; data files stay borrowed, with the documented source-vacuum
caveat surfaced by fsck."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable


def _src(spark, tmp_path, n=1000, **kw):
    t = TransactionalTable(str(tmp_path / "src"))
    t.commit(
        spark.range(n).select(
            F.col("id"),
            (F.col("id") % 10).alias("k"),
            (F.col("id") * 2.0).alias("v"),
        ),
        num_files=4,
        cluster_by=["id"],
        bloom_by=["id"],
        **kw,
    )
    return t


def test_clone_is_metadata_only_and_reads_equal(spark, tmp_path):
    src = _src(spark, tmp_path)
    src.delete_where(spark, "id < 50", merge_on_read=True)  # source DV
    dst = TransactionalTable(str(tmp_path / "dst"))
    v = dst.clone_from(src)
    assert v == 0
    # zero data bytes copied; only the rewritten DV sidecar is local
    assert dst.storage.list("data") == []
    assert len(dst.storage.list("_dvs")) == 1
    got = sorted(map(tuple, dst.read(spark).collect()))
    want = sorted(map(tuple, src.read(spark).collect()))
    assert got == want and len(got) == 950
    assert dst.count() == 950  # metadata count carries logical rows
    m = dst.manifest()
    assert m["meta"]["op"] == "clone"
    assert m["meta"]["clone_source"] == src.root
    assert all(os.path.isabs(f) for f in m["files"])
    assert dst.fsck()["ok"]


def test_clone_pruning_through_borrowed_stats_and_blooms(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = TransactionalTable(str(tmp_path / "dst"))
    dst.clone_from(src)
    # band pruning via borrowed min/max (id-clustered: 1 of 4 files)
    assert len(dst.prune(where=[("id", 0, 100)])) == len(
        src.prune(where=[("id", 0, 100)])
    ) == 1
    # bloom point pruning via the borrowed (re-keyed) sidecars
    assert len(dst.prune(equals=[("id", 17)])) == 1
    assert len(dst.prune(equals=[("id", -5)])) == 0
    assert dst.read(spark, equals={"id": 17}).count() == 1


def test_clone_mutates_independently_of_source(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = TransactionalTable(str(tmp_path / "dst"))
    dst.clone_from(src)
    foreign = set(dst.manifest()["files"])

    # append stages locally
    dst.commit(
        spark.range(5000, 5010).select(
            F.col("id"), (F.col("id") % 10).alias("k"), F.lit(0.0).alias("v")
        ),
        mode="append",
    )
    assert dst.count() == 1010
    # merge-on-read DELETE over FOREIGN files: the path->key map keys
    # the DV by the clone's absolute manifest keys
    res = dst.delete_where(spark, "id >= 900 AND id < 950", merge_on_read=True)
    assert res["files_rewritten"] == 0 and res["rows_deleted"] == 50
    assert dst.count() == 960 and dst.read(spark).count() == 960
    # copy-on-write UPDATE rewrites the ONE touched foreign file
    # locally and retains the rest byte-identical
    res = dst.update_where(spark, {"v": "v + 1"}, "id = 100")
    assert res["files_rewritten"] == 1
    m = dst.manifest()
    assert len(foreign & set(m["files"])) == len(foreign) - 1
    assert dst.read(spark).where("id = 100").first()["v"] == 201.0
    # source is untouched by ALL of it
    assert src.count() == 1000 and src.read(spark).count() == 1000
    # the clone's vacuum never deletes the source's files
    dst.vacuum(retain_versions=1, unreferenced_grace_s=0)
    assert src.read(spark).count() == 1000 and src.fsck()["ok"]
    # optimize() materializes: no foreign refs remain (deep clone)
    dst.optimize(spark, target_rows_per_file=10000)
    m = dst.manifest()
    assert not any(os.path.isabs(f) for f in m["files"])
    assert dst.read(spark).count() == 960 and dst.fsck()["ok"]


def test_clone_time_travel_and_clone_of_clone(spark, tmp_path):
    src = _src(spark, tmp_path, n=100)
    dst = TransactionalTable(str(tmp_path / "dst"))
    dst.clone_from(src)
    dst.delete_where(spark, "id < 10")
    assert dst.read(spark, 0).count() == 100  # the clone snapshot
    assert dst.read(spark).count() == 90
    # clone of a clone: already-absolute keys pass through
    dd = TransactionalTable(str(tmp_path / "dd"))
    dd.clone_from(dst, version=0)
    assert dd.read(spark).count() == 100
    assert dd.storage.list("data") == []
    # versioned clone pins the requested source snapshot
    assert dd.manifest()["meta"]["clone_version"] == 0


def test_clone_rejects_v1_and_nonempty_dest(spark, tmp_path):
    # a superseded-format source (meta.layout 1) meets the format gate
    # when the clone resolves its snapshot
    legacy = _src(spark, tmp_path, n=40)
    key = legacy.storage.list("_commits")[-1]
    raw = json.loads(legacy.storage.read(key))
    raw["meta"]["layout"] = 1
    with open(legacy.storage.url(key), "w") as f:
        json.dump(raw, f)
    dst = TransactionalTable(str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="layout=1"):
        dst.clone_from(TransactionalTable(legacy.root))
    assert dst.latest_version() == -1
    src = _src(spark, tmp_path / "fresh", n=50)
    dst.commit(spark.range(3).select(F.col("id")))
    with pytest.raises(ValueError, match="FIRST commit"):
        dst.clone_from(src)


def test_clone_source_vacuum_breakage_is_loud(spark, tmp_path):
    """The documented Delta caveat: the clone borrows data files, so a
    source vacuum that expires them breaks the clone — fsck must
    report the missing foreign files, never a silent partial read."""
    src = _src(spark, tmp_path, n=200)
    dst = TransactionalTable(str(tmp_path / "dst"))
    dst.clone_from(src)
    # source replaces everything, then vacuums the old snapshot away
    src.commit(spark.range(5).select(F.col("id"), F.lit(0).alias("k"), F.lit(0.0).alias("v")))
    src.vacuum(retain_versions=1, unreferenced_grace_s=0)
    audit = dst.fsck()
    assert not audit["ok"] and audit["missing_files"]


def test_clone_sql_route(spark, tmp_path):
    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    src = _src(spark, tmp_path, n=100)
    src.delete_where(spark, "id < 10")  # v1
    path = str(tmp_path / "sqlclone")
    res = execute_dml(
        spark,
        f"CREATE TABLE cl LOCATION '{path}' SHALLOW CLONE s "
        "VERSION AS OF 0",
        {"s": src},
    )
    assert res["op"] == "clone" and res["source_version"] == 0
    t = TransactionalTable(path)
    assert t.read(spark).count() == 100  # the pre-delete snapshot
    assert spark.table("cl").count() == 100  # view registered
    # DML routes against the registered clone name
    execute_dml(spark, "DELETE FROM cl WHERE id >= 90", {"cl": t})
    assert t.read(spark).count() == 90


def test_clone_feeds_streaming_and_change_feed(spark, tmp_path):
    """The streaming sources work over a clone like over any table:
    txstream (startingversion past the clone snapshot) emits the
    clone's OWN appends — reading appended files via absolute borrowed
    keys never arises (appends are local), but the clone commit itself
    must count as the append-at-v0 snapshot; changes() diffs the
    clone's versions including foreign files."""
    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    src = _src(spark, tmp_path, n=100)
    root = str(tmp_path / "dst")
    dst = TransactionalTable(root)
    dst.clone_from(src)

    # txstream FIRST (append-only contract — a later CoW delete would
    # correctly kill it): the v0 clone snapshot (borrowed foreign
    # files) streams as the initial append, local appends flow after
    q = (
        spark.readStream.format("txstream")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("clone_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n0 = spark.table("clone_stream").count()
        assert n0 == 100  # the borrowed snapshot streamed
        dst.commit(
            spark.range(500, 503).select(
                F.col("id"),
                (F.col("id") % 10).alias("k"),
                F.lit(0.0).alias("v"),
            ),
            mode="append",
        )
        q.processAllAvailable()
        assert spark.table("clone_stream").count() == n0 + 3
    finally:
        q.stop()

    # change feed across the clone's own mutation, old side = foreign
    dst.delete_where(spark, "id < 10")  # v2 (after the v1 append)
    ch = dst.changes(spark, ["id"], 1, 2)
    assert {r["id"] for r in ch.collect()} == set(range(10))
    assert {r["_change_type"] for r in ch.collect()} == {"delete"}


def test_clone_dv_read_survives_percent_encoded_source_root(
    spark, tmp_path
):
    """advice r9: the foreign-file DV key lookup matched
    ``_metadata.file_path`` (a percent-encoded URI) against plain
    storage paths with an INNER join, so a source root needing
    encoding (here: a space) silently dropped EVERY row of the clone's
    DV reads. The lookup now carries both spellings and fails loudly
    on any unmatched path instead of dropping rows."""
    src = TransactionalTable(str(tmp_path / "src dir" / "src"))
    src.commit(
        spark.range(200).select(
            F.col("id"),
            (F.col("id") % 10).alias("k"),
            (F.col("id") * 2.0).alias("v"),
        ),
        num_files=4,
        cluster_by=["id"],
    )
    src.delete_where(spark, "id < 20", merge_on_read=True)
    dst = TransactionalTable(str(tmp_path / "dst"))
    dst.clone_from(src)
    got = sorted(r["id"] for r in dst.read(spark).collect())
    assert got == list(range(20, 200))  # not silently empty
    # clone-side DV DML over the percent-encoded borrowed files too
    dst.delete_where(spark, "id >= 190", merge_on_read=True)
    assert dst.read(spark).count() == 170
    assert dst.fsck()["ok"]


def test_clone_lost_version0_race_raises_commit_conflict(
    spark, tmp_path, monkeypatch
):
    """advice r9: losing the version-0 CAS race (two concurrent clones)
    must surface as CommitConflict, not as the misleading
    'already has committed versions' ValueError — that error is
    reserved for a destination that was non-empty BEFORE the clone."""
    from nyc_taxi_etl_pyspark_spark.sources.txtable import CommitConflict

    src = _src(spark, tmp_path)
    dst = TransactionalTable(str(tmp_path / "dst"))
    seq = iter([-1, 0])  # pre-check: empty; in-loop: a racer committed
    monkeypatch.setattr(dst, "latest_version", lambda: next(seq))
    with pytest.raises(CommitConflict, match="version-0 commit race"):
        dst.clone_from(src)


def test_deep_clone_is_self_contained_vs_source_vacuum(spark, tmp_path):
    """verdict r9 #6 — DEEP CLONE: borrowed files are COPIED under the
    clone's root at creation, so vacuuming (even deleting) the source
    leaves the clone fully readable — where the shallow clone's
    documented caveat fails loudly."""
    import shutil

    src = _src(spark, tmp_path)
    src.delete_where(spark, "id < 50", merge_on_read=True)  # DV carried
    dst = TransactionalTable(str(tmp_path / "deep"))
    v = dst.clone_from(src, deep=True)
    assert v == 0
    m = dst.manifest()
    assert m["meta"]["clone_kind"] == "deep"
    assert all(not os.path.isabs(f) for f in m["files"])  # own keys
    assert len(dst.storage.list("data")) == len(m["files"])
    want = sorted(map(tuple, src.read(spark).collect()))
    assert sorted(map(tuple, dst.read(spark).collect())) == want
    assert dst.count() == 950
    assert dst.fsck()["ok"]
    # obliterate the source entirely: the deep clone must not notice
    shutil.rmtree(src.root)
    assert sorted(map(tuple, dst.read(spark).collect())) == want
    assert dst.fsck()["ok"]
    # bloom pruning still works off the COPIED sidecars
    assert dst.read(spark, equals={"id": 500}).count() == 1
    # and the clone stays a normal table: DML + optimize + vacuum
    dst.delete_where(spark, "id >= 900", merge_on_read=True)
    assert dst.read(spark).count() == 850
    dst.optimize(spark, target_rows_per_file=1000)
    dst.vacuum(retain_versions=1, unreferenced_grace_s=0)
    assert dst.read(spark).count() == 850 and dst.fsck()["ok"]


def test_deep_clone_resumes_after_partial_copy(spark, tmp_path):
    """A crashed deep clone re-runs to completion: destination keys are
    deterministic, already-copied files are skipped (not re-copied),
    and no manifest exists until the copy set is complete."""
    src = _src(spark, tmp_path)
    dst = TransactionalTable(str(tmp_path / "deep"))

    real_upload = dst.storage.upload_file
    calls = {"n": 0}

    def failing_upload(local_path, key):
        calls["n"] += 1
        if calls["n"] == 3:  # die mid-copy on the third file
            raise RuntimeError("simulated crash mid deep-clone copy")
        return real_upload(local_path, key)

    dst.storage.upload_file = failing_upload
    with pytest.raises(RuntimeError, match="simulated crash"):
        dst.clone_from(src, deep=True)
    dst.storage.upload_file = real_upload
    assert dst.latest_version() == -1  # staged-then-commit: no manifest
    copied_before = set(dst.storage.list("data"))
    assert len(copied_before) == 2

    uploads = {"n": 0}

    def counting_upload(local_path, key):
        uploads["n"] += 1
        return real_upload(local_path, key)

    dst.storage.upload_file = counting_upload
    try:
        v = dst.clone_from(src, deep=True)
    finally:
        dst.storage.upload_file = real_upload
    assert v == 0
    # resume copied ONLY the missing data files plus the (distinct)
    # bloom sidecars the crash never reached
    m = dst.manifest()
    n_blooms = len(
        {
            fs["bloom_ref"]
            for fs in m["stats"].values()
            if fs.get("bloom_ref")
        }
    )
    assert uploads["n"] == (len(m["files"]) - 2) + n_blooms
    assert copied_before <= set(dst.storage.list("data"))
    assert dst.read(spark).count() == 1000 and dst.fsck()["ok"]


def test_deep_clone_sql_route_and_shallow_caveat_still_loud(
    spark, tmp_path
):
    """CREATE TABLE ... DEEP CLONE through the SQL front door; the
    SHALLOW route keeps its documented source-vacuum caveat (fsck
    flags the breakage loudly, reads fail)."""
    import shutil

    from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml

    src = _src(spark, tmp_path)
    deep_path = str(tmp_path / "deep_sql")
    r = execute_dml(
        spark,
        f"CREATE TABLE deep_sql LOCATION '{deep_path}' DEEP CLONE src0",
        tables={"src0": src},
    )
    assert r["op"] == "clone" and r["clone_kind"] == "deep"
    deep = TransactionalTable(deep_path)
    assert deep.read(spark).count() == 1000

    shallow_path = str(tmp_path / "shallow_sql")
    r2 = execute_dml(
        spark,
        f"CREATE TABLE shallow_sql LOCATION '{shallow_path}' "
        "SHALLOW CLONE src0",
        tables={"src0": src},
    )
    assert r2["clone_kind"] == "shallow"
    shallow = TransactionalTable(shallow_path)
    shutil.rmtree(src.root)  # source gone
    assert deep.read(spark).count() == 1000  # deep unaffected
    f = shallow.fsck()
    assert not f["ok"] and f.get("missing_files")  # loud, not silent
