#!/usr/bin/env python
"""Long-sequence soak of the transactional-table protocol.

The CI fuzzes (tests/test_txtable.py) run short seeded sequences on
every suite run; this tool runs LONG ones (default 5 seeds x 40 ops)
against the same in-memory reference model, for use after protocol
changes (delta-log format, checkpointing, distributed publish, bloom
sidecars, incremental optimize, write-at-final-keys layout, SQL DML).
Every op is followed by the full postcondition battery: content vs
model, metadata count, zone-map band read, bloom point read, fsck,
and a spark.sql count through create_view. Checkpoint interval is
pinned low so reconstruction (base checkpoint + delta replay) is
crossed constantly, and the distributed-publish threshold is pinned
to 1 so every commit takes the executor-side path. The op mix
includes SQL-text UPDATE/DELETE/MERGE through the DML front door
(sources/txsql.py) — both the upsert-all fast path and the full
clause form (conditional DELETE/UPDATE, guarded INSERT, NOT MATCHED
BY SOURCE) — plus merge-on-read deletion-vector DELETE/UPDATE
(crossing DVs with optimize, restore, vacuum, and checkpoint
reconstruction), and randomly flips the storage's
``supports_direct_write`` capability, so version histories mix
directly-written and staged-then-published commits of the one table
format — restore/time-travel/vacuum must read them all alike.

Usage: python tools/soak_txtable.py [n_seeds] [n_ops]
Exits non-zero on the first divergence.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def soak(spark, seed: int, n_ops: int) -> int:
    from pyspark.sql import functions as F  # noqa: F401

    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    rng = random.Random(seed)
    root = tempfile.mkdtemp(prefix=f"soak-{seed}-")
    t = TransactionalTable(os.path.join(root, "t"))
    t.checkpoint_interval = 3
    t.distributed_publish_min_files = 1
    # pin the sharded-checkpoint threshold tiny so reconstruction
    # constantly crosses manifest-list roots + per-shard objects
    # (round 11) — the default 10⁵ would never shard at soak sizes
    t.checkpoint_shard_files = 4
    model: dict[int, int] = {}
    history: list[dict[int, int]] = []
    # ALTERed (schema-only) columns currently declared on the table;
    # merges/appends must carry the full evolved schema (documented
    # contract), so write frames widen with NULL literals
    extra: list[str] = []
    extra_history: list[list[str]] = []
    # declared type of v — widened in place by do_widen (ALTER COLUMN
    # TYPE), reverted by restore/replace; write frames must track it
    # because appends/merges require the exact evolved schema
    vtype = ["int"]
    vtype_history: list[str] = []

    def frame(d):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(d.items())],
            f"k int, {vname[0]} {vtype[0]}",
        )

    def widen(df):
        if not extra:
            return df
        return df.select(
            "*", *[F.lit(None).cast("int").alias(c) for c in extra]
        )

    def rand_batch():
        return {
            rng.randint(0, 80): rng.randint(-500, 500)
            for _ in range(rng.randint(1, 12))
        }

    def do_replace():
        d = rand_batch()
        # a replace REDEFINES the schema — reset the declared state
        # BEFORE building the frame, or the replace writes the widened
        # type while the model thinks the schema went back to int
        extra.clear()
        vtype[0] = "int"
        t.commit(
            frame(d),
            num_files=rng.randint(1, 4),
            bloom_by=["k"] if rng.random() < 0.5 else None,
            cluster_by=[vname[0]] if rng.random() < 0.3 else None,
        )
        model.clear()
        model.update(d)

    def do_append():
        if not t.exists():
            return
        # append semantics are a bag; keep the model keyed by using
        # fresh keys above the replace range
        d = {rng.randint(100, 900): rng.randint(-500, 500) for _ in range(3)}
        d = {k: v for k, v in d.items() if k not in model}
        if not d:
            return
        # appends must stage under the table's CURRENT partitioning
        # (do_alter_partitioning may have evolved it)
        t.commit(
            widen(frame(d)),
            mode="append",
            num_files=1,
            partition_by=(t.manifest() or {}).get("partition_by"),
        )
        model.update(d)

    def do_merge():
        if not t.exists():
            return
        d = rand_batch()
        t.merge(spark, widen(frame(d)), ["k"])
        model.update(d)

    def do_delete():
        if not t.exists() or not model:
            return
        lo = rng.randint(-500, 500)
        hi = lo + rng.randint(0, 300)
        t.delete(spark, [(vname[0], lo, hi)])
        for k in [k for k, v in model.items() if lo <= v <= hi]:
            del model[k]

    def do_optimize():
        if t.exists() and t.count() > 0:
            t.optimize(spark, target_rows_per_file=20)

    def do_optimize_incremental():
        if t.exists() and t.count() > 0:
            t.optimize_incremental(spark, target_rows_per_file=20)

    def do_restore():
        vs = [v for v in t.versions() if v < t.latest_version()]
        if not vs:
            return
        v = rng.choice(vs)
        t.restore(v)
        model.clear()
        model.update(history[v])
        extra[:] = list(extra_history[v])  # schema went back in time too
        vtype[0] = vtype_history[v]
        vname[0] = vname_history[v]  # column names travel with schema

    def do_vacuum():
        t.vacuum(retain_versions=4, unreferenced_grace_s=0)

    from nyc_taxi_etl_pyspark_spark.sources.txsql import (
        execute_dml,
        register_dml_target,
    )

    dml_name = f"soak_dml_{seed}"

    def do_sql_update():
        if not t.exists() or not model:
            return
        register_dml_target(dml_name, t)
        lo = rng.randint(-500, 500)
        hi = lo + rng.randint(0, 300)
        execute_dml(
            spark,
            f"UPDATE {dml_name} SET {vname[0]} = {vname[0]} + 7 "
            f"WHERE {vname[0]} BETWEEN {lo} AND {hi}",
        )
        for k in [k for k, v in model.items() if lo <= v <= hi]:
            model[k] += 7

    def do_sql_delete():
        if not t.exists() or not model:
            return
        register_dml_target(dml_name, t)
        lo = rng.randint(-500, 500)
        hi = lo + rng.randint(0, 300)
        execute_dml(
            spark,
            f"DELETE FROM {dml_name} "
            f"WHERE {vname[0]} BETWEEN {lo} AND {hi}",
        )
        for k in [k for k, v in model.items() if lo <= v <= hi]:
            del model[k]

    def do_sql_merge():
        if not t.exists():
            return
        register_dml_target(dml_name, t)
        d = rand_batch()
        widen(frame(d)).createOrReplaceTempView(f"{dml_name}_ups")
        execute_dml(
            spark,
            f"MERGE INTO {dml_name} AS t USING {dml_name}_ups AS s "
            f"ON t.k = s.k "
            f"WHEN MATCHED THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *",
        )
        model.update(d)

    def do_sql_merge_clauses():
        # FULL-FORM clause merge: conditional DELETE + UPDATE + guarded
        # INSERT + NOT MATCHED BY SOURCE, replayed against the model
        if not t.exists():
            return
        register_dml_target(dml_name, t)
        d = rand_batch()
        frame(d).createOrReplaceTempView(f"{dml_name}_cl")
        execute_dml(
            spark,
            f"MERGE INTO {dml_name} AS t USING {dml_name}_cl AS s "
            f"ON t.k = s.k "
            f"WHEN MATCHED AND s.{vname[0]} < -300 THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET "
            f"{vname[0]} = s.{vname[0]} + 1 "
            f"WHEN NOT MATCHED AND s.{vname[0]} % 2 = 0 THEN "
            f"INSERT (k, {vname[0]}) VALUES (s.k, s.{vname[0]}) "
            f"WHEN NOT MATCHED BY SOURCE AND t.{vname[0]} > 400 THEN "
            f"UPDATE SET {vname[0]} = t.{vname[0]} - 1000",
        )
        for k in [k for k in model if k not in d and model[k] > 400]:
            model[k] -= 1000
        for k, v in d.items():
            if k in model:
                if v < -300:
                    del model[k]
                else:
                    model[k] = v + 1
            elif v % 2 == 0:
                model[k] = v

    def do_dv_delete():
        # merge-on-read DELETE: no file rewritten, positions sidecar'd
        if not t.exists() or not model:
            return
        lo = rng.randint(-500, 500)
        hi = lo + rng.randint(0, 300)
        res = t.delete_where(
            spark, f"v BETWEEN {lo} AND {hi}", merge_on_read=True
        )
        assert res["files_rewritten"] == 0, res
        for k in [k for k, v in model.items() if lo <= v <= hi]:
            del model[k]

    def do_dv_update():
        # merge-on-read UPDATE: old positions DV'd, new rows appended
        if not t.exists() or not model:
            return
        lo = rng.randint(-500, 500)
        hi = lo + rng.randint(0, 300)
        res = t.update_where(
            spark,
            {vname[0]: f"{vname[0]} + 13"},
            f"{vname[0]} BETWEEN {lo} AND {hi}",
            merge_on_read=True,
        )
        assert res["files_rewritten"] == 0, res
        for k in [k for k, v in model.items() if lo <= v <= hi]:
            model[k] += 13

    def do_dv_merge():
        # merge-on-read MERGE (upsert form): matched positions DV'd,
        # merge output appended, zero rewrites — same model effect as
        # the copy-on-write do_merge
        if not t.exists():
            return
        d = rand_batch()
        t.merge(spark, widen(frame(d)), ["k"], merge_on_read=True)
        mf = t.manifest()
        assert mf["meta"].get("strategy") in ("merge-on-read",), mf["meta"]
        model.update(d)

    def do_dv_merge_clauses():
        # merge-on-read CLAUSE merge (round 9): conditional DELETE +
        # UPDATE + guarded INSERT decompose into DV positions + a
        # projected append — zero rewrites; same model effects as the
        # decomposable subset of do_sql_merge_clauses (no NOT MATCHED
        # BY SOURCE here — that shape falls back to copy-on-write,
        # covered by the SQL op)
        if not t.exists():
            return
        d = rand_batch()
        v0 = t.latest_version()
        t.merge(
            spark,
            widen(frame(d)),
            ["k"],
            clauses=[
                {"when": "matched", "cond": f"s.{vname[0]} < -300",
                 "action": "delete"},
                {"when": "matched", "cond": None, "action": "update",
                 "set": {vname[0]: f"s.{vname[0]} + 1"}},
                {"when": "not_matched",
                 "cond": f"s.{vname[0]} % 2 = 0",
                 "action": "insert", "values": "*"},
            ],
            merge_on_read=True,
        )
        # a batch where no clause fires legitimately commits nothing
        if t.latest_version() > v0:
            mf = t.manifest()
            assert mf["meta"].get("strategy") == "merge-on-read", mf["meta"]
        for k, v in d.items():
            if k in model:
                if v < -300:
                    del model[k]
                else:
                    model[k] = v + 1
            elif v % 2 == 0:
                model[k] = v

    def do_clone_check():
        # SHALLOW CLONE as an invariant probe (round 9): clone the
        # CURRENT state — whatever mix of DVs, widened types, evolved
        # columns, partition schemes the prior ops left — into a fresh
        # root; the clone must read exactly the model, a mutation of
        # the clone must not disturb the source, and the clone's
        # vacuum must never touch the source's files.
        if not t.exists():
            return
        d = tempfile.mkdtemp(prefix="soakclone-")
        try:
            c = TransactionalTable(os.path.join(d, "c"))
            c.clone_from(t)
            got = {r["k"]: r[vname[0]] for r in c.read(spark).collect()}
            assert got == model, ("clone content", got, model)
            assert c.count() == len(model)
            if model:
                c.delete_where(spark, f"k = {sorted(model)[0]}")
                c.vacuum(retain_versions=1, unreferenced_grace_s=0)
            src_again = {
                r["k"]: r[vname[0]] for r in t.read(spark).collect()
            }
            assert src_again == model, ("clone mutated source",)
            assert t.fsck()["ok"], "clone vacuum touched source files"
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def do_add_columns():
        # ALTER TABLE ADD COLUMNS: a schema-only commit crossing the
        # same checkpoint/vacuum/restore machinery as data commits;
        # capped so 80-op runs don't grow an absurd schema
        if not t.exists() or len(extra) >= 3:
            return
        c = f"x{len(extra)}_{rng.randint(0, 999)}"
        t.add_columns(spark, {c: "int"})
        extra.append(c)

    def do_widen():
        # ALTER COLUMN TYPE int -> bigint: schema-only widening commit;
        # later appends/merges must carry bigint, reads upcast narrow
        # files on scan
        if not t.exists() or vtype[0] != "int":
            return
        t.alter_column_type(spark, vname[0], "bigint")
        vtype[0] = "bigint"

    def do_alter_partitioning():
        # partition evolution: flip future-write partitioning between
        # none and by-k; old files keep their recorded scheme, model
        # unchanged (content identical)
        if not t.exists():
            return
        cur = t.manifest().get("partition_by")
        t.alter_partitioning(spark, None if cur else ["k"])

    def do_dv_compact():
        # stats-only maintenance: collapse stacked sidecar refs; model
        # unchanged (logical content identical by contract)
        if t.exists():
            t.compact_deletion_vectors(spark)

    def do_flip_layout_capability():
        # flips the TRANSPORT only (direct write vs staged publish);
        # every commit writes the same table format either way
        t.storage.supports_direct_write = (
            not t.storage.supports_direct_write
        )

    # column mapping state: the model's "v" column may currently be
    # RENAMED on the table; write frames and SQL text must follow.
    # vname[0] is the CURRENT logical name of the v column.
    vname = ["v"]
    vname_history: list[str] = []

    def do_rename_v():
        # RENAME COLUMN: metadata-only; every later op speaks the new
        # name (frame(), SQL text, predicates). Constraint references
        # block renames, so drop the soak constraint first if present.
        if not t.exists():
            return
        if "v_not_null" in t.constraints():
            t.drop_constraint("v_not_null")
        new_name = "v" if vname[0] != "v" else "val"
        try:
            t.rename_column(vname[0], new_name)
        except ValueError:
            return  # e.g. tombstone collision after a restore
        vname[0] = new_name

    def do_replace_where():
        # REPLACE WHERE (round 10): atomically swap the v-band region
        # for a fresh batch whose rows satisfy the predicate
        if not t.exists() or not model:
            return
        lo = rng.randint(-500, 400)
        hi = lo + rng.randint(0, 200)
        d = {
            rng.randint(2000, 2900): rng.randint(lo, hi)
            for _ in range(rng.randint(1, 5))
        }
        d = {k: v for k, v in d.items() if k not in model}
        if not d:
            return
        t.replace_where(
            spark,
            widen(frame(d)),
            f"{vname[0]} BETWEEN {lo} AND {hi}",
        )
        for k in [k for k, v in model.items() if lo <= v <= hi]:
            del model[k]
        model.update(d)

    def do_add_constraint():
        # CHECK constraint (round 10): sticky always-true predicate so
        # the rest of the op mix keeps flowing, then a violating PROBE
        # append that must reject WHOLE and leave version/model
        # untouched — the fail-closed contract under every interleaving
        from pyspark.sql import functions as F

        from nyc_taxi_etl_pyspark_spark.sources.txtable import (
            ConstraintViolation,
        )

        if not t.exists():
            return
        if "v_not_null" not in t.constraints():
            t.add_constraint(
                spark, "v_not_null", f"{vname[0]} IS NOT NULL"
            )
        head = t.latest_version()
        sample = t.read(spark).limit(1)
        if sample.count() == 0:
            return
        bad = sample.withColumn(vname[0], F.lit(None).cast(vtype[0]))
        try:
            t.commit(bad, mode="append")
        except ConstraintViolation:
            pass
        else:
            raise AssertionError(
                (seed, "CHECK constraint accepted a violating append")
            )
        assert t.latest_version() == head, (seed, "rejected append committed")

    def do_drop_constraint():
        if t.exists() and "v_not_null" in t.constraints():
            t.drop_constraint("v_not_null")

    ops = [
        do_replace,
        do_append,
        do_merge,
        do_delete,
        do_optimize,
        do_optimize_incremental,
        do_restore,
        do_vacuum,
        do_add_columns,
        do_widen,
        do_sql_update,
        do_sql_delete,
        do_sql_merge,
        do_sql_merge_clauses,
        do_dv_delete,
        do_dv_update,
        do_dv_merge,
        do_dv_merge_clauses,
        do_clone_check,
        do_dv_compact,
        do_alter_partitioning,
        do_flip_layout_capability,
        do_add_constraint,
        do_drop_constraint,
        do_replace_where,
        do_rename_v,
    ]
    do_replace()
    checks = 0

    def fill_history():
        while len(history) < t.latest_version() + 1:
            history.append(dict(model))
            extra_history.append(list(extra))
            vtype_history.append(vtype[0])
            vname_history.append(vname[0])

    fill_history()
    for i in range(n_ops):
        op = rng.choice(ops)
        op()
        fill_history()
        if not t.exists():
            continue
        got = {r["k"]: r[vname[0]] for r in t.read(spark).collect()}
        assert got == model, (seed, i, op.__name__, got, model)
        assert t.count() == len(model), (seed, i, op.__name__)
        band = {
            r["k"]: r[vname[0]]
            for r in t.read(spark, where=[(vname[0], -100, 100)]).collect()
        }
        assert band == {k: v for k, v in model.items() if -100 <= v <= 100}, (
            seed,
            i,
            op.__name__,
            "band",
        )
        if model:
            k0 = rng.choice(sorted(model))
            pt = [
                r[vname[0]]
                for r in t.read(spark, equals={"k": k0}).collect()
            ]
            assert pt == [model[k0]], (seed, i, op.__name__, "point", k0)
        f = t.fsck()
        assert f["ok"], (seed, i, op.__name__, f)
        t.create_view(spark, "soak_view")
        n = spark.sql("SELECT count(*) AS n FROM soak_view").first().n
        assert n == len(model), (seed, i, op.__name__, "sql")
        checks += 1
    return checks


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    n_ops = int(sys.argv[2]) if len(sys.argv) > 2 else 40

    from nyc_taxi_etl_pyspark_spark.session import get_spark

    spark = get_spark(app_name="txtable-soak", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    total = 0
    for seed in range(1, n_seeds + 1):
        checks = soak(spark, seed, n_ops)
        total += checks
        print(
            f"seed {seed}: {n_ops} ops, {checks} full postcondition checks "
            f"({time.perf_counter() - t0:.0f}s)",
            flush=True,
        )
    print(f"soak clean: {n_seeds} seeds x {n_ops} ops, {total} checks")
    spark.stop()


if __name__ == "__main__":
    main()
