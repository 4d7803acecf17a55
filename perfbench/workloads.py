"""The benchmark's workloads: their set-up, one pass of operations, and the
output check of every operation.

An operation has a ``build`` step (plan construction, for registry queries)
and an ``act`` step (the action, or the whole call for storage operations);
the runner times each and calls ``check`` on the result outside the timed
region. A pass is a fixed list of operations; the seed permutes its order.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import numpy as np

# Relational headline queries: small inputs, so per-job scheduling and
# execution dominate (the control for operator and storage changes).
RELATIONAL = [
    "q_agg_by_hour", "q_join_asof", "q_sessionize",
    "q_sql_q21_waiting_supplier", "q_record_linkage_snb",
]
# LLM-pipeline headline queries: time in operators, Arrow/pandas kernels
# and the eager jobs operators run while building plans.
CORPUS = [
    "q_dedup_minhash_survivors", "q_dedup_semantic", "q_ann_ivfpq_persisted",
    "q_embedding_quantize", "q_textrank_keywords",
]

STREAM_QUERY = "q_streaming_semantic_dedup"

# storage workload sizes
N_FILES = 64
ROWS_PER_FILE = 1000
N_ROWS = N_FILES * ROWS_PER_FILE
N_PARTS = 8
CDC_KEYS = 50
UPDATE_SPAN = 200
DELETE_SPAN = 100
ETL_ROWS = 500_000
ROW_BYTES = 8 * 4  # id, k, v, p held as 8-byte values in memory

WRITE_OPS = (
    "merge_cow", "merge_mor", "sql_update_mor", "sql_delete_cow",
    "append_cow", "compact_mor",
)
READ_OPS = ("point_read_cow", "point_read_mor", "partition_read", "time_travel_read")


class Op:
    """One operation. ``build``/``act`` are timed; ``check`` is not."""

    kind = "op"

    def __init__(self, name: str):
        self.name = name

    def build(self):
        return None

    def act(self, built):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        return []

    def verify(self, built) -> tuple[object, list[str]]:
        """Warm-up form of ``act`` + ``check`` (the full output check)."""
        result = self.act(built)
        return result, self.check(result)


def checksum(df) -> tuple[int, int]:
    """Row count and an order-independent hash over every output column.

    The hash reads every column, so the optimizer cannot prune a projection
    the way it can under ``count()``. Doubles are hashed as floats, so a
    change in summation order cannot change the checksum."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    cols = [
        F.col(f.name).cast("float") if isinstance(f.dataType, DoubleType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.select(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    return int(row[0]), int(row[1] or 0)


class QueryOp(Op):
    """A registry query: build the DataFrame, then compute its checksum
    (``checksum``). The warm-up pass compares its full output with the
    DuckDB oracle and records the checksum; timed passes must reproduce it."""

    kind = "query"

    def __init__(self, name, fn, ctx, oracle_sql=None, fresh_tmp=False):
        super().__init__(name)
        self.fn, self.ctx = fn, ctx
        self.oracle_sql = oracle_sql
        self.fresh_tmp = fresh_tmp
        self.expected: tuple[int, int] | None = None

    def build(self):
        if self.fresh_tmp:
            # queries that persist state under the temp dir start fresh
            tempfile.tempdir = self.ctx.fresh_dir("qtmp")
        try:
            return self.fn(self.ctx.spark, self.ctx.sf_dir)
        finally:
            if self.fresh_tmp:
                tempfile.tempdir = self.ctx.tmp_dir

    def act(self, df):
        return checksum(df)

    def check(self, got) -> list[str]:
        if self.expected is None:
            return [f"{self.name}: no verified checksum"]
        if got != self.expected:
            return [f"{self.name}: (rows, checksum) {got} != verified {self.expected}"]
        return []

    def verify(self, df):
        from oracle_harness import compare, run_oracle

        got = checksum(df)
        if self.oracle_sql is None:
            problems = [] if got[0] > 0 else [f"{self.name}: empty result"]
        else:
            problems = compare(df, run_oracle(self.ctx.sf_dir, self.oracle_sql), self.name)
        if not problems:
            self.expected = got
        return got, problems


class CallOp(Op):
    """A storage/ETL operation: one call, checked by arithmetic."""

    def __init__(self, name, kind, fn, check=None):
        super().__init__(name)
        self.kind, self.fn, self._check = kind, fn, check

    def act(self, built):
        return self.fn()

    def check(self, result) -> list[str]:
        return self._check(result) if self._check else []


# ---------------------------------------------------------------------------
# query workloads


class QueryWorkload:
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, names: list[str]):
        self.names = names

    def setup(self, ctx) -> dict:
        from nyc_taxi_etl_pyspark_spark.sources.tables import clear_cache, load_table

        clear_cache()
        t0 = time.perf_counter()
        for t in self.tables:
            load_table(ctx.spark, ctx.sf_dir, t).count()
        return {"tables.load_s": time.perf_counter() - t0}

    def make_ops(self, ctx) -> list[Op]:
        return [QueryOp(n, ctx.queries[n], ctx, ctx.oracles.get(n)) for n in self.names]

    def order(self, ops: list[Op], rng: np.random.Generator) -> list[Op]:
        return [ops[i] for i in rng.permutation(len(ops))]

    def begin_pass(self, ctx, rng) -> None:
        pass

    def end_pass(self, ctx) -> list[str]:
        return []

    def extra_metrics(self, ctx, passes) -> dict:
        return {}


# ---------------------------------------------------------------------------
# storage workload: table mutation beside ETL and streaming ingest


def synth_trips(spark, n: int, offset: int):
    """Taxi-trip-shaped raw frame (the reference's CSV columns), rows
    ``offset .. offset + n``; about half survive the ETL's quality gates."""
    from pyspark.sql import functions as F

    i = F.col("id")
    month_s = 31 * 86400
    pickup = F.lit(1420070400) + (i * 18) % month_s
    return spark.range(offset, offset + n).select(
        (i % 7 - 1).cast("int").alias("payment_type"),
        F.timestamp_seconds(pickup).alias("tpep_pickup_datetime"),
        F.timestamp_seconds(pickup + (i % 200) * 66).alias("tpep_dropoff_datetime"),
        ((i % 50).cast("double") / 10.0 - 0.4).alias("trip_distance"),
        ((i % 90).cast("double") - 2.0).alias("fare_amount"),
        ((i % 95).cast("double") - 1.0).alias("total_amount"),
        (i % 8 - 1).cast("int").alias("passenger_count"),
        (F.lit(-74.35) + (i % 100).cast("double") / 125.0).alias("pickup_longitude"),
        (F.lit(40.45) + (i % 60).cast("double") / 100.0).alias("pickup_latitude"),
        (F.lit(-74.25) + (i % 80).cast("double") / 100.0).alias("dropoff_longitude"),
        (F.lit(40.55) + (i % 40).cast("double") / 80.0).alias("dropoff_latitude"),
    )


def expected_etl(n: int, offset: int) -> tuple[int, int]:
    """``(rows_clean, rows_agg)`` of ``synth_trips`` after the reference's
    cleaning rules, computed in numpy, independently of the library."""
    i = np.arange(offset, offset + n, dtype=np.int64)
    pickup = 1420070400 + (i * 18) % (31 * 86400)
    dur = ((i % 200) * 66) / 60.0
    dist = (i % 50).astype(np.float64) / 10.0 - 0.4
    keep = (
        (dist > 0) & ((i % 90) - 2.0 > 0) & ((i % 95) - 1.0 > 0) & (i % 8 - 1 > 0)
        & (dur >= 1.0) & (dur <= 180.0)
    )
    for lo, hi, v in (
        (-75.0, -72.0, -74.35 + (i % 100) / 125.0),
        (-75.0, -72.0, -74.25 + (i % 80) / 100.0),
        (40.0, 42.0, 40.45 + (i % 60) / 100.0),
        (40.0, 42.0, 40.55 + (i % 40) / 80.0),
    ):
        keep &= (v > lo) & (v < hi)
    with np.errstate(divide="ignore", invalid="ignore"):
        speed = dist / (dur / 60.0)
    keep &= (speed >= 0.0) & (speed <= 120.0)
    return int(keep.sum()), int(np.unique(pickup[keep] // 3600).size)


def planned_files(df) -> int:
    """Data files a table read plans to open (deletion-vector sidecars,
    which a merge-on-read scan joins in, are not counted)."""
    return sum(1 for f in df.inputFiles() if "/_dvs/" not in f)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


class StorageWorkload:
    """Two ``N_FILES``-file transactional tables, copy-on-write and
    merge-on-read, mutated and read each pass; plus one ETL run and one
    streaming semantic-dedup run."""

    tables = ("embeddings",)

    def setup(self, ctx) -> dict:
        from pyspark.sql import functions as F

        from nyc_taxi_etl_pyspark_spark.sources.tables import clear_cache, load_table
        from nyc_taxi_etl_pyspark_spark.sources.txsql import register_dml_target
        from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

        clear_cache()
        t0 = time.perf_counter()
        for t in self.tables:
            load_table(ctx.spark, ctx.sf_dir, t).count()
        load_s = time.perf_counter() - t0
        root = ctx.fresh_dir("tables")
        i = F.col("id")
        base = ctx.spark.range(N_ROWS).select(
            i,
            (i % 997).alias("k"),
            i.cast("double").alias("v"),
            F.floor(i * N_PARTS / N_ROWS).cast("int").alias("p"),
        )
        self.cow = TransactionalTable(root + "/cow")
        self.mor = TransactionalTable(root + "/mor")
        t1 = time.perf_counter()
        for t in (self.cow, self.mor):
            t.commit(
                base,
                partition_by=["p"],
                max_records_per_file=ROWS_PER_FILE,
                bloom_by=["id"],
            )
        self.mor.set_properties({"merge_on_read": "true"})
        build_s = time.perf_counter() - t1
        self.names = {"cow": f"pb_cow_{os.getpid()}", "mor": f"pb_mor_{os.getpid()}"}
        register_dml_target(self.names["cow"], self.cow)
        register_dml_target(self.names["mor"], self.mor)
        self.root = root
        return {"tables.load_s": load_s, "txtable.build_s": build_s}

    def begin_pass(self, ctx, rng) -> None:
        """Seeded choices for one pass: CDC keys, DML ranges, ETL offset."""
        self.upd_lo = int(rng.integers(0, N_ROWS - UPDATE_SPAN))
        self.del_lo = int(rng.integers(0, N_ROWS - DELETE_SPAN))
        # CDC keys stay clear of the DML ranges, so every expected value
        # is independent of the seeded operation order
        keys = rng.permutation(N_ROWS)
        keys = keys[~(((keys >= self.upd_lo) & (keys < self.upd_lo + UPDATE_SPAN))
                      | ((keys >= self.del_lo) & (keys < self.del_lo + DELETE_SPAN)))]
        # one MoR key sits inside the UPDATE range, so that file carries
        # two deletion-vector refs and the closing compaction has work
        self.cdc = {"cow": np.sort(keys[:CDC_KEYS]),
                    "mor": np.sort(np.append(keys[CDC_KEYS:2 * CDC_KEYS - 1],
                                             self.upd_lo + UPDATE_SPAN // 2))}
        self.tt_k = int(rng.integers(0, 997))
        self.part = int(rng.integers(0, N_PARTS))
        self.etl_offset = int(rng.integers(0, 10_000_000))
        self.etl_expected = expected_etl(ETL_ROWS, self.etl_offset)
        self.start_version = {
            "cow": self.cow.latest_version(), "mor": self.mor.latest_version()
        }
        self.bytes_start = dir_bytes(self.root)
        self.planned: dict[str, int] = {}
        self.pass_tag = int(rng.integers(1, 1_000_000))

    def _cdc_batch(self, spark, which: str):
        keys = [int(k) for k in self.cdc[which]]
        rows = [(k, k % 997, -float(self.pass_tag) - j, k * N_PARTS // N_ROWS)
                for j, k in enumerate(keys)]
        return spark.createDataFrame(rows, "id long, k long, v double, p int")

    def _expected_v(self, which: str, key: int) -> float:
        cdc = [int(k) for k in self.cdc[which]]
        v = float(key)
        if key in cdc:
            v = -float(self.pass_tag) - cdc.index(key)
        if which == "mor" and self.upd_lo <= key < self.upd_lo + UPDATE_SPAN:
            # merges run before the DML, so the UPDATE applies on top
            v = v + 0.5
        return v

    def make_ops(self, ctx) -> list[Op]:
        from pyspark.sql import functions as F

        from nyc_taxi_etl_pyspark_spark.etl import run_etl
        from nyc_taxi_etl_pyspark_spark.sources.txsql import execute_dml
        from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

        spark = ctx.spark
        w = self

        def merge(which):
            t = w.cow if which == "cow" else w.mor
            return t.merge(spark, w._cdc_batch(spark, which), ["id"],
                           merge_on_read=(which == "mor"))

        def point_read(which):
            t = TransactionalTable((w.cow if which == "cow" else w.mor).root)
            keys = [int(w.cdc[which][0]), w.upd_lo, w.del_lo]
            df = t.read(spark, equals={"id": keys})
            w.planned[f"point_read_{which}"] = planned_files(df)
            return {r["id"]: r["v"] for r in df.select("id", "v").collect()}

        def partition_read():
            df = TransactionalTable(w.mor.root).read(spark, partitions={"p": [w.part]})
            w.planned["partition_read"] = planned_files(df)
            return df.count()

        def check_point(which):
            def chk(got):
                keys = [int(w.cdc[which][0]), w.upd_lo, w.del_lo]
                want = {k: w._expected_v(which, k) for k in keys}
                return [] if got == want else [f"point_read_{which}: {got} != {want}"]
            return chk

        def etl():
            out = ctx.fresh_dir("etl")
            try:
                return run_etl(spark, synth_trips(spark, ETL_ROWS, w.etl_offset),
                               out + "/curated", out + "/agg")
            finally:
                w.etl_bytes = dir_bytes(out)
                shutil.rmtree(out, ignore_errors=True)

        def check_etl(res):
            want = w.etl_expected
            got = (res["rows_clean"], res["rows_agg"])
            return [] if got == want else [f"run_etl: {got} != expected {want}"]

        def expect(key, value):
            return lambda res: [] if res.get(key) == value else [f"{key}: {res}"]

        reinsert = lambda: spark.range(w.del_lo, w.del_lo + DELETE_SPAN).select(  # noqa: E731
            F.col("id"), (F.col("id") % 997).alias("k"),
            F.col("id").cast("double").alias("v"),
            F.floor(F.col("id") * N_PARTS / N_ROWS).cast("int").alias("p"),
        )
        def tt_want():
            return len(range(w.tt_k, N_ROWS, 997))

        ops = [
            CallOp("merge_cow", "write", lambda: merge("cow")),
            CallOp("merge_mor", "write", lambda: merge("mor")),
            CallOp("sql_update_mor", "write", lambda: execute_dml(
                spark, f"UPDATE {w.names['mor']} SET v = v + 0.5 WHERE id >= "
                f"{w.upd_lo} AND id < {w.upd_lo + UPDATE_SPAN}"),
                expect("rows_updated", UPDATE_SPAN)),
            CallOp("sql_delete_cow", "write", lambda: execute_dml(
                spark, f"DELETE FROM {w.names['cow']} WHERE id >= {w.del_lo} "
                f"AND id < {w.del_lo + DELETE_SPAN}"),
                expect("rows_deleted", DELETE_SPAN)),
            CallOp("append_cow", "write",
                   lambda: w.cow.commit(reinsert(), mode="append")),
            CallOp("point_read_cow", "read", lambda: point_read("cow"),
                   check_point("cow")),
            CallOp("point_read_mor", "read", lambda: point_read("mor"),
                   check_point("mor")),
            CallOp("partition_read", "read", partition_read,
                   lambda n: [] if n == N_ROWS // N_PARTS
                   else [f"partition_read: {n} rows"]),
            CallOp("time_travel_read", "read",
                   lambda: TransactionalTable(w.cow.root).read(
                       spark, version=w.start_version["cow"]
                   ).where(F.col("k") == w.tt_k).count(),
                   lambda n: [] if n == tt_want() else [f"time_travel_read: {n} != {tt_want()}"]),
            CallOp("compact_mor", "write",
                   lambda: w.mor.compact_deletion_vectors(spark)),
            CallOp("run_etl", "etl", etl, check_etl),
            QueryOp(STREAM_QUERY, ctx.queries[STREAM_QUERY], ctx,
                    ctx.oracles.get(STREAM_QUERY), fresh_tmp=True),
        ]
        for o in ops:
            if o.name in WRITE_OPS:
                o.probe = lambda: dir_bytes(w.root)
        return ops

    def order(self, ops: list[Op], rng: np.random.Generator) -> list[Op]:
        """Seeded order under the pass's constraints: the ETL run and the
        stream open the pass (where they fell among the table operations,
        which run faster after them, moved ``op_geomean_s`` by ±10% from
        seed to seed); the CDC merges precede the DML, the DELETE precedes
        the append that re-inserts its rows, every read precedes the MoR
        compaction, and the compaction closes the pass."""
        by = {o.name: o for o in ops}
        if STREAM_QUERY in by and len(by) == 1:  # the warm-up pass
            return ops
        merges = ["merge_cow", "merge_mor"]
        dml = ["sql_update_mor", "sql_delete_cow"]
        writes = [merges[i] for i in rng.permutation(2)] + [dml[i] for i in rng.permutation(2)]
        writes.insert(int(rng.integers(writes.index("sql_delete_cow") + 1,
                                       len(writes) + 1)), "append_cow")
        reads = [READ_OPS[i] for i in rng.permutation(len(READ_OPS))]
        ingest = ["run_etl", STREAM_QUERY][:: 1 if rng.random() < 0.5 else -1]
        return [by[n] for n in ingest + writes + reads + ["compact_mor"]]

    def end_pass(self, ctx) -> list[str]:
        """Check live rows, then restore both tables to the pass's start
        (untimed), so every pass starts from the same files."""
        problems = []
        n_files = {}
        self.bytes_end = dir_bytes(self.root)
        for which, t in (("cow", self.cow), ("mor", self.mor)):
            n = t.count()
            if n != N_ROWS:
                problems.append(f"{which}: {n} live rows, expected {N_ROWS}")
            m = t.manifest()
            n_files[which] = len(m["files"])
            if which == "mor":
                self.dv_files = sum(
                    1 for f in m["files"] if m.get("stats", {}).get(f, {}).get("dv")
                )
            t.restore(self.start_version[which])
            t.vacuum(retain_versions=2, unreferenced_grace_s=0)
        self.files_live = n_files
        return problems

    def extra_metrics(self, ctx, passes) -> dict:
        """The storage-layer figures of each pass (median over passes)."""
        def med(vals):
            return float(np.median(vals)) if vals else 0.0

        out: dict[str, float] = {}
        write_s = [sum(o["s"] for o in p["ops"] if o["name"] in WRITE_OPS) for p in passes]
        read_s = [sum(o["s"] for o in p["ops"] if o["name"] in READ_OPS) for p in passes]
        etl_s = [o["s"] for p in passes for o in p["ops"] if o["name"] == "run_etl"]
        changed = (2 * CDC_KEYS + UPDATE_SPAN + 2 * DELETE_SPAN) * ROW_BYTES
        out["write_s"] = med(write_s)
        out["read_s"] = med(read_s)
        out["write_amp"] = med([p["bytes_added"] / changed for p in passes])
        out["space_bytes_per_row"] = med([p["bytes_end"] / N_ROWS / 2 for p in passes])
        out["rows_per_s"] = ETL_ROWS / med(etl_s) if etl_s else 0.0
        out["rows_per_s_vs_reference"] = out["rows_per_s"] / 99_214.0
        # files the pruned reads plan ÷ files in the snapshots they read
        # (writes all precede the reads, so that is the pass-end snapshot)
        snap = {"point_read_cow": "cow", "point_read_mor": "mor", "partition_read": "mor"}
        out["txtable.files_read_ratio"] = med([
            sum(p["files_planned"].values())
            / sum(p["files_live"][snap[k]] for k in p["files_planned"])
            for p in passes
        ])
        out["txtable.files_live"] = med([sum(p["files_live"].values()) for p in passes])
        out["txtable.dv_files"] = med([p["dv_files"] for p in passes])
        return out

    def pass_record(self) -> dict:
        return {
            "bytes_added": self.bytes_end - self.bytes_start,
            "bytes_end": self.bytes_end,
            "files_live": self.files_live,
            "files_planned": self.planned,
            "dv_files": self.dv_files,
        }


WORKLOADS = {
    "queries": lambda: QueryWorkload(RELATIONAL + CORPUS),
    "storage": StorageWorkload,
}
