"""Streaming ⇄ batch equivalence tests.

The engine's contract (streaming/jobs.py): batch and streaming share one
aggregate definition, so driving the fixture backlog through the real
Structured Streaming runtime must reproduce the batch answer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_pyspark_spark.plans.registry import all_queries
from nyc_taxi_etl_pyspark_spark.streaming.stateful import run_streaming_sessionize


def _rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    q = all_queries()
    stream = q["q_streaming_tumbling"](spark, sf_dir)
    batch = q["q_window_tumbling"](spark, sf_dir)
    # both surfaces emit window_start_s longs since the streaming query
    # gained its full oracle (round 4)
    stream_norm = stream.select(
        "window_start_s", "event_type", "n_events", "sum_value"
    )
    batch_norm = batch.select(
        "window_start_s", "event_type", "n_events", "sum_value"
    )
    cols = ["window_start_s", "event_type", "n_events", "sum_value"]
    assert _rows_set(stream_norm, cols) == _rows_set(batch_norm, cols)


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    """Every session the stateful streaming operator emits (closed by gap
    or event-time timeout) must be byte-identical to the batch
    sessionization of the same data; open tail sessions may be withheld."""
    emitted = run_streaming_sessionize(spark, sf_dir, query_name="t_sessions")
    batch = all_queries()["q_sessionize"](spark, sf_dir)

    cols = ["user_id", "session_start_s", "session_end_s", "n_events"]
    emitted_keys = _rows_set(emitted, cols)
    batch_keys = _rows_set(batch, cols)
    assert len(emitted_keys) > 0
    assert emitted_keys <= batch_keys
    # value sums agree on the emitted subset (to float tolerance)
    batch_by_key = {
        (r["user_id"], r["session_start_s"]): r["session_value"]
        for r in batch.collect()
    }
    for r in emitted.collect():
        want = batch_by_key[(r["user_id"], r["session_start_s"])]
        assert abs(round(r["sum_value"] + 1e-9, 4) - want) < 1e-6


def test_foreachbatch_parquet_sink_matches_batch(spark, sf_dir, tmp_path):
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_tumbling_to_parquet,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_streaming_tumbling_to_parquet(spark, sf_dir, out, ckpt)
    written = spark.read.parquet(out).select(
        F.col("window_start").cast("long").alias("window_start_s"),
        "event_type",
        "n_events",
        "sum_value",
    )
    batch = all_queries()["q_window_tumbling"](spark, sf_dir).select(
        "window_start_s", "event_type", "n_events", "sum_value"
    )
    cols = ["window_start_s", "event_type", "n_events", "sum_value"]
    assert _rows_set(written, cols) == _rows_set(batch, cols)


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark over the fixture backlog must keep
    exactly one row per key (every duplicate arrives within one
    watermark), i.e. the batch distinct-key set."""
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_dedup

    keys = ["user_id", "event_type"]
    streamed = run_streaming_dedup(
        spark, sf_dir, key_cols=keys, query_name="t_stream_dedup"
    )
    batch = load_table(spark, sf_dir, "events").select(*keys).distinct()
    assert _rows_set(streamed, keys) == _rows_set(batch, keys)
    # streamed output is deduplicated, not just filtered
    assert streamed.count() == batch.count()


def test_streaming_sliding_matches_batch(spark, sf_dir):
    """The real streaming sliding-window run (1h/15min, complete mode,
    backlog drained) must reproduce the batch q_window_sliding answer."""
    q = all_queries()
    stream = q["q_streaming_sliding"](spark, sf_dir)
    batch = q["q_window_sliding"](spark, sf_dir)
    cols = ["window_start_s", "n_events", "sum_value"]
    assert _rows_set(stream.select(*cols), cols) == _rows_set(
        batch.select(*cols), cols
    )


def test_streaming_interval_join_matches_batch(spark, sf_dir):
    """Every (click, error) pair the stream-stream interval join emits
    must equal the batch join under the SAME condition string."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.plans.registry import all_queries
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import interval_join_exprs

    streamed = all_queries()["q_streaming_interval_join"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("err_user_id"),
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
    )
    batch = clicks.join(errors, F.expr(interval_join_exprs()), "inner").select(
        "user_id", "click_id", "err_id"
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) > 0


def test_streaming_static_join_matches_batch(spark, sf_dir):
    """The stream-static enrichment join (stateless, broadcast dim) must
    emit exactly the rows the identical batch join produces."""
    from nyc_taxi_etl_pyspark_spark.plans.registry import all_queries
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import static_type_dim

    streamed = all_queries()["q_streaming_static_join"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    dim = static_type_dim(spark, sf_dir)
    batch = ev.join(F.broadcast(dim), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (F.col("value") > F.col("type_avg_value")).alias("above_type_mean"),
    )
    cols = ["event_id", "event_type", "value", "above_type_mean"]
    s_rows = sorted(map(tuple, streamed.select(*cols).collect()))
    b_rows = sorted(map(tuple, batch.select(*cols).collect()))
    assert s_rows == b_rows and len(s_rows) > 0


def test_streaming_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed restart semantics — the property that makes a
    production stream restartable: run a checkpointed file-source →
    file-sink query over half the events, STOP it, land more input,
    restart with the SAME checkpoint. The resumed query must process
    only the new files (offsets come from the checkpoint's source log),
    and the sink must hold every event exactly once — no reprocessing of
    the first half, no gaps."""
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = ev.where(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    second = ev.where(F.col("event_id") % 2 == 1).select("event_id", "event_type")
    first.coalesce(1).write.parquet(stream_dir)

    def run_once() -> None:
        stream = spark.readStream.schema(first.schema).parquet(stream_dir)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_first = spark.read.parquet(out_dir).count()
    assert n_first == first.count()

    second.coalesce(1).write.mode("append").parquet(stream_dir)
    run_once()  # restart from the same checkpoint

    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()  # every event exactly once
    assert got.select("event_id").distinct().count() == ev.count()


def test_streaming_upsert_sink_matches_batch_state(spark, sf_dir, tmp_path):
    """The foreachBatch CDC-upsert sink must converge to the same
    current-state table a single batch computation produces: one row per
    (user_id, event_type) with the latest ts/value and the TOTAL event
    count, regardless of micro-batch boundaries."""
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_upsert_sink

    base = str(tmp_path / "state")
    run_streaming_upsert_sink(
        spark, sf_dir, base, checkpoint_path=str(tmp_path / "ckpt")
    )
    got = spark.read.parquet(base)
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


def test_watermark_drops_late_data(spark, tmp_path):
    """Actual late-data semantics, not just backlog draining: the fixture
    tests drive one static backlog through processAllAvailable, so the
    watermark never advances BETWEEN events and nothing is ever late.
    Here the file source delivers two batches: batch 1 advances the
    watermark past an hour window's end (finalizing it in append mode);
    batch 2 then delivers an event INTO that closed window, which the
    watermark must drop — the finalized aggregate keeps its batch-1
    value and the window is emitted exactly once. This is the state
    bound that makes event-time aggregation viable on an unbounded
    stream: without the drop, every past window stays amendable and
    state grows forever."""
    import datetime

    from nyc_taxi_etl_pyspark_spark.streaming.jobs import streaming_tumbling_agg

    src = tmp_path / "src"
    schema = "ts timestamp, event_type string, value double"

    def ts(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    # batch 1: two events in [08:00, 09:00), one at 10:00 that pushes the
    # 10-minute watermark to 09:50 > 09:00, closing the 08:00 window.
    land([(ts(8, 5), "click", 1.0), (ts(8, 10), "click", 1.0),
          (ts(10, 0), "click", 1.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = streaming_tumbling_agg(stream, window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event aimed at the closed 08:00 window (behind
        # the 09:50 watermark -> dropped) plus a fresh event at 12:30
        # that advances the watermark past the 10:00 window.
        land([(ts(8, 20), "click", 100.0), (ts(12, 30), "click", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.table("t_late").collect()
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in rows
    }
    assert got[(8, "click")] == (2, 2.0), got  # late 100.0 NOT folded in
    assert got[(10, "click")] == (1, 1.0), got
    # each window emitted exactly once (append-mode finalization)
    assert len(rows) == len({(r["window_start"], r["event_type"]) for r in rows})


def test_streaming_upsert_sink_rejects_foreign_base(spark, sf_dir, tmp_path):
    """Replay protection must key on the CHECKPOINT IDENTITY, not just
    the integer batch_id: a fresh checkpoint restarts batch ids at 0, so
    an id-only marker would silently skip every batch and leave a stale
    base that looks committed. Pointing a new query at an existing
    accumulating base raises instead."""
    import pytest

    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_upsert_sink

    base = str(tmp_path / "state")
    run_streaming_upsert_sink(
        spark, sf_dir, base, checkpoint_path=str(tmp_path / "ckpt_a")
    )
    with pytest.raises(Exception, match="different streaming query"):
        run_streaming_upsert_sink(
            spark, sf_dir, base, checkpoint_path=str(tmp_path / "ckpt_b")
        )


def test_swap_sinks_reject_object_store_paths(spark, sf_dir, tmp_path):
    """Object-store URIs never reach a rename: the plain-directory
    compaction tier refuses them (rename is copy+delete there — a
    reader can observe a missing table), and the upsert sink routes
    them to the manifest protocol, which demands a real storage
    backend rather than silently using POSIX calls on a URI. The
    explicitly-forced legacy rename protocol also refuses."""
    import pytest

    from nyc_taxi_etl_pyspark_spark.sources.io import compact_parquet
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import run_streaming_upsert_sink

    with pytest.raises(ValueError, match="local filesystem"):
        compact_parquet(spark, "s3://bucket/table")
    with pytest.raises(ValueError, match="storage backend"):
        run_streaming_upsert_sink(
            spark, sf_dir, "gs://bucket/state", checkpoint_path=str(tmp_path / "c")
        )
    with pytest.raises(ValueError, match="local filesystem"):
        run_streaming_upsert_sink(
            spark,
            sf_dir,
            "gs://bucket/state",
            checkpoint_path=str(tmp_path / "c2"),
            protocol="rename",
        )


def test_txstream_source_tails_commit_log_exactly_once(spark, tmp_path):
    """The txstream streaming source: offsets are versions, each batch
    emits exactly the files appended by the covered commits, a live
    append is picked up by the running stream, and restarting from the
    checkpoint re-emits nothing (manifests are immutable => replays are
    deterministic)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 3).alias("grp")
        )

    t.commit(batch(0, 100), num_files=2)
    t.commit(batch(100, 200), mode="append", num_files=2)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        s = spark.readStream.format("txstream").option("path", root).load()
        return (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 200
        t.commit(batch(200, 260), mode="append", num_files=1)  # live append
        q.processAllAvailable()
        got = spark.read.parquet(out).selectExpr(
            "count(*) c", "count(distinct id) d", "min(id) mn", "max(id) mx"
        ).first()
        assert (got.c, got.d, got.mn, got.mx) == (260, 260, 0, 259)
    finally:
        q.stop()

    # commit while the stream is DOWN, restart from the checkpoint:
    # only the missed batch is emitted, nothing is replayed
    t.commit(batch(260, 300), mode="append", num_files=1)
    q2 = start()
    try:
        q2.processAllAvailable()
        got = spark.read.parquet(out).selectExpr(
            "count(*) c", "count(distinct id) d", "min(id) mn", "max(id) mx"
        ).first()
        assert (got.c, got.d, got.mn, got.mx) == (300, 300, 0, 299)
    finally:
        q2.stop()


def test_txstream_source_partitioned_and_append_only_guard(spark, tmp_path):
    """Partition-column values are rebuilt from the manifest (the hive
    data pages don't carry them), and a commit that rewrites files
    (optimize/merge/delete/replace) fails the stream loudly instead of
    double-counting or dropping the rewrite."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "p")
    t = TransactionalTable(root)
    df = spark.range(90).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    )
    t.commit(df, partition_by=["grp"])

    s = spark.readStream.format("txstream").option("path", root).load()
    q = (
        s.writeStream.format("memory")
        .queryName("txs_part")
        .option("checkpointLocation", str(tmp_path / "ckpt_p"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "select grp, count(*) c from txs_part group by grp order by grp"
        ).collect()
        assert [(r.grp, r.c) for r in got] == [(0, 30), (1, 30), (2, 30)]
        # grp must come back as a LONG rebuilt from the manifest value
        assert dict(spark.table("txs_part").dtypes)["grp"] == "bigint"

        t.optimize(spark, target_rows_per_file=1000)  # rewrites files
        q.processAllAvailable()
        raise AssertionError("stream should have failed on the rewrite")
    except Exception as exc:  # noqa: BLE001 - StreamingQueryException wrapper
        assert "append-only" in str(exc)
    finally:
        q.stop()


def test_streaming_corpus_dedup_replay_is_idempotent(spark, tmp_path, sf_dir):
    """Content-addressed streaming ingestion needs no replay marker: a
    FULL re-tail of the bronze log with a fresh checkpoint (worst-case
    redelivery — every batch replayed) anti-joins the admitted table's
    own contents and appends nothing."""
    from nyc_taxi_etl_pyspark_spark.sources.paths import fixture_scratch_dir
    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_corpus_dedup,
    )

    out1 = run_streaming_corpus_dedup(spark, sf_dir)
    n1 = out1.count()
    rows1 = set(map(tuple, out1.collect()))
    assert n1 > 0

    base = fixture_scratch_dir(
        "spark_graft_streamdedup", sf_dir, anchor="documents.parquet"
    )
    index = TransactionalTable(base + "/admitted")
    v_before = index.latest_version()

    # worst-case redelivery: fresh checkpoint, full re-tail of bronze
    register_python_sources(spark)
    stream = (
        spark.readStream.format("txstream")
        .option("path", base + "/bronze")
        .load()
    )
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nyc_taxi_etl_pyspark_spark.functions.text import fingerprint_md5

    w = Window.partitionBy("fprint").orderBy("doc_id")

    def apply_batch(batch_df, batch_id):
        surv = (
            batch_df.select(
                "doc_id", fingerprint_md5(F.col("text")).alias("fprint")
            )
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        admitted = surv.join(
            index.read(spark).select("fprint"), "fprint", "left_anti"
        )
        index.commit(admitted, mode="append")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "replay_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out2 = index.read(spark).select("doc_id", "fprint")
    assert out2.count() == n1
    assert set(map(tuple, out2.collect())) == rows1
    # the replay DID commit (empty appends), but admitted nothing new
    assert index.latest_version() >= v_before

def test_streaming_silver_agg_exactly_once_contract(spark, sf_dir, tmp_path):
    """Aggregate increments are not idempotent, so the silver view
    enforces the replay contract: resuming the SAME checkpoint no-ops
    (the marker skips every redelivered batch), while a FRESH
    checkpoint pointed at the same silver table is refused loudly
    instead of double-counting — and the refused run leaves the state
    untouched."""
    import shutil

    import pytest

    from nyc_taxi_etl_pyspark_spark.sources.paths import fixture_scratch_dir
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_silver_agg,
    )

    out1 = run_streaming_silver_agg(spark, sf_dir)
    state1 = sorted(map(tuple, out1.collect()))
    assert len(state1) > 0

    # resume same checkpoint: no new batches, state unchanged
    out2 = run_streaming_silver_agg(spark, sf_dir)
    assert sorted(map(tuple, out2.collect())) == state1

    # fresh checkpoint (simulating a new query pointed at the same
    # silver table): the identity guard must refuse before any commit
    base = fixture_scratch_dir(
        "spark_graft_silver", sf_dir, anchor="events.parquet"
    )
    ckpt = base + "/ckpt"
    saved = str(tmp_path / "saved_ckpt")
    shutil.move(ckpt, saved)
    try:
        with pytest.raises(Exception, match="different streaming query"):
            run_streaming_silver_agg(spark, sf_dir)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.move(saved, ckpt)

    # state untouched by the refused run; original checkpoint resumes
    out3 = run_streaming_silver_agg(spark, sf_dir)
    assert sorted(map(tuple, out3.collect())) == state1


def test_cdc_state_merge_resists_out_of_order_batches(spark):
    """merged_cdc_state: a later micro-batch carrying only OLDER events
    for a key must not regress last_ts/last_value, while n_events still
    accumulates — the cross-batch out-of-order case the in-batch max_by
    cannot see."""
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import merged_cdc_state

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id int, event_type string, ts timestamp, value double, event_id int"
        ).selectExpr("user_id", "event_type", "ts", "value", "event_id")

    import datetime

    t10 = datetime.datetime(2025, 1, 1, 10, 0)
    t9 = datetime.datetime(2025, 1, 1, 9, 0)
    b0 = batch([(1, "click", t10, 100.0, 1)])
    state = merged_cdc_state(b0, None)
    # batch 1: only an OLDER event for the same key
    b1 = batch([(1, "click", t9, 50.0, 2)])
    state = merged_cdc_state(b1, state)
    row = state.collect()[0]
    assert row.last_ts == t10 and row.last_value == 100.0  # no regress
    assert row.n_events == 2  # but the count accumulated
    # batch 2: a NEWER event wins normally
    t11 = datetime.datetime(2025, 1, 1, 11, 0)
    state = merged_cdc_state(batch([(1, "click", t11, 7.0, 3)]), state)
    row = state.collect()[0]
    assert row.last_ts == t11 and row.last_value == 7.0 and row.n_events == 3


def test_streaming_expectations_gate_quarantine_and_counters(spark, sf_dir, tmp_path):
    """Streaming expectations: main table holds exactly the passing
    rows, cumulative per-rule violation counters ride the final
    manifest's app meta, quarantine holds the tagged complement
    exactly-once, and a re-run from the drained checkpoint changes
    nothing (no double-counted counters, no duplicate quarantine)."""
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_append_sink_tx,
    )

    base = str(tmp_path / "bronze")
    exp = {"key_not_7": "event_id % 7 != 0", "value_present": "value IS NOT NULL"}
    run_streaming_append_sink_tx(
        spark, sf_dir, base, checkpoint_path=base + "_ckpt",
        expectations=exp, on_violation="quarantine",
    )
    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    n_bad = ev.where("event_id % 7 = 0 OR value IS NULL").count()
    t = TransactionalTable(base)
    q = TransactionalTable(base + "_quarantine")
    assert t.read(spark).count() == n_total - n_bad
    assert t.read(spark).where("event_id % 7 = 0").count() == 0
    assert q.read(spark).count() == n_bad
    tagged = q.read(spark).where(
        "array_contains(__failed_expectations, 'key_not_7')"
    ).count()
    assert tagged == ev.where("event_id % 7 = 0").count()
    audit = t.manifest()["meta"]["app"]["expectations"]
    assert audit["rows_seen"] == n_total
    assert audit["rows_failed"] == n_bad
    assert audit["violations"]["key_not_7"] == ev.where("event_id % 7 = 0").count()
    # drained checkpoint: re-run is a no-op on rows AND counters
    run_streaming_append_sink_tx(
        spark, sf_dir, base, checkpoint_path=base + "_ckpt",
        expectations=exp, on_violation="quarantine",
    )
    assert t.read(spark).count() == n_total - n_bad
    assert q.read(spark).count() == n_bad
    assert t.manifest()["meta"]["app"]["expectations"]["rows_seen"] == n_total


def test_streaming_expectations_fail_mode_stops_stream(spark, sf_dir, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_append_sink_tx,
    )

    base = str(tmp_path / "bronze")
    with pytest.raises(StreamingQueryException, match="violat"):
        run_streaming_append_sink_tx(
            spark, sf_dir, base, checkpoint_path=base + "_ckpt",
            expectations={"impossible": "event_id < 0"}, on_violation="fail",
        )


def test_txstream_maxfilespertrigger_paces_offsets(spark, tmp_path):
    """Admission control at the offset ledger (no engine needed): with
    maxfilespertrigger=4 over four 2-file commits, latestOffset admits
    versions in whole-commit bites of <= 4 new files; a single commit
    larger than the cap is still admitted alone (progress guarantee);
    a replayed range syncs the admission mark to the checkpoint."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txstream import (
        TxTableStreamReader,
    )
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    root = str(tmp_path / "paced")
    t = TransactionalTable(root)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 3).alias("grp")
        )

    t.commit(batch(0, 100), num_files=2)
    for lo in (100, 200, 300):
        t.commit(batch(lo, lo + 100), mode="append", num_files=2)

    r = TxTableStreamReader({"path": root, "maxfilespertrigger": "4"})
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}  # v0+v1 = 4 files
    assert r.latestOffset() == {"version": 3}  # v2+v3 = 4 files
    assert r.latestOffset() == {"version": 3}  # caught up: no advance

    # uncapped reader on the same table jumps straight to the head
    assert TxTableStreamReader({"path": root}).latestOffset() == {
        "version": 3
    }

    # cap smaller than one commit: versions are atomic, admit it alone
    r2 = TxTableStreamReader({"path": root, "maxfilespertrigger": "1"})
    assert [r2.latestOffset()["version"] for _ in range(4)] == [0, 1, 2, 3]

    # checkpoint-restart: a fresh reader re-paces from startingversion,
    # but the engine's replay (partitions) or commit callback syncs the
    # admission mark so pacing resumes at the real frontier
    r3 = TxTableStreamReader({"path": root, "maxfilespertrigger": "2"})
    parts = r3.partitions({"version": 1}, {"version": 2})
    assert len(parts) == 2  # v2's two files, re-derived identically
    assert r3.latestOffset() == {"version": 3}
    r4 = TxTableStreamReader({"path": root, "maxfilespertrigger": "2"})
    r4.commit({"version": 2})
    assert r4.latestOffset() == {"version": 3}

    with pytest.raises(ValueError, match="maxfilespertrigger"):
        TxTableStreamReader({"path": root, "maxfilespertrigger": "0"})


def test_txstream_maxfilespertrigger_end_to_end_batches(spark, tmp_path):
    """The capped source through a real Structured Streaming query:
    a 4-commit backlog (2 files each) with maxfilespertrigger=4 drains
    in two 200-row micro-batches instead of one 400-row catch-up batch,
    emits every row exactly once, and a restart from the checkpoint
    picks up later commits without replaying anything."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 3).alias("grp")
        )

    t.commit(batch(0, 100), num_files=2)
    for lo in (100, 200, 300):
        t.commit(batch(lo, lo + 100), mode="append", num_files=2)

    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, int]] = []
    rows: list[tuple] = []

    def sink(df, batch_id):
        got = df.collect()
        seen.append((batch_id, len(got)))
        rows.extend((r.id, r.grp) for r in got)

    def start():
        s = (
            spark.readStream.format("txstream")
            .option("path", root)
            .option("maxfilespertrigger", "4")
            .load()
        )
        return (
            s.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    nonempty = [c for _, c in seen if c]
    assert nonempty == [200, 200]  # paced: two 4-file batches
    assert sorted(r[0] for r in rows) == list(range(400))  # exactly once

    # two more commits while the stream is down; restart drains them
    # in ONE 4-file batch from the checkpointed frontier (no replay)
    t.commit(batch(400, 500), mode="append", num_files=2)
    t.commit(batch(500, 600), mode="append", num_files=2)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    nonempty = [c for _, c in seen if c]
    assert nonempty == [200, 200, 200]
    assert sorted(r[0] for r in rows) == list(range(600))


def test_txstream_maxbytespertrigger_budgets_on_manifest_sizes(spark, tmp_path):
    """maxbytespertrigger paces the same version walk on the per-file
    byte sizes the commit's footer harvest records in manifest stats —
    no filesystem stat calls at admission time. Both caps compose
    (whichever budget runs out first stops the walk), and a version
    whose sizes are unknown is admitted alone."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txstream import (
        TxTableStreamReader,
    )
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    root = str(tmp_path / "bytes")
    t = TransactionalTable(root)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 3).alias("grp")
        )

    t.commit(batch(0, 100), num_files=1)
    for lo in (100, 200, 300):
        t.commit(batch(lo, lo + 100), mode="append", num_files=1)
    m = t.manifest()
    sizes = [m["stats"][f]["bytes"] for f in m["files"]]
    assert all(s and s > 0 for s in sizes)
    per_commit = sizes[0]

    # budget of ~2.5 commits' bytes -> versions admit in pairs
    # (sizes vary a little commit to commit; the half-file slack keeps
    # the pairing stable without ever fitting a third)
    r = TxTableStreamReader(
        {"path": root, "maxbytespertrigger": str(int(2.5 * per_commit))}
    )
    assert r.latestOffset()["version"] == 1
    assert r.latestOffset()["version"] == 3

    # byte cap smaller than one commit: atomic versions admit alone
    r2 = TxTableStreamReader({"path": root, "maxbytespertrigger": "1"})
    assert [r2.latestOffset()["version"] for _ in range(4)] == [0, 1, 2, 3]

    # composed caps: the tighter one (files=1) wins over a loose
    # byte budget
    r3 = TxTableStreamReader(
        {
            "path": root,
            "maxfilespertrigger": "1",
            "maxbytespertrigger": str(100 * per_commit),
        }
    )
    assert r3.latestOffset()["version"] == 0

    # a version with no recorded sizes is admitted ALONE under a byte
    # cap (conservative unknown), and doesn't block later versions
    m1 = dict(t.manifest(1))
    fresh = TransactionalTable(root)
    stats = {
        k: {kk: vv for kk, vv in v.items() if kk != "bytes"}
        for k, v in t.manifest(1)["stats"].items()
    }
    import json as _json

    # strip v1's byte stats on disk (forge an old-format manifest)
    key = "_commits/v00000000000000000001.json"
    rec = _json.loads(fresh.storage.read(key).decode())
    for s in rec.get("stats", {}).values():
        s.pop("bytes", None)
    fresh.storage.delete(key)
    assert fresh.storage.put_if_absent(
        key, _json.dumps(rec, sort_keys=True).encode()
    )
    r4 = TxTableStreamReader(
        {"path": root, "maxbytespertrigger": str(10 * per_commit)}
    )
    assert r4.latestOffset()["version"] == 0  # v1's sizes unknown: stop
    assert r4.latestOffset()["version"] == 1  # v1 admitted alone
    assert r4.latestOffset()["version"] == 3  # budget resumes

    with pytest.raises(ValueError, match="maxbytespertrigger"):
        TxTableStreamReader({"path": root, "maxbytespertrigger": "0"})
    assert m1  # silence unused warning


def test_txstream_admission_fuzz_exactly_once_under_random_caps(
    spark, tmp_path
):
    """Randomized admission-control fuzz: random commit shapes (file
    counts and row volumes) drained under random file/byte caps via
    the OFFSET LEDGER (latestOffset/partitions walked exactly as the
    engine would) — every walk must admit whole versions, respect the
    cap except for the atomic-oversized case, make progress every
    trigger, and cover every version exactly once."""
    import random

    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txstream import (
        TxTableStreamReader,
    )
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    for seed in range(5):
        rng = random.Random(1000 + seed)
        root = str(tmp_path / f"fuzz{seed}")
        t = TransactionalTable(root)
        sizes = []  # files per version
        lo = 0
        for v in range(rng.randint(3, 7)):
            nf = rng.randint(1, 5)
            n = rng.randint(5, 60)
            t.commit(
                spark.range(lo, lo + n).select(
                    F.col("id"), (F.col("id") % 3).alias("grp")
                ),
                mode="append" if v else "replace",
                num_files=nf,
            )
            sizes.append(len(t.manifest()["files"]) - sum(sizes))
            lo += n
        head = t.latest_version()

        opts = {"path": root}
        cap_files = rng.choice([None, 1, 2, 3, 4])
        if cap_files is not None:
            opts["maxfilespertrigger"] = str(cap_files)
        if rng.random() < 0.5:
            opts["maxbytespertrigger"] = str(rng.randint(1, 10) * 4096)
        r = TxTableStreamReader(opts)
        offset = r.initialOffset()["version"]
        seen_files: list[str] = []
        triggers = 0
        while offset < head:
            end = r.latestOffset()["version"]
            assert end > offset, "every trigger must make progress"
            parts = r.partitions({"version": offset}, {"version": end})
            if cap_files is not None:
                n_new = len(parts)
                versions_admitted = end - offset
                # cap respected unless a single atomic version busts it
                assert n_new <= cap_files or versions_admitted == 1
            seen_files.extend(p.value[0] for p in parts)
            r.commit({"version": end})
            offset = end
            triggers += 1
            assert triggers <= head + 2, "admission walk must terminate"
        manifest_files = {
            t.storage.url(k) for k in t.manifest()["files"]
        }
        assert len(seen_files) == len(set(seen_files))  # no re-emission
        assert set(seen_files) == manifest_files  # nothing dropped


def test_txstream_capped_walk_fails_loudly_on_vacuumed_range(
    spark, tmp_path
):
    """A capped admission walk over a range whose manifests were
    vacuumed must surface the same loud unreplayable-range error as
    the uncapped source — never stall at the cap, never skip the gap
    silently."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txstream import (
        TxTableStreamReader,
    )
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    root = str(tmp_path / "vacgap")
    t = TransactionalTable(root)
    for lo in range(0, 500, 100):
        t.commit(
            spark.range(lo, lo + 100).select(F.col("id")),
            mode="append" if lo else "replace",
            num_files=1,
        )
    t.vacuum(retain_versions=2, unreferenced_grace_s=0)  # keep v3,v4

    r = TxTableStreamReader({"path": root, "maxfilespertrigger": "1"})
    # the walk lands on the vacuumed range instead of stalling...
    end = r.latestOffset()["version"]
    assert end >= 0
    # ...and planning that batch raises the loud replay error
    with pytest.raises(ValueError, match="vacuumed"):
        r.partitions({"version": -1}, {"version": end})

    # starting INSIDE the retained window is fine under the cap
    r2 = TxTableStreamReader(
        {"path": root, "startingversion": "4", "maxfilespertrigger": "1"}
    )
    end2 = r2.latestOffset()["version"]
    parts = r2.partitions({"version": 3}, {"version": end2})
    assert len(parts) == 1  # v4's single file, planned cleanly


def test_txcdf_source_streams_mutations_exactly_once(spark, tmp_path):
    """The txcdf streaming source (sources/txcdf.py): each micro-batch
    is one commit's keyed snapshot diff — DV deletes resolve to exactly
    the soft-deleted rows, a copy-on-write rewrite emits only changed
    rows, optimize emits nothing — and a checkpoint restart re-emits
    nothing (exactly-once from immutable manifests)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        num_files=4,
    )  # v0
    t.delete_where(spark, "k >= 90", merge_on_read=True)  # v1: DV path
    t.update_where(spark, {"v": "v + 1000"}, "k < 5")  # v2: CoW rewrite

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        s = (
            spark.readStream.format("txcdf")
            .option("path", root)
            .option("keycols", "k")
            .option("startingversion", 1)
            .load()
        )
        return (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
        got = spark.read.parquet(out)
        assert got.count() == 15
        dels = {r.k for r in got.where("_change_type = 'delete'").collect()}
        assert dels == set(range(90, 100))
        upds = {
            (r.k, r.v)
            for r in got.where("_change_type = 'update'").collect()
        }
        assert upds == {(k, 2 * k + 1000) for k in range(5)}
        # live mutation while the stream runs: optimize emits NOTHING
        t.optimize(spark, target_rows_per_file=1000)  # v3: pure rewrite
        t.commit(
            spark.range(500, 503).select(
                F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
            ),
            mode="append",
        )  # v4
        q.processAllAvailable()
        got = spark.read.parquet(out)
        assert got.count() == 18
        assert got.where("_commit_version = 3").count() == 0
        ins = {
            r.k for r in got.where("_commit_version = 4").collect()
        }
        assert ins == {500, 501, 502}
    finally:
        q.stop()

    # mutate while DOWN, restart from checkpoint: only the missed diff
    t.delete_where(spark, "k = 0", merge_on_read=True)  # v5
    q2 = start()
    try:
        q2.processAllAvailable()
        got = spark.read.parquet(out)
        assert got.count() == 19  # nothing re-emitted
        assert {
            (r.k, r._change_type)
            for r in got.where("_commit_version = 5").collect()
        } == {(0, "delete")}
    finally:
        q2.stop()


def test_txcdf_restore_resurrects_dv_rows_as_inserts(spark, tmp_path):
    """RESTORE to a pre-DV version makes soft-deleted positions live
    again — the feed reports them as inserts (the 'positions' spec on
    the new side)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
    )  # v0
    t.delete_where(spark, "k BETWEEN 10 AND 14", merge_on_read=True)  # v1
    t.restore(0)  # v2: the 5 dead rows come back

    s = (
        spark.readStream.format("txcdf")
        .option("path", root)
        .option("keycols", "k")
        .option("startingversion", 2)
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName("cdf_restore")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("cdf_restore").collect()
        assert {(r.k, r.v, r._change_type) for r in got} == {
            (k, 3 * k, "insert") for k in range(10, 15)
        }
    finally:
        q.stop()


def test_txcdf_duplicate_key_raises_loudly(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    )  # duplicate key in the initial snapshot
    s = (
        spark.readStream.format("txcdf")
        .option("path", root)
        .option("keycols", "k")
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName("cdf_dup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        raise AssertionError("stream should have failed on duplicate keys")
    except Exception as exc:  # noqa: BLE001 - StreamingQueryException wrapper
        assert "duplicate key" in str(exc)
    finally:
        q.stop()


def test_txcdf_and_txstream_across_merge_on_read_merge(spark, tmp_path):
    """The DV-backed MERGE interacts correctly with both streaming
    sources: txcdf emits exactly the merge's keyed diff (updates for
    matched keys, inserts for new keys — the same rows a CoW merge
    would produce), and the append-only txstream source fails it
    LOUDLY (retained files' dv stats changed while no file was
    removed — the silent case its round-7 detector missed)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        num_files=4,
        cluster_by=["k"],
    )  # v0
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("txcdf")
        .option("path", root)
        .option("keycols", "k")
        .option("startingversion", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        t.merge(
            spark,
            spark.createDataFrame(
                [(3, 999), (777, 1)], "k bigint, v bigint"
            ),
            ["k"],
            merge_on_read=True,
        )  # v1
        q.processAllAvailable()
        got = spark.read.parquet(out)
        assert {
            (r.k, r.v, r._change_type) for r in got.collect()
        } == {(3, 999, "update"), (777, 1, "insert")}
    finally:
        q.stop()

    q2 = (
        spark.readStream.format("txstream")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("txs_dvmerge")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()  # admits v0+v1's net state so far
        t.merge(
            spark,
            spark.createDataFrame([(4, 111)], "k bigint, v bigint"),
            ["k"],
            merge_on_read=True,
        )  # v2: mutates a retained file's dv stats, removes nothing
        q2.processAllAvailable()
        raise AssertionError("txstream should fail the DV-merge commit")
    except Exception as exc:  # noqa: BLE001 - StreamingQueryException wrapper
        assert "deletion vector" in str(exc) or "append-only" in str(exc)
    finally:
        q2.stop()


def test_txcdf_large_commit_shards_by_key_hash(spark, tmp_path):
    """A commit whose changed rows exceed ``maxrowspertask`` is diffed
    across KEY-HASH SHARDS (round 9 — removes the single-task
    full-replace cliff): the sharded output must equal the
    ``TransactionalTable.changes`` oracle exactly, with nothing
    duplicated or dropped at shard boundaries, including a
    full-table replace (the canonical large commit)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txcdf import TxTableCdfReader
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        num_files=4,
    )  # v0
    # v1: full replace — 300 keys keep their value (no change row),
    # 50 update, 50 delete, 25 insert
    t.commit(
        spark.range(425).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 300, F.col("id") * 2)
            .when(F.col("id") < 350, F.col("id") * 2 + 1)
            .when(F.col("id") < 400, F.col("id") * 2)
            .otherwise(F.lit(-1))
            .alias("v"),
        ).where((F.col("id") < 350) | (F.col("id") >= 400)),
        num_files=4,
    )

    # tiny threshold forces sharding: est rows (400 old + 375 new)
    # over 100/task → 8 shards for v1
    reader = TxTableCdfReader(
        {"path": root, "keycols": "k", "maxrowspertask": "100"}
    )
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) > 1  # the replace really sharded
    assert len({p.value[1] for p in parts}) == len(parts)  # distinct shards
    rows = [r for p in parts for r in reader.read(p)]
    names = [n for n, _ in reader.schema_fields]
    got = {
        (row[names.index("k")], row[names.index("v")], row[-2], row[-1])
        for row in rows
    }
    assert len(rows) == len(got)  # no shard-boundary duplicates
    want = {
        (r["k"], r["v"], r["_change_type"], 1)  # the whole diff is v1
        for r in t.changes(spark, ["k"], 0, 1).collect()
    }
    assert got == want

    # the small-commit path still plans ONE partition per version
    t.delete_where(spark, "k = 5", merge_on_read=True)  # v2: 1 changed row
    small = reader.partitions({"version": 1}, {"version": 2})
    assert len(small) == 1 and small[0].value[2] == 1  # n_shards == 1

    # end-to-end: the streaming query over the sharded source matches
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    q = (
        spark.readStream.format("txcdf")
        .option("path", root)
        .option("keycols", "k")
        .option("maxrowspertask", "100")
        .option("startingversion", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r.k, r.v, r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()
        }
        want_all = want | {
            (r["k"], r["v"], r["_change_type"], 2)
            for r in t.changes(spark, ["k"], 1, 2).collect()
        }
        assert streamed == want_all
    finally:
        q.stop()


def test_txcdf_first_dv_delete_shards_from_new_side_estimate(spark, tmp_path):
    """Review-fix regression: a FIRST deletion-vector delete records
    its dv.n on the NEW side only — the shard estimate must read the
    larger side's dv.n, not the spec's own side (which is 0 at v-1 and
    planned the exact single-task cliff sharding exists to remove)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.sources.txcdf import TxTableCdfReader
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    root = str(tmp_path / "t")
    t = TransactionalTable(root)
    t.commit(
        spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        num_files=2,
    )
    t.delete_where(spark, "k < 250", merge_on_read=True)  # v1: first DV

    reader = TxTableCdfReader(
        {"path": root, "keycols": "k", "maxrowspertask": "100"}
    )
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) > 1, "first DV delete must shard (est from new dv.n)"
    rows = [r for p in parts for r in reader.read(p)]
    assert len(rows) == 250
    assert {row[-2] for row in rows} == {"delete"}
    assert {row[0] for row in rows} == set(range(250))


def test_streaming_ann_ingest_appends_into_persisted_index(
    spark, sf_dir, tmp_path
):
    """Streaming ANN ingestion (round 12): a vector stream appends into
    the persisted IVF×PQ index via ``ivfpq_index_append`` inside
    foreachBatch — each micro-batch encodes with the MANIFEST quantizer
    (map-only Arrow encode) and lands as a partitioned append commit,
    so a probe issued after the stream drains sees the new vectors
    without any re-train or rebuild. This is the online-ingest shape of
    the ANN maintenance contract (drift governed by the committed
    25%-append curve; re-train via ivfpq_index_retrain)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_probe,
    )
    from nyc_taxi_etl_pyspark_spark.sources.tables import load_table
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    n_total = e.count()
    base = e.where("vec_id < 300")
    fresh = e.where("vec_id >= 300")
    t = TransactionalTable(str(tmp_path / "ann"))
    build_ivfpq_index(
        t, base, id_col="vec_id", vec_col="embedding"
    )
    n_base = t.count()

    # the "arriving vectors" log: several files so the stream takes
    # multiple micro-batches
    src = str(tmp_path / "incoming")
    fresh.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(batch_df, batch_id):
        if batch_df.take(1):
            ivfpq_index_append(spark, t, batch_df, "vec_id", "embedding")

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert t.count() == n_total and n_total > n_base
    assert t.fsck()["ok"]
    # a streamed-in vector is findable: self-hit at rank 1
    probe_id = 310
    qv = e.where(f"vec_id = {probe_id}").select(
        F.col("embedding").alias("query_embedding")
    )
    top = ivfpq_index_probe(
        spark, t, qv, id_col="vec_id", vec_col="embedding", k=5
    ).collect()
    assert top[0]["vec_id"] == probe_id


def test_streaming_semantic_dedup_replay_is_idempotent(spark, tmp_path, sf_dir):
    """Streaming SemDeDup needs no replay marker either — but for a
    subtler reason than the exact-fingerprint pipeline: a replayed
    vector is dropped because it meets ITSELF in the admitted index at
    cosine 1.0 (the same-cell history check), so a worst-case full
    re-tail of bronze under a fresh checkpoint admits nothing and the
    index rows are unchanged."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_pyspark_spark.functions.rounding import stable_round
    from nyc_taxi_etl_pyspark_spark.functions.vectors import (
        cosine_similarity_col,
    )
    from nyc_taxi_etl_pyspark_spark.operators.dedup import semantic_dedup
    from nyc_taxi_etl_pyspark_spark.sources.paths import fixture_scratch_dir
    from nyc_taxi_etl_pyspark_spark.sources.pyds import register_python_sources
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable
    from nyc_taxi_etl_pyspark_spark.streaming.jobs import (
        run_streaming_semantic_dedup,
    )

    out1 = run_streaming_semantic_dedup(spark, sf_dir)
    rows1 = set(map(tuple, out1.collect()))
    assert rows1

    base = fixture_scratch_dir(
        "spark_graft_semdedup", sf_dir, anchor="embeddings.parquet"
    )
    index = TransactionalTable(base + "/admitted")

    register_python_sources(spark)
    stream = (
        spark.readStream.format("txstream")
        .option("path", base + "/bronze")
        .load()
    )

    def apply_batch(batch_df, batch_id):
        surv = semantic_dedup(
            batch_df.select("vec_id", "embedding", "label"),
            id_col="vec_id", vec_col="embedding", dim=64,
            n_cells=8, threshold=0.3,
        ).select("vec_id", "embedding", "label", "cell")
        adm = index.read(spark).select(
            F.col("embedding").alias("__avec"), "cell"
        )
        clash = (
            surv.join(adm, "cell")
            .where(
                stable_round(
                    cosine_similarity_col(F.col("embedding"), F.col("__avec")),
                    4,
                ) >= 0.3
            )
            .select("vec_id").distinct()
        )
        index.commit(surv.join(clash, "vec_id", "left_anti"), mode="append")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "sem_replay_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows2 = set(
        map(tuple, index.read(spark).select("vec_id", "label", "cell").collect())
    )
    assert rows2 == rows1  # full redelivery admitted nothing new
