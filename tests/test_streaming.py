"""Batch-equivalence tests for the streaming pipelines (SURVEY.md §5:
'run the same agg in batch and streaming and compare') plus a
stateful per-key operator check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.streaming.events import (
    dedup_within_watermark,
    run_stream_to_memory,
    session_counts,
    tumbling_counts,
)
from ctgov_ai_etl_spark.tables import load_table, stream_table
from tests.conftest import SF_SMALL


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark):
    stream_out = run_stream_to_memory(
        tumbling_counts(stream_table(spark, SF_SMALL, "events")), mode="complete"
    )
    batch = load_table(spark, SF_SMALL, "events")
    batch_out = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
        )
    )
    cols = ["w_start", "w_end", "event_type", "n"]
    assert _rows(stream_out, cols) == _rows(batch_out, cols)


def test_streaming_dedup_equals_batch_distinct(spark):
    stream_out = run_stream_to_memory(
        dedup_within_watermark(stream_table(spark, SF_SMALL, "events")), mode="append"
    )
    batch_out = (
        load_table(spark, SF_SMALL, "events").select("user_id", "event_type").distinct()
    )
    cols = ["user_id", "event_type"]
    assert _rows(stream_out, cols) == _rows(batch_out, cols)


def test_stateful_user_stats_equals_batch_agg(spark):
    from ctgov_ai_etl_spark.streaming.events import stateful_user_stats
    from pyspark.sql import Window as W

    out = run_stream_to_memory(
        stateful_user_stats(stream_table(spark, SF_SMALL, "events")), mode="update"
    )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("max_value", F.round("max_value", 6))
    )
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.max("value"), 6).alias("max_value"))
    )
    cols = ["user_id", "n_events", "max_value"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_observe_metrics_r16(spark):
    """Run-metric counters (reference R16, etl.py:390-421) as
    df.observe aggregates — collected without a second pass."""
    from pyspark.sql import Observation

    ev = load_table(spark, SF_SMALL, "events")
    obs = Observation("run_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == ev.count()
    assert got["n_errors"] == ev.filter(F.col("event_type") == "error").count()


def test_session_window_batch_matches_gaps_and_islands(spark):
    from pyspark.sql import Window as W

    ev = load_table(spark, SF_SMALL, "events")
    native = (
        ev.groupBy(F.session_window("ts", "1 hour").alias("s"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("s.start").alias("start"), F.col("n"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    manual = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            (
                F.col("prev").isNull()
                | (F.col("ts").cast("long") - F.col("prev").cast("long") > 3600)
            ).cast("int"),
        )
        .withColumn(
            "island",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "island")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n"))
        .select("user_id", "start", "n")
    )
    cols = ["user_id", "start", "n"]
    assert _rows(native, cols) == _rows(manual, cols)


def test_foreach_batch_sink_writes_every_batch(spark, tmp_path):
    """Real writeStream.foreachBatch: each micro-batch lands in a
    parquet sink via custom writer logic; reading the sink back equals
    the batch source (SURVEY §2.3 'foreachBatch sink', R17 analog)."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    seen = []

    def write_batch(df, epoch_id):
        seen.append(epoch_id)
        df.write.mode("append").parquet(out)

    q = (
        stream_table(spark, SF_SMALL, "events")
        .select("event_id", "user_id", "event_type")
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen, "foreachBatch never invoked"
    back = spark.read.parquet(out)
    src = load_table(spark, SF_SMALL, "events")
    assert back.count() == src.count()
    assert sorted(r.event_id for r in back.select("event_id").collect()) == sorted(
        r.event_id for r in src.select("event_id").collect()
    )


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """REAL watermark semantics need >1 micro-batch: run 1 processes
    on-time events and advances the watermark (persisted in the
    checkpoint); run 2 — same checkpoint — sees one hopelessly late
    event (dropped by the restored watermark) and one on-time event
    (kept). Also proves state/watermark recovery across restarts."""
    from datetime import datetime

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_rows(name, rows):
        spark.createDataFrame(rows, "ts timestamp, user_id long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    def run_once(sink_name):
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .parquet(str(src) + "/*")
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )
        # foreachBatch sink: unlike the memory sink it supports
        # checkpoint RECOVERY, which this test depends on
        got: dict = {}

        def collect_batch(df, _epoch):
            got.update({r.w_start: r.n for r in df.collect()})

        q = (
            stream.writeStream.outputMode("update")
            .foreachBatch(collect_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    # run 1: events at 12:00 => watermark advances to 11:50
    write_rows("b1", [(datetime(2024, 1, 1, 12, 0), 1), (datetime(2024, 1, 1, 12, 0), 2)])
    got1 = run_once("wm_run1")
    assert got1 == {datetime(2024, 1, 1, 12, 0): 2}

    # run 2: a hopelessly late event (10:00 < 11:50) + an on-time one
    write_rows("b2", [(datetime(2024, 1, 1, 10, 0), 3), (datetime(2024, 1, 1, 12, 1), 4)])
    got2 = run_once("wm_run2")
    assert datetime(2024, 1, 1, 10, 0) not in got2, "late event must be dropped"
    assert got2.get(datetime(2024, 1, 1, 12, 0)) == 3  # on-time event merged


def test_stream_semantic_admission_equals_batch_twin(spark):
    """Finite-source streaming admission == the batch twin
    (dedup_semantic_incremental): same store split, same centroid
    blocks, same min-id dup targets."""
    from ctgov_ai_etl_spark.queries.semantic import dedup_semantic_incremental
    from ctgov_ai_etl_spark.queries.stream_batch import (
        stream_run_semantic_admission,
    )
    from tests.conftest import SF_SMALL

    got = {
        (r.vec_id, r.dup_of, r.cos_sim)
        for r in stream_run_semantic_admission(spark, SF_SMALL).collect()
    }
    want = {
        (r.vec_id, r.dup_of, r.cos_sim)
        for r in dedup_semantic_incremental(spark, SF_SMALL).collect()
    }
    assert got == want and len(want) > 0


def test_stream_join_outer_removes_its_staged_batches(spark, tmp_path, monkeypatch):
    """The outer stream-stream join stages its events and sentinels in
    a scratch directory; the memory-sink result does not read them, so
    the run removes them and the result still collects."""
    from ctgov_ai_etl_spark.queries.stream_batch import (
        stream_run_stream_join_outer,
    )

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    rows = stream_run_stream_join_outer(spark, SF_SMALL).collect()
    assert rows and all(r.click_id >= 0 for r in rows)
    assert not list(tmp_path.glob("ssjo_*"))


def test_stream_admission_across_multiple_microbatches(spark, tmp_path):
    """MULTI-batch streaming admission: the incoming corpus is split
    into 3 files consumed one per micro-batch (maxFilesPerTrigger=1),
    so matches for the complete-mode min-struct aggregate arrive
    across separate state commits — the result must still equal the
    single-shot batch computation (struct-min state merge is
    order-independent)."""
    import pyspark.sql.types as T

    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from ctgov_ai_etl_spark.operators.similarity import (
        semantic_incremental_dedup,
    )
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS
    from ctgov_ai_etl_spark.queries.stream_batch import (
        semantic_admission_plan,
    )
    from ctgov_ai_etl_spark.tables import load_table
    from tests.conftest import SF_SMALL

    e = load_table(spark, SF_SMALL, "embeddings")
    existing = e.filter(hash_bucket(F.col("vec_id")) < 8000)
    incoming_batch = e.filter(hash_bucket(F.col("vec_id")) >= 8000)

    src = str(tmp_path / "incoming")
    incoming_batch.repartition(3).write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    dups = semantic_admission_plan(existing, stream, threshold=0.3)

    import uuid

    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = (
        dups.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 2  # genuinely multiple micro-batches
    got = {
        (r.vec_id, r.dup_of, r.cos_sim)
        for r in spark.table(name).collect()
    }
    want = {
        (r.vec_id, r.dup_of, r.cos_sim)
        for r in semantic_incremental_dedup(
            existing, incoming_batch, _BLOCK_CENTROIDS, threshold=0.3
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_session_window_equals_batch(spark):
    # The genuinely-streaming sessionization (watermark + merging
    # session state) must equal the batch session_window expression on
    # the same finite input — batch/stream duality for session windows.
    stream_out = run_stream_to_memory(
        session_counts(stream_table(spark, SF_SMALL, "events")), mode="complete"
    )
    batch = load_table(spark, SF_SMALL, "events")
    batch_out = (
        batch.groupBy(F.session_window("ts", "1 hour").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(stream_out, cols) == _rows(batch_out, cols)


def test_session_merges_across_microbatches(spark, tmp_path):
    """A session SPLIT across micro-batches must merge in the session
    state store: user 7's two events are 30 min apart (inside the 1 h
    gap) but arrive in separate batches (maxFilesPerTrigger=1), so the
    second batch must extend the first batch's open session rather
    than emit a new one.  Complete mode keeps every session; the
    result must equal the batch session_window over the union."""
    import datetime as dt
    import uuid

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows1 = [(1, t0, 7, "view", 1.0, "{}"),
             (2, t0, 8, "view", 1.0, "{}")]
    rows2 = [(3, t0 + dt.timedelta(minutes=30), 7, "click", 1.0, "{}"),
             (4, t0 + dt.timedelta(hours=3), 8, "click", 1.0, "{}")]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows1, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        )
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "1 hour").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # genuinely multiple batches
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table(name).collect()
    )
    # user 7: ONE merged 2-event session [t0, t0+30min+1h);
    # user 8: TWO separate 1-event sessions (3 h apart > 1 h gap).
    assert got == [
        (7, t0, t0 + dt.timedelta(minutes=90), 2),
        (8, t0, t0 + dt.timedelta(hours=1), 1),
        (8, t0 + dt.timedelta(hours=3), t0 + dt.timedelta(hours=4), 1),
    ]


def test_interval_join_across_microbatches(spark, tmp_path):
    """The banding interval join must enrich points from EVERY
    micro-batch against the static interval side (stream-static joins
    are stateless per batch): two point files arrive as separate
    batches (maxFilesPerTrigger=1); the appended union must equal the
    batch join over all points."""
    import datetime as dt

    from ctgov_ai_etl_spark.operators.intervals import interval_point_join

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = "p_id long, ts timestamp"
    rows1 = [(1, t0), (2, t0 + dt.timedelta(minutes=5))]
    rows2 = [(3, t0 + dt.timedelta(minutes=9)), (4, t0 + dt.timedelta(minutes=30))]
    src = str(tmp_path / "points_src")
    spark.createDataFrame(rows1, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)

    intervals = spark.createDataFrame(
        [(100, t0, t0 + dt.timedelta(minutes=10))],
        "i_id long, lo timestamp, hi timestamp",
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    joined = interval_point_join(
        stream, intervals, "ts", "lo", "hi", bin_seconds=600
    ).select("p_id", "i_id")
    got = sorted(
        (r["p_id"], r["i_id"])
        for r in run_stream_to_memory(joined, mode="append").collect()
    )
    # points 1, 2 (batch 1) and 3 (batch 2) fall inside the window;
    # 4 does not.  Batch 2's point must still see the static side.
    assert got == [(1, 100), (2, 100), (3, 100)]


def test_capped_sessions_state_across_microbatches(spark, tmp_path):
    """The capped-session state (open session ordinal + anchor) must
    carry across micro-batches: user 7's batch-2 events continue the
    session opened in batch 1 (within the gap) and split at the cap
    anchored at the BATCH-1 session start; user 8's batch-2 event is
    past the gap and must open session 2."""
    import datetime as dt

    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_capped_sessions,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    gap, cap = 600, 900  # 10 min gap, 15 min cap
    rows1 = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=8), 7, "view", 1.0, "{}"),
        (3, t0, 8, "view", 1.0, "{}"),
    ]
    rows2 = [
        # 7: 16 min after t0 (8 min after last -> same session), but
        # past the 15-min cap anchored at t0 -> subsession 1
        (4, t0 + dt.timedelta(minutes=16), 7, "view", 1.0, "{}"),
        # 8: 20 min after last -> NEW session
        (5, t0 + dt.timedelta(minutes=20), 8, "view", 1.0, "{}"),
    ]
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows1, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    out = run_stream_to_memory(
        stateful_capped_sessions(stream, gap, cap), mode="update"
    )
    got = {
        r["event_id"]: (r["session_id"], r["subsession_id"])
        for r in out.collect()
    }
    assert got[1] == (1, 0)
    assert got[2] == (1, 0)
    assert got[4] == (1, 1)   # same session, cap slice 1 (batch-1 anchor)
    assert got[3] == (1, 0)
    assert got[5] == (2, 0)   # gap exceeded across the batch boundary


def test_rate_limiter_state_across_microbatches(spark, tmp_path):
    """The token bucket's (tokens, last_ts) must carry across
    micro-batches: user 1 burns the 3-token burst in batch 1, so the
    batch-2 event one second later (negligible refill) is DENIED;
    after ~exactly one token of refill the next event is admitted."""
    import datetime as dt

    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_rate_limiter,
    )

    cap, cost = 3_000_000, 1_000_000  # 3-token burst, micro-tokens
    refill = 1  # 1 micro-token per microsecond = 1 token/second
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    rows1 = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(microseconds=1), 1, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(microseconds=2), 1, "view", 1.0, "{}"),
    ]
    rows2 = [
        # 1s later: refill ≈ 1 token, bucket had ~0 -> admit, then broke
        (4, t0 + dt.timedelta(seconds=1), 1, "view", 1.0, "{}"),
        (5, t0 + dt.timedelta(seconds=1, microseconds=1), 1, "view", 1.0, "{}"),
    ]
    src = str(tmp_path / "rl_src")
    spark.createDataFrame(rows1, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    out = run_stream_to_memory(
        stateful_rate_limiter(stream, cap, refill, cost), mode="update"
    )
    got = {r["event_id"]: r["allowed"] for r in out.collect()}
    # batch 1: full burst admits 3
    assert got[1] and got[2] and got[3]
    # batch 2: ~1 token refilled across the batch boundary -> one admit
    assert got[4] is True
    assert got[5] is False


def test_token_bucket_batch_matches_python_reference(spark):
    import random

    from ctgov_ai_etl_spark.operators.balance import token_bucket_scan

    rng = random.Random(13)
    cap, refill, cost = 5_000_000, 2, 1_000_000
    rows, t = [], 0
    for i in range(60):
        t += rng.randint(1, 2_000_000)
        rows.append((i, t, 1 + i % 3))
    df = spark.createDataFrame(
        [(e, u, t) for e, t, u in rows], "event_id long, user_id long, us long"
    ).select(
        "event_id", "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
    )
    got = {
        r["event_id"]: (r["allowed"], r["tokens_after"])
        for r in token_bucket_scan(df, cap, refill, cost).collect()
    }
    state = {}
    for e, t, u in rows:  # rows are already time-ordered
        tok, last = state.get(u, (None, None))
        avail = cap if tok is None else min(cap, tok + (t - last) * refill)
        ok = avail >= cost
        state[u] = (avail - cost if ok else avail, t)
        assert got[e] == (ok, state[u][0]), e


def test_funnel_state_across_microbatches(spark, tmp_path):
    """Funnel chain state must carry across micro-batches: user 1's
    view arrives in batch 1, click + purchase in batch 2 (within
    bound) -> full chain; user 2's click arrives BEFORE its view
    (split across batches) -> stuck at step 1."""
    import datetime as dt

    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_funnel,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    rows1 = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0, 2, "click", 1.0, "{}"),
    ]
    rows2 = [
        (3, t0 + dt.timedelta(hours=1), 1, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=2), 1, "purchase", 1.0, "{}"),
        (5, t0 + dt.timedelta(hours=1), 2, "view", 1.0, "{}"),
    ]
    src = str(tmp_path / "funnel_src")
    spark.createDataFrame(rows1, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    out = run_stream_to_memory(
        stateful_funnel(stream, bound_us=7 * 86_400_000_000), mode="update"
    )
    from pyspark.sql import functions as FF

    final = {
        r["user_id"]: r["reached"]
        for r in out.groupBy("user_id")
        .agg(FF.max("step_reached").alias("reached"))
        .collect()
    }
    assert final[1] == 3  # chain completed across the batch boundary
    assert final[2] == 1  # click-before-view never counts


def test_sprt_state_across_microbatches(spark, tmp_path):
    """The SPRT state (rn, llr, frozen decision) must carry across
    micro-batches: with increments ±405465 and bound 2944439 a key
    needs 8 consecutive same-direction steps to decide — split 5 + 3
    across two batches, the crossing lands in batch 2 at rn=8 with
    state accumulated from batch 1.  A balanced key never decides and
    reports the final (continue, n, llr) snapshot."""
    import datetime as dt

    from ctgov_ai_etl_spark.queries.product import (
        _SPRT_BOUND,
        _SPRT_C0,
        _SPRT_C1,
    )
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_sprt,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def ev(i, etype, val):
        return (i, t0 + dt.timedelta(seconds=i), 1, etype, val, "{}")

    # 'up': 5 successes batch 1 + 3 in batch 2 -> accept_h1 at rn 8
    # 'down': 5 failures + 3 failures -> accept_h0 at rn 8
    # 'flat': alternating 2+2 -> continue, llr 0 at rn 4
    rows1 = (
        [ev(i, "up", 60.0) for i in range(5)]
        + [ev(10 + i, "down", 40.0) for i in range(5)]
        + [ev(20, "flat", 60.0), ev(21, "flat", 40.0)]
    )
    rows2 = (
        [ev(5 + i, "up", 60.0) for i in range(3)]
        + [ev(15 + i, "down", 40.0) for i in range(3)]
        + [ev(22, "flat", 60.0), ev(23, "flat", 40.0)]
    )
    src = str(tmp_path / "sprt_src")
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    snaps = run_stream_to_memory(
        stateful_sprt(stream, _SPRT_C1, _SPRT_C0, _SPRT_BOUND),
        mode="update",
    )
    # latest snapshot per key = max rows_seen (monotone)
    latest = {}
    for r in snaps.collect():
        if (
            r["event_type"] not in latest
            or r["rows_seen"] > latest[r["event_type"]]["rows_seen"]
        ):
            latest[r["event_type"]] = r
    up, down, flat = latest["up"], latest["down"], latest["flat"]
    assert (up["decided"], up["dec_r"], up["dec_l"]) == (
        1, 8, 8 * _SPRT_C1,
    )
    assert (down["decided"], down["dec_r"], down["dec_l"]) == (
        1, 8, 8 * _SPRT_C0,
    )
    assert flat["decided"] == 0
    assert flat["rows_seen"] == 4 and flat["llr_now"] == 0
    # two snapshots per key (one per micro-batch) prove cross-batch state
    assert sum(1 for r in snaps.collect() if r["event_type"] == "up") == 2


def test_audit_chain_state_across_microbatches(spark, tmp_path):
    """The chain digest must thread across micro-batches: three events
    split 2 + 1 must produce md5(md5(md5('genesis:1'):2):3) — any
    state reset between batches yields a 'genesis'-rooted hash for
    batch 2 instead."""
    import datetime as dt
    import hashlib

    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_audit_chain,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    rows1 = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=1), 7, "view", 1.0, "{}"),
    ]
    rows2 = [(3, t0 + dt.timedelta(seconds=2), 7, "view", 1.0, "{}")]
    src = str(tmp_path / "chain_src")
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    snaps = run_stream_to_memory(
        stateful_audit_chain(stream), mode="update"
    ).collect()
    latest = max(snaps, key=lambda r: r["n_events"])
    h = "genesis"
    for eid in (1, 2, 3):
        h = hashlib.md5(f"{h}:{eid}".encode()).hexdigest()
    assert latest["n_events"] == 3 and latest["final_hash"] == h
    assert len(snaps) == 2  # one snapshot per micro-batch


# --- stream state-store partition sizing ---------------------------------

_PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture(params=[None, "12"], ids=["session", "above_cap"])
def session_parts(spark, request):
    """The session's shuffle-partition value for one test: the
    session default, or a value above the stream cap.  Restored after
    the test so no conf change leaks into later tests."""
    prev = spark.conf.get(_PARTS)
    if request.param is not None:
        spark.conf.set(_PARTS, request.param)
    try:
        yield spark.conf.get(_PARTS)
    finally:
        spark.conf.set(_PARTS, prev)


def test_volume_alert_state_parts_follow_rule(spark, session_parts):
    """stream_run_volume_alert plans its state store with
    min(session value, cap) partitions and leaves the session conf as
    it found it."""
    import re

    import ctgov_ai_etl_spark.streaming.events as ev
    from ctgov_ai_etl_spark.queries.stream_batch import stream_run_volume_alert

    ev.STREAM_PLAN_CAPTURE = []
    try:
        stream_run_volume_alert(spark, SF_SMALL).collect()
        plan = "\n".join(ev.STREAM_PLAN_CAPTURE)
    finally:
        ev.STREAM_PLAN_CAPTURE = None
    want = min(int(session_parts), ev.STREAM_SHUFFLE_CAP)
    assert set(re.findall(r"numPartitions = (\d+)", plan)) == {str(want)}
    assert spark.conf.get(_PARTS) == session_parts


def test_upsert_snapshot_restores_shuffle_parts(spark, session_parts):
    from ctgov_ai_etl_spark.streaming.events import stream_upsert_snapshot

    assert stream_upsert_snapshot(spark, SF_SMALL).count() > 0
    assert spark.conf.get(_PARTS) == session_parts


def test_failed_stream_run_restores_shuffle_parts(spark, session_parts):
    """A query that raises mid-run still gets the caller's conf back."""
    failing = stream_table(spark, SF_SMALL, "events").select(
        F.assert_true(F.col("event_id") < 0).alias("never")
    )
    with pytest.raises(Exception):
        run_stream_to_memory(failing)
    assert spark.conf.get(_PARTS) == session_parts


# --- stream runner resource hygiene --------------------------------------


def test_stream_catalog_leaves_no_memory_views(spark):
    """Both memory-sink runners (``stream_run_rest_source`` drives
    ``run_stream_to_memory_until_done``, the rest
    ``run_stream_to_memory``) drop their view once they have the
    result, and the result, derived further by most queries, still
    collects after the drop: its plan holds the sink's data, not the
    view name."""
    from ctgov_ai_etl_spark.queries import load_all

    def views():
        return sorted(t.name for t in spark.catalog.listTables())

    before = views()
    registry = load_all()
    names = [n for n in registry if n.startswith("stream_run_")]
    assert names
    for name in names:
        registry[name].fn(spark, SF_SMALL).collect()
        assert views() == before, name


def test_upsert_snapshot_keeps_only_latest_version(spark):
    """Once the stream stops, the scratch directory holds only the
    snapshot version the returned frame reads."""
    import os
    from urllib.parse import urlparse

    from ctgov_ai_etl_spark.streaming.events import stream_upsert_snapshot

    snap = stream_upsert_snapshot(spark, SF_SMALL)
    files = {os.path.dirname(urlparse(f).path) for f in snap.inputFiles()}
    assert len(files) == 1
    version = files.pop()
    target = os.path.dirname(version)
    work = os.path.dirname(target)
    assert os.listdir(work) == ["target"]
    assert os.listdir(target) == [os.path.basename(version)]
    assert snap.count() > 0


def test_upsert_snapshot_work_dir_is_removed_at_exit(tmp_path):
    """The returned frame reads the work directory lazily, so it stays
    until interpreter exit, and no longer: the result collects, and
    no ``upsert_stream_*`` directory survives the process."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
        from ctgov_ai_etl_spark.session import get_spark
        from ctgov_ai_etl_spark.streaming.events import stream_upsert_snapshot

        spark = get_spark("upsert_exit", cpus="2")
        print(stream_upsert_snapshot(spark, {SF_SMALL!r}).count())
        """
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        env={
            **os.environ,
            "PYTHONPATH": repo,
            "SPARK_GRAFT_LOCAL_DIR": str(tmp_path),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        },
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert int(proc.stdout.split()[-1]) > 0
    assert not [p for p in os.listdir(tmp_path) if p.startswith("upsert_stream_")]
