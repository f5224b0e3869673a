"""Structured Streaming pipelines over the events table
(SURVEY.md §2.3 'Streaming'; the reference's paginated pull loop —
/root/reference/etl.py:115-157 — is the degenerate ancestor: a
pull-based page iterator consumed eagerly; here the same shape is a
micro-batch source with watermarks and stateful operators).

Batch/stream duality: every windowed aggregation here is the SAME
DataFrame expression the batch catalog runs (queries/stream_batch.py)
— Structured Streaming's incrementalization is the scale story, and
batch-equivalence is the correctness story (run both, compare).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators import cache


#: Upper bound on the state-store partitions of a stream run.
STREAM_SHUFFLE_CAP = 8


@contextlib.contextmanager
def _stream_shuffle_parts(spark):
    """Bound the state-store partition count of a stream run to
    ``min(session shuffle partitions, STREAM_SHUFFLE_CAP)``.

    A stateful streaming query creates one state-store instance per
    shuffle partition and commits every one of them per micro-batch;
    at the session default (= core count) a tiny-state query on a wide
    host pays one store commit and one stateful task per core per
    batch for state that fits in a handful of partitions.  State
    partitions are sized to state volume, not to core count — the
    standard sizing rule for state stores.  Every stream run in the
    package goes through this manager, so it is the one place that
    sizes them.  Restores the caller's value on exit; the conf is read
    once at query start, so the restore cannot affect the running
    query.

    SINGLE-THREADED assumption: this mutates the session-global
    ``spark.sql.shuffle.partitions`` for the duration of the run, so
    any batch query planned CONCURRENTLY on the shared session would
    silently plan with the lowered value.  The harness drives queries
    sequentially; runners that ever parallelize must scope the conf
    per query instead.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    lowered = False
    try:
        if int(prev) > STREAM_SHUFFLE_CAP:
            spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_CAP))
            lowered = True
    except (TypeError, ValueError):
        pass
    try:
        yield
    finally:
        if lowered:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


#: When set to a list by the plan-audit harness, every stream runner
#: appends the EXECUTED micro-batch plan (``explainInternal``) of each
#: query it drives.  The batch frame a stream query returns is just a
#: memory-sink scan — the streaming physical properties worth
#: asserting (state-store partition counts, StreamingSymmetricHashJoin
#: vs cartesian, broadcast static side) exist only on the streaming
#: query's own executed plan, which this hook exposes to
#: tools/explain_audit.py without changing any runtime behavior.
STREAM_PLAN_CAPTURE: list | None = None


def _capture_stream_plan(q) -> None:
    if STREAM_PLAN_CAPTURE is not None:
        try:
            STREAM_PLAN_CAPTURE.append(q._jsq.explainInternal(True))
        except Exception as exc:  # surfaced as a failing assertion
            STREAM_PLAN_CAPTURE.append(f"<explain failed: {exc}>")


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event type — identical
    expression in batch and streaming."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Watermarked per-user session windows (``gap`` inactivity closes
    a session) — the native ``session_window`` operator running as a
    genuine streaming aggregation.  Identical expression to the batch
    twin (queries/stream_batch.py:stream_session_window); streaming
    adds only the watermark, which bounds state: sessions whose end
    precedes the watermark are finalized and their state evicted —
    the property that makes sessionization viable on an unbounded
    100 TB stream (state ∝ active users × open sessions, not history).
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup keyed on (user_id, event_type) within the
    watermark horizon — the streaming analog of dropDuplicates."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful per-key streaming operator
    (applyInPandasWithState): running event count and max value per
    user, state carried across micro-batches.  The streaming analog
    of a groupBy agg when the aggregation logic can't be expressed
    declaratively (e.g. per-key model state, the reference's per-row
    AI loop made incremental)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        # raw max — rounding (when wanted) happens downstream with
        # F.round: Python round() is banker's, SQL round is half-away,
        # and mixing the two is a known 1-ulp oracle flake.
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="n long, vmax double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def stream_upsert_snapshot(
    spark: SparkSession,
    sf_dir: str,
    n_shards: int = 4,
) -> DataFrame:
    """foreachBatch MERGE sink: maintain a per-user LATEST-event
    snapshot table under a finite multi-batch stream — the streaming
    half of the lakehouse upsert story (merge.merge_upsert_versioned
    is the batch half).

    The events table is re-sharded into ``n_shards`` files and
    streamed with ``maxFilesPerTrigger=1``, so the query really runs
    several micro-batches; each batch MERGEs into a parquet target
    with version-conflict resolution on (ts, event_id) — the winner
    per user is the globally-latest event NO MATTER which batch it
    arrived in, so the final snapshot is independent of file order
    (file-stream batch order is not a contract) and of replays.  Each
    merge writes a NEW versioned snapshot directory (copy-on-write,
    the lakehouse layout) rather than overwriting in place — one
    read→write pass per batch, no defensive materialization.  Once the
    stream stops, the shards, the checkpoint and every superseded
    version are removed: the returned frame reads only the latest.
    The work directory holding it is a :func:`cache.scratch_dir`, removed
    at the caller's ``release_all``, not on return: the frame reads it
    lazily.
    """
    from ctgov_ai_etl_spark.operators.merge import merge_upsert_versioned
    from ctgov_ai_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    work = cache.scratch_dir("upsert_stream_")
    src_dir = os.path.join(work, "shards")
    target_dir = os.path.join(work, "target")
    ev.repartition(n_shards).write.parquet(src_dir)

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )

    # Each batch MERGEs the previous snapshot VERSION into a new
    # versioned directory (the copy-on-write layout every lakehouse
    # format uses) instead of overwriting in place — so the merge
    # streams straight from read to write in ONE pass, with no
    # persist+count materialization to protect a self-referential
    # overwrite.
    latest: list[str] = []

    def upsert_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        if latest:
            target = sess.read.parquet(latest[-1])
        else:
            target = sess.createDataFrame([], schema)
        merged = merge_upsert_versioned(
            target, batch_df, keys=["user_id"], version_cols=["ts", "event_id"]
        )
        vdir = os.path.join(target_dir, f"v{epoch_id}")
        merged.write.parquet(vdir)
        latest.append(vdir)

    ckpt = os.path.join(work, "ckpt")
    try:
        with _stream_shuffle_parts(spark):
            q = (
                stream.writeStream.foreachBatch(upsert_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        _capture_stream_plan(q)
    finally:
        # Nothing reaches the shards, the checkpoint or a superseded
        # version once the stream has stopped; they would stay on tmpfs
        # for the life of the host.
        for d in (src_dir, ckpt, *latest[:-1]):
            shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(latest[-1])


def _table_dropping_view(spark: SparkSession, name: str) -> DataFrame:
    """The memory sink's result, with its temp view dropped so a long
    session does not accumulate them: the returned frame's analyzed
    plan holds the sink's data, not the view name."""
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def run_stream_to_memory_until_done(
    df: DataFrame, name: str | None = None, mode: str = "append"
) -> DataFrame:
    """Like :func:`run_stream_to_memory` but for PULL sources whose
    offsets advance lazily (e.g. the REST page walk): ``availableNow``
    snapshots only the data available at start — one micro-batch — so
    instead run with an immediate trigger and block on
    ``processAllAvailable()``, which loops micro-batches until the
    source's offset stops advancing (the reader's ``done`` state)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    ckpt = cache.scratch_dir(f"ckpt_{name}_")
    spark = df.sparkSession
    try:
        with _stream_shuffle_parts(spark):
            q = (
                df.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )
            try:
                q.processAllAvailable()
                _capture_stream_plan(q)
            finally:
                q.stop()
    finally:
        # In a finally: an exception mid-run must not leak the
        # single-run checkpoint onto tmpfs.
        shutil.rmtree(ckpt, ignore_errors=True)
    return _table_dropping_view(spark, name)


def run_stream_to_memory(
    df: DataFrame, name: str | None = None, mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame to completion synchronously
    (availableNow over the finite file source) and return the result
    as a batch DataFrame from the memory sink.

    Use ``mode='complete'`` for aggregations on finite sources: in
    append mode a window is emitted only once the watermark passes its
    end, and a finite stream's watermark never passes the last window
    — the tail would be withheld forever.
    """
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    ckpt = cache.scratch_dir(f"ckpt_{name}_")
    spark = df.sparkSession
    try:
        with _stream_shuffle_parts(spark):
            q = (
                df.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        _capture_stream_plan(q)
    finally:
        # The memory sink holds the results; the single-run checkpoint
        # is dead weight once the query terminated — drop it so long
        # catalog sessions don't accumulate hundreds of scratch dirs on
        # tmpfs.  In a finally: an exception mid-run must not leak it
        # either.
        shutil.rmtree(ckpt, ignore_errors=True)
    return _table_dropping_view(spark, name)


def stateful_capped_sessions(
    events: DataFrame, gap_seconds: int, cap_seconds: int
) -> DataFrame:
    """STREAMING gap + duration-cap sessionization — the cap that
    native ``session_window`` cannot express, as a custom stateful
    per-key operator (applyInPandasWithState).  State per user is
    three integers (last event micros, session ordinal, session-start
    micros); each batch's rows process in (ts, event_id) order and
    the state carries open sessions across micro-batches — bounded
    state on an unbounded stream, the same property the merging
    session store gives the plain-gap case.

    Event-time arithmetic stays in exact int64 microseconds computed
    SPARK-SIDE (unix_micros) before the Python boundary — pandas
    datetime dtype drift (ns vs us) never touches the math.  Assumes
    per-key event-time-ordered arrival across batches (true for the
    replayed file feed; an out-of-order production feed would buffer
    behind a watermark first — documented, not hidden).
    """
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    gap_us = int(gap_seconds) * 1_000_000
    cap_us = int(cap_seconds) * 1_000_000

    def update(key, pdfs, state):
        last_us, sess, start_us = (
            state.get if state.exists else (None, 0, 0)
        )
        out = []
        # Concatenate the batch's chunks BEFORE sorting: a key's rows
        # may arrive split across several Arrow chunks whose relative
        # order is not a contract — sorting per-chunk would process
        # within-batch events out of event-time order.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            # NULL ts arrives as NaN (Arrow renders the nullable long
            # as float64): drop corrupt rows like the batch twin does
            # (its NULL micros propagate to NULL outputs) instead of
            # crashing the whole query on int(NaN).
            batch = batch.dropna(subset=["ts_us"])
            batch = batch.sort_values(["ts_us", "event_id"])
            for ts_us, event_id in zip(batch["ts_us"], batch["event_id"]):
                ts_us = int(ts_us)
                if last_us is None or ts_us > last_us + gap_us:
                    sess += 1
                    start_us = ts_us
                sub = (ts_us - start_us) // cap_us
                out.append((int(event_id), sess, int(sub)))
                last_us = ts_us
        state.update((last_us, sess, start_us))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_id": [o[0] for o in out],
                    "session_id": [o[1] for o in out],
                    "subsession_id": [o[2] for o in out],
                }
            )

    keyed = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, event_id long, session_id int, subsession_id int"
        ),
        stateStructType="last_us long, sess int, start_us long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_attribution(events: DataFrame) -> DataFrame:
    """STREAMING last-touch attribution: per user, remember the most
    recent non-purchase event type (ONE string of state) and stamp it
    onto each purchase as it arrives — the real-time version of the
    attribution_last_touch batch rollup.  Emits one row per purchase:
    (user_id, event_id, touch_type, value_cents).

    Same per-batch (ts, event_id) ordering and event-time-ordered
    arrival assumption as the other stateful operators here."""
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)

    def update(key, pdfs, state):
        (touch,) = state.get if state.exists else (None,)
        out = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.dropna(subset=["ts_us"])
            batch = batch.sort_values(["ts_us", "event_id"])
            for event_id, etype, vc in zip(
                batch["event_id"], batch["event_type"], batch["value_cents"]
            ):
                if etype == "purchase":
                    out.append(
                        (int(event_id), touch if touch is not None else "none", int(vc))
                    )
                else:
                    touch = etype
        state.update((touch,))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_id": [o[0] for o in out],
                    "touch_type": [o[1] for o in out],
                    "value_cents": [o[2] for o in out],
                }
            )

    keyed = events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, event_id long, touch_type string, value_cents long"
        ),
        stateStructType="touch string",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_session_close(events: DataFrame, gap_seconds: int) -> DataFrame:
    """Per-user session CLOSURE emission via EventTimeTimeout — the
    state-expiry half of the stateful API the other operators here
    don't need: instead of stamping rows as they arrive, this emits
    ONE row per session when the event-time watermark passes the
    session's gap deadline (last event + gap), i.e. when the session
    is provably over.  State per user: (session start µs, last event
    µs, event count).

    This is how unbounded-key state stays bounded in production: every
    state either extends (new event) or expires (timeout) — nothing
    lives forever.  Requires a watermark on ``ts`` upstream."""
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    gap_ms = int(gap_seconds) * 1_000

    def update(key, pdfs, state):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us],
                    "n_events": [n],
                }
            )
            return
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.dropna(subset=["ts_us"]).sort_values(
                ["ts_us", "event_id"]
            )
            for ts_us in batch["ts_us"]:
                ts_us = int(ts_us)
                if start_us is None:
                    start_us = ts_us
                last_us = ts_us
                n += 1
        if last_us is not None:
            state.update((start_us, last_us, n))
            # deadline in epoch MILLIS (the API contract): when the
            # watermark passes it, hasTimedOut fires and the session
            # closes.
            state.setTimeoutTimestamp(last_us // 1000 + gap_ms)

    # keep the raw ts column: it CARRIES the upstream watermark — a
    # projection that drops it strips the EventTimeWatermark marker
    # and EventTimeTimeout refuses to plan.
    keyed = events.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_start_us long, session_end_us long,"
            " n_events long"
        ),
        stateStructType="start_us long, last_us long, n long",
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )


def stateful_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    bound_us: int | None = None,
) -> DataFrame:
    """STREAMING multi-step funnel: per-user greedy earliest-chain
    progress (step k+1 = first qualifying event strictly after step k,
    optionally within ``bound_us``) carried across micro-batches as
    one int64 per step.  Because rows process in event-time order,
    'first qualifying seen' IS the minimum the batch twin
    (queries/product.py:funnel_within_window) computes — the greedy
    chain is order-insensitive only in aggregate, so per-key
    event-time ordering is a precondition (true for the replayed
    file feed; production fronts this with a watermark sort).

    Emits (user_id, step_reached) per batch in update mode; the
    caller aggregates the LAST emission per user into step counts.
    State: len(steps) int64 timestamps (-1 = not reached) — bounded
    per user on an unbounded stream.
    """
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    k = len(steps)
    step_of = {s: i for i, s in enumerate(steps)}

    def update(key, pdfs, state):
        t = list(state.get) if state.exists else [-1] * k
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.dropna(subset=["ts_us"]).sort_values(
                ["ts_us", "event_id"]
            )
            for ts_us, etype in zip(batch["ts_us"], batch["event_type"]):
                i = step_of.get(etype)
                if i is None or t[i] != -1:
                    continue
                if i == 0:
                    t[0] = int(ts_us)
                elif t[i - 1] != -1 and int(ts_us) > t[i - 1] and (
                    bound_us is None or int(ts_us) <= t[i - 1] + bound_us
                ):
                    t[i] = int(ts_us)
        state.update(tuple(t))
        reached = sum(1 for x in t if x != -1)
        yield pd.DataFrame(
            {"user_id": [key[0]], "step_reached": [reached]}
        )

    keyed = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, step_reached int",
        stateStructType=", ".join(f"t{i} long" for i in range(k)),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_rate_limiter(
    events: DataFrame, cap: int, refill_per_us: int, cost: int
) -> DataFrame:
    """STREAMING event-time token bucket (R13's rate limiter as a
    stateful stream operator): per-user (tokens, last_ts) carried
    across micro-batches; admit iff ``cost`` micro-tokens are
    available after linear event-time refill up to ``cap``.  Same
    recurrence as the batch scan
    (operators/balance.py:token_bucket_scan) — both hash-check
    against one recursive-CTE oracle.  Assumes per-key event-time
    order across batches (the replayed file feed; production buffers
    behind a watermark first)."""
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    cap_i, refill_i, cost_i = int(cap), int(refill_per_us), int(cost)

    def update(key, pdfs, state):
        tokens, last = state.get if state.exists else (None, None)
        ids, oks, toks = [], [], []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.dropna(subset=["ts_us"]).sort_values(
                ["ts_us", "event_id"]
            )
            for ts_us, event_id in zip(batch["ts_us"], batch["event_id"]):
                ts_us = int(ts_us)
                avail = (
                    cap_i
                    if tokens is None
                    else min(cap_i, tokens + (ts_us - last) * refill_i)
                )
                ok = avail >= cost_i
                tokens = avail - cost_i if ok else avail
                last = ts_us
                ids.append(int(event_id))
                oks.append(ok)
                toks.append(tokens)
        state.update((tokens, last))
        if ids:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(ids),
                    "event_id": ids,
                    "allowed": oks,
                    "tokens_after": toks,
                }
            )

    keyed = events.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, event_id long, allowed boolean, tokens_after long"
        ),
        stateStructType="tokens long, last_us long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_sprt(
    events: DataFrame, c1: int, c0: int, bound: int
) -> DataFrame:
    """STREAMING Wald SPRT monitor: per event-type stream, accumulate
    the Bernoulli log-likelihood ratio (integer log-micro-units,
    increments injected by the caller) and FREEZE the first boundary
    crossing — the early-stopping A/B monitor running against live
    traffic instead of a nightly batch.  State per key is five
    integers; each micro-batch emits one UPDATE row carrying
    (rows_seen, decided, crossing rn/llr, running llr) so the caller
    reduces to the latest snapshot per key (max on the monotone
    rows_seen) after the sink.

    Same per-batch (ts_us, event_id) ordering and event-time-ordered
    arrival assumption as the other stateful operators here; the llr
    keeps accumulating after a crossing (the frozen decision fields
    are what the SPRT reports) so never-crossing keys still yield the
    batch twin's ('continue', total n, final llr) row."""
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)

    def update(key, pdfs, state):
        rn, llr, decided, dec_r, dec_l = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.dropna(subset=["ts_us", "value_cents"])
            batch = batch.sort_values(["ts_us", "event_id"])
            for vc in batch["value_cents"]:
                rn += 1
                llr += c1 if int(vc) > 5000 else c0
                if not decided and (llr >= bound or llr <= -bound):
                    decided, dec_r, dec_l = 1, rn, llr
        state.update((rn, llr, decided, dec_r, dec_l))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "rows_seen": [rn],
                "decided": [decided],
                "dec_r": [dec_r],
                "dec_l": [dec_l],
                "llr_now": [llr],
            }
        )

    keyed = events.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, rows_seen long, decided int, "
            "dec_r long, dec_l long, llr_now long"
        ),
        stateStructType=(
            "rn long, llr long, decided int, dec_r long, dec_l long"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_holt(events: DataFrame) -> DataFrame:
    """STREAMING Holt linear-trend smoother over each key's DAILY
    event counts (alpha = beta = 1/2, exact int64 micro-units — the
    live twin of queries/analytics.py:ts_holt_linear): state per key is
    the open day's counter plus the folded (level, trend) pair; a
    day rollover folds the closed day with the same floor-division
    recurrence the batch twin replays as a recursive CTE.  Each
    micro-batch emits an UPDATE snapshot with the open day folded
    PROVISIONALLY (state itself is not mutated by emission), so the
    latest snapshot per key — selected on the monotone rows_seen —
    equals the batch answer over the same rows, where every observed
    day counts as complete.  Same per-batch (ts_us, event_id)
    ordering and event-time-ordered arrival contract as the other
    stateful operators here."""
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    day_us = 86_400_000_000

    def fold(level, trend, started, xm):
        if not started:
            return xm, 0
        l_new = (xm + level + trend) // 2
        return l_new, (l_new - level + trend) // 2

    def update(key, pdfs, state):
        cur_day, cnt, level, trend, nfold, rows, started = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.sort_values(["ts_us", "event_id"])
            for ts_us in batch["ts_us"]:
                day = int(ts_us) // day_us
                rows += 1
                if cnt == 0:
                    cur_day = day
                if day != cur_day:
                    level, trend = fold(
                        level, trend, started, cnt * 1_000_000
                    )
                    started, nfold = 1, nfold + 1
                    cur_day, cnt = day, 1
                else:
                    cnt += 1
        state.update((cur_day, cnt, level, trend, nfold, rows, started))
        # provisional fold of the open day for the snapshot
        if cnt:
            pl, pt = fold(level, trend, started, cnt * 1_000_000)
            n_days = nfold + 1
        else:
            pl, pt, n_days = level, trend, nfold
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "rows_seen": [rows],
                "n_days": [n_days],
                "level_micro": [pl],
                "trend_micro": [pt],
                "forecast7_micro": [pl + 7 * pt],
            }
        )

    keyed = events.filter(F.col("ts").isNotNull()).select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, rows_seen long, n_days long, "
            "level_micro long, trend_micro long, forecast7_micro long"
        ),
        stateStructType=(
            "cur_day long, cnt long, level long, trend long, "
            "nfold long, rows long, started int"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_audit_chain(events: DataFrame) -> DataFrame:
    """STREAMING tamper-evident hash chain: per user, fold each event
    into chain_t = md5(chain_{t-1} || ':' || event_id) — ONE 32-char
    digest of state certifies the whole history seen so far; each
    micro-batch emits an UPDATE snapshot (n_events, head digest) and
    the caller keeps the latest per key (max on the monotone count).
    The streaming twin of gov_audit_chain: live integrity monitoring
    instead of the nightly batch recompute.  Same per-batch
    (ts_us, event_id) ordering contract as the other stateful ops."""
    import hashlib

    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)

    def update(key, pdfs, state):
        n, h = state.get if state.exists else (0, "genesis")
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.dropna(subset=["ts_us"])
            batch = batch.sort_values(["ts_us", "event_id"])
            for eid in batch["event_id"]:
                h = hashlib.md5(f"{h}:{int(eid)}".encode()).hexdigest()
                n += 1
        state.update((n, h))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "final_hash": [h],
            }
        )

    keyed = events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, final_hash string",
        stateStructType="n long, h string",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_geo_fence(events: DataFrame) -> DataFrame:
    """STREAMING geofence transition detector — the live twin of
    queries/geo.py:geo_fence_transitions: per-user state is the
    last seen tile (md5-derived daily 16x16 tile, the identical
    portable derivation the batch twin and its oracle share); each
    micro-batch walks its rows in (ts_us, event_id) order and emits
    one APPEND row per tile change (enter/exit alert), so the union
    of all batch outputs equals the batch lag()-based replay over the
    same rows.  State is two ints per user — bounded regardless of
    history length.  Same event-time-ordered arrival contract as the
    other stateful operators here."""
    import hashlib

    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    day_us = 86_400_000_000

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def update(key, pdfs, state):
        last_tile, rows = state.get if state.exists else (-1, 0)
        uid = int(key[0])
        out_eid, out_ts, out_from, out_to = [], [], [], []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            batch = batch.sort_values(["ts_us", "event_id"])
            for eid, ts_us in zip(batch["event_id"], batch["ts_us"]):
                day = int(ts_us) // day_us
                k = f"{uid}:{day}"
                tile = (h60(f"tx:{k}") % 16) * 16 + h60(f"ty:{k}") % 16
                rows += 1
                if last_tile >= 0 and tile != last_tile:
                    out_eid.append(int(eid))
                    out_ts.append(int(ts_us))
                    out_from.append(last_tile)
                    out_to.append(tile)
                last_tile = tile
        state.update((last_tile, rows))
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(out_eid),
                "event_id": out_eid,
                "ts_us": out_ts,
                "from_tile": pd.array(out_from, dtype="int32"),
                "to_tile": pd.array(out_to, dtype="int32"),
            }
        )

    keyed = events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, event_id long, ts_us long, "
            "from_tile int, to_tile int"
        ),
        stateStructType="last_tile long, rows long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stateful_priority_sample(events: DataFrame, k_per_shard: int) -> DataFrame:
    """STREAMING priority sampling (Duffield-Lund-Thorup) — the live
    twin of queries/stream_batch.py:sample_priority_weighted, sharded so
    the heap state parallelizes: each of 8 md5-independent shards
    (event_id % 8) keeps its top-(k+1) priorities (w/u with the
    portable md5 uniform) in state — BOUNDED at k+1 triples per shard
    no matter the stream length — and emits an UPDATE snapshot of its
    retained set as arrays.  Priority sampling is MERGEABLE: the
    caller unions the latest shard snapshots, re-ranks, and re-takes
    top-(k+1), which equals the batch answer over the same rows (the
    property the shared oracle checks).  Same event-time contract as
    the other stateful operators."""
    import hashlib

    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)

    def update(key, pdfs, state):
        if state.exists:
            ids, ws, prios, rows = state.get
            ids, ws, prios = list(ids), list(ws), list(prios)
        else:
            ids, ws, prios, rows = [], [], [], 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            for eid, w in zip(batch["event_id"], batch["w_cents"]):
                u = (
                    int(
                        hashlib.md5(f"pri:{int(eid)}".encode()).hexdigest()[
                            :15
                        ],
                        16,
                    )
                    + 1
                )
                prios.append(float(w) * 1152921504606846976.0 / u)
                ids.append(int(eid))
                ws.append(int(w))
                rows += 1
            order = sorted(
                range(len(ids)), key=lambda i: (-prios[i], ids[i])
            )[: k_per_shard + 1]
            ids = [ids[i] for i in order]
            ws = [ws[i] for i in order]
            prios = [prios[i] for i in order]
        state.update((ids, ws, prios, rows))
        yield pd.DataFrame(
            {
                "shard": [int(key[0])],
                "rows_seen": [rows],
                "ids": [ids],
                "ws": [ws],
                "prios": [prios],
            }
        )

    keyed = events.filter(F.col("ts").isNotNull()).select(
        F.pmod(F.col("event_id"), F.lit(8)).alias("shard"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("w_cents"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            "shard long, rows_seen long, ids array<long>, "
            "ws array<long>, prios array<double>"
        ),
        stateStructType=(
            "ids array<long>, ws array<long>, prios array<double>, "
            "rows long"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )
