"""Streaming-operator queries.

The windowed aggregations run in BATCH mode here (same expressions
the streaming pipelines use — batch/stream duality is Structured
Streaming's core contract) so DuckDB can oracle them exactly:
tumbling = date_trunc, sliding = the two slide-offset buckets,
session = gaps-and-islands.  The genuinely-streaming runs (memory
sink, watermarks, streaming dedup) are rows-only entries driven by
availableNow triggers; tests assert batch-equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.exact import cents
from ctgov_ai_etl_spark.operators.sketches import portable_hash60
from ctgov_ai_etl_spark.queries import semantic  # noqa: F401  (registers twins)
from ctgov_ai_etl_spark.queries.registry import REGISTRY as _REG
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table, stream_table


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS w_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — identical expression in
    batch and streaming (streaming adds only the watermark)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents).cast("double") / 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle="""
    SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - k * 1800) AS BIGINT) * 1000000) AS w_start,
           make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - k * 1800 + 3600) AS BIGINT) * 1000000) AS w_end,
           CAST(count(*) AS BIGINT) AS n
    FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(k)
    GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h wide, 30 min slide): every event lands in
    exactly 2 windows. Spark's window() aligns starts to epoch
    multiples of the slide — the oracle reproduces that alignment."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 1 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 1 HOUR AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, island
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (1-hour gap) per user via the native
    session_window operator; the oracle derives the same sessions with
    gaps-and-islands SQL (lag + running sum). Spark defines session
    end = last event + gap — mirrored in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "1 hour").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_run_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS w_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_run_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming run: file micro-batch source →
    watermark → tumbling count → memory sink (availableNow, complete
    mode).  Hash-checked: the finite single-file source yields one
    micro-batch, so the watermark drops nothing and the complete-mode
    result equals the batch window aggregation the oracle computes."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        tumbling_counts,
    )

    stream = tumbling_counts(stream_table(spark, sf_dir, "events"))
    return run_stream_to_memory(stream, mode="complete")


@query(
    "stream_run_sliding_window",
    oracle="""
    SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - k * 1800) AS BIGINT) * 1000000) AS w_start,
           make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - k * 1800 + 3600) AS BIGINT) * 1000000) AS w_end,
           CAST(count(*) AS BIGINT) AS n
    FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(k)
    GROUP BY 1, 2
    """,
)
def stream_run_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming sliding-window aggregation (1 h wide, 30 min
    slide): file micro-batch source → watermark → window(w, slide) →
    complete-mode memory sink.  Every event lands in exactly two
    windows; the oracle reproduces Spark's epoch-aligned window starts
    with the two slide-offset buckets.  Closes the last windowed-agg
    row that ran through readStream only in tumbling/session form."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n",
        )
    )
    return run_stream_to_memory(agg, mode="complete")


@query(
    "stream_run_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 1 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 1 HOUR AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, island
    """,
)
def stream_run_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming sessionization: file micro-batch source →
    watermark → native session_window aggregation → memory sink
    (availableNow, complete mode).  The streaming engine's
    merging-session state store computes the same sessions the batch
    gaps-and-islands oracle derives with lag + running sum (Spark
    defines session end = last event + gap; mirrored in the oracle).
    Hash-checked: the finite single-file source is one micro-batch, so
    no session is split across watermark evictions and complete mode
    emits every finalized session."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory, session_counts

    stream = session_counts(stream_table(spark, sf_dir, "events"))
    return run_stream_to_memory(stream, mode="complete")


@query(
    "stream_run_static_join",
    oracle="""
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_run_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL stream-static join: the event micro-batch stream enriched
    against the static customer dimension (broadcast per micro-batch —
    the standard streaming-enrichment shape; the dimension is re-read
    each batch so slowly-changing dims stay fresh), then a streaming
    count by segment. Complete-mode memory sink equals the batch
    join+agg the oracle computes."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import load_table as _lt

    ev = stream_table(spark, sf_dir, "events")
    cust = F.broadcast(_lt(spark, sf_dir, "customer"))
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n_events"))
    return run_stream_to_memory(agg, mode="complete")


@query(
    "stream_run_stateful",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(max(value), 6) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_run_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL stateful streaming: applyInPandasWithState per-user
    running (count, max) — custom state logic the declarative agg
    can't express.  Hash-checked: the final state of the finite stream
    equals the batch groupBy answer the oracle computes (rounding done
    Spark-side with F.round, never Python round)."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_user_stats,
    )

    stream = stateful_user_stats(stream_table(spark, sf_dir, "events"))
    out = run_stream_to_memory(stream, mode="update")
    # update-mode emits one row per key per batch; keep the final state
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("max_value", F.round("max_value", 6))
    )


@query(
    "stream_run_upsert",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           round(value, 6) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def stream_run_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming MERGE sink (new r4): the events table re-sharded
    into 4 files streams as 4 micro-batches, each foreachBatch-merged
    into a parquet snapshot with version-conflict resolution on
    (ts, event_id) — per-user LATEST event state, the streaming-CDC
    upsert every lakehouse table maintains.  Hash-checked: conflict
    resolution makes the final snapshot independent of micro-batch
    arrival order, so it equals the batch window-top-1 the oracle
    computes."""
    from ctgov_ai_etl_spark.streaming.events import stream_upsert_snapshot

    snap = stream_upsert_snapshot(spark, sf_dir)
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 6).alias("last_value"),
    )


@query(
    "stream_run_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_run_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) — output restricted to the key columns so
    the result is survivor-independent.  Hash-checked: one micro-batch
    means no watermark eviction, so the append-mode output is exactly
    the distinct key set."""
    from ctgov_ai_etl_spark.streaming.events import (
        dedup_within_watermark,
        run_stream_to_memory,
    )

    stream = dedup_within_watermark(stream_table(spark, sf_dir, "events"))
    return run_stream_to_memory(stream, mode="append")


@query(
    "stream_run_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS us_to_purchase
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_run_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL stream-stream inner join: click events joined to the
    purchase events of the same user within [ts, ts + 30 min] — the
    attribution-window shape.  Both sides carry watermarks (1 h) so
    the join state is evictable: at scale the state store holds only
    one watermark-plus-range window of each stream, not history.
    Inner-join matches emit as they arrive, so the append-mode result
    of the finite single-batch source equals the batch range self-join
    the oracle replays (time delta in exact integer micros)."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    clicks = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = run_stream_to_memory(joined, mode="append")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).cast("long").alias(
            "us_to_purchase"
        ),
    )


@query(
    "stream_run_semantic_admission",
    # Identical result contract to the batch twin, so it shares that oracle.
    oracle=_REG["dedup_semantic_incremental"].oracle,
)
def stream_run_semantic_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming semantic admission: the embedding corpus
    streams in micro-batches and every batch row is checked against
    the STATIC deduped store inside the stream plan — map-side
    centroid assignment on the stream, a stream-static equi-join on
    cluster id (the store's (id, cid, vec, norm) table broadcasts;
    at 100 TB it would sit partitioned by cid and the join stays
    keyed), exact-cosine verify, and a stateful min-struct aggregate
    that reduces each incoming vector's matches to the deterministic
    min-id dup target.  Complete-mode memory sink: on the finite
    single-batch source the result equals the batch twin
    ``dedup_semantic_incremental`` — which is exactly what the shared
    oracle replays (same rule as the other stream_run twins)."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import load_table as _lt

    e = _lt(spark, sf_dir, "embeddings")
    existing = e.filter(hash_bucket(F.col("vec_id")) < 8000)
    incoming = stream_table(spark, sf_dir, "embeddings").filter(
        hash_bucket(F.col("vec_id")) >= 8000
    )
    dups = semantic_admission_plan(existing, incoming, threshold=0.3)
    return run_stream_to_memory(dups, mode="complete")


def semantic_admission_plan(
    existing: DataFrame, incoming: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """The admission plan shared by the registered stream query and
    the multi-micro-batch test: static store (assignment + vectors +
    norms, one broadcastable table) probed by the (possibly
    streaming) incoming side on cluster id, exact-cosine verify, and
    the per-vector min-struct dup target — an aggregation whose
    complete-mode state correctly merges matches arriving in
    DIFFERENT micro-batches (struct-min is commutative/associative,
    which is why the operator is multi-batch-safe by construction)."""
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism
    from ctgov_ai_etl_spark.operators.similarity import _assign_frame, dot
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS

    # Spread both assignment folds: the static store is a batch frame
    # (same single-row-group issue as everywhere); the STREAM side gets
    # an explicit micro-batch repartition — a one-file source plans one
    # partition, which would run the whole per-batch argmax on one core.
    existing = spread_to_parallelism(existing)
    incoming = incoming.repartition(
        existing.sparkSession.sparkContext.defaultParallelism
    )
    store = (
        _assign_frame(existing, _BLOCK_CENTROIDS, "vec_id", "embedding", 6)
        .select(
            F.col("id").alias("eid"),
            (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
            .cast("int")
            .alias("cid"),
            F.col("__v").alias("ve"),
            F.col("__nv").alias("ne"),
        )
    )
    stream_asg = _assign_frame(
        incoming, _BLOCK_CENTROIDS, "vec_id", "embedding", 6
    ).select(
        F.col("id").alias("iid"),
        (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
        .cast("int")
        .alias("cid"),
        F.col("__v").alias("vi"),
        F.col("__nv").alias("ni"),
    )
    sim = F.round(
        dot(F.col("vi"), F.col("ve")) / (F.col("ni") * F.col("ne")), 6
    )
    hits = (
        stream_asg.join(F.broadcast(store), "cid")
        .select("iid", "eid", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    return (
        hits.groupBy("iid")
        .agg(F.min(F.struct("eid", "cos_sim")).alias("m"))
        .select(
            F.col("iid").alias("vec_id"),
            F.col("m.eid").alias("dup_of"),
            F.col("m.cos_sim").alias("cos_sim"),
        )
    )



@query(
    "stream_run_quality_filter",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    f AS (
      SELECT doc_id,
             list_concat(
               l,
               list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])
             ) AS feats
      FROM t
    ),
    s AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(feats,
               x -> CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT) % 2000001
                    - 1000000)) AS BIGINT) AS logit_micro
      FROM f
    )
    SELECT doc_id, logit_micro FROM s WHERE logit_micro >= 0
    """,
)
def stream_run_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming quality filtering: the zero-shuffle linear
    classifier (operators/quality.py:linear_quality_score) runs
    INSIDE a stream plan — per-row codegen'd feature fold + keep
    threshold, so the filter processes micro-batches at source speed
    with no state, no watermark, no aggregation (the stateless-map
    streaming tier; append mode emits rows as they pass).  The
    finite-source result equals the batch filter, which the oracle
    replays."""
    from ctgov_ai_etl_spark.operators.quality import linear_quality_score
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    stream = stream_table(spark, sf_dir, "documents")
    scored = linear_quality_score(stream).filter(F.col("keep")).select(
        "doc_id", "logit_micro"
    )
    return run_stream_to_memory(scored, mode="append")


@query(
    "stream_run_cms_sketch",
    oracle="""
    WITH occ AS (
      SELECT CAST(user_id AS VARCHAR) AS item FROM events
    ),
    seeds AS (SELECT unnest(range(0, 3)) AS seed)
    SELECT s.seed,
           CAST(CAST(('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':'
                                        || o.item), 1, 15)) AS BIGINT)
                % 16 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM occ o, seeds s
    GROUP BY 1, 2
    """,
)
def stream_run_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min sketch build: the same cms_build dataflow
    (operators/sketches.py) running as a genuine micro-batch streaming
    aggregation over the event stream — explode by depth, grouped
    count on (seed, bucket), complete-mode memory sink.  The sketch
    state is depth x width counters REGARDLESS of stream length —
    the canonical bounded-state streaming summary (per-window sketch
    snapshots merge by cell-wise sum downstream).  Oracle: the batch
    cells computed in SQL over the same rows — streaming-equals-batch
    for an additive aggregate."""
    from ctgov_ai_etl_spark.operators.sketches import cms_build
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    stream = stream_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("item")
    )
    sketch = cms_build(stream, "item", depth=3, width=16)
    return run_stream_to_memory(sketch, mode="complete")


@query(
    "stream_run_interval_join",
    oracle="""
    SELECT i.event_id AS incident_id,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts
    FROM (SELECT event_id, ts AS lo, ts + INTERVAL 10 MINUTE AS hi
          FROM events WHERE event_type = 'error') i
    JOIN (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
      ON p.ts >= i.lo AND p.ts < i.hi
    """,
)
def stream_run_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING interval join: the bin-banding rewrite
    (operators/intervals.py) running as a stream-static join — the
    purchase stream carries its time bin, the static incident-window
    side is pre-exploded into covered bins, and the join is the same
    equi-join-on-bin + exact-residual shape the batch twin
    (join_interval_binned) plans.  This is the form a 100 TB
    deployment actually runs (alerts enriched against incident
    windows as events arrive): stream-static equi joins are
    stateless per micro-batch — no watermark state, the static side
    broadcast/shuffle-reused across batches — whereas the naive
    theta join is unplannable for a stream.  Oracle: the batch naive
    theta join over the same rows."""
    from ctgov_ai_etl_spark.operators.intervals import interval_point_join
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    static = load_table(spark, sf_dir, "events")
    intervals = static.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    points = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = interval_point_join(
        points, intervals, "purchase_ts", "lo", "hi", bin_seconds=600
    ).select("incident_id", "purchase_id", "purchase_ts")
    return run_stream_to_memory(joined, mode="append")


@query(
    "stream_run_capped_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) > epoch_us(lag(ts) OVER w) + 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS INT) AS session_id
      FROM marked
    )
    SELECT user_id, event_id, session_id,
           CAST((epoch_us(ts)
                 - min(epoch_us(ts)) OVER (PARTITION BY user_id, session_id))
                // 3600000000 AS INT) AS subsession_id
    FROM sess
    """,
)
def stream_run_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING gap+cap sessionization: file micro-batch
    source → custom stateful per-key processor
    (streaming/events.py:stateful_capped_sessions) → memory sink.
    The duration cap is the semantics native session_window cannot
    express — this is the applyInPandasWithState escape hatch doing
    the job it exists for, with three integers of state per user
    carried across micro-batches.  Oracle: the batch gaps-and-islands
    + cap-slice replay (same SQL family as ts_sessionize_capped);
    exact because event arithmetic is int64 micros on both sides and
    the finite source replays in event-time order."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_capped_sessions,
    )

    stream = stateful_capped_sessions(
        stream_table(spark, sf_dir, "events"), gap_seconds=1800, cap_seconds=3600
    )
    return run_stream_to_memory(stream, mode="update")


from ctgov_ai_etl_spark.operators.balance import balance_oracle_sql as _balance_oracle


@query("stream_run_running_balance", oracle=_balance_oracle(2500))
def stream_run_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING clamped running balance: file micro-batch
    source → custom stateful per-key scan
    (operators/balance.py:stateful_balance, applyInPandasWithState,
    ONE int64 of state per user) → memory sink.  The third physical
    strategy for the same logical operator as ts_clamped_cumsum /
    ts_clamped_cumsum_chunked — batch Python scan, batch JVM monoid
    scan, and streaming stateful scan all hash-check against the one
    recursive-CTE oracle."""
    from ctgov_ai_etl_spark.operators.balance import stateful_balance
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    stream = stateful_balance(
        stream_table(spark, sf_dir, "events"), cap_cents=2500
    )
    return run_stream_to_memory(stream, mode="update")


@query(
    "stream_run_attribution",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, event_id,
           coalesce(touch, 'none') AS touch_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM t WHERE event_type = 'purchase'
    """,
)
def stream_run_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING last-touch attribution: file micro-batch
    source → stateful per-user touch memory (one string of state,
    streaming/events.py:stateful_attribution) → memory sink.  The
    row-level twin of the attribution_last_touch batch rollup; oracle
    is the batch ignorenulls-window replay."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_attribution,
    )

    stream = stateful_attribution(stream_table(spark, sf_dir, "events"))
    return run_stream_to_memory(stream, mode="update")


@query(
    "stream_run_ohlc",
    oracle="""
    SELECT user_id,
           make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS w_start,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(min({'t': epoch_us(ts), 'i': event_id,
                           'x': CAST(round(value * 100) AS BIGINT)}).x
                      AS DOUBLE) / 100, 2) AS open,
           round(CAST(max(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
             AS high,
           round(CAST(min(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
             AS low,
           round(CAST(max({'t': epoch_us(ts), 'i': event_id,
                           'x': CAST(round(value * 100) AS BIGINT)}).x
                      AS DOUBLE) / 100, 2) AS close
    FROM events WHERE ts IS NOT NULL
    GROUP BY user_id, w_start
    """,
)
def stream_run_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING OHLC bars: the argmin-by-struct-aggregation
    trick (ts_downsample_ohlc) run as a genuine tumbling-window
    streaming aggregation — open/close need no per-window sort or
    custom state because min/max over (ts, id, value) structs ARE the
    order statistics, and struct min/max merge incrementally across
    micro-batches like any aggregate.  Complete-mode memory sink over
    the finite source; oracle is the batch bucket rollup."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ts_us = F.unix_micros(F.col("ts"))
    xc = F.round(F.col("value") * 100).cast("long")
    keyed = ev.select(
        "user_id",
        F.col("ts"),
        ts_us.alias("t"),
        F.col("event_id").alias("i"),
        xc.alias("x"),
    )
    first_s = F.min(F.struct("t", "i", "x"))
    last_s = F.max(F.struct("t", "i", "x"))
    agg = (
        keyed.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(first_s.getField("x").cast("double") / 100, 2).alias("open"),
            F.round(F.max("x").cast("double") / 100, 2).alias("high"),
            F.round(F.min("x").cast("double") / 100, 2).alias("low"),
            F.round(last_s.getField("x").cast("double") / 100, 2).alias("close"),
        )
        .select(
            "user_id", F.col("w.start").alias("w_start"),
            "n", "open", "high", "low", "close",
        )
    )
    return run_stream_to_memory(agg, mode="complete")


@query(
    "stream_run_topk_window",
    oracle="""
    WITH ranked AS (
      SELECT date_trunc('hour', ts) AS w_start, event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS value_cents,
             row_number() OVER (
               PARTITION BY date_trunc('hour', ts), event_type
               ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                        event_id DESC) AS rn
      FROM events WHERE ts IS NOT NULL
    )
    SELECT w_start, event_type, CAST(rn AS INT) AS rank,
           event_id, value_cents
    FROM ranked WHERE rn <= 3
    """,
)
def stream_run_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING per-window leaderboard: top-3 events by value
    per (hour, type), as a genuine streaming aggregation — the top-k
    state is a sorted-struct array built by collect_list + sort +
    slice in the projection AFTER the agg, so the windowed aggregate
    itself merges incrementally across micro-batches and the k-limit
    math never needs a rank window (rank windows don't stream).
    Complete-mode memory sink; oracle is the batch rank replay with
    the same (value, event_id) descending tie order."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    xc = F.round(F.col("value") * 100).cast("long")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.collect_list(F.struct(xc.alias("v"), "event_id")).alias("all"))
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            F.posexplode(
                F.slice(F.reverse(F.array_sort("all")), 1, 3)
            ).alias("rank0", "e"),
        )
        .select(
            "w_start",
            "event_type",
            (F.col("rank0") + 1).cast("int").alias("rank"),
            F.col("e.event_id").alias("event_id"),
            F.col("e.v").alias("value_cents"),
        )
    )
    return run_stream_to_memory(agg, mode="complete")


from ctgov_ai_etl_spark.queries.product import (  # noqa: E402
    _CONV_SQL as _FUNNEL_CONV_SQL,
    _FUNNEL_ORACLE_TMPL,
    _US_PER_DAY as _FUNNEL_DAY_US,
)


@query(
    "stream_run_funnel",
    oracle=_FUNNEL_ORACLE_TMPL.format(
        bound2=f"AND epoch_us(e.ts) <= s1.t1 + {7 * 86_400_000_000}",
        bound3=f"AND epoch_us(e.ts) <= s2.t2 + {7 * 86_400_000_000}",
        conv=_FUNNEL_CONV_SQL,
    ),
)
def stream_run_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING funnel: file micro-batch source → stateful
    per-user greedy chain (streaming/events.py:stateful_funnel,
    applyInPandasWithState, one int64 of state per step) → memory
    sink, then a tiny batch rollup of per-user progress into step
    counts (explode(sequence(1, reached)) makes the counts cumulative
    without a self-join).  Oracle: the batch funnel_within_window SQL
    — the streaming in-order scan's 'first qualifying event' equals
    the batch chained-min, so the two strategies hash-check against
    the same contract.  7-day step bound, exact int64 micros."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_funnel,
    )

    stream = stateful_funnel(
        stream_table(spark, sf_dir, "events"), bound_us=7 * _FUNNEL_DAY_US
    )
    per_user = run_stream_to_memory(stream, mode="update")
    final = per_user.groupBy("user_id").agg(
        F.max("step_reached").alias("reached")
    )
    reached_counts = (
        final.filter(F.col("reached") >= 1)
        .select(
            F.explode(F.sequence(F.lit(1), F.col("reached"))).alias("step")
        )
        .groupBy("step")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    # A step no user reaches produces no exploded row, but the batch
    # twin's oracle always emits all 3 steps (count over an empty
    # step CTE = 0) — left-join a static 3-row spine so the row
    # shapes agree on sparse fixtures too.
    spine = spark.range(1, 4).select(F.col("id").cast("int").alias("step"))
    counts = spine.join(reached_counts, "step", "left").select(
        "step", F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users")
    )
    from pyspark.sql import Window as W

    names = F.create_map(
        F.lit(1), F.lit("view"), F.lit(2), F.lit("click"),
        F.lit(3), F.lit("purchase"),
    )
    w = W.orderBy("step").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    top = F.first("n_users").over(w)
    from ctgov_ai_etl_spark.functions.exact import fdiv

    return counts.select(
        F.col("step").cast("int").alias("step"),
        F.element_at(names, F.col("step")).alias("step_name"),
        "n_users",
        fdiv(F.col("n_users") * 1_000_000, F.greatest(top, F.lit(1))).alias(
            "conv_ppm"
        ),
    )


from ctgov_ai_etl_spark.queries.product import (  # noqa: E402
    _TB_CAP,
    _TB_COST,
    _TB_REFILL,
)
from ctgov_ai_etl_spark.operators.balance import (  # noqa: E402
    token_bucket_oracle_sql as _tb_oracle,
)


@query(
    "stream_run_rate_limit",
    oracle=_tb_oracle(_TB_CAP, _TB_REFILL, _TB_COST),
)
def stream_run_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING token-bucket rate limiter: file micro-batch
    source → stateful per-user bucket
    (streaming/events.py:stateful_rate_limiter, applyInPandasWithState,
    TWO int64s of state per user: tokens + last event time) → memory
    sink.  The deployable form of ops_rate_limit — same recurrence,
    same recursive-CTE oracle, state carried across micro-batches
    instead of a per-key batch scan.  Completes the batch/streaming
    twin set alongside balance and capped sessions."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_rate_limiter,
    )

    stream = stateful_rate_limiter(
        stream_table(spark, sf_dir, "events"), _TB_CAP, _TB_REFILL, _TB_COST
    )
    return run_stream_to_memory(stream, mode="update")


from ctgov_ai_etl_spark.queries.product import (  # noqa: E402
    _SPRT_BOUND,
    _SPRT_C0,
    _SPRT_C1,
)


@query(
    "stream_run_sprt",
    oracle=f"""
    WITH walk AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch_us(ts), event_id) AS rn,
             sum(CASE WHEN CAST(round(value * 100) AS BIGINT) > 5000
                      THEN {_SPRT_C1} ELSE {_SPRT_C0} END)
               OVER (PARTITION BY event_type
                     ORDER BY epoch_us(ts), event_id
                     ROWS UNBOUNDED PRECEDING) AS llr
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    crossing AS (
      SELECT event_type,
             min({{'r': rn, 'l': llr}}) AS hit
      FROM walk
      WHERE llr >= {_SPRT_BOUND} OR llr <= -{_SPRT_BOUND}
      GROUP BY event_type
    ),
    final AS (
      SELECT event_type,
             max({{'r': rn, 'l': llr}}) AS fin
      FROM walk GROUP BY event_type
    )
    SELECT f.event_type,
           CASE WHEN c.hit IS NULL THEN 'continue'
                WHEN c.hit.l >= {_SPRT_BOUND} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           CAST(coalesce(c.hit.r, f.fin.r) AS BIGINT) AS n_at_decision,
           CAST(coalesce(c.hit.l, f.fin.l) AS BIGINT) AS llr_micro
    FROM final f LEFT JOIN crossing c ON f.event_type = c.event_type
    """,
)
def stream_run_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING Wald SPRT: file micro-batch source → stateful
    per-event-type LLR walk (streaming/events.py:stateful_sprt, five
    integers of state, first crossing frozen) → memory sink in update
    mode → latest-snapshot reduce (max on the monotone rows_seen).
    The streaming twin of stat_sprt: both hash-check against the one
    batch windowed-walk oracle — early-stopping decisions computed on
    live traffic equal the offline replay."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory, stateful_sprt

    stream = stateful_sprt(
        stream_table(spark, sf_dir, "events"),
        c1=_SPRT_C1,
        c0=_SPRT_C0,
        bound=_SPRT_BOUND,
    )
    snapshots = run_stream_to_memory(stream, mode="update")
    latest = snapshots.groupBy("event_type").agg(
        F.max(
            F.struct("rows_seen", "decided", "dec_r", "dec_l", "llr_now")
        ).alias("s")
    )
    return latest.select(
        "event_type",
        F.when(F.col("s.decided") == 0, F.lit("continue"))
        .when(F.col("s.dec_l") >= _SPRT_BOUND, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.when(F.col("s.decided") == 1, F.col("s.dec_r"))
        .otherwise(F.col("s.rows_seen"))
        .cast("long")
        .alias("n_at_decision"),
        F.when(F.col("s.decided") == 1, F.col("s.dec_l"))
        .otherwise(F.col("s.llr_now"))
        .cast("long")
        .alias("llr_micro"),
    )


@query(
    "stream_run_bitmap_days",
    oracle="""
    WITH d0 AS (
      SELECT user_id,
             CAST((epoch_us(ts) - ((epoch_us(ts) % 86400000000
                    + 86400000000) % 86400000000)) // 86400000000
                  AS BIGINT) - 19723 AS off
      FROM events
      WHERE ts IS NOT NULL
    ),
    d AS (SELECT * FROM d0 WHERE off BETWEEN 0 AND 63)
    SELECT user_id,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)) AS BIGINT)
             AS day_bitmap,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)))
                AS INT) AS n_active_days
    FROM d
    GROUP BY user_id
    """,
)
def stream_run_bitmap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-day bitmaps: the same int64 bit_or fold as
    agg_bitmap_distinct_days running as a genuine micro-batch
    streaming aggregation — ONE integer of state per user regardless
    of stream length, merged across micro-batches by OR (the
    mergeable-summary property, same as the streaming CMS).
    Complete-mode memory sink; oracle is the batch fold over the same
    rows — streaming-equals-batch for an idempotent monoid.  The
    bitmap-window membership (off in 0..63) is an explicit filter on
    both engines: Spark's shiftleft wraps out-of-range shifts mod 64
    while DuckDB's << does not."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.functions.exact import fdiv

    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    off = (fdiv(F.unix_micros("ts"), 86_400_000_000) - 19_723).cast("int")
    d = ev.select("user_id", off.alias("off")).filter(
        F.col("off").between(0, 63)
    )
    bitmap = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), off)"))
    agg = d.groupBy("user_id").agg(
        bitmap.cast("long").alias("day_bitmap"),
        F.bit_count(bitmap).cast("int").alias("n_active_days"),
    )
    return run_stream_to_memory(agg, mode="complete")


@query(
    "stream_run_burn_rate",
    oracle="""
    WITH hours AS (
      SELECT (epoch_us(ts) // 3600000000) AS hr,
             CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errors
      FROM events
      WHERE ts IS NOT NULL
      GROUP BY hr
    ),
    rolled AS (
      SELECT hr, total, errors,
             sum(errors) OVER (ORDER BY hr
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS err_s,
             sum(total) OVER (ORDER BY hr
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS tot_s,
             sum(errors) OVER (ORDER BY hr
                               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
               AS err_l,
             sum(total) OVER (ORDER BY hr
                              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
               AS tot_l
      FROM hours
    )
    SELECT CAST(hr AS BIGINT) AS hr,
           CAST(err_s AS BIGINT) AS err_short,
           CAST(tot_s AS BIGINT) AS tot_short,
           CAST(err_l AS BIGINT) AS err_long,
           CAST(tot_l AS BIGINT) AS tot_long
    FROM rolled
    WHERE err_s * 5 > tot_s AND err_l * 5 > tot_l
    """,
)
def stream_run_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multi-window burn-rate: the data-scale pass (raw
    events → per-hour error/total counts) runs as a genuine
    micro-batch streaming aggregation with complete-mode state —
    hour-bucket counters merge additively across batches, the same
    bounded-state contract as the streaming CMS — and the rolling
    3h/12h alert windows evaluate batch-side over the calendar-
    bounded hour spine the sink materializes.  Oracle: the batch
    ops_burn_rate replay — streaming-equals-batch because hour
    counters are an additive monoid and the alert is a pure function
    of the final spine."""
    from ctgov_ai_etl_spark.functions.exact import fdiv
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hours = ev.groupBy(
        fdiv(F.unix_micros("ts"), 3_600_000_000).alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("errors"),
    )
    spine = run_stream_to_memory(hours, mode="complete")
    from pyspark.sql import Window as W

    ws = W.orderBy("hr").rowsBetween(-2, 0)
    wl = W.orderBy("hr").rowsBetween(-11, 0)
    rolled = spine.select(
        "hr",
        F.sum("errors").over(ws).alias("err_s"),
        F.sum("total").over(ws).alias("tot_s"),
        F.sum("errors").over(wl).alias("err_l"),
        F.sum("total").over(wl).alias("tot_l"),
    )
    return rolled.filter(
        (F.col("err_s") * 5 > F.col("tot_s"))
        & (F.col("err_l") * 5 > F.col("tot_l"))
    ).select(
        F.col("hr").cast("long").alias("hr"),
        F.col("err_s").cast("long").alias("err_short"),
        F.col("tot_s").cast("long").alias("tot_short"),
        F.col("err_l").cast("long").alias("err_long"),
        F.col("tot_l").cast("long").alias("tot_long"),
    )


@query(
    "stream_run_audit_chain",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    rec AS (
      SELECT user_id, rn,
             md5('genesis:' || CAST(event_id AS VARCHAR)) AS chain
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             md5(r.chain || ':' || CAST(e.event_id AS VARCHAR))
      FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(max(rn) AS BIGINT) AS n_events,
           max({'r': rn, 'c': chain}).c AS final_hash
    FROM rec
    GROUP BY user_id
    """,
)
def stream_run_audit_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING audit hash chain: file micro-batch source →
    stateful per-user md5 fold (streaming/events.py:
    stateful_audit_chain, one digest + one counter of state) →
    update-mode memory sink → latest-snapshot reduce.  The streaming
    twin of gov_audit_chain; both hash-check against the one
    recursive-CTE oracle — live tamper detection equals the batch
    recompute."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_audit_chain,
    )

    snaps = run_stream_to_memory(
        stateful_audit_chain(stream_table(spark, sf_dir, "events")),
        mode="update",
    )
    latest = snaps.groupBy("user_id").agg(
        F.max(F.struct("n_events", "final_hash")).alias("s")
    )
    return latest.select(
        "user_id",
        F.col("s.n_events").cast("long").alias("n_events"),
        F.col("s.final_hash").alias("final_hash"),
    )


@query(
    "stream_run_stream_join_outer",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS us_to_purchase
    FROM (SELECT * FROM events
          WHERE event_type = 'click' AND ts IS NOT NULL) a
    LEFT JOIN (SELECT * FROM events
               WHERE event_type = 'purchase' AND ts IS NOT NULL) b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_run_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL stream-stream LEFT OUTER join — the hard half of the
    streaming-join surface: unmatched clicks can only emit their
    null-extended row once the watermark proves no in-window purchase
    can still arrive, so correctness depends on watermark-driven
    state closure, not on match arrival.  A finite availableNow
    stream never advances the watermark past its own tail, which
    would withhold every late-window click forever; the fixture
    therefore stages the events as batch 1 and appends two FAR-FUTURE
    sentinel micro-batches (one click + one purchase each, negative
    ids, filtered from the result) — sentinel batch N advances the
    min-of-both-sides watermark that batch N+1 uses to flush closed
    state.  Oracle: the plain batch LEFT range-join, valid because
    the sentinels close every real window."""
    import os
    import shutil

    from ctgov_ai_etl_spark.operators import cache
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    stage = cache.scratch_dir("ssjo_")
    try:
        b1 = os.path.join(stage, "batch1")
        # ONE file → ONE trigger for the whole real-event slice.  With
        # the default multi-file write, maxFilesPerTrigger=1 turned every
        # task's output file into its own micro-batch, and each extra
        # trigger re-paid the full state-store round-trip — 14 s of
        # harness cost at sf0.1 for evidence that three triggers (events,
        # sentinel 1, sentinel 2) already carry: the watermark closure
        # and the cross-batch null flush live in the sentinel triggers,
        # not in how many pieces batch 1 arrives.
        ev.coalesce(1).write.mode("overwrite").parquet(b1)
        max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
        for i, gap_h in enumerate((3, 6), start=1):
            # Build the 2-row sentinel JVM-side (range + literals):
            # a local-rows createDataFrame plan spins up a Python worker
            # per write job — ~5 s each, 10 s of pure harness cost at any
            # SF (measured r10; this was most of the query's 14 s bill).
            us = max_us + gap_h * 3_600_000_000
            sent = spark.range(2).select(
                (F.lit(-2 * i) - F.col("id")).cast("long").alias("event_id"),
                F.timestamp_micros(F.lit(us)).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.when(F.col("id") == 0, "click")
                .otherwise("purchase")
                .alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
            sent.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, f"sentinel{i}")
            )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(stage, "*"))
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND p_ts >= c_ts "
                "AND p_ts <= c_ts + INTERVAL 30 MINUTES"
            ),
            "left_outer",
        )
        out = run_stream_to_memory(joined, mode="append")
    finally:
        # The memory sink holds the result; the staged files are not
        # read again once the run has returned.
        shutil.rmtree(stage, ignore_errors=True)
    return out.filter(F.col("click_id") >= 0).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).cast("long").alias(
            "us_to_purchase"
        ),
    )


from ctgov_ai_etl_spark.queries.analytics import (  # noqa: E402
    ts_holt_linear as _batch_holt,
)


@query(
    "stream_run_holt",
    oracle=_REG["ts_holt_linear"].oracle,
)
def stream_run_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING Holt linear-trend smoother: file micro-batch
    source → stateful per-key daily fold
    (streaming/events.py:stateful_holt, applyInPandasWithState —
    state is the open day's counter plus the folded (level, trend)
    pair) → update-mode memory sink → latest-snapshot reduce on the
    monotone rows_seen.  The live forecasting twin of
    ts_holt_linear; both hash-check against the one recursive-CTE
    recurrence oracle — the forecast a dashboard serves mid-stream
    equals the offline batch replay over the same rows.  Completes
    the batch/streaming twin set alongside SPRT, audit chain,
    bitmap days, funnel, rate limit, and burn rate."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory, stateful_holt

    snaps = run_stream_to_memory(
        stateful_holt(stream_table(spark, sf_dir, "events")), mode="update"
    )
    latest = snaps.groupBy("event_type").agg(
        F.max(
            F.struct(
                "rows_seen",
                "n_days",
                "level_micro",
                "trend_micro",
                "forecast7_micro",
            )
        ).alias("s")
    )
    return latest.select(
        "event_type",
        F.col("s.n_days").cast("long").alias("n_days"),
        F.col("s.level_micro").cast("long").alias("level_micro"),
        F.col("s.trend_micro").cast("long").alias("trend_micro"),
        F.col("s.forecast7_micro").cast("long").alias("forecast7_micro"),
    )


@query(
    "stream_run_chi2_drift",
    oracle=_REG["stat_chi2_independence"].oracle,
)
def stream_run_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING chi-square drift monitor: the data-scale pass (raw
    events → event-type x day-of-week contingency counts) runs as a
    genuine micro-batch streaming aggregation with complete-mode
    state — cell counters merge additively across batches, the same
    bounded-state contract as the streaming CMS and burn-rate — and
    the chi-square statistic (exact integer o*n - r*c deviations,
    one shared double expression) evaluates over the |types| x 7
    snapshot the sink materializes.  The always-on version of
    stat_chi2_independence; both hash-check the same oracle."""
    from ctgov_ai_etl_spark.functions.exact import fdiv
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    obs_stream = ev.groupBy(
        "event_type",
        F.pmod(fdiv(F.unix_micros("ts"), 86_400_000_000), F.lit(7))
        .cast("long")
        .alias("dow"),
    ).agg(F.count("*").cast("long").alias("o"))
    obs = run_stream_to_memory(obs_stream, mode="complete")
    # margins as windows over the |types| x 7 snapshot — no
    # self-join of the memory-sink table (which trips attribute
    # conflicts).  BOUNDED GLOBAL WINDOW: the input is the
    # contingency snapshot, at most |event_types| x 7 rows (tens),
    # so Spark's "No Partition Defined" WARN on the partition-less
    # window is safe by construction — one tiny partition is the
    # point, not an accident.
    from pyspark.sql import Window as W2

    cells = obs.select(
        "o",
        F.sum("o")
        .over(W2.partitionBy("event_type"))
        .cast("long")
        .alias("r"),
        F.sum("o").over(W2.partitionBy("dow")).cast("long").alias("c"),
        F.sum("o").over(W2.partitionBy()).cast("long").alias("n"),
    ).select(
        "o",
        "r",
        "c",
        "n",
        (
            F.col("o").cast("decimal(38,0)") * F.col("n")
            - F.col("r").cast("decimal(38,0)") * F.col("c")
        ).alias("dev"),
    )
    chi2 = (
        F.sum(
            F.col("dev").cast("double")
            * F.col("dev").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n")
                * F.col("r")
                * F.col("c")
            )
        )
        * F.max("n")
    )
    return cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.max("n").cast("long").alias("n_obs"),
        F.round(chi2, 6).alias("chi2"),
    )


# ------------------------------------- priority (weighted) sampling


_PRIO_K = 100


@query(
    "sample_priority_weighted",
    oracle=f"""
    WITH w AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
             CAST(('0x' || substring(md5('pri:' ||
                     CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) + 1
               AS u
      FROM orders
    ),
    pri AS (
      SELECT o_orderkey, w_cents,
             CAST(w_cents AS DOUBLE) * 1152921504606846976.0 / u
               AS priority
      FROM w
    ),
    top AS (
      SELECT * FROM pri
      ORDER BY priority DESC, o_orderkey LIMIT {_PRIO_K + 1}
    ),
    tau AS (SELECT min(priority) AS tau FROM top),
    sel AS (
      SELECT * FROM top
      ORDER BY priority DESC, o_orderkey LIMIT {_PRIO_K}
    )
    SELECT s.o_orderkey, s.w_cents,
           CAST(floor(greatest(CAST(s.w_cents AS DOUBLE), t.tau))
                AS BIGINT) AS ht_cents
    FROM sel s CROSS JOIN tau t
    """,
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY SAMPLING (Duffield-Lund-Thorup): a weight-proportional
    sample without replacement with unbiased Horvitz-Thompson
    estimation — the 100-TB answer to 'keep {_PRIO_K} rows whose
    weights still sum like the full table': each row draws priority
    w/u from a deterministic md5 uniform (reproducible where rand()
    is not), the top-k survive, and each survivor's HT weight is
    max(w, tau) with tau the (k+1)-th priority — sums of HT weights
    are unbiased for any subset total.  The top-(k+1) is a
    TakeOrderedAndProject (per-partition heap + merge, NO global
    sort); priorities are one double expression with fixed operation
    order on both engines.  Mergeable across shards: union the
    per-shard top-(k+1)s and re-take."""
    o = load_table(spark, sf_dir, "orders")
    u = portable_hash60(F.col("o_orderkey"), salt="pri") + 1
    pri = o.select(
        "o_orderkey",
        cents("o_totalprice").alias("w_cents"),
        (
            cents("o_totalprice").cast("double")
            * F.lit(1152921504606846976.0)
            / u
        ).alias("priority"),
    )
    top = pri.orderBy(
        F.col("priority").desc(), F.col("o_orderkey")
    ).limit(_PRIO_K + 1)
    tau = top.agg(F.min("priority").alias("tau"))
    sel = top.orderBy(F.col("priority").desc(), F.col("o_orderkey")).limit(
        _PRIO_K
    )
    # floor to integer cents: rounding a ~1e9 double at 6 dp exceeds
    # the 15-16 significant digits a double carries, and the two
    # engines disagree in the last ulp of the FORMATTED value; floor
    # of the identical IEEE double is identical on both sides
    return sel.crossJoin(F.broadcast(tau)).select(
        "o_orderkey",
        "w_cents",
        F.floor(F.greatest(F.col("w_cents").cast("double"), F.col("tau")))
        .cast("long")
        .alias("ht_cents"),
    )


# ----------------------------------- streaming priority sampling


@query(
    "stream_run_priority_sample",
    oracle=f"""
    WITH w AS (
      SELECT event_id,
             CAST(round(value * 100) AS BIGINT) AS w_cents,
             CAST(('0x' || substring(md5('pri:' ||
                     CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1
               AS u
      FROM events WHERE ts IS NOT NULL
    ),
    pri AS (
      SELECT event_id, w_cents,
             CAST(w_cents AS DOUBLE) * 1152921504606846976.0 / u
               AS priority
      FROM w
    ),
    top AS (
      SELECT * FROM pri
      ORDER BY priority DESC, event_id LIMIT {_PRIO_K + 1}
    ),
    tau AS (SELECT min(priority) AS tau FROM top),
    sel AS (
      SELECT * FROM top
      ORDER BY priority DESC, event_id LIMIT {_PRIO_K}
    )
    SELECT s.event_id, s.w_cents,
           CAST(floor(greatest(CAST(s.w_cents AS DOUBLE), t.tau))
                AS BIGINT) AS ht_cents
    FROM sel s CROSS JOIN tau t
    """,
)
def stream_run_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING priority sampling: file micro-batch source →
    8-way SHARDED bounded-state heaps
    (streaming/events.py:stateful_priority_sample — top-(k+1) triples
    per shard, state bounded regardless of stream length) →
    update-mode snapshots → merge: union the latest shard snapshots,
    re-rank, re-take top-(k+1).  Priority sampling's mergeability is
    exactly what makes it THE weighted-sample at 100 TB (per-shard
    heaps union across executors/days/clusters); here the merged
    live sample hash-checks against the one-shot batch SQL over the
    same rows — the oracle IS the mergeability proof.  Floored-cents
    Horvitz-Thompson weights as in the batch twin."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_priority_sample,
    )

    snaps = run_stream_to_memory(
        stateful_priority_sample(stream_table(spark, sf_dir, "events"), _PRIO_K),
        mode="update",
    )
    latest = snaps.groupBy("shard").agg(
        F.max(F.struct("rows_seen", "ids", "ws", "prios")).alias("s")
    )
    cand = latest.select(
        F.explode(F.arrays_zip("s.ids", "s.ws", "s.prios")).alias("e")
    ).select(
        F.col("e.ids").alias("event_id"),
        F.col("e.ws").alias("w_cents"),
        F.col("e.prios").alias("priority"),
    )
    top = cand.orderBy(F.col("priority").desc(), "event_id").limit(
        _PRIO_K + 1
    )
    tau = top.agg(F.min("priority").alias("tau"))
    sel = top.orderBy(F.col("priority").desc(), "event_id").limit(_PRIO_K)
    return sel.crossJoin(F.broadcast(tau)).select(
        "event_id",
        "w_cents",
        F.floor(F.greatest(F.col("w_cents").cast("double"), F.col("tau")))
        .cast("long")
        .alias("ht_cents"),
    )


# ----------------------------------- streaming decontamination gate


@query(
    "stream_run_decontam",
    # Identical result contract to the batch gate, so it shares that oracle.
    oracle=_REG["decontam_ngram"].oracle,
)
def stream_run_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming decontamination at ingest (the corpus-crawl
    shape: reject documents sharing benchmark n-grams the moment
    they arrive, instead of a post-hoc batch sweep): the held-out
    benchmark slice (source = src0) builds its DISTINCT 8-token
    shingle set ONCE as a static frame — eval sets are MBs against a
    100 TB corpus — and every streamed training document probes it
    via a stream-static broadcast join.

    The stream side dedupes shingles WITHIN each document before the
    join (``array_distinct`` — stateless, map-side: a document lives
    wholly inside one source row, so per-doc distinctness never needs
    streaming state).  That turns the batch twin's count(DISTINCT s)
    into a plain streaming count — one stateful aggregation, state
    keyed only by the (rare) contaminated doc ids.  Complete-mode
    memory sink on the finite source ==> result equals the batch
    gate ``decontam_ngram``, which is exactly what the shared oracle
    replays (same rule as the other stream_run twins)."""
    from ctgov_ai_etl_spark.operators.decontam import ngram_shingles
    from ctgov_ai_etl_spark.functions.text import tokens
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import load_table as _lt

    d = _lt(spark, sf_dir, "documents")
    bench = spread_to_parallelism(d.filter(F.col("source") == "src0"))
    bench_shingles = (
        bench.select(
            F.explode(ngram_shingles(tokens(F.col("text")), 8)).alias("s")
        )
        .distinct()
    )
    train = stream_table(spark, sf_dir, "documents").filter(
        F.col("source") != "src0"
    )
    probes = train.select(
        "doc_id",
        F.explode(
            F.array_distinct(ngram_shingles(tokens(F.col("text")), 8))
        ).alias("s"),
    )
    hits = probes.join(F.broadcast(bench_shingles), "s").groupBy(
        "doc_id"
    ).agg(F.count("*").cast("int").alias("n_hits"))
    return run_stream_to_memory(hits, mode="complete")



# ----------------------------------- streaming blocklist ingest gate


@query(
    "stream_run_blocklist",
    # Identical result contract to the batch gate, so it shares that oracle.
    oracle=_REG["text_blocklist_filter"].oracle,
)
def stream_run_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming denylist admission filter: the stateless twin of
    ``text_blocklist_filter``.  A config-sized blocklist needs NO
    join and NO state at ingest — the term set compiles into a
    literal array and each arriving document scores itself map-side
    (``array_intersect`` of its distinct tokens against the literal),
    so the gate adds zero shuffles and zero state stores to the
    ingest topology: it runs at source-partition parallelism forever.

    This is the complementary scale regime to the batch twin: the
    batch form broadcast-JOINS the term frame (right shape when the
    denylist is large), the streaming form inlines it as a literal
    (right shape when it is config-sized — the common case for
    safety denylists).  Append-mode memory sink on the finite source
    ==> result equals the batch gate, which the shared oracle
    replays."""
    from ctgov_ai_etl_spark.functions.text import tokens
    from ctgov_ai_etl_spark.queries.semantic import (
        _BLOCKLIST_MIN_HITS,
        _BLOCKLIST_TERMS,
    )
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    d = stream_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in _BLOCKLIST_TERMS])
    n_hit = F.size(
        F.array_intersect(F.array_distinct(tokens(F.col("text"))), terms)
    ).cast("long")
    scored = d.select(
        "doc_id",
        n_hit.alias("n_hit"),
        (n_hit >= _BLOCKLIST_MIN_HITS).alias("blocked"),
    )
    return run_stream_to_memory(scored, mode="append")


# ------------------------------ streaming DSIR admission gate

from ctgov_ai_etl_spark.queries.product import _DSIR_CTES  # noqa: E402


@query(
    "stream_run_dsir_gate",
    oracle=f"WITH {_DSIR_CTES}\n"
    "    SELECT doc_id, log_w_micro FROM scored WHERE log_w_micro >= 0",
)
def stream_run_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR admission: score every arriving document's
    target-likeness and admit those with non-negative log importance
    weight — the ingest-time form of sample_dsir_importance (batch
    ranks a finished corpus; the crawl needs a verdict per document
    as it arrives).

    The fitted model is 32 numbers, so it rides into the stream as a
    BROADCAST ARRAY (one static 1-row frame, stream-static cross
    join) and scoring is fully map-side: Σ over tokens of
    lr_micro[bucket(token)] equals the batch side's tf·lr dot
    product without materializing per-bucket tfs — zero streaming
    state, zero shuffles; the gate runs at source parallelism
    forever.  Append-mode memory sink; the oracle replays the batch
    model + scoring SQL with the same >= 0 admission predicate."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from ctgov_ai_etl_spark.functions.text import tokens
    from ctgov_ai_etl_spark.queries.product import _DSIR_BUCKETS  # noqa: F401
    from ctgov_ai_etl_spark.queries.product import sample_dsir_importance  # noqa: F401
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import load_table as _lt

    # Rebuild the 32-row model from the static corpus (identical
    # algebra to sample_dsir_importance), then pack it into ONE row:
    # an lr_micro array indexed by bucket.
    d = _lt(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t")
    ).select(
        "lang", hash_bucket(F.col("t"), _DSIR_BUCKETS).cast("int").alias("b")
    )
    raw = tok.groupBy("b").agg(F.count("*").cast("long").alias("r_b"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("t_b"))
    )
    tots = raw.agg(F.sum("r_b").cast("long").alias("rt")).crossJoin(
        F.broadcast(tgt.agg(F.sum("t_b").cast("long").alias("tt")))
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("t_b"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        * (F.col("rt") + _DSIR_BUCKETS).cast("double")
                    )
                    / (
                        (F.col("r_b") + 1).cast("double")
                        * (F.col("tt") + _DSIR_BUCKETS).cast("double")
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    # Pack as a MAP keyed by the actual bucket id, alongside the
    # add-1-smoothing floor for buckets the fitted model never saw
    # (t_b = r_b = 0): in this harness the stream replays the fitting
    # corpus so every bucket hits the map, but on genuinely new data
    # an absent bucket must score at the smoothing floor, not NULL —
    # a NULL would null the document's whole aggregate and silently
    # drop it at the >= 0 gate.
    packed = (
        model.agg(
            F.map_from_entries(
                F.collect_list(F.struct("b", "lr_micro"))
            ).alias("lr")
        )
        .crossJoin(F.broadcast(tots))
        .select(
            "lr",
            F.round(
                F.log(
                    (F.col("rt") + _DSIR_BUCKETS).cast("double")
                    / (F.col("tt") + _DSIR_BUCKETS).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_floor"),
        )
    )
    stream = stream_table(spark, sf_dir, "documents")
    buckets = F.transform(
        tokens(F.col("text")),
        lambda t: hash_bucket(t, _DSIR_BUCKETS).cast("int"),
    )
    scored = (
        stream.crossJoin(F.broadcast(packed))
        .select(
            "doc_id",
            F.aggregate(
                buckets,
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.coalesce(
                    F.element_at(F.col("lr"), b), F.col("lr_floor")
                ),
            ).alias("log_w_micro"),
        )
        .filter(F.col("log_w_micro") >= 0)
    )
    return run_stream_to_memory(scored, mode="append")



# ---------------------------------- streaming volume control chart


@query(
    "stream_run_volume_alert",
    oracle=_REG["anomaly_volume_days"].oracle,
)
def stream_run_volume_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest-volume monitor: per-day event counts as a
    genuine micro-batch streaming aggregation (one long of state per
    day — the counting monoid merges across batches), then the
    control-chart verdict against the corpus mean ± 2σ thresholds.
    The moment frame is fitted batch-side from the static corpus
    (production fits it on trailing history) and joined onto the
    drained day counts — alerts are map-side integer milli compares.
    Complete-mode memory sink on the finite source ==> result equals
    the batch chart anomaly_volume_days, whose oracle this twin
    shares."""
    from ctgov_ai_etl_spark.functions.exact import fdiv
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import load_table as _lt

    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = fdiv(F.unix_micros("ts"), 86_400_000_000).alias("day")
    counts = ev.select(day).groupBy("day").agg(
        F.count("*").cast("long").alias("n")
    )
    drained = run_stream_to_memory(counts, mode="complete")
    b = _lt(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = b.groupBy(
        fdiv(F.unix_micros(F.col("ts")), F.lit(86_400_000_000)).alias(
            "day"
        )
    ).agg(F.count("*").cast("long").alias("n"))
    m = d.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("q"),
    )
    z = drained.crossJoin(F.broadcast(m)).select(
        F.col("day").cast("long").alias("day"),
        "n",
        fdiv(F.col("s") * 1000, F.col("k")).alias("mean_milli"),
        F.round(
            F.sqrt(
                (
                    F.col("q").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("k")
                )
                / F.col("k")
            )
            * 1000
        )
        .cast("long")
        .alias("sd_milli"),
    )
    return z.select(
        "day",
        "n",
        "mean_milli",
        "sd_milli",
        (
            F.abs(F.col("n") * 1000 - F.col("mean_milli"))
            > 2 * F.col("sd_milli")
        ).alias("flagged"),
    )



@query(
    "stream_run_hll",
    oracle=_REG["sketch_hll_registers"].oracle,
)
def stream_run_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HyperLogLog register maintenance: the production
    shape of the sketch — registers updated continuously as events
    arrive, one int of state per (type, bucket) cell (the MAX monoid
    merges across micro-batches exactly like the batch build's
    partial aggregation), drained in complete mode and unioned with
    the cell-wise-MAX merge row set.  State is bounded at
    |types| * 64 cells FOREVER regardless of stream volume — the
    whole point of sketching an unbounded stream.  Finite source +
    complete mode ==> registers equal the batch build
    (sketch_hll_registers), whose oracle this twin replays."""
    from ctgov_ai_etl_spark.operators.sketches import hll_registers
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory

    e = stream_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(e, "user_id", "event_type")
    drained = run_stream_to_memory(regs, mode="complete")
    merged = (
        drained.groupBy("bucket")
        .agg(F.max("register").cast("int").alias("register"))
        .select(F.lit("__merged").alias("grp"), "bucket", "register")
    )
    return drained.unionByName(merged)

