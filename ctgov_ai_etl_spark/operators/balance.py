"""Clamped running balance — a value-dependent prefix scan.

``balance[i] = clamp(balance[i-1] + delta[i], 0, cap)`` (inventory /
prepaid-credit / token-bucket semantics) is NOT window-expressible:
the clamp makes each row's output depend on the clamped *result* of
the previous row, not on any fixed-frame aggregate, so there is no
``sum() OVER`` rewrite.  The reference engine family handles this
class with per-key sequential operators; this module gives the
engine three physical strategies for the same logical operator:

1. :func:`clamped_balance` — per-key sequential scan: one shuffle
   on the key, a flat ordered pass per partition
   (:func:`keyed_scan_input`).  The right default
   when no single key's history outgrows an executor (the same
   constraint every sessionizer has).

2. :func:`clamped_balance_chunked` — the SCALE path.  The row
   function ``f_d(b) = min(cap, max(0, b + d))`` belongs to the
   family ``x -> min(H, max(L, x + s))`` which is CLOSED under
   composition, so a key's history splits into time chunks whose
   composed ``(L, H, s)`` triples form a tiny per-key sequence; a
   second pass turns those into chunk-entry balances and a third
   replays each chunk independently with its entry balance.  No
   single task ever holds a whole key — the per-key sequential
   bottleneck becomes a per-(key, chunk) one, and chunk width is a
   knob.  This is Blelloch's two-pass parallel scan specialized to
   the clamp monoid.

3. :func:`stateful_balance` — the STREAMING twin
   (``applyInPandasWithState``): one int64 of state per key carries
   the open balance across micro-batches (same arrival-order
   assumptions as ``stateful_capped_sessions``, documented there).

All arithmetic is exact int64 cents computed Spark-side
(``round(value*100)`` + ``unix_micros``), so every strategy is
bit-identical to the DuckDB recursive-CTE oracle
(:func:`balance_oracle_sql`) regardless of partitioning.

Reference parity note: the reference (etl.py) has no sequential
stateful operator — this extends the engine's custom-stateful family
(streaming/events.py) to the batch prefix-scan class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.cache import track

_INF = 1 << 62  # |delta sums| << 2^62, so ±INF sentinels never overflow

_OUT_SCHEMA = "user_id long, event_id long, balance_cents long"


def _delta_col() -> "F.Column":
    """Signed cents: credits for purchase/signup, debits otherwise."""
    sign = F.when(F.col("event_type").isin("purchase", "signup"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    return (F.round(F.col("value") * 100).cast("long") * sign).alias("delta")


def _prep(events: DataFrame) -> DataFrame:
    """Project to the exact-integer columns every strategy scans.

    NULL timestamps are corrupt rows for an ordered scan — drop them
    (the oracle filters identically)."""
    return events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        _delta_col(),
    )


def keyed_scan_input(rows: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Physical layout for a per-key sequential scan WITHOUT per-group
    Python dispatch: hash-repartition on the key (all of a key's rows
    in one partition), sort within partitions by (key, order) so each
    key's history is one contiguous ordered run.

    ``groupBy(key).applyInPandas`` has the same single shuffle but
    ships every key as its OWN Arrow batch + Python function call —
    at 1,500 keys × ~70 rows that is 1,500 pandas constructions and
    sorts per executor pass, measured ~4-6 s at sf0.1 vs < 1 s for
    the flat layout here (guide §4: amortize the Python boundary over
    whole-partition batches, not per-group ones).  Consumers run a
    ``mapInPandas`` over the result and carry scan state across both
    group changes and Arrow-batch boundaries (a key's run never spans
    partitions, but it MAY span adjacent batches of one partition —
    Arrow batches preserve partition order, so carrying (key, state)
    across the iterator is exact.

    CONTRACT: the key column must be NON-NULL.  Consumers
    detect run boundaries with ``u != prev_uid`` on numpy values; a
    NULL key surfaces as NaN there and NaN != NaN is always True, so
    state would silently reset per null row (where the old
    ``groupBy().applyInPandas`` grouped nulls together).  Every
    consumer asserts this per batch (one vectorized ``isna`` check);
    the events feeds are non-null by schema today."""
    return rows.repartition(F.col(key)).sortWithinPartitions(key, *order_cols)


def assert_keys_non_null(pdf, key: str) -> None:
    """Cheap per-batch guard for the :func:`keyed_scan_input` non-null
    key contract (one vectorized pass; see the docstring above)."""
    if pdf[key].isna().any():
        raise ValueError(
            f"keyed_scan_input contract violated: NULL values in key "
            f"column {key!r} (per-key scan state would silently reset "
            "on every null row)"
        )


def clamped_balance(events: DataFrame, cap_cents: int) -> DataFrame:
    """Per-key sequential scan: one shuffle, one sorted flat pass per
    partition (``keyed_scan_input`` layout — identical results to the
    per-group formulation, ~5x less Python-boundary overhead)."""
    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    cap = int(cap_cents)

    def scan(batches):
        prev_uid, bal = None, 0
        for pdf in batches:
            assert_keys_non_null(pdf, "user_id")
            uids = pdf["user_id"].to_numpy()
            deltas = pdf["delta"].to_numpy()
            out = []
            for i in range(len(pdf)):
                u = uids[i]
                if u != prev_uid:
                    prev_uid, bal = u, 0
                bal = min(cap, max(0, bal + int(deltas[i])))
                out.append(bal)
            yield pdf.assign(balance_cents=out)[
                ["user_id", "event_id", "balance_cents"]
            ]

    return keyed_scan_input(
        _prep(events), "user_id", ["ts_us", "event_id"]
    ).mapInPandas(scan, _OUT_SCHEMA)


def _compose(f1, f2):
    """Composition f2∘f1 of clamp functions (L, H, s): apply f1 first.

    f(x) = min(H, max(L, x + s)).  The family is closed:
      H' = min(H2, max(L2, H1 + s2))
      L' = min(H', max(L2, L1 + s2))
      s' = s1 + s2
    (L' is re-clamped under H' so the triple stays canonical when the
    composed function is constant.)
    """
    l1, h1, s1 = f1
    l2, h2, s2 = f2
    h = min(h2, max(l2, h1 + s2))
    l = min(h, max(l2, l1 + s2))
    return (l, h, s1 + s2)


def _apply(f, b: int) -> int:
    l, h, s = f
    return min(h, max(l, b + s))


def clamped_balance_chunked(
    events: DataFrame, cap_cents: int, chunk_us: int = 2 * 86_400_000_000
) -> DataFrame:
    """Two-pass distributed scan over the clamp monoid (see module doc)
    — implemented ENTIRELY with built-in higher-order functions, no
    Python boundary anywhere.

    Pass 1 gathers each (key, time-chunk)'s rows into a sorted array
    and folds them with ``F.aggregate`` into one composed (L, H, s)
    triple — scan-parallel across chunks, whole-stage-codegen'd.
    Pass 2 (one row per key) folds the tiny per-key triple sequence
    into chunk-ENTRY balances.  Pass 3 replays each chunk's array
    independently from its entry balance (another ``F.aggregate``
    building the output array) and explodes.  Full rows shuffle once
    (the collect_list on (key, chunk)); the entry-balance side is one
    row per chunk and rides a broadcast join back.

    The sequential floor is one CHUNK, not one key — chunk width is
    the knob that trades task parallelism against per-chunk array
    size, and the clamp-composition algebra is what makes the split
    sound (``_compose`` documents the closed form; property tests
    replay it against the per-key scan).
    """
    cap = int(cap_cents)

    base = _prep(events).withColumn(
        # ts_us >= 0 here so `div` on longs is already a true floor.
        # Chunk ids need not be contiguous; the fold handles gaps
        # (absent chunks are identity functions that never appear).
        "chunk",
        F.expr(f"ts_us div {int(chunk_us)}"),
    )

    # Pass 1: per-(key, chunk) sorted event array + composed triple.
    # array_sort on structs orders by fields left-to-right, so
    # (ts_us, event_id, delta) sorts exactly like the scan order.
    # Persisted (tracked): both the triple fold and the final replay
    # consume it — without the pin the whole scan+shuffle runs twice.
    rows = track(
        base.groupBy("user_id", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "delta"))
            ).alias("evs")
        )
        .persist()
    )

    def compose_col(acc, e):
        # acc ∘ f_delta where f_delta = (0, cap, d); see _compose.
        hi = F.least(F.lit(cap), F.greatest(F.lit(0), acc.hi + e.delta))
        lo = F.least(hi, F.greatest(F.lit(0), acc.lo + e.delta))
        return F.struct(
            lo.alias("lo"), hi.alias("hi"), (acc.s + e.delta).alias("s")
        )

    identity = F.struct(
        F.lit(-_INF).alias("lo"), F.lit(_INF).alias("hi"), F.lit(0).cast("long").alias("s")
    )
    triples = rows.select(
        "user_id",
        "chunk",
        F.aggregate("evs", identity, compose_col).alias("f"),
    )

    # Pass 2: per-key ordered fold of the (tiny) triple sequence into
    # chunk-entry balances.  Accumulator = (running balance, entries).
    tri_arr = triples.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("chunk", "f"))).alias("tris")
    )
    ent_acc0 = F.struct(
        F.lit(0).cast("long").alias("bal"),
        F.expr(
            "CAST(array() AS array<struct<chunk: bigint, entry: bigint>>)"
        ).alias("arr"),
    )

    def fold_entries(acc, t):
        nxt = F.least(t.f.hi, F.greatest(t.f.lo, acc.bal + t.f.s))
        return F.struct(
            nxt.alias("bal"),
            F.concat(
                acc.arr,
                F.array(
                    F.struct(t.chunk.alias("chunk"), acc.bal.alias("entry"))
                ),
            ).alias("arr"),
        )

    entry_bal = tri_arr.select(
        "user_id",
        F.explode(F.aggregate("tris", ent_acc0, fold_entries).arr).alias("e"),
    ).select("user_id", F.col("e.chunk").alias("chunk"), F.col("e.entry").alias("entry"))

    # Pass 3: independent chunk replays from the entry balance.
    # No broadcast hint: entry_bal has one row per (user_id, chunk),
    # which grows linearly with key count — at many-million-key scale a
    # forced broadcast would blow the driver/broadcast memory budget.
    # Both sides hash-partition on (user_id, chunk); AQE may still pick
    # a broadcast when the key count is actually small.
    joined = rows.join(entry_bal, ["user_id", "chunk"])
    out_acc0 = F.struct(
        F.col("entry").alias("bal"),
        F.expr(
            "CAST(array() AS array<struct<event_id: bigint, bal: bigint>>)"
        ).alias("arr"),
    )

    def fold_replay(acc, e):
        nxt = F.least(F.lit(cap), F.greatest(F.lit(0), acc.bal + e.delta))
        return F.struct(
            nxt.alias("bal"),
            F.concat(
                acc.arr,
                F.array(
                    F.struct(e.event_id.alias("event_id"), nxt.alias("bal"))
                ),
            ).alias("arr"),
        )

    return (
        joined.select(
            "user_id",
            F.explode(F.aggregate("evs", out_acc0, fold_replay).arr).alias("o"),
        )
        .select(
            "user_id",
            F.col("o.event_id").alias("event_id"),
            F.col("o.bal").alias("balance_cents"),
        )
    )


def stateful_balance(events: DataFrame, cap_cents: int) -> DataFrame:
    """STREAMING clamped balance: one int64 of state per key.

    Same per-batch (ts, event_id) ordering and event-time-ordered
    arrival assumption as ``stateful_capped_sessions`` (the replayed
    file feed satisfies it; a production feed would buffer behind a
    watermark first)."""
    import pandas as pd

    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    cap = int(cap_cents)

    def update(key, pdfs, state):
        (bal,) = state.get if state.exists else (0,)
        out_ids, out_bals = [], []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            )
            # NaN ts_us = corrupt row (Arrow nullable long -> float64):
            # drop, like the batch twin's ts IS NOT NULL filter.
            batch = batch.dropna(subset=["ts_us"])
            batch = batch.sort_values(["ts_us", "event_id"])
            for event_id, d in zip(batch["event_id"], batch["delta"]):
                bal = min(cap, max(0, bal + int(d)))
                out_ids.append(int(event_id))
                out_bals.append(bal)
        state.update((bal,))
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_ids),
                    "event_id": out_ids,
                    "balance_cents": out_bals,
                }
            )

    keyed = events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        _delta_col(),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType="bal long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def balance_oracle_sql(cap_cents: int) -> str:
    """DuckDB recursive-CTE replay: the per-row recurrence, literally."""
    cap = int(cap_cents)
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT)
               * CASE WHEN event_type IN ('purchase', 'signup')
                      THEN 1 ELSE -1 END AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    rec AS (
      SELECT user_id, event_id, rn,
             LEAST({cap}, GREATEST(0, delta)) AS balance_cents
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn,
             LEAST({cap}, GREATEST(0, r.balance_cents + s.delta))
      FROM seq s JOIN rec r
        ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, balance_cents FROM rec
    """


# ------------------------------------------------ event-time token bucket


def token_bucket_scan(
    events: DataFrame,
    cap: int,
    refill_per_us: int,
    cost: int,
) -> DataFrame:
    """Per-key EVENT-TIME token bucket (the reference's R13 rate
    limiter re-expressed over event streams; reference etl.py applies
    the same token/refill arithmetic per wall-clock call): each user
    starts with a full bucket; tokens refill linearly with elapsed
    event time up to ``cap``; an event is admitted iff ``cost``
    tokens are available (and then spends them).

    Unlike the clamp balance, the recurrence branches on its own
    state (spend only when admitted), so the function family is NOT
    closed under composition and no pure-JVM monoid fold exists —
    this is the honest per-key sequential scan (one user_id shuffle,
    ``keyed_scan_input`` flat layout, one ordered pass).  The
    streaming twin
    (streaming/events.py:stateful_rate_limiter) carries (tokens,
    last_ts) across micro-batches; both hash-check against the same
    recursive-CTE oracle.  All arithmetic in exact int64 micro-token
    units.
    """
    from ctgov_ai_etl_spark.session import ship_package

    ship_package(events.sparkSession)
    cap_i, refill_i, cost_i = int(cap), int(refill_per_us), int(cost)

    def scan(batches):
        prev_uid = None
        tokens, last = 0, 0
        for pdf in batches:
            assert_keys_non_null(pdf, "user_id")
            uids = pdf["user_id"].to_numpy()
            tss = pdf["ts_us"].to_numpy()
            allowed, after = [], []
            for i in range(len(pdf)):
                u = uids[i]
                ts_us = int(tss[i])
                if u != prev_uid:
                    prev_uid = u
                    avail = cap_i
                else:
                    avail = min(cap_i, tokens + (ts_us - last) * refill_i)
                ok = avail >= cost_i
                tokens = avail - cost_i if ok else avail
                last = ts_us
                allowed.append(ok)
                after.append(tokens)
            yield pdf.assign(allowed=allowed, tokens_after=after)[
                ["user_id", "event_id", "allowed", "tokens_after"]
            ]

    rows = events.filter(F.col("ts").isNotNull()).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return keyed_scan_input(rows, "user_id", ["ts_us", "event_id"]).mapInPandas(
        scan, "user_id long, event_id long, allowed boolean, tokens_after long"
    )


def token_bucket_oracle_sql(cap: int, refill_per_us: int, cost: int) -> str:
    """DuckDB recursive-CTE replay of the token-bucket recurrence."""
    c, r, k = int(cap), int(refill_per_us), int(cost)
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    rec AS (
      SELECT user_id, event_id, ts_us, rn,
             {c} >= {k} AS allowed,
             CASE WHEN {c} >= {k} THEN {c} - {k} ELSE {c} END AS tokens_after
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts_us, s.rn,
             LEAST({c}, r.tokens_after + (s.ts_us - r.ts_us) * {r}) >= {k},
             CASE WHEN LEAST({c}, r.tokens_after
                             + (s.ts_us - r.ts_us) * {r}) >= {k}
                  THEN LEAST({c}, r.tokens_after
                             + (s.ts_us - r.ts_us) * {r}) - {k}
                  ELSE LEAST({c}, r.tokens_after
                             + (s.ts_us - r.ts_us) * {r}) END
      FROM seq s JOIN rec r
        ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, allowed,
           CAST(tokens_after AS BIGINT) AS tokens_after
    FROM rec
    """
