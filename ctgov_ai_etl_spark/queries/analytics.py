"""Round-8 wave-2 analytics queries.

Business-analytics shapes a warehouse user of the reference family
runs daily — composed star joins (the TPC-H Q3 shape), Markov event
transitions, marketing attribution, privacy k-anonymity gates,
feature standardization — plus the two genuinely non-window
operators added this wave: the clamped running balance (a
value-dependent prefix scan, oracle = recursive CTE) and min-hop BFS
layers (iterative frontier, oracle = recursive CTE).

Exactness follows the repo conventions (functions/exact.py): money
in integer cents, probabilities in integer ppm via floor division,
timestamps in int64 micros, output doubles rounded identically on
both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.exact import (
    cents,
    fdiv,
    sql_fdiv,
    sql_sum_money,
    sum_money,
)
from ctgov_ai_etl_spark.operators.balance import (
    balance_oracle_sql,
    clamped_balance,
    clamped_balance_chunked,
)
from ctgov_ai_etl_spark.operators.graph import bfs_layers, bfs_oracle_sql
from ctgov_ai_etl_spark.operators.sketches import portable_hash60
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table

_US_PER_DAY = 86_400_000_000

# ---------------------------------------------------------------- Q3 shape


@query(
    "tpch_q3_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_sum_money("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q3 'shipping priority' shape adapted to the testdata
    star schema: segment-filtered customers ⋈ date-filtered orders ⋈
    ship-date-filtered lineitem, revenue = exact-cents discounted
    price, top-10 by revenue.

    Scale shape: both dimension-side filters reach the parquet scans
    (PushedFilters), customer is the small side (broadcast under
    AQE), the l⋈o join shuffles on the order key with partial
    aggregation before the final TakeOrderedAndProject — no global
    sort ever materializes.  Ties broken by (orderdate, orderkey) so
    LIMIT 10 is deterministic.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey")
        )
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# ------------------------------------------------------- event sequences


@query(
    "seq_transition_matrix",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events WHERE ts IS NOT NULL
    ),
    cnt AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_pairs,
           CAST((n_pairs * 1000000)
             // CAST(sum(n_pairs) OVER (PARTITION BY from_type) AS BIGINT)
             AS BIGINT) AS prob_ppm
    FROM cnt
    """,
)
def seq_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next=to | cur=from) in integer ppm (floor division —
    exact, partition-order independent).  One window shuffle on
    user_id for the lead, one partially-aggregated shuffle on the
    (from, to) pair, one tiny per-from window — the 5×5 matrix is the
    whole reduce-side state regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    total = F.sum("n_pairs").over(W.partitionBy("from_type"))
    num = F.col("n_pairs") * 1_000_000
    # fdiv divides the exact multiple in decimal — the plain double
    # division flips once ppm numerators pass 2^53 (sf0.1 incident).
    ppm = fdiv(num, total)
    return cnt.select("from_type", "to_type", "n_pairs", ppm.alias("prob_ppm"))


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM events WHERE ts IS NOT NULL
    )
    SELECT coalesce(touch_type, 'none') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           {sql_sum_money("value")} AS attributed_value
    FROM touched WHERE event_type = 'purchase'
    GROUP BY coalesce(touch_type, 'none')
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is
    credited to the user's most recent non-purchase event before it
    ('none' when the purchase opens the history).  One window shuffle
    on user_id (running last_value with ignorenulls over the
    preceding frame), then a 5-row aggregate of exact-cents money —
    the attribution table is tiny no matter the corpus."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch_type"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("none")).alias("touch_type"))
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            sum_money("value").alias("attributed_value"),
        )
    )


# ------------------------------------------------------------ governance


@query(
    "dq_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < 8 AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): any equivalence class smaller than k=8
    re-identifies its members and must be suppressed or generalized
    before the table ships as training data.  One partially-aggregated
    shuffle on the QI tuple; the flag is computed post-agg so the
    whole audit is a single pass at any scale."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("group_size"),
        (F.count("*") < 8).alias("at_risk"),
    )


@query(
    "feature_scale_standard",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS xc
      FROM orders
    ),
    m AS (
      SELECT count(*) AS n, sum(xc) AS sx, sum(xc * xc) AS sxx,
             min(xc) AS mn, max(xc) AS mx
      FROM u
    )
    SELECT u.o_orderkey,
           round((u.xc - CAST(m.sx AS DOUBLE) / m.n)
                 / sqrt((CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
                        / (m.n - 1)), 6) AS zscore,
           round(CAST(u.xc - m.mn AS DOUBLE) / (m.mx - m.mn), 6) AS minmax
    FROM u CROSS JOIN m
    """,
)
def feature_scale_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature standardization (z-score + min-max) from exact integer
    moments: the 1-row stats aggregate is broadcast back onto the
    fact scan (crossJoin(broadcast)) so the whole thing is one lazy
    plan — no driver collect, no second job.  Identical double
    arithmetic order on both sides (moment formulas from
    agg_stats_moments) keeps the rounded outputs bit-equal."""
    o = load_table(spark, sf_dir, "orders")
    u = o.select("o_orderkey", cents("o_totalprice").alias("xc"))
    xc_dec = F.col("xc").cast("decimal(20,0)")
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("sx"),
        F.sum(xc_dec * xc_dec).alias("sxx"),
        F.min("xc").alias("mn"),
        F.max("xc").alias("mx"),
    )
    j = u.crossJoin(F.broadcast(m))
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ) / (F.col("n") - 1)
    return j.select(
        "o_orderkey",
        F.round((F.col("xc") - mean) / F.sqrt(var), 6).alias("zscore"),
        F.round(
            (F.col("xc") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn")),
            6,
        ).alias("minmax"),
    )


# ------------------------------------------- sequential / iterative ops

_BALANCE_CAP_CENTS = 2500  # $25 credit ceiling: both clamps actually bind


@query("ts_clamped_cumsum", oracle=balance_oracle_sql(_BALANCE_CAP_CENTS))
def ts_clamped_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance (credits for purchase/signup, debits
    otherwise, balance pinned to [0, $25]) — the value-dependent
    prefix scan no window expression can state (operators/balance.py).
    Per-key sequential scan (keyed_scan_input flat layout, one
    user_id shuffle); oracle is the literal per-row
    recurrence as a DuckDB recursive CTE."""
    ev = load_table(spark, sf_dir, "events")
    return clamped_balance(ev, _BALANCE_CAP_CENTS)


@query(
    "ts_clamped_cumsum_chunked", oracle=balance_oracle_sql(_BALANCE_CAP_CENTS)
)
def ts_clamped_cumsum_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAME logical operator, SCALE physical strategy: the clamp
    functions form a closed composition family, so per-(key, 2-day
    chunk) triples + a tiny per-key fold + independent chunk replays
    give a two-pass distributed scan — no task ever holds a whole
    key's history (operators/balance.py:clamped_balance_chunked).
    Identical oracle to ts_clamped_cumsum: two strategies, one
    answer, proven bit-equal."""
    ev = load_table(spark, sf_dir, "events")
    return clamped_balance_chunked(ev, _BALANCE_CAP_CENTS)


# Bench-slice cap: orderkeys are dense 0..N-1, so
# sf0.001/sf0.01 edge sets are BIT-IDENTICAL with or without the cap
# (correctness evidence unchanged); only the sf0.1 bench stops paying
# 10x the edge volume for the same BFS-layer evidence.
_EDGES_SQL = """SELECT DISTINCT l.l_suppkey AS src,
           o.o_custkey + 1000000 AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 15000"""

_SEEDS_WHERE = "node % 7 = 0 AND node < 1000000"


@query(
    "graph_bfs_layers",
    oracle=bfs_oracle_sql(_EDGES_SQL, _SEEDS_WHERE, max_hops=3),
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS layers (≤ 3 hops) from every-7th supplier over the
    undirected supplier↔customer fulfilment graph — 'within k links
    of a trusted seed' (operators/graph.py:bfs_layers).  Frontier
    join + anti-join per round, layers checkpointed; oracle walks the
    same graph with a recursive CTE and min-hops per node."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 15_000)
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(
        (F.col("node") % 7 == 0) & (F.col("node") < 1_000_000)
    )
    return bfs_layers(edges, seeds, max_hops=3)


# ------------------------------------------------------ wave-3 additions


@query(
    "tpch_q5_local_supplier",
    oracle=f"""
    SELECT n.n_name,
           {sql_sum_money("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q5 'local supplier volume' shape: six-way star join
    where customer and supplier must share a nation, revenue per
    nation for one region-year.  The selective dimension chain
    (region → nation → supplier) and the customer side are all
    broadcast; only the orders⋈lineitem spine shuffles — the plan a
    1000-executor cluster wants for a fact-heavy star."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    sn = s.join(F.broadcast(nr), s.s_nationkey == nr.n_nationkey)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(sn),
            (li.l_suppkey == sn.s_suppkey)
            & (c.c_nationkey == sn.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "join_temporal_scd2",
    oracle="""
    WITH dim AS (
      SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS valid_to
      FROM orders
    ),
    fact AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber, d.status AS status_at_ship
    FROM fact f LEFT JOIN dim d
      ON f.o_custkey = d.o_custkey
     AND f.l_shipdate >= d.valid_from
     AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
    """,
)
def join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of a fact stream to an SCD2 dimension: each
    lineitem gets the customer's order status AS OF its ship date.

    The naive formulation is an interval join (the oracle) — at scale
    that's a range-join explosion.  The engine instead uses the union
    trick from join_asof: dimension-change rows and fact rows union
    into ONE per-customer timeline, sorted by (ts, kind, id) with
    dims before facts on ties ([valid_from, valid_to) semantics), and
    last(status, ignorenulls) carries the current version onto every
    fact.  One shuffle, one window pass, zero-width superseded
    versions handled for free (the later change at the same instant
    overwrites the carry).  LEFT semantics: a fact before the
    dimension's first version (late-arriving dimension) keeps NULL
    status — pervasive in this synthetic data, where ~half the
    lineitems 'ship' before their order date."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = o.select(
        F.col("o_custkey").alias("custkey"),
        F.unix_micros(F.col("o_orderdate")).alias("ts_us"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("uid"),
        F.col("o_orderstatus").alias("status"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    fact = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.unix_micros(F.col("l_shipdate")).alias("ts_us"),
            F.lit(1).alias("kind"),
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
            F.lit(None).cast("string").alias("status"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    w = (
        W.partitionBy("custkey")
        .orderBy("ts_us", "kind", "uid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    timeline = dim.unionByName(fact).withColumn(
        "status_at_ship", F.last("status", ignorenulls=True).over(w)
    )
    return timeline.filter(F.col("kind") == 1).select(
        "l_orderkey", "l_linenumber", "status_at_ship"
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH b AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc,
             ntile(10) OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                             o_orderkey) AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(xc) AS DOUBLE) / 100 AS lo,
           CAST(max(xc) AS DOUBLE) / 100 AS hi
    FROM b GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram with exact ntile semantics —
    WITHOUT the single-reducer global window the oracle uses.  The
    distributed rank (operators/limits.py:global_rank — range
    partition + per-partition rank + offsets) replaces `ntile() OVER
    (ORDER BY …)`, and ntile's first-buckets-get-the-remainder split
    is reproduced arithmetically from (rank, n, k).  Companion to
    agg_histogram_fixed (equal-width): equal-POPULATION bins are what
    feature binning and drift monitors actually want on skewed
    money-like columns."""
    from ctgov_ai_etl_spark.operators.limits import global_rank_with_count

    k = 10
    o = load_table(spark, sf_dir, "orders")
    u = o.select(cents("o_totalprice").alias("xc"), "o_orderkey")
    ranked, n = global_rank_with_count(u, ["xc", "o_orderkey"])
    base, rem = n // k, n % k
    pos = F.col("__pos")
    # ntile: the first `rem` buckets hold base+1 rows, the rest base.
    # Bucket index via the repo's exact pmod-subtraction floor-div
    # idiom (float truncation is only safe well under 2^53); base is
    # clamped to >= 1 for the n < k case, where `rem = n` makes the
    # in_big branch cover every row and the small-bucket divisor is
    # never reached (the clamp keeps the dead branch well-defined).
    def _fdiv(a, b):
        return fdiv(a, F.lit(b))

    in_big = pos <= rem * (base + 1)
    bucket = (
        F.when(in_big, _fdiv(pos - 1, base + 1))
        .otherwise(rem + _fdiv(pos - 1 - rem * (base + 1), max(base, 1)))
        .cast("int")
        + 1
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.min("xc").cast("double") / 100).alias("lo"),
            (F.max("xc").cast("double") / 100).alias("hi"),
        )
    )


@query(
    "win_topk_two_stage",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) t WHERE rn <= 3
    """,
)
def win_topk_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAME answer as win_topk_per_group, SKEW-PROOF physical plan:
    stage 1 takes top-3 within (segment, salt-of-rowkey) — 16
    sub-groups per segment, so one hot segment spreads over 16 tasks —
    stage 2 re-ranks the ≤ 48 survivors per segment.  Candidate-set
    soundness: the global top-3 of a segment each rank ≤ 3 within
    their own salt bucket, so stage 1 can never drop them.  This is
    the two-stage top-k every skewed leaderboard needs at 100 TB;
    proving it bit-equal to the one-window oracle is the point."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    salt = F.pmod(F.col("o_orderkey"), F.lit(16))
    w1 = W.partitionBy("c_mktsegment", salt).orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    stage1 = j.withColumn("rn1", F.row_number().over(w1)).filter(
        F.col("rn1") <= 3
    )
    w2 = W.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        stage1.withColumn("rn", F.row_number().over(w2).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
    )


# ------------------------------------------------------ wave-4 additions

# Benford expected first-digit mass, integer ppm, computed ONCE in
# Python and injected as literals into BOTH engines — log10 in two
# engines' libm is not guaranteed bit-identical; a shared literal is.
_BENFORD_PPM = {
    d: int(__import__("math").log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
)


@query(
    "dq_benford",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
    ),
    cnt AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    )
    SELECT digit, n,
           CAST((n * 1000000) // CAST(sum(n) OVER () AS BIGINT)
                AS BIGINT) AS observed_ppm,
           CASE digit {_BENFORD_CASE} END AS expected_ppm
    FROM cnt
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    classic fabricated-data / fraud screen a data-quality gate runs on
    money columns.  First digit comes from the exact integer cents
    (identical string rendering in both engines); observed mass is
    integer-ppm floor division; the expected Benford mass is a Python-
    computed literal shared by both sides (two libm log10s are not a
    cross-engine contract).  One partially-aggregated 9-group shuffle."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(cents("o_totalprice").cast("string"), 1, 1).cast("int")
    cnt = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("long").alias("n")
    )
    # bounded global window: input is the 9-row leading-digit frame —
    # the partition-less WARN is safe by construction
    total = F.sum("n").over(W.partitionBy())
    num = F.col("n") * 1_000_000
    observed = fdiv(num, total)
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for dp in _BENFORD_PPM.items() for x in dp]
        ),
        F.col("digit"),
    ).cast("long")
    return cnt.select(
        "digit",
        "n",
        observed.alias("observed_ppm"),
        expected.alias("expected_ppm"),
    )


@query(
    "ts_ewma_window",
    oracle="""
    SELECT event_id, user_id,
           round((
             128 * CAST(round(value * 100) AS BIGINT)
             + coalesce(64 * lag(CAST(round(value * 100) AS BIGINT), 1) OVER w, 0)
             + coalesce(32 * lag(CAST(round(value * 100) AS BIGINT), 2) OVER w, 0)
             + coalesce(16 * lag(CAST(round(value * 100) AS BIGINT), 3) OVER w, 0)
             + coalesce( 8 * lag(CAST(round(value * 100) AS BIGINT), 4) OVER w, 0)
             + coalesce( 4 * lag(CAST(round(value * 100) AS BIGINT), 5) OVER w, 0)
             + coalesce( 2 * lag(CAST(round(value * 100) AS BIGINT), 6) OVER w, 0)
             + coalesce( 1 * lag(CAST(round(value * 100) AS BIGINT), 7) OVER w, 0)
           ) / CAST(
             128
             + CASE WHEN lag(ts, 1) OVER w IS NULL THEN 0 ELSE 64 END
             + CASE WHEN lag(ts, 2) OVER w IS NULL THEN 0 ELSE 32 END
             + CASE WHEN lag(ts, 3) OVER w IS NULL THEN 0 ELSE 16 END
             + CASE WHEN lag(ts, 4) OVER w IS NULL THEN 0 ELSE 8 END
             + CASE WHEN lag(ts, 5) OVER w IS NULL THEN 0 ELSE 4 END
             + CASE WHEN lag(ts, 6) OVER w IS NULL THEN 0 ELSE 2 END
             + CASE WHEN lag(ts, 7) OVER w IS NULL THEN 0 ELSE 1 END
           AS DOUBLE) / 100, 6) AS ewma
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def ts_ewma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (half-life decay, 8-event
    horizon) per user — EXACT: dyadic weights 2^(7-j) over integer
    cents make the numerator/denominator pure int64, with one double
    division at the end.  Unbounded float EWMA is sequential AND
    order-dependent; the bounded dyadic form is the version that is
    both distributable (one window shuffle, 8 lags) and bit-replayable
    cross-engine.  Early rows renormalize over the weights present."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    xc = F.round(F.col("value") * 100).cast("long")
    num = F.lit(128) * xc
    den = F.lit(128)
    for j in range(1, 8):
        wt = 1 << (7 - j)
        num = num + F.coalesce(F.lag(xc, j).over(w) * wt, F.lit(0))
        den = den + F.when(F.lag("ts", j).over(w).isNull(), 0).otherwise(wt)
    return ev.select(
        "event_id",
        "user_id",
        F.round(num / den.cast("double") / 100, 6).alias("ewma"),
    )


@query(
    "sample_systematic",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) AS pos
      FROM orders
    ) WHERE pos % 20 = 1
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling on the DISTRIBUTED global rank
    (operators/limits.py — range partition + offsets; the oracle's
    `row_number() OVER (ORDER BY …)` is the single-reducer plan this
    replaces).  Every 20th order in key order: deterministic, evenly
    spread across the sort dimension — the property quota/mixture
    samplers can't give and random samplers only give in expectation."""
    from ctgov_ai_etl_spark.operators.limits import global_rank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_rank(o, ["o_orderkey"])
    return ranked.filter(F.pmod(F.col("__pos"), 20) == 1).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "pipeline_entity_resolution",
    # Oracle notes (both replace earlier quadratic blow-ups):
    # * pairs: deletion-neighborhood blocking (each name joins on its
    #   distance-1 deletion variants, exact levenshtein re-verifies) —
    #   provably recall-exact for lev<=1 (module proof in
    #   operators/fuzzy.py) and O(n·|s|) vs the 225M-eval nested loop
    #   (125 s -> 2.9 s at sf0.1, measured).
    # * components: 8 rounds of min-label hop + pointer-jump
    #   (l(l(id))), reach doubling per round so 8 rounds cover paths
    #   of length ~2^8; the sf0.1 graph (one 15,000-node component)
    #   converges at round 2 and the chain is idempotent after
    #   convergence, so extra rounds only re-prove the fixpoint.  The
    #   recursive-CTE transitive closure it replaces accumulates
    #   O(|component|^2) (node,label) rows — 225M at sf0.1, killed at
    #   30+ min; this chain is O(rounds·|E|) and runs in 0.4 s.
    oracle="""
    WITH v AS (
      SELECT c_custkey AS id, c_name AS s,
             unnest(list_distinct(list_append(
               list_transform(range(1, length(c_name)+1),
                              i -> substr(c_name,1,i-1) || substr(c_name,i+1)),
               c_name))) AS var
      FROM customer
    ),
    cand AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b,
             any_value(a.s) AS s_a, any_value(b.s) AS s_b
      FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 1
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    l0 AS MATERIALIZED (SELECT c_custkey AS id, c_custkey AS label FROM customer),
    h0 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l0 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l0 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l1 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h0 h JOIN h0 j ON j.id = h.label
    ),
    h1 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l1 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l1 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l2 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h1 h JOIN h1 j ON j.id = h.label
    ),
    h2 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l2 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l2 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l3 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h2 h JOIN h2 j ON j.id = h.label
    ),
    h3 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l3 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l3 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l4 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h3 h JOIN h3 j ON j.id = h.label
    ),
    h4 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l4 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l4 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l5 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h4 h JOIN h4 j ON j.id = h.label
    ),
    h5 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l5 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l5 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l6 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h5 h JOIN h5 j ON j.id = h.label
    ),
    h6 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l6 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l6 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l7 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h6 h JOIN h6 j ON j.id = h.label
    ),
    h7 AS MATERIALIZED (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l7 l LEFT JOIN edges e ON e.src = l.id
                  LEFT JOIN l7 n ON n.id = e.dst
      GROUP BY l.id, l.label
    ),
    l8 AS MATERIALIZED (
      SELECT h.id, least(h.label, j.label) AS label
      FROM h7 h JOIN h7 j ON j.id = h.label
    ),
    comp AS (SELECT id AS c_custkey, label AS component FROM l8),
    ranked AS (
      SELECT c.c_custkey, comp.component,
             row_number() OVER (
               PARTITION BY comp.component
               ORDER BY CAST(round(c.c_acctbal * 100) AS BIGINT) DESC,
                        c.c_custkey) AS rn
      FROM customer c JOIN comp USING (c_custkey)
    ),
    canon AS (SELECT component, c_custkey AS canonical_custkey
              FROM ranked WHERE rn = 1)
    SELECT r.c_custkey, r.component, canon.canonical_custkey,
           r.c_custkey = canon.canonical_custkey AS is_canonical
    FROM ranked r JOIN canon USING (component)
    """,
)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution: deletion-neighborhood fuzzy
    match (operators/fuzzy.py, one equi-join) → connected components
    (operators/dedup.py, min-label) → canonical record election per
    entity cluster (richest account balance in exact cents, key
    tie-break).  The master-data pipeline every warehouse dedups
    customers with.  The oracle replays both iterative stages in
    closed form: deletion-variant blocking + exact levenshtein
    re-verify for the pairs (recall-exact for lev<=1), and an 8-round
    min-label hop+pointer-jump chain for the components — O(E log n),
    which is what lets this query hold an sf0.1 oracle (the r13
    recursive-CTE closure was O(|component|²) and unrunnable on the
    15,000-node sf0.1 component)."""
    from ctgov_ai_etl_spark.operators.dedup import connected_components
    from ctgov_ai_etl_spark.operators.fuzzy import fuzzy_self_join_lev1

    c = load_table(spark, sf_dir, "customer")
    pairs = fuzzy_self_join_lev1(c, "c_custkey", "c_name").select("id_a", "id_b")
    comp = connected_components(
        c.select(F.col("c_custkey").alias("id")), pairs
    ).select(F.col("id").alias("c_custkey"), "component")
    joined = c.join(comp, "c_custkey").select(
        "c_custkey", "component", cents("c_acctbal").alias("bal_cents")
    )
    w = W.partitionBy("component").orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey").asc()
    )
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        joined.withColumn("canonical_custkey", F.first("c_custkey").over(wfull))
        .withColumn(
            "is_canonical", F.col("c_custkey") == F.col("canonical_custkey")
        )
        .select("c_custkey", "component", "canonical_custkey", "is_canonical")
    )


# ------------------------------------------ wave-5: ordered downsampling

_OHLC_ORACLE = """
    SELECT user_id,
           make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_ts,
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
    GROUP BY user_id, bucket_ts
    """


@query("ts_downsample_ohlc", oracle=_OHLC_ORACLE)
def ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (open/high/low/close per user-hour) with NO
    window function: open/close are order statistics smuggled through
    min/max over (ts, event_id, value) structs — struct comparison is
    lexicographic and the (ts, id) prefix is unique, so the min/max
    struct IS the first/last event.  Everything partially aggregates
    map-side; the classic 'first value per bucket' window plan
    shuffles every row to sort it, this shuffles only the per-bucket
    partial structs.  The financial-bar primitive, and the general
    argmin-by-aggregation trick."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ts_us = F.unix_micros(F.col("ts"))
    xc = F.round(F.col("value") * 100).cast("long")
    keyed = ev.select(
        "user_id",
        F.timestamp_micros(
            (F.expr("unix_micros(ts) div 3600000000") * 3_600_000_000)
        ).alias("bucket_ts"),
        ts_us.alias("t"),
        F.col("event_id").alias("i"),
        xc.alias("x"),
    )
    first_s = F.min(F.struct("t", "i", "x"))
    last_s = F.max(F.struct("t", "i", "x"))
    return keyed.groupBy("user_id", "bucket_ts").agg(
        F.count("*").cast("long").alias("n"),
        F.round(first_s.getField("x").cast("double") / 100, 2).alias("open"),
        F.round(F.max("x").cast("double") / 100, 2).alias("high"),
        F.round(F.min("x").cast("double") / 100, 2).alias("low"),
        F.round(last_s.getField("x").cast("double") / 100, 2).alias("close"),
    )


@query(
    "win_median_rolling",
    oracle="""
    SELECT event_id, user_id,
           round(quantile_cont(CAST(round(value * 100) AS BIGINT) * 2, 0.5)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                 / 200, 6) AS rolling_median
    FROM events WHERE ts IS NOT NULL
    """,
)
def win_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the trailing 8 events per user — the
    robust counterpart of ts_ewma_window.  Doubled-integer trick
    (exactness conventions): the frame's values are collected as
    2·cents ints, the even-count midpoint (lo+hi)/2 is then an
    exactly-representable integer, and one shared /200 division maps
    to dollars — bit-equal to DuckDB's windowed quantile_cont.  One
    user shuffle; frame state is 8 ints."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, W.currentRow)
    )
    x2 = (F.round(F.col("value") * 100).cast("long") * 2).alias("x2")
    arr = F.array_sort(F.collect_list(x2).over(w))
    m = F.size(arr)
    lo = F.element_at(arr, ((m + 1) / 2).cast("int"))
    hi = F.element_at(arr, (m / 2 + 1).cast("int"))
    return ev.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2 / 200, 6).alias("rolling_median"),
    )


# --------------------------------- wave-6: one-pass ML + positional IR


@query(
    "ml_linear_regression_exact",
    oracle="""
    WITH u AS (
      SELECT CAST(round(l_quantity * 1000000) AS BIGINT) AS x1u,
             CAST(round(l_discount * 1000000) AS BIGINT) AS x2u,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem
    ),
    m AS (
      SELECT count(*) AS n,
             sum(x1u) AS sx1, sum(x2u) AS sx2, sum(yc) AS sy,
             sum(x1u * x1u) AS sx1x1, sum(x1u * x2u) AS sx1x2,
             sum(x2u * x2u) AS sx2x2,
             sum(x1u * yc) AS sx1y, sum(x2u * yc) AS sx2y
      FROM u
    ),
    d AS (
      SELECT CAST(n AS DOUBLE) AS a11,
             CAST(sx1 AS DOUBLE) / 1e6 AS a12,
             CAST(sx2 AS DOUBLE) / 1e6 AS a13,
             CAST(sx1x1 AS DOUBLE) / 1e12 AS a22,
             CAST(sx1x2 AS DOUBLE) / 1e12 AS a23,
             CAST(sx2x2 AS DOUBLE) / 1e12 AS a33,
             CAST(sy AS DOUBLE) / 1e2 AS b1,
             CAST(sx1y AS DOUBLE) / 1e8 AS b2,
             CAST(sx2y AS DOUBLE) / 1e8 AS b3,
             CAST(n AS BIGINT) AS n
      FROM m
    )
    SELECT n,
           round(( b1 * (a22 * a33 - a23 * a23)
                 - a12 * (b2 * a33 - a23 * b3)
                 + a13 * (b2 * a23 - a22 * b3))
                 / ( a11 * (a22 * a33 - a23 * a23)
                   - a12 * (a12 * a33 - a23 * a13)
                   + a13 * (a12 * a23 - a22 * a13)), 6) AS intercept,
           round(( a11 * (b2 * a33 - a23 * b3)
                 - b1 * (a12 * a33 - a23 * a13)
                 + a13 * (a12 * b3 - b2 * a13))
                 / ( a11 * (a22 * a33 - a23 * a23)
                   - a12 * (a12 * a33 - a23 * a13)
                   + a13 * (a12 * a23 - a22 * a13)), 6) AS coef_quantity,
           round(( a11 * (a22 * b3 - b2 * a23)
                 - a12 * (a12 * b3 - b2 * a13)
                 + b1 * (a12 * a23 - a22 * a13))
                 / ( a11 * (a22 * a33 - a23 * a23)
                   - a12 * (a12 * a33 - a23 * a13)
                   + a13 * (a12 * a23 - a22 * a13)), 6) AS coef_discount
    FROM d
    """,
)
def ml_linear_regression_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS (price ~ quantity + discount) in ONE partial-
    aggregation pass — 'ML training' as the engine does it without
    MLlib: the 9 normal-equation moments accumulate as exact integers
    in micro-units/cents (order-independent, like agg_corr_exact),
    and Cramer's rule runs as a column expression on the single
    aggregated row — no driver solve, no iteration, bit-identical
    across engines because both evaluate the same IEEE formula on the
    same exact integers.  At 100 TB this is one map-side-combined
    shuffle of 9 numbers; the symmetric-matrix generalization (k²/2
    moments) holds to ~100s of features before QR beats it."""
    li = load_table(spark, sf_dir, "lineitem")
    x1u = F.round(F.col("l_quantity") * 1_000_000).cast("long")
    x2u = F.round(F.col("l_discount") * 1_000_000).cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    u = li.select(x1u.alias("x1u"), x2u.alias("x2u"), yc.alias("yc"))
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x1u").alias("sx1"),
        F.sum("x2u").alias("sx2"),
        F.sum("yc").alias("sy"),
        F.sum(dec(F.col("x1u")) * dec(F.col("x1u"))).alias("sx1x1"),
        F.sum(dec(F.col("x1u")) * dec(F.col("x2u"))).alias("sx1x2"),
        F.sum(dec(F.col("x2u")) * dec(F.col("x2u"))).alias("sx2x2"),
        F.sum(dec(F.col("x1u")) * dec(F.col("yc"))).alias("sx1y"),
        F.sum(dec(F.col("x2u")) * dec(F.col("yc"))).alias("sx2y"),
    )
    d = m.select(
        F.col("n").cast("long").alias("n"),
        F.col("n").cast("double").alias("a11"),
        (F.col("sx1").cast("double") / 1e6).alias("a12"),
        (F.col("sx2").cast("double") / 1e6).alias("a13"),
        (F.col("sx1x1").cast("double") / 1e12).alias("a22"),
        (F.col("sx1x2").cast("double") / 1e12).alias("a23"),
        (F.col("sx2x2").cast("double") / 1e12).alias("a33"),
        (F.col("sy").cast("double") / 1e2).alias("b1"),
        (F.col("sx1y").cast("double") / 1e8).alias("b2"),
        (F.col("sx2y").cast("double") / 1e8).alias("b3"),
    )
    a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
    a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
    b1, b2, b3 = F.col("b1"), F.col("b2"), F.col("b3")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    det0 = (
        b1 * (a22 * a33 - a23 * a23)
        - a12 * (b2 * a33 - a23 * b3)
        + a13 * (b2 * a23 - a22 * b3)
    )
    det1 = (
        a11 * (b2 * a33 - a23 * b3)
        - b1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * b3 - b2 * a13)
    )
    det2 = (
        a11 * (a22 * b3 - b2 * a23)
        - a12 * (a12 * b3 - b2 * a13)
        + b1 * (a12 * a23 - a22 * a13)
    )
    return d.select(
        "n",
        F.round(det0 / det, 6).alias("intercept"),
        F.round(det1 / det, 6).alias("coef_quantity"),
        F.round(det2 / det, 6).alias("coef_discount"),
    )


@query(
    "search_phrase_positions",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    )
    SELECT a.doc_id, CAST(a.pos - 1 AS INT) AS pos
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'value' AND b.tok = 'table'
    """,
)
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search ('value table') over an inverted index
    with positions: posexplode the token stream, filter each phrase
    term's posting list FIRST (the selective step — the filter
    reaches the exploded generator), then adjacency is one equi-join
    on (doc_id, pos+1).  The n-term phrase generalizes to n-1 such
    joins on ever-shrinking posting lists — the IR engine's phrase
    plan, expressed relationally.  Returns every match occurrence
    (doc, 0-based position)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    t1 = toks.filter(F.col("tok") == "value").select("doc_id", "pos")
    t2 = toks.filter(F.col("tok") == "table").select(
        "doc_id", F.col("pos").alias("pos2")
    )
    # adjacency in the JOIN condition (equality on an expression), not
    # a post-join residual: the hash key is (doc_id, pos+1) so a doc
    # with many 'value's never fans out against all its 'table's.
    return t1.join(
        t2, (t1.doc_id == t2.doc_id) & (t2.pos2 == t1.pos + 1)
    ).select(t1.doc_id, F.col("pos").cast("int").alias("pos"))


# ----------------------------------- wave-7: BI composites + statistics


@query(
    "tpch_q18_top_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
               AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 250 * 100
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           {sql_sum_money("o.o_totalprice")} AS total_price, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, b.total_qty
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q18 'large volume customer' shape: HAVING-filtered
    order aggregate (orders whose total quantity exceeds 250) semi-
    driving a customer join, top-20 by price.  The aggregate-then-
    join order matters at scale: the HAVING filter shrinks the fact
    side BEFORE any join, so the join input is the rare-order list,
    not the lineitem table.  Exact integer-cents quantities and
    deterministic tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qc).alias("qty_c"))
        .filter(F.col("qty_c") > 250 * 100)
        .select(
            "l_orderkey",
            (F.col("qty_c").cast("double") / 100).alias("total_qty"),
        )
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .agg(sum_money("o_totalprice").alias("total_price"))
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "total_price", "total_qty",
        )
    )


@query(
    "stat_chi_square",
    oracle="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT seg, prio, n,
             sum(n) OVER (PARTITION BY seg) AS row_n,
             sum(n) OVER (PARTITION BY prio) AS col_n,
             sum(n) OVER () AS all_n
      FROM obs
    )
    SELECT seg, prio, n,
           round(CAST(row_n AS DOUBLE) * col_n / all_n, 6) AS expected,
           round((n - CAST(row_n AS DOUBLE) * col_n / all_n)
                 * (n - CAST(row_n AS DOUBLE) * col_n / all_n)
                 / (CAST(row_n AS DOUBLE) * col_n / all_n), 6)
             AS chi2_term
    FROM tot
    """,
)
def stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of (market segment × order
    priority): per-cell observed vs expected counts and the chi²
    contribution — the contingency-table screen for 'is this
    categorical feature informative / is this split biased'.  One
    partially-aggregated shuffle builds the contingency table; the
    margins are windows over the TINY aggregated table (25 cells),
    never raw rows.  All counts are exact integers; the expected/chi²
    doubles follow one shared formula."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    row_n = F.sum("n").over(W.partitionBy("seg"))
    col_n = F.sum("n").over(W.partitionBy("prio"))
    # bounded global window: input is the |seg| x |prio| contingency
    # frame (tens of rows) — the partition-less WARN is safe by
    # construction
    all_n = F.sum("n").over(W.partitionBy())
    exp = row_n.cast("double") * col_n / all_n
    return obs.select(
        "seg",
        "prio",
        "n",
        F.round(exp, 6).alias("expected"),
        F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias(
            "chi2_term"
        ),
    )


@query(
    "stat_ab_ttest",
    oracle="""
    WITH armed AS (
      SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                            AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(round(o_totalprice * 100) AS BIGINT) AS xc
      FROM orders
    ),
    m AS (
      SELECT arm, count(*) AS n, sum(xc) AS sx, sum(xc * xc) AS sxx
      FROM armed GROUP BY arm
    ),
    s AS (
      SELECT arm, CAST(n AS BIGINT) AS n,
             CAST(sx AS DOUBLE) / (100 * n) AS mean,
             ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1))
               / 10000 AS var
      FROM m
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
           round((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 6) AS t_welch
    FROM s a JOIN s b ON a.arm = 'A' AND b.arm = 'B'
    """,
)
def stat_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-statistic for a hash-split A/B experiment
    (md5 of the order key assigns arms — deterministic, reproducible,
    the engine's standard split device).  Means/variances come from
    exact integer-cents moments per arm (2 rows of reduce state);
    the t formula is one shared IEEE expression.  The experimentation
    primitive: at 100 TB the whole analysis is one partial-agg pass
    + a 2-row join."""
    o = load_table(spark, sf_dir, "orders")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2
        == 0,
        "A",
    ).otherwise("B")
    xc = cents("o_totalprice")
    xdec = xc.cast("decimal(20,0)")
    m = (
        o.select(arm.alias("arm"), xc.alias("xc"), xdec.alias("xd"))
        .groupBy("arm")
        .agg(
            F.count("*").alias("n"),
            F.sum("xc").alias("sx"),
            F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
        )
    )
    mean = F.col("sx").cast("double") / (100 * F.col("n"))
    var = (
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        )
        / (F.col("n") - 1)
    ) / 10000
    s = m.select(
        "arm",
        F.col("n").cast("long").alias("n"),
        mean.alias("mean"),
        var.alias("var"),
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    j = a.crossJoin(b)
    return j.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
            6,
        ).alias("t_welch"),
    )


# --------------------------- wave-8: concentration stats + bit algebra


@query(
    "stat_gini_concentration",
    oracle="""
    WITH r AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc,
             row_number() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                                o_orderkey) AS i,
             count(*) OVER () AS n
      FROM orders
    ),
    m AS (
      SELECT max(n) AS n, sum(xc) AS sx, sum(i * xc) AS six,
             sum(CASE WHEN i > n - n // 10 THEN xc ELSE 0 END) AS top_x
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(2.0 * CAST(six AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
           round(CAST(top_x AS DOUBLE) / CAST(sx AS DOUBLE), 6)
             AS top_decile_share
    FROM m
    """,
)
def stat_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: exact Gini coefficient + top-decile
    share over order totals.  Gini from the rank identity
    G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n with ranks from the DISTRIBUTED
    global_rank (the oracle's `row_number() OVER (ORDER BY …)` +
    `count(*) OVER ()` is the single-reducer replay this avoids).
    Σ(i·x) accumulates exactly in decimal(38,0)/HUGEINT; the closing
    formula is one shared IEEE expression.  The 'does 10% of the
    catalog carry 90% of the value' question every curation/mixture
    design asks — answered in two passes at any scale."""
    from ctgov_ai_etl_spark.operators.limits import global_rank_with_count

    o = load_table(spark, sf_dir, "orders")
    u = o.select(cents("o_totalprice").alias("xc"), "o_orderkey")
    ranked, n = global_rank_with_count(u, ["xc", "o_orderkey"])
    thr = n - n // 10
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ranked.agg(
        F.sum("xc").alias("sx"),
        F.sum(dec(F.col("__pos")) * dec(F.col("xc"))).alias("six"),
        F.sum(F.when(F.col("__pos") > thr, F.col("xc")).otherwise(0)).alias(
            "top_x"
        ),
    )
    n_d = F.lit(float(n))
    return m.select(
        F.lit(n).cast("long").alias("n"),
        F.round(
            F.lit(2.0) * F.col("six").cast("double")
            / (n_d * F.col("sx").cast("double"))
            - (n_d + F.lit(1.0)) / n_d,
            6,
        ).alias("gini"),
        F.round(
            F.col("top_x").cast("double") / F.col("sx").cast("double"), 6
        ).alias("top_decile_share"),
    )


@query(
    "fn_bitwise_family",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS b_and,
           o_orderkey | 4096 AS b_or,
           xor(o_orderkey, 255) AS b_xor,
           o_orderkey << 2 AS b_shl,
           o_orderkey >> 3 AS b_shr,
           CAST(bit_count(o_orderkey) AS INT) AS b_pop
    FROM orders
    """,
)
def fn_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family (and/or/xor/shifts/popcount) — the bit
    algebra the engine's own SimHash, PQ codes, and bucket masks are
    built from, checked directly as a function-parity row.  Pure
    whole-stage-codegen expressions; identical int64 semantics in
    both engines."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("b_and"),
        F.expr("o_orderkey | 4096").alias("b_or"),
        F.expr("o_orderkey ^ 255").alias("b_xor"),
        F.expr("shiftleft(o_orderkey, 2)").alias("b_shl"),
        F.expr("shiftright(o_orderkey, 3)").alias("b_shr"),
        F.bit_count(k).cast("int").alias("b_pop"),
    )


# -------------------------- wave-9: TPC-H Q10/Q14 + the SQL-text surface


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_sum_money("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q10 'returned item reporting' shape: which customers
    returned the most value in a half-year window.  Return-flag and
    date filters both push to the scans; customer/nation broadcast;
    top-20 via TakeOrderedAndProject with a key tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    WITH j AS (
      SELECT p.p_type,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1996-02-01'
    )
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                                       THEN rev_c ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev_c) AS DOUBLE), 6) AS promo_share_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM j
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q14 'promotion effect' shape: the share of one
    month's revenue carried by a part class — conditional-sum /
    total-sum as ONE aggregation pass (no self-join, no second scan),
    both sums in exact cents, one shared division.  Part is the
    broadcast side of the only join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_type", rev_c.alias("rev_c")
    )
    promo = F.sum(F.when(F.col("p_type") == "ECONOMY", F.col("rev_c")).otherwise(0))
    return j.agg(
        F.round(
            F.lit(100.0) * promo.cast("double") / F.sum("rev_c").cast("double"), 6
        ).alias("promo_share_pct"),
        F.count("*").cast("long").alias("n_lines"),
    )


# ONE ANSI string both engines execute VERBATIM: Spark runs it via
# spark.sql over temp views, DuckDB runs the same text as the oracle.
# The strongest possible parity statement for the SQL-text surface —
# there is no translation layer to hide a semantic gap in.
_ANSI_SQL = """
    SELECT n.n_name,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    """


@query("sql_text_star_join", oracle=_ANSI_SQL)
def sql_text_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT API surface: the engine registers the tables as
    views and executes ONE ANSI string — and the oracle is the SAME
    string, character for character, in DuckDB.  No DataFrame
    translation, no dialect shims; Catalyst still pushes the priority
    filter and broadcasts the dimensions exactly as it does for the
    DataFrame twin queries."""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_ANSI_SQL)


# ------------------------------------------- round-9 TPC-H shapes


@query(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate)
                                         + 60 * 86400000000
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in one
    quarter having AT LEAST ONE late line item (shipped > 60 days
    after the order date — adapted to this fixture's columns), counted
    by priority.  The EXISTS subquery plans as a LEFT SEMI join — the
    fact table is filtered by date BEFORE the join (pushed to the
    parquet scan), and the semi join deduplicates matches without a
    distinct shuffle.  Exact int64-microsecond date arithmetic."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.unix_micros("l_shipdate").alias("ship_us")
    )
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("ship_us")
            > F.unix_micros("o_orderdate") + 60 * 86_400_000_000
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND round(l_discount * 100) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one filtered scan,
    one global sum — the purest predicate-pushdown showcase (date
    range, discount band, quantity cap all reach the parquet reader;
    tools/explain_audit.py asserts it).  Revenue = Σ price·discount
    computed as exact integer cents × integer discount-percent (the
    discount lands on a 1% grid — rounding to percent is exact),
    divided once at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & disc_pct.between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        (
            F.sum(cents("l_extendedprice") * disc_pct).cast("double") / 10_000
        ).alias("revenue")
    )


@query(
    "tpch_q13_custdist",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order distribution): how many
    customers placed exactly N orders — INCLUDING the zero-order
    customers a plain inner join silently drops (the left join +
    count(key) is the point of Q13).  Two aggregations: the first
    keyed on custkey (partially aggregated), the second over the tiny
    (count → customers) histogram."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@query(
    "tpch_q17_small_qty",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 700 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND CAST(l.l_quantity AS BIGINT) * 5 * pa.n < pa.sq
    """,
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): line items
    under 20% of their part's average quantity, for one brand.  The
    correlated AVG subquery decorrelates to one per-part aggregate
    joined back (same pattern as filter_correlated_avg); the
    comparison cross-multiplies (qty·5·n < Σqty) so no float average
    exists anywhere.  The brand filter broadcasts the part dimension;
    the per-part aggregate shuffles on the join key it's consumed
    with."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#12"
    )
    pa = li.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sq"),
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, "l_partkey")
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("n") < F.col("sq")
        )
    )
    return joined.agg(
        (F.sum(cents("l_extendedprice")).cast("double") / 700).alias(
            "avg_yearly"
        )
    )


@query(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    an OR of three brand/size/quantity conjunct arms across the
    join — the classic test of whether an optimizer can still push
    the COMMON parts of a disjunction (derivable brand IN-list and
    size/quantity envelopes reach the scans) and evaluate the
    residual after the join.  Revenue = Σ price·(1−discount) in
    exact integer cents × integer percent."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(arm)
    return joined.agg(
        (
            F.sum(cents("l_extendedprice") * (100 - disc_pct)).cast("double")
            / 10_000
        ).alias("revenue")
    )


# ------------------------------------------- wave-10: TPC-H completions
#
# With partsupp absent from the fixture and lineitem lacking
# receipt/commit dates and ship modes, Q2/Q9/Q11/Q12/Q16/Q20/Q21 are
# not expressible; Q7/Q8/Q15/Q22 below complete every
# fixture-expressible TPC-H shape (Q1 = agg_pricing_summary,
# Q3/Q4/Q5/Q6/Q10/Q13/Q14/Q17/Q18/Q19 in earlier waves).


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {sql_sum_money("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue between two trading
    nations, split by direction and ship year.

    Scale story: both nation filters collapse supplier and customer
    to ~2/25 of their rows BEFORE touching the fact spine, so the
    two dimension sides broadcast; the only shuffle is the
    orders⋈lineitem spine join.  The directed-pair disjunction is
    evaluated after the joins on two broadcast-delivered name
    columns — no cartesian, no re-shuffle."""
    pair = ("NATION_1", "NATION_2")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    WITH volumes AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS volume_cents,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           {sql_fdiv(
               "sum(CASE WHEN supp_nation = 'NATION_1' "
               "THEN volume_cents ELSE 0 END) * 1000000",
               "sum(volume_cents)")} AS share_ppm
    FROM volumes
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_1's share of ECONOMY-
    part revenue sold into AMERICA, per order year, in exact ppm.

    Scale story: every dimension (part 1/6, customer-nations-in-
    region 1/5, supplier→nation name) broadcasts; the fact spine
    shuffles once on the orders⋈lineitem key.  The share is a
    conditional sum over ONE aggregation — not two passes joined —
    and the ppm ratio uses the exact fdiv convention so the int64
    numerator (cents × 1e6) never touches a double."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    cust_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    vol = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nat_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(fdiv(nat_vol * 1_000_000, F.sum(vol)).alias("share_ppm"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_cents =
          (SELECT max(total_revenue_cents) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose quarter revenue
    equals the global maximum.

    Scale story: one shuffle aggregates revenue per supplier; the
    global max is a second 1-ROW aggregate of that (tiny) frame,
    broadcast back as a nested-loop filter — never a global sort or
    a single-partition window.  Revenue stays in integer cents end
    to end, so the max-equality join is an exact int64 comparison
    (doubles would make 'equals the max' engine-dependent)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("total_revenue_cents")
        )
    )
    best = revenue.agg(
        F.max("total_revenue_cents").alias("best_cents")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_revenue_cents") == F.col("best_cents"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@query(
    "tpch_q22_idle_rich_customers",
    oracle="""
    WITH pos AS (
      SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_cents,
             count(*) AS cnt
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS totacctbal_cents
    FROM customer c, pos
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.cnt > pos.sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_mktsegment
    """,
)
def tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance and no order since 2000-01-01
    (the fixture's 'lapsed' horizon), counted per market segment
    (the analog of the phone-prefix country code).

    Scale story: the decorrelated scalar subquery is a 1-row
    aggregate broadcast onto the customer scan; 'above average' is
    evaluated as the cross-multiplied integer predicate
    cents·count > sum_cents — no division, so the threshold can
    never straddle a double rounding boundary between engines.  The
    NOT EXISTS is a broadcast/shuffled LEFT ANTI join on c_custkey,
    and the final rollup partially aggregates per segment."""
    c = load_table(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents("c_acctbal")).alias("sum_cents"),
        F.count(F.lit(1)).alias("cnt"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(pos))
        .filter(cents("c_acctbal") * F.col("cnt") > F.col("sum_cents"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(cents("c_acctbal")).alias("totacctbal_cents"),
        )
    )


# ------------------------------------- rank / robust statistics
#
# Both operators run on the DAILY order frame — calendar-sized
# (~2,400 rows at any SF), so the O(days^2) pair stage is
# SF-INDEPENDENT: the data-scale pass is the one groupBy producing
# the daily aggregates; everything after is bounded.

_DAILY_ORDERS_SQL = """
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders
      GROUP BY 1
"""


def _daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        fdiv(F.unix_micros("o_orderdate"), F.lit(_US_PER_DAY)).alias("day")
    ).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(cents("o_totalprice")).cast("long").alias("y"),
    )


@query(
    "stat_kendall_tau",
    oracle=f"""
    WITH d AS ({_DAILY_ORDERS_SQL}),
    pairs AS (
      SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS c,
             CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS dd,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM d a JOIN d b ON a.day < b.day
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_c, CAST(sum(dd) AS BIGINT) AS n_d,
             CAST(sum(tx) AS BIGINT) AS ties_x,
             CAST(sum(ty) AS BIGINT) AS ties_y,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs
    )
    SELECT n_pairs, n_c, n_d, ties_x, ties_y,
           round((CAST(n_c AS DOUBLE) - n_d)
                 / sqrt((CAST(n_pairs AS DOUBLE) - ties_x)
                        * (CAST(n_pairs AS DOUBLE) - ties_y)), 6) AS tau_b
    FROM s
    """,
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between daily order count and
    daily revenue — the robust, outlier-immune sibling of the exact
    Pearson screen (agg_corr_exact): concordant/discordant/tied pair
    counts are EXACT INTEGERS from a self-join of the daily frame,
    and tau enters one shared double expression (sqrt is IEEE
    correctly-rounded, so both engines agree bit-for-bit — unlike
    log/exp, which the repo never compares).  The pair join is
    calendar-bounded (~2,400 days -> ~2.9M pairs REGARDLESS of SF):
    the only data-scale pass is the daily groupBy."""
    d = _daily_orders(spark, sf_dir)
    a, b = d.alias("a"), d.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    pairs = a.join(F.broadcast(b), F.col("a.day") < F.col("b.day")).select(
        F.when(((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1)
        .otherwise(0)
        .alias("c"),
        F.when(((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1)
        .otherwise(0)
        .alias("dd"),
        F.when(ax == bx, 1).otherwise(0).alias("tx"),
        F.when(ay == by, 1).otherwise(0).alias("ty"),
    )
    s = pairs.agg(
        F.sum("c").cast("long").alias("n_c"),
        F.sum("dd").cast("long").alias("n_d"),
        F.sum("tx").cast("long").alias("ties_x"),
        F.sum("ty").cast("long").alias("ties_y"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    tau = F.round(
        (F.col("n_c").cast("double") - F.col("n_d"))
        / F.sqrt(
            (F.col("n_pairs").cast("double") - F.col("ties_x"))
            * (F.col("n_pairs").cast("double") - F.col("ties_y"))
        ),
        6,
    )
    return s.select(
        "n_pairs", "n_c", "n_d", "ties_x", "ties_y", tau.alias("tau_b")
    )


_WEEKLY_ORDERS_SQL = """
      SELECT CAST(epoch_us(o_orderdate) // 604800000000 AS BIGINT) AS wk,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders
      GROUP BY 1
"""


@query(
    "stat_theil_sen",
    oracle=f"""
    WITH d AS ({_WEEKLY_ORDERS_SQL}),
    slopes AS (
      SELECT {sql_fdiv('(b.y - a.y) * 1000000', '(b.wk - a.wk)')}
               AS slope_ppm
      FROM d a JOIN d b ON a.wk < b.wk
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_cont(slope_ppm * 2, 0.5) AS BIGINT)
             AS median_slope_ppm_x2,
           CAST(min(slope_ppm) AS BIGINT) AS min_slope_ppm,
           CAST(max(slope_ppm) AS BIGINT) AS max_slope_ppm
    FROM slopes
    """,
)
def stat_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator for daily revenue: the median
    of all pairwise slopes, immune to outlier days where least
    squares (ml_linear_regression_exact) is not.  Slopes are
    quantized to exact integer micro-units per week via floor
    division (fdiv — identical on both engines), and the median
    follows the doubled-integer convention (percentile of 2*slope is
    an exactly-representable integer even at even pair counts).  The
    frame is WEEKLY (~345 weeks -> ~59k pairs): the exact-percentile
    median is a single-reducer sort, so the daily frame's 2.9M pairs
    billed 12 s at sf0.1 for identical evidence (r11 bench); the
    data-scale pass is the weekly groupBy.  Kendall (stat_kendall_tau)
    keeps the daily frame — its pair stage aggregates map-side."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        fdiv(F.unix_micros("o_orderdate"), F.lit(7 * _US_PER_DAY)).alias(
            "wk"
        )
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("y"))
    a, b = d.alias("a"), d.alias("b")
    slopes = a.join(F.broadcast(b), F.col("a.wk") < F.col("b.wk")).select(
        fdiv(
            (F.col("b.y") - F.col("a.y")) * 1_000_000,
            F.col("b.wk") - F.col("a.wk"),
        ).alias("slope_ppm")
    )
    return slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.percentile(F.col("slope_ppm") * 2, F.lit(0.5))
        .cast("long")
        .alias("median_slope_ppm_x2"),
        F.min("slope_ppm").cast("long").alias("min_slope_ppm"),
        F.max("slope_ppm").cast("long").alias("max_slope_ppm"),
    )


# ------------------------------------------- isotonic calibration


_ISO_BUCKET_CENTS = 6_000_000  # $60k score-bucket width


@query(
    "ml_isotonic_regression",
    oracle=f"""
    WITH raw AS (
      SELECT {sql_fdiv('CAST(round(o_totalprice * 100) AS BIGINT)',
                       str(_ISO_BUCKET_CENTS))} AS bucket,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS hit
      FROM orders
    ),
    b AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(hit) AS BIGINT) AS hits,
             row_number() OVER (ORDER BY bucket) AS rn
      FROM raw GROUP BY bucket
    ),
    pre AS (
      SELECT bucket, n, hits, rn,
             sum(n) OVER (ORDER BY rn) AS cn,
             sum(hits) OVER (ORDER BY rn) AS ch
      FROM b
    ),
    pairs AS (
      SELECT a.rn AS j, z.rn AS k,
             CAST(z.ch - a.ch + a.hits AS DOUBLE)
               / CAST(z.cn - a.cn + a.n AS DOUBLE) AS avg_jk
      FROM pre a JOIN pre z ON a.rn <= z.rn
    ),
    inner_min AS (
      SELECT i.rn AS i, p.j, min(p.avg_jk) AS mn
      FROM b i JOIN pairs p ON p.j <= i.rn AND p.k >= i.rn
      GROUP BY i.rn, p.j
    ),
    fit AS (SELECT i, max(mn) AS iso FROM inner_min GROUP BY i)
    SELECT b.bucket AS bucket, b.n AS n, b.hits AS hits,
           round(CAST(b.hits AS DOUBLE) / b.n, 6) AS raw_rate,
           round(f.iso, 6) AS iso_rate
    FROM b JOIN fit f ON f.i = b.rn
    """,
)
def ml_isotonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of an empirical
    rate curve — the classifier-calibration op every training
    pipeline needs before thresholding scores: bucket the score
    (total price, exact-cents bands), take the empirical hit rate
    per bucket, and fit via the minimax characterization
    iso(i) = max over j<=i of min over k>=i of avg(rate over j..k) —
    computed DECLARATIVELY as two bounded joins + two aggregates on
    the |buckets| frame (~100 rows at any SF; the (i,j,k) expansion
    is ~170k tiny rows), engine and oracle running the IDENTICAL
    formula so no PAVA-vs-minimax float-boundary risk exists.  Block
    averages are double divisions of exact integer prefix sums —
    IEEE-identical on both engines.  The only data-scale pass is the
    bucket groupBy; at 100 TB the curve still has ~100 points."""
    o = load_table(spark, sf_dir, "orders")
    raw = o.select(
        fdiv(cents("o_totalprice"), F.lit(_ISO_BUCKET_CENTS)).alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("hit"),
    )
    b = (
        raw.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("hit").cast("long").alias("hits"),
        )
        .select(
            "bucket",
            "n",
            "hits",
            F.row_number().over(W.orderBy("bucket")).alias("rn"),
        )
    )
    wp = W.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow)
    # bounded global windows: the bucket frame is ~100 rows at any SF
    pre = b.select(
        "bucket",
        "n",
        "hits",
        "rn",
        F.sum("n").over(wp).alias("cn"),
        F.sum("hits").over(wp).alias("ch"),
    )
    a, z = pre.alias("a"), pre.alias("z")
    pairs = a.join(
        F.broadcast(z), F.col("a.rn") <= F.col("z.rn")
    ).select(
        F.col("a.rn").alias("j"),
        F.col("z.rn").alias("k"),
        (
            (F.col("z.ch") - F.col("a.ch") + F.col("a.hits")).cast("double")
            / (F.col("z.cn") - F.col("a.cn") + F.col("a.n")).cast("double")
        ).alias("avg_jk"),
    )
    inner_min = (
        b.select(F.col("rn").alias("i"))
        .join(
            F.broadcast(pairs),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("mn"))
    )
    fit = inner_min.groupBy("i").agg(F.max("mn").alias("iso"))
    return (
        b.join(F.broadcast(fit), b.rn == fit.i)
        .select(
            "bucket",
            "n",
            "hits",
            F.round(F.col("hits").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round(F.col("iso"), 6).alias("iso_rate"),
        )
    )


# --------------------------------------- time-series motif discovery


_MOTIF_M = 7  # window length (days)
_MOTIF_TOPK = 5


@query(
    "ts_motif_ssd",
    oracle=f"""
    WITH d AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM d
    ),
    win AS (
      SELECT rn, day,
             list(x) OVER (ORDER BY rn
                           ROWS BETWEEN CURRENT ROW
                           AND {_MOTIF_M - 1} FOLLOWING) AS w
      FROM idx
      QUALIFY rn <= (SELECT max(rn) FROM idx) - {_MOTIF_M - 1}
    ),
    ssd AS (
      SELECT a.day AS day_a, b.day AS day_b,
             CAST(list_aggregate(
               list_transform(range(1, {_MOTIF_M + 1}),
                 t -> (a.w[CAST(t AS INT)] - b.w[CAST(t AS INT)])
                      * (a.w[CAST(t AS INT)] - b.w[CAST(t AS INT)])),
               'sum') AS BIGINT) AS ssd
      FROM win a JOIN win b ON b.rn >= a.rn + {_MOTIF_M}
    )
    SELECT day_a, day_b, ssd,
           CAST(row_number() OVER (ORDER BY ssd, day_a, day_b) AS INT) AS rk
    FROM ssd
    ORDER BY ssd, day_a, day_b LIMIT {_MOTIF_TOPK}
    """,
)
def ts_motif_ssd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series MOTIF DISCOVERY (the matrix-profile question —
     'which two non-overlapping weeks look most alike?'): slide a
    {_MOTIF_M}-day window over the daily order-count series, compare
    every non-overlapping window pair by exact integer
    sum-of-squared-differences, and return the top-{_MOTIF_TOPK}
    closest pairs with deterministic (ssd, day_a, day_b) ranking.
    Windows materialize as {_MOTIF_M} FLAT lead columns (not arrays:
    the per-pair zip_with lambda billed 3x the flat codegen multiply
    chain at sf0.1 — r11 bench), so the SSD is {_MOTIF_M} scalar
    multiply-adds inside whole-stage codegen.  The pair stage is
    calendar-bounded (~2.9M pairs at ANY corpus size — the
    data-scale pass is the daily groupBy), and the final top-k is a
    TakeOrderedAndProject, not a global sort."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        fdiv(F.unix_micros("o_orderdate"), F.lit(_US_PER_DAY)).alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    # bounded global windows: daily frame, calendar-sized (~2,400)
    idx = d.select(
        "day", "x", F.row_number().over(W.orderBy("day")).alias("rn")
    )
    wl = W.orderBy("rn")
    nmax = idx.agg(F.max("rn").alias("mx"))
    win = (
        idx.select(
            "rn",
            "day",
            F.col("x").alias("w0"),
            *[
                F.lead("x", t).over(wl).alias(f"w{t}")
                for t in range(1, _MOTIF_M)
            ],
        )
        .crossJoin(F.broadcast(nmax))
        .filter(F.col("rn") <= F.col("mx") - (_MOTIF_M - 1))
        .drop("mx")
    )
    a, b = win.alias("a"), win.alias("b")
    terms = [
        (F.col(f"a.w{t}") - F.col(f"b.w{t}"))
        * (F.col(f"a.w{t}") - F.col(f"b.w{t}"))
        for t in range(_MOTIF_M)
    ]
    ssd_expr = terms[0]
    for t in terms[1:]:
        ssd_expr = ssd_expr + t
    ssd = a.join(
        F.broadcast(b), F.col("b.rn") >= F.col("a.rn") + _MOTIF_M
    ).select(
        F.col("a.day").alias("day_a"),
        F.col("b.day").alias("day_b"),
        ssd_expr.cast("long").alias("ssd"),
    )
    top = ssd.orderBy("ssd", "day_a", "day_b").limit(_MOTIF_TOPK)
    return top.select(
        "day_a",
        "day_b",
        "ssd",
        F.row_number()
        .over(W.orderBy("ssd", "day_a", "day_b"))
        .cast("int")
        .alias("rk"),
    )


# ------------------------------- binary-segmentation changepoints


@query(
    "ts_changepoint_binseg",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM d),
    pre AS (
      SELECT rn, day, sum(x) OVER (ORDER BY rn) AS sx,
             (SELECT max(rn) FROM idx) AS n,
             (SELECT sum(x) FROM idx) AS sxn
      FROM idx
    ),
    c1 AS (
      SELECT rn, day,
             CAST(n * sx - rn * sxn AS DOUBLE)
               * CAST(n * sx - rn * sxn AS DOUBLE)
               / (CAST(rn AS DOUBLE) * (n - rn)) AS score
      FROM pre WHERE rn < n
      ORDER BY score DESC, rn LIMIT 1
    ),
    lseg AS (
      SELECT p.rn, p.day, s1.rn AS m,
             (SELECT sx FROM pre WHERE rn = s1.rn) AS sxm
      FROM pre p CROSS JOIN c1 s1 WHERE p.rn < s1.rn
    ),
    c2 AS (
      SELECT rn, day,
             CAST(m * sx_local - rn * sxm AS DOUBLE)
               * CAST(m * sx_local - rn * sxm AS DOUBLE)
               / (CAST(rn AS DOUBLE) * (m - rn)) AS score
      FROM (SELECT l.rn, l.day, l.m, l.sxm,
                   (SELECT sx FROM pre WHERE rn = l.rn) AS sx_local
            FROM lseg l)
      ORDER BY score DESC, rn LIMIT 1
    ),
    rseg AS (
      SELECT p.rn, p.day, p.n, p.sxn, s1.rn AS m,
             (SELECT sx FROM pre WHERE rn = s1.rn) AS sxm,
             p.sx
      FROM pre p CROSS JOIN c1 s1 WHERE p.rn > s1.rn AND p.rn < p.n
    ),
    c3 AS (
      SELECT rn, day,
             CAST((n - m) * (sx - sxm) - (rn - m) * (sxn - sxm) AS DOUBLE)
               * CAST((n - m) * (sx - sxm) - (rn - m) * (sxn - sxm)
                      AS DOUBLE)
               / (CAST(rn - m AS DOUBLE) * (n - rn)) AS score
      FROM rseg
      ORDER BY score DESC, rn LIMIT 1
    )
    SELECT 1 AS level, 'full' AS segment, day AS split_day,
           round(score, 6) AS score FROM c1
    UNION ALL
    SELECT 2, 'left', day, round(score, 6) FROM c2
    UNION ALL
    SELECT 2, 'right', day, round(score, 6) FROM c3
    """,
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection by BINARY SEGMENTATION (depth 2) on the
    daily order-count series: the level-1 split maximizes the
    between-segment CUSUM statistic (n*Sx_s - s*Sx_n)^2 / (s*(n-s)) —
    the deviation term is an EXACT int64 cross product (no running
    means), entering one double expression with identical operation
    order on both engines — then each half is split again by the
    same segment-local statistic.  Where anomaly_cusum flags points,
    this finds the structural breaks a retraining scheduler keys on.
    Every frame after the daily groupBy is calendar-bounded, the
    argmaxes are TakeOrderedAndProject top-1s with deterministic
    (score, rn) tie-breaks."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        fdiv(F.unix_micros("o_orderdate"), F.lit(_US_PER_DAY)).alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    # bounded global windows: daily frame, calendar-sized (~2,400)
    idx = d.select(
        "day", "x", F.row_number().over(W.orderBy("day")).alias("rn")
    )
    wp = W.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow)
    tots = idx.agg(
        F.max("rn").alias("n"), F.sum("x").cast("long").alias("sxn")
    )
    from ctgov_ai_etl_spark.operators import cache as _cache

    # tracked persist (repo convention): the prefix frame feeds four
    # downstream top-1s; calendar-sized, released via release_all()
    pre = _cache.track(
        idx.select("rn", "day", F.sum("x").over(wp).alias("sx"))
        .crossJoin(F.broadcast(tots))
        .persist()
    )

    def score_col(dev, lo, hi):
        return (
            dev.cast("double")
            * dev.cast("double")
            / (lo.cast("double") * hi)
        )

    c1 = (
        pre.filter(F.col("rn") < F.col("n"))
        .select(
            "rn",
            "day",
            score_col(
                F.col("n") * F.col("sx") - F.col("rn") * F.col("sxn"),
                F.col("rn"),
                F.col("n") - F.col("rn"),
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "rn")
        .limit(1)
    )
    s1 = c1.select(
        F.col("rn").alias("m"), F.col("day").alias("m_day")
    ).join(pre.select(F.col("rn").alias("m"), F.col("sx").alias("sxm")), "m")
    c2 = (
        pre.crossJoin(F.broadcast(s1))
        .filter(F.col("rn") < F.col("m"))
        .select(
            "rn",
            "day",
            score_col(
                F.col("m") * F.col("sx") - F.col("rn") * F.col("sxm"),
                F.col("rn"),
                F.col("m") - F.col("rn"),
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "rn")
        .limit(1)
    )
    c3 = (
        pre.crossJoin(F.broadcast(s1))
        .filter((F.col("rn") > F.col("m")) & (F.col("rn") < F.col("n")))
        .select(
            "rn",
            "day",
            score_col(
                (F.col("n") - F.col("m")) * (F.col("sx") - F.col("sxm"))
                - (F.col("rn") - F.col("m"))
                * (F.col("sxn") - F.col("sxm")),
                F.col("rn") - F.col("m"),
                F.col("n") - F.col("rn"),
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "rn")
        .limit(1)
    )

    def shape(df, level, seg):
        return df.select(
            F.lit(level).cast("int").alias("level"),
            F.lit(seg).alias("segment"),
            F.col("day").alias("split_day"),
            F.round("score", 6).alias("score"),
        )

    out = (
        shape(c1, 1, "full")
        .unionAll(shape(c2, 2, "left"))
        .unionAll(shape(c3, 2, "right"))
    )
    return out


# ----------------------------------------------- decision stump


_STUMP_BUCKET_CENTS = 3_000_000  # $30k feature buckets


@query(
    "ml_decision_stump",
    oracle=f"""
    WITH raw AS (
      SELECT {sql_fdiv('CAST(round(o_totalprice * 100) AS BIGINT)',
                       str(_STUMP_BUCKET_CENTS))} AS bucket,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    b AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS p
      FROM raw GROUP BY bucket
    ),
    pre AS (
      SELECT bucket,
             sum(n) OVER (ORDER BY bucket) AS nl,
             sum(p) OVER (ORDER BY bucket) AS pl,
             (SELECT sum(n) FROM b) AS nt,
             (SELECT sum(p) FROM b) AS pt
      FROM b
    ),
    cand AS (
      SELECT bucket, nl, pl, nt - nl AS nr, pt - pl AS pr,
             CAST(pl * (nl - pl) AS DOUBLE) / nl
               + CAST((pt - pl) * ((nt - nl) - (pt - pl)) AS DOUBLE)
                 / (nt - nl) AS half_gini_x_n
      FROM pre WHERE nl < nt
    ),
    best AS (
      SELECT * FROM cand ORDER BY half_gini_x_n, bucket LIMIT 1
    )
    SELECT bucket AS split_bucket,
           CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
           CAST(nr AS BIGINT) AS n_right, CAST(pr AS BIGINT) AS pos_right,
           round(2 * half_gini_x_n / (nl + nr), 6) AS weighted_gini,
           round(2 * CAST((pl + pr) AS DOUBLE) * ((nl + nr) - (pl + pr))
                 / (CAST(nl + nr AS DOUBLE) * (nl + nr)), 6) AS root_gini
    FROM best
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump induction (the depth-1 CART split every
    feature-importance screen and gradient-boosting round runs):
    bucket the feature (total price, exact-cents bands), scan every
    split threshold via CUMULATIVE class counts, and pick the split
    minimizing weighted Gini impurity — the per-candidate score keeps
    pos*neg cross products as EXACT integers and divides once per
    side in double with fixed operation order, so the argmin (with
    deterministic tie-break) matches the oracle bit-for-bit.  One
    data-scale groupBy to the ~200-bucket frame; the candidate scan
    is two bounded windows + a TakeOrdered top-1.  At 100 TB the
    histogram-based split search is exactly how XGBoost/LightGBM
    scale out."""
    o = load_table(spark, sf_dir, "orders")
    raw = o.select(
        fdiv(cents("o_totalprice"), F.lit(_STUMP_BUCKET_CENTS)).alias(
            "bucket"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    b = raw.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    # bounded global windows: bucket frame, ~200 rows at any SF
    wp = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    tots = b.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("p").cast("long").alias("pt"),
    )
    pre = b.select(
        "bucket",
        F.sum("n").over(wp).alias("nl"),
        F.sum("p").over(wp).alias("pl"),
    ).crossJoin(F.broadcast(tots))
    nl, pl = F.col("nl"), F.col("pl")
    nr, pr = F.col("nt") - nl, F.col("pt") - pl
    half = (pl * (nl - pl)).cast("double") / nl + (pr * (nr - pr)).cast(
        "double"
    ) / nr
    cand = pre.filter(nl < F.col("nt")).select(
        "bucket",
        nl.alias("nl"),
        pl.alias("pl"),
        nr.alias("nr"),
        pr.alias("pr"),
        half.alias("half_gini_x_n"),
    )
    best = cand.orderBy("half_gini_x_n", "bucket").limit(1)
    ntot = F.col("nl") + F.col("nr")
    ptot = F.col("pl") + F.col("pr")
    return best.select(
        F.col("bucket").alias("split_bucket"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.col("nr").alias("n_right"),
        F.col("pr").alias("pos_right"),
        F.round(2 * F.col("half_gini_x_n") / ntot, 6).alias("weighted_gini"),
        F.round(
            2 * ptot.cast("double") * (ntot - ptot)
            / (ntot.cast("double") * ntot),
            6,
        ).alias("root_gini"),
    )


# ----------------------------------------------- CUPED adjustment


_CUPED_SPLIT_DAYS = 15


@query(
    "stat_cuped",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL
    ),
    d0 AS (SELECT min(day) AS day0 FROM ev),
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN day < day0 + {_CUPED_SPLIT_DAYS}
                           THEN cents ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN day >= day0 + {_CUPED_SPLIT_DAYS}
                           THEN cents ELSE 0 END) AS BIGINT) AS y
      FROM ev CROSS JOIN d0 GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM per_user
    ),
    th AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
             CAST(sx AS DOUBLE) / n AS mx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS rho2
      FROM m
    ),
    v AS (
      SELECT CAST(user_id % 2 AS INT) AS variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS sx_v,
             CAST(sum(y) AS BIGINT) AS sy_v
      FROM per_user GROUP BY user_id % 2
    )
    SELECT v.variant, v.n_users,
           round(CAST(v.sy_v AS DOUBLE) / v.n_users / 100, 6) AS mean_y,
           round((CAST(v.sy_v AS DOUBLE)
                  - th.theta * CAST(v.sx_v AS DOUBLE)
                  + CAST(v.n_users AS DOUBLE) * th.theta * th.mx)
                 / v.n_users / 100, 6) AS mean_y_cuped,
           round(th.rho2 * 1000000) / 1000000 AS var_reduction
    FROM v CROSS JOIN th
    """,
)
def stat_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the
    experimentation-platform standard): per-user pre-period spend is
    the covariate, experiment-period spend the metric;
    theta = cov(x,y)/var(x) from EXACT integer cross products
    (n*sxy - sx*sy over HUGEINT/decimal — no running float means),
    and each variant reports its raw vs CUPED-adjusted mean plus the
    theoretical variance reduction rho^2.  One data-scale groupBy to
    per-user sums; moments and adjustment are a 1-row broadcast.  At
    100 TB this is how every A/B platform doubles its effective
    sample size."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = fdiv(F.unix_micros("ts"), F.lit(_US_PER_DAY))
    e = ev.select(
        "user_id", day.alias("day"), cents("value").alias("cents")
    )
    d0 = e.agg(F.min("day").alias("day0"))
    pu = (
        e.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("day") < F.col("day0") + _CUPED_SPLIT_DAYS,
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("day") >= F.col("day0") + _CUPED_SPLIT_DAYS,
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = pu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    cnum = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    th = m.select(
        (cnum / vx).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (cnum * cnum / (vx * vy)).alias("rho2"),
    )
    # Per-variant EXACT integer sums (longs — order-free), then ONE
    # fixed-order scalar double expression mirrored in the oracle:
    # (Sy - theta*Sx + nv*theta*mx) / nv / 100.  Summing the adjusted
    # doubles directly would be accumulation-order-dependent in both
    # engines (flaky 6-dp hash).
    out = (
        pu.groupBy(
            F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("variant")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("sx_v"),
            F.sum("y").cast("long").alias("sy_v"),
        )
        .crossJoin(F.broadcast(th))
        .select(
            "variant",
            "n_users",
            F.round(
                F.col("sy_v").cast("double") / F.col("n_users") / 100, 6
            ).alias("mean_y"),
            F.round(
                (
                    F.col("sy_v").cast("double")
                    - F.col("theta") * F.col("sx_v").cast("double")
                    + F.col("n_users").cast("double")
                    * F.col("theta")
                    * F.col("mx")
                )
                / F.col("n_users")
                / 100,
                6,
            ).alias("mean_y_cuped"),
            (F.round(F.col("rho2") * 1_000_000) / 1_000_000).alias(
                "var_reduction"
            ),
        )
    )
    return out


# ------------------------------------------ Nelson-Aalen hazard


@query(
    "survival_nelson_aalen",
    oracle="""
    WITH t0 AS (
      SELECT user_id, min(epoch_us(ts)) AS start_us
      FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
      GROUP BY user_id
    ),
    horizon AS (
      SELECT max(epoch_us(ts)) AS h FROM events WHERE ts IS NOT NULL
    ),
    ev AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS event_us
      FROM events e JOIN t0 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t0.start_us
      GROUP BY e.user_id
    ),
    subj AS (
      SELECT t0.user_id,
             coalesce(ev.event_us, horizon.h) - t0.start_us AS dur_us,
             CASE WHEN ev.event_us IS NULL THEN 0 ELSE 1 END AS observed
      FROM t0 LEFT JOIN ev USING (user_id) CROSS JOIN horizon
    ),
    grid AS (
      SELECT dur_us,
             CAST(sum(observed) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM subj GROUP BY dur_us
    ),
    risk AS (
      SELECT dur_us, d,
             CAST((SELECT count(*) FROM subj) -
                  coalesce(sum(leaving) OVER
                    (ORDER BY dur_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT dur_us, d, n_risk,
           round(sum(CAST(d AS DOUBLE) / n_risk) OVER
                   (ORDER BY dur_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS cum_hazard,
           round(sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
                   OVER (ORDER BY dur_us
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS hazard_var
    FROM risk WHERE d > 0
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — the ADDITIVE sibling
    of the Kaplan-Meier curve (survival_km): time from first signup
    to first subsequent purchase, right-censored at the horizon;
    H(t) = sum over event times <= t of d_i/n_i and its variance
    estimate sum d_i/n_i^2.  Hazards accumulate as running sums of
    identical IEEE doubles in the same ascending-duration frame order
    on both engines.  The risk-set grid is bounded by the subject
    count (two partially-aggregated keyed passes at data scale; the
    windows run on the compressed grid)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ts_us = F.unix_micros(F.col("ts"))
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("start_us"))
    )
    horizon = ev.agg(F.max(ts_us).alias("h"))
    err = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", ts_us.alias("e_us"))
        .join(t0, "user_id")
        .filter(F.col("e_us") > F.col("start_us"))
        .groupBy("user_id")
        .agg(F.min("e_us").alias("event_us"))
    )
    subj = (
        t0.join(err, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            (
                F.coalesce(F.col("event_us"), F.col("h"))
                - F.col("start_us")
            ).alias("dur_us"),
            F.when(F.col("event_us").isNull(), 0).otherwise(1).alias(
                "observed"
            ),
        )
    )
    n_subj = subj.agg(F.count("*").cast("long").alias("n_all"))
    grid = subj.groupBy("dur_us").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    # bounded global windows: the grid is compressed to distinct
    # durations (subject-bounded), not data-sized
    w_prev = W.orderBy("dur_us").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.orderBy("dur_us").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = grid.crossJoin(F.broadcast(n_subj)).select(
        "dur_us",
        "d",
        (
            F.col("n_all")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    return risk.select(
        "dur_us",
        "d",
        "n_risk",
        F.round(
            F.sum(F.col("d").cast("double") / F.col("n_risk")).over(w_run), 6
        ).alias("cum_hazard"),
        F.round(
            F.sum(
                F.col("d").cast("double")
                / (F.col("n_risk").cast("double") * F.col("n_risk"))
            ).over(w_run),
            6,
        ).alias("hazard_var"),
    ).filter(F.col("d") > 0)


# ----------------------------------------------------- ROC curve


_ROC_BUCKET_CENTS = 3_000_000


@query(
    "ml_roc_curve",
    oracle=f"""
    WITH raw AS (
      SELECT {sql_fdiv('CAST(round(o_totalprice * 100) AS BIGINT)',
                       str(_ROC_BUCKET_CENTS))} AS bucket,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    b AS (
      SELECT bucket, CAST(sum(pos) AS BIGINT) AS p,
             CAST(count(*) - sum(pos) AS BIGINT) AS q
      FROM raw GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(p) AS BIGINT) AS np,
                   CAST(sum(q) AS BIGINT) AS nq FROM b),
    cum AS (
      -- predict positive when bucket >= threshold: cumulate DESC
      SELECT bucket,
             sum(p) OVER (ORDER BY bucket DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS tp,
             sum(q) OVER (ORDER BY bucket DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS fp
      FROM b
    ),
    steps AS (
      SELECT bucket, tp, fp,
             coalesce(lag(tp) OVER (ORDER BY bucket DESC), 0) AS tp0,
             coalesce(lag(fp) OVER (ORDER BY bucket DESC), 0) AS fp0
      FROM cum
    ),
    auc AS (
      SELECT CAST(sum(CAST(fp - fp0 AS HUGEINT) * (tp + tp0))
                  AS HUGEINT) AS tz
      FROM steps
    )
    SELECT s.bucket AS threshold_bucket,
           CAST(s.tp AS BIGINT) AS tp, CAST(s.fp AS BIGINT) AS fp,
           {sql_fdiv('s.tp * 1000000', 't.np')} AS tpr_ppm,
           {sql_fdiv('s.fp * 1000000', 't.nq')} AS fpr_ppm,
           round(CAST(a.tz AS DOUBLE)
                 / (2.0 * t.np * t.nq), 6) AS auc
    FROM steps s CROSS JOIN tot t CROSS JOIN auc a
    """,
)
def ml_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve + AUC for a bucketed score (the model-eval op every
    training pipeline runs before shipping a classifier): thresholds
    are the observed score buckets, TP/FP counts cumulate in
    DESCENDING score order, rates are exact integer ppm, and the AUC
    is the trapezoid sum computed ENTIRELY in integers —
    sum((fp_i - fp_i-1) * (tp_i + tp_i-1)) / (2 * n_pos * n_neg) —
    one double division at the end (the rank-sum identity ties this
    to stat_mann_whitney; the curve is what that test can't give).
    One data-scale groupBy to the bucket histogram; windows run on
    the ~200-row threshold frame."""
    o = load_table(spark, sf_dir, "orders")
    raw = o.select(
        fdiv(cents("o_totalprice"), F.lit(_ROC_BUCKET_CENTS)).alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    b = raw.groupBy("bucket").agg(
        F.sum("pos").cast("long").alias("p"),
        (F.count("*") - F.sum("pos")).cast("long").alias("q"),
    )
    tot = b.agg(
        F.sum("p").cast("long").alias("np"),
        F.sum("q").cast("long").alias("nq"),
    )
    # bounded global windows: threshold frame, ~200 rows at any SF
    wd = W.orderBy(F.col("bucket").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = b.select(
        "bucket",
        F.sum("p").over(wd).alias("tp"),
        F.sum("q").over(wd).alias("fp"),
    )
    wl = W.orderBy(F.col("bucket").desc())
    steps = cum.select(
        "bucket",
        "tp",
        "fp",
        F.coalesce(F.lag("tp").over(wl), F.lit(0)).alias("tp0"),
        F.coalesce(F.lag("fp").over(wl), F.lit(0)).alias("fp0"),
    )
    auc = steps.agg(
        F.sum(
            (F.col("fp") - F.col("fp0")).cast("decimal(38,0)")
            * (F.col("tp") + F.col("tp0"))
        ).alias("tz")
    )
    return (
        steps.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(auc))
        .select(
            F.col("bucket").alias("threshold_bucket"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            fdiv(F.col("tp") * 1_000_000, F.col("np")).alias("tpr_ppm"),
            fdiv(F.col("fp") * 1_000_000, F.col("nq")).alias("fpr_ppm"),
            F.round(
                F.col("tz").cast("double")
                / (F.lit(2.0) * F.col("np") * F.col("nq")),
                6,
            ).alias("auc"),
        )
    )


# ------------------------------------------- calibration (ECE)


@query(
    "ml_calibration_ece",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(('0x' || substring(md5('conf:' ||
                   CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000001 AS conf_ppm,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    b AS (
      SELECT {sql_fdiv('conf_ppm', '100000')} AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS hits,
             CAST(sum(conf_ppm) AS BIGINT) AS conf_sum
      FROM scored GROUP BY 1
    ),
    e AS (
      SELECT bin, n, hits,
             {sql_fdiv('hits * 1000000', 'n')} AS acc_ppm,
             {sql_fdiv('conf_sum', 'n')} AS conf_ppm
      FROM b
    )
    SELECT bin, n, hits, acc_ppm, conf_ppm,
           CAST(abs(acc_ppm - conf_ppm) AS BIGINT) AS gap_ppm,
           CAST({sql_fdiv('sum(CAST(n AS HUGEINT) * abs(acc_ppm - conf_ppm)) OVER ()',
                          'sum(n) OVER ()')} AS BIGINT) AS ece_ppm
    FROM e
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the companion metric to
    ml_isotonic_regression: bin a predicted probability (md5-derived
    deterministic confidence in ppm), compare each bin's empirical
    hit rate to its mean confidence, and weight the |gap| by bin
    mass.  EVERYTHING stays in exact integer ppm (fdiv) — acc, conf,
    gap, and the final n-weighted ECE — so the audit is bit-portable
    across engines and rerun-stable.  One data-scale groupBy to 10
    bins; the rest is window algebra on the bin frame (bounded
    global window: 11 rows)."""
    o = load_table(spark, sf_dir, "orders")
    conf = F.pmod(
        portable_hash60(F.col("o_orderkey"), salt="conf"), F.lit(1_000_001)
    )
    scored = o.select(
        conf.alias("conf_ppm"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    b = scored.groupBy(fdiv(F.col("conf_ppm"), F.lit(100_000)).alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("hits"),
        F.sum("conf_ppm").cast("long").alias("conf_sum"),
    )
    e = b.select(
        "bin",
        "n",
        "hits",
        fdiv(F.col("hits") * 1_000_000, F.col("n")).alias("acc_ppm"),
        fdiv(F.col("conf_sum"), F.col("n")).alias("conf_ppm"),
    )
    # bounded global window: the bin frame is 11 rows
    wg = W.partitionBy()
    gap = F.abs(F.col("acc_ppm") - F.col("conf_ppm"))
    return e.select(
        "bin",
        "n",
        "hits",
        "acc_ppm",
        "conf_ppm",
        gap.cast("long").alias("gap_ppm"),
        fdiv(
            F.sum(F.col("n").cast("decimal(38,0)") * gap).over(wg),
            F.sum("n").over(wg),
        )
        .cast("long")
        .alias("ece_ppm"),
    )


# ------------------------------------------ power / MDE analysis

# Normal quantiles computed ONCE here and injected into both engines
# as literals (exactness convention: two libm erf implementations are
# not bit-contracted).  z_{0.975} for alpha=5% two-sided, z_{0.8} for
# 80% power.
_Z_ALPHA = 1.959963984540054
_Z_POWER = 0.8416212335729143
_POWER_NS = (1_000, 10_000, 100_000)


@query(
    "stat_power_mde",
    oracle=f"""
    WITH u AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc FROM orders
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS HUGEINT) AS sx,
             CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS sxx
      FROM u
    ),
    v AS (
      SELECT CAST(m.n AS BIGINT) AS n_obs,
             (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
               / (CAST(m.n AS DOUBLE) * (m.n - 1)) AS var_cents2
      FROM m
    )
    SELECT v.n_obs,
           CAST(g.n_arm AS BIGINT) AS n_per_arm,
           round(sqrt(v.var_cents2) / 100, 6) AS sd_dollars,
           round(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt(2 * v.var_cents2 / g.n_arm) / 100, 6)
             AS mde_dollars
    FROM v CROSS JOIN (SELECT unnest([{", ".join(str(n) for n in _POWER_NS)}])
                       AS n_arm) g
    """,
)
def stat_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the minimal detectable effect for a
    two-arm test at alpha=5% / power=80% across candidate arm sizes —
    mde = (z_a + z_b) * sqrt(2 sigma^2 / n).  The variance comes from
    EXACT integer moments (n*sxx - sx^2 in HUGEINT/decimal), the
    normal quantiles are shared literals (transcendental-constant
    convention — two libm erfs are not bit-contracted), and sqrt is
    IEEE-correctly-rounded, so both engines agree bit-for-bit.  One
    data-scale aggregate; the sizing grid is a 3-row literal frame.
    Pairs with stat_cuped: CUPED shrinks sigma, this prices it."""
    o = load_table(spark, sf_dir, "orders")
    u = o.select(cents("o_totalprice").alias("xc"))
    dec = F.col("xc").cast("decimal(38,0)")
    m = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xc").cast("decimal(38,0)").alias("sx"),
        F.sum(dec * F.col("xc")).alias("sxx"),
    )
    v = m.select(
        F.col("n").cast("long").alias("n_obs"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("var_cents2"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(n) for n in _POWER_NS])
        ).alias("n_arm")
    )
    return v.crossJoin(F.broadcast(grid)).select(
        "n_obs",
        F.col("n_arm").cast("long").alias("n_per_arm"),
        F.round(F.sqrt(F.col("var_cents2")) / 100, 6).alias("sd_dollars"),
        F.round(
            F.lit(_Z_ALPHA + _Z_POWER)
            * F.sqrt(2 * F.col("var_cents2") / F.col("n_arm"))
            / 100,
            6,
        ).alias("mde_dollars"),
    )


# --------------------------------------- time-decay attribution


_DECAY_WINDOW_DAYS = 7


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL
    ),
    conv AS (
      SELECT user_id, event_id AS conv_id, day AS conv_day, cents
      FROM ev WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             day AS touch_day
      FROM ev WHERE event_type <> 'purchase'
    ),
    pairs AS (
      SELECT c.conv_id, c.cents, t.touch_id, t.touch_type,
             CAST(CASE WHEN {_DECAY_WINDOW_DAYS} - (c.conv_day - t.touch_day)
                       BETWEEN 0 AND {_DECAY_WINDOW_DAYS}
                  THEN 1 << CAST({_DECAY_WINDOW_DAYS}
                                 - (c.conv_day - t.touch_day) AS INT)
                  ELSE 0 END AS BIGINT) AS w
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.touch_day <= c.conv_day
       AND t.touch_day >= c.conv_day - {_DECAY_WINDOW_DAYS}
    ),
    tot AS (
      SELECT conv_id, CAST(sum(w) AS BIGINT) AS wsum FROM pairs
      GROUP BY conv_id
    )
    SELECT p.touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum({sql_fdiv('p.cents * p.w', 't.wsum')}) AS BIGINT)
             AS credited_cents
    FROM pairs p JOIN tot t USING (conv_id)
    WHERE t.wsum > 0 AND p.w > 0
    GROUP BY p.touch_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY attribution — the third standard model beside
    last-touch and linear (attribution_last_touch/_linear): each
    purchase credits its preceding-week touches with weight halving
    per day of age.  Weights are DYADIC (1 << (window - age)) so they
    stay exact int64, and each touch's credit is the exact floor
    division cents*w // sum(w) — no float decay curve to disagree
    on.  The pair stage is a user-keyed join with a calendar-bounded
    fanout (7-day lookback); credits aggregate partially by touch
    type.  The floor-division remainder (< n_touches cents per
    conversion) is deliberately unassigned — deterministic on both
    engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        fdiv(F.unix_micros("ts"), F.lit(_US_PER_DAY)).alias("day"),
        cents("value").alias("cents"),
    )
    conv = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("day").alias("conv_day"),
        "cents",
    )
    touch = base.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("day").alias("touch_day"),
    )
    age = F.col("conv_day") - F.col("touch_day")
    # pyspark's F.shiftleft wants a literal bit count; the SQL form
    # takes a column.  The when() guard pins the shift to the
    # 0..window domain (the 0..63 shift-domain convention).
    w = (
        F.when(
            (_DECAY_WINDOW_DAYS - age >= 0)
            & (_DECAY_WINDOW_DAYS - age <= _DECAY_WINDOW_DAYS),
            F.expr(
                f"shiftleft(1, CAST({_DECAY_WINDOW_DAYS} "
                "- (conv_day - touch_day) AS INT))"
            ),
        )
        .otherwise(0)
        .cast("long")
    )
    # Both frames derive from one lineage (`base`); explicit aliases
    # keep the equi-join condition unambiguous (without them Spark
    # resolves both sides to the same attribute and WARNs about a
    # "trivially true equals predicate").
    pairs = (
        conv.alias("conv")
        .join(
            touch.alias("touch"),
            (F.col("conv.user_id") == F.col("touch.user_id"))
            & (F.col("touch_day") <= F.col("conv_day"))
            & (F.col("touch_day") >= F.col("conv_day") - _DECAY_WINDOW_DAYS),
        )
        .select("conv_id", "cents", "touch_id", "touch_type", w.alias("w"))
    )
    tot = pairs.groupBy("conv_id").agg(
        F.sum("w").cast("long").alias("wsum")
    )
    return (
        pairs.join(tot, "conv_id")
        .filter((F.col("wsum") > 0) & (F.col("w") > 0))
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum(fdiv(F.col("cents") * F.col("w"), F.col("wsum")))
            .cast("long")
            .alias("credited_cents"),
        )
    )


# ------------------------------------------ inter-annotator kappa


@query(
    "stat_cohens_kappa",
    oracle="""
    WITH lab AS (
      SELECT CAST(('0x' || substring(md5('a:' ||
               CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS a,
             CASE WHEN CAST(('0x' || substring(md5('agree:' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 10 < 7
                  THEN CAST(('0x' || substring(md5('a:' ||
                         CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 3
                  ELSE CAST(('0x' || substring(md5('b:' ||
                         CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 3
             END AS b
      FROM orders
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY a, b
    )
    SELECT CAST(c.a AS INT) AS a, CAST(c.b AS INT) AS b, c.n,
           round((CAST(m2.nt AS DOUBLE) * m2.diag - CAST(m2.src AS DOUBLE))
                 / (CAST(m2.nt AS DOUBLE) * m2.nt
                    - CAST(m2.src AS DOUBLE)), 6) AS kappa
    FROM cells c CROSS JOIN (
      SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nt,
             (SELECT CAST(sum(n) AS BIGINT) FROM cells WHERE a = b)
               AS diag,
             (SELECT CAST(sum(CAST(ra.rn AS HUGEINT) * cb.cn) AS HUGEINT)
              FROM (SELECT a, sum(n) AS rn FROM cells GROUP BY a) ra
              JOIN (SELECT b, sum(n) AS cn FROM cells GROUP BY b) cb
                ON ra.a = cb.b) AS src
    ) m2
    """,
)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement — the labeling-QA
    metric every human-annotation pipeline gates on before its labels
    become training data: two deterministic md5 'annotators' (B
    copies A 70% of the time) build a 3x3 confusion matrix, and
    kappa = (n*diag - sum(row_i*col_i)) / (n^2 - sum(row_i*col_i))
    stays in EXACT integers until one double division.  One
    data-scale groupBy to 9 cells; the margins join is
    contingency-sized.  Output carries the full matrix plus the
    shared kappa so the audit is one frame."""
    o = load_table(spark, sf_dir, "orders")
    ha = F.pmod(portable_hash60(F.col("o_orderkey"), salt="a"), F.lit(3))
    hb = F.pmod(portable_hash60(F.col("o_orderkey"), salt="b"), F.lit(3))
    agree = F.pmod(
        portable_hash60(F.col("o_orderkey"), salt="agree"), F.lit(10)
    )
    lab = o.select(
        ha.alias("a"), F.when(agree < 7, ha).otherwise(hb).alias("b")
    )
    cells = lab.groupBy("a", "b").agg(F.count("*").cast("long").alias("n"))
    ra = cells.groupBy("a").agg(F.sum("n").cast("long").alias("rn"))
    cb = cells.groupBy("b").agg(F.sum("n").cast("long").alias("cn"))
    src = (
        ra.join(cb, ra.a == cb.b)
        .agg(
            F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cn")).alias(
                "src"
            )
        )
    )
    tots = cells.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    kappa = F.round(
        (F.col("nt").cast("double") * F.col("diag") - F.col("src").cast("double"))
        / (
            F.col("nt").cast("double") * F.col("nt")
            - F.col("src").cast("double")
        ),
        6,
    )
    return (
        cells.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(src))
        .select(
            F.col("a").cast("int").alias("a"),
            F.col("b").cast("int").alias("b"),
            "n",
            kappa.alias("kappa"),
        )
    )


# --------------------------------- Bradley-Terry preference model

_BT_ITERS = 3
# item index = first char of o_orderpriority ('1'..'5') - 1
_BT_K = 5


def _bt_oracle() -> str:
    pair_src = """
      SELECT CAST(CAST(substr(a.o_orderpriority, 1, 1) AS INT) - 1 AS INT)
               AS ia,
             CAST(CAST(substr(b.o_orderpriority, 1, 1) AS INT) - 1 AS INT)
               AS ib,
             CASE WHEN CAST(round(a.o_totalprice * 100) AS BIGINT)
                       > CAST(round(b.o_totalprice * 100) AS BIGINT)
                  THEN 1
                  WHEN CAST(round(a.o_totalprice * 100) AS BIGINT)
                       = CAST(round(b.o_totalprice * 100) AS BIGINT)
                   AND a.o_orderpriority < b.o_orderpriority
                  THEN 1 ELSE 0 END AS a_wins
      FROM orders a JOIN orders b
        ON a.o_custkey = b.o_custkey
       AND a.o_orderkey < b.o_orderkey
       AND a.o_orderpriority <> b.o_orderpriority
    """
    parts = [
        f"pairs AS ({pair_src})",
        """wins AS (
      SELECT ia AS i, ib AS j,
             CAST(sum(a_wins) AS BIGINT) AS w,
             CAST(count(*) AS BIGINT) AS g
      FROM pairs GROUP BY ia, ib
    )""",
        """mat AS (
      -- symmetric game counts + per-item total wins, dense 5x5
      SELECT i,
             CAST(sum(w) AS BIGINT) AS big_w
      FROM (
        SELECT i, w FROM wins
        UNION ALL
        SELECT j AS i, g - w AS w FROM wins
      ) GROUP BY i
    )""",
        """g5 AS (
      SELECT i,
             """ + ",\n             ".join(
            f"CAST(sum(CASE WHEN j = {c} THEN g ELSE 0 END) AS BIGINT)"
            f" AS g{c}"
            for c in range(_BT_K)
        ) + """
      FROM (
        SELECT i, j, g FROM wins
        UNION ALL
        SELECT j AS i, i AS j, g FROM wins
      ) GROUP BY i
    )""",
        "p0 AS (SELECT "
        + ", ".join(f"1.0 AS p{c}" for c in range(_BT_K))
        + ")",
    ]
    for t in range(1, _BT_ITERS + 1):
        terms = " + ".join(
            f"g5.g{c} / (CASE m.i "
            + " ".join(f"WHEN {d} THEN p.p{d}" for d in range(_BT_K))
            + f" END + p.p{c})"
            for c in range(_BT_K)
        )
        parts.append(
            f"""it{t} AS (
      SELECT m.i, CAST(m.big_w AS DOUBLE) / nullif({terms}, 0) AS p
      FROM mat m JOIN g5 ON g5.i = m.i CROSS JOIN p{t - 1} p
    )"""
        )
        parts.append(
            f"p{t} AS (SELECT "
            + ", ".join(
                f"max(CASE WHEN i = {c} THEN p END) AS p{c}"
                for c in range(_BT_K)
            )
            + f" FROM it{t})"
        )
    final_terms = " + ".join(f"p.p{c}" for c in range(_BT_K))
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT it.i AS item, m.big_w AS wins,
           round(it.p / ({final_terms}), 6) AS strength
    FROM it{_BT_ITERS} it JOIN mat m ON m.i = it.i
    CROSS JOIN p{_BT_ITERS} p"""
    )


@query("ml_bradley_terry", oracle=_bt_oracle())
def ml_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference aggregation — the pairwise-comparison
    model RLHF preference pipelines fit before reward modeling:
    same-customer order pairs vote between priority classes (higher
    exact-cents price wins, deterministic tie-break), and 3
    minorization-maximization rounds solve
    p_i <- W_i / sum_j g_ij/(p_i+p_j) on the 5-item frame.  The
    denominators are EXPLICIT 5-term expressions (pivoted columns),
    so the double additions run in the same left-to-right order on
    both engines — the unordered-SUM pitfall never arises — and the
    final strengths normalize + round at 6 dp.  One data-scale
    per-customer pair join; everything after is a 5-row frame."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.substring("o_orderpriority", 1, 1).cast("int") - 1).alias("item"),
        "o_orderpriority",
        cents("o_totalprice").alias("cents"),
    )
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.o_orderpriority") != F.col("b.o_orderpriority")),
    ).select(
        F.col("a.item").alias("ia"),
        F.col("b.item").alias("ib"),
        F.when(F.col("a.cents") > F.col("b.cents"), 1)
        .when(
            (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.o_orderpriority") < F.col("b.o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("a_wins"),
    )
    wins = pairs.groupBy("ia", "ib").agg(
        F.sum("a_wins").cast("long").alias("w"),
        F.count("*").cast("long").alias("g"),
    )
    both = wins.select("ia", "ib", "w", "g").unionAll(
        wins.select(
            F.col("ib").alias("ia"),
            F.col("ia").alias("ib"),
            (F.col("g") - F.col("w")).alias("w"),
            "g",
        )
    )
    mat = both.groupBy(F.col("ia").alias("i")).agg(
        F.sum("w").cast("long").alias("big_w")
    )
    g5 = both.groupBy(F.col("ia").alias("i")).agg(
        *[
            F.sum(F.when(F.col("ib") == c, F.col("g")).otherwise(0))
            .cast("long")
            .alias(f"g{c}")
            for c in range(_BT_K)
        ]
    )
    # Materialize the 5-row (wins, g0..g4) frame ONCE: every MM round
    # references ``base`` twice (the crossJoin and, via ``prow``'s agg
    # lineage, the previous round's crossJoin), so the lazy plan
    # replicated the data-scale pair join ~2x per round.  An eager
    # localCheckpoint truncates that to one pass over the pairs; the
    # rounds then iterate on a 5-row ExistingRDD (same idiom as the
    # graph loops' per-iteration checkpoints).
    base = mat.join(g5, "i").localCheckpoint(eager=True)
    prow = None  # 1-row frame of p0..p4
    cur = None
    for t in range(_BT_ITERS + 1):
        if t == 0:
            prow = base.sparkSession.range(1).select(
                *[F.lit(1.0).alias(f"p{c}") for c in range(_BT_K)]
            )
            continue
        p_self = None
        for d in range(_BT_K):
            clause = F.when(F.col("i") == d, F.col(f"p{d}"))
            p_self = clause if p_self is None else p_self.when(
                F.col("i") == d, F.col(f"p{d}")
            )
        # explicit left-to-right 5-term denominator (order-stable)
        den = None
        for c in range(_BT_K):
            term = F.col(f"g{c}") / (p_self + F.col(f"p{c}"))
            den = term if den is None else den + term
        cur = base.crossJoin(F.broadcast(prow)).select(
            "i",
            "big_w",
            (
                F.col("big_w").cast("double")
                / F.nullif(den, F.lit(0.0))
            ).alias("p"),
        )
        prow = cur.agg(
            *[
                F.max(F.when(F.col("i") == c, F.col("p"))).alias(f"p{c}")
                for c in range(_BT_K)
            ]
        )
    total = None
    for c in range(_BT_K):
        total = (
            F.col(f"p{c}") if total is None else total + F.col(f"p{c}")
        )
    return cur.crossJoin(F.broadcast(prow)).select(
        F.col("i").cast("int").alias("item"),
        F.col("big_w").alias("wins"),
        F.round(F.col("p") / total, 6).alias("strength"),
    )


# --------------------------------------------- autocorrelation (ACF)

_ACF_LAGS = (1, 7, 30)


@query(
    "ts_acf",
    oracle=f"""
    WITH daily AS (
      SELECT {sql_fdiv("epoch_us(o_orderdate)", _US_PER_DAY)} AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT lo + CAST(i AS BIGINT) AS day
      FROM bounds, (SELECT unnest(range(0, 100000)) AS i) g
      WHERE lo + i <= hi
    ),
    dense AS (
      SELECT s.day, coalesce(d.rev, 0) AS rev
      FROM spine s LEFT JOIN daily d USING (day)
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev) AS BIGINT) AS s1,
             sum(CAST(rev AS HUGEINT) * rev) AS s2
      FROM dense
    ),
    lagged AS (
      SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
             sum(CAST(a.rev AS HUGEINT) * b.rev) AS sxy,
             CAST(sum(a.rev) AS BIGINT) AS sa,
             CAST(sum(b.rev) AS BIGINT) AS sb
      FROM (SELECT unnest([{", ".join(str(v) for v in _ACF_LAGS)}])
              AS lag) l
      JOIN dense a ON TRUE
      JOIN dense b ON b.day = a.day + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(l.lag AS INT) AS lag,
           l.n_pairs,
           round((CAST(l.sxy AS DOUBLE) - CAST(l.sa AS DOUBLE) * l.sb
                    / l.n_pairs)
                 / (CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1
                    / m.n), 6) AS acf
    FROM lagged l, mom m
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1 / 7 / 30
    — the seasonality screen run before committing to any seasonal
    model (a 7-lag spike says weekly structure; ts_seasonal_decompose
    then extracts it).  All moments are exact integers (HUGEINT /
    decimal cross-products of cents over the densified day spine);
    the ACF ratio is ONE shared double expression replayed
    operation-for-operation on both engines.  The lag join is an
    equi-join on (day + lag) — calendar-sized, never data-sized —
    and each lag reads the same dense frame."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        fdiv(F.unix_micros("o_orderdate"), _US_PER_DAY).alias("day")
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("rev"))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = spine.join(daily, "day", "left").select(
        "day", F.coalesce("rev", F.lit(0)).alias("rev")
    )
    revdec = F.col("rev").cast("decimal(38,0)")
    mom = dense.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev").cast("long").alias("s1"),
        F.sum(revdec * F.col("rev")).alias("s2"),
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _ACF_LAGS])).alias("lag")
    )
    a = dense.alias("a").crossJoin(F.broadcast(lags))
    b = dense.alias("b")
    lagged = (
        a.join(
            b,
            F.col("b.day") == F.col("a.day") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("a.rev").cast("decimal(38,0)") * F.col("b.rev"))
            .alias("sxy"),
            F.sum("a.rev").cast("long").alias("sa"),
            F.sum("b.rev").cast("long").alias("sb"),
        )
    )
    acf = (
        F.col("sxy").cast("double")
        - F.col("sa").cast("double") * F.col("sb") / F.col("n_pairs")
    ) / (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    )
    return (
        lagged.crossJoin(F.broadcast(mom))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(acf, 6).alias("acf"),
        )
    )


# ------------------------------------------ cross-correlation (CCF)

_CCF_LAGS = (-7, -1, 0, 1, 7)


@query(
    "ts_cross_correlation",
    oracle=f"""
    WITH clicks AS (
      SELECT {sql_fdiv("epoch_us(ts)", _US_PER_DAY)} AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND event_type = 'click'
      GROUP BY 1
    ),
    buys AS (
      SELECT {sql_fdiv("epoch_us(ts)", _US_PER_DAY)} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
        AND event_type = 'purchase'
      GROUP BY 1
    ),
    bounds AS (
      SELECT least((SELECT min(day) FROM clicks),
                   (SELECT min(day) FROM buys)) AS lo,
             greatest((SELECT max(day) FROM clicks),
                      (SELECT max(day) FROM buys)) AS hi
    ),
    spine AS (
      SELECT lo + CAST(i AS BIGINT) AS day
      FROM bounds, (SELECT unnest(range(0, 100000)) AS i) g
      WHERE lo + i <= hi
    ),
    dense AS (
      SELECT s.day, coalesce(c.x, 0) AS x, coalesce(b.y, 0) AS y
      FROM spine s
      LEFT JOIN clicks c USING (day)
      LEFT JOIN buys b USING (day)
    ),
    lagged AS (
      SELECT l.lag, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(a.x AS HUGEINT) * b.y) AS sxy,
             CAST(sum(a.x) AS BIGINT) AS sx,
             CAST(sum(b.y) AS BIGINT) AS sy,
             sum(CAST(a.x AS HUGEINT) * a.x) AS sxx,
             sum(CAST(b.y AS HUGEINT) * b.y) AS syy
      FROM (SELECT unnest([{", ".join(str(v) for v in _CCF_LAGS)}])
              AS lag) l
      JOIN dense a ON TRUE
      JOIN dense b ON b.day = a.day + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(lag AS INT) AS lag,
           n,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                        * (CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy / n)), 6) AS ccf
    FROM lagged
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between daily click VOLUME and daily
    purchase REVENUE at lags -7/-1/0/+1/+7 — the lead/lag screen
    ('do clicks today predict revenue next week?') that decides
    which feature lags a forecasting model gets.  Same exact-moment
    machinery as ts_acf generalized to two series: all five moments
    are exact integers (HUGEINT/decimal cross-products over a shared
    densified day spine), and the Pearson ratio per lag is ONE
    shared double expression.  Negative lags probe the reverse
    direction (revenue leading clicks) — the window is the same
    calendar-sized equi-join on (day + lag)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(fdiv(F.unix_micros("ts"), _US_PER_DAY).alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    buys = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy(fdiv(F.unix_micros("ts"), _US_PER_DAY).alias("day"))
        .agg(F.sum(cents("value")).cast("long").alias("y"))
    )
    bounds = clicks.select("day").unionAll(buys.select("day")).agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = (
        spine.join(clicks, "day", "left")
        .join(buys, "day", "left")
        .select(
            "day",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _CCF_LAGS])).alias("lag")
    )
    a = dense.alias("a").crossJoin(F.broadcast(lags))
    b = dense.alias("b")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    lagged = (
        a.join(b, F.col("b.day") == F.col("a.day") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec("a.x") * F.col("b.y")).alias("sxy"),
            F.sum("a.x").cast("long").alias("sx"),
            F.sum("b.y").cast("long").alias("sy"),
            F.sum(dec("a.x") * F.col("a.x")).alias("sxx"),
            F.sum(dec("b.y") * F.col("b.y")).alias("syy"),
        )
    )
    ccf = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    ) / F.sqrt(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        )
        * (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy") / F.col("n")
        )
    )
    return lagged.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.round(ccf, 6).alias("ccf"),
    )


# ------------------------------------ chi-square independence screen


@query(
    "stat_chi2_independence",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             CAST((({sql_fdiv("epoch_us(ts)", _US_PER_DAY)}) % 7 + 7) % 7
                  AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    ),
    rows_t AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
               FROM obs GROUP BY event_type),
    cols_t AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
               FROM obs GROUP BY dow),
    n_t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT o.event_type, o.dow, o.o, r.r, c.c, n.n,
             CAST(o.o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.c
               AS dev
      FROM obs o JOIN rows_t r USING (event_type)
      JOIN cols_t c USING (dow) CROSS JOIN n_t n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n_obs,
           round(sum(CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n * r * c)) * max(n), 6)
             AS chi2
    FROM cells
    """,
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the event-type x
    day-of-week contingency table — 'does activity mix shift by
    weekday?', the categorical sibling of the KS drift check.  The
    deviation per cell is computed as the EXACT integer cross
    product o*n - r*c (HUGEINT/decimal — no per-cell float expected
    counts), and chi2 = n * sum(dev^2 / (n^2 * r * c)) enters one
    shared double expression with identical operation order on both
    engines.  Contingency cells are |types| x 7 — three tiny
    partial-aggregated rollups off one data-scale pass, broadcast
    margins."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    obs = ev.groupBy(
        "event_type",
        F.pmod(fdiv(F.unix_micros("ts"), _US_PER_DAY), F.lit(7))
        .cast("long")
        .alias("dow"),
    ).agg(F.count("*").cast("long").alias("o"))
    rows_t = obs.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("r")
    )
    cols_t = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    n_t = obs.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        obs.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "dow")
        .crossJoin(F.broadcast(n_t))
        .select(
            "o",
            "r",
            "c",
            "n",
            (
                F.col("o").cast("decimal(38,0)") * F.col("n")
                - F.col("r").cast("decimal(38,0)") * F.col("c")
            ).alias("dev"),
        )
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


# --------------------------------------- additive seasonal decompose

_US_PER_WEEK = 7 * _US_PER_DAY


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH daily0 AS (
      SELECT {sql_fdiv("epoch_us(o_orderdate)", _US_PER_DAY)} AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily0),
    spine AS (
      SELECT lo + CAST(i AS BIGINT) AS day
      FROM bounds, (SELECT unnest(range(0, 100000)) AS i) g
      WHERE lo + i <= hi
    ),
    dense AS (
      SELECT s.day, coalesce(d.rev, 0) AS rev
      FROM spine s LEFT JOIN daily0 d USING (day)
    ),
    trended AS (
      SELECT day, rev,
             sum(rev) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS trend7,
             CAST(count(*) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS BIGINT) AS w
      FROM dense
    ),
    detr AS (
      SELECT ((day % 7) + 7) % 7 AS dow,
             7 * rev - trend7 AS d7
      FROM trended WHERE w = 7
    )
    SELECT CAST(dow AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST({sql_fdiv("sum(d7)", "count(*)")} AS BIGINT)
             AS seasonal_x7_cents
    FROM detr
    GROUP BY dow
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily revenue series:
    trend = centered 7-day moving average, seasonal(dow) = mean of
    the detrended series per day-of-week — the classic
    trend/seasonal split, ENTIRELY in exact integers by working at
    x7 scale (detrended*7 = 7*x - rolling_sum_7, so the moving
    average never divides; one floor division at the dow rollup).
    The day spine densifies calendar gaps to zero-revenue days
    (revenue semantics) so the ROWS window is a true 7-day window;
    edge days without a full window are excluded (w = 7) on both
    engines.  One partial-aggregated daily rollup at data scale;
    the window and dow rollup run on the calendar-sized frame."""
    o = load_table(spark, sf_dir, "orders")
    daily0 = o.groupBy(
        fdiv(F.unix_micros("o_orderdate"), _US_PER_DAY).alias("day")
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("rev"))
    bounds = daily0.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = spine.join(daily0, "day", "left").select(
        "day", F.coalesce("rev", F.lit(0)).alias("rev")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    trended = dense.select(
        "day",
        "rev",
        F.sum("rev").over(w7).alias("trend7"),
        F.count("*").over(w7).cast("long").alias("w"),
    )
    detr = trended.filter(F.col("w") == 7).select(
        F.pmod(F.col("day"), F.lit(7)).alias("dow"),
        (7 * F.col("rev") - F.col("trend7")).alias("d7"),
    )
    return detr.groupBy(F.col("dow").cast("int").alias("dow")).agg(
        F.count("*").cast("long").alias("n_days"),
        fdiv(F.sum("d7"), F.count("*"))
        .cast("long")
        .alias("seasonal_x7_cents"),
    )


# ------------------------------------------ deterministic bootstrap

_BOOT_B = 100  # resamples
_BOOT_M = 100  # m-out-of-n resample size
# 2.5% / 97.5% order statistics of the B bootstrap means (1-indexed)
_BOOT_LO_K = 3
_BOOT_HI_K = 98
_BOOT_IDX = (
    "CAST(('0x' || substr(md5({t} || ':' || CAST({b} AS VARCHAR) || ':' "
    "|| CAST({i} AS VARCHAR)), 1, 8)) AS BIGINT)"
)


@query(
    "stat_bootstrap_ci",
    oracle=f"""
    WITH vals AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY round(value * 100), event_id)
               AS rn
      FROM events WHERE value IS NOT NULL
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv
      FROM vals GROUP BY event_type
    ),
    grid AS (
      SELECT s.event_type, s.n, g.b, g.i,
             1 + ({_BOOT_IDX.format(t="s.event_type", b="g.b", i="g.i")})
                 % s.n AS idx
      FROM sizes s,
           (SELECT bb.b, ii.i
            FROM (SELECT unnest(range(0, {_BOOT_B})) AS b) bb,
                 (SELECT unnest(range(0, {_BOOT_M})) AS i) ii) g
    ),
    boot AS (
      SELECT g.event_type, g.b,
             CAST({sql_fdiv("sum(v.v) * 1000000", str(_BOOT_M))} AS BIGINT)
               AS mean_micro
      FROM grid g JOIN vals v
        ON v.event_type = g.event_type AND v.rn = g.idx
      GROUP BY g.event_type, g.b
    ),
    ranked AS (
      SELECT event_type, mean_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_micro, b) AS k
      FROM boot
    )
    SELECT s.event_type,
           s.n,
           CAST({sql_fdiv("s.sv * 1000000", "s.n")} AS BIGINT)
             AS mean_micro,
           CAST(max(CASE WHEN r.k = {_BOOT_LO_K} THEN r.mean_micro END)
                AS BIGINT) AS ci_lo_micro,
           CAST(max(CASE WHEN r.k = {_BOOT_HI_K} THEN r.mean_micro END)
                AS BIGINT) AS ci_hi_micro
    FROM sizes s JOIN ranked r USING (event_type)
    GROUP BY s.event_type, s.n, s.sv
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the per-type mean with a
    DETERMINISTIC resampler: draw (b, i) of resample b picks value
    rank 1 + md5(type:b:i) % n — reproducible across engines, runs,
    and partitionings, where rand()-based resampling is none of
    those (the repo's standard md5-for-randomness move, cf.
    hash_bucket).  m-out-of-n bootstrap (m = 100 draws per
    resample, B = 100 resamples) keeps the draw grid
    SF-independent: the data-scale passes are the rank window and
    the size/sum rollup; the resample join touches B*m rows per key
    regardless of data size — the property that makes bootstrap
    viable at 100 TB at all.  CI bounds are the 3rd / 98th order
    statistics of the bootstrap means (exact integer selection, no
    float percentile interpolation)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    vals = ev.select(
        "event_type",
        cents("value").alias("v"),
        "event_id",
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("v", "event_id")
        ),
    )
    sizes = vals.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    grid = (
        F.broadcast(sizes)
        .crossJoin(
            spark.range(_BOOT_B).select(F.col("id").alias("b"))
        )
        .crossJoin(spark.range(_BOOT_M).select(F.col("id").alias("i")))
    )
    idx_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_type"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    draws = grid.select(
        "event_type", "b", (F.lit(1) + idx_hash % F.col("n")).alias("idx")
    )
    boot = (
        draws.join(
            vals.select("event_type", "rn", "v"),
            (draws["event_type"] == vals["event_type"])
            & (draws["idx"] == vals["rn"]),
        )
        .groupBy(draws["event_type"].alias("event_type"), "b")
        .agg(fdiv(F.sum("v") * 1_000_000, _BOOT_M).alias("mean_micro"))
    )
    ranked = boot.withColumn(
        "k",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("mean_micro", "b")
        ),
    )
    return (
        sizes.join(ranked, "event_type")
        .groupBy("event_type", "n", "sv")
        .agg(
            F.max(
                F.when(F.col("k") == _BOOT_LO_K, F.col("mean_micro"))
            ).alias("ci_lo_micro"),
            F.max(
                F.when(F.col("k") == _BOOT_HI_K, F.col("mean_micro"))
            ).alias("ci_hi_micro"),
        )
        .select(
            "event_type",
            "n",
            fdiv(F.col("sv") * 1_000_000, F.col("n"))
            .cast("long")
            .alias("mean_micro"),
            F.col("ci_lo_micro").cast("long"),
            F.col("ci_hi_micro").cast("long"),
        )
    )


# ------------------------------------------- Holt linear forecasting


@query(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT event_type,
             {sql_fdiv("epoch_us(ts)", _US_PER_DAY)} AS day,
             CAST(count(*) * 1000000 AS BIGINT) AS xm
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, xm,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM d
    ),
    walk AS (
      SELECT event_type, rn, CAST(xm AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn,
             {sql_fdiv("s.xm + w.l + w.b", "2")} AS l,
             {sql_fdiv(
                 sql_fdiv("s.xm + w.l + w.b", "2") + " - w.l + w.b", "2"
             )} AS b
      FROM walk w JOIN seq s
        ON s.event_type = w.event_type AND s.rn = w.rn + 1
    ),
    final AS (
      SELECT event_type, rn, l, b,
             row_number() OVER (PARTITION BY event_type ORDER BY rn DESC)
               AS rr
      FROM walk
    )
    SELECT event_type,
           CAST(rn AS BIGINT) AS n_days,
           CAST(l AS BIGINT) AS level_micro,
           CAST(b AS BIGINT) AS trend_micro,
           CAST(l + 7 * b AS BIGINT) AS forecast7_micro
    FROM final WHERE rr = 1
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing over each
    event type's daily-count series, alpha = beta = 1/2, ENTIRELY in
    exact int64 micro-units: l_t = floor((x_t*M + l + b)/2),
    b_t = floor((l_t - l + b)/2) — the halving weights turn the
    smoother into integer floor-division both engines replay
    bit-for-bit (the repo's standard trick for float-free
    recurrences).  The trend state couples into the level state, so
    no window or monoid fold expresses the pair — the honest per-key
    sequential class (one applyInPandas scan per key), but crucially
    the scan runs over the PRE-AGGREGATED daily frame: the data-scale
    pass is a plain partial-aggregated count rollup, and the
    sequential part touches |keys| x |days| rows only.  Oracle: the
    recurrence as a recursive CTE.  Output: final state + a 7-day
    linear forecast per key."""
    from ctgov_ai_etl_spark.session import ship_package

    ship_package(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = (
        ev.select(
            "event_type",
            fdiv(F.unix_micros("ts"), _US_PER_DAY).alias("day"),
        )
        .groupBy("event_type", "day")
        .agg((F.count("*") * 1_000_000).cast("long").alias("xm"))
    )

    def scan(pdf):
        pdf = pdf.sort_values("day")
        l = b = None
        for xm in pdf["xm"]:
            x = int(xm)
            if l is None:
                l, b = x, 0
            else:
                l_new = (x + l + b) // 2
                b = (l_new - l + b) // 2
                l = l_new
        return pdf.iloc[:1].assign(
            n_days=len(pdf),
            level_micro=l,
            trend_micro=b,
            forecast7_micro=l + 7 * b,
        )[
            [
                "event_type",
                "n_days",
                "level_micro",
                "trend_micro",
                "forecast7_micro",
            ]
        ]

    return daily.groupBy("event_type").applyInPandas(
        scan,
        "event_type string, n_days long, level_micro long, "
        "trend_micro long, forecast7_micro long",
    )


# ------------------------------------------ ranking eval: nDCG / MRR


import math as _math  # noqa: E402

_NDCG_K = 10
# Rank discounts 1/log2(r+1) fixed to integer micro-units ONCE in
# Python and injected as the SAME literals into both engines —
# transcendental log2 is not bit-contracted across libms (the
# Benford-mass convention).
_DISC_MICRO = [
    round(1_000_000 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)
]
# Shared-dialect scalar expressions (CASE / || / md5 run verbatim on
# both engines — the geohash-encoder pattern): graded gain 2^rel - 1
# and the rank-discount lookup.
_GAIN_SQL = "CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END"


def _disc_sql(rank_col: str) -> str:
    arms = " ".join(
        f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_DISC_MICRO)
    )
    return f"CASE {rank_col} {arms} ELSE 0 END"


@query(
    "ml_ndcg_mrr",
    oracle=f"""
    WITH base AS (
      SELECT CAST(o_custkey % 97 AS INT) AS query_id,
             o_orderkey AS item,
             CAST(CAST(('0x' || substring(md5('rel:' ||
               CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 4
               AS INT) AS rel,
             CAST(('0x' || substring(md5('score:' ||
               CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS score
      FROM orders
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, item) AS mrank,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, item) AS irank
      FROM base
    ),
    scored AS (
      SELECT query_id,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CASE WHEN mrank <= {_NDCG_K}
                  THEN ({_GAIN_SQL}) * ({_disc_sql("mrank")})
                  ELSE 0 END) AS BIGINT) AS dcg_micro,
             CAST(sum(CASE WHEN irank <= {_NDCG_K}
                  THEN ({_GAIN_SQL}) * ({_disc_sql("irank")})
                  ELSE 0 END) AS BIGINT) AS idcg_micro,
             min(CASE WHEN rel >= 2 THEN mrank END) AS first_rel
      FROM ranked GROUP BY query_id
    )
    SELECT query_id, n_items, dcg_micro, idcg_micro,
           CASE WHEN idcg_micro = 0 THEN 0.0
                ELSE round(CAST(dcg_micro AS DOUBLE) / idcg_micro, 6)
           END AS ndcg10,
           CAST(CASE WHEN first_rel IS NULL THEN 0
                ELSE 1000000 // first_rel END AS BIGINT) AS rr_micro
    FROM scored
    """,
)
def ml_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-eval metrics (nDCG@10 + MRR) — how retrieval /
    reranker / RLHF-reward models are scored: orders stand in for a
    per-query candidate list (query = customer mod 97) with an
    md5-derived model score and graded relevance 0..3; graded gain
    2^rel-1, discounts 1/log2(r+1) fixed to injected micro-unit
    literals, and MRR's reciprocal as 1e6 div first-relevant-rank
    (floor — a double round() would tie-break differently across
    engines at .5).

    Scale: both rankings are per-query windows (partitioned by
    query_id — never a global sort), metrics are one partial-agg
    shuffle; at 100 TB each query group is small and the plan is
    embarrassingly parallel."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = o.select(
        F.pmod(F.col("o_custkey"), F.lit(97)).cast("int").alias("query_id"),
        F.col("o_orderkey").alias("item"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("rel:"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 4
        )
        .cast("int")
        .alias("rel"),
        portable_hash60(F.col("o_orderkey"), salt="score").alias("score"),
    )
    wm = W.partitionBy("query_id").orderBy(F.col("score").desc(), "item")
    wi = W.partitionBy("query_id").orderBy(F.col("rel").desc(), "item")
    ranked = base.select(
        "query_id",
        "item",
        "rel",
        F.row_number().over(wm).alias("mrank"),
        F.row_number().over(wi).alias("irank"),
    )
    gain = F.expr(_GAIN_SQL)
    scored = ranked.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(
            F.when(
                F.col("mrank") <= _NDCG_K,
                gain * F.expr(_disc_sql("mrank")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg_micro"),
        F.sum(
            F.when(
                F.col("irank") <= _NDCG_K,
                gain * F.expr(_disc_sql("irank")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("idcg_micro"),
        F.min(F.when(F.col("rel") >= 2, F.col("mrank"))).alias("first_rel"),
    )
    return scored.select(
        "query_id",
        "n_items",
        "dcg_micro",
        "idcg_micro",
        F.when(F.col("idcg_micro") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6
            )
        )
        .alias("ndcg10"),
        F.when(F.col("first_rel").isNull(), F.lit(0))
        .otherwise(F.expr("1000000 div first_rel"))
        .cast("long")
        .alias("rr_micro"),
    )


# --------------------------------------- SAX symbolic discretization


# Gaussian breakpoints for a 4-letter alphabet (quartiles of N(0,1)),
# computed once and injected as the SAME literals into both engines
# (inverse-normal is not bit-contracted across libms).
_SAX_BP = "-0.6744897501960817", "0.6744897501960817"


@query(
    "ts_sax_symbols",
    oracle=f"""
    WITH d AS ({_DAILY_ORDERS_SQL}),
    wk AS (
      SELECT day // 7 AS week,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(y) AS BIGINT) AS s
      FROM d GROUP BY 1
    ),
    full_wk AS (SELECT week, s FROM wk WHERE n_days = 7),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS HUGEINT) AS ss,
             CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ss2
      FROM full_wk
    ),
    st AS (
      SELECT n,
             CAST(ss AS DOUBLE) / 7 / n AS mu,
             sqrt(CAST(n * ss2 - ss * ss AS DOUBLE) / 49 / n / n)
               AS sigma
      FROM m
    )
    SELECT w.week, w.s AS sum_cents,
           round((CAST(w.s AS DOUBLE) / 7 - st.mu) / st.sigma, 6) AS z6,
           CASE
             WHEN (CAST(w.s AS DOUBLE) / 7 - st.mu) / st.sigma
                  < {_SAX_BP[0]} THEN 'a'
             WHEN (CAST(w.s AS DOUBLE) / 7 - st.mu) / st.sigma
                  < 0.0 THEN 'b'
             WHEN (CAST(w.s AS DOUBLE) / 7 - st.mu) / st.sigma
                  < {_SAX_BP[1]} THEN 'c'
             ELSE 'd'
           END AS symbol
    FROM full_wk w CROSS JOIN st
    """,
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic discretization (Lin/Keogh et al., DMKD'07 — the
    standard time-series-to-text bridge: PAA segment means,
    z-normalized, mapped to a small alphabet by Gaussian
    breakpoints).  Weekly PAA over daily order revenue; COMPLETE
    weeks only, so every PAA value is an exact integer-cents sum
    over a common denominator 7 — the series mean and variance then
    come from exact integer cross products (n*Σs² - S² in decimal/
    HUGEINT) and the only doubles are the final fixed-order
    mu/sigma/z expressions mirrored verbatim in the oracle.  Symbols
    compare the SAME z double against injected breakpoint literals,
    so the letter assignment cannot diverge between engines.

    Scale: one partial-agg shuffle to days, one to weeks; the
    z-normalization constants are a 1-row broadcast.  SAX turns a
    100 TB sensor corpus into strings that the text dedup/motif
    operators upstream of training-data curation consume directly."""
    d = _daily_orders(spark, sf_dir)
    wk = d.groupBy(F.expr("day div 7").alias("week")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("s"),
    )
    full_wk = wk.filter(F.col("n_days") == 7).select("week", "s")
    dec = F.col("s").cast("decimal(38,0)")
    m = full_wk.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum(dec * F.col("s")).alias("ss2"),
    )
    st = m.select(
        (F.col("ss").cast("double") / 7 / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("n") * F.col("ss2") - F.col("ss") * F.col("ss")).cast(
                "double"
            )
            / 49
            / F.col("n")
            / F.col("n")
        ).alias("sigma"),
    )
    z = (F.col("s").cast("double") / 7 - F.col("mu")) / F.col("sigma")
    return full_wk.crossJoin(F.broadcast(st)).select(
        "week",
        F.col("s").alias("sum_cents"),
        F.round(z, 6).alias("z6"),
        F.when(z < float(_SAX_BP[0]), F.lit("a"))
        .when(z < 0.0, F.lit("b"))
        .when(z < float(_SAX_BP[1]), F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("symbol"),
    )


# ------------------------------------- multinomial naive Bayes


@query(
    "ml_naive_bayes",
    oracle="""
    WITH tr AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 0
    ),
    cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS tc FROM tr GROUP BY 1),
    prior AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nd
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    ndt AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM documents WHERE doc_id % 2 = 0
    ),
    vb AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr),
    cnts AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM tr GROUP BY 1, 2
    ),
    lp AS (
      SELECT c.lang, c.tok,
             CAST(round(ln(CAST(c.c + 1 AS DOUBLE) / (cl.tc + vb.v))
                        * 1000000) AS BIGINT) AS u
      FROM cnts c JOIN cls cl USING (lang) CROSS JOIN vb
    ),
    model AS (
      SELECT cl.lang,
             CAST(round(ln(1.0 / (cl.tc + vb.v)) * 1000000) AS BIGINT)
               AS u0,
             CAST(round(ln(CAST(p.nd AS DOUBLE) / ndt.n) * 1000000)
                  AS BIGINT) AS prior_u
      FROM cls cl JOIN prior p USING (lang) CROSS JOIN vb CROSS JOIN ndt
    ),
    te AS (
      SELECT doc_id, lang AS true_lang,
             unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 1
    ),
    sc AS (
      SELECT te.doc_id, te.true_lang, m.lang AS cand,
             CAST(m.prior_u + sum(coalesce(lp.u, m.u0)) AS BIGINT)
               AS score
      FROM te CROSS JOIN model m
      LEFT JOIN lp ON lp.lang = m.lang AND lp.tok = te.tok
      GROUP BY te.doc_id, te.true_lang, m.lang, m.prior_u
    ),
    pred AS (
      SELECT doc_id, true_lang,
             max({'s': score, 'l': cand}).l AS pred_lang
      FROM sc GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes text classifier — the train-small/
    score-big shape quality filters use (fastText-style corpus
    labelers): even doc_ids train add-1-smoothed per-class token
    log-probs, odd doc_ids are scored, and the output is the
    confusion matrix.  Token log-probs fix to integer MICRO-UNITS
    before the per-(doc, class) sum (the text_perplexity_proxy
    convention: exact integer aggregation, order-independent under
    any partitioning), argmax is the min/max-struct pattern with a
    deterministic class tiebreak, and priors/defaults ride a
    broadcast model frame of |vocab|x|classes| rows.

    The fixture labels (lang) are text-INDEPENDENT by construction —
    the synthetic corpus shares one vocabulary — so the expected
    confusion matrix concentrates on the prior class: this query
    verifies the exact distributed scoring mechanics; classifier
    SKILL on a separable corpus is pinned by
    tests/test_round12_ops.py::test_naive_bayes_separable_corpus
    against naive_bayes_confusion directly.

    Scale: training is one vocab-sized partial agg; scoring is a
    map-side broadcast probe plus one per-(doc, class) shuffle —
    classes are a small constant, so 100 TB of documents score
    embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    return naive_bayes_confusion(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        label_col="lang",
        id_col="doc_id",
        text_col="text",
    )


def naive_bayes_confusion(
    train: DataFrame,
    test: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Add-1-smoothed multinomial NB: returns the (true, pred, n)
    confusion matrix of scoring ``test`` with a model fit on
    ``train``.  All log-probs are integer micro-units; the argmax is
    the deterministic max-struct pattern."""
    from ctgov_ai_etl_spark.functions.text import tokens

    tr = train.select(
        F.col(label_col).alias("lang"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    cls = tr.groupBy("lang").agg(F.count("*").cast("long").alias("tc"))
    prior = train.groupBy(F.col(label_col).alias("lang")).agg(
        F.count("*").cast("long").alias("nd")
    )
    ndt = train.agg(F.count("*").cast("long").alias("n"))
    vb = tr.agg(F.countDistinct("tok").cast("long").alias("v"))
    cnts = tr.groupBy("lang", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    lp = (
        cnts.join(cls, "lang")
        .crossJoin(F.broadcast(vb))
        .select(
            "lang",
            "tok",
            F.round(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tc") + F.col("v"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("u"),
        )
    )
    model = (
        cls.join(prior, "lang")
        .crossJoin(F.broadcast(vb))
        .crossJoin(F.broadcast(ndt))
        .select(
            "lang",
            F.round(
                F.log(F.lit(1.0) / (F.col("tc") + F.col("v"))) * 1_000_000
            )
            .cast("long")
            .alias("u0"),
            F.round(
                F.log(F.col("nd").cast("double") / F.col("n")) * 1_000_000
            )
            .cast("long")
            .alias("prior_u"),
        )
    )
    te = test.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("true_lang"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    m = model.select(
        F.col("lang").alias("cand"), "u0", "prior_u"
    )
    lpa = lp.select(
        F.col("lang").alias("l_lang"), F.col("tok").alias("l_tok"), "u"
    )
    sc = (
        te.crossJoin(F.broadcast(m))
        .join(
            F.broadcast(lpa),
            (F.col("l_lang") == F.col("cand"))
            & (F.col("l_tok") == F.col("tok")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand", "prior_u")
        .agg(F.sum(F.coalesce(F.col("u"), F.col("u0"))).alias("su"))
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("prior_u") + F.col("su")).cast("long").alias("score"),
        )
    )
    pred = sc.groupBy("doc_id", "true_lang").agg(
        F.max(F.struct(F.col("score").alias("s"), F.col("cand").alias("l")))
        .getField("l")
        .alias("pred_lang")
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )


# ------------------------------- multiple testing: Benjamini-Hochberg


_BH_ALPHA = "0.05"
_BH_2POW60 = 1152921504606846976  # 2^60: dyadic uniform denominator


@query(
    "stat_bh_fdr",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority AS grp,
             CAST(year(o_orderdate) AS INT) AS yr
      FROM orders
      GROUP BY 1, 2
    ),
    tests AS (
      SELECT grp || '/' || CAST(yr AS VARCHAR) AS test_key,
             (CAST(CAST(('0x' || substring(md5('pval:' || grp || '/' ||
                CAST(yr AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
              + 0.5) / {_BH_2POW60} AS p
      FROM cells
    ),
    ranked AS (
      SELECT test_key, p,
             CAST(ROW_NUMBER() OVER (ORDER BY p, test_key) AS INT) AS k,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM tests
    ),
    adj AS (
      SELECT test_key, p, k, m,
             min(p * m / k) OVER (ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS adj_p
      FROM ranked
    )
    SELECT test_key, round(p, 6) AS p6, k,
           round(CASE WHEN adj_p > 1.0 THEN 1.0 ELSE adj_p END, 6)
             AS adj_p6,
           CASE WHEN adj_p <= {_BH_ALPHA} THEN 1 ELSE 0 END AS rejected
    FROM adj
    """,
)
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (JRSS-B '95 — how every
    experimentation platform and eval harness controls the false-
    discovery rate across a FAMILY of tests): one hypothesis per
    (order-priority, year) cell with a deterministic dyadic
    md5-uniform p-value ((h60+0.5)/2^60 — exact in both engines, the
    gov_dp_histogram convention), ranked ascending, step-up adjusted
    p = running min over k DESC of p*m/k, rejected iff adjusted
    p <= 0.05.  Every arithmetic step is either exact dyadic or a
    fixed-order double expression mirrored verbatim — and running
    MIN is order-free, so the window adds no accumulation hazard.

    Scale: the test FAMILY is small by construction (it's one row
    per hypothesis, not per observation) — the global ordering
    window is bounded by the cell count (~35 here; thousands in
    production), while the per-cell statistics upstream aggregate at
    data scale.  The bounded-global-window convention applies."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.lit(1).alias("one"))
    key = F.concat(F.col("grp"), F.lit("/"), F.col("yr").cast("string"))
    tests = cells.select(
        key.alias("test_key"),
        (
            (
                portable_hash60(key, salt="pval").cast("double") + 0.5
            )
            / F.lit(float(_BH_2POW60))
        ).alias("p"),
    )
    w_rank = W.orderBy("p", "test_key")
    ranked = tests.select(
        "test_key",
        "p",
        F.row_number().over(w_rank).cast("int").alias("k"),
        F.count("*").over(W.partitionBy()).cast("long").alias("m"),
    )
    w_min = W.orderBy(F.col("k").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    adj = ranked.select(
        "test_key",
        "p",
        "k",
        F.min(F.col("p") * F.col("m") / F.col("k")).over(w_min).alias(
            "adj_p"
        ),
    )
    return adj.select(
        "test_key",
        F.round("p", 6).alias("p6"),
        "k",
        F.round(F.least(F.col("adj_p"), F.lit(1.0)), 6).alias("adj_p6"),
        F.when(F.col("adj_p") <= float(_BH_ALPHA), 1)
        .otherwise(0)
        .alias("rejected"),
    )


# ------------------------- variance homogeneity: Brown-Forsythe/Levene


@query(
    "stat_levene_bf",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, quantile_cont(c * 2, 0.5) AS med2
      FROM ev GROUP BY 1
    ),
    z AS (
      SELECT ev.event_type,
             CAST(abs(2 * ev.c - med.med2) AS BIGINT) AS z
      FROM ev JOIN med USING (event_type)
    ),
    grp AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z) AS BIGINT) AS s,
             CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q
      FROM z GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS ss
      FROM grp
    ),
    terms AS (
      SELECT g.event_type, g.n, g.s,
             round(CAST(g.s AS DOUBLE) / g.n, 6) AS zbar6,
             CAST(round(g.n * (CAST(g.s AS DOUBLE) / g.n
                               - CAST(t.ss AS DOUBLE) / t.nn)
                            * (CAST(g.s AS DOUBLE) / g.n
                               - CAST(t.ss AS DOUBLE) / t.nn))
                  AS BIGINT) AS num_i,
             CAST(round(CAST(g.q AS DOUBLE)
                        - CAST(g.s AS DOUBLE) * g.s / g.n)
                  AS BIGINT) AS den_i,
             t.k, t.nn
      FROM grp g CROSS JOIN tot t
    ),
    w AS (
      SELECT CAST(sum(num_i) AS BIGINT) AS num,
             CAST(sum(den_i) AS BIGINT) AS den,
             max(k) AS k, max(nn) AS nn
      FROM terms
    )
    SELECT t.event_type, t.n, t.s, t.zbar6,
           round(CAST(w.nn - w.k AS DOUBLE) / (w.k - 1)
                 * w.num / w.den, 6) AS w_stat
    FROM terms t CROSS JOIN w
    """,
)
def stat_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe/Levene variance-homogeneity test (the
    median-centered variant — the robust pre-check before pooled-
    variance A/B analysis): per-event-type absolute deviations from
    the group MEDIAN (exact via the doubled-integer percentile
    convention: |2c - med2| is integer-valued, cast long), then the
    one-way-ANOVA-on-z F statistic.  Per-group between/within terms
    are computed as fixed-order doubles from exact integer sums and
    ROUNDED TO INTEGERS before the cross-group summation — a handful
    of group terms sum exactly, so the statistic is independent of
    partitioning (the stat_cuped lesson applied at the group level).

    Scale: one data-scale shuffle to groups (the exact per-group
    median is the priciest piece; groups are few so each percentile
    is one group-local sort), then all algebra on the k-row frame."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    e = ev.select("event_type", cents("value").alias("c"))
    med = e.groupBy("event_type").agg(
        F.percentile(F.col("c") * 2, 0.5).alias("med2")
    )
    z = e.join(med, "event_type").select(
        "event_type",
        F.abs(2 * F.col("c") - F.col("med2")).cast("long").alias("z"),
    )
    dec = F.col("z").cast("decimal(38,0)")
    grp = z.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(dec * F.col("z")).alias("q"),
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
    )
    zbar_i = F.col("s").cast("double") / F.col("n")
    zbar = F.col("ss").cast("double") / F.col("nn")
    terms = grp.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "s",
        F.round(zbar_i, 6).alias("zbar6"),
        F.round(F.col("n") * (zbar_i - zbar) * (zbar_i - zbar))
        .cast("long")
        .alias("num_i"),
        F.round(
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        .cast("long")
        .alias("den_i"),
        "k",
        "nn",
    )
    w = terms.agg(
        F.sum("num_i").cast("long").alias("num"),
        F.sum("den_i").cast("long").alias("den"),
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
    )
    return terms.select("event_type", "n", "s", "zbar6").crossJoin(
        F.broadcast(w)
    ).select(
        "event_type",
        "n",
        "s",
        "zbar6",
        F.round(
            (F.col("nn") - F.col("k")).cast("double")
            / (F.col("k") - 1)
            * F.col("num")
            / F.col("den"),
            6,
        ).alias("w_stat"),
    )


# ------------------------------- gradient-boosted stumps (2 rounds)
#
# One boosting step beyond ml_decision_stump: fit a regression stump
# on feature 1, take exact integer residuals against the stump's
# leaf means, fit a second stump on feature 2 over those residuals —
# the additive-model loop of XGBoost/LightGBM, reduced to the
# histogram algebra that scales.  Minimizing SSE is equivalent to
# MAXIMIZING sum_left^2/n_left + sum_right^2/n_right (the total
# sum-of-squares is split-invariant), which needs only the integer
# (n, sum) histogram — no sum-of-squares column at all.


def _stump_sql(src: str, feat: str, val: str, tag: str) -> str:
    """CTE chain fitting a regression stump over ``src`` (a CTE name
    providing integer feature ``feat`` and integer target ``val``);
    emits ``b{tag}`` with the argmax split and exact leaf stats.
    Cumulative sums are CAST back to BIGINT (DuckDB widens window
    sums to HUGEINT — the oracle-portability rule)."""
    return f"""
    h{tag} AS (
      SELECT {feat} AS f, CAST(count(*) AS BIGINT) AS n,
             CAST(sum({val}) AS BIGINT) AS s
      FROM {src} GROUP BY {feat}
    ),
    p{tag} AS (
      SELECT f,
             CAST(sum(n) OVER (ORDER BY f) AS BIGINT) AS nl,
             CAST(sum(s) OVER (ORDER BY f) AS BIGINT) AS sl,
             (SELECT CAST(sum(n) AS BIGINT) FROM h{tag}) AS nt,
             (SELECT CAST(sum(s) AS BIGINT) FROM h{tag}) AS st
      FROM h{tag}
    ),
    c{tag} AS (
      SELECT f, nl, sl, nt - nl AS nr, st - sl AS sr,
             CAST(sl AS DOUBLE) * sl / nl
               + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)
               AS score
      FROM p{tag} WHERE nl < nt
    ),
    b{tag} AS (
      SELECT f, nl, sl, nr, sr,
             {sql_fdiv('sl', 'nl')} AS ml,
             {sql_fdiv('sr', 'nr')} AS mr
      FROM c{tag} ORDER BY score DESC, f LIMIT 1
    )"""


@query(
    "ml_gbdt_stumps",
    oracle=f"""
    WITH raw AS (
      SELECT CAST(l_quantity AS INT) AS f1,
             CAST(round(l_discount * 100) AS INT) AS f2,
             CAST(round(l_extendedprice * 100) AS BIGINT) * 1000 AS y
      FROM lineitem
    ),
    r1src AS (SELECT f1 AS f, y AS v FROM raw),
    {_stump_sql('r1src', 'f', 'v', '1').lstrip()},
    res AS (
      SELECT raw.f2 AS f,
             raw.y - CASE WHEN raw.f1 <= b1.f THEN b1.ml ELSE b1.mr END
               AS v
      FROM raw CROSS JOIN b1
    ),
    {_stump_sql('res', 'f', 'v', '2').lstrip()}
    SELECT CAST(1 AS INT) AS round, 'l_quantity' AS feature,
           CAST(f AS INT) AS split_at,
           nl AS n_left, nr AS n_right,
           ml AS mean_left_milli, mr AS mean_right_milli
    FROM b1
    UNION ALL
    SELECT CAST(2 AS INT), 'l_discount_pct', CAST(f AS INT),
           nl, nr, ml, mr
    FROM b2
    """,
)
def ml_gbdt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two gradient-boosting rounds of regression stumps: round 1
    fits the best SSE split of extended price (exact milli-cents) on
    quantity, round 2 fits the residuals on the discount percentage
    — the histogram-based additive-model step every distributed GBDT
    runs.  All leaf statistics are exact integers (floor-division
    means), so residuals are exact and both rounds hash-check; the
    split score is the sum^2/n form computed in double with fixed
    operation order and a deterministic (score DESC, bucket) argmax
    tie-break.

    Scale: each round is one data-scale groupBy to a ~50-bucket
    histogram, a bounded cumulative window on that frame (bounded
    global window: bucket cardinality, not data size), a top-1
    TakeOrdered, and a 1-row broadcast back for residuals — the
    same contract at any corpus size, which is exactly why
    histogram-split GBDT is the 100 TB algorithm."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_quantity").cast("int").alias("f1"),
        F.round(F.col("l_discount") * 100).cast("int").alias("f2"),
        (cents("l_extendedprice") * 1000).alias("y"),
    )

    def fit_stump(df: DataFrame, feat: str, val: str) -> DataFrame:
        h = df.groupBy(F.col(feat).alias("f")).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(val).cast("long").alias("s"),
        )
        # bounded global window: distinct feature buckets (~50 rows)
        wp = W.orderBy("f").rowsBetween(W.unboundedPreceding, W.currentRow)
        tots = h.agg(
            F.sum("n").cast("long").alias("nt"),
            F.sum("s").cast("long").alias("st"),
        )
        p = h.select(
            "f",
            F.sum("n").over(wp).cast("long").alias("nl"),
            F.sum("s").over(wp).cast("long").alias("sl"),
        ).crossJoin(F.broadcast(tots))
        nl, sl = F.col("nl"), F.col("sl")
        nr, sr = F.col("nt") - nl, F.col("st") - sl
        score = sl.cast("double") * sl / nl + sr.cast("double") * sr / nr
        cand = p.filter(nl < F.col("nt")).select(
            "f",
            nl.alias("nl"),
            sl.alias("sl"),
            nr.alias("nr"),
            sr.alias("sr"),
            score.alias("score"),
        )
        return (
            cand.orderBy(F.col("score").desc(), "f")
            .limit(1)
            .select(
                "f",
                "nl",
                "nr",
                fdiv(F.col("sl"), F.col("nl")).alias("ml"),
                fdiv(F.col("sr"), F.col("nr")).alias("mr"),
            )
        )

    b1 = fit_stump(raw.select("f1", "y"), "f1", "y")
    res = raw.crossJoin(F.broadcast(b1)).select(
        F.col("f2"),
        (
            F.col("y")
            - F.when(F.col("f1") <= F.col("f"), F.col("ml")).otherwise(
                F.col("mr")
            )
        ).alias("v"),
    )
    b2 = fit_stump(res, "f2", "v")

    def row(b: DataFrame, rnd: int, feat_name: str) -> DataFrame:
        return b.select(
            F.lit(rnd).cast("int").alias("round"),
            F.lit(feat_name).alias("feature"),
            F.col("f").cast("int").alias("split_at"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.col("ml").alias("mean_left_milli"),
            F.col("mr").alias("mean_right_milli"),
        )

    return row(b1, 1, "l_quantity").unionAll(row(b2, 2, "l_discount_pct"))


# ------------------------------------- banded DTW distance (exact)
#
# Dynamic time warping between bounded seasonal profiles, kept EXACT:
# the 12-point monthly revenue series per nation is integer cents, so
# every DP cell (abs-difference cost + min over predecessors) is pure
# int64 algebra — the whole Sakoe-Chiba band unrolls into ~40 column
# expressions shared verbatim by both engines.  DTW over unbounded
# series does not scale (O(n·band) state per pair); the 100 TB form
# is exactly this one — fixed-length profile vectors (month-of-year,
# hour-of-week) pairwise-compared within bounded candidate sets.

_DTW_N = 12  # profile length: months of 1996
_DTW_BAND = 2  # Sakoe-Chiba radius


def _dtw_cells() -> list[tuple[str, str]]:
    """(column, expression) pairs computing the banded DP table in
    topological order over columns a1..a12 / b1..b12; the final cell
    is ``c_12_12``.  Shared-dialect SQL: abs/least/+ only."""
    cells = []
    for s in range(2, 2 * _DTW_N + 1):  # anti-diagonal order: s = i+j
        for i in range(1, _DTW_N + 1):
            j = s - i
            if j < 1 or j > _DTW_N or abs(i - j) > _DTW_BAND:
                continue
            d = f"abs(a{i} - b{j})"
            preds = [
                f"c_{pi}_{pj}"
                for pi, pj in ((i - 1, j - 1), (i - 1, j), (i, j - 1))
                if pi >= 1 and pj >= 1 and abs(pi - pj) <= _DTW_BAND
            ]
            if not preds:  # (1,1): base case
                expr = d
            elif len(preds) == 1:
                expr = f"{d} + {preds[0]}"
            else:
                expr = f"{d} + least({', '.join(preds)})"
            cells.append((f"c_{i}_{j}", expr))
    return cells


def _dtw_series_sql() -> str:
    pivots = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN EXTRACT(month FROM o_orderdate) = {k}"
        f" THEN CAST(round(o_totalprice * 100) AS BIGINT) END), 0)"
        f" AS BIGINT) AS m{k}"
        for k in range(1, _DTW_N + 1)
    )
    return f"""
      SELECT n.n_name AS nation, {pivots}
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE EXTRACT(year FROM o_orderdate) = 1996
      GROUP BY n.n_name
    """


def _dtw_oracle() -> str:
    a_cols = ", ".join(
        [f"a.nation AS nation_a, b.nation AS nation_b"]
        + [f"a.m{k} AS a{k}" for k in range(1, _DTW_N + 1)]
        + [f"b.m{k} AS b{k}" for k in range(1, _DTW_N + 1)]
    )
    sql = f"WITH s AS ({_dtw_series_sql()}),\n"
    sql += (
        f"t0 AS (SELECT {a_cols} FROM s a JOIN s b"
        " ON a.nation < b.nation)"
    )
    prev = "t0"
    for idx, (col, expr) in enumerate(_dtw_cells(), 1):
        sql += f",\nt{idx} AS (SELECT *, {expr} AS {col} FROM {prev})"
        prev = f"t{idx}"
    sql += (
        f"\nSELECT nation_a, nation_b, c_{_DTW_N}_{_DTW_N} AS dtw_cents"
        f" FROM {prev} ORDER BY dtw_cents, nation_a, nation_b LIMIT 10"
    )
    return sql


@query("ts_dtw_pairs", oracle=_dtw_oracle())
def ts_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between nations' 1996
    monthly revenue profiles; the 10 most-similar pairs.  The DP
    recurrence runs as unrolled integer column algebra (see
    _dtw_cells) on the pair frame — bit-exact, no UDF, no loop state.

    Scale shape: the profile table is |nations| rows (one data-scale
    partial-agg shuffle builds it); the pair frame is a broadcast
    self-join of that BOUNDED dimension (25 nations → 300 pairs —
    quadratic only in profile-set size, never corpus size: the same
    bounded-blocking contract as the dedup family); the DP is ~40
    map-side codegen'd expressions; top-10 is TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    base = (
        o.filter(F.year("o_orderdate") == 1996)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), cents("o_totalprice").alias("v"),
                F.month("o_orderdate").alias("mo"))
    )
    series = base.groupBy("nation").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("mo") == k, F.col("v"))), F.lit(0)
            )
            .cast("long")
            .alias(f"m{k}")
            for k in range(1, _DTW_N + 1)
        ]
    )
    a = series.alias("a")
    b = series.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.nation") < F.col("b.nation")
    ).select(
        F.col("a.nation").alias("nation_a"),
        F.col("b.nation").alias("nation_b"),
        *[F.col(f"a.m{k}").alias(f"a{k}") for k in range(1, _DTW_N + 1)],
        *[F.col(f"b.m{k}").alias(f"b{k}") for k in range(1, _DTW_N + 1)],
    )
    for col, expr in _dtw_cells():
        pairs = pairs.withColumn(col, F.expr(expr))
    return (
        pairs.select(
            "nation_a",
            "nation_b",
            F.col(f"c_{_DTW_N}_{_DTW_N}").alias("dtw_cents"),
        )
        .orderBy("dtw_cents", "nation_a", "nation_b")
        .limit(10)
    )


# ------------------------- Markov-chain attribution (removal effect)
#
# First-order Markov attribution (Anderl et al. 2014, the standard
# data-driven alternative to last-touch): journeys become transition
# probabilities, a channel's credit is its REMOVAL EFFECT — how much
# the start→conversion probability drops when the channel is deleted
# from the chain.  Exact absorption needs a matrix inverse; the
# engine instead evaluates the fixed-horizon recurrence
#   v_h(s) = p(s→conv) + Σ_c p(s→c)·v_{h-1}(c)
# for H steps in integer ppm with floor division — bit-replayable,
# and the state space is the CHANNEL VOCABULARY (tiny, fixed), so
# after one data-scale transition count every scenario (full + one
# per removed channel) is unrolled column algebra on a 1-row frame.

_MKV_CHANNELS = ("click", "error", "signup", "view")
_MKV_STATES = ("start",) + _MKV_CHANNELS
_MKV_H = 6


def _mkv_horizon_exprs(h: int, intdiv: str) -> list[tuple[str, str]]:
    """Column expressions for horizon ``h`` across all scenarios.
    ``intdiv``: 'div' (Spark SQL) or '//' (DuckDB) — all operands are
    non-negative, so floor == truncate in both."""
    cols = []
    for removed in (None,) + tuple(_MKV_CHANNELS):
        suf = f"rm_{removed}" if removed else "full"
        for s in _MKV_STATES:
            if s == removed:
                continue
            terms = [f"p_{s}_conv"]
            if h > 0:
                for c in _MKV_CHANNELS:
                    if c == removed:
                        continue
                    terms.append(
                        f"(p_{s}_{c} * v{h - 1}_{c}_{suf})"
                        f" {intdiv} 1000000"
                    )
            cols.append((f"v{h}_{s}_{suf}", " + ".join(terms)))
    return cols


_MKV_TRANS_SQL = """
    ev AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS jid
      FROM events WHERE ts IS NOT NULL
    ),
    hops AS (
      SELECT user_id, jid, event_type,
             coalesce(lag(event_type)
               OVER (PARTITION BY user_id, jid ORDER BY ts, event_id),
               'start') AS src,
             CASE WHEN event_type = 'purchase' THEN 'conv'
                  ELSE event_type END AS dst,
             lead(event_type)
               OVER (PARTITION BY user_id, jid ORDER BY ts, event_id)
               AS nxt
      FROM ev
    ),
    trans AS (
      SELECT src, dst FROM hops
      UNION ALL
      SELECT event_type AS src, 'null' AS dst
      FROM hops WHERE nxt IS NULL AND event_type <> 'purchase'
    ),
    cnt AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      FROM trans GROUP BY src, dst
    )
"""


def _mkv_oracle() -> str:
    pivots = []
    for s in _MKV_STATES:
        for t in tuple(_MKV_CHANNELS) + ("conv",):
            pivots.append(
                f"CAST(coalesce(max(CASE WHEN src = '{s}' AND dst = '{t}'"
                f" THEN p END), 0) AS BIGINT) AS p_{s}_{t}"
            )
    sql = f"WITH {_MKV_TRANS_SQL.strip()},\n"
    sql += f"""p AS (
      SELECT src, dst,
             {sql_fdiv('n * 1000000',
                       'sum(n) OVER (PARTITION BY src)')} AS p
      FROM cnt
    ),
    t0base AS (SELECT {', '.join(pivots)} FROM p)"""
    prev = "t0base"
    for h in range(_MKV_H + 1):
        cols = ", ".join(
            f"{e} AS {c}" for c, e in _mkv_horizon_exprs(h, "//")
        )
        sql += f",\nt{h} AS (SELECT *, {cols} FROM {prev})"
        prev = f"t{h}"
    arms = []
    for c in _MKV_CHANNELS:
        arms.append(f"""
    SELECT '{c}' AS channel,
           v{_MKV_H}_start_full AS v_full_ppm,
           v{_MKV_H}_start_rm_{c} AS v_removed_ppm,
           {sql_fdiv(f'(v{_MKV_H}_start_full - v{_MKV_H}_start_rm_{c})'
                     ' * 1000000', f'v{_MKV_H}_start_full')}
             AS removal_ppm
    FROM {prev}""")
    sql += (
        ",\nre AS (" + "\nUNION ALL\n".join(arms) + ")"
        "\n    SELECT channel, v_full_ppm, v_removed_ppm, removal_ppm,"
        f"\n           {sql_fdiv('removal_ppm * 1000000', '(SELECT sum(removal_ppm) FROM re)')}"
        " AS share_ppm"
        "\n    FROM re"
    )
    return sql


@query("attribution_markov_removal", oracle=_mkv_oracle())
def attribution_markov_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov-chain attribution with per-channel removal effects and
    normalized credit shares (exact integer ppm end to end — see the
    module comment for the fixed-horizon formulation).

    Scale shape: journeys and transitions are ONE window shuffle on
    user_id (journey ids from a running purchase count, hops from
    lag/lead) plus one partial-agg count to the (src, dst) frame —
    bounded by the channel-vocabulary square, not the corpus.  The
    chain evaluation (all five scenarios × seven horizons) is
    unrolled codegen'd algebra on a ONE-ROW pivot of that frame, so
    a 100 TB event log pays exactly one shuffle more than a count."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    wj = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ev = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
            ).over(wj),
            F.lit(0),
        )
        .cast("long")
        .alias("jid"),
    )
    wh = W.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    hops = ev.select(
        "event_type",
        F.coalesce(F.lag("event_type").over(wh), F.lit("start")).alias(
            "src"
        ),
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("dst"),
        F.lead("event_type").over(wh).alias("nxt"),
    )
    trans = hops.select("src", "dst").unionAll(
        hops.filter(
            F.col("nxt").isNull() & (F.col("event_type") != "purchase")
        ).select(
            F.col("event_type").alias("src"), F.lit("null").alias("dst")
        )
    )
    cnt = trans.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n")
    )
    p = cnt.select(
        "src",
        "dst",
        fdiv(
            F.col("n") * 1_000_000,
            F.sum("n").over(W.partitionBy("src")),
        ).alias("p"),
    )
    pivots = [
        F.coalesce(
            F.max(
                F.when(
                    (F.col("src") == s) & (F.col("dst") == t), F.col("p")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias(f"p_{s}_{t}")
        for s in _MKV_STATES
        for t in tuple(_MKV_CHANNELS) + ("conv",)
    ]
    frame = p.agg(*pivots)
    # ONE projection per horizon, not one withColumn per scenario
    # column: every horizon-h expression references only horizon-(h-1)
    # and p_* columns, so the 21 columns of a horizon land in a single
    # select.  The chained-withColumn form re-analyzed a growing plan
    # 147 times (7 horizons × 21 columns) — pure driver-side Catalyst
    # time, measured as the dominant cost of this query (guide §7.3:
    # very large plans; same fix class as the r13 simhash fold).
    for h in range(_MKV_H + 1):
        frame = frame.select(
            "*",
            *[F.expr(e).alias(c) for c, e in _mkv_horizon_exprs(h, "div")],
        )
    arms = [
        F.struct(
            F.lit(c).alias("channel"),
            F.col(f"v{_MKV_H}_start_full").alias("v_full_ppm"),
            F.col(f"v{_MKV_H}_start_rm_{c}").alias("v_removed_ppm"),
            fdiv(
                (
                    F.col(f"v{_MKV_H}_start_full")
                    - F.col(f"v{_MKV_H}_start_rm_{c}")
                )
                * 1_000_000,
                F.col(f"v{_MKV_H}_start_full"),
            ).alias("removal_ppm"),
        )
        for c in _MKV_CHANNELS
    ]
    re = frame.select(F.explode(F.array(*arms)).alias("x")).select(
        "x.channel", "x.v_full_ppm", "x.v_removed_ppm", "x.removal_ppm"
    )
    rsum = re.agg(F.sum("removal_ppm").cast("long").alias("rs"))
    return re.crossJoin(F.broadcast(rsum)).select(
        "channel",
        "v_full_ppm",
        "v_removed_ppm",
        "removal_ppm",
        fdiv(F.col("removal_ppm") * 1_000_000, F.col("rs")).alias(
            "share_ppm"
        ),
    )


# ---------------------- logistic regression on sufficient statistics
#
# The scalable GLM pattern: gradient-descent logistic regression
# where each step touches only the FEATURE HISTOGRAM (n, positives
# per bucket), never the rows — the sufficient-statistics trick that
# turns a 100 TB regression into one data-scale groupBy plus bounded
# per-step algebra.  Weights live in integer micro-units; the only
# transcendental (the per-bucket sigmoid) is micro-rounded, the
# gov_dp_histogram ln convention applied to exp.

_LOGIT_BUCKET_CENTS = 3_000_000
_LOGIT_STEPS = 2


def _logit_sigma_sql(w0: str, w1: str) -> str:
    return (
        f"CAST(round(1000000.0 / (1.0 + exp(-(CAST({w0} + {w1} * b"
        f" AS DOUBLE) / 1000000.0)))) AS BIGINT)"
    )


def _logit_oracle() -> str:
    sql = f"""
    WITH h AS (
      SELECT {sql_fdiv('CAST(round(o_totalprice * 100) AS BIGINT)',
                       str(_LOGIT_BUCKET_CENTS))} AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p
      FROM orders GROUP BY 1
    ),
    w0 AS (SELECT CAST(0 AS BIGINT) AS w0m, CAST(0 AS BIGINT) AS w1m,
                  (SELECT CAST(sum(n) AS BIGINT) FROM h) AS nt)"""
    prev = "w0"
    for i in range(1, _LOGIT_STEPS + 1):
        sig = _logit_sigma_sql(f"{prev}.w0m", f"{prev}.w1m")
        sql += f""",
    g{i} AS (
      SELECT CAST(sum(h.n * {sig} - h.p * 1000000) AS BIGINT) AS g0,
             CAST(sum(h.b * (h.n * {sig} - h.p * 1000000)) AS BIGINT)
               AS g1,
             min({prev}.w0m) AS w0m, min({prev}.w1m) AS w1m,
             min({prev}.nt) AS nt
      FROM h CROSS JOIN {prev}
    ),
    w{i} AS (
      SELECT w0m - {sql_fdiv('g0', 'nt')} AS w0m,
             w1m - {sql_fdiv('g1', 'nt * 10000')} AS w1m,
             nt, g0, g1
      FROM g{i}
    )"""
        prev = f"w{i}"
    arms = []
    for i in range(1, _LOGIT_STEPS + 1):
        arms.append(
            f"""
    SELECT CAST({i} AS INT) AS step, w0m AS w0_micro, w1m AS w1_micro,
           g0 AS grad0, g1 AS grad1
    FROM w{i}"""
        )
    return sql + "\nUNION ALL\n".join(arms)


@query("ml_logistic_histogram", oracle=_logit_oracle())
def ml_logistic_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (order fulfilment ~ price bucket) by
    fixed-step gradient descent on the bucket histogram: each step's
    gradient is Σ_b [n_b·σ(w0 + w1·b) − pos_b] and Σ_b b·[…] — exact
    integer sums of micro-rounded per-bucket sigmoids, with literal
    step sizes (1/N and 1/(N·10⁴): the feature spans ~200 buckets, so
    the curvature scale differs by ~|b|² between coordinates).
    Returns the weight trajectory and raw gradients per step.

    Scale: ONE data-scale groupBy builds the (n, pos) histogram;
    every subsequent step is algebra on that bounded frame (a 1-row
    weight frame broadcast-crossed in) — the reason histogram GLMs
    are the 100 TB formulation.  Step 1's sigmoid is exactly 0.5
    (w = 0), so the first gradient is rational — the oracle replays
    both steps bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    h = o.select(
        fdiv(cents("o_totalprice"), F.lit(_LOGIT_BUCKET_CENTS)).alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    ).groupBy("b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    w = h.agg(
        F.lit(0).cast("long").alias("w0m"),
        F.lit(0).cast("long").alias("w1m"),
        F.sum("n").cast("long").alias("nt"),
    )
    outs = []
    for i in range(1, _LOGIT_STEPS + 1):
        sig = F.round(
            1_000_000.0
            / (
                1.0
                + F.exp(
                    -(
                        (F.col("w0m") + F.col("w1m") * F.col("b")).cast(
                            "double"
                        )
                        / 1_000_000.0
                    )
                )
            )
        ).cast("long")
        resid = F.col("n") * sig - F.col("p") * 1_000_000
        g = (
            h.crossJoin(F.broadcast(w))
            .agg(
                F.sum(resid).cast("long").alias("g0"),
                F.sum(F.col("b") * resid).cast("long").alias("g1"),
                F.min("w0m").alias("w0m"),
                F.min("w1m").alias("w1m"),
                F.min("nt").alias("nt"),
            )
        )
        w = g.select(
            (F.col("w0m") - fdiv(F.col("g0"), F.col("nt"))).alias("w0m"),
            (
                F.col("w1m") - fdiv(F.col("g1"), F.col("nt") * 10_000)
            ).alias("w1m"),
            "nt",
            "g0",
            "g1",
        )
        outs.append(
            w.select(
                F.lit(i).cast("int").alias("step"),
                F.col("w0m").alias("w0_micro"),
                F.col("w1m").alias("w1_micro"),
                F.col("g0").alias("grad0"),
                F.col("g1").alias("grad1"),
            )
        )
    res = outs[0]
    for x in outs[1:]:
        res = res.unionAll(x)
    return res


# ------------------------------------------- permutation test (exact)
#
# Randomization inference without distributional assumptions: the
# group labels are re-drawn B times from a DETERMINISTIC md5 stream
# (the repo's portable-hash convention — reproducible by any engine,
# stable under repartitioning), the test statistic is recomputed per
# draw, and the p-value is the fraction of draws at least as extreme
# as the observed split.  The statistic (difference of per-group mean
# user spend) is kept in exact micro-cent integers via floor-divided
# means, so every comparison is integer-exact cross-engine.

_PERM_B = 40


@query(
    "stat_permutation_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    ),
    obs AS (
      SELECT {sql_fdiv('sum(CASE WHEN user_id % 2 = 0 THEN s END)'
                       ' * 1000000',
                       'count(CASE WHEN user_id % 2 = 0 THEN 1 END)')}
             - {sql_fdiv('sum(CASE WHEN user_id % 2 = 1 THEN s END)'
                         ' * 1000000',
                         'count(CASE WHEN user_id % 2 = 1 THEN 1 END)')}
               AS d
      FROM u
    ),
    draws AS (
      SELECT b, user_id, s,
             CAST(('0x' || substring(md5('perm:' || CAST(b AS VARCHAR)
               || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 2 AS side
      FROM u CROSS JOIN (SELECT unnest(range(1, {_PERM_B + 1})) AS b)
    ),
    stats AS (
      SELECT b,
             {sql_fdiv('sum(CASE WHEN side = 0 THEN s END) * 1000000',
                       'count(CASE WHEN side = 0 THEN 1 END)')}
             - {sql_fdiv('sum(CASE WHEN side = 1 THEN s END) * 1000000',
                         'count(CASE WHEN side = 1 THEN 1 END)')}
               AS d
      FROM draws GROUP BY b
    )
    SELECT obs.d AS obs_diff_micro,
           CAST({_PERM_B} AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN abs(stats.d) >= abs(obs.d)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           {sql_fdiv('sum(CASE WHEN abs(stats.d) >= abs(obs.d)'
                     f' THEN 1 ELSE 0 END) * 1000000', str(_PERM_B))}
             AS p_ppm
    FROM stats CROSS JOIN obs
    GROUP BY obs.d
    """,
)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of mean per-user spend between the even/odd
    user cohorts: B = 40 deterministic md5 label redraws, exact
    integer micro-cent statistics, p = share of redraws at least as
    extreme.  See the module comment for the exactness contract.

    Scale: the ONLY data-scale pass is the per-user spend rollup (one
    partial-agg shuffle); the B redraws explode the USER-LEVEL frame
    (bounded ×B multiplier — the standard distributed-permutation
    trick), aggregate per (draw, side), and finish on a B-row frame
    with a 1-row observed broadcast."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.sum(cents("value")).cast("long").alias("s")
    )

    def mean_diff(df: DataFrame, side, keys: list) -> DataFrame:
        return df.groupBy(*keys).agg(
            (
                fdiv(
                    F.sum(F.when(side == 0, F.col("s"))) * 1_000_000,
                    F.count(F.when(side == 0, F.lit(1))),
                )
                - fdiv(
                    F.sum(F.when(side == 1, F.col("s"))) * 1_000_000,
                    F.count(F.when(side == 1, F.lit(1))),
                )
            ).alias("d")
        )

    obs = mean_diff(u, F.col("user_id") % 2, [])
    draws = u.select(
        F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
        "user_id",
        "s",
    ).withColumn(
        "side",
        portable_hash60(
            F.concat(
                F.lit("perm:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        )
        % 2,
    )
    stats = mean_diff(draws, F.col("side"), ["b"])
    return (
        stats.crossJoin(F.broadcast(obs.withColumnRenamed("d", "od")))
        .agg(
            F.min("od").alias("obs_diff_micro"),
            F.lit(_PERM_B).cast("long").alias("n_perms"),
            F.sum(
                F.when(F.abs(F.col("d")) >= F.abs(F.col("od")), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_ge"),
            fdiv(
                F.sum(
                    F.when(
                        F.abs(F.col("d")) >= F.abs(F.col("od")), 1
                    ).otherwise(0)
                )
                * 1_000_000,
                F.lit(_PERM_B),
            ).alias("p_ppm"),
        )
    )


# ------------------------------------------- McNemar paired test


@query(
    "stat_mcnemar",
    oracle=f"""
    WITH paired AS (
      SELECT CASE WHEN (o_totalprice > 150000)
                       = (o_orderstatus = 'F') THEN 1 ELSE 0 END AS a_ok,
             CASE WHEN (o_orderpriority IN ('1-URGENT', '2-HIGH'))
                       = (o_orderstatus = 'F') THEN 1 ELSE 0 END AS b_ok
      FROM orders
    ),
    m AS (
      SELECT CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM paired
    )
    SELECT b, c,
           {sql_fdiv('(b - c) * (b - c) * 1000000', 'b + c')}
             AS chi2_micro,
           {sql_fdiv('(abs(b - c) - 1) * (abs(b - c) - 1) * 1000000',
                     'b + c')} AS chi2_cc_micro
    FROM m
    """,
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED classifiers (the right way to
    compare two models evaluated on the same examples — marginal
    accuracies hide the disagreement structure): b = A right / B
    wrong, c = A wrong / B right; χ² = (b−c)²/(b+c), with the
    continuity-corrected variant alongside.  Two rule classifiers
    (price threshold vs priority set) against the fulfilment label.
    Exact integer micro-χ² via floor division — bit-replayable.

    Scale: one scan, one global aggregate of two discordance counts
    — the statistic never materializes per-row verdicts."""
    o = load_table(spark, sf_dir, "orders")
    truth = F.col("o_orderstatus") == "F"
    a_ok = (F.col("o_totalprice") > 150000) == truth
    b_ok = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") == truth
    m = o.select(
        F.when(a_ok & ~b_ok, 1).otherwise(0).alias("ab"),
        F.when(~a_ok & b_ok, 1).otherwise(0).alias("ba"),
    ).agg(
        F.sum("ab").cast("long").alias("b"),
        F.sum("ba").cast("long").alias("c"),
    )
    d = F.col("b") - F.col("c")
    return m.select(
        "b",
        "c",
        fdiv(d * d * 1_000_000, F.col("b") + F.col("c")).alias(
            "chi2_micro"
        ),
        fdiv(
            (F.abs(d) - 1) * (F.abs(d) - 1) * 1_000_000,
            F.col("b") + F.col("c"),
        ).alias("chi2_cc_micro"),
    )


# ------------------------------------------------ one-way ANOVA F
#
# The k-group mean-difference staple (does spend differ by order
# priority?).  Sufficient statistics only: per group n, Σv, Σv² over
# EXACT INTEGER DOLLARS (floor of the money value — full cents would
# push Σv²·scale arithmetic past int64 at sf1; the dollar floor is
# part of the metric's definition, stated in both engines).  The
# stat_levene_bf lesson applies: each group's S²/n term is rounded to
# an INTEGER before the cross-group sum, so SSB/SSW are exact int64
# and the final F is one fixed-order double expression.


@query(
    "stat_anova_f",
    oracle=f"""
    WITH v AS (
      SELECT o_orderpriority AS grp,
             {sql_fdiv('CAST(round(o_totalprice * 100) AS BIGINT)',
                       '100')} AS v
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS q,
             CAST(round(CAST(sum(v) AS DOUBLE) * sum(v) / count(*))
                  AS BIGINT) AS sb
      FROM v GROUP BY grp
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(sb) AS BIGINT) AS sum_sb,
             CAST(sum(q - sb) AS BIGINT) AS ssw
      FROM g
    )
    SELECT k, nt AS n,
           CAST(sum_sb - round(CAST(st AS DOUBLE) * st / nt) AS BIGINT)
             AS ssb,
           ssw,
           CAST(round(
             (CAST(sum_sb - round(CAST(st AS DOUBLE) * st / nt)
                   AS DOUBLE) / (k - 1))
             / (CAST(ssw AS DOUBLE) / (nt - k)) * 1000000
           ) AS BIGINT) AS f_micro
    FROM m
    """,
)
def stat_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of order spend across the five
    priority groups (see the module comment for the exactness
    contract: integer-dollar values, per-group rounded S²/n terms,
    exact integer SSB/SSW, one fixed-order double F).

    Scale: ONE data-scale partial-agg groupBy to the 5-row group
    frame; everything after is algebra on that frame — the same
    sufficient-statistics contract as ml_logistic_histogram and
    feature_woe_iv."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        fdiv(cents("o_totalprice"), F.lit(100)).alias("v"),
    )
    g = v.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q"),
    ).withColumn(
        "sb",
        F.round(
            F.col("s").cast("double") * F.col("s") / F.col("n")
        ).cast("long"),
    )
    m = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("sb").cast("long").alias("sum_sb"),
        F.sum(F.col("q") - F.col("sb")).cast("long").alias("ssw"),
    )
    ssb = (
        F.col("sum_sb")
        - F.round(F.col("st").cast("double") * F.col("st") / F.col("nt"))
    ).cast("long")
    return m.select(
        "k",
        F.col("nt").alias("n"),
        ssb.alias("ssb"),
        "ssw",
        F.round(
            (ssb.cast("double") / (F.col("k") - 1))
            / (F.col("ssw").cast("double") / (F.col("nt") - F.col("k")))
            * 1_000_000
        )
        .cast("long")
        .alias("f_micro"),
    )


# ------------------------------------------------ maximum drawdown
#
# Peak-to-trough risk metric over each user's cumulative spend curve
# (the portfolio/SLA form: how far below its running peak did the
# series fall, and when).  Pure window algebra — cumulative sum,
# running max, max gap — all exact integer cents.


@query(
    "ts_max_drawdown",
    oracle="""
    WITH cum AS (
      SELECT user_id, ts, event_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE -CAST(round(value * 100) AS BIGINT) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS bal
      FROM events WHERE ts IS NOT NULL
    ),
    peaks AS (
      SELECT user_id, event_id, bal,
             CAST(max(bal) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS peak
      FROM cum
    )
    SELECT user_id,
           CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(min(CASE WHEN peak - bal
                         = (SELECT max(p2.peak - p2.bal) FROM peaks p2
                            WHERE p2.user_id = peaks.user_id)
                    THEN event_id END) AS BIGINT) AS trough_event_id
    FROM peaks
    GROUP BY user_id
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown of the signed cumulative spend curve
    (purchases credit, everything else debits): the largest
    peak-to-trough fall in exact integer cents, the peak itself, and
    the deterministic (min event_id) trough row.

    Scale: ONE window shuffle on user_id carries the cumulative sum
    AND the running max (same partition/order — one exchange, two
    frames), then a per-user partial aggregate.  The trough witness
    uses a window-max comparison, not a self-join."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    signed = F.when(
        F.col("event_type") == "purchase", cents("value")
    ).otherwise(-cents("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = ev.select(
        "user_id",
        "event_id",
        F.sum(signed).over(w).cast("long").alias("bal"),
        F.max(F.sum(signed).over(w)).over(w).cast("long").alias("peak"),
    )
    dd = cum.withColumn("gap", F.col("peak") - F.col("bal"))
    wmax = W.partitionBy("user_id")
    dd = dd.withColumn("max_gap", F.max("gap").over(wmax))
    return dd.groupBy("user_id").agg(
        F.max("gap").cast("long").alias("max_drawdown_cents"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.min(
            F.when(F.col("gap") == F.col("max_gap"), F.col("event_id"))
        )
        .cast("long")
        .alias("trough_event_id"),
    )


# ----------------------------------- off-policy evaluation (IPS)
#
# Counterfactual policy evaluation (Horvitz-Thompson / IPS): score a
# target policy on logged interactions REWEIGHTED by the logging
# policy's propensities.  The realistic twist that keeps the
# estimator non-trivial: propensities are fitted on the FIRST half
# of the log (the stale policy that generated traffic) and applied
# to second-half rewards — exactly the drift situation production
# off-policy eval faces.  Everything is exact integers: propensities
# are ppm floor divisions, each row's reweighted reward is one fdiv,
# and sums of per-row integers are order-free.

_IPS_SPLIT_DAYS = 15
_IPS_POLICY = {0: "click", 1: "view", 2: "signup", 3: "purchase"}


def _ips_policy_sql() -> str:
    arms = " ".join(
        f"WHEN {c} THEN '{a}'" for c, a in _IPS_POLICY.items()
    )
    return f"CASE user_id % 4 {arms} END"


@query(
    "ml_offpolicy_ips",
    oracle=f"""
    WITH ev AS (
      SELECT user_id % 4 AS ctx, event_type AS action,
             CAST(round(value * 100) AS BIGINT) AS r,
             epoch_us(ts) // 86400000000 AS day
      FROM events WHERE ts IS NOT NULL
    ),
    d0 AS (SELECT min(day) AS day0 FROM ev),
    logged AS (
      SELECT ctx, action, CAST(count(*) AS BIGINT) AS n_ca
      FROM ev CROSS JOIN d0
      WHERE day < day0 + {_IPS_SPLIT_DAYS}
      GROUP BY ctx, action
    ),
    prop AS (
      SELECT ctx, action,
             {sql_fdiv('n_ca * 1000000',
                       'sum(n_ca) OVER (PARTITION BY ctx)')} AS p_ppm
      FROM logged
    ),
    target AS (
      SELECT ev.ctx, ev.action, ev.r
      FROM ev CROSS JOIN d0
      WHERE day >= day0 + {_IPS_SPLIT_DAYS}
    ),
    n2 AS (SELECT ctx, CAST(count(*) AS BIGINT) AS n FROM target GROUP BY ctx),
    matched AS (
      SELECT t.ctx,
             CAST(count(*) AS BIGINT) AS n_match,
             CAST(sum({sql_fdiv('t.r * 1000000', 'p.p_ppm')}) AS BIGINT)
               AS sw
      FROM target t
      JOIN prop p ON p.ctx = t.ctx AND p.action = t.action
      WHERE t.action = ({_ips_policy_sql().replace('user_id % 4', 't.ctx')})
      GROUP BY t.ctx
    )
    SELECT m.ctx,
           ({_ips_policy_sql().replace('user_id % 4', 'm.ctx')})
             AS pi_action,
           n2.n AS n_log,
           m.n_match,
           {sql_fdiv('m.sw', 'n2.n')} AS v_ips_cents
    FROM matched m JOIN n2 ON n2.ctx = m.ctx
    """,
)
def ml_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-score evaluation of a fixed target policy
    (context = user_id mod 4 → one preferred action each): logging
    propensities fitted on days 0-14, second-half rewards reweighted
    by 1/p and averaged over ALL second-half rows (the standard IPS
    estimator — unmatched rows contribute zero).  Per-row reweighting
    is one exact floor division; the per-context sums are order-free
    integers, so the estimate hash-checks.

    Scale: two partial-agg passes over the log (propensity fit,
    reweighted sum) + a broadcast of the context×action propensity
    frame — no per-row state, no shuffle beyond the context keys."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        (F.col("user_id") % 4).alias("ctx"),
        F.col("event_type").alias("action"),
        cents("value").alias("r"),
        fdiv(
            F.unix_micros(F.col("ts")), F.lit(86_400_000_000)
        ).alias("day"),
    )
    d0 = ev.agg(F.min("day").alias("day0"))
    ev = ev.crossJoin(F.broadcast(d0))
    first = ev.filter(F.col("day") < F.col("day0") + _IPS_SPLIT_DAYS)
    second = ev.filter(F.col("day") >= F.col("day0") + _IPS_SPLIT_DAYS)
    logged = first.groupBy("ctx", "action").agg(
        F.count("*").cast("long").alias("n_ca")
    )
    prop = logged.select(
        "ctx",
        "action",
        fdiv(
            F.col("n_ca") * 1_000_000,
            F.sum("n_ca").over(W.partitionBy("ctx")),
        ).alias("p_ppm"),
    )
    policy = F.col("ctx")
    pi = F.when(policy == 0, "click")
    for c, a in list(_IPS_POLICY.items())[1:]:
        pi = pi.when(policy == c, a)
    n2 = second.groupBy("ctx").agg(F.count("*").cast("long").alias("n_log"))
    matched = (
        second.filter(F.col("action") == pi)
        .join(F.broadcast(prop), ["ctx", "action"])
        .groupBy("ctx")
        .agg(
            F.count("*").cast("long").alias("n_match"),
            F.sum(fdiv(F.col("r") * 1_000_000, F.col("p_ppm")))
            .cast("long")
            .alias("sw"),
        )
    )
    return matched.join(n2, "ctx").select(
        "ctx",
        pi.alias("pi_action"),
        "n_log",
        "n_match",
        fdiv(F.col("sw"), F.col("n_log")).alias("v_ips_cents"),
    )


# ------------------------------------------ volume control chart
#
# Pipeline-health staple: flag days whose EVENT VOLUME sits more
# than 2 sigma from the corpus mean — the ingest-monitoring alarm
# that catches dead upstreams and replay storms before models train
# on a hole.  Mean and sigma live in milli-units from exact integer
# moments (IEEE sqrt is correctly rounded → bit-identical), and the
# flag comparison is pure integer milli algebra.


@query(
    "anomaly_volume_days",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS s,
             CAST(sum(n * n) AS BIGINT) AS q
      FROM d
    ),
    z AS (
      SELECT day, n, k, s,
             CAST((s * 1000 - (s * 1000 % k)) // k AS BIGINT)
               AS mean_milli,
             CAST(round(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s
                              / k) / k) * 1000) AS BIGINT) AS sd_milli
      FROM d CROSS JOIN m
    )
    SELECT CAST(day AS BIGINT) AS day, n, mean_milli, sd_milli,
           abs(n * 1000 - mean_milli) > 2 * sd_milli AS flagged
    FROM z
    """,
)
def anomaly_volume_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume control chart: per-day counts vs the
    corpus mean ± 2σ, all exact milli-unit integers (see module
    comment).  One data-scale partial-agg groupBy to the bounded
    day frame; the 1-row moment frame broadcasts; flags are map-side
    integer compares."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    d = ev.groupBy(
        fdiv(F.unix_micros(F.col("ts")), F.lit(86_400_000_000)).alias(
            "day"
        )
    ).agg(F.count("*").cast("long").alias("n"))
    m = d.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("q"),
    )
    z = d.crossJoin(F.broadcast(m)).select(
        "day",
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
        F.col("day").cast("long").alias("day"),
        "n",
        "mean_milli",
        "sd_milli",
        (
            F.abs(F.col("n") * 1000 - F.col("mean_milli"))
            > 2 * F.col("sd_milli")
        ).alias("flagged"),
    )


@query(
    "seq_pattern_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events WHERE ts IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(length(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
             AS n_funnels,
           seq LIKE '%e%' AS has_error,
           CAST(length(seq) - length(replace(seq, 'p', ''))
                AS BIGINT) AS n_purchases
    FROM seqs
    """,
)
def seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern detection — the SQL:2016
    row-pattern operator Spark lacks natively, re-expressed Spark-
    first: each user's event history collapses to a SYMBOL STRING
    (first letter of event_type — the five fixture types map to
    distinct symbols s/c/p/e/v, ordered by (ts, event_id) for a total
    order), and patterns become ordinary regular expressions over
    that string — here the funnel ``view (click)* purchase``
    ('vc*p'), counted non-overlapping leftmost-first, which Java's
    regex engine and DuckDB's RE2 agree on for this pattern class.

    The reduction is the scale story: ONE partial-aggregated shuffle
    on user_id builds the ordered symbol strings (array_sort of
    (ts, id, sym) structs — no window, no per-user sort spill), then
    every pattern evaluates map-side at codegen speed; adding more
    patterns costs zero additional shuffles.  At 100 TB a per-user
    history is KBs — the string form is smaller than the rows it
    replaces."""
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    seqs = (
        e.select(
            "user_id",
            F.struct("ts", "event_id",
                     F.substring("event_type", 1, 1).alias("sym")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["sym"]
                ),
                "",
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.regexp_count(F.col("seq"), F.lit("vc*p"))
        .cast("long")
        .alias("n_funnels"),
        F.col("seq").contains("e").alias("has_error"),
        (
            F.length("seq")
            - F.length(F.regexp_replace("seq", "p", ""))
        )
        .cast("long")
        .alias("n_purchases"),
    )
