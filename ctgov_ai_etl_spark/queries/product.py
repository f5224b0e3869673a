"""Round-9 wave: product analytics + frontier operators.

The analytics suite a consumer-product warehouse runs on an events
stream — multi-step funnels (unbounded and time-boxed), weekly
retention cohorts, RFM segmentation, Kaplan-Meier survival — plus
frontier relational operators: Pareto skyline, weighted median,
market-basket pair affinity, arithmetic hierarchy rollup, column
uniqueness profiling, correlated-subquery decorrelation, and robust
(median/IQR) feature scaling.

Every query follows the exactness conventions (functions/exact.py):
money in integer cents, time in int64 microseconds with
pmod-subtraction floor division, ratios in integer ppm, medians /
quartiles over doubled / quadrupled integers, running products in a
fixed ascending order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.exact import cents, fdiv, sql_fdiv
from ctgov_ai_etl_spark.operators.sketches import portable_hash60
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table

_US_PER_DAY = 86_400_000_000
_US_PER_WEEK = 7 * _US_PER_DAY


# ------------------------------------------------------------- funnels


def _funnel_steps(
    ev: DataFrame, bound_us: int | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Greedy earliest-completion funnel view -> click -> purchase:
    step k+1 is each user's EARLIEST qualifying event strictly after
    their step-k time (optionally within ``bound_us``).  The greedy
    choice is deterministic (min is unique as a value) and complete:
    if any qualifying chain exists, the greedy chain exists."""
    ts_us = F.unix_micros(F.col("ts"))

    def step(prev: DataFrame, etype: str, out: str, prev_col: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype).select(
            "user_id", ts_us.alias("__t")
        )
        cond = F.col("__t") > F.col(prev_col)
        if bound_us is not None:
            cond = cond & (F.col("__t") <= F.col(prev_col) + bound_us)
        return (
            e.join(prev, "user_id")
            .filter(cond)
            .groupBy("user_id")
            .agg(F.min("__t").alias(out))
        )

    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("t1"))
    )
    s2 = step(s1, "click", "t2", "t1")
    s3 = step(s2, "purchase", "t3", "t2")
    return s1, s2, s3


def _funnel_counts(s1: DataFrame, s2: DataFrame, s3: DataFrame) -> DataFrame:
    counts = (
        s1.agg(F.lit(1).alias("step"), F.lit("view").alias("step_name"),
               F.count("*").cast("long").alias("n_users"))
        .unionAll(
            s2.agg(F.lit(2).alias("step"), F.lit("click").alias("step_name"),
                   F.count("*").cast("long").alias("n_users"))
        )
        .unionAll(
            s3.agg(F.lit(3).alias("step"), F.lit("purchase").alias("step_name"),
                   F.count("*").cast("long").alias("n_users"))
        )
    )
    # conv_ppm vs step 1 — a 3-row window, not a data-scale shuffle.
    w = W.orderBy("step").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    top = F.first("n_users").over(w)
    return counts.select(
        "step",
        "step_name",
        "n_users",
        fdiv(F.col("n_users") * 1_000_000, F.greatest(top, F.lit(1))).alias(
            "conv_ppm"
        ),
    )


_FUNNEL_ORACLE_TMPL = """
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' AND ts IS NOT NULL
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1 {bound2}
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2 {bound3}
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT 1 AS step, 'view' AS step_name,
             CAST(count(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
    )
    SELECT CAST(step AS INT) AS step, step_name, n_users,
           {conv} AS conv_ppm
    FROM counts
    """

_CONV_SQL = sql_fdiv(
    "n_users * 1000000",
    "greatest(first_value(n_users) OVER "
    "(ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "UNBOUNDED FOLLOWING), 1)",
)


@query(
    "funnel_within_window",
    oracle=_FUNNEL_ORACLE_TMPL.format(
        bound2=f"AND epoch_us(e.ts) <= s1.t1 + {7 * _US_PER_DAY}",
        bound3=f"AND epoch_us(e.ts) <= s2.t2 + {7 * _US_PER_DAY}",
        conv=_CONV_SQL,
    ),
)
def funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel: each next step must land within 7 days of
    the previous step (the product-analytics default — an unbounded
    funnel overcounts users who 'converted' a quarter later).  Same
    greedy chained min-aggregation plan as funnel_conversion; the
    bound is one int64-microsecond conjunct pushed into each join
    filter.  NOTE the greedy chain is the STANDARD windowed-funnel
    semantics (anchor at the earliest step-k completion), not a
    backtracking search over all chains.  Companion to the unbounded
    funnel_conversion (queries/windows.py); conv_ppm is exact integer
    ppm vs step 1 over a constant 3-row window."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    s1, s2, s3 = _funnel_steps(ev, 7 * _US_PER_DAY)
    return _funnel_counts(s1, s2, s3)


# ----------------------------------------------------------------- RFM


@query(
    "rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             CAST(max({sql_fdiv("epoch_us(o_orderdate)", _US_PER_DAY)})
                  AS BIGINT) AS last_day,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM orders GROUP BY o_custkey
    ),
    anchored AS (
      SELECT custkey,
             CAST((SELECT max(last_day) FROM per_cust) - last_day AS INT)
               AS r_days,
             f, m_cents
      FROM per_cust
    )
    SELECT custkey, r_days, f, m_cents,
           CAST(ntile(5) OVER (ORDER BY r_days ASC,  custkey) AS INT) AS r_q,
           CAST(ntile(5) OVER (ORDER BY f DESC,      custkey) AS INT) AS f_q,
           CAST(ntile(5) OVER (ORDER BY m_cents DESC, custkey) AS INT) AS m_q
    FROM anchored
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days since last order, anchored at
    the dataset's max order day), frequency, monetary (exact cents),
    each quintiled with deterministic custkey tie-breaks (quintile 1 =
    best).  One per-customer aggregation + three global ntile windows
    over the AGGREGATED frame (one row per customer — already
    compressed).  At 100x scale route the quintiles through
    global_rank's distributed rank + arithmetic ntile instead of the
    single-reducer windows (see agg_histogram_equidepth); this
    exemplar keeps the declarative form the optimizer recognizes."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(fdiv(F.unix_micros("o_orderdate"), _US_PER_DAY)).alias(
            "last_day"
        ),
        F.count("*").cast("long").alias("f"),
        F.sum(cents("o_totalprice")).cast("long").alias("m_cents"),
    )
    anchor = F.max("last_day").over(
        W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
    )
    anchored = per_cust.select(
        "custkey",
        (anchor - F.col("last_day")).cast("int").alias("r_days"),
        "f",
        "m_cents",
    )
    return anchored.select(
        "custkey",
        "r_days",
        "f",
        "m_cents",
        F.ntile(5)
        .over(W.orderBy(F.col("r_days").asc(), F.col("custkey")))
        .cast("int")
        .alias("r_q"),
        F.ntile(5)
        .over(W.orderBy(F.col("f").desc(), F.col("custkey")))
        .cast("int")
        .alias("f_q"),
        F.ntile(5)
        .over(W.orderBy(F.col("m_cents").desc(), F.col("custkey")))
        .cast("int")
        .alias("m_q"),
    )


# ------------------------------------------------------------ survival


@query(
    "survival_km",
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
      WHERE e.event_type = 'error' AND epoch_us(e.ts) > t0.start_us
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
             CAST((SELECT count(*) FROM subj) AS BIGINT)
               - CAST(coalesce(sum(leaving) OVER (ORDER BY dur_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT dur_us, n_risk, d AS n_events,
           round(product(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                   OVER (ORDER BY dur_us
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS survival
    FROM risk
    WHERE d > 0
    """,
)
def survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve: time from first signup to first
    subsequent error, right-censored at the dataset horizon.  The
    curve itself (distinct event durations) is bounded by the subject
    count, so after two keyed aggregations the risk-set arithmetic
    and the running product run on the COMPRESSED grid — the heavy
    lifting (per-subject min/censor) partially aggregates map-side.
    Exactness: durations are int64 micros; each KM factor is one
    double division (n_risk - d)/n_risk of exact integers, and both
    engines multiply the factors in the same ascending-duration order
    (Spark: left fold over the sorted grid array; DuckDB: running
    product window) — bit-identical before the 6-dp output rounding.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ts_us = F.unix_micros(F.col("ts"))
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("start_us"))
    )
    horizon = ev.agg(F.max(ts_us).alias("h"))
    err = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", ts_us.alias("e_us"))
        .join(t0, "user_id")
        .filter(F.col("e_us") > F.col("start_us"))
        .groupBy("user_id")
        .agg(F.min("e_us").alias("event_us"))
    )
    subj = (
        t0.join(err, "user_id", "left")
        .crossJoin(F.broadcast(horizon))  # 1-row horizon
        .select(
            "user_id",
            (F.coalesce("event_us", "h") - F.col("start_us")).alias("dur_us"),
            F.when(F.col("event_us").isNull(), 0).otherwise(1).alias("observed"),
        )
    )
    grid = subj.groupBy("dur_us").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    # Fold the (small) grid in ascending duration order: risk set via
    # running subtraction, survival via running product — one global
    # aggregate over rows already compressed to distinct durations.
    folded = grid.agg(
        F.array_sort(
            F.collect_list(F.struct("dur_us", "d", "leaving"))
        ).alias("g"),
        F.sum("leaving").cast("long").alias("n_total"),
    )
    acc0 = F.struct(
        F.col("n_total").alias("n_risk"),
        F.lit(1.0).alias("s"),
        F.expr(
            "CAST(array() AS array<struct<dur_us: bigint, n_risk: bigint,"
            " n_events: bigint, survival: double>>)"
        ).alias("rows"),
    )

    def fold(acc, g):
        s_next = acc.s * (
            (acc.n_risk - g.d).cast("double") / acc.n_risk.cast("double")
        )
        emit = F.concat(
            acc.rows,
            F.when(
                g.d > 0,
                F.array(
                    F.struct(
                        g.dur_us.alias("dur_us"),
                        acc.n_risk.alias("n_risk"),
                        g.d.alias("n_events"),
                        F.round(s_next, 6).alias("survival"),
                    )
                ),
            ).otherwise(F.expr(
                "CAST(array() AS array<struct<dur_us: bigint, n_risk: bigint,"
                " n_events: bigint, survival: double>>)"
            )),
        )
        return F.struct(
            (acc.n_risk - g.leaving).alias("n_risk"),
            s_next.alias("s"),
            emit.alias("rows"),
        )

    return (
        folded.select(
            F.explode(F.aggregate("g", acc0, fold).rows).alias("r")
        )
        .select("r.dur_us", "r.n_risk", "r.n_events", "r.survival")
    )


# ----------------------------------------------------------- skyline


@query(
    "pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents,
             CAST(count(*) AS BIGINT) AS f
      FROM orders GROUP BY o_custkey
    )
    SELECT p.m_cents, p.f
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.m_cents >= p.m_cents AND q.f >= p.f
        AND (q.m_cents > p.m_cents OR q.f > p.f)
    )
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline over per-customer (total spend, order count):
    the points no other point dominates in both dimensions.  The
    oracle runs the O(n²) NOT-EXISTS definition; the engine runs the
    O(n log n) sweep — group to distinct spend levels (max count per
    level), then one ordered pass where a level survives iff its
    count exceeds the running max of all higher-spend levels.  The
    sweep's window runs over the AGGREGATED distinct-spend frame, and
    at 100x the same sweep applies after range-partitioning by spend
    with per-partition prefix maxima (the global_rank pattern);
    dominance never crosses the sorted order."""
    o = load_table(spark, sf_dir, "orders")
    pts = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(cents("o_totalprice")).cast("long").alias("m_cents"),
            F.count("*").cast("long").alias("f"),
        )
        .select("m_cents", "f")
        .distinct()
    )
    lvl = pts.groupBy("m_cents").agg(F.max("f").alias("fmax"))
    prev_max = F.max("fmax").over(
        W.orderBy(F.col("m_cents").desc()).rowsBetween(
            W.unboundedPreceding, -1
        )
    )
    return (
        lvl.withColumn("__prev", prev_max)
        .filter(F.col("__prev").isNull() | (F.col("fmax") > F.col("__prev")))
        .select("m_cents", F.col("fmax").alias("f"))
    )


# ------------------------------------------------------ market basket


@query(
    "basket_pair_affinity",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM basket),
    part_cnt AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
      FROM basket GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_pair,
           {sql_fdiv("n_pair * n_orders.n * 1000000", "ca.n_part * cb.n_part")}
             AS lift_ppm
    FROM pairs
    JOIN part_cnt ca ON ca.l_partkey = part_a
    JOIN part_cnt cb ON cb.l_partkey = part_b
    CROSS JOIN n_orders
    ORDER BY n_pair DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity: co-occurrence counts of part
    pairs within orders, with exact integer-ppm lift
    (P(a,b)/P(a)P(b)).  The self-join is keyed on l_orderkey, so the
    pair blow-up is quadratic only in BASKET SIZE (small constant),
    never corpus size — the same bounded-blocking argument as the
    dedup family.  Lift joins are keyed on part; the 1-row order
    count broadcasts.  Top-20 by support with full ordering
    determinism via the (part_a, part_b) tie-break —
    TakeOrderedAndProject, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    # The distinct basket table feeds FOUR consumers (order count,
    # part counts, both self-join sides): persist the narrow
    # (orderkey, partkey) rows so the scan+distinct runs once, not
    # per branch (r16; the _materialize rule from operators/dedup.py).
    from ctgov_ai_etl_spark.operators.cache import track

    basket = track(li.select("l_orderkey", "l_partkey").distinct().persist())
    n_orders = basket.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    part_cnt = basket.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_part")
    )
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pair"))
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("na")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("nb")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))  # 1-row total
        .select(
            "part_a",
            "part_b",
            "n_pair",
            fdiv(
                F.col("n_pair") * F.col("n") * 1_000_000,
                F.col("na") * F.col("nb"),
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("n_pair").desc(), "part_a", "part_b")
        .limit(20)
    )


# ------------------------------------------------------ weighted median


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                        l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_qty,
             CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS BIGINT) AS total_qty
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(min(price_cents) AS BIGINT) AS w_median_cents,
           CAST(min(total_qty) AS BIGINT) AS total_qty
    FROM w
    WHERE 2 * cum_qty >= total_qty
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted (lower) median price per return flag: the
    first price at which cumulative weight reaches half the total —
    all in exact integers (price cents, integer quantities), so no
    interpolation ambiguity exists between engines.  One window pass
    per flag over the l_returnflag shuffle (Spark computes both the
    running and total sums from the same exchange), then a tiny
    filtered min-aggregation.  The weighted median is the robust
    'typical price' a pricing monitor wants when line sizes vary."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    wcum = W.partitionBy("l_returnflag").orderBy(
        "price_cents", "l_orderkey", "l_linenumber"
    )
    wall = W.partitionBy("l_returnflag")
    staged = base.select(
        "l_returnflag",
        "price_cents",
        F.sum("qty").over(wcum).cast("long").alias("cum_qty"),
        F.sum("qty").over(wall).cast("long").alias("total_qty"),
    )
    return (
        staged.filter(2 * F.col("cum_qty") >= F.col("total_qty"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_cents").cast("long").alias("w_median_cents"),
            F.min("total_qty").cast("long").alias("total_qty"),
        )
    )


# --------------------------------------------------- hierarchy rollup


@query(
    "hierarchy_rollup",
    oracle="""
    WITH val AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v_cents
      FROM orders GROUP BY o_custkey
    ),
    anc AS (
      SELECT c.c_custkey AS custkey,
             unnest(list_distinct(list_transform(range(0, 8),
               i -> CAST(c.c_custkey // CAST(power(10, i) AS BIGINT)
                         AS BIGINT)))) AS node
      FROM customer c
    )
    SELECT a.node,
           CAST(sum(coalesce(v.v_cents, 0)) AS BIGINT) AS subtree_cents,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM anc a LEFT JOIN val v USING (custkey)
    GROUP BY a.node
    """,
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over a decimal-digit hierarchy (node = custkey
    with k trailing digits dropped; root 0): total spend and customer
    count for every subtree.  The insight: an ARITHMETIC hierarchy
    needs NO iterative joins and no recursive CTE — each leaf emits
    its ≤ 8 ancestors map-side (explode of a distinct-ed literal
    transform), and one groupBy(node) rolls everything up.  Compare
    graph_bfs_layers, where the edges are data and iteration is
    unavoidable; encoding hierarchies into keys (dates, org paths,
    geo cells) converts tree traversal into map-side arithmetic at
    any scale.  The oracle replays the same ancestor generation in
    SQL."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    val = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(cents("o_totalprice")).cast("long").alias("v_cents")
    )
    anc = c.select(
        F.col("c_custkey").alias("custkey"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda i: fdiv(
                        F.col("c_custkey"), F.pow(F.lit(10), i).cast("long")
                    ),
                )
            )
        ).alias("node"),
    )
    return (
        anc.join(val, "custkey", "left")
        .groupBy("node")
        .agg(
            F.sum(F.coalesce("v_cents", F.lit(0))).cast("long").alias(
                "subtree_cents"
            ),
            F.count("*").cast("long").alias("n_customers"),
        )
    )


# ------------------------------------------------------- profiling


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {sql_fdiv(f"count(DISTINCT {c}) * 1000000",
                     "greatest(count(*), 1)")} AS uniq_ppm
    FROM orders"""
    for c in _PROFILE_COLS
)


@query("dq_uniqueness_profile", oracle=_PROFILE_ORACLE)
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level uniqueness/null profile of the orders table — the
    data-catalog statistics pass (row count, null count, exact
    distinct count, uniqueness ppm per column).  One aggregation per
    column unioned (each distinct-count shuffles its own column only
    — column pruning keeps every branch narrow); at 100 TB swap the
    exact count-distincts for approx_count_distinct and keep the
    identical output contract.  Exact here so the oracle hash-checks.
    """
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            o.agg(
                F.lit(c).alias("col_name"),
                F.count("*").cast("long").alias("n_rows"),
                (F.count("*") - F.count(c)).cast("long").alias("n_null"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
            ).select(
                "col_name",
                "n_rows",
                "n_null",
                "n_distinct",
                fdiv(
                    F.col("n_distinct") * 1_000_000,
                    F.greatest(F.col("n_rows"), F.lit(1)),
                ).alias("uniq_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ------------------------------------------- correlated decorrelation


@query(
    "filter_correlated_avg",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders o
    WHERE CAST(round(o_totalprice * 100) AS BIGINT)
            * (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
          > (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
             FROM orders i WHERE i.o_custkey = o.o_custkey)
    """,
)
def filter_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders strictly above their customer's average order value —
    the canonical correlated scalar subquery, DECORRELATED: one
    per-customer aggregate joined back on custkey (the optimizer
    plan for the subquery form, written explicitly).  The comparison
    is cross-multiplied (cents * n > sum_cents) so no division ever
    happens — exact integers end to end, immune to float-average
    representation differences.  One shuffle for the aggregate, one
    keyed join reusing the custkey partitioning."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum(cents("o_totalprice")).cast("long").alias("sum_cents"),
    )
    return (
        o.select(
            "o_orderkey", "o_custkey", cents("o_totalprice").alias("price_cents")
        )
        .join(per_cust, "o_custkey")
        .filter(
            F.col("price_cents") * F.col("n_cust") > F.col("sum_cents")
        )
        .select("o_orderkey", "o_custkey", "price_cents")
    )


# --------------------------------------------------- robust scaling


@query(
    "feature_scale_robust",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(round(value * 1000000) AS BIGINT) * 4 AS vm4
      FROM events
    ),
    q AS (
      SELECT event_type,
             quantile_cont(vm4, 0.25) AS p25,
             quantile_cont(vm4, 0.50) AS p50,
             quantile_cont(vm4, 0.75) AS p75
      FROM base GROUP BY event_type
    )
    SELECT b.event_id, b.event_type,
           round((CAST(b.vm4 AS DOUBLE) - q.p50) / (q.p75 - q.p25), 6)
             AS robust_z
    FROM base b JOIN q USING (event_type)
    WHERE q.p75 > q.p25
    """,
)
def feature_scale_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling (x - median) / IQR per event type — the
    outlier-immune sibling of feature_scale_standard.  Exact
    quartiles via QUADRUPLED integer micro-units: linear
    interpolation at 0.25/0.5/0.75 lands on (n-1)*q with fractional
    part in {0, ¼, ½, ¾}, and over multiples of 4 the interpolated
    value is an exactly-representable integer double in both engines
    (the doubled-median convention, extended to quartiles).  One
    per-type aggregation broadcast back onto the stream — map-side
    normalization, one shuffle total."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        (F.round(F.col("value") * 1_000_000).cast("long") * 4).alias("vm4"),
    )
    q = base.groupBy("event_type").agg(
        F.percentile("vm4", F.lit(0.25)).alias("p25"),
        F.percentile("vm4", F.lit(0.50)).alias("p50"),
        F.percentile("vm4", F.lit(0.75)).alias("p75"),
    )
    return (
        base.join(F.broadcast(q), "event_type")  # one row per event type
        .filter(F.col("p75") > F.col("p25"))
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("vm4").cast("double") - F.col("p50"))
                / (F.col("p75") - F.col("p25")),
                6,
            ).alias("robust_z"),
        )
    )


# ------------------------------------------------------- path analysis


@query(
    "path_top_sequences",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) > epoch_us(lag(ts) OVER w) + 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS INT) AS island
      FROM marked
    ),
    ranked AS (
      SELECT user_id, island, event_type,
             row_number() OVER (PARTITION BY user_id, island
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, island,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 5
      GROUP BY user_id, island
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 15
    """,
)
def path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths: 30-minute-gap sessions reduced to their first
    five event types joined with '>', counted across the corpus — the
    'what do users actually do' product analytic.  Gaps-and-islands
    sessionization (one user_id window pass, exchange reused by the
    per-session rank), then the path builds by AGGREGATION
    (array_sort over (rn, type) structs — partial-aggregable), never
    a per-session collect to the driver.  Path cardinality is bounded
    by 5^|event types|, so the count shuffle is tiny; top-15 with a
    full (count, path) tie-break is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(wo)
    is_new = (
        prev_us.isNull()
        | (F.unix_micros("ts") > prev_us + 1_800_000_000)
    ).cast("int")
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type", is_new.alias("is_new")
    ).withColumn(
        "island",
        F.sum("is_new")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int"),
    )
    ranked = sess.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id", "island").orderBy("ts", "event_id")
        ),
    ).filter(F.col("rn") <= 5)
    paths = (
        ranked.groupBy("user_id", "island")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# ------------------------------------------------------------- CUSUM

_CUSUM_K_MICRO = 600_000  # drift allowance per observation (0.6 in micro)
_CUSUM_H_MICRO = 2_000_000  # alarm threshold (2.0 in micro)


@query(
    "anomaly_cusum",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000) AS BIGINT) - {_CUSUM_K_MICRO}
               AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    rec AS (
      SELECT user_id, event_id, rn,
             GREATEST(0, delta) AS s_micro
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn,
             GREATEST(0, r.s_micro + s.delta)
      FROM seq s JOIN rec r
        ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, s_micro,
           s_micro > {_CUSUM_H_MICRO} AS alarm
    FROM rec
    """,
)
def anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection per user: S_i = max(0,
    S_(i-1) + (x_i - k)), alarm when S crosses h — the classic
    sequential drift detector.  The recurrence is the clamp monoid
    with no upper cap (operators/balance.py family: f(b) = min(H,
    max(L, b + s)) is closed under composition), so it distributes as
    a pure-JVM two-pass fold: compose each key's row functions
    map-side, fold the tiny per-key composition chain, replay.  Here
    the per-key history is short enough that one array fold per key
    does both passes in a single aggregation; the chunked variant
    (ts_clamped_cumsum_chunked) is the long-history layout.  All
    arithmetic in exact int64 micro-units; oracle = the recurrence as
    a recursive CTE, literally."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    rows = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (
            F.round(F.col("value") * 1_000_000).cast("long")
            - F.lit(_CUSUM_K_MICRO)
        ).alias("delta"),
    )
    per_key = rows.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts_us", "event_id", "delta"))
        ).alias("evs")
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.expr(
            "CAST(array() AS array<struct<event_id: bigint, s_micro: bigint>>)"
        ).alias("arr"),
    )

    def fold(acc, e):
        nxt = F.greatest(F.lit(0).cast("long"), acc.s + e.delta)
        return F.struct(
            nxt.alias("s"),
            F.concat(
                acc.arr,
                F.array(
                    F.struct(
                        e.event_id.alias("event_id"), nxt.alias("s_micro")
                    )
                ),
            ).alias("arr"),
        )

    return (
        per_key.select(
            "user_id",
            F.explode(F.aggregate("evs", acc0, fold).arr).alias("o"),
        )
        .select(
            "user_id",
            F.col("o.event_id").alias("event_id"),
            F.col("o.s_micro").alias("s_micro"),
            (F.col("o.s_micro") > _CUSUM_H_MICRO).alias("alarm"),
        )
    )


# ------------------------------------------------------------ KS drift


@query(
    "dq_drift_ks",
    oracle=f"""
    WITH a AS (
      SELECT CAST(round(value * 1000000) AS BIGINT) AS v FROM events
      WHERE event_type = 'click'
    ),
    b AS (
      SELECT CAST(round(value * 1000000) AS BIGINT) AS v FROM events
      WHERE event_type = 'view'
    ),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM a),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM b),
    grid AS (
      SELECT v,
             CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS cb
      FROM (SELECT v, 0 AS side FROM a UNION ALL SELECT v, 1 FROM b)
      GROUP BY v
    ),
    cum AS (
      SELECT v,
             CAST(sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_a,
             CAST(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_b
      FROM grid
    )
    SELECT CAST(max(abs(cum_a * nb.n2 - cum_b * na.n1)) AS BIGINT) AS d_num,
           CAST(na.n1 * nb.n2 AS BIGINT) AS d_den,
           {sql_fdiv("max(abs(cum_a * nb.n2 - cum_b * na.n1)) * 1000000",
                     "na.n1 * nb.n2")} AS ks_ppm
    FROM cum CROSS JOIN na CROSS JOIN nb
    GROUP BY na.n1, nb.n2
    """,
)
def dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the value
    distributions of two event populations — the drift test that,
    unlike PSI (dq_drift_psi), needs no binning choice.  EXACT in
    integers: D = max |F1 - F2| evaluates as max |c1*n2 - c2*n1| over
    the merged value grid (cross-multiplied — no per-row float
    division anywhere), reported as integer ppm.  The grid compresses
    to distinct values before the cumulative pass, so the single
    ordered window runs on an aggregated frame (at 100x,
    range-partition the grid and prefix-sum per partition with offset
    correction — the global_rank layout; the max then combines
    map-side)."""
    ev = load_table(spark, sf_dir, "events")
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    a = ev.filter(F.col("event_type") == "click").select(vm.alias("v"))
    b = ev.filter(F.col("event_type") == "view").select(vm.alias("v"))
    tagged = a.select("v", F.lit(0).alias("side")).unionAll(
        b.select("v", F.lit(1).alias("side"))
    )
    grid = tagged.groupBy("v").agg(
        F.count(F.when(F.col("side") == 0, 1)).cast("long").alias("ca"),
        F.count(F.when(F.col("side") == 1, 1)).cast("long").alias("cb"),
    )
    # Totals as a 1-row broadcast, not driver-side .count() actions —
    # the whole statistic stays one lazy plan.
    totals = grid.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum("cb").cast("long").alias("n2"),
    )
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = grid.select(
        F.sum("ca").over(wc).cast("long").alias("cum_a"),
        F.sum("cb").over(wc).cast("long").alias("cum_b"),
    )
    d = cum.crossJoin(F.broadcast(totals)).agg(
        F.max(
            F.abs(F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1"))
        )
        .cast("long")
        .alias("d_num"),
        F.first(F.col("n1") * F.col("n2")).cast("long").alias("d_den"),
    )
    return d.select(
        "d_num",
        "d_den",
        fdiv(F.col("d_num") * 1_000_000, F.col("d_den")).alias("ks_ppm"),
    )


# ------------------------------------------------- embedding moments


@query(
    "emb_covariance_matrix",
    oracle="""
    WITH m AS (
      SELECT vec_id,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS x1,
             CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS x2,
             CAST(round(CAST(embedding[3] AS DOUBLE) * 1000000) AS BIGINT) AS x3,
             CAST(round(CAST(embedding[4] AS DOUBLE) * 1000000) AS BIGINT) AS x4
      FROM embeddings
    ),
    long_form AS (
      SELECT vec_id, 1 AS dim, x1 AS v FROM m
      UNION ALL SELECT vec_id, 2, x2 FROM m
      UNION ALL SELECT vec_id, 3, x3 FROM m
      UNION ALL SELECT vec_id, 4, x4 FROM m
    ),
    pairs AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             CAST(count(*) AS BIGINT) AS n,
             sum(a.v) AS si, sum(b.v) AS sj,
             sum(CAST(a.v AS HUGEINT) * b.v) AS sij
      FROM long_form a JOIN long_form b USING (vec_id)
      WHERE a.dim <= b.dim
      GROUP BY 1, 2
    )
    SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
           round((CAST(sij AS DOUBLE) - CAST(si AS DOUBLE) * sj / n)
                 / (n - 1) / 1000000000000.0, 9) AS cov
    FROM pairs
    """,
)
def emb_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the first 4 embedding
    dimensions — the feature-correlation screen run before whitening
    or PCA.  Exact integer moments (micro-unit values, Σxy in
    decimal/HUGEINT so products never overflow), ONE double
    expression at the end replicated operation-for-operation in both
    engines (exactness conventions).  The long-form explode is
    map-side; the d² pair aggregation shuffles d²·(n-partial) tiny
    moment rows, never the vectors — at 1000-dim scale you'd block
    the pair grid, but the shuffle story is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = [1, 2, 3, 4]
    long_form = emb.select(
        "vec_id",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, 4)
        ).alias("dim0", "x"),
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x") * 1_000_000).cast("long").alias("v"),
    )
    a = long_form.alias("a")
    b = long_form.alias("b")
    vdec = F.col("a.v").cast("decimal(20,0)")
    pairs = (
        a.join(b, "vec_id")
        .filter(F.col("a.dim") <= F.col("b.dim"))
        .groupBy(
            F.col("a.dim").cast("int").alias("dim_i"),
            F.col("b.dim").cast("int").alias("dim_j"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("a.v").alias("si"),
            F.sum("b.v").alias("sj"),
            F.sum(vdec * F.col("b.v")).alias("sij"),
        )
    )
    cov = (
        (
            F.col("sij").cast("double")
            - F.col("si").cast("double") * F.col("sj") / F.col("n")
        )
        / (F.col("n") - 1)
        / 1_000_000_000_000.0
    )
    return pairs.select(
        "dim_i", "dim_j", F.round(cov, 9).alias("cov")
    )


# -------------------------------------------- sliding distinct count


@query(
    "win_distinct_sliding",
    oracle="""
    SELECT event_id, event_type,
           CAST(count(DISTINCT user_id) OVER (
             PARTITION BY event_type
             ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS INT) AS n_users_1h
    FROM events WHERE ts IS NOT NULL
    """,
)
def win_distinct_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour DISTINCT user count per event — the live
    'unique actives right now' metric.  Spark has no count(DISTINCT)
    window function; the engine expresses it as size(collect_set)
    over an exact integer-microsecond RANGE frame — same frame, same
    inclusive bounds, as DuckDB's native windowed distinct.  The
    value-range frame makes the result order-insensitive under ties
    (tied timestamps are frame PEERS), so no tie-break column is
    needed.  State per frame is the distinct-user set of one trailing
    hour per event type — bounded by active users, not events; at
    100x this is the stream_run_topk_window family's state story in
    batch form."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).cast("int").alias(
            "n_users_1h"
        ),
    )


# ----------------------------------------------------- privacy (cont.)


@query(
    "dq_l_diversity",
    oracle="""
    WITH tagged AS (
      SELECT c_nationkey, c_mktsegment,
             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
               AS bal_band
      FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT bal_band) AS BIGINT) AS l_distinct,
           count(DISTINCT bal_band) < 3 AS at_risk
    FROM tagged
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the refinement of k-anonymity
    (dq_k_anonymity) that catches the homogeneity attack: a
    quasi-identifier group is at risk when its SENSITIVE attribute
    (account-balance band, $1000 buckets in exact cents) takes fewer
    than l=3 distinct values, even if the group itself is large.  One
    partially-aggregated count-distinct shuffle on the QI tuple; the
    band floor-division is exact integer arithmetic on both engines.
    """
    c = load_table(spark, sf_dir, "customer")
    # +$1000 shift keeps the dividend non-negative: DuckDB's // on
    # negatives truncates toward zero while the pmod idiom floors —
    # they agree only on the non-negative domain (TPC-H acctbal
    # bottoms at -999.99).
    band = fdiv(cents("c_acctbal") + 100_000, 100_000)
    return (
        c.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.countDistinct("bal_band").cast("long").alias("l_distinct"),
            (F.countDistinct("bal_band") < 3).alias("at_risk"),
        )
    )


# ----------------------------------------------- schema-drift union


@query(
    "set_union_by_name",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(NULL AS VARCHAR) AS priority
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT),
           o_orderpriority
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: a legacy extract lacking the priority
    column unions with the current extract via
    unionByName(allowMissingColumns=True) — the name-resolved,
    null-padding union that positional UNION ALL gets silently wrong
    when column order drifts.  The companion of
    parquet_schema_evolution at the operator (not scan) layer; both
    branches stay pushdown-filtered scans of the same file."""
    o = load_table(spark, sf_dir, "orders")
    legacy = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", cents("o_totalprice").alias("price_cents")
    )
    current = o.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
        F.col("o_orderpriority").alias("priority"),
    )
    return legacy.unionByName(current, allowMissingColumns=True)


# ------------------------------------------------ seasonal backtest


@query(
    "ts_forecast_seasonal_naive",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             {sql_fdiv("epoch_us(ts)", _US_PER_WEEK)} AS week_idx,
             {sql_fdiv("epoch_us(ts) % {day}".format(day=_US_PER_DAY),
                       3_600_000_000)} AS hour_of_day,
             CAST(round(value * 1000000) AS BIGINT) AS vm
      FROM events WHERE ts IS NOT NULL
    ),
    split AS (
      SELECT *,
             week_idx = (SELECT max(week_idx) FROM base) AS is_test
      FROM base
    ),
    model AS (
      SELECT event_type, hour_of_day,
             {sql_fdiv("sum(vm)", "count(*)")} AS pred_vm
      FROM split WHERE NOT is_test
      GROUP BY event_type, hour_of_day
    )
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(abs(s.vm - m.pred_vm)) AS BIGINT) AS abs_err_sum,
           {sql_fdiv("sum(abs(s.vm - m.pred_vm))", "count(*)")} AS mae_vm
    FROM split s JOIN model m USING (event_type, hour_of_day)
    WHERE s.is_test
    GROUP BY s.event_type
    """,
)
def ts_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each event's value in
    the final week from the (event type, hour-of-day) training mean of
    all earlier weeks, and report per-type MAE — the baseline every
    forecasting pipeline must beat, run the way a pipeline actually
    evaluates (temporal split, never random).  All arithmetic is
    exact int64 micro-units: epoch-anchored week/hour indices by
    pmod-subtraction floor division, the model mean as FLOOR-average
    (documented — an integer contract both engines replay, unlike a
    float mean), integer absolute errors.  One training aggregation
    (24 x types rows) broadcast onto the test week — map-side scoring
    at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros("ts")
    base = ev.select(
        "event_type",
        fdiv(us, _US_PER_WEEK).alias("week_idx"),
        fdiv(F.pmod(us, _US_PER_DAY), 3_600_000_000).alias("hour_of_day"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    max_week = base.agg(F.max("week_idx").alias("mw"))
    split = base.crossJoin(F.broadcast(max_week)).withColumn(
        "is_test", F.col("week_idx") == F.col("mw")
    )
    model = (
        split.filter(~F.col("is_test"))
        .groupBy("event_type", "hour_of_day")
        .agg(fdiv(F.sum("vm"), F.count("*")).alias("pred_vm"))
    )
    return (
        split.filter(F.col("is_test"))
        .join(F.broadcast(model), ["event_type", "hour_of_day"])
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.abs(F.col("vm") - F.col("pred_vm")))
            .cast("long")
            .alias("abs_err_sum"),
            fdiv(
                F.sum(F.abs(F.col("vm") - F.col("pred_vm"))), F.count("*")
            ).alias("mae_vm"),
        )
    )


# ------------------------------------------------ linear attribution


@query(
    "attribution_linear",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS v_cents,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS INT) AS conv_id
      FROM events WHERE ts IS NOT NULL
    ),
    grp AS (
      SELECT user_id, conv_id,
             max(CASE WHEN event_type = 'purchase' THEN v_cents END)
               AS p_cents,
             CAST(sum(CASE WHEN event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_touch,
             max(CASE WHEN event_type <> 'purchase'
                      THEN {'t': epoch_us(ts), 'i': event_id} END)
               AS last_touch
      FROM ordered
      GROUP BY user_id, conv_id
    ),
    credits AS (
      SELECT o.event_type AS touch_type,
             CAST((g.p_cents - (((g.p_cents % g.n_touch) + g.n_touch)
                                % g.n_touch)) // g.n_touch AS BIGINT)
             + CASE WHEN epoch_us(o.ts) = g.last_touch.t
                     AND o.event_id = g.last_touch.i
                    THEN g.p_cents
                         - CAST((g.p_cents
                                 - (((g.p_cents % g.n_touch) + g.n_touch)
                                    % g.n_touch)) // g.n_touch AS BIGINT)
                           * g.n_touch
                    ELSE 0 END AS credit_cents
      FROM ordered o
      JOIN grp g ON o.user_id = g.user_id AND o.conv_id = g.conv_id
      WHERE o.event_type <> 'purchase'
        AND g.p_cents IS NOT NULL AND g.n_touch > 0
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit_cents) AS DOUBLE) / 100 AS attributed_value
    FROM credits
    GROUP BY touch_type
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — each purchase's value splits
    EQUALLY across every touch since the user's previous purchase
    (last-touch's sibling; see attribution_last_touch).  The split is
    exact-integer: share = floor(cents / n_touches) with the
    remainder credited to the final touch, so credits always sum to
    the purchase exactly — no float leakage, deterministic under the
    (ts, event_id) order.  One user_id window assigns conversion
    groups (running purchase count over the preceding frame); one
    keyed aggregate per (user, conversion) computes the purse, touch
    count, and last-touch identity (max over a (ts, id) struct — no
    second window); one keyed join fans the credit back to touches.
    All shuffles share the user_id family."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wprev = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        cents("value").alias("v_cents"),
        F.coalesce(F.sum(is_p).over(wprev), F.lit(0))
        .cast("int")
        .alias("conv_id"),
    )
    grp = ordered.groupBy("user_id", "conv_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("v_cents"))
        ).alias("p_cents"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_touch"),
        F.max(
            F.when(
                F.col("event_type") != "purchase",
                F.struct(
                    F.unix_micros("ts").alias("t"),
                    F.col("event_id").alias("i"),
                ),
            )
        ).alias("last_touch"),
    )
    touches = ordered.filter(F.col("event_type") != "purchase")
    j = touches.join(grp, ["user_id", "conv_id"]).filter(
        F.col("p_cents").isNotNull() & (F.col("n_touch") > 0)
    )
    share = fdiv(F.col("p_cents"), F.col("n_touch"))
    is_last = (F.unix_micros("ts") == F.col("last_touch.t")) & (
        F.col("event_id") == F.col("last_touch.i")
    )
    credit = share + F.when(
        is_last, F.col("p_cents") - share * F.col("n_touch")
    ).otherwise(0)
    return (
        j.select(
            F.col("event_type").alias("touch_type"),
            credit.alias("credit_cents"),
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            (F.sum("credit_cents").cast("double") / 100).alias(
                "attributed_value"
            ),
        )
    )


# ------------------------------------------------- max concurrency


@query(
    "ts_max_concurrency",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) > epoch_us(lag(ts) OVER w) + 3600000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS INT) AS island,
             ts
      FROM marked
    ),
    iv AS (
      SELECT min(epoch_us(ts)) AS lo,
             max(epoch_us(ts)) + 3600000000 AS hi
      FROM sess GROUP BY user_id, island
    ),
    deltas AS (
      SELECT lo AS t, 1 AS d FROM iv
      UNION ALL
      SELECT hi AS t, -1 FROM iv
    ),
    sweep AS (
      SELECT t, d,
             CAST(sum(d) OVER (ORDER BY t, d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS load
      FROM deltas
    )
    SELECT CAST(max(load) AS BIGINT) AS peak_concurrency,
           CAST(min(t) FILTER (WHERE load = (SELECT max(load) FROM sweep))
                AS BIGINT) AS peak_at_us
    FROM sweep
    """,
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions: 1-hour-gap user sessions become
    [start, last+1h) intervals; a +1/−1 boundary sweep (the classic
    'maximum overlap' algorithm) finds the highest simultaneous load
    and the earliest instant it occurs — the capacity-planning number
    an ops team sizes for.  The sweep's global running sum runs over
    the AGGREGATED boundary list (two rows per session, not per
    event); ends sort before starts at equal timestamps (ORDER BY t,
    d with d = −1 first), matching the half-open interval semantics.
    At 100x, range-partition the boundary list and prefix-sum with
    per-partition offsets (the global_rank layout).  Everything is
    exact int64 micros."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(wo)
    is_new = (
        prev_us.isNull()
        | (F.unix_micros("ts") > prev_us + 3_600_000_000)
    ).cast("int")
    sess = ev.select(
        "user_id", "ts", "event_id", is_new.alias("is_new")
    ).withColumn(
        "island",
        F.sum("is_new")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int"),
    )
    iv = sess.groupBy("user_id", "island").agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        (F.max(F.unix_micros("ts")) + 3_600_000_000).alias("hi"),
    )
    deltas = iv.select(F.col("lo").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("hi").alias("t"), F.lit(-1).alias("d"))
    )
    wsweep = W.orderBy("t", "d").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sweep = deltas.select(
        "t", F.sum("d").over(wsweep).cast("long").alias("load")
    )
    peak = sweep.agg(F.max("load").alias("peak"))
    return (
        sweep.crossJoin(F.broadcast(peak))  # 1-row peak
        .filter(F.col("load") == F.col("peak"))
        .agg(
            F.first("peak").cast("long").alias("peak_concurrency"),
            F.min("t").cast("long").alias("peak_at_us"),
        )
    )


# -------------------------------------------------- governance cascade


@query(
    "gov_right_to_erasure",
    oracle="""
    WITH tombstones AS (
      SELECT c_custkey FROM customer
      WHERE CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 5
    ),
    o_purge AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM tombstones)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM tombstones) AS BIGINT) AS n_purged,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM o_purge) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o_purge))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
)
def gov_right_to_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact cascade: a deterministic md5-bucket
    tombstone set (5% of customers — standing in for the day's GDPR
    delete queue) propagated through the foreign-key chain
    (customer -> orders -> lineitem), reporting purge counts per
    table — the blast-radius report a compliance pipeline emits
    BEFORE executing deletes.  Each hop is a LEFT SEMI join keyed on
    the parent key (the dual of the anti-join the actual purge runs);
    the tombstone set is hash-derived, so the whole cascade is
    engine-reproducible.  At scale each semi join is a keyed shuffle;
    the per-table counts are 1-row aggregates unioned."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    tomb = c.filter(hash_bucket(F.col("c_custkey"), 100) < 5).select(
        "c_custkey"
    )
    o_purge = o.join(
        tomb, o.o_custkey == tomb.c_custkey, "left_semi"
    ).select("o_orderkey")
    li_purge = li.join(
        o_purge, li.l_orderkey == o_purge.o_orderkey, "left_semi"
    )

    def count_row(name, purged, total):
        return (
            purged.agg(F.count("*").cast("long").alias("n_purged"))
            .crossJoin(
                F.broadcast(
                    total.agg(F.count("*").cast("long").alias("n_total"))
                )
            )
            .select(
                F.lit(name).alias("table_name"), "n_purged", "n_total"
            )
        )

    return (
        count_row("customer", tomb, c)
        .unionAll(count_row("orders", o_purge, o))
        .unionAll(count_row("lineitem", li_purge, li))
    )


# ------------------------------------------------- ratio-to-report


@query(
    "agg_ratio_to_report",
    oracle=f"""
    WITH n AS (
      SELECT n.n_nationkey, n.n_name, n.n_regionkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_nationkey, n.n_name, n.n_regionkey
    )
    SELECT n_name,
           CAST(rev_cents AS DOUBLE) / 100 AS revenue,
           {sql_fdiv("rev_cents * 1000000",
                     "sum(rev_cents) OVER (PARTITION BY n_regionkey)")}
             AS share_of_region_ppm,
           {sql_fdiv("rev_cents * 1000000", "sum(rev_cents) OVER ()")}
             AS share_of_total_ppm
    FROM n
    """,
)
def agg_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as an exact integer-ppm
    share of its region and of the grand total — the percent-of-total
    OLAP idiom (Oracle's RATIO_TO_REPORT) Spark expresses as window
    sums over the aggregated frame.  The fact table reduces to one
    row per nation BEFORE any window runs (25 rows regardless of
    corpus); dimensions broadcast; integer ppm floor division keeps
    the shares bit-identical.  NOTE sql_fdiv CASTs the window-sum
    divisor — sum(BIGINT) OVER is HUGEINT in DuckDB, the r8
    portability trap."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("rev_cents"))
    )
    w_region = W.partitionBy("n_regionkey")
    # bounded global window: per-nation frame is <= 25 rows (TPC-H
    # nation table) — the partition-less WARN is safe by construction
    w_all = W.partitionBy()
    return per_nation.select(
        "n_name",
        (F.col("rev_cents").cast("double") / 100).alias("revenue"),
        fdiv(
            F.col("rev_cents") * 1_000_000,
            F.sum("rev_cents").over(w_region),
        ).alias("share_of_region_ppm"),
        fdiv(
            F.col("rev_cents") * 1_000_000, F.sum("rev_cents").over(w_all)
        ).alias("share_of_total_ppm"),
    )


# ------------------------------------------------- churn / activation


@query(
    "seq_user_churn",
    oracle=f"""
    WITH wk AS (
      SELECT DISTINCT user_id,
             {sql_fdiv("epoch_us(ts)", _US_PER_WEEK)} AS week_idx
      FROM events WHERE ts IS NOT NULL
    ),
    weeks AS (SELECT DISTINCT week_idx FROM wk WHERE week_idx >
              (SELECT min(week_idx) FROM wk))
    SELECT CAST(w.week_idx AS INT) AS week_idx,
           CAST((SELECT count(*) FROM wk cur
                 WHERE cur.week_idx = w.week_idx
                   AND NOT EXISTS (SELECT 1 FROM wk prv
                                   WHERE prv.user_id = cur.user_id
                                     AND prv.week_idx = w.week_idx - 1))
                AS BIGINT) AS n_new_or_resurrected,
           CAST((SELECT count(*) FROM wk prv
                 WHERE prv.week_idx = w.week_idx - 1
                   AND NOT EXISTS (SELECT 1 FROM wk cur
                                   WHERE cur.user_id = prv.user_id
                                     AND cur.week_idx = w.week_idx))
                AS BIGINT) AS n_churned,
           CAST((SELECT count(*) FROM wk cur
                 WHERE cur.week_idx = w.week_idx
                   AND EXISTS (SELECT 1 FROM wk prv
                               WHERE prv.user_id = cur.user_id
                                 AND prv.week_idx = w.week_idx - 1))
                AS BIGINT) AS n_retained
    FROM weeks w
    """,
)
def seq_user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week activation accounting: for every week, how many
    active users were retained from the previous week, how many are
    new or resurrected, and how many of last week's actives churned —
    the growth-accounting triplet (new + retained − churned = WoW
    delta).  The engine form is ONE self-join of the distinct
    (user, week) activity table against itself shifted by one week
    (full outer on user within adjacent weeks), partially aggregated;
    the oracle states the same sets as correlated EXISTS — the
    declarative spec the join implements.  Distinct activity
    compresses events to user-weeks before any join at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wk = ev.select(
        "user_id", fdiv(F.unix_micros("ts"), _US_PER_WEEK).alias("week_idx")
    ).distinct()
    cur = wk.alias("cur")
    prv = wk.select(
        "user_id", (F.col("week_idx") + 1).alias("week_idx")
    ).alias("prv")
    joined = cur.join(prv, ["user_id", "week_idx"], "full_outer").select(
        "week_idx",
        F.col("cur.user_id").isNotNull().alias("in_cur"),
        F.col("prv.user_id").isNotNull().alias("in_prv"),
    )
    # restrict to OBSERVED weeks: the shifted prv side fabricates
    # rows for (week + 1) even when that calendar week had zero
    # activity (a gap week, or the phantom week after the window) —
    # the oracle's weeks CTE only contains observed weeks, so the
    # engine semi-joins the same observed-week spine instead of a
    # min/max bound (which would still admit interior gap weeks).
    obs_weeks = wk.select("week_idx").distinct()
    mw = wk.agg(F.min("week_idx").alias("mw"))
    return (
        joined.join(F.broadcast(obs_weeks), "week_idx", "semi")
        .crossJoin(F.broadcast(mw))
        .filter(F.col("week_idx") > F.col("mw"))
        .groupBy(F.col("week_idx").cast("int").alias("week_idx"))
        .agg(
            F.sum(F.when(F.col("in_cur") & ~F.col("in_prv"), 1).otherwise(0))
            .cast("long")
            .alias("n_new_or_resurrected"),
            F.sum(F.when(F.col("in_prv") & ~F.col("in_cur"), 1).otherwise(0))
            .cast("long")
            .alias("n_churned"),
            F.sum(F.when(F.col("in_cur") & F.col("in_prv"), 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
        )
    )


# ---------------------------------------------------- rate limiting

from ctgov_ai_etl_spark.operators.balance import (  # noqa: E402
    token_bucket_oracle_sql,
    token_bucket_scan,
)

_TB_CAP = 3_000_000_000_000  # 3 tokens in pico-token units
_TB_COST = 1_000_000_000_000  # 1 token per event
_TB_REFILL = 17  # pico-tokens per microsecond ≈ 1.47 tokens/day


@query(
    "ops_rate_limit",
    oracle=token_bucket_oracle_sql(_TB_CAP, _TB_REFILL, _TB_COST),
)
def ops_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time token bucket over each user's event stream
    (burst 3, ≈1.5 tokens/day refill): which requests a quota gate
    ADMITS vs DROPS — the reference's R13 rate-limiter semantics
    (reference etl.py wall-clock token bucket) replayed over event
    time, where it becomes a testable, deterministic operator.  The
    admit decision branches on the bucket's own state, so no window
    or monoid fold expresses it (contrast ts_clamped_cumsum_chunked)
    — this is the honest per-key sequential class: one user_id
    shuffle, flat keyed_scan_input scan; oracle = the recurrence as a
    recursive CTE.  Exact int64 pico-token arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    return token_bucket_scan(ev, _TB_CAP, _TB_REFILL, _TB_COST)


# ---------------------------------------------- discrete percentiles


@query(
    "agg_percentile_disc",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vm
      FROM events
    ),
    grid AS (
      SELECT event_type, vm, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY event_type, vm
    ),
    cum AS (
      SELECT event_type, vm,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_c,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM grid
    )
    SELECT event_type,
           round(CAST(min(CASE WHEN 100 * cum_c >= 50 * n THEN vm END)
                      AS DOUBLE) / 1000000, 6) AS p50,
           round(CAST(min(CASE WHEN 100 * cum_c >= 95 * n THEN vm END)
                      AS DOUBLE) / 1000000, 6) AS p95,
           round(CAST(min(CASE WHEN 100 * cum_c >= 99 * n THEN vm END)
                      AS DOUBLE) / 1000000, 6) AS p99
    FROM cum
    GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (SQL-standard PERCENTILE_DISC: the
    smallest OBSERVED value whose cumulative share reaches p) — what
    latency SLO reporting wants, where an interpolated p99 names a
    latency no request ever had (contrast agg_percentiles'
    continuous interpolation).  Engine-portable by construction: the
    threshold test is pure integer cross-multiplication
    (100·cum ≥ p·n — no division, no interpolation contract), and the
    cumulative pass runs on the value GRID (distinct values per
    group, partial-agg compressed), not raw rows.  One groupBy + one
    per-type window + one tiny conditional-min aggregate."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.round(F.col("value") * 1_000_000).cast("long").alias("vm")
    )
    grid = base.groupBy("event_type", "vm").agg(
        F.count("*").cast("long").alias("c")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("vm")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type")
    cum = grid.select(
        "event_type",
        "vm",
        F.sum("c").over(wcum).cast("long").alias("cum_c"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )

    def pick(pct: int, name: str):
        return F.round(
            F.min(
                F.when(100 * F.col("cum_c") >= pct * F.col("n"), F.col("vm"))
            ).cast("double")
            / 1_000_000,
            6,
        ).alias(name)

    return cum.groupBy("event_type").agg(
        pick(50, "p50"), pick(95, "p95"), pick(99, "p99")
    )


# ------------------------------------------------- audience overlap


@query(
    "seq_audience_overlap",
    oracle=f"""
    WITH aud AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM aud GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           sa.n AS n_a, sb.n AS n_b,
           {sql_fdiv("n_both * 1000000", "sa.n + sb.n - n_both")}
             AS jaccard_ppm
    FROM pairs
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def seq_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: for every pair of behaviors, how many
    users do both, with exact integer-ppm Jaccard — the segment
    planning table (upsell targeting, cannibalization checks).
    Activity compresses to DISTINCT (behavior, user) before the
    self-join, which is keyed on user_id — pair blow-up is quadratic
    only in behaviors-per-user (≤ 5 here; bounded by the taxonomy,
    never the corpus).  The |types|² output joins the tiny size table
    twice (broadcast).  At 100 TB with huge taxonomies, swap the
    exact pair counts for KMV sketch intersections
    (sketch_kmv_intersect) under the same output contract."""
    ev = load_table(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    a = aud.alias("a")
    b = aud.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            fdiv(
                F.col("n_both") * 1_000_000,
                F.col("n_a") + F.col("n_b") - F.col("n_both"),
            ).alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------- skew diagnostics


@query(
    "dq_skew_report",
    oracle=f"""
    WITH per_key AS (
      SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_c
      FROM per_key
    )
    SELECT 'lineitem.l_orderkey' AS key_col,
           n_keys, n_rows, max_c,
           {sql_fdiv("max_c * n_keys * 1000000", "n_rows")}
             AS hot_over_mean_ppm,
           (SELECT CAST(count(*) AS BIGINT) FROM per_key
            WHERE c * n_keys * 100 > n_rows * 200) AS n_keys_over_2x
    FROM stats
    """,
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation-key skew report: hottest-key multiple of the
    mean (integer ppm) and the count of keys above 2× mean — the
    diagnostic that decides WHETHER a join needs salting or AQE skew
    handling before anyone burns a cluster discovering it (the
    engine's own salting operators — skew_salted_agg/join — are the
    remedy this report gates).  One partially-aggregated count per
    key, then 1-row statistics; thresholds are integer
    cross-multiplications, no float ratios."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").cast("long").alias("c")
    )
    stats = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_c"),
    )
    over = (
        per_key.crossJoin(F.broadcast(stats))  # 1-row stats
        .filter(F.col("c") * F.col("n_keys") * 100 > F.col("n_rows") * 200)
        .agg(F.count("*").cast("long").alias("n_keys_over_2x"))
    )
    return (
        stats.crossJoin(F.broadcast(over))  # 1-row x 1-row
        .select(
            F.lit("lineitem.l_orderkey").alias("key_col"),
            "n_keys",
            "n_rows",
            "max_c",
            fdiv(
                F.col("max_c") * F.col("n_keys") * 1_000_000,
                F.col("n_rows"),
            ).alias("hot_over_mean_ppm"),
            "n_keys_over_2x",
        )
    )


# --------------------------------------------------- rolling bivariate


@query(
    "win_rolling_corr",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 1000000) AS BIGINT) AS x,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS y
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    f AS (
      SELECT user_id, event_id, x, y,
             CAST(count(*) OVER r AS BIGINT) AS n,
             CAST(sum(x) OVER r AS BIGINT) AS sx,
             CAST(sum(y) OVER r AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER r AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) OVER r AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) OVER r AS HUGEINT) AS sxy
      FROM base WHERE y IS NOT NULL
      WINDOW r AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(n AS INT) AS n_window,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)),
                 6) AS rho
    FROM f
    WHERE n >= 5
      AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
          * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) > 0
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between event value and
    inter-arrival gap over a trailing 20-event frame per user — the
    'does engagement intensity track spend' monitor, and the rolling
    BIVARIATE-moment pattern: five windowed integer sums (Σx Σy Σx²
    Σy² Σxy in decimal — exact at any magnitude) share ONE user_id
    exchange, and the correlation is a single shared IEEE formula at
    the end (the same moment discipline as agg_corr_exact, windowed).
    F.corr OVER would stream float updates in partition order —
    non-replayable; this is exact until the final expression.
    Degenerate frames (zero variance, n<5) are filtered identically
    on both sides."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("x"),
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(wo)
        ).alias("y"),
    ).filter(F.col("y").isNotNull())
    r = wo.rowsBetween(-19, 0)
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    f = base.select(
        "user_id",
        "event_id",
        F.count("*").over(r).cast("long").alias("n"),
        F.sum("x").over(r).cast("long").alias("sx"),
        F.sum("y").over(r).cast("long").alias("sy"),
        F.sum(xd * F.col("x")).over(r).alias("sxx"),
        F.sum(yd * F.col("y")).over(r).alias("syy"),
        F.sum(xd * F.col("y")).over(r).alias("sxy"),
    )
    n = F.col("n")
    vx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    vy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    cov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    return (
        f.filter((n >= 5) & (vx * vy > 0))
        .select(
            "user_id",
            "event_id",
            n.cast("int").alias("n_window"),
            F.round(cov / F.sqrt(vx * vy), 6).alias("rho"),
        )
    )


# ------------------------------------------------ composed pipeline


@query(
    "pipeline_churn_digest",
    oracle=f"""
    WITH wk AS (
      SELECT DISTINCT user_id,
             {sql_fdiv("epoch_us(ts)", _US_PER_DAY)} AS day_idx
      FROM events WHERE ts IS NOT NULL
    ),
    last_w AS (SELECT max(day_idx) AS w FROM wk),
    churned AS (
      SELECT p.user_id FROM wk p CROSS JOIN last_w
      WHERE p.day_idx = last_w.w - 1
        AND NOT EXISTS (SELECT 1 FROM wk c
                        WHERE c.user_id = p.user_id
                          AND c.day_idx = last_w.w)
    ),
    cusum AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_alarms
      FROM (
        WITH RECURSIVE seq AS (
          SELECT user_id, event_id,
                 CAST(round(value * 1000000) AS BIGINT) - 600000 AS delta,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events WHERE ts IS NOT NULL
        ),
        rec AS (
          SELECT user_id, event_id, rn, GREATEST(0, delta) AS s_micro
          FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.user_id, s.event_id, s.rn,
                 GREATEST(0, r.s_micro + s.delta)
          FROM seq s JOIN rec r
            ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT user_id FROM rec WHERE s_micro > 2000000
      ) a GROUP BY user_id
    )
    SELECT c.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS lifetime_cents,
           max({{'t': epoch_us(e.ts), 'i': e.event_id,
                'y': e.event_type}}).y AS last_event_type,
           CAST(coalesce(min(cu.n_alarms), 0) AS BIGINT) AS n_cusum_alarms
    FROM churned c
    JOIN events e ON e.user_id = c.user_id AND e.ts IS NOT NULL
    LEFT JOIN cusum cu ON cu.user_id = c.user_id
    GROUP BY c.user_id
    """,
)
def pipeline_churn_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END churn-risk digest: the users active the day before
    the final observed day who went silent on it (the seq_user_churn
    fragment at DAY granularity — weekly churn is empty on this
    always-on fixture), joined to
    their lifetime profile — event count, exact-cents lifetime value,
    last action (struct-max order statistic, no window), and how many
    CUSUM drift alarms they tripped (the anomaly_cusum fragment) —
    the handoff table a retention team actually works.  Every stage
    is an existing catalog fragment composed: the oracle is the
    fragment oracles composed verbatim (recursive CTE included), the
    engine side reuses the same operators; churned-user filtering is
    a semi-join before the profile aggregation, so the heavy rollup
    runs only over the churned slice."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wk = ev.select(
        "user_id", fdiv(F.unix_micros("ts"), _US_PER_DAY).alias("day_idx")
    ).distinct()
    last_w = wk.agg(F.max("day_idx").alias("w"))
    act = wk.crossJoin(F.broadcast(last_w))
    prev = act.filter(F.col("day_idx") == F.col("w") - 1).select("user_id")
    cur = act.filter(F.col("day_idx") == F.col("w")).select("user_id")
    churned = prev.join(cur, "user_id", "left_anti")

    # CUSUM alarm counts per user (anomaly_cusum fragment, reused)
    from ctgov_ai_etl_spark.queries.registry import REGISTRY

    cusum = (
        REGISTRY["anomaly_cusum"].fn(spark, sf_dir)
        .filter(F.col("alarm"))
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_alarms"))
    )
    profile = (
        ev.join(churned, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(cents("value")).cast("long").alias("lifetime_cents"),
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("t"),
                    F.col("event_id").alias("i"),
                    F.col("event_type").alias("y"),
                )
            )["y"].alias("last_event_type"),
        )
    )
    return profile.join(cusum, "user_id", "left").select(
        "user_id",
        "n_events",
        "lifetime_cents",
        "last_event_type",
        F.coalesce("n_alarms", F.lit(0)).cast("long").alias("n_cusum_alarms"),
    )


# ---------------------------------------------- wave-10: embedding serving


@query(
    "emb_quantize_int8",
    oracle=f"""
    WITH base AS (
      SELECT label,
             list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    mm AS (
      SELECT label, xi,
             list_max(list_transform(xi, v -> abs(v))) AS m
      FROM base
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(len(xi)) AS BIGINT) AS n_elems,
           CAST(sum(list_sum(list_transform(xi,
                v -> abs(CAST(((254 * v + m) - ((((254 * v + m) % CAST((2 * m) AS BIGINT)) + CAST((2 * m) AS BIGINT)) % CAST((2 * m) AS BIGINT))) // CAST((2 * m) AS BIGINT) AS BIGINT) * m - 127 * v)))) AS BIGINT) AS sum_err127,
           CAST(max(list_max(list_transform(xi,
                v -> abs(CAST(((254 * v + m) - ((((254 * v + m) % CAST((2 * m) AS BIGINT)) + CAST((2 * m) AS BIGINT)) % CAST((2 * m) AS BIGINT))) // CAST((2 * m) AS BIGINT) AS BIGINT))))) AS BIGINT) AS max_abs_q
    FROM mm
    WHERE m > 0
    GROUP BY label
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression every 100 TB vector-serving layout applies before
    ANN — audited per label: vector/element counts, the exact total
    reconstruction error, and the max |quantized| code (must stay
    <= 127).

    Exactness: elements are fixed to integer micro-units first, the
    per-vector scale is the integer max-abs, and the int8 code is
    round-half-up computed as floor((254·x + m) / (2m)) via the fdiv
    pmod-subtraction idiom — no float division anywhere, so the code
    assignment and the error sum are bit-identical across engines
    (error is reported in micro-units x 127 to stay integral).

    Scale story: quantization is a pure map-side array HOF chain
    (transform / array_max / aggregate — all JVM codegen, no Python);
    the only shuffle is the tiny per-label audit rollup.  Zero-vector
    rows (m = 0) are excluded on both sides."""
    emb = load_table(spark, sf_dir, "embeddings")
    xi = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
    )
    base = emb.select("label", xi.alias("xi"))
    m = F.array_max(F.transform(F.col("xi"), lambda v: F.abs(v)))
    mm = base.select("label", "xi", m.alias("m")).filter(F.col("m") > 0)

    def q_of(v):
        return fdiv(F.lit(254) * v + F.col("m"), F.lit(2) * F.col("m"))

    err = F.transform(
        F.col("xi"), lambda v: F.abs(q_of(v) * F.col("m") - F.lit(127) * v)
    )
    qabs = F.transform(F.col("xi"), lambda v: F.abs(q_of(v)))
    per_vec = mm.select(
        "label",
        F.size("xi").cast("long").alias("n_elems"),
        F.aggregate(
            err, F.lit(0).cast("long"), lambda acc, e: acc + e
        ).alias("vec_err"),
        F.array_max(qabs).alias("vec_max_q"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("n_elems").cast("long").alias("n_elems"),
        F.sum("vec_err").cast("long").alias("sum_err127"),
        F.max("vec_max_q").cast("long").alias("max_abs_q"),
    )


# ------------------------------------- wave-11: robust stats + sequential AB

# SPRT constants for H0: p=0.4 vs H1: p=0.6, alpha=beta=0.05, in
# integer log-micro-units.  Computed ONCE in Python and injected into
# BOTH engines (exactness convention: two libm log()s are not
# bit-contracted, one literal is).
_SPRT_C1 = 405465        # round(ln(0.6/0.4) * 1e6)
_SPRT_C0 = -405465       # round(ln(0.4/0.6) * 1e6)
_SPRT_BOUND = 2944439    # round(ln(0.95/0.05) * 1e6)


@query(
    "stat_winsorized_mean",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value * 100) AS BIGINT),
                                         event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL
    ),
    th AS (
      SELECT event_type,
             CAST(max(n) AS BIGINT) AS n,
             max(CASE WHEN rn = (n + 9) // 10 THEN v END) AS lo_cents,
             max(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS hi_cents
      FROM ranked
      GROUP BY event_type
    )
    SELECT r.event_type,
           t.n,
           t.lo_cents,
           t.hi_cents,
           round(CAST(sum(least(greatest(r.v, t.lo_cents), t.hi_cents))
                      AS DOUBLE) / t.n / 100.0, 6) AS wins_mean
    FROM ranked r JOIN th t ON r.event_type = t.event_type
    GROUP BY r.event_type, t.n, t.lo_cents, t.hi_cents
    """,
)
def stat_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values to the exact
    discrete p10/p90 order statistics (rank ceil(q·n) under a total
    (value, event_id) order), then average — the robust KPI that
    survives sensor spikes where a plain mean doesn't.

    Exactness: thresholds are VALUES AT RANKS (integer cents at
    integer ranks — no interpolation, so no float percentile
    semantics to reconcile); ceil(q·n) is pure integer arithmetic
    ((n+9)//10); the clamped sum is exact int64 and the mean is one
    fixed-order double division rounded at 6 dp.

    Scale story: one shuffle on event_type serves both the ranking
    window and the final rollup; the threshold frame is
    5-rows-broadcast back onto the ranked stream."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = cents("value")
    ranked = ev.select(
        "event_type",
        v.alias("v"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(v, "event_id"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .alias("n"),
    )
    th = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(F.col("rn") == fdiv(F.col("n") + 9, 10), F.col("v"))
        ).alias("lo_cents"),
        F.max(
            F.when(F.col("rn") == fdiv(9 * F.col("n") + 9, 10), F.col("v"))
        ).alias("hi_cents"),
    )
    return (
        ranked.drop("n")
        .join(F.broadcast(th), "event_type")
        .groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            F.round(
                F.sum(
                    F.least(
                        F.greatest(F.col("v"), F.col("lo_cents")),
                        F.col("hi_cents"),
                    )
                ).cast("double")
                / F.col("n")
                / F.lit(100.0),
                6,
            ).alias("wins_mean")
        )
        .select("event_type", "n", "lo_cents", "hi_cents", "wins_mean")
    )


@query(
    "stat_sprt",
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
def stat_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald's SPRT) per event-type
    stream: walk events in time order accumulating the Bernoulli
    log-likelihood ratio for H1: p=0.6 vs H0: p=0.4 (success =
    value > $50), stop at the first boundary crossing — the
    early-stopping A/B monitor that decides in O(sqrt(n)) samples
    instead of a fixed horizon.

    Exactness: the two LLR increments and the decision boundary are
    single Python-computed log literals injected into both engines;
    the walk is an exact int64 cumulative sum; the first crossing is
    the min-struct order statistic (rn, llr) — no row-at-a-time
    scan.  Scale story: one shuffle on event_type, one window pass,
    two 5-row aggregates."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    wo = W.partitionBy("event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    inc = F.when(cents("value") > 5000, F.lit(_SPRT_C1)).otherwise(
        F.lit(_SPRT_C0)
    )
    walk = ev.select(
        "event_type",
        F.row_number().over(wo).alias("rn"),
        F.sum(inc)
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("llr"),
    )
    crossing = (
        walk.filter(
            (F.col("llr") >= _SPRT_BOUND) | (F.col("llr") <= -_SPRT_BOUND)
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.struct(F.col("rn").alias("r"), F.col("llr").alias("l"))
            ).alias("hit")
        )
    )
    final = walk.groupBy("event_type").agg(
        F.max(
            F.struct(F.col("rn").alias("r"), F.col("llr").alias("l"))
        ).alias("fin")
    )
    return final.join(crossing, "event_type", "left").select(
        "event_type",
        F.when(F.col("hit").isNull(), F.lit("continue"))
        .when(F.col("hit.l") >= _SPRT_BOUND, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.coalesce(F.col("hit.r"), F.col("fin.r"))
        .cast("long")
        .alias("n_at_decision"),
        F.coalesce(F.col("hit.l"), F.col("fin.l"))
        .cast("long")
        .alias("llr_micro"),
    )


@query(
    "text_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
                              ELSE 'HTTPS://' END)
             || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
             || source || '.Example.COM/a/B/'
             || CAST(doc_id % 7 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                      THEN '?utm_source=feed&ref=rss' ELSE '' END)
               AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 lower(regexp_replace(url, '^[A-Za-z]+://', '')),
                 '^www\\.', ''),
               '(/$|\\?.*$)', '') AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS first_doc
    FROM canon
    GROUP BY canonical_url
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first pass of every
    web-corpus pipeline: strip scheme, lowercase, drop the www.
    prefix, tracking query strings and trailing slashes, then count
    how many raw variants collapse onto each canonical URL (keeping
    the smallest doc_id as the representative).  The fixture carries
    no real URLs, so both engines synthesize the SAME messy variants
    deterministically from (doc_id, source) — the canonicalization
    chain, not the corpus, is what's under test.

    Scale story: synthesis + canonicalization are pure map-side
    string expressions (whole-stage codegen, no UDF); the only
    shuffle is the canonical-key rollup — at 100 TB this is one
    hash-aggregate over the canonicalized key, exactly how a crawl
    frontier dedups."""
    d = load_table(spark, sf_dir, "documents")
    scheme = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("http://"))
        .when(F.col("doc_id") % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("HTTPS://"))
    )
    url = F.concat(
        scheme,
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM/a/B/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed&ref=rss"))
        .otherwise(F.lit("")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_replace(url, "^[A-Za-z]+://", "")),
            r"^www\.",
            "",
        ),
        r"(/$|\?.*$)",
        "",
    )
    return (
        d.select(canonical.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "sample_balanced_classes",
    oracle="""
    WITH counts AS (
      SELECT label, count(*) AS n FROM embeddings GROUP BY label
    ),
    kmin AS (SELECT min(n) AS k FROM counts),
    ranked AS (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
                                                1, 15)) AS BIGINT),
                        vec_id) AS rn
      FROM embeddings
    )
    SELECT r.label,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(r.vec_id) AS BIGINT) AS kept_vec_id_sum
    FROM ranked r, kmin
    WHERE r.rn <= kmin.k
    GROUP BY r.label
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows, chosen as the bottom-k by deterministic md5
    rank — the rebalancing step before training a classifier on a
    skewed corpus, reproducible on any cluster/partitioning/engine
    (no rand(), no sample()).  Reported per label as (count, kept-id
    checksum) so the oracle pins WHICH rows survive, not just how
    many.

    Scale story: one shuffle on label serves the ranking window; the
    k threshold is a 1-row aggregate of the |labels|-row count frame,
    broadcast back.  The md5 rank key is the repo's portable-hash
    convention (conv hex→BIGINT on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "vec_id")
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number()
        .over(W.partitionBy("label").orderBy(h, "vec_id"))
        .alias("rn"),
    )
    kmin = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("k"))
    )
    return (
        ranked.join(F.broadcast(kmin))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("vec_id").cast("long").alias("kept_vec_id_sum"),
        )
    )


@query(
    "ops_burn_rate",
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
def ops_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alert (the SRE-workbook pattern):
    fire only when BOTH a short (3 h) and a long (12 h) rolling error
    ratio exceed the 20% budget-burn threshold — the short window
    gives fast detection, the long window suppresses blips.

    Exactness: the ratio comparisons are cross-multiplied integer
    predicates (errors·5 > total — no division anywhere), so an
    alert can never flip on a float rounding boundary between
    engines.

    Scale story: the raw stream collapses to one row per HOUR first
    (partial-aggregated), so the rolling windows run over the tiny
    hour spine — a single-partition window over hours is bounded by
    the calendar, not the data (1 year ≈ 8.8k rows); a per-service
    production variant adds the service key to both the rollup and
    the window partition."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hours = ev.groupBy(
        fdiv(F.unix_micros("ts"), 3_600_000_000).alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("errors"),
    )
    ws = W.orderBy("hr").rowsBetween(-2, 0)
    wl = W.orderBy("hr").rowsBetween(-11, 0)
    rolled = hours.select(
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


_BITMAP_LO_DAY = 19723  # 2024-01-01 as epoch days (both engines)


@query(
    "agg_bitmap_distinct_days",
    oracle="""
    WITH d0 AS (
      SELECT user_id,
             CAST(((epoch_us(ts)) - ((((epoch_us(ts)) % CAST((86400000000) AS BIGINT)) + CAST((86400000000) AS BIGINT)) % CAST((86400000000) AS BIGINT))) // CAST((86400000000) AS BIGINT) AS BIGINT) - 19723 AS off
      FROM events
      WHERE ts IS NOT NULL
    ),
    d AS (SELECT * FROM d0 WHERE off BETWEEN 0 AND 63)
    SELECT user_id,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)) AS BIGINT)
             AS day_bitmap,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)))
                AS INT) AS n_active_days,
           CAST(min(off) AS INT) AS first_day,
           CAST(max(off) AS INT) AS last_day
    FROM d
    GROUP BY user_id
    """,
)
def agg_bitmap_distinct_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-day counting via an int64 day bitmap — the
    roaring-bitmap-lite pattern for activity metrics: each user's
    month of activity is ONE integer (bit i = active on day i), so
    COUNT DISTINCT collapses to bit_or + bit_count — a fully
    partial-aggregable integer fold where count_distinct would
    shuffle every (user, day) pair.  Bitmaps from different windows
    or clusters merge by OR — the property that makes this the
    serving layout for retention dashboards at 100 TB.

    Exactness: the day index is exact integer floor-division of
    epoch micros (fdiv); the window base is a Python-computed literal
    injected into both engines.  The int64 bitmap only holds days
    0..63, and the engines DISAGREE outside that range (Spark's
    shiftleft masks the shift to 6 bits, Java-style, silently
    wrapping; DuckDB's << does not) — so the window membership is an
    EXPLICIT guard on both sides, never an implicit wrap.  One shuffle (user rollup), map-side partial bit_or."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    off = (
        fdiv(F.unix_micros("ts"), 86_400_000_000) - _BITMAP_LO_DAY
    ).cast("int")
    d = ev.select("user_id", off.alias("off")).filter(
        F.col("off").between(0, 63)
    )
    # F.shiftleft requires a literal bit count; the SQL form takes a
    # column expression
    bitmap = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), off)"))
    return d.groupBy("user_id").agg(
        bitmap.cast("long").alias("day_bitmap"),
        F.bit_count(bitmap).cast("int").alias("n_active_days"),
        F.min("off").cast("int").alias("first_day"),
        F.max("off").cast("int").alias("last_day"),
    )


@query(
    "gov_audit_chain",
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
def gov_audit_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident audit-log verification: recompute each user's
    md5 hash CHAIN (chain_t = md5(chain_{t-1} || ':' || event_id),
    seeded 'genesis') over events in (ts, event_id) order and report
    the head — the blockchain-lite integrity check a compliance
    pipeline runs nightly; any inserted, dropped, or reordered row
    changes every downstream link, so one string per user certifies
    the whole history.

    The chain is inherently sequential per key — the per-key scan
    class (same as ts_clamped_cumsum), laid out flat via
    ``keyed_scan_input`` (one user_id shuffle, contiguous ordered
    runs, state carried across Arrow batches — guide §4: no per-group
    Python dispatch), md5 being the engine-portable hash.  Oracle:
    the recursive-CTE replay.  State is one 32-char digest regardless
    of history length."""
    import hashlib

    import pandas as pd

    from ctgov_ai_etl_spark.operators.balance import keyed_scan_input
    from ctgov_ai_etl_spark.session import ship_package

    ship_package(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
        )
    )

    def chain(batches):
        from ctgov_ai_etl_spark.operators.balance import assert_keys_non_null

        uid, h, n = None, "genesis", 0
        for pdf in batches:
            assert_keys_non_null(pdf, "user_id")
            us = pdf["user_id"].to_numpy()
            eids = pdf["event_id"].to_numpy()
            out_u, out_n, out_h = [], [], []
            for i in range(len(pdf)):
                u = int(us[i])
                if uid is not None and u != uid:
                    out_u.append(uid)
                    out_n.append(n)
                    out_h.append(h)
                    h, n = "genesis", 0
                uid = u
                h = hashlib.md5(f"{h}:{int(eids[i])}".encode()).hexdigest()
                n += 1
            if out_u:
                yield pd.DataFrame(
                    {"user_id": out_u, "n_events": out_n, "final_hash": out_h}
                )
        if uid is not None:
            yield pd.DataFrame(
                {"user_id": [uid], "n_events": [n], "final_hash": [h]}
            )

    return keyed_scan_input(ev, "user_id", ["ts_us", "event_id"]).mapInPandas(
        chain, schema="user_id long, n_events long, final_hash string"
    )


@query(
    "agg_bitmap_streaks",
    oracle="""
    WITH d0 AS (
      SELECT user_id,
             (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
                % 86400000000)) // 86400000000 - 19723 AS off
      FROM events WHERE ts IS NOT NULL
    ),
    d AS (SELECT * FROM d0 WHERE off BETWEEN 0 AND 63),
    bm AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)) AS b
      FROM d GROUP BY user_id
    )
    SELECT user_id,
           CAST(bit_count(b) AS INT) AS n_days,
           CAST(bit_count(b & (b >> 1)) AS INT) AS n_pairs,
           CAST(CASE WHEN bit_count(
                  b & (b >> 1) & (b >> 2) & (b >> 3)
                    & (b >> 4) & (b >> 5) & (b >> 6)) > 0
                THEN 1 ELSE 0 END AS INT) AS has_week_streak
    FROM bm
    """,
)
def agg_bitmap_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streak analytics as pure bitmap algebra over the day bitmaps of
    agg_bitmap_distinct_days: consecutive-day pairs are ONE shift-AND
    (b & b>>1), and 'has a 7-day streak' is the 7-term AND chain —
    retention math that at 100 TB runs as integer ops on one int64
    per user, no self-joins, no windows, no date arithmetic.

    Exactness: shifts and ANDs are identical on both engines; the
    day index is the fdiv floor convention; window membership
    (off in 0..63) is an explicit filter on both sides because the
    engines disagree on out-of-range shifts (Spark wraps mod 64,
    DuckDB does not).  One partial-aggregated user
    rollup, all streak logic map-side after it."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    off = (
        fdiv(F.unix_micros("ts"), 86_400_000_000) - 19_723
    ).cast("int")
    bm = (
        ev.select("user_id", off.alias("off"))
        .filter(F.col("off").between(0, 63))
        .groupBy("user_id")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), off)")).alias("b")
        )
    )
    week = F.expr(
        "b & shiftright(b,1) & shiftright(b,2) & shiftright(b,3)"
        " & shiftright(b,4) & shiftright(b,5) & shiftright(b,6)"
    )
    return bm.select(
        "user_id",
        F.bit_count("b").cast("int").alias("n_days"),
        F.bit_count(F.expr("b & shiftright(b, 1)"))
        .cast("int")
        .alias("n_pairs"),
        F.when(F.bit_count(week) > 0, 1).otherwise(0)
        .cast("int")
        .alias("has_week_streak"),
    )


@query(
    "stat_mann_whitney",
    oracle="""
    WITH armed AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END AS in_a
      FROM events WHERE value IS NOT NULL
    ),
    grouped AS (
      SELECT event_type, v,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(in_a) AS BIGINT) AS cnt_a
      FROM armed GROUP BY event_type, v
    ),
    pos AS (
      SELECT event_type, v, cnt, cnt_a,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY v) - cnt
               AS cumb
      FROM grouped
    ),
    stats AS (
      SELECT event_type,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt_a) AS BIGINT) AS n_a,
             CAST(sum(cnt_a * (2 * cumb + cnt + 1)) AS BIGINT) AS s2a,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties_t
      FROM pos GROUP BY event_type
    )
    SELECT event_type,
           n_a,
           CAST(n - n_a AS BIGINT) AS n_b,
           CAST(s2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           round(CAST(s2a - n_a * (n_a + 1) - n_a * (n - n_a) AS DOUBLE)
                 / sqrt(CAST(n_a AS DOUBLE) * (n - n_a)
                        * ((n + 1) - CAST(ties_t AS DOUBLE) / (n * (n - 1)))
                        / 3.0), 6) AS z
    FROM stats
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) per event type: does
    the md5-assigned A arm's value distribution stochastically
    dominate B's?  The nonparametric sibling of stat_ab_ttest —
    rank-based, so it needs no normality and survives outliers.

    Exactness: tied ranks are handled with DOUBLED rank sums, which
    turn the half-integer average ranks into exact int64
    (2·avg_rank of a tie block = 2·cum_before + size + 1); U is
    reported as 2U, and the tie-corrected variance enters one shared
    double expression with identical operation order on both
    engines.  Scale story: values compress to the distinct-(type,
    value) frame first, the position window and both rollups share
    the event_type exchange, arm assignment is the portable md5
    split."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    armed = ev.select(
        "event_type",
        cents("value").alias("v"),
        (hash_bucket(F.col("user_id"), 2) == 0).cast("long").alias("in_a"),
    )
    grouped = armed.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("in_a").alias("cnt_a")
    )
    w = W.partitionBy("event_type").orderBy("v")
    pos = grouped.select(
        "event_type",
        "v",
        "cnt",
        "cnt_a",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cumb"),
    )
    stats = pos.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(
            F.col("cnt_a") * (2 * F.col("cumb") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("s2a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("long")
        .alias("ties_t"),
    )
    n, na = F.col("n"), F.col("n_a")
    u2a = F.col("s2a") - na * (na + 1)
    z = F.round(
        (u2a - na * (n - na)).cast("double")
        / F.sqrt(
            na.cast("double")
            * (n - na)
            * ((n + 1) - F.col("ties_t").cast("double") / (n * (n - 1)))
            / 3.0
        ),
        6,
    )
    return stats.select(
        "event_type",
        "n_a",
        (n - na).cast("long").alias("n_b"),
        u2a.cast("long").alias("u2_a"),
        z.alias("z"),
    )


@query(
    "agg_bitmap_cohort_retention",
    oracle="""
    WITH d0 AS (
      SELECT user_id,
             (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
                % 86400000000)) // 86400000000 - 19723 AS off
      FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
    ),
    d AS (SELECT * FROM d0 WHERE off BETWEEN 0 AND 63),
    bm AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)) AS b
      FROM d GROUP BY user_id
    ),
    firsts AS (
      SELECT user_id, b,
             bit_count((b & -b) - 1) AS cohort_day
      FROM bm
    )
    SELECT CAST(cohort_day AS INT) AS cohort_day,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN cohort_day + 1 <= 63
                 THEN (b >> CAST(cohort_day + 1 AS INT)) & 1 END) AS BIGINT)
             AS ret_d1,
           CAST(sum(CASE WHEN cohort_day + 7 <= 63
                 THEN (b >> CAST(cohort_day + 7 AS INT)) & 1 END) AS BIGINT)
             AS ret_d7,
           CAST(sum(CASE WHEN cohort_day + 14 <= 63
                 THEN (b >> CAST(cohort_day + 14 AS INT)) & 1 END) AS BIGINT)
             AS ret_d14
    FROM firsts
    GROUP BY cohort_day
    """,
)
def agg_bitmap_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cohort-retention matrix computed ENTIRELY from day
    bitmaps (purchase activity, which spreads first-touch across the
    month where all-event bitmaps collapse to cohort 0): a user's
    cohort day is the lowest set bit
    (bit_count((b & -b) − 1)) and day-k retention is one shifted bit
    test ((b >> (cohort+k)) & 1) — the dashboard that normally takes
    a self-join of the activity table against itself becomes integer
    ops on one int64 per user.  Completes the bitmap suite
    (distinct-days → streaks → cohorts).

    Exactness: every step is bit arithmetic both engines define
    identically on int64 *within* the 0..63 shift range — outside
    it Spark wraps the shift mod 64 while DuckDB does not, so the
    day-window filter and the cohort_day+k <= 63 retention guard are
    explicit on both sides (NULL when the horizon leaves the bitmap).
    Scale story: one partial-aggregated user rollup, then a
    |cohort-days|-sized second rollup — no self-join, no window."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & (F.col("event_type") == "purchase")
    )
    off = (
        fdiv(F.unix_micros("ts"), 86_400_000_000) - 19_723
    ).cast("int")
    bm = (
        ev.select("user_id", off.alias("off"))
        .filter(F.col("off").between(0, 63))
        .groupBy("user_id")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), off)")).alias("b")
        )
    )
    firsts = bm.select(
        "b", F.expr("bit_count((b & -b) - 1)").alias("cohort_day")
    )
    ret = lambda k: F.sum(  # noqa: E731
        F.expr(
            f"CASE WHEN cohort_day + {k} <= 63 THEN "
            f"shiftright(b, CAST(cohort_day + {k} AS INT)) & 1 END"
        )
    ).cast("long")
    return (
        firsts.groupBy(F.col("cohort_day").cast("int").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            ret(1).alias("ret_d1"),
            ret(7).alias("ret_d7"),
            ret(14).alias("ret_d14"),
        )
    )


# ----------------------------------------------- privacy: t-closeness


@query(
    "dq_t_closeness",
    oracle="""
    WITH tagged AS (
      SELECT c_nationkey, c_mktsegment,
             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
               AS band
      FROM customer
    ),
    gdist AS (
      SELECT band, CAST(count(*) AS BIGINT) AS gn FROM tagged GROUP BY band
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT band) AS BIGINT) AS m FROM tagged),
    grp AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS ng
      FROM tagged GROUP BY c_nationkey, c_mktsegment
    ),
    cellcnt AS (
      SELECT c_nationkey, c_mktsegment, band,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tagged GROUP BY c_nationkey, c_mktsegment, band
    ),
    dense AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.ng, b.band, b.gn,
             coalesce(c.cnt, 0) AS cnt
      FROM grp g CROSS JOIN gdist b
      LEFT JOIN cellcnt c
        ON c.c_nationkey = g.c_nationkey
       AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, ng, band,
             sum(CAST(cnt AS HUGEINT) * (SELECT n FROM tot)
                 - CAST(gn AS HUGEINT) * ng) OVER
               (PARTITION BY c_nationkey, c_mktsegment
                ORDER BY band
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM dense
    )
    SELECT c_nationkey, c_mktsegment, CAST(max(ng) AS BIGINT) AS group_size,
           round(CAST(sum(abs(c)) AS DOUBLE)
                 / (CAST(max(ng) AS DOUBLE) * (SELECT n FROM tot)
                    * ((SELECT m FROM tot) - 1)), 6) AS t_emd,
           round(CAST(sum(abs(c)) AS DOUBLE)
                 / (CAST(max(ng) AS DOUBLE) * (SELECT n FROM tot)
                    * ((SELECT m FROM tot) - 1)), 6) > 0.2 AS at_risk
    FROM cum GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — completes the privacy trio
    (dq_k_anonymity, dq_l_diversity): a QI group leaks when the
    DISTRIBUTION of its ordered sensitive attribute (balance band)
    strays from the global distribution, measured by the earth-mover
    distance, which for an ordered attribute is the mean |cumulative
    difference| (Li et al., ICDE'07).  The per-band deviation is the
    EXACT integer cross product cnt*N - gn*ng (no per-cell float
    probabilities); one double division at the very end.  Frames:
    one data-scale groupBy to band counts, then everything runs on
    the |groups| x |bands| grid (hundreds of rows at any SF) with a
    broadcast band spine — the dense grid is what makes absent bands
    count as p_i = 0."""
    c = load_table(spark, sf_dir, "customer")
    band = fdiv(cents("c_acctbal") + 100_000, F.lit(100_000))
    tagged = c.select("c_nationkey", "c_mktsegment", band.alias("band"))
    glob = tagged.groupBy("band").agg(F.count("*").cast("long").alias("gn"))
    tot = tagged.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("band").cast("long").alias("m"),
    )
    grp = tagged.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("ng")
    )
    cellcnt = tagged.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count("*").cast("long").alias("cnt")
    )
    dense = (
        grp.crossJoin(F.broadcast(glob))
        .join(
            cellcnt, ["c_nationkey", "c_mktsegment", "band"], "left"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "ng",
            "band",
            "n",
            "m",
            (
                F.coalesce(F.col("cnt"), F.lit(0)).cast("decimal(38,0)")
                * F.col("n")
                - F.col("gn").cast("decimal(38,0)") * F.col("ng")
            ).alias("dev"),
        )
    )
    wc = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = dense.select(
        "c_nationkey",
        "c_mktsegment",
        "ng",
        "n",
        "m",
        F.sum("dev").over(wc).alias("c"),
    )
    t = F.round(
        F.sum(F.abs(F.col("c"))).cast("double")
        / (
            F.max("ng").cast("double")
            * F.max("n")
            * (F.max("m") - 1)
        ),
        6,
    )
    return cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("ng").cast("long").alias("group_size"),
        t.alias("t_emd"),
        (t > 0.2).alias("at_risk"),
    )


# ------------------------------------------ k-center coreset


_KC_CAP = 500  # documented slice cap: quadratic-free, but bounded demo
_KC_ROUNDS = 8


def _kcenter_oracle(rounds: int, cap: int) -> str:
    parts = [
        f"""v AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                      AS BIGINT)) AS iv
      FROM embeddings WHERE vec_id < {cap}
    )""",
        """dist0 AS (
      SELECT a.vec_id,
             CAST(list_aggregate(
               list_transform(range(1, len(a.iv) + 1),
                 j -> (a.iv[CAST(j AS INT)] - c.iv[CAST(j AS INT)])
                      * (a.iv[CAST(j AS INT)] - c.iv[CAST(j AS INT)])),
               'sum') AS BIGINT) AS mind
      FROM v a CROSS JOIN (SELECT iv FROM v WHERE vec_id = 0) c
    )""",
    ]
    sel = ["SELECT 0 AS round, 0 AS center_id, NULL AS radius_sq"]
    for r in range(1, rounds):
        parts.append(
            f"""c{r} AS (
      SELECT vec_id, mind FROM dist{r - 1}
      ORDER BY mind DESC, vec_id LIMIT 1
    )"""
        )
        sel.append(
            f"SELECT {r}, vec_id, mind FROM c{r}"
        )
        if r < rounds - 1:
            parts.append(
                f"""dist{r} AS (
      SELECT d.vec_id,
             least(d.mind, CAST(list_aggregate(
               list_transform(range(1, len(a.iv) + 1),
                 j -> (a.iv[CAST(j AS INT)] - b.iv[CAST(j AS INT)])
                      * (a.iv[CAST(j AS INT)] - b.iv[CAST(j AS INT)])),
               'sum') AS BIGINT)) AS mind
      FROM dist{r - 1} d
      JOIN v a ON a.vec_id = d.vec_id
      CROSS JOIN (SELECT v.iv FROM c{r} JOIN v ON v.vec_id = c{r}.vec_id) b
    )"""
            )
    body = " UNION ALL ".join(sel)
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(round AS INT) AS round,
           CAST(center_id AS BIGINT) AS center_id,
           CAST(radius_sq AS BIGINT) AS radius_sq
    FROM ({body})"""
    )


@query(
    "sample_kcenter_coreset",
    oracle=_kcenter_oracle(_KC_ROUNDS, _KC_CAP),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-CENTER coreset selection (Gonzalez farthest-first
    traversal): start from vector 0, then 7 rounds of 'add the point
    farthest from every selected center' — the 2-approximation
    coverage guarantee that makes it THE diverse-subset picker for
    training-data curation (each radius_sq is the covering radius
    when that center was chosen, a certified coverage curve).  Each
    round is ONE broadcast join against the single new center plus a
    running least() on the per-point min-distance column — k linear
    passes, never a pairwise matrix — with exact integer micro-unit
    L2 so the whole traversal hash-checks against the unrolled CTE
    oracle.  The slice cap bounds the demo; at 100 TB the same plan
    runs per-shard and the per-shard coresets union (composable
    coresets)."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _KC_CAP
    )
    iv = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
    )
    # the capped slice is 500 rows: one partition keeps every round's
    # argmax and distance update a single-task job instead of paying
    # 32-task scheduling overhead 8 times
    v = e.select("vec_id", iv.alias("iv")).coalesce(1)

    def sq_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    c0 = v.filter(F.col("vec_id") == 0).select(F.col("iv").alias("civ"))
    dist = (
        v.crossJoin(F.broadcast(c0))
        .select(
            "vec_id", "iv", sq_dist(F.col("iv"), F.col("civ")).alias("mind")
        )
        .localCheckpoint(eager=True)
    )
    # fully lazy farthest-first traversal: each round's argmax is a
    # 1-row TakeOrdered frame that CARRIES the center's vector, so the
    # next round's distance update is a broadcast crossJoin against
    # it — no driver-side collect, no local-rows createDataFrame in a
    # timed path (SCALE.md r10: those cost ~5 s of Python-worker spawn
    # per write job), one single action at the end
    picks = [
        v.filter(F.col("vec_id") == 0).select(
            F.lit(0).cast("int").alias("round"),
            F.col("vec_id").cast("long").alias("center_id"),
            F.lit(None).cast("long").alias("radius_sq"),
        )
    ]
    for r in range(1, _KC_ROUNDS):
        # eager 1-row checkpoint: keeps every later frame that embeds
        # this pick (the next dist round AND the final union) a flat
        # scan-of-materialized-rows instead of nesting the full
        # TakeOrdered subtree k times over
        pick = (
            dist.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(
            pick.select(
                F.lit(r).cast("int").alias("round"),
                F.col("vec_id").cast("long").alias("center_id"),
                F.col("mind").cast("long").alias("radius_sq"),
            )
        )
        if r < _KC_ROUNDS - 1:
            center = pick.select(F.col("iv").alias("civ"))
            dist = dist.crossJoin(F.broadcast(center)).select(
                "vec_id",
                "iv",
                F.least(
                    F.col("mind"), sq_dist(F.col("iv"), F.col("civ"))
                ).alias("mind"),
            )
            # eager localCheckpoint per round, NOT persist: persist
            # bounds recompute but leaves the full nested logical plan
            # in place — the final k-way union of picks composed an
            # 801k-line formatted plan at k=8 (r12 audit), exponential
            # in rounds.  Checkpointing truncates lineage so analysis
            # cost is linear in k; runtime and hash unchanged.
            dist = dist.localCheckpoint(eager=True)
    out = picks[0]
    for p_ in picks[1:]:
        out = out.unionAll(p_)
    return out


# --------------------------------------------------- crypto-shredding


@query(
    "gov_crypto_shred",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT user_id,
             substr(md5('k:' || CAST(user_id AS VARCHAR)), 1, 16) AS ukey
      FROM events
      WHERE user_id % 17 <> 0
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN k.ukey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shredded,
           CAST(count(DISTINCT CASE WHEN k.ukey IS NOT NULL
                 THEN substr(md5(k.ukey || ':'
                                 || CAST(e.user_id AS VARCHAR)), 1, 12)
                 END) AS BIGINT) AS n_tokens
    FROM events e LEFT JOIN keys k USING (user_id)
    GROUP BY e.event_type
    """,
)
def gov_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding erasure (the GDPR deletion pattern that works
    on immutable storage): every user's identifiers are tokenized
    under a per-user key held in a tiny key table; 'deleting' a user
    destroys only their key row, after which their tokens are
    unlinkable — no rewrite of the 100 TB fact store.  Here users
    with user_id % 17 == 0 are shredded (their key rows are gone);
    the audit rollup counts shredded events and surviving distinct
    tokens per type.  The key table is users-sized (broadcast join —
    the fact table never shuffles); tokenization is md5 keyed by the
    user key, engine-portable so the oracle replays it.  Companion
    to gov_right_to_erasure (hard delete) — this is the soft,
    storage-immutable variant."""
    ev = load_table(spark, sf_dir, "events")
    keys = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 17 != 0)
        .select(
            "user_id",
            F.substring(
                F.md5(F.concat(F.lit("k:"), F.col("user_id").cast("string"))),
                1,
                16,
            ).alias("ukey"),
        )
    )
    joined = ev.join(F.broadcast(keys), "user_id", "left")
    token = F.when(
        F.col("ukey").isNotNull(),
        F.substring(
            F.md5(
                F.concat(
                    F.col("ukey"), F.lit(":"), F.col("user_id").cast("string")
                )
            ),
            1,
            12,
        ),
    )
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("ukey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_shredded"),
        F.count_distinct(token).cast("long").alias("n_tokens"),
    )


# ------------------------------------ order-independent checksum

_CKSUM_CANON = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' "
    "|| CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)"
)


@query(
    "dq_dataset_checksum",
    oracle=f"""
    WITH h AS (
      SELECT CAST(('0x' || substring(md5({_CKSUM_CANON}), 1, 15))
                  AS BIGINT) AS h60
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h60) AS BIGINT) AS xor_checksum,
           CAST(sum(CAST(h60 AS HUGEINT))
                % 2305843009213693951 AS BIGINT) AS sum_checksum
    FROM h
    """,
)
def dq_dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INDEPENDENT dataset checksum — the cheap replication /
    migration validator: every row canonicalizes to a stable string
    (keys, status, exact cents — no raw doubles or timestamps whose
    rendering differs across engines), hashes to a portable 60-bit
    md5 integer, and the dataset digest is BOTH the XOR fold and the
    sum mod the Mersenne prime 2^61-1 of those hashes.  Both folds
    are commutative monoids: partial-aggregable, partition-order
    independent, and MERGEABLE across shards/days/clusters — so two
    100 TB copies compare by exchanging two integers, and a single
    flipped row flips the digest (xor catches odd multiplicity
    changes, the modular sum catches the duplicate-pair class xor
    misses).  One map-side fold, one 1-row exchange."""
    o = load_table(spark, sf_dir, "orders")
    # F.concat (NOT concat_ws): concat propagates NULL like the
    # oracle's '||', so a NULL field NULLs the row hash identically
    # on both engines instead of being silently skipped on one side
    # (concat_ws drops NULL columns).
    canon = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit("|"),
        F.col("o_custkey").cast("string"),
        F.lit("|"),
        F.col("o_orderstatus"),
        F.lit("|"),
        cents("o_totalprice").cast("string"),
    )
    h60 = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    h = o.select(h60.alias("h60"))
    return h.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.bit_xor("h60").cast("long").alias("xor_checksum"),
        F.pmod(
            F.sum(F.col("h60").cast("decimal(38,0)")),
            F.lit(2305843009213693951).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("sum_checksum"),
    )


# ------------------------------------------- mutual-kNN graph build

_KNN_K = 5
_KNN_CAP = 1000  # documented slice cap: quadratic tier stays bounded


@query(
    "emb_mutual_knn_graph",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                      AS BIGINT)) AS iv
      FROM embeddings WHERE vec_id < {_KNN_CAP}
    ),
    dots AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             CAST(list_aggregate(
                    list_transform(range(1, len(a.iv) + 1),
                                   j -> a.iv[CAST(j AS INT)]
                                        * b.iv[CAST(j AS INT)]),
                    'sum') AS BIGINT) AS dot
      FROM v a CROSS JOIN v b
      WHERE a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst, dot,
             row_number() OVER (PARTITION BY src
                                ORDER BY dot DESC, dst ASC) AS rk
      FROM dots
    )
    SELECT k1.src AS a, k1.dst AS b, k1.dot AS dot_micro2
    FROM knn k1 JOIN knn k2
      ON k1.src = k2.dst AND k1.dst = k2.src
     AND k1.rk <= {_KNN_K} AND k2.rk <= {_KNN_K}
    WHERE k1.src < k1.dst
    """,
)
def emb_mutual_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-kNN graph construction over the embedding table — the
    graph-build step in front of SemDeDup clustering / spectral
    methods: an edge survives only if each endpoint ranks the other
    in its top-{_KNN_K} by inner product (mutuality prunes hub
    false-neighbors that one-sided kNN keeps).  Exact integer MIPS:
    micro-unit components make every dot product an exact int64
    (64 dims x 1e12 per term ≈ 6.4e13 max), so the (dot desc, id)
    ranking is deterministic — no float tie ambiguity.  This is the
    guarded QUADRATIC correctness tier (vec_id < {_KNN_CAP} slice,
    documented cap — same contract as sim_topk_bruteforce); the
    scale path swaps the cross join for the IVF/LSH candidate
    generation in operators/similarity.py and keeps the mutuality
    join unchanged.  The mutual filter is a self-equi-join on the
    (src, dst) pair key."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _KNN_CAP
    )
    v = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * 1_000_000).cast("long"),
        ).alias("iv"),
    )
    # spread the probe side: the slice arrives as one parquet split,
    # and a 1-partition crossJoin would compute every dot in one task
    a = v.select(
        F.col("vec_id").alias("src"), F.col("iv").alias("av")
    ).repartition(32, "src")
    b = v.select(F.col("vec_id").alias("dst"), F.col("iv").alias("bv"))
    dots = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.aggregate(
                F.zip_with(
                    F.col("av"), F.col("bv"), lambda x, y: x * y
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    knn = dots.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("src").orderBy(
                F.col("dot").desc(), F.col("dst").asc()
            )
        ),
    ).filter(F.col("rk") <= _KNN_K)
    k1 = knn.alias("k1")
    k2 = knn.select(
        F.col("src").alias("r_dst"), F.col("dst").alias("r_src")
    ).alias("k2")
    return (
        k1.join(
            k2,
            (F.col("k1.src") == F.col("k2.r_src"))
            & (F.col("k1.dst") == F.col("k2.r_dst")),
        )
        .filter(F.col("k1.src") < F.col("k1.dst"))
        .select(
            F.col("k1.src").alias("a"),
            F.col("k1.dst").alias("b"),
            F.col("k1.dot").alias("dot_micro2"),
        )
    )


# ------------------------------------ sequence pattern match (regex)

# one char per event type: the alphabet the pattern runs over
_SEQ_INITIAL = (
    "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' "
    "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END"
)
# browse-then-buy with no error in between, anywhere in the journey
_SEQ_PATTERN = "v+c+[vcs]*p"


@query(
    "seq_pattern_regex",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg({_SEQ_INITIAL}, ''
                        ORDER BY epoch_us(ts), event_id) AS journey
      FROM events WHERE ts IS NOT NULL
      GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN regexp_matches(journey, '{_SEQ_PATTERN}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
           CAST(sum(CASE WHEN regexp_matches(journey,
                                             '^{_SEQ_PATTERN}')
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matching_from_start,
           CAST(max(length(journey)) AS BIGINT) AS longest_journey
    FROM seq
    """,
)
def seq_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-sequence pattern matching, the
    Spark way: each user's journey compresses to ONE ordered string
    (one char per event type, built by partial-aggregable ordered
    aggregation — never a per-user collect), and the behavioral
    pattern 'views, then clicks, then purchase with no error
    between' becomes a plain regex over that string — CEP pattern
    queries as string algebra, running scan-shaped at any scale
    (journey length is bounded by per-user activity, not corpus
    size).  Both engines run POSIX-class regexes with identical
    semantics for this alphabet; the ordered aggregation uses the
    repo's (ts, event_id) total order."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("i"),
                F.expr(_SEQ_INITIAL).alias("ch"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["ch"]
                ),
                "",
            ).alias("journey")
        )
    )
    return seq.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(
            F.when(
                F.col("journey").rlike(_SEQ_PATTERN), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_matching"),
        F.sum(
            F.when(
                F.col("journey").rlike("^" + _SEQ_PATTERN), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_matching_from_start"),
        F.max(F.length("journey")).cast("long").alias("longest_journey"),
    )


# ------------------------------------- referential-integrity profile

_FK_EDGES = (
    # (child table, child key, parent table, parent key)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
)


def _fk_oracle() -> str:
    parts = []
    for child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{child}.{ck}->{parent}.{pk}' AS fk,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(sum(CASE WHEN NOT EXISTS
                 (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           CAST({sql_fdiv(
               "sum(CASE WHEN NOT EXISTS "
               f"(SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}) "
               "THEN 1 ELSE 0 END) * 1000000",
               "count(*)")} AS BIGINT) AS orphan_ppm
    FROM {child} c""")
    return "\nUNION ALL\n".join(parts)


@query("dq_fk_orphans", oracle=_fk_oracle())
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profiler across the star schema's five
    foreign keys: for each child->parent edge, how many child rows
    have no matching parent (orphans) and the orphan rate in exact
    ppm — the DQ gate every warehouse load runs before trusting a
    join.  The engine form is one broadcast LEFT join per edge
    against the DISTINCT parent keys (parent key sets are dim-sized;
    the child side never shuffles) folded into a single global
    aggregate — fully lazy, no driver-side counting — and the five
    edges union into one frame; the oracle states each edge as the
    declarative NOT EXISTS.  At 100 TB each edge is still one
    broadcast probe per child partition; a bloom-filter pre-pass
    (join_bloom_semi) slots in front unchanged."""
    import functools

    frames = []
    for child, ck, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("__pk"))
            .distinct()
        )
        joined = c.join(F.broadcast(p), c["k"] == p["__pk"], "left")
        frames.append(
            joined.agg(
                F.count("*").cast("long").alias("n_child"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            ).select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("fk"),
                "n_child",
                "n_orphans",
                fdiv(F.col("n_orphans") * 1_000_000, F.col("n_child"))
                .cast("long")
                .alias("orphan_ppm"),
            )
        )
    return functools.reduce(lambda a, b: a.unionAll(b), frames)


# --------------------------------------- power-iteration PCA (exact)

_PCA_D = 8  # leading embedding dims
_PCA_ITERS = 6
_PCA_GSCALE = 1_000_000_000  # Gram entries scaled down by 1e9


def _pca_oracle(d: int, iters: int) -> str:
    fd = sql_fdiv
    parts = [
        f"""m AS (
      SELECT vec_id, dim - 1 AS dim,
             CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000)
                  AS BIGINT) AS v
      FROM embeddings, unnest(range(1, {d + 1})) AS t(dim))""",
        f"""gram AS (
      SELECT a.dim AS i, b.dim AS j,
             CAST({fd("sum(CAST(a.v AS HUGEINT) * b.v)", str(_PCA_GSCALE))}
                  AS BIGINT) AS g
      FROM m a JOIN m b USING (vec_id)
      GROUP BY a.dim, b.dim)""",
        f"""x0 AS (
      SELECT unnest(range(0, {d})) AS i, CAST(1000000 AS BIGINT) AS x)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"y{k} AS (SELECT g.i, CAST(sum(g.g * x.x) AS BIGINT) AS y"
            f" FROM gram g JOIN x{k - 1} x ON x.i = g.j GROUP BY g.i)"
        )
        parts.append(
            f"m{k} AS (SELECT CAST(max(abs(y)) AS BIGINT) AS mx FROM y{k})"
        )
        parts.append(
            f"x{k} AS (SELECT y.i,"
            f" CAST({fd('y.y', fd('m.mx', '1000000') + ' + 1')} AS BIGINT)"
            f" AS x FROM y{k} y, m{k} m)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(x.i AS INT) AS dim, CAST(x.x AS BIGINT) AS eigvec_scaled
    FROM x{iters} x"""
    )


@query(
    "emb_pca_power_iteration", oracle=_pca_oracle(_PCA_D, _PCA_ITERS)
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding matrix by power
    iteration on an EXACT integer Gram matrix — the distributed-PCA
    decomposition MLlib's RowMatrix uses: ONE data-scale pass builds
    the d x d Gram (long-form explode map-side, d^2 tiny moment rows
    shuffled, never the vectors), then the d x d eigen-iteration runs
    on the constant-size matrix.  Everything stays in int64: vector
    components in micro-units, Gram entries floor-scaled by 1e9
    (decimal accumulation so the inner products never overflow), and
    each iterate renormalized by floor-dividing with
    (max|y|/1e6 + 1) — both engines replay the identical integer
    sequence, so a six-round eigenvector matches bit-for-bit where a
    float power iteration would drift.  The iteration itself is
    executed RELATIONALLY (matvec = join + group on the 64-row gram
    frame; the iterate x is re-injected as an array literal each
    round — no Python-rows plan, no data-sized driver collect; the
    only collect is the d-row iterate, bounded and documented).
    Oracle: Gram + the same six matvecs as unrolled CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    long_form = emb.select(
        "vec_id",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, _PCA_D)
        ).alias("dim", "xv"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("xv") * 1_000_000).cast("long").alias("v"),
    )
    a, b = long_form.alias("a"), long_form.alias("b")
    gram = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg(
            fdiv(
                F.sum(F.col("a.v").cast("decimal(38,0)") * F.col("b.v")),
                _PCA_GSCALE,
            )
            .cast("long")
            .alias("g")
        )
    )
    # Pin the 64-row gram across the K matvec jobs (and register the
    # pin for barrier cleanup) so the data-scale pair join runs once.
    from ctgov_ai_etl_spark.operators.cache import track

    gram = track(gram.cache())
    x = [1_000_000] * _PCA_D
    for _ in range(_PCA_ITERS):
        xcol = F.array(*[F.lit(int(v)) for v in x])
        y = (
            gram.select(
                "i",
                (
                    F.col("g") * F.element_at(xcol, F.col("j") + 1)
                ).alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("y"))
        )
        rows = y.collect()  # bounded: d = 8 rows, documented
        mx = max(abs(int(r["y"])) for r in rows)
        denom = mx // 1_000_000 + 1
        x_new = [0] * _PCA_D
        for r in rows:
            x_new[int(r["i"])] = int(r["y"]) // denom
        x = x_new
    return (
        spark.range(_PCA_D)
        .select(F.col("id").cast("int").alias("dim"))
        .select(
            "dim",
            F.element_at(
                F.array(*[F.lit(int(v)) for v in x]), F.col("dim") + 1
            )
            .cast("long")
            .alias("eigvec_scaled"),
        )
    )


# ------------------------------------- functional-dependency mining


_FD_PAIRS = (
    ("o_custkey", "o_orderpriority"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_orderstatus", "o_orderpriority"),
)


def _fd_oracle() -> str:
    parts = []
    for lhs, rhs in _FD_PAIRS:
        parts.append(f"""
    SELECT '{lhs}->{rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST({sql_fdiv("sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000",
                          "count(*)")} AS BIGINT) AS violation_ppm
    FROM (SELECT CAST({lhs} AS VARCHAR) AS l,
                 count(DISTINCT {rhs}) AS nd
          FROM orders GROUP BY 1) g""")
    return "\nUNION ALL\n".join(parts)


@query("dq_fd_miner", oracle=_fd_oracle())
def dq_fd_miner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency miner: for each candidate rule A -> B,
    how many A-values map to more than one distinct B (violating
    groups) and the violation rate in exact ppm — the profiling pass
    schema-inference and DQ-rule systems run before trusting a
    column as a key or denormalization target.  The engine form
    stacks all candidate pairs into one long frame map-side (explode
    of (fd, lhs, rhs) structs — ONE scan of the table for all rules)
    and aggregates twice on the same fd,lhs exchange; the oracle
    states each rule as its own aggregate and unions them.  At 100 TB
    the single-scan stacking beats |rules| separate passes; the
    second rollup is |distinct lhs|-sized."""
    o = load_table(spark, sf_dir, "orders")
    stacked = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{lhs}->{rhs}").alias("fd"),
                        F.col(lhs).cast("string").alias("l"),
                        F.col(rhs).cast("string").alias("r"),
                    )
                    for lhs, rhs in _FD_PAIRS
                ]
            )
        ).alias("x")
    ).select("x.fd", "x.l", "x.r")
    per_lhs = stacked.groupBy("fd", "l").agg(
        F.count_distinct("r").alias("nd")
    )
    return per_lhs.groupBy("fd").agg(
        F.count("*").cast("long").alias("n_lhs"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        fdiv(
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)) * 1_000_000,
            F.count("*"),
        )
        .cast("long")
        .alias("violation_ppm"),
    )


# ------------------------------------ hashing-trick featurization


@query(
    "feature_hash_vectorize",
    oracle="""
    WITH tf AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                  % 32 AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY 1, 2
    ),
    nrm AS (
      SELECT doc_id,
             CAST(sum(CAST(tf AS HUGEINT) * tf) AS BIGINT) AS sq
      FROM tf GROUP BY 1
    )
    SELECT t.doc_id, t.bucket, t.tf,
           round(CAST(t.tf AS DOUBLE) / sqrt(CAST(n.sq AS DOUBLE)), 6)
             AS w6
    FROM tf t JOIN nrm n ON n.doc_id = t.doc_id
    """,
)
def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., ICML'09 — the
    fixed-width, vocabulary-free text featurizer linear quality
    classifiers train on): tokens hash into 32 buckets via the
    portable md5 convention, per-(doc, bucket) term frequencies are
    exact integer counts, and the L2 normalization is one fixed-order
    sqrt/divide per cell (Σtf² widened to decimal/HUGEINT).

    Scale: no vocabulary table AT ALL — the feature space is fixed
    width, so there is nothing to broadcast or fit; one partial-agg
    shuffle to cells, one to per-doc norms, and a doc-keyed join.
    New documents featurize identically forever (the property that
    makes the trick the production choice at 100 TB)."""
    from ctgov_ai_etl_spark.functions.text import tokens
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy(
            "doc_id",
            hash_bucket(F.col("tok"), 32).cast("int").alias("bucket"),
        )
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # Per-doc norm as a WINDOW over the cell frame (not a self-join):
    # one scan of documents, one shuffle — the cells are already
    # co-partitioned by doc_id, so the window adds no exchange.
    w_doc = W.partitionBy("doc_id")
    tf = tf.withColumn(
        "sq",
        F.sum(F.col("tf").cast("decimal(38,0)") * F.col("tf"))
        .over(w_doc)
        .cast("long"),
    )
    return tf.select(
        "doc_id",
        "bucket",
        "tf",
        F.round(
            F.col("tf").cast("double") / F.sqrt(F.col("sq").cast("double")),
            6,
        ).alias("w6"),
    )


# ------------------------------- differential-privacy release


_DP_2POW60 = 1152921504606846976  # 2^60: dyadic uniform denominator


@query(
    "gov_dp_histogram",
    oracle=f"""
    WITH h AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS true_count,
             CAST(('0x' || substring(md5('dp:' ||
               CAST(min(n.n_nationkey) AS VARCHAR)), 1, 15)) AS BIGINT)
               AS h60
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    u AS (
      SELECT nation, true_count,
             (CAST(h60 AS DOUBLE) + 0.5) / {_DP_2POW60} AS u
      FROM h
    ),
    nz AS (
      SELECT nation, true_count, u,
             CAST(round(ln(1 - 2 * abs(u - 0.5)) * 1000000) AS BIGINT)
               AS lm
      FROM u
    )
    SELECT nation, true_count,
           CAST((CASE WHEN u >= 0.5 THEN 1 ELSE -1 END) * lm AS BIGINT)
             AS noise_micro,
           CAST(true_count * 1000000
                + (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END) * lm
                AS BIGINT) AS released_micro,
           1.0 AS epsilon
    FROM nz
    """,
)
def gov_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (the Laplace
    mechanism, Dwork et al. '06 — how aggregate statistics of a
    training corpus are published without leaking membership):
    per-nation customer counts + Laplace(1/epsilon) noise at
    epsilon = 1, sensitivity 1.  The noise draw is DETERMINISTIC for
    oracle replay: a dyadic md5 uniform u = (h60 + 0.5)/2^60 (exact
    in both engines), inverse-CDF'd with the one ln() fixed to
    integer micro-units (the text_perplexity_proxy convention —
    sign(u-1/2) from the same u, |ln| term micro-rounded before the
    sign multiply, so the released value is exact integer
    arithmetic).  true_count is emitted for oracle verification
    only; a production release ships released_micro alone.

    Scale: one partial-agg shuffle to the histogram, noise is
    map-side scalar algebra on the (tiny) released frame — the
    mechanism costs nothing at 100 TB."""
    c = load_table(spark, sf_dir, "customer").select("c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    h = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("true_count"),
            F.min("n_nationkey").alias("nk"),
        )
        .select(
            "nation",
            "true_count",
            portable_hash60(F.col("nk"), salt="dp").alias("h60"),
        )
    )
    u = (F.col("h60").cast("double") + 0.5) / F.lit(float(_DP_2POW60))
    nz = h.select(
        "nation",
        "true_count",
        u.alias("u"),
        F.round(F.log(1 - 2 * F.abs(u - 0.5)) * 1_000_000)
        .cast("long")
        .alias("lm"),
    )
    sgn = F.when(F.col("u") >= 0.5, F.lit(1)).otherwise(F.lit(-1))
    return nz.select(
        "nation",
        "true_count",
        (sgn * F.col("lm")).cast("long").alias("noise_micro"),
        (F.col("true_count") * 1_000_000 + sgn * F.col("lm"))
        .cast("long")
        .alias("released_micro"),
        F.lit(1.0).alias("epsilon"),
    )


# ------------------------------- DSIR importance resampling


_DSIR_BUCKETS = 32
_DSIR_TOP_K = 50


_DSIR_CTES = f"""tok AS (
      SELECT doc_id, lang,
             CAST(CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)
                  % {_DSIR_BUCKETS} AS INT) AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
            FROM documents)
    ),
    raw AS (
      SELECT b, CAST(count(*) AS BIGINT) AS r_b FROM tok GROUP BY b
    ),
    tgt AS (
      SELECT b, CAST(count(*) AS BIGINT) AS t_b
      FROM tok WHERE lang = 'en' GROUP BY b
    ),
    tots AS (
      SELECT CAST(sum(r_b) AS BIGINT) AS rt,
             (SELECT CAST(sum(t_b) AS BIGINT) FROM tgt) AS tt
      FROM raw
    ),
    model AS (
      SELECT raw.b,
             CAST(round(ln(
               (CAST(coalesce(tgt.t_b, 0) + 1 AS DOUBLE)
                 * CAST(tots.rt + {_DSIR_BUCKETS} AS DOUBLE))
               / (CAST(raw.r_b + 1 AS DOUBLE)
                 * CAST(tots.tt + {_DSIR_BUCKETS} AS DOUBLE))
             ) * 1000000) AS BIGINT) AS lr_micro
      FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tots
    ),
    tf AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, b
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf * m.lr_micro) AS BIGINT) AS log_w_micro
      FROM tf JOIN model m ON m.b = tf.b
      GROUP BY tf.doc_id
    )"""


@query(
    "sample_dsir_importance",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT s.doc_id, d.lang, s.log_w_micro
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY s.log_w_micro DESC, s.doc_id
    LIMIT {_DSIR_TOP_K}
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    NeurIPS'23): rank raw-corpus documents by how target-like their
    hashed n-gram profile is.  The target is the ``lang = 'en'``
    slice; features are unigrams hashed into 32 buckets
    (the portable md5 convention), the per-bucket log importance
    ratio uses add-1 smoothing, and a document's log weight is the
    EXACT integer dot product of its bucket term frequencies with
    the micro-rounded log ratios — so the top-k selection (desc
    weight, doc_id tie-break) hash-checks bit-for-bit.

    Scale: the fitted model is a 32-row frame (two
    bucket-keyed partial aggregations over the token stream — the
    hashed featurization means NO vocabulary table at any corpus
    size); scoring is a broadcast join + one doc-keyed partial-agg
    sum; selection is TakeOrderedAndProject, never a global sort.
    The one micro-rounded ``ln`` per bucket follows the
    gov_dp_histogram precedent (ties are measure-zero)."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    from ctgov_ai_etl_spark.functions.text import tokens

    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t")
    ).select(
        "doc_id",
        "lang",
        hash_bucket(F.col("t"), _DSIR_BUCKETS).cast("int").alias("b"),
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
    tf = tok.groupBy("doc_id", "b").agg(
        F.count("*").cast("long").alias("tf")
    )
    scored = (
        tf.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("lr_micro"))
            .cast("long")
            .alias("log_w_micro")
        )
    )
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("log_w_micro").desc(), "doc_id")
        .limit(_DSIR_TOP_K)
        .select("doc_id", "lang", "log_w_micro")
    )


# ------------------------------- rolling-origin time-series CV


_TSCV_CUTS = (
    "1997-01-01",
    "1998-01-01",
    "1999-01-01",
    "2000-01-01",
    "2001-01-01",
)


def _tscv_oracle() -> str:
    parts = []
    for i in range(len(_TSCV_CUTS) - 1):
        lo, hi = _TSCV_CUTS[i], _TSCV_CUTS[i + 1]
        parts.append(f"""
    SELECT CAST({i + 1} AS INT) AS fold,
           '{lo}' AS train_end,
           CAST(count(CASE WHEN o_orderdate < TIMESTAMP '{lo}'
                      THEN 1 END) AS BIGINT) AS n_train,
           CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '{lo}'
                       AND o_orderdate < TIMESTAMP '{hi}'
                      THEN 1 END) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{lo}'
                    THEN CAST(round(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS train_cents
    FROM orders""")
    return "\nUNION ALL\n".join(parts)


@query("split_time_series_cv", oracle=_tscv_oracle())
def split_time_series_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin cross-validation folds (the only CV scheme that
    is honest for forecasting: train on everything BEFORE the cut,
    test on the next horizon — growing window, no leakage): per
    fold, train/test row counts and the exact-cents train revenue
    mass (the growing-window invariant: n_train is monotone in
    fold).

    Engine form: ONE scan of orders — each row is stacked into every
    fold's (fold, role) pair map-side (explode of a literal-bounded
    struct array, the dq_fd_miner single-scan pattern) and a single
    partial-agg shuffle on the 4-row fold frame does all counts.
    The oracle states each fold as its own aggregate and unions
    them.  At 100 TB one pass beats |folds| passes, and the fold
    cuts are plan literals — partition pruning applies to each
    CASE's predicate."""
    o = load_table(spark, sf_dir, "orders")
    arms = []
    for i in range(len(_TSCV_CUTS) - 1):
        lo, hi = _TSCV_CUTS[i], _TSCV_CUTS[i + 1]
        lo_ts = F.lit(lo).cast("timestamp")
        hi_ts = F.lit(hi).cast("timestamp")
        is_train = F.col("o_orderdate") < lo_ts
        is_test = (F.col("o_orderdate") >= lo_ts) & (
            F.col("o_orderdate") < hi_ts
        )
        arms.append(
            F.struct(
                F.lit(i + 1).cast("int").alias("fold"),
                F.lit(lo).alias("train_end"),
                F.when(is_train, 1).otherwise(0).alias("tr"),
                F.when(is_test, 1).otherwise(0).alias("te"),
                F.when(is_train, cents("o_totalprice"))
                .otherwise(0)
                .alias("tc"),
            )
        )
    stacked = o.select(F.explode(F.array(*arms)).alias("x")).select(
        "x.fold", "x.train_end", "x.tr", "x.te", "x.tc"
    )
    return stacked.groupBy("fold", "train_end").agg(
        F.sum("tr").cast("long").alias("n_train"),
        F.sum("te").cast("long").alias("n_test"),
        F.sum("tc").cast("long").alias("train_cents"),
    )


# ------------------------------- column entropy / skew profiler


_ENTROPY_COLS = (
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderyear", "CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR)"),
)


def _entropy_oracle() -> str:
    arms = []
    for name, expr in _ENTROPY_COLS:
        arms.append(f"""
    SELECT '{name}' AS col,
           CAST(sum(n) AS BIGINT) AS n_values,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(round(ln(CAST(sum(n) AS DOUBLE)) * 1000000) AS BIGINT)
             - {sql_fdiv('sum(n * lnn)', 'sum(n)')} AS entropy_micro,
           {sql_fdiv('max(n) * 1000000', 'sum(n)')} AS max_share_ppm
    FROM (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(round(ln(CAST(count(*) AS DOUBLE)) * 1000000)
                      AS BIGINT) AS lnn
          FROM orders GROUP BY {expr}) g""")
    return "\nUNION ALL\n".join(arms)


@query("dq_entropy_profile", oracle=_entropy_oracle())
def dq_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of categorical columns — the
    distribution-shape screen a curation pipeline runs to catch
    collapsed columns (entropy ~ 0: a constant snuck in) and
    near-uniform keys masquerading as categories (entropy ~ ln k).
    Entropy is kept cross-engine exact by micro-rounding each
    group's single ``ln`` and then using only integer sums:
    H = ln(N) - Σ n_i·ln(n_i)/N over micro-units with floor
    division (the gov_dp_histogram ln convention at group level).

    Engine form: ONE scan stacks all profiled columns into a
    (col, val) frame map-side (the dq_fd_miner pattern), one
    partial-agg shuffle to (col, val) counts — a bounded frame
    (Σ column cardinalities) — then a |cols|-row rollup.  The oracle
    states each column as its own aggregate and unions them."""
    o = load_table(spark, sf_dir, "orders")
    stacked = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderyear").alias("col"),
                    F.year("o_orderdate").cast("string").alias("val"),
                ),
            )
        ).alias("x")
    ).select("x.col", "x.val")
    g = stacked.groupBy("col", "val").agg(
        F.count("*").cast("long").alias("n")
    )
    g = g.withColumn(
        "lnn",
        F.round(F.log(F.col("n").cast("double")) * 1_000_000).cast("long"),
    )
    return g.groupBy("col").agg(
        F.sum("n").cast("long").alias("n_values"),
        F.count("*").cast("long").alias("n_distinct"),
        (
            F.round(
                F.log(F.sum("n").cast("double")) * 1_000_000
            ).cast("long")
            - fdiv(F.sum(F.col("n") * F.col("lnn")), F.sum("n"))
        ).alias("entropy_micro"),
        fdiv(F.max("n") * 1_000_000, F.sum("n")).alias("max_share_ppm"),
    )


# ------------------------------- weight-of-evidence / information value


@query(
    "feature_woe_iv",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS neg
      FROM orders GROUP BY o_orderpriority
    ),
    t AS (
      SELECT CAST(sum(pos) AS BIGINT) AS tp,
             CAST(sum(neg) AS BIGINT) AS tn
      FROM g
    ),
    w AS (
      SELECT grp, pos, neg, tp, tn,
             CAST(round(ln(CAST(pos * tn AS DOUBLE)
                           / CAST(neg * tp AS DOUBLE)) * 1000000)
                  AS BIGINT) AS woe_micro
      FROM g CROSS JOIN t
    )
    SELECT grp, pos, neg, woe_micro,
           {sql_fdiv('(pos * tn - neg * tp) * woe_micro', 'tp * tn')}
             AS iv_contrib_micro
    FROM w
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information-value screening
    (the credit-scoring / risk-model standard for categorical
    features): per feature group, WOE = ln[(pos_g/POS)/(neg_g/NEG)]
    as one micro-rounded ln of an exact integer cross-ratio, and the
    group's IV contribution (pos share − neg share)·WOE as exact
    integer micro-units via floor division — both bit-replayable.

    Scale: one data-scale partial-agg groupBy to the group frame
    (feature cardinality), a 1-row total broadcast, map-side algebra
    — the same sufficient-statistics contract as
    ml_logistic_histogram: encoders fit on counts, not rows."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        )
        .cast("long")
        .alias("pos"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 0).otherwise(1)
        )
        .cast("long")
        .alias("neg"),
    )
    t = g.agg(
        F.sum("pos").cast("long").alias("tp"),
        F.sum("neg").cast("long").alias("tn"),
    )
    w = g.crossJoin(F.broadcast(t)).withColumn(
        "woe_micro",
        F.round(
            F.log(
                (F.col("pos") * F.col("tn")).cast("double")
                / (F.col("neg") * F.col("tp")).cast("double")
            )
            * 1_000_000
        ).cast("long"),
    )
    return w.select(
        "grp",
        "pos",
        "neg",
        "woe_micro",
        fdiv(
            (F.col("pos") * F.col("tn") - F.col("neg") * F.col("tp"))
            * F.col("woe_micro"),
            F.col("tp") * F.col("tn"),
        ).alias("iv_contrib_micro"),
    )


# --------------------------- Neyman-optimal stratified allocation


_NEYMAN_TOTAL = 500


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH v AS (
      SELECT o_orderkey, o_orderpriority AS grp,
             {sql_fdiv('CAST(round(o_totalprice * 100) AS BIGINT)',
                       '100')} AS v
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS q
      FROM v GROUP BY grp
    ),
    sd AS (
      SELECT grp, nh,
             CAST(round(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s
                              / nh) / nh) * 1000) AS BIGINT) AS sd_milli
      FROM g
    ),
    alloc AS (
      SELECT grp, nh, sd_milli,
             {sql_fdiv(f'{_NEYMAN_TOTAL} * nh * sd_milli',
                       '(SELECT sum(nh * sd_milli) FROM sd)')} AS n_target
      FROM sd
    ),
    admitted AS (
      SELECT v.grp, count(*) AS n_sampled
      FROM v JOIN alloc a ON a.grp = v.grp
      WHERE CAST(CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                1, 8)) AS BIGINT) % 1000000 AS BIGINT)
            < {sql_fdiv('a.n_target * 1000000', 'a.nh')}
      GROUP BY v.grp
    )
    SELECT a.grp, a.nh, a.sd_milli, a.n_target,
           CAST(coalesce(ad.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM alloc a LEFT JOIN admitted ad ON ad.grp = a.grp
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling: allocate a fixed audit
    budget (500 rows) across strata proportionally to
    N_h·σ_h — the textbook variance-minimizing design — then ADMIT
    rows with the portable md5 rate gate at each stratum's computed
    rate.  σ_h is one milli-rounded sqrt of exact integer moments
    (IEEE sqrt is correctly rounded, so it is bit-identical across
    engines — unlike ln/exp it needs no measure-zero caveat);
    everything else is exact integer floor division, including the
    realized per-stratum sample counts.

    Scale: the design is fitted from one partial-agg groupBy
    (sufficient statistics, as stat_anova_f); admission is map-side
    hash arithmetic against the broadcast 5-row allocation — no
    second shuffle, reproducible under any partitioning (the
    hash_bucket contract)."""
    from ctgov_ai_etl_spark.operators.sketches import portable_hash60

    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        fdiv(cents("o_totalprice"), F.lit(100)).alias("v"),
    )
    g = v.groupBy("grp").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q"),
    )
    sd = g.select(
        "grp",
        "nh",
        F.round(
            F.sqrt(
                (
                    F.col("q").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("nh")
                )
                / F.col("nh")
            )
            * 1000
        )
        .cast("long")
        .alias("sd_milli"),
    )
    tot = sd.agg(
        F.sum(F.col("nh") * F.col("sd_milli")).cast("long").alias("w")
    )
    alloc = sd.crossJoin(F.broadcast(tot)).select(
        "grp",
        "nh",
        "sd_milli",
        fdiv(
            F.lit(_NEYMAN_TOTAL) * F.col("nh") * F.col("sd_milli"),
            F.col("w"),
        ).alias("n_target"),
    )
    rate_gate = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    admitted = (
        v.join(F.broadcast(alloc), "grp")
        .filter(
            rate_gate
            < fdiv(F.col("n_target") * 1_000_000, F.col("nh"))
        )
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("n_sampled"))
    )
    return alloc.join(admitted, "grp", "left").select(
        "grp",
        "nh",
        "sd_milli",
        "n_target",
        F.coalesce(F.col("n_sampled"), F.lit(0))
        .cast("long")
        .alias("n_sampled"),
    )
