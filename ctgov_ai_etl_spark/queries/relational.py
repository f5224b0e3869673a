"""Relational core: scans, filters, projections, joins, aggregations,
set operations (SURVEY.md §2.3 tables 1-3, 6).

Scale notes baked into each query:
- Filters/projections are plain Catalyst expressions → parquet
  pushdown + column pruning for free (verified in tools/explain_audit).
- Dimension joins broadcast explicitly (region/nation/supplier are
  tiny at any SF); fact-fact joins shuffle on the join key and rely
  on AQE for skew handling.
- Money aggregates use exact integer-cents (functions/exact.py) so
  results are partition-order independent — i.e. stable under any
  cluster layout, not just bit-matching the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.exact import (
    avg_money,
    cents,
    sql_avg_money,
    sql_sum_money,
    sum_money,
)
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table


# --------------------------------------------------------------- scans

@query(
    "scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-06-01' AND l_discount > 0.05
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with projection + predicate.

    Both the filter and the 3-column projection reach the parquet
    reader (PushedFilters / ReadSchema in the physical plan), so at
    100 TB this scans only the row groups and columns it needs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@query(
    "proj_rename_nested",
    oracle="""
    SELECT c_custkey AS custkey,
           upper(c_name) AS name_upper,
           CAST(length(c_mktsegment) AS INT) AS seg_len,
           coalesce(NULLIF(c_mktsegment, 'BUILDING'), 'N/A') AS seg_or_na
    FROM customer
    """,
)
def proj_rename_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename + sentinel null-coalesce (reference R5 style:
    /root/reference/etl.py:192-215 defaults missing fields to 'N/A')."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.length("c_mktsegment").alias("seg_len"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("N/A")).alias(
            "seg_or_na"
        ),
    )


@query(
    "filter_in_set",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-set filter (reference R9 tuning-set semi-filter,
    /root/reference/etl.py:366-378; broadcast semi-join at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", "o_orderpriority"
    )


@query(
    "filter_range_bool",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE (o_orderdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1995-12-31')
      AND (o_orderstatus = 'F' OR o_totalprice > 150000.0)
      AND NOT (o_orderpriority = '5-LOW')
    """,
)
def filter_range_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive range + boolean combinators (Essie AREA[..]RANGE /
    AND/OR/parentheses — SURVEY.md §2.2)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderdate").between("1994-01-01", "1995-12-31")
        & ((F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 150000.0))
        & ~(F.col("o_orderpriority") == "5-LOW")
    ).select("o_orderkey", "o_totalprice")


@query(
    "filter_like_regex",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type LIKE '%MED%' OR regexp_matches(p_name, '^s.*o$')
    """,
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text containment + regex filter (Essie SEARCH[Study] baseline).

    Predicates target values the synthetic fixture actually contains
    (MEDIUM types, 's…o' names like 'small gizmo') so the filter is
    exercised with real survivors at every SF — the original
    TPC-H-style '%BRASS%' matched nothing here and made this a
    0-row green (weak evidence)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%MED%") | F.col("p_name").rlike("^s.*o$")
    ).select("p_partkey", "p_name", "p_type")


@query(
    "when_otherwise_buckets",
    oracle="""
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS qty_band,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1
    """,
)
def when_otherwise_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression (reference R6 start_year guard style)."""
    li = load_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
    )
    return li.groupBy(band.alias("qty_band")).agg(F.count("*").alias("n"))


@query(
    "inline_values_table",
    oracle="""
    SELECT band, lo FROM (VALUES ('small', 0.0), ('mid', 50000.0), ('big', 150000.0))
      AS t(band, lo)
    """,
)
def inline_values_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory table from driver rows (reference R2 fallback path)."""
    return spark.createDataFrame(
        [("small", 0.0), ("mid", 50000.0), ("big", 150000.0)], "band string, lo double"
    )


# --------------------------------------------------------------- joins

@query(
    "join_inner_equi",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           {sql_sum_money('l_extendedprice')} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact inner equi-join.

    Shuffles both sides on the join key; AQE picks sort-merge vs
    shuffled-hash at runtime and splits skewed partitions.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            sum_money("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "join_left_outer",
    oracle=f"""
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_big_orders,
           {sql_sum_money('o.o_totalprice')} AS spend
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000.0) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no matching orders
    (count over the null side = 0, sum = NULL)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            sum_money("o_totalprice").alias("spend"),
        )
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT o_orderkey, c_name
    FROM customer c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey AND c.c_acctbal > 9000.0
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join with a join-side predicate (kept in the ON
    clause, so non-matching right rows survive with nulls)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (c.c_acctbal > 9000.0), "right"
    ).select("o_orderkey", "c_name")


@query(
    "join_full_outer",
    oracle="""
    WITH s AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
               FROM supplier GROUP BY 1),
         c AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
               FROM customer GROUP BY 1)
    SELECT coalesce(s.nk, c.nk) AS nationkey, s.n_supp, c.n_cust
    FROM s FULL JOIN c ON s.nk = c.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregated sides."""
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    return s.join(c, s.nk == c.nk, "full").select(
        F.coalesce(s.nk, c.nk).alias("nationkey"), "n_supp", "n_cust"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS; reference R9's isin at scale —
    /root/reference/etl.py:372)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "merge_upsert_orders",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 < 5
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 >= 95
    )
    SELECT * FROM upd
    UNION ALL
    SELECT t.* FROM orders t
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed merge (SCD-1 upsert): a derived update batch (5% status
    overwrites + 5% key-shifted inserts) applied to orders via
    anti-join ∪ updates — the copy-on-write MERGE INTO shape
    (operators/merge.py; the reference has no incremental path, it
    re-extracts the world per run, etl.py:505-518)."""
    from ctgov_ai_etl_spark.operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    upd_mod = o.filter(F.col("o_orderkey") % 100 < 5).withColumn(
        "o_orderstatus", F.lit("X")
    )
    upd_new = o.filter(F.col("o_orderkey") % 100 >= 95).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1_000_000_000
    )
    return merge_upsert(o, upd_mod.unionByName(upd_new), ["o_orderkey"])


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH oldsnap AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 97 <> 3
    ),
    newsnap AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 11 = 0 THEN 1000 ELSE 0 END AS price_cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 89 <> 7
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.price_cents AS old_price_cents, o.status AS old_status,
           n.price_cents AS new_price_cents, n.status AS new_status
    FROM oldsnap o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.price_cents IS DISTINCT FROM n.price_cents
       OR o.status IS DISTINCT FROM n.status
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture feed between two derived snapshots of
    ``orders`` (operators/merge.py:snapshot_diff): modulo-selected
    inserts (keys absent from the old snapshot), deletes (absent from
    the new), and price updates (+1000 cents on every 11th key) come
    out as one I/D/U row each from a single full-outer join on the
    key; unchanged keys are dropped.  The shape every
    snapshot-to-snapshot incremental pipeline needs when the source
    has no native change feed (the reference re-extracts the world
    per run, etl.py:505-518)."""
    from ctgov_ai_etl_spark.operators.merge import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
        F.col("o_orderstatus").alias("status"),
    )
    old = o.filter(F.col("o_orderkey") % 97 != 3)
    new = o.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "price_cents",
        F.col("price_cents")
        + F.when(F.col("o_orderkey") % 11 == 0, F.lit(1000)).otherwise(F.lit(0)),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["price_cents", "status"])


@query(
    "incremental_agg_refresh",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                    + CASE WHEN o_orderkey % 11 = 0 THEN 1000 ELSE 0 END)
             AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 89 <> 7
    GROUP BY o_custkey
    """,
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh
    (operators/merge.py:refresh_count_sum): the per-customer
    count+sum state computed on the OLD snapshot is advanced to the
    new snapshot using ONLY the CDC feed (cdc_snapshot_diff's
    snapshots) — retraction/addition deltas per changed key, one
    aggregation of the feed, one keyed merge into state.  The oracle
    recomputes the aggregate directly from the new snapshot, so a
    hash match PROVES the delta algebra equals the full recompute —
    while the incremental path's cost is delta-sized, not
    base-table-sized (the 100 TB nightly-rollup shape)."""
    from ctgov_ai_etl_spark.operators.merge import refresh_count_sum, snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        cents("o_totalprice").alias("price_cents"),
    )
    old = o.filter(F.col("o_orderkey") % 97 != 3)
    new = o.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "price_cents",
        F.col("price_cents")
        + F.when(F.col("o_orderkey") % 11 == 0, F.lit(1000)).otherwise(F.lit(0)),
    )
    state = old.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n"), F.sum("price_cents").alias("s")
    )
    feed = snapshot_diff(old, new, ["o_orderkey"], ["price_cents", "o_custkey"])
    refreshed = refresh_count_sum(
        state,
        feed,
        old_key="old_o_custkey",
        new_key="new_o_custkey",
        old_val="old_price_cents",
        new_val="new_price_cents",
    )
    return refreshed.select(
        F.col("k").alias("o_custkey"),
        F.col("n").alias("n_orders"),
        F.col("s").alias("sum_cents"),
    )


@query(
    "cdc_time_travel",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             + CASE WHEN o_orderkey % 11 = 0 THEN 1000 ELSE 0 END
             + CASE WHEN o_orderkey % 13 = 0 THEN 500 ELSE 0 END AS price_cents,
           CASE WHEN o_orderkey % 13 = 0 THEN 'Z' ELSE o_orderstatus END AS status
    FROM orders
    WHERE o_orderkey % 89 <> 7 AND o_orderkey % 83 <> 5
    """,
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of-version read (operators/merge.py:time_travel): a
    three-version history of ``orders`` — v0 (the cdc_snapshot_diff
    base), v1 (its target: 2 deleted-key families restored/removed,
    +1000 cents on every 11th key), v2 (every 83rd key deleted,
    every 13th repriced +500 and restatused 'Z') — is stored as the
    v0 snapshot plus two :func:`snapshot_diff` change feeds, and the
    query reads *version 2* purely by replaying the feeds over v0.

    The oracle computes v2 directly from the base table, so a hash
    match proves diff-then-apply is lossless across a multi-version
    chain (inserts, deletes, and updates all round-trip) — the
    property that lets a 100 TB table keep one full snapshot plus
    delta-sized feeds instead of a snapshot per version.  Each replay
    step is one anti-join against a broadcastable delta; nothing
    rescans the base twice.  (The reference re-extracts the world per
    run and keeps no history at all, /root/reference/etl.py:505-518.)
    """
    from ctgov_ai_etl_spark.operators.merge import snapshot_diff, time_travel

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
        F.col("o_orderstatus").alias("status"),
    )
    v0 = o.filter(F.col("o_orderkey") % 97 != 3)
    v1 = o.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "price_cents",
        F.col("price_cents")
        + F.when(F.col("o_orderkey") % 11 == 0, F.lit(1000)).otherwise(F.lit(0)),
    )
    v2 = (
        v1.filter(F.col("o_orderkey") % 83 != 5)
        .withColumn(
            "price_cents",
            F.col("price_cents")
            + F.when(F.col("o_orderkey") % 13 == 0, F.lit(500)).otherwise(F.lit(0)),
        )
        .withColumn(
            "status",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("Z")).otherwise(
                F.col("status")
            ),
        )
    )
    keys, cols = ["o_orderkey"], ["price_cents", "status"]
    feeds = [snapshot_diff(v0, v1, keys, cols), snapshot_diff(v1, v2, keys, cols)]
    return time_travel(v0, feeds, keys, cols, version=2)


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS; complement split of reference R9 —
    /root/reference/etl.py:373)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (tiny dims only — the similarity brute-force baseline
    uses the same shape with pre-bucketing at scale)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_broadcast_star",
    oracle=f"""
    SELECT r_name,
           {sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact tables shuffle once on o_orderkey; the
    three dimension hops are explicit broadcasts (customer/nation/
    region are small at every SF), so no extra shuffle stages."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            sum_money(revenue).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_range_nonequi",
    oracle="""
    SELECT b.band, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN (VALUES ('small', 0.0, 100000.0),
                 ('mid', 100000.0, 250000.0),
                 ('big', 250000.0, 1e18)) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range) join against a broadcast band table — the
    broadcast-nested-loop stays cheap because the band side is tiny."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("mid", 100000.0, 250000.0), ("big", 250000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user
    at or before it.

    Spark lacks a native ASOF join; the scalable formulation is a
    single shuffle on user_id + one window pass (union trick): tag
    both event kinds, sort within user by ts, and carry the last
    click timestamp forward with last(ignorenulls) over a range frame
    — O(n log n) per key, no range-join explosion.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "last_click_ts")
    )


# --------------------------------------------------------- aggregations

@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_money('l_quantity')} AS sum_qty,
           {sql_sum_money('l_extendedprice')} AS sum_base_price,
           {sql_sum_money('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_sum_money('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_avg_money('l_quantity')} AS avg_qty,
           {sql_avg_money('l_extendedprice')} AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: multi-aggregate hash aggregation
    with map-side partial aggregation (Spark does partial+final
    automatically — the shuffle carries one row per group per task)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_money("l_quantity").alias("sum_qty"),
        sum_money("l_extendedprice").alias("sum_base_price"),
        sum_money(disc_price).alias("sum_disc_price"),
        sum_money(charge).alias("sum_charge"),
        avg_money("l_quantity").alias("avg_qty"),
        avg_money("l_extendedprice").alias("avg_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregation (Catalyst expands
    to a single multi-distinct plan)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           true AS within_3rsd
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct.  The sketch value itself has
    no SQL mirror, so the hash-checked contract is (exact distinct,
    approx-within-3·rsd boolean): the oracle recomputes the exact count
    and asserts the bound held — deterministic because Spark's HLL++ is
    seed-fixed for a given input."""
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=rsd).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
    return agg.select(
        "l_returnflag", "exact_parts", (err <= 3 * rsd).alias("within_3rsd")
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           {sql_sum_money('c_acctbal')} AS total_acctbal,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        sum_money("c_acctbal").alias("total_acctbal"), F.count("*").alias("n")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two grouping dimensions."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as
    the DataFrame rollup/cube family)."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "agg_grouping_sets_multi",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
      FROM orders
    )
    SELECT o_orderstatus, o_orderpriority, o_year,
           CAST(GROUPING(o_orderstatus) * 4 + GROUPING(o_orderpriority) * 2
                + GROUPING(o_year) AS BIGINT) AS grouping_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_price
    FROM base
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus, o_year),
                            (o_orderpriority),
                            ())
    """,
)
def agg_grouping_sets_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-dimension GROUPING SETS via the MULTI-PASS strategy
    (operators/rollup.py:grouping_sets_multipass): 3 dims x 4 sets
    computed as ONE finest-cuboid aggregation over the fact table plus
    4 re-aggregations of the tiny cuboid — instead of the native plan's
    Expand node, which would replicate every fact row x4 BEFORE the
    shuffle (400 TB shuffled at the 100 TB scale; see SCALE.md).
    Distributive measures only (count merges as sum-of-counts, money
    sums merge in exact integer cents); the grouping_id bitmask
    disambiguates subtotal NULLs from data NULLs with Spark's own
    grouping_id() convention, mirrored by DuckDB's GROUPING()."""
    from ctgov_ai_etl_spark.operators.rollup import (
        Measure,
        grouping_sets_multipass,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("o_year"),
        "o_totalprice",
    )
    out = grouping_sets_multipass(
        o,
        dims=["o_orderstatus", "o_orderpriority", "o_year"],
        sets=[
            ["o_orderstatus", "o_orderpriority"],
            ["o_orderstatus", "o_year"],
            ["o_orderpriority"],
            [],
        ],
        measures=[
            Measure("n", F.count("*").cast("long"), "sum"),
            Measure("total_cents", F.sum(cents("o_totalprice")), "sum"),
        ],
    )
    return out.select(
        "o_orderstatus",
        "o_orderpriority",
        "o_year",
        "grouping_id",
        "n",
        (F.col("total_cents").cast("double") / 100).alias("total_price"),
    )


@query(
    "agg_filtered_conditional",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           {sql_sum_money("CASE WHEN o_totalprice > 100000.0 THEN o_totalprice ELSE 0 END")} AS big_spend,
           CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' THEN 1 END) AS BIGINT) AS n_recent
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation (reference R16 counters —
    /root/reference/etl.py:390-421 — as declarative aggregates)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        sum_money(
            F.when(F.col("o_totalprice") > 100000.0, F.col("o_totalprice")).otherwise(0.0)
        ).alias("big_spend"),
        F.count(
            F.when(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"), 1)
        ).alias("n_recent"),
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set rendered order-stable (sorted, joined) so the result
    is deterministic regardless of partition layout."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        )
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           {sql_sum_money('l_extendedprice')} AS total_price,
           {sql_avg_money('l_quantity')} AS avg_qty,
           CAST(min(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(max(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (keyless) aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        sum_money("l_extendedprice").alias("total_price"),
        avg_money("l_quantity").alias("avg_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


# ------------------------------------------------- sorts / limits / sets

@query(
    "sort_limit_deterministic",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def sort_limit_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K via global sort + limit (Spark plans TakeOrderedAndProject
    — no full sort materialization). Tie-broken on the unique key so
    the result is deterministic (SURVEY.md §7 'positional limit')."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(25)
    )


@query(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_orderdate
    FROM orders
    ORDER BY o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT + OFFSET over a total order (reference R8's positional
    slice semantics made deterministic — /root/reference/etl.py:355-364)."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").select("o_orderkey", "o_orderdate").offset(40).limit(20)


@query(
    "sort_nulls_ordering",
    oracle="""
    SELECT c_custkey, band FROM (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS band
      FROM customer
    ) t
    ORDER BY band ASC NULLS FIRST, c_custkey DESC
    LIMIT 30
    """,
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null ordering."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("band")
        )
        .orderBy(F.col("band").asc_nulls_first(), F.col("c_custkey").desc())
        .limit(30)
    )


@query(
    "set_union_all",
    oracle="""
    SELECT o_orderkey AS k, 'urgent' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey AS k, 'big' AS tag FROM orders WHERE o_totalprice > 250000.0
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (reference R4 page-concat / R15 processed∪remainder —
    /root/reference/etl.py:131,409-414)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k"), F.lit("urgent").alias("tag")
    )
    b = o.filter(F.col("o_totalprice") > 250000.0).select(
        F.col("o_orderkey").alias("k"), F.lit("big").alias("tag")
    )
    return a.unionByName(b)


@query(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 250000.0).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics — multiplicity-aware difference)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b)


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projection (exact dedup on all columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           true AS within_5pct
    FROM lineitem
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL):
    each half of the fact table builds its own hll_sketch_agg, the
    binary sketches union with hll_union_agg, and the merged estimate
    is checked against the exact global distinct — the pre-aggregate-
    per-partition / merge-at-query-time pattern that lets a 100 TB
    pipeline keep per-day sketches and answer any date-range distinct
    count without rescanning (approx_count_distinct's HLL++ can't be
    re-merged once finalized).  Oracle contract mirrors
    agg_approx_count_distinct: (exact, bound-held boolean)."""
    li = load_table(spark, sf_dir, "lineitem")
    halves = li.withColumn("half", (F.col("l_linenumber") % 2).cast("int"))
    sketches = halves.groupBy("half").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    err = F.abs(F.col("est") - F.col("exact_parts")) / F.col("exact_parts")
    return exact.crossJoin(merged).select(
        "exact_parts", (err <= 0.05).alias("within_5pct")
    )


@query(
    "join_interval_binned",
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
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL (point-in-range) join via bin banding
    (operators/intervals.py): purchases inside a 10-minute incident
    window after every error event.  The naive non-equi condition
    plans as BroadcastNestedLoopJoin — O(|points| x |intervals|) with
    a forced whole-side broadcast, the first thing that dies at
    100 TB.  Banding rewrites it: intervals explode into the <= 2
    10-minute bins they cover, points carry their single bin, and the
    join is an EQUI-join on the bin key (shuffle-partitionable,
    AQE-skew-splittable) with the exact lo <= ts < hi re-check as a
    residual filter.  The oracle runs the naive theta join — same
    pairs, different physical plan.  tools/explain_audit.py asserts the
    equi-join (no BNLJ node) on the Spark side."""
    from ctgov_ai_etl_spark.operators.intervals import interval_point_join

    ev = load_table(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    points = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return interval_point_join(
        points, intervals, "purchase_ts", "lo", "hi", bin_seconds=600
    ).select("incident_id", "purchase_id", "purchase_ts")


@query(
    "feature_target_encode_loo",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CASE WHEN a.n > 1
                THEN round(CAST(a.s - CAST(round(o.o_totalprice * 100)
                                           AS BIGINT) AS DOUBLE)
                           / ((a.n - 1) * 100), 6)
           END AS loo_price
    FROM orders o JOIN agg a USING (o_orderpriority)
    """,
)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the standard high-cardinality
    categorical feature for tabular training data, computed without
    leakage: each row's encoding is its category's target mean
    EXCLUDING the row itself ((sum - x) / (n - 1)), so the feature
    never contains the row's own label.  Singleton categories encode
    NULL (no peers to average).  Exactness: integer-cents sums make
    (s - x) exact int64; one broadcast-joined category aggregate —
    two narrow shuffles at any scale, no window, no per-row
    recomputation of the fold."""
    o = load_table(spark, sf_dir, "orders")
    v = cents("o_totalprice")
    agg = o.groupBy("o_orderpriority").agg(
        F.sum(v).alias("s"), F.count("*").cast("long").alias("n")
    )
    j = o.select("o_orderkey", "o_orderpriority", v.alias("v")).join(
        F.broadcast(agg), "o_orderpriority"
    )
    loo = F.round(
        (F.col("s") - F.col("v")).cast("double") / ((F.col("n") - 1) * 100), 6
    )
    return j.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("n") > 1, loo).alias("loo_price"),
    )


@query(
    "agg_histogram_fixed",
    oracle="""
    WITH b AS (
      SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 2500000, 19)
               AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket,
           round(bucket * 25000.0, 2) AS lo_dollars,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (25k-dollar bands, top band open) — the
    mergeable distribution summary dashboards and drift monitors keep
    per shard: bucket counts ADD across partitions/days, unlike
    quantiles.  Bucket arithmetic is exact integer cents with
    pmod-subtraction floor division (float division could flip a
    boundary cent); at 100 TB this is one partially-aggregated
    groupBy over <= 20 distinct keys — essentially free."""
    o = load_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    bucket = F.least(
        ((c - F.pmod(c, F.lit(2_500_000))) / F.lit(2_500_000)).cast("long"),
        F.lit(19),
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.round(F.col("bucket") * 25000.0, 2).alias("lo_dollars"),
            "n",
        )
    )


@query(
    "join_interval_overlap",
    oracle="""
    SELECT a.event_id AS incident_id, b.event_id AS signup_id
    FROM (SELECT event_id, ts AS a_lo, ts + INTERVAL 10 MINUTE AS a_hi
          FROM events WHERE event_type = 'error') a
    JOIN (SELECT event_id, ts AS b_lo, ts + INTERVAL 10 MINUTE AS b_hi
          FROM events WHERE event_type = 'signup') b
      ON a.a_lo < b.b_hi AND b.b_lo < a.a_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL x INTERVAL overlap join via bin banding
    (operators/intervals.py interval_overlap_join): error windows
    overlapping signup windows.  Beyond the point-join banding, the
    pair-emitted-once trick: a pair qualifies only in the bin of
    max(lo_a, lo_b) — the first bin both cover — so the equi-join
    needs NO dropDuplicates shuffle behind it.  The oracle runs the
    naive theta join; same pairs, nested-loop-free physical plan."""
    from ctgov_ai_etl_spark.operators.intervals import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("a_lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("a_hi"),
    )
    b = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("b_lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("b_hi"),
    )
    return interval_overlap_join(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", bin_seconds=600
    ).select("incident_id", "signup_id")


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counted AS (
      SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                   ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counted
    )
    WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (most frequent value) per group with a DETERMINISTIC
    tie-break — F.mode() leaves ties partitioning-dependent, which is
    exactly the kind of silent nondeterminism a replayable pipeline
    cannot ship.  Shape: one partially-aggregated (group, value)
    count, then a row_number window over the aggregated counts
    (cardinality = distinct (group, value), not the fact table) —
    the window never sees raw rows."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


@query(
    "agg_corr_exact",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT))
               AS sx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT))
               AS sy,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)
                 * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr_qty_price
    FROM m
    WHERE n * sxx > sx * sx AND n * syy > sy * sy
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Pearson correlation per group — F.corr's streaming-update
    float accumulation is partition-order dependent (re-running on a
    repartitioned table flips low bits; a hash-checked pipeline cannot
    ship that).  Instead: five exact integer-cents moments
    (n, Σx, Σy, Σx², Σy², Σxy) in decimal(38,0)/HUGEINT — associative
    and commutative, so ANY partitioning and merge order produces the
    identical integers — then one IEEE formula at the end, replayed
    bit-for-bit by the oracle.  One partially-aggregated shuffle of
    six numbers per group at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    xd = x.cast("decimal(38,0)")
    yd = y.cast("decimal(38,0)")
    m = li.select(
        "l_returnflag", x.alias("x"), y.alias("y"), xd.alias("xd"), yd.alias("yd")
    ).groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xd").alias("sx"),
        F.sum("yd").alias("sy"),
        F.sum(F.col("xd") * F.col("x")).alias("sxx"),
        F.sum(F.col("yd") * F.col("y")).alias("syy"),
        F.sum(F.col("xd") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter((vx > 0) & (vy > 0))
        .select(
            "l_returnflag",
            "n",
            F.round(
                cov.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            ).alias("corr_qty_price"),
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.ts,
           CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 1 HOUR
                THEN c.ts END AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a LOOKBACK TOLERANCE — the attribution form
    ("credit the last click, but only within the hour"): the match is
    the latest same-user click at or before the purchase, nulled when
    it is staler than the tolerance.  Same single-shuffle union trick
    as join_asof (tag both event kinds, one window carries the last
    click forward), plus a map-side tolerance mask — the tolerance
    adds ZERO shuffles.  DuckDB has no native tolerance either; the
    oracle post-filters its ASOF result identically."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
    )
    # RANGE frame (same as join_asof): peers share the frame, so a
    # click at the purchase's exact timestamp is visible (>= semantics)
    # without a tie-break column.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_click"), F.col("ts")), ignorenulls=True).over(w),
    )
    # exact integer microseconds: second-truncated casts would pass a
    # click 3600.5 s stale that the oracle's interval comparison rejects
    tol = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_click_ts"))
        <= 3_600_000_000
    )
    return (
        carried.filter(~F.col("is_click"))
        .select(
            "event_id",
            "ts",
            F.when(
                F.col("last_click_ts").isNotNull() & tol, F.col("last_click_ts")
            ).alias("last_click_ts"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH d AS (
      SELECT doc_id, nullif(lang, 'de') AS lang_key FROM documents
    ),
    dim(lang_key, label) AS (
      VALUES ('en', 'english'), ('fr', 'french'), (NULL, 'unknown')
    )
    SELECT d.doc_id, d.lang_key, dim.label
    FROM d JOIN dim ON d.lang_key IS NOT DISTINCT FROM dim.lang_key
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH the dimension's NULL row instead of silently dropping — the
    semantics a sentinel-mapping dimension ('unknown' bucket for
    unclassified rows) actually needs, where ordinary equality would
    discard every unclassified fact row.  The fixture has no physical
    NULLs, so the key derives via nullif (both engines identically).
    Null-safe equality is a hashable join key in Spark — this plans
    as a broadcast/hash equi-join, NOT a nested loop, so the 'unknown'
    bucket costs nothing at scale."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.nullif(F.col("lang"), F.lit("de")).alias("lang_key")
    )
    dim = spark.createDataFrame(
        [("en", "english"), ("fr", "french"), (None, "unknown")],
        "lang_key string, label string",
    )
    return d.join(
        F.broadcast(dim), d["lang_key"].eqNullSafe(dim["lang_key"])
    ).select(d["doc_id"], d["lang_key"], dim["label"])


@query(
    "join_asof_nearest",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      FROM events
      WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    marked AS (
      SELECT user_id, event_id, us, event_type,
             last_value(CASE WHEN event_type = 'click' THEN us END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_click_us,
             first_value(CASE WHEN event_type = 'click' THEN us END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_click_us
      FROM ev
    )
    SELECT user_id, event_id,
           CAST(CASE
             WHEN prev_click_us IS NULL THEN next_click_us
             WHEN next_click_us IS NULL THEN prev_click_us
             WHEN us - prev_click_us <= next_click_us - us
               THEN prev_click_us
             ELSE next_click_us
           END AS BIGINT) AS nearest_click_us,
           CAST(CASE
             WHEN prev_click_us IS NULL THEN next_click_us - us
             WHEN next_click_us IS NULL THEN us - prev_click_us
             ELSE least(us - prev_click_us, next_click_us - us)
           END AS BIGINT) AS gap_us
    FROM marked
    WHERE event_type = 'purchase'
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (bidirectional): each purchase pairs with
    the temporally closest click of the same user — before OR after —
    with ties resolved toward the earlier click.  Completes the as-of
    family (backward join_asof, toleranced join_asof_tolerance): the
    sensor-alignment shape where 'latest before' is wrong half the
    time.

    Scale story: the union trick again, but with BOTH a backward
    carry (last click ≤ t) and a forward carry (first click ≥ t) on
    the SAME user_id exchange and sort — two frame directions over
    one window spec, so nearest-of-two is a row-local least().  No
    range-join explosion, exact int64 microsecond arithmetic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    us = F.unix_micros("ts")
    base = ev.select(
        "user_id", "event_id", us.alias("us"), "event_type"
    )
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    wb = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    marked = base.select(
        "user_id",
        "event_id",
        "us",
        "event_type",
        F.last(click_us, ignorenulls=True).over(wb).alias("prev_click_us"),
        F.first(click_us, ignorenulls=True).over(wf).alias("next_click_us"),
    )
    prev_gap = F.col("us") - F.col("prev_click_us")
    next_gap = F.col("next_click_us") - F.col("us")
    return marked.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.when(F.col("prev_click_us").isNull(), F.col("next_click_us"))
        .when(F.col("next_click_us").isNull(), F.col("prev_click_us"))
        .when(prev_gap <= next_gap, F.col("prev_click_us"))
        .otherwise(F.col("next_click_us"))
        .cast("long")
        .alias("nearest_click_us"),
        F.when(F.col("prev_click_us").isNull(), next_gap)
        .when(F.col("next_click_us").isNull(), prev_gap)
        .otherwise(F.least(prev_gap, next_gap))
        .cast("long")
        .alias("gap_us"),
    )


# ------------------------------------------- array-overlap join


@query(
    "join_array_overlap",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             -- [1:3] is INCLUSIVE in DuckDB (3 elements, matching
             -- Spark's slice(arr, 1, 3))
             list_distinct(string_split(text, ' ')[1:3]) AS tags
      FROM documents WHERE doc_id < 500
    ),
    ex AS (
      SELECT doc_id, unnest(tags) AS tag FROM tagged
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ex a JOIN ex b ON a.tag = b.tag AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def join_array_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-VALUED JOIN on overlapping tag arrays (match documents
    sharing >= 2 tags) — expressed the way it survives 100 TB: NOT
    `arrays_overlap` as a theta-join predicate (which plans as a
    cartesian), but explode-both-sides -> one EQUALITY shuffle on the
    tag -> pair aggregation with the overlap threshold as a HAVING.
    Shared tags count once each (tags are de-duplicated per doc
    first), each qualifying pair aggregates from its shared-tag rows,
    and skew is bounded by per-tag document frequency (a stopword-ish
    hub tag fans out like any hot join key — salt or filter by df at
    real scale; here the slice cap documents the demo bound)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    tagged = d.select(
        "doc_id",
        F.array_distinct(F.slice(F.split("text", " "), 1, 3)).alias("tags"),
    )
    ex = tagged.select("doc_id", F.explode("tags").alias("tag"))
    a = ex.select(F.col("doc_id").alias("a"), "tag")
    b = ex.select(F.col("doc_id").alias("b"), "tag")
    return (
        a.join(b, "tag")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
