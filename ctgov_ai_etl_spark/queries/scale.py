"""Scale-mechanics queries: skew salting, partition-pruned scans.

The salted operators must be result-identical to their naive forms —
the oracles run the NAIVE form, so any salting bug is a hash
mismatch, and tools/explain_audit.py asserts the redistributed shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators import cache
from ctgov_ai_etl_spark.operators.skew import salted_agg_sum_count, salted_join
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_measure,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a 3-value (maximally hot) key
    — result-identical to the plain GROUP BY the oracle runs; the hot
    key's rows spread over 8 reducers instead of 1."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return salted_agg_sum_count(
        li, "l_returnflag", cents, unique_col="l_orderkey", n_salts=8
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, flag_name
    FROM lineitem
    JOIN (VALUES ('A', 'returned'), ('N', 'kept'), ('R', 'refunded'))
      AS d(l_returnflag, flag_name)
      USING (l_returnflag)
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join against a hot-keyed dimension (every lineitem row
    hits one of 3 dimension keys): dimension replicated ×8, join on
    (key, salt) — identical rows to the naive join in the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("A", "returned"), ("N", "kept"), ("R", "refunded")],
        "l_returnflag string, flag_name string",
    )
    out = salted_join(li, dim, "l_returnflag", unique_col="l_orderkey", n_salts=8)
    return out.select("l_orderkey", "l_linenumber", "flag_name")


@query(
    "partition_pruned_scan",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total
    FROM orders
    WHERE year(o_orderdate) = 1995
    GROUP BY o_orderpriority
    """,
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: write orders
    partitioned by order year, then aggregate one year — the scan
    reads ONLY that year's directory (PartitionFilters, asserted by
    tools/explain_audit.py),
    the mechanism that turns a 100 TB table into a 1-partition read."""
    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(cache.scratch_dir("part_"), "orders_by_year")
    o.withColumn("o_year", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
        "o_year"
    ).parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (F.sum(cents).cast("double") / 100).alias("total"),
    )


@query(
    "join_bloom_semi",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join: the urgent-order keys build a bloom
    filter (distributed bit_or aggregation, 128 KB of words to the
    driver) that prunes the lineitem side MAP-SIDE — before any
    exchange — so the semi-join shuffle carries ~matches only; the
    exact semi-join then kills bloom false positives.  Byte-identical
    to the plain IN-subquery semi-join the oracle replays (bloom
    filters have no false negatives)."""
    from ctgov_ai_etl_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_linenumber").cast("int").alias("l_linenumber"),
        "l_quantity",
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")


from ctgov_ai_etl_spark.functions.zorder import morton2, sql_morton2  # noqa: E402

_Z_X = "o_custkey"
_Z_DAY_SQL = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
_Z_SQL = sql_morton2(_Z_X, _Z_DAY_SQL)


@query(
    "maintenance_zorder",
    oracle=f"""
    SELECT zbucket,
           CAST(count(*) AS BIGINT) AS n,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min({_Z_DAY_SQL}) AS min_day, max({_Z_DAY_SQL}) AS max_day
    FROM (SELECT o_custkey, o_orderdate, {_Z_SQL} >> 20 AS zbucket FROM orders)
    GROUP BY zbucket
    """,
)
def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout maintenance (functions/zorder.py): Morton-
    interleave (o_custkey, order epoch-day) and report, per z-bucket
    (the would-be output file), row count and the min/max RECTANGLE in
    both dimensions — the footer stats a zordered write hands to
    data skipping, bounded in *every* clustered column at once where
    a plain sort bounds only its leading key.  In production this
    ordering feeds ``df.repartitionByRange(z).sortWithinPartitions(z)
    .write`` — here the bucket id is the Morton prefix itself
    (``z >> 20``), so the check is layout-deterministic and
    hash-verifiable instead of depending on file-split boundaries."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    z = morton2(F.col(_Z_X), day)
    return (
        o.select(F.col(_Z_X), day.alias("day"), F.shiftright(z, 20).alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n"),
            F.min(_Z_X).alias("min_cust"),
            F.max(_Z_X).alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


@query(
    "join_bucket_colocated",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_bucket_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides are written
    ``bucketBy(8, custkey).sortBy(custkey)`` and read back as bucketed
    tables, so the join AND the downstream per-customer aggregation
    reuse the storage partitioning — the executed plan contains NO
    shuffle exchange at all (asserted by tools/explain_audit.py).
    This is the pre-shuffled layout a 100 TB fact⋈dim pipeline uses to
    pay the exchange once at write time instead of on every query; the
    oracle replays the plain (layout-free) join, proving bucketing
    changed the plan, not the answer."""
    from ctgov_ai_etl_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", cents("o_totalprice").alias("price_cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Metastore names are scoped to the temp dir's unique suffix so
    # concurrent sessions sharing a metastore can't race on a fixed
    # name, and each run drops ITS OWN previous table (none) rather
    # than orphaning another run's bucketed files.
    root = cache.scratch_dir("bucketed_")
    run_id = os.path.basename(root).removeprefix("bucketed_").lower()
    tables = {}
    for base, df, key in (
        ("bkt_orders", o, "o_custkey"),
        ("bkt_customer", c, "c_custkey"),
    ):
        name = f"{base}_{run_id}"
        tables[base] = name
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{root}/{base}")
            .saveAsTable(name)
        )
    bo = spark.table(tables["bkt_orders"])
    bc = spark.table(tables["bkt_customer"])
    result = (
        bc.join(bo, bc.c_custkey == bo.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("sum_cents"),
        )
    )
    # DataFrame analysis is eager, so the joined plan has already
    # bound to the bucketed HadoopFsRelation (bucket spec included) —
    # the catalog entries can drop NOW without breaking the lazy
    # result or its shuffle-free plan, and a shared/persistent
    # metastore stops accumulating one orphan pair per run.  External
    # tables: DROP leaves the scratch files for the pending scan;
    # cache.release_all owns their lifetime.
    for name in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    return result


@query(
    "skew_key_profile",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    topn AS (SELECT c FROM counts ORDER BY c DESC, k ASC LIMIT 10),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_key_count
      FROM counts
    ),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS topn_count FROM topn)
    SELECT n_keys, n_rows, max_key_count, topn_count,
           topn_count * 1000000 // n_rows AS topn_frac_pm,
           max_key_count * n_keys * 1000000 // n_rows AS imbalance_pm
    FROM agg, t
    """,
)
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over the lineitem supplier key
    (operators/skew.py:key_skew_profile): the one-row profile —
    key/row totals, max and top-10 key mass, parts-per-million
    imbalance ratios — that decides whether the salted operators'
    extra shuffle is warranted before a heavy join ships.  One
    partially-aggregated per-key count + a heap top-N; exact integer
    ppm arithmetic, so the replay hash-matches."""
    from ctgov_ai_etl_spark.operators.skew import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_suppkey", top_n=10)


@query(
    "dq_validate_orders",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uq,
             CAST(sum(CASE WHEN o_orderstatus IS NULL
                           OR o_orderstatus NOT IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_av,
             CAST(sum(CASE WHEN o_totalprice IS NULL
                           OR o_totalprice < 0 OR o_totalprice > 200000
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_rg,
             CAST(sum(CASE WHEN o_orderpriority IS NULL
                           OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_re
      FROM orders
    ),
    fk AS (
      SELECT CAST(count(*) AS BIGINT) AS v_fk FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    )
    SELECT r.rule, r.kind, r."column", r.violations, agg.total,
           r.violations = 0 AS passed
    FROM agg, fk, LATERAL (VALUES
      ('orderkey_not_null', 'not_null', 'o_orderkey', agg.v_nn),
      ('orderkey_unique', 'unique', 'o_orderkey', agg.v_uq),
      ('status_accepted', 'accepted_values', 'o_orderstatus', agg.v_av),
      ('totalprice_range', 'in_range', 'o_totalprice', agg.v_rg),
      ('priority_format', 'regex_match', 'o_orderpriority', agg.v_re),
      ('custkey_fk', 'referential', 'o_custkey', fk.v_fk)
    ) AS r(rule, kind, "column", violations)
    """,
)
def dq_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/expectations.py — the
    Deequ/Great-Expectations operator class): six expectations over
    orders, reported as one row per rule with violation counts and a
    pass flag.  All five row-local rules fold into ONE aggregation
    pass (conditional sums + count-distinct, map-side partials; the
    scan reads only the referenced columns), and the referential rule
    adds a single broadcast anti-join probe against customer — the
    per-load gate shape a 100 TB ingest runs before promoting a
    partition.  The range rule is deliberately tight (≤ 200k) so the
    report exercises a FAILING expectation, not just green rows."""
    from ctgov_ai_etl_spark.operators.expectations import Rule, validate

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rules = [
        Rule("orderkey_not_null", "not_null", "o_orderkey"),
        Rule("orderkey_unique", "unique", "o_orderkey"),
        Rule(
            "status_accepted",
            "accepted_values",
            "o_orderstatus",
            {"values": ["F", "O", "P"]},
        ),
        Rule(
            "totalprice_range", "in_range", "o_totalprice", {"lo": 0, "hi": 200000}
        ),
        Rule(
            "priority_format", "regex_match", "o_orderpriority",
            {"pattern": "^[1-5]-"},
        ),
        Rule("custkey_fk", "referential", "o_custkey", {"ref": c, "ref_col": "c_custkey"}),
    ]
    return validate(o, rules)


@query(
    "join_fuzzy_lev1",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def join_fuzzy_lev1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-bounded fuzzy self-join (operators/fuzzy.py):
    customer-name pairs within Levenshtein distance 1, found via
    deletion-neighborhood blocking (SymSpell) — explode |s|+1 deletion
    variants per row, ONE equi-join shuffle on the variant string,
    exact levenshtein verify — where the predicate alone would plan an
    O(n²) nested loop (the oracle RUNS that nested loop; same rows,
    quadratic only on the replay side).  TPC-H customer names differ
    in a digit tail, so the fixture exercises heavy true-positive load
    (thousands of distance-1 pairs), not just a sparse typo corpus."""
    from ctgov_ai_etl_spark.operators.fuzzy import fuzzy_self_join_lev1

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_self_join_lev1(c, "c_custkey", "c_name")


@query(
    "dq_profile_lineitem",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
             CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd1,
             CAST(min(l_returnflag) AS VARCHAR) AS mn1,
             CAST(max(l_returnflag) AS VARCHAR) AS mx1,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
             CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd2,
             CAST(CAST(min(l_quantity) AS DOUBLE) AS VARCHAR) AS mn2,
             CAST(CAST(max(l_quantity) AS DOUBLE) AS VARCHAR) AS mx2,
             CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu3,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd3,
             CAST(min(l_suppkey) AS VARCHAR) AS mn3,
             CAST(max(l_suppkey) AS VARCHAR) AS mx3
      FROM lineitem
    )
    SELECT r."column", agg.total, r.nulls, r.n_distinct,
           r.min_value, r.max_value
    FROM agg, LATERAL (VALUES
      ('l_returnflag', agg.nu1, agg.nd1, agg.mn1, agg.mx1),
      ('l_quantity', agg.nu2, agg.nd2, agg.mn2, agg.mx2),
      ('l_suppkey', agg.nu3, agg.nd3, agg.mn3, agg.mx3)
    ) AS r("column", nulls, n_distinct, min_value, max_value)
    """,
)
def dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (operators/expectations.py:
    profile_columns — the Deequ profiler analog): per-column total /
    nulls / exact distinct / min / max over three lineitem columns of
    different types, rendered to one uniform report.  ONE aggregation
    job: conditional sums and min/max partially aggregate map-side,
    the exact count-distincts ride the standard Expand pass, and the
    scan prunes to exactly the profiled columns — the table-discovery
    primitive that precedes every ingest gate at 100 TB."""
    from ctgov_ai_etl_spark.operators.expectations import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, ["l_returnflag", "l_quantity", "l_suppkey"])


@query(
    "dedup_containment_pairs",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    banded AS (
      SELECT t.doc_id, t.tok FROM tf t JOIN dfreq USING (tok)
      WHERE df BETWEEN 2 AND 100
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM banded GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ov
      FROM banded a JOIN banded b
        ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(ov / CAST(sa.n AS DOUBLE), 6) AS containment
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE sa.n <= sb.n
      AND round(ov / CAST(sa.n AS DOUBLE), 6) >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT join (operators/fuzzy.py:
    containment_pairs): pairs where ≥ 80% of the smaller document's
    banded tokens appear in the larger — the near-subset detector
    (quotes, excerpts, boilerplate-in-page) that symmetric Jaccard
    misses entirely.  ProbeCount prefix join: full banded inverted
    index, but only each document's rarest (n − ⌈t·n⌉ + 1)-prefix
    probes it; exact-intersect verification.  The oracle replays the
    naive all-pairs overlap with the identical df band."""
    from ctgov_ai_etl_spark.operators.fuzzy import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d, "doc_id", "text", threshold=0.8)


@query(
    "dq_drift_psi",
    oracle="""
    WITH b AS (
      SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000, 9)
               AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END
               AS is_ref
      FROM orders
    ),
    agg AS (
      SELECT CAST(bucket AS INT) AS bucket,
             CAST(sum(is_ref) AS BIGINT) AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT bucket, n_ref, n_cur,
             sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc
      FROM agg
    )
    SELECT bucket, n_ref, n_cur,
           round((CAST(n_ref + 1 AS DOUBLE) / (tr + 10)
                  - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
                 * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
                      / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))), 6)
             AS psi_contrib
    FROM tot
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX drift monitor — the production
    check that a feature's distribution hasn't shifted between a
    reference slice (orders before 1997) and the current slice: 10
    fixed integer-cents price bands, Laplace-smoothed shares
    p=(n+1)/(N+B) so an empty band contributes finitely, per-band
    contribution (p-q)*ln(p/q); the PSI is the sum (>0.2 = act).
    Shape: one partially-aggregated groupBy over <= 10 bands + an
    unpartitioned window over those 10 rows (driver-scale, not
    data-scale) — per-day band counts merge by addition, so a 100 TB
    deployment keeps the counts and recomputes PSI from pennies of
    state."""
    from ctgov_ai_etl_spark.functions.exact import cents
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    bucket = F.least(
        ((c - F.pmod(c, F.lit(5_000_000))) / F.lit(5_000_000)).cast("long"),
        F.lit(9),
    ).cast("int")
    is_ref = (
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).cast("long")
    agg = (
        o.select(bucket.alias("bucket"), is_ref.alias("is_ref"))
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).alias("n_cur"),
        )
    )
    # bounded global window: input is the per-bin drift frame (fixed
    # bin count) — the partition-less WARN is safe by construction
    w = W.partitionBy()
    tr = F.sum("n_ref").over(w)
    tc = F.sum("n_cur").over(w)
    p = (F.col("n_ref") + 1).cast("double") / (tr + 10)
    q = (F.col("n_cur") + 1).cast("double") / (tc + 10)
    return agg.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


@query(
    "dq_sequence_gaps",
    oracle="""
    WITH feed AS (
      SELECT event_id FROM events
      WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 >= 7
    ),
    s AS (
      SELECT event_id,
             lag(event_id) OVER (ORDER BY event_id) AS prev_id
      FROM feed
    )
    SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
           event_id - prev_id - 1 AS n_missing
    FROM s
    WHERE event_id - prev_id > 1
    """,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-GAP detection — the completeness check for an
    id-sequenced feed (dropped messages, lost files): contiguous
    missing ranges of event_id reported as (gap_start, gap_end,
    n_missing).  One lag window under a total order; scale note: an
    unpartitioned window would single-reduce, so at 100 TB you
    range-partition by id and check only partition seams against the
    64-row boundary table (the same offsets trick as the distributed
    rank) — here the aggregated gap list itself is the deliverable
    and the fixture is driver-scale, so the plain window is the
    honest form the oracle replays."""
    from pyspark.sql import Window as W

    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    e = load_table(spark, sf_dir, "events")
    # The fixture's ids are dense; simulate a lossy feed by dropping a
    # deterministic 7% (md5 bucket — same rows vanish in the oracle)
    # so the detector has real gaps to report.
    feed = e.filter(hash_bucket(F.col("event_id"), 100) >= 7)
    w = W.orderBy("event_id")
    s = feed.select(
        "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    return s.filter(F.col("event_id") - F.col("prev_id") > 1).select(
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).alias("n_missing"),
    )


_ZM_LO_DAY = 9862   # 1997-01-01 as epoch days (computed once, injected
_ZM_HI_DAY = 10043   # into BOTH engines — exactness convention)


@query(
    "maintenance_zonemap_prune",
    oracle="""
    WITH d AS (
      SELECT l_orderkey,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS day
      FROM lineitem
    ),
    fa AS (
      SELECT CAST(((l_orderkey) - ((((l_orderkey) % CAST((4096) AS BIGINT)) + CAST((4096) AS BIGINT)) % CAST((4096) AS BIGINT))) // CAST((4096) AS BIGINT) AS BIGINT) AS f,
             min(day) AS mi, max(day) AS ma, count(*) AS n
      FROM d GROUP BY f
    ),
    fb AS (
      SELECT CAST(((day) - ((((day) % CAST((7) AS BIGINT)) + CAST((7) AS BIGINT)) % CAST((7) AS BIGINT))) // CAST((7) AS BIGINT) AS BIGINT) AS f,
             min(day) AS mi, max(day) AS ma, count(*) AS n
      FROM d GROUP BY f
    )
    SELECT 'orderkey_files' AS layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ma < 9862 OR mi >= 10043 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_skipped,
           CAST(sum(n) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN ma < 9862 OR mi >= 10043 THEN n ELSE 0 END)
                AS BIGINT) AS rows_skipped
    FROM fa
    UNION ALL
    SELECT 'shipdate_weeks' AS layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ma < 9862 OR mi >= 10043 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_skipped,
           CAST(sum(n) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN ma < 9862 OR mi >= 10043 THEN n ELSE 0 END)
                AS BIGINT) AS rows_skipped
    FROM fb
    """,
)
def maintenance_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer) pruning simulation: how much of a
    half-year l_shipdate predicate two physical layouts let the
    scanner SKIP.  Layout A buckets rows into 4096-order 'files' in
    orderkey sequence (the natural ingest order); layout B clusters
    by ship week.  Per layout: file count, files whose [min,max]
    shipdate rectangle misses the predicate entirely, and the row
    volume those skips avoid — the arithmetic behind parquet
    row-group skipping / Delta file skipping, and the quantified
    WHY of maintenance_zorder: clustering turns footer stats into
    O(selectivity) scans at 100 TB, ingest order leaves them
    useless.

    Scale story: each layout is ONE partial-aggregated rollup over
    the derived file id; the final per-layout summary aggregates a
    file-count-sized frame to one row.  The epoch-day bounds are
    computed once in Python and injected into both engines; bucket
    ids use exact integer floor division (fdiv)."""
    from ctgov_ai_etl_spark.functions.exact import fdiv

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_orderkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
    )

    def layout_summary(files, tag):
        skip = (F.col("ma") < _ZM_LO_DAY) | (F.col("mi") >= _ZM_HI_DAY)
        return files.agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(skip.cast("long")).cast("long").alias("files_skipped"),
            F.sum("n").cast("long").alias("rows_total"),
            F.sum(F.when(skip, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_skipped"),
        ).select(F.lit(tag).alias("layout"), "*")

    def footers(frame, file_col):
        return frame.groupBy(file_col.alias("f")).agg(
            F.min("day").alias("mi"),
            F.max("day").alias("ma"),
            F.count(F.lit(1)).alias("n"),
        )

    fa = footers(d, fdiv(F.col("l_orderkey"), 4096))
    fb = footers(d, fdiv(F.col("day"), 7))
    return layout_summary(fa, "orderkey_files").unionAll(
        layout_summary(fb, "shipdate_weeks")
    )


_HILBERT_ORDER = 8
_H_DAY_SQL = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"


def _hilbert_oracle() -> str:
    from ctgov_ai_etl_spark.functions.hilbert import sql_hilbert_cte

    return sql_hilbert_cte(
        source_sql=(
            "SELECT o_custkey & 255 AS hx_in, "
            f"({_H_DAY_SQL}) & 255 AS hy_in FROM orders"
        ),
        x_expr="hx_in",
        y_expr="hy_in",
        order=_HILBERT_ORDER,
        carried=["hx_in", "hy_in"],
        final_select="""
    SELECT CAST(hd // 256 AS BIGINT) AS hbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(hx_in) AS BIGINT) AS min_cust,
           CAST(max(hx_in) AS BIGINT) AS max_cust,
           CAST(min(hy_in) AS BIGINT) AS min_day,
           CAST(max(hy_in) AS BIGINT) AS max_day
    FROM hfin GROUP BY 1""",
    )


@query("maintenance_hilbert_order", oracle=_hilbert_oracle())
def maintenance_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout maintenance (functions/hilbert.py) — the
    strictly-better sibling of maintenance_zorder: index (custkey,
    epoch-day) on an order-8 Hilbert curve (256x256 grid, masked
    coordinates) and report, per 256-cell curve bucket (the would-be
    output file), the row count and min/max RECTANGLE in both
    dimensions.  Because consecutive Hilbert positions are ALWAYS
    unit-adjacent cells (no Z-jumps), the per-bucket rectangles are
    tighter than Morton's at equal file counts — better parquet
    min/max pruning for range predicates on EITHER clustered column.
    In production this ordering feeds ``repartitionByRange(hd)
    .sortWithinPartitions(hd).write``; here the bucket id is the
    curve prefix itself (hd // 256) so the check is
    layout-deterministic and hash-verifiable.  The whole index is
    ``order`` levels of codegen CASE/shift algebra — zero shuffles
    before the one partial-aggregated rollup, zero Python; the
    oracle replays the identical level chain as a generated CTE
    ladder."""
    from ctgov_ai_etl_spark.functions.hilbert import with_hilbert_d2

    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    base = o.select(
        F.col("o_custkey").bitwiseAND(F.lit(255)).alias("hx_in"),
        day.cast("long").bitwiseAND(F.lit(255)).alias("hy_in"),
    )
    hd = with_hilbert_d2(
        base, F.col("hx_in"), F.col("hy_in"), _HILBERT_ORDER
    )
    return (
        hd.select(F.expr("hd div 256").alias("hbucket"), "hx_in", "hy_in")
        .groupBy("hbucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("hx_in").cast("long").alias("min_cust"),
            F.max("hx_in").cast("long").alias("max_cust"),
            F.min("hy_in").cast("long").alias("min_day"),
            F.max("hy_in").cast("long").alias("max_day"),
        )
    )
