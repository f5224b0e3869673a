"""Round-16 global_rank driver tier: below the cap the rank arrives as
a broadcast (key -> __pos) map built on the driver; it must agree with
the distributed range-partitioned tier exactly, and ambiguous inputs
(ties, nulls, non-orderable key types) must fall back to distributed.
"""

from __future__ import annotations

import pytest


def _ranks(df, cols):
    from ctgov_ai_etl_spark.operators.limits import global_rank_with_count

    ranked, n = global_rank_with_count(df, cols)
    return n, sorted(tuple(r) for r in ranked.collect())


def test_rank_tiers_agree(spark, monkeypatch):
    """Ranked on every column, the driver tier returns its position map
    as it is; ranked on a key beside a payload column, it joins the map
    back.  Either way it agrees with the distributed tier."""
    import random

    from ctgov_ai_etl_spark.operators import limits

    rng = random.Random(16)
    rows = [(f"k{rng.randrange(10**9):09d}", i) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, v long")
    for cols in (["k", "v"], ["v"]):
        monkeypatch.setattr(limits, "_RANK_DRIVER_CAP", 100_000)
        n_drv, drv = _ranks(df, cols)
        monkeypatch.setattr(limits, "_RANK_DRIVER_CAP", 0)
        n_dist, dist = _ranks(df, cols)
        assert n_drv == n_dist == 500
        assert drv == dist


def test_rank_driver_tier_plan_is_broadcast_map(spark):
    from ctgov_ai_etl_spark.operators.limits import global_rank

    df = spark.createDataFrame(
        [(f"k{i:03d}",) for i in range(50)], "k string"
    )
    plan = global_rank(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    # driver tier: no range partitioning anywhere; the pos map is an
    # in-memory relation joined by broadcast
    assert "rangepartitioning" not in plan.lower()


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([("a", 1), ("a", 1), ("b", 2)], "k string, v long"),  # ties
        ([(None, 1), ("b", 2)], "k string, v long"),  # null key
        ([(1.5, 1), (2.5, 2)], "k double, v long"),  # float key type
    ],
)
def test_rank_driver_tier_fallbacks(spark, rows, schema):
    """Ambiguous keys must take the distributed tier and still produce
    a complete 1..n rank assignment."""
    from ctgov_ai_etl_spark.operators.limits import global_rank

    df = spark.createDataFrame(rows, schema)
    got = sorted(r["__pos"] for r in global_rank(df, ["k", "v"]).collect())
    assert got == list(range(1, len(rows) + 1))
