import pytest




def test_temperature_weights_flatten_distribution(spark):
    """α=0.5 weights sit between uniform and proportional: the
    majority stratum's weight is below its corpus share, the minority
    stratum's above; weights sum to 1 over present strata; missing
    strata contribute nothing."""
    from ctgov_ai_etl_spark.operators.limits import temperature_weights

    rows = [(i, "big") for i in range(90)] + [(i + 100, "small") for i in range(10)]
    d = spark.createDataFrame(rows, "id long, src string")
    w = temperature_weights(d, "src", ["big", "ghost", "small"], alpha=0.5)
    assert set(w) == {"big", "small"}  # ghost absent
    assert abs(sum(w.values()) - 1.0) < 1e-12
    assert 0.5 < w["big"] < 0.9  # below its 0.9 corpus share
    assert 0.1 < w["small"] < 0.5  # above its 0.1 share
    import math
    denom = math.sqrt(90) + 0.0 + math.sqrt(10)
    assert w["big"] == math.sqrt(90) / denom  # exact fixed-order math


def test_spread_to_parallelism_contract(spark):
    """Spreads a single-partition frame to cluster parallelism, but is
    a NO-OP (same plan object) when the input already has enough
    partitions — the at-scale behavior."""
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    par = spark.sparkContext.defaultParallelism
    one = spark.range(1000).coalesce(1)
    assert spread_to_parallelism(one).rdd.getNumPartitions() == par

    wide = spark.range(1000).repartition(par + 5)
    out = spread_to_parallelism(wide)
    assert out is wide  # untouched: no repartition node added


# ----------------------------------------------- deterministic_split


def _rank_split(df, n, cols):
    """The split taken from ``global_rank``: the reference answer."""
    from pyspark.sql import functions as F

    from ctgov_ai_etl_spark.operators.limits import global_rank

    ranked = global_rank(df, cols)
    head = ranked.filter(F.col("__pos") <= n).drop("__pos")
    rest = ranked.filter(F.col("__pos") > n).drop("__pos")
    return head, rest


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture
def rank_calls(monkeypatch):
    """Counts the calls ``deterministic_split`` makes to the rank
    fallback."""
    from ctgov_ai_etl_spark.operators import limits

    calls = []
    real = limits.global_rank

    def spy(df, cols):
        calls.append(list(cols))
        return real(df, cols)

    monkeypatch.setattr(limits, "global_rank", spy)
    return calls


def _check_split(df, n, cols):
    from ctgov_ai_etl_spark.operators.limits import deterministic_split

    head, rest = deterministic_split(df, n, cols)
    want_head, want_rest = _rank_split(df, n, cols)
    assert _rows(head) == _rows(want_head)
    assert _rows(rest) == _rows(want_rest)
    return head, rest


def _string_keys(spark):
    import random

    keys = [f"k{i:04d}" for i in range(200)]
    random.Random(5).shuffle(keys)
    return spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, v int"
    ).repartition(4)


@pytest.mark.parametrize("n", [1, 37, 199, 200, 250])
def test_boundary_split_string_keys(spark, rank_calls, n):
    """String keys over four partitions, including n equal to and
    above the row count: the boundary filter gives the rank split's
    halves without calling the rank."""
    df = _string_keys(spark)
    assert df.rdd.getNumPartitions() == 4
    head, rest = _check_split(df, n, ["k"])
    assert head.count() == min(n, 200) and rest.count() == max(200 - n, 0)
    assert len(rank_calls) == 1  # only the reference split ranked


def test_boundary_split_plan_has_no_window_or_range_shuffle(spark, rank_calls):
    from ctgov_ai_etl_spark.operators.limits import deterministic_split

    head, rest = deterministic_split(_string_keys(spark), 50, ["k"])
    for half in (head, rest):
        plan = half._jdf.queryExecution().executedPlan().toString().lower()
        assert "window" not in plan and "rangepartitioning" not in plan, plan
    assert rank_calls == []


def test_boundary_split_two_column_key(spark, rank_calls):
    rows = [(f"g{i % 7}", i // 7, i) for i in range(140)]
    df = spark.createDataFrame(rows, "g string, o long, v int").repartition(3)
    for n in (1, 20, 21, 100):
        _check_split(df, n, ["g", "o"])
    assert len(rank_calls) == 4  # the reference splits only


def test_boundary_split_null_keys_rank_first(spark, rank_calls):
    """NULL keys sort first: a boundary past them splits by the filter,
    a boundary among them falls back to the rank."""
    rows = [(None if i % 10 == 0 else f"k{i:03d}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, v int").repartition(3)
    head, _ = _check_split(df, 25, ["k"])
    assert sum(1 for r in head.collect() if r.k is None) == 10
    assert len(rank_calls) == 1
    _check_split(df, 5, ["k"])  # boundary key is NULL
    assert len(rank_calls) == 3


def test_boundary_split_non_positive_n_skips_the_probe(spark, rank_calls, monkeypatch):
    from ctgov_ai_etl_spark.operators.limits import deterministic_split

    df = _string_keys(spark)

    def no_offset(self, n):
        raise AssertionError(f"offset({n}) called")

    monkeypatch.setattr(type(df), "offset", no_offset)
    for n in (0, -3):
        head, rest = deterministic_split(df, n, ["k"])
        assert head.count() == 0 and _rows(rest) == _rows(df)
    assert rank_calls == []


def test_boundary_split_falls_back_on_a_tie_or_a_double_key(spark, rank_calls):
    """A tie across the boundary makes the filter ambiguous, and a
    double key is outside the types a literal compares exactly: both
    take the rank split."""
    ties = spark.createDataFrame(
        [(i // 4, i) for i in range(40)], "k long, v int"
    ).repartition(3)
    head, rest = _check_split(ties, 14, ["k", "v"])  # unique key: no tie
    assert len(rank_calls) == 1
    from ctgov_ai_etl_spark.operators.limits import deterministic_split

    head, rest = deterministic_split(ties, 14, ["k"])  # rows 14, 15 share k=3
    assert len(rank_calls) == 2
    assert head.count() == 14 and rest.count() == 26

    doubles = spark.createDataFrame(
        [(i * 0.5, i) for i in range(30)], "k double, v int"
    ).repartition(2)
    _check_split(doubles, 10, ["k"])
    assert len(rank_calls) == 4
