"""Deterministic positional splits (reference R8/R9).

The reference slices the in-memory list positionally
(``studies[:max_rows]`` / ``studies[max_rows:]``,
/root/reference/etl.py:355-364) and splits on a tuning-ID set
(etl.py:366-378).  Positional semantics are meaningless on a
distributed collection without an order, so the engine requires an
explicit ordering column (SURVEY.md §7 'positional limit').

Scale note: the naive formulation — ``row_number()`` over an
unpartitioned window — funnels every row through ONE reducer.  The
positional split needs no rank at all: one top-N probe of the narrow
key projection (per-partition bottom-N, merged on the driver, no
shuffle) finds the keys of rows N and N+1, and the split is a
``<= boundary`` filter and its complement, both map-side over the
pinned input.  Only when those two keys tie (or the key type or a
NULL boundary rules the filter out) does it fall back to the global
rank, computed in two parallel phases (range-partition on the order
key → per-partition local rank → add per-partition row-count
offsets), the standard distributed ranking layout.  The only
driver-side data is one (partition_id, count) row per partition.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ctgov_ai_etl_spark.operators.cache import track

_RANK_COL = "__pos"
_PID_COL = "__pid"

#: Bounded driver tier for the distributed rank (read at CALL time,
#: so a test can force the distributed tier in-process by setting it
#: to 0): when the rank frame fits under this many rows, ONE bounded
#: probe + a Python sort + a broadcast (key → __pos) map replaces the
#: three fixed job barriers of the distributed tier (range-boundary
#: sampling, per-partition offset counts, the persist-pinned rank
#: itself) — measured ~1-3 s of pure scheduling per use at sf0.1.
#: Corpus-scale rank frames at 100 TB blow the cap on the probe and
#: fall through to the distributed tier byte-identically.  0 disables.
_RANK_DRIVER_CAP = 20_000

#: Key types the driver tier may sort: Python's tuple sort must equal
#: Spark's multi-column ASC order.  Integral types trivially agree;
#: str agrees because UTF-8 unsigned-byte order == code-point order.
#: Floats/timestamps/decimals are EXCLUDED (NaN totalordering and tz
#: pitfalls) — those keys take the distributed tier.
_RANK_DRIVER_KEY_TYPES = (
    T.StringType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.BooleanType,
)


def global_rank(df: DataFrame, order_cols: Iterable[str]) -> DataFrame:
    """``df`` plus a 1-based global rank column ``__pos`` under
    ``order_cols``; see :func:`global_rank_with_count`."""
    return global_rank_with_count(df, order_cols)[0]


def global_rank_with_count(
    df: DataFrame, order_cols: Iterable[str]
) -> tuple[DataFrame, int]:
    """``df`` plus a 1-based global rank column ``__pos`` under
    ``order_cols`` (which should be a unique key — with ties the rank
    of tied rows is partitioning-dependent, exactly as it is for an
    unpartitioned window), and the total row count — free, since the
    offset pass already counts every partition; callers that need
    both (e.g. dictionary encoding sized by the vocabulary) save a
    whole job over a separate ``.count()``.

    No single-reducer stage: range-partition by the key (parallel
    sample + shuffle), rank locally per partition, then shift each
    partition's ranks by the total row count of the partitions before
    it.  The offsets come from a tiny (num_partitions)-row aggregate
    collected to the driver.

    The ranged frame is persisted (memory-and-disk) before the counts
    collect: ``repartitionByRange`` samples its boundaries per
    execution, so without a materialization barrier the counts job and
    the downstream ranking job could range-partition rows differently
    once boundary sampling is partial at scale, and the collected
    offsets would no longer describe the partitioning the ranks are
    computed on (duplicate/skipped global ranks).  The persist pins ONE
    partitioning for both jobs; the blocks are released to LRU — at
    most one extra pass of ``df`` on disk, the price of a
    deterministic distributed rank.

    A frame of at most ``_RANK_DRIVER_CAP`` rows whose keys are
    unique, non-NULL and of a ``_RANK_DRIVER_KEY_TYPES`` type is ranked
    on the driver instead; both tiers return the same ranks.
    """
    spark = df.sparkSession
    order_cols = list(order_cols)
    cols = [F.col(c) for c in order_cols]
    cap = _RANK_DRIVER_CAP
    if cap > 0 and all(
        isinstance(df.schema[c].dataType, _RANK_DRIVER_KEY_TYPES)
        for c in order_cols
    ):
        # Pin the rank input FIRST (unless the caller already did): the
        # distributed tier's ranged persist also served as the cache
        # multi-traversal consumers (e.g. both SNM self-join sides)
        # relied on — dropping it regressed dedup_snm_multipass
        # 2.5 → 6.1 s before this pin.  The probe doubles as the
        # cache fill.
        if not df.is_cached:
            df = track(df.persist(StorageLevel.MEMORY_AND_DISK))
        # Bounded probe: limit() short-circuits the scan, and only the
        # NARROW key projection ships — an over-cap frame costs one
        # truncated pass, then takes the distributed tier.
        probe = df.select(*order_cols).limit(cap + 1).collect()
        if len(probe) <= cap:
            keys = [tuple(r) for r in probe]
            # The driver order is valid only for unique, non-null keys
            # (the documented contract anyway: with ties the rank is
            # partitioning-dependent; NULL ordering differs between
            # Python and the window).  Anything else → distributed.
            if len(set(keys)) == len(keys) and all(
                v is not None for k in keys for v in k
            ):
                order = sorted(keys)
                pos_schema = T.StructType(
                    [df.schema[c] for c in order_cols]
                    + [T.StructField(_RANK_COL, T.LongType(), False)]
                )
                pos_df = spark.createDataFrame(
                    [k + (i + 1,) for i, k in enumerate(order)], pos_schema
                )
                if set(order_cols) == set(df.columns):
                    # The key IS the row (a vocabulary of unique
                    # (df, tok) pairs): the position map is the answer.
                    return pos_df.select(*df.columns, _RANK_COL), len(keys)
                ranked = df.join(F.broadcast(pos_df), on=order_cols).select(
                    *df.columns, _RANK_COL
                )
                return ranked, len(keys)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = track(
        df.repartitionByRange(nparts, *cols)
        .withColumn(_PID_COL, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        r[_PID_COL]: r["cnt"]
        for r in ranged.groupBy(_PID_COL).agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in range(nparts):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, f"{_PID_COL} int, __off long")
    w = Window.partitionBy(_PID_COL).orderBy(*cols)
    ranked = (
        ranged.join(F.broadcast(off_df), _PID_COL)
        .withColumn(_RANK_COL, F.row_number().over(w).cast("long") + F.col("__off"))
        .drop(_PID_COL, "__off")
    )
    return ranked, acc


def deterministic_split(
    df: DataFrame, n: int, order_cols: Iterable[str]
) -> tuple[DataFrame, DataFrame]:
    """(head, remainder) of the first ``n`` rows under ``order_cols``
    (ascending, NULLs first).

    The remainder is KEPT, matching the reference's pass-through of
    unprocessed rows (etl.py:364, 411-414) — a cost governor, not a
    filter.  For key types in ``_RANK_DRIVER_KEY_TYPES`` (whose
    comparisons a literal reproduces exactly) the input is pinned
    (memory-and-disk) and ONE job runs here:
    ``orderBy(order_cols).offset(n-1).limit(2)`` over the key
    projection, planned as a TakeOrderedAndProject (per-partition
    bottom-(n+1), merged on the driver: no shuffle, no window), which
    also fills the pin.  The keys of rows n and n+1 then split the
    pinned rows by a lexicographic NULLS-FIRST ``<= boundary`` filter
    and its complement; both halves keep the input's partition order.
    When the two keys tie, the boundary key holds a NULL, or a key
    has another type, the halves come from :func:`global_rank`
    instead.
    """
    order_cols = list(order_cols)
    if n <= 0:
        return df.filter(F.lit(False)), df
    if all(
        isinstance(df.schema[c].dataType, _RANK_DRIVER_KEY_TYPES)
        for c in order_cols
    ):
        df = track(df.persist(StorageLevel.MEMORY_AND_DISK))
        probe = [
            tuple(r)
            for r in df.select(*order_cols).orderBy(*order_cols)
            .offset(n - 1).limit(2).collect()
        ]
        if len(probe) < 2:  # n >= row count: every row is in the head
            return df, df.filter(F.lit(False))
        boundary, after = probe
        if boundary != after and None not in boundary:
            head = _le_nulls_first(df, order_cols, boundary)
            return df.filter(head), df.filter(~head)
    ranked = global_rank(df, order_cols)
    head = ranked.filter(F.col(_RANK_COL) <= n).drop(_RANK_COL)
    rest = ranked.filter(F.col(_RANK_COL) > n).drop(_RANK_COL)
    return head, rest


def _le_nulls_first(
    df: DataFrame, order_cols: list[str], boundary: tuple
) -> "F.Column":
    """``(order_cols) <= boundary`` in ascending NULLS-FIRST order, for
    a boundary without NULLs; never NULL itself, so its negation is the
    exact complement."""
    cond = None
    for c, v in reversed(list(zip(order_cols, boundary))):
        col = F.col(c)
        lit = F.lit(v).cast(df.schema[c].dataType)
        cmp = col <= lit if cond is None else (col < lit) | ((col == lit) & cond)
        cond = col.isNull() | cmp
    return cond


def id_set_split(
    df: DataFrame, id_col: str, ids: Iterable[str]
) -> tuple[DataFrame, DataFrame]:
    """(members, complement) of ``id_col ∈ ids`` (reference R9's
    tuning-trial split, etl.py:366-378).

    For a config-sized set an ``isin`` literal predicate is optimal
    (pushes to the scan); at data scale you'd join a broadcast ids
    DataFrame instead — both are semi/anti semantics.
    """
    ids = list(ids)
    member = F.col(id_col).isin(ids)
    return df.filter(member), df.filter(~member)


def hash_bucket(key: "F.Column", n_buckets: int = 10_000) -> "F.Column":
    """Deterministic uniform bucket in [0, n_buckets) from the md5 of
    ``key``.  md5 (unlike xxhash64) is byte-identical across engines
    and languages, so a sampling decision is reproducible by any
    downstream system — and it depends only on the row's key: stable
    under repartitioning, cluster resizes, and re-runs, which
    ``df.sample`` (partition-seeded RNG) is not.  8 hex chars = 32
    uniform bits, ample for any practical rate resolution."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default: float = 0.0,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash
    bucket falls below its stratum's rate — how a training pipeline
    rebalances by language/source/quality tier.  The fractions table
    rides in as a broadcast dimension join (no shuffle of the fact
    side; the filter stays map-side), strata absent from ``fractions``
    default to ``default``.  Exactly reproducible: same rows survive
    on any cluster, any partitioning, any engine that can compute md5.
    """
    spark = df.sparkSession
    frac_df = spark.createDataFrame(
        [(k, float(v)) for k, v in fractions.items()],
        f"{strata_col} string, __frac double",
    )
    return (
        df.join(F.broadcast(frac_df), strata_col, "left")
        .withColumn("__frac", F.coalesce("__frac", F.lit(float(default))))
        .filter(hash_bucket(F.col(key_col), n_buckets) < F.col("__frac") * n_buckets)
        .select(*df.columns)
    )


def mixture_fractions(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    out_rows: int,
) -> dict[str, float]:
    """Per-stratum acceptance rates that steer the sampled output
    toward the target mixture ``weights`` at ~``out_rows`` total:
    rate_s = min(1, w_s * out_rows / n_s).  Strata too small to supply
    their share saturate at 1.0 (their deficit is NOT redistributed —
    deterministic and engine-replayable beats exactly-sized here).
    The per-stratum counts are a bounded driver scalar collect
    (|strata| rows), the same convention as IVF centroid training.
    """
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    return {
        s: min(1.0, w * out_rows / counts[s])
        for s, w in weights.items()
        if s in counts and counts[s] > 0
    }


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    out_rows: int,
    key_col: str,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Deterministic domain-mixing sampler: resample a corpus so the
    output approximates a target stratum mixture (e.g. rebalancing
    languages or sources for a training run).  Composition of
    ``mixture_fractions`` + ``stratified_sample``: one tiny count agg,
    then a broadcast-joined map-side md5-bucket filter — the fact side
    is never shuffled, and the same rows survive on any cluster or
    engine (see ``hash_bucket``)."""
    fracs = mixture_fractions(df, strata_col, weights, out_rows)
    return stratified_sample(
        df, strata_col, fracs, key_col, default=0.0, n_buckets=n_buckets
    )


def _md5_priority(key: "F.Column", salt: str) -> "F.Column":
    """Per-row sampling priority: the md5 hex digest of key+salt.
    Byte-identical across engines (lowercase hex in both Spark and
    DuckDB), so the selected set is replayable anywhere; a new salt
    is a fresh independent draw."""
    return F.md5(F.concat(key.cast("string"), F.lit(salt)))


def reservoir_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    salt: str = "",
    n_hint: int | None = None,
    margin: int = 8,
) -> DataFrame:
    """Distributed fixed-size uniform sample without replacement —
    the reservoir-sampling contract ("exactly k rows, each subset
    equally likely") implemented as bottom-k by deterministic md5
    priority instead of the sequential Vitter algorithm, which has no
    parallel formulation worth running.

    Selection is a pure function of (row key, salt): stable under
    repartitioning, re-runs, and engine choice (the SQL oracle is
    ``ORDER BY md5(key), key LIMIT k``).  Spark plans the
    ``orderBy(priority).limit(k)`` as TakeOrderedAndProject —
    per-partition bottom-k, then a k·P-row driver merge — so no full
    sort and no single-reducer shuffle ever happens.

    For very large k·P, pass ``n_hint`` (approximate input rows): a
    map-side prefilter keeps only rows whose 32-bit priority prefix
    falls under ``margin·k/n`` of the hash space — ~margin·k
    survivors — before the exact bottom-k.  The prefilter is a prefix
    of the SAME ordering, so it only changes the answer if fewer than
    k of the true bottom-k survive; with margin 8 that needs the
    binomial(n, 8k/n) mass below k — vanishing for any real n (and
    the identity is regression-tested against the unfiltered path).
    """
    pri = _md5_priority(F.col(key_col), salt)
    work = df.withColumn("__pri", pri)
    if n_hint is not None and n_hint > margin * k:
        cutoff = min(2**32, (2**32 * margin * k) // n_hint + 1)
        work = work.filter(
            F.conv(F.substring("__pri", 1, 8), 16, 10).cast("long") < cutoff
        )
    return work.orderBy("__pri", key_col).limit(k).drop("__pri")


def weighted_reservoir_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    weight_col: str,
    salt: str = "",
) -> DataFrame:
    """Weighted reservoir sample (Efraimidis–Spirakis A-ES): each row
    draws a deterministic uniform u from its md5 and competes with
    priority u^(1/w) — take the k largest, so a row's inclusion
    probability scales with its weight.  Computed in log space
    (ln(u)/w, exact same ordering) to dodge underflow on large
    weights.  Same TakeOrderedAndProject shape as
    :func:`reservoir_sample`; weights must be > 0 (guarded with
    raise_error so bad rows fail loudly, not sample silently)."""
    u = (
        F.conv(F.substring(_md5_priority(F.col(key_col), salt), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32) + 2.0)  # u ∈ (0, 1): never ln(0)
    w = F.col(weight_col).cast("double")
    checked_w = F.when(w > 0, w).otherwise(
        F.raise_error(F.concat(F.lit("non-positive weight for key "), F.col(key_col)))
    )
    pri = F.log(u) / checked_w  # maximize u^(1/w) ⇔ maximize ln(u)/w
    return (
        df.withColumn("__pri", pri)
        .orderBy(F.desc("__pri"), F.col(key_col))
        .limit(k)
        .drop("__pri")
    )


def temperature_weights(
    df: DataFrame,
    strata_col: str,
    strata: list[str],
    alpha: float = 0.5,
) -> dict[str, float]:
    """Temperature-scaled mixture weights w_s = n_s^α / Σ n^α — the
    standard multilingual/domain rebalancing rule (XLM-R α=0.3-0.7,
    mT5): α < 1 flattens the natural distribution, upsampling tail
    strata without a hand-written target mixture.

    Engine-replayability contract: the denominator sums in the FIXED
    order of ``strata`` (missing strata contribute 0.0), so a SQL
    replay writing the same explicit sum gets the identical double.
    α = 0.5 (the default) evaluates as sqrt — correctly rounded per
    IEEE in every engine, hence bit-replayable; other α go through
    pow, whose cross-engine determinism is not guaranteed (fine for
    production, not for a hash-checked oracle).  Counts are one
    |strata|-row driver collect, same convention as
    :func:`mixture_fractions`."""
    import math

    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    powed = {
        s: (math.sqrt(counts.get(s, 0)) if alpha == 0.5
            else float(counts.get(s, 0)) ** alpha)
        for s in strata
    }
    denom = 0.0
    for s in strata:  # FIXED summation order — the replay contract
        denom += powed[s]
    return {s: powed[s] / denom for s in strata if counts.get(s, 0) > 0}


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism IFF the input
    plans fewer partitions.  Compute-heavy per-row stages (signature
    folds, shingling, hash ladders) are CPU-bound, and a small parquet
    input (one row group) otherwise runs them all on ONE core — at
    sf0.1 the 5k-doc corpus is a single split, and spreading it took
    minhash signature generation 8.8 → 3.0 s warm.  At real scale the
    scan already has ≥ parallelism splits and this is a NO-OP (no
    shuffle added); identical repartition subtrees across plan
    branches collapse to one exchange via ReuseExchange.

    The partition count is read via the JVM DataFrame's RDD handle, so
    no Python-side RDD wrapper (``df.rdd``) is materialized."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.rdd().getNumPartitions() < par:
        return df.repartition(par)
    return df

