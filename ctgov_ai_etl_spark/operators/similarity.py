"""Similarity search over embedding columns (array<float>).

Two tiers behind one signature (SURVEY.md §7 'Top-k similarity at
100 TB'):

- ``brute_force_topk`` — exact cosine top-k: broadcast the query set,
  one pass over the corpus, per-query window top-k.  O(|corpus|·|Q|),
  correct baseline; right answer whenever |Q| is small enough to
  broadcast (the common "find neighbors for these items" shape).
- ``lsh_topk`` — random-hyperplane LSH (SimHash for cosine, Charikar
  '02): sign-bit sketches bucket the corpus, candidates come only
  from matching buckets across L tables, exact cosine re-ranks.
  Sub-linear candidate generation; recall/probe count trade-off is
  explicit (``n_tables`` × ``n_bits``).  The hyperplanes are
  seed-deterministic literals compiled into the plan — no fitted
  state, so the operator is a pure function of its input.

All dot products / norms are ``zip_with`` + ``aggregate`` fold
expressions — JVM codegen, no Python boundary.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.cache import scratch_dir, track
from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

_SEED = 1337

# (applicationId, corpus semanticHash, quantizer hash) -> written
# inverted-file path; see ivf_topk_partitioned's default-path contract.
_IVF_LAYOUT_CACHE: dict[tuple, str] = {}


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _centroid_dots_udf(centroids: list[list[float]]):
    """pandas UDF: the array of raw dot products of each row's vector
    against every centroid (same order as the centroid list).

    Replaces the k interpreted dot folds per row inside
    :func:`_assign_frame` (k=64 centroids × 64 dims = 4096 interpreted
    ops/row) with k vectorized numpy passes per Arrow batch.  Rounding
    and the norm division stay JVM-side.

    BIT-IDENTICAL to the JVM fold in :func:`dot`: each product is one
    exact IEEE multiply either way, and ``np.cumsum`` accumulates
    strictly left-to-right (out[i] = out[i-1] + in[i]) so its last
    prefix sum evaluates the identical left-associated double sequence
    — a BLAS matmul would be faster but reorders the summation, and
    bit-equality against the SQL oracles is the contract here (pinned
    by tests/test_r16_vectorized.py)."""
    from pyspark.sql import types as T

    cmat = [list(map(float, c)) for c in centroids]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def cdots(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy())
        k = len(cmat)
        out = np.empty((x.shape[0], k), dtype=np.float64)
        for j in range(k):
            out[:, j] = np.cumsum(x * np.asarray(cmat[j]), axis=1)[:, -1]
        return pd.Series(list(out))

    return cdots


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine_sim, rank).  The query side
    is broadcast (no shuffle of the corpus); ties broken by neighbor
    id for determinism.  Self-matches are excluded.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), round_digits)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    order = (F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    # Two-phase top-k: per (query, input-partition) local top-k first —
    # map-side-sized exchange keyed by (query_id, pid), parallelism =
    # |Q| × partitions — then the per-query global window sees only
    # ≤ k·partitions candidate rows per query instead of the whole
    # corpus.  Pruning is safe under any partition assignment: a row
    # outside its partition's local top-k is beaten by k rows in the
    # same partition, so it cannot be in the query's global top-k (the
    # (sim, id) order is total, so ties cut deterministically).
    local_w = Window.partitionBy("query_id", "__pid").orderBy(*order)
    pruned = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(local_w))
        .filter(F.col("__lr") <= k)
        .drop("__pid", "__lr")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplanes(n_tables: int, n_bits: int, dim: int) -> list[list[list[float]]]:
    rng = random.Random(_SEED)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of ``vec`` under one table's hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(vec, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def _planes_literal(flat_planes: list[list[float]]) -> Column:
    """Nested array<array<double>> literal via ONE SQL-string parse:
    F.lit on a nested Python list expands to a Py4J call per element
    (~3k round trips ≈ seconds of driver time); expr() is a single
    parse, and repr(float) round-trips doubles bit-exactly."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in p) + ")" for p in flat_planes
        )
        + ")"
    )


def _sign_bits(vec: Column, planes_lit: Column) -> Column:
    """Hyperplane sign bits of ``vec`` against every plane at once.

    The planes enter the plan as ONE nested-array literal walked with
    higher-order functions — building a separate 64-literal dot
    product per plane (tables × bits of them) makes a several-
    thousand-node expression tree whose analysis/codegen dwarfs the
    actual scan at these row counts (measured: 7 s → sub-second at
    sf0.001 for 48 planes).  ``planes_lit`` comes from
    :func:`_planes_literal`, parsed once and shared by both sides of
    the bucket join."""
    return F.transform(
        planes_lit,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec, p, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def _bucket_structs(bits: Column, n_tables: int, n_bits: int) -> Column:
    """(table, bucket) structs from the flat sign-bit array: bucket of
    table t packs bits [t*n_bits, (t+1)*n_bits) — identical packing to
    :func:`lsh_bucket`.  ``bits`` must be a REAL column (materialized
    by the caller): Catalyst does not CSE repeated subtrees, so an
    inline expression would re-evaluate every dot product per table."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.cast("int").alias("table"),
            F.aggregate(
                F.sequence(F.lit(n_bits - 1), F.lit(0), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc * 2
                + F.element_at(bits, (t * n_bits + i + 1).cast("int")),
            ).alias("bucket"),
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_bits: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    Candidates = corpus rows sharing a (table, bucket) with the query
    in any of ``n_tables`` tables; exact cosine re-ranks candidates.
    One shuffle on (table, bucket); bucket occupancy ~ n/2^n_bits per
    table keeps the within-bucket join bounded at scale.
    """
    tables = _hyperplanes(n_tables, n_bits, dim)
    planes_lit = _planes_literal([plane for planes in tables for plane in planes])

    def bucketize(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        """(id, table, bucket) rows — ids only: exploding the vector
        n_tables-fold and shuffling it would multiply the heavy
        payload; vectors re-attach after the candidate dedup."""
        v = _as_double(F.col(vecc))
        with_bits = df.select(F.col(idc), _sign_bits(v, planes_lit).alias("__bits"))
        return with_bits.select(
            idc, F.explode(_bucket_structs(F.col("__bits"), n_tables, n_bits)).alias("tb")
        ).select(idc, F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))

    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    cb = bucketize(corpus, id_col, vec_col).withColumnRenamed(id_col, "neighbor_id")
    qb = bucketize(queries, id_col, vec_col).withColumnRenamed(id_col, "query_id")
    # Candidate generation and dedup over BARE id pairs (16 bytes/row);
    # the query side is the small one — broadcast, like brute_force.
    cands = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    pairs = cands.join(cvecs, "neighbor_id").join(F.broadcast(qvecs), "query_id")
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), round_digits)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------------------------ IVF

def seeded_centroids(k: int, dim: int, seed: int = _SEED) -> list[list[float]]:
    """Deterministic Gaussian centroids — the untrained coarse
    quantizer.  Constant (data-independent), so an IVF query built on
    them is SQL-replayable end to end; trade recall for that by
    raising ``nprobe``, or fit real centroids with
    :func:`ivf_fit_centroids`."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(k)]


def ivf_fit_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    sample_cap: int = 4096,
    iters: int = 5,
    seed: int = _SEED,
) -> list[list[float]]:
    """Spherical k-means on a deterministic hash-selected sample.

    The sample is rows with the smallest ``xxhash64(id)`` — a seeded,
    partitioning-independent choice — capped at ``sample_cap`` and
    collected to the driver: quantizer training is O(sample · k ·
    iters) numpy work on constant-bounded data, the standard IVF
    layout (train small, assign big).  Assignment of the full corpus
    stays distributed in :func:`ivf_topk`."""
    import numpy as np

    rows = (
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("__h")
        .limit(sample_cap)
        .select("v")
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF (inverted file):
    every corpus vector is assigned map-side to its max-cosine
    centroid; each query probes its ``nprobe`` best clusters; exact
    cosine re-ranks the candidates.  ONE shuffle — the cluster-id
    join — on narrow (id, cid) rows; vectors re-attach after.

    Cluster similarities are rounded to ``round_digits`` BEFORE the
    argmax/probe ranking, with ties broken by lowest cluster id —
    the exact rule a differential SQL oracle can replay.
    """
    ncent = len(centroids)
    cent_lit = _planes_literal(centroids)

    def cluster_sims(vecc: str) -> Column:
        v = _as_double(F.col(vecc))
        return F.transform(cent_lit, lambda c: F.round(cosine(v, c), round_digits))

    # corpus side: argmax assignment (first max => lowest cid on ties)
    # through the shared norm-hoisted prologue (one norm fold per row,
    # centroid norms folded to literals — bit-identical doubles, see
    # _assign_frame).
    asg = centroid_assign(corpus, centroids, id_col, vec_col, round_digits).select(
        F.col("id").alias("neighbor_id"), "cid"
    )
    # query side: top-nprobe clusters by (sim desc, cid asc) — sort
    # (-sim, cid) structs ascending, slice, explode.
    probe_pairs = F.zip_with(
        F.col("__sims"),
        F.sequence(F.lit(0), F.lit(ncent - 1)),
        lambda s, c: F.struct((-s).alias("negsim"), c.alias("cid")),
    )
    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("__sims", cluster_sims("qvec"))
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(probe_pairs), 1, nprobe), lambda p: p["cid"]
                )
            ).alias("cid"),
        )
    )
    # each neighbor lives in exactly one cluster and a query's probes
    # are distinct, so (query, neighbor) appears at most once: no dedup.
    cands = (
        asg.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    pairs = cands.join(cvecs, "neighbor_id").join(F.broadcast(qvecs), "query_id")
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), round_digits)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_partitioned(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    path: str | None = None,
) -> DataFrame:
    """IVF with the inverted file PERSISTED as a cluster-partitioned
    parquet layout (the SCALE.md IVF note made concrete): corpus
    vectors are assigned map-side and written ``partitionBy(cid)``;
    the union of the queries' probe clusters then becomes a
    PartitionFilter on the read-back, so at 100 TB a probe scan
    touches ~nprobe/ncentroids of the bytes instead of all of them —
    and repeated query batches amortize the one-time assignment write.

    Result-identical to :func:`ivf_topk` (same rounding and
    lowest-cid tie rules on both the argmax and the probe ranking),
    so the same SQL oracle replays it.  The collected probe-cid set
    is bounded by ``|queries| * nprobe`` — a driver-side constant.

    ``path`` is where the inverted file lives — the amortization
    ("repeated query batches reuse the one-time assignment write")
    only holds when the CALLER supplies a stable ``path`` and manages
    its lifecycle.  With ``path=None`` the function is self-contained
    for one call: it builds the layout in a session-scoped temp
    directory that is re-USED across calls in the same SparkSession
    (keyed by corpus+quantizer identity, so repeated identical calls
    skip the rewrite) until the caller's ``cache.release_all``
    removes it.  Note the write +
    probe-set collect are EAGER side effects of constructing the
    returned DataFrame — callers embedding this in a lazy pipeline
    should call it at plan-build time, not inside another job.
    """
    import os

    ncent = len(centroids)
    cent_lit = _planes_literal(centroids)

    def cluster_sims(v: Column) -> Column:
        return F.transform(cent_lit, lambda c: F.round(cosine(v, c), round_digits))

    write_needed = True
    if path is None:
        # Session-scoped default layout: keyed by (app, corpus plan,
        # quantizer), so repeated identical calls reuse the written
        # inverted file instead of re-materializing it; the directory
        # is a cache.scratch_dir, so the caller's release_all removes
        # it and the next call writes it afresh.
        key = (
            corpus.sparkSession.sparkContext.applicationId,
            corpus.semanticHash(),
            hash((repr(centroids), round_digits, id_col, vec_col)),
        )
        cached = _IVF_LAYOUT_CACHE.get(key)
        if cached is not None and os.path.isdir(cached):
            path, write_needed = cached, False
        else:
            path = os.path.join(scratch_dir("ivf_inv_"), "inverted")
            _IVF_LAYOUT_CACHE[key] = path
    if write_needed:
        # shared norm-hoisted assignment prologue (see _assign_frame)
        inv = _assign_frame(corpus, centroids, id_col, vec_col, round_digits).select(
            F.col("id").alias("neighbor_id"),
            F.col("__v").alias("cvec"),
            (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
            .cast("int")
            .alias("cid"),
        )
        inv.write.mode("overwrite").partitionBy("cid").parquet(path)

    probe_pairs = F.zip_with(
        F.col("__sims"),
        F.sequence(F.lit(0), F.lit(ncent - 1)),
        lambda s, c: F.struct((-s).alias("negsim"), c.alias("cid")),
    )
    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("__sims", cluster_sims(_as_double(F.col("qvec"))))
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(probe_pairs), 1, nprobe),
                    lambda p: p["cid"].cast("int"),
                )
            ).alias("cid"),
        )
    )
    probed_cids = sorted(r["cid"] for r in probes.select("cid").distinct().collect())
    spark = corpus.sparkSession
    # The isin over the partition column is what prunes: the scan's
    # PartitionFilters lists it and only the probed directories are read
    # (asserted by tools/explain_audit.py for sim_topk_ivf_partitioned).
    inverted = spark.read.parquet(path).filter(F.col("cid").isin(probed_cids))
    cands = (
        inverted.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cvec")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    pairs = cands.join(F.broadcast(qvecs), "query_id")
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), round_digits)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _centroid_norms(centroids: list[list[float]]) -> list[float]:
    """Python replay of ``norm`` over each centroid: LEFT-ASSOCIATIVE
    acc + x*x then sqrt — the identical double sequence the engines'
    folds produce, so the result is the same bit pattern and can be
    compiled into the plan as a literal (one norm fold per CORPUS ROW
    saved per centroid)."""
    out = []
    for c in centroids:
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        out.append(math.sqrt(acc))
    return out


def _assign_frame(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """(id, __v, __sims): the shared assignment prologue.  Two
    plan-level optimizations over the naive per-centroid ``cosine``,
    both BIT-IDENTICAL to it (the oracle SQL replays the naive form):

    - ``norm(v)`` hoists into one per-row column instead of being
      re-folded inside every centroid's cosine (k + 1 folds per row
      instead of 3k — measured ~2× on the 64-centroid quantizer).
      The hoist survives CollapseProject because a lambda fold is not
      a 'cheap' expression, so Catalyst keeps the projection barrier.
    - centroid norms fold at plan-authoring time (:func:
      `_centroid_norms`) into an array literal — same doubles, zero
      per-row cost.

    ``dot/(nv·nc)`` evaluates the exact double sequence of
    ``dot/(sqrt(fold)·sqrt(fold))``, so rounded sims hash-match the
    SQL replay unchanged.

    The k raw dot products per row — the dominant
    interpreted-expression cost of every consumer
    (k=64 centroids × 64 dims = 4096 interpreted multiply-adds/row;
    measured as ~the whole cost of the semantic dedup family at
    sf0.1) — moved to ONE vectorized numpy batch per Arrow chunk
    (:func:`_centroid_dots_udf`, bit-identical by the sequential-
    cumsum argument).  The norm hoist, the rounding, and the division
    remain JVM expressions, so every rounded sim is the same double
    as before and the SQL replays still hash-match."""
    norms_lit = F.array(*[F.lit(n) for n in _centroid_norms(centroids)])
    base = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__nv", norm(F.col("__v")))
    base = base.withColumn(
        "__dots", _centroid_dots_udf(centroids)(F.col("__v"))
    )
    sims = F.zip_with(
        F.col("__dots"),
        norms_lit,
        lambda d, nc: F.round(d / (F.col("__nv") * nc), round_digits),
    )
    return base.withColumn("__sims", sims).drop("__dots")


def centroid_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, cid): map-side argmax-cosine assignment to ``centroids``
    (similarities rounded to ``round_digits`` before the argmax, ties
    to the lowest cluster id — the SQL-replayable rule shared with
    :func:`ivf_topk`)."""
    return _assign_frame(df, centroids, id_col, vec_col, round_digits).select(
        "id",
        (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
        .cast("int")
        .alias("cid"),
    )


def centroid_assign_multi(
    df: DataFrame,
    centroids: list[list[float]],
    n_assign: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, cid) rows for each vector's ``n_assign`` CLOSEST centroids
    (cosine desc, centroid id asc on rounded ties) — the multi-
    assignment recall knob for centroid blocking: a near-dup pair
    split across two blocks is recovered whenever the blocks overlap
    in either vector's top-``n_assign`` assignment.  Still map-side:
    one sort of a k-element array per row."""
    # (-sim, cid) structs: array_sort orders field-wise ascending =
    # similarity desc, centroid id asc — the deterministic tie rule.
    ranked = F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(
                    F.col("__sims"),
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda s, i: F.struct((-s).alias("negs"), i.alias("cid")),
                )
            ),
            lambda x: x["cid"],
        ),
        1,
        n_assign,
    )
    return (
        _assign_frame(df, centroids, id_col, vec_col, round_digits)
        .select("id", F.explode(ranked).alias("cid"))
        .select("id", F.col("cid").cast("int").alias("cid"))
    )


def exact_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    allow_quadratic: bool = False,
    quadratic_cap: int = 20_000,
) -> DataFrame:
    """ALL-PAIRS exact cosine near-dup pairs — the O(n²) correctness
    tier, GUARDED: the self-join is a cartesian whose cost grows with
    the square of the corpus, so unless ``allow_quadratic=True`` the
    corpus row count must not exceed ``quadratic_cap`` (the size check
    is one eager count at plan-build time — a metadata-speed job for
    parquet sources).  A 100 TB corpus must use the blocked tier
    (:func:`blocked_cosine_pairs` via :func:`embedding_near_dup`);
    this form exists to verify it on capped slices.

    Norms are precomputed per VECTOR (n sqrt-folds map-side), not per
    pair: the pair stage then does one dot fold instead of three.
    ``dot/(na*nb)`` evaluates the exact same double sequence as
    ``dot/(sqrt(Σa²)·sqrt(Σb²))`` per pair, so a SQL oracle computing
    the latter still hash-matches bit-for-bit.

    Broadcast contract: the pinned ``F.broadcast`` build side ships
    the ENTIRE corpus to every executor — ~0.5 KB per 64-dim double
    vector, so the default ``quadratic_cap`` (20k rows ≈ 10 MB) is
    comfortably inside Spark's 8 GB broadcast hard limit, but callers
    who pass ``allow_quadratic=True`` accept the driver/executor
    memory cost along with the n² compute: beyond ~10M vectors the
    broadcast itself fails before the cartesian does.  That trade is
    deliberate — without the pin the planner may stream the
    single-split side and run the whole pair loop on one core; the
    blocked tier remains the only shape that scales.
    """
    if not allow_quadratic:
        n_rows = df.count()
        if n_rows > quadratic_cap:
            raise ValueError(
                f"exact_cosine_pairs over {n_rows} rows is an O(n^2) cartesian "
                f"(cap {quadratic_cap}); use embedding_near_dup(method='blocked') "
                "or pass allow_quadratic=True if you really mean it"
            )
    # A filtered slice often collapses to one input split, and the
    # broadcast NLJ inherits the stream side's partitioning — which
    # would run the whole n² pair loop on ONE core.  Spread the
    # stream side across the cluster first (round-robin: no keys, so
    # no skew; the build side broadcasts regardless).
    par = df.sparkSession.sparkContext.defaultParallelism
    a = df.repartition(par).select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")
    ).select("id_a", "va", norm(F.col("va")).alias("na"))
    b = df.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    ).select("id_b", "vb", norm(F.col("vb")).alias("nb"))
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits)
    # Pin ``b`` as the broadcast build side: without the hint the
    # planner may flip the BNLJ and stream the single-split ``b``,
    # re-serializing the n² loop onto one core despite the
    # repartition on ``a``.
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float,
    centroids: list[list[float]] | None = None,
    method: str = "blocked",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_assign: int = 1,
    allow_quadratic: bool = False,
    quadratic_cap: int = 20_000,
) -> DataFrame:
    """Embedding near-dup pairs behind ONE signature, blocked by
    default (the 100 TB path: Σ block² candidate volume, see
    :func:`blocked_cosine_pairs`).  ``method='exact'`` selects the
    all-pairs tier, which refuses corpora beyond ``quadratic_cap``
    rows unless ``allow_quadratic=True`` — the default can never
    silently plan an unbounded cartesian.  ``centroids`` defaults to
    √-scaled seeded centroids for the blocked tier; pass trained ones
    (:func:`ivf_fit_centroids` / :func:`fit_centroids_offline`) for
    balanced blocks on clustered corpora."""
    if method == "exact":
        return exact_cosine_pairs(
            df, threshold, id_col, vec_col, round_digits,
            allow_quadratic=allow_quadratic, quadratic_cap=quadratic_cap,
        )
    if method != "blocked":
        raise ValueError(f"unknown embedding_near_dup method {method!r}")
    if centroids is None:
        dim = len(df.select(vec_col).first()[0])
        centroids = seeded_centroids(k=64, dim=dim)
    return blocked_cosine_pairs(
        df, centroids, threshold, id_col, vec_col, round_digits, n_assign
    )


def fit_centroids_offline(
    parquet_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 64,
    sample_cap: int = 4096,
    iters: int = 5,
    seed: int = _SEED,
) -> list[list[float]]:
    """Spherical k-means WITHOUT a SparkSession: read a bounded,
    deterministic sample (lowest ``id_col`` values) straight from
    parquet with pyarrow and run the same numpy loop as
    :func:`ivf_fit_centroids`.  This is the offline 'train the coarse
    quantizer once' step of a production IVF layout: because it runs
    at plan-AUTHORING time (e.g. module import), the fitted centroids
    become literal constants shared verbatim by the Spark plan and
    any SQL oracle replaying it — a trained quantizer with the same
    replayability as a seeded one.  Falls back to the caller's
    error-handling if the file is absent."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    order = np.argsort(t[id_col].to_numpy(), kind="stable")[:sample_cap]
    x = np.array(
        [t[vec_col][int(i)].as_py() for i in order], dtype=np.float64
    )
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def blocked_cosine_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_assign: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs at scale: centroid BLOCKING turns the
    O(n²) all-pairs cosine into Σ block² — assign map-side, pair only
    within a block (one shuffle on narrow (id, cid) rows), verify
    exact cosine ≥ ``threshold``.  Trades recall (cross-block pairs
    are unseen) for a bounded join, the semantic-dedup analog of
    MinHash banding; ``n_assign`` > 1 assigns each vector to its n
    closest blocks (candidate volume ≈ ×n², recall strictly
    non-decreasing — the knob tested in
    test_blocked_multi_assign_recall).  Deterministic given the
    centroids, so the whole pipeline is SQL-replayable."""
    df = spread_to_parallelism(df)
    if n_assign == 1:
        asg = centroid_assign(df, centroids, id_col, vec_col, round_digits)
    else:
        asg = centroid_assign_multi(
            df, centroids, n_assign, id_col, vec_col, round_digits
        )
    # Both sides of the self-join reference the assignment: persist it
    # so the k-centroid argmax pass (the map-side cost that grows with
    # the centroid count) runs once, not once per side.  Narrow
    # (id, cid) rows — the cheap thing to cache.
    asg = track(asg.persist())
    a, b = asg.alias("a"), asg.alias("b")
    cand = a.join(
        b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if n_assign > 1:  # a pair can share several blocks under multi-assign
        cand = cand.dropDuplicates(["id_a", "id_b"])
    # Norms precomputed per vector (n sqrt-folds map-side): the pair
    # stage does one dot fold instead of three; dot/(na*nb) evaluates
    # the identical double sequence as the per-pair cosine, so SQL
    # replays still hash-match (see exact_cosine_pairs).
    va = df.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")
    ).select("id_a", "va", norm(F.col("va")).alias("na"))
    vb = df.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    ).select("id_b", "vb", norm(F.col("vb")).alias("nb"))
    # The verify dot stays a JVM fold: an Arrow/numpy batch variant
    # was built and MEASURED — candidate volume after blocking is
    # tiny at bench scale (981 pairs at sf0.1), so the Python stage's fixed boundary cost regressed
    # dedup_semantic_groups 3.7 → 4.7 s and was reverted; the
    # map-side ASSIGNMENT pass was the real cost and is vectorized
    # instead (see _assign_frame / _centroid_dots_udf).
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# ------------------------------------------- JL random projection


def jl_signs(in_dim: int, out_dim: int, seed: int = _SEED) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix
    (Achlioptas '01: Rademacher entries preserve pairwise distances
    in expectation exactly like Gaussian ones).  Entry (i, j) is the
    low bit of md5(f"{seed}:{i}:{j}") — a pure function of the seed,
    so the matrix is a compile-time literal shared verbatim by the
    Spark plan and the SQL oracle (the PQ-codebook pattern), and any
    engine can regenerate it."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1
            for j in range(out_dim)
        ]
        for i in range(in_dim)
    ]


def random_project(
    df: DataFrame,
    signs: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project each embedding onto ``out_dim`` Rademacher directions —
    the dimensionality-reduction stage a 100 TB embedding pipeline
    runs before ANN indexing / blocked near-dup (JL lemma: pairwise
    distances survive within 1±ε at out_dim = O(log n / ε²), while
    index memory and every downstream dot product shrink by
    in_dim/out_dim).

    Exact integers end to end: vectors quantize to micro-units and
    the matrix entries are ±1, so each output coordinate is a plain
    int64 sum — bit-identical across engines and partitionings
    (unscaled: the 1/√out_dim normalization is a global constant that
    cannot change any distance ordering, so it is left to consumers
    that need calibrated magnitudes).

    Returns long-format (vec_id, dim, value_micro): one fold per
    output dim over the zipped (vector, sign-column) arrays — pure
    map-side codegen, zero shuffles, zero Python.
    """
    from ctgov_ai_etl_spark.operators.clustering import quantize

    in_dim, out_dim = len(signs), len(signs[0])
    v = quantize(F.col(vec_col))
    projs = []
    for j in range(out_dim):
        sj = F.array(*[F.lit(signs[i][j]) for i in range(in_dim)])
        projs.append(
            F.aggregate(
                F.zip_with(v, sj, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    return df.select(
        F.col(id_col).alias("vec_id"), F.posexplode(F.array(*projs)).alias("dim", "value_micro")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "value_micro")


def random_project_oracle_sql(
    signs: list[list[int]], table: str = "embeddings"
) -> str:
    """DuckDB replay of :func:`random_project` from the same sign
    literals: per-dim list_dot_product (exact — every term integer,
    < 2⁵³) unnested to the long format via a range cross join."""
    from ctgov_ai_etl_spark.operators.clustering import SQL_QUANTIZE

    out_dim = len(signs[0])
    cols = ", ".join(
        "CAST(list_dot_product(v, ["
        + ", ".join(str(row[j]) for row in signs)
        + "]) AS BIGINT)"
        for j in range(out_dim)
    )
    quant = SQL_QUANTIZE.format(col="embedding")
    return f"""WITH q AS (SELECT vec_id, {quant} AS v FROM {table}),
    p AS (SELECT vec_id, [{cols}] AS pr FROM q)
    SELECT vec_id, CAST(d.i - 1 AS INT) AS dim, pr[d.i] AS value_micro
    FROM p CROSS JOIN range(1, {out_dim + 1}) d(i)"""


# ------------------------------------------- SemDeDup pruning


def centroid_assign_with_sim(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, cid, centroid_sim): the :func:`centroid_assign` argmax plus
    the winning (rounded) cosine itself — the per-example
    'closeness to centroid' signal SemDeDup's keep policy ranks on.
    Same tie rule (first index of the max = lowest cluster id), still
    one map-side pass."""
    return _assign_frame(df, centroids, id_col, vec_col, round_digits).select(
        "id",
        (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
        .cast("int")
        .alias("cid"),
        F.array_max(F.col("__sims")).alias("centroid_sim"),
    )


def semantic_prune(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication = cluster the embedding corpus, find near-duplicate
    pairs WITHIN each cluster, and of every duplicate pair KEEP the
    example farther from its centroid (the 'hard' one — pruning easy
    redundant examples is what improves downstream training).  Returns
    the RETAINED corpus as (id, cid, centroid_sim).

    Policy, made deterministic: a vector is pruned iff some same-block
    near-dup (cosine ≥ ``threshold``) is STRICTLY farther from the
    centroid (lower rounded ``centroid_sim``), or equally far with a
    lower id.  On a fully-connected duplicate group this keeps exactly
    the paper's pick (the minimum-centroid-sim member, lowest id on
    ties); on a chain a~b~c without a~c the pairwise relaxation may
    keep both endpoints — callers wanting group-exact semantics feed
    the pair set through ``connected_components`` + keep-best instead.

    100 TB shape: assignment is map-side against broadcast centroid
    literals; the only data-sized shuffles are the within-block pair
    join (Σ block², see :func:`blocked_cosine_pairs`) and one anti-join
    of the corpus against the dominated-id set.  Deterministic given
    the centroids, so the full cluster→pair→prune pipeline is
    SQL-replayable (``semantic_prune_oracle_sql``)."""
    # Persist the (id, cid, centroid_sim) assignment: THREE branches
    # reference it (both keep-policy join sides + the final anti-join),
    # and since r16 the per-row centroid dots run through one Arrow
    # batch stage (_centroid_dots_udf) — without the persist each
    # branch would re-run that whole map pass (narrow rows; the same
    # rationale as blocked_cosine_pairs' internal assignment persist).
    asg = track(
        centroid_assign_with_sim(df, centroids, id_col, vec_col, round_digits)
        .persist()
    )
    pairs = blocked_cosine_pairs(
        df, centroids, threshold, id_col, vec_col, round_digits
    )
    ka = asg.select(F.col("id").alias("id_a"), F.col("centroid_sim").alias("cs_a"))
    kb = asg.select(F.col("id").alias("id_b"), F.col("centroid_sim").alias("cs_b"))
    # pairs carry id_a < id_b, so the tie rule "equally far, lower id
    # wins" prunes id_b on equal sims.
    dominated = (
        pairs.join(ka, "id_a")
        .join(kb, "id_b")
        .select(
            F.when(F.col("cs_a") > F.col("cs_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id")
        )
        .distinct()
    )
    return asg.join(dominated, "id", "left_anti").select(
        F.col("id").alias(id_col), "cid", "centroid_sim"
    )


def semantic_prune_oracle_sql(
    centroids: list[list[float]], threshold: float, table: str = "embeddings"
) -> str:
    """DuckDB replay of :func:`semantic_prune` from the same centroid
    constants: round-before-argmax assignment (ties to lowest cid),
    within-block pairs with exact cosine verify, CASE-pick the
    dominated endpoint, anti-join the corpus."""
    rows = ",\n      ".join(
        f"({cid}, [" + ",".join(repr(x) for x in c) + "])"
        for cid, c in enumerate(centroids)
    )
    ccos = (
        "round(list_dot_product(e.v, c.cvec)"
        " / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    abcos = (
        "round(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
    WITH cents AS (
      SELECT cid, CAST(cvec AS DOUBLE[]) AS cvec
      FROM (VALUES
      {rows}
      ) c(cid, cvec)
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    ranked AS (
      SELECT e.vec_id, c.cid, {ccos} AS s,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {ccos} DESC, c.cid ASC) AS rn
      FROM corpus e CROSS JOIN cents c
    ),
    asg AS (SELECT vec_id, cid, s AS centroid_sim FROM ranked WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.centroid_sim AS cs_a, b.centroid_sim AS cs_b
      FROM asg a
      JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN corpus x ON x.vec_id = a.vec_id
      JOIN corpus y ON y.vec_id = b.vec_id
      WHERE {abcos} >= {threshold}
    ),
    dom AS (
      SELECT DISTINCT CASE WHEN cs_a > cs_b THEN id_a ELSE id_b END AS vec_id
      FROM pairs
    )
    SELECT a.vec_id, CAST(a.cid AS INT) AS cid, a.centroid_sim
    FROM asg a ANTI JOIN dom d ON a.vec_id = d.vec_id
    """


def semantic_incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """STEADY-STATE semantic dedup: match an INCOMING embedding batch
    against the EXISTING corpus — the embedding-tier twin of
    ``minhash_incremental_dedup`` (same production shape: dedup the
    corpus once, check every new crawl against it, never all-pairs
    over the union again).

    Returns (id [incoming], dup_of [min matching existing id],
    cos_sim [of that pair]) for every incoming vector with some
    existing near-dup at cosine ≥ ``threshold``; anti-joining
    ``incoming`` on the result admits only semantically novel
    vectors.

    Scale shape: both sides assign map-side against broadcast
    centroid literals; the ONLY cross-side work is the equi-join on
    cluster id with the batch side BROADCAST (batches are small next
    to a 100 TB corpus), so the corpus store is probed in place —
    with the store's (id, cid) table persisted partitioned by cid,
    each increment pays only its own assignment pass.  Deterministic
    given the centroids → SQL-replayable."""
    existing = spread_to_parallelism(existing)
    incoming = spread_to_parallelism(incoming)
    asg_e = centroid_assign(existing, centroids, id_col, vec_col, round_digits)
    asg_i = centroid_assign(incoming, centroids, id_col, vec_col, round_digits)
    cand = (
        asg_e.select(F.col("id").alias("eid"), "cid")
        .join(
            F.broadcast(asg_i.select(F.col("id").alias("iid"), "cid")), "cid"
        )
        .select("iid", "eid")
    )
    vi = incoming.select(
        F.col(id_col).alias("iid"), _as_double(F.col(vec_col)).alias("vi")
    ).select("iid", "vi", norm(F.col("vi")).alias("ni"))
    ve = existing.select(
        F.col(id_col).alias("eid"), _as_double(F.col(vec_col)).alias("ve")
    ).select("eid", "ve", norm(F.col("ve")).alias("ne"))
    sim = F.round(
        dot(F.col("vi"), F.col("ve")) / (F.col("ni") * F.col("ne")), round_digits
    )
    hits = (
        cand.join(F.broadcast(vi), "iid")
        .join(ve, "eid")
        .select("iid", "eid", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    # deterministic dup target: the MINIMUM matching existing id
    # (struct-min on unique eids carries its cos along exactly)
    return (
        hits.groupBy("iid")
        .agg(F.min(F.struct("eid", "cos_sim")).alias("m"))
        .select(
            F.col("iid").alias(id_col),
            F.col("m.eid").alias("dup_of"),
            F.col("m.cos_sim").alias("cos_sim"),
        )
    )


def semantic_incremental_oracle_sql(
    centroids: list[list[float]],
    threshold: float,
    split_bucket: int,
    table: str = "embeddings",
) -> str:
    """DuckDB replay of :func:`semantic_incremental_dedup` over the
    md5-bucket corpus split used by the registered query."""
    rows = ",\n      ".join(
        f"({cid}, [" + ",".join(repr(x) for x in c) + "])"
        for cid, c in enumerate(centroids)
    )
    ccos = (
        "round(list_dot_product(e.v, c.cvec)"
        " / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    iecos = (
        "round(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
    WITH cents AS (
      SELECT cid, CAST(cvec AS DOUBLE[]) AS cvec
      FROM (VALUES
      {rows}
      ) c(cid, cvec)
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 AS bkt
      FROM {table}
    ),
    ranked AS (
      SELECT e.vec_id, e.bkt, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {ccos} DESC, c.cid ASC) AS rn
      FROM corpus e CROSS JOIN cents c
    ),
    asg AS (SELECT vec_id, bkt, cid FROM ranked WHERE rn = 1),
    hits AS (
      SELECT i.vec_id AS iid, e.vec_id AS eid, {iecos} AS cos_sim
      FROM asg i
      JOIN asg e ON i.cid = e.cid
      JOIN corpus x ON x.vec_id = i.vec_id
      JOIN corpus y ON y.vec_id = e.vec_id
      WHERE i.bkt >= {split_bucket} AND e.bkt < {split_bucket}
        AND {iecos} >= {threshold}
    )
    SELECT iid AS vec_id, eid AS dup_of, cos_sim FROM (
      SELECT iid, eid, cos_sim,
             row_number() OVER (PARTITION BY iid
                                ORDER BY eid ASC) AS rn
      FROM hits
    ) WHERE rn = 1
    """
