"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine.

Everything here is **pure DataFrame algebra** — shingling, minhash
signatures, banding, simhash bit-vectors are all built-in higher-order
/ hash functions (whole-stage codegen, no Python in the hot path).
The scale story for every near-dup operator is the same LSH shape:

    per-row signature (map-side, no shuffle)
      → explode to (bucket_key, id)
      → shuffle ONCE on bucket_key
      → within-bucket self-join (bucket sizes are bounded w.h.p.)
      → verify candidates exactly

so the cross-join that would be O(n²) at 100 TB becomes
O(Σ bucket²) with a single shuffle, the standard MinHash-LSH layout
(Broder '97; Leskovec et al., MMDS ch.3).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.cache import track

# Mersenne prime 2^31 - 1: modulus for the universal-hash permutation
# family h_j(x) = (a_j*x + b_j) mod P. With a, x < 2^31 the product
# stays under 2^62 — inside signed-long range, so the expression is
# ANSI-safe (Spark 4 enables ANSI overflow checking by default) while
# the 31-bit hash space is still ≫ any shingle-set size.
_P = (1 << 31) - 1
_SEED = 42

#: Edge budget for the driver union-find tier of
#: :func:`connected_components` (read at CALL time; ``driver_cap=0``
#: forces the distributed tier): 500k edges of two 8-byte ids ≈ tens
#: of MB collected, the ballpark every broadcast in this engine
#: already implies; graphs past the cap take the distributed
#: label-prop/star path unchanged.
_CC_DRIVER_CAP = 500_000


def _materialize(df: DataFrame) -> DataFrame:
    """Persist a small reused intermediate (the deduped signature/set
    table): downstream, FOUR branches reference it (bucket explode,
    both join sides' payload re-attach, intra-clique pairs) and the
    physical plan showed zero ReusedExchange — without caching each
    branch re-runs the full scan → shingle → hash pipeline.  Measured
    cold at sf0.1: minhash 14.4 → 9.7 s, jaccard 10.4 → 7.1 s.
    ``persist`` beat localCheckpoint (9.7 vs 10.4) because the first
    computing job populates blocks that same-job sibling stages reuse.
    MEMORY_AND_DISK default spills rather than OOMs; the table is
    n_distinct × ~0.5 KB — what you'd cache on a cluster anyway.
    Entries are tracked (:mod:`ctgov_ai_etl_spark.operators.cache`):
    they live until the caller's ``cache.release_all()`` barrier."""
    return track(df.persist())


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    rng = random.Random(_SEED)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]


def base_hash31(col: Column, method: str = "xxhash64") -> Column:
    """Shingle base hash in [0, P).  ``xxhash64`` is the fast internal
    default; ``md5`` (first 8 hex chars → 32-bit int, mod P) is
    byte-identical across engines — DuckDB replays it as
    ``CAST(('0x'||substring(md5(s),1,8)) AS BIGINT) % P`` — which is
    what makes the registered minhash query fully oracle-checkable
    instead of rows-only."""
    if method == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"), F.lit(_P)
        )
    return F.pmod(F.xxhash64(col), F.lit(_P))


def hash64_signed(col: Column, method: str = "xxhash64") -> Column:
    """Full-width signed 64-bit hash.  ``md5`` = first 16 hex chars
    interpreted as a signed long (``conv(..., 16, -10)``), replayable
    in DuckDB from the two 8-hex halves with HUGEINT wrap-around —
    verified bit-equal including negatives."""
    if method == "md5":
        return F.conv(F.substring(F.md5(col), 1, 16), 16, -10).cast("long")
    return F.xxhash64(col)


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-character shingles of ``text`` (set semantics, as
    MinHash requires).  Order-sensitive: near-dup under char shingles
    means same words in (mostly) the same sequence."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, k)))


def token_shingles(text: Column, n: int = 1) -> Column:
    """Distinct word n-grams of ``text``.  With n=1 this is the token
    set — the right notion when similarity should ignore word order
    (bag-of-words near-dup); n≥2 re-introduces local order.

    The n≥2 form binds the split ONCE as a lambda variable (the
    single-element-array + transform trick): a lambda body that
    referenced the ``split`` subtree directly would re-evaluate it per
    position — Catalyst does not CSE across lambda invocations —
    making tokenization O(words²) per document (measured: the bigram
    document-frequency pass dropped ~5× at sf0.1 from this binding).
    """
    toks = F.split(text, r"\s+")
    if n == 1:
        return F.array_distinct(toks)

    def ngrams(words: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
        )

    return F.element_at(F.transform(F.array(toks), ngrams), 1)


def _minhash_sig_udf(num_hashes: int):
    """Vectorized minhash signature: pandas UDF mapping the per-row
    base-hash array (int64 in [0, P)) to the ``num_hashes``-long
    signature array.

    Arithmetic is IDENTICAL to the JVM fold it replaces
    (``array_min(transform(bh, h -> (a*h + b) % P))`` per permutation):
    a, h < 2^31 so a*h + b < 2^62 + 2^31 — no overflow in int64 for
    either engine, and ``%`` on non-negative operands equals ``pmod``.
    What changes is only the execution: the JVM form walks the base
    array once per permutation through interpreted higher-order
    expressions (64 walks/row — the dominant cost of the LSH queries,
    measured ~60-70%% of dedup_minhash_lsh at sf0.1); here all rows of
    an Arrow batch are flattened into ONE numpy vector and each
    permutation is a vectorized multiply-add-mod + segmented min
    (``np.minimum.reduceat``) — guide §4.2 (hand whole batches to
    native code).  Per-permutation looping keeps peak memory at one
    flat copy instead of a (num_hashes × total_tokens) matrix.

    NULL/empty handling matches the expression form: a NULL base array
    yields [NULL]*num_hashes (transform(NULL) → NULL per slot), and an
    empty array yields the same (array_min([]) → NULL).  Both are
    unreachable for the tokenizers used here (split("") == [""]), but
    the contract is preserved regardless.
    """
    from pyspark.sql import types as T

    params = _hash_params(num_hashes)
    a_list = [p[0] for p in params]
    b_list = [p[1] for p in params]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(col: pd.Series) -> pd.Series:
        vals = col.to_numpy(dtype=object)
        n = len(vals)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in vals), np.int64, count=n
        )
        null_sig = [None] * num_hashes
        if not lens.any():
            return pd.Series([null_sig] * n)
        flat = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in vals if v is not None and len(v)]
        )
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        # reduceat over the NON-EMPTY rows' true start offsets only:
        # these are strictly increasing and all < len(flat), so every
        # segment is exact.  (Clipping dummy offsets for empty rows
        # instead would silently corrupt the PRECEDING row's segment —
        # reduceat reduces m[i_k : i_{k+1}].)  Empty/NULL rows are
        # masked to the NULL signature afterward.
        good = lens > 0
        ne_idx = np.flatnonzero(good)
        ne_offsets = offsets[ne_idx]
        a = np.asarray(a_list, dtype=np.int64)
        b = np.asarray(b_list, dtype=np.int64)
        mins = np.empty((len(ne_idx), num_hashes), dtype=np.int64)
        for j in range(num_hashes):
            mins[:, j] = np.minimum.reduceat((a[j] * flat + b[j]) % _P, ne_offsets)
        out: list = [null_sig] * n
        for row, i in enumerate(ne_idx):
            out[i] = mins[row].tolist()
        return pd.Series(out)

    return sig


def minhash_incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 1,
    threshold: float = 0.8,
    shingle: str = "token",
    hash_method: str = "md5",
) -> DataFrame:
    """STEADY-STATE dedup: match an INCOMING batch against an EXISTING
    corpus — the production shape at 100 TB, where the corpus is
    deduped once and every new crawl/delivery is checked against it
    (never all-pairs over the union again).

    Returns (``id_col`` [incoming], dup_of [min matching existing id],
    est_jaccard [of that pair]) for every incoming doc whose estimated
    Jaccard against some existing doc reaches ``threshold``;
    anti-joining ``incoming`` on the result admits only novel docs.

    Scale shape: signatures are map-side per side; the ONLY cross-side
    work is the band-bucket equi-join on narrow (band, bucket) keys —
    incoming batches are small next to the corpus, so the incoming
    band table broadcasts and the EXISTING store is probed in place.
    In production the existing side's (id, sig, band, bucket) table is
    PERSISTED (partitioned by bucket — the signature-store analog of
    `ivf_topk_partitioned`) and each increment pays only its own
    signature pass; it is recomputed here because testdata is static.
    Same md5-replayable pipeline as :func:`minhash_lsh_pairs`, so a
    SQL oracle reproduces candidate membership exactly.
    """
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    rows = num_hashes // bands
    mk = char_shingles if shingle == "char" else token_shingles

    def sigs_of(df: DataFrame) -> DataFrame:
        df = spread_to_parallelism(df)  # signature folds are CPU-bound
        base = df.select(
            F.col(id_col).alias("id"),
            F.transform(
                mk(F.col(text_col), shingle_k),
                lambda s: base_hash31(s, hash_method),
            ).alias("bh"),
        )
        # vectorized permutation minimums (see _minhash_sig_udf)
        return base.select(
            "id", _minhash_sig_udf(num_hashes)(F.col("bh")).alias("sig")
        )

    sig_e = _materialize(sigs_of(existing))
    sig_i = _materialize(sigs_of(incoming))

    def band_value(b: int) -> Column:
        joined = F.concat_ws(
            ",", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
        )
        return joined if hash_method == "md5" else F.xxhash64(joined)

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_value(b).alias("bucket"))
            for b in range(bands)
        ]
    )

    def bands_of(s: DataFrame, out: str) -> DataFrame:
        return s.select(F.col("id").alias(out), F.explode(band_structs).alias("bb")).select(
            out, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    # The broadcast hint ENFORCES the stated shape (incoming batch is
    # the small side; the existing store is probed in place without a
    # shuffle) instead of hoping AQE promotes it — an incoming batch
    # over the 10 MB autoBroadcast threshold would otherwise silently
    # shuffle the whole signature store.  Batches too big to broadcast
    # should be split by the caller, not shuffled against the corpus.
    cand = (
        F.broadcast(bands_of(sig_i, "doc_id"))
        .join(bands_of(sig_e, "ex_id"), ["band", "bucket"])
        .select("doc_id", "ex_id")
        .distinct()
    )
    est = (
        cand.join(sig_i.select(F.col("id").alias("doc_id"), F.col("sig").alias("si")), "doc_id")
        .join(sig_e.select(F.col("id").alias("ex_id"), F.col("sig").alias("se")), "ex_id")
        .select(
            "doc_id",
            "ex_id",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("si"), F.col("se"), lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    # min(struct) = lowest existing id (deterministic dup target) with
    # ITS estimate — (doc_id, ex_id) is unique post-distinct.
    best = est.groupBy("doc_id").agg(F.min(F.struct("ex_id", "est_jaccard")).alias("b"))
    return best.select(
        F.col("doc_id").alias(id_col),
        F.col("b.ex_id").alias("dup_of"),
        F.col("b.est_jaccard").alias("est_jaccard"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    shingle: str = "char",
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs with MinHash-estimated Jaccard
    ≥ ``threshold``.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.  Banding:
    ``bands`` bands of ``num_hashes/bands`` rows; a pair collides iff
    some band matches exactly — P(collide) ≈ 1-(1-j^r)^b, tuned so the
    curve's knee sits near ``threshold``.  ``shingle`` picks the
    similarity notion: 'char' (order-sensitive k-char shingles) or
    'token' (word n-grams; k=1 → bag-of-words).  ``hash_method='md5'``
    makes the whole pipeline engine-replayable (see
    :func:`base_hash31`): base hashes come from md5 and band buckets
    use the exact band value instead of a 64-bit hash, so the DuckDB
    oracle can reproduce candidate membership exactly (a hashed bucket
    could collide two different band values and emit a pair no exact
    replay would produce).
    """
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    df = spread_to_parallelism(df)  # signature folds are CPU-bound
    rows = num_hashes // bands
    mk = char_shingles if shingle == "char" else token_shingles
    # Materialize the base-hash array as a real column FIRST: the 64
    # permutation minimums all reference one attribute, so shingling +
    # hashing happen once per row. Inlining the whole tree would make
    # Catalyst expand (and re-evaluate) the shingle scan per
    # permutation — measured 100× slower.
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(mk(F.col(text_col), shingle_k), lambda s: base_hash31(s, hash_method)).alias(
            "base_hashes"
        ),
    )
    # Permutation minimums run as ONE vectorized numpy batch per Arrow
    # chunk (identical int64 arithmetic — see _minhash_sig_udf) instead
    # of 64 interpreted array walks per row.
    with_sig = base.select(
        "id", _minhash_sig_udf(num_hashes)(F.col("base_hashes")).alias("sig")
    )

    # Dedup-first: duplicate-heavy corpora produce many identical
    # signatures; collapsing them before banding turns m-doc cliques
    # (m² candidate pairs, all est=1.0 by construction) into single
    # signature rows. Intra-clique pairs are emitted directly.
    sig_groups = _materialize(
        with_sig.groupBy("sig").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    # 128-bit md5 group key: at 100 TB there are billions of distinct
    # signatures, where a 64-bit key has birthday-bound collisions that
    # would silently merge unrelated groups; 128 bits pushes the
    # collision probability below any practical concern.
    with_sig = sig_groups.select(
        F.md5(F.concat_ws(",", F.transform("sig", lambda s: s.cast("string")))).alias("id"),
        "sig",
        "ids",
    )
    intra = (
        sig_groups.filter(F.size("ids") >= 2)
        .select("ids", F.explode("ids").alias("id_a"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("est_jaccard"))
    )

    def band_value(b: int) -> Column:
        joined = F.concat_ws(
            ",", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
        )
        # md5 mode keys buckets on the EXACT band value (string) so the
        # oracle's band-equality replay matches candidate membership
        # 1:1; default mode keeps the narrower 64-bit hashed key.
        return joined if hash_method == "md5" else F.xxhash64(joined)

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_value(b).alias("bucket"))
            for b in range(bands)
        ]
    )
    buckets = with_sig.select("id", "sig", F.explode(band_structs).alias("bb")).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # Candidate generation over BARE ids: a near-dup clique collides in
    # every band, so carrying the 64-long signatures through the join +
    # dedup would shuffle O(pairs × bands × sig) bytes. Join ids only,
    # dedup the 16-byte pairs, then re-attach signatures from the
    # (small) signature table.
    slim = buckets.select("id", "band", "bucket")
    a, b = slim.alias("a"), slim.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in many bands
    )
    sig_a = with_sig.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), F.col("ids").alias("ids_a")
    )
    sig_b = with_sig.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), F.col("ids").alias("ids_b")
    )
    # no broadcast hint: the signature table is ~n_distinct_sigs rows
    # (small for dup-heavy corpora, corpus-sized otherwise) — AQE
    # promotes the join to broadcast at runtime when it fits.
    pairs = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda m: m == 1,
        )
    )
    est = (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard")
    inter = (
        pairs.select("ids_a", "ids_b", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.explode("ids_a").alias("ia"), "ids_b", "est_jaccard")
        .select("ia", F.explode("ids_b").alias("ib"), "est_jaccard")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "est_jaccard",
        )
    )
    return intra.unionByName(inter)


def token_hashes(text: Column, hash_method: str = "xxhash64") -> Column:
    """64-bit hash of each distinct whitespace token of ``text``
    (``md5`` method = engine-replayable, see :func:`hash64_signed`)."""
    return F.transform(
        F.array_distinct(F.split(text, r"\s+")),
        lambda t: hash64_signed(t, hash_method),
    )


def simhash_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from a token-hash array: sum ±1 per bit over the
    hashes, then reassemble the sign vector — all array/bit built-ins,
    no UDF.

    ONE fold with an array-of-64-counters state, not 64 separate
    per-bit folds: the unrolled form re-walked the hash array 64× and,
    worse, its ~64-aggregate expression tree cost seconds of Janino
    codegen compile per query (the dominant cost of a short-running
    job; measured 27.7 s → <0.1 s warm, ~1 s cold at sf0.01).  The
    input is referenced exactly once, so the expression is safe to
    inline — no CSE hazard.
    """
    bits = F.sequence(F.lit(0), F.lit(63))
    # balances[b] = (#hashes with bit b set) - (#hashes without)
    balances = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bits,
                lambda b: F.when(
                    F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            ),
            lambda x, y: x + y,
        ),
    )
    # Pack sign bits; shiftleft wraps at b=63 to Long.MIN_VALUE —
    # exactly the sign bit we want, and bitwise OR cannot overflow.
    return F.aggregate(
        F.zip_with(
            balances,
            bits,
            lambda bal, b: F.when(
                bal > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, w: acc.bitwiseOR(w),
    )


def simhash64(text: Column, hash_method: str = "xxhash64") -> Column:
    """SimHash of the whitespace tokens of ``text`` — a single
    expression (each sub-result is referenced once, so inlining is
    CSE-safe, unlike the minhash signature family)."""
    return simhash_from_hashes(token_hashes(text, hash_method))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Chunk-banding: split the 64-bit hash into ``max_hamming+1`` chunks;
    by pigeonhole any pair within distance ``max_hamming`` agrees on at
    least one full chunk → equi-join per chunk, then verify exactly
    with bit_count(xor).  One shuffle on (chunk_id, chunk_value).
    The chunk join is EXHAUSTIVE for distance ≤ ``max_hamming``
    (pigeonhole; proven by the planted-corpus test), so the output
    equals the all-pairs Hamming filter — which is exactly what the
    DuckDB oracle replays when ``hash_method='md5'`` makes the
    signatures engine-reproducible.
    """
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    df = spread_to_parallelism(df)  # simhash bit-folds are CPU-bound
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    with_sim = df.select(
        F.col(id_col).alias("id"),
        simhash64(F.col(text_col), hash_method).alias("simhash"),
    )

    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("simhash", c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for c in range(n_chunks)
        ]
    )
    b = with_sim.select("id", "simhash", F.explode(chunks).alias("cc")).select(
        "id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val")
    )
    left, right = b.alias("a"), b.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def jaccard_token_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6,
    ngram: int = 1, spanning: bool = False,
) -> DataFrame:
    """EXACT token-set Jaccard pairs with similarity ≥ ``threshold``
    via **prefix filtering** (PPJoin-style, Xiao et al. '08): order
    each document's tokens rarest-first (global document frequency),
    keep only the first ``⌊(1-t)·n⌋+1`` tokens as the join prefix —
    any pair with Jaccard ≥ t MUST share a prefix token — then verify
    candidates exactly with array_intersect.

    Same results as the naive token self-join (the DuckDB oracle runs
    the naive form), but the join explodes on rare prefix tokens
    instead of the whole (skewed) vocabulary: at t=0.95 the prefix is
    ~5% of each document, and ultra-common tokens never enter the
    join — this is what keeps the shuffle bounded at 100 TB.

    ``spanning=True`` emits a CONNECTIVITY-EXACT spanning subset of
    the pair graph instead of every pair: identical-set cliques
    become a min-id STAR (hub = smallest id, m−1 spokes instead of
    m²/2 edges — a star, not a chain, so the clique's graph diameter
    stays 2 and iterative CC doesn't inherit an O(m)-diameter path)
    and each qualifying distinct-set pair contributes ONE
    representative edge (min-id of each side) instead of |A|·|B|.
    Same connected components as the full graph — every clique
    member touches the hub, and any A-member is jaccard-1-connected
    to A's representative — so CC consumers (dedup_components,
    dedup_keep_best) get bit-identical clusters while the worst case
    collapses from quadratic to linear: a 10⁶-copy boilerplate
    clique is 10⁶−1 edges, not 10¹²/2.  NOT for consumers that need
    the pair LIST itself (dedup_jaccard_pairs' contract).
    """
    from ctgov_ai_etl_spark.operators.limits import (
        global_rank_with_count,
        spread_to_parallelism,
    )

    df = spread_to_parallelism(df)  # shingling/encoding is CPU-bound
    # ngram=1 is the bag-of-words token set; ngram>=2 compares word
    # n-gram sets, re-introducing local order sensitivity
    #
    # The tokenized frame is materialized ONCE: three downstream
    # branches re-tokenize otherwise — the vocabulary probe job
    # (explode → df count), the per-doc metadata (fp, n), and the
    # dictionary-encode join — and tokenization is the operator's most
    # expensive map-side pass (ngram ≥ 2 especially).  One (id, toks)
    # row per document, the same thing a production dedup keeps cached
    # between stages; the probe job below doubles as the cache fill.
    toks = _materialize(
        df.select(
            F.col(id_col).alias("id"),
            token_shingles(F.col(text_col), ngram).alias("toks"),
        )
    )
    # Per-doc metadata is map-side: the TRUE set size (jaccard's union
    # term needs it — singletons count toward |A∪B| even though they
    # are dropped from the encoded arrays below) and the 128-bit set
    # fingerprint over the RAW canonical token sequence (to_json is an
    # unambiguous encoding; md5 is collision-safe at billions of
    # distinct sets — see the minhash group-key note).
    meta = toks.select(
        "id",
        F.md5(F.to_json(F.array_sort("toks"))).alias("fp"),
        F.size("toks").alias("n"),
    )
    exploded = toks.select("id", F.explode("toks").alias("tok"))
    # Dictionary-encode tokens as dense ints ordered rarest-first:
    # integer-array set ops in the verify stage are several-fold
    # cheaper than string arrays, and ascending tid order IS the
    # prefix-filter canonical order.  The dense rank comes from
    # ``global_rank`` (range-partition → local rank → count offsets),
    # NOT an unpartitioned row_number window — the vocabulary of a
    # 100 TB corpus is itself a large distributed table and must not
    # funnel through one reducer.  2^31 distinct tokens is far above
    # any real vocabulary, so the rank fits an int.
    #
    # Singleton (df=1) tokens are excluded BEFORE the rank: a token
    # shared by two DISTINCT sets occurs in ≥2 documents, so df ≥ 2 —
    # a df=1 token can witness neither a candidate pair nor an
    # intersection, only union size (tracked in ``meta.n``).  For
    # n-gram vocabularies (~n² tokens, overwhelmingly singletons) this
    # shrinks the expensive global rank, the dictionary broadcast, the
    # encoded arrays, and the prefix explode all at once — the rank no
    # longer pays for a tail it would immediately discard.
    # The non-singleton vocabulary is materialized before ranking:
    # global_rank's boundary-sampling and offset-count jobs would
    # otherwise each re-run the full tokenize → explode → count
    # lineage (the most expensive map-side pass in the operator); the
    # persisted frame is one narrow (tok, df) row per surviving
    # vocabulary entry — exactly the table you'd keep cached on a
    # cluster between dedup runs.
    dfreq = exploded.groupBy("tok").agg(F.count("*").alias("df"))
    filt = _materialize(dfreq.filter(F.col("df") >= 2))
    # A deduplicated, singleton-free vocabulary is usually SMALL (it
    # grows with distinct shared tokens, not corpus rows), so the rank
    # usually takes global_rank's driver tier: one bounded probe
    # instead of three job barriers.  Tie-breaks can't change results:
    # any consistent total order is a valid PPJoin canonical order,
    # and verification is exact.
    ranked_vocab, n_vocab = global_rank_with_count(filt, ["df", "tok"])
    vocab = ranked_vocab.select("tok", F.col("__pos").cast("int").alias("tid"))
    # Broadcast the dictionary only while it plausibly fits executor
    # memory; a web-scale vocabulary falls back to a shuffle join on
    # the token key (both sides already shuffle-sized).
    vocab_side = F.broadcast(vocab) if n_vocab <= 5_000_000 else vocab
    # Inner join drops singleton tokens from the encoded arrays; docs
    # made ENTIRELY of singletons disappear here and re-enter via the
    # left join below with an empty array (they can only pair with an
    # exact duplicate of themselves, which the fp grouping handles —
    # and exact duplicates force df ≥ 2, so such docs are unique).
    enc = (
        exploded.join(vocab_side, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("tid")).alias("sorted_toks"))
    )
    docs = meta.join(enc, "id", "left").select(
        "id",
        "fp",
        "n",
        F.coalesce("sorted_toks", F.array().cast("array<int>")).alias("sorted_toks"),
    )
    # ---- dedup-first: collapse identical token SETS before pairing.
    # Duplicate-heavy corpora (the whole point of dedup) have far
    # fewer distinct sets than documents; every identical-set clique
    # of size m would otherwise re-verify m² candidate pairs that are
    # all jaccard=1.0 by construction.
    sets = _materialize(
        docs.groupBy("fp").agg(
            F.first("sorted_toks").alias("sorted_toks"),
            F.first("n").alias("n"),
            F.sort_array(F.collect_list("id")).alias("ids"),
        )
    )
    # Vocabulary size is known (dictionary encoding above); when it
    # fits a few thousand bits, represent each token set as a packed
    # bitmap (array of 64-bit words) so the verify stage is popcounts
    # over ANDed longs instead of hash-set intersections — ~10× per
    # candidate pair. The singleton-free vocabulary makes this tier
    # reachable for much larger corpora than the raw token count
    # suggests. The dictionary count is free (global_rank_with_count).
    use_bitmap = n_vocab <= 4096
    nwords = max((n_vocab + 63) // 64, 1)
    n = F.col("n")
    # PPJoin prefix under the FULL rarest-first canonical order, where
    # the doc's singletons (rarest of all) occupy the first
    # n - size(sorted_toks) positions: the encoded part of a
    # prefix_len_full = n - ⌈t·n⌉ + 1 prefix is its last
    # size(sorted_toks) - ⌈t·n⌉ + 1 elements.  Correctness: J ≥ t
    # forces overlap ≥ ⌈t·n⌉, all overlap tokens are encoded (df≥2),
    # and the encoded suffix beyond the prefix holds < ⌈t·n⌉ of them —
    # so any qualifying pair still shares an encoded prefix token.  A
    # non-positive length (possible when singletons dominate) means no
    # pair over the threshold exists for that set: empty prefix.
    prefix_len = (
        F.size("sorted_toks") - F.ceil(n * F.lit(threshold)).cast("int") + 1
    ).cast("int")
    cols = [
        "fp",
        "sorted_toks",
        "ids",
        "n",
        F.slice("sorted_toks", 1, F.greatest(prefix_len, F.lit(0))).alias("prefix"),
    ]
    if use_bitmap:
        mask = F.expr(
            f"transform(sequence(0, {nwords - 1}), w -> "
            "aggregate(filter(sorted_toks, t -> (t - 1) div 64 = w), 0L, "
            "(acc, t) -> acc | shiftleft(1L, int((t - 1) % 64))))"
        )
        cols.append(mask.alias("mask"))
    with_prefix = sets.select(*cols)

    # intra-clique pairs: jaccard = 1.0, no verification needed.
    # spanning mode: the min-id star replaces the m² explode (star,
    # not chain — keeps the clique's diameter at 2 for iterative CC).
    if spanning:
        spokes = F.expr(
            "transform(sequence(1, size(ids) - 1),"
            " i -> struct(ids[0] AS id_a, ids[i] AS id_b))"
        )
        intra = (
            sets.filter(F.size("ids") >= 2)
            .select(F.explode(spokes).alias("p"))
            .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard"))
        )
    else:
        intra = (
            sets.filter(F.size("ids") >= 2)
            .select("ids", F.explode("ids").alias("id_a"))
            .select("id_a", F.explode("ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
        )

    # inter-set candidates via prefix filtering (PPJoin guarantee:
    # jaccard ≥ t ⟹ the rarest-first prefixes intersect) PLUS the
    # PPJoin length filter: jaccard ≥ t also forces
    # min(|A|,|B|) ≥ t·max(|A|,|B|), so the size band rides along in
    # the join condition and kills cross-size candidates before the
    # dedup shuffle (4.6× fewer candidates on the bench corpus, and
    # the guard that keeps tiny-set × huge-set pairs out of the
    # shuffle at 100 TB). Join + dedup on bare set fingerprints,
    # token arrays re-attach afterwards.  Every encoded token has
    # df ≥ 2 by construction, so the whole prefix enters the join.
    pre = with_prefix.select("fp", "n", F.explode("prefix").alias("tok"))
    a, b = pre.alias("a"), pre.alias("b")
    cand_sets = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.fp") < F.col("b.fp"))
            & (F.col("a.n") * F.lit(threshold) <= F.col("b.n"))
            & (F.col("b.n") * F.lit(threshold) <= F.col("a.n")),
        )
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .dropDuplicates(["fp_a", "fp_b"])
    )
    # The verify denominators use the TRUE set sizes from ``meta.n``:
    # the encoded arrays/bitmaps are singleton-free, which never
    # changes |A∩B| (a singleton exists in exactly one document) but
    # does change |A| and |B|.
    if use_bitmap:
        pa = with_prefix.select(
            F.col("fp").alias("fp_a"), F.col("mask").alias("ma"),
            F.col("n").alias("n_a"), F.col("ids").alias("ids_a"),
        )
        pb = with_prefix.select(
            F.col("fp").alias("fp_b"), F.col("mask").alias("mb"),
            F.col("n").alias("n_b"), F.col("ids").alias("ids_b"),
        )
        n_inter = F.expr(
            "aggregate(zip_with(ma, mb, (x, y) -> bit_count(x & y)), 0, (acc, v) -> acc + v)"
        )
        jac = F.round(
            n_inter.cast("double") / (F.col("n_a") + F.col("n_b") - n_inter).cast("double"),
            9,
        )
    else:
        pa = with_prefix.select(
            F.col("fp").alias("fp_a"), F.col("sorted_toks").alias("ta"),
            F.col("n").alias("n_a"), F.col("ids").alias("ids_a"),
        )
        pb = with_prefix.select(
            F.col("fp").alias("fp_b"), F.col("sorted_toks").alias("tb"),
            F.col("n").alias("n_b"), F.col("ids").alias("ids_b"),
        )
        n_inter = F.size(F.array_intersect("ta", "tb"))
        jac = F.round(
            n_inter.cast("double") / (F.col("n_a") + F.col("n_b") - n_inter).cast("double"), 9
        )
    # no broadcast hint on the payload re-attach: the distinct-set table
    # is corpus-sized for low-duplication corpora (arrays/bitmaps in
    # tow), so a forced broadcast risks driver/executor OOM — AQE
    # promotes to broadcast at runtime when it actually fits.
    verified = (
        cand_sets.join(pa, "fp_a")
        .join(pb, "fp_b")
        .select("ids_a", "ids_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    if spanning:
        # One representative edge per qualifying set pair: min-id of
        # each side (ids are sort_array'd).  Every other member is
        # already chained to its representative by ``intra``.
        inter = verified.select(
            F.element_at("ids_a", 1).alias("ia"),
            F.element_at("ids_b", 1).alias("ib"),
            "jaccard",
        ).select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    else:
        inter = (
            verified.select(F.explode("ids_a").alias("ia"), "ids_b", "jaccard")
            .select("ia", F.explode("ids_b").alias("ib"), "jaccard")
            .select(
                F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"),
                "jaccard",
            )
        )
    return intra.unionByName(inter)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 50,
    star_handoff: int = 4,
    observation=None,
    driver_cap: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that
    turns pairwise matches into duplicate CLUSTERS (pairs are not
    transitive; cluster-then-keep-one is; every production dedup
    pipeline needs this after LSH/Jaccard pair generation).

    Iterative min-label propagation: every vertex starts labeled with
    its own id; each round takes the min of its own label and its
    neighbors' labels. Labels are monotone non-increasing, so the
    fixpoint (min id reachable = component id) arrives within
    graph-diameter rounds — near-dup graphs are unions of dense
    clusters, so diameter is small. Each round is ONE shuffle: the
    (id, nbr) edge list joined to the narrow (id, label) table.
    ``localCheckpoint`` truncates the growing lineage per round
    (iterative-join hygiene); convergence is detected by the monotone
    label sum — a cheap aggregate, no extra join.

    DEPTH GUARD (``star_handoff``): a graph still unconverged after
    that many rounds has diameter beyond anything a near-dup clique
    produces (chains of pairwise-similar revisions).  Rather than
    paying diameter-many further shuffles, the remaining work is
    CONTRACTED — every edge is rewritten to connect the current
    labels, which collapses each already-resolved region to a single
    node — and handed to :func:`connected_components_star` (Kiveris
    et al. '14, O(log n) rounds); final labels compose through the
    contraction.  Shallow graphs (the common case) never reach the
    handoff and keep the exact pre-guard dataflow; adversarially deep
    graphs cost ``star_handoff`` + O(log n) rounds instead of
    O(diameter).  ``star_handoff=0`` disables label-prop entirely
    (pure star); ``star_handoff >= max_iters`` disables the guard.
    Default 4: label init is fused with the first propagation round
    (label₀ = neighborhood min), so diameter-≤5 graphs — which
    includes every dense near-dup clique and small clique chains —
    still resolve inside label prop, while chain-shaped graphs stop
    burning diameter-many shuffles after 4 (r7 measurement at sf0.1,
    190 k chain-heavy edges: 8 rounds + handoff 8.1 s → 4 rounds +
    handoff ~6 s, pure star 5.2 s).

    Returns (``id_col``, component) — component = min vertex id in the
    cluster, which doubles as the deterministic canonical keeper.
    Vertices come from ``vertices`` (not the edge list): singleton
    documents appear as their own component, and edge endpoints
    ABSENT from ``vertices`` are dropped up front (they neither
    appear in the output nor win a component's min-label) — enforced
    by the semi-join below, one extra pre-loop shuffle of the same
    shape as the post-loop singleton anti-join.  Dedup pair
    generators derive edges from the corpus, so the semi-join is a
    no-op row-wise there; it exists so a caller passing a vertex
    SUBSET (e.g. components of one shard) gets subset semantics
    instead of labels leaking in from foreign endpoints.

    ``observation``: optional ``pyspark.sql.Observation`` (or metric
    name string) attached to the returned frame — reports lp_rounds,
    lp_converged, star_handoff_used, n_vertices, and
    n_components_approx when the caller materializes the result, so
    production corpora reveal their graph depth (and whether the
    depth guard fired) from ordinary query metrics.
    """
    vset = vertices.select(F.col(id_col).alias("v")).dropDuplicates(["v"])
    # Materialize the edge list BEFORE the symmetrizing union: the
    # union's two branches each re-execute the upstream DAG, and for
    # dedup that DAG is the expensive pair-generation join — profiled
    # at sf0.1 this one checkpoint halves the operator's total cost
    # (the r4 "dedup_components drift" was exactly this double
    # execution, not the loop, which converges in ~11 cheap rounds).
    e0 = (
        edges.select(F.col(src).alias("v"), F.col(dst).alias("nbr"))
        .join(vset, "v", "semi")
        .join(vset.select(F.col("v").alias("nbr")), "nbr", "semi")
        .select("v", "nbr")
        .localCheckpoint(eager=True)
    )
    # ---- bounded driver tier: near-dup pair graphs are tiny relative
    # to their corpora (most documents are singletons — the sf0.1
    # semantic block graph is 981 edges for a 2,000-vector corpus), yet
    # the iterative path pays 3 + rounds + handoff full job barriers to
    # resolve them.  When the (already endpoint-filtered, checkpointed)
    # edge list fits ``driver_cap`` (default ``_CC_DRIVER_CAP``), one
    # collect + union-find produces the labels (lp_rounds=0).  A larger
    # graph takes the distributed loop — at 100 TB the pair graph of a
    # duplicate-heavy crawl has billions of edges and this probe costs
    # one cheap count on checkpointed blocks.
    if driver_cap is None:
        driver_cap = _CC_DRIVER_CAP
    if driver_cap > 0 and e0.count() <= driver_cap:
        labels = _union_find_labels(e0)
        rounds_run, converged = 0, True
    else:
        labels, rounds_run, converged = _propagate_labels(
            e0, max_iters, star_handoff
        )
    singles = (
        vertices.select(F.col(id_col).alias("v"))
        .join(labels.select("v"), "v", "left_anti")
        .select("v", F.col("v").alias("component"))
    )
    out = labels.unionByName(singles).select(F.col("v").alias(id_col), "component")
    if observation is not None:
        # Graph-depth telemetry without a profiler: rides the result's own execution via df.observe — zero
        # extra jobs, surfaced to any QueryExecutionListener (or a
        # pyspark Observation) when the caller materializes.  The
        # loop/handoff facts are driver-side literals folded into
        # aggregates; the row metrics come from the data itself.
        out = out.observe(
            observation,
            F.max(F.lit(rounds_run)).alias("lp_rounds"),
            F.max(F.lit(1 if converged else 0)).alias("lp_converged"),
            F.max(
                F.lit(0 if converged or star_handoff >= max_iters else 1)
            ).alias("star_handoff_used"),
            F.count("*").alias("n_vertices"),
            F.approx_count_distinct("component").alias("n_components_approx"),
        )
    return out


def _union_find_labels(e0: DataFrame) -> DataFrame:
    """Driver tier of :func:`connected_components`: (v, component)
    labels of every vertex of the edge list ``e0`` (v, nbr) from one
    collect + union-find, shipped back as one tiny DataFrame.  Labels
    equal the distributed tier's: UTF-8 byte order == code-point
    order, so Python ``min`` agrees with Spark's string ordering, and
    integral ids agree trivially."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in e0.collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    mins: dict = {}
    for x in parent:
        r = find(x)
        if r not in mins or x < mins[r]:
            mins[r] = x
    id_type = e0.schema["v"].dataType
    map_schema = T.StructType(
        [T.StructField("v", id_type), T.StructField("component", id_type)]
    )
    return e0.sparkSession.createDataFrame(
        [(x, mins[find(x)]) for x in parent], map_schema
    )


def _propagate_labels(
    e0: DataFrame, max_iters: int, star_handoff: int
) -> tuple[DataFrame, int, bool]:
    """Distributed tier of :func:`connected_components`: (v, component)
    labels of every vertex of the edge list ``e0`` (v, nbr), the
    label-propagation rounds run, and whether they converged."""
    sym = (
        e0.unionByName(e0.select(F.col("nbr").alias("v"), F.col("v").alias("nbr")))
        .dropDuplicates(["v", "nbr"])
        .localCheckpoint(eager=True)
    )
    # Iterate ONLY the active subgraph (vertices with ≥1 edge): an
    # edge-less vertex can never change its label, so carrying the
    # whole corpus's labels through every round's join+checkpoint is
    # pure waste — near-dup graphs are tiny relative to the corpus
    # (most documents are singletons), so this turns per-round cost
    # from O(|corpus|) into O(|dup vertices|).  Singletons rejoin
    # once, map-side, after the fixpoint.
    # decimal sum: overflow-proof at any vertex-id magnitude (ANSI mode)
    lbl_sum = F.sum(F.col("component").cast("decimal(38,0)"))
    # Convergence sums ride each round's checkpoint job via
    # df.observe — CollectMetrics fires on the localCheckpoint action
    # (verified), so a round costs ONE job instead of checkpoint +
    # separate agg collect: halves the per-round scheduling floor
    # this operator's SCALE.md profile attributes the warm runtime to.
    from pyspark.sql import Observation

    obs0 = Observation()
    # Label init FUSED with the first propagation round: label₀(v) =
    # min(v, Γ(v)) is exactly what round 1 of plain init-to-self would
    # compute, and the groupBy-min here has the same shuffle shape as
    # the .distinct() it replaces — one full join+checkpoint round for
    # free (matters most for the shallow-clique common case, which now
    # converges in 1-2 observed rounds instead of 2-3).
    labels = (
        sym.groupBy("v")
        .agg(F.least(F.min("nbr"), F.first("v")).alias("component"))
        .observe(obs0, lbl_sum.alias("s"))
        .localCheckpoint(eager=True)
    )
    prev = obs0.get["s"]
    converged = False
    rounds_run = 0
    for _ in range(min(max_iters, star_handoff)):
        rounds_run += 1
        nbr_min = (
            sym.join(
                labels.select(F.col("v").alias("nbr"), F.col("component").alias("nc")),
                "nbr",
            )
            .groupBy("v")
            .agg(F.min("nc").alias("nbr_min"))
        )
        obs = Observation()
        labels = (
            labels.join(nbr_min, "v", "left")
            .select(
                "v",
                F.least("component", F.coalesce("nbr_min", "component")).alias(
                    "component"
                ),
            )
            .observe(obs, lbl_sum.alias("s"))
            .localCheckpoint(eager=True)
        )
        cur = obs.get["s"]
        if cur == prev:  # monotone: unchanged sum ⟺ no label moved
            converged = True
            break
        prev = cur
    if not converged and star_handoff < max_iters:
        # Contract by current labels: each edge (v, nbr) becomes an
        # edge between the two labels; same-label edges vanish.  The
        # contracted graph has one node per partially-merged region —
        # far smaller than the original — and the star algorithm
        # resolves it in O(log n) rounds.  Composition: a vertex's
        # final component is the star root of its current label.
        cedges = (
            sym.join(labels.select("v", F.col("component").alias("ca")), "v")
            .join(
                labels.select(
                    F.col("v").alias("nbr"), F.col("component").alias("cb")
                ),
                "nbr",
            )
            .select(F.col("ca").alias("id_a"), F.col("cb").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cverts = labels.select(F.col("component").alias("cid")).distinct()
        roots = connected_components_star(
            cverts, cedges, id_col="cid", src="id_a", dst="id_b"
        ).select(F.col("cid").alias("component"), F.col("component").alias("root"))
        labels = labels.join(roots, "component").select(
            "v", F.col("root").alias("component")
        )
    return labels, rounds_run, converged


def _symmetrize(e: DataFrame) -> DataFrame:
    """Both directions of an undirected edge list (u, v), no self-loops.

    Emitted with ONE explode-of-structs pass rather than a self-union:
    (a) the input is evaluated once, not once per union branch, and
    (b) Spark 4.1's Union constraint rewrite throws
    ``NoSuchElementException: key not found`` when a Union of two
    projections of the same checkpointed plan sits under this
    operator's filter/join stack (hit in r7 by the spanning pair
    graph; the explode form has no Union node to rewrite)."""
    both = F.explode(
        F.array(
            F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
            F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
        )
    )
    return (
        e.select(both.alias("p"))
        .select("p.u", "p.v")
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _neighborhood_min(sym: DataFrame) -> DataFrame:
    """(u, m) where m = min(Γ(u) ∪ {u}) over the symmetric edge list."""
    return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al. '14, "Connected Components in MapReduce and
    Beyond") — the O(log n)-round formulation that
    :func:`connected_components` documents as its deep-graph fallback.

    Min-label propagation needs graph-DIAMETER rounds: fine for the
    dense near-dup cliques dedup produces, painful for chain-shaped
    graphs (a 10k-link chain = 10k shuffles).  The star operations
    instead rewire the graph itself toward a forest of stars rooted at
    component minima, roughly halving component height per alternation:

    - large-star(u): for every neighbor v > u, replace (u, v) with
      (v, m(u)) where m(u) = min(Γ(u) ∪ {u});
    - small-star(u): for every neighbor v < u, emit (v, m(u)) and
      (u, m(u)).

    Both are ONE groupBy (neighborhood min, narrow (u, m) rows) plus
    ONE equi-join per round — the same per-round dataflow cost as label
    propagation, just O(log n) rounds instead of O(diameter).
    Convergence check: the cheap (count, decimal-sum) signature of the
    edge list first, then — only on a signature match — an exact
    ``exceptAll`` confirmation (small-star can both shrink sums and
    duplicate edges, so the signature alone is a filter, not a proof);
    ``localCheckpoint`` truncates lineage per round as usual.  At the
    fixpoint every edge points a node at its component minimum.

    Returns (``id_col``, component), component = min vertex id —
    identical contract (and property-tested against the same
    union-find oracle) as :func:`connected_components`; singletons
    label themselves, and edge endpoints absent from ``vertices`` are
    dropped up front (same semi-join contract as the label-prop
    variant — a foreign endpoint must not win a component's min).
    """
    vset = vertices.select(F.col(id_col).alias("u")).dropDuplicates(["u"])
    # NOTE: the convergence signature deliberately does NOT ride the
    # checkpoint via df.observe (the label-prop loop's pattern):
    # CollectMetrics above a plan containing a Union (both
    # _symmetrize and the init here union) trips Catalyst's
    # Union.rewriteConstraints ("key not found: u#...", Spark 4.1) —
    # the separate agg is one tiny job over the already-checkpointed
    # RDD scan.
    chk = [
        F.count("*").alias("cnt"),
        F.sum((F.col("u") + F.col("v")).cast("decimal(38,0)")).alias("s"),
    ]
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .join(vset, "u", "semi")
        .join(vset.select(F.col("u").alias("v")), "v", "semi")
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    prev = tuple(e.agg(*chk).collect()[0])
    prev_e = e
    for _ in range(max_iters):
        # -------- large-star: larger neighbors re-point at the min
        sym = _symmetrize(e)
        mn = _neighborhood_min(sym)
        e = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mn, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )
        # -------- small-star: u and its smaller neighbors join the min
        sym = _symmetrize(e)
        mn = _neighborhood_min(sym)
        adj = sym.filter(F.col("v") < F.col("u")).join(mn, "u")
        # Emit (v, m) and (u, m) via ONE explode instead of a
        # self-union: adj is evaluated once per round, not once per
        # union branch.
        both = F.explode(
            F.array(
                F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
            )
        )
        e = (
            adj.select(both.alias("p"))
            .select("p.u", "p.v")
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=True)
        )
        cur = tuple(e.agg(*chk).collect()[0])
        if cur == prev and e.exceptAll(prev_e).limit(1).count() == 0:
            break
        prev, prev_e = cur, e
    # Fixpoint edges point nodes at component minima; nodes absent from
    # the edge list (singletons, and the minima themselves) label self.
    labels = _neighborhood_min(_symmetrize(e)).select(
        F.col("u").alias(id_col), F.col("m").alias("component")
    )
    v = vertices.select(F.col(id_col))
    return (
        v.join(labels, id_col, "left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("component"))
    )


def exact_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic exact dedup: one survivor per key group, chosen by
    min of the remaining columns (Spark's dropDuplicates keeps an
    arbitrary row; min-aggregation makes the survivor stable under any
    partitioning — required for oracle checks and for reproducible
    pipelines)."""
    others = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(*[F.min(c).alias(c) for c in others])


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 5,
    threshold: float = 0.8,
    key_tokens: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    reverse_key: bool = False,
) -> DataFrame:
    """Sorted-Neighborhood Method near-dup pairs (Hernández & Stolfo
    '95, the classic record-linkage blocking strategy): sort the
    corpus by a cheap blocking key (first ``key_tokens`` tokens here;
    real deployments plug in phonetic / normalized keys), slide a
    ``window``-row window down the sorted order, and exact-verify the
    candidate pairs with token-set Jaccard ≥ ``threshold``.  The
    complementary blocking shape to LSH banding: candidate volume is
    O(n·w) BY CONSTRUCTION — no hash-bucket skew can blow it up, at
    the cost of only finding duplicates the sort key brings within w
    rows — ``reverse_key=True`` sorts by the LAST ``key_tokens``
    instead, the rotated key for the standard multi-pass recall fix
    (union the passes; see ``dedup_snm_multipass``).

    100 TB shape: the global order comes from the distributed rank
    (range partition + per-partition offsets, operators/limits.py —
    no single-reducer window), and the w-neighbor join is TWO
    equi-joins on floor(pos/w) buckets (each row meets only its own
    and the next bucket) — a rank-difference range join expressed as
    shuffle-friendly equi-joins.  Rank under (key, id) is unique, so
    the pair set is deterministic and SQL-replayable."""
    from ctgov_ai_etl_spark.functions.text import tokens
    from ctgov_ai_etl_spark.operators.limits import global_rank

    toks = tokens(F.col(text_col))
    # Rank rows stay NARROW (id, key) — the token sets would otherwise
    # ride the range-partition shuffle and the persist; they join back
    # onto the O(n·w) candidate pairs instead (the blocked_cosine_pairs
    # pattern: verify payloads only ever touch candidates).
    # reverse key = the LAST key_tokens tokens (clamped start so short
    # docs keep their whole token list, mirroring the forward slice)
    key = (
        F.array_join(
            F.slice(
                toks,
                F.greatest(F.size(toks) - (key_tokens - 1), F.lit(1)),
                key_tokens,
            ),
            " ",
        )
        if reverse_key
        else F.array_join(F.slice(toks, 1, key_tokens), " ")
    )
    keyed = df.select(F.col(id_col).alias("id"), key.alias("__key"))
    ranked = global_rank(keyed, ["__key", "id"]).select(
        "id", F.col("__pos").alias("pos"),
        F.floor(F.col("__pos") / window).alias("bkt"),
    )
    # Row at pos meets rows in (pos, pos+w], all of which land in
    # bucket bkt or bkt+1 — so probe EACH of those two bucket keys with
    # an explode and keep the join a plain equi-join (an OR of bucket
    # equalities would fall off the hash-join path into a nested loop).
    a = ranked.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pa"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("bb"),
    )
    b = ranked.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pb"), F.col("bkt").alias("bb")
    )
    cand = a.join(b, "bb").filter(
        (F.col("pb") - F.col("pa") >= 1) & (F.col("pb") - F.col("pa") <= window)
    )
    sets_a = df.select(
        F.col(id_col).alias("id_a"), F.array_distinct(toks).alias("sa")
    )
    sets_b = df.select(
        F.col(id_col).alias("id_b"), F.array_distinct(toks).alias("sb")
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.array_union(F.col("sa"), F.col("sb")))
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.select("id_a", "id_b")
        .join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .filter(union > 0)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def sorted_neighborhood_oracle_sql(
    window: int = 5,
    threshold: float = 0.8,
    key_tokens: int = 4,
    table: str = "documents",
    reverse_key: bool = False,
) -> str:
    """DuckDB replay of :func:`sorted_neighborhood_pairs`: the rank
    under (key, id) is unique, so a plain window row_number replays
    the distributed rank exactly; the w-neighbor join is a direct
    rank-difference range predicate."""
    key_sql = (
        f"array_to_string(list_slice(string_split(text, ' '), "
        f"greatest(len(string_split(text, ' ')) - {key_tokens - 1}, 1), "
        f"len(string_split(text, ' '))), ' ')"
        if reverse_key
        else f"array_to_string(list_slice(string_split(text, ' '), 1, {key_tokens}), ' ')"
    )
    return f"""
    WITH keyed AS (
      SELECT doc_id AS id,
             {key_sql} AS k,
             list_distinct(string_split(text, ' ')) AS s
      FROM {table}
    ),
    ranked AS (
      SELECT id, s, row_number() OVER (ORDER BY k, id) AS pos FROM keyed
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM ranked a JOIN ranked b
      ON b.pos - a.pos BETWEEN 1 AND {window}
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(list_concat(a.s, b.s))), 6) >= {threshold}
    """


def chunk_dedup_global(
    df: DataFrame, id_col: str, text_col: str, chunk_size: int
) -> DataFrame:
    """CORPUS-WIDE chunk-level exact dedup (the C4/RefinedWeb
    line-dedup recipe generalized to fixed token windows): split every
    document into non-overlapping ``chunk_size``-token chunks, keep
    only the FIRST occurrence of each distinct chunk across the whole
    corpus (ordered by (doc_id, chunk_id) — deterministic under any
    partitioning), and reassemble each document from its surviving
    chunks.  Removes boilerplate that repeats ACROSS documents
    (headers, navigation, license blocks) which document-level dedup
    can never touch — often the single largest token-count reduction
    in a web-scale training corpus.

    Returns one row per input document: id, ``n_chunks``, ``n_kept``,
    and ``text_kept`` (surviving chunks re-joined in order; empty
    string when every chunk lost its claim).

    Scale: chunking is a map-side explode (xn_tokens/chunk_size rows,
    narrow); first-occurrence election is a partially-aggregated
    min-STRUCT per chunk hash, NOT a window — a window partitioned by
    the hash would funnel a million-fold duplicated boilerplate chunk
    (the op's primary target) through ONE task, whereas the min
    aggregate collapses each hash to one keeper map-side before the
    shuffle.  The keeper re-attaches with a hash equi-join (1 build
    row per hash; AQE splits any residual probe-side hot hash);
    reassembly is ONE groupBy on the doc id.
    """
    from ctgov_ai_etl_spark.functions.text import chunk_tokens

    chunks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(chunk_tokens(F.col(text_col), chunk_size, 0)).alias("c"),
    ).select(
        "__id",
        F.col("c.chunk_id").alias("__chunk_id"),
        F.col("c.chunk").alias("__chunk"),
        F.md5(F.col("c.chunk")).alias("__h"),
    )
    keeper = chunks.groupBy("__h").agg(
        F.min(F.struct("__id", "__chunk_id")).alias("__k")
    )
    flagged = chunks.join(keeper, "__h").withColumn(
        "__kept",
        (
            (F.col("__id") == F.col("__k.__id"))
            & (F.col("__chunk_id") == F.col("__k.__chunk_id"))
        ).cast("int"),
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("__kept").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__kept") == 1,
                                F.struct("__chunk_id", "__chunk"),
                            )
                        )
                    ),
                    lambda s: s["__chunk"],
                ),
                " ",
            ).alias("text_kept"),
        )
        .withColumnRenamed("__id", id_col)
    )
