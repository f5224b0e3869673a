"""Dedup / similarity operator quality tests (the approximate
operators have no SQL oracle; these tests pin their behavior against
exact baselines — SURVEY.md §5 'rows-only checks')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.dedup import (
    connected_components,
    jaccard_token_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from ctgov_ai_etl_spark.operators.similarity import (
    blocked_cosine_pairs,
    brute_force_topk,
    embedding_near_dup,
    exact_cosine_pairs,
    ivf_fit_centroids,
    ivf_topk,
    lsh_topk,
)
from ctgov_ai_etl_spark.tables import load_table
from tests.conftest import SF_SMALL


def test_exact_cosine_pairs_refuses_unguarded_quadratic(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        exact_cosine_pairs(emb, threshold=0.4, quadratic_cap=100)
    # explicit opt-in still works (bounded fixture corpus)
    opted = exact_cosine_pairs(
        emb, threshold=0.9, quadratic_cap=100, allow_quadratic=True
    )
    assert opted.columns == ["id_a", "id_b", "cos_sim"]


def test_exact_cosine_pairs_broadcasts_build_side(spark):
    """The BNLJ must build (broadcast) side ``b`` and stream the
    repartitioned ``a`` — a flipped build side would re-serialize the
    n² loop onto the single input split (ADVICE r4)."""
    emb = load_table(spark, SF_SMALL, "embeddings").limit(50)
    df = exact_cosine_pairs(emb, threshold=0.0, allow_quadratic=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_embedding_near_dup_default_is_blocked(spark):
    """The one-signature operator must never plan the cartesian by
    default: its default output equals the blocked tier's, and the
    exact tier is reachable only through the guarded path."""
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(
            emb, threshold=0.3, centroids=_BLOCK_CENTROIDS
        ).collect()
    }
    b = {
        (r.id_a, r.id_b)
        for r in blocked_cosine_pairs(emb, _BLOCK_CENTROIDS, threshold=0.3).collect()
    }
    assert a == b


def test_trained_ivf_recall_at_least_seeded(spark):
    """The offline-trained quantizer must buy recall, not just parity:
    at the same nprobe its recall vs brute force is >= the seeded
    Gaussian quantizer's (VERDICT r3 item 6 done-condition).  Measured
    on the canonical corpus the quantizer was fitted to serve
    (sf0.01 — train-small/score-big trains on a sample OF the corpus;
    the 10× smaller sf0.001 slice is a different distribution draw
    where neither quantizer has a principled edge)."""
    from ctgov_ai_etl_spark.queries.semantic import (
        _IVF_CENTROIDS,
        _IVF_NPROBE,
        _IVF_TRAINED_CENTROIDS,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(cents):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                emb, queries, centroids=cents, k=5, nprobe=_IVF_NPROBE
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r_seeded, r_trained = recall(_IVF_CENTROIDS), recall(_IVF_TRAINED_CENTROIDS)
    assert r_trained >= r_seeded, f"trained {r_trained:.2f} < seeded {r_seeded:.2f}"


def test_minhash_recall_against_exact_jaccard(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_token_pairs(docs, "doc_id", "text", threshold=0.98).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16,
            shingle_k=1, threshold=0.6, shingle="token",
        ).collect()
    }
    assert exact, "fixture should contain near-identical documents"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} too low ({len(exact)} truth pairs)"


def test_minhash_deterministic_across_runs(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(100)
    a = sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect()))
    assert a == b


def test_simhash_identical_texts_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here entirely unrelated")],
        "doc_id long, text string",
    )
    pairs = simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(1, 2, 0)]


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, queries, k=5, n_tables=12, n_bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # The fixture vectors are weakly clustered (top cosine ≈ 0.39 →
    # P(bit match) ≈ 0.61), so recall is bounded by 1-(1-0.61^bits)^tables
    # ≈ 0.84 at 12×4 — the probe-count knob, not an implementation gap.
    assert recall >= 0.5, f"lsh recall {recall:.2f}"


def test_stratified_sample_rates_and_determinism(spark):
    from ctgov_ai_etl_spark.operators.limits import stratified_sample

    docs = load_table(spark, SF_SMALL, "documents")
    frac = {"en": 0.5, "de": 0.25}
    a = stratified_sample(docs, "lang", frac, key_col="doc_id", default=0.0)
    b = stratified_sample(
        docs.repartition(7), "lang", frac, key_col="doc_id", default=0.0
    )
    rows_a = sorted(r.doc_id for r in a.collect())
    # identical survivors under a different partitioning (df.sample isn't)
    assert rows_a == sorted(r.doc_id for r in b.collect())
    by_lang = {r.lang: r.n for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(by_lang) <= {"en", "de"}  # default=0.0 drops other strata
    # md5 buckets are uniform: realized rate tracks the target loosely
    assert abs(by_lang["en"] / totals["en"] - 0.5) < 0.2


def test_connected_components_transitive_chain_and_singleton(spark):
    # path 1-2-3-4 needs multi-round propagation (diameter 3); 10-11 is
    # a separate pair; 99 has no edges and must survive as a singleton
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r.id: r.component for r in connected_components(verts, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_ivf_trained_centroids_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    cents = ivf_fit_centroids(emb, k=8, iters=5)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, centroids=cents, k=5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing half the clusters of a trained 8-way quantizer over the
    # weakly-clustered fixture should still catch most true neighbors
    assert recall >= 0.6, f"ivf recall {recall:.2f}"


def test_ivf_deterministic_across_runs(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    a = sorted(map(tuple, ivf_fit_centroids(emb, k=4, iters=2)))
    b = sorted(map(tuple, ivf_fit_centroids(emb, k=4, iters=2)))
    assert a == b


def test_bruteforce_topk_is_ranked_and_excludes_self(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    assert len(out) == 15
    for r in out:
        assert r.query_id != r.neighbor_id
        assert 1 <= r.rank <= 5
        assert -1.0 <= r.cosine_sim <= 1.0


def _planted_corpus(n_base: int, vocab: list[str], seed: int = 7):
    """Deterministic corpus: base docs + one near-dup each (90% token
    overlap) — ground truth is brute-force pairwise Jaccard."""
    import random as _random

    rng = _random.Random(seed)
    rows = []
    for i in range(n_base):
        toks = rng.sample(vocab, 20)
        rows.append((2 * i, " ".join(toks)))
        mutated = list(toks)
        for j in rng.sample(range(20), 2):  # 10% mutation
            mutated[j] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mutated)))
    return rows


def _brute_jaccard(rows, threshold):
    sets = {i: set(t.split()) for i, t in rows}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= threshold:
                out.add((a, b))
    return out


def _check_jaccard_matches_bruteforce(spark, vocab_size):
    vocab = [f"w{i:05d}" for i in range(vocab_size)]
    rows = _planted_corpus(40, vocab)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in jaccard_token_pairs(df, "doc_id", "text", threshold=0.7).collect()
    }
    assert got == _brute_jaccard(rows, 0.7)


def test_jaccard_bitmap_verify_path_matches_bruteforce(spark):
    # vocab 2000 <= 4096 -> packed-bitmap verify branch
    _check_jaccard_matches_bruteforce(spark, 2000)


def test_jaccard_string_verify_path_matches_bruteforce(spark):
    # vocab 6000 > 4096 -> array_intersect fallback branch, otherwise
    # untested: the driver fixture's 31-token vocab never reaches it
    _check_jaccard_matches_bruteforce(spark, 6000)


@pytest.mark.parametrize("name", ["dedup_jaccard_pairs", "dedup_jaccard_bigram"])
def test_jaccard_vocabulary_rank_tiers_agree(spark, monkeypatch, name):
    """The vocabulary dictionary ranked by global_rank's distributed
    tier (cap 0) gives the same pairs as its default driver tier."""
    from ctgov_ai_etl_spark.operators import limits
    from ctgov_ai_etl_spark.queries import load_all

    fn = load_all()[name].fn
    default = sorted(tuple(r) for r in fn(spark, SF_SMALL).collect())
    monkeypatch.setattr(limits, "_RANK_DRIVER_CAP", 0)
    dist = fn(spark, SF_SMALL)
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(df" in plan.lower()
    assert default
    assert sorted(tuple(r) for r in dist.collect()) == default


def test_minhash_recall_on_planted_corpus(spark):
    """Planted near-dups (true Jaccard ≈ 0.8) on a rich vocabulary —
    the driver fixture's 31-token vocab makes everything collide, so
    this is the recall evidence on realistic data."""
    vocab = [f"w{i:05d}" for i in range(3000)]
    rows = _planted_corpus(40, vocab)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    truth = _brute_jaccard(rows, 0.7)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=64, bands=16,
            shingle_k=1, threshold=0.7, shingle="token",
        ).collect()
    }
    assert truth, "corpus must contain planted pairs"
    recall = len(truth & got) / len(truth)
    # 16 bands × 4 rows: P(candidate) at j=0.8 is 1-(1-0.8^4)^16 ≈ 0.9997
    assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} planted pairs"
    # and no wild false positives: everything returned is ≥ threshold-ish
    est = {(r.id_a, r.id_b): r.est_jaccard for r in minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16,
        shingle_k=1, threshold=0.7, shingle="token").collect()}
    assert all(v >= 0.7 for v in est.values())


def test_simhash_chunk_join_finds_all_hamming_pairs(spark):
    """The pigeonhole chunk join must find EVERY pair within
    max_hamming — verified against brute-force Hamming over the
    operator's own hash values on the planted corpus."""
    from ctgov_ai_etl_spark.operators.dedup import simhash64

    vocab = [f"w{i:05d}" for i in range(3000)]
    rows = _planted_corpus(30, vocab)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {
        r.doc_id: r.h
        for r in df.select("doc_id", simhash64(F.col("text")).alias("h")).collect()
    }
    max_h = 6
    truth = set()
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1") <= max_h:
                truth.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=max_h).collect()
    }
    assert truth, "planted corpus must contain close simhashes"
    assert got == truth


def test_chunk_tokens_windows_and_tail(spark):
    from ctgov_ai_etl_spark.functions.text import chunk_tokens

    df = spark.createDataFrame([(1, "a b c d e f g")], "id long, text string")
    out = [
        (r.c.chunk_id, r.c.chunk)
        for r in df.select(F.explode(chunk_tokens(F.col("text"), 3, 1)).alias("c")).collect()
    ]
    # stride 2: windows [a b c] [c d e] [e f g]; tail exactly covered
    assert out == [(0, "a b c"), (1, "c d e"), (2, "e f g")]
    # short doc -> single partial window
    df2 = spark.createDataFrame([(1, "x y")], "id long, text string")
    out2 = [
        (r.c.chunk_id, r.c.chunk)
        for r in df2.select(F.explode(chunk_tokens(F.col("text"), 5)).alias("c")).collect()
    ]
    assert out2 == [(0, "x y")]
    import pytest

    with pytest.raises(ValueError):
        chunk_tokens(F.col("text"), 3, 3)


def test_rrf_capped_tower_semantics(spark, monkeypatch):
    """Capped-K RRF: a doc outside a tower's top-K contributes exactly 0
    from that tower (coalesce-0), and every fused score equals the sum
    of its per-tower reciprocal terms recomputed independently.  K is
    shrunk to 5 so the fused top-10 must include single-tower docs."""
    import ctgov_ai_etl_spark.queries.semantic as sem_mod
    from ctgov_ai_etl_spark.queries.semantic import search_bm25, search_hybrid_rrf

    monkeypatch.setattr(sem_mod, "_RRF_TOWER_K", 5)
    K = 5

    fused = {r.doc_id: r.rrf for r in search_hybrid_rrf(spark, SF_SMALL).collect()}
    assert len(fused) == 10

    bm = search_bm25(spark, SF_SMALL)
    lex_rows = (
        bm.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(K)
        .collect()
    )
    lex_rank = {r.doc_id: i + 1 for i, r in enumerate(lex_rows)}
    emb = load_table(spark, SF_SMALL, "embeddings")
    sem_rank = {
        r.neighbor_id: r.rank
        for r in brute_force_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=K
        ).collect()
    }
    for doc_id, rrf in fused.items():
        expected = round(
            (1.0 / (60 + lex_rank[doc_id]) if doc_id in lex_rank else 0.0)
            + (1.0 / (60 + sem_rank[doc_id]) if doc_id in sem_rank else 0.0),
            9,
        )
        assert abs(rrf - expected) < 1e-9, (doc_id, rrf, expected)
    single_tower = [d for d in fused if (d in lex_rank) != (d in sem_rank)]
    assert single_tower, "fixture should exercise the coalesce-0 path"


def test_blocked_multi_assign_recall(spark):
    """Centroid-blocking recall knob: n_assign=2 must recover a
    superset of the n_assign=1 pairs (monotone recall), every emitted
    pair must be exact-correct (precision 1.0 — verification is exact
    cosine), and the fixture must actually contain cross-block truth
    pairs so the knob is exercised."""
    from ctgov_ai_etl_spark.operators.similarity import blocked_cosine_pairs
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS

    e = load_table(spark, SF_SMALL, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    from ctgov_ai_etl_spark.operators.similarity import cosine

    threshold = 0.3
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("s"))
        .filter(F.col("s") >= threshold)
        .collect()
    }
    got1 = {
        (r.id_a, r.id_b)
        for r in blocked_cosine_pairs(e, _BLOCK_CENTROIDS, threshold).collect()
    }
    got2 = {
        (r.id_a, r.id_b)
        for r in blocked_cosine_pairs(
            e, _BLOCK_CENTROIDS, threshold, n_assign=2
        ).collect()
    }
    assert truth, "fixture must contain near-dup embedding pairs"
    assert got1 <= truth and got2 <= truth  # exact verify => precision 1.0
    assert got1 <= got2  # monotone recall in n_assign
    missed1 = truth - got1
    assert missed1, "fixture must contain cross-block pairs (knob exercised)"
    recovered = missed1 & got2
    assert recovered, "n_assign=2 should recover some cross-block pairs"


def test_pii_count_and_redact(spark):
    from ctgov_ai_etl_spark.functions.pii import pii_counts, pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org call +1-555-0100 ip 10.0.0.1 end"),
            (2, "no pii here, just 1234 and example dot com"),
        ],
        "id int, t string",
    )
    t = F.col("t")
    counts = pii_counts(t)
    rows = {
        r.id: r
        for r in df.select(
            "id",
            "t",
            pii_redact(t).alias("red"),
            *[c.alias(f"n_{k}") for k, c in counts.items()],
        ).collect()
    }
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4) == (2, 1, 1)
    assert rows[1].red == "mail <EMAIL> and <EMAIL> call <PHONE> ip <IP> end"
    assert (rows[2].n_email, rows[2].n_phone, rows[2].n_ipv4) == (0, 0, 0)
    assert rows[2].red == rows[2].t


def test_pii_redact_idempotent(spark):
    # tags contain no @, digits, or dots -> redacting twice is a no-op
    from ctgov_ai_etl_spark.functions.pii import pii_redact

    df = spark.createDataFrame(
        [(1, "x a@b.co +1-555-0100 10.0.0.1 y")], "id int, t string"
    )
    once = df.select(pii_redact(F.col("t")).alias("r"))
    twice = once.select(pii_redact(F.col("r")).alias("r"))
    assert once.collect() == twice.collect()


def test_decontam_flags_planted_overlap(spark):
    from ctgov_ai_etl_spark.operators.decontam import flag_contaminated

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark 4-gram "beta gamma delta epsilon"
            (1, "x beta gamma delta epsilon y"),
            # same words, different order -> clean
            (2, "epsilon delta gamma beta x y"),
            # shorter than n -> clean (guard path)
            (3, "beta gamma"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_hits for r in flag_contaminated(train, bench, n=4).collect()}
    assert got == {1: 1}


def test_mixture_sample_rates_and_determinism(spark):
    from ctgov_ai_etl_spark.operators.limits import mixture_fractions, mixture_sample

    rows = [(i, "en" if i % 4 else "de") for i in range(400)]  # 300 en / 100 de
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    weights = {"en": 0.5, "de": 0.5}
    fracs = mixture_fractions(df, "lang", weights, 100)
    assert fracs["en"] == 0.5 * 100 / 300
    assert fracs["de"] == 0.5 * 100 / 100  # exactly its share
    s1 = sorted(r.doc_id for r in mixture_sample(df, "lang", weights, 100, "doc_id").collect())
    s2 = sorted(r.doc_id for r in mixture_sample(df, "lang", weights, 100, "doc_id").collect())
    assert s1 == s2 and s1  # deterministic, non-empty
    # saturation: a stratum too small for its share keeps everything
    fr = mixture_fractions(df, "lang", {"en": 0.1, "de": 0.9}, 400)
    assert fr["de"] == 1.0


def test_text_repetition_known_values(spark):
    from ctgov_ai_etl_spark.functions.text import (
        dup_bigram_frac,
        tokens,
        top_token_ratio,
    )

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # top ratio 1.0; bigrams all "a a" -> dup 2/3
            (2, "a b c d"),          # all unique
            (3, "solo"),             # <2 tokens -> dup frac 0.0
        ],
        "id int, t string",
    )
    l = tokens(F.col("t"))
    got = {
        r.id: (r.top, r.dup)
        for r in df.select(
            "id",
            top_token_ratio(l).alias("top"),
            dup_bigram_frac(l).alias("dup"),
        ).collect()
    }
    assert got[1][0] == 1.0 and abs(got[1][1] - (1 - 1 / 3)) < 1e-12
    assert got[2] == (0.25, 0.0)
    assert got[3] == (1.0, 0.0)


def test_semantic_prune_policy_properties(spark):
    """SemDeDup keep policy (operators/similarity.py:semantic_prune):
    (a) retained ∪ dominated partitions the corpus, (b) no near-dup
    pair survives with BOTH endpoints retained, and (c) every
    cluster's farthest-from-centroid member (min rounded centroid_sim,
    lowest id on ties) is always retained — the paper's pick is never
    pruned."""
    from ctgov_ai_etl_spark.operators.similarity import (
        centroid_assign_with_sim,
        semantic_prune,
    )
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    kept = semantic_prune(emb, _BLOCK_CENTROIDS, threshold=0.3)
    kept_ids = {r.vec_id for r in kept.collect()}
    assert 0 < len(kept_ids) < n  # it pruned something, not everything

    pairs = blocked_cosine_pairs(emb, _BLOCK_CENTROIDS, threshold=0.3)
    for r in pairs.collect():
        assert not (r.id_a in kept_ids and r.id_b in kept_ids), (
            f"near-dup pair ({r.id_a},{r.id_b}) fully retained"
        )

    asg = centroid_assign_with_sim(emb, _BLOCK_CENTROIDS).collect()
    by_cluster: dict[int, list] = {}
    for r in asg:
        by_cluster.setdefault(r.cid, []).append(r)
    for cid, members in by_cluster.items():
        best = min(members, key=lambda r: (r.centroid_sim, r.id))
        assert best.id in kept_ids, f"cluster {cid} hardest member pruned"


def test_sorted_neighborhood_matches_bruteforce_window(spark):
    """SNM pair set == a brute-force python replay of 'rank by (4-token
    key, id), pair every row with its w successors, keep Jaccard >= t'
    — proves the bucket-explode equi-join loses no in-window pair and
    admits no out-of-window one."""
    from ctgov_ai_etl_spark.operators.dedup import sorted_neighborhood_pairs

    docs = [
        (1, "apple banana cherry date extra one"),
        (2, "apple banana cherry date extra two"),
        (3, "zebra yak xylo walrus very different"),
        (4, "apple banana cherry date extra three"),
        (5, "mango nectarine orange papaya quince rose"),
        (6, "apple banana cherry dates extra one"),
        (7, "zebra yak xylo walrus very close"),
        (8, "mango nectarine orange papaya quince rise"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    w, t = 2, 0.5
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in sorted_neighborhood_pairs(d, window=w, threshold=t).collect()
    }

    order = sorted(docs, key=lambda x: (" ".join(x[1].split()[:4]), x[0]))
    want = {}
    for i, (ida, ta) in enumerate(order):
        for j in range(i + 1, min(i + 1 + w, len(order))):
            idb, tb = order[j]
            sa, sb = set(ta.split()), set(tb.split())
            jac = round(len(sa & sb) / len(sa | sb), 6)
            if jac >= t:
                lo, hi = (ida, idb) if ida < idb else (idb, ida)
                # pair orientation follows rank order, ids may invert
                want[(order[i][0], order[j][0])] = jac
    assert got == want and len(want) > 0


def test_semantic_groups_keep_one_per_component(spark):
    """Group-exact SemDeDup: exactly one keeper per component, and the
    keeper is the (centroid_sim, id)-minimum of its group."""
    from ctgov_ai_etl_spark.queries.semantic import dedup_semantic_groups

    rows = dedup_semantic_groups(spark, SF_SMALL).collect()
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    assert len(rows) == sum(len(v) for v in by_comp.values())
    kept = [r for r in rows if r.keep]
    assert len(kept) == len(by_comp)  # one keeper per group
    for comp, members in by_comp.items():
        assert all(m.gsize == len(members) for m in members)
        keeper = [m for m in members if m.keep]
        assert len(keeper) == 1


def test_semantic_incremental_matches_cross_side_blocked_pairs(spark):
    """Incremental admission == the cross-side subset of the blocked
    pair graph, reduced to min-matching-existing-id: every reported
    (vec_id, dup_of) is a blocked pair across the split with dup_of
    the minimum matching existing id; every incoming vector with some
    cross-side pair is reported."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from ctgov_ai_etl_spark.operators.similarity import (
        semantic_incremental_dedup,
    )
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS

    e = load_table(spark, SF_SMALL, "embeddings")
    existing = e.filter(hash_bucket(F.col("vec_id")) < 8000)
    incoming = e.filter(hash_bucket(F.col("vec_id")) >= 8000)
    got = {
        r.vec_id: (r.dup_of, r.cos_sim)
        for r in semantic_incremental_dedup(
            existing, incoming, _BLOCK_CENTROIDS, threshold=0.3
        ).collect()
    }

    pairs = blocked_cosine_pairs(e, _BLOCK_CENTROIDS, threshold=0.3).collect()
    exist_ids = {r.vec_id for r in existing.collect()}
    want: dict[int, tuple[int, float]] = {}
    for r in pairs:
        for iid, eid in ((r.id_a, r.id_b), (r.id_b, r.id_a)):
            if iid not in exist_ids and eid in exist_ids:
                cur = want.get(iid)
                if cur is None or eid < cur[0]:
                    want[iid] = (eid, r.cos_sim)
    assert got == want and len(want) > 0


def test_semantic_prune_is_fixed_point(spark):
    """Pruning the retained corpus again removes nothing: policy
    property (b) guarantees no near-dup pair survives with both
    endpoints retained, so the second pass sees an empty dominated
    set — SemDeDup is a one-shot fixed point, not an iterate-to-
    convergence operator."""
    from ctgov_ai_etl_spark.operators.similarity import semantic_prune
    from ctgov_ai_etl_spark.queries.semantic import _BLOCK_CENTROIDS

    emb = load_table(spark, SF_SMALL, "embeddings")
    kept = semantic_prune(emb, _BLOCK_CENTROIDS, threshold=0.3)
    kept_vecs = emb.join(kept.select("vec_id"), "vec_id")
    again = semantic_prune(kept_vecs, _BLOCK_CENTROIDS, threshold=0.3)
    assert again.count() == kept.count()


def test_snm_multipass_recall_superset(spark):
    """The rotated-key union is a strict recall dial: it contains
    every forward-pass pair, and on a corpus whose duplicates differ
    at the HEAD (invisible to the forward key) it finds pairs the
    forward pass alone cannot."""
    from ctgov_ai_etl_spark.operators.dedup import sorted_neighborhood_pairs

    docs = [
        # same tail, very different heads: forward 2-token keys sort
        # them far apart; the reverse key brings them adjacent
        (1, "aaa aaa common tail tokens here"),
        (2, "zzz zzz common tail tokens here"),
        # spacer docs so forward ranks separate docs 1 and 2
        (3, "bbb bbb other words entirely one"),
        (4, "ccc ccc other words entirely two"),
        (5, "ddd ddd other words entirely three"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(window=1, threshold=0.5, key_tokens=2)
    fwd = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(d, **kw).collect()
    }
    rev = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(d, reverse_key=True, **kw).collect()
    }
    both = fwd | rev
    assert fwd <= both
    assert (1, 2) in rev and (1, 2) not in fwd  # head-divergent pair
