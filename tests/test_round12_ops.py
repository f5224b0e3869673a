"""Round-12 wave: semantic properties the oracle comparison can't
state directly (hand-computed references, metric invariants,
classifier skill, feature normalization)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- HITS


def test_hits_hand_graph(spark):
    """2x2 bipartite core + pendant: max-normalized HITS must give
    the 2-authority core score 1e6 each and the pendant authority a
    strictly smaller score; hub-less sinks get hub 0."""
    from ctgov_ai_etl_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 12)], ["src", "dst"]
    )
    out = {r["node"]: (r["auth_micro"], r["hub_micro"]) for r in hits(
        edges, iters=3
    ).collect()}
    assert out[10][0] == out[11][0] == 1_000_000
    assert 0 < out[12][0] < 1_000_000
    # hubs 1,2 symmetric and maximal; sinks have hub 0
    assert out[1][1] == out[2][1] == 1_000_000
    assert out[10][1] == out[11][1] == out[12][1] == 0


def test_hits_scores_bounded(spark):
    reg = load_all()
    rows = reg["graph_hits"].fn(spark, SF).collect()
    assert rows
    assert all(0 <= r["auth_micro"] <= 1_000_000 for r in rows)
    assert all(0 <= r["hub_micro"] <= 1_000_000 for r in rows)
    assert max(r["auth_micro"] for r in rows) == 1_000_000
    assert max(r["hub_micro"] for r in rows) == 1_000_000


# ----------------------------------------------------- nDCG / MRR


def test_ndcg_mrr_invariants(spark):
    reg = load_all()
    rows = reg["ml_ndcg_mrr"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ndcg10"] <= 1.0
        assert r["dcg_micro"] <= r["idcg_micro"]
        assert 0 <= r["rr_micro"] <= 1_000_000


def test_ndcg_discounts_match_reference():
    from ctgov_ai_etl_spark.queries.analytics import _DISC_MICRO

    for r, d in enumerate(_DISC_MICRO, start=1):
        assert d == round(1_000_000 / math.log2(r + 1))


# ------------------------------------------------------------- SAX


def test_sax_symbol_consistent_with_z(spark):
    reg = load_all()
    rows = reg["ts_sax_symbols"].fn(spark, SF).collect()
    assert rows
    bp = 0.6744897501960817
    for r in rows:
        z, sym = r["z6"], r["symbol"]
        # z6 is the rounded z; allow the rounding slack at boundaries
        if z < -bp - 1e-5:
            assert sym == "a"
        elif -bp + 1e-5 < z < -1e-5:
            assert sym == "b"
        elif 1e-5 < z < bp - 1e-5:
            assert sym == "c"
        elif z > bp + 1e-5:
            assert sym == "d"
    assert {r["symbol"] for r in rows} <= set("abcd")


# ----------------------------------------------------- naive Bayes


def test_naive_bayes_totals(spark):
    """Fixture confusion matrix: every test doc classified exactly
    once (the fixture's lang labels are text-independent, so skill is
    NOT asserted here — see the separable-corpus test below)."""
    reg = load_all()
    rows = reg["ml_naive_bayes"].fn(spark, SF).collect()
    total = sum(r["n_docs"] for r in rows)
    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert total == d.filter(F.col("doc_id") % 2 == 1).count()


def test_naive_bayes_separable_corpus(spark):
    """Skill check on a corpus NB can actually learn: two classes
    with disjoint vocabularies classify perfectly."""
    from ctgov_ai_etl_spark.queries.analytics import naive_bayes_confusion

    rows = [
        (i, "A" if i % 2 == 0 else "B",
         "alpha beta alpha gamma" if i % 2 == 0
         else "delta epsilon delta zeta")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    train = df.filter(F.col("doc_id") < 20)
    test = df.filter(F.col("doc_id") >= 20)
    out = naive_bayes_confusion(train, test).collect()
    assert {(r["true_lang"], r["pred_lang"]) for r in out} == {
        ("A", "A"),
        ("B", "B"),
    }
    assert sum(r["n_docs"] for r in out) == 20


# -------------------------------------------------- audio features


def test_audio_features_invariants(spark):
    reg = load_all()
    rows = reg["mm_audio_features"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["zcr"] < r["n_frames"]
        assert 0.0 <= r["zcr_rate"] <= 1.0
        assert 0.0 <= r["rms"] <= 1.0001
    # channel fanout matches the decode query's channel counts
    ch = (
        reg["mm_decode_audio"].fn(spark, SF)
        .select("doc_id", "channels")
        .collect()
    )
    expect = sum(r["channels"] for r in ch)
    assert len(rows) == expect


def test_audio_features_reference_clip():
    """Hand WAV: one channel, alternating +1000/-1000 — ZCR = n-1,
    RMS = 1000/32768."""
    import struct

    from ctgov_ai_etl_spark.functions.imagecodec import encode_wav
    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_wav_samples,
    )

    vals = [1000 if i % 2 == 0 else -1000 for i in range(64)]
    wav = encode_wav(8000, 1, struct.pack("<64h", *vals))
    ch, rate, samples = decode_wav_samples(wav)
    assert (ch, rate) == (1, 8000)
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    nonneg = arr >= 0
    assert int(np.sum(nonneg[1:] != nonneg[:-1])) == 63
    assert int(np.sum(arr * arr)) == 64 * 1000 * 1000


# ----------------------------------------------- hashing featurizer


def test_feature_hash_l2_normalized(spark):
    reg = load_all()
    df = reg["feature_hash_vectorize"].fn(spark, SF)
    norms = (
        df.groupBy("doc_id")
        .agg(F.sum(F.col("w6") * F.col("w6")).alias("nsq"))
        .collect()
    )
    assert norms
    for r in norms:
        assert abs(r["nsq"] - 1.0) < 1e-3
    assert df.filter(
        (F.col("bucket") < 0) | (F.col("bucket") >= 32)
    ).count() == 0


# ------------------------------------------------------ DP release


def test_dp_histogram_arithmetic(spark):
    reg = load_all()
    rows = reg["gov_dp_histogram"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert (
            r["released_micro"]
            == r["true_count"] * 1_000_000 + r["noise_micro"]
        )
        assert r["epsilon"] == 1.0
    # Laplace noise must actually perturb (not all zeros)
    assert any(r["noise_micro"] != 0 for r in rows)


# --------------------------------------- streaming reader layouts


def test_stream_table_directory_layout(spark, tmp_path):
    """The stream reader must see rows whether the table is a single
    parquet FILE (testdata) or a Spark-written DIRECTORY (generated
    rehearsal data) — the glob-on-file approach silently streamed
    zero rows from directories."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from ctgov_ai_etl_spark.tables import stream_table

    src = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
    )
    d = str(tmp_path / "sfdir")
    src.write.parquet(f"{d}/documents.parquet")
    stream = stream_table(spark, d, "documents")
    out = run_stream_to_memory(
        stream.groupBy().agg(F.count("*").alias("n")), mode="complete"
    )
    assert out.collect()[0]["n"] == 10


# ------------------------------------------- property tests


from hypothesis import given, settings
from hypothesis import strategies as st


def _ref_hits(edges, iters=3, scale=1_000_000):
    """Independent pure-Python replay of the max-normalized integer
    HITS contract (floor division, decimal-exact products)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(iters):
        araw = {}
        for s, d in edges:
            araw[d] = araw.get(d, 0) + hub[s]
        mx = max(araw.values())
        auth = {n: (v * scale) // mx for n, v in araw.items()}
        hraw = {}
        for s, d in edges:
            hraw[s] = hraw.get(s, 0) + auth[d]
        mx = max(hraw.values())
        hub = {n: (v * scale) // mx for n, v in hraw.items()}
    return {
        n: (auth.get(n, 0), hub.get(n, 0)) for n in nodes
    }


@settings(max_examples=8, deadline=None)
@given(
    st.sets(
        st.tuples(st.integers(0, 7), st.integers(10, 17)),
        min_size=2,
        max_size=20,
    )
)
def test_hits_matches_reference(edge_set):
    """Random bipartite digraphs: the Spark operator equals the
    pure-Python integer reference node for node."""
    from ctgov_ai_etl_spark.operators.graph import hits
    from ctgov_ai_etl_spark.session import get_spark

    spark = get_spark("tests")
    edges = sorted(edge_set)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: (r["auth_micro"], r["hub_micro"])
        for r in hits(df, iters=3).collect()
    }
    assert got == _ref_hits(edges)


def test_bh_fdr_matches_reference(spark):
    """The query's adjusted p-values equal the classic step-up
    computed independently in Python from the same p-values."""
    reg = load_all()
    rows = sorted(
        reg["stat_bh_fdr"].fn(spark, SF).collect(), key=lambda r: r["k"]
    )
    ps = [r["p6"] for r in rows]  # p6 is p rounded; recompute from k
    m = len(rows)
    # reference step-up on the reported (k, p6) pairs
    adj, run = [None] * m, float("inf")
    for i in range(m - 1, -1, -1):
        run = min(run, ps[i] * m / (i + 1))
        adj[i] = min(run, 1.0)
    for r, a in zip(rows, adj):
        assert abs(r["adj_p6"] - a) < 5e-6
        # rejection threshold applied to the true (unrounded) adj_p;
        # away from the 0.05 boundary it must agree with the reference
        if abs(a - 0.05) > 1e-4:
            assert r["rejected"] == (1 if a <= 0.05 else 0)
