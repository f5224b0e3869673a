"""Query leftovers (operators/cache.py): operators register their
internal persists and lazily-read scratch directories so long-lived
sessions can release them with release_all() instead of
spark.catalog.clearCache()."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators import cache
from ctgov_ai_etl_spark.operators.graph import kcore, triangle_count
from ctgov_ai_etl_spark.operators.limits import global_rank
from tests.conftest import SF_SMALL


def test_track_release_unpersists(spark):
    cache.release_all()  # clean slate
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    cached = cache.track(df.persist())
    cached.count()
    assert cached.storageLevel.useMemory
    assert cache.tracked_count() >= 1
    released = cache.release_all()
    assert released >= 1
    assert not cached.storageLevel.useMemory
    assert cache.tracked_count() == 0


def test_operator_persists_are_tracked_and_releasable(spark):
    cache.release_all()
    df = spark.range(50).withColumn("k", F.col("id") % 7)
    ranked = global_rank(df, ["id"])
    ranked.count()
    # global_rank pins its range-partitioned frame; it must be tracked.
    assert cache.tracked_count() >= 1
    assert cache.release_all() >= 1


def test_registry_survives_operator_scope_exit(spark):
    # The operator's local handle dies at return; the registry's strong
    # reference must keep a handle alive so release_all can unpersist.
    cache.release_all()

    def op():
        inner = cache.track(spark.range(10).persist())
        inner.count()

    op()
    import gc

    gc.collect()
    assert cache.tracked_count() == 1
    assert cache.release_all() == 1
    assert cache.tracked_count() == 0


def test_kcore_rejects_nonpositive_rounds(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="rounds >= 1"):
        kcore(edges, k=1, rounds=0)


def test_kcore_releases_edge_cache(spark):
    cache.release_all()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    out = kcore(edges, k=2, rounds=2)
    rows = {(r.node, r.deg) for r in out.collect()}
    assert rows == {(1, 2), (2, 2), (3, 2)}


def test_triangle_count_caches_released_by_release_all(spark):
    cache.release_all()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    out = triangle_count(edges)
    assert {(r.node, r.triangles) for r in out.collect()} == {
        (1, 1),
        (2, 1),
        (3, 1),
    }
    assert cache.tracked_count() >= 2  # und + oriented table
    assert cache.release_all() >= 2


def test_stream_semantic_oracle_under_adverse_import_order():
    # Regression: stream_batch imported BEFORE queries.semantic used to
    # leave stream_run_semantic_admission's oracle as None (the twin
    # wasn't registered yet and the patch never retried).  Must run in
    # a fresh interpreter — the pytest process has everything imported.
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, '.');"
        "import ctgov_ai_etl_spark.queries.stream_batch;"
        "from ctgov_ai_etl_spark.queries.registry import REGISTRY;"
        "assert REGISTRY['stream_run_semantic_admission'].oracle is not None"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd=repo)


def test_spanning_pairs_have_identical_components(spark):
    # spanning=True must yield bit-identical connected components to
    # the full pair graph — the contract that lets CC consumers skip
    # the quadratic intra-clique/inter-set explosion.
    from ctgov_ai_etl_spark.operators.dedup import (
        connected_components,
        jaccard_token_pairs,
    )
    from ctgov_ai_etl_spark.tables import load_table
    from tests.conftest import SF_SMALL

    d = load_table(spark, SF_SMALL, "documents")
    full = jaccard_token_pairs(d, "doc_id", "text", threshold=0.9)
    span = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.9, spanning=True
    )
    n_full, n_span = full.count(), span.count()
    assert n_span <= n_full
    cc_full = {
        (r.doc_id, r.component)
        for r in connected_components(
            d.select("doc_id"), full.select("id_a", "id_b"), id_col="doc_id"
        ).collect()
    }
    cc_span = {
        (r.doc_id, r.component)
        for r in connected_components(
            d.select("doc_id"), span.select("id_a", "id_b"), id_col="doc_id"
        ).collect()
    }
    assert cc_full == cc_span
    # The spanning graph must also stay within the full pair set's
    # similarity contract: every emitted edge is a true >= t pair.
    full_set = {(r.id_a, r.id_b) for r in full.collect()}
    span_set = {(r.id_a, r.id_b) for r in span.collect()}
    assert span_set <= full_set


@pytest.mark.parametrize(
    "stream, twin",
    [
        ("stream_run_semantic_admission", "dedup_semantic_incremental"),
        ("stream_run_decontam", "decontam_ngram"),
        ("stream_run_blocklist", "text_blocklist_filter"),
        ("stream_run_volume_alert", "anomaly_volume_days"),
        ("stream_run_hll", "sketch_hll_registers"),
        ("stream_run_dsir_gate", None),
    ],
)
def test_stream_runs_share_their_twin_oracle(stream, twin):
    """A streaming run with a batch twin's result contract carries
    that twin's oracle text byte for byte; the DSIR gate's oracle
    replays the batch model's CTEs with its admission predicate."""
    from ctgov_ai_etl_spark.queries import load_all
    from ctgov_ai_etl_spark.queries.product import _DSIR_CTES

    registry = load_all()
    oracle = registry[stream].oracle
    if twin is None:
        assert oracle == (
            f"WITH {_DSIR_CTES}\n"
            "    SELECT doc_id, log_w_micro FROM scored WHERE log_w_micro >= 0"
        )
    else:
        assert oracle is not None and oracle == registry[twin].oracle


def test_release_all_removes_held_dirs(tmp_path, monkeypatch):
    import os

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    cache.release_all()
    d = cache.scratch_dir("held_")
    assert os.path.dirname(d) == str(tmp_path)
    with open(os.path.join(d, "f"), "w") as fh:
        fh.write("x")
    assert d in cache.held_dirs()
    cache.release_all()
    assert not os.path.exists(d)
    assert not cache.held_dirs()


def test_scratch_root_follows_spark_local_dirs(tmp_path):
    """With only $SPARK_LOCAL_DIRS set, query scratch and Spark's own
    block-manager directory share it as their root."""
    import os
    import subprocess
    import sys

    root = tmp_path / "a"
    code = (
        "from ctgov_ai_etl_spark.operators import cache\n"
        "from ctgov_ai_etl_spark.session import get_spark\n"
        "spark = get_spark('scratch-root')\n"
        "print(cache.scratch_dir('probe_'))\n"
        "env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()\n"
        "for d in env.blockManager().diskBlockManager().localDirs():\n"
        "    print(d.getParent())\n"
    )
    env = {
        k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_LOCAL_DIR"
    }
    env.update(
        SPARK_LOCAL_DIRS=str(root),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    scratch, *block_parents = proc.stdout.strip().splitlines()
    assert os.path.dirname(scratch) == str(root)
    assert block_parents == [str(root)]


def test_sql_queries_leave_caller_views_alone(spark):
    """Queries that run SQL text over a frame pass it as a ``spark.sql``
    argument, so a caller's view of the same name survives and no
    view is left behind."""
    from ctgov_ai_etl_spark.queries import load_all

    registry = load_all()
    mine = spark.range(3).toDF("o_orderkey")
    mine.createOrReplaceTempView("orders")
    try:
        before = sorted(t.name for t in spark.catalog.listTables())
        for name in ("agg_grouping_sets", "udtf_tokenize"):
            assert registry[name].fn(spark, SF_SMALL).collect()
        assert sorted(t.name for t in spark.catalog.listTables()) == before
        assert spark.table("orders").count() == 3
    finally:
        spark.catalog.dropTempView("orders")


# The perfbench catalog's stream and LLM items, and the queries whose
# result reads a scratch directory lazily.
_LIFECYCLE = (
    "stream_run_tumbling",
    "stream_run_stateful",
    "dedup_minhash_lsh",
    "mm_audio_wav_meta",
    "csv_scan_roundtrip",
    "maintenance_compact_files",
    "stream_run_upsert",
    "sim_topk_ivf_partitioned",
)


def test_release_all_leaves_nothing_behind(spark, tmp_path, monkeypatch):
    """Run the queries twice in one session, releasing after each: no
    persist stays tracked, every scratch directory is gone, and the
    session's views and shuffle width are as before."""
    import os

    from ctgov_ai_etl_spark.queries import load_all

    registry = load_all()
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    cache.release_all()
    views = sorted(t.name for t in spark.catalog.listTables())
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    made: set[str] = set()
    pinned = 0
    for _ in range(2):
        for name in _LIFECYCLE:
            assert registry[name].fn(spark, SF_SMALL).collect(), name
            made.update(os.listdir(tmp_path))
            pinned += cache.tracked_count()
            cache.release_all()
            assert cache.tracked_count() == 0, name
            assert not os.listdir(tmp_path), name
    assert {p.split("_")[0] for p in made} >= {"csv", "compact", "upsert", "ivf"}
    assert pinned > 0
    assert not cache.held_dirs()
    assert sorted(t.name for t in spark.catalog.listTables()) == views
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
