"""Query timer for the catalog at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  It times only the host it runs on and
writes nothing but stdout (and ``--explain`` plans).

    python bench.py [--deep]                  # catalog sweep
    python bench.py NAME... [--explain DIR]   # median-of-3 per query

The sweep runs the headline set first, three runs per query with the
per-query MEDIAN reported; their total is the headline metric.  The
rest of the catalog then runs single-shot, so gross per-query
regressions in the long tail stay visible.  A wall-clock budget
($SPARK_GRAFT_BENCH_BUDGET, default 1800 s) bounds the tail sweep; any
queries it drops are listed in `tail_skipped` and flagged on stderr,
since a skip makes two sweeps' totals incomparable.

With query names, each named query runs three times and prints one
JSON line with its runs and median, then one line of totals.
``--explain DIR`` also writes each query's ``explain('formatted')``
to ``DIR/<name>.txt``.

Each query executes via the `noop` sink — full plan execution on all
partitions, no driver-side collect (collect would measure Arrow
transfer + driver memory, not the engine).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ctgov_ai_etl_spark.operators import cache  # noqa: E402
from ctgov_ai_etl_spark.queries import load_all  # noqa: E402
from ctgov_ai_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1800"))

# Headline set: the scan/join/agg/window spine plus one of each
# LLM-pipeline operator family (dedup, similarity, text, classify,
# streaming-window) — the queries whose plans carry the 100 TB story.
HEADLINE = [
    "agg_pricing_summary",
    "join_broadcast_star",
    "join_inner_equi",
    "win_topk_per_group",
    "join_asof",
    "text_top_tokens",
    "text_langid_quality",
    "llm_classify_documents",
    "dedup_minhash_lsh",
    "dedup_jaccard_pairs",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "pipeline_curate",
    "stream_tumbling_window",
]


# Deep tier: correctness-tier variants that re-measure a floor the
# sweep already times through a cheaper representative.  They remain
# in every correctness sweep (tools/check_oracle.py walks the full
# registry); deferring them trims redundant wall-time, not evidence:
# - dedup_keep_best / dedup_components_star / split_group_aware all
#   pay the PPJoin pair-graph + CC fixpoint floor that
#   dedup_components (staying) times; the split/keep logic itself
#   adds zero shuffles on top.
# - dedup_incremental re-measures the MinHash banding floor the
#   HEADLINE dedup_minhash_lsh times, plus one anti-join.
# - pipeline_entity_resolution composes floors each benched alone
#   (join_fuzzy_lev1, blocking dedup, CC).
# - dedup_jaccard_bigram is the character-shingle variant of the
#   HEADLINE dedup_jaccard_pairs (same PPJoin prefix-filter floor,
#   different shingle type); dedup_semantic_prune is the pruning
#   variant of dedup_semantic_groups (staying — the same
#   centroid-blocked cosine + CC floor).
DEEP_TIER = {
    # - dedup_lsh_recall_eval composes the two HEADLINE dedup floors
    #   (dedup_jaccard_pairs exact-PPJoin + dedup_minhash_lsh banding)
    #   plus tiny pair-frame joins; both floors stay benched alone.
    "dedup_lsh_recall_eval",
    "dedup_keep_best",
    "dedup_components_star",
    "split_group_aware",
    "dedup_incremental",
    "pipeline_entity_resolution",
    "dedup_jaccard_bigram",
    "dedup_semantic_prune",
}


def _run(fn, spark) -> float:
    # Cache isolation: operators persist reused intermediates
    # (signature tables, oriented edges, assignment frames) and never
    # unpersist — across a catalog sweep the accumulated blocks drive
    # GC/eviction churn that inflated unrelated queries by 20-40%.
    # Clearing BEFORE the timed window charges each query its own
    # first-touch cost and nothing else.  A query's runs share its
    # scratch layouts (the IVF inverted file); the callers release
    # them with cache.release_all() once the query's runs are done.
    spark.catalog.clearCache()
    t0 = time.time()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _median_of_3(fn, spark, runs: list[float]) -> float:
    """Extend ``runs`` to three runs of ``fn``; return their median.
    Single runs sit in a ±10-30% JIT/host-noise band, so every number
    that is compared across sweeps is a median of three."""
    runs += [_run(fn, spark) for _ in range(3 - len(runs))]
    return sorted(runs)[1]


def _warm_up(spark) -> None:
    """Pay each one-time start-up cost before the first timed query,
    so whichever query hits it first is not billed for it: the JVM
    query path (codegen, file-index caches), the Python worker pool
    (Arrow/pandas import + fork, seconds the first time any pandas
    stage runs), the Python DataSource worker (its own worker kind),
    and the Structured Streaming machinery."""
    load_all()["join_inner_equi"].fn(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    from ctgov_ai_etl_spark.sources import rest

    rest.register(spark)
    spark.read.format("ctgov_rest").options(
        transport_factory="ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
        transport_args="[5, 5]",
        page_size="5",
    ).load().write.format("noop").mode("overwrite").save()
    ckpt = cache.scratch_dir("bench_warm_ckpt_")
    try:
        q = (
            spark.readStream.format("rate").option("rowsPerSecond", "1")
            .load()
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # Stop a straggling warm-up batch so it cannot overlap (and
        # skew) the first timed query.
        if not q.awaitTermination(30):
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _time_named(spark, registry, names: list[str], explain: str | None) -> None:
    medians: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name in names:
        fn = registry[name].fn
        if explain:
            os.makedirs(explain, exist_ok=True)
            # Public API with stdout capture: the private JVM helper
            # PythonSQLUtils.explainString has shifted package/arity
            # across Spark versions.
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, SF_DIR).explain(mode="formatted")
            with open(os.path.join(explain, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        runs: list[float] = []
        medians[name] = _median_of_3(fn, spark, runs)
        cache.release_all()
        mins[name] = min(runs)
        print(json.dumps({name: {"median": medians[name], "runs": runs}}),
              flush=True)
    print(json.dumps({
        "total_median": round(sum(medians.values()), 3),
        "total_min": round(sum(mins.values()), 3),
    }))


def _sweep(spark, registry, deep: bool, sf: float) -> None:
    t_start = time.time()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    headline_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        headline_runs[name] = []
        timings[name] = _median_of_3(
            registry[name].fn, spark, headline_runs[name]
        )
        cache.release_all()
    total = round(sum(timings.values()), 3)

    tail = [
        n
        for n in registry
        if n not in timings and (deep or n not in DEEP_TIER)
    ]
    # A tail query whose first run this sweep takes >= 2 s gets
    # median-of-3: single-shot times for the expensive tail sit in a
    # wide noise band.  Cheap tail queries stay single-shot: their
    # absolute noise is small and 3x-ing hundreds of them would triple
    # the sweep for nothing.
    tail_skipped: list[str] = []
    tail_runs: dict[str, list[float]] = {}
    for name in tail:
        if time.time() - t_start > BUDGET_S:
            tail_skipped.append(name)
            continue
        try:
            runs = [_run(registry[name].fn, spark)]
            if runs[0] >= 2.0:
                timings[name] = _median_of_3(registry[name].fn, spark, runs)
                tail_runs[name] = runs
            else:
                timings[name] = runs[0]
        except Exception as exc:  # record, don't kill the bench line
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        cache.release_all()

    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "value_median": total,  # sum of per-query medians-of-3
        "unit": "sec",
        "queries": timings,
        "headline_runs": headline_runs,
        "sf": sf,
        "catalog_total": round(sum(timings.values()), 3),
    }
    if tail_runs:
        out["tail_runs"] = tail_runs
    if not deep:
        out["deep_deferred"] = sorted(DEEP_TIER)
    if tail_skipped:
        out["tail_skipped"] = tail_skipped
        print(
            f"WARNING: bench budget ({BUDGET_S:.0f}s) exhausted; "
            f"{len(tail_skipped)} queries SKIPPED: {tail_skipped}\n"
            "Sweep totals are NOT comparable with skips — "
            "raise SPARK_GRAFT_BENCH_BUDGET.",
            file=sys.stderr,
        )
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # FINAL stdout line: a compact summary that a caller keeping only
    # the tail of stdout can always parse — the full dump above is one
    # very long line that a truncated capture cuts mid-object.
    print(
        json.dumps(
            {
                "metric": out["metric"],
                "value": out["value"],
                "unit": "sec",
                "queries": {n: timings[n] for n in HEADLINE if n in timings},
                "sf": sf,
                "catalog_total": out["catalog_total"],
                "n_benched": len(timings),
                "n_errors": len(errors),
                "n_skipped": len(tail_skipped),
            }
        )
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="time only these queries")
    ap.add_argument("--deep", action="store_true",
                    help="sweep: also time the DEEP_TIER queries")
    ap.add_argument("--explain", metavar="DIR",
                    help="names: also write each formatted plan to DIR")
    args = ap.parse_args(argv)
    registry = load_all()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.names and args.deep or args.explain and not args.names:
        ap.error("--deep applies to the sweep, --explain to named queries")

    spark = get_spark("bench")
    _warm_up(spark)
    if args.names:
        _time_named(spark, registry, args.names, args.explain)
    else:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
        _sweep(spark, registry, args.deep, sf)


if __name__ == "__main__":
    main()
