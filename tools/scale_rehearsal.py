"""sf1 scale rehearsal: measured 10x evidence.

Generates a deterministic ~sf1 derivative of the test tables into
``spark-warehouse/sf1/`` (builder-owned — /root/testdata stays
read-only) by replicating sf0.1 ten times with disjoint key offsets,
then runs the 14 headline queries once at sf0.1 and once at sf1 and
prints a JSON line with both timings — the measured version of the
"plans survive a 10x scale-up" claim that SCALE.md records.

Replication semantics (all offsets keep FK joins consistent):
- orders/lineitem: orderkey += i*150k, custkey += i*15k
- customer: custkey += i*15k (nation/region/part/supplier copied
  as-is — dimensions don't scale with the fact tables)
- events: event_id += i*100k, user_id += i*1500 (timestamps kept:
  10x rows per window is exactly the density a bigger corpus brings)
- documents/embeddings: ids offset; text/vectors copied VERBATIM so
  each document exists 10x — the duplicate structure a real crawl
  has, which is what the dedup headline queries are for.

Run: ``python tools/scale_rehearsal.py [--skip-gen]``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from ctgov_ai_etl_spark.queries import load_all  # noqa: E402
from ctgov_ai_etl_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(__file__)) or ".",
                   "spark-warehouse", "sf1")
REPLICAS = 10

_OFFSETS = {
    # table -> {column: per-replica offset}
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {"l_orderkey": 150_000},
    "customer": {"c_custkey": 15_000},
    "events": {"event_id": 100_000, "user_id": 1_500},
    "documents": {"doc_id": 5_000},
    "embeddings": {"vec_id": 10_000},
    # dimensions copied once, no offset
    "region": {},
    "nation": {},
    "supplier": {},
    "part": {},
}

# Top-cost catalog queries: the expensive dedup/graph/streaming
# families are exactly where 100x-scale claims are least tested by
# measurement — rehearse them at sf1 too.
EXPENSIVE = [
    "dedup_components",
    "dedup_semantic_groups",
    "graph_kcore",
    "graph_jaccard_link_prediction",
    "stream_run_semantic_admission",
]

# Round-12 continuation wave: the new DATA-SCALE operators (bigram-
# keyed novelty, hashed-model scoring, blocklist semi-join, window-
# heavy Markov attribution, iterative personalized PageRank) —
# measured at 10x like the rest.
NEW_WAVE = [
    "text_ngram_novelty",
    "text_blocklist_filter",
    "sample_dsir_importance",
    "attribution_markov_removal",
    "graph_personalized_pagerank",
]

# The lineage-fixed iterative graph family — rehearse it so the
# checkpoint-truncated plans carry measured 10x evidence too.
GRAPH_FIXED = [
    "graph_hits",
    "graph_triangle_count",
    "graph_label_propagation",
    "sample_kcenter_coreset",
]

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


def generate(spark) -> None:
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    for table, offsets in _OFFSETS.items():
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        out = f"{DST}/{table}.parquet"
        if not offsets:
            df.write.mode("overwrite").parquet(out)
            continue
        reps = None
        for i in range(REPLICAS):
            r = df
            for col, off in offsets.items():
                r = r.withColumn(col, F.col(col) + i * off)
            reps = r if reps is None else reps.unionAll(r)
        reps.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(f"  {table}: {n} rows", flush=True)


def spine_of(df) -> list[str]:
    """Sorted multiset of physical operator names from the formatted
    plan — the plan 'spine' whose equality across SFs is the measured
    version of 'the strategy survives a 10x scale-up'.  AQE partition
    coalescing and codegen ids are deliberately NOT part of the
    spine (they are SUPPOSED to differ with data volume)."""
    import re

    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    txt = jdf.queryExecution().explainString(mode)
    names = re.findall(r"^\s*[+\-:* ]*\(\d+\)\s+([A-Za-z][A-Za-z ]*)",
                       txt, re.M)
    return sorted(n.strip() for n in names)


def run(spark, registry, sf_dir: str, names) -> tuple[dict, dict]:
    times: dict[str, float] = {}
    spines: dict[str, list[str]] = {}
    for name in names:
        spark.catalog.clearCache()
        from ctgov_ai_etl_spark.operators import cache

        cache.release_all()
        t = time.time()
        df = registry[name].fn(spark, sf_dir)
        df.count()
        times[name] = round(time.time() - t, 3)
        try:
            spines[name] = spine_of(df)
        except Exception as exc:  # streaming snapshots may not explain
            spines[name] = [f"<unavailable: {type(exc).__name__}>"]
        print(f"  {name}: {times[name]}s", flush=True)
    return times, spines


# Pair-count observability: the super-linear dedup entries
# (dedup_minhash_lsh 5.19x, dedup_semantic_groups 3.14x at 10x data
# when first rehearsed) are CLAIMED duplicate-driven — the 10x-verbatim
# corpus has ~quadratically more real duplicate pairs, so more output
# is more work with the same plan.  Measure it: per SF, count
# (a) verbatim-duplicate pairs (Σ C(g,2) over identical-payload
# groups — the closed-form driver of the quadratic growth) and
# (b) the query's emitted pair/group rows.  If the result-row ratio
# tracks the verbatim-pair ratio while wall stays far below it, the
# super-linearity is data-induced, measured rather than inferred.
PAIR_PROBED = {
    # query -> (table, payload column for the verbatim-group count)
    "dedup_minhash_lsh": ("documents", "text"),
    "dedup_jaccard_pairs": ("documents", "text"),
    "dedup_semantic_groups": ("embeddings", "embedding"),
}


def pair_counts(spark, registry, sf_dir: str) -> dict:
    out: dict[str, dict] = {}
    for name, (table, col) in PAIR_PROBED.items():
        t = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        verbatim = (
            t.groupBy(
                F.md5(F.col(col).cast("string")).alias("k")
            )
            .count()
            .filter(F.col("count") >= 2)
            .select(
                F.sum(
                    (F.col("count") * (F.col("count") - 1) / 2).cast("long")
                ).alias("p")
            )
            .collect()[0]["p"]
            or 0
        )
        rows = registry[name].fn(spark, sf_dir).count()
        out[name] = {"verbatim_pairs": int(verbatim), "result_rows": rows}
        print(f"  pairs {name}: verbatim={verbatim} result_rows={rows}",
              flush=True)
    return out


def main() -> int:
    spark = get_spark("scale_rehearsal")
    registry = load_all()
    if "--skip-gen" not in sys.argv:
        print("generating sf1 derivative ...", flush=True)
        generate(spark)
    names = HEADLINE + EXPENSIVE + NEW_WAVE + GRAPH_FIXED
    print("headline+expensive @ sf0.1 ...", flush=True)
    t01, sp01 = run(spark, registry, SRC, names)
    print("headline+expensive @ sf1 ...", flush=True)
    t1, sp1 = run(spark, registry, DST, names)
    print("pair-count probes ...", flush=True)
    pc01 = pair_counts(spark, registry, SRC)
    pc1 = pair_counts(spark, registry, DST)
    per_query = {
        n: {
            "sf0.1": t01[n],
            "sf1": t1[n],
            "ratio": round(t1[n] / max(t01[n], 1e-9), 2),
            "spine_same": sp01[n] == sp1[n],
        }
        for n in names
    }
    out = {
        "sf0.1": t01,
        "sf1": t1,
        "per_query": per_query,
        "spine_diffs": {
            n: {"sf0.1": sp01[n], "sf1": sp1[n]}
            for n in names
            if sp01[n] != sp1[n]
        },
        "total_sf0.1": round(sum(t01.values()), 3),
        "total_sf1": round(sum(t1.values()), 3),
        "ratio": round(sum(t1.values()) / max(sum(t01.values()), 1e-9), 2),
        "pair_counts": {
            n: {
                "sf0.1": pc01[n],
                "sf1": pc1[n],
                "verbatim_ratio": round(
                    pc1[n]["verbatim_pairs"]
                    / max(pc01[n]["verbatim_pairs"], 1),
                    2,
                ),
                "result_ratio": round(
                    pc1[n]["result_rows"] / max(pc01[n]["result_rows"], 1), 2
                ),
                "wall_ratio": round(t1[n] / max(t01[n], 1e-9), 2)
                if n in t1
                else None,
            }
            for n in PAIR_PROBED
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
