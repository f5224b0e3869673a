"""Physical-plan audit: assert the plans are the plans we want.

For each audited query: capture the formatted physical plan and check
the scale-critical properties (parquet filter pushdown, column-pruned
ReadSchema, broadcast joins where intended, whole-stage codegen,
partial aggregation).  Writes PLANS.md with the plans + a pass/fail
property table.  Run: ``python tools/explain_audit.py``.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from ctgov_ai_etl_spark.queries import load_all  # noqa: E402
from ctgov_ai_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# Plan-size budget: a formatted physical plan larger than this is
# treated as a lineage-control bug even when the answers are correct —
# the two real offenders it caught were graph_hits (47,476 lines:
# un-truncated iterative loop) and sample_kcenter_coreset (801,551
# lines: persist-not-checkpoint in a k-round traversal).  Every audited query is checked; `--sizes-all`
# walks the ENTIRE registry (construction + formatted explain, no
# execution) so new iterative operators can't regress silently.
PLAN_LINE_BUDGET = 5_000

# query -> list of (property, regex that must match the plan)
#
# Negative properties ("no shuffle", "no single-reducer window") MUST
# anchor with \A, not ^: patterns run under MULTILINE|DOTALL, where ^
# matches every line start and a ^(?!...) lookahead trivially succeeds
# on the last line even when the forbidden operator appears earlier —
# a vacuous checkmark.  \A anchors exactly once, so with DOTALL the
# (?!.*forbidden) lookahead scans the whole plan.
CHECKS: dict[str, list[tuple[str, str]]] = {
    "scan_project_filter": [
        ("filter pushed to parquet", r"PushedFilters: \[.*(LessThan|GreaterThan)"),
        ("column-pruned ReadSchema", r"ReadSchema: [^\n]*l_orderkey[^\n]*l_extendedprice"),
        ("no shuffle", r"\A(?!.*Exchange)"),
        ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "join_broadcast_star": [
        ("dimensions broadcast", r"BroadcastHashJoin"),
        ("partial aggregation", r"HashAggregate"),
        ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "agg_pricing_summary": [
        ("filter pushed to parquet", r"PushedFilters: \[.*LessThanOrEqual"),
        ("partial aggregation (map-side)", r"HashAggregate"),
        ("single shuffle on group keys", r"hashpartitioning\(l_returnflag"),
    ],
    "join_inner_equi": [
        ("equi-join planned (AQE picks physical)", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "win_topk_per_group": [
        ("single shuffle on group key", r"hashpartitioning\(c_mktsegment"),
        ("rank filter before project", r"row_number"),
    ],
    "sort_limit_deterministic": [
        ("TakeOrderedAndProject (no global sort materialization)", r"TakeOrderedAndProject"),
    ],
    "join_semi": [
        ("left-semi strategy", r"(LeftSemi|left_semi)"),
    ],
    "filter_in_set": [
        ("IN-set pushed to parquet", r"PushedFilters: \[.*In\(o_orderpriority"),
    ],
    "text_top_tokens": [
        ("partial agg before shuffle", r"HashAggregate.*\n.*Exchange|Exchange.*\n.*HashAggregate"),
        ("top-k via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ],
    "partition_pruned_scan": [
        ("partition pruning (only 1995 read)", r"PartitionFilters: \[[^\]]*1995"),
    ],
    "skew_salted_agg": [
        ("shuffle keyed on (key, salt)", r"hashpartitioning\(l_returnflag[^)]*__salt"),
    ],
    "sim_topk_bruteforce": [
        ("query side broadcast", r"Broadcast(NestedLoop|Hash)Join|BroadcastExchange"),
    ],
    "sim_topk_ivf": [
        ("probe set broadcast (shuffle stays on narrow rows)", r"BroadcastHashJoin"),
        ("exact re-rank window keyed per query", r"hashpartitioning\(query_id"),
    ],
    "sim_topk_ivf_partitioned": [
        ("probe clusters pruned at the partition level",
         r"PartitionFilters: \[[^\]]*cid"),
        ("probe set broadcast", r"BroadcastHashJoin"),
    ],
    "merge_upsert_orders": [
        ("updates broadcast into anti-join (target never shuffles)",
         r"BroadcastHashJoin [^\n]*LeftAnti"),
        ("update-batch filter pushed to parquet", r"PushedFilters"),
    ],
    "sample_stratified": [
        ("fractions dim broadcast, filter map-side", r"BroadcastHashJoin"),
        ("no shuffle", r"\A(?!.*hashpartitioning)"),
    ],
    "pipeline_curate": [
        ("single exchange: fingerprint dedup keeper", r"hashpartitioning\(fp"),
    ],
    "text_chunked": [
        ("map-side explode, no shuffle", r"\A(?!.*hashpartitioning)"),
        ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "text_pack_sequences": [
        ("per-source window (no global single-reducer sort)", r"hashpartitioning\(source"),
    ],
    "search_bm25": [
        ("tf partial agg before its shuffle", r"HashAggregate"),
        ("df + stats broadcast", r"BroadcastExchange"),
    ],
    "search_hybrid_rrf": [
        ("no exchange-to-one window (capped-K towers)",
         r"\A(?!.*Window[^\n]*\n[^\n]*Exchange SinglePartition)"),
        ("two-phase semantic top-k: local prune keyed (query, pid)",
         r"hashpartitioning\(query_id[^)]*__pid"),
        ("lexical rank via broadcast self-join (no Window node)",
         r"BroadcastNestedLoopJoin"),
    ],
    "dedup_minhash_lsh": [
        ("deduped signature table persisted and reused across branches",
         r"InMemoryTableScan"),
        ("band join keyed on (band, bucket), not signatures",
         r"HashJoin \[band#\d+, bucket#\d+L?\]"),
    ],
    "dedup_jaccard_pairs": [
        ("distinct token-set table persisted and reused", r"InMemoryTableScan"),
        ("prefix-filter candidate join on dictionary-encoded token ids",
         r"hashpartitioning\(tok"),
    ],
    "text_gopher_rules": [
        ("map-side only: no shuffle", r"\A(?!.*hashpartitioning)"),
        ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "dedup_substring_spans": [
        ("span aggregations keyed on the 16-byte md5, not span text",
         r"hashpartitioning\(h#"),
        ("map-side partial distinct before the exchange",
         r"HashAggregate[^\n]*\n[^\n]*Exchange|Exchange[^\n]*\n[^\n]*HashAggregate"),
    ],
    "shuffle_training_order": [
        # r16: below limits._RANK_DRIVER_CAP the rank arrives as a
        # broadcast (key -> __pos) map built on the driver (ExistingRDD),
        # replacing the three distributed-rank job barriers; over the cap
        # the range-partitioned tier is unchanged.
        ("rank: range-partitioned, or driver-tier broadcast map below cap",
         r"rangepartitioning\(__h|ExistingRDD"),
        ("no single-reducer window",
         r"\A(?!.*Window[^\n]*\n[^\n]*Exchange SinglePartition)"),
    ],
    "pipeline_curate_full": [
        ("gates pushed into the parquet scan",
         r"PushedFilters: \[[^\]]*EqualTo\(lang,en\)"),
        ("decontam / keeper / anti joins broadcast", r"BroadcastHashJoin"),
        ("training-order rank: range-partitioned, or driver-tier map",
         r"rangepartitioning\(__h|ExistingRDD"),
    ],
    "text_perplexity_proxy": [
        ("unigram table broadcast back for the scoring probe",
         r"BroadcastHashJoin"),
        ("partial aggregation map-side", r"HashAggregate"),
    ],
    "json_corrupt_records": [
        ("parse + quarantine map-side; only the agg shuffles",
         r"hashpartitioning\(source"),
        ("partial aggregation before the exchange", r"HashAggregate"),
    ],
    "win_rank_distributed": [
        ("rank: range-partitioned, or driver-tier broadcast map below cap",
         r"rangepartitioning\(|ExistingRDD"),
        ("no exchange-to-one window",
         r"\A(?!.*Window[^\n]*\n[^\n]*Exchange SinglePartition)"),
        ("offsets broadcast", r"BroadcastExchange|BroadcastHashJoin"),
    ],
    "graph_pagerank": [
        ("per-iteration partial aggregation on dst", r"HashAggregate"),
        ("iteration shuffle keyed on the node id", r"hashpartitioning\(node"),
        ("no cartesian product", r"\A(?!.*CartesianProduct)"),
    ],
    "cluster_kmeans": [
        ("k-row centroid table broadcast for assignment",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("update shuffle keyed (cid, pos) — bounded at k*dim rows",
         r"hashpartitioning\(cid[^)]*pos"),
        ("no cartesian product", r"\A(?!.*CartesianProduct)"),
    ],
    "sim_topk_pq": [
        ("codebook / query distance table broadcast", r"BroadcastHashJoin"),
        ("ADC sum partially aggregated before its exchange", r"HashAggregate"),
        ("exact re-rank window keyed per query", r"hashpartitioning\(query_id"),
    ],
    "cdc_snapshot_diff": [
        ("one full-outer join on the key", r"FullOuter"),
        ("snapshot filters pushed to parquet", r"PushedFilters: \[[^\]]*IsNotNull"),
    ],
    "maintenance_zorder": [
        ("single partial-agg shuffle on the z-bucket",
         r"hashpartitioning\(zbucket"),
        ("whole-stage codegen (bit ladder stays JVM-side)",
         r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "join_bucket_colocated": [
        ("no shuffle exchange anywhere (bucketed layout pre-paid it)",
         r"\A(?!.*Exchange hashpartitioning)"),
        ("bucketed scan selected", r"Bucketed: true|SelectedBucketsCount"),
    ],
    "incremental_agg_refresh": [
        ("delta feed partially aggregated before the state merge",
         r"HashAggregate"),
        ("state merge is one keyed outer join", r"FullOuter"),
    ],
    "ts_resample_ffill": [
        ("resample grid broadcast against the user dimension",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("per-cell last-value partially aggregated", r"HashAggregate"),
        ("fill window keyed per entity (no single-reducer)",
         r"\A(?!.*Window[^\n]*\n[^\n]*Exchange SinglePartition)"),
    ],
    "curriculum_order": [
        ("decile + epoch ranks: range-partitioned, or driver-tier map",
         r"rangepartitioning\(|ExistingRDD"),
        ("no exchange-to-one window",
         r"\A(?!.*Window[^\n]*\n[^\n]*Exchange SinglePartition)"),
    ],
    "sample_reservoir": [
        ("bottom-k via TakeOrderedAndProject (per-partition heaps)",
         r"TakeOrderedAndProject"),
        ("no global sort materialization", r"\A(?!.*rangepartitioning)"),
        ("no single-reducer exchange", r"\A(?!.*Exchange SinglePartition)"),
    ],
    "cdc_time_travel": [
        ("feeds applied via anti-join, not base rewrite", r"LeftAnti"),
        ("delta side broadcast (AQE-promoted)",
         r"BroadcastHashJoin [^\n]*LeftAnti"),
        ("diff full-outer keyed on the merge key",
         r"(SortMergeJoin|ShuffledHashJoin)[^\n]*FullOuter"),
        ("snapshot scan reused across feeds, not recomputed",
         r"ReusedExchange"),
    ],
    "embed_random_projection": [
        ("pure map-side (zero shuffles)", r"\A(?!.*Exchange hashpartitioning)"),
        ("no Python boundary", r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
        ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "graph_triangle_count": [
        ("wedge + closure joins are keyed (no cartesian)",
         r"\A(?!.*CartesianProduct)"),
        ("per-vertex count partially aggregated", r"partial_count"),
        ("edge canonicalization deduped via hash aggregate",
         r"HashAggregate\(keys=\[u#\d+L, v#\d+L\]"),
    ],
    "dedup_semantic_prune": [
        ("pair/prune joins keyed (no cartesian)", r"\A(?!.*CartesianProduct)"),
        ("dominated-id anti-join", r"LeftAnti"),
        # The centroid-dot pass is DELIBERATELY a vectorized Arrow
        # batch (_centroid_dots_udf) — assert it IS there and that no
        # row-at-a-time Python sneaks in.
        ("assignment dots vectorized (ArrowEvalPython)", r"ArrowEvalPython"),
        ("no row-at-a-time Python", r"\A(?!.*BatchEvalPython)"),
    ],
    "lm_bigram_score": [
        ("log-prob table broadcast to the scoring probe",
         r"BroadcastHashJoin"),
        ("model aggregates partially combined", r"partial_count"),
        ("map-side bigram extraction (no posexplode self-join on the corpus)",
         r"\A(?!.*SortMergeJoin[^\n]*doc_id)"),
    ],
    "dedup_sorted_neighborhood": [
        ("rank: range-partitioned, or driver-tier broadcast map below cap",
         r"rangepartitioning\(|ExistingRDD"),
        ("no single-reducer window", r"\A(?!.*Exchange SinglePartition)"),
        ("w-neighbor join is an equi-join on bucket keys (no nested loop)",
         r"\A(?!.*(BroadcastNestedLoopJoin|CartesianProduct))"),
    ],
    "quality_linear_score": [
        ("zero shuffles (inference at scan speed)", r"\A(?!.*Exchange)"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
        ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
    ],
    "dedup_semantic_groups": [
        ("pair/keeper joins keyed (no cartesian)", r"\A(?!.*CartesianProduct)"),
        ("per-component keeper via partial aggregation, not a window",
         r"partial_min"),
        ("no single-reducer exchange", r"\A(?!.*Exchange SinglePartition)"),
    ],
    "sample_temperature": [
        ("rates ride a broadcast dim join", r"BroadcastHashJoin"),
        ("md5-bucket sample filter map-side (no fact shuffle before filter)",
         r"Filter [^\n]*conv\(substring\(md5"),
        ("stratum counts partially aggregated", r"partial_count"),
    ],
    "dedup_semantic_incremental": [
        ("batch side broadcast into the store probe", r"BroadcastHashJoin"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
        ("min-id dup target via partial aggregation", r"partial_min"),
    ],
    "text_boilerplate_lines": [
        ("boilerplate set broadcast (docs never shuffle for removal)",
         r"BroadcastNestedLoopJoin"),
        ("line counts partially aggregated", r"partial_count"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "sim_topk_ivfpq": [
        ("codebook/probe/distance tables broadcast", r"BroadcastHashJoin"),
        ("ADC sum partially aggregated", r"partial_sum"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "pipeline_curate_semantic": [
        ("id-keyed gate joins (no cartesian)", r"\A(?!.*CartesianProduct)"),
        ("LM probe / boilerplate set broadcast", r"BroadcastHashJoin"),
        # r16: the semantic gate's centroid-dot pass is a vectorized
        # Arrow batch by design now (see dedup_semantic_prune).
        ("assignment dots vectorized (ArrowEvalPython)", r"ArrowEvalPython"),
        ("no row-at-a-time Python", r"\A(?!.*BatchEvalPython)"),
    ],
    "skew_key_profile": [
        ("per-key counts partially aggregated", r"partial_count"),
        ("top-N via per-partition heaps", r"TakeOrderedAndProject"),
        ("no single-reducer sort", r"\A(?!.*rangepartitioning)"),
    ],
    "graph_kcore": [
        ("final core filter keyed on vertex id (semi-join)", r"LeftSemi"),
        # the per-round degree aggs run EAGERLY behind localCheckpoint
        # (lineage truncation), so the final plan reads the truncated
        # RDD rather than replaying five rounds of joins:
        ("peel lineage truncated (checkpoint scan, not replay)",
         r"Scan ExistingRDD"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "ts_interpolate_linear": [
        ("resample grid broadcast against the user dimension",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("both anchor frames share one user_id partition sort",
         r"hashpartitioning\(user_id"),
        ("no single-reducer window",
         r"\A(?!.*Window[^\n]*\n[^\n]*Exchange SinglePartition)"),
    ],
    "funnel_conversion": [
        ("per-step minima partially aggregated", r"partial_min"),
        ("no window over raw events", r"\A(?!.*Window)"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "retention_cohorts": [
        ("cohort/active aggs partially aggregated", r"partial_min"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "dq_validate_orders": [
        # All five row-local rules share ONE aggregation (conditional
        # sums + count-distinct) — no per-rule scans.
        ("row-local rules partially aggregated map-side", r"partial_sum"),
        ("referential probe is a broadcast anti-join",
         r"BroadcastHashJoin [^\n]*LeftAnti"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "join_fuzzy_lev1": [
        # The whole point: the levenshtein predicate alone would plan
        # a nested loop; deletion-variant blocking makes it an
        # equi-join.
        ("no nested-loop/cartesian join",
         r"\A(?!.*(BroadcastNestedLoopJoin|CartesianProduct))"),
        ("candidate pairs deduped via partial aggregation",
         r"(HashAggregate|SortAggregate)[^\n]*partial_"),
        ("variant explode map-side (Generate, no Python)",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "sim_text_cosine_sparse": [
        ("idf table broadcast into the weight probe", r"BroadcastHashJoin"),
        ("dot products partially aggregated", r"partial_sum"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "split_group_aware": [
        ("split side is a map-side md5 bucket (no extra shuffle)",
         r"conv\(substring\(md5"),
        ("no single-reducer exchange", r"\A(?!.*Exchange SinglePartition)"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "export_sharded_manifest": [
        ("manifest reduced with partial aggregation", r"partial_count"),
        ("read-back scan recovers shard as a partition column",
         r"PartitionFilters|Location: InMemoryFileIndex"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "agg_grouping_sets_multi": [
        # The whole point of the multi-pass strategy: no Expand node
        # replicating fact rows x(grouping sets) before the shuffle.
        ("no Expand inflation", r"\A(?!.*Expand)"),
        ("finest cuboid partially aggregated map-side", r"partial_count"),
        ("cuboid reused across set passes, not recomputed",
         r"ReusedExchange"),
    ],
    "udf_python_scalar": [
        # This is the documented escape hatch: the audit asserts the
        # Python boundary IS present (BatchEvalPython = row-at-a-time
        # pickle; the measured ~1.6-1.9x penalty lives in the query's
        # docstring) — and that the scan is still pruned to the two
        # input columns, since pruning survives the boundary even when
        # codegen doesn't.
        ("row-at-a-time Python boundary present (the measured cost)",
         r"BatchEvalPython"),
        ("scan pruned to the UDF's two inputs",
         r"ReadSchema: struct<event_id:bigint,event_type:string>"),
        ("no shuffle (map-side only)", r"\A(?!.*Exchange hashpartitioning)"),
    ],
    "text_hash_embedding": [
        ("per-(doc,bucket) sums partially aggregated", r"partial_sum"),
        ("dense-grid completion joined on (doc, dim)",
         r"hashpartitioning\(doc_id[^)]*dim"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "join_interval_binned": [
        # The whole point of banding: the theta join must NOT plan as
        # a nested loop — the bin key makes it a hash-partitionable
        # equi-join with the exact predicate as residual.
        ("no BroadcastNestedLoopJoin", r"\A(?!.*BroadcastNestedLoopJoin)"),
        ("equi-join on the bin key",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[__bin"),
        ("event_type filter pushed to parquet",
         r"PushedFilters: \[[^\]]*EqualTo\(event_type"),
    ],
    "join_interval_overlap": [
        ("no BroadcastNestedLoopJoin", r"\A(?!.*BroadcastNestedLoopJoin)"),
        ("equi-join on the shared bin",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[__bin"),
    ],
    "ts_sessionize_capped": [
        ("one user_id shuffle reused by both window passes",
         r"hashpartitioning\(user_id"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "dedup_chunks_global": [
        ("reassembly groupBy on the doc id", r"hashpartitioning\(__id"),
        # de-skewed election: keeper = partially-aggregated min-struct
        # per chunk hash, re-attached by a hash equi-join — NOT a
        # window partitioned by the hash (which would funnel a
        # boilerplate mega-clique through one task)
        ("keeper election partially aggregated", r"partial_min"),
        ("no window over the chunk hash", r"\A(?!.*Window)"),
    ],
    "sketch_cms_freq": [
        ("sketch cells partially aggregated map-side",
         r"partial_count|partial_sum"),
        ("tiny sketch broadcast for estimation", r"BroadcastHashJoin"),
    ],
    "sketch_kmv_intersect": [
        ("TopK per partition, no global sort materialization",
         r"TakeOrderedAndProject"),
        ("distinct partially aggregated", r"HashAggregate"),
    ],
    "anomaly_mad": [
        ("per-type percentiles broadcast back", r"BroadcastHashJoin"),
    ],
    "feature_target_encode_loo": [
        ("category aggregate broadcast back", r"BroadcastHashJoin"),
        ("partial aggregation", r"partial_sum"),
    ],
    "agg_histogram_fixed": [
        ("partial aggregation over <= 20 bands", r"partial_count"),
        ("scan pruned to the price column",
         r"ReadSchema: struct<o_totalprice:double>"),
    ],
    "dq_drift_psi": [
        ("partial aggregation over the 10 bands", r"partial_sum"),
        ("window runs over aggregated rows, not raw events",
         r"Window.*SinglePartition"),
    ],
    "agg_corr_exact": [
        ("moments partially aggregated map-side", r"partial_sum"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "join_asof_tolerance": [
        ("single user_id shuffle (union trick, no range join)",
         r"hashpartitioning\(user_id"),
        ("no BroadcastNestedLoopJoin", r"\A(?!.*BroadcastNestedLoopJoin)"),
    ],
    "win_streak_longest": [
        ("day dedup partially aggregated before the window",
         r"partial_first|HashAggregate"),
        ("windows share the user_id partitioning",
         r"hashpartitioning\(user_id"),
    ],
    "join_null_safe": [
        ("null-safe equality plans as a HASH join on (coalesce, isnull)",
         r"BroadcastHashJoin \[coalesce\(lang_key"),
        ("no BroadcastNestedLoopJoin", r"\A(?!.*BroadcastNestedLoopJoin)"),
    ],
    "sample_negatives_ring": [
        ("negatives resolve via equi-join on the ring position",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[npos"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "tpch_q3_priority": [
        ("segment filter pushed to parquet",
         r"PushedFilters: \[[^\]]*EqualTo\(c_mktsegment,BUILDING"),
        ("ship-date filter pushed to parquet",
         r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate"),
        ("customer side broadcast", r"BroadcastHashJoin"),
        ("revenue partially aggregated on the order key", r"partial_sum"),
        ("top-10 via TakeOrderedAndProject (no global sort)",
         r"TakeOrderedAndProject"),
    ],
    "tpch_q5_local_supplier": [
        ("region/nation/supplier/customer chain broadcast",
         r"BroadcastHashJoin"),
        ("no nested-loop for the nation equality",
         r"\A(?!.*BroadcastNestedLoopJoin)"),
        ("revenue partially aggregated before the 5-nation shuffle",
         r"partial_sum"),
    ],
    "seq_transition_matrix": [
        ("lead window on one user_id shuffle", r"hashpartitioning\(user_id"),
        ("pair counts partially aggregated", r"partial_count"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "attribution_last_touch": [
        ("single user_id shuffle for the carry window",
         r"hashpartitioning\(user_id"),
        ("attribution rollup partially aggregated", r"partial_sum"),
    ],
    "dq_k_anonymity": [
        ("scan pruned to the quasi-identifiers",
         r"ReadSchema: struct<c_nationkey:int,c_mktsegment:string>"),
        ("QI group sizes partially aggregated", r"partial_count"),
    ],
    "feature_scale_standard": [
        ("1-row stats broadcast back onto the scan (one lazy plan)",
         r"Broadcast(NestedLoop|Hash)Join|BroadcastExchange"),
        ("moments partially aggregated", r"partial_sum"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "ts_clamped_cumsum": [
        # The per-key strategy IS the sanctioned Python escape hatch:
        # assert it costs exactly one shuffle before the boundary.
        ("per-key scan rides one user_id shuffle",
         r"hashpartitioning\(user_id"),
        # r15: flat keyed_scan_input layout — ONE partition-level
        # Arrow pass (MapInPandas over sorted runs), not a per-group
        # dispatch (FlatMapGroupsInPandas).
        ("flat partition-level Python boundary", r"MapInPandas"),
        ("ordered runs established in-partition", r"Sort \[user_id"),
    ],
    "ts_clamped_cumsum_chunked": [
        ("NO Python boundary (monoid fold is pure JVM)",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas))"),
        ("chunk arrays gathered once (ObjectHashAggregate)",
         r"ObjectHashAggregate"),
        ("tiny entry-balance table broadcast back", r"BroadcastHashJoin"),
    ],
    "graph_bfs_layers": [
        ("layers union (frontier rounds, lineage checkpointed)", r"Union"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "win_topk_two_stage": [
        # the pmod salt is projected to a derived window column (_w0)
        # before the exchange — assert the two-key partitioning
        ("stage 1 shuffles on (segment, salt) — skew spread",
         r"hashpartitioning\(c_mktsegment#\d+, _w0#\d+L?,"),
        # the query sets no partition count: {shuffle_parts} is filled
        # in at audit time with the session's spark.sql.shuffle.partitions
        ("stage 2 re-ranks survivors per segment",
         r"hashpartitioning\(c_mktsegment#\d+, {shuffle_parts}\)"),
        ("no nested loop", r"\A(?!.*BroadcastNestedLoopJoin)"),
    ],
    "join_temporal_scd2": [
        ("union timeline: ONE custkey shuffle, no interval join",
         r"hashpartitioning\(custkey"),
        ("no BroadcastNestedLoopJoin (the oracle's plan, not ours)",
         r"\A(?!.*BroadcastNestedLoopJoin)"),
        ("dim/fact union feeds one window pass", r"Union"),
    ],
    "agg_histogram_equidepth": [
        ("rank: range-partitioned or driver-tier map, not a global window",
         r"rangepartitioning\(|ExistingRDD"),
        ("no single-reducer stage", r"\A(?!.*SinglePartition)"),
        ("bucket rollup partially aggregated", r"partial_count"),
    ],
    "dq_benford": [
        ("digit counts partially aggregated (9 groups)", r"partial_count"),
        ("scan pruned to the money column",
         r"ReadSchema: struct<o_totalprice:double>"),
    ],
    "ts_ewma_window": [
        ("all 8 lags ride ONE user_id shuffle",
         r"hashpartitioning\(user_id"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "sample_systematic": [
        ("rank: range-partitioned or driver-tier map, not a global window",
         r"rangepartitioning\(|ExistingRDD"),
        ("no single-reducer stage", r"\A(?!.*SinglePartition)"),
    ],
    "pipeline_entity_resolution": [
        ("fuzzy stage is an equi-join on deletion variants, no n²",
         r"\A(?!.*BroadcastNestedLoopJoin)"),
        ("canonical election windows on the component key",
         r"hashpartitioning\(component"),
    ],
    "ts_downsample_ohlc": [
        ("open/close via struct min/max — NO window, NO per-bucket sort",
         r"\A(?!.*Window)"),
        ("order statistics partially aggregated map-side",
         r"partial_min|partial_max"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "win_median_rolling": [
        ("rolling frame rides one user_id shuffle",
         r"hashpartitioning\(user_id"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "ml_linear_regression_exact": [
        ("all 9 moments in ONE partially-aggregated pass", r"partial_sum"),
        ("no second scan of the fact table",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
        ("scan pruned to the 3 model columns",
         r"ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"),
    ],
    "search_phrase_positions": [
        ("adjacency is an equi-join (hash on doc_id, pos+1) — no theta",
         r"\A(?!.*BroadcastNestedLoopJoin)"),
        ("posting lists filtered before the join", r"Generate posexplode"),
        ("hash join strategy",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "tpch_q18_top_customers": [
        ("HAVING aggregate shrinks the fact side BEFORE any join",
         r"partial_sum"),
        ("customer broadcast", r"BroadcastHashJoin"),
        ("top-20 via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ],
    "stat_chi_square": [
        ("contingency table partially aggregated", r"partial_count"),
        # margins window over the 25-cell aggregate, never raw rows:
        # the SinglePartition is over post-agg cardinality (documented)
        ("margin windows run over aggregated rows",
         r"Window.*SinglePartition|SinglePartition.*Window"),
    ],
    "stat_ab_ttest": [
        ("per-arm moments partially aggregated", r"partial_sum"),
        ("no Python boundary",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "stat_gini_concentration": [
        ("rank: range-partitioned or driver-tier map, not a global window",
         r"rangepartitioning\(|ExistingRDD"),
        # a global-agg final merge IS a SinglePartition exchange (one
        # row per task) — the forbidden shape is a rank WINDOW over
        # one partition; assert the window partitions by __pid, OR
        # (r16) the driver-tier broadcast map replaced the window
        # entirely (no rank window at all below the cap)
        ("rank window per range partition, or no window (driver tier)",
         r"windowspecdefinition\(__pid|ExistingRDD"),
        ("weighted moments partially aggregated", r"partial_sum"),
    ],
    "fn_bitwise_family": [
        ("pure codegen, no shuffle",
         r"\A(?!.*Exchange)"),
        ("scan pruned to the key",
         r"ReadSchema: struct<o_orderkey:bigint>"),
    ],
    "tpch_q10_returned_items": [
        ("return-flag filter pushed to parquet",
         r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R"),
        ("dimensions broadcast", r"BroadcastHashJoin"),
        ("top-20 via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ],
    "tpch_q14_promo_share": [
        ("ship-date range pushed to parquet",
         r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate"),
        ("part broadcast", r"BroadcastHashJoin"),
        ("conditional + total sums in ONE partial-agg pass",
         r"partial_sum"),
    ],
    "sql_text_star_join": [
        ("SQL-text path still pushes the IN filter",
         r"PushedFilters: \[[^\]]*In\(o_orderpriority"),
        ("SQL-text path still broadcasts dimensions",
         r"BroadcastHashJoin"),
        ("revenue partially aggregated", r"partial_sum"),
    ],
    # ---------------------------------------------------- round 9
    "funnel_within_window": [
        ("step minima partially aggregated", r"partial_min"),
        ("funnel chained on user_id partitioning",
         r"hashpartitioning\(user_id"),
        ("event-type filters pushed to parquet",
         r"PushedFilters: \[[^\]]*event_type"),
    ],
    "rfm_segmentation": [
        ("per-customer metrics partially aggregated", r"partial_sum"),
        ("one shuffle on the customer key", r"hashpartitioning\(o_custkey"),
    ],
    "survival_km": [
        ("subject minima partially aggregated", r"partial_min"),
        ("1-row horizon broadcast (not shuffled)",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "pareto_frontier": [
        ("spend levels partially aggregated", r"partial_max"),
        ("no nested-loop join anywhere (pure sweep)",
         r"\A(?!.*NestedLoop)"),
    ],
    "basket_pair_affinity": [
        ("pair self-join keyed on the basket (order) key",
         r"(hashpartitioning\(l_orderkey|SortMergeJoin \[l_orderkey|ShuffledHashJoin \[l_orderkey)"),
        ("top-20 via TakeOrderedAndProject (no global sort)",
         r"TakeOrderedAndProject"),
    ],
    "agg_weighted_median": [
        ("both window sums on ONE returnflag shuffle",
         r"hashpartitioning\(l_returnflag"),
        ("post-window min partially aggregated", r"partial_min"),
    ],
    "hierarchy_rollup": [
        ("ancestors generated map-side (explode, no iteration)",
         r"Generate explode"),
        ("rollup shuffle keyed on node", r"hashpartitioning\(node"),
    ],
    "dq_uniqueness_profile": [
        ("every per-column branch partially aggregated", r"partial_count"),
        ("scans column-pruned per branch", r"ReadSchema"),
    ],
    "filter_correlated_avg": [
        ("correlated subquery decorrelated to ONE aggregate + join",
         r"partial_sum"),
        ("join keyed on o_custkey",
         r"(hashpartitioning\(o_custkey|BroadcastHashJoin)"),
    ],
    "feature_scale_robust": [
        ("quartile frame broadcast onto the stream", r"BroadcastHashJoin"),
        ("exact percentiles aggregated (not windowed)",
         r"(ObjectHashAggregate|SortAggregate|HashAggregate)"),
    ],
    "path_top_sequences": [
        ("sessionization windows share the user_id shuffle",
         r"hashpartitioning\(user_id"),
        ("top-15 via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ],
    "anomaly_cusum": [
        ("per-key fold on one user_id shuffle",
         r"hashpartitioning\(user_id"),
        ("no Python in the fold (pure JVM HOF)",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ],
    "dq_drift_ks": [
        ("value grid partially aggregated before the cumulative pass",
         r"partial_count"),
        ("1-row totals broadcast",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "emb_covariance_matrix": [
        # keyed equi-join on vec_id; at fixture scale AQE promotes it
        # to broadcast (fine — the key is still vec_id, and at real
        # scale the same plan degrades gracefully to shuffle)
        ("pair join keyed on vec_id",
         r"(hashpartitioning\(vec_id|SortMergeJoin \[vec_id|"
         r"ShuffledHashJoin \[vec_id|BroadcastHashJoin \[vec_id)"),
        ("moment sums partially aggregated", r"partial_sum"),
    ],
    "win_distinct_sliding": [
        ("RANGE frame on the event_type shuffle",
         r"hashpartitioning\(event_type"),
        ("no Python anywhere (collect_set window is JVM)",
         r"\A(?!.*(BatchEvalPython|ArrowEvalPython))"),
    ],
    "dq_l_diversity": [
        ("count-distinct via partial aggregation", r"partial_count"),
        ("one shuffle family on the QI tuple",
         r"hashpartitioning\(c_nationkey"),
    ],
    "set_union_by_name": [
        ("both branches remain pushdown-filtered scans",
         r"PushedFilters: \[[^\]]*o_orderstatus"),
        ("union is a no-shuffle operator", r"\A(?!.*Exchange hashpartitioning.*Union)"),
    ],
    "ts_forecast_seasonal_naive": [
        ("training model broadcast onto the test week",
         r"BroadcastHashJoin"),
        ("model means partially aggregated", r"partial_sum"),
    ],
    "mm_decode_real": [
        ("render and decode are Arrow-batched mapInPandas stages",
         r"MapInPandas"),
        ("no shuffle in the codec path", r"\A(?!.*Exchange hashpartitioning)"),
    ],
    "tpch_q4_priority_check": [
        ("EXISTS planned as LEFT SEMI (no distinct shuffle)",
         r"LeftSemi"),
        ("quarter filter pushed to the orders scan",
         r"PushedFilters: \[[^\]]*o_orderdate"),
    ],
    "tpch_q6_forecast_revenue": [
        ("date + quantity predicates pushed to parquet",
         r"PushedFilters: \[[^\]]*l_shipdate[^\]]*l_quantity"
         r"|PushedFilters: \[[^\]]*l_quantity[^\]]*l_shipdate"),
        ("revenue partially aggregated", r"partial_sum"),
        ("scan pruned to the 4 referenced columns",
         r"ReadSchema: struct<l_quantity[^\n>]*l_discount"),
    ],
    "tpch_q13_custdist": [
        ("left join keyed on the customer key",
         r"(hashpartitioning\(c_custkey|hashpartitioning\(o_custkey|"
         r"BroadcastHashJoin \[c_custkey)"),
        ("per-customer counts partially aggregated", r"partial_count"),
    ],
    "tpch_q17_small_qty": [
        ("brand dimension broadcast", r"BroadcastHashJoin"),
        ("per-part average decorrelated into a partial-agg join",
         r"partial_sum"),
    ],
    "tpch_q19_disjunctive": [
        ("part-side disjunct arms pushed to the part scan",
         r"PushedFilters: \[[^\]]*Or\(Or\(And\(EqualTo\(p_brand"),
        ("lineitem-side quantity envelope pushed to the fact scan",
         r"PushedFilters: \[[^\]]*Or\(Or\(And\(GreaterThanOrEqual\(l_quantity"),
        ("residual evaluated on a broadcast join", r"BroadcastHashJoin"),
    ],
}


def plan_of(df) -> str:
    # Execute first: AQE rewrites the plan at runtime (broadcast
    # promotion, partition coalescing) and only the executed plan of
    # THIS DataFrame's queryExecution carries the final tree with
    # codegen annotations (`*(N)` prefixes) — auditing the
    # pre-execution plan would grade guesses, not what actually ran.
    df.collect()
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    formatted = jdf.queryExecution().explainString(mode)
    executed = jdf.queryExecution().executedPlan().toString()
    return executed + "\n\n" + formatted


def formatted_plan_of(df) -> str:
    """Formatted explain WITHOUT executing the frame — sufficient for
    the size budget (the 801k-line r12 offender was visible in the
    pre-execution formatted plan)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _nonportable_fields(schema) -> list[str]:
    """Columns whose type a generic result harness cannot sort/hash.

    The driver's canonicalizer pandas-sorts every column; list/dict
    cells raise ``TypeError: unhashable type`` (the fn_regex_family
    r13 incident).  Convention: final schemas carry only scalar
    columns — arrays/maps/structs must be joined/serialized before
    they leave a query."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def sizes_all() -> int:
    """Walk the FULL registry; fail any query whose formatted plan
    exceeds PLAN_LINE_BUDGET lines, whose final schema carries a
    non-scalar (array/map/struct) column, or that fails to construct.
    Prints the three failure modes separately (errors vs over_budget
    vs nonportable)."""
    registry = load_all()
    spark = get_spark("explain_audit_sizes")
    sizes: dict[str, int] = {}
    over: list[str] = []
    errors: dict[str, str] = {}
    nonportable: dict[str, list[str]] = {}
    for name in sorted(registry):
        try:
            df = registry[name].fn(spark, SF)
            n = formatted_plan_of(df).count("\n") + 1
        except Exception as exc:  # construction failure is a failure
            print(f"ERR   {name}: {exc}")
            errors[name] = str(exc)[:500]
            continue
        sizes[name] = n
        if n > PLAN_LINE_BUDGET:
            over.append(name)
            print(f"OVER  {name}: {n} lines (> {PLAN_LINE_BUDGET})")
        bad = _nonportable_fields(df.schema)
        if bad:
            nonportable[name] = bad
            print(f"NONPORTABLE  {name}: array/map/struct columns {bad}")
    largest = max(sizes.items(), key=lambda kv: kv[1], default=None)
    print(f"\n{len(sizes)} plans sized; {len(over)} over budget; "
          f"{len(errors)} construction errors; {len(nonportable)} "
          f"non-portable schemas; largest: {largest}")
    return 1 if (over or errors or nonportable) else 0


def main() -> int:
    registry = load_all()
    spark = get_spark("explain_audit")
    lines = [
        "# PLANS — physical-plan audit",
        "",
        f"Generated by `tools/explain_audit.py` at sf dir `{SF}`.",
        "Each query's formatted physical plan, with the scale-critical",
        "properties asserted by regex. A ✗ here is a performance bug even",
        "when results are correct.",
        "",
    ]
    failures = 0
    shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    for name, checks in CHECKS.items():
        df = registry[name].fn(spark, SF)
        # Size budget gates the PRE-execution formatted plan — the
        # artifact whose length tracks analysis/planning cost and the
        # one --sizes-all measures.  (The post-execution dump below
        # re-prints cached relations at every InMemoryTableScan and
        # expands AQE final stages, so its length measures display
        # verbosity, not lineage.)  Property regexes still run on the
        # executed plan: auditing pre-execution would grade guesses.
        nlines = formatted_plan_of(df).count("\n") + 1
        plan = plan_of(df)
        lines.append(f"## {name}\n")
        size_ok = nlines <= PLAN_LINE_BUDGET
        if not size_ok:
            failures += 1
        lines.append(
            f"- {'✅' if size_ok else '✗'} plan within size budget"
            f" ({nlines} lines, budget {PLAN_LINE_BUDGET})"
        )
        print(f"{'PASS' if size_ok else 'FAIL'}  {name}: "
              f"plan size {nlines} lines")
        for prop, pattern in checks:
            pattern = pattern.replace("{shuffle_parts}", shuffle_parts)
            ok = re.search(pattern, plan, re.MULTILINE | re.DOTALL) is not None
            mark = "✅" if ok else "✗"
            if not ok:
                failures += 1
            lines.append(f"- {mark} {prop}")
            print(f"{'PASS' if ok else 'FAIL'}  {name}: {prop}")
        lines.append("\n```\n" + plan.strip() + "\n```\n")
    failures += audit_streams(spark, registry, lines)
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(lines))
    print(f"\n{failures} failed checks; PLANS.md written")
    return 1 if failures else 0



CHECKS["attribution_linear"] = [
    ("conversion grouping + credit join share the user_id family",
     r"hashpartitioning\(user_id"),
    ("group purses partially aggregated", r"partial_(max|sum)"),
]
CHECKS["ts_max_concurrency"] = [
    ("sweep runs over aggregated session boundaries (partial agg first)",
     r"partial_min"),
    ("1-row peak broadcast",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]

CHECKS["fn_regex_family"] = [
    ("map-side only: no shuffle", r"\A(?!.*hashpartitioning)"),
    ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
]
CHECKS["gov_right_to_erasure"] = [
    ("cascade hops are LEFT SEMI joins", r"LeftSemi"),
    ("no cartesian beyond the 1-row count unions",
     r"\A(?!.*CartesianProduct)"),
]
CHECKS["agg_ratio_to_report"] = [
    ("dimensions broadcast", r"BroadcastHashJoin"),
    ("windows run over the 25-row aggregated frame (partial agg first)",
     r"partial_sum"),
]
CHECKS["seq_user_churn"] = [
    ("activity compressed to distinct user-weeks before the join",
     r"partial_"),
    ("adjacent-week self-join keyed on (user, week)",
     r"(hashpartitioning\(user_id|SortMergeJoin \[user_id|FullOuter)"),
]

CHECKS["ops_rate_limit"] = [
    ("per-key scan on ONE user_id shuffle",
     r"hashpartitioning\(user_id"),
    # r15: flat keyed_scan_input layout (see ts_clamped_cumsum)
    ("flat partition-level Python boundary", r"MapInPandas"),
    ("ordered runs established in-partition", r"Sort \[user_id"),
]

CHECKS["agg_percentile_disc"] = [
    ("cumulative pass runs on the compressed value grid",
     r"partial_count"),
    ("per-type window on one event_type shuffle",
     r"hashpartitioning\(event_type"),
]

CHECKS["seq_audience_overlap"] = [
    ("audience compressed to distinct pairs before the self-join",
     r"partial_"),
    ("size tables broadcast onto the pair matrix", r"BroadcastHashJoin"),
]
CHECKS["dq_skew_report"] = [
    ("per-key counts partially aggregated", r"partial_count"),
    ("1-row statistics broadcast (no data-scale cartesian)",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]

CHECKS["win_rolling_corr"] = [
    ("all five moment sums on ONE user_id exchange",
     r"hashpartitioning\(user_id"),
    ("no Python anywhere", r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]
CHECKS["pipeline_churn_digest"] = [
    ("churn slice applied as a semi-join before the rollup",
     r"LeftSemi"),
    ("profile rollup partially aggregated", r"partial_sum"),
]

CHECKS["mm_decode_audio"] = [
    ("render and decode are Arrow-batched mapInPandas stages",
     r"MapInPandas"),
    ("no shuffle in the codec path", r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["mm_decode_video"] = [
    ("render and decode are Arrow-batched mapInPandas stages",
     r"MapInPandas"),
    ("no shuffle in the codec path", r"\A(?!.*Exchange hashpartitioning)"),
]



CHECKS["tpch_q7_volume_shipping"] = [
    ("nation-filtered supplier/customer sides broadcast",
     r"BroadcastHashJoin"),
    ("fact spine partially aggregated", r"partial_sum"),
]
CHECKS["tpch_q8_market_share"] = [
    ("all dimensions broadcast onto the fact spine",
     r"BroadcastHashJoin"),
    ("single conditional-sum aggregation (no two-pass self-join)",
     r"partial_sum"),
]
CHECKS["tpch_q15_top_supplier"] = [
    ("per-supplier revenue partially aggregated", r"partial_sum"),
    ("global max is a broadcast 1-row aggregate, not a sort",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ("no global sort", r"\A(?!.*rangepartitioning)"),
]
CHECKS["tpch_q22_idle_rich_customers"] = [
    ("scalar threshold broadcast as a 1-row aggregate",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ("NOT EXISTS is an anti join", r"LeftAnti"),
    ("segment rollup partially aggregated", r"partial_(sum|count)"),
]

CHECKS["text_bpe_merge_rank"] = [
    ("corpus collapses to the distinct-word frame first (partial count)",
     r"partial_count|partial_sum"),
    ("pair generation is a map-side HOF (no Python boundary)",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]
CHECKS["emb_quantize_int8"] = [
    ("quantization is pure JVM HOFs (no Python boundary)",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ("per-label audit partially aggregated", r"partial_(sum|count|max)"),
    ("embedding scan prunes to the referenced columns",
     r"ReadSchema: struct<embedding:array<float>,label:int>"),
]
CHECKS["maintenance_zonemap_prune"] = [
    ("footer rollups partially aggregated", r"partial_(min|max|count)"),
    ("scan reads only orderkey+shipdate",
     r"ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp[^>]*>"),
]

CHECKS["mm_resize_real"] = [
    ("render, decode and resize are Arrow-batched mapInPandas stages",
     r"(FlatMapGroupsInPandas|MapInPandas).*(FlatMapGroupsInPandas|MapInPandas)"),
    ("no shuffle in the codec path", r"\A(?!.*hashpartitioning)"),
]
CHECKS["mm_frame_sample_real"] = [
    ("frame explode happens inside the Arrow task", r"MapInPandas"),
    ("no shuffle in the codec path", r"\A(?!.*hashpartitioning)"),
]

CHECKS["stat_winsorized_mean"] = [
    ("rank window and rollup share the event_type exchange",
     r"hashpartitioning\(event_type"),
    ("threshold frame broadcast back", r"BroadcastHashJoin"),
]
CHECKS["stat_sprt"] = [
    ("LLR walk runs on ONE event_type exchange",
     r"hashpartitioning\(event_type"),
    ("crossing/final are partial-aggregated struct order statistics",
     r"partial_(min|max)"),
]
CHECKS["text_url_canonicalize"] = [
    ("canonicalization is map-side codegen (no UDF)",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ("canonical-key rollup partially aggregated", r"partial_count"),
]

CHECKS["sample_balanced_classes"] = [
    ("ranking window and rollup share the label exchange",
     r"hashpartitioning\(label"),
    ("k threshold is a broadcast 1-row aggregate",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]

CHECKS["pipeline_web_corpus"] = [
    ("shuffles only on the keeper key and the packing key",
     r"\A(?!.*hashpartitioning\((?!canonical_url|source)\w)"),
    ("keeper agg partially aggregated", r"partial_min"),
    ("scoring/canonicalization map-side (no UDF boundary)",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]

CHECKS["mm_audio_downsample"] = [
    ("render and decimate are Arrow-batched mapInPandas stages",
     r"MapInPandas.*MapInPandas"),
    ("no shuffle in the codec path", r"\A(?!.*hashpartitioning)"),
]
CHECKS["fn_url_family"] = [
    ("URL parsing is map-side codegen (no UDF, no shuffle)",
     r"\A(?!.*(hashpartitioning|BatchEvalPython|ArrowEvalPython))"),
    ("scan prunes to doc_id+source",
     r"ReadSchema: struct<doc_id:bigint,source:string>"),
]

CHECKS["join_asof_nearest"] = [
    ("both carry directions on ONE user_id exchange",
     r"\A(?!.*hashpartitioning\((?!user_id)\w)"),
    ("no range-join explosion (no BNLJ, no cartesian)",
     r"\A(?!.*(BroadcastNestedLoopJoin|CartesianProduct))"),
]
CHECKS["ops_burn_rate"] = [
    ("raw stream collapses to the hour spine first (partial agg)",
     r"partial_(sum|count)"),
    ("rolling windows run over the aggregated hour frame",
     r"Window"),
]

CHECKS["text_html_extract"] = [
    ("extraction is map-side regexp codegen (no UDF, no shuffle)",
     r"\A(?!.*(hashpartitioning|BatchEvalPython|ArrowEvalPython))"),
]
CHECKS["maintenance_compact_binpack"] = [
    ("group rollup partially aggregated (the only data-scale pass)",
     r"partial_sum"),
    ("planning window runs over the aggregated group frame",
     r"Window"),
]

CHECKS["agg_bitmap_distinct_days"] = [
    ("bitmap fold partially aggregated map-side (no count-distinct expand)",
     r"partial_(bit_or|bitor|min)"),
    ("one shuffle on user_id",
     r"\A(?!.*hashpartitioning\((?!user_id)\w)"),
]

CHECKS["mm_dedup_phash"] = [
    ("fingerprinting is one Arrow-batched stage", r"MapInPandas"),
    ("only exchange is the collision window on the hash key",
     r"\A(?!.*hashpartitioning\((?!hash_hi)\w)"),
]

CHECKS["gov_audit_chain"] = [
    ("per-user chain on ONE user_id exchange",
     r"hashpartitioning\(user_id"),
    # r15: flat keyed_scan_input layout (see ts_clamped_cumsum)
    ("flat partition-level Python boundary", r"MapInPandas"),
    ("ordered runs established in-partition", r"Sort \[user_id"),
]

CHECKS["mm_video_scene_cuts"] = [
    ("frame sums come out of the zero-shuffle codec stage",
     r"MapInPandas"),
    ("adjacent-frame lag on one doc_id exchange",
     r"\A(?!.*hashpartitioning\((?!doc_id)\w)"),
]

CHECKS["agg_bitmap_streaks"] = [
    ("one partial-aggregated user rollup; streak logic map-side after it",
     r"partial_(bit_or|bitor)"),
    ("no self-join, no window over raw rows",
     r"\A(?!.*SortMergeJoin)"),
]
CHECKS["stat_mann_whitney"] = [
    ("values compress to the distinct-(type,value) frame first",
     r"partial_(count|sum)"),
    ("position window and rollups share the event_type exchange",
     r"hashpartitioning\(event_type"),
]

CHECKS["agg_bitmap_cohort_retention"] = [
    ("user rollup partially aggregated (bit_or fold)",
     r"partial_(bit_or|bitor)"),
    ("no self-join of the activity table", r"\A(?!.*SortMergeJoin)"),
]

CHECKS["mm_decode_jpeg"] = [
    ("JPEG encode+decode are Arrow-batched codec stages",
     r"MapInPandas"),
    ("zero shuffle: codec work distributes embarrassingly",
     r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["gov_crypto_shred"] = [
    ("key table broadcast — the fact table never shuffles for the join",
     r"BroadcastHashJoin.*LeftOuter"),
    ("audit rollup partially aggregated", r"partial_(count|sum)"),
]

CHECKS["dq_fd_miner"] = [
    ("all FD rules stacked into ONE scan (generate, not re-scan)",
     r"Generate explode"),
    ("per-lhs distinct partially aggregated", r"partial_count"),
]

CHECKS["ts_holt_linear"] = [
    ("sequential scan runs over the PRE-AGGREGATED daily frame",
     r"partial_count"),
    ("sanctioned per-key sequential boundary",
     r"FlatMapGroupsInPandas"),
]

CHECKS["stat_bootstrap_ci"] = [
    ("sizes broadcast into the draw grid", r"BroadcastExchange"),
    ("bootstrap means partially aggregated", r"partial_sum"),
]

CHECKS["graph_label_propagation"] = [
    ("per-round label counts partially aggregated", r"partial_count"),
    ("deterministic argmax via per-node rank window",
     r"row_number"),
]

CHECKS["emb_pca_power_iteration"] = [
    # The returned frame is the d-row literal-array projection — the
    # Gram pass and the K matvecs execute inside the operator (their
    # partial-agg shape is pinned by the near-identical
    # emb_covariance_matrix checks); what the RESULT plan must prove
    # is that no Python-rows or shuffle residue leaks into it.
    ("result is a pure local projection (no Python-rows plan)",
     r"\A(?!.*Scan ExistingRDD)"),
    ("no shuffle residue in the result plan",
     r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["text_bigram_kneser_ney"] = [
    ("bigram rollup partially aggregated", r"partial_count"),
    ("context top-k is TakeOrderedAndProject, not a global sort",
     r"TakeOrderedAndProject"),
]

CHECKS["text_vocab_coverage"] = [
    ("corpus collapses to the distinct-type frame first",
     r"partial_count"),
    ("V probes broadcast onto the ranked frame", r"BroadcastExchange"),
]

CHECKS["dq_dataset_checksum"] = [
    ("both digest folds partially aggregated (map-side monoids)",
     r"partial_(bit_xor|bitxor|sum)"),
    ("one 1-row exchange, no wide shuffle",
     r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["ts_cross_correlation"] = [
    ("per-series daily moments partially aggregated", r"partial_sum"),
    ("lag probes are calendar-sized equi-joins",
     r"SortMergeJoin|BroadcastHashJoin"),
]

CHECKS["emb_mutual_knn_graph"] = [
    ("quadratic tier parallelized: probe side repartitioned",
     r"Exchange (hashpartitioning|RoundRobinPartitioning)"),
    ("candidate side broadcast (no shuffle of the pair grid)",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]

CHECKS["seq_pattern_regex"] = [
    ("journeys built by partial-aggregable ordered aggregation",
     r"partial_collect_list|ObjectHashAggregate"),
    ("no per-user Python boundary", r"\A(?!.*InPandas)"),
]

CHECKS["ts_acf"] = [
    ("daily moments partially aggregated", r"partial_sum"),
    ("lag probe is an equi-join on day+lag, never a cross of the data",
     r"SortMergeJoin|BroadcastHashJoin"),
]

CHECKS["stat_chi2_independence"] = [
    ("contingency cells partially aggregated off one pass",
     r"partial_count"),
    ("margins broadcast onto the cell frame", r"BroadcastHashJoin"),
]

CHECKS["dq_fk_orphans"] = [
    ("parent key sets broadcast; child side never shuffles",
     r"BroadcastHashJoin.*LeftOuter"),
    ("per-edge audit partially aggregated", r"partial_count"),
]

CHECKS["ts_seasonal_decompose"] = [
    ("daily rollup partially aggregated at data scale",
     r"partial_sum"),
    ("no Python boundary — pure JVM window algebra",
     r"\A(?!.*InPandas)"),
]

CHECKS["llm_classify_dedup_prompts"] = [
    ("LLM boundary fed by the DISTINCT prompt frame, not the corpus",
     r"partial_first|HashAggregate.*prompt"),
    ("label table broadcast back onto the rows",
     r"BroadcastHashJoin"),
    ("classification stays an Arrow-batched stage", r"MapInPandas"),
]

CHECKS["graph_jaccard_link_prediction"] = [
    ("pairs generated through the shared customer, never supplier x supplier",
     r"hashpartitioning\(c"),
    ("top pairs via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ("degree frames broadcast", r"BroadcastHashJoin"),
]

# ---- round 11 ----

CHECKS["mm_decode_jpeg_progressive"] = [
    ("codec work is Arrow-batched MapInPandas stages", r"MapInPandas"),
    # r16: the single-file scan is spread round-robin before the codec
    # stages (2.05 -> 0.90 s measured); the codec path still never
    # hash-partitions.
    ("no keyed shuffle — embarrassingly parallel decode",
     r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["geo_grid_rollup"] = [
    ("geohash is pure JVM scalar math (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
    ("zoom fanout via explode (Generate)", r"Generate explode"),
    ("pyramid partially aggregated before the one shuffle",
     r"partial_count"),
]

CHECKS["geo_geohash_join"] = [
    ("cell-bucketed EQUALITY join, never a cartesian",
     r"\A(?!.*CartesianProduct)"),
    ("neighbor fanout via explode (Generate)", r"Generate explode"),
    ("join keyed on grid cells",
     r"(hashpartitioning\((cy|cx)|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
]

CHECKS["geo_fence_transitions"] = [
    ("one window shuffle on user_id", r"hashpartitioning\(user_id"),
    ("tile derivation is JVM scalar math (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["stat_kendall_tau"] = [
    ("daily frame partially aggregated at data scale", r"partial_count"),
    ("calendar-bounded pair stage broadcast (no data-scale shuffle)",
     r"BroadcastNestedLoopJoin"),
    ("pair counters partially aggregated", r"partial_sum"),
]

CHECKS["stat_theil_sen"] = [
    ("daily frame partially aggregated at data scale", r"partial_count"),
    ("slope pairs broadcast (calendar-bounded)",
     r"BroadcastNestedLoopJoin"),
]

CHECKS["dq_t_closeness"] = [
    ("band spine broadcast onto groups", r"BroadcastNestedLoopJoin"),
    ("cell counts partially aggregated at data scale", r"partial_count"),
    ("cumulative EMD windows keyed per group",
     r"hashpartitioning\(c_nationkey"),
]

CHECKS["ml_isotonic_regression"] = [
    ("bucket histogram partially aggregated at data scale",
     r"partial_count"),
    ("minimax expansion broadcast (bucket-bounded)",
     r"BroadcastNestedLoopJoin"),
]

CHECKS["ts_motif_ssd"] = [
    ("daily frame partially aggregated at data scale", r"partial_count"),
    ("window pairs broadcast (calendar-bounded)",
     r"BroadcastNestedLoopJoin"),
    ("top-k via TakeOrderedAndProject, no global sort",
     r"TakeOrderedAndProject"),
    ("SSD is JVM array algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["sample_priority_weighted"] = [
    ("top-(k+1) via TakeOrderedAndProject (per-partition heaps)",
     r"TakeOrderedAndProject"),
    ("no range-partitioned global sort", r"\A(?!.*rangepartitioning)"),
    ("threshold broadcast back onto the sample", r"BroadcastNestedLoopJoin"),
]

CHECKS["ts_changepoint_binseg"] = [
    ("daily frame partially aggregated at data scale", r"partial_count"),
    ("argmax splits via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ("prefix frame reused via tracked persist", r"InMemoryTableScan"),
]

CHECKS["sample_kcenter_coreset"] = [
    ("every round's center joins by broadcast (k linear passes)",
     r"BroadcastNestedLoopJoin"),
    ("distance algebra is JVM-side (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["ml_decision_stump"] = [
    ("bucket histogram partially aggregated at data scale",
     r"partial_count"),
    ("argmin split via TakeOrderedAndProject", r"TakeOrderedAndProject"),
]

CHECKS["fn_uuid_deterministic"] = [
    ("zero shuffle — map-side string algebra", r"\A(?!.*Exchange)"),
    ("column-pruned ReadSchema (doc_id only)",
     r"ReadSchema: struct<doc_id:bigint>"),
    ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
]

CHECKS["mm_decode_gif"] = [
    ("codec work is one Arrow-batched MapInPandas stage", r"MapInPandas"),
    ("zero shuffle — embarrassingly parallel decode",
     r"\A(?!.*Exchange)"),
]

CHECKS["text_rake_keywords"] = [
    ("phrase islands via per-doc window (one keyed shuffle)",
     r"hashpartitioning\(doc_id"),
    ("vocabulary score table broadcast back", r"BroadcastHashJoin"),
    ("final rank via TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ("pure JVM string algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["stat_cuped"] = [
    ("per-user sums partially aggregated at data scale", r"partial_sum"),
    ("theta/moments broadcast onto the variants",
     r"BroadcastNestedLoopJoin"),
]

CHECKS["survival_nelson_aalen"] = [
    ("per-subject passes partially aggregated", r"partial_min"),
    ("horizon broadcast", r"BroadcastNestedLoopJoin"),
]

CHECKS["mm_decode_bmp"] = [
    ("codec work is Arrow-batched MapInPandas stages", r"MapInPandas"),
    ("zero shuffle — embarrassingly parallel decode",
     r"\A(?!.*Exchange)"),
]

CHECKS["ml_roc_curve"] = [
    ("bucket histogram partially aggregated at data scale",
     r"partial_sum"),
    ("totals and AUC broadcast onto the curve frame",
     r"BroadcastNestedLoopJoin"),
    ("pure JVM curve algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["ml_calibration_ece"] = [
    ("bin histogram partially aggregated at data scale",
     r"partial_count"),
    ("pure JVM ppm algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["stat_power_mde"] = [
    ("moments partially aggregated at data scale", r"partial_sum"),
    ("sizing grid broadcast", r"BroadcastNestedLoopJoin"),
    ("no data-scale shuffle beyond the one aggregate",
     r"\A(?!.*hashpartitioning\(o_orderkey)"),
]

CHECKS["join_array_overlap"] = [
    ("explode-both-sides equality join, never a cartesian",
     r"\A(?!.*CartesianProduct)(?!.*BroadcastNestedLoopJoin)"),
    ("tag fanout via explode (Generate)", r"Generate explode"),
    ("pair counts partially aggregated", r"partial_count"),
]

CHECKS["attribution_time_decay"] = [
    ("pair stage keyed on user_id (calendar-bounded fanout)",
     r"(hashpartitioning\(user_id|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ("credits partially aggregated by touch type", r"partial_count"),
    ("pure JVM dyadic weights (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["stat_cohens_kappa"] = [
    ("confusion cells partially aggregated at data scale",
     r"partial_count"),
    ("margins broadcast onto the 9-cell frame",
     r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
]

CHECKS["ml_bradley_terry"] = [
    # r16: the customer-keyed pair join + win-matrix aggregation run
    # ONCE behind an eager localCheckpoint of the 5-row base frame
    # (the lazy plan replicated that data-scale subtree ~2x per MM
    # round: 96 scans / 60 joins / 2465 lines, see
    # plans/r16/ml_bradley_terry_before.txt); the final plan iterates
    # on the checkpointed ExistingRDD.
    ("pair join + win matrix checkpointed once (5-row ExistingRDD)",
     r"ExistingRDD"),
    ("MM iterations run on broadcast 5-row frames",
     r"BroadcastNestedLoopJoin"),
    ("pure JVM iteration algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

# ---------------------------------------------------------- round 12

CHECKS["graph_hits"] = [
    ("edge derivation joined on the order key",
     r"(hashpartitioning\(l_orderkey|hashpartitioning\(o_orderkey|"
     r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ("half-step sums partially aggregated", r"partial_sum"),
    ("max-normalization constant broadcast (1-row frame)",
     r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
    ("pure JVM iteration algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["ml_ndcg_mrr"] = [
    ("rankings are per-query windows, never a global sort",
     r"hashpartitioning\(query_id"),
    ("metrics partially aggregated", r"partial_sum"),
    ("scan pruned to the 2 referenced order columns",
     r"ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
]

CHECKS["ts_sax_symbols"] = [
    ("daily and weekly rollups partially aggregated", r"partial_sum"),
    ("z-normalization constants broadcast (1-row frame)",
     r"BroadcastNestedLoopJoin"),
    ("pure JVM bit/CASE algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["ml_naive_bayes"] = [
    ("model table broadcast to the scoring side", r"BroadcastHashJoin"),
    ("token counts partially aggregated", r"partial_count"),
    ("per-(doc, class) scores partially aggregated", r"partial_sum"),
]

CHECKS["mm_audio_features"] = [
    ("Arrow-batched decode (no row-at-a-time Python)",
     r"MapInPandas"),
    ("zero shuffle: no exchange in the decode path",
     r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["feature_hash_vectorize"] = [
    ("cell counts partially aggregated", r"partial_count"),
    ("norms joined back keyed by doc",
     r"(hashpartitioning\(doc_id|SortMergeJoin|ShuffledHashJoin|"
     r"BroadcastHashJoin)"),
    ("per-doc norm via window on the co-partitioned cells "
     "(no self-join rescan)",
     r"\A(?!.*SortMergeJoin)(?!.*ShuffledHashJoin)[\s\S]*Window \[sum"),
]

CHECKS["gov_dp_histogram"] = [
    ("nation dimension broadcast", r"BroadcastHashJoin"),
    ("histogram partially aggregated", r"partial_count"),
    ("noise is map-side scalar algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["stat_bh_fdr"] = [
    ("test family reduced before the global window (bounded rows)",
     r"HashAggregate\(keys=\[o_orderpriority"),
    ("pure JVM window algebra (no Python boundary)",
     r"\A(?!.*InPandas)(?!.*BatchEvalPython)"),
]

CHECKS["stat_levene_bf"] = [
    ("group medians/moments partially aggregated", r"partial_"),
    ("group-count frame broadcast", r"BroadcastNestedLoopJoin"),
]

CHECKS["cluster_silhouette"] = [
    ("k centroid rows broadcast", r"BroadcastNestedLoopJoin"),
    ("per-point window bounded at k rows, partitioned by vec_id",
     r"hashpartitioning\(vec_id"),
    ("per-cluster means partially aggregated", r"partial_sum"),
]

# ------------------------- round-12 continuation wave

CHECKS["text_blocklist_filter"] = [
    ("term frame broadcast onto the token stream", r"BroadcastHashJoin"),
    ("per-doc hit counts partially aggregated", r"partial_count"),
    ("no cartesian", r"\A(?!.*CartesianProduct)"),
]
CHECKS["text_ngram_novelty"] = [
    ("bigrams built map-side from the token array (no posexplode)",
     r"Generate explode"),
    ("no positional self-join path", r"\A(?!.*posexplode)"),
    ("first-occurrence min partially aggregated", r"partial_min"),
    # r15: the bg-keyed join of exploded rows is GONE — attribution
    # rolls up (bg, first_doc) by doc and joins doc-level counts.
    ("per-doc rollups joined on doc_id", r"hashpartitioning\(doc_id"),
    ("novel counts partially aggregated", r"partial_count"),
]
CHECKS["sample_dsir_importance"] = [
    ("32-row model broadcast onto the tf frame", r"BroadcastHashJoin"),
    ("top-k is TakeOrderedAndProject, never a global sort",
     r"TakeOrderedAndProject"),
    ("bucket statistics partially aggregated", r"partial_count"),
]
CHECKS["split_time_series_cv"] = [
    ("one scan: folds stacked map-side (Generate)", r"Generate explode"),
    ("the only partitioning key is the fold (one data-scale shuffle)",
     r"\A(?!.*hashpartitioning\((?!fold))"),
    ("fold aggregates partially aggregated", r"partial_sum"),
]
CHECKS["graph_personalized_pagerank"] = [
    ("per-round contribution sums partially aggregated", r"partial_sum"),
    ("rank joins keyed on the node id", r"hashpartitioning\((src|node|dst)"),
    ("no Python anywhere",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]
CHECKS["ml_gbdt_stumps"] = [
    ("histogram built by partial aggregation", r"partial_sum"),
    ("argmax split is TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ("1-row split broadcast back for residuals",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]
CHECKS["geo_polygon_contains"] = [
    ("containment is map-side codegen'd algebra: no join at all",
     r"\A(?!.*Join)"),
    ("the only partitioning key is the polygon (one shuffle)",
     r"\A(?!.*hashpartitioning\((?!polygon))"),
    ("whole-stage codegen", r"(\*\(\d+\)|\[codegen id :)"),
]
CHECKS["ts_dtw_pairs"] = [
    ("pair frame is a BROADCAST self-join of the bounded profile table",
     r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
    ("profile pivot partially aggregated", r"partial_sum"),
    ("top-10 is TakeOrderedAndProject", r"TakeOrderedAndProject"),
]
CHECKS["dq_entropy_profile"] = [
    ("one scan: profiled columns stacked map-side (Generate)",
     r"Generate explode"),
    ("value counts partially aggregated", r"partial_count"),
]
CHECKS["attribution_markov_removal"] = [
    ("journeys and hops share ONE user_id window family",
     r"hashpartitioning\(user_id"),
    ("transition counts partially aggregated", r"partial_count"),
    ("chain algebra on a 1-row frame (broadcast, no data-scale join)",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]

CHECKS["ml_logistic_histogram"] = [
    ("sufficient-statistics histogram partially aggregated",
     r"partial_sum"),
    ("per-step weights ride a 1-row broadcast",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ("no Python anywhere",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]
CHECKS["feature_woe_iv"] = [
    ("group counts partially aggregated", r"partial_sum"),
    ("1-row totals broadcast",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]
CHECKS["stat_permutation_test"] = [
    ("per-user rollup is the only data-scale shuffle (partial agg)",
     r"partial_sum"),
    ("draw explosion happens AFTER the user-level compression",
     r"Generate explode"),
    ("observed statistic broadcast (1 row)",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]
CHECKS["text_zipf_slope"] = [
    ("token counts partially aggregated", r"partial_count"),
    ("top-k is TakeOrderedAndProject, never a global sort",
     r"TakeOrderedAndProject"),
]

CHECKS["sim_ivf_recall_eval"] = [
    ("query sample broadcast over the corpus pass",
     r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
    ("comparison join runs on the tiny top-k frames (no cartesian)",
     r"\A(?!.*CartesianProduct)"),
]
CHECKS["stat_mcnemar"] = [
    ("discordance counts partially aggregated", r"partial_sum"),
    ("single scan, no join", r"\A(?!.*Join)"),
]
CHECKS["mm_audio_dft8"] = [
    ("render and decode are Arrow-batched mapInPandas stages",
     r"MapInPandas"),
    ("no shuffle in the codec path",
     r"\A(?!.*Exchange hashpartitioning)"),
]

CHECKS["stat_anova_f"] = [
    ("group sufficient statistics partially aggregated",
     r"partial_sum"),
    ("single scan, no join", r"\A(?!.*Join)"),
]

CHECKS["dedup_lsh_recall_eval"] = [
    ("exact side keeps the PPJoin prefix-filter shape (token join)",
     r"hashpartitioning\(tok|SortMergeJoin|ShuffledHashJoin"),
    ("pair-count totals broadcast (1-row frames)",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]
CHECKS["graph_random_walks"] = [
    ("each step is composite-key equi-joins (no per-neighbor fanout)",
     r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ("edge indexing on one src shuffle", r"hashpartitioning\(src"),
    ("no cartesian", r"\A(?!.*CartesianProduct)"),
]

CHECKS["cluster_dbscan_grid"] = [
    ("epsilon-join is an equality join on cell keys (AQE broadcasts"
     " the small side at test SF; shuffles on cells at scale)",
     r"BroadcastHashJoin|hashpartitioning\((cy|cx)"),
    ("no cartesian anywhere", r"\A(?!.*CartesianProduct)"),
    ("degree and border assignment partially aggregated",
     r"partial_(count|min)"),
]

CHECKS["emb_matryoshka_recall"] = [
    ("query sample broadcast over the corpus pass",
     r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
    ("prefix slicing is map-side (no extra exchange class)",
     r"\A(?!.*CartesianProduct)"),
]
CHECKS["udf_arrow_scalar"] = [
    ("Arrow-optimized scalar UDF boundary (NOT pickled rows)",
     r"ArrowEvalPython"),
    ("no pickled-row boundary", r"\A(?!.*BatchEvalPython)"),
]

CHECKS["pipeline_select_corpus"] = [
    ("gate frames joined on doc_id (one exchange family)",
     r"hashpartitioning\(doc_id"),
    ("32-row DSIR model broadcast", r"BroadcastHashJoin"),
    ("no cartesian", r"\A(?!.*CartesianProduct)"),
]

CHECKS["ts_max_drawdown"] = [
    ("cumsum and running max share ONE user_id exchange",
     r"hashpartitioning\(user_id"),
    ("no self-join for the trough witness", r"\A(?!.*SortMergeJoin)"),
]
CHECKS["sample_neyman_allocation"] = [
    ("design fitted from partially-aggregated sufficient statistics",
     r"partial_sum"),
    ("admission is map-side against the broadcast 5-row allocation",
     r"BroadcastHashJoin|BroadcastNestedLoopJoin"),
]

CHECKS["graph_walk_skipgram_pairs"] = [
    ("pair construction is map-side array algebra (no self-join of"
     " the walk table)", r"\A(?!.*SortMergeJoin \[seq)"),
    ("pair counts partially aggregated", r"partial_count"),
]

CHECKS["ml_offpolicy_ips"] = [
    ("propensity frame broadcast onto the reward stream",
     r"BroadcastHashJoin"),
    ("reweighted sums partially aggregated", r"partial_sum"),
]

CHECKS["anomaly_volume_days"] = [
    ("day counts partially aggregated", r"partial_count"),
    ("1-row moment frame broadcast",
     r"BroadcastNestedLoopJoin|BroadcastExchange"),
]

CHECKS["graph_hits"] = [
    # r12's 47k-line / 2304-scan offender: the loop now eagerly
    # localCheckpoints the edge set and each half-step's raw scores,
    # so the final plan reads materialized RDDs instead of replaying
    # three rounds of joins twice over (the max-normalize double-read)
    ("loop lineage truncated (checkpoint scan, not replay)",
     r"Scan ExistingRDD"),
    ("no cartesian beyond the broadcast 1-row max frames",
     r"\A(?!.*CartesianProduct)"),
]
CHECKS["sample_kcenter_coreset"] = [
    # r12's 801k-line offender: per-round eager localCheckpoint on
    # dist AND the 1-row pick keeps the k-way union flat — the FINAL
    # plan is just the union of materialized 1-row picks (the
    # broadcast crossJoin distance updates ran inside the eager
    # checkpoint jobs and are gone from the returned lineage, which
    # is exactly the point)
    ("farthest-first rounds checkpointed (no nested replay)",
     r"Scan ExistingRDD"),
    ("flat k-way union of materialized picks", r"Union"),
]

CHECKS["maintenance_hilbert_order"] = [
    ("whole index is codegen (no Python, no shuffle before rollup)",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
    ("single partial-aggregated shuffle on the curve bucket",
     r"hashpartitioning\(hbucket"),
    ("whole-stage codegen spans the level chain",
     r"(\*\(\d+\)|\[codegen id :)"),
]
CHECKS["sketch_hll_registers"] = [
    ("registers partially aggregated map-side (the HLL merge monoid)",
     r"partial_max"),
    ("one shuffle family keyed (group, bucket)",
     r"hashpartitioning\(grp"),
    ("no Python boundary",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]
CHECKS["seq_pattern_match"] = [
    ("ONE partial-aggregated user_id shuffle builds the symbol strings",
     r"hashpartitioning\(user_id"),
    ("no window, no per-user sort spill (array_sort inside the agg)",
     r"\A(?!.*Window)"),
    ("patterns evaluate map-side (no Python boundary)",
     r"\A(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))"),
]
CHECKS["mm_decode_png_matrix"] = [
    ("render and decode are Arrow-batched mapInPandas stages",
     r"MapInPandas"),
    ("zero shuffle: codec work distributes embarrassingly",
     r"\A(?!.*Exchange hashpartitioning)"),
]

# Round-14 container/metadata family: every query is two chained
# Arrow-batched mapInPandas stages (synthesize -> parse); the parse
# path must stay shuffle-free — the whole 100 TB story for codec/
# container work is that it distributes embarrassingly.
for _name in (
    "mm_audio_mp3_meta",
    "warc_scan_records",
    "mm_video_h264_meta",
    "tar_scan_members",
    "wds_sample_groups",
    "warcgz_scan_records",
    "zip_scan_entries",
):
    CHECKS[_name] = [
        ("synthesize and parse are Arrow-batched mapInPandas stages",
         r"MapInPandas"),
        ("no shuffle in the container/codec path",
         r"\A(?!.*Exchange hashpartitioning)"),
    ]

# pipeline_crawl_ingest: the only exchange is the dedup groupBy on the
# body — one hash shuffle, nothing else.
CHECKS["pipeline_crawl_ingest"] = [
    ("parse stages are mapInPandas", r"MapInPandas"),
    ("dedup is a partial-aggregated hash shuffle",
     r"HashAggregate.*Exchange hashpartitioning.*HashAggregate"),
    ("no cartesian product", r"\A(?!.*CartesianProduct)"),
]


# Top-50-by-cost coverage: batch queries among the 50 costliest of the
# catalog sweep that had no per-plan assertions.
CHECKS["dedup_components"] = [
    # r15: below the driver union-find cap the component map arrives
    # as one small local relation (the bounded-probe tier); past the
    # cap the loop's checkpoints appear as the same node class.
    ("component labels from a bounded local relation / checkpointed"
     " rounds (no unbounded lineage)", r"Scan ExistingRDD|LocalTableScan"),
    ("cluster-size rollup partially aggregated", r"partial_count"),
    ("no cartesian", r"\A(?!.*CartesianProduct)"),
]
CHECKS["udf_grouped_map"] = [
    ("grouped map over ONE user_id shuffle", r"hashpartitioning\(user_id"),
    ("Arrow-batched grouped map (FlatMapGroupsInPandas)",
     r"FlatMapGroupsInPandas"),
    ("no cartesian", r"\A(?!.*CartesianProduct)"),
]
CHECKS["mm_audio_mp3_meta"] = [
    ("zero-shuffle codec walk", r"\A(?!.*Exchange hashpartitioning)"),
    ("Arrow-batched mapInPandas stages", r"MapInPandas"),
]
CHECKS["dq_profile_lineitem"] = [
    ("profile stats partially aggregated map-side", r"partial_"),
    ("no per-column cartesian re-scans", r"\A(?!.*CartesianProduct)"),
]
CHECKS["dedup_snm_multipass"] = [
    ("blocked pair generation, never cartesian",
     r"\A(?!.*CartesianProduct)"),
    ("self-join partitioned on the block key",
     r"hashpartitioning\((bb|__pid|id_a)"),
    ("multipass rounds truncated by checkpoint", r"Scan ExistingRDD"),
]
CHECKS["sim_topk_lsh"] = [
    ("tiny query side broadcast onto bucket probe", r"BroadcastHashJoin"),
    ("top-k grouped per query", r"hashpartitioning\(query_id"),
    ("no cartesian", r"\A(?!.*CartesianProduct)"),
]
CHECKS["dedup_simhash"] = [
    ("banded candidate join, never all-pairs",
     r"\A(?!.*CartesianProduct)"),
    ("survivor aggregation partial map-side", r"partial_"),
    ("band-bucket join broadcast where tiny", r"BroadcastHashJoin"),
]


# ---------------------------------------------------------------------------
# Streaming executed-plan audit: the stream_run_*
# family is the most expensive, most host-sensitive tier of the
# catalog, and the batch frame each query returns is just a
# memory-sink scan — none of its streaming physical properties are
# visible to plan_of().  These checks run against the EXECUTED
# micro-batch plan captured by streaming.events.STREAM_PLAN_CAPTURE
# (explainInternal of the live StreamingQuery), asserting the state
# story the SCALE.md notes claim: sized state-store partitioning,
# symmetric-hash (never cartesian) stream-stream joins, broadcast
# static sides, Arrow-batched stateful operators, and statelessness
# where the design says the stream is a pass-through.  Same regex
# conventions as CHECKS (negatives anchor \A under DOTALL).
# STATE_PARTS is filled in at audit time with the state-store partition
# count streaming.events._stream_shuffle_parts gives the session:
# min(spark.sql.shuffle.partitions, STREAM_SHUFFLE_CAP).
STATE_PARTS = r"numPartitions = {parts}\b"
STREAM_CHECKS: dict[str, list[tuple[str, str]]] = {
    "stream_run_stream_join": [
        ("watermarked stream-stream join is symmetric-hash", r"StreamingSymmetricHashJoin"),
        ("state store sized by the stream partition rule", STATE_PARTS),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "stream_run_stream_join_outer": [
        ("watermarked outer stream-stream join is symmetric-hash", r"StreamingSymmetricHashJoin"),
        ("state store sized by the stream partition rule", STATE_PARTS),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "stream_run_static_join": [
        ("static dimension side broadcast, never shuffled", r"BroadcastHashJoin"),
        ("windowed agg commits through a state store", r"StateStoreSave"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "stream_run_topk_window": [
        ("window agg commits through a state store", r"StateStoreSave"),
        ("one shuffle, demanded by the stateful operator", r"REQUIRED_BY_STATEFUL_OPERATOR"),
    ],
    "stream_run_stateful": [
        ("custom state machine is Arrow-batched per key", r"FlatMapGroupsInPandasWithState"),
        ("keys co-located by ONE hash shuffle", r"Exchange hashpartitioning"),
    ],
    "stream_run_semantic_admission": [
        ("admission state sized by the stream partition rule", STATE_PARTS),
        ("centroid frame broadcast onto the stream", r"BroadcastHashJoin"),
        ("state store present", r"StateStoreSave"),
    ],
    "stream_run_decontam": [
        ("benchmark shingles broadcast onto the stream", r"BroadcastHashJoin"),
        ("dedup state sized by the stream partition rule", STATE_PARTS),
        ("state store present", r"StateStoreSave"),
    ],
    "stream_run_tumbling": [
        ("window agg commits through a state store", r"StateStoreSave"),
        ("one shuffle, demanded by the stateful operator", r"REQUIRED_BY_STATEFUL_OPERATOR"),
    ],
    "stream_run_sliding_window": [
        ("window agg commits through a state store", r"StateStoreSave"),
        ("one shuffle, demanded by the stateful operator", r"REQUIRED_BY_STATEFUL_OPERATOR"),
    ],
    "stream_run_ohlc": [
        ("bar agg commits through a state store", r"StateStoreSave"),
        ("one shuffle, demanded by the stateful operator", r"REQUIRED_BY_STATEFUL_OPERATOR"),
    ],
    "stream_run_hll": [
        ("sketch agg commits through a state store", r"StateStoreSave"),
        ("one shuffle, demanded by the stateful operator", r"REQUIRED_BY_STATEFUL_OPERATOR"),
    ],
    "stream_run_volume_alert": [
        ("alert state sized by the stream partition rule", STATE_PARTS),
        ("state store present", r"StateStoreSave"),
    ],
    "stream_run_dedup": [
        ("native watermark-scoped streaming dedup operator", r"StreamingDeduplicat"),
        ("keys co-located by ONE hash shuffle", r"Exchange hashpartitioning"),
    ],
    "stream_run_running_balance": [
        ("per-key state machine is Arrow-batched", r"FlatMapGroupsInPandasWithState"),
        ("keys co-located by ONE hash shuffle", r"Exchange hashpartitioning"),
    ],
    "stream_run_funnel": [
        ("per-key funnel state is Arrow-batched", r"FlatMapGroupsInPandasWithState"),
        ("keys co-located by ONE hash shuffle", r"Exchange hashpartitioning"),
    ],
    "stream_run_rate_limit": [
        ("token-bucket state is Arrow-batched per key", r"FlatMapGroupsInPandasWithState"),
        ("keys co-located by ONE hash shuffle", r"Exchange hashpartitioning"),
    ],
    "stream_run_priority_sample": [
        ("per-stratum reservoir state is Arrow-batched", r"FlatMapGroupsInPandasWithState"),
        ("keys co-located by ONE hash shuffle", r"Exchange hashpartitioning"),
    ],
    "stream_run_rest_source": [
        ("pure pass-through append: no shuffle, no state",
         r"\A(?!.*(Exchange hashpartitioning|StateStoreSave))"),
    ],
    "stream_run_dsir_gate": [
        ("DSIR model broadcast onto the stream", r"BroadcastHashJoin"),
        ("stateless gate: no state store", r"\A(?!.*StateStoreSave)"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
    "stream_run_upsert": [
        ("stream side stateless — merge work lives in foreachBatch",
         r"\A(?!.*StateStoreSave)"),
        ("no cartesian", r"\A(?!.*CartesianProduct)"),
    ],
}


def audit_streams(spark, registry, lines: list) -> int:
    """Run every STREAM_CHECKS query, capture its executed streaming
    plan via the events.STREAM_PLAN_CAPTURE hook, assert the
    properties, and append the physical-plan section to PLANS.md.
    Returns the failure count."""
    import ctgov_ai_etl_spark.streaming.events as _ev

    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = str(min(session_parts, _ev.STREAM_SHUFFLE_CAP))
    failures = 0
    for name, checks in STREAM_CHECKS.items():
        _ev.STREAM_PLAN_CAPTURE = []
        try:
            registry[name].fn(spark, SF).write.format("noop").mode(
                "overwrite"
            ).save()
            plan = "\n".join(_ev.STREAM_PLAN_CAPTURE)
        finally:
            _ev.STREAM_PLAN_CAPTURE = None
        lines.append(f"## {name} (streaming executed plan)\n")
        captured = bool(plan.strip()) and "<explain failed" not in plan
        if not captured:
            failures += 1
        lines.append(
            f"- {'✅' if captured else '✗'} streaming plan captured "
            f"(explainInternal via STREAM_PLAN_CAPTURE)"
        )
        print(f"{'PASS' if captured else 'FAIL'}  {name}: plan captured")
        for prop, pattern in checks:
            pattern = pattern.replace("{parts}", parts)
            ok = re.search(pattern, plan, re.MULTILINE | re.DOTALL) is not None
            mark = "✅" if ok else "✗"
            if not ok:
                failures += 1
            lines.append(f"- {mark} {prop}")
            print(f"{'PASS' if ok else 'FAIL'}  {name}: {prop}")
        phys = plan.split("== Physical Plan ==")[-1] if plan else ""
        lines.append(
            "\n```\n== Physical Plan (micro-batch, executed) =="
            + phys.rstrip()
            + "\n```\n"
        )
    return failures


if __name__ == "__main__":
    if "--sizes-all" in sys.argv:
        sys.exit(sizes_all())
    sys.exit(main())
