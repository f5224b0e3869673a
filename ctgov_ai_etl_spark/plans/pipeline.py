"""End-to-end CTGov pipeline (reference R19; /root/reference/etl.py:472-518).

The reference runs EXTRACT → TRANSFORM → AI → LOAD as four eager,
fully-materialized driver stages.  Here the whole thing is ONE lazy
Spark plan built from the same config shape
(/root/reference/config.example.yaml): the REST source scans pages
(filters pushed as Essie) straight into typed nested ``study`` rows,
the flatten select and the llm_classify stage compose, and the action
happens at the sink.  Stage boundaries become shuffle/UDF boundaries
chosen by Catalyst, not ``list`` materializations.
"""

from __future__ import annotations

from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ctgov_ai_etl_spark.config import conjuncts_from_config, resolve_factory
from ctgov_ai_etl_spark.operators.flatten import flatten_studies
from ctgov_ai_etl_spark.operators.llm import llm_classify
from ctgov_ai_etl_spark.sources import rest
from ctgov_ai_etl_spark.sources.csv_sink import write_reference_csv


def read_studies(spark: SparkSession, cfg: dict[str, Any]) -> DataFrame:
    """EXTRACT: paginated REST scan → one typed ``study`` column
    (``schemas.RAW_STUDY``), built by the source page by page."""
    rest.register(spark)
    ctgov = cfg.get("ctgov", {})
    reader = (
        spark.read.format("ctgov_rest")
        .option("page_size", str(ctgov.get("page_size", rest.DEFAULT_PAGE_SIZE)))
        .option("url", ctgov.get("api_url", ""))
        .option("parallelism", str(spark.sparkContext.defaultParallelism))
    )
    adv = conjuncts_from_config(cfg)
    if adv:
        reader = reader.option("filter_advanced", adv)
    for opt in ("transport_factory", "transport_args", "paging", "max_pages"):
        if opt in ctgov:
            reader = reader.option(opt, str(ctgov[opt]))
    return reader.load()


def run_pipeline(
    spark: SparkSession, cfg: dict[str, Any], csv_path: str | None = None
) -> DataFrame:
    """Full reference pipeline; returns the final DataFrame (and writes
    the parity CSV when ``csv_path`` is given)."""
    studies = read_studies(spark, cfg)
    flat = flatten_studies(studies)

    ai_cfg = cfg.get("ai_processing", {})
    gem = cfg.get("gemini", {})
    if ai_cfg.get("enabled", True):
        only_ids = None
        tuning = cfg.get("tuning_trials")
        if ai_cfg.get("debug_only_tuning_trials") and tuning:
            only_ids = ("nct_id", tuning)
        # Config-pluggable client (reference etl.py:236-273): a
        # module:function called with the gemini section once per task.
        # The default, the keyword-rule mock, reads gemini.rules and
        # falls back to the pregnancy rules, so CI never needs a network.
        factory_fn = resolve_factory(
            gem.get("client_factory", "ctgov_ai_etl_spark.operators.llm:keyword_rule_client_factory")
        )
        flat = llm_classify(
            flat,
            prompt_template=gem.get("row_prompt_template", "{criteria}"),
            out_col=ai_cfg.get("column_name", "ai_determined_value"),
            client_factory=partial(factory_fn, dict(gem)),
            rate_per_sec=(1.0 / gem["api_delay"]) if gem.get("api_delay") else None,
            max_rows=ai_cfg.get("max_rows"),
            order_cols=["nct_id"] if ai_cfg.get("max_rows") else None,
            only_ids=only_ids,
        )

    if csv_path:
        write_reference_csv(
            flat, csv_path, ai_column=ai_cfg.get("column_name", "ai_determined_value")
        )
    return flat
