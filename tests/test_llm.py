"""llm_classify operator semantics (reference R10-R15)."""

from __future__ import annotations

import time

import pytest

from ctgov_ai_etl_spark.operators.llm import (
    NA,
    KeywordRuleClient,
    LLMClient,
    PREGNANCY_RULES,
    TokenBucket,
    format_prompt,
    llm_classify,
    template_fields,
)


def test_keyword_rules_precedence():
    c = PREGNANCY_RULES
    assert c.classify("participants pregnant or postpartum") == "PREGNANT OR POSTPARTUM"
    assert c.classify("POSTPARTUM women") == "POSTPARTUM"
    assert c.classify("trying to get pregnant") == "FERTILITY"
    assert c.classify("requires negative pregnancy test") == "EXCLUDE_PREGNANCY"
    assert c.classify("all must be pregnant") == "ONLY_PREGNANCY"
    assert c.classify("pregnancy welcome") == "INCLUDE_PREGNANCY"
    assert c.classify("healthy adults") == "NOT MENTIONED"


def test_format_prompt_missing_key_skips():
    assert format_prompt("{a} {b}", {"a": 1}) is None  # KeyError → skip (R11)
    assert format_prompt("{a}!", {"a": "x"}) == "x!"


@pytest.mark.parametrize(
    "template",
    ["{criteria} {meta[arm]}", "{0}", "{missing}", "no fields", "{criteria!r}",
     "{criteria:>{width}}"],
)
def test_prompt_from_template_fields_matches_full_row(spark, template):
    """The row dicts hold only the template's root fields, and each
    prompt equals the one formatted from the full row dict (an echo
    client returns the prompt as its label)."""
    class Echo(LLMClient):
        def classify(self, prompt):
            return prompt

    df = spark.createDataFrame(
        [("1", "must be pregnant", {"arm": "a"}, 20, 1.5),
         ("2", "healthy adults", {}, 3, None)],
        "id string, criteria string, meta map<string,string>, width int, x double",
    )
    out = llm_classify(df, template, out_col="label", client_factory=Echo)
    got = {r.id: r.label for r in out.collect()}
    full = {r.id: r.asDict() for r in df.collect()}
    want = {i: format_prompt(template, row) or NA for i, row in full.items()}
    assert got == want
    assert template_fields("{criteria:>{width}}") == {"criteria", "width"}


def test_classify_appends_column_and_fills_na(spark):
    df = spark.createDataFrame(
        [("1", "patients must be pregnant"), ("2", None)], "id string, criteria string"
    )
    out = llm_classify(df, "{criteria}", out_col="label")
    got = {r.id: r.label for r in out.collect()}
    assert got["1"] == "ONLY_PREGNANCY"
    # None criteria → format works ("None") → NOT MENTIONED, not a crash
    assert got["2"] == "NOT MENTIONED"


@pytest.mark.parametrize(
    "governor",
    [{}, {"max_rows": 3, "order_cols": ["id"]},
     {"per_bucket_cap": 3, "bucket_key": "id", "n_buckets": 2, "order_cols": ["id"]}],
    ids=["plain", "max_rows", "per_bucket_cap"],
)
def test_classify_error_to_na(spark, governor):
    """Every cost governor labels rows the same way: a raising client
    and a template key missing from the row both end as 'N/A'."""
    class Exploding(KeywordRuleClient):
        def classify(self, prompt):
            if "boom" in prompt:
                raise RuntimeError("boom")
            return super().classify(prompt)

    df = spark.createDataFrame(
        [("1", "boom", {"arm": "a"}), ("2", "must be pregnant", {}),
         ("3", "must be pregnant", {"arm": "b"})],
        "id string, criteria string, meta map<string,string>",
    )
    out = llm_classify(
        df, "{criteria} {meta[arm]}", out_col="label",
        client_factory=lambda: Exploding(rules=PREGNANCY_RULES.rules),
        **governor,
    )
    got = {r.id: r.label for r in out.collect()}
    assert got["1"] == NA  # error → null → 'N/A' (R12/R14)
    assert got["2"] == NA  # missing template key → skipped (R11)
    assert got["3"] == "ONLY_PREGNANCY"


def test_cost_cap_and_remainder_passthrough(spark):
    df = spark.createDataFrame(
        [(i, "must be pregnant") for i in range(20)], "id long, criteria string"
    )
    out = llm_classify(df, "{criteria}", out_col="label", max_rows=5, order_cols=["id"])
    got = {r.id: r.label for r in out.collect()}
    assert len(got) == 20  # remainder kept (R8/R15)
    assert all(got[i] == "ONLY_PREGNANCY" for i in range(5))
    assert all(got[i] == NA for i in range(5, 20))


def test_per_bucket_cap_quota_and_determinism(spark):
    """Per-bucket governor: each md5 bucket classifies exactly its
    first ``cap`` rows under the order, independent of the input's
    physical partitioning (the engine-replayable contract)."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from pyspark.sql import functions as F

    rows = [(i, "must be pregnant") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, criteria string")
    kwargs = dict(
        out_col="label", per_bucket_cap=3, bucket_key="id",
        n_buckets=4, order_cols=["id"],
    )
    got = {r.id: r.label for r in llm_classify(df, "{criteria}", **kwargs).collect()}
    assert len(got) == 60
    assert sum(1 for v in got.values() if v == "ONLY_PREGNANCY") == 12  # 4 buckets × 3
    # expected set: first 3 ids of each bucket, replayed driver-side
    b = {
        r.id: r.b
        for r in df.select("id", hash_bucket(F.col("id"), 4).alias("b")).collect()
    }
    expected = set()
    for bucket in range(4):
        expected |= set(sorted(i for i in b if b[i] == bucket)[:3])
    assert {i for i, v in got.items() if v == "ONLY_PREGNANCY"} == expected
    # same answer from a differently-partitioned input
    got2 = {
        r.id: r.label
        for r in llm_classify(df.repartition(7), "{criteria}", **kwargs).collect()
    }
    assert got2 == got


def test_per_bucket_cap_parameter_validation(spark):
    df = spark.createDataFrame([(1, "x")], "id long, criteria string")
    with pytest.raises(ValueError, match="alternative cost governors"):
        llm_classify(
            df, "{criteria}", max_rows=1, order_cols=["id"],
            per_bucket_cap=1, bucket_key="id",
        )
    with pytest.raises(ValueError, match="bucket_key and order_cols"):
        llm_classify(df, "{criteria}", per_bucket_cap=1)


def test_only_ids_narrowing(spark):
    df = spark.createDataFrame(
        [(f"NCT{i}", "pregnancy") for i in range(6)], "nct_id string, criteria string"
    )
    out = llm_classify(
        df, "{criteria}", out_col="label", only_ids=("nct_id", ["NCT2", "NCT4"])
    )
    got = {r.nct_id: r.label for r in out.collect()}
    assert got["NCT2"] == got["NCT4"] == "INCLUDE_PREGNANCY"
    assert all(v == NA for k, v in got.items() if k not in ("NCT2", "NCT4"))


def test_token_bucket_rate():
    bucket = TokenBucket(rate_per_sec=50, burst=1)
    t0 = time.monotonic()
    for _ in range(10):
        bucket.acquire()
    elapsed = time.monotonic() - t0
    assert elapsed >= 0.15  # ~9 waits at 20ms


def test_config_pluggable_client_factory(spark):
    """gemini.client_factory resolves a module:function factory (the
    reference's config-swappable live client, etl.py:236-273) and the
    resolved client — not the pregnancy rules — runs inside the worker
    tasks: custom rules relabel every classified row.  Without a named
    factory the default keyword-rule factory applies the same rules."""
    from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

    gemini = {
        "rules": [["pregnan", "CUSTOM_LABEL"]],
        "default_label": "CUSTOM_DEFAULT",
        "row_prompt_template": "Criteria: {criteria}",
    }
    cfg = {
        "ctgov": {
            "api_url": "https://example.invalid/api/v2/studies",
            "page_size": 10,
            "transport_factory": "ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
            "transport_args": "[20, 10]",
        },
        "ai_processing": {"enabled": True, "column_name": "ai_determined_value"},
    }
    named = dict(gemini, client_factory="ctgov_ai_etl_spark.operators.llm:keyword_rule_client_factory")
    for gem in (named, gemini):
        out = run_pipeline(spark, dict(cfg, gemini=gem))
        labels = {r["ai_determined_value"] for r in out.collect()}
        assert labels == {"CUSTOM_LABEL", "CUSTOM_DEFAULT"}, gem
