"""Byte-level parity tests for the CTGov pipeline operators against
the reference semantics documented (with file:line evidence) in
SURVEY.md §2.1 — flatten defaults, start_year rule, cost-cap split,
sink column order and phantom columns."""

from __future__ import annotations

import csv
import glob
import json
import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.fixtures import make_raw_studies_json, make_raw_study
from ctgov_ai_etl_spark.operators.flatten import flatten_studies
from ctgov_ai_etl_spark.operators.limits import deterministic_split, id_set_split
from ctgov_ai_etl_spark.schemas import RAW_STUDY, STUDIES_FLAT_COLUMNS
from ctgov_ai_etl_spark.sources.csv_sink import (
    _splice_parts,
    reference_csv_projection,
    write_reference_csv,
)


def _flat(spark, n=30):
    raw = spark.createDataFrame(
        [(s,) for s in make_raw_studies_json(n)], "raw_json string"
    )
    return flatten_studies(raw.select(F.from_json("raw_json", RAW_STUDY).alias("study")))


def _reference_flatten(study: dict) -> dict:
    """Independent re-implementation of the documented semantics
    (SURVEY.md R5/R6) used as the expected value — dict.get chains
    with 'N/A' defaults and the dashed-date start_year rule."""
    p = study.get("protocolSection", {})
    ident = p.get("identificationModule", {})
    status = p.get("statusModule", {})
    design = p.get("designModule", {})
    elig = p.get("eligibilityModule", {})
    desc = p.get("descriptionModule", {})
    start_date = status.get("startDateStruct", {}).get("date", "N/A")
    start_year = "N/A"
    if start_date != "N/A" and "-" in start_date:
        start_year = start_date.split("-")[0]
    return {
        "nct_id": ident.get("nctId", "N/A"),
        "brief_title": ident.get("briefTitle", "N/A"),
        "official_title": ident.get("officialTitle", "N/A"),
        "overall_status": status.get("overallStatus", "N/A"),
        "study_type": design.get("studyType", "N/A"),
        "start_date": start_date,
        "gender": elig.get("sex", "N/A"),
        "brief_summary": desc.get("briefSummary", "N/A"),
        "detailed_description": desc.get("detailedDescription", "N/A"),
        "criteria": elig.get("eligibilityCriteria", "N/A"),
        "start_year": start_year,
    }


def test_flatten_matches_reference_semantics_rowwise(spark):
    n = 60
    got = {r["nct_id"]: r.asDict() for r in _flat(spark, n).collect()}
    # nct_id is unique except the 'N/A' group (absent identificationModule)
    expected = [_reference_flatten(make_raw_study(i)) for i in range(n)]
    for exp in expected:
        if exp["nct_id"] == "N/A":
            continue
        assert got[exp["nct_id"]] == exp
    # the 'N/A'-id rows still exist
    assert sum(1 for e in expected if e["nct_id"] == "N/A") == sum(
        1 for r in _flat(spark, n).collect() if r["nct_id"] == "N/A"
    )


def test_start_year_partial_date_rule(spark):
    rows = _flat(spark, 60).select("start_date", "start_year").distinct().collect()
    for r in rows:
        sd, sy = r["start_date"], r["start_year"]
        if sd == "N/A" or "-" not in sd:
            assert sy == "N/A", f"{sd!r} -> {sy!r}"
        else:
            assert sy == sd.split("-")[0]


def test_flat_schema_is_reference_11_columns(spark):
    assert tuple(_flat(spark).columns) == STUDIES_FLAT_COLUMNS


def test_deterministic_split_positional(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    head, rest = deterministic_split(df, 30, ["k"])
    assert [r.k for r in head.orderBy("k").collect()] == list(range(30))
    assert rest.count() == 70
    # remainder is kept, not dropped (R8 semantics)
    assert head.count() + rest.count() == 100


def test_deterministic_split_no_single_reducer(spark):
    """The global rank must not funnel the data through one reducer:
    no unpartitioned-window SinglePartition exchange in the plan."""
    from ctgov_ai_etl_spark.operators.limits import global_rank

    df = spark.range(1000).withColumnRenamed("id", "k")
    plan = global_rank(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_deterministic_split_edges(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    head, rest = deterministic_split(df, 50, ["k"])
    assert head.count() == 10 and rest.count() == 0
    head, rest = deterministic_split(df.filter(F.lit(False)), 5, ["k"])
    assert head.count() == 0 and rest.count() == 0


def test_id_set_split(spark):
    df = spark.createDataFrame([(f"NCT{i}",) for i in range(10)], "nct_id string")
    hit, miss = id_set_split(df, "nct_id", ["NCT1", "NCT5", "NCTx"])
    assert sorted(r.nct_id for r in hit.collect()) == ["NCT1", "NCT5"]
    assert miss.count() == 8


def test_csv_sink_column_order_and_phantoms(spark, tmp_path):
    flat = _flat(spark, 20).withColumn("ai_determined_value", F.lit("NOT MENTIONED"))
    path = os.path.join(tmp_path, "out.csv")
    assert write_reference_csv(flat, path)
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.DictReader(fh)
        # exact reference header order (etl.py:449-460)
        assert reader.fieldnames == [
            "nct_id", "brief_title", "official_title", "overall_status",
            "minimum_age", "maximum_age", "study_type", "start_date", "gender",
            "brief_summary", "detailed_description", "criteria", "start_year",
            "ai_determined_value",
        ]
        rows = list(reader)
    assert len(rows) == 20
    # phantom columns are always empty strings (R18)
    assert all(r["minimum_age"] == "" and r["maximum_age"] == "" for r in rows)


def test_extended_flatten_extracts_ages(spark):
    """The extended engine actually extracts minimum/maximum age from
    eligibilityModule (the columns the reference declares but never
    fills — SURVEY R18)."""
    raw = spark.createDataFrame(
        [(s,) for s in make_raw_studies_json(40)], "raw_json string"
    ).select(F.from_json("raw_json", RAW_STUDY).alias("study"))
    flat = flatten_studies(raw, extended=True)
    assert "minimum_age" in flat.columns and "maximum_age" in flat.columns
    rows = {r["nct_id"]: r for r in flat.collect()}
    for i in range(40):
        s = make_raw_study(i)
        elig = s.get("protocolSection", {}).get("eligibilityModule")
        nct = s.get("protocolSection", {}).get("identificationModule", {}).get("nctId")
        if nct is None or nct not in rows:
            continue
        expected_min = (elig or {}).get("minimumAge", "N/A")
        assert rows[nct]["minimum_age"] == expected_min


def test_yaml_config_drop_in(spark, tmp_path):
    """A reference-shaped YAML config drives the whole pipeline (R1:
    same keys as the reference's config.example.yaml)."""
    import os

    from ctgov_ai_etl_spark.config import load_config
    from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

    cfg = load_config("examples/pipeline_config.yaml")
    assert cfg["ctgov"]["page_size"] == 10
    out_csv = os.path.join(tmp_path, "out.csv")
    df = run_pipeline(spark, cfg, csv_path=out_csv)
    rows = df.collect()
    assert len(rows) == 57
    labeled = [r for r in rows if r["ai_determined_value"] != "N/A"]
    assert len(labeled) == 30  # max_rows cost cap
    assert os.path.exists(out_csv)


def test_csv_sink_empty_input_no_write(spark, tmp_path):
    flat = _flat(spark, 5).filter(F.lit(False))
    path = os.path.join(tmp_path, "never.csv")
    assert write_reference_csv(flat, path) is False
    assert not os.path.exists(path)


def _awkward_frame(spark):
    """Six range partitions of two rows each, partition 2 emptied by the
    filter; keys descend as partition ids rise, so partition order is not
    key order.  Row 7's title holds a comma, a double quote and a
    newline; the AI column is set."""
    return (
        spark.range(0, 12, 1, numPartitions=6)
        .filter(~F.col("id").isin(4, 5))
        .select(
            F.format_string("NCT%08d", F.lit(100) - F.col("id")).alias("nct_id"),
            F.when(F.col("id") == 7, F.lit('a, "quoted"\nsecond line'))
            .otherwise(F.format_string("title %d", F.col("id")))
            .alias("brief_title"),
            F.lit("NOT MENTIONED").alias("ai_determined_value"),
        )
    )


def test_csv_sink_splice_is_byte_identical_to_coalesce(spark, tmp_path):
    df = _awkward_frame(spark)
    assert df.rdd.getNumPartitions() >= 5
    assert 0 in df.rdd.glom().map(len).collect()  # an empty partition
    path = os.path.join(tmp_path, "out.csv")
    assert write_reference_csv(df, path)

    one = os.path.join(tmp_path, "one")
    reference_csv_projection(df, "ai_determined_value").coalesce(1).write.option(
        "header", True
    ).csv(one)
    (part,) = [p for p in os.listdir(one) if p.startswith("part-")]
    with open(os.path.join(one, part), "rb") as fh:
        expected = fh.read()
    with open(path, "rb") as fh:
        got = fh.read()
    assert got == expected

    header = got.split(b"\n", 1)[0]
    assert header.startswith(b"nct_id,") and got.count(header) == 1
    ids = [int(m) for m in re.findall(rb"^NCT(\d{8}),", got, flags=re.M)]
    assert ids == [100 - i for i in range(12) if i not in (4, 5)]


def test_csv_sink_splice_orders_parts_by_partition_id(tmp_path):
    """Partition ids widen past five digits, so name order is not
    partition order; header-only parts (empty partitions) are skipped."""
    parts = {100000: b"h\nlast\n", 99999: b"h\nmiddle\n", 7: b"h\n", 2: b"h\nfirst\n"}
    for pid, body in parts.items():
        (tmp_path / f"part-{pid:05d}-0a1b-c000.csv").write_bytes(body)
    staged = tmp_path / "staged.csv"
    assert _splice_parts(str(tmp_path), str(staged))
    assert staged.read_bytes() == b"h\nfirst\nmiddle\nlast\n"

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "part-00000-0a1b-c000.csv").write_bytes(b"h\n")
    assert not _splice_parts(str(empty), str(tmp_path / "none.csv"))


@pytest.mark.parametrize(
    "ctgov, ai",
    [
        ({}, {}),
        ({"paging": "indexed", "max_pages": 6}, {}),
        ({}, {"max_rows": 30}),
        ({"paging": "indexed", "max_pages": 6}, {"max_rows": 30}),
    ],
    ids=["token", "indexed", "cost_cap", "indexed_cost_cap"],
)
def test_pipeline_with_csv_reads_each_page_once(spark, tmp_path, ctgov, ai):
    """57 studies in pages of 10: a pipeline that writes the CSV fetches
    each of the 6 pages exactly once."""
    from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

    log = os.path.join(tmp_path, "pages.log")
    args = [57, 10, "paging" in ctgov, log]
    cfg = {
        "ctgov": {
            "page_size": 10,
            "transport_factory": "ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
            "transport_args": json.dumps(args),
            **ctgov,
        },
        "ai_processing": {"enabled": True, **ai},
    }
    out_csv = os.path.join(tmp_path, "out.csv")
    run_pipeline(spark, cfg, csv_path=out_csv)
    with open(log) as fh:
        pages = fh.read().split()
    assert len(pages) == 6 and sum(map(int, pages)) == 57
    with open(out_csv, newline="", encoding="utf-8") as fh:
        assert len(list(csv.DictReader(fh))) == 57


def test_token_and_indexed_pipeline_csvs_are_byte_identical(spark, tmp_path):
    """Indexed paging reads its page ranges in parallel, yet the CSV
    holds the same bytes as the sequential token walk's."""
    from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

    out = {}
    for mode in ("token", "indexed"):
        ctgov = {
            "page_size": 10,
            "transport_factory": "ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
            "transport_args": json.dumps([57, 10, mode == "indexed"]),
        }
        if mode == "indexed":
            ctgov.update(paging="indexed", max_pages=6)
        path = os.path.join(tmp_path, f"{mode}.csv")
        run_pipeline(spark, {"ctgov": ctgov}, csv_path=path)
        with open(path, "rb") as fh:
            out[mode] = fh.read()
    assert out["token"].count(b"\nNCT") > 0
    assert out["token"] == out["indexed"]


def _ctgov_tmp_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "ctgov_csv_*")))


def test_csv_sink_failed_or_empty_write_leaves_path_and_no_temp_dir(spark, tmp_path):
    path = os.path.join(tmp_path, "keep.csv")
    with open(path, "w") as fh:
        fh.write("previous\n")
    before = _ctgov_tmp_dirs()

    assert write_reference_csv(_flat(spark, 5).filter(F.lit(False)), path) is False

    @F.udf("string")
    def boom(nct_id):
        if nct_id == "NCT00000089":  # a late row: the first rows pass
            raise ValueError("transport failed mid-read")
        return nct_id

    failing = _awkward_frame(spark).withColumn("nct_id", boom("nct_id"))
    with pytest.raises(Exception, match="transport failed mid-read"):
        write_reference_csv(failing, path)

    with open(path) as fh:
        assert fh.read() == "previous\n"
    assert _ctgov_tmp_dirs() == before
