"""Explicit schemas for every table the engine touches.

Testdata schemas mirror the parquet footers at /root/testdata (see
FIXTURES.md §A).  The raw-study schema is the consumed subset of the
ClinicalTrials.gov API v2 record that the reference navigates with
defaulting ``.get()`` chains (/root/reference/etl.py:188-215); here it
is an explicit nested StructType so Catalyst can prune columns, the
REST source can build each page as typed Arrow and ``from_json`` can
parse JSON text permissively (missing fields become real NULLs,
re-sentineled to 'N/A' only at the flatten operator — SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- testdata

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

# ------------------------------------------------------- CTGov raw study

# The consumed subset of the CTGov v2 study record
# (reference navigation: /root/reference/etl.py:188-215; the
# ``locations`` array backs SEARCH[Location] semantics,
# /root/reference/config.example.yaml:7).
RAW_STUDY = T.StructType(
    [
        T.StructField(
            "protocolSection",
            T.StructType(
                [
                    T.StructField(
                        "identificationModule",
                        T.StructType(
                            [
                                T.StructField("nctId", T.StringType()),
                                T.StructField("briefTitle", T.StringType()),
                                T.StructField("officialTitle", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "statusModule",
                        T.StructType(
                            [
                                T.StructField("overallStatus", T.StringType()),
                                T.StructField(
                                    "startDateStruct",
                                    T.StructType([T.StructField("date", T.StringType())]),
                                ),
                            ]
                        ),
                    ),
                    T.StructField(
                        "designModule",
                        T.StructType([T.StructField("studyType", T.StringType())]),
                    ),
                    T.StructField(
                        "eligibilityModule",
                        T.StructType(
                            [
                                T.StructField("sex", T.StringType()),
                                T.StructField("eligibilityCriteria", T.StringType()),
                                T.StructField("minimumAge", T.StringType()),
                                T.StructField("maximumAge", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "descriptionModule",
                        T.StructType(
                            [
                                T.StructField("briefSummary", T.StringType()),
                                T.StructField("detailedDescription", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "locations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("country", T.StringType()),
                        T.StructField("city", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# Flattened study (output of the flatten operator; reference
# etl.py:217-229 — 11 all-string columns, 'N/A' sentinel).
STUDIES_FLAT_COLUMNS = (
    "nct_id",
    "brief_title",
    "official_title",
    "overall_status",
    "study_type",
    "start_date",
    "gender",
    "brief_summary",
    "detailed_description",
    "criteria",
    "start_year",
)

STUDIES_FLAT = T.StructType(
    [T.StructField(c, T.StringType()) for c in STUDIES_FLAT_COLUMNS]
)

# Final CSV sink column order (reference etl.py:449-454): 13 fixed
# columns incl. the phantom minimum_age/maximum_age (never computed,
# always empty — etl.py:450-451 vs 217-229) + the dynamic AI column.
CSV_SINK_COLUMNS = (
    "nct_id",
    "brief_title",
    "official_title",
    "overall_status",
    "minimum_age",
    "maximum_age",
    "study_type",
    "start_date",
    "gender",
    "brief_summary",
    "detailed_description",
    "criteria",
    "start_year",
)
