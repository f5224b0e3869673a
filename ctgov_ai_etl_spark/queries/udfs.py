"""UDF / UDAF / UDTF surface (SURVEY.md §2.3) plus the pivot family
and exact percentiles.

Python UDFs are the engine's escape hatch, never the default: each
query here demonstrates one sanctioned boundary (vectorized pandas
scalar, grouped-map applyInPandas, grouped-agg UDAF, UDTF lateral
expansion) with a pure function so a SQL oracle can verify the
results — service-backed UDFs live in operators/llm.py with the mock
client.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.session import ship_package
from ctgov_ai_etl_spark.tables import load_table


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id, round(value * 1.1 + 7.0, 6) AS adjusted
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow batches, ~10-100× the
    row-at-a-time Python UDF). Pure arithmetic → SQL-verifiable.
    Rounding happens Spark-side (``F.round`` = half-away-from-zero,
    matching DuckDB) — pandas ``.round()`` is half-to-even and would
    diverge on exact .5 ties."""
    ev = load_table(spark, sf_dir, "events")

    @F.pandas_udf("double")
    def adjust(v: pd.Series) -> pd.Series:
        return v * 1.1 + 7.0

    return ev.select("event_id", F.round(adjust("value"), 6).alias("adjusted"))


@query(
    "udf_grouped_map",
    oracle="""
    SELECT event_id, user_id,
           value - (CAST(sum(CAST(round(value * 1e6) AS BIGINT))
                         OVER (PARTITION BY user_id) AS DOUBLE)
                    / (1e6 * count(*) OVER (PARTITION BY user_id))) AS centered
    FROM events
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-key pandas DataFrame in/out (the
    shape for per-group model scoring). The group mean is computed
    over exact integer micros so the result is independent of pandas'
    pairwise-summation order (matches the SQL mirror bit-for-bit);
    micros are rounded half-away-from-zero like SQL ``round``, not
    pandas' half-to-even."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ship_package(spark)

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        micros = pdf["value"].to_numpy() * 1e6
        micros = np.sign(micros) * np.floor(np.abs(micros) + 0.5)
        mean = float(micros.astype("int64").sum()) / (1e6 * len(pdf))
        pdf["centered"] = pdf["value"] - mean
        return pdf.drop(columns=["value"])

    return ev.groupBy("user_id").applyInPandas(
        center, schema="event_id long, user_id long, centered double"
    )


@query(
    "udf_grouped_agg",
    oracle="""
    SELECT user_id,
           CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE)
             / (1e6 * count(*)) AS mean_value
    FROM events GROUP BY user_id
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF via grouped-agg pandas UDF (Series → scalar per group);
    integer-micro mean for summation-order independence."""
    ev = load_table(spark, sf_dir, "events")
    ship_package(spark)

    @F.pandas_udf("double")
    def mean_udaf(v: pd.Series) -> float:
        micros = v.to_numpy() * 1e6
        micros = np.sign(micros) * np.floor(np.abs(micros) + 0.5)
        return float(micros.astype("int64").sum()) / (1e6 * len(v))

    return ev.groupBy("user_id").agg(mean_udaf("value").alias("mean_value"))


@query(
    "udtf_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, len(string_split(text, ' ')))) AS INT) AS pos,
           unnest(string_split(text, ' ')) AS tok
    FROM documents
    WHERE doc_id < 20
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one input row → N output rows (lateral expansion),
    the table-function analog of the flatten operator. Tokenizes with
    positions; oracle is a lateral generate_series."""
    from pyspark.sql.functions import udtf

    ship_package(spark)

    @udtf(returnType="pos int, tok string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.tok
        FROM {docs} d, LATERAL tokenize_udtf(d.text) t
        """,
        docs=load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text"),
    )


@query(
    "pivot_status_matrix",
    oracle="""
    SELECT c_mktsegment,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long → wide with an explicit value list (explicit lists
    keep the schema static — at scale, implicit pivot means an extra
    distinct-scan job)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
      FROM customer
    )
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long) via the melt/unpivot operator."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.col("c_acctbal"), F.col("c_nationkey").cast("double")
    ).unpivot(
        "c_custkey",
        [F.col("c_acctbal").alias("acctbal"), F.col("c_nationkey").alias("nationkey")],
        "metric",
        "val",
    )


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersectAll(b)


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (sort-based, deterministic; the
    approximate tier is agg_approx_quantile)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
    )


@query(
    "agg_approx_quantile",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           true AS rank_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median via percentile_approx (GK sketch,
    accuracy=1000 → rank error ≤ n/1000).  The sketch value has no SQL
    mirror, so the hash-checked contract is (exact median, rank-bound
    boolean): the returned element's rank fraction must sit within
    0.5 ± 2/1000 — verified by re-aggregating against the broadcast
    sketch output, all map-side after the one groupBy shuffle."""
    o = load_table(spark, sf_dir, "orders")
    ap = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("p50a")
    )
    j = o.join(F.broadcast(ap), "o_orderpriority")
    price = F.col("o_totalprice")
    chk = j.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50_exact"),
        (F.sum((price <= F.col("p50a")).cast("long")) / F.count("*")).alias("frac_le"),
        (F.sum((price < F.col("p50a")).cast("long")) / F.count("*")).alias("frac_lt"),
    )
    rank_ok = (F.col("frac_le") >= 0.5 - 0.002) & (F.col("frac_lt") <= 0.5 + 0.002)
    return chk.select("o_orderpriority", "p50_exact", rank_ok.alias("rank_ok"))


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT event_id, round(value * 1.1 + 7.0, 6) AS adjusted_arrow
    FROM events
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-overhead Python boundary — raw Arrow
    RecordBatches in and out, no pandas conversion at all (the shape
    for calling Arrow-native libraries: tokenizers, polars, DataFusion
    kernels).  Same arithmetic as udf_pandas_scalar; rounding stays
    Spark-side (half-away, matches SQL round)."""
    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ship_package(spark)

    def adjust(batches):
        for batch in batches:
            import pyarrow.compute as pc

            adjusted = pc.add(pc.multiply(batch.column("value"), 1.1), 7.0)
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"), adjusted], ["event_id", "adjusted_arrow"]
            )

    out = ev.mapInArrow(adjust, schema="event_id long, adjusted_arrow double")
    return out.select("event_id", F.round("adjusted_arrow", 6).alias("adjusted_arrow"))


@query(
    "udf_python_scalar",
    oracle="""
    SELECT event_id,
           upper(reverse(event_type)) || '#' || CAST(event_id % 97 AS VARCHAR)
             AS tag
    FROM events
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain row-at-a-time Python UDF — the engine's LAST-RESORT
    escape hatch, registered as a catalog entry so its cost is
    measured, not just warned about (SURVEY.md §2.3 'scalar Python
    UDF: escape hatch only').

    The function body is deliberately arbitrary Python (string
    slicing + f-string) — the kind of logic someone reaches for a UDF
    to write.  Every other query in this module shows the better
    boundary: this one exists to quantify the difference.  The plan
    carries BatchEvalPython (asserted in tools/explain_audit.py):
    rows are pickled row-at-a-time to the Python worker and back —
    no Arrow batching, no vectorization, no codegen fusion across the
    boundary.  Measured (600 k lineitem rows, local[32], warm, best
    of 5): 0.049 s row-at-a-time UDF vs 0.030 s for the equivalent
    built-in chain (upper/reverse/concat, which also keeps codegen)
    vs 0.026 s for the vectorized pandas form — a ~1.6–1.9× penalty
    already at ~19 k rows/core that widens linearly with rows-per-core
    (per-row pickle cost vs one Arrow batch).  Rule: built-ins, then
    pandas UDFs, then THIS, in that order."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")

    @F.udf("string")
    def tag(event_id: int, event_type: str) -> str:
        return f"{event_type[::-1].upper()}#{event_id % 97}"

    return ev.select("event_id", tag("event_id", "event_type").alias("tag"))


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT event_id,
           upper(reverse(event_type)) || '#' || CAST(event_id % 97 AS VARCHAR)
             AS tag
    FROM events
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME arbitrary-Python function as udf_python_scalar, but
    registered with ``useArrow=True`` (Spark 3.5+'s Arrow-optimized
    Python UDF): the signature stays scalar row-at-a-time — no pandas
    rewrite — while the exchange with the worker becomes Arrow
    batches instead of per-row pickles.  The drop-in migration path
    for legacy UDF code: same semantics (identical oracle as the
    pickled twin), ArrowEvalPython in the plan instead of
    BatchEvalPython, and the per-row serialization tax gone.  The
    preference order in udf_python_scalar's docstring gains a rung:
    built-ins > pandas UDFs > THIS > pickled UDFs."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")

    @F.udf("string", useArrow=True)
    def tag(event_id: int, event_type: str) -> str:
        return f"{event_type[::-1].upper()}#{event_id % 97}"

    return ev.select("event_id", tag("event_id", "event_type").alias("tag"))
