"""Query catalog: every operator from SURVEY.md §2.3 as a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable registered
with an optional ANSI-SQL oracle string that DuckDB runs on the same
parquet tables.  The driver (and ``tools/check_oracle.py``) compares
row count + schema + order-insensitive value hash, so every query
aliases computed columns identically on both sides and keeps float
results either exact (integer-cents arithmetic for money aggregates)
or rounded coarsely enough that both engines agree bit-for-bit.
"""

from ctgov_ai_etl_spark.queries.registry import REGISTRY, QuerySpec, query


def load_all() -> dict[str, QuerySpec]:
    """Import every query module.  The registry keeps the order in
    which the modules were first imported, then definition order."""
    from ctgov_ai_etl_spark.queries import (  # noqa: F401
        relational,
        scalars,
        windows,
        udfs,
        scans,
        scale,
        semantic,
        parity,
        stream_batch,
        multimodal,
        graph,
        analytics,
        product,
        geo,
    )

    return REGISTRY
