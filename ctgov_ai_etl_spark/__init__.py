"""ctgov_ai_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the query and data-processing
capabilities of the ``kevinj/ctgov-ai-etl`` reference pipeline (see
SURVEY.md for the file:line-cited analysis), extended with a full
relational operator catalog and LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal columns), all designed
for 100 TB scale: declarative DataFrame/SQL plans that Catalyst can
push down, broadcast, and re-plan with AQE; Arrow-batched pandas UDFs
at the Python boundary; Structured Streaming for event data.
"""

import os

from ctgov_ai_etl_spark.session import get_spark
from ctgov_ai_etl_spark.tables import load_table, register_views

__all__ = ["get_spark", "load_table", "register_views"]

# Every engine stage that runs Python imports this package in its
# worker (cloudpickle resolves the engine's functions and classes by
# module), so a reused worker installs the backport before its second
# task's ``importlib.invalidate_caches()``.
if os.environ.get("SPARK_REUSE_WORKER"):
    from ctgov_ai_etl_spark import pyworker

    pyworker.install()
