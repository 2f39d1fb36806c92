"""Query registry: every implemented operator exposed as a named query with
a DuckDB oracle (driver contract, __spark_entry__.py).

Determinism policy (the driver hash-compares values): all float aggregates
are computed on exact scaled integers (cents / basis points / micros) and
only converted to double at the end with an expression shaped identically in
Spark and DuckDB -- identical integer inputs + identical double ops =>
bit-identical outputs, no tolerance needed.  Timestamps cross the boundary
as epoch integers or formatted strings, never raw (parquet NANOS truncates
differently in exotic paths).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark_fn, oracle_sql) pair to the registry."""

    def deco(fn):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# importing the modules populates the registries (llm split r13:
# llm = dedup core, llm_retrieval = embedding/ANN/SemDeDup,
# llm_graph = dedup-graph analytics, llm_text = text/quality/reporting;
# the order below is the registration order, which
# __spark_entry__.queries() keeps for already-green queries)
from odp_dynamic_data_pipeline_spark.queries import core as _core  # noqa: E402,F401
from odp_dynamic_data_pipeline_spark.queries import llm as _llm  # noqa: E402,F401
from odp_dynamic_data_pipeline_spark.queries import llm_text as _llm_text  # noqa: E402,F401
from odp_dynamic_data_pipeline_spark.queries import llm_graph as _llm_graph  # noqa: E402,F401
from odp_dynamic_data_pipeline_spark.queries import llm_retrieval as _llm_retrieval  # noqa: E402,F401
from odp_dynamic_data_pipeline_spark.queries import relational2 as _relational2  # noqa: E402,F401
from odp_dynamic_data_pipeline_spark.queries import surfaces as _surfaces  # noqa: E402,F401

__all__ = [
    "SPARK_QUERIES",
    "ORACLE_SQL",
    "register",
]
