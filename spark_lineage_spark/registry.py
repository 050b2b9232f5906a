"""Query registry: the SURVEY.md §2 operator inventory as executable entries.

Every implemented operator registers here with a builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB
oracle string. ``__spark_entry__.py`` exposes the registry to the
driver's correctness harness.

Determinism discipline (SURVEY.md §5.2): alias every computed column
identically in Spark and SQL; round floating aggregates; never a bare
limit; explicit tie-breaks everywhere.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, or None => rows-only check
    section: str  # SURVEY.md §2 row this covers
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, section: str, oracle: Optional[str] = None, doc: str = ""):
    """Register a query builder for SURVEY §2 row ``section``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from spark_lineage_spark.session import tune_runtime

            tune_runtime(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = QuerySpec(name, wrapped, oracle, section, doc or (fn.__doc__ or ""))
        return fn

    return deco


_OPERATOR_MODULES = [
    "spark_lineage_spark.operators.relational",
    "spark_lineage_spark.operators.joins",
    "spark_lineage_spark.operators.aggregates",
    "spark_lineage_spark.operators.windows",
    "spark_lineage_spark.operators.setops",
    "spark_lineage_spark.operators.scalar_funcs",
    "spark_lineage_spark.operators.sources_sinks",
    "spark_lineage_spark.operators.udfs",
    "spark_lineage_spark.operators.dedup",
    "spark_lineage_spark.operators.similarity",
    "spark_lineage_spark.operators.text",
    "spark_lineage_spark.operators.multimodal",
    "spark_lineage_spark.operators.lineage_ops",
    "spark_lineage_spark.operators.tpch_style",
    "spark_lineage_spark.operators.advanced_sql",
    "spark_lineage_spark.operators.analytics",
    "spark_lineage_spark.streaming.queries",
]


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run; returns the
    registry in registration order."""
    import importlib

    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    return dict(QUERIES)
