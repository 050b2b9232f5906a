"""LineageDataFrame: a DataFrame whose actions emit lineage reports.

The reference's listener fires on query completion
(``onSuccess(funcName, qe, durationNs)`` — SURVEY.md §0). The facade
equivalent: intercept DataFrame ACTIONS (collect/count/toPandas/...),
run them, then emit one report built from the analyzed plan.
Transformations stay lazy and wrapped; no extra Spark jobs are added.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame

# Actions that terminate a query and trigger a report.
# toLocalIterator is deliberately absent: it computes lazily as the
# iterator is consumed, so reporting at call time would log a
# "completed" query that may never finish (onSuccess parity).
_ACTIONS = {
    "collect",
    "count",
    "toPandas",
    "show",
    "take",
    "tail",
    "head",
    "first",
    "foreach",
    "foreachPartition",
    "isEmpty",
    "toArrow",
}


class LineageDataFrame:
    """Transparent DataFrame proxy; see module docstring."""

    def __init__(self, df: DataFrame, session: "LineageSession"):
        self._df = df
        self._session = session

    # -- plumbing -----------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """The raw underlying DataFrame (escape hatch)."""
        return self._df

    @property
    def write(self):
        from spark_lineage_spark.sources.writer import LineageWriter

        return LineageWriter(self._df, self._session)

    @property
    def writeStream(self):
        # Streaming lineage is handled by the StreamingQueryListener
        # (spark_lineage_spark.streaming.listener), not the facade.
        return self._df.writeStream

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._df, name)
        if name in _ACTIONS and callable(attr):
            return self._wrap_action(name, attr)
        return _forward(attr, self._session)

    def __getitem__(self, item):
        return self._df[item]

    @property
    def columns(self):
        return self._df.columns

    @property
    def schema(self):
        return self._df.schema

    # -- action interception ------------------------------------------
    def _wrap_action(self, name: str, fn):
        def action(*args, **kwargs):
            t0 = time.perf_counter()
            err = None
            try:
                result = fn(*args, **kwargs)
            except Exception as e:  # report failures too (onFailure parity)
                err = f"{type(e).__name__}: {e}"
                self._session.emit(self._df, name, time.perf_counter() - t0, error=err)
                raise
            n_rows = None
            if name == "count":
                n_rows = result
            elif name in ("collect", "take", "tail"):
                try:
                    n_rows = len(result)
                except Exception:
                    pass
            elif name == "toPandas":
                try:
                    n_rows = int(result.shape[0])
                except Exception:
                    pass
            elif name == "toArrow":
                n_rows = result.num_rows
            self._session.emit(self._df, name, time.perf_counter() - t0, num_output_rows=n_rows)
            return result

        return action


class _LineageHolder:
    """Proxy for intermediate non-DataFrame holders (GroupedData,
    na/stat function bundles, cogroups): their DataFrame results, and
    the holders they return (groupBy().pivot()), re-enter the facade so
    downstream actions still emit lineage."""

    def __init__(self, inner, session: "LineageSession"):
        self._inner = inner
        self._session = session

    def __getattr__(self, name: str) -> Any:
        return _forward(getattr(self._inner, name), self._session)


def _forward(attr: Any, session: "LineageSession") -> Any:
    """An attribute of a proxied object, with its results kept in the
    facade: a method's return value, or the attribute itself (na, stat)."""
    if callable(attr):
        def method(*args, **kwargs):
            return _rewrap(attr(*args, **kwargs), session)

        return method
    return _rewrap(attr, session)


def _rewrap(out: Any, session: "LineageSession") -> Any:
    """Keep every DataFrame-producing path inside the facade: plain
    DataFrames, lists/tuples of them (randomSplit), and intermediate
    holders (GroupedData, na/stat, cogroups) whose own methods produce
    DataFrames."""
    from pyspark.sql import GroupedData
    from pyspark.sql.dataframe import DataFrameNaFunctions, DataFrameStatFunctions
    from pyspark.sql.pandas.group_ops import PandasCogroupedOps

    if isinstance(out, DataFrame):
        return LineageDataFrame(out, session)
    if isinstance(out, (list, tuple)) and out and all(
        isinstance(x, DataFrame) for x in out
    ):
        return type(out)(LineageDataFrame(x, session) for x in out)
    if isinstance(
        out,
        (GroupedData, DataFrameNaFunctions, DataFrameStatFunctions, PandasCogroupedOps),
    ):
        return _LineageHolder(out, session)
    return out
