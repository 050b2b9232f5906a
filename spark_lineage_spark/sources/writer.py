"""LineageWriter: DataFrameWriter facade recording output lineage.

Write commands are where the reference captures OUTPUTS
(``InsertIntoHadoopFsRelationCommand`` etc. — SURVEY.md §0,
reconstruction). Facade equivalent: record the target (path/table,
format, mode) around the delegated write, then emit a report whose
output side is filled in.

Output row counts come from ``Observation`` metrics piggy-backed on
the write job itself (SURVEY.md §2.12) — never a separate
``df.count()``, which would re-run the query (BASELINE.md: lineage
adds zero extra Spark jobs).

Writer configuration is recorded and replayed lazily at the terminal
call so the observed DataFrame is the one actually written.
"""

from __future__ import annotations

import time
import uuid
from typing import Optional

from pyspark.sql import Observation, functions as F


class LineageWriter:
    def __init__(self, df, session: "LineageSession"):
        self._df = df
        self._session = session
        self._ops: list[tuple[str, tuple, dict]] = []
        self._format: Optional[str] = None

    # chainable writer config (recorded, replayed at write time) ------
    def _record(self, name: str, *args, **kwargs) -> "LineageWriter":
        self._ops.append((name, args, kwargs))
        return self

    def format(self, source: str) -> "LineageWriter":
        self._format = source
        return self._record("format", source)

    def mode(self, saveMode: str) -> "LineageWriter":
        return self._record("mode", saveMode)

    def option(self, key: str, value) -> "LineageWriter":
        return self._record("option", key, value)

    def options(self, **options) -> "LineageWriter":
        return self._record("options", **options)

    def partitionBy(self, *cols) -> "LineageWriter":
        return self._record("partitionBy", *cols)

    def bucketBy(self, numBuckets: int, col, *cols) -> "LineageWriter":
        return self._record("bucketBy", numBuckets, col, *cols)

    def sortBy(self, col, *cols) -> "LineageWriter":
        return self._record("sortBy", col, *cols)

    # terminal writes -------------------------------------------------
    def _emit(self, func, t0, kind, fmt, name=None, paths=None, error=None, rows=None):
        self._session.emit(
            self._df,
            func,
            time.perf_counter() - t0,
            output={"kind": kind, "format": fmt, "name": name, "paths": paths or []},
            error=error,
            num_output_rows=rows,
        )

    def _write(self, func: str, kind: str, fmt, terminal, name=None, paths=None):
        # observe the write job itself for the output row count
        obs: Optional[Observation] = None
        df = self._df
        try:
            obs = Observation(f"sls_out_{uuid.uuid4().hex[:8]}")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        except Exception:
            obs = None

        writer = df.write
        for op, args, kwargs in self._ops:
            writer = getattr(writer, op)(*args, **kwargs)

        t0 = time.perf_counter()
        try:
            result = terminal(writer)
        except Exception as e:
            self._emit(func, t0, kind, fmt, name, paths, error=f"{type(e).__name__}: {e}")
            raise
        rows = None
        if obs is not None:
            try:
                # getOrEmpty, NOT get: SaveMode.ignore on an existing
                # target short-circuits without running the observed
                # plan, and Observation.get would block forever
                metrics = obs._jo.getOrEmpty()
                if not metrics.isEmpty():
                    rows = metrics.apply("rows")
            except Exception:
                rows = None
        self._emit(func, t0, kind, fmt, name, paths, rows=rows)
        return result

    def parquet(self, path: str, **kw):
        return self._write(
            "write.parquet", "path", "parquet", lambda w: w.parquet(path, **kw), paths=[path]
        )

    def orc(self, path: str, **kw):
        return self._write("write.orc", "path", "orc", lambda w: w.orc(path, **kw), paths=[path])

    def csv(self, path: str, **kw):
        return self._write("write.csv", "path", "csv", lambda w: w.csv(path, **kw), paths=[path])

    def json(self, path: str, **kw):
        return self._write(
            "write.json", "path", "json", lambda w: w.json(path, **kw), paths=[path]
        )

    def save(self, path: Optional[str] = None, **kw):
        return self._write(
            "write.save",
            "path",
            self._format,
            lambda w: w.save(path, **kw) if path else w.save(**kw),
            paths=[path] if path else [],
        )

    def saveAsTable(self, name: str, **kw):
        return self._write(
            "write.saveAsTable",
            "table",
            self._format or "parquet",
            lambda w: w.saveAsTable(name, **kw),
            name=name,
        )

    def insertInto(self, name: str, overwrite: Optional[bool] = None):
        return self._write(
            "write.insertInto",
            "table",
            self._format,
            lambda w: w.insertInto(name, overwrite) if overwrite is not None else w.insertInto(name),
            name=name,
        )

    # facade completeness (ADVICE r1): anything DataFrameWriter supports
    # must work through the facade too, with a best-effort report for
    # terminals not modeled above — never an AttributeError on code that
    # would run against a plain writer.
    _EXTRA_TERMINAL_FORMATS = {"text": "text", "xml": "xml"}

    def __getattr__(self, name: str):
        from pyspark.sql import DataFrameWriter

        if not callable(getattr(DataFrameWriter, name, None)):
            raise AttributeError(
                f"{type(self).__name__!r} object has no attribute {name!r}"
            )
        if name == "jdbc":

            def jdbc(url, table, *args, **kwargs):
                return self._write(
                    "write.jdbc",
                    "table",
                    "jdbc",
                    lambda w: w.jdbc(url, table, *args, **kwargs),
                    name=table,
                )

            return jdbc
        if name in self._EXTRA_TERMINAL_FORMATS:
            fmt = self._EXTRA_TERMINAL_FORMATS[name]

            def terminal(path, *args, **kwargs):
                return self._write(
                    f"write.{name}",
                    "path",
                    fmt,
                    lambda w: getattr(w, name)(path, *args, **kwargs),
                    paths=[path],
                )

            return terminal

        # anything else on DataFrameWriter is chainable configuration
        # (a future option-style method): record it for lazy replay at
        # the terminal call, exactly like the explicit config methods
        def config(*args, **kwargs):
            return self._record(name, *args, **kwargs)

        return config
