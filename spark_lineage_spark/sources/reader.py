"""LineageReader: spark.read facade returning LineageDataFrames.

Input lineage does NOT come from remembering reader calls — it comes
from the analyzed plan at action time (SURVEY.md §3.3: both entry
points converge on the plan). The reader is therefore a thin proxy
whose only job is wrapping results.
"""

from __future__ import annotations

from spark_lineage_spark.sources.frame import _rewrap


class LineageReader:
    def __init__(self, session: "LineageSession"):
        self._session = session
        self._reader = session.spark.read

    def __getattr__(self, name):
        attr = getattr(self._reader, name)
        if callable(attr):
            def method(*args, **kwargs):
                out = attr(*args, **kwargs)
                if out is self._reader:
                    return self  # option()/format() chain
                return _rewrap(out, self._session)

            return method
        return attr
