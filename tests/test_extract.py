"""Plan extraction mechanics: the chunked JSON fetch round-trips the
plan exactly, the py4j traffic of a report does not grow with the
width of the plan, and what the JSON drops is read over py4j. The
queries are analyzed only, never run.
"""

import importlib.util
import json
from pathlib import Path

from pyspark.sql import functions as F

from spark_lineage_spark.plans.extract import _CHUNK, _plan_json, extract_report
from spark_lineage_spark.tables import load

TOOL = Path(__file__).resolve().parents[1] / "tools" / "capture_sweep.py"
spec = importlib.util.spec_from_file_location("capture_sweep", TOOL)
sweep = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sweep)


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def test_chunked_fetch_round_trips_large_plan(spark):
    df = spark.range(3).select(*[(F.col("id") * i + 1).alias(f"c{i}") for i in range(300)])
    plan = _analyzed(df)
    text = _plan_json(plan)
    assert len(text) > 64_000
    assert json.loads(text) == json.loads(plan.toJSON())


def test_chunked_fetch_keeps_surrogate_pairs_whole(spark):
    """An alias with non-ASCII and astral-plane characters, padded so
    that in the plan's UTF-16 text the emoji's high surrogate is the
    last unit of the first chunk: a cut at the chunk boundary of that
    text would split the pair."""
    alias = "é😀"

    def plan_with(prefix):
        return _analyzed(spark.range(1).select(F.col("id").alias(prefix + alias)))

    def high_surrogate_at(plan):
        raw = plan.toJSON()
        head = raw[: raw.index("😀")]
        return len(head.encode("utf-16-le")) // 2, raw

    at, _ = high_surrogate_at(plan_with(""))
    plan = plan_with("x" * ((_CHUNK - 1 - at) % _CHUNK))
    at, raw = high_surrogate_at(plan)
    assert at == _CHUNK - 1
    text = _plan_json(plan)
    assert text.isascii()
    assert json.loads(text) == json.loads(raw)


def test_py4j_calls_do_not_grow_with_plan_width(spark, sf_dir):
    """The same 3-CTE query at 10 and at 40 computed columns over one
    temp view: apart from the chunks of the JSON fetch, which grow with
    its size, a report costs the same py4j calls."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_width")

    def query(width):
        cols = range(width)
        return spark.sql(
            "WITH a AS (SELECT l_orderkey AS k, "
            + ", ".join(f"l_quantity + {i} AS x{i}" for i in cols)
            + " FROM li_width), b AS (SELECT k, "
            + ", ".join(f"x{i} * 2 AS x{i}" for i in cols)
            + " FROM a), c AS (SELECT k, "
            + ", ".join(f"x{i} + k AS x{i}" for i in cols)
            + " FROM b) SELECT * FROM c"
        )

    def calls_besides_chunks(df):
        chunks = -(-len(_plan_json(_analyzed(df))) // _CHUNK)
        with sweep.py4j_calls() as calls:
            extract_report(df)
        return calls[0] - chunks

    narrow, wide = query(10), query(40)
    extract_report(narrow)  # warm-up: one-time lookups of the JSON writer
    report = extract_report(wide)
    assert [i.name for i in report.inputs] == ["lineitem"]
    assert len(report.columns) == 41
    assert calls_besides_chunks(wide) == calls_besides_chunks(narrow)


def test_column_lineage_through_unpivot_expand(spark, sf_dir):
    """``unpivot`` builds an Expand whose projection rows are not Lists,
    which the JSON serializes as null: their references are read over
    py4j instead, and the value column still traces to both sources."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double").alias("c"))
    df = o.unpivot("o_orderkey", ["o_totalprice", "c"], "metric", "value")
    nodes = json.loads(_plan_json(_analyzed(df)))
    assert [n["projections"] for n in nodes if n["class"].endswith(".Expand")] == [None]
    edges = {c.output: c.inputs for c in extract_report(df).columns}
    assert edges == {
        "o_orderkey": ["orders.o_orderkey"],
        "metric": [],
        "value": ["orders.o_custkey", "orders.o_totalprice"],
    }
