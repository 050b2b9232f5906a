"""Tests of the benchmark's own arithmetic and input generation.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of them starts Spark.
"""

import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import fixtures  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import widesql  # noqa: E402
import workloads  # noqa: E402


# -- span self time ------------------------------------------------------

def _span(i, start, end, parent=None, name="op"):
    return spans.Span(id=i, name=name, start=start, end=end, parent=parent)


def test_self_time_subtracts_children_once_and_clips_them():
    tree = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps span 1: [1, 5] counted once
        _span(3, 9.0, 12.0, parent=0),  # ends after its parent: clipped to [9, 10]
        _span(4, 1.5, 2.5, parent=1),
    ]
    got = spans.self_times(tree)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(2.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_self_time_of_a_child_after_its_parent_ended_is_not_subtracted():
    # an asynchronous capture that starts after the emit span returned
    tree = [_span(0, 0.0, 1.0), _span(1, 2.0, 3.0, parent=0)]
    assert spans.self_times(tree) == {0: pytest.approx(1.0), 1: pytest.approx(1.0)}


def test_layer_of_uses_the_longest_prefix():
    assert spans.layer_of("extract.extract_report") == "extract"
    assert spans.layer_of("op") == "driver"
    assert spans.layer_of("catalyst.analysis") == "catalyst"
    assert spans.layer_of("unknown.thing") == "other"


def test_tracer_parents_worker_spans_to_the_main_threads_open_span():
    import threading

    tracer = spans.Tracer()
    tracer.enabled = True
    with tracer.span("op") as root:
        t = threading.Thread(target=lambda: tracer.end(tracer.begin("extract.x")))
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    worker = [s for s in tracer.spans if s.name == "extract.x"][0]
    assert worker.parent == root.id


# -- percentiles ---------------------------------------------------------

def test_per_pass_percentile_is_the_median_of_each_pass_tail():
    samples = [(0, 1.0), (0, 2.0), (1, 1.0), (1, 3.0), (2, 1.0), (2, 9.0)]
    assert stats.per_pass_percentile(samples, 90) == 3.0
    assert stats.per_pass_percentile([(0, 4.0)], 90) == 4.0
    with pytest.raises(ValueError):
        stats.per_pass_percentile([], 90)


def test_nearest_rank_percentile():
    values = list(range(1, 11))
    assert stats.percentile(values, 50) == 5
    assert stats.percentile(values, 90) == 9
    assert stats.percentile(values, 100) == 10
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_sample_rule():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_beyond(20, 50) == 10


def test_trend_compares_first_and_second_half():
    assert stats.trend([2.0, 2.0, 1.0, 1.0]) == pytest.approx(2.0)
    assert stats.trend([1.0, 1.0, 1.0]) == 1.0  # too few passes to tell


# -- seeded inputs -------------------------------------------------------

def test_wide_sql_same_seed_same_queries():
    a = widesql.make_queries(7, 8)
    assert a == widesql.make_queries(7, 8)
    assert [q.sql for q in a] != [q.sql for q in widesql.make_queries(8, 8)]


def test_wide_sql_sizes_do_not_depend_on_the_seed():
    def shape(seed):
        return [(q.sql.count(" AS ("), q.sql.count(" AS x")) for q in widesql.make_queries(seed, 8)]

    assert shape(1) == shape(2)
    ctes = [c for c, _ in shape(1)]
    assert min(ctes) >= widesql.CTE_RANGE[0] and max(ctes) <= widesql.CTE_RANGE[1]


def test_star_tables_same_seed_same_tables():
    a = fixtures.star_tables(3, 0.001)
    b = fixtures.star_tables(3, 0.001)
    c = fixtures.star_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in fixtures.STAR_TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_chain_source_same_seed_same_rows():
    a = fixtures.chain_source(5, 1000, 200, 150)
    assert a.equals(fixtures.chain_source(5, 1000, 200, 150))
    assert not a.equals(fixtures.chain_source(6, 1000, 200, 150))
    assert a.num_rows == 1000
    assert max(a.column("pk").to_pylist()) < 200


# -- correctness helpers -------------------------------------------------

def test_result_hash_ignores_row_order_and_integral_float_type():
    assert workloads.result_hash([(1, "a"), (2.0, "b")]) == workloads.result_hash([(2, "b"), (1, "a")])
    assert workloads.result_hash([(1,)]) != workloads.result_hash([(2,)])


def test_walk_chain_reaches_the_base_inputs():
    def report(out, *inputs):
        return {
            "output": {"paths": [f"file:{out}"]} if out.startswith("/") else {"name": f"db.{out}"},
            "inputs": list(inputs),
        }

    reports = [
        report("/s/h1", {"name": "src", "paths": ["file:/d/src"]}, {"name": "nation", "paths": ["/d/nation.parquet"]}),
        report("t", {"name": "h1", "paths": ["/s/h1/part-0.parquet"]}),
        report("/s/h2", {"name": "spark_catalog.default.t"}, {"name": "region"}),
    ]
    assert workloads.walk_chain(reports, "/s/h2") == {"/d/src", "nation", "region"}


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write_chain_async",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
