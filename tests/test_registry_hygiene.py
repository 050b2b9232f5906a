"""Registry hygiene: cheap guards that catch contract breakage without
spinning Spark — every oracle must BIND in DuckDB against the fixture
schemas, the registry enumerates in registration order with every name
exactly once, and the ``__spark_entry__`` contract exposes exactly that
registry.
"""

import duckdb
import pytest

from spark_lineage_spark.registry import QUERIES, load_all, query
from spark_lineage_spark.tables import TABLES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for t in TABLES:
        # LIMIT 0: real schema, no data — binder checks only
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet') LIMIT 0"
        )
    return con


def test_all_oracles_bind_in_duckdb(con):
    failures = []
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:
            failures.append((name, str(e).splitlines()[0]))
    assert not failures, failures


def test_load_all_is_registration_order():
    specs = load_all()
    assert list(specs) == list(QUERIES)
    assert all(name == spec.name for name, spec in specs.items())


def test_entry_contract_matches_registry():
    import __spark_entry__ as E

    specs = load_all()
    assert list(E.queries()) == list(specs)
    assert set(E.oracle_sql()) == {n for n, s in specs.items() if s.oracle is not None}


def test_duplicate_query_name_raises():
    name = next(iter(load_all()))
    before = QUERIES[name]
    with pytest.raises(ValueError, match="duplicate query name"):
        query(name, "dup")(lambda spark, sf_dir: None)
    assert QUERIES[name] is before


def test_evict_cache_caps_same_app_entries():
    """The staged-DataFrame caches must not grow monotonically within
    one application (ADVICE r6): other-app entries always drop, and
    same-app entries FIFO-evict beyond STAGED_CACHE_CAP."""
    from spark_lineage_spark.staging import STAGED_CACHE_CAP, evict_cache

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    cache = {("dead_app", "sf_x"): FakeDF()}
    for i in range(STAGED_CACHE_CAP + 3):
        key = ("app", f"sf{i}")
        evict_cache(cache, "app", key)
        cache[key] = FakeDF()
    assert all(k[0] == "app" for k in cache)
    assert len(cache) == STAGED_CACHE_CAP  # CAP-1 older entries + the new key
    # oldest same-app keys evicted first
    assert ("app", "sf0") not in cache and ("app", f"sf{STAGED_CACHE_CAP + 2}") in cache

