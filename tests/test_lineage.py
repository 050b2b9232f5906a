"""Lineage golden tests (SURVEY.md §5.2 point 3): inputs, outputs,
column-level edges, failure capture, JSONL round-trip — mirrors the
reference's own test style (assert the captured report, not the query
result; Spark guarantees the rows).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from spark_lineage_spark import InMemoryReporter, LineageSession
from spark_lineage_spark.tables import load


@pytest.fixture()
def engine(spark):
    rep = InMemoryReporter()
    return LineageSession(spark, reporter=rep), rep


def test_input_extraction_paths_and_format(engine, sf_dir):
    eng, rep = engine
    eng._wrap(load(eng.spark, sf_dir, "region")).collect()
    r = rep.last()
    assert [i.name for i in r.inputs] == ["region"]
    assert r.inputs[0].kind == "path"
    assert r.inputs[0].format == "parquet"
    assert r.inputs[0].paths and r.inputs[0].paths[0].endswith("region.parquet")
    assert [f.name for f in r.inputs[0].fields] == ["r_regionkey", "r_name"]


def test_temp_view_input_named(engine, sf_dir):
    eng, rep = engine
    load(eng.spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    eng.sql("SELECT n_name FROM nation_v WHERE n_regionkey = 0").collect()
    r = rep.last()
    # the underlying file relation is what's read; SubqueryAlias wraps it
    assert r.inputs and r.inputs[0].kind == "path"
    assert r.inputs[0].name == "nation"


def test_self_join_dedupes_input(engine, sf_dir):
    eng, rep = engine
    n = load(eng.spark, sf_dir, "nation")
    eng._wrap(n.alias("a").join(n.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey"))).count()
    r = rep.last()
    assert [i.name for i in r.inputs] == ["nation"]  # same input once


def test_column_lineage_through_join_agg(engine, sf_dir):
    eng, rep = engine
    li = load(eng.spark, sf_dir, "lineitem")
    o = load(eng.spark, sf_dir, "orders")
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    eng._wrap(df).collect()
    edges = {c.output: c.inputs for c in rep.last().columns}
    assert edges["o_orderstatus"] == ["orders.o_orderstatus"]
    assert edges["rev"] == ["lineitem.l_discount", "lineitem.l_extendedprice"]


def test_column_lineage_through_window_and_union(engine, sf_dir):
    eng, rep = engine
    from pyspark.sql import Window

    o = load(eng.spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    df1 = o.select("o_orderkey", F.row_number().over(w).alias("rn"))
    df2 = load(eng.spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_linenumber").alias("rn")
    )
    eng._wrap(df1.union(df2)).count()
    edges = {c.output: set(c.inputs) for c in rep.last().columns}
    assert edges["o_orderkey"] == {"orders.o_orderkey", "lineitem.l_orderkey"}
    assert "orders.o_custkey" in edges["rn"] and "lineitem.l_linenumber" in edges["rn"]


def test_column_lineage_through_explode_generate(engine, sf_dir):
    """Generate (explode) nodes: generator outputs must trace to the
    exploded input column."""
    eng, rep = engine
    e = load(eng.spark, sf_dir, "embeddings")
    df = e.select("vec_id", F.posexplode("embedding").alias("pos", "comp"))
    eng._wrap(df).count()
    edges = {c.output: c.inputs for c in rep.last().columns}
    assert edges["vec_id"] == ["embeddings.vec_id"]
    assert edges["comp"] == ["embeddings.embedding"]
    assert edges["pos"] == ["embeddings.embedding"]


def test_column_lineage_sql_entry_point(engine, sf_dir):
    """SQL and DataFrame entry points converge on the same plan —
    column lineage must work identically through engine.sql()."""
    eng, rep = engine
    load(eng.spark, sf_dir, "lineitem").createOrReplaceTempView("li_v")
    eng.sql(
        "SELECT l_returnflag, sum(l_quantity * (1 - l_discount)) AS adj "
        "FROM li_v GROUP BY l_returnflag"
    ).collect()
    edges = {c.output: c.inputs for c in rep.last().columns}
    assert edges["l_returnflag"] == ["lineitem.l_returnflag"]
    assert edges["adj"] == ["lineitem.l_discount", "lineitem.l_quantity"]


def test_output_lineage_on_write(engine, sf_dir, tmp_path):
    eng, rep = engine
    out = str(tmp_path / "out_parquet")
    eng._wrap(load(eng.spark, sf_dir, "region")).write.mode("overwrite").parquet(out)
    r = rep.last()
    assert r.run.func_name == "write.parquet"
    assert r.output is not None
    assert r.output.kind == "path" and r.output.format == "parquet"
    assert r.output.paths == [out]
    assert [f.name for f in r.output.fields] == ["r_regionkey", "r_name"]
    assert [i.name for i in r.inputs] == ["region"]


def test_write_row_count_via_observation(engine, sf_dir, tmp_path):
    """Output row count rides the write job as an Observation metric —
    no second pass over the data (SURVEY §2.12 run metadata)."""
    eng, rep = engine
    out = str(tmp_path / "obs_out")
    eng._wrap(load(eng.spark, sf_dir, "nation")).write.mode("overwrite").parquet(out)
    assert rep.last().run.num_output_rows == 25


def test_save_as_table_output(engine, sf_dir):
    eng, rep = engine
    eng._wrap(load(eng.spark, sf_dir, "region")).write.mode("overwrite").saveAsTable(
        "sls_region_copy"
    )
    r = rep.last()
    assert r.output.kind == "table" and r.output.name == "sls_region_copy"
    # catalog-table reads are recognized as inputs too
    eng.table("sls_region_copy").count()
    r2 = rep.last()
    assert r2.inputs and r2.inputs[0].kind in ("table", "path")
    eng.spark.sql("DROP TABLE IF EXISTS sls_region_copy")


def test_column_lineage_through_rollup_expand(engine, sf_dir):
    """Expand nodes (rollup/cube) rebind grouping columns to fresh
    exprIds positionally — lineage must map them through projections."""
    eng, rep = engine
    o = load(eng.spark, sf_dir, "orders")
    eng._wrap(o.rollup("o_orderstatus").count()).collect()
    edges = {c.output: c.inputs for c in rep.last().columns}
    assert edges["o_orderstatus"] == ["orders.o_orderstatus"]


def test_metadata_sql_emits_no_write_report(engine, sf_dir):
    """SET/SHOW/DESCRIBE are *Command plans but metadata reads — they
    must not produce write reports."""
    eng, rep = engine
    n0 = len(rep.reports)
    eng.sql("SET spark.sql.shuffle.partitions=32")
    eng.sql("SHOW TABLES")
    assert len(rep.reports) == n0, [r.run.func_name for r in rep.reports[n0:]]


def test_unknown_leaf_recorded_not_dropped(engine, sf_dir):
    """Unrecognized plan leaves must surface as kind='unknown', never
    vanish (a query that apparently read nothing)."""
    eng, rep = engine
    rdd_df = eng.spark.createDataFrame(
        eng.spark.sparkContext.parallelize([(1, "a"), (2, "b")]), "id long, v string"
    )
    eng._wrap(rdd_df).count()
    assert rep.last().inputs, "inputs empty for RDD-backed plan"
    assert rep.last().inputs[0].kind in ("unknown", "memory")


def test_ctas_command_lineage(engine, sf_dir):
    """CTAS through the SQL entry point: the command executes eagerly
    inside sql(), so one report fires immediately with the table as
    output and the scanned files as inputs — the reference's
    CreateDataSourceTableAsSelectCommand capture (SURVEY §0)."""
    eng, rep = engine
    eng.spark.sql("DROP TABLE IF EXISTS sls_ctas_t")
    load(eng.spark, sf_dir, "region").createOrReplaceTempView("region_ctas_v")
    eng.sql(
        "CREATE TABLE sls_ctas_t USING parquet AS "
        "SELECT r_regionkey, upper(r_name) AS rname FROM region_ctas_v"
    )
    r = rep.last()
    assert r.run.func_name == "sql.command"
    assert r.output is not None and r.output.kind == "table"
    assert r.output.name.endswith("sls_ctas_t")
    assert [f.name for f in r.output.fields] == ["r_regionkey", "rname"]
    assert [i.name for i in r.inputs] == ["region"]
    eng.spark.sql("DROP TABLE IF EXISTS sls_ctas_t")


def test_insert_into_command_lineage(engine, sf_dir):
    """INSERT INTO a datasource table → InsertIntoHadoopFsRelation
    command; output captured via its outputPath."""
    eng, rep = engine
    eng.spark.sql("DROP TABLE IF EXISTS sls_ins_t")
    load(eng.spark, sf_dir, "nation").write.mode("overwrite").saveAsTable("sls_ins_t")
    load(eng.spark, sf_dir, "nation").createOrReplaceTempView("ins_v")
    eng.sql(
        "INSERT INTO sls_ins_t "
        "SELECT n_nationkey + 100, n_name, n_regionkey FROM ins_v WHERE n_nationkey < 2"
    )
    r = rep.last()
    assert r.run.func_name == "sql.command"
    assert r.output is not None
    assert r.output.kind in ("path", "table")
    target = r.output.name or (r.output.paths[0] if r.output.paths else "")
    assert "sls_ins_t" in target
    assert [i.name for i in r.inputs] == ["nation"]
    eng.spark.sql("DROP TABLE IF EXISTS sls_ins_t")


def test_failure_report(engine, sf_dir):
    eng, rep = engine
    with pytest.raises(Exception):
        eng.sql("SELECT assert_true(false, 'boom') AS x").collect()
    assert rep.last().run.error is not None


@pytest.mark.parametrize("where", ["action", "write", "sql_command"])
def test_duration_ignores_wall_clock_steps(engine, sf_dir, tmp_path, monkeypatch, where):
    """``run.duration_s`` is measured on a monotonic clock: the timing
    module's wall clock stepping back an hour at every read (a clock
    correction mid-query) leaves it non-negative."""
    import time
    import types

    from spark_lineage_spark import session
    from spark_lineage_spark.sources import frame, writer

    eng, rep = engine
    df = eng._wrap(load(eng.spark, sf_dir, "region"))
    module = {"action": frame, "write": writer, "sql_command": session}[where]
    reads = []

    def stepping_back():
        reads.append(1)
        return time.time() - 3600.0 * len(reads)

    monkeypatch.setattr(module, "time", types.SimpleNamespace(
        time=stepping_back, perf_counter=time.perf_counter))
    if where == "action":
        df.count()
    elif where == "write":
        df.write.mode("overwrite").parquet(str(tmp_path / "region_copy"))
    else:
        df.createOrReplaceTempView("region_clock")
        eng.sql(f"CREATE TABLE region_clock_t USING parquet LOCATION '{tmp_path}/t' "
                "AS SELECT * FROM region_clock")
        eng.spark.sql("DROP TABLE region_clock_t")
    monkeypatch.undo()
    assert rep.last().run.duration_s >= 0


def test_groupby_na_randomsplit_stay_in_facade(engine, sf_dir):
    """Intermediate holders (GroupedData, na, randomSplit lists) must
    not silently drop out of the facade — the most common aggregation
    shape goes through groupBy."""
    eng, rep = engine
    ldf = eng._wrap(load(eng.spark, sf_dir, "orders"))
    ldf.groupBy("o_orderstatus").count().collect()
    assert rep.last().input_names() == ["orders"]
    n0 = len(rep.reports)
    ldf.na.fill({"o_orderpriority": "?"}).count()
    assert len(rep.reports) == n0 + 1
    parts = ldf.randomSplit([0.5, 0.5], seed=1)
    parts[0].count()
    assert len(rep.reports) == n0 + 2
    # a holder returning a holder (pivot), two Spark 4 actions, a cogroup
    ldf.groupBy("o_orderstatus").pivot("o_orderpriority").sum("o_totalprice").collect()
    assert len(rep.reports) == n0 + 3
    assert rep.last().input_names() == ["orders"]
    table = ldf.toArrow()
    assert len(rep.reports) == n0 + 4
    assert rep.last().run.num_output_rows == table.num_rows
    assert not ldf.isEmpty()
    assert len(rep.reports) == n0 + 5
    grouped = ldf.groupBy("o_orderstatus")
    grouped.cogroup(grouped).applyInPandas(
        lambda a, b: a[["o_orderstatus"]].head(1), "o_orderstatus string"
    ).collect()
    assert len(rep.reports) == n0 + 6


def test_write_mode_ignore_does_not_hang(engine, sf_dir, tmp_path):
    """SaveMode.ignore on an existing target skips the query — the
    Observation metric never materializes and must not block."""
    eng, rep = engine
    out = str(tmp_path / "ignore_t")
    ldf = eng._wrap(load(eng.spark, sf_dir, "region"))
    ldf.write.mode("overwrite").parquet(out)
    assert rep.last().run.num_output_rows == 5
    ldf.write.mode("ignore").parquet(out)  # pre-existing: no-op write
    assert rep.last().run.func_name == "write.parquet"
    # skipped write: either no metric or an (accurate) zero — the
    # regression here is Observation.get BLOCKING forever
    assert rep.last().run.num_output_rows in (None, 0)


def test_short_documents_do_not_break_shingles(spark, tmp_path):
    """Documents with fewer than n tokens must shingle to empty, not
    crash slice() or fabricate short shingles."""
    import pandas as pd

    from spark_lineage_spark.operators.dedup import llm_dedup_exact, llm_dedup_minhash_lsh

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["one", "two words", "three word doc here now ok"]}
    )
    path = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path + "/documents.parquet")
    pairs = llm_dedup_minhash_lsh(spark, path).collect()
    assert pairs == []  # no crash, no bogus pairs


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    from spark_lineage_spark.plans.reporters import JsonlReporter, load_lineage_json

    path = str(tmp_path / "reports.jsonl")
    eng = LineageSession(spark, reporter=JsonlReporter(path))
    eng._wrap(load(spark, sf_dir, "nation")).count()
    raw = load_lineage_json(path)
    assert len(raw) == 1
    assert raw[0]["inputs"][0]["name"] == "nation"
    # engine-queryable (the catalog is itself a table)
    df = eng.lineage()
    assert df.count() == 1


def test_async_capture_preserves_reports(spark, sf_dir):
    """async_capture moves extraction off the caller thread;
    flush() then exposes the same reports in order."""
    rep = InMemoryReporter()
    eng = LineageSession(spark, reporter=rep, async_capture=True)
    eng._wrap(load(spark, sf_dir, "region")).count()
    eng._wrap(load(spark, sf_dir, "nation")).count()
    eng.flush()
    assert [r.inputs[0].name for r in rep.reports] == ["region", "nation"]


def test_no_extra_jobs_for_capture(engine, sf_dir):
    """Lineage must add zero Spark jobs (BASELINE.md overhead budget):
    plan traversal only.

    Each measured collect runs under its own fresh job group and the
    count is taken WITHIN that group: counting the default group across
    the session is flaky in long runs because the UI store evicts old
    jobs (spark.ui.retainedJobs), which once made the default-group
    count go backwards (VERDICT r5 item 3, plain_delta=-99)."""
    import uuid

    eng, rep = engine
    sc = eng.spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in_fresh_group(action):
        group = f"no-extra-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "test_no_extra_jobs_for_capture")
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group) or [])

    df = load(eng.spark, sf_dir, "nation").groupBy("n_regionkey").count()
    df.collect()  # warm-up: AQE materializes the shuffle on first run
    plain_delta = jobs_in_fresh_group(df.collect)
    # job groups are thread-local: a job submitted by capture from a
    # stray worker thread would escape the fresh group, so also watch
    # the default group — legitimately it gains nothing here (the
    # collect runs inside the fresh group) and UI-store eviction can
    # only shrink it, so any increase is an escaped capture job
    n_default0 = len(tracker.getJobIdsForGroup() or [])
    wrapped_delta = jobs_in_fresh_group(lambda: eng._wrap(df).collect())
    n_default1 = len(tracker.getJobIdsForGroup() or [])
    assert wrapped_delta == plain_delta, (
        f"lineage added Spark jobs: wrapped={wrapped_delta} plain={plain_delta}"
    )
    assert n_default1 <= n_default0, (
        f"capture leaked jobs outside the job group: {n_default1 - n_default0}"
    )


def test_jdbc_read_lineage_golden(engine, sf_dir, tmp_path):
    """JDBC executable path: a Derby-backed jdbc scan must surface as a
    kind=table/format=jdbc input with the table name and fields
    (VERDICT r1 item 8 — JDBCRelation recognition, now exercised)."""
    eng, rep = engine
    spark = eng.spark
    spark._jvm.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    from spark_lineage_spark.tables import load

    db = str(tmp_path / "derby_golden")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    load(spark, sf_dir, "region").write.mode("overwrite").format("jdbc").option(
        "url", url
    ).option("dbtable", "region").option("driver", driver).save()
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "region")
        .option("driver", driver)
        .load()
    )
    assert eng._wrap(back).count() == 5
    report = rep.last()
    (inp,) = report.inputs
    assert inp.kind == "table" and inp.format == "jdbc" and inp.name == "region"
    assert {f.name for f in inp.fields} == {"r_regionkey", "r_name"}


def test_writer_facade_delegates_unknown_methods(engine, sf_dir, tmp_path):
    """ADVICE r1: the writer facade must support everything a plain
    DataFrameWriter supports — .text() and .jdbc() terminals emit
    best-effort reports; a truly unknown attribute still raises."""
    eng, rep = engine
    spark = eng.spark
    from spark_lineage_spark.tables import load

    # .text() terminal (single string column requirement is Spark's)
    docs = load(spark, sf_dir, "documents").select("text").limit(5)
    out = str(tmp_path / "txt_out")
    eng._wrap(docs).write.text(out)
    rtext = rep.last()
    assert rtext.output.kind == "path" and rtext.output.format == "text"
    assert rtext.output.paths == [out]
    assert spark.read.text(out).count() == 5

    # .jdbc() terminal via embedded Derby
    spark._jvm.System.setProperty("derby.stream.error.file", str(tmp_path / "derby.log"))
    url = f"jdbc:derby:{tmp_path / 'derby_w'};create=true"
    region = load(spark, sf_dir, "region")
    eng._wrap(region).write.jdbc(
        url, "region_w", mode="overwrite",
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    rjdbc = rep.last()
    assert rjdbc.output.kind == "table" and rjdbc.output.format == "jdbc"
    assert rjdbc.output.name == "region_w"

    with pytest.raises(AttributeError):
        eng._wrap(region).write.definitely_not_a_writer_method


def test_column_lineage_correlated_subquery_decorrelated(engine, sf_dir):
    """Correlated scalar subquery: Catalyst decorrelates into a
    join+aggregate plan shape — lineage must still resolve, inputs must
    include the subquery's table, and outer outputs must trace to their
    base columns (VERDICT r1 item 10)."""
    eng, rep = engine
    load(eng.spark, sf_dir, "orders").createOrReplaceTempView("ord_v")
    load(eng.spark, sf_dir, "customer").createOrReplaceTempView("cust_v")
    eng.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM ord_v o
        WHERE o_totalprice > (
            SELECT avg(c_acctbal) FROM cust_v c WHERE c.c_custkey = o.o_custkey
        )
        """
    ).collect()
    report = rep.last()
    names = set(report.input_names())
    assert any("orders" in n for n in names), names
    assert any("customer" in n for n in names), names
    edges = {c.output: c.inputs for c in report.columns}
    assert edges["o_orderkey"] == ["orders.o_orderkey"]
    assert edges["o_totalprice"] == ["orders.o_totalprice"]


def test_column_lineage_lateral_subquery(engine, sf_dir):
    """SQL LATERAL subquery (decorrelates to a join): outputs from the
    lateral side must trace through to the base tables."""
    eng, rep = engine
    load(eng.spark, sf_dir, "nation").createOrReplaceTempView("nat_v")
    load(eng.spark, sf_dir, "customer").createOrReplaceTempView("cust_v")
    eng.sql(
        """
        SELECT n.n_name, t.n_cust
        FROM nat_v n,
        LATERAL (
            SELECT count(*) AS n_cust FROM cust_v c WHERE c.c_nationkey = n.n_nationkey
        ) t
        """
    ).collect()
    report = rep.last()
    names = set(report.input_names())
    assert any("nation" in n for n in names) and any("customer" in n for n in names)
    edges = {c.output: set(c.inputs) for c in report.columns}
    assert edges["n_name"] == {"nation.n_name"}


def test_column_lineage_union_by_name_mismatched_order(engine, sf_dir):
    """unionByName with children in DIFFERENT column orders: Catalyst
    inserts a reordering Project — per-position union binding must
    follow the names, not raw child positions."""
    eng, rep = engine
    o = load(eng.spark, sf_dir, "orders")
    li = load(eng.spark, sf_dir, "lineitem")
    d1 = o.select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v"))
    d2 = li.select(
        F.col("l_extendedprice").alias("v"), F.col("l_orderkey").alias("k")
    )  # reversed order on purpose
    eng._wrap(d1.unionByName(d2)).count()
    edges = {c.output: set(c.inputs) for c in rep.last().columns}
    assert edges["k"] == {"orders.o_orderkey", "lineitem.l_orderkey"}
    assert edges["v"] == {"orders.o_totalprice", "lineitem.l_extendedprice"}


def test_column_lineage_exists_and_in_subquery_inputs(engine, sf_dir):
    """EXISTS / IN predicate subqueries read tables too — they must
    show up as inputs even though no output column derives from them."""
    eng, rep = engine
    load(eng.spark, sf_dir, "supplier").createOrReplaceTempView("sup_v")
    load(eng.spark, sf_dir, "nation").createOrReplaceTempView("nat_v2")
    eng.sql(
        """
        SELECT s_name FROM sup_v
        WHERE EXISTS (SELECT 1 FROM nat_v2 WHERE n_nationkey = s_nationkey)
          AND s_suppkey IN (SELECT s_suppkey FROM sup_v WHERE s_acctbal > 0)
        """
    ).collect()
    report = rep.last()
    names = set(report.input_names())
    assert any("supplier" in n for n in names) and any("nation" in n for n in names)
    edges = {c.output: c.inputs for c in report.columns}
    assert edges["s_name"] == ["supplier.s_name"]


def test_cached_input_keeps_file_lineage(engine, sf_dir):
    """Caching an input must not erase its file lineage: extraction
    walks the ANALYZED plan, which still holds the LogicalRelation —
    cache substitution (InMemoryRelation) only happens later, at
    physical planning. Pin that assumption: if a Spark upgrade moves
    substitution earlier, this breaks loudly."""
    eng, rep = engine
    o = load(eng.spark, sf_dir, "orders").cache()
    try:
        df = (
            o.join(load(eng.spark, sf_dir, "lineitem"),
                   o.o_orderkey == F.col("l_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        df.count()  # materialize the cache so substitution is live
        eng._wrap(df).collect()
        r = rep.last()
        assert sorted(i.name for i in r.inputs) == ["lineitem", "orders"]
        assert all(i.kind == "path" for i in r.inputs)
        by_out = {c.output: c.inputs for c in r.columns}
        assert by_out["qty"] == ["lineitem.l_quantity"]
        assert by_out["o_orderstatus"] == ["orders.o_orderstatus"]
    finally:
        o.unpersist()


def test_column_lineage_full_outer_cdc_classification(engine, sf_dir):
    """Round-4 CDC diff shape: a full-outer self-join with coalesce +
    CASE classification — the coalesced key must trace to the base
    column through BOTH join sides, and the classification column must
    trace to every column its CASE reads."""
    eng, rep = engine
    load(eng.spark, sf_dir, "orders").createOrReplaceTempView("ord_cdc")
    eng.sql(
        """
        SELECT coalesce(n.o_orderkey, o.o_orderkey) AS k,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN n.o_totalprice <> o.o_totalprice THEN 'update'
                    ELSE 'unchanged' END AS change_type
        FROM (SELECT o_orderkey, o_totalprice FROM ord_cdc WHERE o_orderkey % 3 <> 0) o
        FULL OUTER JOIN
             (SELECT o_orderkey, o_totalprice FROM ord_cdc WHERE o_orderkey % 3 <> 1) n
          ON o.o_orderkey = n.o_orderkey
        """
    ).collect()
    report = rep.last()
    edges = {c.output: set(c.inputs) for c in report.columns}
    assert edges["k"] == {"orders.o_orderkey"}, edges
    assert edges["change_type"] == {"orders.o_orderkey", "orders.o_totalprice"}, edges


def test_column_lineage_recursive_cte(engine, sf_dir):
    """Recursive CTE (Spark 4 UnionLoop plan nodes): lineage extraction
    must not crash and must attribute the aggregate's outputs to the
    recursion's base columns."""
    eng, rep = engine
    load(eng.spark, sf_dir, "supplier").createOrReplaceTempView("sup_rec")
    eng.sql(
        """
        WITH RECURSIVE r AS (
          SELECT s_suppkey, s_acctbal AS bal FROM sup_rec WHERE s_suppkey = 0
          UNION ALL
          SELECT s.s_suppkey, r.bal + s.s_acctbal
          FROM sup_rec s JOIN r
            ON CAST(floor((s.s_suppkey - 1) / 2.0) AS BIGINT) = r.s_suppkey
          WHERE s.s_suppkey > 0 AND s.s_suppkey < 15
        )
        SELECT count(*) AS n, round(sum(bal), 2) AS total FROM r
        """
    ).collect()
    report = rep.last()
    assert any("supplier" in n for n in report.input_names()), report.input_names()
    edges = {c.output: set(c.inputs) for c in report.columns}
    # the recursion's accumulator mixes only supplier.s_acctbal
    assert edges.get("total", set()) <= {"supplier.s_acctbal", "supplier.s_suppkey"}, edges


def test_column_lineage_runtime_bloom_filter_join(engine, sf_dir):
    """Join executed with runtime bloom-filter injection active (the
    join_runtime_bloom_filter confs, joins.py): the injected runtime
    filter is an optimizer/physical concern — the captured lineage must
    be identical to the plain join's: both scans as inputs exactly once,
    aggregate outputs traced to their base columns (VERDICT r4 item 5)."""
    eng, rep = engine
    spark = eng.spark
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
        )
        eng._wrap(out).collect()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    report = rep.last()
    names = sorted(report.input_names())
    assert any("lineitem" in n for n in names), names
    assert any("orders" in n for n in names), names
    assert len(report.inputs) == 2, [i.name for i in report.inputs]
    edges = {c.output: set(c.inputs) for c in report.columns}
    assert edges["l_returnflag"] == {"lineitem.l_returnflag"}
    assert edges["total_qty"] == {"lineitem.l_quantity"}


def test_column_lineage_lateral_join_with_bloom_confs(engine, sf_dir):
    """LATERAL + runtime-filter confs combined (the two round-4 plan
    shapes at once): decorrelated lateral joins still resolve to base
    tables with the runtime-filter optimizer rules enabled."""
    eng, rep = engine
    spark = eng.spark
    load(spark, sf_dir, "orders").createOrReplaceTempView("ord_bl")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_bl")
    prev = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", None)
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        eng.sql(
            """
            SELECT o.o_orderkey, t.qty
            FROM ord_bl o,
            LATERAL (
                SELECT round(sum(l_quantity), 2) AS qty
                FROM li_bl l WHERE l.l_orderkey = o.o_orderkey
            ) t
            WHERE o.o_orderpriority = '1-URGENT'
            """
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        else:
            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prev)
    report = rep.last()
    names = report.input_names()
    assert any("orders" in n for n in names) and any("lineitem" in n for n in names)
    edges = {c.output: set(c.inputs) for c in report.columns}
    assert edges["o_orderkey"] == {"orders.o_orderkey"}
    assert edges.get("qty", set()) <= {"lineitem.l_quantity", "lineitem.l_orderkey"}, edges


def test_checkpoint_transparent_lineage(engine, sf_dir):
    """localCheckpoint truncates the analyzed plan to a LogicalRDD —
    Spark itself forgets the sources. lineage_checkpoint snapshots the
    pre-checkpoint inputs/column sources and extraction splices them
    back in; graph_pagerank nests TWO checkpoint layers (edge table,
    then the per-iteration rank table), so this exercises recursion
    through recorded entries."""
    eng, rep = engine
    from spark_lineage_spark.operators.analytics import graph_pagerank

    eng._wrap(graph_pagerank(eng.spark, sf_dir)).collect()
    r = rep.last()
    names = r.input_names()
    assert any("lineitem" in n for n in names), names
    # no unknown LogicalRDD leak: every input resolved to a real source
    assert not any("LogicalRDD" in (n or "") for n in names), names
    edges = {c.output: set(c.inputs) for c in r.columns}
    assert edges["node"] == {"lineitem.l_partkey"}


def test_checkpoint_spliced_semantic_dedup_lineage(engine, sf_dir):
    """Column-edge golden through the SEMANTIC dedup path (VERDICT r5
    item 8): llm_semantic_dedup checkpoints its cosine near-dup pairs
    (lineage_checkpoint) before the min-label component fixpoint, which
    itself checkpoints each iteration — so extraction must splice
    recorded entries through MULTIPLE generations of LogicalRDD leaves
    and still land on the embeddings table."""
    eng, rep = engine
    from spark_lineage_spark.operators.dedup import llm_semantic_dedup

    eng._wrap(llm_semantic_dedup(eng.spark, sf_dir)).collect()
    r = rep.last()
    names = r.input_names()
    assert any("embeddings" in n for n in names), names
    # no unknown LogicalRDD leak: every checkpointed leaf resolved
    assert not any("LogicalRDD" in (n or "") for n in names), names
    assert not any(i.kind == "unknown" for i in r.inputs), [i.kind for i in r.inputs]
    edges = {c.output: set(c.inputs) for c in r.columns}
    # every output column traces to the embeddings table's id column
    assert edges["cluster_label"] == {"embeddings.vec_id"}, edges
    assert edges["survivor"] == {"embeddings.vec_id"}, edges
    assert edges["members"] == {"embeddings.vec_id"}, edges


def test_plain_checkpoint_still_reports_unknown(engine, sf_dir):
    """A checkpoint taken OUTSIDE lineage_checkpoint has no recorded
    entry — extraction must still surface an explicit unknown leaf
    rather than silently reporting a query that read nothing."""
    eng, rep = engine
    df = load(eng.spark, sf_dir, "region").localCheckpoint()
    eng._wrap(df).collect()
    r = rep.last()
    assert any(i.kind == "unknown" for i in r.inputs), [i.kind for i in r.inputs]


def test_checkpoint_spliced_bloom_prefilter_lineage(engine, sf_dir):
    """Round-8 path: llm_dedup_bloom_prefilter checkpoints the Bloom
    bitmap words table (read twice: probe joins + bits_set) — lineage
    must splice through that LogicalRDD back to the documents table,
    and the final single summary row must trace its counts to real
    source columns, not the checkpoint."""
    eng, rep = engine
    from spark_lineage_spark.operators.dedup import llm_dedup_bloom_prefilter

    eng._wrap(llm_dedup_bloom_prefilter(eng.spark, sf_dir)).collect()
    r = rep.last()
    names = r.input_names()
    assert any("documents" in n for n in names), names
    assert not any("LogicalRDD" in (n or "") for n in names), names
    assert not any(i.kind == "unknown" for i in r.inputs), [i.kind for i in r.inputs]
    edges = {c.output: set(c.inputs) for c in r.columns}
    # bits_set flows from the bitmap words, which derive from text hashes
    assert edges.get("bits_set", set()) <= {"documents.text"}, edges


def test_session_variable_query_lineage(engine, sf_dir):
    """Round-8 path: a query whose filter constant came from a SQL
    session variable still extracts clean input lineage (the variable
    folds to a literal at analysis — no phantom input)."""
    eng, rep = engine
    from spark_lineage_spark.operators.advanced_sql import sql_session_variables

    eng._wrap(sql_session_variables(eng.spark, sf_dir)).collect()
    r = rep.last()
    names = r.input_names()
    assert any("orders" in n for n in names), names
    assert not any(i.kind == "unknown" for i in r.inputs), [i.kind for i in r.inputs]
    edges = {c.output: set(c.inputs) for c in r.columns}
    assert edges.get("total_cents", set()) == {"orders.o_totalprice"}, edges


def test_lineage_column_graph_matches_ground_truth(spark, sf_dir):
    """The registry's lineage_column_graph query (round 10): the
    self-queried edge table must equal the constant ground-truth edge
    set its DuckDB oracle pins — including the zero-ancestor count(*)
    row surviving as an empty-string sentinel."""
    from spark_lineage_spark.registry import load_all

    rows = [
        (r.out_col, r.src_dataset, r.src_col)
        for r in load_all()["lineage_column_graph"].builder(spark, sf_dir).collect()
    ]
    assert rows == [
        ("home_regionkey", "nation", "n_regionkey"),
        ("max_name", "nation", "n_name"),
        ("n_nations", "", ""),
        ("name_len", "nation", "n_name"),
        ("name_len", "region", "r_name"),
        ("nation_name", "nation", "n_name"),
        ("region_name", "region", "r_name"),
    ], rows


def test_fresh_run_dir_spares_live_foreign_pid(tmp_path):
    """scratch_dir must reap ONLY dead-owner siblings: a live
    foreign pid's staging and an un-pidded legacy dir both survive."""
    import subprocess
    import tempfile as tf

    from spark_lineage_spark.staging import scratch_dir

    child = subprocess.Popen(["sleep", "60"])
    try:
        live = tf.mkdtemp(prefix=f"sls_lineage_q_{child.pid}_")
        dead = tf.mkdtemp(prefix=f"sls_lineage_q_{2**22 + 1}_")
        legacy = tf.mkdtemp(prefix="sls_lineage_q_legacyx_")
        mine = scratch_dir("lineage_q")
        assert os.path.isdir(live), "live foreign-pid dir was reaped"
        assert os.path.isdir(legacy), "legacy un-pidded dir was reaped"
        assert not os.path.isdir(dead), "dead-owner dir survived"
        assert os.path.isdir(mine)
        for d in (live, legacy, mine):
            os.rmdir(d)
    finally:
        child.kill()
        child.wait()


def test_lineage_dataset_graph_matches_ground_truth(spark, sf_dir):
    """Registry lineage_dataset_graph: write-capture edges plus the
    read-only report's empty-output sentinel."""
    from spark_lineage_spark.registry import load_all

    rows = [
        (r.src_dataset, r.dst_dataset)
        for r in load_all()["lineage_dataset_graph"].builder(spark, sf_dir).collect()
    ]
    assert rows == [
        ("customer", ""),
        ("nation", "pricing_summary"),
        ("region", "pricing_summary"),
    ], rows


def test_lineage_impact_analysis_excludes_decoy(spark, sf_dir):
    """Registry lineage_impact_analysis: exactly the two n_name
    descendants; the region-only decoy contributes nothing."""
    from spark_lineage_spark.registry import load_all

    rows = [
        r.impacted_col
        for r in load_all()["lineage_impact_analysis"].builder(spark, sf_dir).collect()
    ]
    assert rows == ["top_name", "upper_name"], rows


def test_lineage_openlineage_export_spec_shape(spark, sf_dir):
    """Registry lineage_openlineage_export: COMPLETE/FAIL events with
    facets in the spec-mandated places."""
    from spark_lineage_spark.registry import load_all

    rows = [
        tuple(r)
        for r in load_all()["lineage_openlineage_export"].builder(spark, sf_dir).collect()
    ]
    assert rows == [
        ("COMPLETE", "count", 1, 0, 1, 0),
        ("COMPLETE", "parquet", 2, 1, 1, 0),
        ("FAIL", "collect", 1, 0, 1, 1),
    ], rows


def test_lineage_catalog_query_oracle_parity(spark, sf_dir):
    """Registry lineage_catalog_query (upgraded to oracle-gated in
    round 10): Spark rows equal the constant oracle run in DuckDB."""
    import duckdb

    from spark_lineage_spark.registry import load_all

    spec = load_all()["lineage_catalog_query"]
    rows = [tuple(r) for r in spec.builder(spark, sf_dir).collect()]
    expected = duckdb.connect().execute(spec.oracle).fetchall()
    assert rows == expected, (rows, expected)


def test_lineage_transitive_closure_two_hops(spark, sf_dir):
    """Registry lineage_transitive_closure: the recursive closure over
    the captured edge table reaches hop-2 with min-hops pinned."""
    from spark_lineage_spark.registry import load_all

    rows = [
        (r.src_dataset, r.dst_dataset, r.hops)
        for r in load_all()["lineage_transitive_closure"]
        .builder(spark, sf_dir)
        .collect()
    ]
    assert rows == [
        ("hop1_out", "hop2_out", 1),
        ("nation", "hop1_out", 1),
        ("nation", "hop2_out", 2),
    ], rows


def test_checkpoint_spliced_top_pc_lineage(engine, sf_dir):
    """Round-12 regression guard: llm_embedding_top_pc now
    localCheckpoints BOTH its means table and its covariance table
    (the iteration-reuse fix), so extraction must splice through two
    sibling checkpoint leaves feeding one plan — every loading/eigval
    column must still trace to the embeddings table, with no unknown
    LogicalRDD leaking."""
    eng, rep = engine
    from spark_lineage_spark.operators.similarity import llm_embedding_top_pc

    eng._wrap(llm_embedding_top_pc(eng.spark, sf_dir)).collect()
    r = rep.last()
    names = r.input_names()
    assert any("embeddings" in n for n in names), names
    assert not any("LogicalRDD" in (n or "") for n in names), names
    assert not any(i.kind == "unknown" for i in r.inputs), [i.kind for i in r.inputs]
    edges = {c.output: set(c.inputs) for c in r.columns}
    # range.id is the power-iteration seed vector (spark.range(dim)) —
    # a true ancestor of every iterated column
    assert edges["loading"] == {"embeddings.embedding", "range.id"}, edges
    assert edges["eigval"] == {"embeddings.embedding", "range.id"}, edges
    assert edges["dim"] == {"embeddings.embedding"}, edges
