"""Lineage operators as queries (SURVEY.md §2.12): the engine's own
surface, dogfooded — run a pipeline through the facade, then query the
captured lineage log as a DataFrame.

The reports themselves are asserted structurally in
tests/test_lineage.py (golden tests); here the driver gets a
rows-only entry proving the lineage store is engine-queryable
(SURVEY §1.4: "the catalog is itself a table").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from spark_lineage_spark.registry import query
from spark_lineage_spark.staging import scratch_dir, scratch_table
from spark_lineage_spark.tables import load

# per-process counter for transitive-closure temp-view names (see
# lineage_transitive_closure: pid alone is not enough within a process)
_TC_VIEW_SEQ = 0


@query(
    "lineage_catalog_query",
    "§2.12 lineage log as a queryable table",
    """
    SELECT * FROM (VALUES
      ('count',         '',     CAST(1 AS BIGINT), 1),
      ('write.parquet', 'path', CAST(1 AS BIGINT), 2)
    ) AS t(func_name, output_kind, n_reports, max_inputs)
    ORDER BY func_name, output_kind
    """,
)
def lineage_catalog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a read→transform→write pipeline through LineageSession,
    then read the JSONL lineage log back and aggregate it: one row per
    (func_name) with input counts — the data-catalog behavior of the
    reference (observe queries, store metadata, make it queryable).

    Upgraded from rows-only to FULLY oracle-gated in round 10 (the
    same constant-ground-truth idiom as lineage_column_graph): the
    catalog aggregate is schema-derived, so the expected table is
    constant at every SF — read-only actions must surface with an
    empty-string output kind (coalesced; NULL ordering conventions
    differ between engines), the write with kind 'path' and BOTH
    input datasets counted."""
    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter

    path = os.path.join(scratch_dir("lineage_q"), "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(path))

    # pipeline 1: scan -> filter -> agg -> count (action)
    nat = engine._wrap(
        load(spark, sf_dir, "nation").filter(F.col("n_regionkey") >= 0).groupBy("n_regionkey").count()
    )
    nat.count()
    # pipeline 2: join -> write parquet (output lineage)
    out_dir = os.path.join(scratch_dir("lineage_out"), "joined")
    joined = engine._wrap(
        load(spark, sf_dir, "region").join(
            load(spark, sf_dir, "nation"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
    )
    joined.write.mode("overwrite").parquet(out_dir)

    lineage = engine.lineage()
    return (
        lineage.select(
            F.col("run.func_name").alias("func_name"),
            F.size("inputs").alias("n_inputs"),
            F.coalesce(F.col("output.kind"), F.lit("")).alias("output_kind"),
        )
        .groupBy("func_name", "output_kind")
        # full sort key = the full grouping key (ADVICE r10): func_names
        # happen to be unique here, but a future action producing two
        # output kinds under one func_name must not flap the row order
        .agg(F.count("*").alias("n_reports"), F.max("n_inputs").alias("max_inputs"))
        .orderBy("func_name", "output_kind")
    )


@query(
    "lineage_column_graph",
    "§2.12 column-level lineage graph, queryable + hash-gated",
    """
    SELECT * FROM (VALUES
      ('name_len',       'nation', 'n_name'),
      ('name_len',       'region', 'r_name'),
      ('home_regionkey', 'nation', 'n_regionkey'),
      ('max_name',       'nation', 'n_name'),
      ('n_nations',      '',       ''),
      ('nation_name',    'nation', 'n_name'),
      ('region_name',    'region', 'r_name')
    ) AS t(out_col, src_dataset, src_col)
    ORDER BY out_col, src_dataset, src_col
    """,
)
def lineage_column_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's CORE capability — column-level lineage (SURVEY §0,
    §2.12) — under the same official value-hash gate as every other
    operator, not just pytest goldens: run two pipelines through the
    facade (a join + computed column, and an aggregate with an alias'd
    grouping key), read the JSONL catalog back as a DataFrame, and
    self-query it into output-column -> input-column EDGE rows.

    The oracle is the constant ground-truth edge table: column lineage
    is derived from the plans' SCHEMAS, not the data, so the expected
    edges are identical at every SF — a wrong extractor (dropped join
    side, alias not traced through Aggregate, count(*) gaining phantom
    ancestors) changes the edge set and fails the hash.  Columns with
    NO ancestry (count(*)) are kept via explode_outer and an empty-
    string sentinel — both engines sort '' identically, where NULL
    ordering conventions differ.  At 100 TB the lineage log is an
    append-only JSONL/table keyed by app_id; this exact self-query
    (explode columns -> explode inputs -> split dataset.column) is the
    production "what feeds column X" probe, distributed end-to-end."""
    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter

    path = os.path.join(scratch_dir("lineage_cg"), "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(path))

    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    # pipeline 1: join + renames + a two-parent computed column
    engine._wrap(
        region.join(nation, F.col("r_regionkey") == F.col("n_regionkey")).select(
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            (F.length("n_name") + F.length("r_name")).alias("name_len"),
        )
    ).count()
    # pipeline 2: aggregate — alias'd grouping key traces to its base
    # column; count(*) must surface with ZERO ancestors, not be dropped
    engine._wrap(
        nation.groupBy(F.col("n_regionkey").alias("home_regionkey")).agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.max("n_name").alias("max_name"),
        )
    ).count()

    src = F.coalesce(F.col("src"), F.lit(""))
    return (
        engine.lineage()
        .select(F.explode("columns").alias("c"))
        .select(
            F.col("c.output").alias("out_col"),
            F.explode_outer("c.inputs").alias("src"),
        )
        .select(
            "out_col",
            F.substring_index(src, ".", 1).alias("src_dataset"),
            F.substring_index(src, ".", -1).alias("src_col"),
        )
        .distinct()
        .orderBy("out_col", "src_dataset", "src_col")
    )


@query(
    "lineage_dataset_graph",
    "§2.12 dataset-level lineage graph incl. WRITE capture, hash-gated",
    """
    SELECT * FROM (VALUES
      ('customer', ''),
      ('nation',   'pricing_summary'),
      ('region',   'pricing_summary')
    ) AS t(src_dataset, dst_dataset)
    ORDER BY src_dataset, dst_dataset
    """,
)
def lineage_dataset_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level lineage edges — input dataset -> WRITE TARGET —
    under the official hash gate: the write-command capture path
    (InsertIntoHadoopFsRelationCommand via the facade's wrapped
    DataFrameWriter) previously lived only in pytest goldens.  Two
    pipelines: a region x nation join WRITTEN to parquet (its report
    must carry output.name = the target's leaf-dir label for both
    input datasets), and a read-only customer aggregate (its report
    must surface with an EMPTY output, sentinel '', not be dropped —
    the read-only/write asymmetry is the thing a naive extractor gets
    wrong).  The write target's leaf dir is named by US ('pricing_
    summary'), so the edge table is constant at every SF and the
    DuckDB oracle pins it exactly.  At 100 TB this self-query is the
    "what feeds table T / which jobs only read" catalog probe over an
    append-only report log."""
    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter

    path = os.path.join(scratch_dir("lineage_dg"), "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(path))

    out_dir = os.path.join(scratch_dir("lineage_dgout"), "pricing_summary")
    joined = engine._wrap(
        load(spark, sf_dir, "region").join(
            load(spark, sf_dir, "nation"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
    )
    joined.write.mode("overwrite").parquet(out_dir)
    engine._wrap(
        load(spark, sf_dir, "customer").groupBy("c_mktsegment").count()
    ).count()

    # path writes carry the target in output.paths (output.name is
    # null); the label is the leaf dir's basename — the same
    # _short_name convention the read side uses for path datasets
    dst = F.coalesce(
        F.col("output.name"),
        F.regexp_extract(F.element_at(F.col("output.paths"), 1), "([^/]+)/?$", 1),
        F.lit(""),
    )
    return (
        engine.lineage()
        .select(F.explode("inputs").alias("i"), dst.alias("dst_dataset"))
        .select(F.col("i.name").alias("src_dataset"), "dst_dataset")
        .distinct()
        .orderBy("src_dataset", "dst_dataset")
    )


@query(
    "lineage_impact_analysis",
    "§2.12 reverse column lineage (impact of one source column), hash-gated",
    """
    SELECT * FROM (VALUES
      ('top_name'),
      ('upper_name')
    ) AS t(impacted_col)
    ORDER BY impacted_col
    """,
)
def lineage_impact_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE column lineage — "if nation.n_name changes, which
    downstream output columns are impacted?" — the other direction of
    lineage_column_graph's probe and the one schema-migration tooling
    actually runs.  Three pipelines: one projecting a derived
    upper(n_name), one aggregating max(n_name) per region, and one
    touching only region (a decoy that must contribute NOTHING).  The
    self-query filters the exploded edge rows to inputs ==
    'nation.n_name' and returns the impacted output columns; the
    constant oracle pins exactly {upper_name, top_name} — a phantom
    edge from the decoy, or a lost edge through the Aggregate, fails
    the hash.  Distributed end-to-end: array_contains on the exploded
    catalog, no driver-side report parsing."""
    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter

    path = os.path.join(scratch_dir("lineage_ia"), "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(path))

    nation = load(spark, sf_dir, "nation")
    engine._wrap(
        nation.select(
            F.upper("n_name").alias("upper_name"),
            (F.col("n_nationkey") + 1).alias("key_plus"),
        )
    ).count()
    engine._wrap(
        nation.groupBy("n_regionkey").agg(F.max("n_name").alias("top_name"))
    ).count()
    # decoy: never touches nation.n_name
    engine._wrap(load(spark, sf_dir, "region").select("r_name")).count()

    return (
        engine.lineage()
        .select(F.explode("columns").alias("c"))
        .filter(F.array_contains(F.col("c.inputs"), "nation.n_name"))
        .select(F.col("c.output").alias("impacted_col"))
        .distinct()
        .orderBy("impacted_col")
    )


@query(
    "lineage_openlineage_export",
    "§2.12 OpenLineage RunEvent export (public spec), hash-gated",
    """
    SELECT * FROM (VALUES
      ('COMPLETE', 'count',   1, 0, 1, 0),
      ('COMPLETE', 'parquet', 2, 1, 1, 0),
      ('FAIL',     'collect', 1, 0, 1, 1)
    ) AS t(event_type, job_suffix, n_inputs, n_outputs,
           has_column_lineage, has_error)
    ORDER BY event_type, job_suffix
    """,
)
def lineage_openlineage_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OpenLineage serialization path (public spec,
    https://openlineage.io/spec) under the official hash gate: three
    pipelines — a read-only count (column lineage must ride the run
    facet, no OL output dataset), a parquet WRITE (columnLineage facet
    on the output dataset, 2 input datasets), and a FAILING action (a
    row UDF that raises; the facade's onFailure parity must emit a
    FAIL event with an errorMessage facet, then re-raise).  Events are
    rendered by ``LineageReport.to_openlineage`` and reduced to their
    SPEC-SHAPE invariants (type, job suffix, dataset counts, facet
    presence) — everything run-varying (uuid, timestamps, app id) is
    projected away, so the expected table is constant at every SF.
    The full event structure is additionally golden-tested in
    tests/test_lineage.py / test_network_reporter.py; this entry puts
    the emitter on the same driver gate as the operators it observes."""
    from pyspark.sql import types as T

    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import InMemoryReporter

    rep = InMemoryReporter()
    engine = LineageSession(spark, reporter=rep)

    nation = load(spark, sf_dir, "nation")
    engine._wrap(nation.select(F.upper("n_name").alias("upper_name"))).count()

    out_dir = os.path.join(scratch_dir("lineage_ol"), "ol_target")
    engine._wrap(
        load(spark, sf_dir, "region").join(
            nation, F.col("r_regionkey") == F.col("n_regionkey")
        )
    ).write.mode("overwrite").parquet(out_dir)

    from pyspark.sql.functions import udf

    @udf("int")
    def boom(x):
        raise ValueError("intentional failure for lineage FAIL event")

    try:
        # collect, NOT count: count() lets Catalyst prune the UDF
        # column away entirely (never evaluated -> no failure)
        engine._wrap(
            nation.select(boom(F.col("n_nationkey")).alias("b"))
        ).collect()  # bounded-collect-ok: fails on row 1 by design (FAIL event)
    except Exception:
        pass  # the FAIL report is the point; the error itself is staged

    engine.flush()
    rows = []
    for r in rep.reports:
        ev = r.to_openlineage()
        has_cols = bool(
            ("resultColumnLineage" in ev["run"]["facets"])
            or any("columnLineage" in o.get("facets", {}) for o in ev["outputs"])
        )
        rows.append(
            (
                ev["eventType"],
                ev["job"]["name"].rsplit(".", 1)[-1],
                len(ev["inputs"]),
                len(ev["outputs"]),
                # int flags, not booleans: no verified-query precedent
                # for boolean result columns, and int canonicalization
                # is engine-stable
                int(has_cols),
                int("errorMessage" in ev["run"]["facets"]),
            )
        )
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("job_suffix", T.StringType()),
            T.StructField("n_inputs", T.IntegerType()),
            T.StructField("n_outputs", T.IntegerType()),
            T.StructField("has_column_lineage", T.IntegerType()),
            T.StructField("has_error", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy("event_type", "job_suffix")


@query(
    "lineage_table_roundtrip",
    "§2.12 catalog-table lineage (saveAsTable + table read-back), hash-gated",
    """
    SELECT * FROM (VALUES
      ('in',  'path',  'nation'),
      ('in',  'table', 'sls_lintbl'),
      ('out', 'table', 'sls_lintbl')
    ) AS t(direction, kind, label)
    ORDER BY direction, kind, label
    """,
)
def lineage_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-TABLE lineage under the official hash gate (VERDICT r10
    item 3): a metastore table write (`saveAsTable`) followed by a
    `spark.table` read-back, both through the facade.  The thing this
    gates is the `table`-vs-`path` dataset-kind distinction — the write
    report's output must carry kind 'table' (name = the table
    identifier, NOT a warehouse path), and the read-back report's input
    must ALSO be kind 'table' with the catalog-qualified identifier
    (`spark_catalog.default.<t>`), while the original parquet input
    stays kind 'path'.  A naive extractor that resolves the catalog
    relation down to its underlying files would report 'path' on the
    read-back and fail the hash.  The self-query unions each report's
    input rows ('in') and output row ('out') as (direction, kind,
    label); labels are normalized (last identifier segment, pid suffix
    stripped) so the expected table is constant at every SF.  The
    deeper Hive-serde plan shapes (CTAS, InsertIntoHiveTable) are
    subprocess-tested in tests/test_hive_lineage.py — this entry puts
    the in-session catalog round-trip on the driver gate.  At 100 TB
    the read side is exactly how jobs consume curated tables, and the
    table-kind edge is what joins lineage to catalog ACLs/retention."""
    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter

    path = os.path.join(scratch_dir("lineage_tr"), "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(path))

    t = scratch_table(spark, "lintbl", sf_dir)
    engine._wrap(
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    ).write.mode("overwrite").saveAsTable(t)
    engine._wrap(spark.table(t)).count()

    lineage = engine.lineage()
    # 'spark_catalog.default.sls_lintbl_<digest8>_<pid>' /
    # 'sls_lintbl_<digest8>_<pid>' -> 'sls_lintbl'; the pattern is the
    # exact table_name shape (8 hex chars + pid), so path labels
    # ('nation') pass through unchanged
    def norm(col):
        return F.regexp_replace(
            F.substring_index(col, ".", -1), "_[0-9a-f]{8}_[0-9]+$", ""
        )

    ins = lineage.select(F.explode("inputs").alias("i")).select(
        F.lit("in").alias("direction"),
        F.col("i.kind").alias("kind"),
        norm(F.col("i.name")).alias("label"),
    )
    outs = (
        lineage.filter(F.col("output").isNotNull())
        .filter(F.col("output.kind").isNotNull())
        .select(
            F.lit("out").alias("direction"),
            F.col("output.kind").alias("kind"),
            norm(F.col("output.name")).alias("label"),
        )
    )
    return ins.unionAll(outs).distinct().orderBy("direction", "kind", "label")


@query(
    "lineage_streaming_batches",
    "§2.12 streaming lineage (per-micro-batch listener + epoch-tagged foreachBatch), hash-gated",
    """
    SELECT * FROM (VALUES
      ('foreachBatch[0]:write.parquet', 'unknown',   'LogicalRDD',       'epoch=0'),
      ('foreachBatch[1]:write.parquet', 'unknown',   'LogicalRDD',       'epoch=1'),
      ('microbatch:0',                  'streaming', 'FileStreamSource', 'ForeachBatchSink'),
      ('microbatch:1',                  'streaming', 'FileStreamSource', 'ForeachBatchSink')
    ) AS t(func_name, src_kind, src_label, dst_label)
    ORDER BY func_name
    """,
)
def lineage_streaming_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING lineage under the official hash gate (VERDICT r10
    item 2): a finite availableNow file-stream run captured through
    BOTH streaming surfaces at once — the StreamingQueryListener
    (`streaming/listener.py`, one progress report per micro-batch:
    streaming-kind FileStreamSource input, ForeachBatchSink output) and
    the facade's epoch-tagged `foreach_batch` wrapper (full plan-derived
    reports from the in-batch parquet write: `foreachBatch[<epoch>]:`
    prefix, path output ending `epoch=<n>`, LogicalRDD batch-slice
    input).  Two source files + maxFilesPerTrigger=1 force exactly two
    micro-batches, so the four reports' SHAPE invariants are constant
    at every SF and the oracle pins them; everything run-varying (tmp
    paths, durations, app id) is projected away.  Listener delivery is
    async, so the builder polls the JSONL log for both microbatch rows
    (bounded 30 s) before self-querying — the same wait the golden
    tests use.  The self-query filters to the four expected func_names:
    a trailing empty micro-batch (no lineage content) must not flap the
    hash, but a MISSING or mis-tagged report still fails it.  At 100 TB
    this is the always-on lineage mode: one report per micro-batch
    appended to the log, queryable while the stream runs."""
    import time

    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter
    from spark_lineage_spark.streaming.listener import LineageStreamingListener

    stage = scratch_dir("lineage_sb")
    log_path = os.path.join(stage, "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(log_path))
    listener = LineageStreamingListener(
        engine.reporter, app_id=engine.app_id, app_name=engine.app_name
    )
    spark.streams.addListener(listener)
    try:
        src = os.path.join(stage, "src")
        os.makedirs(src, exist_ok=True)
        ev = load(spark, sf_dir, "events").select("event_type", "value").limit(40)
        # limit() plans collapse to one partition -> exactly one data
        # file per write -> maxFilesPerTrigger=1 gives exactly 2 batches
        ev.limit(20).write.mode("overwrite").parquet(os.path.join(src, "b0"))
        ev.write.mode("overwrite").parquet(os.path.join(src, "b1"))
        out = os.path.join(stage, "out")

        def handle(batch_df, epoch_id):
            (
                batch_df.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(f"{out}/epoch={epoch_id}")
            )

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(engine.foreach_batch(handle))
            .option("checkpointLocation", os.path.join(stage, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline:
            try:
                with open(log_path) as f:
                    if sum(1 for line in f if '"microbatch:' in line) >= 2:
                        break
            except FileNotFoundError:
                pass
            time.sleep(0.5)  # listener delivery is async
    finally:
        spark.streams.removeListener(listener)

    expected = [
        "foreachBatch[0]:write.parquet",
        "foreachBatch[1]:write.parquet",
        "microbatch:0",
        "microbatch:1",
    ]
    dst = F.coalesce(
        F.col("output.name"),
        F.regexp_extract(F.element_at(F.col("output.paths"), 1), "([^/]+)/?$", 1),
        F.lit(""),
    )
    return (
        engine.lineage()
        .filter(F.col("run.func_name").isin(expected))
        .select(
            F.col("run.func_name").alias("func_name"),
            F.explode("inputs").alias("i"),
            dst.alias("dst_label"),
        )
        .select(
            "func_name",
            F.col("i.kind").alias("src_kind"),
            # listener inputs carry the class in `format` (name embeds
            # the tmp path); facade inputs carry only the leaf `name`
            F.coalesce(F.col("i.format"), F.col("i.name")).alias("src_label"),
            "dst_label",
        )
        .distinct()
        .orderBy("func_name")
    )


@query(
    "lineage_transitive_closure",
    "§2.12 multi-hop lineage (recursive closure over the catalog), hash-gated",
    """
    SELECT * FROM (VALUES
      ('nation',   'hop1_out', 1),
      ('nation',   'hop2_out', 2),
      ('hop1_out', 'hop2_out', 1)
    ) AS t(src_dataset, dst_dataset, hops)
    ORDER BY src_dataset, dst_dataset
    """,
)
def lineage_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-HOP lineage — "which downstream tables are ultimately
    fed by source S, through any number of intermediate writes" — the
    question single-report lineage can't answer and the one that
    matters for backfills and deletion sweeps.  A two-hop pipeline
    (nation -> write hop1_out; read hop1_out -> aggregate -> write
    hop2_out) is captured through the facade, the dataset edge table
    is self-queried out of the catalog, and the closure is computed
    with the engine's own WITH RECURSIVE over a temp view of that
    edge table (the Spark 4 recursive CTE, same machinery as
    subq_recursive_cte) — lineage dogfooding both the capture AND the
    advanced-SQL surface.  min(hops) per (src, dst) pins the shortest
    path so the expected table is constant at every SF (labels are
    OUR leaf-dir names; read-side path labels use the same
    _short_name convention).  At 100 TB the edge table is a catalog
    aggregate (one row per dataset pair), so the recursion runs over
    metadata-scale data regardless of corpus size; cycles cannot
    arise from append-only report logs of DAG pipelines, and the
    LIMIT-free recursion is bounded by the pipeline's depth."""
    from spark_lineage_spark import LineageSession
    from spark_lineage_spark.plans.reporters import JsonlReporter

    path = os.path.join(scratch_dir("lineage_tc"), "reports.jsonl")
    engine = LineageSession(spark, reporter=JsonlReporter(path))

    stage = scratch_dir("lineage_tcout")
    hop1 = os.path.join(stage, "hop1_out")
    hop2 = os.path.join(stage, "hop2_out")
    engine._wrap(load(spark, sf_dir, "nation")).write.mode("overwrite").parquet(hop1)
    engine._wrap(
        spark.read.parquet(hop1)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    ).write.mode("overwrite").parquet(hop2)

    dst = F.coalesce(
        F.col("output.name"),
        F.regexp_extract(F.element_at(F.col("output.paths"), 1), "([^/]+)/?$", 1),
    )
    edges = (
        engine.lineage()
        .select(F.explode("inputs").alias("i"), dst.alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != ""))
        .select(F.col("i.name").alias("src"), "dst")
        .distinct()
    )
    # pid + per-call counter scope the temp view (ADVICE r10): a
    # session-global fixed name would let a concurrent/repeated run's
    # createOrReplaceTempView swap the edges under this query.  The
    # view is only needed during analysis — spark.sql() resolves and
    # INLINES temp views into the analyzed plan eagerly — so it is
    # dropped before returning and the lazy result stays collectible.
    global _TC_VIEW_SEQ
    _TC_VIEW_SEQ += 1
    view = f"sls_lineage_edges_tc_{os.getpid()}_{_TC_VIEW_SEQ}"
    edges.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE closure AS (
              SELECT src, dst, 1 AS hops FROM {view}
              UNION ALL
              SELECT c.src, e.dst, c.hops + 1
              FROM closure c JOIN {view} e ON c.dst = e.src
            )
            SELECT src AS src_dataset, dst AS dst_dataset,
                   CAST(min(hops) AS INT) AS hops
            FROM closure
            GROUP BY src, dst
            ORDER BY src_dataset, dst_dataset
            """
        )
    finally:
        spark.catalog.dropTempView(view)
