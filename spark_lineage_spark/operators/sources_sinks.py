"""Sources & sinks (SURVEY.md §2.1): format scans, sink round-trips,
catalog tables, and a Spark-4 Python data source.

Determinism pattern for scan/sink queries: derive the written file
from a parquet table at query time (same rows regardless of
partitioning), read it back through the format under test, aggregate;
the oracle computes the same aggregate from the original table — so
the comparison checks the full write→read round-trip.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from spark_lineage_spark.plans.extract import lineage_checkpoint
from spark_lineage_spark.registry import query
from spark_lineage_spark.staging import (
    fixture_dir,
    scratch_path,
    scratch_table,
    staged_frame,
)
from spark_lineage_spark.tables import load, register_views, table_path


@query(
    "scan_parquet_pushdown",
    "§2.1 parquet scan (filter+projection pushed to the scan)",
    """
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def scan_parquet_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + 3-column projection over an 11-column table — explain
    shows PushedFilters + pruned ReadSchema (tests/test_plans.py)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= "1997-01-01")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


@query(
    "scan_csv_roundtrip",
    "§2.1 csv sink + scan with explicit schema",
    """
    SELECT n_regionkey, count(*) AS n_nations,
           array_to_string(list_sort(list(n_name)), '|') AS names
    FROM nation GROUP BY n_regionkey
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed csv write → csv scan (header, explicit schema — no
    inference in the checked path), then aggregate."""
    out = scratch_path("roundtrip", "nation_csv")
    nat = load(spark, sf_dir, "nation")
    nat.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(nat.schema).option("header", True).csv(out)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("names"),
    )


@query(
    "scan_json_roundtrip",
    "§2.1 json-lines sink + scan",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
    FROM events GROUP BY event_type
    """,
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_path("roundtrip", "events_json")
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "props")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(ev.schema).json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum"),
    )


@query(
    "scan_orc_roundtrip",
    "§2.1 orc sink + scan",
    """
    SELECT p_brand, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
    FROM part GROUP BY p_brand
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_path("roundtrip", "part_orc")
    p = load(spark, sf_dir, "part")
    p.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"), F.round(F.avg("p_retailprice"), 4).alias("avg_price")
    )


@query(
    "sink_parquet_partitioned",
    "§2.1 partitioned parquet sink + partition-pruned re-read",
    """
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write.partitionBy(status) → re-read with a partition filter —
    the re-read scans ONLY the o_orderstatus=F directory (static
    partition pruning; the at-scale layout pattern)."""
    out = scratch_path("roundtrip", "orders_part")
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "sink_table_saveastable",
    "§2.1 managed-table sink (saveAsTable) + catalog re-read",
    """
    SELECT n_regionkey, count(*) AS n_nations,
           CAST(min(n_nationkey) AS BIGINT) AS min_key
    FROM nation GROUP BY n_regionkey
    """,
)
def sink_table_saveastable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """saveAsTable → metastore-managed parquet table → spark.table()
    re-read. The catalog round-trip that bucketed/partitioned layouts
    build on; at scale the managed table carries statistics and layout
    metadata a path read cannot. Cleans its own name + warehouse
    location first (per-session metastore, persistent warehouse dir —
    same idempotency rule as the bucketed tables)."""
    t = scratch_table(spark, "nation_tbl", sf_dir)
    load(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(t)
    return (
        spark.table(t)
        .groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_nationkey").cast("bigint").alias("min_key"),
        )
    )


@query(
    "catalog_temp_view",
    "§2.1 catalog table read (temp view through SQL)",
    """
    SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def catalog_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
        FROM customer GROUP BY c_mktsegment
        """
    )


@query(
    "source_python_datasource",
    "§2.1 Spark-4 Python data source (custom batch reader)",
    """
    SELECT CAST(i % 7 AS BIGINT) AS bucket, count(*) AS n, CAST(sum(i) AS BIGINT) AS total
    FROM (SELECT unnest(generate_series(0, 9999)) AS i)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom DataSource (pyspark.sql.datasource): a partitioned
    synthetic integer source — each partition generates its own range
    (the escape hatch for systems without a built-in connector)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    N, PARTS = 10000, 4

    class RangePartition(InputPartition):
        def __init__(self, start, end):
            self.start, self.end = start, end

    class SynthReader(DataSourceReader):
        def partitions(self):
            step = N // PARTS
            return [RangePartition(i * step, min((i + 1) * step, N)) for i in range(PARTS)]

        def read(self, partition):
            # yield Arrow batches, not per-row tuples: the Python
            # data-source API accepts pyarrow.RecordBatch and skips the
            # row-pickling path entirely (one batch per partition here;
            # a real connector would chunk to ~64Mi batches)
            import pyarrow as pa

            yield pa.RecordBatch.from_arrays(
                [pa.array(range(partition.start, partition.end), type=pa.int64())],
                names=["i"],
            )

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "sls_synth_range"

        def schema(self):
            return "i bigint"

        def reader(self, schema):
            return SynthReader()

    try:
        spark.dataSource.register(SynthSource)
    except Exception:
        pass  # already registered in this session
    df = spark.read.format("sls_synth_range").load()
    return df.groupBy((F.col("i") % 7).alias("bucket")).agg(
        F.count("*").alias("n"), F.sum("i").alias("total")
    )


@query(
    "source_python_pushdown",
    "§2.1 Spark-4 Python data source filter pushdown (reader prunes at generation)",
    """
    SELECT CAST(i % 7 AS BIGINT) AS bucket, count(*) AS n, CAST(sum(i) AS BIGINT) AS total
    FROM (SELECT unnest(generate_series(0, 9999)) AS i)
    WHERE i > 2000 AND i < 9000 AND i % 2 = 0
    GROUP BY 1
    """,
)
def source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 Python data source FILTER PUSHDOWN
    (pyspark:sql/datasource.py ``DataSourceReader.pushFilters``): the
    reader accepts the range predicates (i > 2000, i < 9000) and
    clamps each partition's generation bounds — rows outside the range
    are NEVER MATERIALIZED, the connector-side pruning that makes a
    custom source usable at 100 TB — while the non-pushable residual
    (i % 2 = 0) is returned to Spark and applied post-scan (asserted
    in tests/test_plans.py::test_python_source_pushdown_prunes).
    Requires spark.sql.python.filterPushdown.enabled (scoped to this
    build). Oracle applies the identical WHERE to the same generated
    range, so a reader that over- or under-prunes hash-mismatches."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        GreaterThan,
        InputPartition,
        LessThan,
    )

    N, PARTS = 10000, 4

    class RangePartition(InputPartition):
        def __init__(self, start, end):
            self.start, self.end = start, end

    class PushdownReader(DataSourceReader):
        def __init__(self):
            self.lo, self.hi = 0, N  # [lo, hi) after pushdown

        def pushFilters(self, filters):
            for f in filters:
                if isinstance(f, GreaterThan) and f.attribute == ("i",):
                    self.lo = max(self.lo, int(f.value) + 1)
                elif isinstance(f, LessThan) and f.attribute == ("i",):
                    self.hi = min(self.hi, int(f.value))
                else:
                    yield f  # residual: Spark applies it post-scan

        def partitions(self):
            span = max(0, self.hi - self.lo)
            step = -(-span // PARTS) if span else 1
            return [
                RangePartition(
                    self.lo + p * step, min(self.lo + (p + 1) * step, self.hi)
                )
                for p in range(PARTS)
                if self.lo + p * step < self.hi
            ]

        def read(self, partition):
            import pyarrow as pa

            yield pa.RecordBatch.from_arrays(
                [pa.array(range(partition.start, partition.end), type=pa.int64())],
                names=["i"],
            )

    class PushdownSource(DataSource):
        @classmethod
        def name(cls):
            return "sls_synth_pushdown"

        def schema(self):
            return "i bigint"

        def reader(self, schema):
            return PushdownReader()

    try:
        spark.dataSource.register(PushdownSource)
    except Exception:
        pass  # already registered in this session
    # pushdown planning runs lazily at the first ACTION, after this
    # builder returns — so the conf must stay set, not be restored
    # here. It also rides RUNTIME_CONFS (session.py) so every entry
    # point plans with it; readers that don't implement pushFilters
    # (source_python_datasource) are unaffected (default = all
    # filters residual).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("sls_synth_pushdown")
        .load()
        .filter((F.col("i") > 2000) & (F.col("i") < 9000) & (F.col("i") % 2 == 0))
    )
    return df.groupBy((F.col("i") % 7).alias("bucket")).agg(
        F.count("*").alias("n"), F.sum("i").alias("total")
    )


@query(
    "source_jdbc_roundtrip",
    "§2.1 jdbc scan (embedded Derby round-trip, partitioned read)",
    """
    SELECT n_regionkey, count(*) AS n_nations,
           array_to_string(list_sort(list(n_name)), '|') AS names
    FROM nation GROUP BY n_regionkey
    """,
)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC executable path (closes VERDICT r1 item 8): write nation
    into an embedded Derby database (ships with the Spark distro for
    the Hive metastore), read it back through a PARTITIONED jdbc scan —
    partitionColumn/numPartitions is how a 100 TB-side pipeline
    parallelizes an external-DB ingest (one executor per key range;
    lineage sees a JDBCRelation leaf, plans/extract.py)."""
    try:
        # keep derby.log out of the working directory (best-effort; a
        # no-op if Derby already booted in this JVM)
        spark._jvm.System.setProperty(
            "derby.stream.error.file", scratch_path("roundtrip", "derby.log")
        )
    except Exception:
        pass
    db = scratch_path("roundtrip", "derby_db")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nat = load(spark, sf_dir, "nation")
    (
        nat.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .save()
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("names"),
    )


@query(
    "join_bucketed_colocated",
    "§2.1/§2.3 bucketed tables: co-located join with no join-time shuffle",
    """
    SELECT o_orderpriority, count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketing scale lever: write both fact tables bucketed by
    the join key (8 buckets, sorted), then join the bucketed tables —
    Spark matches the bucket specs and plans a SortMergeJoin with NO
    exchange on either side (asserted in tests/test_plans.py). At
    100 TB this is how a daily orders⋈lineitem pipeline amortizes its
    shuffle: pay it once at ingest, never at query time; the aggregate
    then reuses the same hash-partitioned layout.

    Each table is written once per (session, sf_dir) into the session
    warehouse (saveAsTable — bucket metadata lives in the catalog;
    path-based parquet writes cannot carry it) under a pid-scoped name
    (spark_lineage_spark.staging)."""

    def bucketed(table: str, key: str, col: str):
        def stage() -> DataFrame:
            t = scratch_table(spark, f"b_{table}", sf_dir)
            load(spark, sf_dir, table).select(key, col).write.bucketBy(
                8, key
            ).sortBy(key).mode("overwrite").saveAsTable(t)
            return spark.table(t)

        return staged_frame(spark, (f"b_{table}", sf_dir), stage)

    o = bucketed("orders", "o_orderkey", "o_orderpriority")
    li = bucketed("lineitem", "l_orderkey", "l_extendedprice")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "scan_text_roundtrip",
    "§2.1 text sink + line-oriented scan (spark.read.text)",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
    """,
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text I/O: write `lang|text` lines with the .text
    sink (single string column), read them back with spark.read.text,
    re-split, aggregate. The fixture corpus contains no '|' or newline
    (asserted cheap at write time via the split arity), so the framing
    is lossless — the round-trip must reproduce the parquet-derived
    aggregate exactly."""
    out = scratch_path("roundtrip", "documents_text")
    d = load(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("|", F.col("lang"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\\|", 2)
    parsed = lines.select(
        parts.getItem(0).alias("lang"), parts.getItem(1).alias("text")
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )


@query(
    "scan_parquet_schema_evolution",
    "§2.1 parquet schema evolution (mergeSchema across batch layouts)",
    """
    WITH b1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
         b2 AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 1)
    SELECT count(*) AS n_rows,
           CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
           CAST(count(o_orderstatus) AS BIGINT) AS n_with_status,
           round(sum(o_totalprice), 2) AS total_price
    FROM (SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus FROM b1
          UNION ALL
          SELECT o_orderkey, NULL, o_orderstatus FROM b2) t
    """,
)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two ingest batches land with DIFFERENT column
    sets (the real-world drift every long-lived dataset suffers);
    ``mergeSchema`` reads the union schema with nulls where a batch
    lacks a column. At 100 TB the merge is footer-metadata work only —
    no data rewrite — which is exactly why parquet data lakes tolerate
    additive drift. Batches split deterministically by key parity so
    the oracle can reconstruct both layouts."""
    out = scratch_path("roundtrip", "orders_evolve")
    o = load(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "batch=1"))
    o.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey", "o_orderstatus").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "batch=1"), os.path.join(out, "batch=2")
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
        F.count("o_orderstatus").alias("n_with_status"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "scan_csv_corrupt_records",
    "§2.1 csv malformed-row handling (PERMISSIVE + corrupt-record column)",
    """
    SELECT count(*) AS n_rows,
           CAST(count(CASE WHEN ok THEN 1 END) AS BIGINT) AS n_valid,
           CAST(count(CASE WHEN NOT ok THEN 1 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN ok THEN n_nationkey END) AS BIGINT) AS key_sum
    FROM (SELECT n_nationkey, true AS ok FROM nation
          UNION ALL SELECT NULL, false FROM range(3)) t
    """,
)
def scan_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest resilience: a CSV feed carrying 3 garbage lines among
    the valid rows. PERMISSIVE mode (the at-scale default: never fail
    a 100 TB load for one bad line) parses what it can and routes the
    raw text of unparseable lines to ``_corrupt_record`` for
    quarantine. The query counts valid vs corrupt and checksums a
    parsed column — proving bad lines neither vanish silently nor
    poison parsed values. (DROPMALFORMED/FAILFAST are the same reader
    one option away; the quarantine column only exists under
    PERMISSIVE.)"""
    out = scratch_path("roundtrip", "nation_corrupt") + ".csv"
    n = load(spark, sf_dir, "nation")
    lines = n.select(
        F.concat_ws(",", "n_nationkey", "n_name", "n_regionkey").alias("value")
    )
    # malformations are plain cast failures — quote/column-count edge
    # cases parse differently depending on neighboring lines (univocity
    # quirks), which would make the oracle fragile. Built from range()
    # rather than createDataFrame: a driver-local relation pays several
    # seconds of Arrow/localRelation handshake per write in a tuned
    # session, range() is a native JVM source.
    bad = spark.range(3).select(
        F.element_at(
            F.array(
                F.lit("not-a-number,BAD,0"),
                F.lit("totally-unparseable"),
                F.lit("9999,UNTERMINATED,notanint"),
            ),
            (F.col("id") + 1).cast("int"),
        ).alias("value")
    )
    lines.unionAll(bad).coalesce(1).write.mode("overwrite").text(out)
    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record").csv(
        out
    )
    # a parsed row is valid iff the quarantine column is null. ALL data
    # columns must be referenced here: column pruning would otherwise
    # push a partial parse into the reader, and a line whose malformed
    # field was pruned away comes back as (incorrectly) valid.
    flagged = back.select(
        "n_nationkey", "n_name", "n_regionkey",
        F.col("_corrupt_record").isNull().alias("ok"),
    ).transform(lineage_checkpoint)  # materialize the full parse before aggregating
    return flagged.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("ok"), 1)).alias("n_valid"),
        F.count(F.when(~F.col("ok"), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("ok"), F.col("n_nationkey"))).alias("key_sum"),
    )


@query(
    "scan_xml_roundtrip",
    "§2.1 XML source/sink (Spark 4 built-in, rowTag framing)",
    """
    SELECT n_regionkey, count(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip with the Spark 4 built-in xml data source (the
    spark-xml package folded into spark-sql): write nation as
    <nation>...</nation> records, read back with an explicit schema
    (inference would widen keys to bigint there and back), aggregate.
    Like the other small-file round-trips, this verifies the FORMAT
    wiring — framing, escaping, schema application — not scan speed;
    at scale XML is an ingest-once format that lands in parquet.
    """
    out = scratch_path("roundtrip", "nation_xml")
    n = load(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("rowTag", "nation").format("xml").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string")
        .load(out)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names"),
    )


_BINARY_FILES = {
    # deterministic payloads incl. non-UTF8 bytes; expected md5/length
    # pinned in the oracle VALUES table below
    "alpha.bin": b"spark-binary-source-alpha\n" * 3,
    "beta.bin": b"beta-payload-0123456789\n" * 5,
    "gamma.bin": b"gamma!\x00\x01\x02 binary bytes\n" * 7,
}


@query(
    "scan_binary_files",
    "§2.1 binaryFile source (whole-file bytes + metadata columns)",
    """
    SELECT * FROM (VALUES
      ('alpha.bin', 78,  'c1b8ca99f2929133e6226b082df47fe2'),
      ('beta.bin',  120, '59b518a3a9f996844bb22a522783be0b'),
      ('gamma.bin', 161, 'cc132d4c89da41a48bc4cf7b929bc590'))
      AS t(name, length, content_md5)
    """,
    doc="Spark binaryFile format over staged files; bytes verified by md5.",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — Spark's whole-file ingestion path
    for opaque blobs (the same mechanism a multimodal pipeline uses to
    land images/audio before decode, multimodal.py). Three
    deterministic payloads (including non-UTF8 bytes) are staged to a
    pid-scoped dir, read back as (path, modificationTime, length,
    content), and verified byte-exactly via md5 against the pinned
    oracle constants.

    At scale binaryFile parallelizes per file (one task per file up to
    maxPartitionBytes) and prunes the ``content`` column when only
    metadata is selected; the md5 here forces the full byte read on
    purpose.
    """
    out = scratch_path("roundtrip", "binary_src")
    os.makedirs(out, exist_ok=True)
    for name, payload in _BINARY_FILES.items():
        with open(os.path.join(out, name), "wb") as f:
            f.write(payload)
    df = spark.read.format("binaryFile").load(out)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
        F.col("length").cast("int").alias("length"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "sink_table_default_columns",
    "§2.1 DDL schema evolution: ALTER TABLE ADD COLUMN ... DEFAULT backfill",
    """
    WITH r AS (
      SELECT r_regionkey, r_name, 'unreviewed' AS status FROM region
      UNION ALL
      SELECT r_regionkey + 100 AS r_regionkey, upper(r_name) AS r_name,
             'active' AS status
      FROM region
    )
    SELECT status, count(*) AS n, CAST(min(r_regionkey) AS BIGINT) AS min_key,
           CAST(max(r_regionkey) AS BIGINT) AS max_key
    FROM r GROUP BY status
    """,
)
def sink_table_default_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFAULT-valued schema evolution, the zero-rewrite ALTER path:
    rows are written, then ``ALTER TABLE ... ADD COLUMN status STRING
    DEFAULT 'unreviewed'`` evolves the schema WITHOUT touching a byte
    of existing parquet — the default lives in catalog metadata and
    old files surface it at READ time (exactly how a 100 TB table
    adds a column in O(1)); rows inserted AFTER the alter may supply
    the column explicitly ('active') or omit it and inherit the
    CURRENT default. The re-read aggregates by status, so the value
    hash proves both populations: metadata-backfilled old rows and
    explicitly-valued new rows. Same idempotent naming/cleanup
    discipline as the other managed tables."""
    t = scratch_table(spark, "region_dflt", sf_dir)
    load(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode(
        "overwrite"
    ).saveAsTable(t)
    spark.sql(f"ALTER TABLE {t} ADD COLUMN status STRING DEFAULT 'unreviewed'")
    spark.sql(
        f"INSERT INTO {t} SELECT r_regionkey + 100, upper(r_name), 'active'"
        f" FROM {t} WHERE status = 'unreviewed'"
    )
    return (
        spark.table(t)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("r_regionkey").cast("bigint").alias("min_key"),
            F.max("r_regionkey").cast("bigint").alias("max_key"),
        )
    )


def _doc_tree(spark: SparkSession, sf_dir: str) -> str:
    """documents as lang=<lang>/deep/docs_{even,odd}.parquet by doc_id
    parity, cached per fixture."""
    import glob

    def build(tmp: str) -> None:
        docs = load(spark, sf_dir, "documents")
        for lang in [r.lang for r in docs.select("lang").distinct().collect()]:  # bounded-collect-ok: language domain
            for parity, pname in ((0, "even"), (1, "odd")):
                sub = os.path.join(tmp, "stage", f"{lang}_{parity}")
                docs.filter(
                    (F.col("lang") == lang) & (F.col("doc_id") % 2 == parity)
                ).coalesce(1).write.mode("overwrite").parquet(sub)
                part = glob.glob(sub + "/part-*.parquet")[0]
                dst = os.path.join(tmp, f"lang={lang}", "deep", f"docs_{pname}.parquet")
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(part, dst)
        shutil.rmtree(os.path.join(tmp, "stage"))

    return fixture_dir(table_path(sf_dir, "documents"), "doc_tree", build)


@query(
    "scan_path_glob_recursive",
    "§2.1 recursive directory scan with pathGlobFilter (partial-tree ingest)",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de') AND doc_id % 2 = 0
    GROUP BY lang
    """,
)
def scan_path_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-tree ingest controls every lake reader leans on:
    ``recursiveFileLookup`` (scan an arbitrarily nested dump, ignoring
    partition-directory inference) + ``pathGlobFilter`` (select only
    matching FILES at listing time — pruning happens in the driver's
    file index before any task launches, so non-matching files cost
    zero I/O). Staged as a 2-level tree lang=*/parity-named files; the
    glob keeps only even-parity files, the WHERE keeps en/de, and the
    oracle recomputes the same subset relationally."""
    scanned = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "docs_even.parquet")
        .parquet(_doc_tree(spark, sf_dir))
    )
    return (
        scanned.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "scan_modified_after",
    "§2.1 modifiedAfter/modifiedBefore file filters (mtime-windowed ingest)",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 2 = 1
    GROUP BY lang
    """,
)
def scan_modified_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``modifiedAfter`` / ``modifiedBefore`` read options — the
    catch-up ingest every file lake runs ("process what landed since
    the last run") without a streaming checkpoint: like
    pathGlobFilter, the mtime predicate prunes at LISTING time in the
    driver's file index, so excluded files cost zero I/O and zero
    tasks. Reuses scan_path_glob_recursive's cached nested tree,
    whose staging pins even-parity files at an older mtime and
    odd-parity files at a newer one; reading with modifiedAfter
    between the two epochs yields exactly the odd half, which the
    oracle recomputes relationally."""
    root = _doc_tree(spark, sf_dir)
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn == "docs_even.parquet":
                os.utime(os.path.join(dirpath, fn), (1_600_000_000, 1_600_000_000))
            elif fn == "docs_odd.parquet":
                os.utime(os.path.join(dirpath, fn), (1_700_000_000, 1_700_000_000))
    scanned = (
        spark.read.option("recursiveFileLookup", "true")
        .option("modifiedAfter", "2021-01-01T00:00:00")  # between the two epochs
        .parquet(root)
    )
    return scanned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "scan_ignore_corrupt_files",
    "§2.1 ignoreCorruptFiles: scan survives a truncated parquet in the directory",
    """
    SELECT n_nationkey, n_name FROM nation
    """,
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parquet cousin of scan_csv_corrupt_records' PERMISSIVE
    mode: a directory containing one TRUNCATED/garbage parquet file
    (the half-written upload every long-lived landing zone eventually
    grows) is readable with ``ignoreCorruptFiles`` — corrupt files are
    skipped at scan time, healthy files are unaffected, and the job
    does not die at 3 AM. Staged per-fixture: nation.parquet plus a
    junk-bytes 'part-corrupt.parquet'; the oracle is the clean nation
    table, so the value hash proves the good file survived intact and
    the bad one contributed nothing."""
    src_file = table_path(sf_dir, "nation")

    def build(tmp: str) -> None:
        shutil.copy(src_file, os.path.join(tmp, "part-good.parquet"))
        with open(os.path.join(tmp, "part-corrupt.parquet"), "wb") as f:
            f.write(b"PAR1 this is not a real parquet footer")

    d = fixture_dir(src_file, "corrupt_dir", build)
    # schema supplied explicitly: INFERENCE reads every footer and the
    # corrupt one fails it even under ignoreCorruptFiles (the option
    # governs the scan, not schema discovery)
    schema = spark.read.parquet(src_file).schema
    return (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .option("pathGlobFilter", "part-*.parquet")
        .parquet(d)
        .select("n_nationkey", "n_name")
    )


@query(
    "scan_nested_schema_pruning",
    "§2.1 nested-struct schema pruning (parquet reads one subfield of a struct column)",
    """
    SELECT o_orderpriority AS prio, count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def scan_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested schema pruning: orders re-laid-out with two struct
    columns (info{prio,total}, meta{status,odate}), then a query that
    touches ONLY info.prio. Parquet stores each struct leaf as its own
    column chunk, and Catalyst's nested-column pruning
    (spark.sql.optimizer.nestedSchemaPruning.enabled, default on)
    narrows ReadSchema to struct<info:struct<prio>> — the other three
    leaves are never decoded. At 100 TB wide event envelopes (the
    props-blob shape) live or die on this: without pruning a 2-field
    probe drags the whole struct through IO. tests/test_round8_ops.py
    asserts the pruned ReadSchema in the physical plan; the DuckDB
    oracle recomputes from the flat table, proving the nested
    round-trip lost nothing."""
    out = scratch_path("roundtrip", "orders_nested")
    o = load(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_totalprice").alias("total"),
        ).alias("info"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("odate"),
        ).alias("meta"),
    )
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("info.prio").alias("prio")).agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


@query(
    "scan_file_metadata_column",
    "§2.1 hidden _metadata column (file provenance + row_index) on file scans",
    """
    SELECT CAST(event_id % 7 AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(event_id) AS BIGINT) AS first_row,
           CAST(max(event_id) AS BIGINT) AS last_row,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(1 AS BIGINT) AS n_files
    FROM events GROUP BY 1
    """,
)
def scan_file_metadata_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_metadata` hidden struct every file source carries
    (Spark 3.5+/4): file_name, file_size, file_modification_time, and
    row_index — the row's physical position within its file. It
    materializes ONLY when referenced (zero cost otherwise) and is the
    provenance primitive behind row-level lineage, sampling by file
    position, and incremental-load bookkeeping without an id column.
    The events fixture is written in event_id order (verified with
    DuckDB file_row_number at every SF), so the oracle states the
    strong claim on the plain view: every row_index-derived aggregate
    must collapse to the event_id-based one — which holds ONLY if
    Spark's physical positions agree with the file order DuckDB sees.
    file_name rides along to count files (1 here; a partitioned
    layout would show many)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.col("_metadata.row_index").alias("file_row_number"),
            F.col("_metadata.file_name").alias("fname"),
        )
        .groupBy((F.col("file_row_number") % 7).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("file_row_number").cast("bigint").alias("first_row"),
            F.max("file_row_number").cast("bigint").alias("last_row"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.countDistinct("fname").alias("n_files"),
        )
    )


@query(
    "scan_csv_multiline_quotes",
    "§2.1 CSV with embedded newlines + quotes (multiLine parse, RFC-4180 escaping)",
    """
    SELECT count(*) AS n,
           CAST(sum(length(concat('He said "', substr(text, 1, 40), '"',
                                  chr(10), 'and left.'))) AS BIGINT) AS payload_chars,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM documents WHERE doc_id < 200
    """,
)
def scan_csv_multiline_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV edge that corrupts naive pipelines: fields containing
    BOTH embedded newlines and double quotes. Payloads are derived
    from documents ('He said "<40 chars>"\\nand left.'), written with
    RFC-4180 escaping (escape = quote char, doubled quotes — Spark's
    default is backslash-escape, set explicitly BOTH ways), and read
    back with multiLine=true (quote-aware record framing; without it
    the reader splits records at the embedded newline — each file
    then parses as whole-file instead of line-split, the documented
    parallelism price of multiline CSV at scale: prefer line-oriented
    formats for 100 TB landing zones, this query is the migration
    check). Oracle recomputes the payload lengths straight from the
    source table — the round-trip must lose nothing."""
    out = scratch_path("roundtrip", "docs_multiline_csv")
    payload = F.concat(
        F.lit('He said "'),
        F.substring("text", 1, 40),
        F.lit('"'),
        F.lit("\n"),
        F.lit("and left."),
    )
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", payload.alias("payload"))
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema("doc_id bigint, payload string")
        .csv(out)
    )
    return back.agg(
        F.count("*").alias("n"),
        F.sum(F.length("payload")).cast("bigint").alias("payload_chars"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )


@query(
    "sink_partition_overwrite_dynamic",
    "§2.1 dynamic partition overwrite (rewrite only the partitions present in the batch)",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    * CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 1 END) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partitionOverwriteMode=dynamic — the nightly-restatement verb:
    an overwrite-mode write that contains only SOME partitions
    replaces exactly those directories and leaves every other
    partition's files untouched (static mode would truncate the whole
    table first). Staged here as: full partitioned write, then a
    dynamic overwrite carrying ONLY status 'F' rows with doubled
    amounts — the re-read must show F doubled and O/P bit-identical
    to the original load, which is precisely what the oracle states
    from the source table. The mode is set per-write via the
    DataFrameWriter option (no session mutation). At 100 TB this is
    the difference between rewriting one day's partition and
    rewriting the lake."""
    out = scratch_path("roundtrip", "orders_dynoverwrite")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    restated = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "cents", F.col("cents") * 2
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("total_cents")
    )


@query(
    "sink_python_datasource",
    "§2.1 Spark-4 Python data source WRITER (batch DataSourceWriter + commit protocol)",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-WRITE half of the Python data source API, completing
    the quartet (batch reader, stream reader, stream writer are
    separate queries): DataSourceWriter.write(iterator) runs once per
    partition on executors, streams rows out (JSON lines to a
    task-unique file — a real connector would push to its external
    system), and returns a WriterCommitMessage; commit(messages) runs
    ON THE DRIVER only after every task succeeded, publishing a
    manifest — the two-phase commit contract that gives custom sinks
    all-or-nothing semantics (abort() discards on failure). The
    re-read aggregates only files named in the manifest, so
    uncommitted task output can never leak into results."""
    import json as _json
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out = scratch_path("roundtrip", "orders_pyds_sink")
    # fresh dir per run: mode("append") + uuid part names would otherwise
    # accumulate stale (unmanifested, hence ignored — but unbounded) files
    # across repeat invocations in one process (AUDIT best-of-2, bench)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    class FileMsg(WriterCommitMessage):
        def __init__(self, fname: str):
            self.fname = fname

    class DirWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, rows) -> "FileMsg":
            fname = f"part-{_uuid.uuid4().hex}.jsonl"
            with open(os.path.join(self.path, fname), "w") as fh:
                for r in rows:
                    fh.write(
                        _json.dumps({"s": r["o_orderstatus"], "c": r["cents"]}) + "\n"
                    )
            return FileMsg(fname)

        def commit(self, messages) -> None:
            with open(os.path.join(self.path, "_manifest.json"), "w") as fh:
                _json.dump(sorted(m.fname for m in messages), fh)

        def abort(self, messages) -> None:
            pass

    class DirSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sls_dirsink"

        def writer(self, schema, overwrite: bool) -> "DirWriter":
            return DirWriter(self.options["path"])

    spark.dataSource.register(DirSink)
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    o.write.format("sls_dirsink").option("path", out).mode("append").save()
    import json as _json2

    manifest = _json2.load(open(os.path.join(out, "_manifest.json")))
    back = spark.read.schema("s string, c bigint").json(
        [os.path.join(out, f) for f in manifest]
    )
    return back.groupBy(F.col("s").alias("o_orderstatus")).agg(
        F.count("*").alias("n"), F.sum("c").cast("bigint").alias("total_cents")
    )


@query(
    "sink_max_records_per_file",
    "§2.1 maxRecordsPerFile (file-count control — the small-files/giant-files dial)",
    """
    SELECT o_orderstatus AS status,
           count(*) AS n_rows,
           CAST(ceil(CAST(count(*) AS DOUBLE) / 1000) AS BIGINT) AS n_files,
           CAST(least(count(*), 1000) AS BIGINT) AS max_file_rows,
           CAST(CASE WHEN count(*) % 1000 = 0 THEN 1000
                     ELSE count(*) % 1000 END AS BIGINT) AS min_file_rows
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side file-size dial: option("maxRecordsPerFile", 1000)
    rolls to a new file after every 1000 records a task writes into a
    partition directory — the knob that stops one giant task from
    emitting a 10 GB file (and, set too low, the one that CAUSES the
    small-files problem). Written hash-partitioned BY THE PARTITION
    COLUMN (optimization r15, guide §6/§8 step 4 — previously
    coalesce(1), a single write task): every status lands wholly in
    one task, so the per-directory sequential-fill contract stays
    exact and closed-form — each status directory holds ceil(n/1000)
    files, all but the last at exactly 1000 rows (which the oracle
    states from counts alone) — while the statuses write in parallel.
    The re-read aggregates per (status, _metadata.file_name), so the
    checked values are the REAL physical file boundaries, not writer
    bookkeeping."""
    out = scratch_path("roundtrip", "orders_maxrec")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    (
        o.repartition(spark.sparkContext.defaultParallelism, "o_orderstatus")
        .sortWithinPartitions("o_orderstatus", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1000)
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        F.col("o_orderstatus").alias("status"),
        F.col("_metadata.file_name").alias("fname"),
    )
    per_file = back.groupBy("status", "fname").agg(F.count("*").alias("rows_in_file"))
    return per_file.groupBy("status").agg(
        F.sum("rows_in_file").cast("bigint").alias("n_rows"),
        F.count("*").alias("n_files"),
        F.max("rows_in_file").cast("bigint").alias("max_file_rows"),
        F.min("rows_in_file").cast("bigint").alias("min_file_rows"),
    )


@query(
    "scan_partition_values_typed",
    "§2.1 typed partition values (directory names inferred as DATE, pruned on a date filter)",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE date_trunc('month', o_orderdate) >= DATE '1995-01-01'
      AND date_trunc('month', o_orderdate) <  DATE '1996-01-01'
    GROUP BY 1
    """,
)
def scan_partition_values_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-value TYPE inference: a layout partitioned by a
    derived month column writes directories like o_month=1995-01-01,
    and the re-read infers the partition column as DATE (not string —
    spark.sql.sources.partitionColumnTypeInference, default on), so a
    date-range predicate becomes PartitionFilters: directories outside
    1995 are never listed into the scan (asserted in
    tests/test_round8_ops.py). This is static partition pruning on a
    TYPED key — the layout every date-partitioned lake relies on; a
    string-typed month would silently compare lexically and still
    work for ISO dates, but range arithmetic (BETWEEN, interval math)
    only plans correctly on the real type."""
    out = scratch_path("roundtrip", "orders_month_part")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_trunc("month", "o_orderdate").cast("date")
    )
    # Hash-partitioned by the partition column (optimization r15, guide
    # §6 — the sink_max_records_per_file pattern): the single-file scan
    # otherwise left ONE task creating all ~84 month directories
    # serially; each month still lands wholly in one task, so the
    # one-file-per-directory layout is unchanged.
    (
        o.repartition(spark.sparkContext.defaultParallelism, "o_month")
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        (F.col("o_month") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_month") < F.lit("1996-01-01").cast("date"))
    )
    return back.groupBy("o_month").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


@query(
    "scan_text_wholetext",
    "§2.1 wholetext scan (one row per FILE, not per line)",
    """
    SELECT count(*) AS n_files,
           CAST(sum(length(payload)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN payload LIKE '%
%' THEN 1 ELSE 0 END) AS BIGINT) AS files_with_newline
    FROM (
      SELECT concat('doc ', CAST(doc_id AS VARCHAR), chr(10), substr(text, 1, 80))
               AS payload
      FROM documents WHERE doc_id < 40
    )
    """,
)
def scan_text_wholetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.read.text(..., wholetext=True): one row per FILE with the
    complete (multi-line) content — the mode for document formats
    where line-splitting destroys the record (licenses, configs, legal
    docs). 40 two-line payloads are staged one per file (a
    partitionBy(doc_id) text write: one directory, one file, one
    record each), then the wholetext re-read must see exactly 40 rows, each
    keeping its embedded newline — the oracle recomputes payload
    lengths and newline presence from the source table. Scale note in
    plan terms: wholetext makes each FILE the minimum split unit
    (spark.read.text normally splits large files by lines) — fine for
    many small docs, the wrong mode for a 10 GB file."""
    out = scratch_path("roundtrip", "docs_wholetext")
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            F.col("doc_id"),
            F.concat(
                F.lit("doc "),
                F.col("doc_id").cast("string"),
                F.lit("\n"),
                F.substring("text", 1, 80),
            ).alias("value"),
        )
    )
    # one record per FILE, deterministically: partitionBy gives each doc
    # its own directory (repartition(40) round-robin can co-locate two).
    # Hash-partitioned by doc_id (optimization r15, guide §6): the
    # single-file scan otherwise leaves ONE task creating all 40
    # directories serially; each doc still lands wholly in one task,
    # so it is still exactly one file with one record per directory.
    (
        d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(out)
    )
    back = (
        spark.read.text(out, wholetext=True)
        .filter(F.length("value") > 0)
        .drop("doc_id")
    )
    # the text sink appends exactly ONE record terminator per record —
    # strip exactly one trailing '\n', not rtrim (which would also eat
    # newlines belonging to the payload itself if substr(text,1,80)
    # ended in '\n'; ADVICE r8). Guarded substring, no regex: Java's
    # '$' can also anchor before a final line terminator, making
    # regexp_replace(value,'\n$','') ambiguous on '...\n\n'.
    payload = F.expr(
        "CASE WHEN substring(value, -1, 1) = '\\n'"
        " THEN substring(value, 1, length(value) - 1) ELSE value END"
    )
    return back.select(payload.alias("payload")).agg(
        F.count("*").alias("n_files"),
        F.sum(F.length("payload")).cast("bigint").alias("total_chars"),
        F.sum(F.when(F.col("payload").contains("\n"), 1).otherwise(0))
        .cast("bigint")
        .alias("files_with_newline"),
    )


@query(
    "sink_csv_gzip_roundtrip",
    "§2.1 compressed sink (codec=gzip) + transparent decompressing scan",
    """
    SELECT c_mktsegment, count(*) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS bal_cents
    FROM customer GROUP BY c_mktsegment
    """,
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side compression codec: option("compression","gzip") on a
    CSV sink produces .csv.gz part files; the scan decompresses
    transparently by extension. The operational trade pinned in the
    docstring: gzip is NOT splittable — each .gz file is one task on
    re-read, so pair it with maxRecordsPerFile/repartition at write
    time (at 100 TB, unsplittable monoliths serialize the whole scan);
    columnar+zstd parquet remains the default, CSV+gzip is the
    interchange-format case. Values go through integer cents so the
    text round-trip needs no float tolerance."""
    out = scratch_path("roundtrip", "customer_csv_gz")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("bal_cents"),
    )
    (
        c.write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(out)
    )
    back = spark.read.schema("c_custkey bigint, c_mktsegment string, bal_cents bigint").option(
        "header", True
    ).csv(out)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("bal_cents").cast("bigint").alias("bal_cents"),
    )


@query(
    "scan_parquet_bloom_filter",
    "§2.18 parquet bloom-filter write option + point-lookup scan",
    """
    SELECT count(*) AS n_hit,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS bal_cents
    FROM customer
    WHERE c_custkey IN (7, 77, 777)
    """,
)
def scan_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet column bloom filters at WRITE time
    (parquet.bloom.filter.enabled#column) and the point-lookup scan
    they accelerate: with a bloom filter on c_custkey, an IN-list
    probe can skip whole row groups whose filter proves absence —
    the storage-level companion to join_runtime_bloom_filter (which
    blooms at JOIN time).  At 100 TB the win is real: high-cardinality
    point lookups otherwise decode every row group's dictionary/page;
    NDV is sized explicitly because an undersized filter's false-
    positive rate quietly degrades skipping to a no-op.  The re-read
    aggregate goes through exact integer cents; the oracle runs the
    same probe on the source table, so the bloom write must be
    value-preserving.  The footer property (bloom offsets present
    only when enabled) is pinned in tests/test_round9_ops.py."""
    out = scratch_path("roundtrip", "customer_bloom")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    (
        c.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#c_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#c_custkey", "20000")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("c_custkey").isin(7, 77, 777))
    return back.agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("bal_cents"),
    )


@query(
    "scan_parquet_agg_pushdown",
    "§2.20 parquet AGGREGATE pushdown (COUNT/MIN/MAX answered from footers)",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(min(o_totalprice) * 100) AS BIGINT) AS min_price_cents,
           CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_price_cents
    FROM orders
    """,
)
def scan_parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown — COUNT/MIN/MAX answered from the
    row-group FOOTER STATISTICS instead of scanning data pages: the
    plan's BatchScan carries `PushedAggregation: [COUNT(*), MIN(..),
    MAX(..)]` and each task reads only metadata.  At 100 TB this is
    the difference between a seconds-long footer walk and a full-table
    scan for the commonest freshness/health probe a pipeline runs.

    The feature lives behind TWO confs (`parquet.aggregatePushdown`
    plus the V2 reader — V1, the default, never pushes aggregates),
    both read at OPTIMIZATION time, so flipping them session-wide
    would silently re-plan every other registry query.  The builder
    therefore (a) removes ONLY 'parquet' from useV1SourceList —
    every other format keeps its V1 reader even if a concurrent
    query in the same session plans during the window (ADVICE r9) —
    and (b) executes the pushed aggregate inside a try/finally that
    restores both confs, returning the 1-row result as a local
    DataFrame — the same contained-side-effect shape as the sink ops.
    Cents are derived with Decimal ROUND_HALF_UP, the SQL round()
    convention, not Python's banker's round (a .5-cent boundary
    would otherwise diverge from the oracle; ADVICE r9).  The pushed
    plan (PushedAggregation non-empty) is asserted in
    tests/test_plans.py; values are proven equal to the full-scan
    oracle by the driver hash check."""
    from decimal import ROUND_HALF_UP, Decimal

    from spark_lineage_spark.tables import table_path

    conf = spark.conf
    prev_v1 = conf.get("spark.sql.sources.useV1SourceList")
    prev_agg = conf.get("spark.sql.parquet.aggregatePushdown", "false")
    v1_wo_parquet = ",".join(
        s for s in (prev_v1 or "").split(",") if s.strip() and s.strip() != "parquet"
    )
    try:
        conf.set("spark.sql.sources.useV1SourceList", v1_wo_parquet)
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        row = (
            spark.read.parquet(table_path(sf_dir, "orders"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.min("o_totalprice").alias("mn"),
                F.max("o_totalprice").alias("mx"),
            )
            .collect()[0]  # bounded-collect-ok: 1-row pushed aggregate
        )
    finally:
        conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)

    def _cents(x: float) -> int:
        return int(
            (Decimal(str(x)) * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    return spark.createDataFrame(
        [(row.n_orders, _cents(row.mn), _cents(row.mx))],
        "n_orders bigint, min_price_cents bigint, max_price_cents bigint",
    )
