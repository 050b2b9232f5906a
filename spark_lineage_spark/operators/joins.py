"""Joins (SURVEY.md §2.3): every join type, lineage-multi-input.

Scale notes (100 TB posture):
- equi joins shuffle on the key; AQE converts to broadcast when a side
  is small at runtime and splits skewed partitions.
- explicitly-broadcast dims (`F.broadcast`) skip the shuffle entirely.
- theta/band joins are BroadcastNestedLoopJoin — only ever used here
  with a provably small side (supplier/region); at 100 TB a band join
  should be bucketized first (see join_range_band docstring).
- the as-of join is the union+window trick: one shuffle on the user
  key, no nested loop, linear state — the scalable form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from spark_lineage_spark.plans.extract import lineage_checkpoint
from spark_lineage_spark.registry import query
from spark_lineage_spark.tables import load, register_views


@query(
    "join_inner_equi",
    "§2.3 inner equi join",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE sql() text (optimization r14, guide §7.3): identical plan,
    # built JVM-side in a single py4j round-trip.
    from spark_lineage_spark.tables import table_path

    return spark.sql(f"""
        SELECT o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM parquet.`{table_path(sf_dir, "lineitem")}` li
        JOIN parquet.`{table_path(sf_dir, "orders")}` o
          ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """)


@query(
    "join_broadcast_dim",
    "§2.3 broadcast hash join (small dim)",
    """
    SELECT n_name, r_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema probe: both dims broadcast — zero shuffles for the
    joins themselves; only the final agg shuffles (on 25 keys)."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "join_left_outer",
    "§2.3 left outer join (null extension)",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           coalesce(round(sum(o_totalprice), 2), 0.0) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.round(F.sum("o_totalprice"), 2), F.lit(0.0)).alias("total_spent"),
        )
    )


@query(
    "join_right_outer",
    "§2.3 right outer join",
    """
    SELECT s_suppkey, s_name, count(l_orderkey) AS n_items
    FROM lineitem RIGHT JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, s = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "supplier")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_items"))
    )


@query(
    "join_full_outer",
    "§2.3 full outer join",
    """
    WITH od AS (SELECT o_orderdate AS d, count(*) AS n_orders FROM orders GROUP BY 1),
         ld AS (SELECT l_shipdate AS d, count(*) AS n_ships FROM lineitem GROUP BY 1)
    SELECT coalesce(od.d, ld.d) AS d,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_ships, 0) AS n_ships
    FROM od FULL JOIN ld ON od.d = ld.d
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregated sides so both null-extension directions occur."""
    o = load(spark, sf_dir, "orders").groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_orders")
    )
    l = load(spark, sf_dir, "lineitem").groupBy(F.col("l_shipdate").alias("d")).agg(
        F.count("*").alias("n_ships")
    )
    return (
        o.join(l, "d", "full")
        .select(
            F.col("d"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
        )
    )


@query(
    "join_left_semi",
    "§2.3 left semi (EXISTS)",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    "§2.3 left anti (NOT EXISTS; null-safe unlike NOT IN)",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    "§2.3 cross join (guarded: 5×25 rows)",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r, n = load(spark, sf_dir, "region"), load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_nonequi",
    "§2.3 theta / inequality join",
    """
    SELECT a.s_suppkey AS s1, b.s_suppkey AS s2
    FROM supplier a JOIN supplier b
      ON a.s_acctbal < b.s_acctbal AND a.s_nationkey = b.s_nationkey
    """,
)
def join_theta_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality conjunct forces BroadcastNestedLoopJoin on the
    non-equi part; the equi conjunct keeps the pair count bounded.
    supplier is tiny (100 rows at sf0.01) — safe to nested-loop."""
    s = load(spark, sf_dir, "supplier")
    a, b = s.alias("a"), s.alias("b")
    return a.join(
        b,
        (F.col("a.s_acctbal") < F.col("b.s_acctbal"))
        & (F.col("a.s_nationkey") == F.col("b.s_nationkey")),
        "inner",
    ).select(F.col("a.s_suppkey").alias("s1"), F.col("b.s_suppkey").alias("s2"))


@query(
    "join_range_band",
    "§2.3 range/interval (band) join",
    """
    SELECT s_suppkey, count(c_custkey) AS n_close
    FROM supplier LEFT JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 50.0 AND s_acctbal + 50.0
    GROUP BY s_suppkey
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join. Here the build side (supplier) is broadcast-small so a
    nested-loop is optimal. At 100 TB with two big sides: bucketize the
    band key to width = band radius, equi-join on bucket ∈ {b-1,b,b+1},
    then re-filter the exact band — turns O(n·m) into a co-partitioned
    equi join. That path is exercised in llm similarity ops (§2.11)."""
    s, c = load(spark, sf_dir, "supplier"), load(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            c.c_acctbal.between(s.s_acctbal - 50.0, s.s_acctbal + 50.0),
            "left",
        )
        .groupBy("s_suppkey")
        .agg(F.count("c_custkey").alias("n_close"))
    )


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_time: str,
    build_time: str,
    probe_id: str,
    build_id: str,
) -> DataFrame:
    """Generic as-of join: for each probe row, the build row with the
    greatest ``build_time <= probe_time`` within the same ``key``.

    Union+window (SURVEY §2.3): tag build 0 / probe 1, sort within key
    by (time, kind, id), carry the last build id forward with
    last_value(ignorenulls). ONE shuffle on the key, linear state, no
    nested loop — the form that scales. Ties: build row at the exact
    probe time matches (<=); among equal-time build rows the highest
    id wins (deterministic).

    Returns (probe_id, matched build id or null).
    """
    b = build.select(
        F.col(key).alias("_k"),
        F.col(build_time).alias("_t"),
        F.col(build_id).alias("_id"),
        F.lit(0).alias("_kind"),
    )
    p = probe.select(
        F.col(key).alias("_k"),
        F.col(probe_time).alias("_t"),
        F.col(probe_id).alias("_id"),
        F.lit(1).alias("_kind"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind", "_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = b.unionByName(p).withColumn(
        "_match",
        F.last(F.when(F.col("_kind") == 0, F.col("_id")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("_kind") == 1).select(
        F.col("_id").alias(probe_id), F.col("_match").alias(f"asof_{build_id}")
    )


@query(
    "join_asof",
    "§2.3 as-of join (latest click ≤ purchase time per user)",
    """
    WITH c AS (
      SELECT user_id, event_id, date_trunc('microseconds', ts) AS tsu
      FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, date_trunc('microseconds', ts)
                                 ORDER BY event_id DESC) = 1
    ),
    p AS (
      SELECT user_id, event_id, date_trunc('microseconds', ts) AS tsu
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tsu <= p.tsu
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uses the generic ``asof_join`` (union+window — see its
    docstring; property-tested against brute force in
    tests/test_asof_property.py). Ties at the same microsecond: click
    sorts first (<= semantics) and the highest click event_id wins
    (matches the oracle's dedup rule)."""
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    return asof_join(
        purchases, clicks, key="user_id", probe_time="ts", build_time="ts",
        probe_id="event_id", build_id="event_id",
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("asof_event_id").alias("click_id"),
    )


ASOF_TOLERANCE_US = 3_600_000_000  # 1 hour max staleness


@query(
    "join_asof_tolerance",
    "§2.3 as-of join with tolerance (match only within max staleness)",
    f"""
    WITH c AS (
      SELECT user_id, event_id, date_trunc('microseconds', ts) AS tsu
      FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, date_trunc('microseconds', ts)
                                 ORDER BY event_id DESC) = 1
    ),
    p AS (
      SELECT user_id, event_id, date_trunc('microseconds', ts) AS tsu
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           CASE WHEN epoch_us(p.tsu) - epoch_us(c.tsu) <= {ASOF_TOLERANCE_US}
                THEN c.event_id END AS click_id,
           CASE WHEN epoch_us(p.tsu) - epoch_us(c.tsu) <= {ASOF_TOLERANCE_US}
                THEN epoch_us(p.tsu) - epoch_us(c.tsu) END AS staleness_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tsu <= p.tsu
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``merge_asof(tolerance=...)`` semantics: the latest click
    ≤ purchase time per user counts only if it is at most 1 hour stale
    — older matches become NULL, the rule every feature-join pipeline
    needs so a year-old click never leaks into a training label. Same
    union+window single-shuffle shape as ``asof_join``, carrying BOTH
    the matched id and its time so the staleness test is one exact
    integer-microsecond comparison after the window (the as-of match
    itself is unchanged: any older click is even further outside
    tolerance, so post-filtering the unconditional match is exactly
    the within-window-latest semantics). Ties at the same microsecond:
    highest click event_id wins, mirroring the oracle's dedup rule."""
    e = load(spark, sf_dir, "events")
    b = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_t"),
        F.col("event_id").alias("_id"),
        F.lit(0).alias("_kind"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_t"),
        F.col("event_id").alias("_id"),
        F.lit(1).alias("_kind"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind", "_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        b.unionByName(p)
        .withColumn(
            "_mid",
            F.last(F.when(F.col("_kind") == 0, F.col("_id")), ignorenulls=True).over(w),
        )
        .withColumn(
            "_mt",
            F.last(F.when(F.col("_kind") == 0, F.col("_t")), ignorenulls=True).over(w),
        )
    )
    stale = F.unix_micros("_t") - F.unix_micros("_mt")
    in_tol = stale <= F.lit(ASOF_TOLERANCE_US)
    return carried.filter(F.col("_kind") == 1).select(
        F.col("_id").alias("purchase_id"),
        F.when(in_tol, F.col("_mid")).alias("click_id"),
        F.when(in_tol, stale).alias("staleness_us"),
    )


@query(
    "join_lateral_topn",
    "§2.3 lateral join (top-2 customers per nation)",
    """
    SELECT n_name, c_custkey
    FROM nation, LATERAL (
      SELECT c_custkey FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-row subquery via the SQL entry point (both entry
    points converge on the same plan — SURVEY §3)."""
    register_views(spark, sf_dir, ["nation", "customer"])
    return spark.sql(
        """
        SELECT n_name, c_custkey
        FROM nation, LATERAL (
          SELECT c_custkey FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


@query(
    "join_strategy_hints",
    "§2.3/§4 join strategy hints (merge / shuffle_hash)",
    """
    SELECT s_nationkey, count(*) AS n_pairs
    FROM supplier JOIN customer ON s_nationkey = c_nationkey
    GROUP BY s_nationkey
    """,
)
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit physical-strategy hints: force a shuffle-hash join where
    the optimizer would broadcast. Result is identical by definition —
    the hint moves the plan, not the semantics (asserted in
    tests/test_plans.py)."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer").hint("shuffle_hash")
    return (
        s.join(c, s.s_nationkey == c.c_nationkey)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "join_self_alias",
    "§2.3 self-join with aliases",
    """
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
    """,
)
def join_self_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_name") < F.col("b.n_name")),
    ).select(F.col("a.n_name").alias("n1"), F.col("b.n_name").alias("n2"))


@query(
    "join_null_safe_eq",
    "§2.3 null-safe equality join (<=> / IS NOT DISTINCT FROM)",
    """
    WITH c AS (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer),
    s AS (SELECT s_suppkey, nullif(s_nationkey, 3) AS nk FROM supplier)
    SELECT c.nk AS nation_key, count(*) AS n_pairs,
           count(DISTINCT c_custkey) AS n_cust,
           count(DISTINCT s_suppkey) AS n_supp
    FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
    GROUP BY c.nk
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: eqNullSafe (<=>) treats NULL as a joinable
    value, so the nation-3 rows nulled on both sides still pair up —
    a plain equi-join would silently drop them (the classic CDC-key
    bug). Still a hash-partitionable equality predicate, so it plans
    as a normal shuffled/broadcast hash join, NOT a nested loop —
    same scale shape as join_inner_equi."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk")
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey"), F.lit(3)).alias("nk")
    )
    return (
        c.join(s, c.nk.eqNullSafe(s.nk))
        .groupBy(c.nk.alias("nation_key"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("c_custkey").alias("n_cust"),
            F.countDistinct("s_suppkey").alias("n_supp"),
        )
    )


@query(
    "join_runtime_bloom_filter",
    "§2.3/§4 runtime bloom-filter pruning of the probe-side scan",
    """
    SELECT l_returnflag, count(*) AS n_lines,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime filtering: the selective dimension filter
    (o_orderpriority = URGENT keeps ~20%) is turned into a bloom
    filter that Catalyst injects into the LINEITEM scan — probe rows
    that cannot join are dropped before the shuffle, which at 100 TB
    is the difference between shuffling the whole fact table and ~a
    fifth of it. The application-side size threshold (10 GB default —
    sized so small scans skip the overhead) is lowered here so the
    mechanism is exercised and asserted at fixture scale
    (tests/test_plans.py::test_runtime_bloom_filter_in_plan); on a
    real cluster the defaults trigger it exactly when it pays.

    The aggregate is materialized inside the conf window
    (localCheckpoint) — plans optimize lazily, so returning an
    unexecuted DataFrame would re-plan after the confs are restored.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast would prune for free
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
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
            .transform(lineage_checkpoint)
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@query(
    "join_dynamic_partition_pruning",
    "§2.3/§4 dynamic partition pruning of a partitioned fact scan",
    """
    SELECT year(o_orderdate) AS o_year, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE year(o_orderdate) IN (
      SELECT DISTINCT year(o_orderdate) FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01')
    GROUP BY 1
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPP: the fact copy is laid out partitioned by order YEAR; the
    dimension side is filtered on OTHER columns (priority + a date
    band), so the surviving years are only known at runtime — Catalyst
    injects `dynamicpruningexpression` into the fact scan's
    PartitionFilters (asserted in tests/test_plans.py) and reads one
    of seven year directories. At 100 TB this is the
    date-partitioned-fact ⋈ filtered-dim-table pattern: no manual
    predicate copying, the dim filter prunes the fact I/O by itself.
    (The dim filter must NOT be on the join column — a filter there is
    pushed through the join statically and no runtime pruning is
    needed; that variant is sink_parquet_partitioned.)"""
    import hashlib
    import os

    from spark_lineage_spark.staging import scratch_path

    # partitioned copy written once per process and fixture
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(scratch_path("dpp", key), "orders_by_year")
    if not os.path.exists(out):
        load(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        ).write.mode("overwrite").partitionBy("o_year").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select(F.year("o_orderdate").alias("d_year"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.o_year == dim.d_year)
        .groupBy("o_year")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


_INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT event_id, date_trunc('microseconds', ts) AS s,
         date_trunc('microseconds', ts) + INTERVAL '30 minutes' AS e
  FROM events),
hours AS (
  SELECT unnest(generate_series((SELECT date_trunc('hour', min(s)) FROM iv),
                                (SELECT max(e) FROM iv),
                                INTERVAL '1 hour')) AS h)
SELECT h AS hour, count(*) AS n_overlapping
FROM hours JOIN iv ON iv.s < h + INTERVAL '1 hour' AND iv.e > h
GROUP BY h
"""


@query(
    "join_interval_overlap",
    "§2.3 interval-overlap join via hour-bucket blocking (no theta join)",
    _INTERVAL_OVERLAP_SQL,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many 30-minute presence intervals overlap each hour. The
    naive form is a theta join (s < h+1h AND e > h) — a nested loop
    that cannot scale. Here each interval EXPLODES into exactly the
    hour buckets it covers (sequence over truncated bounds, end
    exclusive via e-1µs) and the overlap becomes a hash aggregation on
    the hour key — candidates are linear in total covered hours, the
    standard bucketize-the-time-axis interval-join pattern (the oracle
    runs the naive theta form to prove equivalence). Bucket
    granularity trades explosion factor against candidate precision;
    for intervals ≪ bucket width, one-to-two buckets per interval."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").alias("s"), (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e")
    )
    covered = ev.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e") - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour")
    )
    return covered.groupBy("hour").agg(F.count("*").alias("n_overlapping"))


_AQE_SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # the final agg leaves only a handful of bytes per partition — force
    # the optimizer to still split the skewed join despite the extra
    # shuffle it introduces (at real scale the size ratio triggers this
    # on its own and the conf is unnecessary)
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


@query(
    "join_aqe_skew_handled",
    "§2.3/§4 AQE skew-join: runtime split of a hot key (skew=true in plan)",
    """
    WITH sk AS (
      SELECT l_orderkey, l_quantity FROM lineitem
      UNION ALL SELECT 1 AS l_orderkey, l_quantity FROM lineitem
      UNION ALL SELECT 1 AS l_orderkey, l_quantity FROM lineitem)
    SELECT count(*) AS n_joined,
           round(sum(l_quantity), 2) AS total_qty
    FROM sk JOIN orders ON l_orderkey = o_orderkey
    """,
)
def join_aqe_skew_handled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The automatic complement to agg_salted_twophase/join_skew_salted:
    two full copies of lineitem are piled onto orderkey 1, and AQE's
    runtime statistics split that oversized shuffle partition into
    many tasks (SortMergeJoin(skew=true), asserted on the executed
    plan in tests/test_plans.py) — no manual salting, no code change.
    Thresholds are lowered so fixture-scale partitions qualify; at
    100 TB the defaults (256 MB skewed-partition threshold) fire
    exactly when a hot key actually hurts. Materialized inside the
    conf window (AQE re-plans at execution time)."""
    prev = {k: spark.conf.get(k, None) for k in _AQE_SKEW_CONFS}
    try:
        for k, v in _AQE_SKEW_CONFS.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        hot = li.withColumn("l_orderkey", F.lit(1))
        skewed = li.unionAll(hot).unionAll(hot)
        o = load(spark, sf_dir, "orders").select("o_orderkey")
        out = (
            skewed.join(o, skewed.l_orderkey == o.o_orderkey)
            .agg(
                F.count("*").alias("n_joined"),
                F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
            .transform(lineage_checkpoint)
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    return out


@query(
    "join_asof_directions",
    "§2.3 as-of join directions: backward, forward, nearest",
    """
    WITH c AS (
      SELECT user_id, event_id, date_trunc('microseconds', ts) AS tsu
      FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, date_trunc('microseconds', ts)
                                 ORDER BY event_id DESC) = 1
    ),
    p AS (
      SELECT user_id, event_id, date_trunc('microseconds', ts) AS tsu
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           b.event_id AS click_before,
           f.event_id AS click_after,
           CASE
             WHEN b.event_id IS NULL THEN f.event_id
             WHEN f.event_id IS NULL THEN b.event_id
             WHEN date_diff('microsecond', b.tsu, p.tsu)
                  <= date_diff('microsecond', p.tsu, f.tsu) THEN b.event_id
             ELSE f.event_id
           END AS click_nearest
    FROM p
    ASOF LEFT JOIN c b ON p.user_id = b.user_id AND b.tsu <= p.tsu
    ASOF LEFT JOIN c f ON p.user_id = f.user_id AND f.tsu >= p.tsu
    """,
    doc="Backward / forward / nearest as-of matches in one result.",
)
def join_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full as-of direction family (pandas merge_asof
    backward/forward/nearest; kdb aj variants): for each purchase, the
    latest click at-or-before, the earliest click at-or-after, and
    whichever of the two is closer (ties prefer backward, the
    merge_asof convention).

    Same union+window scaling shape as ``asof_join`` — ONE exchange on
    user_id carries both direction passes (the forward pass re-sorts
    within the same partitioning; no second shuffle). Clicks are
    deduplicated per (user, microsecond) keeping the highest event_id
    BEFORE the scan, so both engines resolve equal-time ties to the
    same row; distances are exact integer microseconds.
    """
    e = load(spark, sf_dir, "events")
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    b = clicks.select(
        F.col("user_id").alias("_k"), F.col("ts").alias("_t"),
        F.col("event_id").alias("_id"), F.lit(0).alias("_kind"),
    )
    p = purchases.select(
        F.col("user_id").alias("_k"), F.col("ts").alias("_t"),
        F.col("event_id").alias("_id"), F.lit(1).alias("_kind"),
    )
    u = b.unionByName(p)
    pick = F.when(F.col("_kind") == 0, F.struct("_id", "_t"))
    # backward: equal-time clicks sort BEFORE the purchase (<= matches)
    w_back = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind", "_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward: same partitioning, kind reversed so equal-time clicks
    # sort AFTER the purchase (>= matches); first click in the frame
    w_fwd = (
        Window.partitionBy("_k")
        .orderBy("_t", F.desc("_kind"), "_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = (
        u.withColumn("_b", F.last(pick, ignorenulls=True).over(w_back))
        .withColumn("_f", F.first(pick, ignorenulls=True).over(w_fwd))
        .filter(F.col("_kind") == 1)
    )
    d_back = F.unix_micros("_t") - F.unix_micros("_b._t")
    d_fwd = F.unix_micros("_f._t") - F.unix_micros("_t")
    return carried.select(
        F.col("_id").alias("purchase_id"),
        F.col("_b._id").alias("click_before"),
        F.col("_f._id").alias("click_after"),
        F.when(F.col("_b").isNull(), F.col("_f._id"))
        .when(F.col("_f").isNull(), F.col("_b._id"))
        .when(d_back <= d_fwd, F.col("_b._id"))
        .otherwise(F.col("_f._id"))
        .alias("click_nearest"),
    )


@query(
    "join_band_bucketized",
    "§2.3 band join at scale: bucketize -> equi-join -> exact re-filter",
    """
    SELECT s_suppkey, count(c_custkey) AS n_close
    FROM supplier LEFT JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 50.0 AND s_acctbal + 50.0
    GROUP BY s_suppkey
    """,
    doc="Same band semantics as join_range_band, executed as an equi-join.",
)
def join_band_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE two-big-sides band-join pattern, executed (join_range_band's
    docstring describes it; this query IS it, with the identical
    oracle proving the rewrite is semantics-preserving): bucketize the
    band key at width = band radius, explode each probe row to its 3
    candidate buckets {b-1, b, b+1} (every in-band partner lives
    there), hash-equi-join on the bucket, then re-filter the exact
    band. Candidates per probe are bounded by 3-bucket occupancy, so
    the plan is a shuffle equi-join — no BroadcastNestedLoopJoin, no
    O(n*m) — and survives two unbroadcastable sides.

    The left-join semantics are restored by re-joining matches onto
    the supplier spine (an anti-pattern-free outer aggregate: count
    matches per supplier, left join counts onto the spine).
    """
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    width = 50.0
    sb = s.withColumn(
        "b",
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / width) - 1,
                F.floor(F.col("s_acctbal") / width),
                F.floor(F.col("s_acctbal") / width) + 1,
            )
        ),
    )
    cb = c.withColumn("b", F.floor(F.col("c_acctbal") / width))
    matches = (
        sb.join(cb, "b")
        .filter(
            F.col("c_acctbal").between(
                F.col("s_acctbal") - width, F.col("s_acctbal") + width
            )
        )
        .groupBy("s_suppkey")
        .agg(F.count("c_custkey").alias("n_match"))
    )
    return (
        s.select("s_suppkey")
        .join(matches, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce("n_match", F.lit(0)).cast("bigint").alias("n_close"),
        )
    )


@query(
    "join_spatial_grid",
    "§2.3 spatial radius self-join via grid-cell blocking (no cartesian)",
    """
    WITH pts AS (
      SELECT c_custkey AS k,
             (c_custkey * 37) % 18000 AS x,
             (c_custkey * 73) % 36000 AS y
      FROM customer
    )
    SELECT a.k AS key_a, b.k AS key_b,
           CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                AS BIGINT) AS dist2
    FROM pts a JOIN pts b
      ON a.k < b.k
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 90000
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join — "all point pairs within distance R" — done
    the way a spatial engine blocks it: snap each point to a grid cell
    of side R, replicate each LEFT point into its 3x3 cell
    neighborhood (a 9-row explode, not a data copy at the source), and
    equi-join on the cell key so candidates are only points in
    adjacent cells; the exact distance predicate then refilters. The
    plan is a plain shuffled hash join on (cx, cy) — NO
    CartesianProduct, NO BroadcastNestedLoop — and the candidate count
    is bounded by grid occupancy (9 * avg points/cell per point), so
    cost is O(n * density), not O(n^2): the same plan at 100 TB just
    needs a cell size matched to point density. Coordinates are
    integer centidegrees derived deterministically from the key, and
    the distance test is an exact integer dist^2 <= R^2 compare (a
    haversine refilter would slot in the same place; integers keep the
    oracle bit-exact). The DuckDB oracle is the O(n^2) inequality
    self-join — same pairs, quadratic plan — which is exactly the
    point of the blocking."""
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        ((F.col("c_custkey") * 37) % 18000).alias("x"),
        ((F.col("c_custkey") * 73) % 36000).alias("y"),
    )
    r = 300  # cell side == radius, centidegrees
    # left side: each point probes its own cell plus 8 neighbors
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    ).alias("o")
    left = pts.select("k", "x", "y", off).select(
        F.col("k").alias("ka"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.expr(f"x div {r}") + F.col("o.dx")).alias("cx"),
        (F.expr(f"y div {r}") + F.col("o.dy")).alias("cy"),
    )
    right = pts.select(
        F.col("k").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x div {r}").alias("cx"),
        F.expr(f"y div {r}").alias("cy"),
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    dist2 = dx * dx + dy * dy
    return (
        left.join(right, ["cx", "cy"])
        .filter((F.col("ka") < F.col("kb")) & (dist2 <= r * r))
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            dist2.cast("bigint").alias("dist2"),
        )
    )


# Round-9 (SURVEY §2.18): skyline / Pareto-frontier "join" — the
# dominance self-anti-join families (SKYLINE OF in some engines),
# computed without any O(n^2) pair stage.
_SKYLINE_SQL = """
WITH pts AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price,
         CAST(p_size AS BIGINT) AS psize,
         CAST(floor(p_retailprice) AS BIGINT) AS bkt
  FROM part
),
local AS (
  SELECT p_partkey, price, psize FROM (
    SELECT p_partkey, price, psize,
           MAX(psize) OVER (PARTITION BY bkt ORDER BY price
                            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS mxlt,
           MAX(psize) OVER (PARTITION BY bkt, price) AS mxpp
    FROM pts
  ) l
  WHERE psize > COALESCE(mxlt, -1) AND psize = mxpp
),
sky AS (
  SELECT p_partkey, price, psize FROM (
    SELECT p_partkey, price, psize,
           MAX(psize) OVER (ORDER BY price
                            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS gmxlt,
           MAX(psize) OVER (PARTITION BY price) AS gmxpp
    FROM local
  ) g
  WHERE psize > COALESCE(gmxlt, -1) AND psize = gmxpp
)
SELECT p_partkey, price AS price_cents, psize AS part_size FROM sky
"""


@query(
    "join_skyline_pareto",
    "§2.18 skyline (Pareto frontier) via two-phase bucketed dominance pruning",
    _SKYLINE_SQL,
)
def join_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of part: minimize retail price, maximize size — a
    part is on the frontier iff no other part is cheaper-or-equal AND
    larger-or-equal with at least one strict.  The textbook phrasing
    is a NOT EXISTS dominance anti-join (O(n^2) nested loop); this
    implementation uses the sort-based identity instead: ordered by
    price, a point survives iff its size strictly exceeds the running
    max size over all STRICTLY cheaper points (RANGE ... 1 PRECEDING
    excludes same-price peers, which are handled by the equal-price
    max) — two window functions, zero pair blowup.

    Two phases for scale: phase 1 computes per-price-bucket LOCAL
    skylines with the windows partitioned by bucket (parallel, one
    shuffle); every global-skyline point survives its bucket, so
    phase 2 re-runs the same two windows globally over ONLY the local
    survivors — bounded by buckets x |size domain|, a few thousand
    rows at any corpus size — making the single-partition global
    window harmless.  Same SQL text in both engines; the frontier
    invariant (no survivor dominates another) is property-tested."""
    register_views(spark, sf_dir, ["part"])
    return spark.sql(_SKYLINE_SQL)
