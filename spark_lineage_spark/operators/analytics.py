"""Business/graph analytics surface: SCD2 builds, time-weighted
averages, independence tests, attribution, equi-depth histograms,
PageRank.

Round-5 additions to SURVEY.md §2.14 (reconstructed surface, SURVEY
§0): the composed analytics a warehouse user runs on top of the
primitive operators, each with a DuckDB oracle.

Scale notes (100 TB):
- SCD2 build is two shuffles on user_id (window + re-window on the
  collapsed runs table, which is strictly smaller). No global sort.
- TWAP is one user_id shuffle; the duration weights are exact integer
  microseconds, so the weighted sums are decimal-exact and
  partition-order independent.
- The chi-square contingency table is |types|x|weekdays| rows after
  one hash agg over the events — margins and the statistic are
  computed on that tiny table, never on the raw events.
- Equi-depth histogram avoids the single-partition NTILE window: a
  coarse range key gives bounded parallel windows, and a tiny
  range-counts cumsum (O(domain/width) rows at any SF) is broadcast
  back as rank offsets — the same two-phase distributed prefix sum
  as ts_concurrency_sweep.
- PageRank iterations are edge-table equi-joins shuffled on the
  source node — the standard BSP formulation. Ranks are kept in
  scaled integer units so partial-aggregation order cannot flip a
  bit anywhere (bigint sums are exact and commutative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from spark_lineage_spark.plans.extract import lineage_checkpoint, lineage_checkpoint_lazy
from spark_lineage_spark.registry import query
from spark_lineage_spark.staging import staged_frame
from spark_lineage_spark.tables import load, register_views


_SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
runs AS (
  SELECT user_id, event_type, ts,
         sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM ordered
),
segs AS (
  SELECT user_id, run_id, min(event_type) AS seg,
         min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, seg, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       CASE WHEN lead(valid_from)
                   OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
            THEN 1 ELSE 0 END AS is_current,
       n_events
FROM segs
"""


@query(
    "cdc_scd2_build",
    "§2.14 SCD type-2 dimension build (change runs -> validity intervals)",
    _SCD2_SQL,
    doc="Slowly-changing-dimension intervals from an event stream.",
)
def cdc_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build: consecutive runs of the same tracked
    attribute (event_type) per user collapse into validity intervals
    [valid_from, valid_to), with NULL valid_to marking the current
    row. Identical SQL text runs on Spark and DuckDB.

    Change points come from lag(); the run id is a per-user running
    sum of change flags (gaps-and-islands). The second window runs on
    the collapsed runs table — strictly smaller than the input — so
    both shuffles are on user_id and bounded by the per-user history.
    Ties at the same timestamp break on event_id, so run boundaries
    are deterministic.
    """
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_SCD2_SQL)


_TWAP_SQL = """
WITH stepped AS (
  SELECT user_id, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
  FROM events
  WHERE value IS NOT NULL
)
SELECT user_id,
       round(cast(sum(cast(value AS DECIMAL(18,6)) * dt_us) AS DOUBLE)
             / cast(sum(dt_us) AS DOUBLE), 6) AS twap,
       count(*) AS n_steps
FROM stepped
WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id
"""


@query(
    "ts_twap",
    "§2.14 time-weighted average value per user (exact integer-us weights)",
    _TWAP_SQL,
    doc="TWAP: each value weighted by its holding duration.",
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average: each observation holds until the next
    one, so its weight is the exact microsecond gap to the successor
    (lead). The last observation per user has no successor and drops
    out — standard TWAP convention.

    Determinism: weights are bigint microseconds and values are cast
    to decimal(18,6) BEFORE the multiply, so both weighted sums are
    decimal/bigint-exact regardless of partial-aggregation order; the
    single final division happens on two exact totals. One shuffle on
    user_id for the lead window, one hash agg — the window and the
    agg share the user_id partitioning.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    return stepped.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double"),
            6,
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_steps"),
    )


@query(
    "stats_chi_square",
    "§2.14 chi-square independence test (event_type x ISO weekday)",
    """
    WITH cells AS (
      SELECT event_type, isodow(ts) AS dow, count(*) AS o
      FROM events GROUP BY event_type, isodow(ts)
    ),
    t AS (SELECT DISTINCT event_type FROM events),
    d AS (SELECT DISTINCT isodow(ts) AS dow FROM events),
    dense AS (
      SELECT t.event_type, d.dow, coalesce(c.o, 0) AS o
      FROM t CROSS JOIN d
      LEFT JOIN cells c ON t.event_type = c.event_type AND d.dow = c.dow
    ),
    margins AS (
      SELECT event_type, dow, o,
             sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY dow) AS ct,
             sum(o) OVER () AS n
      FROM dense
    ),
    terms AS (
      -- cross-products in DOUBLE before the subtraction, mirroring the
      -- Spark side exactly: integer o*n / rt*ct would overflow BIGINT
      -- past ~3e9 rows, precisely the scale the double form targets
      SELECT cast(round(
               (cast(o AS DOUBLE) * cast(n AS DOUBLE)
                - cast(rt AS DOUBLE) * cast(ct AS DOUBLE))
               * (cast(o AS DOUBLE) * cast(n AS DOUBLE)
                  - cast(rt AS DOUBLE) * cast(ct AS DOUBLE))
               / (cast(n AS DOUBLE) * cast(rt AS DOUBLE) * cast(ct AS DOUBLE)), 8)
             AS DECIMAL(28,8)) AS term,
             event_type, dow
      FROM margins
    )
    SELECT round(sum(term), 3) AS chi2,
           count(*) AS n_cells,
           (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) AS dof
    FROM terms
    """,
    doc="Independence of event type vs ISO weekday on the events table.",
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence: one hash agg reduces the
    events to a |types|x|weekdays| contingency table; margins are
    window sums over that tiny table (at most 35 rows at any SF) and
    the statistic uses the cross-product form
    (o*n - rt*ct)^2 / (n*rt*ct) with the products formed in DOUBLE in
    BOTH engines — integer products would wrap int64 past ~3e9 rows
    (ADVICE r5/r6), and the 8-decimal round below is the precision
    contract, so double is both safe and sufficient.

    Determinism: the per-cell double term is the same IEEE expression
    over exact integer counts in both engines; it is rounded and cast
    to decimal(28,8) so the final 35-term sum is decimal-exact and
    partition-order independent. Spark weekday()+1 == DuckDB isodow
    (both ISO, Monday=1).
    """
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    # complete the grid: an absent (type, weekday) combination still
    # contributes its (0-E)^2/E = rt*ct/n term — dropping zero cells
    # understates the statistic. crossJoin is |types| x |weekdays|
    # rows (bounded domains), never data-sized.
    types = ev.select("event_type").distinct()
    dows = ev.select((F.weekday("ts") + F.lit(1)).alias("dow")).distinct()
    dense = (
        types.crossJoin(dows)
        .join(cells, ["event_type", "dow"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
    )
    margins = (
        dense.withColumn("rt", F.sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    # cross-products in double, not bigint: rt*ct wraps int64 past
    # ~3e9 rows under non-ANSI Spark (ADVICE r5) — the term is rounded
    # to 8 decimals anyway, so double precision is already the contract
    num = (
        F.col("o").cast("double") * F.col("n").cast("double")
        - F.col("rt").cast("double") * F.col("ct").cast("double")
    )
    term = F.round(
        num * num
        / (F.col("n").cast("double") * F.col("rt").cast("double") * F.col("ct").cast("double")),
        8,
    ).cast("decimal(28,8)")
    return margins.select(term.alias("term"), "event_type", "dow").agg(
        F.round(F.sum("term"), 3).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("event_type") - F.lit(1))
            * (F.countDistinct("dow") - F.lit(1))
        ).alias("dof"),
    )


@query(
    "attribution_touch",
    "§2.14 marketing attribution: first- and last-touch channel per purchase",
    """
    WITH touched AS (
      SELECT event_type, value,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    ),
    purchases AS (
      SELECT first_touch, last_touch, cast(value AS DECIMAL(18,6)) AS rev
      FROM touched
      WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    ),
    lt AS (
      SELECT last_touch AS channel, count(*) AS lt_purchases,
             round(sum(rev), 2) AS lt_revenue
      FROM purchases GROUP BY last_touch
    ),
    ft AS (
      SELECT first_touch AS channel, count(*) AS ft_purchases,
             round(sum(rev), 2) AS ft_revenue
      FROM purchases GROUP BY first_touch
    )
    SELECT coalesce(lt.channel, ft.channel) AS channel,
           coalesce(lt_purchases, 0) AS lt_purchases,
           coalesce(lt_revenue, 0) AS lt_revenue,
           coalesce(ft_purchases, 0) AS ft_purchases,
           coalesce(ft_revenue, 0) AS ft_revenue
    FROM lt FULL OUTER JOIN ft ON lt.channel = ft.channel
    """,
    doc="Per-channel purchase counts/revenue under first- and last-touch.",
)
def attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution: for every purchase, the crediting channel is the
    first (resp. most recent) non-purchase event the same user emitted
    strictly before it — first_value/last_value IGNORE NULLS over a
    (unbounded, -1) frame, the set-based formulation of a per-row
    lookback loop.

    One shuffle on user_id computes both touches in a single window
    pass; the per-channel rollups then aggregate a purchases-only
    projection (tiny) and reconcile via full outer join. Revenue is
    decimal-summed. Purchases with no prior touch (first event of a
    user) are excluded, matching the oracle's last_touch IS NOT NULL.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_src = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touched = ev.select(
        "event_type",
        "value",
        F.first(touch_src, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch_src, ignorenulls=True).over(w).alias("last_touch"),
    )
    purchases = touched.filter(
        (F.col("event_type") == "purchase") & F.col("last_touch").isNotNull()
    ).select("first_touch", "last_touch", F.col("value").cast("decimal(18,6)").alias("rev"))
    lt = purchases.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("lt_purchases"),
        F.round(F.sum("rev"), 2).alias("lt_revenue"),
    )
    ft = purchases.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("ft_purchases"),
        F.round(F.sum("rev"), 2).alias("ft_revenue"),
    )
    joined = lt.join(ft, "channel", "full_outer")
    return joined.select(
        "channel",
        F.coalesce("lt_purchases", F.lit(0)).alias("lt_purchases"),
        F.coalesce("lt_revenue", F.lit(0).cast("decimal(19,2)")).alias("lt_revenue"),
        F.coalesce("ft_purchases", F.lit(0)).alias("ft_purchases"),
        F.coalesce("ft_revenue", F.lit(0).cast("decimal(19,2)")).alias("ft_revenue"),
    )


def global_rank(df: DataFrame, order_cols: list, coarse) -> DataFrame:
    """Distributed exact global row_number without a single-partition
    window (the ts_concurrency_sweep two-phase prefix sum): ``coarse``
    is a column expression bucketing rows into bounded ranges that
    sort consistently with ``order_cols``; per-range local
    row_numbers run in parallel and the tiny per-range counts cumsum
    (O(#ranges) rows at any SF) broadcasts back as offsets.

    Adds columns ``rnk`` (1-based global rank) and ``n`` (total rows).
    """
    coarse_df = df.withColumn("_rng", coarse)
    w_local = Window.partitionBy("_rng").orderBy(*order_cols)
    local = coarse_df.withColumn("_local_rnk", F.row_number().over(w_local))
    rng_counts = coarse_df.groupBy("_rng").agg(F.count(F.lit(1)).alias("_cnt"))
    # O(#ranges)-row cumsum: one tiny partition, bounded forever
    w_rng = Window.orderBy("_rng").rowsBetween(Window.unboundedPreceding, -1)
    offsets = rng_counts.withColumn(
        "_offset", F.coalesce(F.sum("_cnt").over(w_rng), F.lit(0))
    )
    total = rng_counts.agg(F.sum("_cnt").alias("n"))
    return (
        local.join(F.broadcast(offsets.select("_rng", "_offset")), "_rng")
        .join(F.broadcast(total))
        .withColumn("rnk", F.col("_offset") + F.col("_local_rnk"))
        .drop("_rng", "_local_rnk", "_offset")
    )


def grouped_kth(
    df: DataFrame, group_cols: list, value_col: str, coarse, targets: list
) -> DataFrame:
    """Distributed per-group ORDER STATISTICS by selection, not by
    ranking: for each (label, num, den) in ``targets`` return the
    k-th smallest ``value_col`` per group where k = ceil(num*n/den) —
    exactly the discrete quantile `smallest v with cume_dist >= num/den`
    (a value qualifies under the rank form iff its last tied row
    qualifies under cume_dist, so oracles written with cume_dist match
    bit-for-bit).

    The 100 TB shape: bucket counts aggregate MAP-SIDE (only
    O(#groups x #ranges) rows ever shuffle — no row-level shuffle of
    the data at all), the tiny cumulative table locates each target's
    bucket and in-bucket offset, and a row_number window runs over the
    TARGET BUCKETS ONLY (~n/#ranges rows per target). Contrast with
    ``grouped_rank``, which ranks every row and is the right tool only
    when all ranks are consumed (equi-depth histograms).

    Returns one row per (group, target): group_cols + ``_q`` (label),
    ``_v`` (the selected value), ``n`` (group row count).
    ``coarse`` must be monotone in ``value_col`` and reference it by
    its renamed alias ``_v`` (e.g. ``F.floor(F.col("_v") / 1000)``).
    """
    from spark_lineage_spark.plans.extract import lineage_checkpoint

    cdf = df.select(*group_cols, F.col(value_col).alias("_v")).withColumn(
        "_rng", coarse
    )
    # tiny and read twice (cumsum + totals): checkpoint so neither
    # consumer re-scans the base table (verified r14: WITHOUT the
    # barrier the two consumers' subtrees do not canonicalize to a
    # reused exchange — the plan re-scans the base per consumer).
    # eager=False (optimization r14): under AQE, localCheckpoint's
    # toRdd still executes the upstream query stages at build time
    # either way; lazy defers the final checkpoint-materialization
    # stage into the first consuming action — measured neutral to
    # slightly faster, kept for the one fewer driver barrier.
    bcnt = lineage_checkpoint(
        cdf.groupBy(*group_cols, "_rng").agg(F.count(F.lit(1)).alias("_cnt")),
        eager=False,
    )
    w = Window.partitionBy(*group_cols).orderBy("_rng")
    cum = (
        bcnt.withColumn("_hi", F.sum("_cnt").over(w))
        .withColumn("_lo", F.col("_hi") - F.col("_cnt"))
    )
    tot = bcnt.groupBy(*group_cols).agg(F.sum("_cnt").alias("n"))
    cum = cum.join(tot, list(group_cols))
    # one row per (group, target): the bucket holding rank k, plus the
    # in-bucket offset k - _lo
    tgt = None
    for label, num, den in targets:
        k = F.expr(f"({num} * n + {den} - 1) div {den}")
        sel = (
            cum.withColumn("_k", k)
            .filter((F.col("_lo") < F.col("_k")) & (F.col("_k") <= F.col("_hi")))
            .select(
                *group_cols,
                "_rng",
                F.lit(label).alias("_q"),
                (F.col("_k") - F.col("_lo")).alias("_local_k"),
                "n",
            )
        )
        tgt = sel if tgt is None else tgt.unionByName(sel)
    probe = cdf.join(F.broadcast(tgt), [*group_cols, "_rng"])
    w2 = Window.partitionBy(*group_cols, "_q").orderBy("_v")
    return (
        probe.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") == F.col("_local_k"))
        .select(*group_cols, "_q", "_v", "n")
    )


def grouped_rank(df: DataFrame, group_cols: list, order_cols: list, coarse, weight=None) -> DataFrame:
    """Per-group ``global_rank``: distributed exact row_number WITHIN
    each group without sorting a whole group on one task (the fix for
    the cume_dist-over-3-value-key scale-killer, VERDICT r5 item 2).

    ``coarse`` buckets rows into bounded value ranges monotone in the
    first order column; the window partitions on (group, range) so a
    huge group spreads across all its ranges in parallel.  The
    per-(group, range) counts cumsum — O(#groups x #ranges) rows at any
    SF — runs on a tiny table and broadcasts back as offsets.

    Adds ``rnk`` (1-based rank within the group) and ``n`` (group row
    count); with ``weight`` also ``cum_w`` (running weight sum in rank
    order) and ``tot_w`` (group weight total).  Weight sums stay exact
    under the reordered addition when weights are integers or
    fixed-point decimals (callers must ensure this — running sums are
    combined per-range rather than strictly left-to-right).
    """
    cdf = df.withColumn("_rng", coarse)
    w_local = Window.partitionBy(*group_cols, "_rng").orderBy(*order_cols)
    local = cdf.withColumn("_lrnk", F.row_number().over(w_local))
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if weight is not None:
        local = local.withColumn(
            "_lcw",
            F.sum(weight).over(
                w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        aggs.append(F.sum(weight).alias("_wsum"))
    from spark_lineage_spark.plans.extract import lineage_checkpoint

    # tiny (one row per (group, range)) and read twice (offsets cumsum
    # + totals): checkpoint so neither consumer re-aggregates the base.
    # eager=False for the same reason as grouped_kth's bcnt
    # (optimization r14): defers the checkpoint's final stage into the
    # first consuming action; computed once either way.
    rng_aggs = lineage_checkpoint(
        cdf.groupBy(*group_cols, "_rng").agg(*aggs), eager=False
    )
    # tiny cumsum: one row per (group, coarse range), bounded forever
    w_rng = (
        Window.partitionBy(*group_cols)
        .orderBy("_rng")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = rng_aggs.withColumn(
        "_offset", F.coalesce(F.sum("_cnt").over(w_rng), F.lit(0))
    )
    tot_aggs = [F.sum("_cnt").alias("n")]
    off_cols = [*group_cols, "_rng", "_offset"]
    if weight is not None:
        offsets = offsets.withColumn(
            "_woffset", F.coalesce(F.sum("_wsum").over(w_rng), F.lit(0))
        )
        off_cols.append("_woffset")
        tot_aggs.append(F.sum("_wsum").alias("tot_w"))
    totals = rng_aggs.groupBy(*group_cols).agg(*tot_aggs)
    out = (
        local.join(F.broadcast(offsets.select(*off_cols)), [*group_cols, "_rng"])
        .join(F.broadcast(totals), list(group_cols))
        .withColumn("rnk", F.col("_offset") + F.col("_lrnk"))
    )
    if weight is not None:
        out = out.withColumn("cum_w", F.col("_woffset") + F.col("_lcw")).drop(
            "_woffset", "_lcw"
        )
    return out.drop("_rng", "_lrnk", "_offset")


@query(
    "agg_gini_concentration",
    "§2.14 Gini coefficient + top-decile share (exact rank-weighted sums)",
    """
    WITH ranked AS (
      SELECT cast(o_totalprice AS DECIMAL(18,2)) AS x,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT round(cast(2 * sum(rnk * x) - (max(n) + 1) * sum(x) AS DOUBLE)
                 / cast(max(n) * sum(x) AS DOUBLE), 6) AS gini,
           round(cast(sum(CASE WHEN rnk * 10 > n * 9 THEN x ELSE 0 END)
                      AS DOUBLE)
                 / cast(sum(x) AS DOUBLE), 6) AS top_decile_share,
           max(n) AS n
    FROM ranked
    """,
    doc="Revenue concentration: Gini and top-10%% share over order totals.",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient via the rank formulation
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending
    order totals — plus the top-decile revenue share. Ranks come from
    the distributed ``global_rank`` helper (no single-partition
    window); every sum is over exact decimals/bigints, so the only
    floating ops are the two final divisions. Fully deterministic at
    any partitioning; ties ordered by (price, orderkey).
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        "o_totalprice",
        "o_orderkey",
    )
    ranked = global_rank(
        o,
        ["o_totalprice", "o_orderkey"],
        F.floor(F.col("o_totalprice") / F.lit(1000.0)).cast("bigint"),
    )
    return ranked.agg(
        F.round(
            (
                F.lit(2) * F.sum(F.col("rnk") * F.col("x"))
                - (F.max("n") + F.lit(1)) * F.sum("x")
            ).cast("double")
            / (F.max("n") * F.sum("x")).cast("double"),
            6,
        ).alias("gini"),
        F.round(
            F.sum(
                F.when(
                    F.col("rnk") * 10 > F.col("n") * 9, F.col("x")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).cast("double")
            / F.sum("x").cast("double"),
            6,
        ).alias("top_decile_share"),
        F.max("n").alias("n"),
    )


@query(
    "hist_equi_depth",
    "§2.14 equi-depth decile histogram (two-phase global rank, no NTILE)",
    """
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT cast(((rnk - 1) * 10) // n AS BIGINT) + 1 AS bucket,
           count(*) AS n_rows,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           cast(round(sum(cast(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM ranked
    GROUP BY 1
    """,
    doc="Exact decile boundaries/counts without a single-partition window.",
)
def hist_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram. The naive NTILE(10) OVER (ORDER BY
    price) is a single-partition sort of the whole table; here the
    global rank is a two-phase distributed prefix sum instead
    (ts_concurrency_sweep pattern): a coarse price-range key bounds
    each window partition, the per-range counts cumsum (O(price
    domain / 1000) rows at any SF) broadcasts back as offsets, and
    bucket = floor((rank-1)*10 / n). The oracle computes the same
    bucket from a plain row_number — semantics identical, scaling
    different.

    Tie rows order by (price, orderkey), so ranks — and therefore
    bucket boundaries — are fully deterministic.
    """
    o = load(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_rank(
        o,
        ["o_totalprice", "o_orderkey"],
        F.floor(F.col("o_totalprice") / F.lit(1000.0)).cast("bigint"),
    )
    # integer floor-division, not double division cast to bigint: the
    # double path relies on (rnk-1)*10 < 2^53 for exactness; `div` is
    # bit-exact bigint semantics at any scale (ADVICE r5)
    bucket = F.expr("((rnk - 1) * 10) div n + 1")
    return ranked.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total"),
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-purchase edges (u < v, distinct), shared by
    the graph operators.

    Built per-order: collect_set the order's parts, emit the sorted
    pairs with a zip-of-shifted-slices transform (the vectorized
    n-gram trick from text.py) — one groupBy shuffle instead of the
    lineitem self-join's two, and the combination explode stays inside
    codegen. Per-order part counts are bounded (TPC-H ~7), so the
    explode fans out O(k^2) with tiny k. The result is checkpointed
    AND session-cached per (app, sf): every caller fans it into
    several consumers, and three graph queries (pagerank, triangles,
    degree stats) share one edge table instead of rebuilding it (the
    _shingle_index staging discipline).
    """
    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        ords = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        return (
            ords.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) ->"
                        " transform(slice(ps, i + 2, size(ps)),"
                        " y -> struct(x AS u, y AS v))))"
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .distinct()
            .transform(lineage_checkpoint_lazy)
        )

    return staged_frame(spark, ("copurchase_edges", sf_dir), build)


def small_node_count(spark: SparkSession, sf_dir: str) -> bool:
    """True when the graph's node domain (the part dimension) is small
    enough to broadcast node-sized tables — a parquet-metadata row
    count, no data scan."""
    return load(spark, sf_dir, "part").select("p_partkey").count() <= 2_000_000


_PAGERANK_SCALE = 1_000_000_000_000  # ranks in pico-units: exact bigint math


@query(
    "graph_pagerank",
    "§2.14 PageRank (2 unrolled BSP iterations, integer-scaled exact)",
    f"""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    outdeg AS (SELECT u, count(*) AS d FROM pairs GROUP BY u),
    nn AS (SELECT count(*) AS n FROM outdeg),
    r0 AS (SELECT u AS node, {_PAGERANK_SCALE} // n AS r
           FROM outdeg CROSS JOIN nn),
    c1 AS (SELECT p.v AS node, sum(r0.r // o.d) AS s
           FROM pairs p JOIN r0 ON p.u = r0.node JOIN outdeg o ON p.u = o.u
           GROUP BY p.v),
    r1 AS (SELECT r0.node,
                  ({15 * _PAGERANK_SCALE} // n) // 100 + (85 * coalesce(c1.s, 0)) // 100
                    AS r
           FROM r0 CROSS JOIN nn LEFT JOIN c1 ON r0.node = c1.node),
    c2 AS (SELECT p.v AS node, sum(r1.r // o.d) AS s
           FROM pairs p JOIN r1 ON p.u = r1.node JOIN outdeg o ON p.u = o.u
           GROUP BY p.v),
    r2 AS (SELECT r1.node,
                  ({15 * _PAGERANK_SCALE} // n) // 100 + (85 * coalesce(c2.s, 0)) // 100
                    AS r
           FROM r1 CROSS JOIN nn LEFT JOIN c2 ON r1.node = c2.node)
    SELECT node, round(cast(r AS DOUBLE) / {_PAGERANK_SCALE}.0, 8) AS pagerank
    FROM r2
    ORDER BY r DESC, node
    LIMIT 20
    """,
    doc="Top-20 parts by PageRank on the co-purchase graph.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85) on the part co-purchase graph, two
    synchronous iterations unrolled as edge-table joins — the BSP
    formulation every distributed PageRank uses; at 100 TB each
    iteration is one shuffle of the edge table on the source node
    plus a hash agg on the destination.

    Determinism: ranks live in scaled integer pico-units and every
    division is integer division (Spark `div` == DuckDB `//` for
    non-negative operands), so contributions and their sums are exact
    bigints — no float accumulation anywhere, identical results at
    any partitioning. The co-purchase graph is symmetric, so every
    node has out-edges and there is no dangling-mass term.
    """
    und = copurchase_edges(spark, sf_dir)
    # directed adjacency: the undirected checkpoint plus its swap —
    # map-side union, no second distinct
    pairs = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    outdeg = pairs.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nn = outdeg.agg(F.count(F.lit(1)).alias("n"))
    # node-sized tables (rank, degree, contributions) are bounded by
    # the part dimension — broadcast them while that fits (same
    # metadata-only guard as graph_triangle_copurchase), so each
    # iteration is ONE map-side join over the edge table plus one
    # hash agg on the destination node
    bc = F.broadcast if small_node_count(spark, sf_dir) else (lambda df: df)
    r = (
        outdeg.select(F.col("u").alias("node"))
        .join(F.broadcast(nn))
        .select("node", F.expr(f"{_PAGERANK_SCALE} div n").alias("r"))
    )
    for _ in range(2):
        # fold rank and out-degree into one per-source table first:
        # every out-edge of u carries the same share r div d
        share = r.join(
            outdeg.withColumnRenamed("u", "node"), "node"
        ).select(F.col("node").alias("u"), F.expr("r div d").alias("c"))
        contrib = (
            pairs.join(bc(share), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        r = (
            r.select("node")
            .join(F.broadcast(nn))
            .join(bc(contrib), "node", "left")
            .select(
                "node",
                F.expr(
                    f"({15 * _PAGERANK_SCALE} div n) div 100"
                    " + (85 * coalesce(s, 0)) div 100"
                ).alias("r"),
            )
            # the rank table appears twice in the next iteration's plan
            # (share join + node spine); checkpoint the tiny O(nodes)
            # table so the plan doesn't double per iteration
            .transform(lineage_checkpoint_lazy)
        )
    return (
        r.orderBy(F.desc("r"), "node")
        .limit(20)
        .select(
            "node",
            F.round(F.col("r").cast("double") / F.lit(float(_PAGERANK_SCALE)), 8).alias(
                "pagerank"
            ),
        )
    )


@query(
    "graph_degree_stats",
    "§2.14 degree distribution of the co-purchase graph (log2 buckets)",
    """
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
      ) GROUP BY n
    )
    SELECT cast(floor(log2(d)) AS BIGINT) AS bucket,
           count(*) AS n_nodes,
           min(d) AS min_deg, max(d) AS max_deg,
           cast(sum(d) AS BIGINT) AS total_deg
    FROM deg GROUP BY 1
    """,
    doc="Node-degree histogram in power-of-two buckets.",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution — the first thing to look at before running
    any graph algorithm at scale (it tells you whether hubs will blow
    up a wedge join or a broadcast). Degrees come from one hash agg
    over the shared checkpointed edge table; the log2 bucketing is
    exact for power-of-two degrees (IEEE log2 of 2^k is exact) and
    the histogram aggregates the already-tiny node-degree table.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(
        F.floor(F.log2("d")).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").alias("min_deg"),
        F.max("d").alias("max_deg"),
        F.sum("d").cast("bigint").alias("total_deg"),
    )


def _scd2_frame(ev: DataFrame, keep_run_id: bool = False) -> DataFrame:
    """DataFrame-API twin of _SCD2_SQL over an arbitrary events slice.

    ``keep_run_id`` appends the per-user run ordinal — callers that
    order SCD2 rows (point-in-time join) need it as the tie-break when
    two runs share one valid_from (a user with 2+ same-timestamp
    events); the default output matches _SCD2_SQL's schema exactly.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    segs = marked.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("seg"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    nxt = F.lead("valid_from").over(w2)
    cols = [
        "user_id",
        "seg",
        "valid_from",
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        "n_events",
    ]
    if keep_run_id:
        cols.append("run_id")
    return segs.select(*cols)


@query(
    "cdc_scd2_incremental",
    "§2.14 incremental SCD2 maintenance (recompute touched users only)",
    _SCD2_SQL,
    doc="Daily-batch SCD2 upkeep; oracle is the full-data rebuild.",
)
def cdc_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SCD2 shape: a standing dimension built from
    history plus a new event batch (here: the last third of the
    fixture window). Instead of rebuilding the world, only TOUCHED
    users — those present in the batch — are recomputed over their
    full event history; everyone else's intervals are reused verbatim
    from the standing dimension. The DuckDB oracle is the FULL-data
    rebuild, so the driver hash-check proves the incremental result is
    byte-identical to a from-scratch one (runs that straddle the batch
    boundary must extend, not split — the bug this construction is
    designed to catch).

    Scale: the recompute cost follows the batch's user set (left-semi
    join on user_id), not the corpus; the untouched dimension passes
    through with one left-anti join. This is how a 100 TB dimension
    stays maintainable under daily ingest.
    """
    ev = load(spark, sf_dir, "events")
    split = F.lit("2024-01-20").cast("timestamp")
    hist = ev.filter(F.col("ts") < split)
    batch = ev.filter(F.col("ts") >= split)
    touched = batch.select("user_id").distinct()
    standing = _scd2_frame(hist)
    untouched = standing.join(touched, "user_id", "left_anti")
    recomputed = _scd2_frame(ev.join(touched, "user_id", "left_semi"))
    return untouched.unionByName(recomputed)


@query(
    "join_point_in_time_scd2",
    "§2.14 point-in-time join against SCD2 validity intervals",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
    ),
    runs AS (
      SELECT user_id, event_type, ts,
             sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM ordered
    ),
    segs AS (
      SELECT user_id, run_id, min(event_type) AS seg, min(ts) AS valid_from
      FROM runs GROUP BY user_id, run_id
    ),
    dim AS (
      SELECT user_id, seg, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
               AS valid_to
      FROM segs
    ),
    purchases AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-20 00:00:00'
    )
    SELECT d.seg AS segment_at_purchase, count(*) AS n_purchases,
           count(DISTINCT p.user_id) AS n_users
    FROM purchases p JOIN dim d
      ON p.user_id = d.user_id AND d.valid_from <= p.ts
         AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    GROUP BY d.seg
    """,
    doc="Purchases attributed to the SCD2 segment valid at purchase time.",
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query side of the SCD2 story (build: cdc_scd2_build,
    maintain: cdc_scd2_incremental, THIS: consume): each fact row
    joins the dimension row whose validity interval covered the fact's
    timestamp — 'what segment was this user in when they purchased'.

    The oracle spells the textbook BETWEEN join. The Spark side runs
    the SCALE form instead: validity intervals per user partition the
    timeline, so point-in-time lookup IS an as-of join — latest
    valid_from <= fact ts — one union+window pass on user_id, linear
    state, no interval nested-loop (the form that survives a fact
    table 1000x the dimension). Same one-row-per-fact guarantee
    because intervals never overlap; open rows (valid_to NULL) match
    by construction since no later interval starts before the fact.
    """
    ev = load(spark, sf_dir, "events")
    split = F.lit("2024-01-20").cast("timestamp")
    dim = _scd2_frame(ev.filter(F.col("ts") < split), keep_run_id=True).select(
        "user_id", "seg", "valid_from", "run_id"
    )
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("ts") >= split)
    ).select("user_id", "event_id", "ts")
    d = dim.select(
        F.col("user_id").alias("_k"),
        F.col("valid_from").alias("_t"),
        F.col("seg").alias("_seg"),
        F.lit(0).alias("_kind"),
        F.col("run_id").alias("_run"),
        F.lit(None).cast("bigint").alias("_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_t"),
        F.lit(None).cast("string").alias("_seg"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast("bigint").alias("_run"),
        F.col("event_id").alias("_id"),
    )
    # _run breaks the tie between two runs of one user sharing a
    # valid_from (possible with 2+ same-timestamp events): the LATER
    # run sorts last, so F.last deterministically picks it — exactly
    # the row the oracle keeps when it drops the empty interval
    # (ADVICE r5).
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind", "_run", "_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = d.unionByName(p).withColumn(
        "seg_at",
        F.last(F.when(F.col("_kind") == 0, F.col("_seg")), ignorenulls=True).over(w),
    )
    return (
        carried.filter((F.col("_kind") == 1) & F.col("seg_at").isNotNull())
        .groupBy(F.col("seg_at").alias("segment_at_purchase"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("_k").alias("n_users"),
        )
    )


@query(
    "graph_bfs_khop",
    "§2.14 k-hop BFS min-distance from a seed set (3 unrolled frontier expansions)",
    """
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    d0 AS (SELECT DISTINCT u AS node, 0 AS dist FROM pairs WHERE u % 97 = 0),
    f1 AS (
      SELECT DISTINCT p.v AS node, 1 AS dist
      FROM pairs p JOIN d0 ON p.u = d0.node
      WHERE p.v NOT IN (SELECT node FROM d0)
    ),
    v1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM f1),
    f2 AS (
      SELECT DISTINCT p.v AS node, 2 AS dist
      FROM pairs p JOIN f1 ON p.u = f1.node
      WHERE p.v NOT IN (SELECT node FROM v1)
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM f2),
    f3 AS (
      SELECT DISTINCT p.v AS node, 3 AS dist
      FROM pairs p JOIN f2 ON p.u = f2.node
      WHERE p.v NOT IN (SELECT node FROM v2)
    )
    SELECT node, dist FROM v2 UNION ALL SELECT * FROM f3
    """,
)
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS to depth 3 on the part co-purchase graph —
    the frontier-expansion loop under every distributed
    shortest-path / reachability job (Pregel's canonical example),
    unrolled like graph_pagerank's BSP iterations. Seeds: nodes
    divisible by 97 at distance 0. Each hop is ONE shuffle of the
    edge table on the source node (join frontier->neighbors) plus an
    anti-join against the visited set; the visited/frontier tables
    are node-sized, so they broadcast under the same metadata-only
    guard as PageRank — at 100 TB the per-hop cost is edge-scan +
    broadcast lookup, never edge x edge. Min-distance is guaranteed
    structurally (a node enters exactly one frontier, the first time
    it is seen), so no per-node min() reduction is needed. Exact
    integers end-to-end; frontier checkpoints keep the plan linear
    in hops."""
    und = copurchase_edges(spark, sf_dir)
    pairs = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    bc = F.broadcast if small_node_count(spark, sf_dir) else (lambda df: df)
    frontier = (
        pairs.select(F.col("u").alias("node"))
        .distinct()
        .filter(F.col("node") % 97 == 0)
        .withColumn("dist", F.lit(0))
        .transform(lineage_checkpoint_lazy)
    )
    visited = frontier
    for hop in (1, 2, 3):
        frontier = (
            pairs.join(bc(frontier.select(F.col("node").alias("u"))), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(bc(visited.select("node")), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .transform(lineage_checkpoint_lazy)
        )
        visited = visited.unionAll(frontier)
    return visited


@query(
    "stats_ks_test",
    "§2.14 two-sample Kolmogorov-Smirnov statistic (exact integer ECDF cross-products)",
    """
    WITH pts AS (
      SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
             count(*) FILTER (WHERE event_type = 'click') AS ca,
             count(*) FILTER (WHERE event_type = 'view')  AS cv
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ), cum AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v) AS cum_a,
             sum(cv) OVER (ORDER BY v) AS cum_b,
             (SELECT sum(ca) FROM pts) AS n_a,
             (SELECT sum(cv) FROM pts) AS n_b
      FROM pts
    ), d AS (
      SELECT n_a, n_b, abs(cum_a * n_b - cum_b * n_a) AS diff, v FROM cum
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(CAST(max(diff) AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6) AS ks_d,
           round(CAST(min(v) FILTER (WHERE diff = (SELECT max(diff) FROM d))
                      AS DOUBLE) / 1000000, 6) AS at_value
    FROM d GROUP BY n_a, n_b
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D comparing the `value`
    distributions of click vs view events. D = max |ECDF_a - ECDF_b|
    needs a GLOBAL cumulative count — the scale trap is a
    single-partition ORDER BY window over the raw events. Three
    de-escalations keep it distributed: (1) values collapse to exact
    integer micro-units and group to DISTINCT points first (the hash
    agg is partial map-side, so the ordered stage sees distinct values,
    not events); (2) the cumulative sum is two-phase — per-range-bucket
    sums roll up to a tiny offsets table (one row per 50-unit bucket,
    broadcast back), and the in-bucket window partitions BY bucket, so
    no single task ever orders more than one bucket's points (the
    ts_concurrency_sweep distributed-prefix-sum shape); (3) the ECDF
    comparison stays in integers — |cum_a*n_b - cum_b*n_a| — so the
    max and its argmin location are exact, with ONE float division at
    the end. The argmax tie-break is the smallest value."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ib"),
        )
    )
    pts = ev.groupBy("v").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cv"))
    pts = lineage_checkpoint_lazy(
        pts.withColumn("bucket", F.expr("v div 50000000"))
    )
    # phase 1: tiny per-bucket totals -> running offsets (rows = #buckets)
    boff = (
        pts.groupBy("bucket")
        .agg(F.sum("ca").alias("ba"), F.sum("cv").alias("bv"))
        .withColumn(
            "oa",
            F.coalesce(
                F.sum("ba").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "ob",
            F.coalesce(
                F.sum("bv").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "oa", "ob")
    )
    # phase 2: in-bucket windows, bounded per task
    w = Window.partitionBy("bucket").orderBy("v")
    cum = (
        pts.join(F.broadcast(boff), "bucket")
        .withColumn("cum_a", F.sum("ca").over(w) + F.col("oa"))
        .withColumn("cum_b", F.sum("cv").over(w) + F.col("ob"))
    )
    totals = pts.agg(
        F.sum("ca").alias("n_a"), F.sum("cv").alias("n_b")
    )
    d = cum.crossJoin(F.broadcast(totals)).select(
        "n_a",
        "n_b",
        "v",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")).alias(
            "diff"
        ),
    )
    return (
        d.groupBy("n_a", "n_b")
        .agg(
            F.max("diff").alias("mx"),
            F.min_by(F.struct("diff", "v"), F.struct(F.negate(F.col("diff")), F.col("v")))
            .getField("v")
            .alias("at_v"),
        )
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("mx").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("ks_d"),
            F.round(F.col("at_v").cast("double") / 1_000_000, 6).alias("at_value"),
        )
    )


@query(
    "stats_ttest_welch",
    "§2.14 Welch's unequal-variance t-test (exact decimal power sums, one scan)",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sm,
             CAST(sum(CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(19,0))
                      * CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sq
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ), m AS (
      SELECT
        max(n)  FILTER (WHERE event_type = 'click') AS n1,
        max(sm) FILTER (WHERE event_type = 'click') AS sm1,
        max(sq) FILTER (WHERE event_type = 'click') AS sq1,
        max(n)  FILTER (WHERE event_type = 'view')  AS n2,
        max(sm) FILTER (WHERE event_type = 'view')  AS sm2,
        max(sq) FILTER (WHERE event_type = 'view')  AS sq2
      FROM s
    ), v AS (
      SELECT n1, n2,
             CAST(sm1 AS DOUBLE) / n1 AS mu1,
             CAST(sm2 AS DOUBLE) / n2 AS mu2,
             (CAST(sq1 AS DOUBLE) - CAST(sm1 AS DOUBLE) * CAST(sm1 AS DOUBLE) / n1)
               / (n1 - 1) / n1 AS se1,
             (CAST(sq2 AS DOUBLE) - CAST(sm2 AS DOUBLE) * CAST(sm2 AS DOUBLE) / n2)
               / (n2 - 1) / n2 AS se2
      FROM m
    )
    SELECT n1 AS n_click, n2 AS n_view,
           round(mu1 / 1000000, 6) AS mean_click,
           round(mu2 / 1000000, 6) AS mean_view,
           round((mu1 - mu2) / sqrt(se1 + se2), 4) AS t_stat,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 2) AS df_welch
    FROM v
    """,
)
def stats_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and view `value`
    samples — the A/B-test primitive. One scan, one 2-row hash agg:
    each group's count / sum / sum-of-squares are EXACT (values to
    integer micro-units, squares summed as DECIMAL(38,0), so no float
    accumulation order can flip a bit across partitions or engines);
    the t statistic, its standard error, and the Welch-Satterthwaite
    degrees of freedom are a fixed sequence of double ops on those
    exact sums, identical in both engines. t is scale-invariant, so
    the micro-unit scaling cancels; the means are reported back in
    original units. At 100 TB this is the textbook mergeable-moments
    pattern: partial (n, sum, sumsq) per partition, one tiny exchange,
    closed-form finish — never a second pass."""
    mic = F.round(F.col("value") * 1_000_000).cast("bigint")
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_type", mic.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sm"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sq"),
        )
    )
    pick = lambda c, t: F.max(F.when(F.col("event_type") == t, F.col(c)))  # noqa: E731
    m = s.agg(
        pick("n", "click").alias("n1"),
        pick("sm", "click").alias("sm1"),
        pick("sq", "click").alias("sq1"),
        pick("n", "view").alias("n2"),
        pick("sm", "view").alias("sm2"),
        pick("sq", "view").alias("sq2"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    v = m.select(
        "n1",
        "n2",
        (dbl("sm1") / F.col("n1")).alias("mu1"),
        (dbl("sm2") / F.col("n2")).alias("mu2"),
        (
            (dbl("sq1") - dbl("sm1") * dbl("sm1") / F.col("n1"))
            / (F.col("n1") - 1)
            / F.col("n1")
        ).alias("se1"),
        (
            (dbl("sq2") - dbl("sm2") * dbl("sm2") / F.col("n2"))
            / (F.col("n2") - 1)
            / F.col("n2")
        ).alias("se2"),
    )
    se = F.col("se1") + F.col("se2")
    return v.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.round(F.col("mu1") / 1_000_000, 6).alias("mean_click"),
        F.round(F.col("mu2") / 1_000_000, 6).alias("mean_view"),
        F.round((F.col("mu1") - F.col("mu2")) / F.sqrt(se), 4).alias("t_stat"),
        F.round(
            se
            * se
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


def _morton_sql(d1: str, d2: str, bits: int, spark_side: bool) -> str:
    """Bit-interleave expression (Morton / Z-order key) for two
    `bits`-bit ints, emitted as engine-native SQL: Spark uses
    shiftleft/shiftright functions, DuckDB the << >> operators. Pure
    integer arithmetic — identical values in both engines."""
    terms = []
    for i in range(bits):
        if spark_side:
            terms.append(f"shiftleft(shiftright({d1}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({d2}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({d1} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({d2} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@query(
    "hist_zorder_layout",
    "§2.14 Z-order vs linear file clustering (multi-dim data-skipping spans)",
    f"""
    WITH d AS (
      SELECT l_orderkey % 256 AS d1, l_partkey % 256 AS d2 FROM lineitem
    ), files AS (
      SELECT 'zorder' AS layout,
             ({_morton_sql('d1', 'd2', 8, spark_side=False)}) // 1024 AS f,
             d1, d2 FROM d
      UNION ALL
      SELECT 'linear' AS layout, (d1 * 256 + d2) // 1024 AS f, d1, d2 FROM d
    ), spans AS (
      SELECT layout, f, count(*) AS n,
             max(d1) - min(d1) AS span1, max(d2) - min(d2) AS span2
      FROM files GROUP BY 1, 2
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n) AS BIGINT) AS n_rows,
           round(avg(span1), 2) AS avg_span_d1,
           round(avg(span2), 2) AS avg_span_d2
    FROM spans GROUP BY layout ORDER BY layout
    """,
)
def hist_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY Z-order clustering works, measured: assign each row to one
    of 64 "files" two ways — linear (sort by d1 then d2: the default
    ORDER BY layout) and Z-order (sort by the Morton bit-interleave of
    both dims) — then compute each file's min/max span per dimension,
    i.e. exactly the parquet footer stats a reader prunes on. Linear
    layout gives perfect d1 spans but useless d2 spans (~full range:
    a filter on d2 alone prunes nothing); the Z-order key bounds BOTH
    spans, so single-column filters on EITHER dim skip most files —
    this is the Delta/Iceberg OPTIMIZE ZORDER rationale reduced to one
    oracle-checked query. Everything is integer (8-bit dims, exact
    interleave via shift/mask, same arithmetic in DuckDB), one scan
    per layout, and the span summary is a two-level hash agg: (layout,
    file) then layout — never a sort. At 100 TB the file assignment
    IS the repartitionByRange key you'd write with."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 256).alias("d1"),
        (F.col("l_partkey") % 256).alias("d2"),
    )
    z = li.select(
        F.lit("zorder").alias("layout"),
        F.expr(f"({_morton_sql('d1', 'd2', 8, spark_side=True)}) div 1024").alias("f"),
        "d1",
        "d2",
    )
    lin = li.select(
        F.lit("linear").alias("layout"),
        F.expr("(d1 * 256 + d2) div 1024").alias("f"),
        "d1",
        "d2",
    )
    spans = (
        z.unionByName(lin)
        .groupBy("layout", "f")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("d1") - F.min("d1")).alias("span1"),
            (F.max("d2") - F.min("d2")).alias("span2"),
        )
    )
    return (
        spans.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n").alias("n_rows"),
            F.round(F.avg("span1"), 2).alias("avg_span_d1"),
            F.round(F.avg("span2"), 2).alias("avg_span_d2"),
        )
        .orderBy("layout")
    )


@query(
    "stats_mann_whitney",
    "§2.14 Mann-Whitney U (rank-sum, tie-corrected, exact doubled-rank integers)",
    """
    WITH pts AS (
      SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
             count(*) FILTER (WHERE event_type = 'click') AS ca,
             count(*) FILTER (WHERE event_type = 'view')  AS cv
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ), cum AS (
      SELECT ca, cv, ca + cv AS g,
             sum(ca + cv) OVER (ORDER BY v) - (ca + cv) AS prev_total
      FROM pts
    ), s AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2,
             CAST(sum(ca * (2 * prev_total + g + 1)) AS BIGINT) AS r1x2,
             CAST(sum(g * g * g - g) AS BIGINT) AS tie3
      FROM cum
    )
    SELECT n1 AS n_click, n2 AS n_view,
           round((r1x2 - CAST(n1 AS BIGINT) * (n1 + 1)) / 2.0, 1) AS u_click,
           round((CAST(n1 AS DOUBLE) * n2
                  - (r1x2 - CAST(n1 AS BIGINT) * (n1 + 1)) / 2.0), 1) AS u_view,
           round(((r1x2 - CAST(n1 AS BIGINT) * (n1 + 1)) / 2.0
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                        * ((n1 + n2 + 1)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 4)
             AS z_score
    FROM s
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U — the nonparametric rank-sum complement to
    stats_ttest_welch (Welch needs means to mean something; U only
    needs an order). The trap at scale is "rank every row globally":
    instead rows collapse to DISTINCT integer micro-values with per
    group counts, and the rank sums come from the closed form over
    tied groups — a tied run of g rows starting after prev_total rows
    all take average rank prev_total + (g+1)/2, so DOUBLED rank sums
    (2R1 = sum ca*(2*prev_total + g + 1)) stay exact integers; the
    only window is the same bounded two-phase prefix sum as
    stats_ks_test. Tie-corrected normal approximation: the sum of
    g^3-g over tied groups feeds the variance; U, its mirror
    n1*n2-U, and the z-score are a fixed double sequence on exact
    integers. One scan, one distinct-value hash agg, a tiny ordered
    stage, a 1-row answer."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ib"),
        )
    )
    pts = lineage_checkpoint_lazy(
        ev.groupBy("v")
        .agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cv"))
        .withColumn("g", F.col("ca") + F.col("cv"))
        .withColumn("bucket", F.expr("v div 50000000"))
    )
    boff = (
        pts.groupBy("bucket")
        .agg(F.sum("g").alias("bg"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bg").over(
                    Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "off")
    )
    w = Window.partitionBy("bucket").orderBy("v")
    cum = (
        pts.join(F.broadcast(boff), "bucket")
        .withColumn("prev_total", F.sum("g").over(w) + F.col("off") - F.col("g"))
    )
    s = cum.agg(
        F.sum("ca").alias("n1"),
        F.sum("cv").alias("n2"),
        F.sum(F.col("ca") * (2 * F.col("prev_total") + F.col("g") + 1)).alias("r1x2"),
        F.sum(F.col("g") * F.col("g") * F.col("g") - F.col("g")).alias("tie3"),
    )
    u1 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)) / 2.0
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    var = (
        n1d
        * n2d
        / 12
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("tie3").cast("double")
            / ((n1d + n2d) * (F.col("n1") + F.col("n2") - 1))
        )
    )
    return s.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.round(u1, 1).alias("u_click"),
        F.round(n1d * n2d - u1, 1).alias("u_view"),
        F.round((u1 - n1d * n2d / 2) / F.sqrt(var), 4).alias("z_score"),
    )


@query(
    "profile_psi_drift",
    "§2.14 population stability index (decile PSI, ref-window cutpoints broadcast)",
    """
    WITH ev AS (
      SELECT round(value, 6) AS v,
             CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN 'ref' ELSE 'cur' END AS period
      FROM events
    ), cuts AS (
      SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
      FROM ev WHERE period = 'ref'
    ), b AS (
      SELECT period, 1 + len(list_filter(cuts.cs, c -> ev.v > c)) AS bucket
      FROM ev CROSS JOIN cuts
    ), counts AS (
      SELECT bucket,
             count(*) FILTER (WHERE period = 'ref') AS ref_n,
             count(*) FILTER (WHERE period = 'cur') AS cur_n
      FROM b GROUP BY 1
    ), probs AS (
      SELECT bucket, ref_n, cur_n,
             (ref_n + 1.0) / (sum(ref_n) OVER () + 10.0) AS p,
             (cur_n + 1.0) / (sum(cur_n) OVER () + 10.0) AS q
      FROM counts
    )
    SELECT bucket, CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
           round((p - q) * ln(p / q), 6) AS psi_term,
           round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
    FROM probs
    """,
)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index — the feature-drift monitor every
    production scorer runs: bucket the metric into deciles defined by
    the REFERENCE window (first half of the month), count both
    windows' rows per bucket, PSI = sum (p-q)*ln(p/q). The layout is
    the scalable bucketing shape shared with llm_perplexity_buckets:
    cutpoints are ONE 1-row exact-percentile aggregate over the
    reference rows (approx_percentile at 100 TB — boundary placement,
    not correctness), broadcast to a map-side F.aggregate bucket
    assignment, then a 10-key hash agg — no sort, no ntile. Inputs
    are rounded to 1e-6 before the cutpoint agg so both engines
    interpolate identical operands; counts are exact, and the +1/+10
    Laplace smoothing keeps ln finite if a bucket empties (and makes
    the statistic well-defined at tiny SFs). The 10-row windowed
    total rides on the final frame — each row carries its term AND
    the headline PSI."""
    ev = load(spark, sf_dir, "events").select(
        F.round("value", 6).alias("v"),
        F.when(
            F.to_date("ts") <= F.lit("2024-01-15").cast("date"), "ref"
        )
        .otherwise("cur")
        .alias("period"),
    )
    cuts = ev.filter(F.col("period") == "ref").agg(
        F.percentile("v", F.array(*[F.lit(q / 10.0) for q in range(1, 10)])).alias(
            "cs"
        )
    )
    bucket = F.aggregate(
        F.col("cs"),
        F.lit(1),
        lambda acc, c: acc + F.when(F.col("v") > c, 1).otherwise(0),
    )
    counts = (
        ev.crossJoin(F.broadcast(cuts))
        .select("period", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("ref_n"),
            F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("cur_n"),
        )
    )
    wall = Window.partitionBy()
    p = (F.col("ref_n") + 1.0) / (F.sum("ref_n").over(wall) + 10.0)
    q = (F.col("cur_n") + 1.0) / (F.sum("cur_n").over(wall) + 10.0)
    probs = counts.select("bucket", "ref_n", "cur_n", p.alias("p"), q.alias("q"))
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return probs.select(
        "bucket",
        "ref_n",
        "cur_n",
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(wall), 6).alias("psi_total"),
    )


@query(
    "graph_sssp_weighted",
    "§2.14 weighted shortest paths (3 unrolled Bellman-Ford relaxation rounds)",
    """
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             (a.l_partkey + b.l_partkey) % 7 + 1 AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    d0 AS (SELECT DISTINCT u AS node, 0 AS dist FROM pairs WHERE u % 97 = 0),
    r1 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT * FROM d0
        UNION ALL
        SELECT p.v AS node, d0.dist + p.w AS dist
        FROM pairs p JOIN d0 ON p.u = d0.node
      ) GROUP BY node
    ),
    r2 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT * FROM r1
        UNION ALL
        SELECT p.v AS node, r1.dist + p.w AS dist
        FROM pairs p JOIN r1 ON p.u = r1.node
      ) GROUP BY node
    ),
    r3 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT * FROM r2
        UNION ALL
        SELECT p.v AS node, r2.dist + p.w AS dist
        FROM pairs p JOIN r2 ON p.u = r2.node
      ) GROUP BY node
    )
    SELECT node, CAST(dist AS INTEGER) AS dist FROM r3
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source (multi-seed) WEIGHTED shortest paths by three
    unrolled Bellman-Ford rounds over the co-purchase graph —
    completing the graph family (BFS = the unweighted special case;
    this relaxes edge weights (u+v)%7+1). Each round is the BSP
    min-plus step: join the current distance table to the edge list
    on the source node (one edge-table shuffle), add the weight, and
    take the per-node MIN over old-and-new candidates — unlike BFS,
    a later round may IMPROVE an already-reached node through a
    cheaper 2-edge path, which is why the min() re-reduction per
    round is load-bearing, not an optimization. Distance tables are
    node-sized (broadcast under the same guard as PageRank/BFS) and
    checkpointed per round so the plan stays linear in rounds. Exact
    integer weights and distances end-to-end; nodes not reached
    within 3 edges are absent — explicit frontier semantics, not
    infinity sentinels."""
    und = copurchase_edges(spark, sf_dir)
    pairs = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).withColumn("w", (F.col("u") + F.col("v")) % 7 + 1)
    bc = F.broadcast if small_node_count(spark, sf_dir) else (lambda df: df)
    dist = (
        pairs.select(F.col("u").alias("node"))
        .distinct()
        .filter(F.col("node") % 97 == 0)
        .withColumn("dist", F.lit(0))
        .transform(lineage_checkpoint_lazy)
    )
    for _ in range(3):
        cand = (
            pairs.join(bc(dist.select(F.col("node").alias("u"), "dist")), "u")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(lineage_checkpoint_lazy)
        )
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


_THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS rev
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
pts AS (SELECT datediff('day', DATE '1970-01-01', d) AS x, rev AS y FROM daily),
slopes AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM pts a JOIN pts b ON a.x < b.x
),
ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
         count(*) OVER () AS n
  FROM slopes
),
med AS (
  SELECT avg(slope) AS m FROM ranked
  WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
),
ic_ranked AS (
  SELECT y - (SELECT m FROM med) * x AS ic,
         row_number() OVER (ORDER BY y - (SELECT m FROM med) * x) AS rn,
         count(*) OVER () AS n
  FROM pts
),
icept AS (
  SELECT avg(ic) AS ic FROM ic_ranked
  WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_days,
       (SELECT CAST(count(*) AS BIGINT) FROM slopes) AS n_pairs,
       round((SELECT m FROM med), 6) AS ts_slope,
       round(ic, 6) AS ts_intercept
FROM icept
"""


@query(
    "stats_theil_sen",
    "§2.14 Theil-Sen robust trend (exact median of pairwise slopes)",
    _THEIL_SEN_ORACLE,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the daily-revenue trend: the median of
    all pairwise slopes — robust to ~29% outlier days where OLS
    (agg_linear_regression) is not. The pairwise join runs over the
    DAILY series, which is calendar-bounded (SF-independent): 100 TB
    of events still collapses to one row per day before the O(days²)
    pair stage, so the quadratic piece never touches event rows (for
    multi-year series, production samples pairs; exact here). Slopes
    are exact-integer differences divided once (identical doubles
    cross-engine); the median is an explicit two-rank selection
    (avg of lower/upper middle), not an engine median() whose
    interpolation may differ. Intercept = median of (y - m·x) with the
    same UNROUNDED m on both sides (Spark: the collected slope median;
    oracle: (SELECT m FROM med)) — the two engines average the same
    two exact-integer-ratio doubles, so the inputs are bit-identical
    without rounding; rounding on one side only would break parity
    (ADVICE r8 docstring fix)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d")).agg(
        F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)")).alias("rev")
    )
    pts = daily.select(
        F.datediff("d", F.lit("1970-01-01").cast("date")).alias("x"),
        F.col("rev").alias("y"),
    ).transform(lineage_checkpoint_lazy)
    a, b = pts.alias("a"), pts.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.y") - F.col("a.y")).cast("double") / (F.col("b.x") - F.col("a.x")))
        .alias("slope")
    )
    w = Window.orderBy("slope")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = ranked.filter(
        (F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        | (F.col("rn") == ((F.col("n") + 2) / 2).cast("long"))
    ).agg(F.avg("slope").alias("m"))
    m = med.collect()[0].m  # bounded-collect-ok: 1 driver scalar — the model
    ic_ranked = pts.select(
        (F.col("y") - F.lit(m) * F.col("x")).alias("ic")
    ).select(
        "ic",
        F.row_number().over(Window.orderBy("ic")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    ic = ic_ranked.filter(
        (F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        | (F.col("rn") == ((F.col("n") + 2) / 2).cast("long"))
    ).agg(F.avg("ic").alias("ic")).collect()[0].ic  # bounded-collect-ok: 1 scalar
    n_days = pts.count()
    return spark.createDataFrame(
        [(n_days, n_days * (n_days - 1) // 2, float(m), float(ic))],
        "n_days long, n_pairs long, ts_slope double, ts_intercept double",
    ).select(
        "n_days",
        "n_pairs",
        # round in Spark (HALF_UP like the oracle's round()), not Python
        F.round("ts_slope", 6).alias("ts_slope"),
        F.round("ts_intercept", 6).alias("ts_intercept"),
    )


@query(
    "ts_calendar_dim",
    "§2.14 calendar dimension build (fiscal attributes over the date spine)",
    """
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo,
             CAST(date_trunc('day', max(ts)) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds
    )
    SELECT d,
           CAST(year(d) AS INT) AS cal_year,
           CAST(quarter(d) AS INT) AS cal_quarter,
           CAST(month(d) AS INT) AS cal_month,
           CAST(weekofyear(d) AS INT) AS iso_week,
           CAST(isodow(d) AS INT) AS iso_weekday,
           CASE WHEN d = last_day(d) THEN 1 ELSE 0 END AS is_month_end,
           CAST(year(d) + CASE WHEN month(d) >= 2 THEN 1 ELSE 0 END AS INT)
             AS fiscal_year,
           CAST(((month(d) + 10) % 12) // 3 + 1 AS INT) AS fiscal_quarter
    FROM spine
    """,
)
def ts_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calendar dimension every warehouse builds once and joins
    everywhere: one row per day of the event span with calendar,
    ISO-week, and FISCAL attributes (fiscal year starting February:
    FY(d) = year + (month >= 2), fiscal quarter from the Feb-anchored
    month index). Built from a 1-row min/max aggregate exploded via
    sequence() — O(days), never O(rows), and the result is the classic
    broadcast side of every date-logic join. ISO weekday/week come
    from the engines' shared ISO-8601 definitions (pinned by the
    oracle)."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("lo"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    return spine.select(
        "d",
        F.year("d").alias("cal_year"),
        F.quarter("d").alias("cal_quarter"),
        F.month("d").alias("cal_month"),
        F.weekofyear("d").alias("iso_week"),
        F.expr("CAST(weekday(d) AS INT) + 1").alias("iso_weekday"),
        F.when(F.col("d") == F.last_day("d"), 1).otherwise(0).alias("is_month_end"),
        (F.year("d") + F.when(F.month("d") >= 2, 1).otherwise(0))
        .cast("int")
        .alias("fiscal_year"),
        (((F.month("d") + 10) % 12) / F.lit(3) + 1).cast("int").alias("fiscal_quarter"),
    )


@query(
    "cdc_scd6",
    "§2.14 SCD type-6 dimension (type-2 intervals + type-1 current + type-3 prior)",
    _SCD2_SQL.replace(
        """SELECT user_id, seg, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       CASE WHEN lead(valid_from)
                   OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
            THEN 1 ELSE 0 END AS is_current,
       n_events
FROM segs""",
        """SELECT user_id, seg, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       CASE WHEN lead(valid_from)
                   OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
            THEN 1 ELSE 0 END AS is_current,
       lag(seg) OVER (PARTITION BY user_id ORDER BY run_id) AS prior_seg,
       last_value(seg) OVER (PARTITION BY user_id ORDER BY run_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS current_seg,
       n_events
FROM segs""",
    ),
)
def cdc_scd6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-6 = 1+2+3 hybrid on one dimension table: the type-2
    validity intervals of cdc_scd2_build PLUS a type-1 column
    (current_seg — the latest value overwritten onto every historical
    row, so point-in-time queries can also group by today's value)
    and a type-3 column (prior_seg — the immediately previous value,
    for 'changed from what?' analyses without a self-join). All three
    flavors come from the SAME single user_id-partitioned window pass
    over the run table — no extra shuffle over SCD2, which is why
    warehouses prefer type 6 over joining type-2 history to a type-1
    current table at query time."""
    ev = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w_ord))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("is_new").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    segs = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("seg"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_run = Window.partitionBy("user_id").orderBy("run_id")
    w_all = w_run.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return segs.select(
        "user_id",
        "seg",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        F.when(F.lead("valid_from").over(w_run).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
        F.lag("seg").over(w_run).alias("prior_seg"),
        F.last("seg").over(w_all).alias("current_seg"),
        "n_events",
    )


_WILSON_Z = 1.959963984540054  # two-sided 95%


def _wilson_sql(k: str, n: str) -> str:
    """Wilson score interval bounds as engine-neutral SQL over exact
    integer counts k successes / n trials (identical float arithmetic
    in both engines: one formula over two exact ints)."""
    z2 = f"{_WILSON_Z} * {_WILSON_Z}"
    p = f"(CAST({k} AS DOUBLE) / {n})"
    center = f"({p} + {z2} / (2.0 * {n}))"
    margin = (
        f"({_WILSON_Z} * sqrt({p} * (1.0 - {p}) / {n} + {z2} / (4.0 * {n} * {n})))"
    )
    denom = f"(1.0 + {z2} / {n})"
    return (
        f"round(({center} - {margin}) / {denom}, 6)",
        f"round(({center} + {margin}) / {denom}, 6)",
    )


_FUNNEL_WILSON_ORACLE = f"""
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
counts AS (
  SELECT count(t_view) AS n_view,
         count(CASE WHEN t_click > t_view THEN 1 END) AS n_vc,
         count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
           AS n_full
  FROM f
)
SELECT 'view_to_click' AS step, CAST(n_view AS BIGINT) AS n,
       CAST(n_vc AS BIGINT) AS k,
       round(CAST(n_vc AS DOUBLE) / n_view, 6) AS rate,
       {_wilson_sql("n_vc", "n_view")[0]} AS wilson_lo,
       {_wilson_sql("n_vc", "n_view")[1]} AS wilson_hi
FROM counts
UNION ALL
SELECT 'click_to_purchase', CAST(n_vc AS BIGINT), CAST(n_full AS BIGINT),
       round(CAST(n_full AS DOUBLE) / n_vc, 6),
       {_wilson_sql("n_full", "n_vc")[0]},
       {_wilson_sql("n_full", "n_vc")[1]}
FROM counts
"""


@query(
    "win_funnel_wilson",
    "§2.14 funnel conversion rates with Wilson 95% confidence intervals",
    _FUNNEL_WILSON_ORACLE,
)
def win_funnel_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """win_funnel_ordered's counts turned into DECISIONS: per funnel
    step, the conversion rate with its Wilson score 95% CI — the
    interval that stays valid at small n and near 0/1 rates where the
    normal approximation breaks (the standard A/B-dashboard choice).
    Counts are exact integers from one groupBy(user) pass + one tiny
    aggregate; the CI is a closed-form float formula over two exact
    ints, evaluated identically by both engines and rounded. No
    per-step scans — both steps read the same 1-row counts frame."""
    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    counts = f.agg(
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_vc"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_full"),
    )

    def step(label: str, k: str, n: str):
        lo, hi = _wilson_sql(k, n)
        return counts.selectExpr(
            f"'{label}' AS step",
            f"CAST({n} AS BIGINT) AS n",
            f"CAST({k} AS BIGINT) AS k",
            f"round(CAST({k} AS DOUBLE) / {n}, 6) AS rate",
            f"{lo} AS wilson_lo",
            f"{hi} AS wilson_hi",
        )

    return step("view_to_click", "n_vc", "n_view").unionByName(
        step("click_to_purchase", "n_full", "n_vc")
    )


@query(
    "hist_zorder_range_probe",
    "§2.14 Z-order vs linear layout under a 2-dim range query (files touched)",
    f"""
    WITH d AS (
      SELECT l_orderkey % 256 AS d1, l_partkey % 256 AS d2 FROM lineitem
    ), files AS (
      SELECT 'zorder' AS layout,
             ({_morton_sql('d1', 'd2', 8, spark_side=False)}) // 1024 AS f,
             d1, d2 FROM d
      UNION ALL
      SELECT 'linear' AS layout, (d1 * 256 + d2) // 1024 AS f, d1, d2 FROM d
    ), stats AS (
      SELECT layout, f,
             min(d1) AS min1, max(d1) AS max1,
             min(d2) AS min2, max(d2) AS max2,
             count(CASE WHEN d1 BETWEEN 64 AND 95
                         AND d2 BETWEEN 32 AND 63 THEN 1 END) AS n_match
      FROM files GROUP BY 1, 2
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(CASE WHEN max1 >= 64 AND min1 <= 95
                            AND max2 >= 32 AND min2 <= 63 THEN 1 END) AS BIGINT)
             AS files_touched,
           CAST(sum(n_match) AS BIGINT) AS rows_matched
    FROM stats GROUP BY layout ORDER BY layout
    """,
)
def hist_zorder_range_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff read for hist_zorder_layout's write story: a 2-dim
    range query (d1 ∈ [64,95] × d2 ∈ [32,63]) against the same two
    file layouts, counting the files whose min/max footer stats
    OVERLAP the query box — exactly the files a stats-pruning reader
    (parquet row-group pruning, Delta/Iceberg data skipping) must
    read. Both layouts match the same rows; Z-order touches a
    fraction of the files where the linear layout touches nearly all
    of them whenever the leading dimension isn't the filtered one —
    the quantified argument for OPTIMIZE ZORDER. Pure integer
    arithmetic end-to-end."""
    li = load(spark, sf_dir, "lineitem")
    d = li.selectExpr("l_orderkey % 256 AS d1", "l_partkey % 256 AS d2")
    z = d.selectExpr(
        "'zorder' AS layout",
        f"CAST(({_morton_sql('d1', 'd2', 8, spark_side=True)}) / 1024 AS BIGINT) AS f",
        "d1",
        "d2",
    )
    lin = d.selectExpr(
        "'linear' AS layout",
        "CAST((d1 * 256 + d2) / 1024 AS BIGINT) AS f",
        "d1",
        "d2",
    )
    stats = (
        z.unionByName(lin)
        .groupBy("layout", "f")
        .agg(
            F.min("d1").alias("min1"),
            F.max("d1").alias("max1"),
            F.min("d2").alias("min2"),
            F.max("d2").alias("max2"),
            F.count(
                F.when(
                    F.col("d1").between(64, 95) & F.col("d2").between(32, 63), 1
                )
            ).alias("n_match"),
        )
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.count(
                F.when(
                    (F.col("max1") >= 64)
                    & (F.col("min1") <= 95)
                    & (F.col("max2") >= 32)
                    & (F.col("min2") <= 63),
                    1,
                )
            ).alias("files_touched"),
            F.sum("n_match").alias("rows_matched"),
        )
        .orderBy("layout")
    )


# Shared SQL for stats_ols_two_feature: the SAME text runs in Spark and
# DuckDB, so the closed-form double arithmetic is a bit-identical
# expression tree over bit-identical exact-decimal moments.
_OLS_TWO_FEATURE_SQL = """
    WITH base AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS dq,
             CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DOUBLE) AS dd,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS dy,
             CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS dqq,
             CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS DOUBLE) AS ddd_,
             CAST(SUM(CAST(q * d AS DECIMAL(38,0))) AS DOUBLE) AS dqd,
             CAST(SUM(CAST(q * y AS DECIMAL(38,0))) AS DOUBLE) AS dqy,
             CAST(SUM(CAST(d * y AS DECIMAL(38,0))) AS DOUBLE) AS ddy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS dyy
      FROM base GROUP BY l_returnflag
    ), dets AS (
      SELECT l_returnflag, n, dy, dqy, ddy, dyy, CAST(n AS DOUBLE) AS dn,
             CAST(n AS DOUBLE)*(dqq*ddd_ - dqd*dqd) - dq*(dq*ddd_ - dqd*dd)
               + dd*(dq*dqd - dqq*dd) AS det,
             dy*(dqq*ddd_ - dqd*dqd) - dq*(dqy*ddd_ - dqd*ddy)
               + dd*(dqy*dqd - dqq*ddy) AS det0,
             CAST(n AS DOUBLE)*(dqy*ddd_ - dqd*ddy) - dy*(dq*ddd_ - dqd*dd)
               + dd*(dq*ddy - dqy*dd) AS det1,
             CAST(n AS DOUBLE)*(dqq*ddy - dqy*dqd) - dq*(dq*ddy - dqy*dd)
               + dy*(dq*dqd - dqq*dd) AS det2
      FROM m
    ), beta AS (
      SELECT l_returnflag, n, dy, dqy, ddy, dyy, dn,
             det0/det AS b0, det1/det AS b1, det2/det AS b2
      FROM dets
    )
    SELECT l_returnflag, n,
           round(b0, 4) AS beta0_cents,
           round(b1, 6) AS beta1,
           round(b2, 6) AS beta2,
           round(1 - (dyy - (b0*dy + b1*dqy + b2*ddy)) / (dyy - dy*dy/dn), 6) AS r2
    FROM beta
"""


@query(
    "stats_ols_two_feature",
    "§2.14 two-feature OLS fit via exact normal equations (closed-form Cramer solve)",
    _OLS_TWO_FEATURE_SQL,
)
def stats_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression beyond regr_slope's single feature:
    fit extendedprice ~ quantity + discount per returnflag by the
    normal equations, solved closed-form with Cramer's rule on the
    3x3 moment matrix. The nine moments (n, Σx, Σx², Σxy, …) are
    EXACT — inputs to integer cents via the half-up floor(x*100+0.5)
    idiom, products summed as DECIMAL(38,0) so partition order can't
    flip a bit — and the β/R² finish is a fixed double expression on
    them, run from the SAME SQL text in Spark and the DuckDB oracle.
    At 100 TB this is one map-side-partial hash agg (3 groups) plus a
    scalar finish: the moment matrix is mergeable state, the solve is
    O(1) — the distributed-OLS pattern that needs no second data pass
    (vs gradient descent's many)."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_OLS_TWO_FEATURE_SQL)


@query(
    "stats_bootstrap_ci",
    "§2.14 Poisson-bootstrap confidence interval (deterministic hash resampling)",
    """
    WITH p AS (
      SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ), bs AS (
      SELECT unnest(generate_series(1, 32)) AS b
    ), draws AS (
      SELECT bs.b, p.v,
             CASE
               WHEN CAST(CAST(concat('0x', substr(md5(concat(CAST(p.event_id AS VARCHAR),
                      '_', CAST(bs.b AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
                    / 1152921504606846976 < 0.36787944117144233 THEN 0
               WHEN CAST(CAST(concat('0x', substr(md5(concat(CAST(p.event_id AS VARCHAR),
                      '_', CAST(bs.b AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
                    / 1152921504606846976 < 0.7357588823428847 THEN 1
               WHEN CAST(CAST(concat('0x', substr(md5(concat(CAST(p.event_id AS VARCHAR),
                      '_', CAST(bs.b AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
                    / 1152921504606846976 < 0.9196986029286058 THEN 2
               WHEN CAST(CAST(concat('0x', substr(md5(concat(CAST(p.event_id AS VARCHAR),
                      '_', CAST(bs.b AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
                    / 1152921504606846976 < 0.9810118431238462 THEN 3
               WHEN CAST(CAST(concat('0x', substr(md5(concat(CAST(p.event_id AS VARCHAR),
                      '_', CAST(bs.b AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
                    / 1152921504606846976 < 0.9963401531726563 THEN 4
               ELSE 5
             END AS w
      FROM p CROSS JOIN bs
    ), means AS (
      SELECT b, CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mean_b
      FROM draws GROUP BY b
    ), ranked AS (
      SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS r FROM means
    )
    SELECT (SELECT count(*) FROM p) AS n_rows,
           32 AS n_resamples,
           (SELECT round(CAST(sum(v) AS DOUBLE) / count(*) / 100, 4) FROM p)
             AS mean_value,
           (SELECT round(mean_b / 100, 4) FROM ranked WHERE r = 2) AS ci_lo,
           (SELECT round(mean_b / 100, 4) FROM ranked WHERE r = 31) AS ci_hi
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap CI for the mean purchase value, made distributed AND
    replay-exact by the Poisson bootstrap: instead of materializing B
    resampled copies, each (row, replicate) pair draws a Poisson(1)
    multiplicity — here by inverse-CDF over a deterministic md5
    uniform of (event_id, b), the same reshuffle-proof RNG-free idiom
    as llm_rejection_sampling — so one pass computes all 32 replicate
    means as a single grouped aggregate of exact integer sums. The
    interval is the 2nd/31st ranked replicate mean (the ~94%
    percentile-bootstrap bracket 2/32..31/32); ranked SELECTION, not a
    moment, so no cross-engine float accumulation can move it. The
    DuckDB oracle mirrors the arithmetic expression-for-expression.
    At 100 TB: the fan-out is a flat map (32× rows) into a 32-group
    map-side-partial agg — no resample ever exists on disk, and
    adding replicates scales linearly with B, not with data passes."""
    register_views(spark, sf_dir, ["events"])
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"), F.lit("_"), F.col("b").cast("string")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(1152921504606846976)
    )
    w = (
        F.when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .otherwise(5)
    )
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v"))
    )
    bs = spark.range(1, 33).select(F.col("id").cast("int").alias("b"))
    draws = p.crossJoin(F.broadcast(bs)).select("b", "v", w.alias("w"))
    means = draws.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("v")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_b")
    )
    from pyspark.sql import Window

    ranked = means.select(
        "mean_b",
        F.row_number().over(Window.orderBy("mean_b", "b")).alias("r"),
    )
    stats = p.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("v").cast("double") / F.count("*") / 100, 4).alias("mean_value"),
    )
    lo = ranked.filter(F.col("r") == 2).select(F.round(F.col("mean_b") / 100, 4).alias("ci_lo"))
    hi = ranked.filter(F.col("r") == 31).select(F.round(F.col("mean_b") / 100, 4).alias("ci_hi"))
    return (
        stats.withColumn("n_resamples", F.lit(32))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n_rows", "n_resamples", "mean_value", "ci_lo", "ci_hi")
    )


# Brown–Forsythe finish: identical SQL text in Spark and DuckDB over the
# exact per-group (n, Σz, Σz²) moment rows (z = |value − group median|
# in integer cents), so the W statistic's double math is bit-identical.
_LEVENE_FINISH_SQL = """
    WITH med AS (
      SELECT event_type,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT) AS med_v
      FROM vals GROUP BY event_type
    ), z AS (
      SELECT vals.event_type, abs(v - med_v) AS z
      FROM vals JOIN med ON vals.event_type = med.event_type
    ), m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS sz,
             CAST(sum(CAST(z * z AS DECIMAL(38,0))) AS DOUBLE) AS szz
      FROM z GROUP BY event_type
    ), tot AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn, CAST(count(*) AS DOUBLE) AS k,
             sum(sz) AS sza
      FROM m
    ), parts AS (
      SELECT CAST(sum(CAST(m.n AS DOUBLE) * (m.sz / CAST(m.n AS DOUBLE) - tot.sza / tot.nn)
                       * (m.sz / CAST(m.n AS DOUBLE) - tot.sza / tot.nn)) AS DOUBLE) AS between_ss,
             CAST(sum(m.szz - m.sz * m.sz / CAST(m.n AS DOUBLE)) AS DOUBLE) AS within_ss,
             max(tot.nn) AS nn, max(tot.k) AS k
      FROM m CROSS JOIN tot
    )
    SELECT CAST(nn AS BIGINT) AS n_total, CAST(k AS BIGINT) AS n_groups,
           round(((nn - k) / (k - 1)) * between_ss / within_ss, 6) AS w_stat,
           CAST(k - 1 AS BIGINT) AS df1, CAST(nn - k AS BIGINT) AS df2
    FROM parts
"""

_LEVENE_VALS_DUCK = """
    vals AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    )
"""


@query(
    "stats_levene_test",
    "§2.14 Brown–Forsythe variance-homogeneity test (median-centered Levene W)",
    "WITH " + _LEVENE_VALS_DUCK + "," + _LEVENE_FINISH_SQL[_LEVENE_FINISH_SQL.index("med AS") :],
)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe W (Levene's test with median centers — the
    robust spread-equality check that gates pooled-variance decisions
    like stats_ttest_welch's): are click/view/purchase `value`
    dispersions equal? Group centers are DISCRETE medians
    (percentile_disc — an actual sample value, so z = |v − med| stays
    an exact integer in cents), the per-group (n, Σz, Σz²) moments
    sum as DECIMAL(38,0), and the one-way-ANOVA-on-z finish is the
    same SQL text in both engines. Two scans total (medians, then
    centered moments) — the second pass is unavoidable for
    median-centering but both are map-side-partial aggregates; at
    100 TB this is 2 narrow passes, not a per-group sort."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        "WITH vals AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v "
        "FROM events WHERE event_type IN ('click', 'view', 'purchase')),"
        + _LEVENE_FINISH_SQL[_LEVENE_FINISH_SQL.index("med AS") :]
    )


# Two-proportion z-test finish: identical SQL text in Spark and DuckDB
# over exact integer counts, so the pooled-variance double math is
# bit-identical (stats_ttest_welch discipline).
_PROP_ZTEST_SQL = """
    WITH c AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS cohort,
             count(*) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS k
      FROM events GROUP BY CAST(user_id % 2 AS INTEGER)
    ), w AS (
      SELECT max(CASE WHEN cohort = 0 THEN n END) AS n0,
             max(CASE WHEN cohort = 0 THEN k END) AS k0,
             max(CASE WHEN cohort = 1 THEN n END) AS n1,
             max(CASE WHEN cohort = 1 THEN k END) AS k1
      FROM c
    )
    SELECT n0, k0, n1, k1,
           round(CAST(k0 AS DOUBLE) / n0, 6) AS p0,
           round(CAST(k1 AS DOUBLE) / n1, 6) AS p1,
           round((CAST(k0 AS DOUBLE) / n0 - CAST(k1 AS DOUBLE) / n1)
                 / sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)), 4)
             AS z_stat
    FROM w
"""


@query(
    "stats_proportion_ztest",
    "§2.14 two-proportion z-test (pooled variance, exact integer counts)",
    _PROP_ZTEST_SQL,
)
def stats_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion-rate A/B primitive stats_ttest_welch's
    continuous-metric test doesn't cover: did cohort 0 (even user ids)
    purchase at a different RATE than cohort 1? Everything upstream of
    the z statistic is an exact integer (per-cohort trial and success
    counts from one scan's map-side-partial aggregate); the pooled
    proportion, its variance, and z are one fixed double expression on
    those integers, run from the SAME SQL text in both engines. At
    100 TB: a 2-group count aggregate — two thin rows cross the wire,
    the test itself is O(1). The cohort split on user id parity is
    the deterministic stand-in for a real assignment column."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_PROP_ZTEST_SQL)


@query(
    "graph_kcore",
    "§2.14 k-core peeling (3 unrolled rounds, k = median initial degree)",
    """
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    d0 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
    kv AS MATERIALIZED (SELECT CAST(floor(quantile_cont(d, 0.5)) AS BIGINT) AS kk FROM d0),
    k0 AS MATERIALIZED (SELECT n FROM d0, kv WHERE d >= kk),
    e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT n FROM k0) AND v IN (SELECT n FROM k0)),
    d1 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY n),
    k1 AS MATERIALIZED (SELECT n FROM d1, kv WHERE d >= kk),
    e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT n FROM k1) AND v IN (SELECT n FROM k1)),
    d2 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY n),
    k2 AS MATERIALIZED (SELECT n FROM d2, kv WHERE d >= kk),
    e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT n FROM k2) AND v IN (SELECT n FROM k2)),
    d3 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3) GROUP BY n)
    SELECT 0 AS round, (SELECT count(*) FROM d0) AS n_nodes, (SELECT count(*) FROM e0) AS n_edges
    UNION ALL
    SELECT 1, (SELECT count(*) FROM d1), (SELECT count(*) FROM e1)
    UNION ALL
    SELECT 2, (SELECT count(*) FROM d2), (SELECT count(*) FROM e2)
    UNION ALL
    SELECT 3, (SELECT count(*) FROM d3), (SELECT count(*) FROM e3)
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the co-purchase graph, with k set to the
    MEDIAN initial degree (data-derived: a fixed literal k is either
    vacuous or total depending on SF density — the median peels ~half
    the nodes in round 1 at every scale): repeatedly drop nodes with
    degree < k and the edges touching them — the standard
    pre-filter that shrinks a graph to its cohesive core before
    expensive algorithms (community detection, dense-subgraph mining)
    run. Three unrolled BSP rounds (the graph_pagerank discipline:
    bounded rounds, per-round lineage checkpoint to stop plan
    growth), each one hash-agg for degrees + two semi-joins to
    restrict edges — no driver-side iteration on data, only on plan
    construction. Emits the survivor curve (nodes/edges per round):
    monotone non-increasing, which the property test asserts; full
    convergence detection would compare consecutive rounds — at scale
    you run rounds until the count fixes, each round one shuffle."""
    e = copurchase_edges(spark, sf_dir)
    rounds = []
    cur = e
    kv = None
    for r in range(4):
        # the degree table is tiny (one row per surviving node) and
        # feeds BOTH the round stats and the peel filter — checkpoint
        # it so they share one materialization; n_edges = sum(d)/2
        # exactly (every edge contributes two degree entries), saving
        # a separate count job over the edge table
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .transform(lineage_checkpoint_lazy)
        )
        if kv is None:  # threshold from ROUND-0 degrees, fixed thereafter
            kv = F.broadcast(
                deg.agg(
                    F.floor(F.expr("percentile(d, 0.5)")).cast("bigint").alias("kk")
                )
            ).transform(lineage_checkpoint_lazy)
        row = deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.expr("CAST(coalesce(sum(d), 0) DIV 2 AS BIGINT)").alias("n_edges"),
        ).select(F.lit(r).alias("round"), "n_nodes", "n_edges")
        rounds.append(row)
        if r < 3:
            keep = (
                deg.crossJoin(F.broadcast(kv))
                .filter(F.col("d") >= F.col("kk"))
                .select("n")
            )
            cur = (
                cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
                .select("u", "v")
                .transform(lineage_checkpoint_lazy)
            )
    out = rounds[0]
    for r_df in rounds[1:]:
        out = out.unionAll(r_df)
    return out


# ---------------------------------------------------------------------------
# Round-9 additions (SURVEY §2.18): rank correlations, association
# measures, distribution diagnostics, exponential smoothing.  All use
# the shared-SQL-text pattern (stats_ols_two_feature precedent): ONE
# SQL string runs in both Spark and the DuckDB oracle, so the engines
# execute identical arithmetic on identical exact-integer moments.
# ---------------------------------------------------------------------------

# Spearman rho via the JOINT-FREQUENCY formulation, not corr-of-ranks
# over raw rows: both columns are low-cardinality (50 quantities x 11
# discount ticks), so average ranks are computed on the tiny per-value
# marginal tables (2*avg_rank = 2*cum_count_before + cnt + 1, an exact
# integer) and rho is a weighted Pearson over <=550 joint cells.  At
# 100 TB this is one hash-agg over the fact table + windows over
# ~50-row tables — no global rank window over raw rows (which would be
# the naive single-partition sort).  Doubles appear only in the O(1)
# finish; every moment is an exact DECIMAL(38,0) sum.
_SPEARMAN_SQL = """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
qm AS (
  SELECT q,
         CAST(2 * COALESCE(SUM(cq) OVER (ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cq + 1 AS BIGINT) AS rq2
  FROM (SELECT q, CAST(sum(c) AS BIGINT) AS cq FROM cells GROUP BY q) mq
),
dm AS (
  SELECT d,
         CAST(2 * COALESCE(SUM(cd) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cd + 1 AS BIGINT) AS rd2
  FROM (SELECT d, CAST(sum(c) AS BIGINT) AS cd FROM cells GROUP BY d) md
),
m AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS n,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(rq2 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(rd2 AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(rq2 AS DECIMAL(38,0))
                  * CAST(rd2 AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(rq2 AS DECIMAL(38,0))
                  * CAST(rq2 AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(rd2 AS DECIMAL(38,0))
                  * CAST(rd2 AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM cells JOIN qm USING (q) JOIN dm USING (d)
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy)
             / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0), 6)
         AS spearman_rho
FROM m
"""


@query(
    "stats_spearman_corr",
    "§2.18 Spearman rank correlation (tie-corrected, joint-frequency formulation)",
    _SPEARMAN_SQL,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between l_quantity and l_discount with proper
    average-rank tie handling — the robust monotone-association check
    that Pearson corr (agg_linear_regression) is not.  Both columns
    are low-cardinality, so the implementation never ranks raw rows:
    one hash-agg collapses the facts to <=550 (quantity, discount)
    cells, marginal average ranks come from window cumsums over the
    ~50-row marginal tables (doubled to stay integer), and rho is the
    weighted Pearson over the cells — exact DECIMAL(38,0) moments, a
    double finish rounded to 6 dp.  Identical SQL text runs in both
    engines.  Property-tested against pandas' spearman on sf0.001
    (tests/test_round9_ops.py)."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_SPEARMAN_SQL)


# Kendall tau-b from the same joint-frequency table: concordant /
# discordant pair MASS via a self-join over <=550 cells (every raw-row
# pair is counted through its cell pair's c_i*c_j product), tie terms
# from the marginals.  The O(cells^2) stage is ~300k cell pairs at ANY
# scale factor — the fact table is touched exactly once.
_KENDALL_SQL = """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
nn AS (SELECT CAST(sum(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS n FROM cells),
conc AS (
  SELECT CAST(COALESCE(sum(CAST(a.c AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))), 0) AS DOUBLE) AS cc
  FROM cells a JOIN cells b ON a.q < b.q AND a.d < b.d
),
disc AS (
  SELECT CAST(COALESCE(sum(CAST(a.c AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))), 0) AS DOUBLE) AS dd
  FROM cells a JOIN cells b ON a.q < b.q AND a.d > b.d
),
tq AS (
  SELECT CAST(COALESCE(sum(CAST(cq AS DECIMAL(38,0)) * CAST(cq - 1 AS DECIMAL(38,0))), 0) AS DOUBLE) / 2 AS t1
  FROM (SELECT CAST(sum(c) AS BIGINT) AS cq FROM cells GROUP BY q) mq
),
td AS (
  SELECT CAST(COALESCE(sum(CAST(cd AS DECIMAL(38,0)) * CAST(cd - 1 AS DECIMAL(38,0))), 0) AS DOUBLE) / 2 AS t2
  FROM (SELECT CAST(sum(c) AS BIGINT) AS cd FROM cells GROUP BY d) md
)
SELECT CAST(nn.n AS BIGINT) AS n_rows,
       round((conc.cc - disc.dd)
             / nullif(sqrt((nn.n * (nn.n - 1) / 2 - tq.t1)
                           * (nn.n * (nn.n - 1) / 2 - td.t2)), 0), 6)
         AS kendall_tau_b
FROM nn, conc, disc, tq, td
"""


@query(
    "stats_kendall_tau",
    "§2.18 Kendall tau-b (tie-corrected, cell-pair mass formulation)",
    _KENDALL_SQL,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between l_quantity and l_discount.  The naive
    definition is O(n^2) over raw rows — 1.8e11 pairs at sf0.1,
    impossible at 100 TB.  The cell formulation computes the SAME
    statistic exactly: concordant/discordant pair mass is a self-join
    over the <=550-cell joint-frequency table (sum of c_i*c_j over
    cell pairs with both strict orders), tie corrections come from the
    marginal counts, so the quadratic piece is SF-INDEPENDENT and the
    facts are scanned once.  All masses are exact DECIMAL(38,0); the
    tau finish is a rounded double.  Same SQL text in both engines;
    pandas kendall (tau-b) cross-check in tests/test_round9_ops.py."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_KENDALL_SQL)


# Categorical association battery on the (o_orderpriority,
# o_orderstatus) contingency table: chi-square, Cramer's V, mutual
# information.  The full r x c grid (including structurally-zero
# cells, which still contribute their expectation to chi-square) is
# materialized by a cross join of the two tiny margin tables.
_ASSOCIATION_SQL = """
WITH ct AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM ct GROUP BY a),
mb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM ct GROUP BY b),
nt AS (SELECT CAST(sum(n) AS DOUBLE) AS t,
              CAST(count(DISTINCT a) AS DOUBLE) AS r,
              CAST(count(DISTINCT b) AS DOUBLE) AS c
       FROM ct),
grid AS (
  SELECT ma.a, mb.b,
         CAST(COALESCE(ct.n, 0) AS DOUBLE) AS o,
         CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE) / nt.t AS e
  FROM ma CROSS JOIN mb CROSS JOIN nt
  LEFT JOIN ct ON ct.a = ma.a AND ct.b = mb.b
),
stats AS (
  SELECT sum((o - e) * (o - e) / e) AS chi2,
         sum(CASE WHEN o > 0 THEN (o / nt.t) * ln(o * nt.t / (e * nt.t)) ELSE 0 END) AS mi
  FROM grid CROSS JOIN nt
  GROUP BY nt.t
)
SELECT 'n_rows' AS metric, nt.t AS value FROM nt
UNION ALL
SELECT 'chi2_stat', round(stats.chi2, 4) FROM stats
UNION ALL
SELECT 'cramers_v',
       round(sqrt(stats.chi2 / (nt.t * (least(nt.r, nt.c) - 1))), 6)
FROM stats CROSS JOIN nt
UNION ALL
SELECT 'mutual_info_nats', round(stats.mi, 6) FROM stats
"""


@query(
    "stats_association_battery",
    "§2.18 categorical association: chi-square + Cramer's V + mutual information",
    _ASSOCIATION_SQL,
)
def stats_association_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association strength between two categorical columns — the
    profiling step that decides whether a column pair is worth a
    composite partition key or a learned feature cross.  One hash-agg
    collapses orders to the r x c contingency table (15 cells); the
    full grid INCLUDING zero cells (which still add their expectation
    to chi-square) comes from crossing the margin tables; chi-square,
    Cramer's V (effect size normalized to [0,1]) and mutual
    information (nats) are O(r*c) finishes.  stats_chi_square covers
    the independence TEST on events; this battery adds the
    effect-size/information measures on a second fixture pair.  Same
    SQL text both engines; MI >= 0 and V in [0,1] property-tested."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_ASSOCIATION_SQL)


# Benford first-digit diagnostic: the leading significant digit of a
# naturally-spanning positive amount should follow log10(1 + 1/d).
_BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice >= 1
),
obs AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d),
nt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM obs),
grid AS (
  SELECT dd.d, CAST(COALESCE(obs.n, 0) AS BIGINT) AS n,
         log10(1.0 + 1.0 / dd.d) AS p_exp
  FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)) dd(d)
  LEFT JOIN obs ON obs.d = dd.d
)
SELECT grid.d AS digit, grid.n AS n_obs,
       round(CAST(grid.n AS DOUBLE) / nt.t, 6) AS p_obs,
       round(grid.p_exp, 6) AS p_exp,
       round(SUM(nt.t * (CAST(grid.n AS DOUBLE) / nt.t - grid.p_exp)
                 * (CAST(grid.n AS DOUBLE) / nt.t - grid.p_exp) / grid.p_exp)
             OVER (), 4) AS chi2_stat
FROM grid CROSS JOIN nt
"""


@query(
    "stats_benford_digits",
    "§2.18 Benford first-digit distribution + chi-square deviation",
    _BENFORD_SQL,
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs
    Benford's law — the classic anomaly/fabrication screen for
    naturally-spanning amounts (a synthetic fixture will deviate;
    the DIAGNOSTIC shape, per-digit observed vs expected plus the
    chi-square deviation, is what the operator delivers).  The digit
    is taken lexically from the integer part (no float log10 digit
    extraction, whose boundary behavior at exact powers of ten is
    libm-dependent).  One 9-group hash-agg at any scale; the grid
    LEFT JOIN keeps absent digits at n=0 so the statistic is total.
    Same SQL text in both engines."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_BENFORD_SQL)


# One-way ANOVA from exact per-group moments: SSB/SSW need only
# (n_g, sum_g, sumsq_g) — mergeable state, one partial-agg'd pass.
_ANOVA_SQL = """
WITH v AS (
  SELECT o_orderpriority AS g,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
  FROM orders
),
per AS (
  SELECT g, CAST(count(*) AS DOUBLE) AS ng,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
  FROM v GROUP BY g
),
tot AS (
  SELECT CAST(sum(ng) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS k,
         sum(sx) AS sx, sum(sxx) AS sxx, sum(sx * sx / ng) AS sgm
  FROM per
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_groups,
       round(((sgm - sx * sx / n) / (k - 1))
             / nullif((sxx - sgm) / (n - k), 0), 4) AS f_stat
FROM tot
"""


@query(
    "stats_anova_oneway",
    "§2.18 one-way ANOVA F statistic (exact mergeable moments)",
    _ANOVA_SQL,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across o_orderpriority groups on integer-cents
    o_totalprice: F = (SSB/(k-1)) / (SSW/(n-k)), computed entirely
    from per-group (count, sum, sum-of-squares) — the mergeable-state
    decomposition (SSW = sum(x^2) - sum_g n_g*mean_g^2) that makes
    ANOVA one partial-aggregated hash-agg over the facts plus an O(k)
    finish, the same distributed-moments pattern as
    stats_ols_two_feature.  Cents sums are exact DECIMAL(38,0), so
    partition order cannot flip a bit before the 5-row double finish
    (rounded to 4 dp).  Complements stats_ttest_welch (2 groups) and
    stats_levene_test (variance homogeneity) with the k-group mean
    test.  Same SQL text in both engines."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_ANOVA_SQL)


# Holt linear (double-exponential) smoothing over the bounded daily
# series, expressed as ONE recursive CTE shared by both engines so
# the level/trend recursion performs the identical double-precision
# operation sequence.
_HOLT_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
         CAST(rev AS DOUBLE) / 100.0 AS y
  FROM (
    SELECT date_trunc('day', ts) AS d,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY 1
  ) t
),
hw(i, l, b) AS (
  SELECT CAST(1 AS BIGINT), d1.y,
         (SELECT y FROM daily WHERE i = 2) - d1.y
  FROM daily d1 WHERE d1.i = 1
  UNION ALL
  SELECT d.i,
         0.5 * d.y + 0.5 * (h.l + h.b),
         0.25 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b
  FROM hw h JOIN daily d ON d.i = h.i + 1
)
SELECT (SELECT CAST(max(i) AS BIGINT) FROM daily) AS n_days,
       round(l, 4) AS final_level,
       round(b, 4) AS final_trend,
       round(l + 7 * b, 4) AS forecast_7d
FROM hw WHERE i = (SELECT max(i) FROM daily)
"""


@query(
    "ts_holt_linear",
    "§2.18 Holt linear exponential smoothing (shared recursive-CTE recursion)",
    _HOLT_SQL,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double-exponential smoothing of daily
    purchase revenue (alpha=0.5, beta=0.25 — exact binary fractions,
    so the recursion arithmetic is reproducible to the bit), with a
    7-day-ahead forecast: l_t = a*y_t + (1-a)(l_{t-1}+b_{t-1}),
    b_t = B(l_t - l_{t-1}) + (1-B)b_{t-1}, initialized l_1=y_1,
    b_1=y_2-y_1.  Extends ts_ewma_smoothing (level only) with the
    trend component ts_forecast_error needs.  The recursion runs over
    the DAILY series — calendar-bounded and SF-independent (30 rows
    here; 100 TB of events still collapses to one row per day first),
    so the sequential dependency chain never touches raw facts.

    The oracle is a recursive CTE; the Spark side folds the SAME
    recurrence with aggregate() over the day-sorted array instead
    (Spark's recursive CTE executes one job per iteration — measured
    12 s for 30 days — while the fold is one job).  Both perform the
    identical double op sequence on identical cents-exact daily
    inputs, and alpha/beta are exact binary fractions, so the results
    agree to the bit before the 4-dp rounding."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        (
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).cast("double")
            / 100.0
        ).alias("y")
    )
    return daily.agg(
        F.expr("transform(array_sort(collect_list(struct(d, y))), s -> s.y)").alias(
            "ys"
        )
    ).selectExpr(
        "CAST(size(ys) AS BIGINT) AS n_days",
        """aggregate(
             slice(ys, 2, size(ys) - 1),
             named_struct('l', CAST(ys[0] AS DOUBLE),
                          'b', CAST(ys[1] - ys[0] AS DOUBLE)),
             (acc, y) -> named_struct(
                 'l', 0.5 * y + 0.5 * (acc.l + acc.b),
                 'b', 0.25 * ((0.5 * y + 0.5 * (acc.l + acc.b)) - acc.l)
                      + 0.75 * acc.b),
             acc -> acc) AS hb""",
    ).selectExpr(
        "n_days",
        "round(hb.l, 4) AS final_level",
        "round(hb.b, 4) AS final_trend",
        "round(hb.l + 7 * hb.b, 4) AS forecast_7d",
    )


# KL / Jensen-Shannon divergence between two event-type value
# distributions over a shared fixed-width binning — the
# distribution-drift metric in nats (profile_psi_drift is the
# banded-PSI cousin; KL is the information-theoretic one).
_KL_SQL = """
WITH bounds AS (
  SELECT min(value) AS mn, max(value) AS mx
  FROM events WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
),
binned AS (
  SELECT e.event_type,
         CAST(least(19, greatest(0,
           floor((e.value - b.mn) / nullif((b.mx - b.mn) / 20.0, 0)))) AS BIGINT)
           AS bin
  FROM events e CROSS JOIN bounds b
  WHERE e.event_type IN ('purchase', 'view') AND e.value IS NOT NULL
),
counts AS (
  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
  FROM binned GROUP BY event_type, bin
),
grid AS (
  SELECT g.bin,
         CAST(COALESCE(p.n, 0) + 1 AS DOUBLE) AS np,
         CAST(COALESCE(v.n, 0) + 1 AS DOUBLE) AS nv
  FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8), (9), (10),
               (11), (12), (13), (14), (15), (16), (17), (18), (19)) g(bin)
  LEFT JOIN (SELECT bin, n FROM counts WHERE event_type = 'purchase') p
    ON p.bin = g.bin
  LEFT JOIN (SELECT bin, n FROM counts WHERE event_type = 'view') v
    ON v.bin = g.bin
),
tot AS (SELECT sum(np) AS tp, sum(nv) AS tv FROM grid)
SELECT CAST(tot.tp - 20 AS BIGINT) AS n_purchase,
       CAST(tot.tv - 20 AS BIGINT) AS n_view,
       round(sum((grid.np / tot.tp) * ln((grid.np / tot.tp) / (grid.nv / tot.tv))), 6)
         AS kl_pv_nats,
       round(sum((grid.nv / tot.tv) * ln((grid.nv / tot.tv) / (grid.np / tot.tp))), 6)
         AS kl_vp_nats
FROM grid CROSS JOIN tot
GROUP BY tot.tp, tot.tv
"""


@query(
    "stats_kl_divergence",
    "§2.18 KL divergence between two value distributions (smoothed fixed bins)",
    _KL_SQL,
)
def stats_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kullback-Leibler divergence (both directions, nats) between the
    purchase and view value distributions over 20 shared equal-width
    bins with add-one smoothing — smoothing makes every bin mass
    strictly positive, so the log ratios are total without dropping
    bins (the usual KL-on-histograms pitfall).  The drift companion to
    profile_psi_drift: PSI is the banded audit metric, KL the
    information-theoretic loss.  Shape at any SF: one bounds scan,
    one 40-cell hash-agg over the facts, O(bins) finish; the bounds
    row cross-joins in-plan (broadcast, no driver collect).  Same SQL
    text in both engines."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_KL_SQL)


# Label propagation (min-label rounds) on the co-purchase graph —
# queued for the round-10 official run.
_LABEL_PROP_SQL = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
ed AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS lab FROM ed),
l1 AS MATERIALIZED (
  SELECT l.n, CAST(least(l.lab, COALESCE(min(nl.lab), l.lab)) AS BIGINT) AS lab
  FROM l0 l LEFT JOIN ed ON ed.u = l.n LEFT JOIN l0 nl ON nl.n = ed.v
  GROUP BY l.n, l.lab
),
l2 AS MATERIALIZED (
  SELECT l.n, CAST(least(l.lab, COALESCE(min(nl.lab), l.lab)) AS BIGINT) AS lab
  FROM l1 l LEFT JOIN ed ON ed.u = l.n LEFT JOIN l1 nl ON nl.n = ed.v
  GROUP BY l.n, l.lab
),
l3 AS MATERIALIZED (
  SELECT l.n, CAST(least(l.lab, COALESCE(min(nl.lab), l.lab)) AS BIGINT) AS lab
  FROM l2 l LEFT JOIN ed ON ed.u = l.n LEFT JOIN l2 nl ON nl.n = ed.v
  GROUP BY l.n, l.lab
)
SELECT sz AS community_size, CAST(count(*) AS BIGINT) AS n_communities
FROM (SELECT lab, CAST(count(*) AS BIGINT) AS sz FROM l3 GROUP BY lab) c
GROUP BY sz
"""


@query(
    "graph_label_propagation",
    "§2.18 min-label propagation (3 BSP rounds) — community size histogram",
    _LABEL_PROP_SQL,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation on the co-purchase graph:
    every node starts labeled with its own id; each round a node takes
    the min of its label and its neighbors' labels.  Three unrolled
    rounds (the graph_pagerank/kcore discipline — bounded rounds,
    per-round lineage checkpoint), reported as the community-size
    histogram, which discriminates convergence progress at every SF.
    Run to fixpoint this is connected components (llm_dedup_clusters
    runs that fixpoint on LSH pairs); the FIXED-round form is the
    per-iteration cost model a scheduler needs: each round is one
    neighbor join (shuffle on the node key) + one min hash-agg —
    work O(E) per round, state one label per node, the textbook
    BSP/Pregel shape.  Min-label (not mode-label) keeps every round
    deterministic — no tie-break randomness.  The oracle unrolls the
    same three rounds as MATERIALIZED CTEs (DuckDB re-inlines chained
    CTEs otherwise — the graph_kcore finding)."""
    e0 = copurchase_edges(spark, sf_dir)
    ed = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = ed.select(F.col("u").alias("n")).distinct().withColumn("lab", F.col("n"))
    for _ in range(3):
        nb_min = (
            ed.join(labels.withColumnRenamed("n", "v").withColumnRenamed("lab", "nlab"), "v")
            .groupBy("u")
            .agg(F.min("nlab").alias("nb"))
        )
        labels = (
            labels.join(nb_min.withColumnRenamed("u", "n"), "n", "left")
            .select(
                "n",
                F.least(F.col("lab"), F.coalesce(F.col("nb"), F.col("lab"))).alias("lab"),
            )
            .transform(lineage_checkpoint_lazy)
        )
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    return sizes.groupBy(F.col("sz").alias("community_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities")
    )


@query(
    "ts_sessionize_gap_percentile",
    "§2.18 sessionization with a DATA-DRIVEN gap (p90 of inter-event gaps)",
    """
    WITH e AS (
      SELECT user_id, event_id,
             epoch_us(date_trunc('microseconds', ts)) AS tsu
      FROM events
    ),
    gaps AS (
      SELECT tsu - lag(tsu) OVER (PARTITION BY user_id
                                  ORDER BY tsu, event_id) AS gap
      FROM e
    ),
    thr AS (
      SELECT CAST(quantile_disc(gap, 0.9) AS BIGINT) AS thr_us
      FROM gaps WHERE gap IS NOT NULL
    ),
    marked AS (
      SELECT e.user_id,
             CASE WHEN lag(e.tsu) OVER (PARTITION BY e.user_id
                                        ORDER BY e.tsu, e.event_id) IS NULL
                    OR e.tsu - lag(e.tsu) OVER (PARTITION BY e.user_id
                                                ORDER BY e.tsu, e.event_id)
                       > thr.thr_us
                  THEN 1 ELSE 0 END AS is_new
      FROM e CROSS JOIN thr
    )
    SELECT (SELECT thr_us FROM thr) AS threshold_us,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(is_new) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events,
           round(count(*) * 1.0 / sum(is_new), 4) AS events_per_session
    FROM marked
    """,
)
def ts_sessionize_gap_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization where the gap threshold is LEARNED from the
    data — the p90 of all inter-event gaps (exact integer µs,
    percentile_disc, whose rank convention is proven identical to
    DuckDB's quantile_disc by test_exact_quantile_convention_*) —
    instead of ts_sessionize_batch's fixed 30 minutes.  The
    operational loop: profile the gap distribution once, sessionize
    with the learned cut, re-profile as behavior drifts.  Shape at
    any SF: one user_id window pass for gaps, a single-value
    percentile aggregate broadcast back (scalar cross join — no
    driver collect), one more window pass to mark session starts —
    two shuffles on user_id total, both partition-local after the
    exchange.  A new session starts when the gap strictly exceeds
    the threshold (ties at the threshold merge — the closed-boundary
    convention ts_session_window_builtin pins)."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        WITH e AS (
          SELECT user_id, event_id, unix_micros(ts) AS tsu FROM events
        ),
        gaps AS (
          SELECT tsu - lag(tsu) OVER (PARTITION BY user_id
                                      ORDER BY tsu, event_id) AS gap
          FROM e
        ),
        thr AS (
          SELECT CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap) AS BIGINT)
                   AS thr_us
          FROM gaps WHERE gap IS NOT NULL
        ),
        marked AS (
          SELECT e.user_id,
                 CASE WHEN lag(e.tsu) OVER (PARTITION BY e.user_id
                                            ORDER BY e.tsu, e.event_id) IS NULL
                        OR e.tsu - lag(e.tsu) OVER (PARTITION BY e.user_id
                                                    ORDER BY e.tsu, e.event_id)
                           > thr.thr_us
                      THEN 1 ELSE 0 END AS is_new
          FROM e CROSS JOIN thr
        )
        SELECT (SELECT thr_us FROM thr) AS threshold_us,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(is_new) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events,
               round(count(*) * 1.0 / sum(is_new), 4) AS events_per_session
        FROM marked
        """
    )


# Link prediction over the customer-part bipartite graph (officially
# verified round 9, slot 50).
#
# Hub cap: a customer whose trailing-window basket exceeds this many
# distinct parts is dropped before the wedge self-join, bounding the
# per-customer fan-out at cap² regardless of corpus size.  Fixture max
# basket is 80 (measured at sf0.001/0.01/0.1), so 256 is a no-op here —
# asserted by test_link_prediction_hub_cap_noop — and the capless SQL
# oracle below stays hash-identical.
_LINK_PRED_HUB_CAP = 256

_LINK_PRED_SQL = """
WITH bip AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= DATE '1998-01-01'
),
degc AS MATERIALIZED (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM bip GROUP BY c),
degp AS MATERIALIZED (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM bip GROUP BY p),
wed AS (
  SELECT a.p AS pa, b.p AS pb, a.c AS c
  FROM bip a JOIN bip b ON a.c = b.c AND a.p < b.p
),
pairs AS (
  SELECT w.pa, w.pb,
         CAST(count(*) AS BIGINT) AS common_cnt,
         round(sum(1.0 / ln(degc.dc)), 6) AS adamic_adar
  FROM wed w JOIN degc ON degc.c = w.c
  GROUP BY w.pa, w.pb
)
SELECT pairs.pa AS part_a, pairs.pb AS part_b,
       pairs.common_cnt, da.dp AS deg_a, db.dp AS deg_b,
       round(CAST(pairs.common_cnt AS DOUBLE)
             / (da.dp + db.dp - pairs.common_cnt), 6) AS jaccard,
       pairs.adamic_adar
FROM pairs JOIN degp da ON da.p = pairs.pa JOIN degp db ON db.p = pairs.pb
ORDER BY pairs.common_cnt DESC, pairs.pa, pairs.pb
LIMIT 20
"""


@query(
    "graph_link_prediction",
    "§2.19 link prediction: Jaccard + Adamic-Adar over shared customers",
    _LINK_PRED_SQL,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item link prediction ("customers who bought X also bought
    Y") — the top part pairs by number of SHARED customers, scored
    with the two classic common-neighbor indices: Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)| and Adamic-Adar Σ_c 1/ln(deg(c)),
    which discounts a shared customer by how promiscuous their basket
    is (a power buyer connecting everything carries little signal).

    Shape: the wedge enumeration runs over the customer-part
    BIPARTITE table, not the dense co-purchase projection — wedges
    per customer are basket² with TPC-H baskets ~25, so the fan-out
    is ~13M rows at sf0.1 versus the 298M the part-part projection
    would produce (measured; the projection's hub degrees ~120 make
    Σdeg² explode).  The model is TRAILING-WINDOW (orders from
    1998-01-01 on, the fixture's final ~8 months) — the production CF
    choice (stale co-purchases decay out of the model) and the date
    predicate pushes to the orders scan, cutting wedges a further 3×
    (4.2M, measured).  One self-equi-join shuffled on customer, one
    hash-agg on the pair key, two broadcast-size degree joins, then a
    global top-k (TakeOrdered, no single-partition window).  At
    100 TB the unbounded hub risk is a customer with a million-item
    basket: baskets are CAPPED at _LINK_PRED_HUB_CAP before the
    self-join (hub customers are dropped entirely — a basket that
    connects everything carries ~zero Adamic-Adar signal, 1/ln(dc),
    and the standard CF treatment is to discard it), bounding the
    fan-out at ≤ cap² per customer — linear in customers.  The cap
    is a proven no-op on the fixture (max basket 80 at sf0.001/0.01/
    0.1 vs cap 256 — asserted by test_link_prediction_hub_cap_noop),
    so the capless oracle stays hash-identical while the plan carries
    the guard.  Ranking is (common_cnt DESC, pa, pb) — an integer
    key with a total tie-break, so top-20 is deterministic at every
    SF.  Adamic-Adar is a double sum rounded to 6 dp (the stats_kl
    discipline); Jaccard divides exact bigints in one expression,
    identical SQL text in both engines."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    od = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"))
        .select("o_orderkey", "o_custkey")
    )
    # four consumers (degc, degp, both self-join sides) — checkpoint so
    # the join+distinct runs once, not four times (copurchase_edges
    # staging discipline)
    bip = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(lineage_checkpoint_lazy)
    )
    degc = bip.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("dc"))
    degp = bip.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("dp"))
    # attach the shared-customer degree BEFORE the self-join (broadcast
    # onto the 550k-row bipartite table), not after (a second pass over
    # the 13M-row wedge table) — measured 43s -> 6s at sf0.1 together
    # with the early top-k below.  The hub cap drops customers whose
    # basket exceeds _LINK_PRED_HUB_CAP; filtering side `a` alone
    # suffices (a.join(b, "c") emits nothing for a customer absent
    # from `a`), so `b` needs no degree join at all.
    a = (
        bip.join(F.broadcast(degc), "c")
        .filter(F.col("dc") <= _LINK_PRED_HUB_CAP)
        .select("c", F.col("p").alias("pa"), "dc")
    )
    b = bip.select(F.col("c"), F.col("p").alias("pb"))
    wed = a.join(b, "c").filter(F.col("pa") < F.col("pb"))
    # pack the pair key into ONE long (pa << 32 | pb): the 4M-group
    # hash aggregate is the query's hot spot (nearly every pair is
    # unique, so partial agg can't reduce), and a single 8-byte key
    # measurably halves it vs a two-column key (13.5s -> 4-8s at
    # sf0.1).  Precondition: partkey < 2^32 (TPC-H partkeys are dense
    # ints — 2e8 even at SF1000); k's lexicographic order equals
    # (pa, pb) order for non-negative ids, so the tie-break is
    # unchanged.
    # Collision guard (ADVICE r10): the precondition must fail LOUDLY,
    # not silently merge distinct pairs' counts.  pa < pb, so checking
    # pb alone covers both halves; assert_true is one int compare per
    # row inside whole-stage codegen (a separate max(partkey) probe
    # would cost an extra job), and wrapping the packed key in
    # when(guard IS NULL, ...) keeps the assert un-prunable.
    _pk_guard = F.assert_true(
        F.col("pb") < F.lit(1 << 32),
        F.lit("graph_link_prediction: partkey >= 2^32 would collide the packed pair key"),
    )
    wed_k = wed.select(
        F.when(
            _pk_guard.isNull(),
            F.shiftleft(F.col("pa").cast("long"), 32) + F.col("pb"),
        ).alias("k"),
        "dc",
    )
    # Optimization r15 (guide §2.5, the _stage_candidates precedent):
    # with parallelismFirst=false and a ~60 MB shuffle, AQE coalesced
    # the 4M-group aggregation to ~one task — nearly every pair is
    # unique, so the whole reduce ran serially. Pin the exchange at
    # cluster width (REPARTITION_BY_NUM survives AQE); the groupBy
    # reuses the partitioning, so no second exchange appears.
    # Measured 7.1 s → 2.7 s for the agg+top stage at sf0.1.
    pairs = wed_k.repartition(
        spark.sparkContext.defaultParallelism, "k"
    ).groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_cnt"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("dc"))), 6).alias("adamic_adar"),
    )
    # the ranking key (common_cnt, k) needs no degrees — cut to 20
    # rows FIRST (TakeOrdered, distributed), then degree-join 20 rows
    top = (
        pairs.orderBy(F.desc("common_cnt"), "k")
        .limit(20)
        .select(
            F.shiftrightunsigned("k", 32).alias("pa"),
            F.col("k").bitwiseAND(F.lit((1 << 32) - 1)).alias("pb"),
            "common_cnt",
            "adamic_adar",
        )
    )
    res = (
        top.join(F.broadcast(degp.withColumnRenamed("p", "pa").withColumnRenamed("dp", "deg_a")), "pa")
        .join(F.broadcast(degp.withColumnRenamed("p", "pb").withColumnRenamed("dp", "deg_b")), "pb")
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "common_cnt",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common_cnt").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_cnt")),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
    )
    return res.orderBy(F.desc("common_cnt"), "part_a", "part_b").limit(20)


# Wald-Wolfowitz runs test — queued for the round-10 official run.
# Finish SQL is IDENTICAL text in both engines (exact integer counts in,
# one double expression out); only the discrete-median call differs
# (percentile_disc vs quantile_disc, convention proven equal by
# test_exact_quantile_convention_*).
_RUNS_FINISH_SQL = """
signs AS (
  SELECT d,
         CASE WHEN v > m.med THEN 1 WHEN v < m.med THEN -1 END AS s
  FROM daily CROSS JOIN m
),
seq AS (
  SELECT s, lag(s) OVER (ORDER BY d) AS prev
  FROM signs WHERE s IS NOT NULL
),
c AS (
  SELECT CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END) AS BIGINT)
           AS runs
  FROM seq
)
SELECT n1 AS n_above, n2 AS n_below, runs AS n_runs,
       round(CAST(2 AS DOUBLE) * n1 * n2 / (n1 + n2) + 1, 6) AS expected_runs,
       round((runs - (CAST(2 AS DOUBLE) * n1 * n2 / (n1 + n2) + 1))
             / sqrt(CAST(2 AS DOUBLE) * n1 * n2 * (CAST(2 AS DOUBLE) * n1 * n2 - n1 - n2)
                    / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1))),
             6) AS z_stat
FROM c
"""

_RUNS_DAILY_SQL = """
daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) AS v
  FROM orders GROUP BY o_orderdate
),
"""


@query(
    "stats_runs_test",
    "§2.19 Wald-Wolfowitz runs test (randomness of daily revenue about its median)",
    "WITH "
    + _RUNS_DAILY_SQL
    + "m AS (SELECT CAST(quantile_disc(v, 0.5) AS BIGINT) AS med FROM daily),"
    + _RUNS_FINISH_SQL,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the daily-revenue series random
    about its median, or does it trend/mean-revert?  Each day gets a
    sign (above/below the discrete median; exact-median days are
    excluded, the textbook convention), a run starts wherever the
    sign flips, and the observed run count is z-scored against the
    exact null moments mu = 2*n1*n2/(n1+n2) + 1 and the matching
    variance.  Everything upstream of z is an exact integer: daily
    revenue is an exact cent sum (DECIMAL), the median is a sample
    value (percentile_disc, the convention test_exact_quantile_*
    pins to DuckDB's quantile_disc), and n1/n2/runs are counts — so
    the one double expression at the end is bit-identical from the
    same SQL text in both engines.  Shape at any SF: one map-side
    partial agg over orders to ~2400 daily rows, a single-value
    median broadcast back in-plan (scalar cross join), one ordered
    window over the DAILY table (O(days), never over the facts) —
    the raw orders are scanned once and never sorted."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        "WITH "
        + _RUNS_DAILY_SQL
        + "m AS (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)"
        "  AS BIGINT) AS med FROM daily),"
        + _RUNS_FINISH_SQL
    )


# Jarque-Bera normality test — queued for the round-10 official run.
# One SQL text for both engines: every aggregate is an exact integer
# (shifted bigint power sums; the shift keeps products inside BIGINT
# and kills the raw-moment cancellation), the statistic is one double
# expression at the end.
_JB_SQL = """
WITH daily AS (
  SELECT CAST(floor(sum(o_totalprice) / 1000) AS BIGINT) AS x
  FROM orders GROUP BY o_orderdate
),
k AS (
  SELECT CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS kk,
         CAST(count(*) AS BIGINT) AS n
  FROM daily
),
s AS (
  SELECT max(k.n) AS n, max(k.kk) AS kk,
         sum(CAST((x - kk) AS DECIMAL(38,0))) AS s1,
         sum(CAST((x - kk) * (x - kk) AS DECIMAL(38,0))) AS s2,
         sum(CAST((x - kk) * (x - kk) * (x - kk) AS DECIMAL(38,0))) AS s3,
         sum(CAST((x - kk) * (x - kk) * (x - kk) * (x - kk) AS DECIMAL(38,0))) AS s4
  FROM daily CROSS JOIN k
),
m AS (
  SELECT n, kk,
         CAST(s1 AS DOUBLE) / n AS d1, CAST(s2 AS DOUBLE) / n AS d2,
         CAST(s3 AS DOUBLE) / n AS d3, CAST(s4 AS DOUBLE) / n AS d4
  FROM s
),
c AS (
  SELECT n, kk, d1,
         d2 - d1 * d1 AS m2,
         d3 - 3 * d1 * d2 + 2 * d1 * d1 * d1 AS m3,
         d4 - 4 * d1 * d3 + 6 * d1 * d1 * d2 - 3 * d1 * d1 * d1 * d1 AS m4
  FROM m
),
g AS (
  SELECT n, kk, d1, m2,
         m3 / power(m2, 1.5) AS skew,
         m4 / (m2 * m2) AS kurt
  FROM c
)
SELECT n AS n_days,
       round(kk + d1, 4) AS mean_krevenue,
       round(skew, 6) AS skewness,
       round(kurt, 6) AS kurtosis,
       round(n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4), 4) AS jb_stat,
       round(exp(-(n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4)) / 2), 6)
         AS p_value
FROM g
"""


@query(
    "stats_jarque_bera",
    "§2.19 Jarque-Bera normality test on daily revenue (exact shifted moments)",
    _JB_SQL,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on the daily-revenue series — the
    CLT makes a day's total (a sum of ~60 orders) approximately
    normal, so unlike testing a raw uniform column this produces a
    discriminating p-value.  JB = n/6*(skew² + (kurt-3)²/4) is
    asymptotically chi-square with 2 df, whose survival function is
    EXACTLY exp(-x/2) — no erf needed, the p-value is closed-form.

    Numerics: daily revenue is floored to exact $1000-unit bigints,
    shifted by an in-plan integer pre-mean (floor of the true mean, a
    second tiny pass over the ~2400-row daily table) so every power
    product fits in BIGINT (|y| <= ~5e3 at sf0.1 -> y^4 <= 6.25e14)
    and the raw-moment identity runs on near-centered values — no
    catastrophic cancellation, unlike raw Σx^4 at 1e28.  The products
    are exact BIGINTs cast to DECIMAL(38,0) only for the SUM (wide
    sums are portable; wide multiplies are not — DuckDB errors past
    width 38).  Partial aggregation order cannot flip a bit anywhere;
    the closing double expression is the same SQL text in both
    engines.  At any SF: one map-side partial agg over orders, two
    O(days) passes — the facts are scanned once; at a larger SF bump
    the $1000 unit so the shifted fourth power stays inside BIGINT
    (documented, data-independent switch)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_JB_SQL)


# Benjamini-Hochberg FDR over per-nation proportion tests — queued for
# the round-10 official run.  One SQL text for both engines: the
# normal-tail p-value uses the Abramowitz-Stegun 7.1.26 erf polynomial
# (|err| < 1.5e-7) written out inline, so both engines evaluate the
# IDENTICAL double expression — no engine erf needed (neither Spark nor
# DuckDB exposes one).
_FDR_ERF = (
    "(1 - (((((1.061405429 * (1 / (1 + 0.3275911 * (abs(z) / sqrt(2))))"
    " - 1.453152027) * (1 / (1 + 0.3275911 * (abs(z) / sqrt(2))))"
    " + 1.421413741) * (1 / (1 + 0.3275911 * (abs(z) / sqrt(2))))"
    " - 0.284496736) * (1 / (1 + 0.3275911 * (abs(z) / sqrt(2))))"
    " + 0.254829592) * (1 / (1 + 0.3275911 * (abs(z) / sqrt(2))))"
    " * exp(-(abs(z) / sqrt(2)) * (abs(z) / sqrt(2)))))"
)

_FDR_SQL = f"""
WITH joined AS (
  SELECT c.c_nationkey AS nk,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
         CAST(count(*) AS BIGINT) AS m
  FROM joined
),
zt AS (
  SELECT j.nk, j.n, j.k, t.m,
         (CAST(j.k AS DOUBLE) / j.n - CAST(t.kk - j.k AS DOUBLE) / (t.nn - j.n))
         / sqrt((CAST(t.kk AS DOUBLE) / t.nn) * (1 - CAST(t.kk AS DOUBLE) / t.nn)
                * (CAST(1 AS DOUBLE) / j.n + CAST(1 AS DOUBLE) / (t.nn - j.n)))
           AS z
  FROM joined j CROSS JOIN tot t
),
pv AS (
  SELECT nk, n, k, m, z, 1 - {_FDR_ERF} AS p
  FROM zt
),
ranked AS (
  SELECT nk, n, k, m, z, p,
         row_number() OVER (ORDER BY p, nk) AS rnk
  FROM pv
),
adj AS (
  SELECT nk, n, k, z, p, rnk,
         least(min(p * m / rnk) OVER (ORDER BY rnk DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW),
               CAST(1 AS DOUBLE)) AS p_adj
  FROM ranked
)
SELECT nk AS nationkey, n AS n_orders, k AS n_urgent,
       round(z, 4) AS z_stat, round(p, 6) AS p_value,
       round(p_adj, 6) AS p_bh,
       CASE WHEN p_adj <= 0.10 THEN 1 ELSE 0 END AS rejected
FROM adj
"""


@query(
    "stats_fdr_bh",
    "§2.19 Benjamini-Hochberg FDR over 25 per-nation proportion tests",
    _FDR_SQL,
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiple-testing correction every per-segment dashboard
    needs and almost none apply: test all 25 nations for an
    urgent-order-share different from the rest of the world, then
    control the FALSE DISCOVERY RATE with Benjamini-Hochberg instead
    of reading 25 raw p-values (at alpha=0.10, ~2.5 nations would
    "significant" by chance alone).  Step-up BH = rank the p-values,
    adjusted p_i = min over j>=i of p_j * m / j, capped at 1 — the
    suffix-min is one window running-min read in DESCENDING rank
    order, the rank a row_number with a total (p, nation) tie-break.

    The two-proportion z per nation reuses the stats_proportion_ztest
    discipline (exact integer counts in, one shared double expression
    out); the normal tail converts z to p through the
    Abramowitz-Stegun erf polynomial INLINED in the SQL text —
    neither engine has erf, and a shared 5-term polynomial evaluated
    identically is bit-reproducible where two libm erfs would not be.
    Shape at any SF: facts partial-agg to 25 rows behind a broadcast
    customer join; every window runs over 25 rows.  The 2-row
    grouped z + the m-way correction generalizes to thousands of
    segments — the windows stay O(segments), never O(facts)."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_FDR_SQL)


# Hampel robust outlier filter over the daily-revenue series — queued
# for the round-10 official run.  The rolling median/MAD neighborhood
# is materialized with an explicit day-offset equi-join (CROSS JOIN a
# 7-row offset table, join on the shifted date) — a distributed
# equi-join at any SF where a BETWEEN range join would be a broadcast
# nested loop.  Engine texts differ only in the discrete-median call
# (percentile_disc vs quantile_disc, proven-equal convention) and the
# date-shift spelling (date_add vs date + int).
_HAMPEL_FINISH = """
SELECT f.d, f.v AS revenue_cents, f.med AS med_cents, f.mad AS mad_cents,
       round(CAST(abs(f.v - f.med) AS DOUBLE) / (1.4826 * f.mad), 4) AS ratio,
       CASE WHEN abs(f.v - f.med) > 3 * 1.4826 * f.mad THEN 1 ELSE 0 END
         AS is_outlier
FROM fin f
ORDER BY CAST(abs(f.v - f.med) AS DOUBLE) / (1.4826 * f.mad) DESC, f.d
LIMIT 10
"""


def _hampel_sql(median_call: str, shift: str) -> str:
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) AS v
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
offs AS (SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS o(k)),
nb1 AS (
  SELECT a.d, {median_call.format(x="b.v")} AS med, count(*) AS cnt
  FROM daily a CROSS JOIN offs o JOIN daily b ON b.d = {shift}
  GROUP BY a.d HAVING count(*) = 7
),
nb2 AS (
  SELECT a.d, a.med, a.cnt,
         {median_call.format(x="abs(b.v - a.med)")} AS mad
  FROM nb1 a CROSS JOIN offs o JOIN daily b ON b.d = {shift}
  GROUP BY a.d, a.med, a.cnt
),
fin AS (
  SELECT n.d, dd.v, n.med, n.mad
  FROM nb2 n JOIN daily dd ON dd.d = n.d
  WHERE n.mad > 0
)
{_HAMPEL_FINISH}
"""


@query(
    "ts_hampel_outliers",
    "§2.19 Hampel filter: rolling-median/MAD robust outliers on daily revenue",
    _hampel_sql("CAST(quantile_disc({x}, 0.5) AS BIGINT)", "a.d + o.k"),
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter — the ROBUST outlier detector ts_anomaly_zscore's
    mean/stddev version is not: a day is anomalous when it sits more
    than 3 scaled MADs from the rolling 7-day MEDIAN, so a single
    spike cannot drag its own threshold the way it inflates a rolling
    mean and stddev (masking).  1.4826 is the MAD-to-sigma
    consistency constant for the normal.

    Everything upstream of the ratio is an exact integer: cent-exact
    daily sums, discrete rolling medians (4th of 7 order statistics),
    integer absolute deviations, integer MAD — both engines agree
    bit-for-bit before the single shared double expression.  Edge
    days without a full 7-day window are excluded (HAVING cnt = 7,
    the no-partial-window convention).  Shape at any SF: one
    map-side partial agg over the facts, then two equi-joins of the
    O(days) daily table against itself via a 7-row offset table —
    shuffle keys are dates, work is O(7·days); a BETWEEN range join
    would instead be a broadcast nested loop.  Reported: the top-10
    days by deviation ratio (integer-backed ordering with a date
    tie-break) with their outlier flags."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _hampel_sql(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY {x}) AS BIGINT)",
            "date_add(a.d, o.k)",
        )
    )


# Fisher's exact test — queued for the round-10 official run.  The
# log-factorial spine and the hypergeometric tail are SHARED SQL text;
# only the integer-series generator differs per engine.
_FISHER_BODY = """
ct AS (
  SELECT CAST(sum(f1 * f2) AS BIGINT) AS a,
         CAST(sum(f1 * (1 - f2)) AS BIGINT) AS b,
         CAST(sum((1 - f1) * f2) AS BIGINT) AS c,
         CAST(sum((1 - f1) * (1 - f2)) AS BIGINT) AS d,
         CAST(sum(f1) AS BIGINT) AS kk,
         CAST(sum(f2) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS n
  FROM s
),
spine AS (
  SELECT i.i,
         sum(CASE WHEN i.i < 2 THEN CAST(0 AS DOUBLE)
                  ELSE ln(CAST(i.i AS DOUBLE)) END)
           OVER (ORDER BY i.i) AS lnf
  FROM ints i
),
terms AS (
  SELECT ks.k, ct.a, ct.b, ct.c, ct.d, ct.kk, ct.nn, ct.n,
         (SELECT lnf FROM spine WHERE spine.i = ct.kk)
         + (SELECT lnf FROM spine WHERE spine.i = ct.n - ct.kk)
         + (SELECT lnf FROM spine WHERE spine.i = ct.nn)
         + (SELECT lnf FROM spine WHERE spine.i = ct.n - ct.nn)
         - (SELECT lnf FROM spine WHERE spine.i = ct.n)
         - (SELECT lnf FROM spine WHERE spine.i = ks.k)
         - (SELECT lnf FROM spine WHERE spine.i = ct.kk - ks.k)
         - (SELECT lnf FROM spine WHERE spine.i = ct.nn - ks.k)
         - (SELECT lnf FROM spine WHERE spine.i = ct.n - ct.kk - ct.nn + ks.k)
           AS lnp
  FROM ks CROSS JOIN ct
),
acc AS (
  SELECT k, a, b, c, d, lnp,
         sum(exp(lnp)) OVER (ORDER BY k) AS cump
  FROM terms
)
SELECT a AS n_both, b AS n_flag1_only, c AS n_flag2_only, d AS n_neither,
       round(CAST((a + 0.5) * (d + 0.5) AS DOUBLE)
             / CAST((b + 0.5) * (c + 0.5) AS DOUBLE), 4) AS odds_ratio,
       round(exp(lnp), 6) AS p_point,
       round((SELECT max(cump) FROM acc), 6) AS p_upper
FROM acc WHERE k = a
"""

_FISHER_FLAGS = """
s AS (
  SELECT CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END AS f1,
         CASE WHEN s_nationkey < 5 THEN 1 ELSE 0 END AS f2
  FROM supplier
),
"""


@query(
    "stats_fisher_exact",
    "§2.19 Fisher's exact test (hypergeometric upper tail, log-factorial spine)",
    "WITH "
    + _FISHER_FLAGS
    + """
ct0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
ints AS (SELECT unnest(generate_series(0, (SELECT n FROM ct0))) AS i),
ks AS (
  SELECT unnest(generate_series(
    (SELECT CAST(sum(f1 * f2) AS BIGINT) FROM s),
    (SELECT least(CAST(sum(f1) AS BIGINT), CAST(sum(f2) AS BIGINT)) FROM s)
  )) AS k
),"""
    + _FISHER_BODY,
)
def stats_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the 2x2 of (negative account balance) x
    (nation group 0-4) over suppliers — the small-cell companion to
    stats_chi_square, whose asymptotics break exactly where Fisher is
    valid.  One-sided upper tail: P(X >= a) for X hypergeometric over
    the fixed margins, P(X = k) computed in log space from a
    LOG-FACTORIAL SPINE — a windowed running sum of ln(i) over
    0..N — because neither engine exposes lgamma portably and a
    left-to-right window cumsum is the SAME double sequence in both
    engines (bit-identical, unlike two libm lgammas or a hash-agg
    whose partial order floats).  The tail itself is also accumulated
    by an ORDERED window (cump), not a hash agg, for the same reason.

    Shape at any SF: the facts partial-agg to one 2x2 row; the spine
    is O(N_suppliers) with a single-partition window — fine for a
    dimension table, and at 100 TB the spine would switch to the
    two-phase distributed prefix sum ts_concurrency_sweep uses, or
    Stirling/lgamma since only 9 spine points are ever read per term.
    Tail length is min(margin1, margin2) — bounded by the rarer
    flag, ~10% of suppliers here.  The 9 spine lookups per term are
    scalar subqueries on an integer key (broadcast-size)."""
    register_views(spark, sf_dir, ["supplier"])
    return spark.sql(
        "WITH "
        + _FISHER_FLAGS
        + """
ct0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
ints AS (SELECT explode(sequence(0, CAST((SELECT n FROM ct0) AS INT))) AS i),
ks AS (
  SELECT explode(sequence(
    CAST((SELECT CAST(sum(f1 * f2) AS BIGINT) FROM s) AS INT),
    CAST((SELECT least(CAST(sum(f1) AS BIGINT), CAST(sum(f2) AS BIGINT)) FROM s) AS INT)
  )) AS k
),"""
        + _FISHER_BODY
    )


# Experimentation analytics: difference-in-differences — queued for
# the round-10 official run.  One shared SQL text: per-customer
# cent-exact period spend, 2x2 cell moments as DECIMAL sums, one
# double contrast at the end.
_DID_SQL = """
WITH spend AS (
  SELECT c.c_nationkey < 5 AS treated,
         CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01' AS post,
         o.o_custkey,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
per_cust AS (
  SELECT treated, post, o_custkey,
         CAST(sum(cents) AS BIGINT) AS y
  FROM spend GROUP BY treated, post, o_custkey
),
cells AS (
  SELECT treated, post,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DECIMAL(38,0))) AS s1,
         sum(CAST(y AS DECIMAL(38,0)) * y) AS s2
  FROM per_cust GROUP BY treated, post
),
m AS (
  SELECT max(CASE WHEN treated AND post THEN CAST(s1 AS DOUBLE) / n END) AS tp,
         max(CASE WHEN treated AND NOT post THEN CAST(s1 AS DOUBLE) / n END) AS tq,
         max(CASE WHEN NOT treated AND post THEN CAST(s1 AS DOUBLE) / n END) AS cp,
         max(CASE WHEN NOT treated AND NOT post THEN CAST(s1 AS DOUBLE) / n END) AS cq,
         max(CASE WHEN treated AND post THEN n END) AS n_tp,
         max(CASE WHEN treated AND NOT post THEN n END) AS n_tq,
         max(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
         max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_cq,
         max(CASE WHEN treated AND post
                  THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) / n END)
           + max(CASE WHEN treated AND NOT post
                  THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) / n END)
           + max(CASE WHEN NOT treated AND post
                  THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) / n END)
           + max(CASE WHEN NOT treated AND NOT post
                  THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) / n END)
           AS var_did
  FROM cells
)
SELECT n_tp, n_tq, n_cp, n_cq,
       round(tp / 100, 2) AS treated_post_mean,
       round(tq / 100, 2) AS treated_pre_mean,
       round(cp / 100, 2) AS control_post_mean,
       round(cq / 100, 2) AS control_pre_mean,
       round(((tp - tq) - (cp - cq)) / 100, 2) AS did_estimate,
       round(((tp - tq) - (cp - cq)) / sqrt(var_did), 4) AS z_stat
FROM m
"""


@query(
    "stats_diff_in_diff",
    "§2.19 difference-in-differences (2x2 cell means, delta-method z)",
    _DID_SQL,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator
    for "did the 1997 policy change move treated-nation spend beyond
    the common trend?": (treated post − pre) − (control post − pre)
    over per-customer period spend, with a delta-method z whose
    variance is the sum of the four cell mean-variances (independent
    cells, the textbook large-sample SE).  Treatment = nations 0-4,
    post = 1997 onward — deterministic fixture stand-ins for a real
    assignment table.

    Everything upstream of the contrast is exact: cent-exact
    per-customer sums, DECIMAL(38,0) cell power sums (partial-agg
    order cannot flip a bit), then ONE double expression from the
    same SQL text in both engines.  Shape at any SF: facts
    partial-agg to (cell, customer) then to 4 cell rows behind a
    broadcast customer join — two thin shuffles, the finish is O(1).
    The sample-variance identity (S2 - S1²/n)/(n-1) runs on exact
    decimal inputs, so no catastrophic cancellation reaches the
    doubles."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_DID_SQL)


# CUPED variance reduction — queued for the round-10 official run.
_CUPED_SQL = """
WITH spend AS (
  SELECT o.o_custkey,
         c.c_nationkey < 5 AS treated,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) >= DATE '1998-01-01'
                  THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey, c.c_nationkey < 5
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         sum(CAST(y AS DECIMAL(38,0)) * y) AS syy,
         sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy
  FROM spend
),
theta AS (
  SELECT n, CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS th,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS var_y,
         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
          - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
            * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)) / (n - 1)
           AS var_adj
  FROM mom
),
grp AS (
  SELECT s.treated,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(s.y AS DECIMAL(38,0))) AS sy,
         sum(CAST(s.x AS DECIMAL(38,0))) AS sx
  FROM spend s GROUP BY s.treated
),
eff AS (
  SELECT max(CASE WHEN treated THEN CAST(sy AS DOUBLE) / n END)
           - max(CASE WHEN NOT treated THEN CAST(sy AS DOUBLE) / n END) AS raw_diff,
         max(CASE WHEN treated THEN CAST(sx AS DOUBLE) / n END)
           - max(CASE WHEN NOT treated THEN CAST(sx AS DOUBLE) / n END) AS pre_diff
  FROM grp
)
SELECT t.n AS n_customers,
       round(t.th, 6) AS theta,
       round(t.var_y / 10000, 2) AS var_y_dollars2,
       round(t.var_adj / 10000, 2) AS var_adj_dollars2,
       round((1 - t.var_adj / t.var_y) * 100, 4) AS variance_reduction_pct,
       round(e.raw_diff / 100, 2) AS raw_effect_dollars,
       round((e.raw_diff - t.th * e.pre_diff) / 100, 2) AS cuped_effect_dollars
FROM theta t CROSS JOIN eff e
"""


@query(
    "stats_cuped",
    "§2.19 CUPED variance reduction (pre-period covariate adjustment)",
    _CUPED_SQL,
)
def stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED — the experimentation workhorse: adjust each customer's
    1998 spend by theta times their pre-period (1995-97) spend, where
    theta = cov(x,y)/var(x), cutting metric variance by exactly the
    squared correlation (var_adj = var_y*(1-rho²) — the identity the
    closed form below computes without materializing adjusted rows).
    Reported: theta, raw vs adjusted variance (and the reduction %),
    and the treated-vs-control effect before and after adjustment
    (treatment = nations 0-4; CUPED shifts the estimate only through
    the groups' pre-period imbalance, which is the point).

    All five power sums (Σx, Σy, Σx², Σy², Σxy) are DECIMAL(38,0)
    over exact cent bigints — one partial-agg'd pass over the
    per-customer table, aggregation order irrelevant; theta, the
    variances, and both effects are single double expressions from
    the same SQL text in both engines.  Shape at any SF: facts
    partial-agg to one row per customer behind a broadcast customer
    join, then a 1-row moment finish and a 2-row group finish — no
    second pass over the facts, no adjusted-row materialization."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_CUPED_SQL)


# ---------------------------------------------------------------------------
# Round-10 wave 2.

# Kruskal-Wallis H: the k-group generalization of stats_mann_whitney,
# on the SAME exact-doubled-rank chassis — rows collapse to the 50
# distinct l_quantity values with per-returnflag counts, so the only
# window is a cumsum over a 50-row table (domain-bounded, SF-free).
# A tied run of g rows starting after prev_total rows all take average
# rank prev_total + (g+1)/2, so DOUBLED rank sums per group
# (2R_g = sum c_g*(2*prev_total + g + 1)) are exact integers; the
# g^3-g tie term is an exact BIGINT per value (g <= N fits until
# N^3 > 2^63 — past ~2e6 rows per value, lift the product into
# DECIMAL the way the sums already are).  H, its tie correction
# C = 1 - sum(g^3-g)/(N^3-N), and the closed-form chi-square(2df)
# survival exp(-H/2) (3 groups => 2 df, same trick as
# stats_jarque_bera) are one shared double expression — the identical
# SQL text runs on both engines.
_KRUSKAL_SQL = """
WITH pts AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS ca,
         CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS cn,
         CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS cr
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT ca, cn, cr, ca + cn + cr AS g,
         sum(ca + cn + cr) OVER (ORDER BY v) - (ca + cn + cr) AS prev_total
  FROM pts
),
s AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na,
         CAST(sum(cn) AS BIGINT) AS nn,
         CAST(sum(cr) AS BIGINT) AS nr,
         CAST(sum(CAST(ca * (2 * prev_total + g + 1) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS r2a,
         CAST(sum(CAST(cn * (2 * prev_total + g + 1) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS r2n,
         CAST(sum(CAST(cr * (2 * prev_total + g + 1) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS r2r,
         CAST(sum(CAST(g * g * g - g AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie3
  FROM cum
),
h AS (
  SELECT na, nn, nr, na + nn + nr AS n,
         12.0 / (CAST(na + nn + nr AS DOUBLE) * (na + nn + nr + 1))
         * ((CAST(r2a AS DOUBLE) / 2) * (CAST(r2a AS DOUBLE) / 2) / na
            + (CAST(r2n AS DOUBLE) / 2) * (CAST(r2n AS DOUBLE) / 2) / nn
            + (CAST(r2r AS DOUBLE) / 2) * (CAST(r2r AS DOUBLE) / 2) / nr)
         - 3.0 * (na + nn + nr + 1) AS h_raw,
         1.0 - CAST(tie3 AS DOUBLE)
             / (CAST(na + nn + nr AS DOUBLE) * (na + nn + nr)
                * (na + nn + nr) - (na + nn + nr)) AS tie_c
  FROM s
)
SELECT na AS n_flag_a, nn AS n_flag_n, nr AS n_flag_r,
       round(h_raw, 6) AS h_stat,
       round(h_raw / tie_c, 6) AS h_tie_adj,
       round(exp(-(h_raw / tie_c) / 2), 6) AS p_chi2_2df
FROM h
"""


@query(
    "stats_kruskal_wallis",
    "§2.20 Kruskal-Wallis H (k-group rank test, exact doubled ranks, tie-corrected)",
    _KRUSKAL_SQL,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the three l_returnflag groups on
    l_quantity — the nonparametric one-way ANOVA companion to
    stats_anova_oneway.  Never ranks raw rows: the 50-value quantity
    domain gives a per-value count table whose cumsum IS the average
    rank bookkeeping (see module comment above _KRUSKAL_SQL for the
    exact-integer doubled-rank identity and the BIGINT headroom
    switch).  Shape at any SF: one map-side partial agg over the
    facts to <= 50 rows, a 50-row ordered stage, a 1-row finish —
    the facts are scanned exactly once.  Reference property test:
    rank-then-compute brute force in tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_KRUSKAL_SQL)


# CUSUM drift monitor: standardized one-sided cumulative sums of daily
# revenue against a FIXED calibration year (1995, the fixture's first year).  The max(0, S+z-k)
# recursion is not a plain cumsum, but it has the closed form
# S_i = C_i - min(0, min_{j<=i} C_j) with C = cumsum(z - k) — two
# cumulative windows instead of a sequential fold, which is what makes
# it a one-pass window query instead of a driver loop.  All upstream
# arithmetic is exact (cent bigints, DECIMAL power sums); z and the
# cumsums are doubles, but cumulative-frame window sums accumulate
# left-to-right in BOTH engines (the stats_fisher_exact log-factorial
# spine precedent), so the double sequences are identical and the
# alarm comparisons cannot diverge.
_CUSUM_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate
),
calib AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST(cents AS DECIMAL(19,0))
                  * CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
  FROM daily WHERE d < DATE '1996-01-01'
),
z AS (
  SELECT dd.d,
         (CAST(dd.cents AS DOUBLE) - CAST(c.s1 AS DOUBLE) / c.n0)
         / sqrt((CAST(c.s2 AS DOUBLE)
                 - (CAST(c.s1 AS DOUBLE) / c.n0) * CAST(c.s1 AS DOUBLE))
                / (c.n0 - 1)) AS z
  FROM daily dd CROSS JOIN calib c
  WHERE dd.d >= DATE '1996-01-01'
),
cs AS (
  SELECT d,
         sum(z - 0.5) OVER (ORDER BY d) AS cu,
         sum(0.0 - z - 0.5) OVER (ORDER BY d) AS cd
  FROM z
),
s AS (
  SELECT d,
         cu - least(min(cu) OVER (ORDER BY d), 0) AS s_up,
         cd - least(min(cd) OVER (ORDER BY d), 0) AS s_dn
  FROM cs
)
SELECT CAST(count(*) FILTER (WHERE s_up > 5) AS BIGINT) AS n_up_alarm_days,
       CAST(count(*) FILTER (WHERE s_dn > 5) AS BIGINT) AS n_dn_alarm_days,
       round(max(s_up), 4) AS max_s_up,
       round(max(s_dn), 4) AS max_s_dn,
       min(d) FILTER (WHERE s_up > 5) AS first_up_alarm,
       min(d) FILTER (WHERE s_dn > 5) AS first_dn_alarm
FROM s
"""


@query(
    "ts_cusum_drift",
    "§2.20 CUSUM drift monitor (closed-form one-sided cusum, fixed calibration)",
    _CUSUM_SQL,
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM (k=0.5σ reference, h=5σ decision interval) on
    daily revenue standardized against the 1995 calibration year —
    the SPC drift monitor a data-quality pipeline runs on ingest
    volume.  See the closed-form note above _CUSUM_SQL: the
    sequential max(0, ·) recursion becomes cumsum-minus-running-min,
    i.e. two cumulative windows over the ~2200-day series.  The
    day-grain series is SF-free in row count (days, not orders), so
    the single-partition ordered stage is bounded at any corpus
    size; the facts partial-agg map-side to one row per day.
    Property test: sequential-fold reference in
    tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_CUSUM_SQL)


# Herfindahl-Hirschman concentration per region over supplier revenue.
# Shares never materialize: HHI = sum(d_i^2)/T^2 with d_i the exact
# per-supplier dollar bigint and T the region total, so the only
# doubles are the three closing expressions (identical text both
# engines) — a sum of squared fractional shares would be
# partial-agg-order dependent, the squared-bigint sum is not.
# Dollar (not cent) units keep d_i^2 far inside BIGINT through sf100
# (d_i ~ 2.3e7 at sf0.1 -> d^2 ~ 5e14; 1000x the revenue is still
# only 5e20 in the DECIMAL sum, never in a product).
_HHI_SQL = """
WITH rev AS (
  SELECT r.r_name AS region, s.s_suppkey AS supp,
         CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)) AS BIGINT))
              AS BIGINT) AS dollars
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, s.s_suppkey
),
g AS (
  SELECT region,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(dollars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tot,
         CAST(sum(CAST(dollars * dollars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sumsq
  FROM rev GROUP BY region
)
SELECT region, n_suppliers,
       round(CAST(sumsq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 8)
         AS hhi,
       CASE WHEN n_suppliers = 1 THEN CAST(NULL AS DOUBLE)
            ELSE round((CAST(sumsq AS DOUBLE)
                        / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
                        - 1.0 / n_suppliers) / (1 - 1.0 / n_suppliers), 8)
       END AS hhi_normalized,
       round((CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) / CAST(sumsq AS DOUBLE), 4)
         AS effective_suppliers
FROM g
"""


@query(
    "stats_herfindahl",
    "§2.20 Herfindahl-Hirschman concentration (exact squared-bigint shares)",
    _HHI_SQL,
)
def stats_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration battery per region: HHI over supplier
    revenue shares, the normalized HHI (rescaled to [0,1] against the
    1/n uniform floor), and the effective number of suppliers 1/HHI
    (the inverse-Simpson diversity a data-mixture dashboard reports
    per source).  Numerics per the note above _HHI_SQL — squared
    exact bigints, division deferred to the 5-row finish.  Shape at
    any SF: facts partial-agg behind broadcast dimension joins to one
    row per (region, supplier), then a 5-row group finish."""
    register_views(spark, sf_dir, ["lineitem", "supplier", "nation", "region"])
    return spark.sql(_HHI_SQL)


# Isotonic (monotone nondecreasing, weighted L2) regression of mean
# discount on quantity via the MINIMAX identity
#   fit_i = max_{j<=i} min_{k>=i} wmean(y[j..k])
# — the closed form of pool-adjacent-violators, chosen because it is
# pure joins + min/max (both order-independent over doubles) instead
# of PAVA's sequential stack.  The O(n^3) cost is on the 50-value
# QUANTITY DOMAIN, not the rows: facts collapse to 50 (weight,
# weighted-sum) points, prefix sums over 50 rows give every interval
# mean as ONE double division of exact bigints, and the fit is a
# 50 x 1275 bounded join.  SF only grows the exact integer inputs.
_ISOTONIC_SQL = """
WITH pts AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS w,
         CAST(sum(CAST(round(l_discount * 1000000) AS BIGINT)) AS BIGINT) AS wy
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT q, w, wy,
         sum(w) OVER (ORDER BY q) AS cw,
         sum(wy) OVER (ORDER BY q) AS cwy
  FROM pts
),
iv AS (
  SELECT j.q AS jq, k.q AS kq,
         (CAST(k.cwy AS DOUBLE) - CAST(j.cwy AS DOUBLE) + CAST(j.wy AS DOUBLE))
         / (k.cw - j.cw + j.w) AS m
  FROM cum j JOIN cum k ON j.q <= k.q
),
mins AS (
  SELECT i.q AS iq, v.jq, min(v.m) AS mn
  FROM cum i JOIN iv v ON v.jq <= i.q AND v.kq >= i.q
  GROUP BY i.q, v.jq
),
fit AS (SELECT iq AS q, max(mn) AS fit_ppm FROM mins GROUP BY iq)
SELECT f.q AS quantity, p.w AS n_rows,
       round(CAST(p.wy AS DOUBLE) / p.w, 4) AS raw_mean_ppm,
       round(f.fit_ppm, 4) AS iso_fit_ppm
FROM fit f JOIN pts p ON f.q = p.q
"""


@query(
    "stats_isotonic_minimax",
    "§2.20 isotonic regression (minimax closed form of PAVA, domain-bounded)",
    _ISOTONIC_SQL,
)
def stats_isotonic_minimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of mean discount (ppm) on
    quantity — the calibration-curve fit a reward-model pipeline runs
    (monotone score -> win-rate calibration is the same problem).
    Uses the minimax identity instead of sequential PAVA (note above
    _ISOTONIC_SQL): every candidate interval mean is one double
    division of exact prefix-summed bigints, so min/max — both
    permutation-invariant — are the only double aggregations and the
    two engines cannot disagree.  The inequality joins are
    broadcast-nested-loop over 50 and 1275 rows: domain-bounded,
    SF-independent.  Property test vs a numpy PAVA reference in
    tests/test_round10_ops.py (exact equality of fitted blocks)."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_ISOTONIC_SQL)


_HITS_SCALE = 100_000_000  # hub/authority unit: 1e8 = 1.0 of L1 mass

_HITS_SQL = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= DATE '1998-01-01'
),
a1r AS (SELECT p, CAST(count(*) AS BIGINT) * {_HITS_SCALE} AS raw
        FROM edges GROUP BY p),
a1d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // {_HITS_SCALE}, 1) AS dv FROM a1r),
a1 AS (SELECT p, raw // dv AS sc FROM a1r CROSS JOIN a1d),
h1r AS (SELECT e.c, CAST(sum(a.sc) AS BIGINT) AS raw
        FROM edges e JOIN a1 a ON e.p = a.p GROUP BY e.c),
h1d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // {_HITS_SCALE}, 1) AS dv FROM h1r),
h1 AS (SELECT c, raw // dv AS sc FROM h1r CROSS JOIN h1d),
a2r AS (SELECT e.p, CAST(sum(h.sc) AS BIGINT) AS raw
        FROM edges e JOIN h1 h ON e.c = h.c GROUP BY e.p),
a2d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // {_HITS_SCALE}, 1) AS dv FROM a2r),
a2 AS (SELECT p, raw // dv AS sc FROM a2r CROSS JOIN a2d)
SELECT a2.p AS partkey, d.deg AS n_customers, a2.sc AS authority_scaled
FROM a2 JOIN (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY p) d
  ON a2.p = d.p
ORDER BY a2.sc DESC, a2.p
LIMIT 15
"""


@query(
    "graph_hits",
    "§2.20 HITS hubs/authorities (1.5 unrolled rounds, integer-exact L1 norm)",
    _HITS_SQL,
    doc="Top-15 authority parts on the 1998 customer->part bipartite graph.",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the 1998 customer->part purchase graph: customers are
    hubs, parts are authorities; authority<-hub<-authority updates
    unrolled (a1, h1, a2) with L1 normalization after each.  Same
    determinism chassis as graph_pagerank: scores are scaled-integer
    units and every normalization is INTEGER division by the 1-row
    scalar dv = sum(raw) div SCALE — no big product anywhere (the
    naive raw*SCALE/total overflows BIGINT once a part's in-degree
    crosses ~1e10-edge mass; dividing by the pre-shrunk divisor keeps
    every value <= ~SCALE with the same <=1e-8 relative error), so
    partial-agg order cannot flip a bit and both engines produce
    identical bigints.  At 100 TB each round is one equi-join of the
    edge table on the node key plus a hash agg — standard BSP — with
    the node-sized score tables broadcast while small; the dv scalars
    are broadcast 1-row cross joins.  Property test: double-precision
    reference HITS agrees on ranking in tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["orders", "lineitem"])
    edges = lineage_checkpoint_lazy(
        spark.table("orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"))
        .join(spark.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # node-sized score tables broadcast while the node domain is small
    # (same metadata-only guard as graph_pagerank); past that they hash
    # join on the node key like any BSP round
    bc = F.broadcast if small_node_count(spark, sf_dir) else (lambda df: df)

    def normalize(raw: DataFrame, key: str) -> DataFrame:
        dv = raw.agg(
            F.expr(f"greatest(sum(raw) div {_HITS_SCALE}, 1)").alias("dv")
        )
        return raw.join(F.broadcast(dv)).select(
            key, F.expr("raw div dv").alias("sc")
        )

    a1 = normalize(
        edges.groupBy("p").agg((F.count(F.lit(1)) * _HITS_SCALE).alias("raw")), "p"
    )
    h1 = normalize(
        edges.join(bc(a1), "p").groupBy("c").agg(F.sum("sc").alias("raw")),
        "c",
    )
    a2 = normalize(
        edges.join(bc(h1), "c").groupBy("p").agg(F.sum("sc").alias("raw")),
        "p",
    )
    deg = edges.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    return (
        a2.join(deg, "p")
        .select(
            F.col("p").alias("partkey"),
            F.col("deg").alias("n_customers"),
            F.col("sc").alias("authority_scaled"),
        )
        .orderBy(F.col("authority_scaled").desc(), "partkey")
        .limit(15)
    )


def _ccf_sql(shift: str) -> str:
    """Cross-correlation SQL, templated only on the date-shift call
    (Spark `date_add(a.d, o.k)` vs DuckDB `a.d + o.k` — the Hampel
    convention).  Per-row cent quantization BEFORE any sum keeps every
    moment an exact integer: daily x,y are BIGINT cent sums, the five
    power sums are BIGINT products inside DECIMAL(38,0) sums (x ~
    1.6e9 cents at sf10 -> x^2 ~ 2.7e18, inside BIGINT; the sums are
    where the width goes), and each lag's Pearson r is one shared
    double expression."""
    return f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS vu,
         event_type
  FROM events WHERE event_type IN ('purchase', 'view')
),
daily AS (
  SELECT d,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN vu ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'view' THEN vu ELSE 0 END)
              AS BIGINT) AS y
  FROM ev GROUP BY d
),
offs AS (SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS o(k)),
pairs AS (
  SELECT o.k AS lag, a.x, b.y
  FROM daily a CROSS JOIN offs o JOIN daily b ON b.d = {shift}
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
  FROM pairs GROUP BY lag
)
SELECT lag, n,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS ccf
FROM m
"""


@query(
    "ts_cross_correlation",
    "§2.20 cross-correlation function (lead-lag CCF, exact integer moments)",
    _ccf_sql("a.d + o.k"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCF between daily purchase revenue and daily view value at lags
    -3..+3 — the lead-lag screen (does view volume LEAD purchases?)
    run before any causal claim.  corr(x_t, y_{t+k}) per lag, each
    pair set aligned by an explicit 7-row offset equi-join on the
    O(days) daily table (the ts_hampel_outliers discipline — a
    BETWEEN join would be a nested loop).  Numerics per _ccf_sql's
    note: quantize per ROW, sum integers, divide once.  Shape at any
    SF: one map-side partial agg of the events to day grain, then
    O(7 x days) join rows and a 7-row finish."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_ccf_sql("date_add(a.d, o.k)"))


_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey
),
cc AS (
  SELECT c, CAST(count(*) AS BIGINT) AS f FROM counts GROUP BY c
),
cum AS (
  SELECT c, sum(f) OVER (ORDER BY c) AS cum FROM cc
),
tot AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_keys,
         CAST(sum(c * f) AS BIGINT) AS total,
         CAST(max(c) AS BIGINT) AS max_c
  FROM cc
),
ranks AS (
  SELECT n_keys, total, max_c,
         CAST(floor((n_keys + 1) / 2.0) AS BIGINT) AS r50,
         CAST(floor((9 * n_keys + 9) / 10.0) AS BIGINT) AS r90,
         CAST(floor((99 * n_keys + 99) / 100.0) AS BIGINT) AS r99
  FROM tot
),
q AS (
  SELECT r.n_keys, r.total, r.max_c,
         min(CASE WHEN m.cum >= r.r50 THEN m.c END) AS p50,
         min(CASE WHEN m.cum >= r.r90 THEN m.c END) AS p90,
         min(CASE WHEN m.cum >= r.r99 THEN m.c END) AS p99
  FROM ranks r CROSS JOIN cum m
  GROUP BY r.n_keys, r.total, r.max_c
)
SELECT n_keys, total, max_c, p50, p90, p99,
       CAST(floor(max_c * 1000000.0 / total) AS BIGINT) AS top1_share_ppm,
       round(CAST(p99 AS DOUBLE) / p50, 4) AS p99_over_p50,
       round(CAST(max_c AS DOUBLE) * n_keys / total, 4) AS max_over_mean
FROM q
"""


@query(
    "profile_key_skew",
    "§2.20 join-key skew profile (per-key frequency order statistics)",
    _KEY_SKEW_SQL,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-join skew screen: per-key frequency order statistics of
    lineitem's part key — the diagnostic a pipeline runs BEFORE
    choosing between a plain shuffle join, salting
    (join_skew_salted), and AQE skew handling (join_aqe_skew_handled).
    Reports p50/p90/p99 of per-key counts, the hottest key's global
    share (ppm, floor-exact), p99/p50, and max/mean.

    The percentiles deliberately use NO engine percentile function:
    Spark's percentile_disc (ceil(p*n), 1-based) and DuckDB's
    quantile_disc (floor(p*(n-1)), 0-based) pick ADJACENT order
    statistics whenever p*n is fractional — the convention hazard
    ADVICE r8 flagged on stat_df_battery.  Instead the rank
    r = ceil(p*n) is computed exactly in-plan (floor((p_num*n +
    p_num)/p_den) on doubles far inside 2^53) and answered from a
    cumsum over the COUNTS-OF-COUNTS table — one convention, one
    shared SQL text, immune to n.  Shape at any SF: facts partial-agg
    to O(keys), keys collapse to O(distinct counts) (~60 rows), the
    window runs on that."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_KEY_SKEW_SQL)


# Effect-size battery: Cohen's d / Hedges' g between the click and
# view value distributions — the "is the difference MEANINGFUL"
# companion to stats_ttest_welch's "is it significant".  All five
# moments are exact integer micro-unit sums (per-row quantization
# before any aggregation, the stats_mann_whitney discipline); d, the
# small-sample correction J = 1 - 3/(4*df - 1), g = J*d, and the
# normal-approximation CI of d are one shared double expression.
_EFFECT_SQL = """
WITH ev AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
  FROM events WHERE event_type IN ('click', 'view')
),
s AS (
  SELECT CAST(sum(ia) AS BIGINT) AS n1,
         CAST(sum(1 - ia) AS BIGINT) AS n2,
         CAST(sum(CAST(ia * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST((1 - ia) * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
         CAST(sum(CAST(ia * v * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q1,
         CAST(sum(CAST((1 - ia) * v * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q2
  FROM ev
),
d AS (
  SELECT n1, n2,
         (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
         / sqrt(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * CAST(s1 AS DOUBLE))
                 + (CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * CAST(s2 AS DOUBLE)))
                / (n1 + n2 - 2)) AS cohens_d
  FROM s
)
SELECT n1 AS n_click, n2 AS n_view,
       round(cohens_d, 6) AS cohens_d,
       round((1.0 - 3.0 / (4.0 * (n1 + n2 - 2) - 1)) * cohens_d, 6) AS hedges_g,
       round(cohens_d - 1.959963984540054
             * sqrt((CAST(n1 + n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n2)
                    + cohens_d * cohens_d / (2.0 * (n1 + n2))), 6) AS d_ci_lo,
       round(cohens_d + 1.959963984540054
             * sqrt((CAST(n1 + n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n2)
                    + cohens_d * cohens_d / (2.0 * (n1 + n2))), 6) AS d_ci_hi
FROM d
"""


@query(
    "stats_effect_size",
    "§2.20 effect size battery: Cohen's d, Hedges' g, normal-approx CI",
    _EFFECT_SQL,
)
def stats_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size between click and view event values —
    the metric an experimentation readout pairs with the p-value
    (stats_ttest_welch tells you the difference is unlikely under H0;
    d tells you whether anyone should care).  Cohen's d on the pooled
    SD, Hedges' g small-sample correction J = 1 - 3/(4*df-1), and the
    Hedges-Olkin normal-approximation 95% CI (z = 1.959963984540054
    spelled as a literal so neither engine needs an inverse normal).
    Pooled variance comes from the q - s²/n identity on EXACT
    DECIMAL power sums of per-row micro-units — one map-side pass,
    aggregation order irrelevant, then a single shared double
    expression.  Shape at any SF: one partial-agg'd scan, 1-row
    finish.  Property test: numpy reference in
    tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_EFFECT_SQL)


# Power / minimum-detectable-effect planning for a two-proportion test
# at alpha=0.05 two-sided, power=0.8.  The two z quantiles are spelled
# as literals (1.959963984540054, 0.8416212335729143) so no engine
# needs an inverse normal; everything upstream is exact integer counts
# and the finish is one shared double expression per nation.
_POWER_SQL = """
WITH j AS (
  SELECT c.c_nationkey AS nk,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
)
SELECT nk AS nationkey, n, k,
       round(CAST(k AS DOUBLE) / n, 6) AS p_base,
       round((1.959963984540054 + 0.8416212335729143)
             * sqrt(2 * (CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                    / (n / 2.0)), 6) AS mde_abs,
       round((1.959963984540054 + 0.8416212335729143)
             * sqrt(2 * (CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                    / (n / 2.0)) / (CAST(k AS DOUBLE) / n), 6) AS mde_rel,
       CAST(ceil(2 * (CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                 * ((1.959963984540054 + 0.8416212335729143)
                    / (0.1 * (CAST(k AS DOUBLE) / n)))
                 * ((1.959963984540054 + 0.8416212335729143)
                    / (0.1 * (CAST(k AS DOUBLE) / n)))) AS BIGINT)
         AS n_per_arm_for_10pct_lift
FROM j
"""


@query(
    "stats_power_mde",
    "§2.20 power planning: per-segment MDE + required n (closed-form z literals)",
    _POWER_SQL,
)
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-planning battery per nation segment: with the
    segment's historical order volume split into two equal arms, the
    minimum detectable absolute/relative lift in the urgent-order
    rate at alpha=0.05 (two-sided) and power=0.8 — and the inverse:
    the per-arm sample size needed to detect a 10% relative lift.
    The standard two-proportion approximations
    MDE = (z_a+z_b)*sqrt(2 p (1-p) / n_arm) and
    n = 2 p (1-p) ((z_a+z_b)/delta)^2, with both z quantiles inlined
    as literals (no inverse normal in either engine; the
    stats_effect_size convention).  Upstream is one exact integer
    partial agg behind a broadcast customer join (the stats_fdr_bh
    shape); each row's finish is a single shared double expression.
    Property test: statsmodels-free numpy reference in
    tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_POWER_SQL)


# Bayesian A/B readout: P(B beats A) under Beta(1+k, 1+n-k)
# posteriors on the two arms' urgent-order rates, closed via the
# normal approximation of each posterior (exact Beta tails need an
# incomplete-beta neither engine has; at these n the normal error is
# far below the reported 6 dp) and the shared inlined A-S erf
# polynomial.  Φ(z) = (1 + erf(z/√2)) / 2 — the erf text is the same
# string stats_fdr_bh and llm_judge_mcnemar embed.
def _bayes_ab_sql() -> str:
    return f"""
WITH arms AS (
  SELECT o_custkey % 2 AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM orders GROUP BY o_custkey % 2
),
post AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS na,
    max(CASE WHEN arm = 0 THEN k END) AS ka,
    max(CASE WHEN arm = 1 THEN n END) AS nb,
    max(CASE WHEN arm = 1 THEN k END) AS kb
  FROM arms
),
m AS (
  -- integer posterior parameters cast to DOUBLE explicitly: a bare
  -- 1.0 literal is DECIMAL in Spark but DOUBLE in DuckDB, and the
  -- resulting decimal-arithmetic truncation silently mangled the
  -- variances (caught by driver-sim; the casts pin both engines to
  -- identical float64 op sequences)
  SELECT na, ka, nb, kb,
         CAST(1 + ka AS DOUBLE) / (2 + na) AS mu_a,
         CAST(1 + kb AS DOUBLE) / (2 + nb) AS mu_b,
         (CAST(1 + ka AS DOUBLE) * (1 + na - ka))
           / ((CAST(2 + na AS DOUBLE) * (2 + na)) * (3 + na)) AS var_a,
         (CAST(1 + kb AS DOUBLE) * (1 + nb - kb))
           / ((CAST(2 + nb AS DOUBLE) * (2 + nb)) * (3 + nb)) AS var_b
  FROM post
),
zt AS (
  SELECT na, ka, nb, kb, mu_a, mu_b,
         (mu_b - mu_a) / sqrt(var_a + var_b) AS z
  FROM m
)
SELECT na AS n_arm_a, ka AS k_arm_a, nb AS n_arm_b, kb AS k_arm_b,
       round(mu_a, 6) AS posterior_mean_a,
       round(mu_b, 6) AS posterior_mean_b,
       round(z, 6) AS z_stat,
       round(CASE WHEN z >= 0 THEN (1 + {_FDR_ERF}) / 2
                  ELSE 1 - (1 + {_FDR_ERF}) / 2 END, 6) AS p_b_beats_a
FROM zt
"""


@query(
    "stats_bayes_ab",
    "§2.20 Bayesian A/B: P(B beats A) from Beta posteriors (normal approx + inlined erf)",
    _bayes_ab_sql(),
)
def stats_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bayesian experimentation readout: split orders into two
    arms by customer-key parity, put Beta(1,1) priors on each arm's
    urgent-order rate, and report P(rate_B > rate_A) under the
    posteriors — the "probability B is better" number a product team
    actually asks for (vs stats_proportion_ztest's p-value under H0).
    Posterior means/variances are closed-form Beta moments on exact
    integer (n, k); the tail probability folds through Φ(z) =
    (1+erf(z/√2))/2 with the polynomial inlined (see the comment
    above _bayes_ab_sql; |z| symmetry handled by the CASE since the
    A-S form approximates erf of NON-NEGATIVE arguments — the same
    |z| discipline as stats_fdr_bh).  Shape at any SF: one map-side
    partial agg of orders to 2 rows, O(1) finish.  Property test:
    math.erf reference + exact-simulation sanity in
    tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_bayes_ab_sql())


# Lin's concordance correlation coefficient between a document's
# declared character count and the 6-chars-per-word heuristic estimate
# — ABSOLUTE agreement, not just correlation: CCC = 2*cov /
# (var_x + var_y + (mu_x - mu_y)^2) is penalized by scale and location
# bias, which Pearson r ignores (the judge-eval family's continuous
# member: kappa = binary agreement, McNemar = marginal bias, CCC =
# continuous calibration).  Five DECIMAL power sums over exact integer
# scores, one shared double finish; the bias-correction factor
# C_b = CCC / r is also reported.
_CCC_SQL = """
WITH f AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(6 * (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
           AS y
  FROM documents
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
  FROM f
),
m AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS mx,
         CAST(sy AS DOUBLE) / n AS my,
         (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * CAST(sx AS DOUBLE)) / n
           AS vx,
         (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) / n) * CAST(sy AS DOUBLE)) / n
           AS vy,
         (CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * CAST(sy AS DOUBLE)) / n
           AS cxy
  FROM s
)
SELECT n AS n_docs,
       round(mx, 4) AS mean_declared,
       round(my, 4) AS mean_estimated,
       round(cxy / sqrt(vx * vy), 6) AS pearson_r,
       round(2 * cxy / (vx + vy + (mx - my) * (mx - my)), 6) AS lin_ccc,
       round((2 * cxy / (vx + vy + (mx - my) * (mx - my)))
             / (cxy / sqrt(vx * vy)), 6) AS bias_correction_cb
FROM m
"""


@query(
    "stats_lin_ccc",
    "§2.20 Lin's concordance correlation (absolute agreement, exact moments)",
    _CCC_SQL,
)
def stats_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's CCC between the declared character count and the
    6-chars/word heuristic estimate — the calibration check a metric
    pipeline runs before substituting a cheap estimator for an
    expensive measurement (CCC near r means only noise separates
    them; CCC far below r means systematic scale/location bias, which
    is C_b = CCC/r).  Population (1/n) moments per Lin 1989.  All
    sums are exact integer DECIMAL power sums (the stats_effect_size
    chassis) — one map-side pass, order-free; the finish is one
    shared double expression.  Property test: numpy reference in
    tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_CCC_SQL)


# Cochran-Armitage trend test: is the F-status rate MONOTONE in order
# priority (ordinal scores 1..5 from the priority prefix digit)?  The
# ordinal-aware alternative to a 2x5 chi-square independence test,
# which cannot see ordering.  All five sufficient statistics are
# exact BIGINT sums over the 5-row priority table; z and the
# two-sided p (erfc via the shared inlined A-S erf polynomial) are
# one shared double expression.
def _cochran_armitage_sql() -> str:
    return f"""
WITH g AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
         CAST(sum(s * n) AS BIGINT) AS sn, CAST(sum(s * r) AS BIGINT) AS sr,
         CAST(sum(s * s * n) AS BIGINT) AS ssn
  FROM g
),
zt AS (
  SELECT nn, rr,
         (CAST(sr AS DOUBLE) - (CAST(rr AS DOUBLE) / nn) * sn)
         / sqrt((CAST(rr AS DOUBLE) / nn) * (1 - CAST(rr AS DOUBLE) / nn)
                * (CAST(ssn AS DOUBLE) - (CAST(sn AS DOUBLE) * sn) / nn)) AS z
  FROM t
)
SELECT nn AS n_orders, rr AS n_f_status,
       round(z, 6) AS z_trend,
       round(1 - {_FDR_ERF}, 6) AS p_two_sided
FROM zt
"""


@query(
    "stats_cochran_armitage",
    "§2.20 Cochran-Armitage trend test (ordinal proportions, exact sufficient stats)",
    _cochran_armitage_sql(),
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a linear trend in the F-status
    proportion across the FIVE ORDERED priority levels — the question
    "does the rate rise with priority?" that a 2x5 chi-square
    (stats_association_battery's shape) structurally cannot answer
    because it ignores category order.  T = Σ s·r − p̄ Σ s·n over
    integer scores s∈1..5 taken from the priority prefix digit; the
    variance is the textbook p̄(1-p̄)(Σs²n − (Σsn)²/N).  Everything
    upstream of z is an exact BIGINT; the two-sided p-value is
    erfc(|z|/√2) via the shared inlined erf polynomial (|z|
    discipline as stats_fdr_bh).  Shape at any SF: one map-side
    partial agg of orders to 5 rows, O(1) finish.  Property test:
    textbook reference on pandas counts in
    tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_cochran_armitage_sql())


# Wilcoxon signed-rank: the PAIRED nonparametric test (stats_mann_whitney
# is the unpaired one) on per-day purchase-minus-view value differences.
# Same exact-doubled-rank chassis: |d| collapses to a value-frequency
# table, a tied run of g rows after prev rows all take average rank
# prev + (g+1)/2, so the DOUBLED positive-rank sum
# 2W+ = sum cp*(2*prev + g + 1) is an exact integer, as is the g^3-g
# tie term; zeros are dropped per the standard treatment.  z uses the
# tie-corrected variance n(n+1)(2n+1)/24 - tie3/48; the two-sided p is
# erfc(|z|/sqrt 2) via the shared inlined erf polynomial.
def _wilcoxon_sql() -> str:
    return f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS vu,
         event_type
  FROM events WHERE event_type IN ('purchase', 'view')
),
daily AS (
  SELECT d,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN vu ELSE 0 END)
              AS BIGINT)
         - CAST(sum(CASE WHEN event_type = 'view' THEN vu ELSE 0 END)
                AS BIGINT) AS dd
  FROM ev GROUP BY d
),
pts AS (
  SELECT abs(dd) AS ad,
         CAST(count(*) FILTER (WHERE dd > 0) AS BIGINT) AS cp,
         CAST(count(*) FILTER (WHERE dd < 0) AS BIGINT) AS cn
  FROM daily WHERE dd <> 0 GROUP BY abs(dd)
),
cum AS (
  SELECT ad, cp, cn, cp + cn AS g,
         sum(cp + cn) OVER (ORDER BY ad) - (cp + cn) AS prev
  FROM pts
),
s AS (
  SELECT CAST(sum(cp + cn) AS BIGINT) AS n,
         CAST(sum(CAST(cp * (2 * prev + g + 1) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS wp2,
         CAST(sum(CAST(g * g * g - g AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie3
  FROM cum
),
zt AS (
  SELECT n, CAST(wp2 AS DOUBLE) / 2 AS w_plus,
         (CAST(wp2 AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
         / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                - CAST(tie3 AS DOUBLE) / 48) AS z
  FROM s
)
SELECT n AS n_pairs, round(w_plus, 1) AS w_plus,
       round(z, 6) AS z_stat,
       round(1 - {_FDR_ERF}, 6) AS p_two_sided
FROM zt
"""


@query(
    "stats_wilcoxon_signed_rank",
    "§2.20 Wilcoxon signed-rank (paired, exact doubled ranks, tie-corrected)",
    _wilcoxon_sql(),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank on paired daily (purchase, view) value
    totals — "do purchases exceed views day-by-day?" without assuming
    a difference distribution, the paired complement to
    stats_mann_whitney (unpaired) and stats_ttest-style means.  See
    the chassis note above _wilcoxon_sql: exact integer doubled rank
    sums over the |d| value-frequency table, standard zero-drop, tie
    correction, inlined-erf two-sided p.  Shape at any SF: events
    partial-agg map-side to day grain (the O(days) table is SF-free
    in rows), one bounded ordered stage, O(1) finish.  Property
    test: rank-then-sum brute force in tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_wilcoxon_sql())


# Historical VaR / CVaR on daily revenue: the k worst days with
# k = ceil(0.05 n) computed exactly in-plan (the profile_key_skew rank
# convention — no engine percentile), VaR = the k-th smallest daily
# total, CVaR = the exact cent mean of those k days.
_VAR_CVAR_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate
),
rk AS (
  SELECT cents,
         sum(1) OVER (ORDER BY cents, d) AS pos,
         count(*) OVER () AS n
  FROM daily
),
kk AS (
  SELECT n, CAST(floor((5 * n + 95) / 100.0) AS BIGINT) AS k
  FROM rk GROUP BY n
),
worst AS (
  SELECT r.cents, r.pos, k.k, k.n
  FROM rk r CROSS JOIN kk k
  WHERE r.pos <= k.k
)
SELECT max(n) AS n_days, max(k) AS k_worst,
       CAST(max(CASE WHEN pos = k THEN cents END) AS BIGINT) AS var95_cents,
       round(CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / max(k), 2)
         AS cvar95_cents
FROM worst
"""


@query(
    "ts_var_cvar",
    "§2.20 historical VaR/CVaR (pinned exact rank, worst-tail mean)",
    _VAR_CVAR_SQL,
)
def ts_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% value-at-risk and conditional VaR (expected
    shortfall) on daily revenue — the tail-risk readout a capacity /
    revenue-ops dashboard carries next to the mean.  The rank
    k = ceil(0.05 n) is computed exactly in-plan ((5n+95)/100 floored
    on doubles far inside 2^53 — the profile_key_skew convention, so
    the Spark/DuckDB percentile mismatch cannot occur), the order is
    fully pinned (cents, then date) so ties cannot flip the cut, VaR
    is the k-th order statistic, and CVaR is one double division of
    an exact DECIMAL cent sum.  Shape at any SF: facts partial-agg
    map-side to the O(days) table; the single-partition window is
    bounded by the calendar, not the corpus.  Property test: numpy
    sort reference in tests/test_round10_ops.py."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_VAR_CVAR_SQL)


# Mann-Kendall monotone-trend test (round 11): one SQL text for both
# engines — daily revenue is an exact cent sum, S and the tie term are
# exact integer aggregates, and the only doubles are the final
# variance division and z expression.
_MANN_KENDALL_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) AS v
  FROM orders GROUP BY o_orderdate
),
s AS (
  SELECT CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.d < b.d
),
n AS (SELECT count(*) AS n_days FROM daily),
ties AS (
  SELECT COALESCE(CAST(sum(t*(t-1)*(2*t+5)) AS BIGINT), 0) AS tie_term
  FROM (SELECT count(*) AS t FROM daily GROUP BY v HAVING count(*) > 1)
),
v AS (
  SELECT n_days,
         CAST(n_days AS BIGINT)*(n_days-1)*(2*n_days+5) - tie_term AS var18
  FROM n CROSS JOIN ties
)
SELECT v.n_days AS n_days,
       s.s_stat AS s_stat,
       round(CAST(var18 AS DOUBLE) / 18, 6) AS var_s,
       round(CASE WHEN s.s_stat > 0
                  THEN (s.s_stat - 1) / sqrt(CAST(var18 AS DOUBLE) / 18)
                  WHEN s.s_stat < 0
                  THEN (s.s_stat + 1) / sqrt(CAST(var18 AS DOUBLE) / 18)
                  ELSE CAST(0 AS DOUBLE) END, 6) AS z
FROM s CROSS JOIN v
"""


@query(
    "ts_mann_kendall",
    "§2.21 Mann-Kendall monotone-trend test on daily revenue (exact S, tie-corrected variance)",
    _MANN_KENDALL_SQL,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test — the standard non-parametric "is this
    series drifting" monitor (no distributional assumption, robust to
    outliers; the hypothesis-test companion to stats_theil_sen's slope):
    S = sum over day pairs of sign(v_j - v_i), tie-corrected variance
    [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18, continuity-corrected z.
    Everything upstream of the two final double expressions is an
    exact integer (cent-sum days, sign of bigint differences, integer
    tie groups), and one shared SQL text runs in both engines.

    Shape at any SF: orders partial-agg to ~2400 daily rows (the ONLY
    pass over facts), then the pair join runs over the DAILY table —
    days are CALENDAR-bounded, so the ~2.9M-pair table is constant in
    corpus size and the whole test costs one scan plus an O(days^2)
    metadata-scale join at 100 TB exactly as at sf0.01.  The classic
    O(n log n) rank formulation saves nothing here because n is the
    day count, not the row count."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_MANN_KENDALL_SQL)


# Mutual information between two categorical order columns (round 11):
# one shared SQL text — the contingency table and marginals are exact
# integers; MI, the two entropies, and the sqrt-normalized NMI are
# closing double expressions over the |statuses| x |priorities| grid
# (the stats_kl_divergence small-cell-sum precedent).
_MUTUAL_INFO_SQL = """
WITH jt AS (
  SELECT o_orderstatus AS x, o_orderpriority AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY o_orderstatus, o_orderpriority
),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM jt),
mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM jt GROUP BY x),
my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM jt GROUP BY y),
mi AS (
  SELECT CAST(max(n.n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_cells,
         round(sum((CAST(jt.c AS DOUBLE) / n.n)
                   * ln(CAST(jt.c AS DOUBLE) * n.n
                        / (CAST(mx.cx AS DOUBLE) * my.cy))), 6) AS mi_nats
  FROM jt JOIN mx ON jt.x = mx.x JOIN my ON jt.y = my.y CROSS JOIN n
),
hx AS (
  SELECT round(-sum((CAST(cx AS DOUBLE) / n.n)
                    * ln(CAST(cx AS DOUBLE) / n.n)), 6) AS h
  FROM mx CROSS JOIN n
),
hy AS (
  SELECT round(-sum((CAST(cy AS DOUBLE) / n.n)
                    * ln(CAST(cy AS DOUBLE) / n.n)), 6) AS h
  FROM my CROSS JOIN n
)
SELECT mi.n_rows AS n_rows, mi.n_cells AS n_cells, mi.mi_nats AS mi_nats,
       hx.h AS h_x_nats, hy.h AS h_y_nats,
       round(mi.mi_nats / sqrt(hx.h * hy.h), 6) AS nmi_sqrt
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


@query(
    "stats_mutual_info",
    "§2.21 mutual information + sqrt-normalized NMI between two categorical columns",
    _MUTUAL_INFO_SQL,
)
def stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and sqrt-normalized NMI between order
    status and order priority — the information-theoretic dependence
    audit that complements stats_chi_square's significance test: chi2
    answers "is there ANY association", MI answers "HOW MANY bits does
    one column carry about the other", and NMI = MI / sqrt(H(X)H(Y))
    rescales it to [0,1] for cross-pair comparison (the feature-
    selection / leakage-screen convention).  The contingency table and
    both marginals are exact integer counts; MI and the entropies are
    closing double sums over the |statuses| x |priorities| grid (~15
    cells — the stats_kl_divergence small-cell precedent), each rounded
    to 6 before the final normalized division.  One shared SQL text
    runs in both engines.

    Shape at any SF: one scan of orders partial-aggs map-side onto the
    tiny contingency table; everything downstream (marginals, entropy,
    MI) is metadata-scale joins over <20 rows, so 100 TB costs exactly
    one scan and a constant-size finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_MUTUAL_INFO_SQL)


# Granger causality, one lag (round 11): does yesterday's ORDER COUNT
# improve today's REVENUE forecast beyond yesterday's revenue?  One
# shared SQL text: the ten moment sums are EXACT (bigint products
# summed as DECIMAL(38,0) — order-free), cast to double only for the
# closed-form restricted/unrestricted OLS solve and the F statistic
# (the stats_ols_two_feature normal-equation precedent).
_GRANGER_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) AS y
  FROM orders GROUP BY o_orderdate
),
lagged AS (
  SELECT y, lag(y) OVER (ORDER BY d) AS z1, lag(x) OVER (ORDER BY d) AS z2
  FROM daily
),
r AS (SELECT y, z1, z2 FROM lagged WHERE z1 IS NOT NULL),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(z1 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(sum(CAST(z2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(z1 * z1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
         CAST(sum(CAST(z2 * z2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
         CAST(sum(CAST(z1 * z2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
         CAST(sum(CAST(z1 * y AS DECIMAL(38,0))) AS DOUBLE) AS s1y,
         CAST(sum(CAST(z2 * y AS DECIMAL(38,0))) AS DOUBLE) AS s2y
  FROM r
),
c AS (
  SELECT n, CAST(n AS DOUBLE) AS dn,
         syy - sy * sy / n AS cyy,
         s11 - s1 * s1 / n AS c11,
         s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12,
         s1y - s1 * sy / n AS c1y,
         s2y - s2 * sy / n AS c2y
  FROM m
),
fit AS (
  SELECT n,
         cyy - (c1y / c11) * c1y AS rss_r,
         cyy - ((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12)) * c1y
             - ((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)) * c2y AS rss_u,
         (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
         (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
  FROM c
)
SELECT n AS n_obs,
       round(b1, 6) AS beta_y_lag,
       round(b2, 6) AS beta_x_lag,
       round(rss_r / 10000, 2) AS rss_restricted_usd2,
       round(rss_u / 10000, 2) AS rss_unrestricted_usd2,
       round((rss_r - rss_u) / (rss_u / (n - 3)), 6) AS f_stat,
       CAST(CASE WHEN (rss_r - rss_u) / (rss_u / (n - 3)) > 3.841459
                 THEN 1 ELSE 0 END AS BIGINT) AS rejects_at_05
FROM fit
"""


@query(
    "ts_granger_causality",
    "§2.21 one-lag Granger causality F-test (order count -> revenue) via exact-moment OLS",
    _GRANGER_SQL,
)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-lag Granger causality test — does yesterday's order COUNT
    carry predictive information about today's REVENUE beyond
    yesterday's revenue itself?  Fits the restricted AR(1) model
    y_t ~ 1 + y_{t-1} and the unrestricted y_t ~ 1 + y_{t-1} + x_{t-1}
    by closed-form centered normal equations, then
    F = (RSS_r - RSS_u) / (RSS_u / (n-3)) with (1, n-3) df; the
    rejects_at_05 flag compares against the df2→∞ critical value
    3.841459 (chi-square(1) bound — exact enough at ~2400 daily obs).
    The ten moment sums are EXACT: daily revenue is an integer cent
    sum, daily count an integer, lags of integers are integers, and
    every product (bounded ~1e14 at this fixture's daily magnitudes,
    well under 2^63; a 100 TB corpus would lift the cent quantum the
    way the OLS precedent documents) sums order-free as DECIMAL(38,0)
    before ONE cast to double — so both engines feed bit-identical
    doubles into the identical closed-form expressions and round-6/2
    closes the hash gate.

    Shape at any SF: orders partial-aggs map-side to the CALENDAR-
    bounded daily table (the only pass over facts); the lag window and
    the moment aggregate run over ~2400 rows — metadata-scale
    regardless of corpus size, same as ts_mann_kendall."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_GRANGER_SQL)


# Krippendorff's alpha, nominal data (round 11): three deterministic
# tercile "raters" over documents (character count / word count /
# distinct-word count), coincidence algebra kept EXACT by working in
# doubled integer units (T_o2 = sum_u (9 - sum_c n_uc^2) is twice the
# off-diagonal coincidence mass for m=3 raters), closed by one rounded
# double expression.  Template SQL: only percentile_disc / quantile_disc
# and the word-count spelling differ (the llm_judge_agreement pattern).
_KRIPP_SQL = """
WITH f AS (
  SELECT doc_id, n_chars AS va, {wc} AS vb, {dc} AS vc FROM documents
),
cuts AS (
  SELECT {pa1} AS a1, {pa2} AS a2, {pb1} AS b1, {pb2} AS b2,
         {pc1} AS c1, {pc2} AS c2
  FROM f
),
lab AS (
  SELECT CASE WHEN va <= a1 THEN 0 WHEN va <= a2 THEN 1 ELSE 2 END AS la,
         CASE WHEN vb <= b1 THEN 0 WHEN vb <= b2 THEN 1 ELSE 2 END AS lb,
         CASE WHEN vc <= c1 THEN 0 WHEN vc <= c2 THEN 1 ELSE 2 END AS lc
  FROM f CROSS JOIN cuts
),
unit AS (
  SELECT CAST(CASE WHEN la = 0 THEN 1 ELSE 0 END
            + CASE WHEN lb = 0 THEN 1 ELSE 0 END
            + CASE WHEN lc = 0 THEN 1 ELSE 0 END AS BIGINT) AS n0,
         CAST(CASE WHEN la = 1 THEN 1 ELSE 0 END
            + CASE WHEN lb = 1 THEN 1 ELSE 0 END
            + CASE WHEN lc = 1 THEN 1 ELSE 0 END AS BIGINT) AS n1,
         CAST(CASE WHEN la = 2 THEN 1 ELSE 0 END
            + CASE WHEN lb = 2 THEN 1 ELSE 0 END
            + CASE WHEN lc = 2 THEN 1 ELSE 0 END AS BIGINT) AS n2
  FROM lab
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(9 - (n0 * n0 + n1 * n1 + n2 * n2)) AS BIGINT) AS t_o2,
         CAST(sum(n0) AS BIGINT) AS m0,
         CAST(sum(n1) AS BIGINT) AS m1,
         CAST(sum(n2) AS BIGINT) AS m2
  FROM unit
)
SELECT n_units,
       3 * n_units AS n_values,
       m0 AS n_label0, m1 AS n_label1, m2 AS n_label2,
       round(CAST(t_o2 AS DOUBLE) / (2 * (3 * n_units)), 6) AS d_observed,
       round((CAST(3 * n_units AS DOUBLE) * (3 * n_units)
              - (CAST(m0 AS DOUBLE) * m0 + CAST(m1 AS DOUBLE) * m1
                 + CAST(m2 AS DOUBLE) * m2))
             / (CAST(3 * n_units AS DOUBLE) * (3 * n_units - 1)), 6) AS d_expected,
       round(1 - (CAST(t_o2 AS DOUBLE) * (3 * n_units - 1))
                 / (2 * (CAST(3 * n_units AS DOUBLE) * (3 * n_units)
                         - (CAST(m0 AS DOUBLE) * m0 + CAST(m1 AS DOUBLE) * m1
                            + CAST(m2 AS DOUBLE) * m2))), 6)
         AS krippendorff_alpha
FROM s
"""

_KRIPP_SPARK_FMT = dict(
    wc="size(split(text, ' '))",
    dc="size(array_distinct(split(text, ' ')))",
    **{
        f"p{r}{i}": f"percentile_disc({q}) WITHIN GROUP (ORDER BY v{r})"
        for r in ("a", "b", "c")
        for i, q in ((1, "1.0/3"), (2, "2.0/3"))
    },
)
_KRIPP_DUCK_FMT = dict(
    wc="len(string_split(text, ' '))",
    dc="len(list_distinct(string_split(text, ' ')))",
    **{
        f"p{r}{i}": f"quantile_disc(v{r}, {q})"
        for r in ("a", "b", "c")
        for i, q in ((1, "1.0/3"), (2, "2.0/3"))
    },
)


@query(
    "stats_krippendorff_alpha",
    "§2.21 Krippendorff's alpha (nominal, 3 raters) via exact coincidence algebra",
    _KRIPP_SQL.format(**_KRIPP_DUCK_FMT),
)
def stats_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha for nominal data — the multi-rater
    generalization of llm_judge_agreement's Cohen's kappa (kappa stops
    at 2 raters; alpha is the standard when an eval panel has 3+
    annotators).  Three deterministic document judges each assign a
    tercile label through a different length proxy (character count,
    whitespace word count, distinct-word count — correlated but not
    identical signals, so alpha lands strictly between 0 and 1), using
    the pinned percentile_disc convention for the cuts.  The
    coincidence algebra stays EXACT by doubling: for m=3 raters the
    off-diagonal coincidence mass of unit u is (9 - sum_c n_uc^2)/2,
    so T_o2 = sum_u (9 - sum_c n_uc^2) is an exact integer, marginals
    are exact integer sums, and alpha = 1 - T_o2(N-1) / (2(N^2 -
    sum_c m_c^2)) with N = 3n closes in ONE rounded double expression
    (squares go through doubles to dodge the 2^63 bound at 1e9+ docs).

    Shape at any SF: one scan computes the three per-doc integers
    map-side; the six tercile cuts are two percentile passes (the
    llm_judge_agreement two-pass shape); labeling + the unit algebra
    is a second map-side pass partial-aggregating onto ONE moment row
    — the corpus never shuffles."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_KRIPP_SQL.format(**_KRIPP_SPARK_FMT))


# Personalized PageRank (round 11): same exact integer pico-unit BSP
# as graph_pagerank, but the 0.15 teleport mass restarts at ONE seed
# node (the max-degree part, min-key tiebreak) instead of spreading
# uniformly — the "related items from HERE" primitive.  Three unrolled
# rounds; every division is floor division on non-negative bigints, so
# both engines replay bit-identical integers.
_PPR_ROUNDS = 3


def _ppr_oracle() -> str:
    rounds = "".join(
        f""",
    c{k} AS (SELECT p.v AS node, sum(r{k - 1}.r // o.d) AS s
           FROM pairs p JOIN r{k - 1} ON p.u = r{k - 1}.node
           JOIN outdeg o ON p.u = o.u
           GROUP BY p.v),
    r{k} AS (SELECT r{k - 1}.node,
                  CASE WHEN r{k - 1}.node = seed.s
                       THEN {15 * _PAGERANK_SCALE} // 100 ELSE 0 END
                    + (85 * coalesce(c{k}.s, 0)) // 100 AS r
           FROM r{k - 1} CROSS JOIN seed LEFT JOIN c{k} ON r{k - 1}.node = c{k}.node)"""
        for k in range(1, _PPR_ROUNDS + 1)
    )
    return f"""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    outdeg AS (SELECT u, count(*) AS d FROM pairs GROUP BY u),
    seed AS (SELECT u AS s FROM outdeg ORDER BY d DESC, u LIMIT 1),
    r0 AS (SELECT u AS node,
                  CASE WHEN u = seed.s THEN {_PAGERANK_SCALE} ELSE 0 END AS r
           FROM outdeg CROSS JOIN seed){rounds}
    SELECT node, round(cast(r AS DOUBLE) / {_PAGERANK_SCALE}.0, 8) AS ppr
    FROM r{_PPR_ROUNDS} WHERE r > 0
    ORDER BY r DESC, node
    LIMIT 20
    """


@query(
    "graph_personalized_pagerank",
    "§2.21 personalized PageRank from the max-degree seed (3 unrolled exact-integer rounds)",
    _ppr_oracle(),
    doc="Top-20 parts by PPR restarting at the hub part.",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank — the random walk WITH RESTART that powers
    'related items' / local-neighborhood ranking: identical BSP shape
    to graph_pagerank (damping 0.85, rank shares r div d pushed along
    out-edges, one edge shuffle + one destination hash-agg per round)
    except the 0.15 teleport mass re-concentrates at a single seed
    every round instead of spreading uniformly, so rank stays LOCAL to
    the seed's neighborhood.  The seed is data-derived but
    deterministic (max-degree node, min-key tiebreak — the hub the
    fixture's recommendation query would start from).  Ranks live in
    exact integer pico-units with floor division throughout (Spark
    `div` == DuckDB `//` on non-negative bigints), so three unrolled
    rounds replay bit-identically in both engines; WHERE r > 0 keeps
    the output to the reached neighborhood.

    Shape at any SF: same as graph_pagerank — per-round cost is one
    shuffle of the edge table keyed on source plus a node-grain hash
    agg; the rank/degree/seed tables are node-sized and broadcast
    under the same metadata-only small_node_count guard; each round's
    rank table is lineage-checkpointed so the plan stays linear in
    rounds."""
    und = copurchase_edges(spark, sf_dir)
    pairs = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    outdeg = pairs.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    seed = outdeg.orderBy(F.desc("d"), "u").limit(1).select(F.col("u").alias("s"))
    bc = F.broadcast if small_node_count(spark, sf_dir) else (lambda df: df)
    r = (
        outdeg.select(F.col("u").alias("node"))
        .join(F.broadcast(seed))
        .select(
            "node",
            F.when(F.col("node") == F.col("s"), F.lit(_PAGERANK_SCALE))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("r"),
        )
    )
    for _ in range(_PPR_ROUNDS):
        share = r.join(
            outdeg.withColumnRenamed("u", "node"), "node"
        ).select(F.col("node").alias("u"), F.expr("r div d").alias("c"))
        contrib = (
            pairs.join(bc(share), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").alias("s_c"))
        )
        r = (
            r.select("node")
            .join(F.broadcast(seed))
            .join(bc(contrib), "node", "left")
            .select(
                "node",
                (
                    F.when(
                        F.col("node") == F.col("s"),
                        F.lit(15 * _PAGERANK_SCALE // 100),
                    ).otherwise(F.lit(0))
                    + F.expr("(85 * coalesce(s_c, 0)) div 100")
                )
                .cast("bigint")
                .alias("r"),
            )
            .transform(lineage_checkpoint_lazy)
        )
    return (
        r.filter(F.col("r") > 0)
        .orderBy(F.desc("r"), "node")
        .limit(20)
        .select(
            "node",
            F.round(
                F.col("r").cast("double") / F.lit(float(_PAGERANK_SCALE)), 8
            ).alias("ppr"),
        )
    )


# Seasonal Mann-Kendall (round 11, wave 3): the Hirsch-Slack variant —
# run the MK sign test WITHIN each weekday subseries (so the weekly
# cycle cannot masquerade as trend), then combine S and the
# tie-corrected variances additively.  Template SQL: only the
# epoch-day-mod-7 spelling differs; everything upstream of the two
# closing double expressions is an exact integer.
_SEASONAL_MK_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d, {dow} AS dow,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) AS v
  FROM orders GROUP BY o_orderdate
),
s AS (
  SELECT a.dow, CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s_g
  FROM daily a JOIN daily b ON a.dow = b.dow AND a.d < b.d
  GROUP BY a.dow
),
n AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_g FROM daily GROUP BY dow),
ties AS (
  SELECT dow, COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
           AS tie_g
  FROM (SELECT dow, v, count(*) AS t FROM daily GROUP BY dow, v
        HAVING count(*) > 1)
  GROUP BY dow
),
g AS (
  SELECT n.dow, COALESCE(s.s_g, 0) AS s_g,
         n.n_g * (n.n_g - 1) * (2 * n.n_g + 5) - COALESCE(ties.tie_g, 0)
           AS var18_g
  FROM n LEFT JOIN s ON n.dow = s.dow LEFT JOIN ties ON n.dow = ties.dow
),
tot AS (
  SELECT CAST(sum(s_g) AS BIGINT) AS s_tot,
         CAST(sum(var18_g) AS BIGINT) AS var18,
         CAST(count(*) AS BIGINT) AS n_seasons
  FROM g
)
SELECT (SELECT CAST(sum(n_g) AS BIGINT) FROM n) AS n_days,
       n_seasons, s_tot,
       round(CAST(var18 AS DOUBLE) / 18, 6) AS var_s,
       round(CASE WHEN s_tot > 0
                  THEN (s_tot - 1) / sqrt(CAST(var18 AS DOUBLE) / 18)
                  WHEN s_tot < 0
                  THEN (s_tot + 1) / sqrt(CAST(var18 AS DOUBLE) / 18)
                  ELSE CAST(0 AS DOUBLE) END, 6) AS z
FROM tot
"""


@query(
    "ts_seasonal_mann_kendall",
    "§2.21 seasonal Mann-Kendall (Hirsch-Slack): within-weekday trend test, additive combine",
    _SEASONAL_MK_SQL.format(dow="(CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7"),
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack) — the variant
    a weekly-cycled series actually needs: ts_mann_kendall compares
    EVERY day pair, so a strong weekday effect inflates (or masks) the
    trend signal; the seasonal form runs the sign test only WITHIN
    each weekday subseries and combines S = sum S_g and the
    tie-corrected variances additively (valid because the subseries
    statistics are independent under H0).  Same exactness contract as
    the parent test: cent-sum days, integer sign pairs, integer tie
    terms, one shared template (only the epoch-day-mod-7 spelling
    differs), two closing double expressions with the continuity
    correction.

    Shape at any SF: one scan of orders partial-aggs to the CALENDAR-
    bounded daily table; the pair join now runs within weekday groups
    (~7 x (days/7)^2 pairs — about 1/7 of the parent test's work) and
    everything downstream is O(7) rows."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _SEASONAL_MK_SQL.format(
            dow="datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') % 7"
        )
    )


# Holm-Bonferroni step-down (round 11, wave 3): the FAMILY-WISE error
# companion to stats_fdr_bh, on the identical 25-nation proportion-test
# chassis (same z, same Abramowitz-Stegun erf p-values) — adjusted
# p_i = max over j<=i of (m-j+1)*p_j, a prefix running-max in
# ASCENDING rank order (BH is the suffix running-min), capped at 1.
_HOLM_SQL = f"""
WITH joined AS (
  SELECT c.c_nationkey AS nk,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
         CAST(count(*) AS BIGINT) AS m
  FROM joined
),
zt AS (
  SELECT j.nk, j.n, j.k, t.m,
         (CAST(j.k AS DOUBLE) / j.n - CAST(t.kk - j.k AS DOUBLE) / (t.nn - j.n))
         / sqrt((CAST(t.kk AS DOUBLE) / t.nn) * (1 - CAST(t.kk AS DOUBLE) / t.nn)
                * (CAST(1 AS DOUBLE) / j.n + CAST(1 AS DOUBLE) / (t.nn - j.n)))
           AS z
  FROM joined j CROSS JOIN tot t
),
pv AS (
  SELECT nk, n, k, m, z, 1 - {_FDR_ERF} AS p
  FROM zt
),
ranked AS (
  SELECT nk, n, k, m, z, p,
         row_number() OVER (ORDER BY p, nk) AS rnk
  FROM pv
),
adj AS (
  SELECT nk, n, k, z, p, rnk,
         least(max(p * (m - rnk + 1)) OVER (ORDER BY rnk
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW),
               CAST(1 AS DOUBLE)) AS p_adj
  FROM ranked
)
SELECT nk AS nationkey, n AS n_orders, k AS n_urgent,
       round(z, 4) AS z_stat, round(p, 6) AS p_value,
       round(p_adj, 6) AS p_holm,
       CASE WHEN p_adj <= 0.05 THEN 1 ELSE 0 END AS rejected
FROM adj
"""


@query(
    "stats_holm_bonferroni",
    "§2.21 Holm-Bonferroni step-down FWER control over 25 per-nation proportion tests",
    _HOLM_SQL,
)
def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-down — the FAMILY-WISE error-rate control
    that completes stats_fdr_bh's FDR view of the same 25-nation
    urgent-share test family: BH answers "which discoveries can I
    tolerate 10% of being false", Holm answers "which can I claim with
    95% confidence that NONE are false" (uniformly more powerful than
    plain Bonferroni at no extra assumptions — the default when a
    dashboard will act on every flagged segment).  Identical chassis
    to the BH query (same exact integer contingency rows, same z, the
    same Abramowitz-Stegun erf polynomial for p — one shared source of
    truth for the family), then adjusted p_i = max_{{j<=i}}
    (m-j+1)·p_j: a PREFIX running-max in ascending rank order where BH
    is the suffix running-min — the two queries together are the
    textbook pair.  One shared SQL text.

    Shape at any SF: one orders-customer join partial-aggs onto 25
    contingency rows; everything downstream (rank, running max) is a
    25-row window.  The join broadcasts the customer dim under AQE at
    this SF; at 100 TB it shuffles on custkey like the BH query."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_HOLM_SQL)


# Friedman test (round 12): non-parametric repeated-measures ANOVA
# over the (day x event_type) daily-count grid — blocks are days,
# treatments the 5 event types, every block complete on this fixture
# (the query keeps only complete blocks, the ts_seasonal_decompose
# full-window rule).  One shared SQL text.  Determinism: average
# ranks are exact in DOUBLED integer units (2r = 2*#less + #eq + 1,
# the stats_krippendorff_alpha doubled-unit precedent), rank sums and
# the tie-corrected statistic close as an exact integer ratio — the
# factor 4 cancels between numerator and Conover's A - C denominator,
# so Q = (k-1) * sum_j (R2_j - n(k+1))^2 / (4A - nk(k+1)^2) is one
# double division of exact bigints.
_FRIEDMAN_SQL = """
WITH cell AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
full_blocks AS (
  SELECT d FROM cell GROUP BY d
  HAVING count(*) = (SELECT count(DISTINCT event_type) FROM cell)
),
k1 AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM cell),
r2 AS (
  SELECT a.d, a.event_type,
         CAST(2 * sum(CASE WHEN b.c < a.c THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 2
              AS BIGINT) AS rr
  FROM cell a
  JOIN full_blocks fb ON a.d = fb.d
  JOIN cell b ON a.d = b.d AND a.event_type <> b.event_type
  GROUP BY a.d, a.event_type
),
sums AS (
  SELECT event_type,
         CAST(sum(rr) AS BIGINT) AS r2_sum,
         CAST(sum(rr * rr) AS BIGINT) AS a4_part,
         CAST(count(*) AS BIGINT) AS n
  FROM r2 GROUP BY event_type
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM full_blocks),
tot AS (
  SELECT CAST(sum(s.a4_part) AS BIGINT) AS a4,
         nb.n AS n, k1.k AS k,
         CAST(sum((s.r2_sum - nb.n * (k1.k + 1))
                  * (s.r2_sum - nb.n * (k1.k + 1))) AS BIGINT) AS dev2
  FROM sums s CROSS JOIN nb CROSS JOIN k1
  GROUP BY nb.n, k1.k
),
q AS (
  SELECT n, k,
         CASE WHEN a4 - n * k * (k + 1) * (k + 1) > 0
              THEN round((k - 1) * CAST(dev2 AS DOUBLE)
                         / (a4 - n * k * (k + 1) * (k + 1)), 6)
              END AS q_stat
  FROM tot
)
SELECT s.event_type,
       round(CAST(s.r2_sum AS DOUBLE) / 2, 1) AS rank_sum,
       round(CAST(s.r2_sum AS DOUBLE) / 2 / q.n, 6) AS mean_rank,
       q.n AS n_blocks, q.k AS k_treatments, q.q_stat,
       CAST(q.k - 1 AS BIGINT) AS df,
       CASE CAST(q.k - 1 AS BIGINT)
            WHEN 1 THEN CAST(3.841459 AS DOUBLE)
            WHEN 2 THEN CAST(5.991465 AS DOUBLE)
            WHEN 3 THEN CAST(7.814728 AS DOUBLE)
            WHEN 4 THEN CAST(9.487729 AS DOUBLE)
            WHEN 5 THEN CAST(11.070498 AS DOUBLE)
            WHEN 6 THEN CAST(12.591587 AS DOUBLE)
            WHEN 7 THEN CAST(14.067140 AS DOUBLE)
            WHEN 8 THEN CAST(15.507313 AS DOUBLE)
       END AS chi2_crit_95,
       CAST(CASE WHEN q.q_stat > CASE CAST(q.k - 1 AS BIGINT)
                          WHEN 1 THEN CAST(3.841459 AS DOUBLE)
                          WHEN 2 THEN CAST(5.991465 AS DOUBLE)
                          WHEN 3 THEN CAST(7.814728 AS DOUBLE)
                          WHEN 4 THEN CAST(9.487729 AS DOUBLE)
                          WHEN 5 THEN CAST(11.070498 AS DOUBLE)
                          WHEN 6 THEN CAST(12.591587 AS DOUBLE)
                          WHEN 7 THEN CAST(14.067140 AS DOUBLE)
                          WHEN 8 THEN CAST(15.507313 AS DOUBLE)
                     END
                 THEN 1 ELSE 0 END AS BIGINT)
         AS reject_equal_treatments
FROM sums s CROSS JOIN q ORDER BY s.event_type
"""


@query(
    "stats_friedman_test",
    "§2.21 Friedman repeated-measures rank test over the day x event-type grid",
    _FRIEDMAN_SQL,
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the repeated-measures companion to
    stats_kruskal_wallis (which assumes independent groups): does any
    event type systematically out-count the others DAY AFTER DAY, with
    each day acting as its own block so a busy Monday inflates every
    type equally and cancels out?  Blocks = days, treatments = event
    types, complete blocks only; within-day average ranks kept exact
    in doubled integer units; the tie-corrected statistic (Conover's
    A - C form, which reduces to the textbook 12/(nk(k+1)) formula
    when ties are absent) closes as ONE double division of exact
    bigint aggregates, against chi-square(k-1) at 95%.  The property
    test replays ranks, ties, and Q with scipy-free numpy and pins
    the no-tie reduction.

    Shape at any SF: one hash agg collapses events to the
    calendar-bounded (day x type) grid; the within-day rank self-join
    is k^2 rows per day over that grid, and every later stage is
    |types|-row.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_FRIEDMAN_SQL)


# Cronbach's alpha (round 12): internal-consistency reliability of a
# k-item doc-quality "scale" — the psychometric sanity check a
# composite quality score needs before anyone averages its items.
# Items are four deterministic per-doc counters (chars, tokens,
# distinct tokens, longest token); template SQL (tokenizer spelling
# per engine), every moment an exact DECIMAL(19,0)x(19,0) product sum
# (the llm_judge_length_bias overflow discipline), alpha closed as
# one fixed-order double expression over the exact variance
# NUMERATORS (the n^2 denominators cancel in the ratio).
_CRONBACH_SQL = """
WITH items AS (
  SELECT CAST(n_chars AS BIGINT) AS i1,
         CAST({nt} AS BIGINT) AS i2,
         CAST({dt} AS BIGINT) AS i3,
         CAST({mx} AS BIGINT) AS i4
  FROM documents
  WHERE text IS NOT NULL
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(i1 AS DECIMAL(19,0))) AS DOUBLE) AS s1,
         CAST(sum(CAST(i2 AS DECIMAL(19,0))) AS DOUBLE) AS s2,
         CAST(sum(CAST(i3 AS DECIMAL(19,0))) AS DOUBLE) AS s3,
         CAST(sum(CAST(i4 AS DECIMAL(19,0))) AS DOUBLE) AS s4,
         CAST(sum(CAST(i1 AS DECIMAL(19,0)) * CAST(i1 AS DECIMAL(19,0)))
              AS DOUBLE) AS q1,
         CAST(sum(CAST(i2 AS DECIMAL(19,0)) * CAST(i2 AS DECIMAL(19,0)))
              AS DOUBLE) AS q2,
         CAST(sum(CAST(i3 AS DECIMAL(19,0)) * CAST(i3 AS DECIMAL(19,0)))
              AS DOUBLE) AS q3,
         CAST(sum(CAST(i4 AS DECIMAL(19,0)) * CAST(i4 AS DECIMAL(19,0)))
              AS DOUBLE) AS q4,
         CAST(sum(CAST(i1 + i2 + i3 + i4 AS DECIMAL(19,0))) AS DOUBLE) AS st,
         CAST(sum(CAST(i1 + i2 + i3 + i4 AS DECIMAL(19,0))
                  * CAST(i1 + i2 + i3 + i4 AS DECIMAL(19,0)))
              AS DOUBLE) AS qt
  FROM items
)
SELECT n AS n_docs, CAST(4 AS BIGINT) AS k_items,
       round((n * q1 - s1 * s1) / n / n, 6) AS var_chars,
       round((n * q2 - s2 * s2) / n / n, 6) AS var_tokens,
       round((n * q3 - s3 * s3) / n / n, 6) AS var_distinct,
       round((n * q4 - s4 * s4) / n / n, 6) AS var_maxtoken,
       round((n * qt - st * st) / n / n, 6) AS var_total,
       round(4.0 / 3.0 * (1 - ((n * q1 - s1 * s1) + (n * q2 - s2 * s2)
                               + (n * q3 - s3 * s3) + (n * q4 - s4 * s4))
                              / (n * qt - st * st)), 6) AS alpha
FROM m
"""


@query(
    "stats_cronbach_alpha",
    "§2.21 Cronbach's alpha: internal consistency of a 4-item doc-quality scale",
    _CRONBACH_SQL.format(
        nt="len(string_split(text, ' '))",
        dt="len(list_distinct(string_split(text, ' ')))",
        mx="list_max(list_transform(string_split(text, ' '), x -> length(x)))",
    ),
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha — the internal-consistency check a composite
    quality score must pass before its items are averaged into one
    number (the reliability half of what stats_krippendorff_alpha
    does for RATERS, done here for ITEMS): alpha = k/(k-1) *
    (1 - sum(Var item_i)/Var(sum of items)) over four deterministic
    per-doc counters (chars, tokens, distinct tokens, longest token).
    Items that move together (high inter-item covariance) push alpha
    toward 1; orthogonal items push it toward 0.  This is RAW-score
    alpha (covariances of the items as-is): the fixture lands
    mid-range (~0.4) because n_chars' variance dwarfs the other
    items' — exactly the scale-imbalance a practitioner reads as
    "standardize before averaging", and the numpy replay pins the
    value along with the variance algebra itself.  Population variances
    from exact decimal moments, one fixed-order closing expression;
    the n^2 denominators cancel inside the alpha ratio so the closed
    form divides exact integer-valued doubles.

    Shape at any SF: one map-side tokenize pass partial-aggs eleven
    exact moments into a single row — no shuffle wider than the
    11-column partial-agg exchange, no window, no join.  100 TB costs
    exactly one corpus scan."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        _CRONBACH_SQL.format(
            nt="size(split(text, ' '))",
            dt="size(array_distinct(split(text, ' ')))",
            mx="array_max(transform(split(text, ' '), x -> length(x)))",
        )
    )


# ROC / AUC (round 12): threshold-free discrimination audit — does
# order price "predict" urgent priority?  Score is BINNED to the
# $5,000 grid FIRST (a ~100-cell value domain), so the rank machinery
# runs on the domain table, never the corpus: the classic scalable
# AUC shape (per-bin (pos, neg) cells + prefix sums), with bin ties
# handled by the trapezoid / average-rank correction — this is the
# exact AUC of the binned score, stated as such.  One shared SQL
# text; everything integer until the three closing divisions.
_ROC_AUC_SQL = """
WITH cells AS (
  SELECT CAST(floor(o_totalprice / 5000) AS BIGINT) AS b,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END)
              AS BIGINT) AS neg
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS q
  FROM cells
),
pref AS (
  SELECT b, pos, neg,
         CAST(coalesce(sum(neg) OVER (ORDER BY b
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below,
         CAST(sum(pos) OVER (ORDER BY b DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS pos_at_or_above,
         CAST(sum(neg) OVER (ORDER BY b DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS neg_at_or_above
  FROM cells
),
auc AS (
  SELECT round(CAST(sum(pos * (2 * neg_below + neg)) AS DOUBLE)
               / (2 * CAST(t.p AS DOUBLE) * t.q), 6) AS auc
  FROM pref CROSS JOIN tot t GROUP BY t.p, t.q
)
SELECT pr.b AS bucket,
       CAST(pr.b * 5000 AS BIGINT) AS score_lo_usd,
       pr.pos AS n_pos, pr.neg AS n_neg,
       round(CAST(pr.pos_at_or_above AS DOUBLE) / t.p, 6) AS tpr,
       round(CAST(pr.neg_at_or_above AS DOUBLE) / t.q, 6) AS fpr,
       a.auc
FROM pref pr CROSS JOIN tot t CROSS JOIN auc a
ORDER BY bucket
"""


@query(
    "stats_roc_auc",
    "§2.21 ROC curve + exact binned-score AUC (price discriminating urgent priority)",
    _ROC_AUC_SQL,
)
def stats_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve and AUC — the threshold-free discrimination metric
    every classifier/eval pipeline reports, built the way it scales:
    bin the score to a fixed value grid FIRST (here $5,000 price
    buckets, ~100 cells whatever the SF), aggregate (pos, neg) per
    cell, and read both the ROC points (TPR/FPR of "predict positive
    at or above bucket t") and the exact average-rank AUC of the
    binned score from prefix sums over the DOMAIN table — the same
    domain-collapse discipline as stats_kruskal_wallis.  AUC doubles
    are one division of exact integers (the tie term pos*neg/2 kept
    doubled); the fixture's priority is nearly price-independent, so
    AUC must land near 0.5, which the numpy replay pins exactly along
    with a sklearn-convention trapezoid cross-check.

    Shape at any SF: one scan of orders partial-aggs map-side onto
    the ~100-cell grid; the two prefix windows and the finish run on
    that metadata-scale table (the single-partition window is over a
    bounded value domain, the profile_key_skew justification)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_ROC_AUC_SQL)


# Calibration + Brier decomposition (round 12): train a histogram
# "model" P(urgent | price bucket) on an 80% key split, evaluate its
# calibration on the held-out 20% — the reliability-diagram +
# Murphy-decomposition audit every probabilistic scorer gets before
# its outputs are trusted as probabilities.  One shared SQL text.
# Determinism: p_hat and per-bucket observed rates are single
# divisions of exact integers (identical in both engines); every
# cross-bucket Brier/reliability/resolution sum first snaps the
# per-bucket term to a 1e-9-grain bigint (the ts_ljung_box
# integerized-sum discipline) so hash-agg order cannot matter.
_CALIBRATION_SQL = """
WITH labeled AS (
  SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS b,
         CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
              AS BIGINT) AS y,
         o_orderkey % 10 AS fold
  FROM orders
),
tr AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_tr,
         CAST(sum(y) AS BIGINT) AS pos_tr
  FROM labeled WHERE fold < 8 GROUP BY b
),
te AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_te,
         CAST(sum(y) AS BIGINT) AS pos_te
  FROM labeled WHERE fold >= 8 GROUP BY b
),
cells AS (
  SELECT te.b, tr.n_tr, te.n_te, te.pos_te,
         CAST(tr.pos_tr AS DOUBLE) / tr.n_tr AS p_hat,
         CAST(te.pos_te AS DOUBLE) / te.n_te AS o_rate
  FROM te JOIN tr ON te.b = tr.b
),
g AS (
  SELECT CAST(sum(n_te) AS BIGINT) AS n,
         CAST(sum(pos_te) AS DOUBLE) / sum(n_te) AS obar
  FROM cells
),
terms AS (
  SELECT b, n_tr, n_te, pos_te, p_hat, o_rate,
         CAST(round((p_hat * p_hat * n_te - 2 * p_hat * pos_te + pos_te)
                    * 1000000000) AS BIGINT) AS brier9,
         CAST(round(n_te * (p_hat - o_rate) * (p_hat - o_rate)
                    * 1000000000) AS BIGINT) AS rel9,
         CAST(round(n_te * (o_rate - g.obar) * (o_rate - g.obar)
                    * 1000000000) AS BIGINT) AS res9
  FROM cells CROSS JOIN g
),
scalars AS (
  SELECT round(CAST(sum(brier9) AS DOUBLE) / 1000000000 / g.n, 6) AS brier,
         round(CAST(sum(rel9) AS DOUBLE) / 1000000000 / g.n, 6)
           AS reliability,
         round(CAST(sum(res9) AS DOUBLE) / 1000000000 / g.n, 6)
           AS resolution,
         round(g.obar * (1 - g.obar), 6) AS uncertainty
  FROM terms CROSS JOIN g GROUP BY g.n, g.obar
)
SELECT t.b AS bucket, t.n_tr AS n_train, t.n_te AS n_test,
       round(t.p_hat, 6) AS p_hat,
       round(t.o_rate, 6) AS obs_rate,
       round(t.o_rate - t.p_hat, 6) AS calib_gap,
       s.brier, s.reliability, s.resolution, s.uncertainty
FROM terms t CROSS JOIN scalars s ORDER BY bucket
"""


@query(
    "stats_calibration_brier",
    "§2.21 reliability diagram + Murphy-decomposed Brier score on a held-out fold",
    _CALIBRATION_SQL,
)
def stats_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit with the Murphy decomposition — the
    probability-quality companion to stats_roc_auc (AUC says whether
    the score RANKS positives above negatives; calibration says
    whether 0.3 MEANS 30%): fit the histogram estimator
    P(urgent | $25k price bucket) on the o_orderkey%10<8 train fold,
    then per held-out bucket report predicted vs observed rate and
    the gap, plus the decomposed Brier score BS = reliability -
    resolution + uncertainty (the identity holds exactly for a
    bucket-constant forecaster evaluated on the same buckets — the
    property test pins it, alongside a full numpy replay).  The
    global n/obar are computed over the SCORED (train-joined) cells,
    not all test rows, so the identity holds by construction even if
    a held-out bucket has no train fold (ADVICE r12; 0 such buckets
    at every shipped SF, so values are unchanged).  Exact
    integer counts everywhere; the only doubles are per-bucket exact
    divisions and 1e-9-integerized decomposition terms, so both
    engines sum identical bigints in any order.

    Shape at any SF: two filtered passes over orders partial-agg onto
    the ~20-cell bucket grid (Catalyst collapses them into one scan's
    two aggregates at this width); the join, decomposition, and
    finish are metadata-scale.  No window at all."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_CALIBRATION_SQL)


# Hodges-Lehmann shift estimator (round 12): the robust "how much
# MORE revenue does a weekday bring than a weekend day" number — the
# estimation companion to the rank TESTS (Mann-Whitney says WHETHER
# the distributions differ; HL says BY HOW MUCH, robustly).  Template
# SQL (epoch-day-mod-7 weekday spelling per engine).  Determinism:
# daily cents are half-up exact integers, every pairwise difference
# is an exact bigint, and all three medians use the same explicit
# order-statistic convention (mean of the two middle values, exact in
# half-cent units) — row_number over duplicate values picks an
# arbitrary ROW but always the same VALUE, so the k-th statistic is
# engine-stable.
_HODGES_LEHMANN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents,
         CASE WHEN {dow} IN (2, 3) THEN 1 ELSE 0 END AS wknd
  FROM orders GROUP BY 1
),
wd AS (SELECT cents FROM daily WHERE wknd = 0),
we AS (SELECT cents FROM daily WHERE wknd = 1),
diffs AS (
  SELECT wd.cents - we.cents AS dd FROM wd CROSS JOIN we
),
rd AS (
  SELECT dd, row_number() OVER (ORDER BY dd) AS rn,
         count(*) OVER () AS n
  FROM diffs
),
hl AS (
  SELECT CAST(min(n) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                       THEN dd ELSE 0 END)
              + sum(CASE WHEN rn = CAST(floor(n / 2) + 1 AS BIGINT)
                         THEN dd ELSE 0 END) AS BIGINT) AS hl2
  FROM rd
),
rwd AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
         count(*) OVER () AS n
  FROM wd
),
mwd AS (
  SELECT CAST(min(n) AS BIGINT) AS n_wd,
         CAST(sum(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                       THEN cents ELSE 0 END)
              + sum(CASE WHEN rn = CAST(floor(n / 2) + 1 AS BIGINT)
                         THEN cents ELSE 0 END) AS BIGINT) AS m2
  FROM rwd
),
rwe AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
         count(*) OVER () AS n
  FROM we
),
mwe AS (
  SELECT CAST(min(n) AS BIGINT) AS n_we,
         CAST(sum(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                       THEN cents ELSE 0 END)
              + sum(CASE WHEN rn = CAST(floor(n / 2) + 1 AS BIGINT)
                         THEN cents ELSE 0 END) AS BIGINT) AS m2
  FROM rwe
)
SELECT mwd.n_wd AS n_weekday_days, mwe.n_we AS n_weekend_days,
       hl.n_pairs,
       round(CAST(mwd.m2 AS DOUBLE) / 2 / 100, 2) AS median_weekday_usd,
       round(CAST(mwe.m2 AS DOUBLE) / 2 / 100, 2) AS median_weekend_usd,
       round(CAST(mwd.m2 - mwe.m2 AS DOUBLE) / 2 / 100, 2)
         AS median_diff_usd,
       round(CAST(hl.hl2 AS DOUBLE) / 2 / 100, 2) AS hl_shift_usd
FROM hl CROSS JOIN mwd CROSS JOIN mwe
"""


@query(
    "stats_hodges_lehmann",
    "§2.21 Hodges-Lehmann shift: robust weekday-vs-weekend daily-revenue difference",
    _HODGES_LEHMANN_SQL.format(dow="(d - DATE '1970-01-01') % 7"),
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann two-sample shift — the median of ALL pairwise
    weekday-minus-weekend daily-revenue differences: the robust
    effect-size estimate that belongs next to stats_mann_whitney's
    p-value (it is the estimator consistent with that test, immune to
    the outlier days that drag a mean difference around, and more
    efficient than the plain difference of medians it is reported
    beside here).  Daily cents are half-up exact integers; the
    ~1.2M pairwise differences are exact bigints; all medians take
    the mean of the two middle order statistics exactly in half-cent
    units.  The property test replays the full pair set in numpy and
    pins HL between the 25th and 75th percentile of differences.

    Shape at any SF: orders partial-agg map-side to the
    CALENDAR-bounded daily table, so the weekday x weekend cross join
    is days^2/~10 rows — constant in corpus size (the ts_mann_kendall
    pair-join justification) — and each global window sorts that
    bounded pair table, never facts.  100 TB costs the one scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _HODGES_LEHMANN_SQL.format(
            dow="datediff(d, DATE '1970-01-01') % 7"
        )
    )


# Randomization test (round 12): the significance half of the
# stats_hodges_lehmann story — is the weekday-vs-weekend daily-revenue
# difference real, without ANY distributional assumption?  200
# deterministic hash-seeded relabelings of the days (the
# stats_bootstrap_ci md5 idiom: u = first-15-hex-digits / 2^60 is the
# same uniform in both engines), each day joining pseudo-group
# "weekend" with probability n_we/n — a binomial randomization test
# (expected group sizes preserved; the exact-permutation variant
# fixes them, documented).  Template SQL: only the hex->unit and
# series spellings differ; every replicate statistic is a closed
# double over exact integer sums, every comparison deterministic.
_PERMUTATION_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents,
         CASE WHEN {dow} IN (2, 3) THEN 1 ELSE 0 END AS wknd
  FROM orders GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(wknd) AS BIGINT) AS n_we,
         CAST(sum(CASE WHEN wknd = 0 THEN cents ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN wknd = 0 THEN 1 ELSE 0 END)
         - CAST(sum(CASE WHEN wknd = 1 THEN cents ELSE 0 END) AS DOUBLE)
           / sum(wknd) AS diff_obs
  FROM daily
),
bs AS (SELECT {series} AS b),
draws AS (
  SELECT bs.b,
         CASE WHEN {u} < CAST(g.n_we AS DOUBLE) / g.n THEN 1 ELSE 0 END
           AS flag,
         daily.cents
  FROM daily CROSS JOIN bs CROSS JOIN g
),
reps AS (
  SELECT b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(flag) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN flag = 0 THEN cents ELSE 0 END) AS DOUBLE)
           AS s0,
         CAST(sum(CASE WHEN flag = 1 THEN cents ELSE 0 END) AS DOUBLE)
           AS s1
  FROM draws GROUP BY b
),
valid AS (
  SELECT b, s0 / (n - n1) - s1 / n1 AS diff_b
  FROM reps WHERE n1 > 0 AND n1 < n
)
SELECT g.n AS n_days, g.n - g.n_we AS n_weekday, g.n_we AS n_weekend,
       CAST(200 AS BIGINT) AS b_total,
       CAST(count(*) AS BIGINT) AS b_valid,
       round(g.diff_obs / 100, 2) AS diff_obs_usd,
       round(CAST(1 + sum(CASE WHEN abs(v.diff_b) >= abs(g.diff_obs)
                               THEN 1 ELSE 0 END) AS DOUBLE)
             / (1 + count(*)), 6) AS p_value
FROM valid v CROSS JOIN g
GROUP BY g.n, g.n_we, g.diff_obs
"""

_PERM_U_SPARK = (
    "CAST(conv(substring(md5(CAST(concat(CAST(daily.d AS STRING), '_', "
    "CAST(bs.b AS STRING)) AS BINARY)), 1, 15), 16, 10) AS DOUBLE) "
    "/ 1152921504606846976"
)
_PERM_U_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(concat(CAST(daily.d AS VARCHAR), '_', "
    "CAST(bs.b AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) "
    "/ 1152921504606846976"
)


@query(
    "stats_permutation_test",
    "§2.22 randomization test: weekday-vs-weekend revenue difference, 200 hash-seeded relabelings",
    _PERMUTATION_SQL.format(
        dow="(d - DATE '1970-01-01') % 7",
        series="unnest(generate_series(1, 200))",
        u=_PERM_U_DUCK,
    ),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test — the assumption-free p-value that belongs
    next to stats_hodges_lehmann's effect size and
    stats_mann_whitney's rank test: re-label each day weekday/weekend
    200 times with a DETERMINISTIC hash uniform (md5(day, replicate)
    — the stats_bootstrap_ci idiom, identical bits in both engines),
    recompute the mean daily-revenue difference per relabeling, and
    report p = (1 + #{|diff_b| >= |diff_obs|}) / (1 + B) with the
    add-one convention.  Binomial relabeling (each day independently
    weekend with probability n_we/n) rather than a fixed-size
    permutation — expected group sizes are preserved, empty-group
    replicates are dropped and counted, and the convention is part of
    the definition (a fixed-size exact permutation needs a
    distributed sort per replicate for no extra statistical power at
    this B).  Every replicate statistic is a closed double over exact
    integer cent sums; the property test replays all 200 replicates
    byte-for-byte in python hashlib.

    Shape at any SF: orders partial-agg map-side to the
    calendar-bounded daily table; the 200x fan-out is days x B rows
    (~0.5M here, constant in corpus size) partial-agg'd onto B
    replicate rows.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _PERMUTATION_SQL.format(
            dow="datediff(d, DATE '1970-01-01') % 7",
            series="explode(sequence(1, 200))",
            u=_PERM_U_SPARK,
        )
    )


# Modularity (round 12): does co-purchase structure align with a
# KNOWN partition?  Q = sum_c [ e_c/m - (d_c/2m)^2 ] of the BRAND
# partition on the co-purchase graph — the assortativity question a
# merchandiser actually asks ("are same-brand parts bought
# together?"), and the non-degenerate complement to
# graph_label_propagation (whose min-label communities collapse this
# dense graph to one component, where Q = 0 by definition).  On both
# sides every term is an exact integer (directed-edge count m2 = 2m,
# per-community internal directed count e2_c, degree sums), so Q
# closes as ONE double division of exact bigints:
# Q = (m2*sum e2_c - sum d_c^2)/m2^2.
_MODULARITY_SQL = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
ed AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
l3 AS MATERIALIZED (SELECT p_partkey AS n, p_brand AS lab FROM part),
deg AS MATERIALIZED (
  SELECT u AS n, CAST(count(*) AS BIGINT) AS dg FROM ed GROUP BY u
),
m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM ed),
comm AS MATERIALIZED (
  SELECT l3.lab, CAST(count(*) AS BIGINT) AS sz,
         CAST(sum(deg.dg) AS BIGINT) AS d_c
  FROM l3 JOIN deg ON l3.n = deg.n GROUP BY l3.lab
),
intra AS MATERIALIZED (
  SELECT la.lab, CAST(count(*) AS BIGINT) AS e2
  FROM ed JOIN l3 la ON ed.u = la.n JOIN l3 lb ON ed.v = lb.n
  WHERE la.lab = lb.lab GROUP BY la.lab
),
scal AS (
  SELECT CAST(count(*) AS BIGINT) AS n_comm,
         CAST(sum(c.d_c * c.d_c) AS BIGINT) AS sum_d2,
         CAST(sum(coalesce(i.e2, 0)) AS BIGINT) AS tot_e2
  FROM comm c LEFT JOIN intra i ON c.lab = i.lab
),
top AS (
  SELECT c.lab, c.sz, c.d_c, coalesce(i.e2, 0) AS e2,
         row_number() OVER (ORDER BY c.sz DESC, c.lab) AS rn
  FROM comm c LEFT JOIN intra i ON c.lab = i.lab
)
SELECT t.lab AS community, t.sz AS size,
       CAST(t.e2 / 2 AS BIGINT) AS internal_edges,
       t.d_c AS degree_sum,
       round((m.m2 * t.e2 - t.d_c * t.d_c)
             / CAST(m.m2 AS DOUBLE) / m.m2, 6) AS contribution,
       s.n_comm AS n_communities,
       round((m.m2 * s.tot_e2 - s.sum_d2)
             / CAST(m.m2 AS DOUBLE) / m.m2, 6) AS modularity
FROM top t CROSS JOIN m2t m CROSS JOIN scal s
WHERE t.rn <= 10
ORDER BY t.sz DESC, t.lab
"""


@query(
    "graph_modularity",
    "§2.22 modularity of the brand partition on the co-purchase graph (top-10 + Q)",
    _MODULARITY_SQL,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of a KNOWN partition — the assortativity score a
    merchandiser reads before building brand-level recommenders:
    Q = sum_c [e_c/m - (d_c/2m)^2] compares each brand's internal
    co-purchase edge fraction against the degree-preserving random
    expectation (Q near 0: brands mix at chance — the fixture's
    uniform basket generator lands here, which the property test
    pins; 0.3+: real brand-level structure).  Scoring an ATTRIBUTE
    partition keeps the metric non-degenerate where the dense graph's
    own min-label communities collapse to one component (Q = 0 by
    construction — graph_label_propagation documents that).  Reported
    as the 10 largest brands in the graph with sizes, internal edge
    counts, degree sums and per-community contributions, plus global
    Q and community count.  Every term is an exact integer — directed
    edge count m2 = 2m, per-community internal directed counts,
    degree sums — so Q is ONE double division of exact bigints and
    the per-community contribution shares its operation order with
    the oracle.  The property test replays Q in networkx-free numpy
    and pins sum(contribution over ALL communities) == Q.

    Shape at any SF: the edge table is the shared checkpointed
    copurchase staging; the brand labels broadcast from the part dim;
    degrees, community sums, and the intra-edge count are
    node/edge-grain hash aggs; the top-10 is a bounded window over
    the 25-row community table."""
    e0 = copurchase_edges(spark, sf_dir)
    ed = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("n"), F.col("p_brand").alias("lab")
    )
    deg = ed.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dg")
    )
    m2t = ed.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    comm = (
        labels.join(deg, "n")
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sz"),
            F.sum("dg").cast("bigint").alias("d_c"),
        )
    )
    la = labels.withColumnRenamed("n", "u").withColumnRenamed("lab", "lab_u")
    lb = labels.withColumnRenamed("n", "v").withColumnRenamed("lab", "lab_v")
    intra = (
        ed.join(la, "u")
        .join(lb, "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e2"))
    )
    ce = comm.join(intra, "lab", "left").na.fill({"e2": 0})
    scal = ce.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_comm"),
        F.sum(F.col("d_c") * F.col("d_c")).cast("bigint").alias("sum_d2"),
        F.sum("e2").cast("bigint").alias("tot_e2"),
    )
    w = Window.orderBy(F.desc("sz"), "lab")
    top = ce.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    return (
        top.crossJoin(F.broadcast(m2t))
        .crossJoin(F.broadcast(scal))
        .select(
            F.col("lab").alias("community"),
            F.col("sz").alias("size"),
            (F.col("e2") / 2).cast("bigint").alias("internal_edges"),
            F.col("d_c").alias("degree_sum"),
            F.round(
                (F.col("m2") * F.col("e2") - F.col("d_c") * F.col("d_c"))
                / F.col("m2").cast("double")
                / F.col("m2"),
                6,
            ).alias("contribution"),
            F.col("n_comm").alias("n_communities"),
            F.round(
                (F.col("m2") * F.col("tot_e2") - F.col("sum_d2"))
                / F.col("m2").cast("double")
                / F.col("m2"),
                6,
            ).alias("modularity"),
        )
        .orderBy(F.desc("size"), "community")
    )


# Precision-recall curve + average precision (round 12): the
# imbalanced-class companion to stats_roc_auc, on the SAME binned
# (pos, neg) cells — when positives are rare, ROC flatters a
# classifier (FPR's denominator is huge) and PR is the curve that
# actually moves.  One shared SQL text; prefix sums over the ~100-row
# domain table, AP as the step-wise sum of recall-increment x
# precision with every per-bucket term snapped to a 1e-9-grain bigint
# (order-free sum — the stats_calibration_brier discipline).
_AUC_PR_SQL = """
WITH cells AS (
  SELECT CAST(floor(o_totalprice / 5000) AS BIGINT) AS b,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END)
              AS BIGINT) AS neg
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS p,
         CAST(sum(pos) + sum(neg) AS BIGINT) AS nall
  FROM cells
),
pref AS (
  SELECT b, pos, neg,
         CAST(sum(pos) OVER (ORDER BY b DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
         CAST(sum(neg) OVER (ORDER BY b DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
  FROM cells
),
terms AS (
  SELECT b, pos, neg, cp, cn,
         CAST(round(CAST(pos AS DOUBLE) * cp / (cp + cn) * 1000000000)
              AS BIGINT) AS ap9
  FROM pref
),
ap AS (
  SELECT round(CAST(sum(ap9) AS DOUBLE) / 1000000000 / t.p, 6) AS avg_precision
  FROM terms CROSS JOIN tot t GROUP BY t.p
)
SELECT tm.b AS bucket,
       CAST(tm.b * 5000 AS BIGINT) AS score_lo_usd,
       tm.pos AS n_pos, tm.neg AS n_neg,
       round(CAST(tm.cp AS DOUBLE) / (tm.cp + tm.cn), 6) AS precision_at,
       round(CAST(tm.cp AS DOUBLE) / t.p, 6) AS recall_at,
       a.avg_precision,
       round(CAST(t.p AS DOUBLE) / t.nall, 6) AS prevalence_baseline
FROM terms tm CROSS JOIN tot t CROSS JOIN ap a
ORDER BY bucket DESC
"""


@query(
    "stats_auc_pr",
    "§2.22 precision-recall curve + average precision over the binned score",
    _AUC_PR_SQL,
)
def stats_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve and average precision — the metric that
    replaces stats_roc_auc when positives are rare (ROC's
    false-positive RATE barely moves against a huge negative pool;
    precision collapses visibly): same $5,000 binned-score cells,
    thresholds descending, precision/recall at each bucket from the
    SAME prefix sums, and step-wise AP = sum(recall-increment x
    precision) = sum_b pos_b * cp_b/(cp_b + cn_b) / P with each
    per-bucket term an exact rational snapped to a 1e-9-grain bigint
    so the cross-bucket sum is order-free.  A useless classifier's AP
    equals the prevalence baseline reported beside it — the fixture's
    ~price-independent priority must land AP near prevalence (~0.2),
    which the numpy replay pins exactly.

    Shape at any SF: identical to stats_roc_auc — one scan
    partial-aggs onto the ~100-cell grid; windows and the finish run
    on the domain table (profile_key_skew justification)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_AUC_PR_SQL)


# Degree assortativity (round 12): Pearson correlation of endpoint
# degrees over the directed edge list — do hubs link to hubs?  One
# shared SQL text extending the copurchase CTE chain; all five
# moments are exact DECIMAL sums of integer degrees, r is one
# fixed-order double expression (by the both-directions symmetry the
# x and y marginals coincide, kept as separate sums anyway so the
# formula is the textbook one).
_ASSORTATIVITY_SQL = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
ed AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS MATERIALIZED (
  SELECT u AS n, CAST(count(*) AS BIGINT) AS dg FROM ed GROUP BY u
),
pairs AS (
  SELECT du.dg AS x, dv.dg AS y
  FROM ed JOIN deg du ON ed.u = du.n JOIN deg dv ON ed.v = dv.n
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS syy
  FROM pairs
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       CAST(m.m2 / 2 AS BIGINT) AS n_edges,
       round(m.sx / m.m2, 6) AS mean_edge_degree,
       round((m.m2 * m.sxy - m.sx * m.sy)
             / sqrt((m.m2 * m.sxx - m.sx * m.sx)
                    * (m.m2 * m.syy - m.sy * m.sy)), 6) AS assortativity
FROM m CROSS JOIN nn
"""


@query(
    "graph_assortativity",
    "§2.22 degree assortativity of the co-purchase graph (hubs-link-to-hubs Pearson)",
    _ASSORTATIVITY_SQL,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity — Newman's r: the Pearson correlation of
    endpoint degrees over every edge, answering "do hubs connect to
    hubs (r > 0, social-network-like) or to leaves (r < 0,
    hub-and-spoke / technological)" — the one scalar that, next to
    graph_degree_stats' marginal histogram, characterizes the JOINT
    degree structure the recommender ops inherit.  Computed over the
    both-directions edge list (the standard undirected convention —
    each edge contributes (du,dv) and (dv,du), making the marginals
    symmetric); all five moments are exact DECIMAL sums of integer
    degrees and r is one fixed-order double expression, so the hash
    gate holds bit-exactly.  The property test replays r in numpy and
    cross-checks the mean edge degree against the degree histogram's
    second moment (edge-sampled degree = size-biased sampling).

    Shape at any SF: the edge table is the shared checkpointed
    copurchase staging; degrees are one node-grain hash agg; the two
    degree joins shuffle edge-grain keys; the finish is one row."""
    e0 = copurchase_edges(spark, sf_dir)
    ed = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = ed.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dg")
    )
    du = deg.withColumnRenamed("n", "u").withColumnRenamed("dg", "x")
    dv = deg.withColumnRenamed("n", "v").withColumnRenamed("dg", "y")
    pairs = ed.join(du, "u").join(dv, "v")
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        m.crossJoin(F.broadcast(nn))
        .select(
            "n_nodes",
            (F.col("m2") / 2).cast("bigint").alias("n_edges"),
            F.round(F.col("sx") / F.col("m2"), 6).alias("mean_edge_degree"),
            F.round(
                (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(
                    (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                6,
            ).alias("assortativity"),
        )
    )


# TOST equivalence test (round 12): the A/B question stats_ttest_welch
# CANNOT answer — "are these two groups the SAME to within a margin?"
# (failing to reject difference is not evidence of equivalence).  Two
# one-sided Welch t-tests against +/-delta on the identical exact
# decimal power-sum chassis; delta = 1% of the pooled mean, derived
# in-query from the same exact sums so the margin is deterministic.
# One shared SQL text.
_TOST_SQL = """
WITH s AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sm,
         CAST(sum(CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(19,0))
                  * CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sq
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
), m AS (
  SELECT
    max(n)  FILTER (WHERE event_type = 'click') AS n1,
    max(sm) FILTER (WHERE event_type = 'click') AS sm1,
    max(sq) FILTER (WHERE event_type = 'click') AS sq1,
    max(n)  FILTER (WHERE event_type = 'view')  AS n2,
    max(sm) FILTER (WHERE event_type = 'view')  AS sm2,
    max(sq) FILTER (WHERE event_type = 'view')  AS sq2
  FROM s
), v AS (
  SELECT n1, n2,
         CAST(sm1 AS DOUBLE) / n1 AS mu1,
         CAST(sm2 AS DOUBLE) / n2 AS mu2,
         (CAST(sm1 AS DOUBLE) + CAST(sm2 AS DOUBLE)) / (n1 + n2) * 0.01
           AS delta,
         (CAST(sq1 AS DOUBLE) - CAST(sm1 AS DOUBLE) * CAST(sm1 AS DOUBLE) / n1)
           / (n1 - 1) / n1 AS se1,
         (CAST(sq2 AS DOUBLE) - CAST(sm2 AS DOUBLE) * CAST(sm2 AS DOUBLE) / n2)
           / (n2 - 1) / n2 AS se2
  FROM m
), t AS (
  SELECT n1, n2, mu1, mu2, delta,
         sqrt(se1 + se2) AS se,
         (se1 + se2) * (se1 + se2)
           / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)) AS df
  FROM v
)
SELECT n1 AS n_click, n2 AS n_view,
       round(mu1 / 1000000, 6) AS mean_click,
       round(mu2 / 1000000, 6) AS mean_view,
       round(delta / 1000000, 6) AS margin_value,
       round((mu1 - mu2 + delta) / se, 4) AS t_lower,
       round((mu1 - mu2 - delta) / se, 4) AS t_upper,
       round(df, 2) AS df_welch,
       CAST(CASE WHEN (mu1 - mu2 + delta) / se > 1.6449
                  AND (mu1 - mu2 - delta) / se < -1.6449
                 THEN 1 ELSE 0 END AS BIGINT) AS equivalent_90
FROM t
"""


@query(
    "stats_tost_equivalence",
    "§2.22 TOST equivalence test: click-vs-view means within a 1% margin",
    _TOST_SQL,
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence — the question
    stats_ttest_welch structurally cannot answer: a non-significant
    difference is NOT evidence of sameness, so an A/B "no regression"
    claim needs BOTH one-sided tests to reject — (mu1-mu2) > -delta
    AND (mu1-mu2) < +delta — here against a margin of 1% of the
    pooled mean, derived in-query from the same exact power sums so
    the whole statistic is deterministic.  Identical chassis to the
    Welch test (exact integer micro-units, DECIMAL(38,0) squares, one
    2-row hash agg, closed-form doubles with fixed operation order);
    decision at 90% (the standard TOST confidence: two 5% one-sided
    tests) using the z critical value 1.6449, a deliberate normal
    approximation at these df (documented; the property test pins the
    t statistics against scipy-free numpy and the decision rule
    against the reported values).

    Shape at any SF: one scan of events partial-aggs map-side onto a
    2-row group table; everything after is a 1-row expression."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_TOST_SQL)


# Cochran-Mantel-Haenszel test (round 13): the STRATIFIED 2x2
# association test — "is high order value associated with urgent
# priority AFTER controlling for customer nation?"  The confounder-
# aware companion to stats_chi_square (which pools strata and is
# exposed to Simpson reversal) and to stats_fisher_exact (one 2x2).
# One shared SQL text.  Determinism: a/b/c/d/n are exact integer
# counts; every per-stratum rational (deviation a-E[a], hypergeometric
# variance, MH odds-ratio terms) is a closed double over exact
# DECIMAL(19,0)x(19,0) pair products, snapped to a 1e-9-grain bigint
# before the cross-strata sum (hash-agg order cannot matter), and the
# statistic closes as fixed-order doubles on the 1-row scalars.
_CMH_SQL = """
WITH base AS (
  SELECT c.c_nationkey AS nation,
         CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS x,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
s AS (
  SELECT nation,
         CAST(sum(x * y) AS BIGINT) AS a,
         CAST(sum(x * (1 - y)) AS BIGINT) AS b,
         CAST(sum((1 - x) * y) AS BIGINT) AS c,
         CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY nation
),
t AS (
  SELECT nation, a, b, c, d, n,
         CAST(round((a - CAST(CAST(a + b AS DECIMAL(19,0)) * (a + c) AS DOUBLE)
                         / n) * 1000000000) AS BIGINT) AS dev9,
         CAST(round(CAST(CAST(a + b AS DECIMAL(19,0)) * (c + d) AS DOUBLE)
                    * CAST(CAST(a + c AS DECIMAL(19,0)) * (b + d) AS DOUBLE)
                    / n / n / (n - 1) * 1000000000) AS BIGINT) AS var9,
         CAST(round(CAST(CAST(a AS DECIMAL(19,0)) * d AS DOUBLE) / n
                    * 1000000000) AS BIGINT) AS orn9,
         CAST(round(CAST(CAST(b AS DECIMAL(19,0)) * c AS DOUBLE) / n
                    * 1000000000) AS BIGINT) AS ord9
  FROM s WHERE n > 1
),
g AS (
  SELECT CAST(sum(dev9) AS DOUBLE) / 1000000000 AS dev,
         CAST(sum(var9) AS DOUBLE) / 1000000000 AS var_cmh,
         CAST(sum(orn9) AS DOUBLE) / NULLIF(CAST(sum(ord9) AS DOUBLE), 0)
           AS or_mh,
         CAST(count(*) AS BIGINT) AS n_strata
  FROM t
)
SELECT t.nation,
       t.a AS n_exp_pos, t.b AS n_exp_neg,
       t.c AS n_unexp_pos, t.d AS n_unexp_neg,
       CASE WHEN t.b > 0 AND t.c > 0
            THEN round(CAST(CAST(t.a AS DECIMAL(19,0)) * t.d AS DOUBLE)
                       / CAST(CAST(t.b AS DECIMAL(19,0)) * t.c AS DOUBLE), 6)
       END AS or_stratum,
       round(g.dev * g.dev / NULLIF(g.var_cmh, 0), 6) AS chi2_cmh,
       round(greatest(abs(g.dev) - 0.5, CAST(0 AS DOUBLE))
             * greatest(abs(g.dev) - 0.5, CAST(0 AS DOUBLE))
             / NULLIF(g.var_cmh, 0), 6) AS chi2_cmh_cc,
       round(g.or_mh, 6) AS or_mh,
       g.n_strata,
       CAST(CASE WHEN g.dev * g.dev / NULLIF(g.var_cmh, 0) > 3.8415
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM t CROSS JOIN g ORDER BY t.nation
"""


@query(
    "stats_cmh_test",
    "§2.23 Cochran-Mantel-Haenszel stratified 2x2: value-vs-urgency controlling for nation",
    _CMH_SQL,
)
def stats_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel — the stratified association test that
    asks whether high order value (>$150k) predicts urgent priority
    WITHIN each customer nation, immune to the Simpson-reversal trap
    a pooled stats_chi_square walks into when nation mixes differ:
    CMH chi2 = (sum_k (a_k - E[a_k]))^2 / sum_k Var_h(a_k) on the
    hypergeometric null, reported with and without the 0.5 continuity
    correction (both conventions documented), plus the Mantel-Haenszel
    common odds ratio sum(a_k d_k/n_k)/sum(b_k c_k/n_k) and the
    per-stratum OR beside it (homogeneity eyeball).  Every count is an
    exact integer, every per-stratum rational a 1e-9-snapped bigint
    before the cross-strata sum, so both engines sum identical
    integers in any order; the chi2/OR close as fixed-order doubles
    on 1-row scalars.  Property test replays the statistic in exact
    pandas integer arithmetic pinned to the textbook CMH definition.

    Shape at any SF: orders joins customer on the key (co-partitioned
    shuffle join; at 100 TB both sides are fact-scale so no
    broadcast), partial-agg onto the 25-row nation grid; everything
    after is 25-row metadata.  One fact scan each side."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_CMH_SQL)


# Jonckheere-Terpstra test (round 13): the ORDERED-alternative rank
# test — "does order value trend UPWARD as priority rises?" — strictly
# more powerful than stats_kruskal_wallis when the alternative is
# monotone (KW spends power on all permutations of group means; JT
# spends it on the one ordering you hypothesized).  Built the scalable
# way (the stats_roc_auc discipline): values bin to a fixed ~$2.5k
# grid FIRST, so the pairwise U counting runs on the ~240-row DOMAIN
# table via prefix sums, never on the corpus; ties from the binning
# are handled exactly (1/2-credit in U, full three-term tie-corrected
# variance).  One shared SQL text.  Determinism: per-cell U terms and
# quadratic tie sums are exact DECIMAL(19,0)x(19,0) product sums; the
# cubic tie sums snap the (IEEE-exact, engine-identical) double
# product to a 2^20-grain bigint before the cross-cell sum (power-of-
# two rescale is exact in binary64, so the snap is deterministic);
# the statistic closes as fixed-order doubles on 1-row scalars.
_JT_PAIRS = " + ".join(
    f"CAST(c{j} AS DECIMAL(19,0)) * CAST(2 * f{i} + c{i} AS DECIMAL(19,0))"
    for i in range(1, 6)
    for j in range(i + 1, 6)
)
_JT_G25 = " + ".join(
    f"CAST(n{i} AS DOUBLE) * (n{i} - 1) * (2 * n{i} + 5)" for i in range(1, 6)
)
_JT_G3 = " + ".join(
    f"CAST(n{i} AS DOUBLE) * (n{i} - 1) * (n{i} - 2)" for i in range(1, 6)
)
_JT_G2 = " + ".join(f"CAST(n{i} AS DOUBLE) * (n{i} - 1)" for i in range(1, 6))
_JT_N2 = " + ".join(f"CAST(n{i} AS DOUBLE) * n{i}" for i in range(1, 6))
_JT_SQL = """
WITH base AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(floor(o_totalprice / 2500) AS BIGINT) AS cell
  FROM orders
),
cells AS (
  SELECT cell,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(sum(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
  FROM base GROUP BY cell
),
cum AS (
  SELECT cell, c1, c2, c3, c4, c5,
         c1 + c2 + c3 + c4 + c5 AS t,
         COALESCE(CAST(sum(c1) OVER w AS BIGINT), 0) AS f1,
         COALESCE(CAST(sum(c2) OVER w AS BIGINT), 0) AS f2,
         COALESCE(CAST(sum(c3) OVER w AS BIGINT), 0) AS f3,
         COALESCE(CAST(sum(c4) OVER w AS BIGINT), 0) AS f4,
         COALESCE(CAST(sum(c5) OVER w AS BIGINT), 0) AS f5
  FROM cells
  WINDOW w AS (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sums AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c3) AS BIGINT) AS n3, CAST(sum(c4) AS BIGINT) AS n4,
         CAST(sum(c5) AS BIGINT) AS n5,
         CAST(sum({pairs}) AS DECIMAL(38,0)) AS jt2,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t - 1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS t2,
         CAST(sum(CAST(round(CAST(t AS DOUBLE) * (t - 1) * (2 * t + 5)
                             / 1048576) AS BIGINT)) AS BIGINT) AS t25m,
         CAST(sum(CAST(round(CAST(t AS DOUBLE) * (t - 1) * (t - 2)
                             / 1048576) AS BIGINT)) AS BIGINT) AS t3m
  FROM cum
),
scal AS (
  SELECT n1, n2, n3, n4, n5,
         n1 + n2 + n3 + n4 + n5 AS n,
         CAST(jt2 AS DOUBLE) / 2 AS jt,
         (CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE)
            * (n1 + n2 + n3 + n4 + n5) - ({n2sum})) / 4 AS jt_mean,
         ((CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE)
             * (n1 + n2 + n3 + n4 + n5 - 1)
             * (2 * (n1 + n2 + n3 + n4 + n5) + 5)
           - ({g25}) - CAST(t25m AS DOUBLE) * 1048576) / 72)
         + (({g3}) * (CAST(t3m AS DOUBLE) * 1048576)
            / (36.0 * (n1 + n2 + n3 + n4 + n5)
               * (n1 + n2 + n3 + n4 + n5 - 1)
               * (n1 + n2 + n3 + n4 + n5 - 2)))
         + (({g2}) * CAST(t2 AS DOUBLE)
            / (8.0 * (n1 + n2 + n3 + n4 + n5)
               * (n1 + n2 + n3 + n4 + n5 - 1))) AS jt_var
  FROM sums
),
grp AS (
  SELECT 1 AS g, n1 AS n_group FROM scal UNION ALL
  SELECT 2, n2 FROM scal UNION ALL
  SELECT 3, n3 FROM scal UNION ALL
  SELECT 4, n4 FROM scal UNION ALL
  SELECT 5, n5 FROM scal
)
SELECT grp.g AS priority_rank, grp.n_group,
       s.n AS n_total,
       round(s.jt, 2) AS jt_stat,
       round(s.jt_mean, 2) AS jt_mean,
       round(s.jt_var, 2) AS jt_var,
       round((s.jt - s.jt_mean) / sqrt(s.jt_var), 4) AS z_score,
       CAST(CASE WHEN (s.jt - s.jt_mean) / sqrt(s.jt_var) > 1.6449
                 THEN 1 ELSE 0 END AS BIGINT) AS increasing_trend_95
FROM grp CROSS JOIN scal s ORDER BY grp.g
"""


@query(
    "stats_jonckheere_terpstra",
    "§2.23 Jonckheere-Terpstra ordered-alternative rank test over priority groups",
    _JT_SQL.format(
        pairs=_JT_PAIRS, g25=_JT_G25, g3=_JT_G3, g2=_JT_G2, n2sum=_JT_N2
    ),
)
def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra — the rank test for a MONOTONE alternative
    (value rises with priority rank 1..5) that stats_kruskal_wallis
    cannot target: JT = sum over group pairs i<j of the Mann-Whitney
    count #{x_i < x_j} + ties/2, computed here entirely on a bounded
    price-bin domain table (~240 cells) via per-cell prefix sums —
    2*U_ij per cell is c_j * (2*F_i + c_i), an exact DECIMAL product
    — with the full three-term tie-corrected normal variance (binning
    creates massive ties, so the textbook no-tie variance would be
    badly wrong; the property test pins the tie-corrected formula and
    verifies JT itself against a direct numpy pairwise count).  The
    z close is a fixed-order double expression; sqrt is IEEE-exact.
    Cubic tie sums snap to a 2^20-grain bigint before the cross-cell
    sum — exact through t_v < 2^53 per cell and deterministic beyond.

    Shape at any SF: one orders scan partial-aggs map-side onto the
    fixed ~240-cell grid (5 CASE-sums per cell); the window/prefix
    machinery runs on the domain table only (single-partition ~240
    rows, the stats_roc_auc justification); 1-row scalar close.  The
    corpus is never sorted or shuffled at value grain."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _JT_SQL.format(
            pairs=_JT_PAIRS, g25=_JT_G25, g3=_JT_G3, g2=_JT_G2, n2sum=_JT_N2
        )
    )


# Page's trend test (round 13): the ORDERED-alternative companion to
# stats_friedman_test on the identical (day x event_type) rank
# chassis — Friedman asks "do the treatments differ at all?", Page
# asks "do they increase in THIS hypothesized order?" (here the
# alphabetical event-type order, the same deterministic labeling the
# confusion-matrix ops use), which is the repeated-measures analogue
# of what stats_jonckheere_terpstra does for independent groups.
# One shared SQL text.  Determinism: within-day average ranks exact
# in DOUBLED integer units (the Friedman machinery verbatim), so 2L =
# sum_j j * (2R_j) is an exact bigint; the normal close is fixed-order
# doubles on 1-row scalars (no-tie variance kept as the documented
# convention — mid-ranks feed L itself exactly, ties only flatten the
# variance slightly, and the property test pins the formula).
_PAGE_SQL = """
WITH cell AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
full_blocks AS (
  SELECT d FROM cell GROUP BY d
  HAVING count(*) = (SELECT count(DISTINCT event_type) FROM cell)
),
k1 AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM cell),
pos AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS j
  FROM (SELECT DISTINCT event_type FROM cell) et
),
r2 AS (
  SELECT a.d, a.event_type,
         CAST(2 * sum(CASE WHEN b.c < a.c THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 2
              AS BIGINT) AS rr
  FROM cell a
  JOIN full_blocks fb ON a.d = fb.d
  JOIN cell b ON a.d = b.d AND a.event_type <> b.event_type
  GROUP BY a.d, a.event_type
),
sums AS (
  SELECT event_type, CAST(sum(rr) AS BIGINT) AS r2_sum
  FROM r2 GROUP BY event_type
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM full_blocks),
l2 AS (
  SELECT CAST(sum(p.j * s.r2_sum) AS BIGINT) AS ldoubled
  FROM sums s JOIN pos p USING (event_type)
),
scal AS (
  SELECT CAST(ldoubled AS DOUBLE) / 2 AS l_stat,
         CAST(nb.n AS DOUBLE) * k1.k * (k1.k + 1) * (k1.k + 1) / 4 AS l_mean,
         CAST(nb.n AS DOUBLE) * k1.k * k1.k * (k1.k + 1)
           * (k1.k * k1.k - 1) / 144 AS l_var,
         nb.n AS n_blocks, k1.k AS k
  FROM l2 CROSS JOIN nb CROSS JOIN k1
)
SELECT p.event_type, p.j AS hypothesized_rank,
       round(CAST(s2.r2_sum AS DOUBLE) / 2, 1) AS rank_sum,
       sc.n_blocks, sc.k AS k_treatments,
       round(sc.l_stat, 1) AS page_l,
       round(sc.l_mean, 1) AS page_l_mean,
       round(sc.l_var, 2) AS page_l_var,
       round((sc.l_stat - sc.l_mean) / sqrt(sc.l_var), 4) AS z_score,
       CAST(CASE WHEN (sc.l_stat - sc.l_mean) / sqrt(sc.l_var) > 1.6449
                 THEN 1 ELSE 0 END AS BIGINT) AS increasing_trend_95
FROM pos p JOIN sums s2 USING (event_type) CROSS JOIN scal sc
ORDER BY p.event_type
"""


@query(
    "stats_page_trend",
    "§2.23 Page's L trend test: ordered repeated-measures ranks over the day grid",
    _PAGE_SQL,
)
def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L — the ordered-alternative repeated-measures test on
    the Friedman chassis: with days as blocks and event types as
    treatments in the hypothesized (alphabetical) order, L = sum_j
    j*R_j grows when within-day ranks trend with the ordering, and
    z = (L - nk(k+1)^2/4) / sqrt(nk^2(k+1)(k^2-1)/144) is the normal
    approximation (no-tie variance, documented convention — mid-rank
    ties enter L exactly via the doubled-unit rank machinery shared
    verbatim with stats_friedman_test).  2L is an exact bigint in
    both engines; the close is fixed-order doubles on 1-row scalars;
    sqrt is IEEE-exact.  The property test replays L from raw counts
    with scipy-free numpy and pins the no-tie mean/variance formulas.

    Shape at any SF: identical to stats_friedman_test — one hash agg
    to the calendar-bounded (day x type) grid, k^2-per-day rank
    self-join on that grid, |types|-row finish.  One fact scan."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_PAGE_SQL)


# Spectral coherence (round 13): the CROSS-spectral companion to
# ts_periodogram and the frequency-domain completion of
# ts_rolling_correlation — "at WHICH timescale do order count and
# revenue move together?"  Welch-style: the ~2400-day daily series
# splits into full 256-day segments, per segment and Fourier bin the
# snapped-trig DFT coefficients of both series, then segment-averaged
# cross-spectrum  coh2(k) = (Re2 + Im2) / (Pxx * Pyy)  — without the
# segment averaging coherence is identically 1, which is why the
# single-window periodogram cannot answer this question.  Template
# SQL (date arithmetic + array-unnest spelling per engine).
# Determinism: trig snapped to 1e-8-grain integers BEFORE the exact
# DECIMAL product sums (the ts_periodogram discipline); per-(k,s)
# coefficients rescale to documented-grain bigints via an IEEE-exact
# decimal->double cast, so every cross-segment sum is an exact
# DECIMAL(38,0) of (19,0)x(19,0) products — order-free in both
# engines; the coherence closes as fixed-order doubles per k row.
_COHERENCE_KS = "1, 2, 4, 8, 16, 32, 37, 64"
_COHERENCE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(d) AS d0, CAST({span} AS BIGINT) AS span FROM daily
),
seg AS (
  SELECT CAST(floor(CAST({di} AS BIGINT) / CAST(256 AS DOUBLE)) AS BIGINT) AS s,
         CAST({di} AS BIGINT) % 256 AS t,
         x, y, b.span
  FROM daily CROSS JOIN bounds b
),
segf AS (
  SELECT s, t, x, y FROM seg
  WHERE s < CAST(floor(CAST(span AS DOUBLE) / 256) AS BIGINT)
),
grid AS (SELECT CAST(k0 AS BIGINT) AS k FROM (SELECT {kgrid} AS k0) kg),
terms AS (
  SELECT g.k, f.s, f.x, f.y,
         CAST(round(cos(2 * pi() * g.k * f.t / 256) * 100000000)
              AS BIGINT) AS c8,
         CAST(round(sin(2 * pi() * g.k * f.t / 256) * 100000000)
              AS BIGINT) AS s8
  FROM segf f CROSS JOIN grid g
),
coef AS (
  SELECT k, s,
         CAST(round(CAST(CAST(sum(CAST(x AS DECIMAL(19,0))
                                  * CAST(c8 AS DECIMAL(19,0)))
                               AS DECIMAL(38,0)) AS DOUBLE) / 100)
              AS BIGINT) AS ax,
         CAST(round(CAST(CAST(sum(CAST(x AS DECIMAL(19,0))
                                  * CAST(s8 AS DECIMAL(19,0)))
                               AS DECIMAL(38,0)) AS DOUBLE) / 100)
              AS BIGINT) AS bx,
         CAST(round(CAST(CAST(sum(CAST(y AS DECIMAL(19,0))
                                  * CAST(c8 AS DECIMAL(19,0)))
                               AS DECIMAL(38,0)) AS DOUBLE) / 1000000000)
              AS BIGINT) AS ay,
         CAST(round(CAST(CAST(sum(CAST(y AS DECIMAL(19,0))
                                  * CAST(s8 AS DECIMAL(19,0)))
                               AS DECIMAL(38,0)) AS DOUBLE) / 1000000000)
              AS BIGINT) AS by_
  FROM terms GROUP BY k, s
),
spec AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_seg,
         CAST(sum(CAST(ax AS DECIMAL(19,0)) * CAST(ay AS DECIMAL(19,0))
                  + CAST(bx AS DECIMAL(19,0)) * CAST(by_ AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS re_xy,
         CAST(sum(CAST(bx AS DECIMAL(19,0)) * CAST(ay AS DECIMAL(19,0))
                  - CAST(ax AS DECIMAL(19,0)) * CAST(by_ AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS im_xy,
         CAST(sum(CAST(ax AS DECIMAL(19,0)) * CAST(ax AS DECIMAL(19,0))
                  + CAST(bx AS DECIMAL(19,0)) * CAST(bx AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS pxx,
         CAST(sum(CAST(ay AS DECIMAL(19,0)) * CAST(ay AS DECIMAL(19,0))
                  + CAST(by_ AS DECIMAL(19,0)) * CAST(by_ AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS pyy
  FROM coef GROUP BY k
),
tot AS (
  SELECT CAST(sum(pxx) AS DECIMAL(38,0)) AS tpx,
         CAST(sum(pyy) AS DECIMAL(38,0)) AS tpy
  FROM spec
)
SELECT round(CAST(256 AS DOUBLE) / k, 2) AS period_days,
       k AS fourier_k, n_seg AS n_segments,
       round((CAST(re_xy AS DOUBLE) * CAST(re_xy AS DOUBLE)
              + CAST(im_xy AS DOUBLE) * CAST(im_xy AS DOUBLE))
             / NULLIF(CAST(pxx AS DOUBLE) * CAST(pyy AS DOUBLE), 0), 6)
         AS coherence2,
       round(CAST(pxx AS DOUBLE) / NULLIF(CAST(tpx AS DOUBLE), 0), 6)
         AS power_share_x,
       round(CAST(pyy AS DOUBLE) / NULLIF(CAST(tpy AS DOUBLE), 0), 6)
         AS power_share_y
FROM spec CROSS JOIN tot ORDER BY fourier_k
"""


@query(
    "ts_spectral_coherence",
    "§2.23 Welch segment-averaged spectral coherence of daily count vs revenue",
    _COHERENCE_SQL.format(
        span="max(d) - min(d) + 1",
        di="daily.d - b.d0",
        kgrid=f"unnest([{_COHERENCE_KS}])",
    ),
)
def ts_spectral_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magnitude-squared spectral coherence between daily order count
    and daily revenue — the timescale-resolved answer to "do volume
    and value co-move?" that ts_rolling_correlation gives only in the
    time domain and ts_periodogram only marginally per series: over
    full 256-day Welch segments, coh2(k) = |sum_s Zx_s conj(Zy_s)|^2
    / (sum_s |Zx_s|^2 * sum_s |Zy_s|^2) at the Fourier bins k in
    {1,2,4,8,16,32,37,64} (periods 256d .. 4d; k=37 is the bin
    nearest the weekly 6.9d cycle), with per-series power shares
    beside it.  coh2 is 1 identically with a single segment — the
    segment averaging IS the statistic (documented; the fixture spans
    ~2400 days = 9 full segments).  Missing days contribute exact
    zeros by absence.  Trig snapped at 1e-8 grain pre-sum; DFT sums
    exact DECIMAL; coefficients rescaled to grain-documented bigints
    (x: 1e-6 trig units, y: 10 cent-trig units — the coarse y grain
    caps ay at 25.6x daily cents, int64-safe to ~3.6e17 cents/day,
    i.e. well past the 100 TB scale point, while daily revenue at any
    tested SF still carries >=8 significant digits into the bigint)
    so all cross-segment sums are exact (19,0)x(19,0) DECIMAL
    products; numpy replay property test pins every bin.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the 8x fan-out and everything after
    is O(days) metadata.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _COHERENCE_SQL.format(
            span="datediff(max(d), min(d)) + 1",
            di="datediff(daily.d, b.d0)",
            kgrid=f"explode(array({_COHERENCE_KS}))",
        )
    )


@query(
    "graph_rich_club",
    "§2.23 rich-club coefficient profile at mean-relative degree thresholds",
    """
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) both_ends
      GROUP BY node
    ),
    dh AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY d),
    em AS (
      SELECT least(du.d, dv.d) AS m
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    eh AS (SELECT m, CAST(count(*) AS BIGINT) AS cnt FROM em GROUP BY m),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) AS BIGINT) AS deg_sum
      FROM deg
    ),
    thr AS (
      SELECT j, n_nodes, deg_sum,
             (deg_sum * j + 10 * n_nodes - 1) // (10 * n_nodes) AS k_thr
      FROM scal CROSS JOIN (SELECT unnest([8, 9, 10, 11, 12, 13]) AS j) js
    ),
    nr AS (
      SELECT t.j, t.k_thr, t.n_nodes, t.deg_sum,
             CAST(sum(CASE WHEN dh.d > t.k_thr THEN dh.cnt ELSE 0 END)
                  AS BIGINT) AS n_rich
      FROM dh CROSS JOIN thr t GROUP BY 1, 2, 3, 4
    ),
    er AS (
      SELECT t.j,
             CAST(sum(CASE WHEN eh.m > t.k_thr THEN eh.cnt ELSE 0 END)
                  AS BIGINT) AS e_rich
      FROM eh CROSS JOIN thr t GROUP BY 1
    )
    SELECT CAST(nr.j AS DOUBLE) / 10 AS mean_factor,
           nr.k_thr AS k_threshold,
           round(CAST(nr.deg_sum AS DOUBLE) / nr.n_nodes, 4) AS mean_degree,
           nr.n_rich, er.e_rich,
           CASE WHEN nr.n_rich > 1
                THEN round(2 * CAST(er.e_rich AS DOUBLE)
                           / (CAST(nr.n_rich AS DECIMAL(19,0))
                              * (nr.n_rich - 1)), 6)
           END AS phi
    FROM nr JOIN er ON nr.j = er.j ORDER BY nr.j
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient profile — "do the best-connected parts
    co-purchase with EACH OTHER more than density predicts?": phi(k)
    = 2 E_{>k} / (N_{>k} (N_{>k} - 1)), the edge density of the
    subgraph induced by nodes of degree > k, swept at MEAN-RELATIVE
    thresholds k = ceil(mean_deg * f), f in 0.8..1.3 — the co-purchase
    degree distribution is tight around its mean (sf0.01: 42..206,
    mean ~116), so absolute thresholds would degenerate at other SFs
    while mean-relative ones track the graph's own density.  The
    ceiling is exact integer arithmetic ((2E*j + 10N - 1) div 10N) in
    both engines — no float threshold can straddle an engine boundary.
    Counting runs on degree/edge-min HISTOGRAMS (domain bounded by
    max degree), never re-scanning edges per threshold; phi is a
    single double division of exact integers per output row.
    Property test replays the profile from a networkx-free numpy
    edge list, pinning phi's monotone-threshold semantics.

    Shape at any SF: the shared checkpointed copurchase staging (one
    lineitem groupBy + in-codegen pair explode), node-grain degree
    agg, edge-grain degree join (both sides shuffle on the key; the
    degree side is node-bounded and broadcastable when small), then
    all threshold logic on bounded histograms.  The 6-row threshold
    table cross-joins histograms, not facts."""
    from spark_lineage_spark.plans.extract import lineage_checkpoint_lazy

    und = copurchase_edges(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .transform(lineage_checkpoint_lazy)
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    em = und.join(du, "u").join(dv, "v").select(
        F.least("du", "dv").alias("m")
    )
    dh = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    eh = em.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    scal = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("deg_sum"),
    )
    thr = (
        scal.select(
            F.explode(F.array(*[F.lit(j) for j in range(8, 14)])).alias("j"),
            "n_nodes",
            "deg_sum",
        )
        .withColumn(
            "k_thr",
            F.expr("(deg_sum * j + 10 * n_nodes - 1) div (10 * n_nodes)"),
        )
        .withColumn("j", F.col("j").cast("bigint"))
    )
    nr = (
        dh.crossJoin(F.broadcast(thr))
        .groupBy("j", "k_thr", "n_nodes", "deg_sum")
        .agg(
            F.sum(F.when(F.col("d") > F.col("k_thr"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_rich")
        )
    )
    er = (
        eh.crossJoin(F.broadcast(thr.select("j", "k_thr")))
        .groupBy("j")
        .agg(
            F.sum(F.when(F.col("m") > F.col("k_thr"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("e_rich")
        )
    )
    return (
        nr.join(er, "j")
        .select(
            (F.col("j").cast("double") / 10).alias("mean_factor"),
            F.col("k_thr").alias("k_threshold"),
            F.round(F.col("deg_sum").cast("double") / F.col("n_nodes"), 4)
            .alias("mean_degree"),
            "n_rich",
            "e_rich",
            F.when(
                F.col("n_rich") > 1,
                F.round(
                    2 * F.col("e_rich").cast("double")
                    / (
                        F.col("n_rich").cast("decimal(19,0)")
                        * (F.col("n_rich") - 1)
                    ).cast("double"),
                    6,
                ),
            ).alias("phi"),
        )
        .orderBy("mean_factor")
    )


# Page-Hinkley test (round 13): the SELF-ADAPTING sequential drift
# monitor next to ts_cusum_drift — CUSUM standardizes every day
# against a FROZEN 1995 calibration (drift relative to a fixed
# baseline), Page-Hinkley tracks deviations from the RUNNING mean of
# the monitored stream itself (m_t = sum_{i<=t} (x_i - mu_i - delta),
# alarm when m_t - min_{s<=t} m_s exceeds lambda), so it re-anchors
# after a level shift and flags the NEXT one — the standard streaming
# change detector (Page 1954; the drift test in streaming-ML
# toolkits).  One shared SQL text.  Determinism: daily cents are
# exact bigints, the running mean is an exact-bigint cumsum divided
# once per row, and the m_t / running-min machinery is cumulative-
# frame windows whose doubles accumulate left-to-right identically in
# both engines (the ts_cusum_drift / stats_fisher_exact precedent);
# delta and lambda derive from the 1995 calibration's exact DECIMAL
# power sums (delta = 0.5% of the calibration mean, lambda = 5
# calibration sigmas, conventions documented).
_PAGE_HINKLEY_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate
),
calib AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST(cents AS DECIMAL(19,0))
                  * CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
  FROM daily WHERE d < DATE '1996-01-01'
),
p AS (
  SELECT dd.d, CAST(dd.cents AS DOUBLE) AS x,
         CAST(sum(dd.cents) OVER (ORDER BY dd.d) AS DOUBLE)
           / row_number() OVER (ORDER BY dd.d) AS mu_run,
         CAST(c.s1 AS DOUBLE) / c.n0 * 0.005 AS delta,
         sqrt((CAST(c.s2 AS DOUBLE)
               - (CAST(c.s1 AS DOUBLE) / c.n0) * CAST(c.s1 AS DOUBLE))
              / (c.n0 - 1)) AS sigma0
  FROM daily dd CROSS JOIN calib c
  WHERE dd.d >= DATE '1996-01-01'
),
m AS (
  SELECT d, sigma0,
         sum(x - mu_run - delta) OVER (ORDER BY d) AS m_up,
         sum(mu_run - x - delta) OVER (ORDER BY d) AS m_dn
  FROM p
),
s AS (
  SELECT d, sigma0,
         m_up - min(m_up) OVER (ORDER BY d) AS ph_up,
         m_dn - min(m_dn) OVER (ORDER BY d) AS ph_dn
  FROM m
)
SELECT CAST(count(*) AS BIGINT) AS n_monitored_days,
       CAST(count(*) FILTER (WHERE ph_up > 5 * sigma0) AS BIGINT)
         AS n_up_alarm_days,
       CAST(count(*) FILTER (WHERE ph_dn > 5 * sigma0) AS BIGINT)
         AS n_dn_alarm_days,
       round(max(ph_up / sigma0), 4) AS max_ph_up_sigma,
       round(max(ph_dn / sigma0), 4) AS max_ph_dn_sigma,
       min(d) FILTER (WHERE ph_up > 5 * sigma0) AS first_up_alarm,
       min(d) FILTER (WHERE ph_dn > 5 * sigma0) AS first_dn_alarm
FROM s
"""


@query(
    "ts_page_hinkley",
    "§2.23 Page-Hinkley sequential drift detector (running-mean re-anchoring)",
    _PAGE_HINKLEY_SQL,
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detection on daily revenue — the
    running-mean counterpart of ts_cusum_drift (which never
    re-anchors): two one-sided monitors m_t = sum(x_i - mu_i -+
    delta) with PH_t = m_t - running-min(m_t), alarming above
    lambda = 5 calibration sigmas; delta = 0.5% of the 1995
    calibration mean keeps the detector insensitive to noise at the
    band the CUSUM op also uses.  Exact-integer daily cents, exact
    cumsum-based running mean, and the documented left-to-right
    cumulative-window double precedent make both engines produce
    bit-identical alarm sequences; the property test replays the full
    sequential recursion in pandas and pins the max-PH and
    first-alarm outputs.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the ordered stage is the ~2200-row
    single-partition day series (SF-free row count), then a 1-row
    summary."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_PAGE_HINKLEY_SQL)


# Dunn's test (round 13): the post-hoc that answers the question
# stats_kruskal_wallis leaves open — KW rejects "all groups equal"
# without saying WHICH pairs differ; Dunn compares every pair of
# groups on the GLOBAL mid-ranks with the KW tie correction and a
# Bonferroni gate, which is the textbook follow-up (Dunn 1964).
# Shares the stats_jonckheere_terpstra binned-domain chassis: global
# ranks come from prefix sums over the ~240-cell price grid, doubled
# integer mid-ranks (2r = 2F(<v) + t_v + 1) keep every rank sum an
# exact bigint, and the tie term's cubic sum uses the same 2^20
# power-of-two snap.  One shared SQL text (pair grid via UNION ALL).
_DUNN_PAIRS = "\n  UNION ALL\n".join(
    f"  SELECT {i} AS gi, {j} AS gj, n{i} AS ni, n{j} AS nj,"
    f" r{i} AS ri, r{j} AS rj FROM scal"
    for i in range(1, 6)
    for j in range(i + 1, 6)
)
_DUNN_SQL = """
WITH base AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(floor(o_totalprice / 2500) AS BIGINT) AS cell
  FROM orders
),
cells AS (
  SELECT cell,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(sum(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
  FROM base GROUP BY cell
),
cum AS (
  SELECT cell, c1, c2, c3, c4, c5,
         c1 + c2 + c3 + c4 + c5 AS t,
         COALESCE(CAST(sum(c1 + c2 + c3 + c4 + c5) OVER w AS BIGINT), 0) AS f
  FROM cells
  WINDOW w AS (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sums AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c3) AS BIGINT) AS n3, CAST(sum(c4) AS BIGINT) AS n4,
         CAST(sum(c5) AS BIGINT) AS n5,
         CAST(sum(CAST(c1 AS DECIMAL(19,0))
                  * CAST(2 * f + t + 1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS r1,
         CAST(sum(CAST(c2 AS DECIMAL(19,0))
                  * CAST(2 * f + t + 1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS r2,
         CAST(sum(CAST(c3 AS DECIMAL(19,0))
                  * CAST(2 * f + t + 1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS r3,
         CAST(sum(CAST(c4 AS DECIMAL(19,0))
                  * CAST(2 * f + t + 1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS r4,
         CAST(sum(CAST(c5 AS DECIMAL(19,0))
                  * CAST(2 * f + t + 1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS r5,
         CAST(sum(CAST(round(CAST(t AS DOUBLE) * t * t / 1048576)
                       AS BIGINT)) AS BIGINT) AS t3m,
         CAST(sum(t) AS BIGINT) AS tn
  FROM cum
),
scal AS (
  SELECT n1, n2, n3, n4, n5,
         CAST(r1 AS DOUBLE) / 2 / n1 AS r1,
         CAST(r2 AS DOUBLE) / 2 / n2 AS r2,
         CAST(r3 AS DOUBLE) / 2 / n3 AS r3,
         CAST(r4 AS DOUBLE) / 2 / n4 AS r4,
         CAST(r5 AS DOUBLE) / 2 / n5 AS r5,
         tn AS n,
         (CAST(tn AS DOUBLE) * (tn + 1) / 12)
           - (CAST(t3m AS DOUBLE) * 1048576 - tn) / (12.0 * (tn - 1))
           AS var_unit
  FROM sums
),
pairs AS (
{pairs}
)
SELECT p.gi AS group_i, p.gj AS group_j, p.ni AS n_i, p.nj AS n_j,
       round(p.ri, 4) AS mean_rank_i,
       round(p.rj, 4) AS mean_rank_j,
       round((p.ri - p.rj)
             / sqrt(s.var_unit * (CAST(1 AS DOUBLE) / p.ni
                                  + CAST(1 AS DOUBLE) / p.nj)), 4) AS z_dunn,
       CAST(CASE WHEN abs((p.ri - p.rj)
                          / sqrt(s.var_unit * (CAST(1 AS DOUBLE) / p.ni
                                               + CAST(1 AS DOUBLE) / p.nj)))
                      > 2.807 THEN 1 ELSE 0 END AS BIGINT)
         AS reject_bonferroni_95
FROM pairs p CROSS JOIN scal s ORDER BY p.gi, p.gj
"""


@query(
    "stats_dunn_test",
    "§2.23 Dunn's post-hoc pairwise rank comparisons with Bonferroni gate",
    _DUNN_SQL.format(pairs=_DUNN_PAIRS),
)
def stats_dunn_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's test — all 10 pairwise priority-group comparisons on
    the GLOBAL mid-ranks, the standard post-hoc after
    stats_kruskal_wallis rejects: z_ij = (Rbar_i - Rbar_j) /
    sqrt([N(N+1)/12 - sum(t^3 - t)/(12(N-1))] (1/n_i + 1/n_j)), with
    the same binning convention as stats_jonckheere_terpstra (~240
    fixed price cells; binning ties are part of the definition and
    enter both the mid-ranks and the tie correction exactly).  The
    Bonferroni gate uses z > 2.807 (two-sided 5% over m=10
    comparisons, i.e. 0.0025 per tail; hard-coded critical value,
    documented).  Doubled-unit mid-ranks keep every rank sum an exact
    DECIMAL; the cubic tie sum snaps at 2^20 like the JT op; the z
    close is fixed-order doubles on 1-row scalars.  Property test
    replays mean ranks and z against scipy-free numpy mid-ranks.

    Shape at any SF: identical to the JT op — one orders scan onto
    the fixed cell grid, prefix sums on the ~240-row domain table,
    10-row pair grid cross-joining a 1-row scalar."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_DUNN_SQL.format(pairs=_DUNN_PAIRS))


# Dickey-Fuller test (round 13): the unit-root / mean-reversion test
# that completes the memory-structure trio — ts_mann_kendall asks "is
# there a monotone trend?", ts_hurst_exponent asks "how long is the
# memory?", Dickey-Fuller asks "does the level REVERT or WANDER?"
# (a random walk invalidates every i.i.d.-based monitor upstream).
# DF regression  dy_t = a + b * y_{t-1} + e  with the test statistic
# t_b = b_hat / se(b_hat) against the Dickey-Fuller constant-case 5%
# critical value -2.86 (hard-coded, documented; NOT the t table — the
# null distribution is nonstandard).  Template SQL (date-shift
# spelling per engine).  Determinism: daily cents are exact bigints,
# all five regression moments are exact DECIMAL(19,0)x(19,0) product
# sums over the calendar-joined (y_{t-1}, dy) pairs, and b_hat / se /
# t close as fixed-order doubles on a 1-row scalar.
_DF_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderdate
),
pairs AS (
  SELECT b.cents AS x, a.cents - b.cents AS dy
  FROM daily a JOIN daily b ON a.d = {prev}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS syy
  FROM pairs
),
fit AS (
  SELECT n,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS b,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
           AS ssx,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           AS ssy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           AS ssxy
  FROM m WHERE n > 2
)
SELECT n AS n_obs,
       round(b, 6) AS b_coef,
       round(b + 1, 6) AS rho,
       round(b / sqrt(((ssy - b * ssxy) / (n - 2)) / ssx), 4) AS df_stat,
       CAST(-2.86 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN b / sqrt(((ssy - b * ssxy) / (n - 2)) / ssx) < -2.86
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_unit_root,
       CASE WHEN b + 1 > 0 AND b + 1 < 1
            THEN round(-0.6931471805599453 / ln(b + 1), 2)
       END AS half_life_days
FROM fit
"""


@query(
    "ts_dickey_fuller",
    "§2.23 Dickey-Fuller unit-root test on daily revenue",
    _DF_SQL.format(prev="b.d + INTERVAL 1 DAY"),
)
def ts_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (constant, no trend, no lag
    augmentation — the classic DF; augmentation lags are a
    convention documented out, the daily series shows no serial
    structure the property test can't see): regress the day-over-day
    change on the previous level via exact DECIMAL moments, report
    b = rho - 1, the DF t-statistic against the -2.86 constant-case
    5% critical value, and the implied mean-reversion half-life
    -ln2/ln(rho) (NULL-guarded outside 0 < rho < 1; ln is the one
    libm call, rounded to 2 decimals on a far-from-boundary value).
    Consecutive-day pairs come from a calendar equi-join (the
    ts_theil_u sparse-series rule: a day with no orders breaks the
    pair rather than fabricating a zero).

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the self-join and moment agg run on
    O(days) rows; 1-row finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_DF_SQL.format(prev="date_add(b.d, 1)"))


# Variance-ratio test (round 13, wave 2): the Lo-MacKinlay random-
# walk diagnostic that reads ts_dickey_fuller's question at MULTIPLE
# horizons — under a random walk Var(q-day change) = q * Var(1-day
# change), so VR(q) far from 1 localizes WHERE the memory lives
# (VR < 1: mean reversion at that horizon; VR > 1: momentum), which
# the single-horizon DF t cannot do.  Template SQL (date-shift and
# grid-unnest spellings per engine).  Determinism: q-day changes are
# exact cent bigints from calendar equi-joins, all moments exact
# DECIMAL(19,0)x(19,0) product sums, VR and the homoskedastic z close
# as fixed-order doubles per q row.  Convention (documented): each
# horizon's changes center at their own mean (not q*mu-hat drift) and
# the classic z uses the 1-day pair count n1.
_VR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderdate
),
grid AS (SELECT CAST(q0 AS BIGINT) AS q FROM (SELECT {qgrid} AS q0) g),
diffs AS (
  SELECT g.q, a.cents - b.cents AS x
  FROM daily a JOIN grid g ON true JOIN daily b ON a.d = {shift}
),
m AS (
  SELECT q, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx
  FROM diffs GROUP BY q
),
base AS (
  SELECT n AS n1,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
           / (n - 1) AS var1
  FROM m WHERE q = 1 AND n > 1
)
SELECT m.q AS horizon_days, m.n AS n_pairs, b.n1 AS n_base_pairs,
       round(b.var1 / 10000, 4) AS var_1d_dollars2,
       round(((CAST(m.sxx AS DOUBLE)
               - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / m.n)
              / (m.n - 1)) / (m.q * b.var1), 6) AS variance_ratio,
       round((((CAST(m.sxx AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / m.n)
               / (m.n - 1)) / (m.q * b.var1) - 1)
             / sqrt(CAST(2 AS DOUBLE) * (2 * m.q - 1) * (m.q - 1)
                    / (3 * m.q * b.n1)), 4)
         AS z_score,
       CAST(CASE WHEN abs((((CAST(m.sxx AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / m.n)
               / (m.n - 1)) / (m.q * b.var1) - 1)
             / sqrt(CAST(2 AS DOUBLE) * (2 * m.q - 1) * (m.q - 1)
                    / (3 * m.q * b.n1)))
                      > 1.96 THEN 1 ELSE 0 END AS BIGINT)
         AS reject_random_walk_95
FROM m CROSS JOIN base b WHERE m.q > 1 AND m.n > 1 ORDER BY m.q
"""


@query(
    "ts_variance_ratio",
    "§2.23 Lo-MacKinlay variance-ratio test at 2/4/8/16-day horizons",
    _VR_SQL.format(
        qgrid="unnest([1, 2, 4, 8, 16])", shift="b.d + CAST(g.q AS INTEGER)"
    ),
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ratio test on daily revenue changes — VR(q) =
    Var(q-day change) / (q Var(1-day change)) at q in {2,4,8,16},
    with the homoskedastic Lo-MacKinlay z = (VR-1) /
    sqrt(2(2q-1)(q-1)/(3qn)) against +-1.96: the horizon-resolved
    companion to ts_dickey_fuller (which tests the unit root at lag
    1 only) and ts_hurst_exponent (whose R/S slope mixes horizons
    into one number).  Overlapping q-day changes come from calendar
    equi-joins (the sparse-series rule: both endpoint days must
    exist), each horizon centers at its own mean (documented
    simplification of the drift estimator), and every moment is an
    exact DECIMAL product sum, so both engines agree bit-for-bit up
    to the fixed-order double close.  Property test replays VR and z
    per horizon in numpy.

    Shape at any SF: one orders scan partial-aggs to the calendar-
    bounded daily table; the grid join fans O(days * 5) rows into a
    5-row moment agg; 4-row finish.  100 TB costs the one fact
    scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _VR_SQL.format(
            qgrid="explode(array(1, 2, 4, 8, 16))",
            shift="date_add(b.d, CAST(g.q AS INT))",
        )
    )


# Sign test (round 13, wave 2): the EXACT paired-comparison test with
# the weakest assumptions on the shelf — pairs are (weekday mean,
# weekend mean) within each ISO-ish week, the statistic is just how
# many weeks the weekday side won, and the null is an exact
# binomial(n, 1/2) tail computed on the stats_fisher_exact
# log-factorial spine (no normal approximation anywhere — unlike
# stats_wilcoxon_signed_rank, which uses magnitudes AND a z close).
# The week key floor((epoch_day + 3)/7) aligns Monday; comparisons
# between weekly means are exact cross-multiplied integer products
# (s_wd * n_we vs s_we * n_wd), so a tie is exact and dropped per the
# textbook.  Template SQL (series-generator and epoch-day spellings
# per engine); the spine/tail windows accumulate left-to-right
# identically in both engines (the Fisher precedent).
_SIGN_BODY = """
spine AS (
  SELECT i.i,
         sum(CASE WHEN i.i < 2 THEN CAST(0 AS DOUBLE)
                  ELSE ln(CAST(i.i AS DOUBLE)) END)
           OVER (ORDER BY i.i) AS lnf
  FROM ints i
),
terms AS (
  SELECT ks.k, ct.n, ct.k_pos, ct.k_neg,
         (SELECT lnf FROM spine WHERE spine.i = ct.n)
         - (SELECT lnf FROM spine WHERE spine.i = ks.k)
         - (SELECT lnf FROM spine WHERE spine.i = ct.n - ks.k)
         - ct.n * 0.6931471805599453 AS lnp
  FROM ks CROSS JOIN ct
),
acc AS (
  SELECT k, n, k_pos, k_neg,
         sum(exp(lnp)) OVER (ORDER BY k) AS cump
  FROM terms
)
SELECT n AS n_weeks, k_pos AS n_weekday_higher, k_neg AS n_weekend_higher,
       round(least(CAST(1 AS DOUBLE), 2 * cump), 6) AS p_two_sided,
       CAST(CASE WHEN 2 * cump < 0.05 THEN 1 ELSE 0 END AS BIGINT)
         AS reject_95
FROM acc WHERE k = least(k_pos, k_neg)
"""

_SIGN_HEAD = """
WITH daily0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderdate
),
daily AS (
  SELECT d, cents,
         CASE WHEN ({dow}) IN (2, 3) THEN 1 ELSE 0 END AS wknd,
         ({ed} + 3) {div} 7 AS wk
  FROM daily0
),
wkagg AS (
  SELECT wk,
         CAST(sum(CASE WHEN wknd = 0 THEN CAST(cents AS DECIMAL(19,0)) END)
              AS DECIMAL(19,0)) AS s_wd,
         CAST(sum(CASE WHEN wknd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd,
         CAST(sum(CASE WHEN wknd = 1 THEN CAST(cents AS DECIMAL(19,0)) END)
              AS DECIMAL(19,0)) AS s_we,
         CAST(sum(CASE WHEN wknd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_we
  FROM daily GROUP BY wk
),
signs AS (
  SELECT CASE WHEN s_wd * n_we > s_we * n_wd THEN 1 ELSE 0 END AS pos,
         CASE WHEN s_wd * n_we < s_we * n_wd THEN 1 ELSE 0 END AS neg
  FROM wkagg
  WHERE n_wd > 0 AND n_we > 0 AND s_wd * n_we <> s_we * n_wd
),
ct AS (
  SELECT CAST(sum(pos) AS BIGINT) AS k_pos,
         CAST(sum(neg) AS BIGINT) AS k_neg,
         CAST(count(*) AS BIGINT) AS n
  FROM signs
),
"""


@query(
    "stats_sign_test",
    "§2.23 exact sign test: weekday-vs-weekend weekly means, binomial tail",
    _SIGN_HEAD.format(
        dow="(d - DATE '1970-01-01') % 7",
        ed="(d - DATE '1970-01-01')",
        div="//",
    )
    + """
ints AS (SELECT unnest(generate_series(0, (SELECT n FROM ct))) AS i),
ks AS (SELECT unnest(generate_series(0,
         (SELECT least(k_pos, k_neg) FROM ct))) AS k),
"""
    + _SIGN_BODY,
)
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sign test — does the weekday side of a week out-earn its
    weekend side more often than a fair coin?  The
    assumption-minimal member of the paired family (Wilcoxon
    signed-rank needs symmetric differences and closes with a z; the
    sign test needs only exchangeability and its p is the EXACT
    binomial(n, 1/2) tail, doubled for two sides and capped at 1).
    Weekly means never materialize as doubles: the comparison
    cross-multiplies exact integer sums, ties are exact and dropped
    (documented), and the binomial tail runs on the Fisher-exact
    log-factorial spine with ordered-window accumulation — the same
    left-to-right double sequence in both engines.  Property test
    replays signs and the tail with python integers and math.lgamma.

    Shape at any SF: one orders scan to the calendar-bounded daily
    table, a ~340-row week agg, then O(weeks) spine/tail windows on
    metadata-scale tables."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _SIGN_HEAD.format(
            dow="datediff(d, DATE '1970-01-01') % 7",
            ed="datediff(d, DATE '1970-01-01')",
            div="div",
        )
        + """
ints AS (SELECT explode(sequence(0,
           CAST((SELECT n FROM ct) AS INT))) AS i),
ks AS (SELECT explode(sequence(0,
         CAST((SELECT least(k_pos, k_neg) FROM ct) AS INT))) AS k),
"""
        + _SIGN_BODY
    )


# Chatterjee's xi (round 13, wave 3): the modern rank correlation
# that detects ARBITRARY (non-monotone) dependence — Pearson/Spearman
#/Kendall (all shipped) are blind to a V-shaped or periodic relation;
# xi -> 1 iff y is a measurable function of x, and it is deliberately
# ASYMMETRIC (xi(y|x) != xi(x|y)), so both directions are reported.
# Ties convention: the ties-general estimator (Chatterjee 2020 eq. 2)
# with a deterministic x-tie-break (order by (x, d)) — documented;
# the estimator is insensitive to the break asymptotically and the
# break makes both engines see the identical permutation.  One shared
# SQL text.  Determinism: ranks r_i = #{y_j <= y_i} and l_i =
# #{y_j >= y_i} are exact integer window counts, the |delta-r| sum
# and the l(n-l) sum are exact bigints, and xi closes as one double
# division; the null z uses the no-tie asymptotic Var = 2/5
# (documented normal approximation).
_XI_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
ranks AS (
  SELECT d, x, y,
         CAST(count(*) OVER (ORDER BY {yc} RANGE BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS r,
         CAST(count(*) OVER (ORDER BY {yc} DESC RANGE BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS BIGINT) AS l
  FROM daily
),
ranked AS (
  SELECT d, r, l, lead(r) OVER (ORDER BY {xc}, d) AS r_next
  FROM ranks
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(abs(r_next - r)) AS BIGINT) AS sum_dr,
         CAST(sum(CAST(l AS DECIMAL(19,0))
                  * CAST((SELECT count(*) FROM daily) - l AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sum_ln
  FROM ranked
)
SELECT '{label}' AS direction, n AS n_days,
       round(1 - n * CAST(sum_dr AS DOUBLE) / 2 / CAST(sum_ln AS DOUBLE), 6)
         AS xi,
       round((1 - n * CAST(sum_dr AS DOUBLE) / 2 / CAST(sum_ln AS DOUBLE))
             * sqrt(CAST(n AS DOUBLE)) / sqrt(CAST(2 AS DOUBLE) / 5), 4)
         AS z_score,
       CAST(CASE WHEN (1 - n * CAST(sum_dr AS DOUBLE) / 2
                         / CAST(sum_ln AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE)) / sqrt(CAST(2 AS DOUBLE) / 5)
                      > 1.6449 THEN 1 ELSE 0 END AS BIGINT) AS dependent_95
FROM s
"""


def _xi_sql(direction: str) -> str:
    if direction == "revenue_on_count":
        return _XI_SQL.format(xc="x", yc="y", label=direction)
    return _XI_SQL.format(xc="y", yc="x", label=direction)


@query(
    "stats_xi_correlation",
    "§2.23 Chatterjee's xi: functional-dependence rank correlation, both directions",
    "SELECT * FROM (\n" + _xi_sql("revenue_on_count")
    + "\n) a UNION ALL SELECT * FROM (\n" + _xi_sql("count_on_revenue")
    + "\n) b ORDER BY direction",
)
def stats_xi_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi on the daily (order count, revenue) pair — the
    dependence detector the shipped Pearson/Spearman/Kendall trio
    cannot be: xi_n = 1 - n sum|r_{i+1} - r_i| / (2 sum l_i(n - l_i))
    with y-ranks walked in x-order, which approaches 1 iff y is a
    measurable FUNCTION of x (monotone or not) and 0 under
    independence; reported in both directions because the asymmetry
    is informative (revenue is nearly a function of count, count is
    less determined by revenue).  One-sided null z = xi sqrt(n)/
    sqrt(2/5) (no-tie asymptotic variance, documented).  All ranks
    and both sums are exact integers; one double division per
    direction; deterministic (x, d) tie-break pins the permutation in
    both engines.  numpy replay property test pins both directions.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the rank windows and the x-order
    walk are single-partition over O(days) rows (SF-free count);
    1-row close per direction."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        "SELECT * FROM (\n" + _xi_sql("revenue_on_count")
        + "\n) a UNION ALL SELECT * FROM (\n" + _xi_sql("count_on_revenue")
        + "\n) b ORDER BY direction"
    )


# Sample entropy (round 13, wave 3): the regularity statistic of the
# physiological-signals literature (Richman & Moorman 2000) — "how
# often does a 2-day pattern that matched within tolerance STAY
# matched on the 3rd day?"  SampEn = -ln(A/B) with B the count of
# m=2 template pairs within r and A the m=3 count; low SampEn =
# self-similar/regular series, high = irregular.  Complements
# ts_ljung_box (linear autocorrelation) and llm_ngram_entropy_rate
# (symbolic): SampEn sees NONLINEAR regularity at a tolerance scale.
# Convention (documented): the observed day sequence is used as-is
# (gap days make adjacent observations — standard practice for
# sparse physiological series), r = round(0.2 sigma) in exact cents,
# self-matches excluded via i < j.  One shared SQL text.
# Determinism: the tolerance derives from exact DECIMAL moments
# through an IEEE-exact sqrt and one promote-to-double multiply, so
# both engines compare the same integer threshold; A and B are exact
# integer counts; ln is the single closing libm call (rounded 6, the
# ts_dickey_fuller half-life convention).
_SAMPEN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
seq AS (SELECT row_number() OVER (ORDER BY d) AS i, cents AS y FROM daily),
t AS (
  SELECT i, y,
         lead(y, 1) OVER (ORDER BY i) AS y1,
         lead(y, 2) OVER (ORDER BY i) AS y2
  FROM seq
),
calib AS (
  SELECT CAST(cnt AS BIGINT) AS n,
         CAST(round(0.2 * sqrt((sq - sm * sm / cnt) / (cnt - 1)))
              AS BIGINT) AS r
  FROM (
    SELECT CAST(count(*) AS BIGINT) AS cnt,
           CAST(CAST(sum(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                AS DOUBLE) AS sm,
           CAST(CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)) AS DOUBLE) AS sq
    FROM seq
  ) z
),
bcnt AS (
  SELECT CAST(count(*) AS BIGINT) AS b
  FROM t ta JOIN t tb ON ta.i < tb.i CROSS JOIN calib c
  WHERE ta.y1 IS NOT NULL AND tb.y1 IS NOT NULL
    AND abs(ta.y - tb.y) <= c.r AND abs(ta.y1 - tb.y1) <= c.r
),
acnt AS (
  SELECT CAST(count(*) AS BIGINT) AS a
  FROM t ta JOIN t tb ON ta.i < tb.i CROSS JOIN calib c
  WHERE ta.y2 IS NOT NULL AND tb.y2 IS NOT NULL
    AND abs(ta.y - tb.y) <= c.r AND abs(ta.y1 - tb.y1) <= c.r
    AND abs(ta.y2 - tb.y2) <= c.r
)
SELECT c.n AS n_days, c.r AS tolerance_cents,
       b.b AS n_matches_m2, a.a AS n_matches_m3,
       CASE WHEN a.a > 0 AND b.b > 0
            THEN round(0 - ln(CAST(a.a AS DOUBLE) / b.b), 6)
       END AS sample_entropy
FROM calib c CROSS JOIN bcnt b CROSS JOIN acnt a
"""


@query(
    "ts_sample_entropy",
    "§2.23 sample entropy (m=2, r=0.2 sigma) of the daily revenue series",
    _SAMPEN_SQL,
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SampEn(m=2, r=0.2 sigma) on daily revenue — the nonlinear
    regularity probe beside the linear ts_ljung_box: count template
    pairs whose 2-day patterns agree within r cents (B), count how
    many stay within r on the third day (A), and report -ln(A/B);
    a white-noise-like series lands near ln(B/A) of the tolerance
    geometry, a repeating regime pushes it toward 0.  The tolerance
    is an exact integer threshold derived once (IEEE-exact sqrt of
    exact DECIMAL moments), so every pair comparison is integer
    arithmetic in both engines; A/B are exact counts and ln is the
    one closing libm call.  numpy full-pair replay property test.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table (SF-free row count); the template
    self-join is days^2-bounded (~2.9M comparisons at 2400 days — the
    stats_hodges_lehmann days^2 justification) and never touches the
    corpus; 1-row close."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_SAMPEN_SQL)


# Kaplan-Meier (round 13, wave 4): survival analysis enters the
# library — the repeat-purchase curve "what fraction of customers
# have NOT yet placed a second order t days after their first?",
# with the right-censoring every retention metric needs and naive
# "average gap among repeaters" silently fakes (it drops exactly the
# customers who never came back).  Subjects = customers; event =
# second order; administrative censoring at the 180-day horizon or
# the study end (max order date), whichever truncates first;
# censoring ties handled censored-AFTER-events (the standard KM
# convention, documented).  Template SQL (date-difference spelling
# per engine).  Determinism: event/censor times and risk sets are
# exact integers from prefix sums over the bounded (<=181-row) time
# domain; the survival product accumulates ln(1 - d/n) in an ORDERED
# window (the stats_fisher_exact left-to-right precedent) and closes
# with one exp, rounded 6.
_KM_STAGE = """
WITH ords AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
firsts AS (SELECT cust, min(d) AS t1 FROM ords GROUP BY cust),
seconds AS (SELECT cust, d AS t2 FROM ords WHERE rn = 2),
study AS (SELECT max(CAST(o_orderdate AS DATE)) AS endd FROM orders),
subj AS (
  SELECT f.cust,
         least(CAST(180 AS BIGINT), CAST({dd_end} AS BIGINT)) AS win,
         CAST({dd_gap} AS BIGINT) AS gap
  FROM firsts f LEFT JOIN seconds s ON f.cust = s.cust CROSS JOIN study
),
tc AS (
  SELECT cust,
         CASE WHEN gap IS NOT NULL AND gap <= win THEN gap ELSE win END
           AS time,
         CASE WHEN gap IS NOT NULL AND gap <= win THEN 1 ELSE 0 END
           AS event
  FROM subj
),
counts AS (
  SELECT time,
         CAST(sum(event) AS BIGINT) AS d,
         CAST(sum(1 - event) AS BIGINT) AS c
  FROM tc GROUP BY time
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tc),
cum AS (
  SELECT time, d, c,
         t.n - COALESCE(CAST(sum(d + c) OVER (ORDER BY time
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS n_risk
  FROM counts CROSS JOIN tot t
),
km AS (
  SELECT time, d, c, n_risk,
         exp(sum(CASE WHEN d > 0 AND d < n_risk
                      THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                      ELSE CAST(0 AS DOUBLE) END)
             OVER (ORDER BY time)) AS s
  FROM cum
)
"""
_KM_SQL = _KM_STAGE + """
SELECT time AS gap_days, n_risk, d AS n_events, c AS n_censored,
       round(s, 6) AS survival
FROM km WHERE d > 0 ORDER BY time
"""


@query(
    "stats_kaplan_meier",
    "§2.23 Kaplan-Meier repeat-purchase survival curve (180-day horizon, right-censored)",
    _KM_SQL.format(dd_end="s2.endd - f.t1", dd_gap="s.t2 - f.t1").replace(
        "CROSS JOIN study", "CROSS JOIN study s2"
    ),
)
def stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimator of the time-to-second-order curve —
    S(t) = prod over event times <= t of (1 - d_t/n_t), the survival
    family's debut in the library (every shipped retention number —
    ts_cohort_retention, capture-recapture — conditions away the
    customers who haven't returned YET; KM is the estimator that
    keeps them in the risk set until their censoring time).  Subjects
    censor at min(180 days, study end - first order); the curve rows
    are the event times with risk set, events, same-time censorings,
    and S(t).  Risk sets are exact integer prefix sums on the bounded
    time domain; the product accumulates in log space through an
    ordered window (identical double sequence both engines, the
    Fisher-spine precedent) with one closing exp rounded 6; the d =
    n_risk edge (S would hit exact 0) is guarded and not reachable on
    this fixture.  Property test replays the full estimator against a
    lifelines-free python KM.

    Shape at any SF: one orders scan into a per-customer window
    (co-partitioned on o_custkey), per-customer reduction to one
    (time, event) row, then everything runs on the <=181-row time
    domain.  100 TB costs the one fact scan + the customer-grain
    shuffle."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _KM_SQL.format(
            dd_end="datediff(s2.endd, f.t1)", dd_gap="datediff(s.t2, f.t1)"
        ).replace("CROSS JOIN study", "CROSS JOIN study s2")
    )


# Log-rank test (round 13, wave 4): the two-curve comparison that
# completes the KM pair — "do AUTOMOBILE/BUILDING customers come back
# FASTER than the other segments?" cannot be answered by comparing
# mean gaps (censoring again), so the standard test aggregates, at
# every event time, the hypergeometric surprise of group-1 events
# given the shared risk sets: chi2 = (sum(d1 - E1))^2 / sum(V) on 1
# df.  Same subject staging as stats_kaplan_meier plus the customer
# segment.  Template SQL (date-difference spelling per engine).
# Determinism: per-time d1/E1/V are closed doubles over exact integer
# risk-set counts, snapped to 1e-9-grain bigints before the
# cross-time sums (hash-agg order-free); one double close.
_LOGRANK_SQL = """
WITH ords AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
firsts AS (SELECT cust, min(d) AS t1 FROM ords GROUP BY cust),
seconds AS (SELECT cust, d AS t2 FROM ords WHERE rn = 2),
study AS (SELECT max(CAST(o_orderdate AS DATE)) AS endd FROM orders),
subj AS (
  SELECT f.cust,
         CASE WHEN c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
              THEN 1 ELSE 0 END AS g1,
         least(CAST(180 AS BIGINT), CAST({dd_end} AS BIGINT)) AS win,
         CAST({dd_gap} AS BIGINT) AS gap
  FROM firsts f
  JOIN customer c ON f.cust = c.c_custkey
  LEFT JOIN seconds s ON f.cust = s.cust CROSS JOIN study s2
),
tc AS (
  SELECT cust, g1,
         CASE WHEN gap IS NOT NULL AND gap <= win THEN gap ELSE win END
           AS time,
         CASE WHEN gap IS NOT NULL AND gap <= win THEN 1 ELSE 0 END
           AS event
  FROM subj
),
counts AS (
  SELECT time,
         CAST(sum(event) AS BIGINT) AS d,
         CAST(sum(event * g1) AS BIGINT) AS d1,
         CAST(count(*) AS BIGINT) AS leaving,
         CAST(sum(g1) AS BIGINT) AS leaving1
  FROM tc GROUP BY time
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(g1) AS BIGINT) AS n1
  FROM tc
),
cum AS (
  SELECT time, d, d1,
         t.n - COALESCE(CAST(sum(leaving) OVER w AS BIGINT), 0) AS n_risk,
         t.n1 - COALESCE(CAST(sum(leaving1) OVER w AS BIGINT), 0) AS n1_risk
  FROM counts CROSS JOIN tot t
  WINDOW w AS (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING)
),
terms AS (
  SELECT CAST(round((d1 - CAST(d AS DOUBLE) * n1_risk / n_risk)
                    * 1000000000) AS BIGINT) AS oe9,
         CAST(round(CASE WHEN n_risk > 1
                         THEN CAST(d AS DOUBLE) * n1_risk / n_risk
                              * (1 - CAST(n1_risk AS DOUBLE) / n_risk)
                              * (n_risk - d) / (n_risk - 1)
                         ELSE CAST(0 AS DOUBLE) END
                    * 1000000000) AS BIGINT) AS v9,
         d, d1
  FROM cum WHERE d > 0
),
g AS (
  SELECT CAST(sum(d) AS BIGINT) AS events_total,
         CAST(sum(d1) AS BIGINT) AS events_g1,
         CAST(sum(oe9) AS DOUBLE) / 1000000000 AS oe,
         CAST(sum(v9) AS DOUBLE) / 1000000000 AS v
  FROM terms
)
SELECT t.n AS n_subjects, t.n1 AS n_group1,
       g.events_total, g.events_g1,
       round(g.events_g1 - g.oe, 4) AS expected_g1,
       round(g.oe, 4) AS observed_minus_expected,
       round(g.oe * g.oe / NULLIF(g.v, 0), 4) AS chi2_logrank,
       CAST(1 AS BIGINT) AS df,
       CAST(CASE WHEN g.oe * g.oe / NULLIF(g.v, 0) > 3.8415
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM g CROSS JOIN tot t
"""


@query(
    "stats_logrank_test",
    "§2.23 log-rank test: repeat-purchase curves of AUTO+BUILDING vs other segments",
    _LOGRANK_SQL.format(dd_end="s2.endd - f.t1", dd_gap="s.t2 - f.t1"),
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test between the repeat-purchase
    survival curves of two customer-segment groups — the censoring-
    correct alternative to comparing mean repeat gaps, and the CMH
    machinery (this round's stats_cmh_test) applied across the KM
    event times: at each event time, O-E of group-1 events under the
    shared-risk-set hypergeometric null and its variance, chi2 =
    (sum O-E)^2 / sum V on 1 df vs 3.8415.  Risk sets are exact
    integer prefix sums on the bounded time domain; every per-time
    rational snaps to a 1e-9-grain bigint before the cross-time sum
    (order-free in both engines); one double close.  Property test
    replays O-E/V per event time in python and cross-checks the KM
    staging against the stats_kaplan_meier op.

    Shape at any SF: identical to stats_kaplan_meier plus one
    customer-dimension key join (broadcastable); all test machinery
    runs on the <=181-row time domain."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(
        _LOGRANK_SQL.format(
            dd_end="datediff(s2.endd, f.t1)", dd_gap="datediff(s.t2, f.t1)"
        )
    )


# Cochran's Q (round 13, wave 4): the BINARY repeated-measures test —
# Friedman (shipped) ranks continuous within-block values; Cochran's
# Q is its dichotomous specialization ("was each event type ABOVE its
# own median on the same days?"), the test a monitoring pipeline
# applies to per-day pass/fail flags across k pipelines.  Blocks =
# days, treatments = event types, success = day count above that
# type's own median daily count (exact integer percentile_disc
# median, deterministic), complete blocks only.  Q = (k-1)(k SUM C^2
# - N^2) / (k N - SUM R^2) — every term an exact integer, so Q is
# ONE double division of exact bigints (the Friedman discipline),
# against chi2(k-1) at 95%.  Template SQL (WITHIN GROUP spelling).
_COCHRAN_Q_SQL = """
WITH cell AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
full_blocks AS (
  SELECT d FROM cell GROUP BY d
  HAVING count(*) = (SELECT count(DISTINCT event_type) FROM cell)
),
med AS (
  SELECT event_type, {median} AS m
  FROM cell JOIN full_blocks USING (d) GROUP BY event_type
),
x AS (
  SELECT cell.d, cell.event_type,
         CASE WHEN cell.c > med.m THEN 1 ELSE 0 END AS s
  FROM cell JOIN full_blocks USING (d) JOIN med USING (event_type)
),
cols AS (
  SELECT event_type, CAST(sum(s) AS BIGINT) AS ct
  FROM x GROUP BY event_type
),
rows_r AS (
  SELECT d, CAST(sum(s) AS BIGINT) AS rb FROM x GROUP BY d
),
k1 AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cols),
scal AS (
  SELECT k1.k,
         CAST(sum(c2.ct) AS BIGINT) AS n,
         CAST(sum(c2.ct * c2.ct) AS BIGINT) AS sum_c2,
         (SELECT CAST(sum(rb * rb) AS BIGINT) FROM rows_r) AS sum_r2
  FROM cols c2 CROSS JOIN k1 GROUP BY k1.k
)
SELECT c3.event_type,
       c3.ct AS n_days_above_median,
       s.k AS k_treatments, s.n AS n_successes,
       CASE WHEN s.k * s.n - s.sum_r2 > 0
            THEN round((s.k - 1) * CAST(s.k * s.sum_c2 - s.n * s.n AS DOUBLE)
                       / (s.k * s.n - s.sum_r2), 6)
       END AS q_stat,
       CAST(s.k - 1 AS BIGINT) AS df,
       CASE CAST(s.k - 1 AS BIGINT)
            WHEN 1 THEN CAST(3.841459 AS DOUBLE)
            WHEN 2 THEN CAST(5.991465 AS DOUBLE)
            WHEN 3 THEN CAST(7.814728 AS DOUBLE)
            WHEN 4 THEN CAST(9.487729 AS DOUBLE)
            WHEN 5 THEN CAST(11.070498 AS DOUBLE)
            WHEN 6 THEN CAST(12.591587 AS DOUBLE)
            WHEN 7 THEN CAST(14.067140 AS DOUBLE)
            WHEN 8 THEN CAST(15.507313 AS DOUBLE)
       END AS chi2_crit_95,
       CAST(CASE WHEN s.k * s.n - s.sum_r2 > 0
                  AND (s.k - 1) * CAST(s.k * s.sum_c2 - s.n * s.n AS DOUBLE)
                      / (s.k * s.n - s.sum_r2)
                      > CASE CAST(s.k - 1 AS BIGINT)
                             WHEN 1 THEN CAST(3.841459 AS DOUBLE)
                             WHEN 2 THEN CAST(5.991465 AS DOUBLE)
                             WHEN 3 THEN CAST(7.814728 AS DOUBLE)
                             WHEN 4 THEN CAST(9.487729 AS DOUBLE)
                             WHEN 5 THEN CAST(11.070498 AS DOUBLE)
                             WHEN 6 THEN CAST(12.591587 AS DOUBLE)
                             WHEN 7 THEN CAST(14.067140 AS DOUBLE)
                             WHEN 8 THEN CAST(15.507313 AS DOUBLE)
                        END
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM cols c3 CROSS JOIN scal s ORDER BY c3.event_type
"""


@query(
    "stats_cochran_q",
    "§2.23 Cochran's Q: binary repeated measures over the day x event-type grid",
    _COCHRAN_Q_SQL.format(
        median="CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)"
    ),
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over day-blocks and event-type treatments with the
    dichotomy "above that type's own discrete median daily count" —
    the binary sibling of stats_friedman_test (to which Q reduces
    when ranks are two-valued) and the k-treatment generalization of
    llm_judge_mcnemar's paired 2x2: does any type run hot on a
    systematically different SET of days once the shared daily level
    is blocked out?  The median is percentile_disc (an exact order
    statistic on integers — both engines pick the identical value),
    all C_t/R_b/N are exact integer sums, and Q closes as one double
    division against chi2(k-1); degenerate denominators (all-equal
    rows) NULL-guarded.  Property test replays the dichotomy and Q in
    pandas and pins the k=2 McNemar reduction on synthetic data.

    Shape at any SF: one events scan to the calendar-bounded
    (day x type) grid; the median, dichotomy, and all sums run on
    that grid; |types|-row finish."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        _COCHRAN_Q_SQL.format(
            median="CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)"
            " AS BIGINT)"
        )
    )


# Turning-points test (round 14): the classic randomness probe that
# complements ts_runs-style sign tests — in an i.i.d. sequence the
# number of strict local extrema T among n points has E[T] =
# 2(n-2)/3 and Var[T] = (16n-29)/90, so z = (T-E)/sqrt(V) flags
# serial structure (trend or oscillation) with no distributional
# assumption at all.  One shared SQL text.  Determinism: daily cents
# are exact bigints, T and n are exact integer counts, and the
# expectation/variance/z close as fixed-order doubles on a 1-row
# scalar (sqrt is IEEE-exact).  Convention (documented): strict
# inequalities on both sides — a tie with either neighbour is not a
# turning point — and the test runs on the OBSERVED day sequence
# (missing calendar days just shorten the sequence, the ts_hurst
# row-index convention).
_TURNING_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
seq AS (
  SELECT cents AS y,
         lag(cents)  OVER (ORDER BY d) AS py,
         lead(cents) OVER (ORDER BY d) AS ny
  FROM daily
),
s AS (
  SELECT CAST(count(*) AS BIGINT) + 2 AS n,
         CAST(sum(CASE WHEN (y > py AND y > ny) OR (y < py AND y < ny)
                       THEN 1 ELSE 0 END) AS BIGINT) AS t
  FROM seq WHERE py IS NOT NULL AND ny IS NOT NULL
)
SELECT n AS n_obs, t AS n_turning,
       round(CAST(2 AS DOUBLE) * (n - 2) / 3, 4) AS expected_turning,
       round((16 * n - 29) / CAST(90 AS DOUBLE), 4) AS var_turning,
       round((t - CAST(2 AS DOUBLE) * (n - 2) / 3)
             / sqrt((16 * n - 29) / CAST(90 AS DOUBLE)), 4) AS z_score,
       CAST(CASE WHEN abs((t - CAST(2 AS DOUBLE) * (n - 2) / 3)
                          / sqrt((16 * n - 29) / CAST(90 AS DOUBLE))) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_iid_95
FROM s
"""


@query(
    "ts_turning_points",
    "§2.24 turning-points randomness test on daily revenue",
    _TURNING_SQL,
)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points test for serial randomness: count the strict
    local maxima and minima of the daily-revenue sequence and compare
    against the i.i.d. expectation 2(n-2)/3 with variance (16n-29)/90
    (Kendall's classic result; too FEW turning points means trend,
    too MANY means rapid oscillation / negative autocorrelation).
    Distinct from stats_runs_test, which dichotomizes around the
    median and loses the local-extremum structure this test keys on.
    Strict-inequality tie convention and observed-sequence indexing
    documented in the SQL header; all counts exact integers, the z
    close is fixed-order doubles on a 1-row scalar.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the lag/lead window and the count
    run on O(days) rows; 1-row finish.  100 TB costs the one fact
    scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_TURNING_SQL)


# Permutation entropy (round 14): Bandt-Pompe complexity of the daily
# revenue sequence at embedding order 3 — the ordinal-pattern
# companion to ts_sample_entropy (which needs a tolerance scale; the
# ordinal patterns need none) and ts_turning_points (whose extrema
# are exactly the 2 "peak"/"valley" pattern classes of the 6).  Each
# consecutive day triple maps to one of 3! = 6 ordinal patterns;
# H = -sum p ln p over the pattern distribution, normalized by ln 6.
# One shared SQL text.  Determinism: pattern ranks break value ties
# by POSITION (earlier day ranks lower — the standard Bandt-Pompe
# convention, documented), so every code is an exact integer; counts
# are exact; the entropy uses the factored H = ln N - (sum c ln c)/N
# with each c*ln(c) term rounded to 8 decimals and decimal-summed
# (the llm_token_entropy q9 cent-flip discipline).
_PERM_ENTROPY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tri AS (
  SELECT cents AS y0,
         lead(cents, 1) OVER (ORDER BY d) AS y1,
         lead(cents, 2) OVER (ORDER BY d) AS y2
  FROM daily
),
pat AS (
  SELECT ((CASE WHEN y0 > y1 THEN 1 ELSE 0 END)
          + (CASE WHEN y0 > y2 THEN 1 ELSE 0 END)) * 9
         + ((CASE WHEN y1 >= y0 THEN 1 ELSE 0 END)
            + (CASE WHEN y1 > y2 THEN 1 ELSE 0 END)) * 3
         + ((CASE WHEN y2 >= y0 THEN 1 ELSE 0 END)
            + (CASE WHEN y2 >= y1 THEN 1 ELSE 0 END)) AS code
  FROM tri WHERE y1 IS NOT NULL AND y2 IS NOT NULL
),
counts AS (
  SELECT code, CAST(count(*) AS BIGINT) AS c FROM pat GROUP BY code
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(round(c * ln(c), 8) AS DECIMAL(28,8)))
              AS DOUBLE) AS slc
  FROM counts
)
SELECT c2.code AS pattern_code, c2.c AS n_windows,
       round(CAST(c2.c AS DOUBLE) / t.n, 6) AS share,
       round(ln(t.n) - t.slc / t.n, 6) AS perm_entropy_nats,
       round((ln(t.n) - t.slc / t.n) / ln(CAST(6 AS DOUBLE)), 6)
         AS perm_entropy_norm
FROM counts c2 CROSS JOIN tot t ORDER BY pattern_code
"""


@query(
    "ts_permutation_entropy",
    "§2.24 Bandt-Pompe permutation entropy (order 3) of daily revenue",
    _PERM_ENTROPY_SQL,
)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy at embedding order 3: map every
    consecutive-day revenue triple to its ordinal pattern (the
    permutation that sorts it, ties broken by position — the standard
    Bandt-Pompe convention) and report the pattern distribution plus
    the normalized Shannon entropy H/ln6 (1 =white-noise-like ordinal
    structure, 0 = a single monotone pattern).  The pattern code is
    r0*9 + r1*3 + r2 where r_i counts strictly-smaller (or
    tie-earlier) neighbours — exactly 6 valid codes {5,7,11,15,19,
    21}.  Complexity with NO tolerance parameter, which is what
    ts_sample_entropy cannot offer; robust to any monotone transform
    of the values.  Counts exact; entropy via the factored form with
    8-decimal-rounded decimal-summed c*ln(c) terms.

    Shape at any SF: one orders scan to the daily table; the
    two-lead window and the 6-group agg run on O(days) rows;
    6-row finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_PERM_ENTROPY_SQL)


# KPSS stationarity test (round 14): the null-reversed partner of
# ts_dickey_fuller — DF's null is "unit root" (reject = stationary),
# KPSS's null is "level-stationary" (reject = unit root), so running
# BOTH disambiguates the classic four-quadrant table (both reject,
# both fail, or they disagree).  eta = n^-2 sum_t S_t^2 / s^2(l)
# where S_t is the partial sum of the demeaned series and s^2(l) the
# Bartlett-window long-run variance at bandwidth l = floor(4 *
# (n/100)^(1/4)).  Template SQL ({jgrid} lag-grid spelling per
# engine).  Determinism: the demeaned series is integerized FIRST —
# e_t = n*y_t - S1 is an exact bigint (headroom: n*daily_cents <
# 9.2e18 up to ~2400 days x 2.3e15 cents/day, i.e. past the 100 TB
# point) snapped once to the documented 2^20 grain via a
# deterministic double round; every downstream quantity (partial
# sums, their squares, all autocovariance products, the integer
# Bartlett weights (l+1-j)) is then EXACT integer/DECIMAL arithmetic
# whose grain cancels in eta, which closes as ONE double division.
# The bandwidth uses sqrt(sqrt(x)) — two IEEE-exact roots, no libm
# pow.  Critical value 0.463 (level case, 5%), hard-coded and
# documented (the null distribution is nonstandard).
_KPSS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, cents AS y FROM daily
),
n1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s1,
         CAST(floor(4 * sqrt(sqrt(count(*) / CAST(100 AS DOUBLE))))
              AS BIGINT) AS l
  FROM idx
),
f AS (
  SELECT i.t, n1.n, n1.l,
         CAST(round(CAST(n1.n * i.y - n1.s1 AS DOUBLE) / 1048576)
              AS BIGINT) AS e
  FROM idx i CROSS JOIN n1
),
cum AS (
  SELECT t, n, l, e,
         CAST(sum(e) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s
  FROM f
),
num AS (
  SELECT CAST(sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss2
  FROM cum
),
g0 AS (
  SELECT CAST(sum(CAST(e AS DECIMAL(19,0)) * CAST(e AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS gamma0
  FROM f
),
js AS (SELECT {jgrid} AS j FROM n1),
gj AS (
  SELECT CAST(sum(CAST(n1.l + 1 - js.j AS DECIMAL(19,0))
                  * CAST(a.e AS DECIMAL(19,0))
                  * CAST(b.e AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS wgamma
  FROM js CROSS JOIN n1
  JOIN f a ON true JOIN f b ON a.t = b.t + js.j
),
scal AS (
  SELECT n1.n, n1.l, num.ss2,
         CAST(n1.l + 1 AS DECIMAL(19,0)) * g0.gamma0
           + 2 * coalesce(gj.wgamma, 0) AS lrv_scaled
  FROM n1 CROSS JOIN num CROSS JOIN g0 LEFT JOIN gj ON true
)
SELECT n AS n_obs, l AS bandwidth,
       round(CAST(ss2 AS DOUBLE) * (l + 1)
             / (CAST(n AS DOUBLE) * CAST(lrv_scaled AS DOUBLE)), 6)
         AS kpss_eta,
       CAST(0.463 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN CAST(ss2 AS DOUBLE) * (l + 1)
                      / (CAST(n AS DOUBLE) * CAST(lrv_scaled AS DOUBLE))
                      > 0.463
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_stationary
FROM scal
"""


@query(
    "ts_kpss_test",
    "§2.24 KPSS level-stationarity test on daily revenue",
    _KPSS_SQL.format(jgrid="unnest(generate_series(1, CAST(l AS BIGINT)))"),
)
def ts_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS test for level stationarity of daily revenue — the
    null-reversed companion to ts_dickey_fuller: under the null the
    series is stationary around a constant level, and the statistic
    eta = n^-2 sum S_t^2 / s^2(l) (partial sums of the demeaned
    series over the Bartlett long-run variance at bandwidth
    l = floor(4 (n/100)^0.25)) rejects when the partial sums wander
    like a random walk.  Reject here + fail-to-reject in DF is the
    strongest unit-root evidence; the reverse is the strongest
    stationarity evidence.  The demeaned series integerizes as
    n*y - sum(y) (exact bigint) snapped once at the documented 2^20
    grain — the grain cancels in eta — so partial sums, squares, and
    all Bartlett-weighted autocovariances are exact integer/DECIMAL
    sums in both engines; eta closes as one double division; the
    bandwidth needs only IEEE-exact sqrt(sqrt(.)).

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the cumsum window, the l
    lag-joins, and the finish run on O(days * l) metadata-scale
    rows.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _KPSS_SQL.format(jgrid="explode(sequence(1, CAST(l AS BIGINT)))")
    )


# --- round-14 two-sample rank chassis --------------------------------
# Three rank tests (Brunner-Munzel, Cramer-von Mises, Ansari-Bradley)
# share one staging: events collapse to DISTINCT integer micro-values
# with per-group counts (never a global per-row rank), and the
# exclusive prefix sums (total / group-a / group-b) come from the same
# bounded two-phase distributed prefix sum as stats_mann_whitney — a
# coarse bucket key gives parallel windows, bucket offsets broadcast
# back.  Every downstream statistic is a closed form over exact
# integer tied-group sums.

def _two_sample_cum_sql(type_a: str, type_b: str) -> str:
    """Shared oracle CTE text: distinct points + exclusive prefixes."""
    return f"""
pts AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         CAST(sum(CASE WHEN event_type = '{type_a}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = '{type_b}' THEN 1 ELSE 0 END)
              AS BIGINT) AS cv
  FROM events WHERE event_type IN ('{type_a}', '{type_b}') GROUP BY 1
),
cum AS (
  SELECT ca, cv, ca + cv AS g,
         CAST(sum(ca + cv) OVER (ORDER BY v) - (ca + cv) AS BIGINT)
           AS prev_total,
         CAST(sum(ca) OVER (ORDER BY v) - ca AS BIGINT) AS prev_ca,
         CAST(sum(cv) OVER (ORDER BY v) - cv AS BIGINT) AS prev_cv
  FROM pts
)"""


def _two_sample_cum_df(spark: SparkSession, sf_dir: str,
                       type_a: str, type_b: str) -> DataFrame:
    """Spark-side staging: the stats_mann_whitney bucketed two-phase
    prefix sum, extended to per-group exclusive prefixes."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(type_a, type_b))
        .select(
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("v"),
            F.when(F.col("event_type") == type_a, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == type_b, 1).otherwise(0).alias("ib"),
        )
    )
    pts = lineage_checkpoint_lazy(
        ev.groupBy("v")
        .agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cv"))
        .withColumn("g", F.col("ca") + F.col("cv"))
        .withColumn("bucket", F.expr("v div 50000000"))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = (
        pts.groupBy("bucket")
        .agg(
            F.sum("g").alias("bg"),
            F.sum("ca").alias("bca"),
            F.sum("cv").alias("bcv"),
        )
        .select(
            "bucket",
            F.coalesce(F.sum("bg").over(wb), F.lit(0)).alias("offg"),
            F.coalesce(F.sum("bca").over(wb), F.lit(0)).alias("offa"),
            F.coalesce(F.sum("bcv").over(wb), F.lit(0)).alias("offb"),
        )
    )
    w = Window.partitionBy("bucket").orderBy("v")
    return (
        pts.join(F.broadcast(boff), "bucket")
        .select(
            "ca", "cv", "g",
            (F.sum("g").over(w) + F.col("offg") - F.col("g"))
            .cast("bigint").alias("prev_total"),
            (F.sum("ca").over(w) + F.col("offa") - F.col("ca"))
            .cast("bigint").alias("prev_ca"),
            (F.sum("cv").over(w) + F.col("offb") - F.col("cv"))
            .cast("bigint").alias("prev_cv"),
        )
    )


# Brunner-Munzel (round 14): the two-sample rank test that drops
# Mann-Whitney's "equal shapes" assumption — MW's z is miscalibrated
# when the two groups have different variances; BM studentizes the
# placement statistic with EACH group's own placement variance (the
# nonparametric Behrens-Fisher solution).  Reports the stochastic-
# superiority estimate p_hat = P(A < B) + 0.5 P(A = B) directly.
# Determinism: a group-a observation's doubled placement among
# group-b is the exact integer 2*prev_cv + cv (and symmetrically),
# so all four moment sums are exact DECIMAL; the W / p_hat /
# Satterthwaite-df close is fixed-order doubles on a 1-row scalar.
# The reject gate uses the normal 1.96 (documented: df is in the
# hundreds here; the t refinement changes nothing at this n).
_BM_CLOSE_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2
  FROM {cum}
),
s AS (
  SELECT
    CAST(sum(CAST(ca AS DECIMAL(19,0))
             * CAST(2 * prev_cv + cv AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sd1,
    CAST(sum(CAST(ca AS DECIMAL(19,0))
             * CAST(2 * prev_cv + cv AS DECIMAL(19,0))
             * CAST(2 * prev_cv + cv AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sdd1,
    CAST(sum(CAST(cv AS DECIMAL(19,0))
             * CAST(2 * prev_ca + ca AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sd2,
    CAST(sum(CAST(cv AS DECIMAL(19,0))
             * CAST(2 * prev_ca + ca AS DECIMAL(19,0))
             * CAST(2 * prev_ca + ca AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sdd2
  FROM {cum}
),
fit AS (
  SELECT n1, n2,
         CAST(sd2 AS DOUBLE) / (2 * CAST(n1 AS DOUBLE) * n2) AS p_hat,
         ((CAST(sd2 AS DOUBLE) / n2 - CAST(sd1 AS DOUBLE) / n1)
          + (n2 - n1)) / 2 AS rdiff,
         (CAST(sdd1 AS DOUBLE)
          - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / n1) / (n1 - 1)
           AS vx4,
         (CAST(sdd2 AS DOUBLE)
          - CAST(sd2 AS DOUBLE) * CAST(sd2 AS DOUBLE) / n2) / (n2 - 1)
           AS vy4
  FROM tot CROSS JOIN s
)
SELECT n1 AS n_a, n2 AS n_b,
       round(p_hat, 6) AS p_a_lt_b,
       round(2 * CAST(n1 AS DOUBLE) * n2 * rdiff
             / ((n1 + n2) * sqrt(n1 * vx4 + n2 * vy4)), 4) AS bm_stat,
       round((n1 * vx4 + n2 * vy4) * (n1 * vx4 + n2 * vy4)
             / ((n1 * vx4) * (n1 * vx4) / (n1 - 1)
                + (n2 * vy4) * (n2 * vy4) / (n2 - 1)), 2) AS df_satterthwaite,
       CAST(CASE WHEN abs(2 * CAST(n1 AS DOUBLE) * n2 * rdiff
                          / ((n1 + n2) * sqrt(n1 * vx4 + n2 * vy4))) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM fit
"""


@query(
    "stats_brunner_munzel",
    "§2.24 Brunner-Munzel nonparametric Behrens-Fisher test (purchase vs click)",
    "WITH " + _two_sample_cum_sql("purchase", "click") + ","
    + _BM_CLOSE_SQL.format(cum="cum"),
)
def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test: is P(purchase value < click value) +
    0.5 P(equal) different from 1/2 — WITHOUT assuming the two value
    distributions share a shape?  stats_mann_whitney's z quietly
    assumes equal variances under the null; purchase and click values
    have visibly different spreads, which is exactly the
    heteroskedastic case BM was built for (the nonparametric
    Behrens-Fisher problem).  The doubled placement of an a-row among
    the b-sample is the exact integer 2*prev_cv + cv from the shared
    two-phase prefix chassis, so sd/sdd moment sums are exact DECIMAL
    in any partition order; W, p_hat, and the Satterthwaite df close
    as fixed-order doubles on a 1-row scalar; reject gate at the
    normal 1.96 (documented — df here is in the hundreds).

    Shape at any SF: one events scan hash-aggs to distinct micro-
    values; the bucketed two-phase prefix sum bounds every window
    partition; the moment agg is map-side partial; 1-row finish."""
    cum = _two_sample_cum_df(spark, sf_dir, "purchase", "click")
    cum.createOrReplaceTempView("r14_bm_cum")
    return spark.sql("WITH " + _BM_CLOSE_SQL.format(cum="r14_bm_cum"))


# Cramer-von Mises two-sample (round 14): the INTEGRATED-distance
# alternative to stats_ks_test's supremum — KS keys on the single
# worst ECDF gap (most sensitive near the median), CvM integrates the
# SQUARED gap over the whole pooled sample and so sees tail and
# multi-hump differences a one-point supremum misses.  ECDF
# formulation (tie-natural, documented): T = sum_points g * A^2 /
# (n1 * n2 * N^2) with A = cum_a * n2 - cum_b * n1 an exact integer
# at every distinct value.  Determinism: the whole numerator is one
# exact DECIMAL sum of integer products; T closes as one double
# division.  Headroom documented in the docstring.  Asymptotic 5%
# critical value 0.461 (Anderson 1962), hard-coded and documented.
_CVM_CLOSE_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2
  FROM {cum}
),
s AS (
  SELECT CAST(sum(CAST(g AS DECIMAL(19,0))
                  * CAST((prev_ca + ca) * t.n2 - (prev_cv + cv) * t.n1
                         AS DECIMAL(19,0))
                  * CAST((prev_ca + ca) * t.n2 - (prev_cv + cv) * t.n1
                         AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS num
  FROM {cum} CROSS JOIN tot t
)
SELECT t.n1 AS n_a, t.n2 AS n_b,
       round(CAST(s.num AS DOUBLE)
             / (CAST(t.n1 AS DOUBLE) * t.n2 * (t.n1 + t.n2)
                * (t.n1 + t.n2)), 6) AS cvm_t,
       CAST(0.461 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN CAST(s.num AS DOUBLE)
                      / (CAST(t.n1 AS DOUBLE) * t.n2 * (t.n1 + t.n2)
                         * (t.n1 + t.n2)) > 0.461
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_same_dist
FROM tot t CROSS JOIN s
"""


@query(
    "stats_cvm_two_sample",
    "§2.24 Cramer-von Mises two-sample ECDF-distance test (purchase vs click)",
    "WITH " + _two_sample_cum_sql("purchase", "click") + ","
    + _CVM_CLOSE_SQL.format(cum="cum"),
)
def stats_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises test on purchase-vs-click values:
    T integrates the SQUARED ECDF gap over the pooled sample where
    stats_ks_test takes only the supremum — the classic pairing
    (KS for one big local gap, CvM for many small everywhere gaps).
    At each distinct micro-value the gap numerator A = cum_a*n2 -
    cum_b*n1 is an exact integer, so the statistic's numerator
    sum g*A^2 is one exact DECIMAL aggregate and T closes as a
    single double division against the 0.461 asymptotic 5% critical
    value (Anderson 1962; documented).  Integer headroom: |A| <=
    n1*n2 and the summed numerator stays inside DECIMAL(38,0) for
    samples up to ~1.7e9 rows per side — past that the docstringed
    escape is coarsening the value grain (the KPSS 2^20 pattern).

    Shape at any SF: identical to stats_brunner_munzel — one events
    scan to distinct micro-values, bucketed two-phase prefix sums,
    map-side-partial moment agg, 1-row finish."""
    cum = _two_sample_cum_df(spark, sf_dir, "purchase", "click")
    cum.createOrReplaceTempView("r14_cvm_cum")
    return spark.sql("WITH " + _CVM_CLOSE_SQL.format(cum="r14_cvm_cum"))


# Ansari-Bradley (round 14): the rank test for SCALE — are click and
# view values equally dispersed around a common median?  stats_levene
# answers with moments (mean-based, outlier-sensitive); AB scores
# each observation by its distance from the outside in, a_i =
# min(R_i, N+1-R_i), so a group concentrated at the extremes
# collects LOW scores.  Tie-robust permutation-moment form
# (Hajek; documented): z = (AB - n1*sbar) / sqrt(n1*n2*(s2sum -
# N*sbar^2)/(N(N-1))) computed from the ACTUAL tied score sums, not
# the no-tie textbook constants.  Determinism: doubled mid-ranks and
# doubled scores are exact integers from the shared prefix chassis;
# all three score sums are exact DECIMAL; the doubled units cancel
# in z, which closes as fixed-order doubles on a 1-row scalar.
_AB_CLOSE_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2,
         CAST(sum(ca) + sum(cv) AS BIGINT) AS n
  FROM {cum}
),
sc AS (
  SELECT ca, cv, g,
         least(2 * prev_total + g + 1,
               2 * (t.n + 1) - (2 * prev_total + g + 1)) AS a2
  FROM {cum} CROSS JOIN tot t
),
s AS (
  SELECT
    CAST(sum(CAST(ca AS DECIMAL(19,0)) * CAST(a2 AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS ab2,
    CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(a2 AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sg2,
    CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(a2 AS DECIMAL(19,0))
             * CAST(a2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sgg4
  FROM sc
)
SELECT t.n1 AS n_a, t.n2 AS n_b,
       round(CAST(s.ab2 AS DOUBLE) / 2, 1) AS ab_stat,
       round((CAST(s.ab2 AS DOUBLE) - CAST(t.n1 AS DOUBLE)
                                      * CAST(s.sg2 AS DOUBLE) / t.n)
             / sqrt(CAST(t.n1 AS DOUBLE) * t.n2
                    * (CAST(s.sgg4 AS DOUBLE)
                       - CAST(s.sg2 AS DOUBLE) * CAST(s.sg2 AS DOUBLE) / t.n)
                    / (CAST(t.n AS DOUBLE) * (t.n - 1))), 4) AS z_score,
       CAST(CASE WHEN abs((CAST(s.ab2 AS DOUBLE)
                           - CAST(t.n1 AS DOUBLE)
                             * CAST(s.sg2 AS DOUBLE) / t.n)
                          / sqrt(CAST(t.n1 AS DOUBLE) * t.n2
                                 * (CAST(s.sgg4 AS DOUBLE)
                                    - CAST(s.sg2 AS DOUBLE)
                                      * CAST(s.sg2 AS DOUBLE) / t.n)
                                 / (CAST(t.n AS DOUBLE) * (t.n - 1)))) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_equal_scale
FROM tot t CROSS JOIN s
"""


@query(
    "stats_ansari_bradley",
    "§2.24 Ansari-Bradley rank test for equal dispersion (click vs view)",
    "WITH " + _two_sample_cum_sql("click", "view") + ","
    + _AB_CLOSE_SQL.format(cum="cum"),
)
def stats_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley test: do click and view values differ in SCALE?
    Scores count from the outside in (min of rank and reverse rank),
    so the more-dispersed group's observations sit at the extremes
    and collect systematically lower scores; the z compares sample
    a's score sum to its permutation moments computed from the
    ACTUAL tied scores (tie-robust, unlike the no-tie textbook
    mean/variance — convention documented).  The rank-based
    complement to stats_levene_test's moment-based spread test.
    Doubled mid-ranks and scores are exact integers from the shared
    two-phase prefix chassis; the three score sums are exact
    DECIMAL; z closes as fixed-order doubles on a 1-row scalar.

    Shape at any SF: identical to stats_brunner_munzel — one events
    scan to distinct micro-values, bucketed two-phase prefix sums,
    broadcast scalar totals, map-side-partial score agg, 1-row
    finish."""
    cum = _two_sample_cum_df(spark, sf_dir, "click", "view")
    cum.createOrReplaceTempView("r14_ab_cum")
    return spark.sql("WITH " + _AB_CLOSE_SQL.format(cum="r14_ab_cum"))


# Mood's median test (round 14): the assumption-MINIMAL k-group
# location test beside stats_kruskal_wallis — KW uses full rank
# information (more power, but sensitive to shape differences);
# Mood's reduces each value to one bit, above the pooled median or
# not, so wildly different group shapes cannot masquerade as
# location shifts.  2xk contingency chi-square with the per-group
# term in closed exact-integer form: A_g = a_g*N - n_g*R1 (a_g =
# above-count) makes chi2 = sum_g A_g^2/n_g / (R1*R2).  One shared
# SQL text.  Determinism: the pooled median is percentile_disc on
# exact cents (identical order statistic both engines); counts
# exact; A_g is an exact DECIMAL(19,0)-factor difference cast ONCE
# to double before squaring (a raw BIGINT product would overflow
# int64 at ~1e11 orders — the ADVICE r13 ts_page_hinkley class —
# and the square of the (38,0) difference would overflow DECIMAL);
# each per-group rational u_g = A_g^2/(n_g*R1*R2) snaps to a 1e-9
# bigint before the cross-group sum (the stats_cmh_test
# discipline); ties with the median count as "not above"
# (documented).  Critical value derived from df = k-1 via the
# shared CASE lookup.
_MOOD_SQL = """
WITH base AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
med AS (
  SELECT {median} AS m FROM base
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN cents > med.m THEN 1 ELSE 0 END) AS BIGINT)
           AS a
  FROM base CROSS JOIN med GROUP BY g
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(a) AS BIGINT) AS r1,
         CAST(sum(n) - sum(a) AS BIGINT) AS r2,
         CAST(count(*) AS BIGINT) AS k
  FROM grp
),
terms AS (
  SELECT g.g, g.n, g.a,
         CAST(round(CAST(CAST(g.a AS DECIMAL(19,0)) * t.nn
                         - CAST(g.n AS DECIMAL(19,0)) * t.r1 AS DOUBLE)
                    * CAST(CAST(g.a AS DECIMAL(19,0)) * t.nn
                           - CAST(g.n AS DECIMAL(19,0)) * t.r1 AS DOUBLE)
                    / (CAST(g.n AS DOUBLE) * t.r1 * t.r2)
                    * 1000000000) AS BIGINT) AS u9
  FROM grp g CROSS JOIN tot t
),
chi AS (
  SELECT CAST(sum(u9) AS BIGINT) AS c9 FROM terms
)
SELECT te.g AS priority_group, te.n AS n_orders, te.a AS n_above_median,
       CAST(te.n - te.a AS BIGINT) AS n_not_above,
       round(CAST(ch.c9 AS DOUBLE) / 1000000000, 6) AS chi2_stat,
       CAST(t.k - 1 AS BIGINT) AS df,
       CASE CAST(t.k - 1 AS BIGINT)
            WHEN 1 THEN CAST(3.841459 AS DOUBLE)
            WHEN 2 THEN CAST(5.991465 AS DOUBLE)
            WHEN 3 THEN CAST(7.814728 AS DOUBLE)
            WHEN 4 THEN CAST(9.487729 AS DOUBLE)
            WHEN 5 THEN CAST(11.070498 AS DOUBLE)
            WHEN 6 THEN CAST(12.591587 AS DOUBLE)
            WHEN 7 THEN CAST(14.067140 AS DOUBLE)
            WHEN 8 THEN CAST(15.507313 AS DOUBLE)
       END AS chi2_crit_95,
       CAST(CASE WHEN CAST(ch.c9 AS DOUBLE) / 1000000000 >
                      CASE CAST(t.k - 1 AS BIGINT)
                           WHEN 1 THEN CAST(3.841459 AS DOUBLE)
                           WHEN 2 THEN CAST(5.991465 AS DOUBLE)
                           WHEN 3 THEN CAST(7.814728 AS DOUBLE)
                           WHEN 4 THEN CAST(9.487729 AS DOUBLE)
                           WHEN 5 THEN CAST(11.070498 AS DOUBLE)
                           WHEN 6 THEN CAST(12.591587 AS DOUBLE)
                           WHEN 7 THEN CAST(14.067140 AS DOUBLE)
                           WHEN 8 THEN CAST(15.507313 AS DOUBLE)
                      END
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_equal_medians
FROM terms te CROSS JOIN chi ch CROSS JOIN tot t
ORDER BY te.g
"""


@query(
    "stats_mood_median",
    "§2.24 Mood's median test across the 5 order-priority groups",
    _MOOD_SQL.format(
        median="CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)"
        " AS BIGINT)"
    ),
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the five order-priority groups share a
    common median order value?  Each order contributes ONE BIT
    (above the pooled median or not), which buys total robustness to
    shape/variance differences — the property stats_kruskal_wallis
    (full ranks) and stats_anova_oneway (means) give up.  The 2xk
    chi-square reduces per group to the exact integer A_g =
    a_g*N - n_g*R1; u_g = A_g^2/(n_g R1 R2) snaps at 1e-9 before the
    cross-group sum (the CMH discipline), so both engines sum
    identical bigints.  Median-tie convention ("not above") and the
    df-derived critical-value CASE documented in the SQL header.

    Shape at any SF: one orders scan for the exact median (single
    order statistic), one for the 5-group bit counts — both
    map-side-partial hash aggs; 5-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _MOOD_SQL.format(
            median="CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)"
            " AS BIGINT)"
        )
    )


# Bartlett's test (round 14): the likelihood-ratio k-group
# equal-variance test beside stats_levene_test — Levene trades power
# for outlier robustness by testing mean absolute deviations;
# Bartlett is the classic exact-normal-theory test on the log
# variance ratio, the right tool when the groups are roughly
# bell-shaped (order values are), and the sharper detector when they
# are.  One shared SQL text.  Determinism: per-group moment sums are
# exact DECIMAL; each group's centered sum of squares css = ss -
# s^2/n and its ln are single-expression doubles (identical IEEE in
# both engines); the three CROSS-group sums are snapped before
# summing — css at the 2^20 grain (a unit grain overflowed int64 at
# sf0.1: five ~1.9e18 groups sum past 2^63 — caught by the r14
# multi-SF sweep; at 2^20 the sum holds to ~2e24 total css),
# (n-1)*ln(S^2) at 1e-9, 1/(n-1) at 1e-12 (the CMH discipline at
# three magnitudes) — so partial-agg order cannot flip a bit;
# chi2/C closes on a 1-row scalar.
_BARTLETT_SQL = """
WITH base AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss
  FROM base GROUP BY g
),
pg AS (
  SELECT g, n,
         CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
           AS css
  FROM grp WHERE n > 1
),
snapped AS (
  SELECT g, n, css,
         CAST(round(css / 1048576) AS BIGINT) AS css20,
         CAST(round((n - 1) * ln(css / (n - 1)) * 1000000000) AS BIGINT)
           AS lnterm9,
         CAST(round(1000000000000 / (CAST(n AS DOUBLE) - 1)) AS BIGINT)
           AS inv12
  FROM pg
),
scal AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(css20) AS BIGINT) AS csstot20,
         CAST(sum(lnterm9) AS BIGINT) AS t1_9,
         CAST(sum(inv12) AS BIGINT) AS sinv12
  FROM snapped
),
chi AS (
  SELECT nn, k,
         ((nn - k) * ln(CAST(csstot20 AS DOUBLE) * 1048576 / (nn - k))
          - CAST(t1_9 AS DOUBLE) / 1000000000)
         / (1 + (CAST(sinv12 AS DOUBLE) / 1000000000000
                 - CAST(1 AS DOUBLE) / (nn - k)) / (3 * (k - 1))) AS c2
  FROM scal
)
SELECT sn.g AS priority_group, sn.n AS n_orders,
       round(sn.css / (sn.n - 1) / 10000, 2) AS variance_dollars2,
       round(ch.c2, 6) AS chi2_stat,
       CAST(ch.k - 1 AS BIGINT) AS df,
       CASE CAST(ch.k - 1 AS BIGINT)
            WHEN 1 THEN CAST(3.841459 AS DOUBLE)
            WHEN 2 THEN CAST(5.991465 AS DOUBLE)
            WHEN 3 THEN CAST(7.814728 AS DOUBLE)
            WHEN 4 THEN CAST(9.487729 AS DOUBLE)
            WHEN 5 THEN CAST(11.070498 AS DOUBLE)
            WHEN 6 THEN CAST(12.591587 AS DOUBLE)
            WHEN 7 THEN CAST(14.067140 AS DOUBLE)
            WHEN 8 THEN CAST(15.507313 AS DOUBLE)
       END AS chi2_crit_95,
       CAST(CASE WHEN ch.c2 >
                      CASE CAST(ch.k - 1 AS BIGINT)
                           WHEN 1 THEN CAST(3.841459 AS DOUBLE)
                           WHEN 2 THEN CAST(5.991465 AS DOUBLE)
                           WHEN 3 THEN CAST(7.814728 AS DOUBLE)
                           WHEN 4 THEN CAST(9.487729 AS DOUBLE)
                           WHEN 5 THEN CAST(11.070498 AS DOUBLE)
                           WHEN 6 THEN CAST(12.591587 AS DOUBLE)
                           WHEN 7 THEN CAST(14.067140 AS DOUBLE)
                           WHEN 8 THEN CAST(15.507313 AS DOUBLE)
                      END
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_equal_variance
FROM snapped sn CROSS JOIN chi ch ORDER BY sn.g
"""


@query(
    "stats_bartlett_test",
    "§2.24 Bartlett's equal-variance test across the 5 priority groups",
    _BARTLETT_SQL,
)
def stats_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for homogeneity of variance across the five
    order-priority groups — the normal-theory likelihood-ratio
    sibling of stats_levene_test: chi2 = [(N-k) ln Sp^2 - sum (n_g-1)
    ln S_g^2] / C with the Bartlett small-sample correction C.  The
    classic pre-check before pooling variances (stats_anova_oneway
    assumes exactly this homogeneity).  Per-group moments are exact
    DECIMAL; per-group ln terms are single-expression IEEE doubles;
    the three cross-group sums snap at documented grains (unit /
    1e-9 / 1e-12) so both engines sum identical bigints; the close
    is a 1-row scalar and the critical value derives from df = k-1
    via the shared CASE lookup.

    Shape at any SF: one orders scan, one 5-group map-side-partial
    moment agg, 5-row finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_BARTLETT_SQL)


# Poisson dispersion test (round 14): are daily event arrivals
# actually Poisson?  Every rate monitor upstream (ts_anomaly_zscore
# bands, capacity planning) implicitly assumes variance ~ mean;
# bursty traffic (overdispersion) makes those bands systematically
# too tight.  The classic conditional test: D = (n-1) s^2 / xbar is
# chi2(n-1) under the Poisson null, reported per event type with the
# variance/mean index and the Fisher normal approximation
# z = sqrt(2D) - sqrt(2 df - 1) (IEEE-exact sqrts).  One shared SQL
# text.  Determinism: D reduces to the EXACT integer ratio
# (n*sum(c^2) - (sum c)^2) / sum(c) — counts are exact bigints, one
# double division per type row, no cross-row double sums anywhere.
# Overdispersion rejects one-sided at z > 1.645 (documented).
_POISSON_DISP_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY event_type
)
SELECT event_type, n AS n_days,
       round(CAST(s AS DOUBLE) / n, 4) AS mean_daily,
       round(CAST(n * ss - s * s AS DOUBLE) / (CAST(n AS DOUBLE) - 1)
             / n / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index,
       round(CAST(n * ss - s * s AS DOUBLE) / s, 4) AS d_stat,
       CAST(n - 1 AS BIGINT) AS df,
       round(sqrt(2 * CAST(n * ss - s * s AS DOUBLE) / s)
             - sqrt(2 * (CAST(n AS DOUBLE) - 1) - 1), 4) AS z_score,
       CAST(CASE WHEN sqrt(2 * CAST(n * ss - s * s AS DOUBLE) / s)
                      - sqrt(2 * (CAST(n AS DOUBLE) - 1) - 1) > 1.645
                 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed_95
FROM g ORDER BY event_type
"""


@query(
    "stats_poisson_dispersion",
    "§2.24 Poisson overdispersion test on daily event counts per type",
    _POISSON_DISP_SQL,
)
def stats_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion (index-of-dispersion) test per event type:
    under a Poisson arrival process the variance/mean index is 1 and
    D = (n-1)s^2/xbar ~ chi2(n-1); D far above flags BURSTY arrivals
    — the homogeneity assumption every daily-rate alarm implicitly
    makes, tested explicitly.  D is the exact integer ratio
    (n*sum c^2 - (sum c)^2)/sum(c) — no variance accumulates in
    floating point anywhere — and the Fisher z = sqrt(2D) -
    sqrt(2df-1) needs only IEEE-exact sqrts; one-sided 1.645
    overdispersion gate documented.

    Shape at any SF: one events scan partial-aggs to the (type, day)
    grid, a |types|-group moment agg on that grid, |types|-row
    finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_POISSON_DISP_SQL)


# Augmented Dickey-Fuller (round 14): ts_dickey_fuller's plain DF
# regression is only valid when the differenced series has no serial
# correlation — if it does, the t statistic's null distribution
# shifts and the test over-rejects.  ADF(1) adds the lagged
# difference as a second regressor, dy_t = a + b*y_{t-1} +
# c*dy_{t-1} + e, absorbing AR(1) structure in the residual; b's t
# still compares to the same -2.86 constant-case critical value (the
# augmentation does not change the asymptotic null — Dickey & Fuller
# 1979).  Template SQL (date-shift spelling per engine).
# Determinism: daily cents exact bigints, all NINE regression
# moments exact DECIMAL(19,0)x(19,0) sums over the triple
# calendar-joined (y_{t-1}, dy_{t-1}, dy_t) rows, and the Cramer
# 2-regressor solve + se + t close as fixed-order doubles on a
# 1-row scalar (the stats_ols_two_feature discipline).
_ADF_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tri AS (
  SELECT b.cents AS x1,
         b.cents - c.cents AS x2,
         a.cents - b.cents AS yv
  FROM daily a
  JOIN daily b ON a.d = {p1}
  JOIN daily c ON a.d = {p2}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST(x2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2,
         CAST(sum(CAST(yv AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS s11,
         CAST(sum(CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS s22,
         CAST(sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS s12,
         CAST(sum(CAST(x1 AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS s1y,
         CAST(sum(CAST(x2 AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS s2y,
         CAST(sum(CAST(yv AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS syy
  FROM tri
),
cm AS (
  SELECT n,
         CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n
           AS c11,
         CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n
           AS c22,
         CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / n
           AS c12,
         CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / n
           AS c1y,
         CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / n
           AS c2y,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n
           AS cyy
  FROM m WHERE n > 3
),
fit AS (
  SELECT n, c22,
         c11 * c22 - c12 * c12 AS det,
         (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
         (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2,
         cyy - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * c1y
             - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * c2y
           AS rss
  FROM cm
)
SELECT n AS n_obs,
       round(b1, 6) AS b_coef,
       round(b1 + 1, 6) AS rho,
       round(b2, 6) AS lag_coef,
       round(b1 / sqrt((rss / (n - 3)) * c22 / det), 4) AS adf_stat,
       CAST(-2.86 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN b1 / sqrt((rss / (n - 3)) * c22 / det) < -2.86
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_unit_root,
       CASE WHEN b1 + 1 > 0 AND b1 + 1 < 1
            THEN round(-0.6931471805599453 / ln(b1 + 1), 2)
       END AS half_life_days
FROM fit
"""


@query(
    "ts_adf_augmented",
    "§2.24 augmented Dickey-Fuller (1 lag) unit-root test on daily revenue",
    _ADF_SQL.format(
        p1="b.d + INTERVAL 1 DAY", p2="c.d + INTERVAL 2 DAY"
    ),
)
def ts_adf_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADF(1) — ts_dickey_fuller with the lagged difference added as
    a second regressor: dy_t = a + b*y_{t-1} + c*dy_{t-1}.  The
    plain DF t statistic is only valid when dy is serially
    uncorrelated; the augmentation term absorbs AR(1) residual
    structure so the same -2.86 constant-case critical value applies
    on dependent data (the vetted r14 extension of the r13 chassis).
    Day triples come from an exact calendar equi-join (a gap breaks
    the triple rather than fabricating zeros — the ts_theil_u rule);
    nine moments are exact DECIMAL sums; the Cramer solve, se(b) =
    sqrt(s^2 * C22/det), t, and half-life close as fixed-order
    doubles on a 1-row scalar.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; the two self-joins and the moment
    agg run on O(days) rows; 1-row finish.  100 TB costs the one
    fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _ADF_SQL.format(p1="date_add(b.d, 1)", p2="date_add(c.d, 2)")
    )


# Spectral entropy (round 14): ONE number for "how concentrated is
# the daily-revenue spectrum" — ts_periodogram names the winning
# cycle on a calendar grid; spectral entropy (tsfresh/forecastability
# standard) summarizes the whole shape: H of the normalized power
# distribution over the first 64 harmonics, near ln(64) for white
# noise (unforecastable), near 0 for a pure tone.  One shared SQL
# text.  Determinism: the ts_periodogram snapped-trig discipline
# (1e-8-grain cos/sin integers before exact DECIMAL product sums)
# makes each bin's a8/b8 identical doubles in both engines; powers
# normalize by their MAX (an order-free aggregate) and integerize at
# 1e12 so the share distribution is exact bigints; the entropy uses
# the factored H = ln S - (sum u ln u)/S with 8-decimal
# decimal-summed terms (token-entropy discipline); peak bin is the
# min-k argmax on exact integers.
_SE_STAGE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) - 1 AS t, cents AS y FROM daily
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
grid AS (SELECT {kgrid} AS k FROM n1),
terms AS (
  SELECT g.k, max(n1.n) AS n,
         CAST(sum(CAST(i.y AS DECIMAL(19,0))
                  * CAST(CAST(round(cos(2 * pi() * g.k * i.t / n1.n)
                                    * 100000000) AS BIGINT)
                         AS DECIMAL(19,0))) AS DOUBLE) AS a8,
         CAST(sum(CAST(i.y AS DECIMAL(19,0))
                  * CAST(CAST(round(sin(2 * pi() * g.k * i.t / n1.n)
                                    * 100000000) AS BIGINT)
                         AS DECIMAL(19,0))) AS DOUBLE) AS b8
  FROM grid g CROSS JOIN n1 JOIN idx i ON true
  GROUP BY g.k
),
pw AS (SELECT k, n, a8 * a8 + b8 * b8 AS p FROM terms),
mx AS (SELECT max(p) AS m FROM pw),
u AS (
  SELECT k, n, CAST(round(p / mx.m * 1000000000000) AS BIGINT) AS uv
  FROM pw CROSS JOIN mx
)
SELECT k, n, uv FROM u
"""

# close over the materialized 64-row bin table {u} (the Spark side
# checkpoints it once — a CTE referenced three times would re-run
# the whole fact scan per reference under Spark's CTE inlining)
_SE_CLOSE_SQL = """
s AS (
  SELECT CAST(sum(uv) AS BIGINT) AS su,
         CAST(sum(CAST(round(uv * ln(uv), 8) AS DECIMAL(38,8)))
              AS DOUBLE) AS sul,
         CAST(count(*) AS BIGINT) AS nbins
  FROM {u} WHERE uv > 0
),
nn AS (SELECT max(n) AS n FROM {u}),
peak AS (
  SELECT min(b.k) AS k_peak FROM {u} b CROSS JOIN
    (SELECT max(uv) AS um FROM {u}) m2
  WHERE b.uv = m2.um
)
SELECT nn.n AS n_obs, s.nbins AS n_bins,
       round(ln(s.su) - s.sul / s.su, 6) AS spectral_entropy_nats,
       round((ln(s.su) - s.sul / s.su) / ln(CAST(64 AS DOUBLE)), 6)
         AS spectral_entropy_norm,
       p.k_peak AS peak_harmonic,
       round(CAST(nn.n AS DOUBLE) / p.k_peak, 2) AS peak_period_days,
       (SELECT round(CAST(uv AS DOUBLE) / s.su, 6)
        FROM {u} b2 WHERE b2.k = p.k_peak) AS peak_power_share
FROM nn CROSS JOIN s CROSS JOIN peak p
"""


@query(
    "ts_spectral_entropy",
    "§2.24 spectral entropy of daily revenue over the first 64 harmonics",
    "WITH u0 AS ("
    + _SE_STAGE_SQL.format(kgrid="unnest(generate_series(1, 64))")
    + "), " + _SE_CLOSE_SQL.format(u="u0"),
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy — the forecastability score: Shannon entropy
    of the normalized power distribution over harmonics k = 1..64 of
    the daily-revenue series, reported in nats and normalized by
    ln 64 (1 = flat spectrum / white noise, 0 = single pure cycle),
    with the peak harmonic and its power share beside it.  The
    single-number summary of the shape ts_periodogram tabulates
    bin-by-bin on its calendar grid — tsfresh's forecastability
    feature, computed engine-portably: snapped-trig DECIMAL DFT sums
    (periodogram discipline), powers normalized by the order-free
    MAX and integerized at 1e12, entropy via the factored form with
    8-decimal decimal-summed u*ln(u) terms, argmax as min-k on exact
    integers.

    Shape at any SF: one orders scan to the daily table; the 64-bin
    fan-out is 64 x O(days) rows partial-agg'd map-side; 1-row
    finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    u = lineage_checkpoint_lazy(
        spark.sql(_SE_STAGE_SQL.format(kgrid="explode(sequence(1, 64))"))
    )
    u.createOrReplaceTempView("r14_se_bins")
    return spark.sql("WITH " + _SE_CLOSE_SQL.format(u="r14_se_bins"))


# Local clustering coefficient (round 14): completes the co-purchase
# graph toolkit — graph_triangle_copurchase counts triangles
# GLOBALLY, graph_rich_club profiles dense-core EDGES; this op asks
# the per-node question "are MY neighbours each other's neighbours?"
# c_i = 2*T_i / (d_i*(d_i-1)), reported as a degree-bucket profile
# plus the two classic global summaries, average clustering C-bar
# (Watts-Strogatz) and transitivity 3*T/wedges — which DIVERGE when
# clustering concentrates in low-degree nodes (exactly what the
# bucket profile shows).  Oracle: plain u<v<w triple join with
# 3-corner unnest.  Spark: the degree-oriented wedge join (each
# triangle closes exactly once from its orientation-minimal vertex,
# out-degrees O(sqrt|E|) — the graph_triangle_copurchase hub-capped
# shape), corners exploded and counted.  Determinism: T_i/d_i exact
# integers; each c_i snaps to a 1e-9 bigint before the cross-node
# sums (CMH discipline); bucket bounds are explicit integer CASEs;
# transitivity closes as one double division of exact integers.
_LCC_FINISH_SQL = """
node AS (
  SELECT deg.node, deg.d, coalesce(tri.t, 0) AS t,
         CAST(round(CAST(2 * coalesce(tri.t, 0) AS DOUBLE)
                    / (CAST(deg.d AS DOUBLE) * (deg.d - 1))
                    * 1000000000) AS BIGINT) AS c9
  FROM {deg} deg LEFT JOIN {tri} tri ON deg.node = tri.corner
  WHERE deg.d >= 2
),
gstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) AS BIGINT) AS deg_sum,
         CAST(sum(c9) AS BIGINT) AS sc9,
         CAST(sum(t) AS BIGINT) AS t3,
         CAST(sum(d * (d - 1)) AS BIGINT) AS wedges2
  FROM node
)
SELECT CASE WHEN n.d * 10 * g.n_nodes < 8 * g.deg_sum THEN 'lt_0.8x_mean'
            WHEN n.d * 10 * g.n_nodes < 10 * g.deg_sum
              THEN '0.8-1.0x_mean'
            WHEN n.d * 10 * g.n_nodes < 12 * g.deg_sum
              THEN '1.0-1.2x_mean'
            ELSE 'ge_1.2x_mean' END AS degree_bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       round(CAST(sum(n.c9) AS DOUBLE) / count(*) / 1000000000, 6)
         AS avg_local_clustering,
       round(CAST(g.sc9 AS DOUBLE) / g.n_nodes / 1000000000, 6)
         AS global_avg_clustering,
       round(CAST(g.t3 AS DOUBLE) / g.wedges2 * 2, 6) AS transitivity,
       CAST(g.t3 / 3 AS BIGINT) AS n_triangles
FROM node n CROSS JOIN gstat g
GROUP BY 1, g.sc9, g.n_nodes, g.t3, g.wedges2
ORDER BY min(n.d)
"""

_LCC_ORACLE_SQL = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
degt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) x
  GROUP BY node
),
trit AS (
  SELECT corner, CAST(count(*) AS BIGINT) AS t
  FROM (
    SELECT unnest([e1.u, e1.v, e2.v]) AS corner
    FROM e e1
    JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
  ) c GROUP BY corner
),
""" + _LCC_FINISH_SQL.format(deg="degt", tri="trit")


@query(
    "graph_local_clustering",
    "§2.24 local clustering coefficient profile of the co-purchase graph",
    _LCC_ORACLE_SQL,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering of the part co-purchase graph, summarized
    two ways that deliberately disagree: average local clustering
    C-bar (every node votes equally — dominated by the many
    low-degree nodes) vs transitivity 3T/wedges (every WEDGE votes —
    dominated by hubs), with the per-degree-bucket profile that
    explains any gap.  Triangle counts per node come from the
    degree-oriented wedge join (orient each edge toward the
    (degree,id)-larger endpoint; each triangle closes exactly once
    from its orientation-minimal vertex and every node's out-degree
    is O(sqrt|E|) — the graph_triangle_copurchase shape, so hub
    parts cannot go quadratic at 100 TB), corners exploded and
    hash-counted.  The oracle triple-join is the same count by
    u<v<w enumeration.  c_i snaps at 1e-9 before the order-free
    cross-node sums; buckets are MEAN-RELATIVE (0.8x/1.0x/1.2x mean
    degree, the graph_rich_club rationale — the fixture's co-purchase
    degrees densify with SF, so absolute bucket bounds would
    degenerate) decided by pure integer cross-multiplication
    d*10*N < j*deg_sum — no division, no float threshold.

    Shape: shared checkpointed edge staging (one lineitem groupBy),
    degree agg, one equi-join wedge enumeration bounded by oriented
    out-degree, corner explode + hash agg, <=5-row finish."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(lineage_checkpoint_lazy)
    )
    e2 = (
        edges.join(deg.withColumnRenamed("node", "u")
                   .withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v")
              .withColumnRenamed("d", "dv"), "v")
    )
    oriented = e2.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
        )
        .otherwise(F.struct(F.col("v").alias("src"), F.col("u").alias("dst")))
        .alias("o")
    ).select("o.src", "o.dst")
    # AQE sizes the post-join exchange on the SMALL oriented-edge
    # bytes and coalesces toward one partition — but the self-join
    # OUTPUT is sum-of-squared-out-degrees rows, so that serializes
    # the wedge stage; pin a src hash layout wide enough to keep the
    # quadratic fan-out parallel (also co-locates both join sides)
    # core-count-derived, not a constant (optimization r14): 32 was
    # tuned to local[32]; defaultParallelism keeps the wedge fan-out
    # parallel at any cluster width and identical locally
    oriented = oriented.repartition(
        spark.sparkContext.defaultParallelism, "src"
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    closed = wedges.join(
        edges,
        (edges.u == F.least("b", "c")) & (edges.v == F.greatest("b", "c")),
    ).select("a", "b", "c")
    tri = (
        closed.select(
            F.explode(F.array("a", "b", "c")).alias("corner")
        )
        .groupBy("corner")
        .agg(F.count(F.lit(1)).alias("t"))
        # Optimization r15 (guide §7.2 duplicated subtrees): the finish
        # SQL reads the tri view from TWO subtrees (C-bar/transitivity
        # and the degree buckets), and the view expansions do not
        # canonicalize to a reused exchange — the 41M-row wedge join
        # pipeline executed twice per invocation (verified in the
        # before plan: the full SortMergeJoin wedge subtree appears 2×
        # under the final cross join). Checkpoint the ≤|V|-row
        # triangle-count table once instead. Measured exec 7.0 → 3.5 s
        # at sf0.1.
        .transform(lineage_checkpoint)
    )
    deg.createOrReplaceTempView("r14_lcc_deg")
    tri.createOrReplaceTempView("r14_lcc_tri")
    return spark.sql(
        "WITH " + _LCC_FINISH_SQL.format(deg="r14_lcc_deg", tri="r14_lcc_tri")
    )


# Theil inequality index (round 14): agg_gini_concentration ranks
# revenue concentration but a Gini CANNOT be decomposed — "how much
# of the inequality is BETWEEN nations vs WITHIN them?" has no Gini
# answer.  Theil's T (the entropy-based inequality index) decomposes
# EXACTLY: T = T_between + sum_g share_g * T_g, which is the whole
# reason it exists, and the property test pins that identity to
# 1e-12.  One shared SQL text.  Determinism: per-customer revenue is
# an exact cent bigint; the x*ln(x) terms round to 8 decimals and
# decimal-sum (token-entropy discipline) so per-nation and global
# sums are order-free; the 25 per-nation between/within terms snap
# at 1e-12 before their cross-nation sums (CMH discipline); every
# reported number closes from exact aggregates in fixed order.
_THEIL_SQL = """
WITH cust AS (
  SELECT o.o_custkey, c.c_nationkey AS nk,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
g AS (
  SELECT nk, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(round(x * ln(x), 8) AS DECIMAL(28,8)))
              AS DECIMAL(38,8)) AS xlx
  FROM cust GROUP BY nk
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(s) AS DECIMAL(38,0)) AS ss,
         CAST(sum(xlx) AS DECIMAL(38,8)) AS sxlx
  FROM g
),
pn AS (
  SELECT g.nk, g.n, g.s, t.nn, t.ss,
         CAST(g.xlx AS DOUBLE) / CAST(g.s AS DOUBLE)
           - ln(CAST(g.s AS DOUBLE) / g.n) AS t_within,
         CAST(g.s AS DOUBLE) / CAST(t.ss AS DOUBLE) AS share
  FROM g CROSS JOIN tot t
),
snapped AS (
  SELECT nk, n, s, t_within, share,
         CAST(round(share * ln((CAST(s AS DOUBLE) / n)
                               / (CAST(ss AS DOUBLE) / nn))
                    * 1000000000000) AS BIGINT) AS btw12,
         CAST(round(share * t_within * 1000000000000) AS BIGINT) AS wth12
  FROM pn
),
scal AS (
  SELECT CAST(sum(btw12) AS BIGINT) AS b12,
         CAST(sum(wth12) AS BIGINT) AS w12
  FROM snapped
)
SELECT sn.nk AS nation_key, sn.n AS n_customers,
       round(sn.share, 6) AS revenue_share,
       round(sn.t_within, 6) AS theil_within,
       round(CAST(t.sxlx AS DOUBLE) / CAST(t.ss AS DOUBLE)
             - ln(CAST(t.ss AS DOUBLE) / t.nn), 6) AS theil_total,
       round(CAST(sc.b12 AS DOUBLE) / 1000000000000, 6) AS theil_between,
       round(CAST(sc.w12 AS DOUBLE) / 1000000000000, 6)
         AS theil_within_total
FROM snapped sn CROSS JOIN tot t CROSS JOIN scal sc
ORDER BY sn.nk
"""


@query(
    "stats_theil_inequality",
    "§2.24 Theil T inequality of customer revenue, nation-decomposed",
    _THEIL_SQL,
)
def stats_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's T index of customer-revenue inequality with the exact
    between/within-nation decomposition — the question
    agg_gini_concentration cannot answer, because only entropy-based
    inequality indices decompose additively (T = T_between + sum
    share_g * T_g, an identity the property test pins to 1e-12).
    T_total factors as (sum x ln x)/(sum x) - ln(mean), so only
    per-customer terms are computed; the x*ln(x) doubles round to 8
    decimals and decimal-sum (the llm_token_entropy q9 discipline),
    making every per-nation aggregate order-free; the 25 per-nation
    between/within contributions snap at 1e-12 before the
    cross-nation sums (the CMH discipline).

    Shape at any SF: one orders scan shuffles once on o_custkey
    (customer-grain agg joined to the broadcastable customer dim);
    everything after runs on the 25-nation grid; 25-row finish."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_THEIL_SQL)


# CUSUM-of-squares (round 14): ts_cusum_drift and ts_page_hinkley
# watch the MEAN; this is the Brown-Durbin-Evans-style monitor for
# the VARIANCE — s_r = sum_{t<=r} e_t^2 / sum_total e_t^2 should
# climb the diagonal r/n when volatility is stable, and the maximum
# bridge deviation max|s_r - r/n| localizes a volatility break at
# its argmax day.  One shared SQL text.  Determinism: the centered
# series uses the KPSS integerization (e = n*y - sum(y), exact
# bigint, snapped once at 2^20 — the grain cancels in the ratio);
# squared terms and their cumsum are exact DECIMAL; the bridge
# deviation |n*C_r - r*C_n| is evaluated in doubles derived from the
# SAME exact decimals in both engines, so the max and its min-day
# argmax cannot diverge; sqrt(n/2)*stat compares to the Kolmogorov
# 5% constant 1.358 (asymptotic Brownian-bridge convention,
# documented).
_CUSUMSQ_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, d, cents AS y FROM daily
),
n1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1
  FROM idx
),
f AS (
  SELECT i.t, i.d, n1.n,
         CAST(round(CAST(n1.n * i.y - n1.s1 AS DOUBLE) / 1048576)
              AS BIGINT) AS es
  FROM idx i CROSS JOIN n1
),
cum AS (
  SELECT t, d, n,
         CAST(sum(CAST(es AS DECIMAL(19,0)) * CAST(es AS DECIMAL(19,0)))
              OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS DECIMAL(38,0)) AS cr
  FROM f
),
tot AS (
  SELECT CAST(sum(CAST(es AS DECIMAL(19,0)) * CAST(es AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS cn
  FROM f
),
dev AS (
  SELECT c.t, c.d, c.n,
         abs(CAST(c.n AS DOUBLE) * CAST(c.cr AS DOUBLE)
             - c.t * CAST(t2.cn AS DOUBLE)) AS dr,
         CAST(c.n AS DOUBLE) * CAST(t2.cn AS DOUBLE) AS scale_den
  FROM cum c CROSS JOIN tot t2
),
mx AS (SELECT max(dr) AS m FROM dev),
arg AS (
  SELECT min(dev.d) AS break_day FROM dev CROSS JOIN mx
  WHERE dev.dr = mx.m
)
SELECT d2.n AS n_obs,
       round(mx.m / d2.scale_den, 6) AS cusum_sq_stat,
       round(sqrt(d2.n / CAST(2 AS DOUBLE)) * mx.m / d2.scale_den, 4)
         AS z_bridge,
       CAST(1.358 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN sqrt(d2.n / CAST(2 AS DOUBLE)) * mx.m / d2.scale_den
                      > 1.358
                 THEN 1 ELSE 0 END AS BIGINT) AS variance_break_95,
       CAST(CAST(a.break_day AS DATE) AS STRING) AS break_day
FROM (SELECT n, scale_den FROM dev LIMIT 1) d2
CROSS JOIN mx CROSS JOIN arg a
"""


@query(
    "ts_cusum_squares",
    "§2.24 CUSUM-of-squares variance-stability monitor on daily revenue",
    _CUSUMSQ_SQL,
)
def ts_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares: is daily-revenue VOLATILITY stable over the
    sample?  The cumulative share of squared deviations s_r should
    track the diagonal r/n; its maximum bridge deviation (reported
    with sqrt(n/2) scaling against the Kolmogorov 1.358 constant,
    the asymptotic convention documented in the SQL header) flags a
    variance regime change and its argmax day is the break
    candidate — the variance-side completion of the mean-side
    ts_cusum_drift / ts_page_hinkley pair.  Integerization: the KPSS
    n*y - sum(y) centering snapped once at 2^20 (grain cancels in
    the ratio); squares and cumsums exact DECIMAL; the max/argmax
    compare doubles derived from identical decimals, so neither can
    differ between engines; min-day tie-break documented.

    Shape at any SF: one orders scan to the calendar-bounded daily
    table; cumsum window + max on O(days) rows; 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_CUSUMSQ_SQL)


# ---------------------------------------------------------------------------
# Round-14 wave 6: OLS residual diagnostics (Durbin-Watson serial
# correlation, Breusch-Pagan heteroscedasticity) and Hjorth signal
# parameters.
#
# DW/BP share one detrending chassis: the OLS-on-trend residual
# e_t = y_t - a - b*t is rescaled by the integer determinant
# D = n*Sxx - Sx^2 so that D*e_t = D*y_t - (Sxx*Sy - Sx*Sxy)
# - (n*Sxy - Sx*Sy)*t is a combination of EXACT decimal moments
# (every product evaluated as DOUBLE from exact DECIMAL factors —
# identical IEEE ops in both engines), then snapped once to a BIGINT
# at 2^40 (the KPSS snap discipline; both DW and BP are
# scale-invariant ratios, so the D scaling and the snap grain cancel
# and only quantization noise ~2^-30 relative remains, identical in
# both engines by construction).  Numeric headroom (documented, the
# ts_spectral_coherence ADVICE rule): the snapped residual stays
# inside DECIMAL(19,0) products through daily residuals ~1e12 cents
# (about 400x the sf0.1 fixture); beyond that, coarsen the grain.
_DETREND_CTES = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, cents AS y FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS sx,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxy
  FROM idx
),
res AS (
  SELECT i.t, m.n,
         CAST(round((
             (m.n * CAST(m.sxx AS DOUBLE)
              - CAST(m.sx AS DOUBLE) * m.sx) * i.y
             - (CAST(m.sxx AS DOUBLE) * CAST(m.sy AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sxy AS DOUBLE))
             - (m.n * CAST(m.sxy AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE)) * i.t
           ) / 1099511627776) AS BIGINT) AS es
  FROM idx i CROSS JOIN m
)
"""

_DW_SQL = (
    "WITH " + _DETREND_CTES + """,
lagd AS (
  SELECT t, n, es, lag(es) OVER (ORDER BY t) AS es_prev FROM res
),
sums AS (
  SELECT max(n) AS n,
         CAST(sum(CAST(es AS DECIMAL(19,0)) * CAST(es AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS den,
         CAST(sum(CASE WHEN es_prev IS NOT NULL THEN
                    CAST(es - es_prev AS DECIMAL(19,0))
                    * CAST(es - es_prev AS DECIMAL(19,0)) END)
              AS DECIMAL(38,0)) AS num
  FROM lagd
)
SELECT n AS n_obs,
       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS dw_stat,
       round(1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2, 6) AS rho1,
       round((1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2)
             * sqrt(CAST(n AS DOUBLE)), 4) AS z_lag1,
       CAST(1.96 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN abs((1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2)
                          * sqrt(CAST(n AS DOUBLE))) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS autocorr_95
FROM sums
""")


@query(
    "stats_durbin_watson",
    "§2.24 Durbin-Watson serial-correlation test on trend-OLS residuals",
    _DW_SQL,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson: after removing the linear trend from daily
    revenue, are the residuals serially correlated?  DW = sum of
    squared first differences of the OLS residuals over their sum of
    squares; DW near 2 means white noise, toward 0 positive
    autocorrelation, toward 4 negative.  Complements ts_ljung_box
    (which tests the RAW series at many lags): DW is the classic
    REGRESSION-residual diagnostic, the question "is my trend model
    leaving structure behind" rather than "is the series iid".
    Asymptotic reading (documented convention): rho1 = 1 - DW/2 and
    z = rho1 * sqrt(n) against the two-sided 1.96 bound.  Residuals
    use the shared exact-moment detrend chassis (header comment);
    the D-scale and 2^40 snap cancel in the ratio, so both engines
    evaluate identical integers into identical doubles.

    Shape at any SF: one orders scan partial-aggs to the
    calendar-bounded daily table; one O(days) window pass; 1-row
    finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_DW_SQL)


_BP_SQL = (
    "WITH " + _DETREND_CTES + """,
aux AS (
  SELECT t, n,
         CAST(round(CAST(CAST(es AS DECIMAL(19,0))
                         * CAST(es AS DECIMAL(19,0)) AS DOUBLE)
                    / 1048576) AS BIGINT) AS g
  FROM res
),
am AS (
  SELECT max(n) AS n,
         CAST(sum(t) AS BIGINT) AS sx,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(g AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sg,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS stg,
         CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sgg
  FROM aux
),
fit AS (
  SELECT n,
         (n * CAST(stg AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sg AS DOUBLE))
           AS cxy,
         (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS cxx,
         (n * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
           AS cgg
  FROM am
)
SELECT n AS n_obs,
       round(cxy * cxy / (cxx * cgg), 6) AS r2_aux,
       round(n * cxy * cxy / (cxx * cgg), 4) AS bp_lm,
       CAST(3.841 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN n * cxy * cxy / (cxx * cgg) > 3.841
                 THEN 1 ELSE 0 END AS BIGINT) AS heteroscedastic_95
FROM fit
""")


@query(
    "stats_breusch_pagan",
    "§2.24 Breusch-Pagan heteroscedasticity test on trend-OLS residuals",
    _BP_SQL,
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker studentized form): does the VARIANCE of
    the trend-OLS residuals drift with the trend?  The auxiliary
    regression of squared residuals on t gives LM = n * R^2 ~
    chi2(1); rejecting means confidence bands from a constant-sigma
    model are wrong — the variance-side complement to
    stats_durbin_watson's mean-side question on the same residual
    series.  The squared residual g = es^2 is snapped at 2^20 into a
    second BIGINT before the exact-decimal auxiliary moments (R^2 is
    affine-invariant in g, so the grain cancels; headroom through
    daily residuals ~1e12 cents documented in the chassis header).

    Shape at any SF: identical to stats_durbin_watson — one fact
    scan, O(days) arithmetic, 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_BP_SQL)


# Hjorth parameters (activity / mobility / complexity): the classic
# three-number signal summary — variance, normalized dominant
# frequency (RMS of the derivative over RMS of the signal), and
# waveform complexity (mobility of the derivative over mobility of
# the signal; 1 for a pure sinusoid, larger for noisier shapes).
# Derivatives are calendar-consecutive first differences (the
# ts_dickey_fuller sparse rule: a missing day breaks the pair/triple
# rather than fabricating a zero).  All moments are exact
# DECIMAL(19,0)-factor sums; population variances and the two ratios
# close as fixed-order doubles.
_HJORTH_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
d1 AS (
  SELECT a.d, a.cents - b.cents AS v
  FROM daily a JOIN daily b ON a.d = {prev_daily}
),
d2 AS (
  SELECT a.d, a.v - b.v AS w
  FROM d1 a JOIN d1 b ON a.d = {prev_d1}
),
m0 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss
  FROM daily
),
m1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss
  FROM d1
),
m2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(w AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss
  FROM d2
),
v AS (
  SELECT m0.n AS n0, m1.n AS n1, m2.n AS n2,
         (m0.n * CAST(m0.ss AS DOUBLE) - CAST(m0.s AS DOUBLE) * CAST(m0.s AS DOUBLE))
           / (CAST(m0.n AS DOUBLE) * m0.n) AS var0,
         (m1.n * CAST(m1.ss AS DOUBLE) - CAST(m1.s AS DOUBLE) * CAST(m1.s AS DOUBLE))
           / (CAST(m1.n AS DOUBLE) * m1.n) AS var1,
         (m2.n * CAST(m2.ss AS DOUBLE) - CAST(m2.s AS DOUBLE) * CAST(m2.s AS DOUBLE))
           / (CAST(m2.n AS DOUBLE) * m2.n) AS var2
  FROM m0 CROSS JOIN m1 CROSS JOIN m2
)
SELECT n0 AS n_obs, n1 AS n_diff1, n2 AS n_diff2,
       round(sqrt(var0) / 100, 4) AS activity_rms_dollars,
       round(sqrt(var1 / var0), 6) AS mobility,
       round(sqrt(var2 / var1) / sqrt(var1 / var0), 6) AS complexity
FROM v
"""


@query(
    "ts_hjorth_parameters",
    "§2.24 Hjorth activity/mobility/complexity signal summary of daily revenue",
    _HJORTH_SQL.format(
        prev_daily="b.d + INTERVAL 1 DAY", prev_d1="b.d + INTERVAL 1 DAY"
    ),
)
def ts_hjorth_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hjorth parameters: the three-number time-domain summary used
    before any spectral machinery — activity (signal variance,
    reported as RMS amplitude in dollars), mobility (RMS of the
    day-over-day derivative over RMS of the signal — a normalized
    dominant frequency; ts_spectral_entropy answers the full-spectrum
    version of this question, Hjorth answers it with two moments and
    no DFT), and complexity (mobility of the derivative over
    mobility of the signal; 1.0 for a pure sine, growing with
    waveform irregularity).  Population variances from exact decimal
    moments; the three closing ratios are fixed-order doubles,
    identical in both engines.

    Shape at any SF: one orders scan to the calendar-bounded daily
    table; two calendar self-joins on O(days) rows; 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _HJORTH_SQL.format(
            prev_daily="date_add(b.d, 1)", prev_d1="date_add(b.d, 1)"
        )
    )


# ---------------------------------------------------------------------------
# Round-14 wave 7: fractal/scaling diagnostics (Higuchi fractal
# dimension, detrended fluctuation analysis) and the Quade blocked
# rank test.

# Higuchi fractal dimension: curve length L(k) at stride k, averaged
# over the k phase offsets, should scale as k^-FD.  Every L_m(k)
# numerator is an exact |diff| bigint sum; the rational normalization
# s*(n-1)/(cnt*k^2) closes in engine-identical doubles and is
# snapped to a unit-grain BIGINT (values >=1e6 at sf0.001, so the
# grain is <=1e-6 relative), making the phase-average an exact
# integer sum; the log-log OLS runs on 1e9-integerized points (the
# llm_heaps_law_fit discipline).  Stride grid {1,2,3,4,6,8,11,16}
# documented (geometric-ish, kmax=16).
_HIGUCHI_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, cents AS y FROM daily
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
grid AS (SELECT CAST(k0 AS BIGINT) AS k FROM ({kgrid}) g),
diffs AS (
  SELECT g.k, ((b.t - 1) % g.k) + 1 AS m, abs(a.y - b.y) AS ad
  FROM grid g JOIN idx a ON true JOIN idx b ON a.t = b.t + g.k
),
lm AS (
  SELECT d2.k, d2.m, n1.n,
         CAST(round(CAST(sum(CAST(ad AS DECIMAL(19,0))) AS DOUBLE)
                    * (n1.n - 1)
                    / (count(*) * CAST(d2.k AS DOUBLE) * d2.k))
              AS BIGINT) AS lmi
  FROM diffs d2 CROSS JOIN n1
  GROUP BY d2.k, d2.m, n1.n
),
lk AS (
  SELECT k, max(n) AS n,
         CAST(round(ln(CAST(sum(lmi) AS DOUBLE) / count(*)) * 1000000000)
              AS BIGINT) AS ly,
         CAST(round(ln(CAST(k AS DOUBLE)) * 1000000000) AS BIGINT) AS lx
  FROM lm GROUP BY k
),
ols AS (
  SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS p,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(CAST(lx AS DECIMAL(19,0)) * CAST(ly AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(lx AS DECIMAL(19,0)) * CAST(lx AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx
  FROM lk
)
SELECT n AS n_obs, p AS n_strides,
       round(-(p * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (p * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 4)
         AS fd_higuchi
FROM ols
"""


@query(
    "ts_higuchi_fd",
    "§2.24 Higuchi fractal dimension of daily revenue",
    _HIGUCHI_SQL.format(
        kgrid="SELECT unnest([1,2,3,4,6,8,11,16]) AS k0"
    ),
)
def ts_higuchi_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higuchi fractal dimension: how rough is the daily-revenue
    curve?  Curve lengths L(k) at strides k (phase-averaged over the
    k offsets, each normalized by (n-1)/(cnt*k^2)) scale as k^-FD;
    FD near 1 = smooth trend, near 2 = space-filling noise, and ~1.5
    = random-walk — the time-domain estimate of the same roughness
    ts_hurst_exponent reads from rescaled ranges (FD = 2 - H for
    self-affine series, a cross-check the property test exercises).
    Determinism: exact |diff| bigint sums, unit-snapped L_m, exact
    integer phase-average, 1e9-integerized log-log OLS.

    Shape at any SF: one orders scan to the daily table; the stride
    joins run on O(days * 8) rows; 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _HIGUCHI_SQL.format(
            kgrid="SELECT explode(array(1,2,3,4,6,8,11,16)) AS k0"
        )
    )


# Detrended fluctuation analysis: integrate the centered series into
# the profile P_t = sum_{s<=t} (n*y_s - Sy) (exact bigint, the KPSS
# n-scaling so no division happens), split into full boxes of size
# s in {8,16,32,64}, detrend each box by OLS (closed-form SSR from
# exact DECIMAL moments), and read the scaling exponent alpha from
# the log-log OLS of F(s) = sqrt(mean SSR / s).  alpha ~ 0.5 = white
# noise, ~1 = 1/f, ~1.5 = Brownian; alpha = H for stationary
# fractional noise (the Hurst cross-check again, from a third
# estimator family).  Per-box SSR doubles are snapped at 2^40 before
# the cross-box sum (order-free); the n and 2^40 scale factors are
# constant across s, so they shift ln F by a constant and cancel in
# the slope.  Numeric headroom: P stays inside BIGINT through daily
# residuals ~1e12 cents (documented, same bound as the DW chassis).
_DFA_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, cents AS y FROM daily
),
n1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
  FROM idx
),
prof AS (
  SELECT i.t, n1.n,
         CAST(sum(n1.n * i.y - n1.sy)
              OVER (ORDER BY i.t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
  FROM idx i CROSS JOIN n1
),
grid AS (SELECT CAST(s0 AS BIGINT) AS s FROM ({sgrid}) g),
boxed AS (
  SELECT g.s,
         CAST((pr.t - 1 - ((pr.t - 1) % g.s)) / g.s AS BIGINT) AS b,
         pr.t, pr.p, pr.n
  FROM grid g JOIN prof pr ON pr.t <= pr.n - (pr.n % g.s)
),
bm AS (
  SELECT s, b, count(*) AS cnt,
         CAST(sum(t) AS BIGINT) AS sx,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(p AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sp,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS stp,
         CAST(sum(CAST(p AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS spp
  FROM boxed GROUP BY s, b
),
ssr AS (
  SELECT s, b,
         CAST(round((
             (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / cnt)
             - (CAST(stp AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sp AS DOUBLE) / cnt)
               * (CAST(stp AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sp AS DOUBLE) / cnt)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / cnt)
           ) / 1099511627776) AS BIGINT) AS ssri
  FROM bm
),
fs AS (
  SELECT s, CAST(count(*) AS BIGINT) AS nb,
         CAST(round(ln(CAST(sum(ssri) AS DOUBLE)
                       / (count(*) * CAST(s AS DOUBLE))) * 500000000)
              AS BIGINT) AS ly,
         CAST(round(ln(CAST(s AS DOUBLE)) * 1000000000) AS BIGINT) AS lx
  FROM ssr GROUP BY s
),
ols AS (
  SELECT CAST(count(*) AS BIGINT) AS p, CAST(sum(nb) AS BIGINT) AS nboxes,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(CAST(lx AS DECIMAL(19,0)) * CAST(ly AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(lx AS DECIMAL(19,0)) * CAST(lx AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx
  FROM fs
)
SELECT (SELECT max(n) FROM prof) AS n_obs, nboxes AS n_boxes,
       round((p * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (p * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 4)
         AS alpha_dfa
FROM ols
"""


@query(
    "ts_dfa",
    "§2.24 detrended fluctuation analysis scaling exponent of daily revenue",
    _DFA_SQL.format(sgrid="SELECT unnest([8,16,32,64]) AS s0"),
)
def ts_dfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis: integrate the centered daily
    series into a profile, OLS-detrend it inside boxes of 8/16/32/64
    days, and read the scaling exponent alpha from how the RMS
    residual F(s) grows with box size.  alpha ~ 0.5 = no memory,
    ~1.0 = 1/f long-range dependence, ~1.5 = integrated noise — the
    third, detrending-robust member of the roughness triangle with
    ts_hurst_exponent (R/S) and ts_higuchi_fd (curve length), and
    the one that stays valid under the very trend the other two must
    assume away.  Determinism: exact bigint profile (n-scaled
    centering, no division), exact DECIMAL box moments, per-box SSR
    doubles snapped at 2^40 before the order-free cross-box sum,
    1e9-integerized log-log OLS; ln F = 0.5*ln(F^2) folded into the
    ly grain (5e8).  Scale factors (n, grain) are s-independent and
    cancel in the slope.

    Shape at any SF: one orders scan; the profile is one O(days)
    cumsum window; box moments are one grouped agg over 4 strides;
    1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _DFA_SQL.format(sgrid="SELECT explode(array(8,16,32,64)) AS s0")
    )


# Quade test: the blocked k-treatment rank test that WEIGHTS blocks
# by how much signal they carry (range rank), where stats_friedman_test
# weights all blocks equally — more powerful when block magnitudes
# differ wildly (order months differ in volume by construction).
# Blocks = order month (12), treatments = order priority (5),
# response = total revenue cents (exact bigint).  Doubled average
# ranks r2 = 2l + e + 1 and doubled block-weight ranks q2 keep
# everything integer; the x4 scale cancels in F.  The F(4,44)
# critical value 2.5837 is DERIVED (closed-form beta CDF with
# integer df, solved to 1e-6 — see tests), guarded by a CASE on the
# actual (n, k) so a fixture change NULLs the gate instead of
# testing against the wrong constant (the stats_cochran_q ADVICE
# rule).
_QUADE_SQL = """
WITH cell AS (
  SELECT {month_expr} AS blk, o_orderpriority AS trt,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders GROUP BY 1, 2
),
rk AS (
  SELECT a.blk, a.trt, a.v,
         CAST(sum(CASE WHEN b.v < a.v THEN 2
                       WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS r2
  FROM cell a JOIN cell b ON a.blk = b.blk
  GROUP BY a.blk, a.trt, a.v
),
rng AS (
  SELECT blk, max(v) - min(v) AS dr FROM cell GROUP BY blk
),
qrk AS (
  SELECT a.blk,
         CAST(sum(CASE WHEN b.dr < a.dr THEN 2
                       WHEN b.dr = a.dr THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS q2
  FROM rng a JOIN rng b ON true
  GROUP BY a.blk
),
kk AS (
  SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k,
         CAST(count(DISTINCT blk) AS BIGINT) AS nb
  FROM cell
),
s AS (
  SELECT rk.blk, rk.trt, kk.nb, kk.k,
         qrk.q2 * (rk.r2 - (kk.k + 1)) AS s2
  FROM rk JOIN qrk ON rk.blk = qrk.blk CROSS JOIN kk
),
tj AS (
  SELECT trt, max(nb) AS nb, max(k) AS k, CAST(sum(s2) AS BIGINT) AS tsum
  FROM s GROUP BY trt
),
agg AS (
  SELECT max(nb) AS nb, max(k) AS k,
         (SELECT CAST(sum(CAST(s2 AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) FROM s) AS a2,
         CAST(sum(CAST(tsum AS DECIMAL(19,0)) * CAST(tsum AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS tb
  FROM tj
)
SELECT nb AS n_blocks, k AS k_treatments,
       (nb - 1) * (k - 1) AS df2,
       round((nb - 1) * CAST(tb AS DOUBLE)
             / (nb * CAST(a2 AS DOUBLE) - CAST(tb AS DOUBLE)), 4)
         AS quade_f,
       CASE WHEN nb = 12 AND k = 5 THEN CAST(2.5837 AS DOUBLE) END
         AS crit_5pct,
       CAST(CASE WHEN nb = 12 AND k = 5
                      AND (nb - 1) * CAST(tb AS DOUBLE)
                          / (nb * CAST(a2 AS DOUBLE) - CAST(tb AS DOUBLE))
                          > 2.5837
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM agg
"""


@query(
    "stats_quade_test",
    "§2.24 Quade weighted blocked rank test: priority effect across order months",
    _QUADE_SQL.format(month_expr="month(o_orderdate)"),
)
def stats_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test: does order priority shift revenue once month-of-
    year blocking is removed?  Friedman (stats_friedman_test) ranks
    within blocks and weights every block equally; Quade multiplies
    each block's centered ranks by the rank of the block's RANGE, so
    months with real spread dominate — the standard power upgrade
    when block magnitudes differ (and they do: months differ in
    volume).  F = (n-1)*B/(A-B) with A, B from the doubled-rank
    integers (scale cancels); the derived F(4,44) critical value is
    CASE-guarded on the observed (n, k) per the cochran_q ADVICE
    rule.  All ranks from exact comparison counts over the 60-cell
    grid — ties get average ranks via the 2l+e+1 doubling.

    Shape at any SF: one orders scan partial-aggs to 60 cells;
    everything after is grid-sized; 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_QUADE_SQL.format(month_expr="month(o_orderdate)"))


# ---------------------------------------------------------------------------
# Round-14 wave 8: Anderson-Darling two-sample test (Scholz-Stephens
# tie-exact A2akN + its standardization) and a Haar wavelet energy
# decomposition.

# AD closing SQL over the shared two-sample prefix chassis
# (cum: ca/cv/g/prev_*) plus a 1-row harmonic-scalars relation
# har(h2n1, g2).  Midrank quantities come for free as the chassis's
# doubled prefixes: M2 = 2*prev_ca + ca (doubled midrank cumulative
# of sample a), B2 = 2*prev_total + g (pooled).  The quarter factors
# of the textbook A2akN cancel exactly against the doubled terms, so
# with A = N*M2 - n1*B2 (exact integer; the b-sample term is -A, so
# one side carries both):
#   A2 = (N-1)/N * sum_j  g_j * A_j^2 / ((B2(2N-B2) - N*g_j) * n1 * n2)
# Each per-value term is one double from exact DECIMAL-product
# integers, snapped at 1e-12 and decimal-summed (CMH discipline).
# sigma^2(A2) uses the Scholz-Stephens (a,b,c,d; H,h,g) polynomial
# with h = H_{N-1} and g = sum_{i<N-1} (H_{N-1}-H_i)/(N-i), both
# computed from 1e-15-snapped harmonic terms (exact bigint cumsums)
# and 1e-12-snapped g-terms — identical integers in both engines.
# T = (A2 - 1)/sigma against t_{m=1}(0.05) = 1.960 (S&S Table 1).
# Headroom: A <= 2N^2 stays a DECIMAL(19,0) factor to N ~ 7e9 rows.
# The close is split so the Spark builder can supply `tot` and `har`
# as 1-row literal relations (their scalars are already collected for
# spark.range sizing — re-deriving them relationally re-aggregated cum
# and cross-joined three 1-row CTEs through separate AQE stages); the
# oracle composes the identical text from the relational `tot`.
_AD_TOT_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2,
         CAST(sum(ca) + sum(cv) AS BIGINT) AS n
  FROM {cum}
),"""

_AD_CLOSE_TAIL = """
terms AS (
  SELECT CAST(sum(CAST(round(
           CAST(CAST(c.g AS DECIMAL(19,0))
                * CAST(t.n * (2 * c.prev_ca + c.ca)
                       - t.n1 * (2 * c.prev_total + c.g) AS DECIMAL(19,0))
                * CAST(t.n * (2 * c.prev_ca + c.ca)
                       - t.n1 * (2 * c.prev_total + c.g) AS DECIMAL(19,0))
                AS DOUBLE)
           / ((CAST(2 * c.prev_total + c.g AS DOUBLE)
               * (2 * t.n - (2 * c.prev_total + c.g))
               - CAST(t.n AS DOUBLE) * c.g)
              * (CAST(t.n1 AS DOUBLE) * t.n2))
           * 1000000000000) AS BIGINT)) AS BIGINT) AS s12
  FROM {cum} c CROSS JOIN tot t
),
fin AS (
  SELECT t.n1, t.n2, t.n,
         (t.n - 1) / CAST(t.n AS DOUBLE)
           * (CAST(terms.s12 AS DOUBLE) / 1000000000000) AS a2,
         CAST(h.h2n1 AS DOUBLE) / 1000000000000000 AS hh,
         CAST(h.g2 AS DOUBLE) / 1000000000000 AS gg,
         1.0 / t.n1 + 1.0 / t.n2 AS bh
  FROM tot t CROSS JOIN terms CROSS JOIN {har} h
),
sig AS (
  SELECT n1, n2, n, a2,
         (  ((4 * gg - 6) + (10 - 6 * gg) * bh)
              * (CAST(n AS DOUBLE) * n * n)
          + ((2 * gg - 4) * 4 + 16 * hh + (2 * gg - 14 * hh - 4) * bh
             - 8 * hh + 4 * gg - 6) * (CAST(n AS DOUBLE) * n)
          + ((6 * hh + 2 * gg - 2) * 4 + (4 * hh - 4 * gg + 6) * 2
             + (2 * hh - 6) * bh + 4 * hh) * CAST(n AS DOUBLE)
          + 24.0
         ) / ((n - 1.0) * (n - 2.0) * (n - 3.0)) AS var_a2
  FROM fin
)
SELECT n1 AS n_a, n2 AS n_b,
       round(a2, 4) AS ad_a2akn,
       round((a2 - 1) / sqrt(var_a2), 4) AS ad_t,
       CAST(1.960 AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN (a2 - 1) / sqrt(var_a2) > 1.960
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_same_dist
FROM sig
"""

_AD_CLOSE_SQL = _AD_TOT_SQL + _AD_CLOSE_TAIL

_AD_HAR_ORACLE = """
adn AS (
  SELECT CAST(sum(ca) + sum(cv) AS BIGINT) AS n FROM {cum}
),
ser AS (
  SELECT m, CAST(round(1e15 / m) AS BIGINT) AS tm
  FROM (
    SELECT CAST(row_number() OVER () AS BIGINT) AS m
    FROM events WHERE event_type IN ('purchase', 'click')
  ) r
  WHERE m <= (SELECT n - 1 FROM adn)
),
hcum AS (
  SELECT m, CAST(sum(tm) OVER (ORDER BY m) AS BIGINT) AS h2 FROM ser
),
hn AS (SELECT CAST(sum(tm) AS BIGINT) AS h2n1 FROM ser),
har AS (
  SELECT hn.h2n1,
         (SELECT CAST(sum(CAST(round(
                    (CAST(hn.h2n1 - hc.h2 AS DOUBLE) / 1000000000000000)
                    / (t.n - hc.m) * 1000000000000) AS BIGINT)) AS BIGINT)
          FROM hcum hc CROSS JOIN adn t WHERE hc.m <= t.n - 2) AS g2
  FROM hn
)
"""


@query(
    "stats_ad_two_sample",
    "§2.24 Anderson-Darling two-sample test, tie-exact A2akN (purchase vs click)",
    "WITH " + _two_sample_cum_sql("purchase", "click") + ","
    + _AD_HAR_ORACLE.format(cum="cum")
    + "," + _AD_CLOSE_SQL.format(cum="cum", har="har"),
)
def stats_ad_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling two-sample test on purchase-vs-click values:
    the ECDF-distance test that up-weights the TAILS by 1/(F(1-F)),
    completing the distance family — stats_ks_test takes the single
    worst gap, stats_cvm_two_sample integrates the squared gap
    uniformly, AD integrates it with tail emphasis, which is where
    value distributions actually differ.  Implements the
    Scholz-Stephens tie-exact A2akN (midrank version) plus its exact
    finite-N standardization T = (A2-1)/sigma with the published
    (a,b,c,d; H,h,g) variance polynomial, against t_1(0.05) = 1.960
    from their Table 1 (documented).  The chassis's doubled prefixes
    ARE the midrank quantities, so every per-value term is exact
    integers; harmonic sums are 1e-15-snapped exact bigint cumsums.

    Shape at any SF: one events scan to distinct micro-values
    (bucketed two-phase prefix sums), one O(N) generated harmonic
    series with the same two-phase treatment, map-side-partial
    moment aggs, 1-row finish.  The one driver scalar (N, to size
    spark.range) is metadata-scale, the streaming/queries
    max-timestamp precedent.

    Driver-job shape (optimization r15, guide §7.3): h2n1 rides the
    g2 job as a broadcast scalar (one collect instead of two), and
    the already-collected scalars (n1, n2, n, h2n1, g2) enter the
    close as LITERAL 1-row relations — the previous relational tot
    re-aggregated cum and cross-joined three 1-row CTEs through
    separate AQE stages (~1.5 s of the op's 2.6 s was the close job).
    Same exact integers either way; op best 2.57 s -> measured below.
    """
    cum = _two_sample_cum_df(spark, sf_dir, "purchase", "click")
    cum.createOrReplaceTempView("r14_ad_cum")
    n1, n2 = (
        cum.agg(
            F.sum("ca").cast("bigint"), F.sum("cv").cast("bigint")
        ).collect()[0]  # bounded-collect-ok: one 2-scalar row (sizes N for spark.range)
    )
    n = int(n1) + int(n2)
    ser = (
        spark.range(1, n)
        .select(
            F.col("id").alias("m"),
            F.expr("CAST(round(1e15 / id) AS BIGINT)").alias("tm"),
            F.expr("id div 65536").alias("bucket"),
        )
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = (
        ser.groupBy("bucket").agg(F.sum("tm").alias("bt"))
        .select(
            "bucket",
            F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("off"),
        )
    )
    w = Window.partitionBy("bucket").orderBy("m")
    hcum = (
        ser.join(F.broadcast(boff), "bucket")
        .select(
            "m",
            (F.sum("tm").over(w) + F.col("off")).cast("bigint").alias("h2"),
        )
    )
    # h2n1 = sum of ALL harmonic terms = the last bucket's offset plus
    # its own total — a 1-row agg over the tiny boff table, broadcast
    # into the g-term expression so h2n1 and g2 close in ONE job (the
    # per-term arithmetic is unchanged: h2n1 is the same exact bigint
    # whether it arrives as a Python literal or a broadcast column).
    h2n1_df = ser.agg(F.sum("tm").cast("bigint").alias("h2n1"))
    h2n1, g2 = (
        hcum.filter(F.col("m") <= n - 2)
        .crossJoin(F.broadcast(h2n1_df))
        .select(
            "h2n1",
            F.expr(
                "CAST(round((CAST(h2n1 - h2 AS DOUBLE) / 1000000000000000)"
                f" / ({n} - m) * 1000000000000) AS BIGINT)"
            ).alias("gt"),
        )
        .groupBy("h2n1")
        .agg(F.sum("gt").cast("bigint").alias("g2"))
        .collect()[0]  # bounded-collect-ok: one 2-scalar row (exact snapped sums)
    )
    tot_lit = (
        "\ntot AS (\n"
        f"  SELECT CAST({int(n1)} AS BIGINT) AS n1,"
        f" CAST({int(n2)} AS BIGINT) AS n2,\n"
        f"         CAST({n} AS BIGINT) AS n\n"
        "),"
    )
    har_lit = (
        f"har AS (SELECT CAST({int(h2n1)} AS BIGINT) AS h2n1,"
        f" CAST({int(g2)} AS BIGINT) AS g2),"
    )
    return spark.sql(
        "WITH "
        + har_lit
        + tot_lit
        + _AD_CLOSE_TAIL.format(cum="r14_ad_cum", har="har")
    )


# Haar wavelet energy decomposition: where does the variance of the
# daily-revenue signal LIVE in time scale?  Unnormalized Haar detail
# at level l over a block of 2^l days is D = (first-half sum) -
# (second-half sum), an EXACT integer; the level energy is
# E_l = sum_b D^2 / 2^l (Parseval normalization, documented), and
# shares localize volatility by scale: day-to-day noise loads level
# 1, weekly structure level 3, monthly+ the deep levels.  Unlike
# ts_periodogram/ts_spectral_entropy (global sinusoids), Haar detail
# is time-LOCALIZED — a burst contributes where it happens.
# Determinism: D exact bigint, E sums exact DECIMAL products; each
# level's double energy derives from one exact decimal; the 6-level
# total is a FIXED-ORDER sum of per-level CASE aggregates (no
# engine-ordered double accumulation); shares round at 6.
_HAAR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, cents AS y FROM daily
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
grid AS (SELECT CAST(l0 AS BIGINT) AS lv, CAST(s0 AS BIGINT) AS sz
         FROM ({lvgrid}) g),
det AS (
  SELECT g.lv, g.sz,
         CAST((i.t - 1 - ((i.t - 1) % g.sz)) / g.sz AS BIGINT) AS b,
         CAST(sum(CASE WHEN 2 * ((i.t - 1) % g.sz) < g.sz
                       THEN i.y ELSE -i.y END) AS BIGINT) AS dsum
  FROM grid g CROSS JOIN n1 JOIN idx i ON i.t <= n1.n - (n1.n % g.sz)
  GROUP BY g.lv, g.sz, CAST((i.t - 1 - ((i.t - 1) % g.sz)) / g.sz AS BIGINT)
),
en AS (
  SELECT lv, sz, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CAST(dsum AS DECIMAL(19,0)) * CAST(dsum AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS e_raw
  FROM det GROUP BY lv, sz
),
tot AS (
  SELECT sum(CASE WHEN lv = 1 THEN CAST(e_raw AS DOUBLE) / sz END)
         + sum(CASE WHEN lv = 2 THEN CAST(e_raw AS DOUBLE) / sz END)
         + sum(CASE WHEN lv = 3 THEN CAST(e_raw AS DOUBLE) / sz END)
         + sum(CASE WHEN lv = 4 THEN CAST(e_raw AS DOUBLE) / sz END)
         + sum(CASE WHEN lv = 5 THEN CAST(e_raw AS DOUBLE) / sz END)
         + sum(CASE WHEN lv = 6 THEN CAST(e_raw AS DOUBLE) / sz END) AS te
  FROM en
)
SELECT en.lv AS level, en.sz AS block_days, en.n_blocks,
       round(CAST(en.e_raw AS DOUBLE) / en.sz / tot.te, 6) AS energy_share,
       round(sqrt(CAST(en.e_raw AS DOUBLE) / en.sz / en.n_blocks) / 100, 4)
         AS rms_detail_dollars
FROM en CROSS JOIN tot
ORDER BY en.lv
"""


@query(
    "ts_haar_energy",
    "§2.24 Haar wavelet multiresolution energy decomposition of daily revenue",
    _HAAR_SQL.format(
        lvgrid="SELECT * FROM (VALUES (1,2),(2,4),(3,8),(4,16),(5,32),(6,64))"
               " v(l0, s0)"
    ),
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy by scale: levels 1-6 (2..64-day blocks)
    decompose daily-revenue variance into time-LOCALIZED scale bands
    — the multiresolution complement to ts_periodogram's global
    sinusoids (a one-off burst spreads across every Fourier bin but
    loads exactly one Haar block).  Detail D = first-half sum minus
    second-half sum per block is an exact bigint; E_l = sum D^2/2^l
    (Parseval convention documented); the 6-level total is a fixed-
    order sum of per-level CASE aggregates so no engine-ordered
    double accumulation exists; truncation to full blocks per level
    is exact integer arithmetic (t <= n - n%2^l).

    Shape at any SF: one orders scan to the daily table; one grouped
    agg over 6 x O(days) block rows; 6-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        _HAAR_SQL.format(
            lvgrid="SELECT l0, s0 FROM VALUES (1,2),(2,4),(3,8),(4,16),"
                   "(5,32),(6,64) AS v(l0, s0)"
        )
    )


# ---------------------------------------------------------------------------
# Round-14 wave 9: the multivariate family (Hotelling T^2, Mahalanobis
# outliers) and the energy distance — two-sample tests/diagnostics the
# univariate battery cannot express.

# Hotelling T^2: the multivariate two-sample t — do returned and
# clean line items differ JOINTLY in (quantity, price)?  Running two
# univariate Welch tests inflates alpha and misses correlated shifts;
# T^2 whitens the mean difference with the pooled covariance.  All
# five second-order moments per group are exact DECIMAL sums; the
# 2x2 inversion, T^2, and the exact F transform close as fixed-order
# doubles.  The 5% critical value is CLOSED FORM because p = 2 makes
# the F CDF's first beta parameter 1: P(F <= f) = 1 - (1-x)^((N-3)/2)
# with x = 2f/(2f + N - 3), so f_crit = ((N-3)/2) * x/(1-x) at
# x = 1 - 0.05^(2/(N-3)) — derived in-query from the observed N (no
# hard-coded-df hazard; the cochran_q ADVICE rule satisfied by
# construction).
_HOTELLING_SQL = """
WITH obs AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
),
m AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(q AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sq,
         CAST(sum(CAST(p AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sp,
         CAST(sum(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sqq,
         CAST(sum(CAST(p AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS spp,
         CAST(sum(CAST(q AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sqp
  FROM obs GROUP BY grp
),
w AS (
  SELECT max(CASE WHEN grp = 'R' THEN n END) AS n1,
         max(CASE WHEN grp = 'N' THEN n END) AS n2,
         max(CASE WHEN grp = 'R' THEN CAST(sq AS DOUBLE) END) AS sq1,
         max(CASE WHEN grp = 'N' THEN CAST(sq AS DOUBLE) END) AS sq2,
         max(CASE WHEN grp = 'R' THEN CAST(sp AS DOUBLE) END) AS sp1,
         max(CASE WHEN grp = 'N' THEN CAST(sp AS DOUBLE) END) AS sp2,
         max(CASE WHEN grp = 'R' THEN CAST(sqq AS DOUBLE) END) AS sqq1,
         max(CASE WHEN grp = 'N' THEN CAST(sqq AS DOUBLE) END) AS sqq2,
         max(CASE WHEN grp = 'R' THEN CAST(spp AS DOUBLE) END) AS spp1,
         max(CASE WHEN grp = 'N' THEN CAST(spp AS DOUBLE) END) AS spp2,
         max(CASE WHEN grp = 'R' THEN CAST(sqp AS DOUBLE) END) AS sqp1,
         max(CASE WHEN grp = 'N' THEN CAST(sqp AS DOUBLE) END) AS sqp2
  FROM m
),
cov AS (
  SELECT n1, n2, n1 + n2 AS nn,
         sq1 / n1 - sq2 / n2 AS dq,
         sp1 / n1 - sp2 / n2 AS dp,
         ((sqq1 - sq1 * sq1 / n1) + (sqq2 - sq2 * sq2 / n2))
           / (n1 + n2 - 2) AS cqq,
         ((spp1 - sp1 * sp1 / n1) + (spp2 - sp2 * sp2 / n2))
           / (n1 + n2 - 2) AS cpp,
         ((sqp1 - sq1 * sp1 / n1) + (sqp2 - sq2 * sp2 / n2))
           / (n1 + n2 - 2) AS cqp
  FROM w
),
t2 AS (
  SELECT n1, n2, nn,
         (CAST(n1 AS DOUBLE) * n2 / nn)
           * (dq * (cpp * dq - cqp * dp) + dp * (cqq * dp - cqp * dq))
           / (cqq * cpp - cqp * cqp) AS tsq,
         1 - exp(ln(0.05) * 2 / (nn - 3)) AS xc
  FROM cov
)
SELECT n1 AS n_returned, n2 AS n_clean,
       round(tsq, 4) AS hotelling_t2,
       round((nn - 3) / (2.0 * (nn - 2)) * tsq, 4) AS f_stat,
       round((nn - 3) / 2.0 * xc / (1 - xc), 4) AS f_crit_5pct,
       CAST(CASE WHEN (nn - 3) / (2.0 * (nn - 2)) * tsq
                      > (nn - 3) / 2.0 * xc / (1 - xc)
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_equal_means
FROM t2
"""


@query(
    "stats_hotelling_t2",
    "§2.24 Hotelling T^2 two-sample multivariate mean test (returned vs clean lines)",
    _HOTELLING_SQL,
)
def stats_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotelling T^2: do returned ('R') and clean ('N') line items
    differ in the JOINT (quantity, price) mean — the multivariate
    question two separate stats_ttest_welch runs answer wrongly
    (inflated alpha, blind to correlated shifts)?  T^2 whitens the
    mean difference with the pooled 2x2 covariance from exact
    DECIMAL moments; the exact F transform (N-3)/(2(N-2)) T^2 ~
    F(2, N-3) gates against a critical value DERIVED in closed form
    from the observed N (p = 2 collapses the beta CDF to
    1-(1-x)^((N-3)/2)) — no hard-coded df anywhere.  One ln and one
    exp are the only libm calls, on values far from the flag
    boundary (documented).

    Shape at any SF: one lineitem scan, map-side partial moment agg
    to 2 group rows; 1-row finish.  100 TB costs the one fact
    scan."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_HOTELLING_SQL)


def _two_sample_valcum_sql(type_a: str, type_b: str) -> str:
    """Oracle CTE: distinct micro-values with per-group counts AND
    value sums, plus exclusive prefixes of all four."""
    return f"""
pts AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         CAST(sum(CASE WHEN event_type = '{type_a}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = '{type_b}' THEN 1 ELSE 0 END)
              AS BIGINT) AS cv
  FROM events WHERE event_type IN ('{type_a}', '{type_b}') GROUP BY 1
),
vcum AS (
  SELECT v, ca, cv, ca * v AS sa, cv * v AS sb,
         CAST(sum(ca) OVER (ORDER BY v) - ca AS BIGINT) AS pca,
         CAST(sum(cv) OVER (ORDER BY v) - cv AS BIGINT) AS pcv,
         CAST(sum(ca * v) OVER (ORDER BY v) - ca * v AS BIGINT) AS psa,
         CAST(sum(cv * v) OVER (ORDER BY v) - cv * v AS BIGINT) AS psb
  FROM pts
)"""


def _two_sample_valcum_df(spark: SparkSession, sf_dir: str,
                          type_a: str, type_b: str) -> DataFrame:
    """Spark staging: the bucketed two-phase prefix sum extended to
    value-weighted prefixes (counts and value sums per group)."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(type_a, type_b))
        .select(
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("v"),
            F.when(F.col("event_type") == type_a, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == type_b, 1).otherwise(0).alias("ib"),
        )
    )
    pts = lineage_checkpoint_lazy(
        ev.groupBy("v")
        .agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cv"))
        .withColumn("sa", F.col("ca") * F.col("v"))
        .withColumn("sb", F.col("cv") * F.col("v"))
        .withColumn("bucket", F.expr("v div 50000000"))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = (
        pts.groupBy("bucket")
        .agg(
            F.sum("ca").alias("bca"), F.sum("cv").alias("bcv"),
            F.sum("sa").alias("bsa"), F.sum("sb").alias("bsb"),
        )
        .select(
            "bucket",
            F.coalesce(F.sum("bca").over(wb), F.lit(0)).alias("offca"),
            F.coalesce(F.sum("bcv").over(wb), F.lit(0)).alias("offcv"),
            F.coalesce(F.sum("bsa").over(wb), F.lit(0)).alias("offsa"),
            F.coalesce(F.sum("bsb").over(wb), F.lit(0)).alias("offsb"),
        )
    )
    w = Window.partitionBy("bucket").orderBy("v")
    return (
        pts.join(F.broadcast(boff), "bucket")
        .select(
            "v", "ca", "cv", "sa", "sb",
            (F.sum("ca").over(w) + F.col("offca") - F.col("ca"))
            .cast("bigint").alias("pca"),
            (F.sum("cv").over(w) + F.col("offcv") - F.col("cv"))
            .cast("bigint").alias("pcv"),
            (F.sum("sa").over(w) + F.col("offsa") - F.col("sa"))
            .cast("bigint").alias("psa"),
            (F.sum("sb").over(w) + F.col("offsb") - F.col("sb"))
            .cast("bigint").alias("psb"),
        )
    )


# Energy distance (Szekely-Rizzo): E = 2 E|X-Y| - E|X-X'| - E|Y-Y'|
# (V-statistic convention, documented) — consistent against EVERY
# distributional difference, where rank tests see location/scale
# only.  The three absolute-difference double sums are EXACT via
# sorted prefixes: at each distinct value v, sum_x |x - v| =
# v*cnt_lt - sum_lt + (sum_gt - v*cnt_gt), every term an exact
# integer from the value-weighted prefix chassis; each per-value
# contribution is a DECIMAL(19)x(19) product, so the three totals
# are exact DECIMAL(38) to ~1e13 rows per side.  No closed-form
# null exists (practitioners permute); the op reports the distance,
# the scale-free energy coefficient H = E / (2 E|X-Y|) in [0,1],
# and the test statistic n1*n2/N * E (documented convention).
_ENERGY_CLOSE_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2,
         CAST(sum(sa) AS BIGINT) AS ta, CAST(sum(sb) AS BIGINT) AS tb
  FROM {cum}
),
sums AS (
  SELECT
    CAST(sum(CAST(c.cv AS DECIMAL(19,0))
             * CAST(c.v * c.pca - c.psa
                    + (t.ta - c.psa - c.sa)
                    - c.v * (t.n1 - c.pca - c.ca) AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS ab,
    CAST(sum(CAST(c.ca AS DECIMAL(19,0))
             * CAST(c.v * c.pca - c.psa
                    + (t.ta - c.psa - c.sa)
                    - c.v * (t.n1 - c.pca - c.ca) AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS aa,
    CAST(sum(CAST(c.cv AS DECIMAL(19,0))
             * CAST(c.v * c.pcv - c.psb
                    + (t.tb - c.psb - c.sb)
                    - c.v * (t.n2 - c.pcv - c.cv) AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS bb
  FROM {cum} c CROSS JOIN tot t
),
fin AS (
  SELECT t.n1, t.n2,
         2 * CAST(s.ab AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n2)
           - CAST(s.aa AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n1)
           - CAST(s.bb AS DOUBLE) / (CAST(t.n2 AS DOUBLE) * t.n2) AS e,
         2 * CAST(s.ab AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n2) AS exy2
  FROM tot t CROSS JOIN sums s
)
SELECT n1 AS n_a, n2 AS n_b,
       round(e / 1000000, 6) AS e_dist,
       round(e / exy2, 6) AS energy_coef,
       round(CAST(n1 AS DOUBLE) * n2 / (n1 + n2) * e / 1000000, 4)
         AS t_energy
FROM fin
"""


@query(
    "stats_energy_distance",
    "§2.24 Szekely-Rizzo energy distance between purchase and click values",
    "WITH " + _two_sample_valcum_sql("purchase", "click") + ","
    + _ENERGY_CLOSE_SQL.format(cum="vcum"),
)
def stats_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the purchase and click value
    distributions: E = 2E|X-Y| - E|X-X'| - E|Y-Y'| (V-statistic
    convention, documented) — zero iff the distributions are equal,
    and consistent against EVERY alternative, where the rank battery
    (MW location, Ansari scale) sees only its own moment.  The three
    absolute-difference sums are EXACT integers via the sorted
    value-weighted prefix chassis (sum of |x - v| decomposes into
    below/above prefix terms), decimal-summed to ~1e13 rows/side;
    distances report in original value units (the 1e6 micro-scale
    divides out, documented).  The scale-free energy coefficient
    E/(2E|X-Y|) and the n1 n2/N * E statistic close as fixed-order
    doubles; no reject flag because the energy null has no closed
    form (permutation-calibrated in practice, documented).

    Shape at any SF: one events scan to distinct micro-values, the
    bucketed two-phase prefix sums, one map-side-partial moment agg;
    1-row finish."""
    cum = _two_sample_valcum_df(spark, sf_dir, "purchase", "click")
    cum.createOrReplaceTempView("r14_energy_cum")
    return spark.sql(
        "WITH " + _ENERGY_CLOSE_SQL.format(cum="r14_energy_cum")
    )


# Mahalanobis outlier profile: whiten each customer's (order count,
# total spend) by the GLOBAL 2x2 covariance and report the top 20 by
# squared distance — the correlation-aware outlier screen that
# per-axis z-scores (ts_anomaly_zscore's method) get wrong: a
# customer with many cheap orders and one with few expensive orders
# can have identical per-axis z but very different joint
# plausibility.  Population covariance (documented) from exact
# DECIMAL moments; md^2 per customer is a fixed-order double
# quadratic form; chi2(2) gives the exact closed-form 5% bound
# -2 ln(0.05) = 5.9915 (p = 2 makes the chi-square CDF 1 - e^(-x/2)).
_MAHA_SQL = """
WITH cust AS (
  SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS s
  FROM orders GROUP BY o_custkey
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sc,
         CAST(sum(CAST(s AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ss,
         CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS scc,
         CAST(sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sss,
         CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS scs
  FROM cust
),
cov AS (
  SELECT n,
         CAST(sc AS DOUBLE) / n AS mc, CAST(ss AS DOUBLE) / n AS ms,
         (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n)
           / n AS vc,
         (CAST(sss AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n)
           / n AS vs,
         (CAST(scs AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(ss AS DOUBLE) / n)
           / n AS cv
  FROM m
),
md AS (
  SELECT cust.ck, cust.c, cust.s, cov.n,
         ((cust.c - cov.mc) * (cov.vs * (cust.c - cov.mc)
                               - cov.cv * (cust.s - cov.ms))
          + (cust.s - cov.ms) * (cov.vc * (cust.s - cov.ms)
                                 - cov.cv * (cust.c - cov.mc)))
           / (cov.vc * cov.vs - cov.cv * cov.cv) AS md2
  FROM cust CROSS JOIN cov
),
top AS (
  SELECT ck, c, s, n, md2,
         row_number() OVER (ORDER BY md2 DESC, ck) AS rk
  FROM md
)
SELECT rk AS rank, ck AS c_custkey, c AS n_orders,
       round(CAST(s AS DOUBLE) / 100, 2) AS spend_dollars,
       round(md2, 4) AS maha_sq,
       CAST(CASE WHEN md2 > -2 * ln(0.05) THEN 1 ELSE 0 END AS BIGINT)
         AS outlier_95
FROM top WHERE rk <= 20
ORDER BY rk
"""


@query(
    "stats_mahalanobis_outliers",
    "§2.24 Mahalanobis top-20 customer outliers in (order count, spend)",
    _MAHA_SQL,
)
def stats_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by Mahalanobis distance in the (order count,
    total spend) plane: the joint covariance whitening catches what
    per-axis z-scores cannot — many-cheap-orders and few-expensive-
    orders customers can share identical axis z-scores while sitting
    at opposite joint plausibilities.  Population covariance
    (documented) from exact DECIMAL moments; per-customer md^2 is a
    fixed-order double quadratic form (identical in both engines);
    deterministic rank tie-break on custkey; the 5% chi2(2) bound is
    the closed form -2 ln 0.05 evaluated in-query (p = 2 makes the
    chi-square CDF 1 - e^(-x/2); no hard-coded constant).

    Shape at any SF: one orders scan shuffles once on o_custkey;
    moment agg is map-side partial; the top-20 window is a global
    rank over customer-grain rows (TakeOrderedAndProject in Spark);
    20-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_MAHA_SQL)


# ---------------------------------------------------------------------------
# Round-14 wave 10: distance correlation (exact integer
# double-centering on the calendar-bounded daily grid) and the Lepage
# joint location-scale rank test.

# Distance correlation (Szekely-Rizzo-Bakirov): dCor = 0 IFF the two
# series are independent — Pearson sees linear, Spearman monotone,
# mutual information needs binning; dCor needs nothing.  On the
# daily (revenue, order-count) pair the O(days^2) pair grid is
# CALENDAR-BOUNDED (SF-independent ~2400 rows -> 5.8M pairs), so the
# naive-looking double join is the scale-correct plan.  EXACT
# integer algebra throughout: with a_ij = |x_i - x_j| (exact cents),
# row sums R_i, grand total G, the double-centered entry scales to
# n^2 A_ij = n^2 a_ij - n R_i - n R_j + G, an exact bigint; the
# cross sums S_xy = sum (n^2 A)(n^2 B) are exact DECIMAL(19)x(19)
# products summed into DECIMAL(38) (headroom to ~1.5e12 daily cents,
# the DW chassis bound, documented); dCov^2 = S/n^6 and
# dCor = sqrt(S_xy / sqrt(S_xx S_yy)) close as fixed-order doubles.
# Pearson r reports beside it from exact moments — the dependence
# dCor sees that r misses is the op's whole point.
_DCOR_PRE_SQL = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
rows_ AS (
  SELECT /*+ REPARTITION(32, a.d) */ a.d,
         CAST(sum(abs(a.x - b.x)) AS BIGINT) AS rx,
         CAST(sum(abs(a.y - b.y)) AS BIGINT) AS ry
  FROM (SELECT /*+ REPARTITION(32, d) */ d, x, y FROM daily) a
  JOIN daily b ON true
  GROUP BY a.d
),
dj AS (
  SELECT d.d, d.x, d.y, r.rx, r.ry
  FROM daily d JOIN rows_ r ON d.d = r.d
)
"""

_DCOR_CLOSE_SQL = """
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {dj}),
g AS (
  SELECT CAST(sum(rx) AS BIGINT) AS gx, CAST(sum(ry) AS BIGINT) AS gy
  FROM {dj}
),
sp AS (
  SELECT a.d = b.d AS diag,
         CAST(n1.n * n1.n * abs(a.x - b.x) - n1.n * a.rx
              - n1.n * b.rx + g.gx AS DECIMAL(19,0)) AS ax,
         CAST(n1.n * n1.n * abs(a.y - b.y) - n1.n * a.ry
              - n1.n * b.ry + g.gy AS DECIMAL(19,0)) AS ay
  FROM (SELECT /*+ REPARTITION(32, d) */ * FROM {dj}) a
  JOIN {dj} b ON a.d <= b.d CROSS JOIN n1 CROSS JOIN g
),
s AS (
  SELECT
    2 * CAST(sum(CASE WHEN NOT diag THEN ax * ay END) AS DECIMAL(38,0))
      + CAST(sum(CASE WHEN diag THEN ax * ay END) AS DECIMAL(38,0)) AS sxy,
    2 * CAST(sum(CASE WHEN NOT diag THEN ax * ax END) AS DECIMAL(38,0))
      + CAST(sum(CASE WHEN diag THEN ax * ax END) AS DECIMAL(38,0)) AS sxx,
    2 * CAST(sum(CASE WHEN NOT diag THEN ay * ay END) AS DECIMAL(38,0))
      + CAST(sum(CASE WHEN diag THEN ay * ay END) AS DECIMAL(38,0)) AS syy
  FROM sp
),
pm AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxy
  FROM {dj}
)
SELECT pm.n AS n_days,
       round(sqrt(CAST(s.sxy AS DOUBLE)
                  / sqrt(CAST(s.sxx AS DOUBLE) * CAST(s.syy AS DOUBLE))), 6)
         AS dcor,
       round((pm.n * CAST(pm.sxy AS DOUBLE)
              - CAST(pm.sx AS DOUBLE) * CAST(pm.sy AS DOUBLE))
             / sqrt((pm.n * CAST(pm.sxx AS DOUBLE)
                     - CAST(pm.sx AS DOUBLE) * CAST(pm.sx AS DOUBLE))
                    * (pm.n * CAST(pm.syy AS DOUBLE)
                       - CAST(pm.sy AS DOUBLE) * CAST(pm.sy AS DOUBLE))), 6)
         AS pearson_r
FROM s CROSS JOIN pm
"""

@query(
    "stats_distance_correlation",
    "§2.24 distance correlation of daily revenue vs daily order count",
    "WITH " + _DCOR_PRE_SQL.strip() + ",\n"
    + _DCOR_CLOSE_SQL.strip().format(dj="dj"),
)
def stats_distance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance correlation between daily revenue and daily order
    count: zero IFF independent — the dependence detector that needs
    no linearity (Pearson), no monotonicity (Spearman), no binning
    (stats_mutual_info).  The O(days^2) pair grid is calendar-
    bounded, so at ANY SF this is a ~5.8M-row broadcast cross join
    of a tiny dim with itself — the shape stays constant while the
    one fact scan grows.  Double-centering is exact: n^2 A_ij =
    n^2 a_ij - n R_i - n R_j + G is an exact bigint (headroom to
    ~1.5e12 daily cents documented), the three cross sums are exact
    DECIMAL products, and dCor closes as one fixed-order double.
    Pearson r reports beside it from exact moments.

    Shape at any SF: one orders scan to the daily table; the
    2400-row (d, x, y, rx, ry) table is checkpointed Spark-side so
    CTE inlining cannot re-run the row-sum pair pass (the self-BLEU
    precedent), and the centered-product pass walks only the upper
    triangle (A is symmetric; off-diagonal terms doubled AFTER the
    exact DECIMAL aggregation) under a REPARTITION(32) hint that
    keeps the fan-out parallel under AQE (the local-clustering
    precedent).  ~4 s constant cost at any SF plus the one fact
    scan."""
    register_views(spark, sf_dir, ["orders"])
    dj = spark.sql("WITH " + _DCOR_PRE_SQL.strip() + " SELECT * FROM dj")
    lineage_checkpoint_lazy(dj).createOrReplaceTempView("r14_dcor_dj")
    return spark.sql(
        "WITH " + _DCOR_CLOSE_SQL.strip().format(dj="r14_dcor_dj")
    )


# Lepage test: the joint location-AND-scale two-sample rank test —
# L = z_W^2 + z_AB^2 ~ chi2(2) combines the Wilcoxon rank-sum
# (location) and Ansari-Bradley (scale) z's, catching the
# "shifted AND stretched" alternative that each component alone
# under-powers.  Both z's are computed tie-robustly from the shared
# prefix chassis: doubled pooled midranks r2 = 2*prev_total + g + 1
# give the exact integer Wilcoxon sum W2 = sum ca*r2 with the
# classic tie-corrected variance (the sum g^3 - g term exact); the
# doubled AB scores s2 = min(r2, 2(N+1) - r2) give AB2 = sum ca*s2
# with Hajek's permutation moments from the ACTUAL score sums.  The
# doubled units cancel inside each z; the chi2(2) 5% bound is the
# closed form -2 ln 0.05 evaluated in-query.
_LEPAGE_CLOSE_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2,
         CAST(sum(ca) + sum(cv) AS BIGINT) AS n
  FROM {cum}
),
sc AS (
  SELECT c.ca, c.cv, c.g,
         2 * c.prev_total + c.g + 1 AS r2,
         CASE WHEN 2 * c.prev_total + c.g + 1
                   < 2 * (t.n + 1) - (2 * c.prev_total + c.g + 1)
              THEN 2 * c.prev_total + c.g + 1
              ELSE 2 * (t.n + 1) - (2 * c.prev_total + c.g + 1) END AS s2
  FROM {cum} c CROSS JOIN tot t
),
m AS (
  SELECT CAST(sum(CAST(ca AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS w2,
         CAST(sum(CAST(ca AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ab2,
         CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS gs,
         CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0))
                  * CAST(s2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS gss,
         CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0))
                  * CAST(g AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g3,
         CAST(sum(CAST(g AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g1
  FROM sc
),
z AS (
  SELECT t.n1, t.n2, t.n,
         (CAST(m.w2 AS DOUBLE) - CAST(t.n1 AS DOUBLE) * (t.n + 1))
           / sqrt(CAST(t.n1 AS DOUBLE) * t.n2 / 3.0
                  * ((t.n + 1)
                     - (CAST(m.g3 AS DOUBLE) - CAST(m.g1 AS DOUBLE))
                       / (CAST(t.n AS DOUBLE) * (t.n - 1)))) AS zw,
         (CAST(m.ab2 AS DOUBLE)
          - CAST(t.n1 AS DOUBLE) * CAST(m.gs AS DOUBLE) / t.n)
           / sqrt(CAST(t.n1 AS DOUBLE) * t.n2
                  * (CAST(t.n AS DOUBLE) * CAST(m.gss AS DOUBLE)
                     - CAST(m.gs AS DOUBLE) * CAST(m.gs AS DOUBLE))
                  / (CAST(t.n AS DOUBLE) * t.n * (t.n - 1))) AS zab
  FROM tot t CROSS JOIN m
)
SELECT n1 AS n_a, n2 AS n_b,
       round(zw, 4) AS z_wilcoxon,
       round(zab, 4) AS z_ansari,
       round(zw * zw + zab * zab, 4) AS lepage_l,
       round(-2 * ln(0.05), 4) AS crit_5pct,
       CAST(CASE WHEN zw * zw + zab * zab > -2 * ln(0.05)
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM z
"""


@query(
    "stats_lepage_test",
    "§2.24 Lepage joint location-scale rank test (purchase vs click)",
    "WITH " + _two_sample_cum_sql("purchase", "click") + ","
    + _LEPAGE_CLOSE_SQL.format(cum="cum"),
)
def stats_lepage_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage test: are purchase and click values shifted AND
    stretched relative to each other?  L = z_Wilcoxon^2 +
    z_AnsariBradley^2 ~ chi2(2) combines the location and scale rank
    statistics into one gate — the joint alternative each component
    under-powers alone (and the omnibus question
    stats_energy_distance answers metrically, answered here in rank
    space with an actual closed-form null).  Both z's are tie-robust
    from the shared prefix chassis: exact integer doubled midranks
    for W with the classic sum(g^3 - g) tie-corrected variance, and
    Hajek permutation moments over the ACTUAL doubled AB scores; the
    chi2(2) bound is -2 ln 0.05 in-query (closed form, no constant).

    Shape at any SF: one events scan to distinct micro-values,
    bucketed two-phase prefix sums, one moment agg; 1-row finish."""
    cum = _two_sample_cum_df(spark, sf_dir, "purchase", "click")
    cum.createOrReplaceTempView("r14_lepage_cum")
    return spark.sql(
        "WITH " + _LEPAGE_CLOSE_SQL.format(cum="r14_lepage_cum")
    )


# ---------------------------------------------------------------------------
# Round-14 wave 11: multivariate time series (VAR(1) stability) and
# closed-form 2-feature PCA.

# VAR(1): jointly regress today's (revenue, orders) on yesterday's —
# the system view ts_granger_causality tests one direction of.  Each
# equation is a 2-regressor OLS solved by Cramer from exact DECIMAL
# moments over calendar-consecutive day pairs (the ts_adf_augmented
# 9-moment chassis shape); the 2x2 coefficient matrix's eigenvalues
# are CLOSED FORM (trace/determinant discriminant), and the spectral
# radius < 1 is the textbook stationarity gate for the whole system.
# Complex eigenvalues report |lambda| = sqrt(det) (documented).
_VAR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT b.x AS x0, b.y AS y0, a.x AS x1, a.y AS y1
  FROM daily a JOIN daily b ON a.d = {prev}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x0 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y0 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS tx,
         CAST(sum(CAST(y1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ty,
         CAST(sum(CAST(x0 AS DECIMAL(19,0)) * CAST(x0 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y0 AS DECIMAL(19,0)) * CAST(y0 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x0 AS DECIMAL(19,0)) * CAST(y0 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x0 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS cxx,
         CAST(sum(CAST(y0 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS cyx,
         CAST(sum(CAST(x0 AS DECIMAL(19,0)) * CAST(y1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS cxy,
         CAST(sum(CAST(y0 AS DECIMAL(19,0)) * CAST(y1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS cyy
  FROM pairs
),
cc AS (
  SELECT n,
         n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
           AS vxx,
         n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
           AS vyy,
         n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
           AS vxy,
         n * CAST(cxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(tx AS DOUBLE)
           AS wxx,
         n * CAST(cyx AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(tx AS DOUBLE)
           AS wyx,
         n * CAST(cxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(ty AS DOUBLE)
           AS wxy,
         n * CAST(cyy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(ty AS DOUBLE)
           AS wyy
  FROM m
),
fit AS (
  SELECT n,
         (wxx * vyy - wyx * vxy) / (vxx * vyy - vxy * vxy) AS a11,
         (wyx * vxx - wxx * vxy) / (vxx * vyy - vxy * vxy) AS a12,
         (wxy * vyy - wyy * vxy) / (vxx * vyy - vxy * vxy) AS a21,
         (wyy * vxx - wxy * vxy) / (vxx * vyy - vxy * vxy) AS a22
  FROM cc
),
eig AS (
  SELECT n, a11, a12, a21, a22,
         (a11 + a22) * (a11 + a22) - 4 * (a11 * a22 - a12 * a21) AS disc,
         a11 + a22 AS tr, a11 * a22 - a12 * a21 AS det
  FROM fit
)
SELECT n AS n_pairs,
       round(a11, 6) + 0 AS a_rev_rev, round(a12, 6) + 0 AS a_rev_cnt,
       round(a21, 6) + 0 AS a_cnt_rev, round(a22, 6) + 0 AS a_cnt_cnt,
       round(CASE WHEN disc >= 0
                  THEN greatest(abs((tr + sqrt(disc)) / 2),
                                abs((tr - sqrt(disc)) / 2))
                  ELSE sqrt(det) END, 6) AS spectral_radius,
       CAST(CASE WHEN (CASE WHEN disc >= 0
                            THEN greatest(abs((tr + sqrt(disc)) / 2),
                                          abs((tr - sqrt(disc)) / 2))
                            ELSE sqrt(det) END) < 1
                 THEN 1 ELSE 0 END AS BIGINT) AS var_stable
FROM eig
"""


@query(
    "ts_var_stability",
    "§2.24 VAR(1) system fit + spectral-radius stability for (revenue, orders)",
    _VAR_SQL.format(prev="b.d + INTERVAL 1 DAY"),
)
def ts_var_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAR(1) on the daily (revenue, order-count) pair: the SYSTEM
    view that ts_granger_causality tests one direction of — the 2x2
    coefficient matrix says how much each series' today loads on
    BOTH series' yesterday, and the companion spectral radius < 1 is
    the textbook whole-system stationarity gate (complex pair:
    |lambda| = sqrt(det), documented).  Each equation is a Cramer
    2-regressor OLS from exact DECIMAL moments over calendar-
    consecutive pairs (the adf_augmented chassis; demeaned via n-
    scaled cross moments so no division precedes the close); the
    eigenvalues are closed-form trace/determinant algebra on a 1-row
    scalar.

    Shape at any SF: one orders scan to the daily table; one
    calendar self-join on O(days) rows; 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_VAR_SQL.format(prev="date_add(b.d, 1)"))


# Closed-form 2-feature PCA: eigenstructure of the (quantity, price)
# covariance without iteration — llm_embedding_top_pc needs power
# iteration for 64 dims; at p = 2 the eigenpair is exact algebra:
# lambda = mean +/- sqrt(((vq-vp)/2)^2 + c^2), angle = atan2.  The
# explained-variance ratio and the principal angle are THE two
# numbers a correlation scatter is usually summarized by.
_PCA2_SQL = """
WITH obs AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(q AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sq,
         CAST(sum(CAST(p AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sp,
         CAST(sum(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sqq,
         CAST(sum(CAST(p AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS spp,
         CAST(sum(CAST(q AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sqp
  FROM obs
),
cov AS (
  SELECT n,
         (n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
           / (CAST(n AS DOUBLE) * n) AS vq,
         (n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
           / (CAST(n AS DOUBLE) * n) AS vp,
         (n * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
           / (CAST(n AS DOUBLE) * n) AS c
  FROM m
),
eig AS (
  SELECT n, vq, vp, c,
         (vq + vp) / 2 + sqrt((vq - vp) * (vq - vp) / 4 + c * c) AS l1,
         (vq + vp) / 2 - sqrt((vq - vp) * (vq - vp) / 4 + c * c) AS l2
  FROM cov
)
SELECT n AS n_rows,
       round(l1 / (l1 + l2), 6) AS explained_ratio_pc1,
       round(atan2(l1 - vq, c), 6) AS principal_angle_rad,
       round(sqrt(l1) / 100, 4) AS pc1_sd_dollars,
       round(sqrt(l2), 4) AS pc2_sd_mixed,
       round(c / sqrt(vq * vp), 6) AS corr_qp
FROM eig
"""


@query(
    "stats_pca_closed_form",
    "§2.24 closed-form 2-feature PCA of (quantity, extendedprice)",
    _PCA2_SQL,
)
def stats_pca_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-feature PCA of line-item (quantity, price): at p = 2
    the eigenstructure is closed-form algebra on the covariance —
    lambda = (vq+vp)/2 +/- sqrt(((vq-vp)/2)^2 + c^2), principal
    angle atan2(l1 - vq, c) — no power iteration, no convergence
    tolerance (the contrast with llm_embedding_top_pc's 64-dim
    iterative path is the point: BELOW 3 dims you should never
    iterate).  Population covariance from exact DECIMAL moments
    (documented); everything after is a fixed-order 1-row double.
    Explained-variance ratio and correlation report beside the
    angle.

    Shape at any SF: one lineitem scan, map-side partial moment agg;
    1-row finish.  100 TB costs the one fact scan."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_PCA2_SQL)


# ---------------------------------------------------------------------------
# Round-14 wave 12: BDS independence/nonlinearity test and Cucconi's
# joint location-scale rank test.

# BDS (Brock-Dechert-Scheinkman): after the linear diagnostics
# (ts_ljung_box autocorrelation, ts_adf_augmented unit root,
# ts_variance_ratio horizons), is there ANY remaining dependence —
# including purely NONLINEAR structure none of them can see?  The
# test compares the m=2 correlation integral C_2(eps) against the
# independence prediction C_1(eps)^2; embedded points live on the
# calendar-bounded daily grid, so the O(days^2) pair counting is the
# dcor-style constant-cost plan.  Exact algebra: eps is ONE snapped
# integer (population-sd of cents via exact moments, round to
# bigint), every pair/triple count is an exact integer (K's triple
# term reduces to per-point neighbor counts: sum d_j^2 - sum d_j),
# and for m=2 the published variance collapses to sigma^2 =
# 4(K - C^2)^2, so w = sqrt(N)(C_2 - C^2)/(2(K - C^2)) closes from
# five exact integers.  Embedding uses the observed-sequence index
# (the ts_higuchi_fd convention, documented).
_BDS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, cents AS y FROM daily
),
emb AS (
  SELECT a.t, a.y AS y0, b.y AS y1
  FROM idx a JOIN idx b ON b.t = a.t + 1
),
ep AS (
  SELECT CAST(count(*) AS BIGINT) AS nn,
         CAST(round(sqrt(
           (count(*) * CAST(sum(CAST(y0 AS DECIMAL(19,0))
                                * CAST(y0 AS DECIMAL(19,0))) AS DOUBLE)
            - CAST(sum(CAST(y0 AS DECIMAL(19,0))) AS DOUBLE)
              * CAST(sum(CAST(y0 AS DECIMAL(19,0))) AS DOUBLE))
           / (CAST(count(*) AS DOUBLE) * count(*)))) AS BIGINT) AS eps
  FROM emb
),
cnt AS (
  SELECT a.t AS s,
         CAST(sum(CASE WHEN a.t <> b.t
                            AND abs(a.y0 - b.y0) <= ep.eps
                       THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN a.t <> b.t
                            AND abs(a.y0 - b.y0) <= ep.eps
                            AND abs(a.y1 - b.y1) <= ep.eps
                       THEN 1 ELSE 0 END) AS BIGINT) AS d2
  FROM (SELECT /*+ REPARTITION(32, t) */ * FROM emb) a
  JOIN emb b ON true CROSS JOIN ep
  GROUP BY a.t
),
agg AS (
  SELECT max(ep.nn) AS nn, max(ep.eps) AS eps,
         CAST(sum(c.d1) AS BIGINT) AS p1,
         CAST(sum(c.d2) AS BIGINT) AS p2,
         CAST(sum(CAST(c.d1 AS DECIMAL(19,0)) * CAST(c.d1 AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS dd
  FROM cnt c CROSS JOIN ep
),
fin AS (
  SELECT nn, eps,
         CAST(p1 AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)) AS c1,
         CAST(p2 AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)) AS c2,
         (CAST(dd AS DOUBLE) - CAST(p1 AS DOUBLE))
           / (CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2)) AS kk
  FROM agg
)
SELECT nn AS n_embedded, eps AS eps_cents,
       round(c1, 6) AS c1_integral,
       round(c2, 6) AS c2_integral,
       round(kk, 6) AS k_integral,
       round(sqrt(CAST(nn AS DOUBLE)) * (c2 - c1 * c1)
             / (2 * (kk - c1 * c1)), 4) AS bds_w,
       CAST(CASE WHEN abs(sqrt(CAST(nn AS DOUBLE)) * (c2 - c1 * c1)
                          / (2 * (kk - c1 * c1))) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_iid_95
FROM fin
"""


@query(
    "ts_bds_test",
    "§2.24 BDS independence test (m=2 correlation integral) on daily revenue",
    _BDS_SQL,
)
def ts_bds_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BDS test: does daily revenue carry ANY remaining dependence —
    linear or NONLINEAR — that the correlation-based diagnostics
    (ts_ljung_box, ts_adf_augmented, ts_variance_ratio) are blind
    to?  Under iid, the m=2 correlation integral factorizes:
    C_2(eps) = C_1(eps)^2; the BDS w statistic standardizes the gap
    with the published variance, which at m=2 collapses to
    4(K - C^2)^2 (the triple integral K reduces to per-point
    neighbor counts sum d^2 - sum d — no cubic pass).  eps is one
    population-sd integer snapped from exact moments; every count is
    an exact integer on the calendar-bounded embedded grid, so both
    engines agree bit-for-bit before the one double close.
    Embedding on the observed-sequence index, <= eps inclusion, both
    documented conventions.

    Shape at any SF: one orders scan to the daily table; one
    O(days^2) pair count under the dcor REPARTITION treatment
    (constant-cost, plan-bounded); 1-row finish."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_BDS_SQL)


# Cucconi (1968): the OTHER joint location-scale rank test — predates
# Lepage, uses squared ranks and squared CONTRARY ranks instead of a
# sum of two separate statistics, and its asymptotic null is exactly
# exponential: P(C > c) = e^-c, so the 5% critical value is the
# closed form -ln(0.05).  The classic benchmarking pair with
# stats_lepage_test in the joint-alternative literature (documented);
# U and V share every moment constant, and rho(N) is a rational
# polynomial.  Midranks via the chassis's doubled prefixes; the
# squared-rank sum S cv*r2^2 is exact DECIMAL (quarter factors fold
# into the close); no-tie moment constants with midranks is the
# documented convention (Cucconi's original form).
_CUCCONI_CLOSE_SQL = """
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cv) AS BIGINT) AS n2,
         CAST(sum(ca) + sum(cv) AS BIGINT) AS n
  FROM {cum}
),
m AS (
  SELECT
    CAST(sum(CAST(cv AS DECIMAL(19,0))
             * CAST(2 * prev_total + g + 1 AS DECIMAL(19,0))
             * CAST(2 * prev_total + g + 1 AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sr2,
    CAST(sum(CAST(cv AS DECIMAL(19,0))
             * CAST(2 * t.n + 2 - (2 * prev_total + g + 1) AS DECIMAL(19,0))
             * CAST(2 * t.n + 2 - (2 * prev_total + g + 1) AS DECIMAL(19,0)))
         AS DECIMAL(38,0)) AS sc2
  FROM {cum} c CROSS JOIN tot t
),
z AS (
  SELECT t.n1, t.n2, t.n,
         (6 * CAST(m.sr2 AS DOUBLE) / 4
          - t.n2 * (t.n + 1.0) * (2 * t.n + 1))
           / sqrt(CAST(t.n1 AS DOUBLE) * t.n2 * (t.n + 1)
                  * (2.0 * t.n + 1) * (8.0 * t.n + 11) / 5) AS u,
         (6 * CAST(m.sc2 AS DOUBLE) / 4
          - t.n2 * (t.n + 1.0) * (2 * t.n + 1))
           / sqrt(CAST(t.n1 AS DOUBLE) * t.n2 * (t.n + 1)
                  * (2.0 * t.n + 1) * (8.0 * t.n + 11) / 5) AS v,
         2.0 * (CAST(t.n AS DOUBLE) * t.n - 4)
           / ((2.0 * t.n + 1) * (8.0 * t.n + 11)) - 1 AS rho
  FROM tot t CROSS JOIN m
)
SELECT n1 AS n_a, n2 AS n_b,
       round(u, 4) AS u_sqrank,
       round(v, 4) AS v_contrary,
       round(rho, 6) AS rho_uv,
       round((u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho)), 4)
         AS cucconi_c,
       round(-ln(0.05), 4) AS crit_5pct,
       CAST(CASE WHEN (u * u + v * v - 2 * rho * u * v)
                      / (2 * (1 - rho * rho)) > -ln(0.05)
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM z
"""


@query(
    "stats_cucconi_test",
    "§2.24 Cucconi squared-ranks joint location-scale test (purchase vs click)",
    "WITH " + _two_sample_cum_sql("purchase", "click") + ","
    + _CUCCONI_CLOSE_SQL.format(cum="cum"),
)
def stats_cucconi_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi's test: the 1968 joint location-scale statistic that
    PREDATES Lepage and takes the other road — squared ranks U and
    squared contrary ranks V, combined through their exact
    correlation rho(N), with an asymptotic null that is EXACTLY
    exponential (P(C > c) = e^-c, so crit = -ln 0.05 in closed
    form).  Registered beside stats_lepage_test deliberately: the
    two are the standard benchmarking pair for joint alternatives,
    and disagreement between them localizes WHERE the joint
    difference lives.  Doubled midranks from the chassis keep the
    squared-rank sums exact DECIMAL; the no-tie moment constants
    over midranks are Cucconi's documented convention.

    Shape at any SF: one events scan to distinct micro-values,
    bucketed two-phase prefix sums, one moment agg; 1-row finish."""
    cum = _two_sample_cum_df(spark, sf_dir, "purchase", "click")
    cum.createOrReplaceTempView("r14_cucconi_cum")
    return spark.sql(
        "WITH " + _CUCCONI_CLOSE_SQL.format(cum="r14_cucconi_cum")
    )
