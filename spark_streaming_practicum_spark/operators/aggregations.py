"""Aggregation operators (SURVEY.md §2C "Aggregations", §2B B2/B3).

All hash aggregates with map-side partial aggregation (Spark plans
``HashAggregate(partial) -> Exchange -> HashAggregate(final)`` — the
scalable shape for 100 TB: only group-key cardinality crosses the wire).

Float SUM/AVG go through exact decimal accumulation (functions/aggs.py)
so results are bit-identical to the DuckDB oracle regardless of
summation order — no rounding fudge anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.aggs import davg, davg_sql, dsum, dsum_sql
from ..registry import query
from ..functions.ranks import persisted as _persisted


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')}                                           AS sum_qty,
           {dsum_sql('l_extendedprice')}                                      AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')}                   AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}     AS sum_charge,
           {davg_sql('l_quantity')}                                           AS avg_qty,
           {davg_sql('l_extendedprice')}                                      AS avg_price,
           {davg_sql('l_discount')}                                           AS avg_disc,
           COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (flagship).

    scan -> pushed filter -> partial/final hash agg. At 100 TB the only
    shuffle is |groups| rows wide (here 4-6 groups).
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_multi_measure",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*)                       AS n_orders,
           {dsum_sql('o_totalprice')}     AS sum_price,
           {davg_sql('o_totalprice')}     AS avg_price,
           MIN(o_totalprice)              AS min_price,
           MAX(o_totalprice)              AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_multi_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure hash aggregate (sum/avg/min/max/count) per key."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
            davg("o_totalprice").alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (expand + two-phase agg)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_exact,
           TRUE AS within_3rsd
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB-scale path where exact
    distinct would shuffle every key.

    The estimate itself is estimator-specific (Spark HLL++ vs anything
    else), so the oracled output is the INVARIANT: the exact count plus a
    boolean asserting the estimate landed within 3x the requested relative
    standard deviation. The exact side exists only to certify the bound —
    at 100 TB you'd ship the estimate alone."""
    approx = F.approx_count_distinct("l_partkey", rsd=0.02)
    exact = F.countDistinct("l_partkey")
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx.alias("approx_parts"), exact.alias("n_exact"))
        .select(
            "l_returnflag",
            "n_exact",
            (
                F.abs(F.col("approx_parts") - F.col("n_exact"))
                <= F.greatest(F.lit(3.0), 0.06 * F.col("n_exact"))
            ).alias("within_3rsd"),
        )
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*)                    AS n,
           {dsum_sql('l_quantity')}    AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (Expand -> hash agg)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*)                     AS n,
           {dsum_sql('o_totalprice')}   AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("sum_price"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@query(
    "agg_filtered",
    oracle=f"""
    SELECT l_linestatus,
           COUNT(*) FILTER (WHERE l_discount > 0.05)                           AS n_discounted,
           {dsum_sql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice END")} AS returned_price,
           {dsum_sql('CASE WHEN l_tax > 0.04 THEN l_quantity ELSE 0 END')}     AS taxed_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation (single scan, no self-join)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        dsum(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))).alias(
            "returned_price"
        ),
        dsum(
            F.when(F.col("l_tax") > 0.04, F.col("l_quantity")).otherwise(F.lit(0.0))
        ).alias("taxed_qty"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        )
        .filter(F.col("n_orders") >= 3)
    )


@query(
    "agg_global_no_groups",
    oracle=f"""
    SELECT COUNT(*)                          AS n,
           COUNT(DISTINCT l_orderkey)        AS n_orders,
           {dsum_sql('l_extendedprice')}     AS sum_price,
           {davg_sql('l_discount')}          AS avg_disc
    FROM lineitem
    """,
)
def agg_global_no_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (grand-total) aggregate — B2 `SELECT count(*)` generalized."""
    return table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_discount").alias("avg_disc"),
    )


@query(
    "agg_q6_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan + global agg — the
    pushdown showcase (all four predicates reach the parquet reader)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "agg_q18_large_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150)
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    """,
)
def agg_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-filter subquery (large orders) joined
    back to the fact — agg-before-join keeps the semi-join input narrow."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double").alias("total_qty"))
    )


@query(
    "agg_hll_partitioned_merge",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__', COUNT(DISTINCT user_id), TRUE FROM events
    """,
)
def agg_hll_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch architecture (Apache DataSketches HLL, built into
    Spark 3.5+): one compact sketch of distinct users per event_type,
    then a union-merge into the corpus-wide estimate — per-type rows
    plus an '__all__' row, union of two branches over the SAME grouped
    sketches.

    This is the 100 TB pattern for COUNT(DISTINCT) rollups: each
    partition/group reduces to a few-KB sketch, re-aggregation at any
    grouping level merges sketches instead of re-scanning raw data (the
    exact count_distinct needs a full shuffle of every distinct key per
    grouping level). Estimates are algorithm-specific, so the oracled
    output is the INVARIANT: exact distinct count plus a boolean
    asserting the merged-sketch estimate is within 3x the lgK=14 relative
    error (~0.8%); the raw bound is additionally asserted in
    tests/test_northstar_properties.py."""
    e = table(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    per_type = sk.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    merged = sk.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    estimates = per_type.unionAll(merged)

    exact_per_type = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    exact_all = e.agg(F.countDistinct("user_id").alias("n_exact")).select(
        F.lit("__all__").alias("event_type"), "n_exact"
    )
    exact = exact_per_type.unionAll(exact_all)
    return estimates.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("approx_users") - F.col("n_exact"))
            <= F.greatest(F.lit(3.0), 0.025 * F.col("n_exact"))
        ).alias("within_bound"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT)                AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT)                AS g_status,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)  AS gid,
           COUNT(*)                                              AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING / GROUPING_ID markers on a rollup: the bitmask that lets
    a consumer tell a real NULL group from a subtotal row — required
    for any BI layer on top of multi-level aggregates. Same Expand +
    two-phase hash-agg plan as the plain rollup."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_count_distinct_salted",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_count_distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) with an explicit two-level salted plan —
    the skew-buster for a hot group key, result-identical to the plain
    distinct aggregate (the oracle IS the plain form).

    Level 1 groups by (key, salt(value)) and dedups values inside each
    of 16 salt shards; level 2 sums the shard cardinalities. A hot key
    that would hash every distinct value into ONE reducer now spreads
    across 16, and the salt is derived from the VALUE (hash % 16) so
    the same value always lands in the same shard — no double counting,
    exactness preserved. This is what Spark's own
    spark.sql.optimizer.distinctBeforeIntersect / AQE skew handling
    can't do for distinct aggregates; at 100 TB it's the difference
    between one straggler task and an even fan-out."""
    o = table(spark, sf_dir, "orders")
    shards = (
        o.select(
            "o_orderpriority",
            "o_custkey",
            (F.xxhash64(F.col("o_custkey")) % 16).alias("salt"),
        )
        .groupBy("o_orderpriority", "salt")
        .agg(F.countDistinct("o_custkey").alias("shard_n"))
    )
    return (
        shards.groupBy("o_orderpriority")
        .agg(F.sum("shard_n").cast("long").alias("n_customers"))
        .orderBy("o_orderpriority")
    )


@query(
    "histogram_equidepth",
    oracle="""
    WITH b AS (
        SELECT value,
               NTILE(8) OVER (ORDER BY value, event_id) AS bucket
        FROM events)
    SELECT bucket, COUNT(*) AS n,
           ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
    FROM b GROUP BY bucket
    ORDER BY bucket
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram: 8 buckets with equal row
    counts and data-driven boundaries — what optimizers and data
    profilers store for selectivity estimation on skewed columns, where
    equi-WIDTH buckets collapse into one hot bin.

    The bucket assignment is exact NTILE semantics but NOT the
    single-partition window a bare ``ntile() OVER (ORDER BY ...)``
    plans: ranks come from the two-pass range-partition + offset scheme
    in functions/ranks.py (every pass parallel, driver state = P
    integers), and the (value, event_id) total order keeps ties
    deterministic so the oracle comparison is stable. At 100 TB the
    exact rank pass can still be swapped for percentile_approx
    boundaries (fixed-size sketch, one pass) when the error bound is an
    acceptable trade."""
    from ..functions.ranks import global_row_number, ntile_from_rank

    e = table(spark, sf_dir, "events")
    ranked, n = global_row_number(
        e.select("value", "event_id"), [F.col("value"), F.col("event_id")]
    )
    b = ranked.select(
        "value", ntile_from_rank(F.col("global_rn"), n, 8).alias("bucket")
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "rolling_wau_hll",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS wau_exact
            FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
            GROUP BY d.day)
    SELECT d.day, dau.dau, wau.wau_exact, TRUE AS within_bound
    FROM days d JOIN dau USING (day) JOIN wau USING (day)
    """,
)
def rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + 7-day rolling WAU, with the rolling distinct computed from
    MERGEABLE HLL sketches: one sketch of each day's users, then a
    7-row sliding ``hll_union_agg`` window over the per-day frame.

    This is how rolling-distinct dashboards survive 100 TB: the raw
    stream reduces once to a few-KB sketch per day, and every rolling
    window (7-day, 28-day, ...) is a union of 7 sketches — no re-scan
    of a week of raw events per day, ever. The window runs on the
    calendar-bounded per-day frame (<=366 rows/yr), not on raw data.
    The exact WAU certifying the estimate maps each distinct
    (day, user) to its 7 contributing grid days via a bounded explode
    (never a range nested-loop) and re-counts distinct per grid day.
    The sketch union runs under a RANGE window on the integer day
    number, not ROWS(-6,0): a ROWS frame spans 7 *present* rows, so a
    calendar gap (a day with zero events) would silently widen the
    union past 7 calendar days and break parity with the
    calendar-bounded exact side. Sketch estimates are
    algorithm-specific, so the oracled output is the INVARIANT: exact
    DAU/WAU plus the error-envelope boolean."""
    e = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    daily = e.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("dau"),
    )
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    est = daily.select(
        "day", "dau", F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("wau_est")
    )
    du = e.distinct()
    contrib = du.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("gday"),
    )
    exact = (
        contrib.join(daily.select(F.col("day").alias("gday")), "gday")
        .groupBy("gday")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
        .withColumnRenamed("gday", "day")
    )
    return est.join(exact, "day").select(
        "day",
        "dau",
        "wau_exact",
        (
            F.abs(F.col("wau_est") - F.col("wau_exact"))
            <= F.greatest(F.lit(3.0), 0.025 * F.col("wau_exact"))
        ).alias("within_bound"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through mergeable bitmaps (Spark 3.5+
    bitmap_* functions) — the third point on the distinct-count design
    space after exact shuffle (agg_count_distinct) and approximate HLL
    (agg_approx_count_distinct): exact AND re-aggregatable.

    Integer ids partition into 32k-bit buckets; each shard (here a
    deliberate user_id%2 split standing in for partitions/days) builds
    its own bucket bitmaps, ``bitmap_or_agg`` merges shards without
    information loss, and distinct = sum of bucket popcounts. At 100 TB
    this is the rollup-friendly exact distinct: per-day bitmaps merge
    into week/month counts by OR alone — no re-scan, no rank-1 error
    like sketches. The oracle is the plain exact distinct: bitmap math
    must agree exactly."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("shard"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    shard_maps = e.groupBy("event_type", "shard", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    merged = shard_maps.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return (
        merged.select("event_type", F.expr("bitmap_count(bm)").alias("c"))
        .groupBy("event_type")
        .agg(F.sum("c").alias("n_distinct"))
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority, o_orderstatus)
    SELECT o_orderpriority, o_orderstatus AS mode_status, n AS n_mode
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY n DESC, o_orderstatus ASC) AS rn
          FROM c)
    WHERE rn = 1
    ORDER BY o_orderpriority
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: built-in ``mode()`` breaks ties
    arbitrarily (engine- and partitioning-dependent — useless for
    parity or reruns), so the modal value is derived explicitly: count
    per (group, value), then rank by (count DESC, value ASC). The
    ranking window runs on the |groups x values| aggregate (15 rows
    here), never the facts — the corpus is reduced by the first hash
    aggregate regardless of scale."""
    c = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), F.col("o_orderstatus").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("n").alias("n_mode"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_regression_fns",
    oracle="""
    SELECT l_linestatus,
           regr_count(l_extendedprice, l_quantity)              AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r2
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_regression_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard linear-regression aggregates (regr_slope /
    regr_intercept / regr_r2 / regr_count): the one-pass OLS fit both
    engines define identically (population covariance over population
    variance), computed inside the same two-phase hash aggregate as any
    SUM — no gradient loop needed for a single-feature fit."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.expr("regr_count(l_extendedprice, l_quantity)").alias("n"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 6).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
    )


@query(
    "agg_higher_moments",
    oracle="""
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(value * value * value AS DECIMAL(38,6))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(value * value * value * value AS DECIMAL(38,6))) AS DOUBLE) AS s4
        FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND(s1 / n, 6) AS mean,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
                 - 3, 6) AS excess_kurtosis
    FROM s
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group from EXACT
    power sums: the built-in skewness()/kurtosis() accumulate floats in
    partition order (and engines disagree on bias correction), so the
    moments are derived from DECIMAL-accumulated S1..S4 with the
    explicit central-moment identities — bit-identical across engines
    and partitionings. Still one two-phase hash aggregate: four extra
    sum slots, not four extra passes — the standard trick for any
    moment-based statistic at scale."""
    e = table(spark, sf_dir, "events")
    v = F.col("value")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        F.sum((v * v * v).cast("decimal(38,6)")).cast("double").alias("s3"),
        F.sum((v * v * v * v).cast("decimal(38,6)")).cast("double").alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * (F.col("s2") / F.col("n")) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    return s.select(
        "event_type",
        "n",
        F.round(mu, 6).alias("mean"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("excess_kurtosis"),
    )


@query(
    "distinct_methods_comparison",
    oracle="""
    WITH ex AS (SELECT COUNT(DISTINCT user_id) AS n FROM events)
    SELECT 'exact_shuffle' AS method, ex.n AS estimate,
           CAST(1.0 AS DOUBLE) AS est_ratio_1dp, TRUE AS within_2pct
    FROM ex
    UNION ALL
    SELECT 'bitmap_popcount', ex.n, 1.0, TRUE FROM ex
    UNION ALL
    SELECT 'hll_sketch', NULL, 1.0, TRUE FROM ex
    ORDER BY method
    """,
)
def distinct_methods_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-count design space on ONE column, side by side:
    exact shuffle (countDistinct), exact-mergeable bitmaps
    (bitmap bucket popcounts), and the HLL sketch — the three plans a
    100 TB engine chooses between by rollup needs and error budget.

    Oracled invariant: bitmap MUST equal exact bit-for-bit (both are
    exact — the oracle pins estimate = exact for it), and the HLL
    estimate must sit within 2%. The HLL row's ``estimate`` is NULL
    (its raw value is algorithm-specific, so a hashed column cannot
    carry it; round 2 substituted the exact count, which made the
    column vacuous) — instead ``est_ratio_1dp`` surfaces the REAL
    estimate coarse-bucketed as round(est/exact, 1), which the 2%
    invariant pins to exactly 1.0, keeping the value oracle-
    comparable while actually derived from the estimator output. One
    scan feeds all three aggregates via three branches over the same
    cached projection."""
    e = table(spark, sf_dir, "events").select("user_id").transform(_persisted)
    exact = e.agg(F.countDistinct("user_id").alias("n"))
    bitmap = (
        e.select(
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("nb"))
    )
    hll = e.agg(F.expr("approx_count_distinct(user_id, 0.005)").alias("nh"))
    j = exact.crossJoin(F.broadcast(bitmap)).crossJoin(F.broadcast(hll))
    out = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact_shuffle").alias("method"),
                    F.col("n").alias("estimate"),
                    F.round(F.col("n") / F.col("n"), 1).alias("est_ratio_1dp"),
                    F.lit(True).alias("within_2pct"),
                ),
                F.struct(
                    F.lit("bitmap_popcount").alias("method"),
                    F.col("nb").alias("estimate"),
                    F.round(F.col("nb") / F.col("n"), 1).alias("est_ratio_1dp"),
                    (F.col("nb") == F.col("n")).alias("within_2pct"),
                ),
                F.struct(
                    F.lit("hll_sketch").alias("method"),
                    # raw sketch value is algorithm-specific -> NULL in
                    # the hashed column; est_ratio_1dp carries the real
                    # estimate coarse-bucketed (1.0 iff within ~2%)
                    F.lit(None).cast("long").alias("estimate"),
                    F.round(F.col("nh") / F.col("n"), 1).alias("est_ratio_1dp"),
                    (F.abs(F.col("nh") - F.col("n")) <= 0.02 * F.col("n")).alias(
                        "within_2pct"
                    ),
                ),
            )
        ).alias("r")
    ).select(
        "r.method", "r.estimate", "r.est_ratio_1dp", "r.within_2pct"
    ).orderBy("method")
    return out


@query(
    "agg_partial_correlation",
    oracle="""
    WITH s AS (
        SELECT corr(l_extendedprice, l_quantity) AS r_xy,
               corr(l_extendedprice, l_discount) AS r_xz,
               corr(l_quantity, l_discount) AS r_yz
        FROM lineitem)
    SELECT ROUND(r_xy, 6) AS corr_price_qty,
           ROUND(r_xz, 6) AS corr_price_disc,
           ROUND(r_yz, 6) AS corr_qty_disc,
           ROUND((r_xy - r_xz * r_yz)
                 / (SQRT(1 - r_xz * r_xz) * SQRT(1 - r_yz * r_yz)), 6)
               AS partial_price_qty_given_disc
    FROM s
    """,
)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix of three measures in ONE aggregate,
    plus the partial correlation r(price, qty | discount) — 'does the
    price-quantity relation survive controlling for discount?', the
    confounder check that raw corr can't answer. All three corr slots
    ride the same two-phase hash aggregate; the partial is closed-form
    arithmetic on the 1-row result."""
    s = table(spark, sf_dir, "lineitem").agg(
        F.corr("l_extendedprice", "l_quantity").alias("r_xy"),
        F.corr("l_extendedprice", "l_discount").alias("r_xz"),
        F.corr("l_quantity", "l_discount").alias("r_yz"),
    )
    partial = (F.col("r_xy") - F.col("r_xz") * F.col("r_yz")) / (
        F.sqrt(1 - F.col("r_xz") * F.col("r_xz"))
        * F.sqrt(1 - F.col("r_yz") * F.col("r_yz"))
    )
    return s.select(
        F.round("r_xy", 6).alias("corr_price_qty"),
        F.round("r_xz", 6).alias("corr_price_disc"),
        F.round("r_yz", 6).alias("corr_qty_disc"),
        F.round(partial, 6).alias("partial_price_qty_given_disc"),
    )


@query(
    "agg_group_logsumexp",
    oracle="""
    WITH mx AS (
        SELECT event_type, MAX(value) AS vmax, COUNT(*) AS n
        FROM events GROUP BY event_type),
    s AS (
        SELECT e.event_type,
               CAST(SUM(CAST(EXP(e.value - m.vmax) AS DECIMAL(38,12)))
                    AS DOUBLE) AS sexp
        FROM events e JOIN mx m USING (event_type)
        GROUP BY e.event_type)
    SELECT mx.event_type, CAST(mx.n AS BIGINT) AS n,
           ROUND(mx.vmax, 6) AS vmax,
           ROUND(mx.vmax + LN(s.sexp), 6) AS logsumexp,
           ROUND(mx.vmax + LN(s.sexp) - LN(mx.n), 6) AS log_mean_exp
    FROM mx JOIN s USING (event_type)
    ORDER BY event_type
    """,
)
def agg_group_logsumexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically-stable distributed LOGSUMEXP per group — the
    normalization constant behind every softmax / attention /
    log-likelihood aggregation: lse = max + log(sum(exp(x - max))).
    Naive sum(exp(x)) overflows once logits exceed ~709; subtracting
    the group max first keeps every exponent <= 0, which is why this
    is THE way scores aggregate in LLM eval pipelines
    (log_mean_exp additionally gives the log of the mean likelihood).

    Two passes, both parallel: a max/count aggregate, broadcast back
    onto the rows, then one sum aggregate. exp(x - max) lands in
    (0, 1], so the DECIMAL(38,12) accumulation is exact and
    order-independent — both engines produce the identical constant,
    which a raw double sum would not guarantee."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    mx = e.groupBy("event_type").agg(
        F.max("value").alias("vmax"), F.count(F.lit(1)).alias("n")
    )
    s = (
        e.join(F.broadcast(mx), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.exp(F.col("value") - F.col("vmax")).cast("decimal(38,12)"))
            .cast("double")
            .alias("sexp")
        )
    )
    lse = F.col("vmax") + F.log(F.col("sexp"))
    return (
        mx.join(s, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round("vmax", 6).alias("vmax"),
            F.round(lse, 6).alias("logsumexp"),
            F.round(lse - F.log(F.col("n")), 6).alias("log_mean_exp"),
        )
        .orderBy("event_type")
    )


# --- time-decayed leaderboard ------------------------------------------------

_DECAY_CAP = 40  # days; weights below 2^-40 round to zero anyway


@query(
    "agg_time_decayed_leaderboard",
    oracle=f"""
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS m FROM events),
    w AS (
        SELECT event_type,
               CAST(1 AS BIGINT) << ({_DECAY_CAP} - LEAST(
                   datediff('day', CAST(ts AS DATE), (SELECT m FROM mx)),
                   {_DECAY_CAP})) AS wt
        FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(wt) AS BIGINT) AS decayed_weight,
           ROUND(SUM(wt) / POW(2.0, {_DECAY_CAP}), 6) AS decayed_score
    FROM w
    GROUP BY event_type
    ORDER BY decayed_weight DESC, event_type ASC
    """,
)
def agg_time_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event leaderboard (half-life 1 day)
    — the "what's hot NOW" aggregate behind trending dashboards, in a
    form that is EXACT and engine-portable: the per-event weight
    2^-(days_old) is a dyadic rational, computed as the INTEGER
    2^({_DECAY_CAP} - days) via a bit shift and summed as a plain
    BIGINT — no libm pow in the aggregate, so there is no float
    summation order or last-ulp divergence to paper over; the float
    division by 2^{_DECAY_CAP} happens once per output row, after the
    aggregation. Weights older than {_DECAY_CAP} days clamp to 1
    (contribution below the display rounding anyway).

    One scan, one map-side shift, one 5-group aggregate; the max-date
    is a 1-row broadcast. The same construction gives an exact
    mergeable decayed counter for any power-of-2 decay at any scale
    (incremental refresh: multiply the old counter by the elapsed-day
    shift and add the new day's integer sum)."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("m"))
    w = (
        e.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            # shiftleft needs a literal shift; pow(2, k) for integer
            # k <= 52 is IEEE-exact, so the long cast is lossless
            F.pow(
                F.lit(2.0),
                _DECAY_CAP
                - F.least(
                    F.datediff(F.col("m"), F.col("ts").cast("date")),
                    F.lit(_DECAY_CAP),
                ),
            )
            .cast("long")
            .alias("wt"),
        )
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("wt").cast("bigint").alias("decayed_weight"),
        )
        .select(
            "event_type",
            "n_events",
            "decayed_weight",
            F.round(F.col("decayed_weight") / F.pow(2.0, _DECAY_CAP), 6).alias(
                "decayed_score"
            ),
        )
        .orderBy(F.col("decayed_weight").desc(), F.col("event_type").asc())
    )


@query(
    "agg_weighted_median_groups",
    oracle="""
    WITH pre AS (
        SELECT l_returnflag AS flag, l_extendedprice AS price,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) AS w
        FROM lineitem GROUP BY 1, 2),
    c AS (
        SELECT flag, price,
               SUM(w) OVER (PARTITION BY flag ORDER BY price ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(w) OVER (PARTITION BY flag) AS tot
        FROM pre)
    SELECT flag, MIN(price) AS weighted_median
    FROM c WHERE cum + cum >= tot GROUP BY flag
    """,
)
def agg_weighted_median_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of extended price per return flag:
    the smallest price whose cumulative weight reaches half the group
    total.

    Scale shape: a pre-aggregate collapses the fact stream to one row
    per (group, distinct price) BEFORE any sort — map-side combine does
    most of the work — then the cumulative window sorts only the
    collapsed distinct-value relation per group. Weights ride exact
    DECIMAL(38,6) and the half-total test is `cum + cum >= tot`
    (addition, not division) so both engines decide the crossing row
    bit-identically."""
    li = table(spark, sf_dir, "lineitem")
    pre = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("w"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy(F.col("price").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    c = pre.select(
        "flag",
        "price",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_tot).alias("tot"),
    )
    return (
        c.filter(F.col("cum") + F.col("cum") >= F.col("tot"))
        .groupBy("flag")
        .agg(F.min("price").alias("weighted_median"))
    )
