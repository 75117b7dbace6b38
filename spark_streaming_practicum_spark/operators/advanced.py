"""Advanced relational surface: pivot/unpivot, as-of join, correlated and
IN subqueries, MERGE-style upsert emulation, exact percentiles, ordered
array aggregation, date arithmetic, extended window functions.

These round out SURVEY.md §2C beyond the basic families — the shapes a
user of the reference's DuckDB query layer would reach for next, each
with the idiomatic (and scale-safe) Spark formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.ranks import persisted as _persisted
from ..functions.textfns import poly_hash
from ..registry import query
from ..sources.batch import local_frame

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_event_counts",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event counts, one column per event type (explicit
    value list so no extra distinct-values job at scale)."""
    e = table(spark, sf_dir, "events")
    p = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


@query(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) three measures into (metric, value) long form."""
    li = table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "l_quantity", "quantity")
        .when(F.col("metric") == "l_discount", "discount")
        .otherwise("tax"),
    )


@query(
    "asof_join_last_click",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts, c.ts AS last_click_ts,
           CAST(datediff('second', c.ts, p.ts) AS BIGINT) AS gap_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for each purchase, the
    latest click at-or-before it by the same user.

    Implementation: tag clicks/purchases, union, one window pass per
    user ordered by (ts, kind) carrying the running last click ts —
    a single shuffle on user_id, no range-join blowup. Inner-asof
    semantics (purchases with no prior click dropped)."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("kind"), F.lit(None).cast("long").alias("event_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click_ts = F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w)
    return (
        unioned.withColumn("last_click_ts", last_click_ts)
        .filter((F.col("kind") == 1) & F.col("last_click_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            (F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")).alias("gap_s"),
        )
    )


@query(
    "subquery_correlated_scalar",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice >
          (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders above their customer's average
    (Catalyst decorrelates this into an aggregate + join)."""
    return spark.sql(
        f"""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM parquet.`{sf_dir}/orders.parquet` o
        WHERE o.o_totalprice >
              (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               FROM parquet.`{sf_dir}/orders.parquet` o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "subquery_in",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (
        SELECT n_nationkey FROM nation
        WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE')))
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN subqueries (planned as semi joins)."""
    return spark.sql(
        f"""
        SELECT s_suppkey, s_name
        FROM parquet.`{sf_dir}/supplier.parquet`
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM parquet.`{sf_dir}/nation.parquet`
            WHERE n_regionkey IN (
                SELECT r_regionkey FROM parquet.`{sf_dir}/region.parquet`
                WHERE r_name IN ('ASIA', 'EUROPE')))
        """
    )


@query(
    "merge_upsert_emulation",
    oracle="""
    WITH source AS (
        SELECT o_custkey AS custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey)
    SELECT COALESCE(c.c_custkey, s.custkey)                   AS custkey,
           COALESCE(c.c_name, 'UNKNOWN')                      AS name,
           CASE WHEN s.custkey IS NOT NULL THEN s.spend
                ELSE c.c_acctbal END                          AS balance,
           CASE WHEN c.c_custkey IS NULL THEN 'inserted'
                WHEN s.custkey IS NOT NULL THEN 'updated'
                ELSE 'unchanged' END                          AS merge_action
    FROM customer c FULL OUTER JOIN source s ON c.c_custkey = s.custkey
    """,
)
def merge_upsert_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation without a table format: full outer join of
    target (customer) and source (per-customer spend), producing
    updated / inserted / unchanged rows — the batch form of the Iceberg
    MERGE the reference defers (/root/reference/README.md:69-72). With
    Iceberg available this becomes one `MERGE INTO` statement."""
    c = table(spark, sf_dir, "customer")
    s = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("spend"))
    )
    j = c.join(s, c.c_custkey == s.custkey, "full")
    return j.select(
        F.coalesce(c.c_custkey, s.custkey).alias("custkey"),
        F.coalesce(c.c_name, F.lit("UNKNOWN")).alias("name"),
        F.when(s.custkey.isNotNull(), s.spend).otherwise(c.c_acctbal).alias("balance"),
        F.when(c.c_custkey.isNull(), "inserted")
        .when(s.custkey.isNotNull(), "updated")
        .otherwise("unchanged")
        .alias("merge_action"),
    )


@query(
    "percentiles_exact",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 5) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 5) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 5) AS p75
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines implement
    the standard continuous-quantile interpolation)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 5).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 5).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 5).alias("p75"),
    )


@query(
    "percentile_approx_sketch",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median,
           TRUE AS within_rank_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch — the 100 TB path (fixed-size state
    vs. full sort). The sketch value is algorithm-specific, so the oracled
    output is the INVARIANT: the exact median (computed both engines) plus
    a boolean asserting the sketch landed inside the exact [p45, p55] rank
    band — far looser than the sketch's n/accuracy rank guarantee, so
    stable at every scale factor."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.45)").alias("p45"),
            F.expr("percentile(l_extendedprice, 0.55)").alias("p55"),
        )
        .select(
            "l_returnflag",
            F.round("p50", 6).alias("exact_median"),
            F.col("approx_median").between(F.col("p45"), F.col("p55")).alias(
                "within_rank_band"
            ),
        )
    )


@query(
    "array_agg_sorted",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) BETWEEN 2 AND 5
    """,
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation (collect_list is unordered across tasks;
    array_sort makes it deterministic — required at any scale). Emitted
    as a comma-joined string so the result is hashable by value-based
    comparison harnesses; the array itself is the pre-join expression."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("o_orderkey")).cast("array<string>"), ","
            ).alias("orderkeys"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n").between(2, 5))
    )


@query(
    "date_arithmetic",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 3 DAY                      AS plus_3d,
           ts - INTERVAL 90 MINUTE                  AS minus_90m,
           CAST(ts AS DATE) + 7                     AS plus_7d_date,
           CAST(ts AS DATE)                         AS just_date
    FROM events
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp/date interval arithmetic."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("plus_3d"),
        (F.col("ts") - F.expr("INTERVAL 90 MINUTES")).alias("minus_90m"),
        F.date_add(F.col("ts").cast("date"), 7).alias("plus_7d_date"),
        F.col("ts").cast("date").alias("just_date"),
    )


@query(
    "window_percent_rank",
    oracle="""
    SELECT p_partkey, p_brand,
           ROUND(percent_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice ASC), 6) AS pr,
           ROUND(cume_dist()    OVER (PARTITION BY p_brand ORDER BY p_retailprice ASC), 6) AS cd
    FROM part
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist (tie-stable by definition)."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").asc())
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "window_first_last",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           COUNT(*) OVER w                AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over the full partition frame."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    e = table(spark, sf_dir, "events")
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).distinct()


@query(
    "agg_max_by",
    oracle="""
    SELECT event_type,
           max_by(event_id, CAST(ROUND(value * 100) AS BIGINT) * 10000000 + event_id)
               AS top_event_id,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by (argmax) with a deterministic composite ordering key
    (value ties broken by event_id — raw max_by on a tied column is
    nondeterministic in any engine)."""
    e = table(spark, sf_dir, "events")
    key = F.round(F.col("value") * 100, 0).cast("long") * F.lit(10000000) + F.col("event_id")
    return e.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("top_event_id"),
        F.max("value").alias("max_value"),
    )


@query(
    "histogram_fixed_buckets",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (floor-division bucketing — a single
    map-side expression, shuffle is |buckets| wide)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000.0).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "sql_over_views",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 parity (reference .duckdbrc:19-26): the view-then-SQL entry
    point — tables registered as temp views, query expressed in pure SQL
    via spark.sql."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_bucket(d: int, key) -> F.Column:
    return F.pmod(F.xxhash64(F.lit(d), key), F.lit(CMS_WIDTH))


@query(
    "sketch_count_min",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_exact,
           TRUE AS never_undercounts,
           TRUE AS within_eps_bound
    FROM events
    GROUP BY event_type
    """,
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Count-Min sketch built from DataFrame primitives: every row
    increments one counter per hash row (depth 4 x width 1024, seeded
    xxhash64); a key's estimate is the min across rows.

    The sketch table is a fixed-size aggregate — the 100 TB shape for
    frequency queries (counter merge is commutative, so partial
    aggregation works and estimates are deterministic). The oracled
    output is the CM INVARIANT pair: estimates never undercount, and the
    overcount stays within the eps*N sketch bound (booleans certified
    against the exact per-key counts, which exist here only to ground the
    check)."""
    e = table(spark, sf_dir, "events")
    increments = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(d, F.col("event_type")).alias("b")
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("x")
    ).select("x.d", "x.b")
    counters = increments.groupBy("d", "b").agg(F.count(F.lit(1)).alias("c"))

    keys = e.select("event_type").distinct()
    key_buckets = keys.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(d, F.col("event_type")).alias("b")
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("x"),
    ).select("event_type", "x.d", "x.b")
    estimates = (
        key_buckets.join(counters, ["d", "b"])
        .groupBy("event_type")
        .agg(F.min("c").alias("est_count"))
    )
    exact = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    total = e.count()  # scalar N for the eps*N bound (one cheap job)
    return estimates.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        (F.col("est_count") >= F.col("n_exact")).alias("never_undercounts"),
        (
            F.col("est_count") - F.col("n_exact")
            <= F.greatest(F.lit(8.0), F.lit(float(total) * CMS_DEPTH / CMS_WIDTH))
        ).alias("within_eps_bound"),
    )


@query(
    "asof_join_cogroup_pandas",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via cogrouped applyInPandas + pandas.merge_asof — the
    second sanctioned implementation (SURVEY §2C "as-of join": pandas
    path when per-group logic outgrows window tricks). Same oracle as
    the window-based asof_join_last_click, so the two implementations
    cross-validate.

    SCALE NOTE (round-7): this is the documented pandas-path EXEMPLAR,
    not the recommended at-scale implementation — its cost is Arrow
    serialization + per-group Python, ~19x the registry median at
    sf0.1 (13.4 s vs asof_join_last_click's <1 s on the same oracle).
    The 50x probe (PERFORMANCE.md round-7 tier) shows the cost scales
    linearly in rows with no curvature — user_id-keyed cogroups shard
    horizontally — so it SURVIVES 100 TB, but a cluster pays the
    ~15-20x Arrow+Python constant on every row. Prefer the window/
    union implementation (asof_join_last_click, operators/joins.py)
    unless the per-group logic genuinely needs pandas."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )

    def merge(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if p.empty:
            return pd.DataFrame(
                columns=["purchase_id", "user_id", "purchase_ts", "last_click_ts"]
            )
        p = p.sort_values("purchase_ts")
        c = c.sort_values("click_ts")
        merged = pd.merge_asof(
            p, c[["click_ts"]], left_on="purchase_ts", right_on="click_ts"
        )
        merged = merged.dropna(subset=["click_ts"])
        return pd.DataFrame(
            {
                "purchase_id": merged["purchase_id"],
                "user_id": merged["user_id"],
                "purchase_ts": merged["purchase_ts"],
                "last_click_ts": merged["click_ts"],
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="purchase_id bigint, user_id bigint, "
            "purchase_ts timestamp, last_click_ts timestamp",
        )
    )


@query(
    "sketch_join_size_estimate",
    oracle="""
    WITH a AS (SELECT o_custkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
    b AS (SELECT user_id AS k, COUNT(*) AS cb FROM events GROUP BY 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_b,
           CAST(COALESCE(SUM(a.ca * b.cb), 0) AS BIGINT) AS exact_join_size,
           TRUE AS never_undercounts,
           TRUE AS within_bound
    FROM a JOIN b USING (k)
    """,
)
def sketch_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from COUNT-MIN SKETCH inner products
    (AMS/CM sketch algebra): |A ⋈_k B| = sum_k cA(k)*cB(k) is exactly
    the inner product of the two key-frequency vectors, and the CM
    estimate min_d sum_b A[d][b]*B[d][b] NEVER undercounts it (hash
    collisions only add positive cross terms) while staying within
    ~N_A*N_B/width in expectation — the two-kilobyte answer to 'how
    big would this join be' that a 100 TB planner consults BEFORE
    shuffling anything (the same mathematics behind join-size hints
    and cardinality sketches in warehouse optimizers).

    Estimated here: orders.o_custkey ⋈ events.user_id. Each side
    reduces to its own depth x width counter grid (fixed-size,
    mergeable, built map-side); the inner product joins the grids on
    (d, bucket) — 4k rows — and the certificate booleans (never
    undercounts; within 4x the expected collision mass, floor 8) are
    grounded against the exact key-join size computed alongside.
    Inner-product sums accumulate in DECIMAL: at scale they reach
    N_A*N_B, far past BIGINT."""
    a = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))

    def grid(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(d).alias("d"),
                                _cms_bucket(d, F.col("k")).alias("b"),
                            )
                            for d in range(CMS_DEPTH)
                        ]
                    )
                ).alias("x")
            )
            .select("x.d", "x.b")
            .groupBy("d", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ga = grid(a)
    gb = grid(b)
    per_depth = (
        ga.join(gb.withColumnRenamed("c", "c2"), ["d", "b"])
        .groupBy("d")
        .agg(
            F.sum(
                F.col("c").cast("decimal(19,0)") * F.col("c2").cast("decimal(19,0)")
            ).alias("ip")
        )
    )
    # A depth whose (d, bucket) intersection is EMPTY has inner product
    # 0 and must participate in the min — taking min over only the
    # depths the join produced would let collision-populated depths
    # dominate and the estimate exceed the true CM minimum. Left-join
    # against the full depth range and coalesce the gaps to 0 (which
    # also covers the all-depths-empty ⇒ true-join-empty case).
    est = (
        spark.range(CMS_DEPTH)
        .select(F.col("id").cast("int").alias("d"))
        .join(per_depth, "d", "left")
        .agg(
            F.min(F.coalesce(F.col("ip"), F.lit(0).cast("decimal(38,0)")))
            .cast("double")
            .alias("est")
        )
    )
    ca = a.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    cb = b.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    exact = ca.join(cb, "k").agg(
        F.coalesce(
            F.sum(F.col("ca").cast("decimal(19,0)") * F.col("cb").cast("decimal(19,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("exact_ip")
    )
    na = a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))
    j = (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
    )
    bound = F.greatest(
        F.lit(8.0),
        4.0 * F.col("n_a").cast("double") * F.col("n_b").cast("double") / CMS_WIDTH,
    )
    return j.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("exact_ip").cast("bigint").alias("exact_join_size"),
        (F.col("est") >= F.col("exact_ip").cast("double")).alias("never_undercounts"),
        (
            F.col("est") - F.col("exact_ip").cast("double") <= bound
        ).alias("within_bound"),
    )


# --- hand-built HyperLogLog (relational registers) ---------------------------

_HLL_M = 64  # registers
_HLL_W = 30  # value-hash width in bits (portable poly hash < 2^30)
_HLL_ALPHA = 0.709  # alpha_64

# DuckDB mirrors of functions/textfns.poly_hash under the two salts
_HLL_POLY_TMPL = (
    "list_reduce(list_transform(generate_series(1, LENGTH({e})), "
    "q -> CAST(ascii(({e})[q:q]) AS BIGINT)), (acc, x) -> (acc * 131 + x) % 1000000007)"
)
_HLL_POLY_A = _HLL_POLY_TMPL.format(e="'hllA:' || CAST(user_id AS VARCHAR)")
_HLL_POLY_B = _HLL_POLY_TMPL.format(e="'hllB:' || CAST(user_id AS VARCHAR)")


@query(
    "sketch_hll_handbuilt",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    hashed AS (
        SELECT day, user_id,
               ({_HLL_POLY_A}) % {_HLL_M} AS bucket,
               ({_HLL_POLY_B}) % 1073741824 AS w
        FROM keys),
    rho AS (
        SELECT day, bucket,
               CASE WHEN w = 0 THEN {_HLL_W} + 1
                    ELSE {_HLL_W} - LENGTH(bin(w)) + 1 END AS r
        FROM hashed),
    daily AS (SELECT day, bucket, MAX(r) AS mr FROM rho GROUP BY day, bucket),
    merged AS (SELECT bucket, MAX(mr) AS mr FROM daily GROUP BY bucket),
    direct AS (SELECT bucket, MAX(r) AS mr FROM rho GROUP BY bucket),
    merge_ok AS (
        SELECT COUNT(*) = 0 AS merge_equals_direct
        FROM (SELECT bucket, mr FROM merged
              EXCEPT SELECT bucket, mr FROM direct)),
    est AS (
        SELECT {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                 / (SUM(POW(2.0, -mr)) + ({_HLL_M} - COUNT(*))) AS raw,
               {_HLL_M} - COUNT(*) AS v
        FROM merged),
    corrected AS (
        SELECT CASE WHEN raw <= 2.5 * {_HLL_M} AND v > 0
                    THEN {_HLL_M} * LN({_HLL_M} * 1.0 / v)
                    ELSE raw END AS e
        FROM est),
    exact AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events)
    SELECT x.n AS exact_distinct,
           ROUND(c.e, 4) AS hll_estimate,
           ROUND(ABS(c.e - x.n) / x.n, 6) AS rel_error,
           m.merge_equals_direct,
           ABS(c.e - x.n) / x.n <= 0.6 AS within_bound
    FROM corrected c CROSS JOIN exact x CROSS JOIN merge_ok m
    """,
)
def sketch_hll_handbuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from DataFrame primitives — registers ARE rows:
    each key hashes to (bucket, 30-bit value), rho is the leading-zero
    rank recovered EXACTLY via the base-2 digit count (LENGTH(bin(w)) =
    floor(log2 w)+1 in both engines — no float log near power-of-two
    edges), and a register is just MAX(rho) per bucket. Flajolet's
    alpha_m bias-corrected harmonic mean plus the linear-counting
    small-range branch gives the estimate; certificates pin (a)
    MERGEABILITY — per-day partial sketches combined by elementwise MAX
    equal the direct whole-set registers, the property that makes HLL a
    100 TB rollup primitive — and (b) the measured relative error
    within 4.5 sigma (1.04/sqrt(64) ~ 13%). Complements the built-in
    DataSketches path (agg_hll_partitioned_merge) by showing the
    sketch's algebra is nothing but groupBy/max.

    One scan to (day, bucket, max rho); every later frame is <= m rows."""
    e = table(spark, sf_dir, "events")
    keys = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    bucket = F.pmod(
        poly_hash(F.concat(F.lit("hllA:"), F.col("user_id").cast("string"))),
        F.lit(_HLL_M),
    )
    w = F.pmod(
        poly_hash(F.concat(F.lit("hllB:"), F.col("user_id").cast("string"))),
        F.lit(1073741824),
    )
    rho = keys.select(
        "day",
        bucket.alias("bucket"),
        F.when(w == 0, F.lit(_HLL_W + 1))
        .otherwise(_HLL_W - F.length(F.conv(w.cast("string"), 10, 2)) + 1)
        .alias("r"),
    )
    daily = rho.groupBy("day", "bucket").agg(F.max("r").alias("mr"))
    merged = daily.groupBy("bucket").agg(F.max("mr").alias("mr"))
    direct = rho.groupBy("bucket").agg(F.max("r").alias("mr"))
    merge_ok = (
        merged.exceptAll(direct)
        .agg((F.count(F.lit(1)) == 0).alias("merge_equals_direct"))
    )
    est = merged.agg(
        (
            _HLL_ALPHA
            * _HLL_M
            * _HLL_M
            / (F.sum(F.pow(2.0, -F.col("mr"))) + (_HLL_M - F.count(F.lit(1))))
        ).alias("raw"),
        (_HLL_M - F.count(F.lit(1))).alias("v"),
    )
    corrected = est.select(
        F.when(
            (F.col("raw") <= 2.5 * _HLL_M) & (F.col("v") > 0),
            _HLL_M * F.log(_HLL_M * 1.0 / F.col("v")),
        )
        .otherwise(F.col("raw"))
        .alias("e")
    )
    exact = e.agg(F.count_distinct("user_id").cast("bigint").alias("n"))
    return (
        corrected.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(merge_ok))
        .select(
            F.col("n").alias("exact_distinct"),
            F.round(F.col("e"), 4).alias("hll_estimate"),
            F.round(F.abs(F.col("e") - F.col("n")) / F.col("n"), 6).alias(
                "rel_error"
            ),
            "merge_equals_direct",
            (F.abs(F.col("e") - F.col("n")) / F.col("n") <= 0.6).alias(
                "within_bound"
            ),
        )
    )


# --- Misra-Gries / Space-Saving heavy hitters --------------------------------

_MG_K = 16  # summary capacity per partition
_MG_TOP = 10  # exact top-N emitted (N < K so the certificate binds)


@query(
    "sketch_misra_gries_heavyhitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM tok GROUP BY token),
    top AS (
        SELECT token, exact_count,
               ROW_NUMBER() OVER (ORDER BY exact_count DESC, token ASC) AS rank
        FROM cnt
        QUALIFY rank <= {_MG_TOP})
    SELECT rank, token, exact_count,
           TRUE AS mg_underestimates,
           TRUE AS mg_error_within_bound,
           TRUE AS mg_recall_complete
    FROM top
    ORDER BY rank
    """,
)
def sketch_misra_gries_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters as a MERGEABLE two-phase aggregate —
    the one-pass, bounded-memory answer to "top tokens over 100 TB"
    (counting every token exactly needs a |vocab|-sized shuffle; the MG
    summary needs K counters per partition, period).

    Phase 1 builds a valid MG(K) summary per input partition entirely
    JVM-side, via the classic reduction (Agarwal et al., "Mergeable
    Summaries", PODS'12): exact partition-local counts, keep the K
    largest, subtract the (K+1)-th largest from each. Phase 2 merges
    summaries by summing per-token — the merged result is again a valid
    MG(K) summary, with total undercount bounded by sum_p n_p/(K+1)
    <= n/(K+1). No driver state, no Python loop: the per-partition
    top-K prune is a row_number window over (partition_id, token)
    counts, a frame whose size is at most P x per-partition vocab,
    already co-partitioned by the groupBy.

    Output is the EXACT top-{_MG_TOP} (SQL-expressible, so the driver
    hash-checks values); three booleans certify the sketch against the
    exact counts, each a distributed aggregate the oracle pins TRUE:

    - ``mg_underestimates``: every merged MG estimate <= its exact
      count (MG never overcounts — a FALSE is a code bug);
    - ``mg_error_within_bound``: every estimate is within n/(K+1) of
      exact (the mergeable-summaries guarantee);
    - ``mg_recall_complete``: every token with exact count > n/(K+1)
      survives in the merged summary (the heavy-hitter guarantee).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    # Phase 1: per-partition exact counts -> MG(K) summary.
    pc = (
        tok.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.partitionBy("pid").orderBy(F.col("c").desc(), F.col("token").asc())
    ranked = pc.withColumn("rk", F.row_number().over(w_rank))
    kth1 = (
        ranked.filter(F.col("rk") == _MG_K + 1)
        .select("pid", F.col("c").alias("sub"))
    )
    summaries = (
        ranked.filter(F.col("rk") <= _MG_K)
        .join(kth1, "pid", "left")
        .select(
            "pid",
            "token",
            (F.col("c") - F.coalesce(F.col("sub"), F.lit(0))).alias("est"),
        )
        .filter(F.col("est") > 0)
    )
    # Phase 2: merge = sum per token (mergeable-summaries theorem).
    merged = summaries.groupBy("token").agg(F.sum("est").alias("est"))
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    n_total = tok.agg(F.count(F.lit(1)).alias("n"))
    bound = F.col("n") / F.lit(_MG_K + 1)
    audit = (
        exact.join(merged, "token", "left")
        .crossJoin(F.broadcast(n_total))
        .agg(
            F.min(
                F.coalesce(F.col("est"), F.lit(0)) <= F.col("exact_count")
            ).alias("mg_underestimates"),
            F.min(
                (F.col("exact_count") - F.coalesce(F.col("est"), F.lit(0))) <= bound
            ).alias("mg_error_within_bound"),
            F.min(
                F.when(F.col("exact_count") > bound, F.col("est").isNotNull())
                .otherwise(F.lit(True))
            ).alias("mg_recall_complete"),
        )
    )
    # top-N selection is a distributed TakeOrderedAndProject (limit
    # after orderBy); the ranking window then runs over N rows, never
    # the full vocabulary in one task.
    top = (
        exact.orderBy(F.col("exact_count").desc(), F.col("token").asc())
        .limit(_MG_TOP)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("exact_count").desc(), F.col("token").asc())
            ),
        )
    )
    return (
        top.crossJoin(F.broadcast(audit))
        .select(
            "rank",
            "token",
            "exact_count",
            "mg_underestimates",
            "mg_error_within_bound",
            "mg_recall_complete",
        )
        .orderBy("rank")
    )


# --- mergeable quantile sketch (equi-depth chunk summary) --------------------

_QS_BUCKETS = 16  # parallel summary builders (hash-assigned)
_QS_K = 64  # chunks per bucket summary
_QS_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def _qs_oracle() -> str:
    arms = " UNION ALL ".join(
        "SELECT CAST({q} AS DOUBLE) AS q, "
        "ROUND((SELECT quantile_cont(x, {q}) FROM v), 6) AS exact_quantile, "
        "TRUE AS rank_lower_ok, TRUE AS rank_upper_ok, "
        "ROUND(1.0 / {k} + {b} * 1.0 / (SELECT n FROM nn), 6) AS rank_error_bound".format(
            q=q, k=_QS_K, b=_QS_BUCKETS
        )
        for q in _QS_QS
    )
    return (
        "WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem), "
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v) "
        + arms
        + " ORDER BY q"
    )


@query("sketch_quantile_mergeable", oracle=_qs_oracle())
def sketch_quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE summary — the sketch-family member (HLL,
    CM, theta, bloom, minhash all exist here) that answers "p99 over
    100 TB in one pass": each of {_QS_BUCKETS} hash-assigned builders
    sorts its slice and keeps {_QS_K} equi-depth chunk boundaries
    (chunk max + chunk count) — an equi-depth histogram, the practical
    core of t-digest/GK-style summaries; merging is just unioning the
    (value, count) rows and re-ranking the <= B*K-row frame with one
    cumulative window. Query: the q-quantile estimate is the first
    boundary whose merged cumulative weight reaches ceil(q*n).

    Rank guarantee (certified in-query, booleans the oracle pins
    TRUE): with slack = sum_b ceil(n_b/K) <= n/K + B,

    - ``rank_upper_ok``: count(x <= v_hat) >= ceil(q*n) — the
      estimate never lands below the target rank (its counted chunks
      all lie at or below it);
    - ``rank_lower_ok``: count(x < v_hat) < ceil(q*n) + n/K + B —
      at most one straddling partial chunk per builder separates the
      estimate from the target.

    Both ranks are single distributed passes (5 broadcast thresholds
    against the value stream). Output rows are the EXACT interpolated
    quantiles (SQL-expressible -> value-hashed by the driver) plus the
    analytic bound 1/K + B/n; the sketch estimate itself is
    hash-assignment-dependent, so it feeds the booleans, not the
    hashed columns — same certificate pattern as the dedup family.
    At 100 TB: one scan + a B*K-row merge; exactness of the audit leg
    costs one more scan that a production run would drop."""
    import pandas as pd

    vals = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_extendedprice").cast("double").alias("x"),
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_QS_BUCKETS))
            .cast("int")
            .alias("b"),
        )
        .transform(_persisted)
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf["x"].sort_values().to_numpy()
        nb = len(xs)
        k = min(_QS_K, nb) or 1
        # equi-depth chunk ends: sizes differ by at most 1
        import numpy as np

        ends = np.ceil((np.arange(1, k + 1) * nb) / k).astype(int)
        starts = np.concatenate(([0], ends[:-1]))
        return pd.DataFrame(
            {
                "b": pdf["b"].iloc[0],
                "ci": range(k),
                "v": xs[ends - 1],
                "c": ends - starts,
            }
        )

    summary = vals.groupBy("b").applyInPandas(
        summarize, "b int, ci int, v double, c long"
    )
    from pyspark.sql import Window as _W

    cum = summary.withColumn(
        "cumw",
        F.sum("c").over(
            _W.orderBy("v", "b", "ci").rowsBetween(_W.unboundedPreceding, 0)
        ),
    ).transform(_persisted)
    n_row = vals.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = local_frame(spark, [(q,) for q in _QS_QS], "q double")
    targets = qs.crossJoin(F.broadcast(n_row)).select(
        "q", "n", F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("t")
    )
    est = (
        cum.crossJoin(F.broadcast(targets))
        .filter(F.col("cumw") >= F.col("t"))
        .groupBy("q", "n", "t")
        .agg(F.min("v").alias("vhat"))
    )
    ranks = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("q", "n", "t", "vhat")
        .agg(
            F.sum(F.when(F.col("x") <= F.col("vhat"), 1).otherwise(0)).alias(
                "rank_hi"
            ),
            F.sum(F.when(F.col("x") < F.col("vhat"), 1).otherwise(0)).alias(
                "rank_lo"
            ),
        )
    )
    exact = (
        vals.groupBy()
        .agg(
            F.expr(
                "percentile(x, array("
                + ", ".join(str(q) for q in _QS_QS)
                + "))"
            ).alias("ex")
        )
        .select(F.posexplode("ex").alias("qi", "exact_q"))
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in _QS_QS]), F.col("qi") + 1
            ).alias("q"),
            "exact_q",
        )
    )
    slack_bound = F.col("n") / _QS_K + F.lit(_QS_BUCKETS)
    return (
        ranks.join(exact, "q")
        .select(
            "q",
            F.round("exact_q", 6).alias("exact_quantile"),
            (F.col("rank_lo") < F.col("t") + slack_bound).alias("rank_lower_ok"),
            (F.col("rank_hi") >= F.col("t")).alias("rank_upper_ok"),
            F.round(1.0 / _QS_K + _QS_BUCKETS / F.col("n"), 6).alias(
                "rank_error_bound"
            ),
        )
        .orderBy("q")
    )


_BLOOM_M = 16384  # filter bits
_BLOOM_K = 3  # hash functions
_BLOOM_P = 1_000_000_007
# per-hash multiplier/offset pairs (distinct odd multipliers)
_BLOOM_SALTS = [(2654435761, 97), (40503, 1009), (1099087573, 30011)]


def _bloom_pos_sql(key: str, i: int) -> str:
    a, b = _BLOOM_SALTS[i]
    return f"((({key} % {_BLOOM_P}) * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M}"


@query(
    "sketch_bloom_fpr_audit",
    oracle=f"""
    WITH members AS (SELECT DISTINCT o_custkey AS k FROM orders),
    nonmembers AS (
        -- keys shifted past max(member): guaranteed absent at ANY lake
        -- size (c_custkey >= 1, so k > max member), same cardinality
        SELECT c_custkey + (SELECT MAX(k) FROM members) AS k FROM customer),
    bits AS (
        SELECT DISTINCT pos FROM members,
        LATERAL (VALUES ({_bloom_pos_sql('k', 0)}),
                        ({_bloom_pos_sql('k', 1)}),
                        ({_bloom_pos_sql('k', 2)})) AS t(pos)),
    probe AS (
        SELECT n.k,
               MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hit
        FROM nonmembers n,
        LATERAL (VALUES ({_bloom_pos_sql('n.k', 0)}),
                        ({_bloom_pos_sql('n.k', 1)}),
                        ({_bloom_pos_sql('n.k', 2)})) AS t(pos)
        LEFT JOIN bits b ON b.pos = t.pos
        GROUP BY n.k),
    member_probe AS (
        SELECT m.k,
               MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hit
        FROM members m,
        LATERAL (VALUES ({_bloom_pos_sql('m.k', 0)}),
                        ({_bloom_pos_sql('m.k', 1)}),
                        ({_bloom_pos_sql('m.k', 2)})) AS t(pos)
        LEFT JOIN bits b ON b.pos = t.pos
        GROUP BY m.k)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nonmembers) AS n_probes,
           (SELECT ROUND(AVG(hit), 6) FROM probe) AS empirical_fpr,
           (SELECT ROUND(POW((SELECT COUNT(*) FROM bits) * 1.0 / {_BLOOM_M},
                             {_BLOOM_K}), 6)) AS theoretical_fpr,
           (SELECT COUNT(*) = 0 FROM member_probe WHERE hit = 0)
               AS no_false_negatives
    """,
)
def sketch_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built Bloom filter (m=16384, k=3, portable multiplicative
    hashes — the same cross-engine hash discipline as
    `sketch_hll_handbuilt`) with its two defining certificates measured
    in-query: ZERO false negatives on the member set, and empirical
    false-positive rate on true non-members vs the fill-ratio theory
    value (bits_set/m)^k.

    The filter is held RELATIONALLY — the distinct set of set bit
    positions — so build and probe are both keyed joins: at 100 TB the
    filter relation is at most m rows (here 16 KB of positions,
    broadcastable), the probe is a map-side join against it, and the
    whole audit is the plan a production gate (`dedup_bloom_incremental`
    uses the same relational-bloom idea) should be validated with
    before trusting its FPR budget."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    members = o.select(F.col("o_custkey").alias("k")).distinct()
    # Non-member population: customer keys shifted past max(member).
    # The shift is DERIVED, not a constant — c_custkey >= 1 means every
    # shifted key exceeds the largest member key at any lake size, so
    # the "guaranteed absent" invariant that makes no_false_negatives /
    # empirical_fpr meaningful holds beyond this scale factor. (TPC-H's
    # natural anti-join set — customers without orders, ~1/3 of them —
    # is nonempty but key-overlapping, useless as a probe population.)
    max_member = members.agg(F.max("k").alias("_shift"))
    nonmembers = c.crossJoin(F.broadcast(max_member)).select(
        (F.col("c_custkey") + F.col("_shift")).alias("k")
    )

    def positions(df):
        cols = [
            (((F.col("k") % _BLOOM_P) * F.lit(a) + F.lit(b)) % _BLOOM_P % _BLOOM_M)
            for a, b in _BLOOM_SALTS
        ]
        return df.select("k", F.explode(F.array(*cols)).alias("pos"))

    bits = positions(members).select("pos").distinct()

    def probe(df):
        return (
            positions(df)
            .join(bits.withColumn("_hit", F.lit(1)), "pos", "left")
            .groupBy("k")
            .agg(F.min(F.coalesce(F.col("_hit"), F.lit(0))).alias("hit"))
        )

    neg = probe(nonmembers).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.round(F.avg("hit"), 6).alias("empirical_fpr"),
    )
    fn = probe(members).agg(
        (F.sum((F.col("hit") == 0).cast("int")) == 0).alias("no_false_negatives")
    )
    stats = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members")).crossJoin(
        bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
    )
    return (
        stats.crossJoin(neg)
        .crossJoin(fn)
        .select(
            "n_members",
            "bits_set",
            "n_probes",
            "empirical_fpr",
            F.round(
                F.pow(F.col("bits_set") * F.lit(1.0) / _BLOOM_M, _BLOOM_K), 6
            ).alias("theoretical_fpr"),
            "no_false_negatives",
        )
    )


# --- Count-Min sketch audit -----------------------------------------------------

_CMS_W = 64  # counters per row (deliberately tight so collisions show)
_CMS_D = 3  # hash rows; reuses the portable Bloom salt family


def _cms_pos_sql(key: str, i: int) -> str:
    a, b = _BLOOM_SALTS[i]
    return f"((({key} % {_BLOOM_P}) * {a} + {b}) % {_BLOOM_P}) % {_CMS_W}"


@query(
    "sketch_count_min_audit",
    oracle=f"""
    WITH truth AS (
        SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY user_id),
    cells AS (
        SELECT r.r, {_cms_pos_sql('t.k', 0)} * CAST(r.r = 0 AS INT)
                  + {_cms_pos_sql('t.k', 1)} * CAST(r.r = 1 AS INT)
                  + {_cms_pos_sql('t.k', 2)} * CAST(r.r = 2 AS INT) AS pos,
               SUM(t.c) AS v
        FROM truth t, (VALUES (0), (1), (2)) AS r(r)
        GROUP BY 1, 2),
    est AS (
        SELECT t.k, t.c,
               MIN(c0.v) AS est
        FROM truth t
        JOIN cells c0
          ON (c0.r = 0 AND c0.pos = {_cms_pos_sql('t.k', 0)})
          OR (c0.r = 1 AND c0.pos = {_cms_pos_sql('t.k', 1)})
          OR (c0.r = 2 AND c0.pos = {_cms_pos_sql('t.k', 2)})
        GROUP BY t.k, t.c),
    ranked AS (
        SELECT k, c, est,
               ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS rk
        FROM est)
    SELECT CAST(rk AS INT) AS rk, k AS user_id,
           CAST(c AS BIGINT) AS true_count, CAST(est AS BIGINT) AS cms_estimate,
           CAST(est - c AS BIGINT) AS overestimate,
           (SELECT COUNT(*) = 0 FROM est WHERE est < c) AS never_underestimates
    FROM ranked WHERE rk <= 10 ORDER BY rk
    """,
)
def sketch_count_min_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode-Muthukrishnan) point-query audit over
    per-user event counts: d=3 portable hash rows x w=64 counters
    (deliberately tight so collisions are VISIBLE), estimate =
    min over rows of the hashed cell, certified against exact truth on
    the top-10 users. The defining CMS guarantee — estimates NEVER
    underestimate — is computed in-query as a distributed boolean; the
    per-key overestimate column shows the collision noise the min
    operation is suppressing. Completes the sketch family (Misra-Gries
    = heavy hitters, HLL/theta = distinct, Bloom = membership,
    KLL-style mergeable quantiles; CMS = point frequencies).

    Plan: the sketch is RELATIONAL — (row, cell) -> counter rows built
    by one aggregate over the (already tiny) per-key truth frame; at
    100 TB the build aggregates raw events by (row, cell) directly
    (3 x 64 counter rows out of any volume, fully partial-aggregable)
    and the probe is a broadcast join of 192 cells."""
    t = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(_persisted)
    )

    def pos(col, i):
        a, b = _BLOOM_SALTS[i]
        return ((col % _BLOOM_P) * F.lit(a) + F.lit(b)) % _BLOOM_P % _CMS_W

    cells = (
        t.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("r"), pos(F.col("k"), i).alias("pos"))
                        for i in range(_CMS_D)
                    ]
                )
            ).alias("rc"),
            "c",
        )
        .groupBy("rc.r", "rc.pos")
        .agg(F.sum("c").alias("v"))
    )
    probes = t.select(
        "k",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("r"), pos(F.col("k"), i).alias("pos"))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("k", "c", "rc.r", "rc.pos")
    est = (
        probes.join(F.broadcast(cells), ["r", "pos"])
        .groupBy("k", "c")
        .agg(F.min("v").alias("est"))
        .transform(_persisted)
    )
    cert = F.broadcast(
        est.agg(
            (F.sum((F.col("est") < F.col("c")).cast("int")) == 0).alias(
                "never_underestimates"
            )
        )
    )
    w = Window.orderBy(F.col("c").desc(), F.col("k").asc())
    return (
        est.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 10)
        .crossJoin(cert)
        .select(
            "rk",
            F.col("k").alias("user_id"),
            F.col("c").cast("bigint").alias("true_count"),
            F.col("est").cast("bigint").alias("cms_estimate"),
            (F.col("est") - F.col("c")).cast("bigint").alias("overestimate"),
            "never_underestimates",
        )
        .orderBy("rk")
    )


# --- Selinger join-order audit ----------------------------------------------------

# Left-deep, cross-join-free orders of the chain customer-orders-lineitem-
# supplier, with their two intermediate results. NDV of a join key in an
# intermediate is taken from its base table (the textbook System R
# simplification).
_SELINGER_ORDERS = (
    ("c>o>l>s", ("co", "col")),
    ("o>l>c>s", ("ol", "col")),
    ("o>l>s>c", ("ol", "ols")),
    ("l>s>o>c", ("ls", "ols")),
)


@query(
    "opt_selinger_join_order",
    oracle=f"""
    WITH st AS (
        SELECT (SELECT COUNT(*) FROM customer) AS nc,
               (SELECT COUNT(*) FROM orders) AS no_,
               (SELECT COUNT(*) FROM lineitem) AS nl,
               (SELECT COUNT(*) FROM supplier) AS ns,
               (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS dc_ck,
               (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS do_ck,
               (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS do_ok,
               (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS dl_ok,
               (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) AS dl_sk,
               (SELECT COUNT(DISTINCT s_suppkey) FROM supplier) AS ds_sk),
    inter AS (
        SELECT nc * no_ * 1.0 / GREATEST(dc_ck, do_ck) AS co,
               no_ * nl * 1.0 / GREATEST(do_ok, dl_ok) AS ol,
               nl * ns * 1.0 / GREATEST(dl_sk, ds_sk) AS ls,
               nc * no_ * 1.0 / GREATEST(dc_ck, do_ck) * nl
                   / GREATEST(do_ok, dl_ok) AS col,
               no_ * nl * 1.0 / GREATEST(do_ok, dl_ok) * ns
                   / GREATEST(dl_sk, ds_sk) AS ols
        FROM st),
    costs AS (
        SELECT o.ord, o.c1 + o.c2 AS cost
        FROM inter i, LATERAL (VALUES
            ('c>o>l>s', i.co, i.col),
            ('o>l>c>s', i.ol, i.col),
            ('o>l>s>c', i.ol, i.ols),
            ('l>s>o>c', i.ls, i.ols)) AS o(ord, c1, c2))
    SELECT ord AS join_order, ROUND(cost, 2) AS est_intermediate_rows,
           cost = (SELECT MIN(cost) FROM costs) AS is_best
    FROM costs ORDER BY join_order
    """,
)
def opt_selinger_join_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selinger/System R join-order audit on the 4-table chain
    customer - orders - lineitem - supplier: measure the REAL base
    statistics (row counts, exact join-key NDVs), estimate every
    cross-join-free left-deep order's intermediate sizes with the
    textbook model |R join_k S| = |R||S| / max(ndv_k(R), ndv_k(S)),
    and rank the orders by summed intermediate cardinality. This is
    the arithmetic a CBO runs before picking a plan — auditing it
    against measured stats is how you debug a bad join order at
    100 TB (complements opt_join_cardinality_estimate, which scores
    the model's per-join q-error).

    Plan: one stats aggregate per table (exact distinct counts are
    two-phase partial aggregates), broadcast-crossed into a single
    stats row; the 4-order enumeration is a constant-sized union of
    column expressions — no data moves after the stats pass."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    st = (
        c.agg(
            F.count(F.lit(1)).alias("nc"),
            F.countDistinct("c_custkey").alias("dc_ck"),
        )
        .crossJoin(
            F.broadcast(
                o.agg(
                    F.count(F.lit(1)).alias("no_"),
                    F.countDistinct("o_custkey").alias("do_ck"),
                    F.countDistinct("o_orderkey").alias("do_ok"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                li.agg(
                    F.count(F.lit(1)).alias("nl"),
                    F.countDistinct("l_orderkey").alias("dl_ok"),
                    F.countDistinct("l_suppkey").alias("dl_sk"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                s.agg(
                    F.count(F.lit(1)).alias("ns"),
                    F.countDistinct("s_suppkey").alias("ds_sk"),
                )
            )
        )
    )
    co = F.col("nc") * F.col("no_") * 1.0 / F.greatest("dc_ck", "do_ck")
    ol = F.col("no_") * F.col("nl") * 1.0 / F.greatest("do_ok", "dl_ok")
    ls = F.col("nl") * F.col("ns") * 1.0 / F.greatest("dl_sk", "ds_sk")
    col = co * F.col("nl") / F.greatest("do_ok", "dl_ok")
    ols = ol * F.col("ns") / F.greatest("dl_sk", "ds_sk")
    inter = {"co": co, "ol": ol, "ls": ls, "col": col, "ols": ols}
    costs = st.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("join_order"),
                        (inter[a] + inter[b]).alias("cost"),
                    )
                    for name, (a, b) in _SELINGER_ORDERS
                ]
            )
        ).alias("oc")
    ).select("oc.join_order", "oc.cost")
    best = F.broadcast(costs.agg(F.min("cost").alias("best")))
    return (
        costs.crossJoin(best)
        .select(
            "join_order",
            F.round("cost", 2).alias("est_intermediate_rows"),
            (F.col("cost") == F.col("best")).alias("is_best"),
        )
        .orderBy("join_order")
    )


# --- equi-depth histogram selectivity audit -----------------------------------------

_HIST_BUCKETS = 10
# (label, lo, hi) range predicates on o_totalprice; None = open end
_HIST_PREDICATES = (
    ("price <= 50k", None, 50_000.0),
    ("100k <= price <= 200k", 100_000.0, 200_000.0),
    ("price >= 300k", 300_000.0, None),
)


def _hist_pred_sql(lo, hi, col: str) -> str:
    parts = []
    if lo is not None:
        parts.append(f"{col} >= {lo}")
    if hi is not None:
        parts.append(f"{col} <= {hi}")
    return " AND ".join(parts)


@query(
    "opt_histogram_selectivity_audit",
    oracle=f"""
    WITH ranked AS (
        SELECT o_totalprice AS v,
               NTILE({_HIST_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
                   AS bkt
        FROM orders),
    hist AS (
        SELECT bkt, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
        FROM ranked GROUP BY bkt),
    preds AS (
        SELECT * FROM (VALUES
            {", ".join(f"('{lbl}', {lo if lo is not None else 'NULL'}, {hi if hi is not None else 'NULL'})" for lbl, lo, hi in _HIST_PREDICATES)}
        ) AS p(label, plo, phi)),
    est AS (
        SELECT p.label,
               CAST(SUM(CAST(CASE WHEN h.hi <= h.lo THEN
                        CASE WHEN (p.plo IS NULL OR h.lo >= p.plo)
                              AND (p.phi IS NULL OR h.lo <= p.phi)
                             THEN h.n ELSE 0 END
                    ELSE h.n * GREATEST(0.0,
                        (LEAST(COALESCE(p.phi, h.hi), h.hi)
                         - GREATEST(COALESCE(p.plo, h.lo), h.lo))
                        / (h.hi - h.lo))
                    END AS DECIMAL(38,12))) AS DOUBLE) AS est
        FROM preds p, hist h GROUP BY p.label),
    act AS (
        {" UNION ALL ".join(f"SELECT '{lbl}' AS label, CAST(COUNT(*) AS BIGINT) AS actual FROM orders WHERE {_hist_pred_sql(lo, hi, 'o_totalprice')}" for lbl, lo, hi in _HIST_PREDICATES)})
    SELECT e.label, ROUND(e.est, 2) AS est_rows, a.actual AS actual_rows,
           ROUND(GREATEST(e.est, a.actual * 1.0)
                 / GREATEST(1.0, LEAST(e.est, a.actual * 1.0)), 4) AS q_error
    FROM est e JOIN act a ON a.label = e.label
    ORDER BY e.label
    """,
)
def opt_histogram_selectivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram selectivity audit — the estimator inside
    every CBO's range-predicate costing: build a 10-bucket equi-depth
    histogram of o_totalprice (bucket = NTILE over a TOTAL order, so
    both engines cut identical boundaries), estimate three range
    predicates under the uniform-within-bucket assumption, and report
    the q-error against the true counts. Equi-depth is what engines
    ship (Spark CBO, Postgres, DuckDB) precisely because its worst-case
    q-error is bounded by bucket skew, which this audit measures
    directly.

    Plan: the NTILE rides the two-pass distributed rank helper (no
    single-partition window over row-scale data); the histogram is 10
    rows, the estimate a broadcast nested-loop over 3 x 10 constants,
    the actuals one filtered aggregate per predicate over a single
    scan. DECIMAL-summed overlap terms keep the estimate
    partition-order independent."""
    from ..functions.ranks import global_row_number, ntile_from_rank

    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    ranked, n_total = global_row_number(
        o, [F.col("v").asc(), F.col("o_orderkey").asc()], rn_name="rn"
    )
    hist = (
        ranked.withColumn("bkt", ntile_from_rank(F.col("rn"), n_total, _HIST_BUCKETS))
        .groupBy("bkt")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"), F.count(F.lit(1)).alias("n"))
    )
    preds = local_frame(
        spark,
        [(lbl, lo, hi) for lbl, lo, hi in _HIST_PREDICATES],
        "label string, plo double, phi double",
    )
    overlap = F.when(
        F.col("hi") <= F.col("lo"),
        F.when(
            (F.col("plo").isNull() | (F.col("lo") >= F.col("plo")))
            & (F.col("phi").isNull() | (F.col("lo") <= F.col("phi"))),
            F.col("n").cast("double"),
        ).otherwise(F.lit(0.0)),
    ).otherwise(
        F.col("n")
        * F.greatest(
            F.lit(0.0),
            (
                F.least(F.coalesce("phi", "hi"), F.col("hi"))
                - F.greatest(F.coalesce("plo", "lo"), F.col("lo"))
            )
            / (F.col("hi") - F.col("lo")),
        )
    )
    est = (
        F.broadcast(preds)
        .crossJoin(hist)
        .groupBy("label")
        .agg(F.sum(overlap.cast("decimal(38,12)")).cast("double").alias("est"))
    )
    acts = None
    for lbl, lo, hi in _HIST_PREDICATES:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("v") >= lo)
        if hi is not None:
            cond = cond & (F.col("v") <= hi)
        a = o.filter(cond).agg(
            F.lit(lbl).alias("label"), F.count(F.lit(1)).cast("bigint").alias("actual")
        )
        acts = a if acts is None else acts.unionByName(a)
    qe = F.greatest(F.col("est"), F.col("actual") * 1.0) / F.greatest(
        F.lit(1.0), F.least(F.col("est"), F.col("actual") * 1.0)
    )
    return (
        est.join(acts, "label")
        .select(
            "label",
            F.round("est", 2).alias("est_rows"),
            F.col("actual").alias("actual_rows"),
            F.round(qe, 4).alias("q_error"),
        )
        .orderBy("label")
    )
