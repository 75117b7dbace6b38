"""Behavioral analytics over the events stream: funnels and cohorts.

The two canonical product-analytics shapes a DuckDB-shell user of the
reference would eventually ask of the bronze events table
(/root/reference/demos/duckdb.tape stops at counts and breakdowns;
these are the next queries after that). Both are pure DataFrame
aggregation/join pipelines keyed on user_id — one shuffle partitioning
serves every stage, which is what keeps them linear at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.aggs import dsum, dsum_sql
from ..functions.textfns import poly_hash
from ..registry import query
from ..sources.batch import local_frame
from ..functions.ranks import persisted as _persisted


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL SELECT '2_click', COUNT(*) FROM c
    UNION ALL SELECT '3_purchase', COUNT(*) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a
    stage only with an event strictly AFTER their entry into the
    previous stage. Each stage is min-timestamp agg on user_id followed
    by a user_id equi-join with a timestamp inequality — all stages
    co-partitioned on user_id, so at scale the funnel is one shuffle
    then narrow stage-to-stage joins. The events scan is reused across
    stages (filter pushdown gives each stage only its event_type)."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage_after(prev: DataFrame, etype: str) -> DataFrame:
        ev = e.filter(F.col("event_type") == etype).alias("e")
        return (
            ev.join(
                prev.alias("p"),
                (F.col("e.user_id") == F.col("p.user_id")) & (F.col("e.ts") > F.col("p.t")),
            )
            .groupBy(F.col("e.user_id").alias("user_id"))
            .agg(F.min("e.ts").alias("t"))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    c = stage_after(v, "click")
    p = stage_after(c, "purchase")

    def counted(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("stage"), "n_users"
        )

    return counted(v, "1_view").unionAll(counted(c, "2_click")).unionAll(
        counted(p, "3_purchase")
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firstseen AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
                       FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT f.d0 AS cohort_day,
           date_diff('day', f.d0, a.d) AS day_offset,
           COUNT(*) AS n_users
    FROM firstseen f JOIN act a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, with
    the count still active N days later. first-seen is a user_id agg,
    activity is a distinct on (user, day), and the join + final rollup
    stay keyed on user_id / (cohort, offset) — two shuffles total,
    both with key cardinality far below the raw event count."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    firstseen = e.groupBy("user_id").agg(F.min("d").alias("d0"))
    act = e.distinct()
    return (
        act.join(firstseen, "user_id")
        .groupBy(
            F.col("d0").alias("cohort_day"),
            F.datediff("d", "d0").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "scd2_user_state_history",
    oracle="""
    WITH sel AS (SELECT user_id, event_id, ts, event_type
                 FROM events WHERE user_id % 13 = 0),
    numbered AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM sel),
    islands AS (
        SELECT user_id, event_type, MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, event_type, grp)
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to,
           (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               IS NULL) AS is_current,
           n_events
    FROM islands
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) reconstruction from an event
    log: collapse each user's consecutive runs of the same event_type
    into versioned rows with [valid_from, valid_to) intervals and an
    is_current flag — the gaps-and-islands shape (difference of two
    row_numbers identifies each run) every warehouse dimension build
    uses. All three window passes share the user_id partitioning, so
    the whole reconstruction is one shuffle + sorted passes; ties are
    broken on event_id so the versioning is deterministic in both
    engines. Users subsampled to bound the oracle compare."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 13 == 0)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    numbered = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    islands = numbered.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w_ver = Window.partitionBy("user_id").orderBy("valid_from")
    valid_to = F.lead("valid_from").over(w_ver)
    return islands.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


@query(
    "basket_part_pairs_lift",
    oracle="""
    WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS cnt FROM po),
    pc AS (SELECT l_partkey, COUNT(*) AS c FROM po GROUP BY l_partkey),
    pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     COUNT(*) AS c_ab
              FROM po a JOIN po b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2)
    SELECT part_a, part_b, c_ab,
           ROUND(c_ab * (SELECT cnt FROM n) / (ca.c * cb.c), 6) AS lift
    FROM pairs
    JOIN pc ca ON part_a = ca.l_partkey
    JOIN pc cb ON part_b = cb.l_partkey
    WHERE c_ab >= 2
    """,
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (frequent 2-itemsets with lift): parts
    bought together in the same order, scored by lift = P(a,b)/P(a)P(b).
    The pair generation is a self-join on l_orderkey — bounded by
    (items per order)^2 per order, NOT corpus-quadratic, the same
    output-bound argument as near-dup pair mining; the distinct
    projection first keeps repeated part purchases from inflating
    counts. Item frequencies broadcast back onto the pair aggregate."""
    po = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(_persisted)
    )
    n = po.agg(
        F.count_distinct("l_orderkey").cast("double").alias("cnt")
    )
    pc = po.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = po.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = po.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(F.col("c_ab") * F.col("cnt") / (F.col("ca") * F.col("cb")), 6).alias("lift"),
        )
    )


@query(
    "rfm_customer_segments",
    oracle="""
    WITH base AS (
        SELECT c.c_custkey,
               MAX(o.o_orderdate) AS last_order,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS monetary
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey)
    SELECT c_custkey, last_order, frequency, ROUND(monetary, 2) AS monetary,
           NTILE(4) OVER (ORDER BY last_order DESC, c_custkey) AS r_quartile,
           NTILE(4) OVER (ORDER BY frequency DESC, c_custkey)  AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary DESC, c_custkey)   AS m_quartile
    FROM base
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quartiles per
    customer. The base is one customer-keyed aggregation; each quartile
    is exact NTILE(4) semantics over the rollup, computed through the
    two-pass distributed ranking in functions/ranks.py rather than
    three single-partition global windows — per-customer rollups are
    1/1000th the fact size but still cluster-scale relations, so no
    pass here funnels them through one task.

    Round 13: the three quartiles share ONE ranking pass instead of
    three. The rollup is melted to (c_custkey, mid, val) — 3N rows,
    with each metric mapped to DOUBLE — and ranked once by
    (mid, val DESC, c_custkey). Recency (unix_micros) and frequency are
    integers < 2^53, so their cast is injective and order-exact.
    Monetary is not: it is a DECIMAL(38,6) sum cast to double, and two
    distinct sums can collide. It stays oracle-exact only because the
    order is consistent: both engines rank the identical double cast,
    and c_custkey breaks the resulting ties the same way. Every
    metric contributes exactly N rows (the rollup has no NULLs by
    construction: inner join, then MAX/COUNT/SUM over >=1 order), so
    the within-metric rank is global_rn - mid*N and NTILE(4) is the
    same map-side expression as before. One range exchange + one
    count-collect + one pivot aggregation replaces three of each
    (measured at sf0.1: 30 -> 16 jobs, min-of-N 4.96 s -> 2.42 s, and
    the four SortMergeJoins drop out of the plan); the re-join onto the
    rollup stays one co-keyed shuffle. Monetary uses exact DECIMAL
    accumulation."""
    from ..functions.ranks import global_row_number, ntile_from_rank

    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    base = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("monetary"),
        )
        .transform(_persisted)
    )

    def metric_slice(mid: int, value: Column) -> DataFrame:
        return base.select(
            "c_custkey",
            F.lit(mid).alias("mid"),
            value.cast("double").alias("val"),
        )

    melted = (
        metric_slice(0, F.unix_micros(F.col("last_order")))
        .unionByName(metric_slice(1, F.col("frequency")))
        .unionByName(metric_slice(2, F.col("monetary")))
    )
    ranked, total = global_row_number(
        melted,
        [F.col("mid").asc(), F.col("val").desc(), F.col("c_custkey").asc()],
    )
    n = total // 3
    rank_in_metric = F.col("global_rn") - F.col("mid") * n
    q = ntile_from_rank(rank_in_metric, n, 4)
    quartiles = ranked.groupBy("c_custkey").agg(
        F.max(F.when(F.col("mid") == 0, q)).alias("r_quartile"),
        F.max(F.when(F.col("mid") == 1, q)).alias("f_quartile"),
        F.max(F.when(F.col("mid") == 2, q)).alias("m_quartile"),
    )
    return base.join(quartiles, "c_custkey").select(
        "c_custkey",
        "last_order",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
    WITH sel AS (SELECT user_id, date_trunc('hour', ts) AS hour
                 FROM events WHERE user_id % 29 = 0),
    hourly AS (SELECT user_id, hour, COUNT(*) AS n
               FROM sel GROUP BY user_id, hour),
    stats AS (SELECT user_id, AVG(n) AS mu, STDDEV_SAMP(n) AS sigma,
                     COUNT(*) AS n_hours
              FROM hourly GROUP BY user_id)
    SELECT h.user_id, h.hour, h.n,
           ROUND((h.n - s.mu) / s.sigma, 6) AS zscore,
           (ABS((h.n - s.mu) / s.sigma) > 2.0) AS is_anomaly
    FROM hourly h JOIN stats s ON h.user_id = s.user_id
    WHERE s.n_hours >= 3 AND s.sigma > 0
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per-entity hourly event counts scored
    against that entity's own mean/stddev; |z| > 2 flags the hour. Two
    aggregations and a join, all keyed on user_id (one partitioning
    end-to-end); entities with degenerate baselines (<3 hours or zero
    variance) are excluded in both engines. This is the batch shape of
    the reference's progress-monitoring SLO (stream_processor.py:131-144)
    turned into a per-entity statistical gate."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 29 == 0)
    hourly = (
        e.select("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .groupBy("user_id", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = hourly.groupBy("user_id").agg(
        F.avg("n").alias("mu"),
        F.stddev_samp("n").alias("sigma"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(stats, "user_id")
        .filter((F.col("n_hours") >= 3) & (F.col("sigma") > 0))
        .select(
            "user_id",
            "hour",
            "n",
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )


@query(
    "winsorize_values",
    oracle="""
    WITH cuts AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < c.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
           CAST(SUM(CASE WHEN e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
           ROUND(AVG(LEAST(GREATEST(e.value, c.lo), c.hi)), 6) AS winsorized_mean,
           ROUND(AVG(e.value), 6) AS raw_mean
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized mean: clamp values into [p05, p95] before
    averaging — the standard robust-statistics guard against heavy-tailed
    metrics (payment amounts, token counts, latencies).

    Two aggregates over the same key: the exact-quantile pass (full sort
    per group — at 100 TB swap in percentile_approx, whose fixed-size
    sketch state makes this a single streaming-friendly pass) and the
    clamped re-aggregate. The cuts table is one row per group →
    broadcast back; the fact table shuffles once per pass on the same
    key, and AQE coalesces both to the group cardinality."""
    e = table(spark, sf_dir, "events")
    cuts = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clamped_lo"
            ),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clamped_hi"
            ),
            F.round(F.avg(clamped), 6).alias("winsorized_mean"),
            F.round(F.avg("value"), 6).alias("raw_mean"),
        )
        .orderBy("event_type")
    )


@query(
    "event_transition_probs",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM trans
    ORDER BY from_type, to_type
    """,
)
def event_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    LEAD over (user, time) pairs consecutive events without a self-join
    — the window rides ONE shuffle on user_id, and the transition count
    plus the row-normalizing window both group on the tiny (from, to)
    key space, so everything after the first exchange is
    broadcast-sized. The classic session-path analysis shape: at 100 TB
    the only big data movement is the per-user sort, which a bucketed
    events layout (user_id buckets, ts-sorted) eliminates entirely."""
    e = table(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(norm), 6).alias("p"),
    ).orderBy("from_type", "to_type")


# --- experimentation: Welch's t-test -----------------------------------------


@query(
    "ab_test_welch_ttest",
    oracle="""
    WITH assigned AS (
        SELECT user_id % 2 AS arm, value
        FROM events WHERE event_type = 'purchase'),
    stats AS (
        SELECT arm, COUNT(*) AS n, AVG(value) AS m, VAR_SAMP(value) AS v
        FROM assigned GROUP BY arm),
    wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS n0,
            MAX(CASE WHEN arm = 0 THEN m END) AS m0,
            MAX(CASE WHEN arm = 0 THEN v END) AS v0,
            MAX(CASE WHEN arm = 1 THEN n END) AS n1,
            MAX(CASE WHEN arm = 1 THEN m END) AS m1,
            MAX(CASE WHEN arm = 1 THEN v END) AS v1
        FROM stats)
    SELECT n0, n1,
           ROUND(m0, 6) AS mean_control,
           ROUND(m1, 6) AS mean_treatment,
           ROUND(m1 - m0, 6) AS lift,
           ROUND((m1 - m0) / SQRT(v1 / n1 + v0 / n0), 6) AS t_stat,
           ROUND(POWER(v1 / n1 + v0 / n0, 2)
                 / (POWER(v1 / n1, 2) / (n1 - 1) + POWER(v0 / n0, 2) / (n0 - 1)),
                 6) AS welch_df
    FROM wide
    """,
)
def ab_test_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test over a hash-assigned experiment:
    purchase value, arms split by user_id parity.

    The experimentation readout at any scale is ONE aggregate: each arm
    reduces to (n, mean, var_samp) with map-side partials, the 2-row
    result pivots to a single row, and the t statistic plus
    Welch-Satterthwaite degrees of freedom are closed-form arithmetic
    on those six numbers. Deterministic assignment (user_id % 2) is the
    same bucketing a real experimentation system derives from a user-id
    hash, and makes the oracle exact."""
    assigned = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 2).alias("arm"), "value")
    )
    stats = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    wide = stats.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("v1"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")
    return wide.select(
        "n0",
        "n1",
        F.round("m0", 6).alias("mean_control"),
        F.round("m1", 6).alias("mean_treatment"),
        F.round(F.col("m1") - F.col("m0"), 6).alias("lift"),
        F.round((F.col("m1") - F.col("m0")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v0") / F.col("n0"), 2) / (F.col("n0") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


# --- survival analysis: Kaplan-Meier -----------------------------------------

_KM_HORIZON = 365


@query(
    "survival_kaplan_meier",
    oracle=f"""
    WITH durations AS (
        SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t,
               CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE datediff('day', o.o_orderdate, l.l_shipdate) BETWEEN 0 AND {_KM_HORIZON}),
    per_t AS (
        SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM durations GROUP BY t),
    risk AS (
        SELECT t, d, c,
               SUM(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - (d + c) AS removed_before,
               SUM(d + c) OVER () AS total
        FROM per_t),
    km AS (
        SELECT t, d, c, total - removed_before AS n_at_risk,
               EXP(SUM(LN(1 - CAST(d AS DOUBLE) / (total - removed_before)))
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)) AS s
        FROM risk)
    SELECT t AS duration_days, d AS n_events, c AS n_censored,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           ROUND(s, 6) AS survival
    FROM km
    WHERE t % 30 = 0
    ORDER BY t
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over order→ship latency ('F' lines are the
    event, 'O' lines right-censored), fully relational.

    The estimator's running product becomes EXP of a windowed SUM of
    LN(1 - d/n) — one shuffle to the per-duration aggregate (≤366
    rows), then windows over that constant-size frame; the at-risk
    count is total minus a cumulative removal sum, no self-join. The
    horizon filter guarantees n > d at every step, so LN never sees 0
    (where Spark yields NULL but DuckDB -inf). Output sampled at
    30-day marks for a stable audit surface."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("ev"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dur = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.datediff("l_shipdate", "o_orderdate").alias("t"), "ev")
        .filter((F.col("t") >= 0) & (F.col("t") <= _KM_HORIZON))
    )
    per_t = dur.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    cum = (
        Window.partitionBy()
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy()
    risk = per_t.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(tot)
            - (F.sum(F.col("d") + F.col("c")).over(cum) - (F.col("d") + F.col("c")))
        ).alias("n_at_risk"),
    )
    s = F.exp(
        F.sum(
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk"))
        ).over(cum)
    )
    return (
        risk.withColumn("s", s)
        .filter(F.col("t") % 30 == 0)
        .select(
            F.col("t").alias("duration_days"),
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.round("s", 6).alias("survival"),
        )
        .orderBy("duration_days")
    )


@query(
    "median_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)),
    mad AS (
        SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(d.med), 6) AS med,
           ROUND(MAX(m.mad), 6) AS mad,
           CAST(SUM(CASE WHEN m.mad > 0
                          AND 0.6745 * d.adev / m.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def median_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation: per event
    type, flag values whose modified z-score 0.6745*|x-med|/MAD exceeds
    3.5 (Iglewicz-Hoaglin). Unlike the mean/stddev z-score
    (`ts_anomaly_zscore`), the breakdown point is 50% — the outliers
    themselves cannot drag the threshold.

    Plan: two grouped exact-median aggregates over 5 keys with the tiny
    (5-row) results broadcast back — the raw table is scanned, never
    shuffled on a per-row key. Exact `median` keeps the DuckDB oracle
    bit-comparable; at 100 TB the drop-in is `approx_percentile` (same
    plan shape, sketch-mergeable so the scan stays one pass)."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (0.6745 * F.col("adev") / F.col("mad") > 3.5),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "attribution_last_touch_linear",
    oracle="""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'),
    clicks AS (
        SELECT event_id AS c_id, user_id, ts AS c_ts
        FROM events WHERE event_type = 'click'),
    touched AS (
        SELECT p.p_id, c.c_id, CAST(c.c_ts AS DATE) AS click_day,
               COUNT(*) OVER (PARTITION BY p.p_id) AS n_touches,
               ROW_NUMBER() OVER (PARTITION BY p.p_id
                                  ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
        FROM purchases p
        JOIN clicks c
          ON c.user_id = p.user_id
         AND c.c_ts <= p.p_ts
         AND c.c_ts > p.p_ts - INTERVAL 7 DAY)
    SELECT click_day,
           CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS last_touch_conversions,
           ROUND(SUM(1.0 / n_touches), 6) AS linear_credit
    FROM touched
    GROUP BY click_day
    ORDER BY click_day
    """,
)
def attribution_last_touch_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over the event stream: every purchase
    credits the user's clicks from the preceding 7 days — last-touch
    (the final click takes the conversion) and linear (1/n to each
    touch) models side by side, rolled up by click day.

    Plan: purchases⋈clicks is an equi-join on user_id with the time
    window as a join-side filter — per-user candidate lists, never a
    time-range cross product; the per-purchase window (touch count +
    last-touch rank) rides one shuffle on the purchase id. Linear
    credits are exact rationals summed per day; 6-dp rounding absorbs
    order noise."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touched = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    wp = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(
        F.col("c_ts").desc(), F.col("c_id").desc()
    )
    scored = touched.select(
        F.col("c_ts").cast("date").alias("click_day"),
        F.count(F.lit(1)).over(wp).alias("n_touches"),
        F.row_number().over(wr).alias("rn"),
    )
    return (
        scored.groupBy("click_day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credited_touches"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("last_touch_conversions"),
            F.round(F.sum(F.lit(1.0) / F.col("n_touches")), 6).alias(
                "linear_credit"
            ),
        )
        .orderBy("click_day")
    )


# --- Poisson bootstrap ----------------------------------------------------

_BOOT_R = 50
_BOOT_M = 2147483647
# Poisson(1) inverse-CDF ladder; literal thresholds shared by both engines.
_POIS_CDF = [
    (0.36787944117144233, 0),
    (0.7357588823428847, 1),
    (0.9196986029286058, 2),
    (0.9810118431238462, 3),
    (0.9963401531726563, 4),
    (0.9994058151824183, 5),
]


def _boot_oracle() -> str:
    u = (
        f"((((e.event_id % {_BOOT_M} * 1103515245 + 12345) % {_BOOT_M} + r.r)"
        f" * 1103515245 + 12345) % {_BOOT_M}) * 1.0 / {_BOOT_M}"
    )
    ladder = " ".join(f"WHEN {u} < {t} THEN {k}" for t, k in _POIS_CDF)
    return f"""
    WITH rep AS (
        SELECT r.r,
               CAST(SUM(CAST((CASE {ladder} ELSE 6 END) * e.value
                             AS DECIMAL(38,6))) AS DOUBLE) AS wsum,
               SUM(CASE {ladder} ELSE 6 END) AS w
        FROM events e, unnest(generate_series(1, {_BOOT_R})) AS r(r)
        GROUP BY r.r),
    means AS (SELECT r, wsum / w AS m FROM rep),
    base AS (
        SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS mean_value
        FROM events)
    SELECT CAST({_BOOT_R} AS BIGINT) AS n_replicates,
           ROUND(base.mean_value, 6) AS mean_value,
           ROUND(quantile_cont(means.m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(means.m, 0.975), 6) AS ci_hi
    FROM means, base
    GROUP BY base.mean_value
    """


@query("poisson_bootstrap_ci", oracle=_boot_oracle())
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value via
    the POISSON bootstrap — the resampling scheme that works on a
    cluster: instead of drawing n rows with replacement (which needs
    global coordination), every row independently receives a
    Poisson(1)-distributed multiplicity per replicate. Replicate means
    then differ from true resample means by O(1/sqrt(n)) — the standard
    streaming/distributed bootstrap.

    Multiplicities come from a deterministic two-round LCG mix of
    (row id, replicate id) through a shared inverse-CDF ladder, so both
    engines draw the SAME 50 resamples; the second multiplicative round
    is what decorrelates replicates (a single additive replicate term
    shifts the uniform by ~1e-5 and every resample collapses onto the
    first — caught by the CI-brackets-mean property test). The replicate explode is map-side aggregated
    (the shuffle carries 50 partials per partition, not 50x the data);
    weighted sums accumulate in DECIMAL so replicate means are exact."""
    e = table(spark, sf_dir, "events").select("event_id", "value")
    r = F.explode(F.sequence(F.lit(1), F.lit(_BOOT_R))).alias("r")
    u = (
        (
            (
                ((F.col("event_id") % _BOOT_M * 1103515245 + 12345) % _BOOT_M + F.col("r"))
                * 1103515245
                + 12345
            )
            % _BOOT_M
        )
        * F.lit(1.0)
        / _BOOT_M
    )
    w = F.lit(6)
    for t, k in reversed(_POIS_CDF):
        w = F.when(u < t, k).otherwise(w)
    rep = (
        e.select("event_id", "value", r)
        .select("r", w.alias("w"), "value")
        .groupBy("r")
        .agg(
            (
                F.sum((F.col("w") * F.col("value")).cast("decimal(38,6)"))
                .cast("double")
                / F.sum("w")
            ).alias("m")
        )
    )
    base = e.agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("*")
        ).alias("mean_value")
    )
    return rep.crossJoin(F.broadcast(base)).agg(
        F.lit(_BOOT_R).cast("bigint").alias("n_replicates"),
        F.round(F.max("mean_value"), 6).alias("mean_value"),
        F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi"),
    )


@query(
    "seq_pattern_followed_by",
    oracle="""
    WITH firsts AS (
        SELECT user_id, event_type, MIN(ts) AS first_ts
        FROM events GROUP BY user_id, event_type),
    pairs AS (
        SELECT a.event_type AS antecedent, b.event_type AS consequent,
               COUNT(*) AS n_users
        FROM firsts a
        JOIN firsts b ON b.user_id = a.user_id
                     AND b.event_type <> a.event_type
                     AND a.first_ts < b.first_ts
        GROUP BY 1, 2),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events)
    SELECT antecedent, consequent,
           CAST(n_users AS BIGINT) AS n_users,
           ROUND(n_users / tot.n, 6) AS support
    FROM pairs, tot
    ORDER BY antecedent, consequent
    """,
)
def seq_pattern_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns of length 2 ('users who do A later
    do B'): for every ordered event-type pair, the number and fraction
    of users whose FIRST A strictly precedes their FIRST B — the
    support table a PrefixSpan-style miner starts from, and on a small
    type alphabet the complete answer.

    The scalable core: the raw stream collapses to one row per
    (user, type) in a single aggregate, so the pair self-join runs on a
    frame bounded by users x |alphabet| — per-user candidate lists of
    at most 5x5 — never on raw events. Equal first-timestamps support
    neither direction (strict <), identically in both engines."""
    firsts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"))
    )
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("antecedent"),
        F.col("first_ts").alias("a_ts"),
    )
    b = firsts.select(
        "user_id",
        F.col("event_type").alias("consequent"),
        F.col("first_ts").alias("b_ts"),
    )
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("a_ts") < F.col("b_ts"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    tot = (
        table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("double").alias("n"))
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_users",
            F.round(F.col("n_users") / F.col("n"), 6).alias("support"),
        )
        .orderBy("antecedent", "consequent")
    )


@query(
    "window_funnel_within_time",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    vc AS (
        SELECT v.user_id, v.ts AS v_ts, MIN(c.ts) AS c_ts
        FROM v JOIN c ON c.user_id = v.user_id
                     AND c.ts > v.ts
                     AND c.ts <= v.ts + INTERVAL 1 HOUR
        GROUP BY v.user_id, v.ts),
    vcp AS (
        SELECT vc.user_id
        FROM vc JOIN p ON p.user_id = vc.user_id
                      AND p.ts > vc.c_ts
                      AND p.ts <= vc.v_ts + INTERVAL 1 HOUR
        GROUP BY vc.user_id),
    lvl AS (
        SELECT u.user_id,
               CASE WHEN u3.user_id IS NOT NULL THEN 3
                    WHEN u2.user_id IS NOT NULL THEN 2
                    WHEN u1.user_id IS NOT NULL THEN 1
                    ELSE 0 END AS level
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN (SELECT DISTINCT user_id FROM v) u1 ON u1.user_id = u.user_id
        LEFT JOIN (SELECT DISTINCT user_id FROM vc) u2 ON u2.user_id = u.user_id
        LEFT JOIN vcp u3 ON u3.user_id = u.user_id)
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM lvl GROUP BY level ORDER BY level
    """,
)
def window_funnel_within_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (the windowFunnel analytic): how far does
    each user get through view → click → purchase where the WHOLE chain
    must fit inside one hour of the opening view — unlike
    `funnel_conversion`, which only asks whether the steps ever
    happened. Per-user funnel level (0–3), rolled up to users per level.

    All joins are user-keyed with the time window as a join filter —
    per-user candidate lists, no time-range cross product; each chain
    stage reduces with MIN (earliest completion) before the next stage
    joins, so intermediate frames never exceed the step-event counts."""
    e = table(spark, sf_dir, "events")

    def step(t: str) -> DataFrame:
        return e.filter(F.col("event_type") == t).select("user_id", "ts")

    v = step("view").select("user_id", F.col("ts").alias("v_ts"))
    c = step("click").select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    p = step("purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    hour = F.expr("INTERVAL 1 HOUR")
    vc = (
        v.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + hour),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("c_ts").alias("c_ts"))
    )
    vcp = (
        vc.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + hour),
        )
        .select("user_id")
        .distinct()
        .withColumn("l3", F.lit(1))
    )
    u = e.select("user_id").distinct()
    u1 = v.select("user_id").distinct().withColumn("l1", F.lit(1))
    u2 = vc.select("user_id").distinct().withColumn("l2", F.lit(1))
    lvl = (
        u.join(u1, "user_id", "left")
        .join(u2, "user_id", "left")
        .join(vcp, "user_id", "left")
        .select(
            F.when(F.col("l3").isNotNull(), 3)
            .when(F.col("l2").isNotNull(), 2)
            .when(F.col("l1").isNotNull(), 1)
            .otherwise(0)
            .alias("level")
        )
    )
    return (
        lvl.groupBy("level")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("level")
    )


@query(
    "path_top_sequences",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    paths AS (
        SELECT user_id,
               STRING_AGG(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 10
    """,
)
def path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top opening paths (the Sankey/user-journey primitive): each
    user's first three events in strict (ts, event_id) order joined
    into a 'view>click>…' path string, ranked by how many users share
    it. The onboarding-flow question every product-analytics engine
    answers.

    One shuffle ranks each user's timeline; the path assembles from an
    order-tagged collect_list sorted per user (deterministic — the sort
    key rides inside the struct, so executor arrival order is
    irrelevant), then path popularity is a tiny second aggregate with a
    TakeOrdered top-10."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


@query(
    "revenue_gini_lorenz",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS x
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) AS i,
               COUNT(*) OVER () AS nn
        FROM rev),
    sums AS (
        SELECT CAST(MAX(nn) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(i * x AS DECIMAL(38,6))) AS DOUBLE) AS six,
               CAST(SUM(CASE WHEN i > nn - FLOOR(nn / 10)
                             THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
                   AS top_sx
        FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini,
           ROUND(top_sx / sx, 6) AS top_decile_share
    FROM sums
    """,
)
def revenue_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Gini coefficient of per-customer
    revenue (from the sorted-rank identity G = 2·Σi·x₍ᵢ₎/(n·Σx) −
    (n+1)/n) plus the top-decile revenue share — the Lorenz-curve
    numbers behind every 'whales' analysis, and operationally the same
    skew signal `skew_key_diagnostics` reads for shuffle planning.

    The fact table reduces to one row per customer first (DECIMAL
    sums), so the rank window runs on the dimension-sized frame; every
    rank-weighted sum also accumulates in DECIMAL. At 100 TB the
    per-customer frame still fits the window comfortably; if it ever
    didn't, the same identity works on quantile-bucketed aggregates."""
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("x")
        )
    )
    wr = Window.partitionBy().orderBy(F.col("x").asc(), F.col("o_custkey").asc())
    ranked = rev.select("x", F.row_number().over(wr).alias("i"))
    n_all = Window.partitionBy()
    ranked = ranked.withColumn("n", F.count(F.lit(1)).over(n_all))
    sums = ranked.agg(
        F.max("n").cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("six"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.floor(F.col("n") / 10),
                F.col("x").cast("decimal(38,6)"),
            )
        )
        .cast("double")
        .alias("top_sx"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(
            2.0 * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(F.col("top_sx") / F.col("sx"), 6).alias("top_decile_share"),
    )


# Two-sided alpha=0.05 and power=0.80 normal quantiles (literals shared
# with the oracle so both engines compute identical requirements).
_PWR_Z_ALPHA = 1.959963985
_PWR_Z_BETA = 0.8416212336
_PWR_DELTA = 5.0  # minimum detectable absolute effect on `value`


@query(
    "ab_test_power_sample_size",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type),
    v AS (
        SELECT event_type, CAST(n AS BIGINT) AS n_obs,
               (sxx - sx * sx / n) / (n - 1) AS s2
        FROM s)
    SELECT event_type, n_obs,
           ROUND(s2, 6) AS variance,
           CAST(CEIL(2.0 * s2
                     * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                     * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                     / ({_PWR_DELTA} * {_PWR_DELTA})) AS BIGINT)
               AS n_required_per_arm
    FROM v
    ORDER BY event_type
    """,
)
def ab_test_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test power analysis: per event type, the sample size each arm
    needs to detect a {_PWR_DELTA}-unit shift in mean value at
    alpha=0.05 (two-sided) with 80% power — n = 2s²(z_a+z_b)²/d². This
    is the pre-registration companion to `ab_test_welch_ttest`: run the
    power calc BEFORE the experiment, the t-test after.

    One global aggregate per type computes (n, Σx, Σx²) with DECIMAL
    accumulation, so the sample variance — and therefore the required
    n — is bit-identical across engines; the z-quantiles are shared
    literals."""
    s = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    s2 = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    zsum = _PWR_Z_ALPHA + _PWR_Z_BETA
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(s2, 6).alias("variance"),
        F.ceil(
            2.0 * s2 * F.lit(zsum) * F.lit(zsum) / (_PWR_DELTA * _PWR_DELTA)
        )
        .cast("bigint")
        .alias("n_required_per_arm"),
    ).orderBy("event_type")


@query(
    "survival_logrank_test",
    oracle=f"""
    WITH durations AS (
        SELECT l.l_suppkey % 2 AS arm,
               datediff('day', o.o_orderdate, l.l_shipdate) AS t,
               CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE datediff('day', o.o_orderdate, l.l_shipdate)
              BETWEEN 0 AND {_KM_HORIZON}),
    per_ta AS (
        SELECT t, arm, CAST(SUM(ev) AS DOUBLE) AS d,
               CAST(COUNT(*) AS DOUBLE) AS r
        FROM durations GROUP BY t, arm),
    risk AS (
        SELECT t, arm, d,
               SUM(r) OVER (PARTITION BY arm ORDER BY t
                            ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS n_at_risk
        FROM per_ta),
    merged AS (
        SELECT a1.t,
               a1.d AS d1, a1.n_at_risk AS n1,
               a1.d + COALESCE(a0.d, 0) AS dj,
               a1.n_at_risk + COALESCE(a0.n_at_risk, 0) AS nj
        FROM (SELECT * FROM risk WHERE arm = 1) a1
        LEFT JOIN (SELECT * FROM risk WHERE arm = 0) a0 ON a0.t = a1.t
        WHERE a1.d + COALESCE(a0.d, 0) > 0),
    terms AS (
        SELECT d1, dj * n1 / nj AS e1,
               CASE WHEN nj > 1
                    THEN dj * (n1 / nj) * (1 - n1 / nj) * (nj - dj) / (nj - 1)
                    ELSE 0 END AS v1
        FROM merged)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
           CAST(SUM(CAST(d1 AS DECIMAL(38,6))) AS BIGINT) AS observed_arm1,
           ROUND(CAST(SUM(CAST(e1 AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS expected_arm1,
           ROUND(POWER(CAST(SUM(CAST(d1 - e1 AS DECIMAL(38,12))) AS DOUBLE), 2)
                 / CAST(SUM(CAST(v1 AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS logrank_chi2
    FROM terms
    """,
)
def survival_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing ship-latency survival between two
    supplier arms (suppkey parity) — the hypothesis test that belongs
    next to `survival_kaplan_meier`'s curves: at every event time,
    compare arm 1's observed events to its risk-set-proportional
    expectation and accumulate the hypergeometric variance;
    chi2 = (ΣO−E)²/ΣV on 1 df.

    The raw join collapses to one row per (duration, arm); at-risk
    counts are a REVERSED cumulative sum over that ≤2·366-row frame
    (no per-subject sort), arms merge on the duration key, and every
    O/E/V accumulation runs through DECIMAL — the statistic cannot
    drift between engines. The event-time grid is anchored on arm 1's
    observed durations (daily-resolution data puts events from both
    arms on almost every day, so the grids coincide in practice);
    days where only arm 0 has events contribute no O−E term."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        (F.col("l_suppkey") % 2).alias("arm"),
        F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("ev"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dur = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "arm", F.datediff("l_shipdate", "o_orderdate").alias("t"), "ev"
        )
        .filter((F.col("t") >= 0) & (F.col("t") <= _KM_HORIZON))
    )
    per_ta = dur.groupBy("t", "arm").agg(
        F.sum("ev").cast("double").alias("d"),
        F.count(F.lit(1)).cast("double").alias("r"),
    )
    wrev = (
        Window.partitionBy("arm")
        .orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    risk = per_ta.select("t", "arm", "d", F.sum("r").over(wrev).alias("n_at_risk"))
    a1 = risk.filter(F.col("arm") == 1).select(
        "t", F.col("d").alias("d1"), F.col("n_at_risk").alias("n1")
    )
    a0 = risk.filter(F.col("arm") == 0).select(
        "t", F.col("d").alias("d0"), F.col("n_at_risk").alias("n0")
    )
    merged = (
        a1.join(a0, "t", "left")
        .select(
            "d1",
            "n1",
            (F.col("d1") + F.coalesce("d0", F.lit(0.0))).alias("dj"),
            (F.col("n1") + F.coalesce("n0", F.lit(0.0))).alias("nj"),
        )
        .filter(F.col("dj") > 0)
    )
    e1 = F.col("dj") * F.col("n1") / F.col("nj")
    v1 = F.when(
        F.col("nj") > 1,
        F.col("dj")
        * (F.col("n1") / F.col("nj"))
        * (1 - F.col("n1") / F.col("nj"))
        * (F.col("nj") - F.col("dj"))
        / (F.col("nj") - 1),
    ).otherwise(0.0)
    terms = merged.select(
        "d1", e1.alias("e1"), v1.alias("v1")
    )

    def dsum12(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.sum(F.col("d1").cast("decimal(38,6)")).cast("bigint").alias(
            "observed_arm1"
        ),
        F.round(dsum12(F.col("e1")), 6).alias("expected_arm1"),
        F.round(
            F.pow(dsum12(F.col("d1") - F.col("e1")), 2) / dsum12(F.col("v1")), 6
        ).alias("logrank_chi2"),
    )


@query(
    "causal_diff_in_diff",
    oracle="""
    WITH cells AS (
        SELECT user_id % 2 AS treated,
               CASE WHEN EXTRACT(day FROM ts) > 15 THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM events
        GROUP BY 1, 2),
    m AS (
        SELECT treated, post, n, sx / n AS mean,
               (sxx - sx * sx / n) / (n - 1) / n AS var_mean
        FROM cells),
    wide AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 1 THEN mean END) AS t_post,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN mean END) AS t_pre,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN mean END) AS c_post,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN mean END) AS c_pre,
            SUM(var_mean) AS var_did,
            CAST(SUM(n) AS BIGINT) AS n_total
        FROM m)
    SELECT n_total,
           ROUND(t_pre, 6) AS treated_pre,
           ROUND(t_post, 6) AS treated_post,
           ROUND(c_pre, 6) AS control_pre,
           ROUND(c_post, 6) AS control_post,
           ROUND((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate,
           ROUND(SQRT(var_did), 6) AS std_error,
           ROUND(((t_post - t_pre) - (c_post - c_pre)) / SQRT(var_did), 6)
               AS t_stat
    FROM wide
    """,
)
def causal_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator: treated arm (user-id
    parity) vs control, pre vs post mid-month — the workhorse
    quasi-experimental design when you can't randomize, with the
    standard error from the four cell-mean variances. Under parallel
    trends, DiD isolates the treatment effect from both arm-level and
    period-level confounds that a naive post-period comparison absorbs.

    ONE grouped aggregate produces all four cells (n, Σx, Σx² through
    DECIMAL); the estimator, its variance, and the t-statistic are
    closed-form arithmetic on that 4-row frame."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 2).alias("treated"),
            F.when(F.dayofmonth("ts") > 15, 1).otherwise(0).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    m = cells.select(
        "treated",
        "post",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("var_mean"),
    )

    def cell(t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean"))
        )

    wide = m.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.sum("var_mean").alias("var_did"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    did = (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))
    return wide.select(
        "n_total",
        F.round("t_pre", 6).alias("treated_pre"),
        F.round("t_post", 6).alias("treated_post"),
        F.round("c_pre", 6).alias("control_pre"),
        F.round("c_post", 6).alias("control_post"),
        F.round(did, 6).alias("did_estimate"),
        F.round(F.sqrt("var_did"), 6).alias("std_error"),
        F.round(did / F.sqrt("var_did"), 6).alias("t_stat"),
    )


@query(
    "hbos_outlier_score",
    oracle="""
    WITH feat AS (
        SELECT event_id, value, EXTRACT(hour FROM ts) AS h FROM events),
    stats AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n FROM feat),
    binned AS (
        SELECT f.event_id, f.h, s.n,
               LEAST(9, CAST(FLOOR((f.value - s.mn) * 10.0 / (s.mx - s.mn))
                             AS BIGINT)) AS vbin
        FROM feat f, stats s),
    vb AS (SELECT vbin, COUNT(*) AS nv FROM binned GROUP BY vbin),
    hb AS (SELECT h, COUNT(*) AS nh FROM binned GROUP BY h)
    SELECT b.event_id, b.vbin, b.h,
           ROUND(-LOG10(vb.nv * 1.0 / b.n) - LOG10(hb.nh * 1.0 / b.n), 6)
               AS hbos_score
    FROM binned b JOIN vb USING (vbin) JOIN hb USING (h)
    ORDER BY hbos_score DESC, event_id ASC
    LIMIT 20
    """,
)
def hbos_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (HBOS): per-feature histograms
    (10 equi-width value bins, 24 hour-of-day bins) turn into log
    inverse-density scores that sum across features — the linear-time
    unsupervised anomaly screen that scales where kNN/isolation-forest
    scoring can't.

    One global (min, max, n) aggregate broadcasts back to bin every row
    map-side; the two histogram aggregates reduce to <=34 rows that
    also broadcast into the scoring pass — the events table is never
    shuffled on a per-row key, and the top-20 is TakeOrderedAndProject.
    Identical binning and log expressions run in both engines."""
    feat = table(spark, sf_dir, "events").select(
        "event_id", "value", F.hour("ts").alias("h")
    )
    stats = feat.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"), F.count("*").alias("n")
    )
    binned = feat.crossJoin(F.broadcast(stats)).select(
        "event_id",
        "h",
        "n",
        F.least(
            F.lit(9),
            F.floor((F.col("value") - F.col("mn")) * 10.0 / (F.col("mx") - F.col("mn"))).cast("long"),
        ).alias("vbin"),
    )
    vb = binned.groupBy("vbin").agg(F.count("*").alias("nv"))
    hb = binned.groupBy("h").agg(F.count("*").alias("nh"))
    score = -F.log10(F.col("nv") * 1.0 / F.col("n")) - F.log10(
        F.col("nh") * 1.0 / F.col("n")
    )
    return (
        binned.join(F.broadcast(vb), "vbin")
        .join(F.broadcast(hb), "h")
        .select(
            "event_id", "vbin", "h", F.round(score, 6).alias("hbos_score")
        )
        .orderBy(F.col("hbos_score").desc(), F.col("event_id").asc())
        .limit(20)
    )


@query(
    "drift_ks_two_sample",
    oracle="""
    WITH tagged AS (
        SELECT value,
               CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS a
        FROM events),
    per_v AS (
        SELECT value,
               CAST(SUM(a) AS BIGINT) AS ca,
               CAST(SUM(1 - a) AS BIGINT) AS cb
        FROM tagged GROUP BY value),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM per_v),
    cum AS (
        SELECT value,
               SUM(ca) OVER (ORDER BY value) AS cum_ca,
               SUM(cb) OVER (ORDER BY value) AS cum_cb
        FROM per_v)
    SELECT t.na, t.nb,
           ROUND(MAX(ABS(cum_ca * 1.0 / t.na - cum_cb * 1.0 / t.nb)), 6)
               AS ks_stat,
           MAX(ABS(cum_ca * 1.0 / t.na - cum_cb * 1.0 / t.nb))
               > 1.358 * SQRT((t.na + t.nb) * 1.0 / (t.na * t.nb))
               AS reject_95
    FROM cum, tot t
    GROUP BY t.na, t.nb
    """,
)
def drift_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the first and
    second half of each month: the EXACT sup-distance between the two
    empirical CDFs, plus the alpha=0.95 decision — the
    distribution-free companion to the binned PSI monitor
    (drift_psi_value_distribution), sensitive to shape changes PSI's
    10 coarse bins can smooth over.

    The exact ECDFs need a global running sum over the value order —
    computed with the two-pass range-partition prefix scan
    (functions/ranks.py::global_cumulative_sums), NOT a
    single-partition window, so the value-distinct frame never funnels
    through one task. KS itself is then a MAX selection (no float
    accumulation): one aggregate over |distinct values| rows."""
    from ..functions.ranks import global_cumulative_sums

    e = table(spark, sf_dir, "events").select(
        "value", F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("a")
    )
    per_v = e.groupBy("value").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum(1 - F.col("a")).cast("long").alias("cb"),
    )
    cum = global_cumulative_sums(per_v, [F.col("value")], ["ca", "cb"])
    tot = per_v.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    diff = F.abs(
        F.col("cum_ca") * 1.0 / F.col("na") - F.col("cum_cb") * 1.0 / F.col("nb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.round(F.max(diff), 6).alias("ks_stat"),
            (
                F.max(diff)
                > 1.358
                * F.sqrt((F.col("na") + F.col("nb")) * 1.0 / (F.col("na") * F.col("nb")))
            ).alias("reject_95"),
        )
    )


@query(
    "ab_test_mann_whitney",
    oracle="""
    WITH tagged AS (
        SELECT value, user_id % 2 AS arm FROM events),
    per_v AS (
        SELECT value,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
        FROM tagged GROUP BY value),
    cum AS (
        SELECT value, c, c0,
               SUM(c) OVER (ORDER BY value) - c AS before
        FROM per_v),
    tot AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0,
               CAST(SUM(c - c0) AS BIGINT) AS n1,
               CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tie_term
        FROM per_v),
    r AS (
        SELECT CAST(SUM(CAST(c0 * (before + (c + 1) / 2.0) AS DECIMAL(38,6)))
                    AS DOUBLE) AS r0
        FROM cum)
    SELECT t.n0, t.n1,
           ROUND(r.r0 - t.n0 * (t.n0 + 1) / 2.0, 6) AS u_stat,
           ROUND((r.r0 - t.n0 * (t.n0 + 1) / 2.0 - t.n0 * t.n1 / 2.0)
                 / SQRT(t.n0 * t.n1 / 12.0
                        * ((t.n0 + t.n1 + 1)
                           - t.tie_term / ((t.n0 + t.n1) * (t.n0 + t.n1 - 1.0)))),
                 6) AS z_score
    FROM tot t, r
    """,
)
def ab_test_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two hash-assigned
    arms — the nonparametric A/B companion to ab_test_welch_ttest for
    heavy-tailed metrics where mean comparisons mislead, with the
    normal approximation's TIE-corrected variance.

    Average ranks come from per-distinct-value counts + the two-pass
    distributed prefix scan (functions/ranks.py) — rank of a tie group
    = rows-before + (c+1)/2 — so no per-row global window exists
    anywhere. The rank SUM accumulates in DECIMAL; the tie-correction
    term sums c^3 - c per distinct value. Three collapsing aggregates
    total, each keyed on value then global — scale-invariant."""
    from ..functions.ranks import global_cumulative_sums

    e = table(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).alias("arm")
    )
    per_v = e.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("c0"),
    )
    cum = global_cumulative_sums(per_v, [F.col("value")], ["c"]).withColumn(
        "before", F.col("cum_c") - F.col("c")
    )
    r0 = cum.agg(
        F.sum(
            (F.col("c0") * (F.col("before") + (F.col("c") + 1) / 2.0)).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("r0")
    )
    tot = per_v.agg(
        F.sum("c0").alias("n0"),
        F.sum(F.col("c") - F.col("c0")).alias("n1"),
        # c^3 summed in DECIMAL: a value tied across t rows contributes
        # t^3, which blows through BIGINT once a hot value passes ~2M
        # occurrences (same overflow class the xicor scale probe hit)
        F.sum(
            F.col("c").cast("decimal(12,0)")
            * F.col("c").cast("decimal(12,0)")
            * F.col("c").cast("decimal(12,0)")
            - F.col("c")
        )
        .cast("double")
        .alias("tie_term"),
    )
    u = F.col("r0") - F.col("n0") * (F.col("n0") + 1) / 2.0
    n = F.col("n0") + F.col("n1")
    var = (
        F.col("n0")
        * F.col("n1")
        / 12.0
        * ((n + 1) - F.col("tie_term") / (n * (n - 1.0)))
    )
    return (
        r0.crossJoin(F.broadcast(tot))
        .select(
            "n0",
            "n1",
            F.round(u, 6).alias("u_stat"),
            F.round((u - F.col("n0") * F.col("n1") / 2.0) / F.sqrt(var), 6).alias(
                "z_score"
            ),
        )
    )


@query(
    "median_rank_ci",
    oracle="""
    WITH ranked AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk,
               COUNT(*) OVER () AS n
        FROM events),
    marks AS (
        SELECT n,
               CAST(CEIL(n / 2.0 - 1.959964 * SQRT(n) / 2) AS BIGINT) AS lo_rank,
               CAST(CEIL(n / 2.0 + 1 + 1.959964 * SQRT(n) / 2) AS BIGINT) AS hi_rank,
               CAST(CEIL(n / 2.0) AS BIGINT) AS med_rank
        FROM (SELECT DISTINCT n FROM ranked))
    SELECT m.n,
           ROUND(MAX(CASE WHEN r.rk = m.med_rank THEN r.value END), 6) AS median,
           ROUND(MAX(CASE WHEN r.rk = m.lo_rank THEN r.value END), 6) AS ci_lo,
           ROUND(MAX(CASE WHEN r.rk = m.hi_rank THEN r.value END), 6) AS ci_hi
    FROM ranked r JOIN marks m USING (n)
    GROUP BY m.n
    """,
)
def median_rank_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nonparametric 95% confidence interval for the median from
    ORDER STATISTICS (the binomial rank bound: ranks n/2 -+ z*sqrt(n)/2)
    — no resampling, no normality assumption; the rank-based sibling of
    poisson_bootstrap_ci.

    Global ranks come from the two-pass range-partition scheme
    (functions/ranks.py), so no single-partition window touches the
    fact table; the three order statistics are then one conditional
    aggregate over rows whose rank hits a mark. Selection, not
    accumulation — float order can't perturb it."""
    from ..functions.ranks import global_row_number

    e = table(spark, sf_dir, "events").select("value", "event_id")
    ranked, n = global_row_number(e, [F.col("value"), F.col("event_id")], "rk")
    import math

    lo = math.ceil(n / 2.0 - 1.959964 * math.sqrt(n) / 2)
    hi = math.ceil(n / 2.0 + 1 + 1.959964 * math.sqrt(n) / 2)
    med = math.ceil(n / 2.0)
    return (
        ranked.filter(F.col("rk").isin(lo, hi, med))
        .agg(
            F.lit(n).cast("long").alias("n"),
            F.round(F.max(F.when(F.col("rk") == med, F.col("value"))), 6).alias(
                "median"
            ),
            F.round(F.max(F.when(F.col("rk") == lo, F.col("value"))), 6).alias(
                "ci_lo"
            ),
            F.round(F.max(F.when(F.col("rk") == hi, F.col("value"))), 6).alias(
                "ci_hi"
            ),
        )
    )


@query(
    "survival_nelson_aalen",
    oracle=f"""
    WITH durations AS (
        SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t,
               CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE datediff('day', o.o_orderdate, l.l_shipdate) BETWEEN 0 AND {_KM_HORIZON}),
    per_t AS (
        SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM durations GROUP BY t),
    risk AS (
        SELECT t, d,
               SUM(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - (d + c) AS removed_before,
               SUM(d + c) OVER () AS total
        FROM per_t),
    na AS (
        SELECT t, d, total - removed_before AS n_at_risk,
               SUM(CAST(d AS DOUBLE) / (total - removed_before))
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS h,
               SUM(CAST(d AS DOUBLE) / POWER(total - removed_before, 2))
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS var_h
        FROM risk)
    SELECT t AS duration_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           ROUND(h, 6) AS cumulative_hazard,
           ROUND(SQRT(var_h), 6) AS hazard_se,
           ROUND(EXP(-h), 6) AS survival_fh
    FROM na
    WHERE t % 30 = 0
    ORDER BY t
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard with its standard error, plus the
    Fleming-Harrington survival exp(-H) — the hazard-space companion to
    survival_kaplan_meier (hazards ADD across time and strata, which is
    what makes this the estimator regulators/meta-analyses want).

    Identical plan shape to KM: durations reduce to one row per day
    (<=366 rows at the 1-year horizon), every window runs on that
    calendar-bounded frame, never the fact table. The cumulative sums
    are over <=366 values per frame — the oracle mirrors them
    window-for-window."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    t = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    durations = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            t.alias("t"),
            F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("ev"),
        )
        .filter(F.col("t").between(0, _KM_HORIZON))
    )
    per_t = durations.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risk = per_t.select(
        "t",
        "d",
        (F.sum(F.col("d") + F.col("c")).over(w_cum) - (F.col("d") + F.col("c"))).alias(
            "removed_before"
        ),
        F.sum(F.col("d") + F.col("c")).over(w_all).alias("total"),
    )
    n_at_risk = F.col("total") - F.col("removed_before")
    na = risk.select(
        "t",
        n_at_risk.alias("n_at_risk"),
        F.sum(F.col("d").cast("double") / n_at_risk).over(w_cum).alias("h"),
        F.sum(F.col("d").cast("double") / F.pow(n_at_risk, 2))
        .over(w_cum)
        .alias("var_h"),
    )
    return (
        na.filter(F.col("t") % 30 == 0)
        .select(
            F.col("t").alias("duration_days"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.round("h", 6).alias("cumulative_hazard"),
            F.round(F.sqrt("var_h"), 6).alias("hazard_se"),
            F.round(F.exp(-F.col("h")), 6).alias("survival_fh"),
        )
        .orderBy("duration_days")
    )


@query(
    "anova_oneway_f",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM events GROUP BY event_type),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               SUM(s) AS st, SUM(ss) AS sst,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g),
    parts AS (
        SELECT t.k, t.nt,
               SUM(g.s * g.s / g.n) - t.st * t.st / t.nt AS ss_between,
               t.sst - SUM(g.s * g.s / g.n) AS ss_within
        FROM g, tot t GROUP BY t.k, t.nt, t.st, t.sst)
    SELECT k AS n_groups, nt AS n_total,
           ROUND(ss_between / (k - 1), 6) AS ms_between,
           ROUND(ss_within / (nt - k), 6) AS ms_within,
           ROUND((ss_between / (k - 1)) / (ss_within / (nt - k)), 6) AS f_stat
    FROM parts
    """,
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event-type groups — the k-group
    generalization of ab_test_welch_ttest: does ANY group mean differ?
    Computed entirely from per-group (n, sum, sum-of-squares) partials
    (DECIMAL-accumulated), so the corpus reduces to k rows and the
    F ratio is closed-form arithmetic — one pass at any scale."""
    e = table(spark, sf_dir, "events")
    v = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("s"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.count(F.lit(1)).alias("k"),
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nt", "st", "sst")
        .agg(F.sum(F.col("s") * F.col("s") / F.col("n")).alias("explained"))
        .select(
            "k",
            "nt",
            (F.col("explained") - F.col("st") * F.col("st") / F.col("nt")).alias(
                "ss_between"
            ),
            (F.col("sst") - F.col("explained")).alias("ss_within"),
        )
    )
    msb = F.col("ss_between") / (F.col("k") - 1)
    msw = F.col("ss_within") / (F.col("nt") - F.col("k"))
    return parts.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_total"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
    )


@query(
    "chi2_independence_test",
    oracle="""
    WITH obs AS (
        SELECT event_type, EXTRACT(dow FROM ts) AS dow, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
    margins AS (
        SELECT o.event_type, o.dow, o.o,
               SUM(o.o) OVER (PARTITION BY o.event_type) AS row_tot,
               SUM(o.o) OVER (PARTITION BY o.dow) AS col_tot,
               SUM(o.o) OVER () AS n
        FROM obs o)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(n) AS BIGINT) AS n_total,
           ROUND(SUM(POWER(o - row_tot * col_tot * 1.0 / n, 2)
                     / (row_tot * col_tot * 1.0 / n)), 6) AS chi2,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
    FROM margins
    """,
)
def chi2_independence_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test between event type and day-of-week
    — 'is behavior mix stable across the week?', the categorical
    companion to drift_ks_two_sample. The contingency table is one hash
    aggregate (|types| x 7 cells); margins are windows on that tiny
    frame; the statistic is one more collapse. The raw stream is
    scanned exactly once."""
    e = table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow_raw")
    ).agg(F.count(F.lit(1)).alias("o"))
    # Spark dayofweek: 1=Sunday..7 ; DuckDB dow: 0=Sunday..6
    obs = obs.select(
        "event_type", (F.col("dow_raw") - 1).alias("dow"), "o"
    )
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(w_r).alias("row_tot"),
        F.sum("o").over(w_c).alias("col_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    expected = F.col("row_tot") * F.col("col_tot") * 1.0 / F.col("n")
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").cast("long").alias("n_total"),
        F.round(F.sum(F.pow(F.col("o") - expected, 2) / expected), 6).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).cast("long").alias("dof"),
    )


@query(
    "kruskal_wallis_h",
    oracle="""
    WITH per_v AS (
        SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY value, event_type),
    val_tot AS (
        SELECT value, CAST(SUM(c) AS BIGINT) AS cv FROM per_v GROUP BY value),
    cum AS (
        SELECT value, cv,
               SUM(cv) OVER (ORDER BY value) - cv AS before
        FROM val_tot),
    ranked AS (
        SELECT p.event_type, p.c,
               (cu.before + (cu.cv + 1) / 2.0) AS avg_rank
        FROM per_v p JOIN cum cu USING (value)),
    grp AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n_g,
               CAST(SUM(CAST(c * avg_rank AS DECIMAL(38,6))) AS DOUBLE) AS r_g
        FROM ranked GROUP BY event_type),
    ties AS (
        SELECT CAST(SUM(CAST(cv AS HUGEINT) * cv * cv - cv) AS DOUBLE) AS tsum
        FROM val_tot),
    tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k FROM grp),
    h AS (
        SELECT t.k, t.n,
               (12.0 / (t.n * (t.n + 1.0)))
               * SUM(g.n_g * POWER(g.r_g / g.n_g - (t.n + 1) / 2.0, 2)) AS h_raw,
               MAX(ti.tsum) AS tsum
        FROM grp g, tot t, ties ti
        GROUP BY t.k, t.n)
    SELECT k AS n_groups, n AS n_total,
           ROUND(h_raw, 6) AS h_uncorrected,
           ROUND(h_raw / (1 - tsum / (POWER(n, 3) - n)), 6) AS h_tie_corrected,
           CAST(k - 1 AS BIGINT) AS dof
    FROM h
    """,
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across event-type groups — the rank-based
    (distribution-free) counterpart of anova_oneway_f, with the tie
    correction; completes the hypothesis-testing matrix {2-group,
    k-group} x {parametric, rank-based} next to welch / mann-whitney /
    anova.

    Midranks come from per-distinct-value counts + the two-pass
    distributed prefix scan; group rank sums accumulate in DECIMAL.
    Everything after the value-keyed reduce runs on |distinct values|
    and |groups| rows."""
    from ..functions.ranks import global_cumulative_sums

    e = table(spark, sf_dir, "events").select("value", "event_type")
    per_v = e.groupBy("value", "event_type").agg(F.count(F.lit(1)).alias("c"))
    val_tot = per_v.groupBy("value").agg(F.sum("c").cast("long").alias("cv"))
    cum = global_cumulative_sums(val_tot, [F.col("value")], ["cv"]).withColumn(
        "before", F.col("cum_cv") - F.col("cv")
    )
    ranked = per_v.join(cum.select("value", "before", "cv"), "value").select(
        "event_type",
        "c",
        (F.col("before") + (F.col("cv") + 1) / 2.0).alias("avg_rank"),
    )
    grp = ranked.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum((F.col("c") * F.col("avg_rank")).cast("decimal(38,6)"))
        .cast("double")
        .alias("r_g"),
    )
    ties = val_tot.agg(
        # same DECIMAL guard as the Mann-Whitney tie term: t^3 per tied
        # value overflows BIGINT for hot values at scale
        F.sum(
            F.col("cv").cast("decimal(12,0)")
            * F.col("cv").cast("decimal(12,0)")
            * F.col("cv").cast("decimal(12,0)")
            - F.col("cv")
        )
        .cast("double")
        .alias("tsum")
    )
    tot = grp.agg(F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k"))
    h = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("k", "n")
        .agg(
            F.sum(
                F.col("n_g")
                * F.pow(F.col("r_g") / F.col("n_g") - (F.col("n") + 1) / 2.0, 2)
            ).alias("ssr")
        )
        .select(
            "k",
            "n",
            ((12.0 / (F.col("n") * (F.col("n") + 1.0))) * F.col("ssr")).alias("h_raw"),
        )
    )
    return h.crossJoin(F.broadcast(ties)).select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_total"),
        F.round("h_raw", 6).alias("h_uncorrected"),
        F.round(
            F.col("h_raw")
            / (1 - F.col("tsum") / (F.pow(F.col("n"), 3) - F.col("n"))),
            6,
        ).alias("h_tie_corrected"),
        (F.col("k") - 1).cast("long").alias("dof"),
    )


def _spearman_rank_cte(col: str) -> str:
    """Midrank CTE text for one variable (DuckDB side)."""
    return f"""
    pv_{col} AS (SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS c
                 FROM pts GROUP BY {col}),
    cum_{col} AS (
        SELECT v, c, SUM(c) OVER (ORDER BY v) - c AS before FROM pv_{col}),
    rk_{col} AS (SELECT v, (before + (c + 1) / 2.0) AS r FROM cum_{col})
"""


@query(
    "spearman_rank_correlation",
    oracle=f"""
    WITH pts AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
    {_spearman_rank_cte("x")},
    {_spearman_rank_cte("y")},
    ranked AS (
        SELECT rx.r AS rx, ry.r AS ry
        FROM pts p JOIN rk_x rx ON p.x = rx.v JOIN rk_y ry ON p.y = ry.v),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(rx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ry AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rx * ry AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(rx * rx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ry * ry AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM ranked)
    SELECT n,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
               AS spearman_rho
    FROM s
    """,
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (price vs quantity) — Pearson on
    MIDRANKS, the monotonic-association measure that survives outliers
    and nonlinearity where regr_r2/corr assume linearity.

    Each variable's midranks come from its per-distinct-value counts +
    the two-pass distributed prefix scan (two independent rank passes,
    each parallel); rank moments accumulate in DECIMAL, and the final
    rho is closed-form. Joins key on the value domains — never a
    row-by-rank global sort."""
    from ..functions.ranks import global_cumulative_sums

    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    ).transform(_persisted)

    def ranks(col: str) -> DataFrame:
        pv = pts.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        cum = global_cumulative_sums(pv, [F.col(col)], ["c"])
        return cum.select(
            F.col(col),
            (F.col("cum_c") - F.col("c") + (F.col("c") + 1) / 2.0).alias(f"r_{col}"),
        )

    ranked = pts.join(ranks("x"), "x").join(ranks("y"), "y").select("r_x", "r_y")
    d6 = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        d6(F.col("r_x")).alias("sx"),
        d6(F.col("r_y")).alias("sy"),
        d6(F.col("r_x") * F.col("r_y")).alias("sxy"),
        d6(F.col("r_x") * F.col("r_x")).alias("sxx"),
        d6(F.col("r_y") * F.col("r_y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select("n", F.round(num / den, 6).alias("spearman_rho"))


@query(
    "ctr_empirical_bayes_shrinkage",
    oracle="""
    WITH item AS (
        SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 40 AS item,
               CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END
                   AS pos
        FROM events),
    per_item AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS clicks
        FROM item GROUP BY item),
    prior AS (
        SELECT CAST(SUM(clicks) AS DOUBLE) / SUM(n) AS p0 FROM per_item)
    SELECT i.item, i.n, i.clicks,
           ROUND(i.clicks * 1.0 / i.n, 6) AS raw_ctr,
           ROUND((i.clicks + 100 * p.p0) / (i.n + 100), 6) AS shrunk_ctr
    FROM per_item i, prior p
    ORDER BY i.item
    """,
)
def ctr_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes CTR shrinkage (m-estimate, m=100): per-item click
    rates shrunk toward the global prior in proportion to evidence —
    the ranking-feature smoothing that stops 1-impression items from
    dominating a CTR sort (the same beta-binomial idea behind
    'weighted rating' charts).

    One conditional-count aggregate per item, a 1-row global prior
    broadcast back, closed-form shrinkage — a single collapsing pass
    whose output is |items| rows at any traffic volume."""
    e = table(spark, sf_dir, "events").select(
        (
            F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)") % 40
        ).alias("item"),
        F.col("event_type").isin("click", "purchase").cast("int").alias("pos"),
    )
    per_item = e.groupBy("item").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").cast("long").alias("clicks")
    )
    prior = per_item.agg(
        (F.sum("clicks").cast("double") / F.sum("n")).alias("p0")
    )
    return (
        per_item.crossJoin(F.broadcast(prior))
        .select(
            "item",
            "n",
            "clicks",
            F.round(F.col("clicks") * 1.0 / F.col("n"), 6).alias("raw_ctr"),
            F.round(
                (F.col("clicks") + 100 * F.col("p0")) / (F.col("n") + 100), 6
            ).alias("shrunk_ctr"),
        )
        .orderBy("item")
    )


_SCD2_CUT = "2024-01-25 00:00:00"
_SCD2_CUT_END = "2024-01-26 00:00:00"


@query(
    "scd2_incremental_apply",
    oracle=f"""
    WITH sel AS (SELECT user_id, event_id, ts, event_type
                 FROM events
                 WHERE user_id % 13 = 0 AND ts < TIMESTAMP '{_SCD2_CUT_END}'),
    numbered AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM sel),
    islands AS (
        SELECT user_id, event_type, MIN(ts) AS valid_from
        FROM numbered GROUP BY user_id, event_type, grp)
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to,
           (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               IS NULL) AS is_current
    FROM islands
    """,
)
def scd2_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SCD2 maintenance: apply one day of new events to the
    existing dimension — closed versions pass through UNTOUCHED, each
    affected user's open version is re-derived from a tiny tail (the
    open version's anchor + that user's day-delta events), and
    untouched users' open versions carry over. The oracle is the FULL
    rebuild over all events up to the cutoff end, so the incremental
    plan is proven equal to the recompute (the same contract as
    incremental_agg_refresh) — version boundaries, is_current flags
    and all.

    At 100 TB this is the difference between touching |day-delta
    users| x (open version + day events) and re-sorting the entire
    event history nightly. Every stage keys on user_id — one logical
    partitioning end to end."""
    cut = F.lit(_SCD2_CUT).cast("timestamp")
    cut_end = F.lit(_SCD2_CUT_END).cast("timestamp")
    base = table(spark, sf_dir, "events").filter(F.col("user_id") % 13 == 0)
    hist = base.filter(F.col("ts") < cut)
    delta = base.filter((F.col("ts") >= cut) & (F.col("ts") < cut_end)).select(
        "user_id", "event_id", "ts", "event_type"
    )

    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")

    def runs(events: DataFrame) -> DataFrame:
        numbered = events.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        islands = numbered.groupBy("user_id", "event_type", "grp").agg(
            F.min("ts").alias("valid_from")
        )
        w_ver = Window.partitionBy("user_id").orderBy("valid_from")
        vto = F.lead("valid_from").over(w_ver)
        return islands.select(
            "user_id",
            "event_type",
            "valid_from",
            vto.alias("valid_to"),
            vto.isNull().alias("is_current"),
        )

    dim = runs(hist.select("user_id", "event_id", "ts", "event_type")).transform(_persisted)
    closed = dim.filter(~F.col("is_current"))
    open_v = dim.filter(F.col("is_current"))
    touched = delta.select("user_id").distinct()

    # untouched users: open version carries over verbatim
    carry = open_v.join(touched, "user_id", "left_anti")
    # affected users: synthetic anchor event (the open version) + delta tail
    anchor = open_v.join(touched, "user_id").select(
        "user_id",
        F.lit(-1).alias("event_id"),
        F.col("valid_from").alias("ts"),
        "event_type",
    )
    # users first seen on the delta day have no anchor — union covers both
    tail_runs = runs(anchor.unionByName(delta))
    # closed versions pass through; re-derived tails replace open ones
    return closed.unionByName(carry).unionByName(tail_runs)


@query(
    "funnel_stage_latency",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.first_view
        GROUP BY e.user_id),
    lat AS (
        SELECT datediff('second', v.first_view, p.first_purchase) AS sec
        FROM v JOIN p USING (user_id))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(sec, 0.5) / 60.0, 4) AS median_minutes,
           ROUND(quantile_cont(sec, 0.9) / 60.0, 4) AS p90_minutes,
           ROUND(AVG(sec) / 60.0, 4) AS mean_minutes
    FROM lat
    """,
)
def funnel_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY through the funnel: time from a user's first
    view to their first subsequent purchase — the 'how long does
    conversion take' readout that the count-based funnel
    (funnel_conversion) and the windowed variant
    (window_funnel_within_time) don't surface.

    Two user-keyed min aggregates and one join, all on the same
    user_id partitioning; latency percentiles run on the
    |converted users| frame. The ts > first_view guard keeps
    pre-view purchases out in both engines."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = v.join(p, "user_id").select(
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
        ).alias("sec")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(sec, 0.5)") / 60.0, 4).alias("median_minutes"),
        F.round(F.expr("percentile(sec, 0.9)") / 60.0, 4).alias("p90_minutes"),
        F.round(F.avg("sec") / 60.0, 4).alias("mean_minutes"),
    )


@query(
    "elasticity_loglog_by_segment",
    oracle="""
    SELECT c.c_mktsegment,
           regr_count(LN(l.l_quantity), LN(l.l_extendedprice)) AS n,
           ROUND(regr_slope(LN(l.l_quantity), LN(l.l_extendedprice)), 6)
               AS elasticity,
           ROUND(regr_r2(LN(l.l_quantity), LN(l.l_extendedprice)), 6) AS r2
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def elasticity_loglog_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity per market segment: the log-log regression
    slope d ln(qty) / d ln(price) — the econometric reading of the
    regr_* aggregates (elasticity = the slope of logs, constant across
    price levels by construction).

    The two joins ride the usual star topology (customer broadcast
    through orders onto lineitem); the per-segment OLS is the same
    one-pass aggregate as agg_regression_fns on transformed columns —
    no extra scan for the log transform."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        c, o.o_custkey == c.c_custkey
    )
    return j.groupBy("c_mktsegment").agg(
        F.expr("regr_count(LN(l_quantity), LN(l_extendedprice))").alias("n"),
        F.round(
            F.expr("regr_slope(LN(l_quantity), LN(l_extendedprice))"), 6
        ).alias("elasticity"),
        F.round(F.expr("regr_r2(LN(l_quantity), LN(l_extendedprice))"), 6).alias(
            "r2"
        ),
    )


@query(
    "user_event_streaks",
    oracle="""
    WITH sel AS (SELECT user_id, event_id, ts, event_type
                 FROM events WHERE user_id % 19 = 0),
    numbered AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM sel),
    runs AS (
        SELECT user_id, event_type, COUNT(*) AS run_len
        FROM numbered GROUP BY user_id, event_type, grp)
    SELECT user_id,
           MAX(run_len) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           ROUND(AVG(run_len * 1.0), 4) AS mean_run_len
    FROM runs GROUP BY user_id
    """,
)
def user_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral streaks: each user's longest run of consecutive
    same-type events plus run-count statistics — the engagement-pattern
    feature (binge depth, habit strength) built on the same
    gaps-and-islands difference-of-row_numbers as the SCD2 family, but
    rolled up to run-length statistics instead of versions. One
    shuffle on user_id end to end."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 19 == 0)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_runs"),
        F.round(F.avg(F.col("run_len") * 1.0), 4).alias("mean_run_len"),
    )


@query(
    "abc_classification_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(CAST(revenue AS DECIMAL(38,6))) AS t FROM rev),
    ranked AS (
        SELECT l_partkey, revenue,
               SUM(CAST(revenue AS DECIMAL(38,6)))
                   OVER (ORDER BY revenue DESC, l_partkey)
                   / t.t AS cum_share
        FROM rev, tot t),
    classed AS (
        SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               revenue
        FROM ranked)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS class_revenue
    FROM classed GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, classed A
    (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    Pareto working-capital split every supply chain runs, and a direct
    application of the distributed prefix scan (the cumulative share
    must be a GLOBAL running sum over the revenue ordering — computed
    with the two-pass range-partition scheme, not a single-partition
    window; a collapsed sibling of revenue_gini_lorenz).

    Revenue sums and the running total accumulate in DECIMAL, so class
    boundaries are engine-exact; the output is the 3-row class
    summary."""
    from ..functions.ranks import global_cumulative_sums

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("revenue")
    ).withColumn("rev_dec", F.col("revenue").cast("decimal(38,6)"))
    tot = rev.agg(F.sum("rev_dec").alias("t"))
    cum = global_cumulative_sums(
        rev, [F.col("revenue").desc(), F.col("l_partkey")], ["rev_dec"]
    )
    classed = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("cum_share", F.col("cum_rev_dec") / F.col("t"))
        .select(
            F.when(F.col("cum_share") <= 0.8, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
            "rev_dec",
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev_dec"), 2).cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


@query(
    "duplicate_payment_screen",
    oracle="""
    WITH pay AS (
        SELECT user_id, event_id, ts, value
        FROM events WHERE event_type = 'purchase'),
    seq AS (
        SELECT user_id, event_id, ts, value,
               LAG(ts) OVER (PARTITION BY user_id, value
                             ORDER BY ts, event_id) AS prev_ts,
               LAG(event_id) OVER (PARTITION BY user_id, value
                                   ORDER BY ts, event_id) AS prev_id
        FROM pay)
    SELECT user_id, prev_id AS first_event, event_id AS dup_event,
           ROUND(value, 2) AS amount,
           datediff('second', prev_ts, ts) AS gap_seconds
    FROM seq
    WHERE prev_ts IS NOT NULL
      AND datediff('second', prev_ts, ts) <= 600
    """,
)
def duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: purchases by the same user for the
    SAME amount within 10 minutes — the double-charge / double-click
    fraud-ops check. Consecutive-pair semantics via LAG over
    (user, amount): a burst of k duplicates yields k-1 flagged pairs,
    and the partitioning key makes unrelated amounts invisible to each
    other — one shuffle on (user_id, value), no time-range self-join."""
    pay = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id", "value").orderBy("ts", "event_id")
    seq = pay.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("event_id").over(w).alias("prev_id"),
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    return (
        seq.filter(F.col("prev_ts").isNotNull() & (gap <= 600))
        .select(
            "user_id",
            F.col("prev_id").alias("first_event"),
            F.col("event_id").alias("dup_event"),
            F.round("value", 2).alias("amount"),
            gap.alias("gap_seconds"),
        )
    )


@query(
    "reorder_cycle_by_segment",
    oracle="""
    WITH seq AS (
        SELECT c.c_mktsegment, o.o_custkey,
               datediff('day',
                        LAG(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                                 ORDER BY o.o_orderdate, o.o_orderkey),
                        o.o_orderdate) AS gap_days
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT c_mktsegment,
           CAST(COUNT(gap_days) AS BIGINT) AS n_reorders,
           ROUND(quantile_cont(gap_days, 0.5), 4) AS median_gap_days,
           ROUND(AVG(gap_days), 4) AS mean_gap_days
    FROM seq
    WHERE gap_days IS NOT NULL
    GROUP BY c_mktsegment
    """,
)
def reorder_cycle_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase cycle per market segment: the gap between each
    customer's consecutive orders (LAG over the customer's order
    sequence), rolled up to median/mean days — the replenishment-rhythm
    metric behind inventory planning and churn-risk timing ('customer
    is 2x their median gap overdue').

    One shuffle on o_custkey for the sequence window; the segment
    rollup rides the broadcast customer dim. Gap percentiles run per
    segment on the reorder frame."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return seq.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_reorders"),
        F.round(F.expr("percentile(gap_days, 0.5)"), 4).alias("median_gap_days"),
        F.round(F.avg("gap_days"), 4).alias("mean_gap_days"),
    )


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
        SELECT s.s_nationkey, l.l_suppkey,
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(38,6))) AS r
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey),
    tot AS (
        SELECT s_nationkey, SUM(r) AS t, COUNT(*) AS n_suppliers
        FROM rev GROUP BY s_nationkey)
    SELECT n.n_name AS nation,
           CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(SUM(POWER(CAST(r.r AS DOUBLE) / CAST(t.t AS DOUBLE), 2)) * 10000, 2)
               AS hhi,
           SUM(POWER(CAST(r.r AS DOUBLE) / CAST(t.t AS DOUBLE), 2)) * 10000 > 2500
               AS concentrated
    FROM rev r
    JOIN tot t USING (s_nationkey)
    JOIN nation n ON r.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, t.n_suppliers
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supply concentration per nation: the sum of
    squared supplier revenue shares (x10000, the antitrust scale; >2500
    = highly concentrated) — the supply-risk reading that complements
    the distributional view (revenue_gini_lorenz) with the regulator's
    single number.

    Two keyed aggregations (supplier rollup -> nation totals) and a
    broadcast of the per-nation totals; revenue accumulates in DECIMAL
    so shares are exact before the squared-sum collapses to
    |nations| rows."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).alias("r")
        )
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("r").cast("double") / F.col("t").cast("double")
    hhi = F.sum(F.pow(share, 2)) * 10000
    return (
        rev.join(F.broadcast(tot), "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "n_suppliers")
        .agg(
            F.round(hhi, 2).alias("hhi"),
            (hhi > 2500).alias("concentrated"),
        )
        .select(
            "nation",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            "hhi",
            "concentrated",
        )
    )


@query(
    "revenue_wow_growth",
    oracle="""
    WITH weekly AS (
        SELECT date_trunc('week', o_orderdate) AS week,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1)
    SELECT week, ROUND(revenue, 2) AS revenue,
           ROUND(LAG(revenue) OVER (ORDER BY week), 2) AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY week))
                 / LAG(revenue) OVER (ORDER BY week), 6) AS wow_growth
    FROM weekly
    ORDER BY week
    """,
)
def revenue_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: the reporting staple, computed
    the scale-correct way — the fact table collapses to the weekly
    frame FIRST (one hash aggregate, DECIMAL-accumulated), and the LAG
    window runs on that calendar-bounded frame, never the raw orders.
    Same discipline as every ts_* operator: window cardinality is
    weeks, not rows."""
    o = table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        F.round("revenue", 2).alias("revenue"),
        F.round(prev, 2).alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("wow_growth"),
    ).orderBy("week")


@query(
    "xicor_correlation",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS grp, l_quantity AS x, l_extendedprice AS y,
               l_orderkey, l_linenumber
        FROM lineitem),
    sized AS (SELECT grp, COUNT(*) AS n FROM base GROUP BY grp),
    ranked AS (
        SELECT b.grp, b.x, b.y, b.l_orderkey, b.l_linenumber, s.n,
               COUNT(*) OVER (PARTITION BY b.grp ORDER BY b.y
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS r,
               COUNT(*) OVER (PARTITION BY b.grp ORDER BY b.y DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS l
        FROM base b JOIN sized s USING (grp)),
    seq AS (
        SELECT grp, n, r, l,
               LEAD(r) OVER (PARTITION BY grp
                             ORDER BY x, l_orderkey, l_linenumber, y) AS r_next
        FROM ranked)
    SELECT grp AS l_returnflag, MAX(n) AS n,
           ROUND(1.0 - (MAX(n) * SUM(CASE WHEN r_next IS NULL THEN 0
                                          ELSE ABS(r_next - r) END))
                       * 1.0 / (2.0 * SUM(l * (n - l))), 6) AS xi
    FROM seq GROUP BY grp ORDER BY l_returnflag
    """,
)
def xicor_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi coefficient (xicor, JASA 2021) of
    quantity -> extendedprice per return flag — the rank correlation
    that detects ARBITRARY functional dependence (monotone or not),
    unlike Spearman/Pearson. Tie-robust form:
    xi = 1 - n*SUM|r_{i+1}-r_i| / (2*SUM l_i(n-l_i)), rows ordered by
    x with a deterministic (orderkey, linenumber, y) tie-break so both
    engines walk the identical sequence (Chatterjee randomizes x-ties;
    a fixed tie-break keeps the estimator within the same guarantees
    and makes it reproducible — y closes the order because the
    synthetic lineitem duplicates (orderkey, linenumber) keys, and
    rows tied on all four columns share the same rank r, making the
    sum permutation-invariant).

    Every term is INTEGER arithmetic over ranks (r_i = #{y_j <= y_i},
    l_i = #{y_j >= y_i}), so the result is exact; only the final ratio
    is floating. Both total orders the estimator needs come from the
    two-pass range-partition ranking (ranks.global_row_number) with
    the group as the leading range key — per-group windows would sort
    whole groups in single tasks (parallelism = #groups, a scale
    killer for few large groups); this shape is fully parallel at any
    group size, and the consecutive-pair walk is an equi-join on
    (group, position) instead of a lag window."""
    base = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    from ..functions.ranks import global_row_number

    # A per-group window would sort each ENTIRE group in one task —
    # with 3 groups that is 3 tasks regardless of data size, the same
    # failure class as the single-partition window. Both total orders
    # xicor needs (y-order for ranks, x-order for the sequence walk)
    # instead come from the two-pass range-partition ranking, with the
    # group as the LEADING range key; per-group quantities are then
    # recovered by subtracting each group's global-rank offset (one
    # #groups-row broadcast). Identical integer arithmetic, fully
    # parallel at any group size.
    ry, _ = global_row_number(
        base,
        [
            F.col("grp").asc(),
            F.col("y").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        rn_name="rny",
    )
    gstats = ry.groupBy("grp").agg(
        (F.min("rny") - 1).alias("off"), F.count(F.lit(1)).alias("n")
    )
    # tie bounds per distinct (grp, y): rows tied on y are consecutive
    # in the (grp, y, ...) total order, so r = max(rn) - off counts all
    # y_j <= y_i and l = n - (min(rn) - off) + 1 counts all y_j >= y_i.
    ybounds = ry.groupBy("grp", "y").agg(
        F.max("rny").alias("mx"), F.min("rny").alias("mn")
    )
    ranked = (
        ry.join(ybounds, ["grp", "y"])
        .join(F.broadcast(gstats), "grp")
        .select(
            "grp",
            "x",
            "y",
            "l_orderkey",
            "l_linenumber",
            "n",
            (F.col("mx") - F.col("off")).alias("r"),
            (F.col("n") - (F.col("mn") - F.col("off")) + 1).alias("l"),
        )
    )
    rx, _ = global_row_number(
        ranked,
        [
            F.col("grp").asc(),
            F.col("x").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
            F.col("y").asc(),
        ],
        rn_name="rnx",
    )
    # consecutive-pair walk as an equi-join on (grp, position): fully
    # parallel, and group boundaries drop out naturally because rnx is
    # group-contiguous in the (grp, x, ...) total order.
    nxt = rx.select("grp", (F.col("rnx") - 1).alias("rnx"), F.col("r").alias("r_next"))
    seq = rx.select("grp", "rnx", "r", "l", "n").join(nxt, ["grp", "rnx"], "left")
    # Accumulate in DECIMAL(38,0): with g rows per group, den sums g
    # products of size ~g^2 (~g^3 total) and sd can reach g^2 — both
    # blow through BIGINT once groups pass ~2M rows (the 20x scale
    # probe caught exactly this as an ANSI ARITHMETIC_OVERFLOW). The
    # decimal sums stay exact to 1e38; the final ratio converts each
    # exact integer to double identically in both engines. The l*(n-l)
    # product is cast to decimal(38,0) EXPLICITLY — its operands are
    # decimal(19,0) and the invariant must not hinge on Spark's
    # implicit 19x19 -> 38 promotion surviving future rule changes
    # (round-3 advice).
    dec = "decimal(19,0)"
    return (
        seq.groupBy("grp")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.when(F.col("r_next").isNull(), F.lit(0))
                .otherwise(F.abs(F.col("r_next") - F.col("r")))
                .cast(dec)
            ).alias("sd"),
            F.sum(
                (F.col("l").cast(dec) * (F.col("n") - F.col("l")).cast(dec)).cast(
                    "decimal(38,0)"
                )
            ).alias("den"),
        )
        .select(
            F.col("grp").alias("l_returnflag"),
            "n",
            F.round(
                1.0
                - (F.col("n").cast("double") * F.col("sd").cast("double"))
                / (2.0 * F.col("den").cast("double")),
                6,
            ).alias("xi"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "mann_kendall_trend",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6))
                   AS rev
        FROM orders GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM monthly),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM monthly a JOIN monthly b ON a.m < b.m)
    SELECT n.n AS n_periods, s.s AS s_stat,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) AS BIGINT) / 18.0 AS var_s,
           ROUND((s.s - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END)
                 / SQRT(n.n * (n.n - 1) * (2 * n.n + 5) / 18.0), 6) AS z,
           CASE WHEN ABS((s.s - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1
                                     ELSE 0 END)
                         / SQRT(n.n * (n.n - 1) * (2 * n.n + 5) / 18.0)) > 1.96
                THEN CASE WHEN s.s > 0 THEN 'increasing' ELSE 'decreasing' END
                ELSE 'no_trend' END AS verdict
    FROM n, s
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the monthly revenue series:
    S = sum over period pairs of sign(rev_j - rev_i), normal
    approximation z = (S - sign(S)) / sqrt(n(n-1)(2n+5)/18), verdict at
    the 5% two-sided level. The non-parametric standard for 'is this
    KPI actually drifting' — no linearity or distribution assumption
    (complements ts_theil_sen_trend, which estimates the slope MK
    tests).

    Scale shape: the raw table reduces to one row per month FIRST
    (decimal-exact revenue so both engines compare identical values);
    the pairwise sign sum is a self-join of that bounded period frame
    (~n^2/2 pairs for n months — thousands, not billions — and
    driver-free). Tie correction is omitted: revenues are continuous
    sums, exact ties across months are measure-zero, and sign() already
    scores them 0."""
    monthly = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("rev")
        )
    )
    a = monthly.select(F.col("m").alias("ma"), F.col("rev").alias("ra"))
    b = monthly.select(F.col("m").alias("mb"), F.col("rev").alias("rb"))
    s = (
        a.join(F.broadcast(b), F.col("ma") < F.col("mb"))
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    n = monthly.agg(F.count(F.lit(1)).alias("n"))
    j = n.crossJoin(F.broadcast(s))
    var_s = (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)).cast(
        "bigint"
    ) / F.lit(18.0)
    sgn = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    z = (F.col("s") - sgn) / F.sqrt(
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0
    )
    return j.select(
        F.col("n").alias("n_periods"),
        F.col("s").alias("s_stat"),
        var_s.alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(
            F.abs(z) > 1.96,
            F.when(F.col("s") > 0, "increasing").otherwise("decreasing"),
        )
        .otherwise("no_trend")
        .alias("verdict"),
    )


_CRAMER_PAIRS_SQL = """
        SELECT 'orders:status_x_priority' AS pair,
               o_orderstatus AS a, o_orderpriority AS b FROM orders
        UNION ALL
        SELECT 'lineitem:returnflag_x_linestatus',
               l_returnflag, l_linestatus FROM lineitem
"""


@query(
    "cramers_v_matrix",
    oracle=f"""
    WITH obs AS (
        SELECT pair, a, b, COUNT(*) AS o
        FROM ({_CRAMER_PAIRS_SQL}) GROUP BY pair, a, b),
    tot AS (SELECT pair, SUM(o) AS n,
                   COUNT(DISTINCT a) AS ra, COUNT(DISTINCT b) AS cb
            FROM obs GROUP BY pair),
    rt AS (SELECT pair, a, SUM(o) AS rt FROM obs GROUP BY pair, a),
    ct AS (SELECT pair, b, SUM(o) AS ct FROM obs GROUP BY pair, b),
    cells AS (
        SELECT obs.pair,
               CAST(POWER(obs.o - rt.rt * ct.ct * 1.0 / tot.n, 2)
                    / (rt.rt * ct.ct * 1.0 / tot.n) AS DECIMAL(38,12)) AS term
        FROM obs JOIN rt USING (pair, a) JOIN ct USING (pair, b)
        JOIN tot USING (pair)),
    chi AS (SELECT pair, CAST(SUM(term) AS DOUBLE) AS chi2
            FROM cells GROUP BY pair)
    SELECT chi.pair, CAST(tot.n AS BIGINT) AS n, ROUND(chi.chi2, 6) AS chi2,
           ROUND(SQRT(chi.chi2 / (tot.n * (LEAST(tot.ra, tot.cb) - 1))), 6)
               AS cramers_v
    FROM chi JOIN tot USING (pair) ORDER BY pair
    """,
)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength for categorical column pairs —
    the [0,1]-normalized chi-square that answers 'how strongly do these
    two dimensions co-vary' across tables in one pass (here
    orders.status x priority and lineitem.returnflag x linestatus, the
    profiling sweep a data catalog runs over every categorical pair).

    Each pair reduces to its contingency table first (counts only —
    one shuffle per table keyed on the pair's values); chi2 terms are
    computed identically per CELL in both engines and summed in
    DECIMAL so the <=15-cell addition is order-independent. V =
    sqrt(chi2 / (n * (min(r,c) - 1)))."""
    o = table(spark, sf_dir, "orders").select(
        F.lit("orders:status_x_priority").alias("pair"),
        F.col("o_orderstatus").alias("a"),
        F.col("o_orderpriority").alias("b"),
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.lit("lineitem:returnflag_x_linestatus").alias("pair"),
        F.col("l_returnflag").alias("a"),
        F.col("l_linestatus").alias("b"),
    )
    obs = o.unionAll(li).groupBy("pair", "a", "b").agg(
        F.count(F.lit(1)).alias("o")
    )
    tot = obs.groupBy("pair").agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("ra"),
        F.countDistinct("b").alias("cb"),
    )
    rt = obs.groupBy("pair", "a").agg(F.sum("o").alias("rt"))
    ct = obs.groupBy("pair", "b").agg(F.sum("o").alias("ct"))
    e = F.col("rt") * F.col("ct") * F.lit(1.0) / F.col("n")
    cells = (
        obs.join(rt, ["pair", "a"])
        .join(ct, ["pair", "b"])
        .join(F.broadcast(tot), "pair")
        .select(
            "pair",
            F.pow(F.col("o") - e, 2).__div__(e).cast("decimal(38,12)").alias("term"),
        )
    )
    chi = cells.groupBy("pair").agg(F.sum("term").cast("double").alias("chi2"))
    return (
        chi.join(F.broadcast(tot), "pair")
        .select(
            "pair",
            "n",
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(F.col("chi2") / (F.col("n") * (F.least("ra", "cb") - 1))), 6
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


@query(
    "benjamini_hochberg_fdr",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS ng,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sg
        FROM orders GROUP BY 1, 2),
    allrows AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(o_totalprice * o_totalprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM orders),
    z AS (
        SELECT g.o_orderpriority, g.o_orderstatus, g.ng,
               POWER(g.sg / g.ng - allrows.s / allrows.n, 2)
               / ((allrows.ss / allrows.n - POWER(allrows.s / allrows.n, 2))
                  / g.ng) AS z2
        FROM g, allrows),
    p AS (
        SELECT *, LEAST(1.0, 1.0 / z2) AS pval,
               COUNT(*) OVER () AS m,
               ROW_NUMBER() OVER (ORDER BY LEAST(1.0, 1.0 / z2) ASC,
                                  o_orderpriority ASC, o_orderstatus ASC)
                   AS rk
        FROM z),
    cut AS (
        SELECT COALESCE(MAX(CASE WHEN pval <= rk * 0.10 / m THEN rk END), 0)
                   AS k
        FROM p)
    SELECT p.o_orderpriority, p.o_orderstatus, p.ng AS n,
           ROUND(p.z2, 6) AS z2, ROUND(p.pval, 6) AS p_chebyshev,
           CAST(p.rk AS BIGINT) AS bh_rank, p.rk <= cut.k AS discovered
    FROM p, cut
    ORDER BY bh_rank
    """,
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the m = |priority x status|
    family of 'does this segment's mean order value differ from
    global?' hypotheses — the multiple-testing correction any metrics
    platform needs once it tests every segment every day (15 segments
    here; thousands at scale, same plan).

    P-values are CONSERVATIVE Chebyshev bounds p = min(1, 1/z^2) with
    z^2 = (mean_g - mean)^2 / (var/n_g): distribution-free, valid for
    any mean test, and — unlike normal-tail erfc p-values — exactly
    computable in both engines (neither SQL dialect has erfc; a bound
    that is reproducible beats an approximation that isn't, and BH
    keeps its FDR guarantee under conservative p-values). The BH step
    function runs as a window over the m-row hypothesis frame (bounded
    by the segment count, never by data size); all moment sums are
    DECIMAL-exact off one scan."""
    o = table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("sg"),
    )
    glob = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("s"),
        F.sum((F.col("o_totalprice") * F.col("o_totalprice")).cast("decimal(38,6)"))
        .cast("double")
        .alias("ss"),
    )
    z2 = F.pow(F.col("sg") / F.col("ng") - F.col("s") / F.col("n"), 2) / (
        (F.col("ss") / F.col("n") - F.pow(F.col("s") / F.col("n"), 2)) / F.col("ng")
    )
    z = g.crossJoin(F.broadcast(glob)).select(
        "o_orderpriority", "o_orderstatus", "ng", z2.alias("z2")
    )
    pval = F.least(F.lit(1.0), 1.0 / F.col("z2"))
    p = z.select(
        "*",
        pval.alias("pval"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
        F.row_number()
        .over(
            Window.orderBy(
                pval.asc(), F.col("o_orderpriority").asc(), F.col("o_orderstatus").asc()
            )
        )
        .alias("rk"),
    )
    cut = p.agg(
        F.coalesce(
            F.max(F.when(F.col("pval") <= F.col("rk") * 0.10 / F.col("m"), F.col("rk"))),
            F.lit(0),
        ).alias("k")
    )
    return (
        p.crossJoin(F.broadcast(cut))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            F.col("ng").alias("n"),
            F.round("z2", 6).alias("z2"),
            F.round("pval", 6).alias("p_chebyshev"),
            F.col("rk").cast("bigint").alias("bh_rank"),
            (F.col("rk") <= F.col("k")).alias("discovered"),
        )
        .orderBy("bh_rank")
    )


@query(
    "propensity_strata_att",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treated,
               CAST(p.p_size // 10 AS BIGINT) AS stratum,
               l.l_extendedprice * (1 - l.l_discount) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    cell AS (
        SELECT stratum, treated, COUNT(*) AS n,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS s
        FROM base GROUP BY stratum, treated),
    wide AS (
        SELECT t.stratum, t.n AS n1, t.s / t.n AS m1, c.s / c.n AS m0
        FROM cell t JOIN cell c
          ON t.stratum = c.stratum AND t.treated = 1 AND c.treated = 0),
    tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_treated FROM wide)
    SELECT wide.stratum, CAST(wide.n1 AS BIGINT) AS n_treated,
           ROUND(wide.m1, 4) AS mean_treated,
           ROUND(wide.m0, 4) AS mean_control,
           ROUND(wide.m1 - wide.m0, 4) AS stratum_effect,
           ROUND(SUM(w2.n1 * (w2.m1 - w2.m0)) OVER () / tot.n_treated, 4)
               AS att
    FROM wide, tot, wide w2
    WHERE w2.stratum = wide.stratum
    ORDER BY wide.stratum
    """,
)
def propensity_strata_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified average-treatment-effect-on-the-treated: does PROMO
    part pricing lift net revenue per line item, controlling for part
    size? Strata are p_size deciles (the observed confounder standing
    in for a propensity score bin — identical plan shape once the
    score is a model output); per-stratum effect = treated mean minus
    control mean; ATT = treated-count-weighted average across strata —
    the textbook subclassification estimator (Cochran 1968,
    Rosenbaum-Rubin 1983/4).

    One fact-dim broadcast join, one groupBy (stratum, treated) —
    everything after operates on the bounded stratum frame. Means are
    decimal-exact sums divided once; the ATT rides a window over the
    <=10-row stratum frame."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_type") == "PROMO", 1).otherwise(0).alias("treated"),
        F.floor(F.col("p_size") / 10).cast("bigint").alias("stratum"),
    )
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "treated",
        "stratum",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
    )
    cell = base.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,6)")).cast("double").alias("s"),
    )
    t = cell.filter(F.col("treated") == 1).select(
        "stratum", F.col("n").alias("n1"), (F.col("s") / F.col("n")).alias("m1")
    )
    c = cell.filter(F.col("treated") == 0).select(
        "stratum", (F.col("s") / F.col("n")).alias("m0")
    )
    wide = t.join(c, "stratum")
    att = F.sum(F.col("n1") * (F.col("m1") - F.col("m0"))).over(
        Window.partitionBy()
    ) / F.sum("n1").over(Window.partitionBy())
    return wide.select(
        "stratum",
        F.col("n1").cast("bigint").alias("n_treated"),
        F.round("m1", 4).alias("mean_treated"),
        F.round("m0", 4).alias("mean_control"),
        F.round(F.col("m1") - F.col("m0"), 4).alias("stratum_effect"),
        F.round(att, 4).alias("att"),
    ).orderBy("stratum")


# --- Granger-style lagged predictive test ------------------------------------


@query(
    "granger_lag_causality",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS y
        FROM events GROUP BY 1),
    lagged AS (
        SELECT y,
               LAG(y) OVER (ORDER BY day) AS z1,
               LAG(x) OVER (ORDER BY day) AS z2
        FROM daily),
    f AS (SELECT y, z1, z2 FROM lagged WHERE z1 IS NOT NULL),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(y  AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(z1 AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(z2 AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(y * y   AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(z1 * z1 AS DECIMAL(38,6))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(z2 * z2 AS DECIMAL(38,6))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(z1 * z2 AS DECIMAL(38,6))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(z1 * y  AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(z2 * y  AS DECIMAL(38,6))) AS DOUBLE) AS s2y
        FROM f),
    c AS (
        SELECT n,
               syy - sy * sy / n  AS cyy,
               s11 - s1 * s1 / n  AS c11,
               s22 - s2 * s2 / n  AS c22,
               s12 - s1 * s2 / n  AS c12,
               s1y - s1 * sy / n  AS c1y,
               s2y - s2 * sy / n  AS c2y
        FROM s),
    m AS (
        SELECT n,
               (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
               (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2,
               cyy, c11, c1y, c2y
        FROM c),
    r AS (
        SELECT n,
               cyy - b1 * c1y - b2 * c2y       AS rss_u,
               cyy - c1y * c1y / c11           AS rss_r,
               b1, b2
        FROM m)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(b1, 6) AS beta_self_lag,
           ROUND(b2, 6) AS beta_cross_lag,
           ROUND((rss_r - rss_u) / (rss_u / (n - 3)), 6) AS f_stat,
           (rss_r - rss_u) / (rss_u / (n - 3)) > 4.0 AS clicks_predict_purchases
    FROM r
    """,
)
def granger_lag_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lag-1 predictive test: do yesterday's CLICKS carry
    information about today's PURCHASES beyond what yesterday's
    purchases already predict? Restricted model y_t ~ y_{t-1} vs
    unrestricted y_t ~ y_{t-1} + x_{t-1}; the F-statistic on the
    residual-sum drop is the Granger test (F(1, n-3); the fixed 4.0
    gate is the ~alpha=.045 critical value at this n).

    Plan: the fact table collapses to the per-day frame FIRST (one
    aggregate), the lag window runs on that calendar-bounded frame,
    and the 2-regressor OLS is CLOSED FORM from one aggregate of
    DECIMAL-exact power sums (2x2 normal equations solved by
    determinant) — no iteration, no matrix library, identical doubles
    in both engines."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("double").alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("double").alias("y"),
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y").over(w).alias("z1"),
        F.lag("x").over(w).alias("z2"),
    ).filter(F.col("z1").isNotNull())

    def dsum(c):
        return F.sum(c.cast("decimal(38,6)")).cast("double")

    s = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("z1")).alias("s1"),
        dsum(F.col("z2")).alias("s2"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("z1") * F.col("z1")).alias("s11"),
        dsum(F.col("z2") * F.col("z2")).alias("s22"),
        dsum(F.col("z1") * F.col("z2")).alias("s12"),
        dsum(F.col("z1") * F.col("y")).alias("s1y"),
        dsum(F.col("z2") * F.col("y")).alias("s2y"),
    )
    c = s.select(
        "n",
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    m = c.select(
        "n",
        "cyy",
        "c11",
        "c1y",
        "c2y",
        ((F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det).alias("b1"),
        ((F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det).alias("b2"),
    )
    rss_u = F.col("cyy") - F.col("b1") * F.col("c1y") - F.col("b2") * F.col("c2y")
    rss_r = F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11")
    fstat = (rss_r - rss_u) / (rss_u / (F.col("n") - 3))
    return m.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round("b1", 6).alias("beta_self_lag"),
        F.round("b2", 6).alias("beta_cross_lag"),
        F.round(fstat, 6).alias("f_stat"),
        (fstat > 4.0).alias("clicks_predict_purchases"),
    )


# --- always-valid sequential A/B test (mSPRT) --------------------------------

_MSPRT_TAU2 = 0.01  # mixture variance over the effect size


@query(
    "ab_sequential_msprt",
    oracle=f"""
    WITH p AS (
        SELECT CAST(ts AS DATE) AS day, user_id % 2 AS variant, value
        FROM events WHERE event_type = 'purchase'),
    sigma AS (SELECT VAR_SAMP(value) AS s2 FROM p),
    daily AS (
        SELECT day, variant, COUNT(*) AS n, SUM(value) AS s
        FROM p GROUP BY day, variant),
    cum AS (
        SELECT day, variant,
               SUM(n) OVER (PARTITION BY variant ORDER BY day) AS cn,
               SUM(s) OVER (PARTITION BY variant ORDER BY day) AS cs
        FROM daily),
    wide AS (
        SELECT a.day,
               a.cn AS n_a, a.cs / a.cn AS m_a,
               b.cn AS n_b, b.cs / b.cn AS m_b
        FROM (SELECT * FROM cum WHERE variant = 0) a
        JOIN (SELECT * FROM cum WHERE variant = 1) b USING (day)),
    lam AS (
        SELECT day, n_a, n_b, m_a - m_b AS d,
               g.s2 * (1.0 / n_a + 1.0 / n_b) AS se2
        FROM wide CROSS JOIN sigma g),
    scored AS (
        SELECT day, n_a, n_b, d,
               SQRT(se2 / (se2 + {_MSPRT_TAU2}))
                 * EXP(d * d * {_MSPRT_TAU2}
                       / (2.0 * se2 * (se2 + {_MSPRT_TAU2}))) AS lambda
        FROM lam)
    SELECT day,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND(d, 6) AS mean_diff,
           ROUND(lambda, 6) AS mixture_lr,
           ROUND(MIN(LEAST(1.0, 1.0 / lambda))
                     OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS always_valid_p
    FROM scored
    ORDER BY day
    """,
)
def ab_sequential_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B testing via the mixture SPRT
    (Johari et al., 'Peeking at A/B tests'): after each DAY of data the
    mixture likelihood ratio Λ_n (normal effect prior N(0, τ²)) is
    updated from the cumulative per-variant means, and the always-valid
    p-value is the running minimum of 1/Λ_n — the quantity that lets an
    experimentation platform peek daily without inflating false
    positives, which the fixed-horizon tests here (Welch, Mann-Whitney)
    cannot offer.

    Plan shape: one scan aggregates per (day, variant); every later
    step — cumulative windows over the ~30-row daily frame, the scalar
    pooled variance broadcast, the running-min p — runs on calendar-
    bounded data. At 100 TB the cost is the single keyed aggregate."""
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").cast("date").alias("day"),
            F.pmod(F.col("user_id"), F.lit(2)).alias("variant"),
            "value",
        )
    )
    sigma = p.agg(F.var_samp("value").alias("s2"))
    daily = p.groupBy("day", "variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    wv = Window.partitionBy("variant").orderBy("day")
    cum = daily.select(
        "day",
        "variant",
        F.sum("n").over(wv).alias("cn"),
        F.sum("s").over(wv).alias("cs"),
    )
    a = cum.filter(F.col("variant") == 0).select(
        "day", F.col("cn").alias("n_a"), (F.col("cs") / F.col("cn")).alias("m_a")
    )
    b = cum.filter(F.col("variant") == 1).select(
        "day", F.col("cn").alias("n_b"), (F.col("cs") / F.col("cn")).alias("m_b")
    )
    d = F.col("m_a") - F.col("m_b")
    se2 = F.col("s2") * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    lam = (
        a.join(b, "day")
        .crossJoin(F.broadcast(sigma))
        .select(
            "day",
            "n_a",
            "n_b",
            d.alias("d"),
            (
                F.sqrt(se2 / (se2 + _MSPRT_TAU2))
                * F.exp(d * d * _MSPRT_TAU2 / (2.0 * se2 * (se2 + _MSPRT_TAU2)))
            ).alias("lambda"),
        )
    )
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return lam.select(
        "day",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("d", 6).alias("mean_diff"),
        F.round("lambda", 6).alias("mixture_lr"),
        F.round(
            F.min(F.least(F.lit(1.0), 1.0 / F.col("lambda"))).over(wp), 6
        ).alias("always_valid_p"),
    ).orderBy("day")


# --- instrumental-variable (Wald) estimate -----------------------------------


@query(
    "causal_iv_wald_estimate",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS z,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y
        FROM events GROUP BY user_id),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               {dsum_sql("CASE WHEN z = 1 THEN y END")} / SUM(z) AS y1,
               {dsum_sql("CASE WHEN z = 0 THEN y END")} / SUM(1 - z) AS y0,
               SUM(CASE WHEN z = 1 THEN x END) * 1.0 / SUM(z) AS x1,
               SUM(CASE WHEN z = 0 THEN x END) * 1.0 / SUM(1 - z) AS x0
        FROM u)
    SELECT n_users,
           ROUND(y1 - y0, 6) AS reduced_form_diff,
           ROUND(x1 - x0, 6) AS first_stage_diff,
           CASE WHEN x1 - x0 <> 0 THEN ROUND((y1 - y0) / (x1 - x0), 6)
                ELSE NULL END AS wald_late,
           ABS(x1 - x0) < 0.5 AS weak_instrument
    FROM s
    """,
)
def causal_iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable estimation in its simplest form — the WALD
    estimator with a binary instrument: LATE = (E[y|z=1] - E[y|z=0]) /
    (E[x|z=1] - E[x|z=0]), the ratio of the reduced form to the first
    stage (2SLS collapses to exactly this with one binary instrument).
    Here z is a deterministic assignment (user_id % 3), x the user's
    click count (endogenous exposure), y their purchase revenue. The
    ``weak_instrument`` flag reports the first-stage strength honestly
    — with a hash-random instrument the first stage is near zero by
    construction, which is precisely when the Wald ratio must NOT be
    trusted (the diagnostic every IV analysis ships with).

    One keyed aggregate to the per-user frame, one global DECIMAL-exact
    collapse — both engines compute the ratio from identical sums, so
    even a tiny denominator is reproducible."""
    u = table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("int")).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("y"),
    ).select(
        "x", "y", (F.pmod(F.col("user_id"), F.lit(3)) == 0).cast("int").alias("z")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (dsum(F.when(F.col("z") == 1, F.col("y"))) / F.sum("z")).alias("y1"),
        (dsum(F.when(F.col("z") == 0, F.col("y"))) / F.sum(1 - F.col("z"))).alias(
            "y0"
        ),
        (
            F.sum(F.when(F.col("z") == 1, F.col("x"))) * 1.0 / F.sum("z")
        ).alias("x1"),
        (
            F.sum(F.when(F.col("z") == 0, F.col("x"))) * 1.0 / F.sum(1 - F.col("z"))
        ).alias("x0"),
    )
    rf = F.col("y1") - F.col("y0")
    fs = F.col("x1") - F.col("x0")
    return s.select(
        "n_users",
        F.round(rf, 6).alias("reduced_form_diff"),
        F.round(fs, 6).alias("first_stage_diff"),
        # a zero first stage leaves the LATE undefined (and ANSI mode
        # would raise): surface NULL, which weak_instrument explains
        F.when(fs != 0, F.round(rf / fs, 6)).alias("wald_late"),
        (F.abs(fs) < 0.5).alias("weak_instrument"),
    )


# --- Cox proportional hazards: one-step estimator ----------------------------


@query(
    "survival_cox_one_step",
    oracle=f"""
    WITH dur AS (
        SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t,
               CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev,
               CAST(l.l_quantity AS DOUBLE) AS x
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE datediff('day', o.o_orderdate, l.l_shipdate) BETWEEN 0 AND 120),
    per_t AS (
        SELECT t,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(ev) AS DOUBLE) AS d,
               SUM(x) AS sx,
               SUM(x * x) AS sxx,
               SUM(ev * x) AS sex
        FROM dur GROUP BY t),
    risk AS (
        SELECT t, d, sex,
               SUM(n)  OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS s0,
               SUM(sx) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS s1,
               SUM(sxx) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS s2
        FROM per_t),
    sums AS (
        SELECT SUM(CASE WHEN d > 0 THEN sex - d * s1 / s0 ELSE 0 END) AS u,
               SUM(CASE WHEN d > 0 THEN d * (s2 / s0 - (s1 / s0) * (s1 / s0))
                        ELSE 0 END) AS i,
               CAST(SUM(d) AS BIGINT) AS n_events
        FROM risk)
    SELECT n_events,
           ROUND(u, 6) AS score_u,
           ROUND(i, 6) AS info_i,
           ROUND(u / i, 6) AS beta_one_step,
           ROUND(EXP(u / i), 6) AS hazard_ratio
    FROM sums
    """,
)
def survival_cox_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression, ONE-STEP estimator: the
    Newton step from beta=0 of the partial likelihood, beta_1 = U(0) /
    I(0), with Breslow tie handling — U(0) sums each event's covariate
    minus the risk-set mean, I(0) the risk-set covariate variances (the
    one-step estimator is asymptotically efficient; further Newton
    steps reuse the identical plan). Covariate: line quantity; event:
    'F' status at order->ship latency t, 'O' lines right-censored —
    the same duration frame as survival_kaplan_meier, which this
    completes with a REGRESSION member beside the KM/Nelson-Aalen
    estimators and the log-rank test.

    Scale shape: one scan collapses to the per-duration frame (<=121
    rows, calendar-bounded), risk-set S0/S1/S2 are suffix windows over
    that bounded frame, and the covariate sums are integer-exact — the
    classic 'aggregate to the bounded frame first' survival topology."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        (F.col("l_linestatus") == "F").cast("int").alias("ev"),
        F.col("l_quantity").cast("double").alias("x"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dur = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.datediff("l_shipdate", "o_orderdate").alias("t"), "ev", "x"
        )
        .filter((F.col("t") >= 0) & (F.col("t") <= 120))
    )
    per_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("ev").cast("double").alias("d"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("ev") * F.col("x")).alias("sex"),
    )
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "t",
        "d",
        "sex",
        F.sum("n").over(w).alias("s0"),
        F.sum("sx").over(w).alias("s1"),
        F.sum("sxx").over(w).alias("s2"),
    )
    r = F.col("s1") / F.col("s0")
    sums = risk.agg(
        F.sum(
            F.when(F.col("d") > 0, F.col("sex") - F.col("d") * r).otherwise(0.0)
        ).alias("u"),
        F.sum(
            F.when(
                F.col("d") > 0, F.col("d") * (F.col("s2") / F.col("s0") - r * r)
            ).otherwise(0.0)
        ).alias("i"),
        F.sum("d").cast("bigint").alias("n_events"),
    )
    return sums.select(
        "n_events",
        F.round("u", 6).alias("score_u"),
        F.round("i", 6).alias("info_i"),
        F.round(F.col("u") / F.col("i"), 6).alias("beta_one_step"),
        F.round(F.exp(F.col("u") / F.col("i")), 6).alias("hazard_ratio"),
    )


# --- 1-D Wasserstein (earth mover's) drift distance --------------------------


@query(
    "drift_wasserstein_1d",
    oracle="""
    WITH tagged AS (
        SELECT value, CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS a
        FROM events),
    per_v AS (
        SELECT value,
               CAST(SUM(a) AS BIGINT) AS ca,
               CAST(SUM(1 - a) AS BIGINT) AS cb
        FROM tagged GROUP BY value),
    cum AS (
        SELECT value,
               SUM(ca) OVER (ORDER BY value) AS cum_ca,
               SUM(cb) OVER (ORDER BY value) AS cum_cb,
               LEAD(value) OVER (ORDER BY value) AS nxt
        FROM per_v),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v),
    seg AS (
        SELECT ABS(c.cum_ca * t.nb - c.cum_cb * t.na) * (c.nxt - c.value) AS m,
               t.na, t.nb
        FROM cum c CROSS JOIN tot t
        WHERE c.nxt IS NOT NULL)
    SELECT ROUND(CAST(SUM(CAST(m AS DECIMAL(38,10))) AS DOUBLE)
                 / (MAX(na) * MAX(nb)), 6) AS wasserstein_1d,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b
    FROM seg
    """,
)
def drift_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between the first- and
    second-half-of-month value distributions: the integral of
    |F_A - F_B| over the value axis — the drift metric that reports HOW
    FAR mass moved where KS reports only the worst single point and PSI
    quantizes into 10 bins. W1 = sum over adjacent distinct values of
    |cum_A*n_B - cum_B*n_A| * gap / (n_A*n_B): the bracket is an exact
    INTEGER per segment, the segment products accumulate in
    DECIMAL(38,10), so both engines sum identical exact terms in any
    order.

    Scale shape: the per-value collapse is one keyed aggregate; the
    cumulative counts use the two-pass range-partition prefix scan
    (functions/ranks.py), never a single-partition window; the
    next-value gap is an equi self-join on the scale-safe global row
    number, not LEAD over one partition."""
    from ..functions.ranks import global_cumulative_sums, global_row_number

    e = table(spark, sf_dir, "events").select(
        "value", F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("a")
    )
    per_v = e.groupBy("value").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum(1 - F.col("a")).cast("long").alias("cb"),
    )
    cum = global_cumulative_sums(per_v, [F.col("value")], ["ca", "cb"])
    rn, _total = global_row_number(cum, [F.col("value")], rn_name="rn")
    nxt = rn.select((F.col("rn") - 1).alias("rn"), F.col("value").alias("nxt"))
    seg = rn.join(nxt, "rn").select(
        "value",
        "nxt",
        "cum_ca",
        "cum_cb",
    )
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    m = (
        F.abs(F.col("cum_ca") * F.col("nb") - F.col("cum_cb") * F.col("na"))
        * (F.col("nxt") - F.col("value"))
    ).cast("decimal(38,10)")
    return (
        seg.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(m).cast("double") / (F.max("na") * F.max("nb")), 6
            ).alias("wasserstein_1d"),
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
        )
    )


# --- permutation test with deterministic hash relabelings --------------------

_PERM_R = 50


def _perm_arm_sql(i: int) -> str:
    # portable per-replicate relabeling: user-level (not row-level), so
    # the permuted assignment respects the clustering structure
    h = (
        "list_reduce(list_transform(generate_series(1, LENGTH({e})), "
        "q -> CAST(ascii(({e})[q:q]) AS BIGINT)), (acc, x) -> (acc * 131 + x) % 1000000007)"
    ).format(e=f"'perm{i}:' || CAST(user_id AS VARCHAR)")
    return f"({h} % 2)"


@query(
    "ab_permutation_test",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               user_id % 2 AS arm,
               SUM(CAST(value AS DECIMAL(38,6))) AS su,
               COUNT(*) AS cu
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id),
    obs AS (
        SELECT CAST(SUM(CASE WHEN arm = 1 THEN su END) AS DOUBLE)
                 / SUM(CASE WHEN arm = 1 THEN cu ELSE 0 END)
             - CAST(SUM(CASE WHEN arm = 0 THEN su END) AS DOUBLE)
                 / SUM(CASE WHEN arm = 0 THEN cu ELSE 0 END) AS d
        FROM per_user),
    perms AS (
        {" UNION ALL ".join(
            f'''SELECT {i} AS rep,
               CAST(SUM(CASE WHEN {_perm_arm_sql(i)} = 1 THEN su END) AS DOUBLE)
                 / SUM(CASE WHEN {_perm_arm_sql(i)} = 1 THEN cu ELSE 0 END)
             - CAST(SUM(CASE WHEN {_perm_arm_sql(i)} = 0 THEN su END) AS DOUBLE)
                 / SUM(CASE WHEN {_perm_arm_sql(i)} = 0 THEN cu ELSE 0 END) AS d
            FROM per_user''' for i in range(_PERM_R))})
    SELECT ROUND(o.d, 6) AS observed_diff,
           CAST(SUM(CASE WHEN ABS(p.d) >= ABS(o.d) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_extreme,
           ROUND((SUM(CASE WHEN ABS(p.d) >= ABS(o.d) THEN 1 ELSE 0 END) + 1.0)
                 / ({_PERM_R} + 1), 6) AS p_value
    FROM perms p CROSS JOIN obs o
    GROUP BY o.d
    """,
)
def ab_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the A/B mean difference with DETERMINISTIC
    hash relabelings: each of {_PERM_R} replicates reassigns every USER
    (not row — the relabeling respects clustering) to an arm by a
    seeded portable hash, and the p-value is the add-one-smoothed
    fraction of replicate |diffs| at least as extreme as the observed
    one — the exact-style nonparametric test that needs no normality or
    variance model, reproducible across engines and reruns because the
    'random' permutations are hashes.

    Scale shape: the corpus collapses to the PER-USER (sum, count)
    frame FIRST — one keyed aggregate — and all {_PERM_R} replicate
    relabelings run as conditional aggregates over that bounded frame,
    so the {_PERM_R} per-user hashes are computed over |users| rows,
    never |events| (the naive all-in-one-aggregate form re-evaluated
    every hash per event per referencing expression and went 8.4x at
    the 20x probe; this form is flat). DECIMAL user sums keep replicate
    means order-exact in both engines.

    Round 13 (guide §4, the HOF-fold lesson): the {_PERM_R} replicate
    hashes are PREFIX-FACTORED instead of re-folded per replicate.
    poly_hash is an affine fold, so
    H("perm{i}:" || s) = (H("perm{i}:") * 131^len(s) + H(s)) mod p
    exactly; H("perm{i}:") is a plan-time Python constant, 131^len(s)
    comes from a 20-entry literal array indexed by len(s), and only
    H(s) — one interpreted character fold over the user-id digits —
    runs per row. The replicate sums are then MELTED instead of run as
    a 201-expression aggregate: each user row explodes to {_PERM_R}+1
    (rep, arm_bit) rows and one narrow codegen-friendly
    groupBy(rep, bit) aggregate produces every replicate's (sum, count)
    pair — the wide form fell out of whole-stage codegen (>100
    aggregate buffers) and cost ~2.5 s of Catalyst planning per build.
    Row inflation is collapsed by map-side partial aggregation
    (2({_PERM_R}+1) groups), so the shuffle stays tiny at any scale.
    The replicate mean-differences and the add-one-smoothed p-value
    come from the resulting 2({_PERM_R}+1)-row frame. DECIMAL sums are
    unchanged (re-summing a partitioned exact DECIMAL sum is exact), so
    results match the oracle bit-for-bit. Measured at sf0.1: min-of-N
    5.68 s -> 2.0 s."""
    p_mod, p_base = 1_000_000_007, 131

    def _poly_py(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * p_base + ord(ch)) % p_mod
        return acc

    prefix_h = [_poly_py(f"perm{i}:") for i in range(_PERM_R)]
    # 131^L mod p for L = 1..20 (an int64 has <= 19 decimal digits)
    pow_l = F.array(
        *[F.lit(pow(p_base, l, p_mod)).cast("long") for l in range(1, 21)]
    )
    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)")).alias("su"),
            F.count(F.lit(1)).alias("cu"),
        )
        .select(
            "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm"), "su", "cu"
        )
        .withColumn("_uid", F.col("user_id").cast("string"))
        .withColumn("_sfx", poly_hash(F.col("_uid")))
        .withColumn("_powl", F.element_at(pow_l, F.length("_uid")))
    )
    def arm_expr(i: int) -> Column:
        return F.pmod(
            F.pmod(
                F.lit(prefix_h[i]).cast("long") * F.col("_powl") + F.col("_sfx"),
                F.lit(p_mod),
            ),
            F.lit(2),
        )

    structs = [
        F.struct(F.lit(-1).alias("rep"), F.col("arm").cast("long").alias("bit"))
    ] + [
        F.struct(F.lit(i).alias("rep"), arm_expr(i).alias("bit"))
        for i in range(_PERM_R)
    ]
    melted = per_user.select(
        F.explode(F.array(*structs)).alias("x"), "su", "cu"
    ).select("x.rep", "x.bit", "su", "cu")
    by_arm = melted.groupBy("rep", "bit").agg(
        F.sum("su").alias("s"), F.sum("cu").alias("n")
    )
    # persisted: both the observed-diff branch and the replicate branch
    # read this ({_PERM_R}+1)-row frame — without the pin each branch
    # would re-run the events scan + aggregate.
    diffs = by_arm.groupBy("rep").agg(
        (
            F.sum(F.when(F.col("bit") == 1, F.col("s"))).cast("double")
            / F.sum(F.when(F.col("bit") == 1, F.col("n")).otherwise(0))
            - F.sum(F.when(F.col("bit") == 0, F.col("s"))).cast("double")
            / F.sum(F.when(F.col("bit") == 0, F.col("n")).otherwise(0))
        ).alias("d")
    ).transform(_persisted)
    obs = diffs.filter(F.col("rep") == -1).select(F.col("d").alias("obs"))
    n_ext = F.sum((F.abs(F.col("d")) >= F.abs(F.col("obs"))).cast("int"))
    return (
        diffs.filter(F.col("rep") >= 0)
        .crossJoin(F.broadcast(obs))
        .agg(
            F.round(F.max("obs"), 6).alias("observed_diff"),
            n_ext.cast("bigint").alias("n_extreme"),
            F.round((n_ext + 1.0) / (_PERM_R + 1), 6).alias("p_value"),
        )
    )


# --- Apriori frequent 3-itemsets ---------------------------------------------

_APRIORI_MINSUP_FRAC = 0.25
_APRIORI_TOP = 10


@query(
    "basket_apriori_triples",
    oracle=f"""
    WITH it AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM it),
    tri AS (
        SELECT a.t AS item_a, b.t AS item_b, c.t AS item_c,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM it a
        JOIN it b ON a.doc_id = b.doc_id AND a.t < b.t
        JOIN it c ON b.doc_id = c.doc_id AND b.t < c.t
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= CEIL({_APRIORI_MINSUP_FRAC} * (SELECT n FROM nd)))
    SELECT item_a, item_b, item_c, support,
           ROUND(support * 1.0 / (SELECT n FROM nd), 6) AS rel_support
    FROM tri
    ORDER BY support DESC, item_a ASC, item_b ASC, item_c ASC
    LIMIT {_APRIORI_TOP}
    """,
)
def basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets via APRIORI candidate pruning (Agrawal &
    Srikant 1994) — baskets are documents, items their distinct tokens,
    min support {_APRIORI_MINSUP_FRAC:.0%} of baskets.

    The oracle brute-forces the within-basket triple join; the Spark
    plan is the level-wise pruned version that survives real vocab
    sizes: L1 (frequent items) prunes the basket stream BEFORE any
    pair is formed, L2 (frequent pairs) is the pair self-join over the
    L1-pruned stream, candidate triples come from L2 JOIN L2 on the
    shared first item with the downward-closure prune (the (b, c)
    suffix must itself be in L2 — broadcast, L2 is support-bounded),
    and only candidate triples are counted against baskets. At web
    scale the unpruned triple join is |basket|^3-per-basket work on
    mostly-infrequent tokens; every Apriori level here cuts the stream
    by a support-bounded broadcast semi-join instead."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    it = (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
        .transform(_persisted)
    )
    n_docs = it.select("doc_id").distinct().count()
    minsup = math.ceil(_APRIORI_MINSUP_FRAC * n_docs)
    l1 = (
        it.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= minsup)
        .select("t")
    )
    it1 = it.join(F.broadcast(l1), "t", "left_semi")
    pd = (
        it1.alias("a")
        .join(
            it1.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.t") < F.col("b.t")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.t").alias("ia"),
            F.col("b.t").alias("ib"),
        )
        .transform(_persisted)
    )
    l2 = (
        pd.groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= minsup)
        .select("ia", "ib")
        .transform(_persisted)
    )
    # C3: join L2 pairs sharing the first item; downward-closure prune
    # on the (b, c) suffix pair.
    c3 = (
        l2.alias("x")
        .join(l2.alias("y"), (F.col("x.ia") == F.col("y.ia")) & (F.col("x.ib") < F.col("y.ib")))
        .select(
            F.col("x.ia").alias("ia"),
            F.col("x.ib").alias("ib"),
            F.col("y.ib").alias("ic"),
        )
        .join(
            F.broadcast(l2.select(F.col("ia").alias("ib"), F.col("ib").alias("ic"))),
            ["ib", "ic"],
            "left_semi",
        )
    )
    # Support counting: candidate-restricted extension of the pair-doc
    # stream by a third item from the same basket.
    tri = (
        pd.join(
            it1.select(F.col("doc_id"), F.col("t").alias("ic")),
            "doc_id",
        )
        .filter(F.col("ib") < F.col("ic"))
        .join(F.broadcast(c3), ["ia", "ib", "ic"], "left_semi")
        .groupBy("ia", "ib", "ic")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= minsup)
    )
    return (
        tri.orderBy(
            F.col("support").desc(),
            F.col("ia").asc(),
            F.col("ib").asc(),
            F.col("ic").asc(),
        )
        .limit(_APRIORI_TOP)
        .select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            F.col("ic").alias("item_c"),
            "support",
            F.round(F.col("support") * 1.0 / n_docs, 6).alias("rel_support"),
        )
    )


# --- Theil-Sen robust slope --------------------------------------------------

_TS_SAMPLE_PCT = 5  # deterministic 5% row subsample
_TS_LAGS = (1, 2, 3)  # rank-lag pairs per point

# DuckDB mirror of functions.textfns.poly_hash (same template as
# operators/training.py:_POLY_SQL).
_POLY_SQL = (
    "list_reduce(list_transform(generate_series(1, LENGTH({e})), "
    "i -> CAST(ascii(({e})[i:i]) AS BIGINT)), (acc, x) -> (acc * 131 + x) % 1000000007)"
)


@query(
    "robust_theil_sen_slope",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y,
               l_orderkey, l_linenumber
        FROM lineitem
        WHERE (CAST(l_orderkey AS BIGINT) * 2654435761
               + CAST(l_linenumber AS BIGINT) * 40503) % 100 < {_TS_SAMPLE_PCT}),
    rk AS (
        SELECT x, y,
               ROW_NUMBER() OVER (ORDER BY x, l_orderkey, l_linenumber) AS rn
        FROM pts),
    slopes AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS s
        FROM rk a JOIN rk b
          ON b.rn - a.rn IN ({", ".join(str(l) for l in _TS_LAGS)})
        WHERE b.x <> a.x),
    m AS (SELECT MEDIAN(s) AS slope FROM slopes),
    icpt AS (SELECT MEDIAN(y - (SELECT slope FROM m) * x) AS intercept FROM rk)
    SELECT CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
           ROUND((SELECT slope FROM m), 6) AS slope_median,
           ROUND((SELECT intercept FROM icpt), 6) AS intercept_median
    """,
)
def robust_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust regression (median of pairwise slopes) of
    extended price on quantity — the estimator that shrugs off the
    outliers least-squares chases (29% breakdown point).

    All-pairs Theil-Sen is O(n^2); the standard at-scale variant pairs
    each point only with its rank-neighbors at small lags (here lags
    {_TS_LAGS} over the x-order), preserving the median-slope target on
    a deterministic 5% hash subsample. The global x-rank comes from the
    range-partitioned two-pass helper (functions/ranks.py) — NEVER a
    single-partition window — and the lag join is a self-equi-join on
    rank, co-partitioned by the join key. Medians are exact
    (percentile, interpolating — identical algorithm both engines);
    the intercept is median(y - m*x) given the slope, Sen's standard
    companion estimate. At 100 TB: two range-partition passes + one
    rank-keyed join, each shuffle linear in the subsample."""
    from ..functions.ranks import global_row_number

    # Integer Knuth-style mix, NOT the per-character poly hash: the
    # char-fold costs a 20-element lambda fold per row, which the 20x
    # probe measured as the dominant cost on a 6M-row scan. Fibonacci
    # hashing on the numeric key is one multiply-add per row, portable
    # to the oracle as exact BIGINT arithmetic.
    key_mix = (
        F.col("l_orderkey").cast("bigint") * F.lit(2654435761).cast("bigint")
        + F.col("l_linenumber").cast("bigint") * 40503
    )
    pts = (
        table(spark, sf_dir, "lineitem")
        .filter(F.pmod(key_mix, F.lit(100)) < _TS_SAMPLE_PCT)
        .select(
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    rk, _n = global_row_number(
        pts,
        [F.col("x").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rn_name="rn",
    )
    rk = rk.select("x", "y", "rn").transform(_persisted)
    a = rk.select(
        F.col("rn").alias("rna"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    pairs = None
    for lag in _TS_LAGS:
        b = rk.select(
            (F.col("rn") - lag).alias("rna"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
        )
        p = a.join(b, "rna").filter(F.col("xb") != F.col("xa"))
        pairs = p if pairs is None else pairs.unionByName(p)
    slopes = pairs.select(
        ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias("s")
    ).transform(_persisted)

    # Exact medians via the distributed rank helper, NOT the built-in
    # exact `percentile` aggregate — that aggregate ships every value
    # of the group to ONE reducer's in-memory map, which the round-5
    # 20x probe measured at 16.8x (82 s: ~1M slope doubles on a single
    # task). Ranked, the median is the mean of the two middle-rank
    # rows — two fully parallel range-partition passes, identical to
    # the interpolating percentile both engines define at q=0.5.
    def median_by_rank(df, col: str):
        ranked, n = global_row_number(df, [F.col(col).asc()], rn_name="_mrn")
        lo, hi = (n + 1) // 2, n // 2 + 1
        return (
            ranked.filter(F.col("_mrn").isin(lo, hi))
            .agg(F.avg(col).alias("med")),
            n,
        )

    m, n_pairs = median_by_rank(slopes, "s")
    resid = (
        rk.crossJoin(F.broadcast(m))
        .select((F.col("y") - F.col("med") * F.col("x")).alias("r"))
    )
    icpt, _ = median_by_rank(resid, "r")
    return (
        m.select(F.col("med").alias("slope"))
        .crossJoin(F.broadcast(icpt.select(F.col("med").alias("intercept"))))
        .select(
            F.lit(n_pairs).cast("bigint").alias("n_pairs"),
            F.round("slope", 6).alias("slope_median"),
            F.round("intercept", 6).alias("intercept_median"),
        )
    )


# --- Markov-chain attribution (removal effect) -------------------------------

_MARKOV_STEPS = 8
_MARKOV_CHANNELS = ("click", "error", "signup", "view")  # purchase => CONV


def _markov_oracle() -> str:
    """Unrolled 8-step absorption power iteration, one chain per removal
    scenario (same generator-stays-in-sync contract as PageRank/HITS)."""
    scen_vals = ", ".join(f"('{c}')" for c in ("none", *_MARKOV_CHANNELS))
    head = f"""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS st,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    cut AS (SELECT user_id, MIN(rn) AS crn FROM ev WHERE st = 'CONV'
            GROUP BY user_id),
    j AS (SELECT e.user_id, e.st, e.rn
          FROM ev e LEFT JOIN cut c ON e.user_id = c.user_id
          WHERE c.crn IS NULL OR e.rn <= c.crn),
    mx AS (SELECT user_id, MAX(rn) AS mrn FROM j GROUP BY user_id),
    nodes AS (
        SELECT user_id, st, rn FROM j
        UNION ALL
        SELECT DISTINCT user_id, 'START', 0 FROM j
        UNION ALL
        SELECT m.user_id, 'NULLEND', m.mrn + 1
        FROM mx m JOIN j l ON l.user_id = m.user_id AND l.rn = m.mrn
        WHERE l.st <> 'CONV'),
    tr AS (SELECT a.st AS src, b.st AS dst, COUNT(*) AS c
           FROM nodes a JOIN nodes b
             ON a.user_id = b.user_id AND b.rn = a.rn + 1
           GROUP BY 1, 2),
    tp AS (SELECT src, dst, c * 1.0 / SUM(c) OVER (PARTITION BY src) AS p
           FROM tr
           UNION ALL SELECT 'CONV', 'CONV', 1.0),
    scen AS (SELECT * FROM (VALUES {scen_vals}) s(removed)),
    tf AS (SELECT s.removed, t.src, t.dst, t.p
           FROM scen s JOIN tp t
             ON t.src <> s.removed AND t.dst <> s.removed),
    v0 AS (SELECT removed, 'START' AS st, 1.0 AS p FROM scen)
"""
    steps = "".join(
        f""",
    v{i + 1} AS (SELECT t.removed, t.dst AS st, SUM(v.p * t.p) AS p
           FROM v{i} v JOIN tf t
             ON v.removed = t.removed AND v.st = t.src
           GROUP BY 1, 2)
"""
        for i in range(_MARKOV_STEPS)
    )
    return (
        head
        + steps
        + f""",
    pconv AS (SELECT s.removed, COALESCE(v.p, 0) AS p
              FROM scen s LEFT JOIN
                   (SELECT removed, p FROM v{_MARKOV_STEPS} WHERE st = 'CONV') v
                ON s.removed = v.removed),
    base AS (SELECT p AS pb FROM pconv WHERE removed = 'none')
    SELECT removed AS channel,
           ROUND((SELECT pb FROM base), 6) AS p_conversion_base,
           ROUND(p, 6) AS p_conversion_removed,
           ROUND(((SELECT pb FROM base) - p) / (SELECT pb FROM base), 6)
               AS removal_effect
    FROM pconv WHERE removed <> 'none'
    ORDER BY channel
    """
    )


@query("attribution_markov_removal", oracle=_markov_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution with REMOVAL EFFECTS (Anderl et al.
    2014) — the principled successor to last-touch/linear attribution
    already in this family: model user journeys as a first-order chain
    over channels with absorbing CONV (first purchase truncates the
    journey) and NULLEND states, then credit each channel by how much
    conversion probability DIES when every path through it is removed
    (transitions keep their original probabilities — lost mass simply
    never converts; no renormalization, per the original formulation).

    Absorption probability is a fixed {_MARKOV_STEPS}-step power
    iteration, unrolled into the oracle by the same generator loop that
    builds the DataFrame plan. Scale shape: journey assembly is one
    window + one self-join keyed on (user, position) — linear in
    events; the transition matrix is |channels|^2 <= 36 rows, so ALL
    removal scenarios iterate together as one (scenario, state)-keyed
    frame of <= 30 rows — per step one broadcast join, no driver-side
    matrix math, and adding scenarios (one per channel at any channel
    count) widens the tiny frame instead of multiplying jobs."""
    ev = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", "CONV")
            .otherwise(F.col("event_type"))
            .alias("st"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
    )
    cut = ev.filter(F.col("st") == "CONV").groupBy("user_id").agg(
        F.min("rn").alias("crn")
    )
    j = (
        ev.join(cut, "user_id", "left")
        .filter(F.col("crn").isNull() | (F.col("rn") <= F.col("crn")))
        .select("user_id", "st", "rn")
        .transform(_persisted)
    )
    mx = j.groupBy("user_id").agg(F.max("rn").alias("mrn"))
    last = j.join(mx, "user_id").filter(
        (F.col("rn") == F.col("mrn")) & (F.col("st") != "CONV")
    )
    nodes = (
        j.unionByName(
            j.select("user_id").distinct().select(
                "user_id", F.lit("START").alias("st"), F.lit(0).alias("rn")
            )
        )
        .unionByName(
            last.select(
                "user_id",
                F.lit("NULLEND").alias("st"),
                (F.col("mrn") + 1).alias("rn"),
            )
        )
    )
    a = nodes.select("user_id", F.col("st").alias("src"), "rn")
    b = nodes.select("user_id", F.col("st").alias("dst"), (F.col("rn") - 1).alias("rn"))
    tr = a.join(b, ["user_id", "rn"]).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("c")
    )
    tp = tr.select(
        "src",
        "dst",
        (F.col("c") * 1.0 / F.sum("c").over(Window.partitionBy("src"))).alias("p"),
    ).unionByName(
        local_frame(
            spark, [("CONV", "CONV", 1.0)], "src string, dst string, p double"
        )
    )
    # The transition matrix is |channels + 3|^2-bounded BY CONSTRUCTION
    # (<= ~50 rows at any corpus size): everything data-sized above —
    # journey assembly, truncation, the (user, position) self-join, the
    # transition aggregate — is distributed; the 8-step absorption
    # iteration then runs on the collected matrix as O(|channels|^2)
    # driver state, the same bounded-driver-state trade as MMR's O(k)
    # loop (similarity.py). A DataFrame-loop formulation was measured
    # at ~3 s/step here purely in tiny-stage scheduling overhead —
    # 8 chained shuffle stages over a 30-row frame buys nothing a
    # cluster ever needs. Terms accumulate in sorted src order so the
    # float fold is deterministic.
    trans = sorted(
        (r["src"], r["dst"], r["p"]) for r in tp.collect()
    )
    results: list[tuple[str, float]] = []
    for removed in ("none", *_MARKOV_CHANNELS):
        t = [(s, d_, p) for s, d_, p in trans if s != removed and d_ != removed]
        v: dict[str, float] = {"START": 1.0}
        for _ in range(_MARKOV_STEPS):
            nxt: dict[str, float] = {}
            for s, d_, p in t:
                if s in v:
                    nxt[d_] = nxt.get(d_, 0.0) + v[s] * p
            v = nxt
        results.append((removed, v.get("CONV", 0.0)))
    pb = dict(results)["none"]
    # pb == 0 (no conversions reachable within the step budget) must
    # mirror SQL division semantics: NULL removal_effect, not a crash.
    rows = [
        (c, round(pb, 6), round(p, 6), round((pb - p) / pb, 6) if pb else None)
        for c, p in results
        if c != "none"
    ]
    return local_frame(
        spark,
        sorted(rows),
        "channel string, p_conversion_base double, "
        "p_conversion_removed double, removal_effect double",
    )


# --- two-model uplift ---------------------------------------------------------


@query(
    "causal_uplift_two_model",
    oracle="""
    WITH u AS (
        SELECT user_id,
               (user_id * 2654435761) % 4294967296 >= 2147483648 AS treated,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
               NTILE(4) OVER (ORDER BY SUM(CAST(value AS DECIMAL(38,6))), user_id)
                   AS segment
        FROM events
        GROUP BY user_id),
    seg AS (
        SELECT segment,
               CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
               CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
               SUM(CASE WHEN treated THEN converted ELSE 0 END) * 1.0
                   / SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS p_t,
               SUM(CASE WHEN NOT treated THEN converted ELSE 0 END) * 1.0
                   / SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS p_c
        FROM u GROUP BY segment)
    SELECT segment, n_t, n_c,
           ROUND(p_t, 6) AS p_treated,
           ROUND(p_c, 6) AS p_control,
           ROUND(p_t - p_c, 6) AS uplift,
           ROUND(1.96 * SQRT(p_t * (1 - p_t) / n_t + p_c * (1 - p_c) / n_c), 6)
               AS ci_halfwidth
    FROM seg
    ORDER BY segment
    """,
)
def causal_uplift_two_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-model (T-learner) UPLIFT estimation per engagement segment —
    the causal question behind every targeting decision: not "who
    converts" but "whose conversion the treatment CHANGES". Treatment
    assignment is a deterministic user-hash split (the same integer
    Fibonacci mix as the Theil-Sen sample — an RCT the data happens to
    encode); per engagement quartile (NTILE over total event value)
    the uplift is P(convert|T) - P(convert|C) with a two-proportion
    Wald 95% interval.

    One groupBy(user) + one 4-group aggregate; the NTILE rides the
    two-pass distributed rank helper, not a single-partition window.
    Completes the causal family (diff-in-diff, IV/Wald, propensity
    strata) with the heterogeneous-treatment-effect member."""
    from ..functions.ranks import global_row_number, ntile_from_rank

    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("tot"),
        )
        .withColumn(
            "treated",
            # High bit of the 32-bit Fibonacci product, NOT its parity:
            # multiplying by an odd constant preserves parity, so
            # `% 2` would reduce to raw key parity (round-6 advice).
            F.pmod(
                F.col("user_id").cast("bigint") * F.lit(2654435761).cast("bigint"),
                F.lit(4294967296).cast("bigint"),
            )
            >= 2147483648,
        )
    )
    ranked, n = global_row_number(
        u, [F.col("tot").asc(), F.col("user_id").asc()], rn_name="u_rn"
    )
    seg = ranked.withColumn(
        "segment", ntile_from_rank(F.col("u_rn"), n, 4)
    )
    agg = seg.groupBy("segment").agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).cast("bigint").alias("n_c"),
        # try_divide: a tiny stratum can be single-arm (all treated or
        # all control) — DuckDB's x/0 yields NULL, mirror it exactly.
        F.try_divide(
            F.sum(F.when(F.col("treated"), F.col("converted")).otherwise(0)) * 1.0,
            F.sum(F.when(F.col("treated"), 1).otherwise(0)),
        ).alias("p_t"),
        F.try_divide(
            F.sum(F.when(~F.col("treated"), F.col("converted")).otherwise(0)) * 1.0,
            F.sum(F.when(~F.col("treated"), 1).otherwise(0)),
        ).alias("p_c"),
    )
    return agg.select(
        "segment",
        "n_t",
        "n_c",
        F.round("p_t", 6).alias("p_treated"),
        F.round("p_c", 6).alias("p_control"),
        F.round(F.col("p_t") - F.col("p_c"), 6).alias("uplift"),
        F.round(
            1.96
            * F.sqrt(
                F.try_divide(F.col("p_t") * (1 - F.col("p_t")), F.col("n_t"))
                + F.try_divide(F.col("p_c") * (1 - F.col("p_c")), F.col("n_c"))
            ),
            6,
        ).alias("ci_halfwidth"),
    ).orderBy("segment")


_CUPED_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"  # pre-period | experiment


@query(
    "ab_cuped_variance_reduction",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(SUM(CASE WHEN ts < {_CUPED_SPLIT}
                             THEN CAST(value AS DECIMAL(38,12)) END) AS DOUBLE)
                   AS pre_raw,
               CAST(SUM(CASE WHEN ts >= {_CUPED_SPLIT}
                             THEN CAST(value AS DECIMAL(38,12)) END) AS DOUBLE)
                   AS post_raw
        FROM events GROUP BY user_id),
    pp AS (
        SELECT user_id, arm,
               COALESCE(pre_raw, 0.0) AS pre, COALESCE(post_raw, 0.0) AS post
        FROM per_user),
    mom AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(pre AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(post AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(pre * pre AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(post * post AS DECIMAL(38,12))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(pre * post AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM pp),
    theta AS (
        SELECT n, sx / n AS mx, sy / n AS my,
               (sxy / n - (sx / n) * (sy / n))
                   / (sxx / n - (sx / n) * (sx / n)) AS th,
               sxx / n - (sx / n) * (sx / n) AS var_pre,
               syy / n - (sy / n) * (sy / n) AS var_post,
               sxy / n - (sx / n) * (sy / n) AS cov_xy
        FROM mom),
    arms AS (
        SELECT arm, COUNT(*) AS n_a,
               CAST(SUM(CAST(pre AS DECIMAL(38,12))) AS DOUBLE) AS sx_a,
               CAST(SUM(CAST(post AS DECIMAL(38,12))) AS DOUBLE) AS sy_a
        FROM pp GROUP BY arm),
    wide AS (
        SELECT MAX(CASE WHEN arm = 0 THEN sy_a / n_a END) AS mpost0,
               MAX(CASE WHEN arm = 1 THEN sy_a / n_a END) AS mpost1,
               MAX(CASE WHEN arm = 0 THEN sx_a / n_a END) AS mpre0,
               MAX(CASE WHEN arm = 1 THEN sx_a / n_a END) AS mpre1
        FROM arms)
    SELECT ROUND(t.th, 6) AS theta,
           ROUND(w.mpost1 - w.mpost0, 6) AS lift_raw,
           ROUND((w.mpost1 - t.th * (w.mpre1 - t.mx))
               - (w.mpost0 - t.th * (w.mpre0 - t.mx)), 6) AS lift_cuped,
           ROUND(t.var_post, 6) AS var_post,
           ROUND(t.var_post - t.cov_xy * t.cov_xy / t.var_pre, 6) AS var_cuped,
           ROUND(t.cov_xy * t.cov_xy / (t.var_pre * t.var_post), 6)
               AS variance_reduction
    FROM theta t CROSS JOIN wide w
    """,
)
def ab_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): variance-reduced experiment readout
    using each user's pre-period activity as the control covariate.
    theta = cov(pre, post)/var(pre); adjusted metric
    post - theta*(pre - mean_pre); variance shrinks by exactly
    rho^2 = cov^2/(var_pre*var_post) — reported in-query alongside the
    raw and adjusted lifts (arms hash-assigned by user parity, same
    convention as `ab_test_welch_ttest`).

    Scale shape: one keyed aggregate to the per-user (pre, post) frame,
    then ONE per-arm decimal-moment aggregate (2 rows); the global
    moments are the DECIMAL sums of the two arm rows — decimal addition
    is exact, so theta is bit-identical to a single global aggregate
    and bit-stable under any partitioning. No per-user state survives
    the reduction, and the events scan runs exactly once (the round-7
    rewrite: the previous global-moments + arm-rollup branches each
    re-ran the scan + per-user shuffle)."""
    e = table(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")

    def d12(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    def d12dec(col):
        # partial sum kept IN decimal so the cross-arm total below adds
        # exactly; cast to double only at the 1-row stage
        return F.sum(col.cast("decimal(38,12)"))

    per_user = e.groupBy("user_id").agg(
        d12(F.when(F.col("ts") < split, F.col("value"))).alias("pre_raw"),
        d12(F.when(F.col("ts") >= split, F.col("value"))).alias("post_raw"),
    )
    pp = per_user.select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        F.coalesce("pre_raw", F.lit(0.0)).alias("pre"),
        F.coalesce("post_raw", F.lit(0.0)).alias("post"),
    )
    c = F.col
    armmom = pp.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        d12dec(c("pre")).alias("sx_a"),
        d12dec(c("post")).alias("sy_a"),
        d12dec(c("pre") * c("pre")).alias("sxx_a"),
        d12dec(c("post") * c("post")).alias("syy_a"),
        d12dec(c("pre") * c("post")).alias("sxy_a"),
    )
    both = armmom.agg(
        F.sum("n_a").alias("n"),
        F.sum("sx_a").cast("double").alias("sx"),
        F.sum("sy_a").cast("double").alias("sy"),
        F.sum("sxx_a").cast("double").alias("sxx"),
        F.sum("syy_a").cast("double").alias("syy"),
        F.sum("sxy_a").cast("double").alias("sxy"),
        F.max(F.when(c("arm") == 0, c("sy_a").cast("double") / c("n_a"))).alias("mpost0"),
        F.max(F.when(c("arm") == 1, c("sy_a").cast("double") / c("n_a"))).alias("mpost1"),
        F.max(F.when(c("arm") == 0, c("sx_a").cast("double") / c("n_a"))).alias("mpre0"),
        F.max(F.when(c("arm") == 1, c("sx_a").cast("double") / c("n_a"))).alias("mpre1"),
    )
    theta = both.select(
        "mpost0",
        "mpost1",
        "mpre0",
        "mpre1",
        (c("sx") / c("n")).alias("mx"),
        ((c("sxy") / c("n") - (c("sx") / c("n")) * (c("sy") / c("n")))
         / (c("sxx") / c("n") - (c("sx") / c("n")) * (c("sx") / c("n")))).alias("th"),
        (c("sxx") / c("n") - (c("sx") / c("n")) * (c("sx") / c("n"))).alias("var_pre"),
        (c("syy") / c("n") - (c("sy") / c("n")) * (c("sy") / c("n"))).alias("var_post"),
        (c("sxy") / c("n") - (c("sx") / c("n")) * (c("sy") / c("n"))).alias("cov_xy"),
    )
    return theta.select(
        F.round("th", 6).alias("theta"),
        F.round(c("mpost1") - c("mpost0"), 6).alias("lift_raw"),
        F.round(
            (c("mpost1") - c("th") * (c("mpre1") - c("mx")))
            - (c("mpost0") - c("th") * (c("mpre0") - c("mx"))),
            6,
        ).alias("lift_cuped"),
        F.round("var_post", 6).alias("var_post"),
        F.round(c("var_post") - c("cov_xy") * c("cov_xy") / c("var_pre"), 6).alias("var_cuped"),
        F.round(c("cov_xy") * c("cov_xy") / (c("var_pre") * c("var_post")), 6).alias(
            "variance_reduction"
        ),
    )


@query(
    "wilcoxon_signed_rank",
    oracle="""
    WITH pm AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view'  THEN value END) AS a,
               MAX(CASE WHEN event_type = 'click' THEN value END) AS b
        FROM events GROUP BY user_id),
    d AS (SELECT a - b AS d, ABS(a - b) AS ad FROM pm
          WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b),
    g AS (SELECT ad, COUNT(*) AS c,
                 SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS p
          FROM d GROUP BY ad),
    cum AS (SELECT ad, c, p, SUM(c) OVER (ORDER BY ad) - c AS l FROM g),
    s AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(p * (2 * l + c + 1)) AS DOUBLE) AS w2,
                 CAST(SUM(c * c * c - c) AS DOUBLE) AS t
          FROM cum)
    SELECT n AS n_pairs,
           w2 / 2 AS w_plus,
           ROUND((w2 / 2 - n * (n + 1.0) / 4)
                 / SQRT(n * (n + 1.0) * (2 * n + 1) / 24 - t / 48), 6) AS z_stat
    FROM s
    """,
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Wilcoxon signed-rank test: per user, the max 'view' value
    vs the max 'click' value (MAX keeps the pair exact doubles — an
    AVG pairing would make |d| ties summation-order-dependent), zero
    differences dropped, normal approximation with the tie-corrected
    variance n(n+1)(2n+1)/24 - sum(t^3-t)/48.

    The rank machinery never materializes per-row ranks: grouping by
    the distinct |d| value gives (count c_v, positives p_v), a
    range-partitioned prefix sum (functions/ranks.py, no
    single-partition window) gives L_v = #strictly-smaller, and the
    average-rank identity makes 2*W+ = sum p_v*(2L_v + c_v + 1) — an
    integer, so both engines agree bit-for-bit before the one final
    division. At 100 TB the shuffle keys are user_id then |d|; driver
    state is P partial sums."""
    from ..functions.ranks import global_cumulative_sums

    e = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    pm = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", F.col("value"))).alias("a"),
        F.max(F.when(F.col("event_type") == "click", F.col("value"))).alias("b"),
    )
    d = pm.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    ).select(
        (F.col("a") - F.col("b")).alias("d"),
        F.abs(F.col("a") - F.col("b")).alias("ad"),
    )
    g = d.groupBy("ad").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("p"),
    )
    cum = global_cumulative_sums(g, [F.col("ad").asc()], ["c"])
    s = cum.select(
        "c",
        "p",
        (F.col("cum_c") - F.col("c")).alias("l"),
    ).agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("p") * (2 * F.col("l") + F.col("c") + 1)).cast("double").alias("w2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).cast("double").alias("t"),
    )
    n, w2, t = F.col("n"), F.col("w2"), F.col("t")
    return s.select(
        n.alias("n_pairs"),
        (w2 / 2).alias("w_plus"),
        F.round(
            (w2 / 2 - n * (n + 1.0) / 4)
            / F.sqrt(n * (n + 1.0) * (2 * n + 1) / 24 - t / 48),
            6,
        ).alias("z_stat"),
    )


@query(
    "levene_brown_forsythe",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
    z AS (
        SELECT e.event_type, ABS(e.value - m.med) AS z
        FROM events e JOIN med m ON m.event_type = e.event_type),
    grp AS (
        SELECT event_type, COUNT(*) AS n_g,
               CAST(SUM(CAST(z AS DECIMAL(38,12))) AS DOUBLE) AS sz,
               CAST(SUM(CAST(z * z AS DECIMAL(38,12))) AS DOUBLE) AS szz
        FROM z GROUP BY event_type),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k,
               SUM(sz) AS sz_all,
               SUM(szz - sz * sz / n_g) AS within,
               SUM(n_g * (sz / n_g) * (sz / n_g)) AS nzb2
        FROM grp)
    SELECT n AS n_total, CAST(k AS BIGINT) AS k_groups,
           ROUND(((n - k) * (nzb2 - sz_all * sz_all / n))
                 / ((k - 1) * within), 6) AS w_stat
    FROM tot
    """,
)
def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types
    (Levene's W on deviations from the GROUP MEDIAN, the
    robust-to-skew variant): W = ((N-k)/(k-1)) * between / within on
    z = |x - median_g|.

    Two passes, both group-keyed aggregates: exact interpolated group
    medians (percentile/quantile_cont agree engine-to-engine on
    doubles), then decimal-accumulated sum(z), sum(z^2) per group so
    the moments are summation-order-independent; the between term
    collapses via sum n_g*zbar_g^2 - (sum z)^2/N, so no second join
    against group means is needed. Nothing here is wider than k rows
    after the scan — the 100 TB cost is one shuffle on event_type."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        dsum("z", 12).alias("sz"),
        dsum(F.col("z") * F.col("z"), 12).alias("szz"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sz").alias("sz_all"),
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_g")).alias("within"),
        F.sum(F.col("n_g") * (F.col("sz") / F.col("n_g")) * (F.col("sz") / F.col("n_g"))).alias(
            "nzb2"
        ),
    )
    n, k = F.col("n"), F.col("k")
    return tot.select(
        n.alias("n_total"),
        k.alias("k_groups"),
        F.round(
            ((n - k) * (F.col("nzb2") - F.col("sz_all") * F.col("sz_all") / n))
            / ((k - 1) * F.col("within")),
            6,
        ).alias("w_stat"),
    )


@query(
    "friedman_rank_test",
    oracle="""
    WITH x AS (
        SELECT user_id, event_type, COUNT(*) AS x
        FROM events GROUP BY user_id, event_type),
    kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
    full_u AS (
        SELECT user_id FROM x GROUP BY user_id
        HAVING COUNT(*) = (SELECT k FROM kk)),
    r AS (
        SELECT x.event_type,
               2 * RANK() OVER (PARTITION BY x.user_id ORDER BY x.x)
                 + COUNT(*) OVER (PARTITION BY x.user_id, x.x) - 1 AS t
        FROM x JOIN full_u USING (user_id)),
    s1 AS (SELECT event_type, SUM(t) AS r2, SUM(t * t) AS a4j,
                  COUNT(*) AS nb
           FROM r GROUP BY event_type),
    nn AS (SELECT MIN(nb) AS n, COUNT(*) AS k, SUM(a4j) AS a4 FROM s1),
    s AS (SELECT SUM((s1.r2 - nn.n * (nn.k + 1))
                     * (s1.r2 - nn.n * (nn.k + 1))) AS sq
          FROM s1, nn)
    SELECT CAST(nn.n AS BIGINT) AS n_blocks,
           CAST(nn.k AS BIGINT) AS k_treatments,
           ROUND((nn.k - 1) * CAST(s.sq AS DOUBLE)
                 / (CAST(nn.a4 AS DOUBLE)
                    - CAST(nn.n * nn.k * (nn.k + 1) * (nn.k + 1) AS DOUBLE)),
                 6) AS q_stat
    FROM nn, s
    """,
)
def friedman_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for k related samples: blocks = users,
    treatments = event types, response = per-(user,type) event count;
    only complete blocks (users seen under every treatment) enter,
    ranks are averaged over ties via the doubled-rank identity
    2r = 2*RANK + |ties| - 1 so every intermediate is an INTEGER, and
    the tie-corrected statistic Q = (k-1)*S / (A - nk(k+1)^2) divides
    exactly once at the end — both engines agree bit-for-bit.

    Scale shape: the rank window is PARTITIONED BY user (frame size =
    k rows, never global); everything after is a k-row aggregate. One
    shuffle on user_id, one on event_type."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type")
    x = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("x"))
    kk = e.agg(F.countDistinct("event_type").alias("k"))
    full_u = (
        x.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .join(F.broadcast(kk), F.col("nt") == F.col("k"))
        .select("user_id")
    )
    wr = Window.partitionBy("user_id").orderBy("x")
    wt = Window.partitionBy("user_id", "x")
    r = (
        x.join(full_u, "user_id")
        .withColumn("t", 2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .select("event_type", "t")
    )
    s1 = r.groupBy("event_type").agg(
        F.sum("t").alias("r2"),
        F.sum(F.col("t") * F.col("t")).alias("a4j"),
        F.count(F.lit(1)).alias("nb"),
    )
    nn = s1.agg(
        F.min("nb").alias("n"), F.count(F.lit(1)).alias("k"), F.sum("a4j").alias("a4")
    )
    s = (
        s1.crossJoin(F.broadcast(nn))
        .select(
            ((F.col("r2") - F.col("n") * (F.col("k") + 1))
             * (F.col("r2") - F.col("n") * (F.col("k") + 1))).alias("sq1")
        )
        .agg(F.sum("sq1").alias("sq"))
    )
    out = nn.crossJoin(F.broadcast(s))
    n, k = F.col("n"), F.col("k")
    return out.select(
        n.cast("bigint").alias("n_blocks"),
        k.cast("bigint").alias("k_treatments"),
        F.round(
            (k - 1) * F.col("sq").cast("double")
            / (F.col("a4").cast("double") - (n * k * (k + 1) * (k + 1)).cast("double")),
            6,
        ).alias("q_stat"),
    )


@query(
    "cronbach_alpha_reliability",
    oracle="""
    WITH x AS (
        SELECT user_id, event_type, COUNT(*) AS x
        FROM events GROUP BY user_id, event_type),
    nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
    items AS (
        SELECT event_type, SUM(x) AS sx, SUM(x * x) AS sxx
        FROM x GROUP BY event_type),
    inum AS (SELECT COUNT(*) AS k,
                    SUM(nu.n * sxx - sx * sx) AS num
             FROM items, nu GROUP BY ALL),
    tot AS (SELECT user_id, SUM(x) AS tu FROM x GROUP BY user_id),
    den AS (SELECT nu.n AS n, nu.n * SUM(tu * tu) - SUM(tu) * SUM(tu) AS den
            FROM tot, nu GROUP BY nu.n)
    SELECT CAST(den.n AS BIGINT) AS n_users,
           CAST(inum.k AS BIGINT) AS k_items,
           ROUND(inum.k * 1.0 / (inum.k - 1)
                 * (1 - CAST(inum.num AS DOUBLE) / CAST(den.den AS DOUBLE)),
                 6) AS alpha
    FROM inum, den
    """,
)
def cronbach_alpha_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the user x event-type engagement matrix
    (items = event types, score = per-user event count, absent
    combinations implicitly zero): alpha = k/(k-1) * (1 - sum(var_i)/
    var(total)). Both variance sums are expanded to the integer
    identity n*sum(x^2) - (sum x)^2 — zero-filled cells contribute
    nothing to either moment, so no dense matrix is ever built, and
    the single final division is the only float op.

    One shuffle on (user,type), then k-row and user-count aggregates;
    driver state is two scalar rows."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type")
    x = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("x"))
    nu = e.agg(F.countDistinct("user_id").alias("n"))
    items = x.groupBy("event_type").agg(
        F.sum("x").alias("sx"), F.sum(F.col("x") * F.col("x")).alias("sxx")
    )
    inum = (
        items.crossJoin(F.broadcast(nu))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("num"),
        )
    )
    tot = x.groupBy("user_id").agg(F.sum("x").alias("tu"))
    den = (
        tot.crossJoin(F.broadcast(nu))
        .groupBy("n")
        .agg(
            (F.col("n") * F.sum(F.col("tu") * F.col("tu")) - F.sum("tu") * F.sum("tu")).alias(
                "den"
            )
        )
    )
    out = inum.crossJoin(F.broadcast(den))
    return out.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("k").cast("bigint").alias("k_items"),
        F.round(
            F.col("k") * F.lit(1.0) / (F.col("k") - 1)
            * (1 - F.col("num").cast("double") / F.col("den").cast("double")),
            6,
        ).alias("alpha"),
    )


# --- McNemar paired-binary test ----------------------------------------------


@query(
    "stats_mcnemar_paired",
    oracle="""
    WITH days AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1, 2),
    span AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        FROM days GROUP BY user_id),
    paired AS (
        SELECT s.user_id, a.conv AS b1, b.conv AS b2
        FROM span s
        JOIN days a ON a.user_id = s.user_id AND a.day = s.d0
        JOIN days b ON b.user_id = s.user_id AND b.day = s.d1
        WHERE s.d0 < s.d1),
    cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN b1 = 1 AND b2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN b1 = 0 AND b2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM paired)
    SELECT n_users, b AS n_first_only, c AS n_last_only,
           CASE WHEN b + c = 0 THEN 0.0
                ELSE ROUND((ABS(b - c) - 1.0) * (ABS(b - c) - 1.0) / (b + c), 6)
           END AS mcnemar_chi2
    FROM cnt
    """,
)
def stats_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test (continuity-corrected) on PAIRED binary outcomes:
    did each user purchase on their FIRST active calendar day vs their
    LAST? The within-subject before/after test — only the DISCORDANT
    users (purchased first-day only / last-day only) carry signal, the
    concordant mass cancels. chi2 = (|b-c|-1)^2/(b+c), defined as 0
    when there is no discordance at all.

    Plan: one (user, day) aggregate, one per-user min/max reduce, two
    user-keyed joins back to the day frame, one global reduce. All
    counts integers; one final division. Shuffle key is user_id
    throughout — the same single-partitioning story as the funnel ops."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    days = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    )
    span = days.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).filter(F.col("d0") < F.col("d1"))
    a = days.select("user_id", F.col("day").alias("d0"), F.col("conv").alias("b1"))
    b = days.select("user_id", F.col("day").alias("d1"), F.col("conv").alias("b2"))
    paired = span.join(a, ["user_id", "d0"]).join(b, ["user_id", "d1"])
    cnt = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when((F.col("b1") == 1) & (F.col("b2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("b1") == 0) & (F.col("b2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    diff = F.abs(F.col("b") - F.col("c"))
    return cnt.select(
        "n_users",
        F.col("b").alias("n_first_only"),
        F.col("c").alias("n_last_only"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(0.0))
        .otherwise(
            F.round((diff - 1.0) * (diff - 1.0) / (F.col("b") + F.col("c")), 6)
        )
        .alias("mcnemar_chi2"),
    )


# --- Mantel-Haenszel pooled odds ratio ----------------------------------------


@query(
    "stats_mantel_haenszel_or",
    oracle="""
    WITH u AS (
        SELECT c.c_mktsegment AS stratum,
               (o.o_orderkey * 2654435761) % 4294967296 >= 2147483648 AS treated,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    tab AS (
        SELECT stratum,
               SUM(CASE WHEN treated AND y = 1 THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN treated AND y = 0 THEN 1 ELSE 0 END) AS b,
               SUM(CASE WHEN NOT treated AND y = 1 THEN 1 ELSE 0 END) AS c,
               SUM(CASE WHEN NOT treated AND y = 0 THEN 1 ELSE 0 END) AS d,
               COUNT(*) AS n
        FROM u GROUP BY stratum)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           ROUND(CAST(SUM(CAST(a * d * 1.0 / n AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS sum_ad_over_n,
           ROUND(CAST(SUM(CAST(b * c * 1.0 / n AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS sum_bc_over_n,
           ROUND(CAST(SUM(CAST(a * d * 1.0 / n AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(SUM(CAST(b * c * 1.0 / n AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS or_mh
    FROM tab
    """,
)
def stats_mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across market-segment strata:
    treatment is the deterministic order-key hash split (same Fibonacci
    mix as the uplift/CUPED family), outcome is "order was URGENT
    priority", stratum is the customer's c_mktsegment. OR_MH =
    sum(a*d/n) / sum(b*c/n) — the confounder-adjusted effect estimate
    a segmented experiment reports when per-stratum tables are too
    thin for separate ORs.

    Plan: one broadcast-joined orders scan, one 5-group aggregate, one
    reduce. The per-stratum ratio terms are summed in DECIMAL(38,12)
    so partition order can't move the pooled estimate."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    u = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("stratum"),
        # High bit of the 32-bit product, not parity (round-6 advice:
        # odd-multiplier parity is just key parity).
        (
            F.pmod(
                F.col("o_orderkey").cast("bigint") * F.lit(2654435761).cast("bigint"),
                F.lit(4294967296).cast("bigint"),
            )
            >= 2147483648
        ).alias("treated"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    tab = u.groupBy("stratum").agg(
        F.sum(F.when(F.col("treated") & (F.col("y") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("treated") & (F.col("y") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when(~F.col("treated") & (F.col("y") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when(~F.col("treated") & (F.col("y") == 0), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    dec = lambda col: F.sum(col.cast("decimal(38,12)")).cast("double")  # noqa: E731
    ad = dec(F.col("a") * F.col("d") * 1.0 / F.col("n"))
    bc = dec(F.col("b") * F.col("c") * 1.0 / F.col("n"))
    return tab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.round(ad, 6).alias("sum_ad_over_n"),
        F.round(bc, 6).alias("sum_bc_over_n"),
        F.round(ad / bc, 6).alias("or_mh"),
    )


# --- Wald-Wolfowitz runs test --------------------------------------------------


@query(
    "stats_runs_test_daily",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS x
        FROM events GROUP BY day),
    med AS (
        SELECT x AS m FROM (
            SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
                   COUNT(*) OVER () AS n
            FROM daily)
        WHERE rn * 2 = n + (n % 2) * 1 OR (n % 2 = 0 AND rn * 2 = n)),
    signs AS (
        SELECT day, CASE WHEN x > m THEN 1 ELSE -1 END AS s
        FROM daily, med WHERE x <> m),
    runs AS (
        SELECT s,
               CASE WHEN LAG(s) OVER (ORDER BY day) IS DISTINCT FROM s
                    THEN 1 ELSE 0 END AS brk
        FROM signs),
    agg AS (
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(brk) AS BIGINT) AS r
        FROM runs)
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) AS z_stat
    FROM agg
    """,
)
def stats_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily event-volume
    series: days above/below the series LOWER MEDIAN (ties to the
    median dropped, the textbook convention), number of sign runs R,
    and the normal-approximation z against E[R] = 2*n1*n2/(n1+n2)+1.
    The sanity check a monitoring pipeline runs before trusting any
    trend test — too few runs means autocorrelation, too many means
    oscillation.

    Exactness: the median is picked by EXACT rank (lower median at rank
    ceil(n/2), tie-broken by day), never an interpolating percentile,
    so both engines select the identical integer; n1/n2/R are integers
    and the z-stat is one closed-form division. Plan: the corpus
    collapses to one row per day in one aggregate; everything after is
    day-count-bounded (the tiny ordered window is over ~30 rows)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wr = Window.orderBy(F.col("x").asc(), F.col("day").asc())
    ranked = daily.select(
        "day", "x", F.row_number().over(wr).alias("rn"), F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n")
    )
    med = ranked.filter(
        (F.col("rn") * 2 == F.col("n") + (F.col("n") % 2))
        | ((F.col("n") % 2 == 0) & (F.col("rn") * 2 == F.col("n")))
    ).select(F.col("x").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("m"))
        .select("day", F.when(F.col("x") > F.col("m"), 1).otherwise(-1).alias("s"))
    )
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(Window.orderBy("day")).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("brk"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum("brk").cast("bigint").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        F.round((r - mu) / F.sqrt(var), 6).alias("z_stat"),
    )


# --- linear-time MMD drift test ------------------------------------------------

_MMD_BW2 = 2.0 * 100.0 * 100.0  # RBF kernel 2*sigma^2, sigma = 100 value units


@query(
    "drift_mmd_linear_paired",
    oracle=f"""
    WITH a AS (
        SELECT value AS v,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
        FROM events WHERE (user_id * 2654435761) % 4294967296 >= 2147483648),
    b AS (
        SELECT value AS v,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
        FROM events WHERE (user_id * 2654435761) % 4294967296 < 2147483648),
    m AS (SELECT LEAST((SELECT MAX(rn) FROM a), (SELECT MAX(rn) FROM b)) AS mn),
    q AS (
        SELECT (a1.rn + 1) / 2 AS blk,
               EXP(-(a1.v - a2.v) * (a1.v - a2.v) / {_MMD_BW2})
             + EXP(-(b1.v - b2.v) * (b1.v - b2.v) / {_MMD_BW2})
             - EXP(-(a1.v - b2.v) * (a1.v - b2.v) / {_MMD_BW2})
             - EXP(-(a2.v - b1.v) * (a2.v - b1.v) / {_MMD_BW2}) AS h
        FROM a a1
        JOIN a a2 ON a2.rn = a1.rn + 1
        JOIN b b1 ON b1.rn = a1.rn
        JOIN b b2 ON b2.rn = a2.rn
        CROSS JOIN m
        WHERE a1.rn % 2 = 1 AND a2.rn <= mn)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 8)
               AS mmd2_linear
    FROM q
    """,
)
def drift_mmd_linear_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-time MMD^2 drift statistic (Gretton et al. 2012, the
    streaming-friendly estimator) between the two deterministic
    user-hash halves of the event value distribution: rank-align the
    samples, walk them in consecutive blocks of two, and average
    h = k(a1,a2) + k(b1,b2) - k(a1,b2) - k(a2,b1) with an RBF kernel.
    O(n) kernel evaluations instead of the O(n^2) full MMD — the only
    MMD variant that survives 100 TB, and the null-hypothesis value is
    ~0 here because both halves draw from the same distribution.

    Plan: per-sample global ranks ride the two-pass range-partitioned
    helper (functions/ranks.py, no single-partition window); the block
    pairing is three rank-keyed equi-joins; h terms are summed in
    DECIMAL(38,12) so partition order can't move the statistic."""
    from ..functions.ranks import global_row_number

    e = table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    # Split on the high bit of the 32-bit Fibonacci product — parity of
    # an odd-constant multiple is just key parity (round-6 advice).
    mix = F.pmod(
        F.col("user_id").cast("bigint") * F.lit(2654435761).cast("bigint"),
        F.lit(4294967296).cast("bigint"),
    )
    half_a = e.filter(mix >= 2147483648)
    half_b = e.filter(mix < 2147483648)
    ra, na = global_row_number(
        half_a.select(F.col("value").alias("v"), "event_id"),
        [F.col("v").asc(), F.col("event_id").asc()],
        rn_name="rn",
    )
    rb, nb = global_row_number(
        half_b.select(F.col("value").alias("v"), "event_id"),
        [F.col("v").asc(), F.col("event_id").asc()],
        rn_name="rn",
    )
    mn = min(na, nb)
    a1 = ra.filter((F.col("rn") % 2 == 1) & (F.col("rn") + 1 <= mn)).select(
        F.col("rn").alias("rn1"), F.col("v").alias("va1")
    )
    a2 = ra.select(F.col("rn").alias("rn2"), F.col("v").alias("va2"))
    b1 = rb.select(F.col("rn").alias("rn1"), F.col("v").alias("vb1"))
    b2 = rb.select(F.col("rn").alias("rn2"), F.col("v").alias("vb2"))
    k = lambda x, y: F.exp(-(x - y) * (x - y) / F.lit(_MMD_BW2))  # noqa: E731
    q = (
        a1.withColumn("rn2", F.col("rn1") + 1)
        .join(a2, "rn2")
        .join(b1, "rn1")
        .join(b2, "rn2")
        .select(
            (
                k(F.col("va1"), F.col("va2"))
                + k(F.col("vb1"), F.col("vb2"))
                - k(F.col("va1"), F.col("vb2"))
                - k(F.col("va2"), F.col("vb1"))
            ).alias("h")
        )
    )
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.round(
            F.sum(F.col("h").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1)),
            8,
        ).alias("mmd2_linear"),
    )


# --- Bartlett variance-homogeneity test ----------------------------------------


@query(
    "stats_bartlett_variances",
    oracle="""
    WITH grp AS (
        SELECT event_type, COUNT(*) AS n_g,
               CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s,
               CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS ss
        FROM events GROUP BY event_type),
    v AS (
        SELECT event_type, n_g,
               (ss - s * s / n_g) / (n_g - 1) AS var_g
        FROM grp),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               SUM((n_g - 1) * var_g) AS pooled_num,
               CAST(SUM(CAST((n_g - 1) * LN(var_g) AS DECIMAL(38,12)))
                    AS DOUBLE) AS sum_ln,
               CAST(SUM(CAST(1.0 / (n_g - 1) AS DECIMAL(38,12))) AS DOUBLE)
                   AS sum_inv
        FROM v)
    SELECT k AS k_groups, n AS n_total,
           ROUND(((n - k) * LN(pooled_num / (n - k)) - sum_ln)
                 / (1.0 + (sum_inv - 1.0 / (n - k)) / (3.0 * (k - 1))), 6)
               AS bartlett_chi2
    FROM agg
    """,
)
def stats_bartlett_variances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for variance homogeneity across event types —
    the parametric counterpart to levene_brown_forsythe (Bartlett is
    more powerful under normality, Levene robust to skew; a stats
    pipeline reports both): chi2 = [(N-k) ln(S_p^2) - sum (n_i-1)
    ln(S_i^2)] / C with the standard correction term C.

    Plan: ONE grouped aggregate computes every group's count/sum/
    sum-of-squares (DECIMAL-accumulated), one reduce assembles the
    statistic — two shuffles total, nothing row-scale past the first.
    Sample variances divide exact sums, so both engines take logs of
    identical doubles."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    grp = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        dec(F.col("value")).alias("s"),
        dec(F.col("value") * F.col("value")).alias("ss"),
    )
    v = grp.select(
        "n_g",
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n_g")) / (F.col("n_g") - 1)).alias("var_g"),
    )
    agg = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum((F.col("n_g") - 1) * F.col("var_g")).alias("pooled_num"),
        dec((F.col("n_g") - 1) * F.log("var_g")).alias("sum_ln"),
        dec(F.lit(1.0) / (F.col("n_g") - 1)).alias("sum_inv"),
    )
    k, n = F.col("k"), F.col("n")
    chi2 = (
        (n - k) * F.log(F.col("pooled_num") / (n - k)) - F.col("sum_ln")
    ) / (1.0 + (F.col("sum_inv") - 1.0 / (n - k)) / (3.0 * (k - 1)))
    return agg.select(
        k.alias("k_groups"), n.alias("n_total"), F.round(chi2, 6).alias("bartlett_chi2")
    )


# --- Cochran's Q --------------------------------------------------------------


_COCHRAN_TASKS = ("view", "click", "purchase")


@query(
    "stats_cochran_q",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {", ".join(f"MAX(CASE WHEN event_type = '{t}' AND value > 100 THEN 1 ELSE 0 END) AS x{i}" for i, t in enumerate(_COCHRAN_TASKS))}
        FROM events GROUP BY user_id),
    rowagg AS (
        SELECT user_id, {" + ".join(f"x{i}" for i in range(len(_COCHRAN_TASKS)))} AS l FROM u),
    cols AS (
        SELECT {", ".join(f"CAST(SUM(x{i}) AS BIGINT) AS g{i}" for i in range(len(_COCHRAN_TASKS)))}
        FROM u),
    rows_ AS (
        SELECT CAST(SUM(l) AS BIGINT) AS sl, CAST(SUM(l * l) AS BIGINT) AS sll,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM rowagg)
    SELECT n_users,
           ROUND({float(len(_COCHRAN_TASKS))} * {float(len(_COCHRAN_TASKS) - 1)}
                 * ({" + ".join(f"(g{i} - sl / {float(len(_COCHRAN_TASKS))}) * (g{i} - sl / {float(len(_COCHRAN_TASKS))})" for i in range(len(_COCHRAN_TASKS)))})
                 / ({float(len(_COCHRAN_TASKS))} * sl - sll), 6) AS cochran_q
    FROM cols, rows_
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for k=3 MATCHED binary treatments per user — did the
    user have a high-value (>100) view / click / purchase? — the
    within-subject extension of McNemar to k conditions: Q = k(k-1)
    sum_j (G_j - mean)^2 / (k*sum L_u - sum L_u^2), asymptotically
    chi2(k-1) under "all treatments equally likely".

    Plan: ONE user-keyed pivot aggregate produces the k binary columns,
    one reduce computes the column totals and the row-sum moments — the
    entire test is two shuffles, all counts integers, one final
    division."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    u = e.groupBy("user_id").agg(
        *[
            F.max(
                F.when((F.col("event_type") == t) & (F.col("value") > 100), 1).otherwise(0)
            ).alias(f"x{i}")
            for i, t in enumerate(_COCHRAN_TASKS)
        ]
    )
    l = sum(F.col(f"x{i}") for i in range(len(_COCHRAN_TASKS)))
    agg = u.select("*", l.alias("l")).agg(
        *[F.sum(f"x{i}").cast("bigint").alias(f"g{i}") for i in range(len(_COCHRAN_TASKS))],
        F.sum("l").cast("bigint").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("bigint").alias("sll"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    k = float(len(_COCHRAN_TASKS))
    mean = F.col("sl") / F.lit(k)
    num = sum(
        (F.col(f"g{i}") - mean) * (F.col(f"g{i}") - mean)
        for i in range(len(_COCHRAN_TASKS))
    )
    q = F.lit(k) * F.lit(k - 1.0) * num / (F.lit(k) * F.col("sl") - F.col("sll"))
    return agg.select("n_users", F.round(q, 6).alias("cochran_q"))


# --- Jonckheere-Terpstra ordered trend -------------------------------------------

_JT_GROUPS = 5  # o_orderpriority '1-URGENT' .. '5-LOW' sorts in test order


@query(
    "stats_jonckheere_terpstra",
    oracle=f"""
    WITH g AS (
        SELECT o_totalprice AS v,
               CAST(substr(o_orderpriority, 1, 1) AS INT) - 1 AS gi
        FROM orders),
    pv AS (
        SELECT v,
               {", ".join(f"CAST(SUM(CASE WHEN gi = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}" for i in range(_JT_GROUPS))}
        FROM g GROUP BY v),
    cum AS (
        SELECT v,
               {", ".join(f"c{i}" for i in range(_JT_GROUPS))},
               {", ".join(f"SUM(c{i}) OVER (ORDER BY v) - c{i} AS l{i}" for i in range(_JT_GROUPS))}
        FROM pv),
    jt AS (
        SELECT CAST(SUM({" + ".join(f"2 * c{j} * l{i} + c{i} * c{j}" for i in range(_JT_GROUPS) for j in range(_JT_GROUPS) if i < j)}) AS BIGINT) AS jt2
        FROM cum),
    sizes AS (
        SELECT CAST(SUM({" + ".join(f"c{i}" for i in range(_JT_GROUPS))}) AS BIGINT) AS n,
               CAST(SUM({" + ".join(f"c{i}" for i in range(_JT_GROUPS))}) AS DOUBLE) AS nd,
               {", ".join(f"CAST(SUM(c{i}) AS DOUBLE) AS n{i}" for i in range(_JT_GROUPS))}
        FROM pv)
    SELECT s.n AS n_total, j.jt2 / 2.0 AS jt_stat,
           ROUND((j.jt2 / 2.0
                  - (s.nd * s.nd - ({" + ".join(f"n{i} * n{i}" for i in range(_JT_GROUPS))})) / 4.0)
                 / SQRT((s.nd * s.nd * (2 * s.nd + 3)
                         - ({" + ".join(f"n{i} * n{i} * (2 * n{i} + 3)" for i in range(_JT_GROUPS))})) / 72.0),
                 6) AS z_stat
    FROM jt j, sizes s
    """,
)
def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend in order value
    across the five priority classes ('1-URGENT' < ... < '5-LOW'):
    JT = sum over group pairs i<j of the Mann-Whitney count
    #{x in G_i, y in G_j : x < y} (+ half-ties), z against the
    no-trend mean (N^2 - sum n_i^2)/4 and the standard null variance.
    The test to run when the alternative is MONOTONE in a known group
    ordering — strictly more powerful there than Kruskal-Wallis, which
    this complements.

    The rank machinery never materializes pairs OR per-row ranks (same
    discipline as wilcoxon_signed_rank): grouping by the distinct value
    pivots per-group counts c_i(v); a prefix sum ordered by value gives
    L_i(v) = #{group-i values strictly below v}; then 2*JT =
    sum_v sum_{i<j} [2 c_j(v) L_i(v) + c_i(v) c_j(v)] — an integer, so
    both engines agree bit-for-bit before the one final division.
    Shuffle keys: the distinct value (pivot + prefix sum); driver state
    is P partial sums from the range-partitioned cumulative pass."""
    from ..functions.ranks import global_cumulative_sums

    k = _JT_GROUPS
    g = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        (F.substring("o_orderpriority", 1, 1).cast("int") - 1).alias("gi"),
    )
    pv = g.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("gi") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(k)
        ]
    )
    cum = global_cumulative_sums(pv, [F.col("v").asc()], [f"c{i}" for i in range(k)])
    jt2_term = sum(
        2 * F.col(f"c{j}") * (F.col(f"cum_c{i}") - F.col(f"c{i}"))
        + F.col(f"c{i}") * F.col(f"c{j}")
        for i in range(k)
        for j in range(k)
        if i < j
    )
    agg = cum.agg(
        F.sum(jt2_term).cast("bigint").alias("jt2"),
        F.sum(sum(F.col(f"c{i}") for i in range(k))).cast("bigint").alias("n"),
        *[F.sum(f"c{i}").cast("double").alias(f"n{i}") for i in range(k)],
    )
    nd = F.col("n").cast("double")
    sum_ni2 = sum(F.col(f"n{i}") * F.col(f"n{i}") for i in range(k))
    sum_var = sum(
        F.col(f"n{i}") * F.col(f"n{i}") * (2 * F.col(f"n{i}") + 3) for i in range(k)
    )
    jt = F.col("jt2") / 2.0
    z = (jt - (nd * nd - sum_ni2) / 4.0) / F.sqrt(
        (nd * nd * (2 * nd + 3) - sum_var) / 72.0
    )
    return agg.select(
        F.col("n").alias("n_total"),
        jt.alias("jt_stat"),
        F.round(z, 6).alias("z_stat"),
    )



# --- Theil inequality index ----------------------------------------------------------


@query(
    "revenue_theil_index",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, {dsum_sql('o_totalprice')} AS x
        FROM orders GROUP BY o_custkey),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx
        FROM spend),
    t AS (
        SELECT CAST(m.n AS BIGINT) AS n_customers,
               CAST(SUM(CAST((s.x / (m.sx / m.n))
                             * LN(s.x / (m.sx / m.n))
                             AS DECIMAL(38,12))) AS DOUBLE) / m.n AS theil_t,
               CAST(SUM(CAST(-LN(s.x / (m.sx / m.n))
                             AS DECIMAL(38,12))) AS DOUBLE) / m.n AS theil_l
        FROM spend s, m
        GROUP BY m.n)
    SELECT n_customers, ROUND(theil_t, 6) AS theil_t, ROUND(theil_l, 6) AS theil_l
    FROM t
    """,
)
def revenue_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality indices of per-customer spend: T = mean of
    (x/mu) ln(x/mu) (top-sensitive) and L = mean of -ln(x/mu) (the
    mean log deviation, bottom-sensitive). The entropy-based
    complement to revenue_gini_lorenz — unlike Gini, Theil decomposes
    EXACTLY into between-group + within-group terms, which is why
    revenue-concentration monitoring at scale prefers it (per-segment
    Theil terms roll up additively; Gini's don't).

    Exactness: mu divides two exact aggregates; every per-customer
    term is a function of identical doubles and accumulates in
    DECIMAL(38,12). Plan: one customer-keyed aggregate, one 1-row
    moment reduce, one broadcast-joined scoring pass — two shuffles,
    both on o_custkey."""
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("x"))
    )
    m = spend.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("sx"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    ratio = F.col("x") / (F.col("sx") / F.col("n"))
    return (
        spend.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            (dec(ratio * F.log(ratio)) / F.col("n")).alias("theil_t"),
            (dec(-F.log(ratio)) / F.col("n")).alias("theil_l"),
        )
        .select(
            F.col("n").cast("bigint").alias("n_customers"),
            F.round("theil_t", 6).alias("theil_t"),
            F.round("theil_l", 6).alias("theil_l"),
        )
    )
