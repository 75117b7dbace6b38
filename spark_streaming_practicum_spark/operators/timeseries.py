"""Time-series reconstruction + remaining window/join surface.

Gap filling (densify a sparse per-entity time series), cumulative
distribution windows, TF-IDF term weighting, and the salted skew join
registered as an oracled query (salting must be result-identical to the
plain join — the oracle PROVES it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.aggs import dsum, dsum_sql
from ..functions.skew import salted_join
from ..registry import query
from ..functions.ranks import persisted as _persisted


@query(
    "events_gap_fill_hourly",
    oracle="""
    WITH sel AS (SELECT user_id, date_trunc('hour', ts) AS hour
                 FROM events WHERE user_id % 97 = 0),
    hourly AS (SELECT user_id, hour, COUNT(*) AS n_events
               FROM sel GROUP BY user_id, hour),
    span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
             FROM sel GROUP BY user_id),
    grid AS (SELECT user_id,
                    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
             FROM span)
    SELECT g.user_id, g.hour, COALESCE(h.n_events, 0) AS n_events
    FROM grid g LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour = h.hour
    """,
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: every hour between a user's first and
    last event, with 0 for silent hours — the gap-filling step before
    any rolling-window model sees the series. The hour grid is generated
    per user with sequence+explode (no calendar table to join), so the
    work is proportional to the OUTPUT, and the final join is on
    (user, hour) — co-partitioned with the aggregation before it.
    Users are subsampled (user_id % 97 = 0) to keep the oracle compare
    bounded; the plan is identical unsampled."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 97 == 0)
    sel = e.select("user_id", F.date_trunc("hour", "ts").alias("hour"))
    hourly = sel.groupBy("user_id", "hour").agg(F.count(F.lit(1)).alias("n"))
    span = sel.groupBy("user_id").agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    return grid.join(hourly, ["user_id", "hour"], "left").select(
        "user_id", "hour", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@query(
    "window_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice), 6) AS cd
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-06-01'
    """,
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distribution per priority class (ties share a value,
    so the result is deterministic without a full tiebreak)."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) DESC,
                                           tf.token ASC) AS rk
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
    SELECT doc_id, token, tfidf FROM scored WHERE rk <= 5
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).

    The df table is vocabulary-sized — data-sized on a real corpus, so
    it joins token-keyed under a SHUFFLE_HASH hint (round-13, guide
    §3.1: build side bounded by |vocab|/P per partition at any scale,
    no data-sized broadcast, and no sort-merge sorts of the token
    stream). The only wide shuffles are the two word-count aggregates.
    Deterministic tie-break (score DESC, token ASC)."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.count()  # scalar: one tiny job, folded into the idf literal
    score = F.col("tf") * F.log((F.lit(n) + 1.0) / (F.col("df") + 1.0))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("token").asc())
    return (
        tf.join(df.hint("shuffle_hash"), "token")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "token", F.round(score, 4).alias("tfidf"))
    )


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {dsum_sql("e.value")} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join registered as an oracled query: events (probe,
    user_id heavily repeated) join customer (build, replicated 8x over
    salts), then a segment rollup. The oracle is the PLAIN join — the
    salt must be semantically invisible, which the hash-match proves.
    At scale this is the fallback when one key floods even AQE's skew
    splitting; the deterministic hash salt keeps retries stable."""
    e = table(spark, sf_dir, "events").select("user_id", "value")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(e, c, F.col("user_id") == F.col("c_custkey"), n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


@query(
    "join_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name ASC LIMIT 3) c
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-3 customers per nation) through
    the SQL surface — Catalyst decorrelates it into the same
    window/top-k plan a hand-written DataFrame version produces, so the
    lateral syntax costs nothing at scale. Oracle uses DuckDB's LATERAL
    verbatim."""
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM {nation} n, LATERAL (
            SELECT c_name, c_acctbal FROM {customer}
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name ASC LIMIT 3) c
        """,
        nation=table(spark, sf_dir, "nation"),
        customer=table(spark, sf_dir, "customer"),
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH sel AS (SELECT user_id, date_trunc('hour', ts) AS hour, value
                 FROM events WHERE user_id % 97 = 0),
    hourly AS (SELECT user_id, hour,
                      CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                          / COUNT(*) AS v
               FROM sel GROUP BY user_id, hour),
    span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
             FROM sel GROUP BY user_id),
    grid AS (SELECT user_id,
                    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
             FROM span),
    g AS (SELECT gr.user_id, gr.hour, h.v
          FROM grid gr LEFT JOIN hourly h
            ON gr.user_id = h.user_id AND gr.hour = h.hour),
    ctx AS (SELECT user_id, hour, v,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY hour
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
                   first_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY hour
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY hour
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
            FROM g)
    SELECT user_id, hour,
           (v IS NOT NULL) AS observed,
           ROUND(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv) * (epoch(hour) - epoch(ph))
                                   / (epoch(nh) - epoch(ph))
           END * 1000000.0, 0) / 1000000.0 AS value_interp
    FROM ctx
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of a sparse per-entity series: densify to an
    hourly grid (as in events_gap_fill_hourly), then fill silent hours
    by interpolating between the nearest observed values on either side
    — the standard sensor/feature-store reconstruction step before a
    model consumes the series.

    The previous/next observation is found with last/first over
    unbounded frames with ignoreNulls — one window pass each direction,
    no self-join, no per-gap loop. Both frames sort within the same
    (user_id) partitioning, so at scale the whole reconstruction after
    the grid join is a single shuffle on user_id followed by two sorted
    passes. Users subsampled (user_id % 97 = 0) to bound the oracle."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 97 == 0)
    sel = e.select("user_id", F.date_trunc("hour", "ts").alias("hour"), "value")
    # Exact-decimal sum / count, not AVG(double): double AVG is
    # summation-order dependent, and a last-ulp difference in v flips
    # the final ROUND(...,6) at an x.xxxxxx5 boundary (first seen at
    # sf0.1 — one row in 1358). The sum/count form is deterministic and
    # engine-identical.
    hourly = sel.groupBy("user_id", "hour").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    span = sel.groupBy("user_id").agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    g = grid.join(hourly, ["user_id", "hour"], "left")

    back = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour"))
    ctx = g.select(
        "user_id",
        "hour",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(back).alias("ph"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(fwd).alias("nh"),
    )
    # Two exact-parity rules here, both first bitten at sf0.1:
    # 1. Associativity: the SQL computes (nv - pv) * dt THEN / dspan;
    #    a*(b/c) differs from (a*b)/c in the last ulp. Keep the
    #    multiply-first order on both sides.
    # 2. Rounding idiom: F.round(x, 6) rounds the SHORTEST DECIMAL REPR
    #    of the double (BigDecimal.valueOf), while DuckDB/C round the
    #    exact binary value — they disagree when the shortest repr ends
    #    in ...5 but the binary sits just below it (65.0746875 ->
    #    Spark .688, DuckDB .687). round(x*1e6, 0)/1e6 is engine-safe:
    #    integer-adjacent halves are exactly representable, so shortest
    #    repr == exact value and both engines round half away from
    #    zero identically.
    dt = F.col("hour").cast("long") - F.col("ph").cast("long")
    dspan = F.col("nh").cast("long") - F.col("ph").cast("long")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * dt / dspan)
    )
    return ctx.select(
        "user_id",
        "hour",
        F.col("v").isNotNull().alias("observed"),
        (F.round(interp * F.lit(1e6), 0) / F.lit(1e6)).alias("value_interp"),
    )


_EWMA_R = 0.8  # 1 - alpha


@query(
    "ts_ewma_daily",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               AVG(value) AS v
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT event_type, day, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
        FROM daily),
    cum AS (
        SELECT event_type, day,
               SUM(v * POWER({_EWMA_R}, -i)) OVER w AS num,
               SUM(POWER({_EWMA_R}, -i)) OVER w AS den
        FROM idx
        WINDOW w AS (PARTITION BY event_type ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, day, ROUND(num / den, 6) AS ewma
    FROM cum
    ORDER BY event_type, day
    """,
)
def ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily event value.

    EWMA looks inherently sequential (y_i = a*x_i + (1-a)*y_{i-1}), but
    the weight-normalized ("adjust=True") form is a RATIO OF TWO
    CUMULATIVE SUMS: ewma_i = sum_j x_j r^(i-j) / sum_j r^(i-j)
    = (sum_j x_j r^(-j)) / (sum_j r^(-j)) — the r^i scale factor
    cancels, so two running-sum window frames compute the whole series
    with ONE shuffle on the entity key and no recursion, UDF, or
    iteration. The r^(-j) terms grow with series length; per-entity
    day indices keep the exponent bounded (30 here; re-base the index
    per year-partition if a series spans decades). The same plan runs
    unchanged as a streaming window over a watermark."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(F.avg("value").alias("v"))
    )
    idx = daily.withColumn(
        "i",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")) - 1,
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = F.lit(float(_EWMA_R))
    cum = idx.select(
        "event_type",
        "day",
        F.sum(F.col("v") * F.pow(r, -F.col("i"))).over(w).alias("num"),
        F.sum(F.pow(r, -F.col("i"))).over(w).alias("den"),
    )
    return cum.select(
        "event_type", "day", F.round(F.col("num") / F.col("den"), 6).alias("ewma")
    ).orderBy("event_type", "day")


# --- autocorrelation of the daily volume series ------------------------------

_ACF_MAX_LAG = 7


@query(
    "ts_acf_daily_volume",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM events GROUP BY day),
    lagged AS (
        SELECT d.day, d.cnt, g.lag AS lag_k, p.cnt AS prev
        FROM daily d, unnest(generate_series(1, {_ACF_MAX_LAG})) AS g(lag)
        JOIN daily p ON p.day + to_days(CAST(g.lag AS INT)) = d.day)
    SELECT lag_k, COUNT(prev) AS n_pairs,
           ROUND(CORR(cnt, prev), 6) AS acf
    FROM lagged
    GROUP BY lag_k
    ORDER BY lag_k
    """,
)
def ts_acf_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily event volume at lags 1..7 — the
    seasonality probe behind anomaly detectors and forecast features.

    The corpus reduces to one row per day in a single aggregate; the
    series is then replicated across the 7 lags (a constant-factor
    explode of an already-tiny frame) and CALENDAR-shifted against
    itself via a self-join on day + lag — positional LAG would silently
    misalign across gaps in the series. Each lag's Pearson correlation
    is one more hash aggregate over day-count rows; nothing
    corpus-sized is joined or windowed."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    lags = daily.select(
        "day", "cnt", F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))).alias("lag_k")
    )
    # a variable lag count isn't expressible as a window (the shift is
    # per-row), so the shift is a calendar self-join on the tiny daily frame
    shifted = daily.select(
        F.col("day").alias("prev_day"), F.col("cnt").alias("prev")
    )
    lagged = lags.join(
        shifted,
        F.date_add(F.col("prev_day"), F.col("lag_k")) == F.col("day"),
        "inner",
    )
    return (
        lagged.groupBy("lag_k")
        .agg(
            F.count("prev").alias("n_pairs"),
            F.round(F.corr("cnt", "prev"), 6).alias("acf"),
        )
        .orderBy("lag_k")
    )


@query(
    "ts_seasonal_decompose_dow",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY CAST(ts AS DATE)),
    trended AS (
        SELECT day, n,
               CASE WHEN COUNT(*) OVER w = 7
                    THEN AVG(CAST(n AS DOUBLE)) OVER w END AS trend
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    seasonal AS (
        SELECT EXTRACT(dow FROM day) AS dow,
               AVG(n - trend) AS s
        FROM trended WHERE trend IS NOT NULL
        GROUP BY EXTRACT(dow FROM day))
    SELECT t.day, t.n,
           ROUND(t.trend, 6) AS trend,
           ROUND(s.s, 6) AS seasonal,
           ROUND(t.n - t.trend - s.s, 6) AS residual
    FROM trended t
    JOIN seasonal s ON s.dow = EXTRACT(dow FROM t.day)
    WHERE t.trend IS NOT NULL
    ORDER BY t.day
    """,
)
def ts_seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    volume: trend = centered 7-day moving average (only where the full
    7-day window exists), weekly seasonal = mean detrended value per
    day-of-week, residual = the rest. The residual is what an anomaly
    detector should alarm on — `ts_anomaly_zscore` without this step
    pages you every Saturday.

    Plan: the raw table collapses to one row per day in a single
    two-phase aggregate; every window and the 7-row seasonal join
    operate on that ~366-row frame, so the decomposition costs one
    scan regardless of scale. Day-of-week is normalized to DuckDB's
    Sunday=0 convention (Spark's dayofweek is Sunday=1)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy().orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "n",
        F.when(
            F.count("*").over(w) == 7, F.avg(F.col("n").cast("double")).over(w)
        ).alias("trend"),
    )
    dow = (F.dayofweek("day") - 1).alias("dow")
    seasonal = (
        trended.filter(F.col("trend").isNotNull())
        .groupBy(dow)
        .agg(F.avg(F.col("n") - F.col("trend")).alias("s"))
    )
    return (
        trended.filter(F.col("trend").isNotNull())
        .join(F.broadcast(seasonal), (F.dayofweek("day") - 1) == seasonal.dow)
        .select(
            "day",
            "n",
            F.round("trend", 6).alias("trend"),
            F.round("s", 6).alias("seasonal"),
            F.round(F.col("n") - F.col("trend") - F.col("s"), 6).alias("residual"),
        )
        .orderBy("day")
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY CAST(ts AS DATE)),
    stats AS (SELECT AVG(n) AS mu, COUNT(*) AS n_days FROM daily),
    cusum AS (
        SELECT d.day,
               SUM(d.n - s.mu) OVER (ORDER BY d.day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS s_i
        FROM daily d, stats s)
    SELECT c.day AS changepoint_day,
           ROUND(c.s_i, 6) AS cusum_value,
           CAST(s.n_days AS BIGINT) AS n_days,
           ROUND(s.mu, 6) AS mean_daily
    FROM cusum c, stats s
    ORDER BY ABS(ROUND(c.s_i, 6)) DESC, c.day
    LIMIT 1
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event volume: the day
    where the cumulative sum of deviations from the global mean peaks
    in magnitude is the single most likely level-shift point (the CUSUM
    statistic behind Page's test / binary-segmentation changepoint
    pipelines).

    The raw table reduces to one row per day in a single aggregate;
    the cumulative deviation walk, the global mean, and the argmax all
    operate on that ~366-row frame. The running sum accumulates in
    strict day order in both engines, so the walk is bit-identical
    (daily counts are integers; the mean is one exact division)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("double").alias("n"))
    )
    stats = daily.agg(
        F.avg("n").alias("mu"), F.count("*").cast("bigint").alias("n_days")
    )
    wcum = Window.partitionBy().orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "mu",
        "n_days",
        F.sum(F.col("n") - F.col("mu")).over(wcum).alias("s_i"),
    )
    return (
        cusum.select(
            F.col("day").alias("changepoint_day"),
            F.round("s_i", 6).alias("cusum_value"),
            "n_days",
            F.round("mu", 6).alias("mean_daily"),
        )
        .orderBy(F.abs(F.col("cusum_value")).desc(), "changepoint_day")
        .limit(1)
    )


@query(
    "ts_theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY CAST(ts AS DATE)),
    idx AS (
        SELECT day, n,
               CAST(datediff('day', MIN(day) OVER (), day) AS DOUBLE) AS x
        FROM daily),
    slopes AS (
        SELECT (b.n - a.n) / (b.x - a.x) AS s
        FROM idx a JOIN idx b ON b.x > a.x),
    est AS (
        SELECT median(s) AS slope,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs
        FROM slopes),
    icept AS (
        SELECT median(i.n - e.slope * i.x) AS intercept
        FROM idx i, est e)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_days,
           e.n_pairs,
           ROUND(e.slope, 6) AS slope_per_day,
           ROUND(c.intercept, 6) AS intercept
    FROM est e, icept c
    """,
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event volume: the median of
    all pairwise slopes (29.3% breakdown point — a month of outage days
    cannot bend the estimate, unlike the OLS `scalar_regr_aggregates`),
    with the standard median-residual intercept.

    The raw table reduces to the per-day frame first, so the O(d²)
    pairwise stage runs on at most 366 rows — constant work regardless
    of corpus size, which is why Theil–Sen is tractable here at all.
    Slopes are ratios of integer-valued doubles (bit-deterministic);
    both engines interpolate the same median."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("double").alias("n"))
    )
    idx = daily.select(
        "n",
        F.datediff(
            "day", F.min("day").over(Window.partitionBy())
        ).cast("double").alias("x"),
    ).transform(_persisted)
    a = idx.select(F.col("n").alias("an"), F.col("x").alias("ax"))
    b = idx.select(F.col("n").alias("bn"), F.col("x").alias("bx"))
    slopes = a.join(b, F.col("bx") > F.col("ax")).select(
        ((F.col("bn") - F.col("an")) / (F.col("bx") - F.col("ax"))).alias("s")
    )
    est = slopes.agg(
        F.median("s").alias("slope"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    icept = (
        idx.crossJoin(F.broadcast(est))
        .agg(F.median(F.col("n") - F.col("slope") * F.col("x")).alias("intercept"))
    )
    n_days = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("slope_per_day"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


_BT_EVAL_DAYS = 10


@query(
    "ts_forecast_backtest_naive",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY CAST(ts AS DATE)),
    feat AS (
        SELECT day, n,
               LAG(n, 1) OVER (ORDER BY day) AS naive1,
               LAG(n, 7) OVER (ORDER BY day) AS snaive7,
               AVG(n) OVER (ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS ma7,
               ROW_NUMBER() OVER (ORDER BY day DESC) AS rfe
        FROM daily),
    ev AS (SELECT * FROM feat
           WHERE rfe <= {_BT_EVAL_DAYS} AND snaive7 IS NOT NULL),
    metrics AS (
        SELECT 'naive_lag1' AS method,
               CAST(SUM(CAST(ABS(n - naive1) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS mae,
               CAST(SUM(CAST(ABS(n - naive1) / n AS DECIMAL(38,12)))
                    AS DOUBLE) / COUNT(*) AS mape
        FROM ev
        UNION ALL
        SELECT 'seasonal_lag7',
               CAST(SUM(CAST(ABS(n - snaive7) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*),
               CAST(SUM(CAST(ABS(n - snaive7) / n AS DECIMAL(38,12)))
                    AS DOUBLE) / COUNT(*)
        FROM ev
        UNION ALL
        SELECT 'trailing_mean7',
               CAST(SUM(CAST(ABS(n - ma7) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*),
               CAST(SUM(CAST(ABS(n - ma7) / n AS DECIMAL(38,12)))
                    AS DOUBLE) / COUNT(*)
        FROM ev)
    SELECT method, ROUND(mae, 6) AS mae, ROUND(mape, 6) AS mape
    FROM metrics ORDER BY method
    """,
)
def ts_forecast_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast baseline backtest on the daily volume: last-value
    (naive), same-weekday-last-week (seasonal naive), and trailing
    7-day mean, each scored by MAE and MAPE over the final
    {_BT_EVAL_DAYS} days — the baselines any real forecasting model
    must beat before it ships, straight from the M-competition
    methodology.

    The raw table reduces to the per-day frame; every forecast is a
    LAG/rolling window on that frame and all three methods read the
    SAME windowed pass (one scan, one tiny sort). Error sums accumulate
    in DECIMAL."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("double").alias("n"))
    )
    wday = Window.partitionBy().orderBy("day")
    wma = wday.rowsBetween(-7, -1)
    wrev = Window.partitionBy().orderBy(F.col("day").desc())
    feat = daily.select(
        "n",
        F.lag("n", 1).over(wday).alias("naive1"),
        F.lag("n", 7).over(wday).alias("snaive7"),
        F.avg("n").over(wma).alias("ma7"),
        F.row_number().over(wrev).alias("rfe"),
    )
    ev = feat.filter(
        (F.col("rfe") <= _BT_EVAL_DAYS) & F.col("snaive7").isNotNull()
    )

    def metrics(name: str, pred) -> DataFrame:
        err = F.abs(F.col("n") - pred)
        return ev.agg(
            F.lit(name).alias("method"),
            F.round(
                F.sum(err.cast("decimal(38,12)")).cast("double") / F.count("*"),
                6,
            ).alias("mae"),
            F.round(
                F.sum((err / F.col("n")).cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mape"),
        )

    return (
        metrics("naive_lag1", F.col("naive1"))
        .unionByName(metrics("seasonal_lag7", F.col("snaive7")))
        .unionByName(metrics("trailing_mean7", F.col("ma7")))
        .orderBy("method")
    )


# --- SAX motif discovery -----------------------------------------------------

_SAX_LEN = 32  # subsequence length (first 32 events per user)
_SAX_W = 4  # PAA segments
_SAX_SEG = _SAX_LEN // _SAX_W
# alphabet size 4: breakpoints at the standard-normal quartiles
_SAX_BP = (-0.6745, 0.0, 0.6745)
_SAX_DIST_MAX = 7.5  # z-norm Euclidean verify threshold (E[d] ~ sqrt(2L) ~ 8 for unrelated series)
# Hot-word guard (same role as dedup's MAX_BUCKET): a SAX word shared
# by w users emits w^2 candidate pairs x L distance rows; words hotter
# than this are giant commonplace-shape buckets, not motifs — they are
# excluded from candidate generation, deterministically in both
# engines. Caught by the round-5 20x probe: 116x at 20x without the
# cap (the central words absorb most of a gaussian-ish corpus), 
# linear with it.
_SAX_MAX_BUCKET = 64


@query(
    "ts_sax_motif_pairs",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    win AS (SELECT user_id, value, rn FROM seq WHERE rn <= {_SAX_LEN}),
    full_u AS (SELECT user_id FROM win GROUP BY user_id
               HAVING COUNT(*) = {_SAX_LEN}),
    stats AS (
        SELECT w.user_id,
               AVG(value) AS mu,
               SQRT(AVG(value * value) - AVG(value) * AVG(value)) AS sd
        FROM win w JOIN full_u f ON w.user_id = f.user_id
        GROUP BY w.user_id),
    z AS (SELECT w.user_id, w.rn, (w.value - s.mu) / s.sd AS zv
          FROM win w JOIN stats s ON w.user_id = s.user_id
          WHERE s.sd > 0),
    paa AS (
        SELECT user_id, CAST(FLOOR((rn - 1) / {_SAX_SEG}) AS BIGINT) AS seg,
               AVG(zv) AS m
        FROM z GROUP BY 1, 2),
    sym AS (
        SELECT user_id, seg,
               CASE WHEN m < {_SAX_BP[0]} THEN 'a'
                    WHEN m < {_SAX_BP[1]} THEN 'b'
                    WHEN m < {_SAX_BP[2]} THEN 'c'
                    ELSE 'd' END AS s
        FROM paa),
    words AS (
        SELECT user_id, STRING_AGG(s, '' ORDER BY seg) AS word
        FROM sym GROUP BY user_id),
    cold AS (
        SELECT w.user_id, w.word
        FROM words w JOIN (SELECT word FROM words GROUP BY word
                           HAVING COUNT(*) <= {_SAX_MAX_BUCKET}) g
          ON w.word = g.word),
    cand AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b, a.word
        FROM cold a JOIN cold b
          ON a.word = b.word AND a.user_id < b.user_id),
    dist AS (
        SELECT c.user_a, c.user_b, c.word,
               SQRT(SUM((za.zv - zb.zv) * (za.zv - zb.zv))) AS d
        FROM cand c
        JOIN z za ON za.user_id = c.user_a
        JOIN z zb ON zb.user_id = c.user_b AND za.rn = zb.rn
        GROUP BY 1, 2, 3)
    SELECT user_a, user_b, word, ROUND(d, 4) AS znorm_dist
    FROM dist WHERE d <= {_SAX_DIST_MAX}
    ORDER BY user_a, user_b
    """,
)
def ts_sax_motif_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed time-series MOTIF discovery via SAX (Lin et al.
    2003): each user's first {_SAX_LEN} event values are z-normalized,
    compressed by piecewise aggregate approximation into {_SAX_W}
    segment means, and discretized against the standard-normal
    quartile breakpoints into a {_SAX_W}-letter SAX word. Users sharing a
    word are motif CANDIDATES; candidates are verified with the exact
    z-normalized Euclidean distance.

    This is the time-series instance of the engine's house
    bucket-then-verify pattern (MinHash/LSH for text, band-blocked
    simhash, phash bands for images): the SAX word is the bucket key,
    the candidate join is an equi-join on it (never all-pairs over
    users), and the exact distance runs only inside buckets — SAX's
    lower-bounding guarantee means equal words capture the close
    pairs. At 100 TB the word-join is the only shuffle that matters
    and its buckets are bounded by motif multiplicity, the same
    bound MAX_BUCKET enforces for LSH. The z-stats use the population
    variance in SINGLE-PASS form E[x^2]-E[x]^2 on both engines
    (identical float algebra, so parity holds bit-for-bit after
    rounding)."""
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        table(spark, sf_dir, "events")
        .select("user_id", "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") <= _SAX_LEN)
        .select("user_id", "value", "rn")
    )
    full_u = (
        seq.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == _SAX_LEN)
        .select("user_id")
    )
    win = seq.join(full_u.hint("shuffle_hash"), "user_id")
    stats = win.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.sqrt(
            F.avg(F.col("value") * F.col("value"))
            - F.avg("value") * F.avg("value")
        ).alias("sd"),
    )
    z = (
        win.join(stats, "user_id")
        .filter(F.col("sd") > 0)
        .select(
            "user_id",
            "rn",
            ((F.col("value") - F.col("mu")) / F.col("sd")).alias("zv"),
        )
        .transform(_persisted)
    )
    paa = z.groupBy(
        "user_id",
        F.floor((F.col("rn") - 1) / _SAX_SEG).cast("bigint").alias("seg"),
    ).agg(F.avg("zv").alias("m"))
    sym = paa.select(
        "user_id",
        "seg",
        F.when(F.col("m") < _SAX_BP[0], "a")
        .when(F.col("m") < _SAX_BP[1], "b")
        .when(F.col("m") < _SAX_BP[2], "c")
        .otherwise("d")
        .alias("s"),
    )
    words = sym.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "s"))),
                lambda r: r["s"],
            ),
            "",
        ).alias("word")
    )
    # hot-word cap: the count rides the join's own word partitioning
    wcount = words.withColumn(
        "wc", F.count(F.lit(1)).over(Window.partitionBy("word"))
    )
    cold = wcount.filter(F.col("wc") <= _SAX_MAX_BUCKET).drop("wc")
    cand = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.word").alias("word"),
        )
    )
    za = z.select(F.col("user_id").alias("user_a"), "rn", F.col("zv").alias("za"))
    zb = z.select(F.col("user_id").alias("user_b"), "rn", F.col("zv").alias("zb"))
    return (
        cand.join(za, "user_a")
        .join(zb, ["user_b", "rn"])
        .groupBy("user_a", "user_b", "word")
        .agg(
            F.sqrt(F.sum((F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb")))).alias("d")
        )
        .filter(F.col("d") <= _SAX_DIST_MAX)
        .select("user_a", "user_b", "word", F.round("d", 4).alias("znorm_dist"))
        .orderBy("user_a", "user_b")
    )


_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.25  # dyadic: exactly representable doubles


@query(
    "ts_holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               AVG(value) AS v
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT event_type, day, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        FROM daily),
    rec AS (
        SELECT event_type, i, v, l AS l, b AS b, CAST(NULL AS DOUBLE) AS fc
        FROM (SELECT event_type, i, v, v AS l, CAST(0.0 AS DOUBLE) AS b FROM idx WHERE i = 1)
        UNION ALL
        SELECT event_type, i, v,
               l_new AS l,
               {_HOLT_BETA} * (l_new - l_prev) + (1 - {_HOLT_BETA}) * b_prev AS b,
               fc
        FROM (SELECT x.event_type, x.i, x.v,
                     {_HOLT_ALPHA} * x.v
                         + (1 - {_HOLT_ALPHA}) * (r.l + r.b) AS l_new,
                     r.l AS l_prev, r.b AS b_prev,
                     r.l + r.b AS fc
              FROM rec r JOIN idx x
                ON x.event_type = r.event_type AND x.i = r.i + 1))
    SELECT r.event_type, x.day,
           ROUND(r.l, 6) AS level, ROUND(r.b, 6) AS trend,
           ROUND(r.fc, 6) AS forecast,
           ROUND(r.v - r.fc, 6) AS forecast_error
    FROM rec r JOIN idx x ON x.event_type = r.event_type AND x.i = r.i
    """,
)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing with one-step-ahead
    forecasts per daily event-type series (level + trend recurrence;
    init l_1 = y_1, b_1 = 0; alpha/beta dyadic so both engines compute
    bit-identical doubles).

    Unlike EWMA (`ts_ewma_daily`), Holt's COUPLED recurrence has no
    cumulative-sum closed form, so this is the canonical
    `applyInPandas` shape: the keyed daily pre-aggregate shrinks the
    fact stream first (map-side combine), then each series smooths
    sequentially inside one Arrow batch — series are the parallel unit,
    time is the sequential unit, which is exactly how a 1000-executor
    cluster should split this work. The oracle runs the same recurrence
    as a DuckDB recursive CTE — same float ops in the same order."""
    import pandas as pd

    a, bcoef = _HOLT_ALPHA, _HOLT_BETA
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.avg("value").alias("v"))

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvl, tr, fc, err = [], [], [], []
        l = b = None
        for _, row in pdf.iterrows():
            v = row["v"]
            if l is None:
                l, b = v, 0.0
                fc.append(None)
                err.append(None)
            else:
                f = l + b
                l_new = a * v + (1 - a) * (l + b)
                b = bcoef * (l_new - l) + (1 - bcoef) * b
                l = l_new
                fc.append(f)
                err.append(v - f)
            lvl.append(l)
            tr.append(b)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "day": pdf["day"],
                "level": lvl,
                "trend": tr,
                "forecast": fc,
                "forecast_error": err,
            }
        )

    raw = daily.groupBy("event_type").applyInPandas(
        smooth,
        schema="event_type string, day date, level double, trend double, "
        "forecast double, forecast_error double",
    )
    # rounding JVM-side so Spark and DuckDB share tie-break semantics
    return raw.select(
        "event_type",
        "day",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
        F.round("forecast_error", 6).alias("forecast_error"),
    )


_ISL_SPAN_DAYS = 7  # each shipment keeps its supplier busy for a week


@query(
    "ts_interval_islands_merge",
    oracle=f"""
    WITH iv AS MATERIALIZED (
        SELECT l_suppkey AS k, l_shipdate AS s, COUNT(*) AS c,
               l_shipdate + INTERVAL {_ISL_SPAN_DAYS} DAY AS e
        FROM lineitem GROUP BY 1, 2),
    flagged AS MATERIALIZED (
        SELECT k, s, e, c,
               CASE WHEN s > MAX(e) OVER (PARTITION BY k ORDER BY s
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv),
    grp AS MATERIALIZED (
        SELECT k, s, e, c,
               SUM(new_island) OVER (PARTITION BY k ORDER BY s
                                     ROWS UNBOUNDED PRECEDING) AS island_id
        FROM flagged),
    islands AS MATERIALIZED (
        SELECT k, island_id, MIN(s) AS island_start, MAX(e) AS island_end,
               SUM(c) AS n_intervals
        FROM grp GROUP BY k, island_id)
    SELECT k AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(n_intervals) AS BIGINT) AS max_intervals_in_island,
           CAST(SUM(datediff('day', island_start, island_end)) AS BIGINT)
               AS busy_days
    FROM islands GROUP BY k
    """,
)
def ts_interval_islands_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: each shipment occupies its
    supplier for 7 days; overlapping/adjacent busy windows merge into
    islands via the running-max-end trick (an interval starts a new
    island iff its start exceeds the max end of everything before it),
    then one cumulative flag-sum labels islands with NO self-join.

    This is the scalable form of interval merging: the naive
    overlap-pair self-join is O(n^2) per key, while this plan is a
    single shuffle on the (high-cardinality) supplier key plus two
    window passes — the same shape a calendar/uptime/session-coverage
    rollup takes at 100 TB. First-occurrence NULL handling rides the
    CASE (NULL max -> not > -> 0) identically in both engines.

    Round-8: the windows now run over DISTINCT (k, s) with per-start
    multiplicities pre-aggregated (e is functionally determined by s,
    so duplicate starts are pure window-row inflation — at 100 TB the
    map-side combine shrinks the window input by the duplication
    factor). This also made the window's ORDER BY keys UNIQUE, which
    the round-8 sf0.1 sweep proved matters for verification: DuckDB's
    multi-threaded window execution returned run-to-run DIFFERENT
    busy_days on the old duplicate-key form (tie order is provably
    irrelevant to these frames, so that is engine-side instability;
    single-threaded DuckDB agreed with Spark exactly). Unique keys
    make the oracle deterministic under threads — verified stable
    across repeated threaded runs."""
    li = table(spark, sf_dir, "lineitem")
    iv = (
        li.groupBy(
            F.col("l_suppkey").alias("k"), F.col("l_shipdate").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "e", F.col("s") + F.expr(f"INTERVAL {_ISL_SPAN_DAYS} DAYS")
        )
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("k")
        .orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = flagged.withColumn("island_id", F.sum("new_island").over(w_run))
    islands = grp.groupBy("k", "island_id").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.sum("c").alias("n_intervals"),
    )
    return islands.groupBy(F.col("k").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("n_intervals").cast("bigint").alias("max_intervals_in_island"),
        F.sum(F.datediff("island_end", "island_start")).cast("bigint").alias("busy_days"),
    )


_LB_MAX_LAG = 10


@query(
    "ts_ljung_box_portmanteau",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS x
        FROM events GROUP BY day),
    base AS (
        SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS sxx FROM daily),
    lagged AS (
        SELECT g.lag AS lag_k, d.x AS xt, p.x AS xp
        FROM daily d, unnest(generate_series(1, {_LB_MAX_LAG})) AS g(lag)
        JOIN daily p ON p.day + to_days(CAST(g.lag AS INT)) = d.day),
    cov AS (
        SELECT lag_k, SUM(xt * xp) AS sxy, SUM(xt + xp) AS sboth,
               COUNT(*) AS np
        FROM lagged GROUP BY lag_k),
    rk AS (
        SELECT lag_k,
               CAST(b.n * b.n * c.sxy - b.n * b.s * c.sboth
                    + c.np * b.s * b.s AS DOUBLE)
               / CAST(b.n * b.n * b.sxx - b.n * b.s * b.s AS DOUBLE) AS r,
               b.n AS n
        FROM cov c, base b),
    q AS (
        SELECT lag_k, r, n,
               n * (n + 2.0)
               * SUM(r * r / (n - lag_k)) OVER (ORDER BY lag_k) AS q_stat
        FROM rk)
    SELECT lag_k, ROUND(r, 6) AS acf, ROUND(q_stat, 6) AS q_stat
    FROM q ORDER BY lag_k
    """,
)
def ts_ljung_box_portmanteau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-volume series:
    autocorrelations r_k at lags 1..10 (autocovariance about the FULL-
    series mean over the calendar-aligned pairs, normalized by the
    lag-0 sum of squares — the textbook estimator, not per-lag
    Pearson) and the cumulative Q_m = n(n+2) sum r_k^2/(n-k), the
    white-noise test a forecasting pipeline runs on its residuals.

    Exactness: with mu = S/n rational, every covariance term is scaled
    by n^2 into the integer identity n^2*sum(xt*xp) - n*S*sum(xt+xp) +
    np*S^2 where np is the TRUE calendar-aligned pair count (equals
    n-k only when the daily series is gapless; using np keeps the
    estimator textbook-correct on series with calendar holes), so both
    engines divide identical integers exactly once per lag (sums ride
    BIGINT/DECIMAL(38,0), never floats). Plan: the
    corpus collapses to one row per day in one aggregate; the lag
    explode and calendar self-join touch only that ~day-count frame,
    so cost is one scan + day-sized joins at any corpus scale."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    base = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lags = daily.select(
        "day", F.col("x").alias("xt"),
        F.explode(F.sequence(F.lit(1), F.lit(_LB_MAX_LAG))).alias("lag_k"),
    )
    shifted = daily.select(F.col("day").alias("prev_day"), F.col("x").alias("xp"))
    lagged = lags.join(
        shifted,
        F.date_add(F.col("prev_day"), F.col("lag_k")) == F.col("day"),
        "inner",
    )
    cov = lagged.groupBy("lag_k").agg(
        F.sum(F.col("xt") * F.col("xp")).alias("sxy"),
        F.sum(F.col("xt") + F.col("xp")).alias("sboth"),
        F.count(F.lit(1)).alias("np"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — 20x-proof integer space
    rk = cov.crossJoin(F.broadcast(base)).select(
        "lag_k",
        "n",
        (
            (dec(F.col("n") * F.col("n")) * dec(F.col("sxy"))
             - dec(F.col("n")) * dec(F.col("s")) * dec(F.col("sboth"))
             + dec(F.col("np")) * dec(F.col("s")) * dec(F.col("s"))
             ).cast("double")
            / (dec(F.col("n") * F.col("n")) * dec(F.col("sxx"))
               - dec(F.col("n")) * dec(F.col("s")) * dec(F.col("s"))).cast("double")
        ).alias("r"),
    )
    wq = Window.orderBy("lag_k").rowsBetween(Window.unboundedPreceding, 0)
    q = rk.withColumn(
        "q_stat",
        F.col("n") * (F.col("n") + 2.0)
        * F.sum(F.col("r") * F.col("r") / (F.col("n") - F.col("lag_k"))).over(wq),
    )
    return q.select(
        "lag_k", F.round("r", 6).alias("acf"), F.round("q_stat", 6).alias("q_stat")
    ).orderBy("lag_k")


@query(
    "ts_max_drawdown",
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
               {dsum_sql('o.o_totalprice')} AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    dd AS (
        SELECT segment, day, rev,
               MAX(rev) OVER (PARTITION BY segment ORDER BY day) AS peak
        FROM daily),
    scored AS (
        SELECT segment, day, rev, peak, (peak - rev) / peak AS draw,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY (peak - rev) / peak DESC, day) AS rk
        FROM dd)
    SELECT segment, day AS trough_day,
           ROUND(peak, 2) AS peak_rev, ROUND(rev, 2) AS trough_rev,
           ROUND(draw, 6) AS max_drawdown
    FROM scored WHERE rk = 1 ORDER BY segment
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series per market
    segment: running peak via an unbounded-preceding MAX window,
    drawdown = (peak - rev)/peak, and the per-segment worst day picked
    by a rank-1 filter (ties broken earliest day). The risk metric
    every revenue/price monitor wants, computed with zero self-joins.

    Exactness: daily revenue is a decimal-accumulated sum surfaced as
    double, so the running MAX compares identical doubles in both
    engines and the division is deterministic. Plan: orders collapse
    to (segment, day) rows in one aggregate; the windows partition by
    segment over day-count frames — the shuffle key is segment and
    nothing row-scale flows past the first aggregate."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(dsum("o_totalprice").alias("rev"))
    )
    wpeak = (
        Window.partitionBy("segment").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.withColumn("peak", F.max("rev").over(wpeak)).withColumn(
        "draw", (F.col("peak") - F.col("rev")) / F.col("peak")
    )
    wrk = Window.partitionBy("segment").orderBy(F.col("draw").desc(), F.col("day").asc())
    return (
        dd.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            "segment",
            F.col("day").alias("trough_day"),
            F.round("peak", 2).alias("peak_rev"),
            F.round("rev", 2).alias("trough_rev"),
            F.round("draw", 6).alias("max_drawdown"),
        )
        .orderBy("segment")
    )


# --- Kendall tau-b -------------------------------------------------------------


@query(
    "ts_kendall_tau_daily",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS x,
               {dsum_sql('value')} AS y
        FROM events GROUP BY day),
    pairs AS (
        SELECT CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        FROM daily a JOIN daily b ON a.day < b.day),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(conc) AS BIGINT) AS c,
               CAST(SUM(disc) AS BIGINT) AS d,
               CAST(SUM(tx) AS BIGINT) AS tx,
               CAST(SUM(ty) AS BIGINT) AS ty
        FROM pairs)
    SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
           ROUND((c - d) / SQRT((n0 - tx) * 1.0 * (n0 - ty)), 6) AS tau_b
    FROM agg
    """,
)
def ts_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between the two daily series a
    monitor actually has — event VOLUME (count) and event VALUE (sum)
    — with the tie-corrected denominator. The nonparametric complement
    to spearman_rank_correlation: tau's concordance counting is robust
    to any monotone rescaling and has a direct probabilistic reading
    (P(concordant) - P(discordant)).

    Exactness: x is an integer count, y a DECIMAL-accumulated sum
    surfaced as double, so every pairwise comparison is a comparison
    of identical values in both engines; C/D/tie counts are integers
    and tau is one closed-form expression. Plan: the corpus collapses
    to one row per day in ONE aggregate; the pair join is day-count
    bounded (k days -> k(k-1)/2 pairs, calendar-bounded at any corpus
    scale — 30 days is 435 pairs whether the lake is 1 GB or 100 TB)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"), dsum("value").alias("y"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db"))
    up = (F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb"))
    dn = (F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))
    xu = (F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb"))
    xd = (F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum(F.when(up | dn, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(xu | xd, 1).otherwise(0)).cast("bigint").alias("d"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0)).cast("bigint").alias("tx"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0)).cast("bigint").alias("ty"),
    )
    n0, c, d = F.col("n0"), F.col("c"), F.col("d")
    return agg.select(
        n0.alias("n_pairs"),
        c.alias("concordant"),
        d.alias("discordant"),
        F.round(
            (c - d) / F.sqrt((n0 - F.col("tx")) * 1.0 * (n0 - F.col("ty"))), 6
        ).alias("tau_b"),
    )


# --- Page-Hinkley drift statistic ----------------------------------------------


@query(
    "ts_page_hinkley_drift",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               {dsum_sql('value')} / COUNT(*) AS m
        FROM events GROUP BY day),
    mu AS (
        SELECT CAST(SUM(CAST(m AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu
        FROM daily),
    cum AS (
        SELECT day, m,
               SUM(CAST(m - mu AS DECIMAL(38,12))) OVER (ORDER BY day) AS c
        FROM daily, mu),
    ph AS (
        SELECT day, m,
               CAST(c - MIN(c) OVER (ORDER BY day) AS DOUBLE) AS ph
        FROM cum)
    SELECT day, ROUND(m, 6) AS daily_mean, ROUND(ph, 6) AS ph_stat
    FROM ph ORDER BY day
    """,
)
def ts_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley change-detection statistic over the daily mean
    event value (offline form, deviations about the full-series mean):
    PH_t = cum_t - min_{i<=t} cum_i where cum_t is the running sum of
    (m_i - mu). The classic CUSUM-family alarm for upward mean shifts
    — a sustained rise makes cum climb away from its historical
    minimum and PH grows; white noise keeps PH near zero. Complements
    ts_changepoint_cusum (which locates the split) with the
    sequential-alarm form.

    Exactness: daily means divide a DECIMAL-accumulated sum by a
    count; the running sum accumulates (m - mu) in DECIMAL(38,12), so
    the prefix arithmetic is exact and identical in both engines —
    the only doubles compared are bit-identical. Plan: one corpus
    aggregate to day rows; both windows are ordered prefix scans over
    the day-count-bounded frame (calendar-bounded at any scale)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg((dsum("value") / F.count(F.lit(1))).alias("m"))
    )
    mu = daily.agg(
        (F.sum(F.col("m").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1))).alias("mu")
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.crossJoin(F.broadcast(mu)).withColumn(
        "c", F.sum((F.col("m") - F.col("mu")).cast("decimal(38,12)")).over(wc)
    )
    ph = cum.withColumn("ph", (F.col("c") - F.min("c").over(wc)).cast("double"))
    return ph.select(
        # DuckDB's date_trunc('day') yields DATE; pin the Spark side too
        F.col("day").cast("date").alias("day"),
        F.round("m", 6).alias("daily_mean"),
        F.round("ph", 6).alias("ph_stat"),
    ).orderBy("day")


# --- Hurst exponent (rescaled range) ---------------------------------------------

_HURST_WINDOWS = (5, 10, 15)


@query(
    "ts_hurst_rescaled_range",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS x
        FROM events GROUP BY day),
    seq AS (
        SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
    e AS (
        SELECT s.day, s.x, s.rn, w.nw,
               CAST(FLOOR((s.rn - 1) / w.nw) AS INT) AS blk
        FROM seq s, (VALUES {", ".join(f"({w})" for w in _HURST_WINDOWS)}) AS w(nw)),
    full_blocks AS (
        SELECT nw, blk FROM e GROUP BY nw, blk HAVING COUNT(*) = nw),
    m AS (
        SELECT e.nw, e.blk, e.day, e.x,
               CAST(SUM(e.x) OVER (PARTITION BY e.nw, e.blk) AS DOUBLE)
                   / e.nw AS mean_x
        FROM e JOIN full_blocks f ON f.nw = e.nw AND f.blk = e.blk),
    z AS (
        SELECT nw, blk, day, x, mean_x,
               SUM(CAST(x - mean_x AS DECIMAL(38,12)))
                   OVER (PARTITION BY nw, blk ORDER BY day) AS zc
        FROM m),
    per_block AS (
        SELECT nw, blk,
               CAST(MAX(zc) - MIN(zc) AS DOUBLE) AS r,
               SQRT(CAST(SUM(CAST((x - mean_x) * (x - mean_x)
                                  AS DECIMAL(38,12))) AS DOUBLE)
                    / nw) AS s
        FROM z GROUP BY nw, blk),
    rs AS (
        SELECT nw,
               CAST(SUM(CAST(r / s AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS rs_avg,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM per_block WHERE s > 0 GROUP BY nw),
    fit AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(CAST(LN(nw) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(LN(rs_avg) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(LN(nw) * LN(nw) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(LN(nw) * LN(rs_avg) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM rs)
    SELECT {", ".join(f"(SELECT ROUND(rs_avg, 6) FROM rs WHERE nw = {w}) AS rs_w{w}" for w in _HURST_WINDOWS)},
           (SELECT ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) FROM fit)
               AS hurst
    """,
)
def ts_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-volume series by classic
    rescaled-range (R/S) analysis: for window sizes {5, 10, 15} days,
    split the series into full blocks, compute each block's range of
    cumulative mean-deviations over its (population) std, average per
    window size, and fit ln(R/S) ~ H * ln(n). H > 0.5 means persistent
    (trending) volume, < 0.5 mean-reverting — the long-memory
    diagnostic a capacity planner wants before extrapolating load.

    Exactness: per-block means divide an integer sum by the window
    constant; cumulative deviations and all averaging sums ride
    DECIMAL(38,12); the 3-point regression is one closed form. Plan:
    the corpus collapses to day rows in one aggregate; every window
    after is partitioned by (window, block) over a calendar-bounded
    frame — nothing row-scale survives the first reduce."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    seq = daily.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    e = seq.select(
        "day", "x", "rn",
        F.explode(F.array(*[F.lit(w) for w in _HURST_WINDOWS])).alias("nw"),
    ).withColumn("blk", F.floor((F.col("rn") - 1) / F.col("nw")).cast("int"))
    full_blocks = (
        e.groupBy("nw", "blk").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == F.col("nw"))
        .select("nw", "blk")
    )
    m = e.join(full_blocks, ["nw", "blk"]).withColumn(
        "mean_x",
        F.sum("x").over(Window.partitionBy("nw", "blk")).cast("double") / F.col("nw"),
    )
    z = m.withColumn(
        "zc",
        F.sum((F.col("x") - F.col("mean_x")).cast("decimal(38,12)")).over(
            Window.partitionBy("nw", "blk").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    dev2 = (F.col("x") - F.col("mean_x")) * (F.col("x") - F.col("mean_x"))
    per_block = z.groupBy("nw", "blk").agg(
        (F.max("zc") - F.min("zc")).cast("double").alias("r"),
        F.sqrt(
            F.sum(dev2.cast("decimal(38,12)")).cast("double") / F.col("nw").cast("double")
        ).alias("s"),
    )
    rs = (
        per_block.filter(F.col("s") > 0)
        .groupBy("nw")
        .agg(
            (
                F.sum((F.col("r") / F.col("s")).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("rs_avg")
        )
    )
    d12 = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    lx, ly = F.log(F.col("nw").cast("double")), F.log("rs_avg")
    fit = rs.agg(
        F.count(F.lit(1)).alias("k"),
        d12(lx).alias("sx"),
        d12(ly).alias("sy"),
        d12(lx * lx).alias("sxx"),
        d12(lx * ly).alias("sxy"),
        *[
            F.round(F.max(F.when(F.col("nw") == w, F.col("rs_avg"))), 6).alias(f"rs_w{w}")
            for w in _HURST_WINDOWS
        ],
    )
    return fit.select(
        *[f"rs_w{w}" for w in _HURST_WINDOWS],
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("hurst"),
    )


# --- DFT dominant periods --------------------------------------------------------

_DFT_PI = 3.141592653589793
_DFT_MAX_PERIOD = 14


@query(
    "ts_dft_top_periods",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS x
        FROM events GROUP BY day),
    seq AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS d,
               CAST(AVG(x) OVER () AS DOUBLE) AS mu
        FROM daily),
    proj AS (
        SELECT p.p,
               CAST(SUM(CAST((s.x - s.mu) * COS(2 * {_DFT_PI} * s.d / p.p)
                             AS DECIMAL(38,12))) AS DOUBLE) AS c,
               CAST(SUM(CAST((s.x - s.mu) * SIN(2 * {_DFT_PI} * s.d / p.p)
                             AS DECIMAL(38,12))) AS DOUBLE) AS s
        FROM seq s, unnest(generate_series(2, {_DFT_MAX_PERIOD})) AS p(p)
        GROUP BY p.p),
    scored AS (
        SELECT CAST(p AS INT) AS period_days,
               ROUND(c * c + s * s, 4) AS power,
               ROW_NUMBER() OVER (ORDER BY ROUND(c * c + s * s, 4) DESC, p ASC)
                   AS rk
        FROM proj)
    SELECT CAST(rk AS INT) AS rk, period_days, power
    FROM scored WHERE rk <= 3 ORDER BY rk
    """,
)
def ts_dft_top_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant periodicities of the daily event-volume series by
    direct DFT projection: for each candidate period p in [2, 14]
    days, power(p) = (sum x~ cos(2 pi d/p))^2 + (sum x~ sin(2 pi d/p))^2
    over the mean-removed series — the spectral complement to the
    autocorrelation family (ACF finds lags, this ranks PERIODS; a
    weekly cycle shows up at p=7). Top-3 periods reported.

    Exactness: the angle is integer-day arithmetic against an explicit
    pi literal; cos/sin are 1-ulp libm calls in both engines whose
    difference vanishes under DECIMAL-summed projections and the
    4-decimal round (the same tolerance class as the exp/ln ops).
    Plan: one corpus aggregate to day rows; the projection is a
    (day x 13 periods) explode over a calendar-bounded frame — one
    small groupBy, one top-3."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("day")
    seq = daily.select(
        "x",
        (F.row_number().over(w) - 1).alias("d"),
        F.avg("x").over(Window.partitionBy()).cast("double").alias("mu"),
    )
    e = seq.select(
        "x", "d", "mu",
        F.explode(F.sequence(F.lit(2), F.lit(_DFT_MAX_PERIOD))).alias("p"),
    )
    ang = 2 * F.lit(_DFT_PI) * F.col("d") / F.col("p")
    xm = F.col("x") - F.col("mu")
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    proj = e.groupBy("p").agg(
        dec(xm * F.cos(ang)).alias("c"), dec(xm * F.sin(ang)).alias("s")
    )
    power = F.round(F.col("c") * F.col("c") + F.col("s") * F.col("s"), 4)
    wrk = Window.orderBy(power.desc(), F.col("p").asc())
    return (
        proj.withColumn("power", power)
        .withColumn("rk", F.row_number().over(wrk).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("rk", F.col("p").cast("int").alias("period_days"), "power")
        .orderBy("rk")
    )


# --- cross-correlation lead/lag ------------------------------------------------------

_CCF_MAX_LAG = 7


@query(
    "ts_cross_correlation_ccf",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS x,
               {dsum_sql('value')} AS y
        FROM events GROUP BY day),
    lags AS (
        SELECT l.lag FROM unnest(generate_series(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG})) AS l(lag)),
    pairs AS (
        SELECT g.lag, a.x AS xv, b.y AS yv
        FROM daily a, lags g
        JOIN daily b ON b.day = a.day + to_days(CAST(g.lag AS INT))),
    m AS (
        SELECT lag, COUNT(*) AS np,
               CAST(SUM(CAST(xv AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(yv AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(xv * yv AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(xv * xv AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(yv * yv AS DECIMAL(38,12))) AS DOUBLE) AS syy
        FROM pairs GROUP BY lag),
    r AS (
        SELECT CAST(lag AS INT) AS lag, np,
               (np * sxy - sx * sy)
               / SQRT((np * sxx - sx * sx) * (np * syy - sy * sy)) AS ccf
        FROM m)
    SELECT lag, CAST(np AS BIGINT) AS n_pairs, ROUND(ccf, 6) AS ccf,
           ABS(ccf) = (SELECT MAX(ABS(ccf)) FROM r) AS is_peak
    FROM r ORDER BY lag
    """,
)
def ts_cross_correlation_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily event VOLUME (count)
    and daily event VALUE (sum) at lags -7..+7 days, peak flagged —
    the lead/lag diagnostic that tells a forecaster WHICH series moves
    first (granger_lag_causality tests predictive significance at one
    lag; the CCF scans the whole lag window and is what you look at
    before choosing that lag). Each lag's correlation is the Pearson r
    over calendar-aligned pairs, so calendar gaps shrink np rather
    than misaligning the series (the ljung-box pair-count lesson).

    Exactness: x integer counts, y DECIMAL-sum doubles; all five
    moments per lag accumulate in DECIMAL(38,12), one closed-form
    division per lag. Plan: the corpus collapses to day rows in one
    aggregate; the 15-lag explode and calendar self-join touch only
    the day-count-bounded frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"), dsum("value").alias("y"))
    )
    a = daily.select("day", F.col("x").alias("xv")).select(
        "day", "xv",
        F.explode(F.sequence(F.lit(-_CCF_MAX_LAG), F.lit(_CCF_MAX_LAG))).alias("lag"),
    )
    b = daily.select(F.col("day").alias("bday"), F.col("y").alias("yv"))
    pairs = a.join(
        F.broadcast(b), F.expr("date_add(day, lag)") == F.col("bday"), "inner"
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("np"),
        dec(F.col("xv")).alias("sx"),
        dec(F.col("yv")).alias("sy"),
        dec(F.col("xv") * F.col("yv")).alias("sxy"),
        dec(F.col("xv") * F.col("xv")).alias("sxx"),
        dec(F.col("yv") * F.col("yv")).alias("syy"),
    )
    np_, sx, sy = F.col("np"), F.col("sx"), F.col("sy")
    ccf = (np_ * F.col("sxy") - sx * sy) / F.sqrt(
        (np_ * F.col("sxx") - sx * sx) * (np_ * F.col("syy") - sy * sy)
    )
    r = m.select(F.col("lag").cast("int").alias("lag"), "np", ccf.alias("ccf"))
    peak = F.broadcast(r.agg(F.max(F.abs("ccf")).alias("mx")))
    return (
        r.crossJoin(peak)
        .select(
            "lag",
            F.col("np").cast("bigint").alias("n_pairs"),
            F.round("ccf", 6).alias("ccf"),
            (F.abs("ccf") == F.col("mx")).alias("is_peak"),
        )
        .orderBy("lag")
    )
