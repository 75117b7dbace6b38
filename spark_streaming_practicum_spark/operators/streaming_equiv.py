"""Streaming operators with batch-equivalent oracles (SURVEY.md §2C
"Streaming" — the window/watermark/dedup surface the reference explicitly
defers, /root/reference/README.md:56-72).

``stream_tumbling_hour`` runs a REAL Structured Streaming query (file
source -> windowed agg -> memory sink, drained synchronously) and still
oracle-checks against SQL — the strongest parity statement available.
The sliding/session variants use the batch API (identical window
semantics per Spark's docs) so the oracle stays exact.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import memory_sink_frame, stream_drain_partitions, stream_table, table
from ..registry import query


def _drain(spark: SparkSession, df: DataFrame, mode: str, prefix: str) -> DataFrame:
    """Start ``df`` on a memory sink, drain it synchronously, return the
    sink table. All TRUE-streaming queries in this module share this
    shape; the drain runs under ``stream_drain_partitions`` so each
    micro-batch commits 8 state-store instances per stateful operator
    instead of 32 — the dominant fixed cost of the sub-10-second
    streaming band at bench scale (round-7 verdict task 4). Purely a
    runtime sizing: output is partitioning-invariant and every query
    here remains oracle-checked."""
    sink_name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with stream_drain_partitions(spark):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(sink_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return memory_sink_frame(spark, sink_name)


@query(
    "stream_tumbling_hour",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*)               AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)   AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming tumbling-window aggregate: readStream over the
    events parquet, 1-hour windows + 1-hour watermark, complete-mode
    memory sink drained with processAllAvailable.

    At scale this is the standing aggregation job; the watermark bounds
    state to (windows in flight) x (group keys)."""
    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"))
    )
    out = _drain(spark, agg, "complete", "tumbling")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS window_start,
               event_type, value
        FROM events, (VALUES (0), (1)) AS offs(k))
    SELECT window_start, event_type,
           COUNT(*)             AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM expanded
    GROUP BY window_start, event_type
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): each event lands in
    exactly two windows. Batch API — window assignment is identical to
    the streaming operator's."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                              + INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM flagged)
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE     AS session_end,
           COUNT(*)                         AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) per user — Spark's native session
    operator; window.end = last event + gap, matching the
    gaps-and-islands oracle."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT user_id, event_type, TRUE AS kept_from_input
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming dropDuplicatesWithinWatermark on (user_id,
    event_type): the reference's deferred dedup design
    (/root/reference/README.md:64-68) implemented with bounded state.

    Certified-invariant oracle (round-8 verdict task 2, in the style of
    the ANN recall certificates): the DETERMINISTIC part of the
    operator's contract is the key set — watermark 40 days > data span,
    so exactly one row is emitted per distinct (user_id, event_type) —
    while WHICH physical row survives is execution-order dependent. The
    query therefore returns the key set plus ``kept_from_input``, a
    per-key boolean certifying the survivor's containment: the kept
    (event_id, ts) pair must be one of that key's actual input rows
    (join-back against the batch table; duplicate-proofed with
    dropDuplicates so a kept row can never fan out). The oracle asserts
    the exact distinct key set with the certificate TRUE on every row.
    The arrival-order property tests in test_streaming_e2e /
    test_northstar_properties remain the state-semantics check."""
    stream = stream_table(spark, sf_dir, "events")
    dedup = stream.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    kept = _drain(spark, dedup, "append", "dedup").select(
        "user_id", "event_type", "event_id", "ts"
    )
    candidates = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    return _containment_certificate(kept, candidates)


_CERT_COLS = ("user_id", "event_type", "event_id", "ts")


def _containment_certificate(kept: DataFrame, candidates: DataFrame) -> DataFrame:
    """The certificate join-back shared by ``stream_dedup_within_watermark``
    and its falsifiability test: each kept row's full 4-tuple must exist
    in the candidate input. Null-SAFE equality on every key (eqNullSafe)
    so a NULL-keyed survivor — both engines treat NULL as one dedup key —
    certifies true instead of falling out of a plain equi-join; the
    candidate side is duplicate-proofed so a kept row can never fan out."""
    cand = candidates.dropDuplicates(list(_CERT_COLS)).withColumn(
        "_in_input", F.lit(True)
    )
    cand = cand.select([F.col(c).alias(f"_c_{c}") for c in _CERT_COLS] + ["_in_input"])
    cond = None
    for c in _CERT_COLS:
        leg = kept[c].eqNullSafe(cand[f"_c_{c}"])
        cond = leg if cond is None else (cond & leg)
    return kept.join(cand, cond, "left").select(
        kept["user_id"],
        kept["event_type"],
        F.coalesce("_in_input", F.lit(False)).alias("kept_from_input"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_type, c.c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type, c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming stream-static join: the events stream enriched
    against the static customer dimension (broadcast per micro-batch —
    the standard streaming enrichment topology), aggregated in complete
    mode. Oracle: the batch join."""
    stream = stream_table(spark, sf_dir, "events")
    dim = F.broadcast(table(spark, sf_dir, "customer"))
    agg = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .groupBy("event_type", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
    )
    return _drain(spark, agg, "complete", "enrich")


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming stream-stream join: clicks x purchases with
    watermarks and a two-minute event-time range condition (state is
    bounded by watermark + range — the scalable shape). Append mode;
    oracle is the equivalent batch range join."""
    clicks = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    return _drain(spark, joined, "append", "ssj")


@query(
    "stream_incremental_dedup",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang,
               list_reduce(
                   list_transform(generate_series(1, LENGTH(text)),
                                  i -> CAST(ascii(text[i:i]) AS BIGINT)),
                   (acc, x) -> (acc * 131 + x) % 1000000007) AS f
        FROM documents),
    seen AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0)
    SELECT lang, COUNT(*) AS n_new
    FROM fp ANTI JOIN seen USING (f)
    GROUP BY lang
    """,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming incremental corpus update: arriving documents are
    fingerprinted and LEFT ANTI joined against the static fingerprint
    store of the already-ingested corpus (every third doc here), so
    only genuinely new content survives — the standing dedup gate in
    front of a training-corpus lake.

    The stream-static anti join is STATELESS per micro-batch (the store
    broadcasts; nothing accumulates in streaming state, unlike
    within-stream dropDuplicates whose key set grows), which is what
    makes the pattern viable forever-running. Survivor counts per lang
    aggregate in complete mode. Oracle: the identical batch anti join,
    with the polynomial fingerprint reproduced in SQL."""
    from ..functions.textfns import poly_hash

    static = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(poly_hash("text").alias("f"))
        .distinct()
    )
    stream = stream_table(spark, sf_dir, "documents").select(
        "lang", poly_hash("text").alias("f")
    )
    fresh = stream.join(static, "f", "left_anti")
    agg = fresh.groupBy("lang").agg(F.count(F.lit(1)).alias("n_new"))
    return _drain(spark, agg, "complete", "incdedup")


@query(
    "stream_update_mode_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode: the sink receives only the keys whose
    aggregate CHANGED in each micro-batch — the incremental-dashboard
    mode between append (no updates allowed) and complete (full resend
    every batch). Drained with a single availableNow batch, the set of
    updated rows equals the complete result, which is what the batch
    oracle certifies; under multi-batch operation the same query emits
    deltas only."""
    stream = stream_table(spark, sf_dir, "events")
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sink_name = f"updmode_{uuid.uuid4().hex[:8]}"
    with stream_drain_partitions(spark):
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(sink_name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            # availableNow terminates on its own once the batch drains; a
            # False return means the 180 s budget elapsed first and the
            # memory sink holds PARTIAL counts — fail loudly rather than
            # return a silently wrong result (round-2 advice).
            if not q.awaitTermination(180):
                raise TimeoutError(
                    "stream_update_mode_counts: availableNow batch did not "
                    "drain within 180s; refusing to return partial counts"
                )
        finally:
            q.stop()
    # last update per key wins (single batch -> one row per key already)
    return (
        memory_sink_frame(spark, sink_name)
        .groupBy("event_type")
        .agg(F.max("n").alias("n"))
    )


@query(
    "stream_join_then_window",
    oracle="""
    WITH conv AS (
        SELECT b.event_id AS purchase_id, b.ts AS p_ts
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE),
    mx AS (SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
           ) AS mt)
    SELECT date_trunc('hour', conv.p_ts) AS window_start,
           COUNT(*) AS n_conversions
    FROM conv, mx
    WHERE date_trunc('hour', conv.p_ts) + INTERVAL 1 HOUR
          <= mx.mt - INTERVAL 1 HOUR
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators (Spark >= 3.4 watermark
    propagation): a watermarked stream-stream join (click -> purchase
    within 2 minutes) feeding a tumbling 1-hour windowed count of
    conversions — the attribution-dashboard topology that previously
    required two jobs with an intermediate sink.

    Both operators keep watermark-bounded state (join: 1 h + 2 min
    range; window: in-flight hours), so state is O(recent data) at any
    scale. A join-fed aggregation must run in APPEND mode, which emits
    only FINALIZED windows — and because the join consumes TWO
    watermarked inputs, the global watermark is the MIN over both
    sides' (max event time - 1 h). On this data clicks stop hours
    before purchases, so the binding side is the CLICK stream: the
    oracle pins exactly the windows whose end
    <= LEAST(max click ts, max purchase ts) - 1 h. The non-emission of
    in-flight tail windows is watermark SEMANTICS, asserted rather
    than worked around (round-3 advice: the earlier MAX(ts)-over-all
    oracle held only by data coincidence)."""
    clicks = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    conv = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 MINUTES")),
        "inner",
    ).select("purchase_id", "p_ts")
    agg = conv.groupBy(F.window("p_ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    return (
        _drain(spark, agg, "append", "jtw")
        .select(F.col("w.start").alias("window_start"), "n_conversions")
        .orderBy("window_start")
    )


@query(
    "stream_outer_join_watermark",
    oracle="""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
        WHERE event_type = 'click'),
    purchases AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase'),
    mx AS (
        SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
        ) AS mt),
    matched AS (
        SELECT c.click_id, c.user_id, p.purchase_id
        FROM clicks c JOIN purchases p
          ON c.user_id = p.user_id
         AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 2 MINUTE),
    expired_unmatched AS (
        SELECT c.click_id, c.user_id, CAST(NULL AS BIGINT) AS purchase_id
        FROM clicks c, mx
        WHERE NOT EXISTS (
            SELECT 1 FROM purchases p
            WHERE p.user_id = c.user_id
              AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 2 MINUTE)
          AND c.c_ts + INTERVAL 2 MINUTE <= mx.mt - INTERVAL 1 HOUR)
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM expired_unmatched
    ORDER BY click_id, purchase_id
    """,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every click emits — immediately
    when a purchase lands in its 2-minute window, or with a NULL
    purchase once the watermark proves no match can arrive. The
    streaming semantics the oracle pins are the subtle part: the
    null-side row for a click materializes only when its join state
    EXPIRES (watermark passes c_ts + 2 min), and the query's GLOBAL
    watermark is the MIN over both inputs' (max event time - delay) —
    a slow side holds back expiry for the whole join, which this
    dataset exhibits (clicks stop 4 h before purchases, so the last
    click never expires). Clicks younger than that watermark stay in
    state and emit NOTHING — at 100 TB exactly the bounded-state
    guarantee: unmatched rows cost memory only until the watermark,
    never forever. Batch outer join + the min-watermark expiry
    predicate reproduces it exactly."""
    clicks = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 MINUTES")),
        "left_outer",
    ).select("click_id", F.col("c_user").alias("user_id"), "purchase_id")
    return _drain(spark, joined, "append", "soj").orderBy("click_id", "purchase_id")


@query(
    "stream_session_window_true",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                              + INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM flagged)
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE     AS session_end,
           COUNT(*)                         AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def stream_session_window_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming session windows: ``session_window(ts, 30 min)``
    running inside a Structured Streaming query with a watermark and a
    complete-mode memory sink — the stateful operator whose state is
    one open session per (user, gap) rather than per event, MERGED as
    late rows extend or bridge sessions. The batch variant
    (stream_session_window) proves window semantics; this one proves
    the STREAMING execution path: dynamic gap state, session merge on
    arrival, and watermark-driven finalization all run for real, and
    the result still matches the gaps-and-islands SQL oracle row for
    row."""
    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
    )
    return _drain(spark, agg, "complete", "sesstrue").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n",
        "sum_value",
    )


# --- watermark lateness planner ----------------------------------------------


@query(
    "stream_watermark_lateness_plan",
    oracle="""
    WITH arr AS (
        SELECT ts,
               MAX(ts) OVER (ORDER BY event_id // 20, event_id % 5, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS high_water
        FROM events),
    lat AS (
        SELECT GREATEST(CAST(FLOOR(date_part('epoch', high_water)) AS BIGINT)
                        - CAST(FLOOR(date_part('epoch', ts)) AS BIGINT), 0) AS late_s
        FROM arr),
    b AS (
        SELECT CASE WHEN late_s = 0 THEN 'on_time'
                    WHEN late_s <= 60 THEN 'le_1m'
                    WHEN late_s <= 300 THEN 'le_5m'
                    WHEN late_s <= 900 THEN 'le_15m'
                    WHEN late_s <= 3600 THEN 'le_1h'
                    ELSE 'gt_1h' END AS lateness_bucket,
               late_s
        FROM lat)
    SELECT lateness_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM b), 6) AS share,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s
    FROM b
    GROUP BY lateness_bucket
    ORDER BY lateness_bucket
    """,
)
def stream_watermark_lateness_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark PLANNING analysis: how late does this source actually
    deliver? Each event's lateness is the high-water mark of everything
    that ARRIVED before it minus its own event time — the exact
    quantity ``withWatermark`` trades against state size, so the bucket
    shares below are the evidence for choosing the delay (pick the
    bucket that covers your completeness SLO; everything later is
    dropped).

    The synthetic events table carries no arrival column and the
    producer synthesizes in event-time order, so the ARRIVAL SEQUENCE
    here is a deterministic 5-shard / 20-event-flush interleave
    (order by event_id//20, event_id%5, event_id — the disorder a
    round-robin sharded producer creates), expressible identically in
    both engines; production swaps in the real arrival key (Kafka
    offset, file commit order) with the rest of the plan unchanged.

    The running maximum over the GLOBAL arrival order is computed with
    the two-pass range-partition shape (never a single-partition
    window): arrival-range buckets get per-bucket running maxima in
    bounded partitions, a 32-row bucket-frame prefix-max broadcasts
    back, and each event takes the greater of the two."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.struct(
            (F.col("event_id") / 20).cast("long").alias("flush"),
            F.pmod(F.col("event_id"), F.lit(5)).alias("shard"),
            F.col("event_id").alias("seq"),
        ).alias("arrival"),
    )
    n_buckets = 32
    hi = e.agg(F.max("event_id").alias("mx"))
    # bucket width is a MULTIPLE of the 20-event flush so bucket
    # boundaries align with the arrival order's major key — otherwise a
    # straddling flush would interleave across buckets and the prefix
    # max would not be an arrival-prefix max
    width = F.ceil((F.col("mx") + 1) / (20 * n_buckets)).cast("long") * 20
    eb = e.crossJoin(F.broadcast(hi.select(width.alias("w")))).select(
        "arrival", "ts", (F.col("event_id") / F.col("w")).cast("long").alias("bkt")
    )
    in_bucket = Window.partitionBy("bkt").orderBy("arrival").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = eb.select(
        "ts", "bkt", F.max("ts").over(in_bucket).alias("local_hw")
    )
    bucket_max = eb.groupBy("bkt").agg(F.max("ts").alias("bmax"))
    prefix = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    before = bucket_max.select(
        "bkt", F.max("bmax").over(prefix).alias("prev_hw")
    )
    late_s = F.greatest(
        F.unix_timestamp(F.greatest(F.col("local_hw"), F.coalesce("prev_hw", "local_hw")))
        - F.unix_timestamp("ts"),
        F.lit(0),
    ).cast("long")
    lat = local.join(F.broadcast(before), "bkt").select(late_s.alias("late_s"))
    bucket = (
        F.when(F.col("late_s") == 0, "on_time")
        .when(F.col("late_s") <= 60, "le_1m")
        .when(F.col("late_s") <= 300, "le_5m")
        .when(F.col("late_s") <= 900, "le_15m")
        .when(F.col("late_s") <= 3600, "le_1h")
        .otherwise("gt_1h")
    )
    counts = lat.select(bucket.alias("lateness_bucket"), "late_s").groupBy(
        "lateness_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("late_s").alias("max_late_s"),
    )
    total = counts.agg(F.sum("n_events").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "lateness_bucket",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round(F.col("n_events") / F.col("tot"), 6).alias("share"),
            F.col("max_late_s").cast("bigint").alias("max_late_s"),
        )
        .orderBy("lateness_bucket")
    )
