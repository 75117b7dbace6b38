"""Stateful-streaming query registration (custom operator via
applyInPandasWithState, drained through a memory sink).

The final state per user equals the batch aggregate, so the query IS
SQL-oracle-able: update-mode re-emissions are collapsed by keeping each
user's highest event count (monotone in stream time)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import memory_sink_frame, stream_drain_partitions, stream_table
from ..registry import query
from ..streaming.stateful import running_user_profile


@query(
    "stream_stateful_user_profile",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming custom stateful operator: per-user running profile
    (count, first/last seen) with explicit GroupState, checked against
    the batch aggregate oracle."""
    stream = stream_table(spark, sf_dir, "events")
    out = running_user_profile(stream)
    sink_name = f"profile_{uuid.uuid4().hex[:8]}"
    with stream_drain_partitions(spark):
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(sink_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    emitted = memory_sink_frame(spark, sink_name)
    # Update mode may emit one row per key per micro-batch; the final
    # state has the max count — keep it.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.timestamp_micros(F.col("first_ts_us")).alias("first_ts"),
            F.timestamp_micros(F.col("last_ts_us")).alias("last_ts"),
        )
    )


def _protobuf_available() -> bool:
    # transformWithStateInPandas serializes state via protobuf. The
    # harness container has no site-packages protobuf, but pbcompat
    # bootstraps the Cloud SDK's vendored pure-Python runtime (round-3
    # verdict task: this gate was the last one never probed; it now
    # UNGATES in this sandbox — see pbcompat.py for the two obstacles
    # and why waiving the gencode version pin is sound).
    from ..pbcompat import ensure_protobuf

    return ensure_protobuf()


def _register_tws() -> None:
    if not _protobuf_available():
        return
    query(
        "stream_tws_event_counts",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
        """,
    )(stream_tws_event_counts)
    query(
        "stream_tws_map_state_type_counts",
        oracle="""
        SELECT user_id, event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id, event_type
        """,
    )(stream_tws_map_state_type_counts)
    query(
        "stream_tws_list_state_topvals",
        oracle="""
        WITH p AS (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY value DESC) AS rn
            FROM events WHERE event_type = 'purchase')
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               ROUND(SUM(CASE WHEN rn <= 3 THEN value ELSE 0 END), 6)
                   AS top3_sum
        FROM p
        GROUP BY user_id
        """,
    )(stream_tws_list_state_topvals)
    query(
        "stream_tws_alert_hysteresis",
        oracle="""
        WITH sig AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN value > 80.0 THEN 1
                        WHEN value < 30.0 THEN 0 END AS edge
            FROM events),
        st AS (
            SELECT user_id, ts, event_id,
                   COALESCE(LAST_VALUE(edge IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS UNBOUNDED PRECEDING), 0) AS alert_state
            FROM sig)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_seen,
               CAST(MAX(CASE WHEN rn = 1 THEN alert_state END) AS BIGINT)
                   AS alert_state,
               CAST(SUM(alert_state) AS BIGINT) AS n_alert_events
        FROM (SELECT user_id, alert_state,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM st)
        GROUP BY user_id
        """,
    )(stream_tws_alert_hysteresis)
    query(
        "stream_tws_initial_state_counts",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        WHERE user_id IN (SELECT DISTINCT user_id FROM events
                          WHERE event_id % 2 = 1)
        GROUP BY user_id
        """,
    )(stream_tws_initial_state_counts)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _run_tws(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Shared transformWithStateInPandas runner: protobuf-capable env
    for the spawned runners, RocksDB provider (typed state vars map to
    state-store COLUMN FAMILIES, which the default HDFS-backed provider
    lacks — RocksDB is also the provider a 100 TB deployment uses;
    restart survival proven at 10⁶ keys in tests/test_scale_runtime.py),
    single availableNow-style drain into a memory sink. All session
    state is restored afterwards."""
    import os

    from ..pbcompat import worker_pythonpath

    # The PRE-INIT runner and the TWS workers need protobuf on THEIR
    # sys.path; sc.environment is captured into the UDF's envVars at
    # wrap time, so it must be set BEFORE build() constructs the
    # transformWithStateInPandas node.
    sc = spark.sparkContext
    prev_pp = sc.environment.get("PYTHONPATH")
    extra = worker_pythonpath()
    sc.environment["PYTHONPATH"] = (
        extra if not prev_pp else prev_pp + os.pathsep + extra
    )
    out = build(stream_table(spark, sf_dir, "events"))
    sink_name = f"tws_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    try:
        with stream_drain_partitions(spark):
            q = (
                out.writeStream.outputMode("update")
                .format("memory")
                .queryName(sink_name)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        if prev_pp is None:
            sc.environment.pop("PYTHONPATH", None)
        else:
            sc.environment["PYTHONPATH"] = prev_pp
    return memory_sink_frame(spark, sink_name)


def stream_tws_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (Spark 4 typed-state API): per-user
    running event counts via ValueState, final state oracled against the
    batch aggregate. Runs via the shared _run_tws drain (RocksDB column
    families + vendored-protobuf env)."""
    from ..streaming.tws_processor import running_event_counts

    emitted = _run_tws(spark, sf_dir, running_event_counts)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events")
    )


def stream_tws_map_state_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with a typed MAP state variable:
    per-user MapState[event_type -> running count], exercising point
    lookups (getValue/updateValue) and the full-map iterator — the
    per-key feature-store access pattern ValueState can't express.
    Update-mode re-emissions collapse to each (user, type)'s max
    running count == the batch aggregate the oracle computes."""
    from ..streaming.tws_processor import running_type_counts

    emitted = _run_tws(spark, sf_dir, running_type_counts)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "n_events")
    )


def stream_tws_list_state_topvals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with a typed LIST state variable:
    per-user ListState of purchase values (appendList + full-list get),
    emitting the running (count, top-3 value sum) — the bounded-history
    shape ValueState/MapState can't hold. Update-mode re-emissions
    collapse to each user's max running count; the float is rounded
    AFTER collapse so both engines hash the same display value."""
    from ..streaming.tws_processor import running_purchase_topvals

    emitted = _run_tws(spark, sf_dir, running_purchase_topvals)
    w = Window.partitionBy("user_id").orderBy(F.col("n_purchases").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_purchases",
            F.round(F.col("top3_sum"), 6).alias("top3_sum"),
        )
    )


def stream_tws_initial_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with INITIAL STATE (warm start):
    per-user counts over the even-event_id half are computed as a batch
    aggregate and handed to the operator via ``initialState``;
    ``handleInitialState`` seeds each key's ValueState before the
    stream (the odd half) arrives, so the final state equals the
    full-history batch aggregate without the stream ever reprocessing
    it — the state-migration/backfill path of the Spark 4 typed-state
    API. Users with no streamed rows never re-emit, so the oracle
    restricts to users with at least one odd event."""
    from ..catalog import table as _batch_table
    from ..streaming.tws_processor import warm_start_event_counts

    init = (
        _batch_table(spark, sf_dir, "events")
        .filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
    )

    def build(stream):
        return warm_start_event_counts(
            stream.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1), init
        )

    emitted = _run_tws(spark, sf_dir, build)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events")
    )




def stream_tws_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of `window_alert_hysteresis`
    (operators/windows.py): the two-threshold latch held in a typed
    ValueState via transformWithStateInPandas, proving the batch window
    rewrite and the streaming state machine compute the SAME answer —
    final latch state, events seen, and events spent alerting per user,
    oracled against the batch last_value(ignore nulls) SQL. Update-mode
    re-emissions collapse to each user's max events-seen row (monotone
    in stream time)."""
    from ..streaming.tws_processor import running_hysteresis

    emitted = _run_tws(spark, sf_dir, running_hysteresis)
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_seen", "alert_state", "n_alert_events")
    )

_register_tws()
