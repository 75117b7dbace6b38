"""transformWithStateInPandas EVENT-TIME TIMERS e2e: sessions close
when the watermark passes last_event + gap, emitted exclusively from
handleExpiredTimer (registerTimer/deleteTimer re-arming on every
update). Deterministic multi-batch feed via maxFilesPerTrigger=1 over
incrementally written files — the same harness the late-data tests use.

Late-RECORD filtering uses the previous batch's watermark, but timer
expiry is evaluated against the watermark advanced at the END of the
current batch — a timer fires in the same micro-batch whose data pushed
the watermark past it (matching windowed-aggregation emission timing).
The assertions below pin that timing.
"""

from __future__ import annotations

import json
import uuid

import pytest

from pyspark.sql import types as T

from spark_streaming_practicum_spark.pbcompat import ensure_protobuf, worker_env

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("k", T.StringType(), True),
    ]
)

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _write_file(dir_, name, rows):
    lines = [json.dumps({"ts": ts, "k": k}) for ts, k in rows]
    (dir_ / name).write_text("\n".join(lines))


@pytest.mark.skipif(not ensure_protobuf(), reason="no protobuf runtime")
def test_event_time_timers_close_sessions(spark, tmp_path):
    from spark_streaming_practicum_spark.streaming.tws_processor import (
        session_counts_with_timers,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 1: two keys open sessions (a: 2 events ending 10:05, b: 1 @ 10:00)
    _write_file(
        in_dir,
        "b1.json",
        [
            ("2024-01-01T10:00:00", "a"),
            ("2024-01-01T10:05:00", "a"),
            ("2024-01-01T10:00:00", "b"),
        ],
    )

    prev_prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    sink = f"timers_{uuid.uuid4().hex[:8]}"
    try:
        with worker_env(spark):
            stream = (
                spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .json(str(in_dir))
            )
            out = session_counts_with_timers(stream)
            q = (
                out.writeStream.outputMode("update")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .format("memory")
                .queryName(sink)
                .start()
            )
            try:
                q.processAllAvailable()  # wm after b1: 10:05 - 10m = 09:55
                assert spark.table(sink).count() == 0  # nothing closed yet

                # batch 2: key a extends its open session at 12:00, which
                # re-arms a's timer 10:35 -> 12:30 BEFORE expiry evaluation;
                # the batch-end watermark (11:50) then fires only b's 10:30
                # timer. If deleteTimer had not removed a's old 10:35 timer,
                # a would close here too — this assertion pins the re-arm.
                _write_file(in_dir, "b2.json", [("2024-01-01T12:00:00", "a")])
                q.processAllAvailable()
                rows = {
                    (r.k, r.n_events) for r in spark.table(sink).collect()
                }
                assert rows == {("b", 1)}, rows

                # batch 3: a 13:00 event (other key) pushes the watermark to
                # 12:50, past a's re-armed 12:30 timer: a's whole 3-event
                # run closes as ONE session.
                _write_file(in_dir, "b3.json", [("2024-01-01T13:00:00", "c")])
                q.processAllAvailable()
                rows = {
                    (r.k, r.n_events) for r in spark.table(sink).collect()
                }
                assert rows == {("b", 1), ("a", 3)}, rows
            finally:
                q.stop()
    finally:
        if prev_prov is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_prov
            )
