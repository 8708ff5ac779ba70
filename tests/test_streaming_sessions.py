"""Streaming sessionization: the `session_window` Structured-Streaming
form the sessions module names as the streaming counterpart of the
batch gap-rule — verified equivalent on gap-unambiguous data."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from akumuli_spark.operators.sessions import sessionize

GAP_S = 10


def _events():
    # per-user event times (seconds): gaps are either ≪ gap or ≫ gap so
    # the batch rule (strictly >) and session_window's merge semantics
    # cannot disagree at a boundary
    return [
        (1, [0, 2, 4, 100, 103, 300]),     # 3 sessions
        (2, [50, 52, 54, 56]),             # 1 session
        (3, [0, 500, 1000]),               # 3 singleton sessions
    ]


def test_streaming_session_window_matches_batch_gap_rule(spark, tmp_path):
    rows = [
        (u, t * 1_000_000) for u, ts in _events() for t in ts
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long"
    ).select("user_id", F.timestamp_micros(F.col("ts_us")).alias("ts"))
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(in_dir)
        .withWatermark("ts", "1 minute")
    )
    agg = (
        stream.groupBy(
            "user_id",
            F.session_window("ts", f"{GAP_S} seconds").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory").queryName("sess_sink")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_counts = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_sink").collect()
    )

    batch = sessionize(
        df.select(
            "user_id",
            (F.unix_micros("ts") * 1000).alias("ts_ns"),
        ),
        gap_ns=GAP_S * 10**9,
        ts_col="ts_ns",
    )
    want_counts = sorted(
        (r["user_id"], r["n_events"])
        for r in batch.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .collect()
    )
    assert got_counts == want_counts
    assert len(got_counts) == 7  # 3 + 1 + 3 sessions
