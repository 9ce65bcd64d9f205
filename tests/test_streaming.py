"""Structured Streaming: batch/stream parity for windowed event counts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from graphscope_spark.streaming.events import stream_events, windowed_event_counts

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def test_stream_matches_batch(spark, tmp_path):
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expected = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(batch).collect()
    }

    # file-source streams read directories (new file = new micro-batch)
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    import shutil

    shutil.copy(f"{SF_DIR}/events.parquet", in_dir / "events-000.parquet")
    stream = stream_events(spark, str(in_dir))
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("evt_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from evt_counts").collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0]
        assert abs(got[k][1] - expected[k][1]) < 1e-9


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Closed sessions from the stateful stream = batch sessions minus
    each user's final (still-open) session."""
    from graphscope_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    GAP = 1800
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    bsess = sessionize_batch(batch, gap_seconds=GAP)
    # drop each user's last session (open tail stays in stream state)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("session_start").desc())
    closed_expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in bsess.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .drop("rn")
        .collect()
    }

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    import shutil

    shutil.copy(f"{SF_DIR}/events.parquet", in_dir / "events-000.parquet")
    from graphscope_spark.streaming.events import stream_events

    stream = stream_events(spark, str(in_dir))
    q = (
        sessionize_stream(stream, gap_seconds=GAP)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow must end once the file is consumed (no timer batches)
    assert q.awaitTermination(120), q.lastProgress
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    }
    assert got == closed_expected
