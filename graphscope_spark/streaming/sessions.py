"""Custom stateful streaming operator: event sessionization.

The reference has no streaming surface (SURVEY.md §2.1); this is the
``applyInPandasWithState`` pattern a continuously-crawling pipeline
needs — per-key custom state that outlives micro-batches (e.g. "crawl
session" = a burst of fetches from one host with < ``gap`` idle time).

Semantics (deterministic): events are grouped per ``user_id``; a
session is a maximal run of events where consecutive timestamps are
within ``gap_seconds``.  Emits one row per CLOSED session — closed
when a later event of the same user arrives more than ``gap_seconds``
after the session's last one.  The open tail session of each user stays
in state: the operator sets no timeout, because a processing-time
timeout makes Spark schedule a no-data batch after every batch, so an
``availableNow`` query never terminates.

Batch twin: :func:`sessionize_batch` computes identical sessions with
window functions (lag + cumulative sum of gap-breaks) — the
batch/stream parity pattern used throughout this repo, so correctness
is pinned by comparing both on the same input.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start long, last long, n long"


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch sessionization: lag + cumulative session-break sum."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # TIMESTAMP_NTZ needs an intermediate TIMESTAMP cast to reach epoch
    # seconds (session tz is pinned to UTC in session.py)
    epoch = F.col("ts").cast("timestamp").cast("long")
    with_break = events.select(
        "user_id",
        "ts",
        (
            F.coalesce(
                (epoch - F.lag(epoch).over(w)) > gap_seconds,
                F.lit(True),
            )
        )
        .cast("long")
        .alias("brk"),
    ).withColumn("session_no", F.sum("brk").over(w))
    return (
        with_break.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def _session_fn(gap_seconds: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs))
        # epoch MICROseconds (Timestamp.value is ns) — full precision,
        # so stream sessions equal batch sessions byte-for-byte
        ts = sorted(t.value // 1000 for t in rows["ts"])
        gap_us = gap_seconds * 1_000_000
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = []
        for t in ts:
            if last is not None and t - last > gap_us:
                out.append((user_id, start, last, n))
                start, n = t, 0
            if start is None:
                start = t
            last = t
            n += 1
        state.update((start, last, n))
        if not out:
            return iter([])
        pdf = pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )
        for c in ("session_start", "session_end"):
            pdf[c] = pd.to_datetime(pdf[c], unit="us", utc=True).dt.tz_localize(None)
        return iter([pdf])

    return fn


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState.

    Emits closed sessions only; the open tail session per user stays in
    state and is never emitted (no timeout — see the module docstring).
    Input must be a streaming DataFrame with (user_id, ts).
    """
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
