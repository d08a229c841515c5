"""Gap-based sessions over a timestamped event stream (SURVEY §2.11).

- :func:`session_window_counts` — per-user session aggregation with the
  native ``F.session_window``; the same operator runs on a batch frame
  and on a stream, where a session is emitted once the watermark
  passes its end.
- :func:`sessionize` — the batch form: one session id per event, from a
  lag and a running sum over one (user, ts) sort.

The reference's other stateful behaviours have one path each elsewhere:
resumable extraction is the audited bucket commit (``audit.py``), and
the draft store's last write wins is the ``draft_last_write_wins``
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user gap-session aggregation via native ``F.session_window``
    — the streaming form of :func:`sessionize` (same gap semantics:
    window end extends to last event + gap; a closed session emits once
    the watermark passes its end). Works on batch AND streaming frames;
    state is managed by Spark's session-window operator, partitioned by
    (user, session)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization (batch form; the streaming twin is
    ``F.session_window`` which uses the same gap semantics).

    A new session starts when the time since the user's previous event
    exceeds the gap. session_id = (user, index of session start) —
    classic lag + running-sum-of-boundaries, two window functions over
    one (user, ts) sort.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    prev = F.lag(ts_col).over(w)
    gap = F.unix_timestamp(F.col(ts_col).cast("timestamp")) - F.unix_timestamp(
        prev.cast("timestamp")
    )
    new_session = F.when(prev.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess_idx = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "*",
        sess_idx.cast("int").alias("session_idx"),
        F.concat_ws("-", F.col(user_col).cast("string"), sess_idx.cast("string")).alias(
            "session_id"
        ),
    )
