"""Streaming sessionization — the native-session_window twin of
``q_session_window`` (plans/relational_queries.py).

Spark's ``session_window`` aggregate is itself the streaming
sessionizer — the SAME expression the certified batch query
``q_session_window`` runs executes under ``readStream`` with a
watermark, with merge-on-overlap state and watermark eviction handled
by the engine: JVM-native, no Python row cost, exactly-once under
checkpoint replay like any built-in stateful agg. This is the only
streaming sessionizer; ``q_sessionize`` (strict ``>`` gap boundary) is
batch-only.

Session semantics match ``q_session_window``: a session extends while
consecutive gaps are < ``gap``; the emitted window end is
last-event-ts + gap (so an event landing exactly at the end starts a
NEW session — the >= boundary the batch docstring spells out).
NULL-ts contract mirrored from the batch side: an event without a
timestamp participates in no session (``ts IS NOT NULL`` filtered
before the aggregate — a streaming aggregate would otherwise reject
or drop it engine-side; making the filter explicit keeps the twin's
contract identical and visible).

Emission: append mode — a session row is emitted once, when the
watermark passes its end (closed sessions only, the exactly-once
archive shape). stream≡batch is pinned on the full events fixture
with NULL-ts rows injected in tests/test_stream_sessions.py.

Scale posture: one combinable shuffle on the key; state is one row
per OPEN session per key, evicted at the watermark; no driver state,
no Python.

Reference parity: the reference's windows are stateless processing-
time re-reads (SURVEY.md §2.5 — no sessions, no event time);
capability extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """(user_id, session_start, session_end, n_events) per session —
    ``q_session_window``'s exact output shape, streamable in append
    mode (closed sessions emit once the watermark passes)."""
    return (
        events.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(
            key_col, F.session_window(ts_col, gap).alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )
