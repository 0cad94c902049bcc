"""Streaming joins: stream-stream interval join with watermark-bounded state.

The reference only ever joined a stream against a broadcast side file
(J1/J2 — covered by ``pipeline.routed_pipeline_dual``, the
stream-static shape). A complete streaming engine also needs
STREAM x STREAM correlation — e.g. click attribution: match each
purchase to same-user clicks in the preceding window, both sides
arriving live.

Spark shape: watermarks on BOTH sides plus a time-range join condition.
The range condition is what lets the state store evict: each side
retains only rows inside the watermark + interval horizon, so state is
bounded by (arrival rate x horizon), never by stream length — the same
bound as ``dedup.py``'s dropDuplicatesWithinWatermark. Without the time
bound Spark would (correctly) refuse unbounded inner-join state.

At 100 TB/day the join is hash-partitioned on the equi-key (user_id):
state and matching stay partition-local; skewed keys salt exactly as in
batch (functions/skew.py). Batch ≡ stream equivalence is pinned by
tests/test_stream_join.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` rows to ``right`` rows with the same ``key`` where
    ``right_ts`` falls in ``[left_ts, left_ts + max_delay]``.

    ``how="left_outer"`` additionally emits unmatched left rows with
    NULL right columns — but only once the watermark passes their
    eviction point (Spark can't know "no match will come" earlier), so
    streamed outer results for rows near the head of the stream appear
    in a LATER micro-batch than their data. Rows still in state when
    the query stops never emit their null-match: outer completeness is
    a watermark property, not a stop property
    (tests/test_stream_join.py pins exactly this boundary).

    Works identically on batch frames (watermarks are no-ops there) —
    the batch twin IS this function, so equivalence tests need no
    second implementation. Column names are prefixed ``l_``/``r_`` in
    the output to keep the join self-describing; raises ``ValueError``
    if the prefixed names would collide (e.g. an input already has an
    ``l_key`` column), rather than emitting ambiguous duplicates.
    """
    for side, df, k, ts in (("left", left, key, left_ts), ("right", right, key, right_ts)):
        p = side[0]
        out = [f"{p}_key", f"{p}_ts"] + [
            f"{p}_{c}" for c in df.columns if c not in (k, ts)
        ]
        dupes = sorted({c for c in out if out.count(c) > 1})
        if dupes:
            raise ValueError(
                f"interval_join: {side} side produces duplicate output "
                f"columns after {p}_ prefixing: {dupes}; rename the "
                f"offending input columns"
            )
    lw = left.withWatermark(left_ts, watermark).select(
        F.col(key).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key, left_ts)
        ],
    )
    rw = right.withWatermark(right_ts, watermark).select(
        F.col(key).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key, right_ts)
        ],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)
