"""Zero-Python foreachBatch retention twin (streaming/retentions.py)
vs the batch q_retention definition — exact under ANY arrival order:
shuffled feeds, cohort-shift retractions, replay, compaction.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sparkstreamingflume_spark.plans import REGISTRY
from sparkstreamingflume_spark.streaming.retentions import (
    compact_index,
    read_triangle,
    retention_update_batch,
)

import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

STR_SCHEMA = "user_id long, ts string, event_id long, event_type string"
SCHEMA = "user_id long, ts timestamp, event_id long, event_type string"
SF = "/root/testdata/sf0.001"


def _frame(spark, rows):
    return spark.createDataFrame(rows, STR_SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _triangle(spark, ix):
    return {
        (r.cohort_day, r.offset_days): r.n_active
        for r in read_triangle(spark, str(ix)).collect()
    }


def _batch(spark):
    return {
        (r.cohort_day, r.offset_days): r.n_active
        for r in REGISTRY["q_retention"].build(spark, SF).collect()
    }


def test_cohort_shift_retracts_and_reemits(spark, tmp_path):
    """A late earlier-day event moves the user's cohort: every prior
    row retracts (-1 at old coords) and re-emits at the new cohort, so
    the summed triangle is as if the events had arrived in order."""
    ix = tmp_path / "ix"
    # day ids: 2024-01-10 = 19732, 2024-01-12 = 19734, 2024-01-05 = 19727
    retention_update_batch(
        _frame(
            spark,
            [
                (1, "2024-01-10 08:00:00", 1, "view"),
                (1, "2024-01-12 09:00:00", 2, "view"),
                (1, None, 3, "view"),  # NULL ts dropped
            ],
        ),
        0,
        str(ix),
    )
    t = _triangle(spark, ix)
    d10 = 19732
    assert t == {(d10, 0): 1, (d10, 2): 1}
    # the late earlier event shifts the cohort to 2024-01-05
    retention_update_batch(
        _frame(spark, [(1, "2024-01-05 10:00:00", 4, "view")]), 1, str(ix)
    )
    d05 = 19727
    assert _triangle(spark, ix) == {
        (d05, 0): 1,
        (d05, 5): 1,
        (d05, 7): 1,
    }
    # revisiting an already-seen day is a no-op
    retention_update_batch(
        _frame(spark, [(1, "2024-01-10 23:00:00", 5, "view")]), 2, str(ix)
    )
    assert _triangle(spark, ix) == {
        (d05, 0): 1,
        (d05, 5): 1,
        (d05, 7): 1,
    }


def test_shuffled_feed_matches_batch_with_replay_and_compaction(
    spark, tmp_path
):
    """The fixture fed in RANDOM order across four batches (plus a
    replay and a mid-stream compaction) still folds to q_retention
    exactly — the any-arrival-order contract."""
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    rows = [(r.user_id, r.ts, r.event_id, r.event_type) for r in ev]
    random.Random(9).shuffle(rows)
    quarter = (len(rows) + 3) // 4
    ix = tmp_path / "ix"
    for b in range(4):
        chunk = rows[b * quarter : (b + 1) * quarter]
        retention_update_batch(
            spark.createDataFrame(chunk, SCHEMA), b, str(ix)
        )
        if b == 2:
            stats = compact_index(spark, str(ix))
            assert stats["state_after"] <= stats["state_before"]
            retention_update_batch(
                spark.createDataFrame(chunk, SCHEMA), b, str(ix)
            )
    assert _triangle(spark, ix) == _batch(spark)
    compact_index(spark, str(ix))
    assert _triangle(spark, ix) == _batch(spark)
