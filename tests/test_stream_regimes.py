"""Zero-Python foreachBatch SCD2 twin (streaming/regimes.py) vs the
batch q_scd2_history definition — stream≡batch on the full fixture
under batching, replay, and compaction, plus planted micro-pins for
the merge / close / NULL-regime stitch cases.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreamingflume_spark.plans import REGISTRY
from sparkstreamingflume_spark.streaming.regimes import (
    compact_index,
    read_history,
    regime_update_batch,
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


def _hist(spark, ix):
    return {
        (r.user_id, r.regime_no): (
            r.event_type,
            r.n_events,
            r.valid_from_us,
            r.valid_to_us,
        )
        for r in read_history(spark, str(ix)).collect()
    }


def test_merge_close_and_null_regimes(spark, tmp_path):
    """Batch 0 leaves user 1 in an open 'view' regime and user 2 in an
    open NULL regime (numbered 0 — the batch leading-NULL rule).
    Batch 1 MERGES user 1's regime (same type: counts add, start
    keeps) and CLOSES user 2's NULL regime (new type) with
    valid_to = the new regime's start."""
    ix = tmp_path / "ix"
    regime_update_batch(
        _frame(
            spark,
            [
                (1, "2024-01-01 10:00:00", 1, "view"),
                (1, "2024-01-01 10:05:00", 2, "view"),
                (2, "2024-01-01 09:00:00", 3, None),
                (2, None, 4, "view"),  # NULL-ts dropped
            ],
        ),
        0,
        str(ix),
    )
    h = _hist(spark, ix)
    assert h[(1, 1)][0] == "view" and h[(1, 1)][1] == 2
    assert h[(2, 0)][0] is None and h[(2, 0)][3] is None  # open NULL regime
    regime_update_batch(
        _frame(
            spark,
            [
                (1, "2024-01-01 11:00:00", 5, "view"),  # merge
                (1, "2024-01-01 12:00:00", 6, "click"),  # then new regime
                (2, "2024-01-01 10:00:00", 7, "signup"),  # closes NULL
            ],
        ),
        1,
        str(ix),
    )
    h = _hist(spark, ix)
    # user 1: regime 1 = 3 merged views, closed at the click's ts;
    # regime 2 = open click
    t1 = 1_704_110_400_000_000  # 2024-01-01 12:00:00 UTC in us
    assert h[(1, 1)] == ("view", 3, h[(1, 1)][2], t1)
    assert h[(1, 2)][0] == "click" and h[(1, 2)][3] is None
    # user 2: NULL regime 0 closed at the signup's ts; regime 1 open
    assert h[(2, 0)][0] is None and h[(2, 0)][3] is not None
    assert h[(2, 1)][0] == "signup" and h[(2, 1)][3] is None


def _batch_hist(spark):
    return {
        (r.user_id, r.regime_no): (
            r.event_type,
            r.n_events,
            r.valid_from_us,
            r.valid_to_us,
        )
        for r in REGISTRY["q_scd2_history"].build(spark, SF).collect()
    }


def test_stream_matches_batch_with_replay_and_compaction(spark, tmp_path):
    """The sf0.001 events fixture fed in-order in three batches — with
    a compaction mid-stream and a replay of the just-applied batch —
    folds to q_scd2_history exactly."""
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy(F.col("ts").isNull(), "ts", "event_id")
        .collect()
    )
    rows = [(r.user_id, r.ts, r.event_id, r.event_type) for r in ev]
    third = (len(rows) + 2) // 3
    ix = tmp_path / "ix"
    for b in range(3):
        chunk = rows[b * third : (b + 1) * third]
        regime_update_batch(
            spark.createDataFrame(chunk, SCHEMA), b, str(ix)
        )
        if b == 1:
            stats = compact_index(spark, str(ix))
            assert stats["open_after"] <= stats["open_before"]
            # replay after compaction: keep-2 guarantees the replayed
            # batch reads its true predecessor state
            regime_update_batch(
                spark.createDataFrame(chunk, SCHEMA), b, str(ix)
            )
    assert _hist(spark, ix) == _batch_hist(spark)
    compact_index(spark, str(ix))
    assert _hist(spark, ix) == _batch_hist(spark)
