"""Zero-Python foreachBatch funnel twin (streaming/funnels.py) vs the
batch q_funnel definition — stream≡batch on the full fixture under
batching, replay, and compaction; and single-completion semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreamingflume_spark.plans import REGISTRY
from sparkstreamingflume_spark.streaming.funnels import (
    compact_index,
    funnel_update_batch,
    read_completions,
    read_funnels,
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


def _funnels(spark, ix):
    return {
        r.user_id: (
            r.s1_us,
            r.s2_us,
            r.s3_us,
            r.stage_reached,
            r.convert_us,
        )
        for r in read_funnels(spark, str(ix)).collect()
    }


def _batch(spark):
    return {
        r.user_id: (
            r.s1_us,
            r.s2_us,
            r.s3_us,
            r.stage_reached,
            r.convert_us,
        )
        for r in REGISTRY["q_funnel"].build(spark, SF).collect()
    }


def test_cross_batch_fold_and_single_completion(spark, tmp_path):
    """A funnel advancing one stage per batch completes exactly once;
    post-completion events are no-ops; NULL-ts rows drop."""
    ix = tmp_path / "ix"
    funnel_update_batch(
        _frame(
            spark,
            [
                (1, "2024-01-01 10:00:00", 1, "view"),
                (1, None, 2, "purchase"),  # dropped: NULL ts
            ],
        ),
        0,
        str(ix),
    )
    assert _funnels(spark, ix)[1][3] == 1
    funnel_update_batch(
        _frame(spark, [(1, "2024-01-02 10:00:00", 3, "click")]), 1, str(ix)
    )
    assert _funnels(spark, ix)[1][3] == 2
    funnel_update_batch(
        _frame(spark, [(1, "2024-01-03 10:00:00", 4, "purchase")]),
        2,
        str(ix),
    )
    f = _funnels(spark, ix)[1]
    assert f[3] == 3 and f[4] == f[2] - f[0]
    assert read_completions(spark, str(ix)).count() == 1
    # a second purchase is a no-op (completion emitted once)
    funnel_update_batch(
        _frame(spark, [(1, "2024-01-04 10:00:00", 5, "purchase")]),
        3,
        str(ix),
    )
    assert read_completions(spark, str(ix)).count() == 1
    assert _funnels(spark, ix)[1] == f


def test_stream_matches_batch_with_replay_and_compaction(spark, tmp_path):
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
        funnel_update_batch(
            spark.createDataFrame(chunk, SCHEMA), b, str(ix)
        )
        if b == 1:
            stats = compact_index(spark, str(ix))
            assert stats["state_after"] <= stats["state_before"]
            funnel_update_batch(
                spark.createDataFrame(chunk, SCHEMA), b, str(ix)
            )
    assert _funnels(spark, ix) == _batch(spark)
    compact_index(spark, str(ix))
    assert _funnels(spark, ix) == _batch(spark)
    # completions = exactly the batch's stage-3 users
    comp = {r.user_id for r in read_completions(spark, str(ix)).collect()}
    assert comp == {
        u for u, f in _batch(spark).items() if f[3] == 3
    }
