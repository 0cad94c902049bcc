"""Zero-Python foreachBatch transition twin (streaming/transitions.py)
vs the batch q_event_transitions definition — stream≡batch on the
full fixture, planted NULL-type / NULL-ts / batch-boundary pins,
and the replay and compaction contracts of the parquet index.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreamingflume_spark.plans import REGISTRY
from sparkstreamingflume_spark.streaming.transitions import (
    compact_index,
    read_matrix,
    transition_update_batch,
)

SCHEMA = (
    "user_id long, ts timestamp, event_id long, event_type string"
)
import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

STR_SCHEMA = "user_id long, ts string, event_id long, event_type string"

SF = "/root/testdata/sf0.001"


def _frame(spark, rows):
    return spark.createDataFrame(
        [(u, ts, i, ty) for u, ts, i, ty in rows], STR_SCHEMA
    ).withColumn("ts", F.to_timestamp("ts"))


def _matrix(spark, ix):
    return {
        (r.type_from, r.type_to): r.n_transitions
        for r in read_matrix(spark, str(ix)).collect()
        if r.n_transitions != 0
    }


def test_first_event_nulls_and_boundary(spark, tmp_path):
    """Within one batch: first event emits nothing, NULL-typed
    predecessor keeps its row, NULL-ts rows dropped. Across batches:
    the stored tail pairs with the next batch's head."""
    ix = tmp_path / "ix"
    transition_update_batch(
        _frame(
            spark,
            [
                (1, "2024-01-01 10:00:00", 1, "view"),
                (1, "2024-01-01 10:05:00", 2, "click"),
                (1, "2024-01-01 10:10:00", 3, "click"),
                (2, "2024-01-01 09:00:00", 4, None),
                (2, "2024-01-01 09:05:00", 5, "view"),
                (2, None, 6, "view"),
            ],
        ),
        0,
        str(ix),
    )
    assert _matrix(spark, ix) == {
        ("view", "click"): 1,
        ("click", "click"): 1,
        (None, "view"): 1,
    }
    # batch 1: user 1's head pairs with the stored 'click' tail; user
    # 2's NULL-typed tail... user 3 is brand new (no pair)
    transition_update_batch(
        _frame(
            spark,
            [
                (1, "2024-01-01 11:00:00", 7, "purchase"),
                (3, "2024-01-01 11:00:00", 8, "view"),
            ],
        ),
        1,
        str(ix),
    )
    assert _matrix(spark, ix) == {
        ("view", "click"): 1,
        ("click", "click"): 1,
        (None, "view"): 1,
        ("click", "purchase"): 1,
    }
    # NULL-typed TAIL bridges: user 2's next event pairs with NULL
    transition_update_batch(
        _frame(
            spark,
            [(2, "2024-01-01 12:00:00", 9, None)],
        ),
        2,
        str(ix),
    )
    transition_update_batch(
        _frame(
            spark,
            [(2, "2024-01-01 13:00:00", 10, "signup")],
        ),
        3,
        str(ix),
    )
    got = _matrix(spark, ix)
    assert got[("view", None)] == 1 and got[(None, "signup")] == 1


def test_stream_matches_batch_with_compaction_and_replay(spark, tmp_path):
    """The sf0.001 events fixture fed in-order in three batches, with a
    compaction mid-stream and a replay of an already-applied batch,
    folds to q_event_transitions' matrix exactly."""
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy(
            F.col("ts").isNull(), "ts", "event_id"
        )
        .collect()
    )
    rows = [(r.user_id, r.ts, r.event_id, r.event_type) for r in ev]
    third = (len(rows) + 2) // 3
    ix = tmp_path / "ix"
    for b in range(3):
        chunk = rows[b * third : (b + 1) * third]
        transition_update_batch(
            spark.createDataFrame(chunk, SCHEMA), b, str(ix)
        )
        if b == 1:
            stats = compact_index(spark, str(ix))
            assert stats["last_after"] <= stats["last_before"]
            # replay batch 1 after compaction: deltas must not change
            transition_update_batch(
                spark.createDataFrame(chunk, SCHEMA), b, str(ix)
            )
    batch = {
        (r.type_from, r.type_to): r.n_transitions
        for r in REGISTRY["q_event_transitions"].build(spark, SF).collect()
    }
    assert _matrix(spark, ix) == batch
    # a second compaction (now folding the replay dupes) preserves it
    compact_index(spark, str(ix))
    assert _matrix(spark, ix) == batch
