"""Streaming HDR quantiles (streaming/quantile.py).

The certification is STREAM == BATCH: feed the certified fixture table
through the foreachBatch callback in micro-batches and require the
per-group quantile estimates to be bit-identical to q_quantile_hdr's
register path (whose own correctness the DuckDB oracle gate and the
pure-Python pins in tests/test_hdr_bloom_pins.py carry) — under
different batch boundaries, under replay, and across compaction.
Same certification shape as the CMS twin (tests/test_stream_sketch.py):
register counts are SUMS, so the watermark machinery is load-bearing.
"""

from __future__ import annotations

import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _batch_output(spark):
    """The certified batch query's register path as
    {type: (n_vals, p50_est, p95_est, p99_est)}."""
    from sparkstreamingflume_spark.plans import REGISTRY

    return {
        r["event_type"]: (
            r["n_vals"],
            r["p50_est_cents"],
            r["p95_est_cents"],
            r["p99_est_cents"],
        )
        for r in REGISTRY["q_quantile_hdr"].build(spark, SF).collect()
    }


def _stream_output(spark, index_dir):
    from sparkstreamingflume_spark.streaming.quantile import quantiles

    return {
        r["g"]: (
            r["n_vals"],
            r["p50_est_cents"],
            r["p95_est_cents"],
            r["p99_est_cents"],
        )
        for r in quantiles(spark, str(index_dir)).collect()
    }


def _feed(spark, index_dir, splits):
    """Run the fixture through the callback in len(splits)+1 batches,
    split on event_id at the given boundaries."""
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.quantile import (
        hdr_update_batch,
    )

    ev = load_table(spark, SF, "events")
    bounds = [None, *splits, None]
    for i in range(len(bounds) - 1):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("event_id") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("event_id") < bounds[i + 1])
        hdr_update_batch(part, i, str(index_dir))


@pytest.mark.parametrize("splits", [(), (300,), (200, 500, 800)])
def test_stream_equals_batch_under_any_batching(spark, tmp_path, splits):
    """One batch, two batches, four batches — the merged registers and
    every quantile estimate must be bit-identical to the certified
    batch query: sum-mergeability is the register's defining property,
    not a tolerance."""
    ix = tmp_path / f"ix{len(splits)}"
    _feed(spark, ix, splits)
    assert _stream_output(spark, ix) == _batch_output(spark)


def test_replay_is_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.quantile import (
        hdr_update_batch,
    )

    ix = tmp_path / "ix"
    _feed(spark, ix, (300,))
    want = _stream_output(spark, ix)
    # batch 1 crashes after its append and is replayed verbatim
    ev = load_table(spark, SF, "events").filter(F.col("event_id") >= 300)
    hdr_update_batch(ev, 1, str(ix))
    assert _stream_output(spark, ix) == want


def test_compaction_folds_and_ignores_replays_of_folded_batches(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.quantile import (
        compact_registers,
        hdr_update_batch,
    )

    ix = tmp_path / "ix"
    ev = load_table(spark, SF, "events")
    hdr_update_batch(ev.filter(F.col("event_id") < 300), 0, str(ix))
    stats = compact_registers(spark, str(ix))
    assert stats["wm"] == 0 and stats["n_files"] >= 1
    # counter rule: a replay of the ALREADY-FOLDED batch 0 must not
    # double-count — its delta lands below the watermark
    hdr_update_batch(ev.filter(F.col("event_id") < 300), 0, str(ix))
    hdr_update_batch(ev.filter(F.col("event_id") >= 300), 1, str(ix))
    assert _stream_output(spark, ix) == _batch_output(spark)
    # second fold covers batch 1 and the stale replay; parity holds
    stats = compact_registers(spark, str(ix))
    assert stats["wm"] == 1
    assert _stream_output(spark, ix) == _batch_output(spark)
    # nothing new to fold: the stale-replay reclaim path returns {}
    assert compact_registers(spark, str(ix)) == {}


def test_empty_and_invalid_batches_are_noops(spark, tmp_path):
    from sparkstreamingflume_spark.streaming.quantile import (
        hdr_update_batch,
    )

    ix = tmp_path / "ix"
    _feed(spark, ix, (300,))
    want = _stream_output(spark, ix)
    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    nulls = spark.createDataFrame(
        [(1, None, 1, "a", None, "p"), (2, None, 2, "b", 0.001, "p")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )  # NULL value and cents < 1 both excluded, mirroring the batch query
    hdr_update_batch(empty, 2, str(ix))
    hdr_update_batch(nulls, 3, str(ix))
    assert _stream_output(spark, ix) == want


def test_attach_runs_as_real_stream(spark, tmp_path):
    import json
    import os

    from sparkstreamingflume_spark.streaming.quantile import (
        hdr_update_batch,
        quantiles,
    )
    from sparkstreamingflume_spark.streaming.state import attach

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.json", "w") as f:
        for i, v in enumerate([1.0] * 9 + [100.0]):
            f.write(
                json.dumps(
                    {
                        "event_id": i,
                        "user_id": i,
                        "event_type": "t",
                        "value": v,
                        "props": "p",
                    }
                )
                + "\n"
            )
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double,"
        " props string"
    ).json(str(src))
    q = attach(
        hdr_update_batch, stream, str(tmp_path / "ix"), str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["g"]: (r["n_vals"], r["p50_est_cents"], r["p99_est_cents"])
        for r in quantiles(spark, str(tmp_path / "ix")).collect()
    }
    # 10 values: p50 = 100 cents exact (linear regime... 100 >= 32 so
    # bucketed: mid of 100's bucket), p99 = the 10000-cent outlier's mid
    assert got["t"][0] == 10
    assert abs(got["t"][1] - 100) <= 2  # within half a bucket of 100
    assert abs(got["t"][2] - 10_000) <= 160
