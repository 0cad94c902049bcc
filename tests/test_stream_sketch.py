"""Streaming CMS heavy hitters (streaming/sketch.py).

The certification is STREAM == BATCH: feed the certified fixture table
through the foreachBatch callback in micro-batches and require the
heavy-hitter output to be bit-identical to q_heavy_hitters_cms (whose
own correctness the DuckDB oracle gate carries) — under different batch
boundaries, under replay, and across compaction. Batch-sequence
semantics are exercised by calling the callback directly with static
frames (that IS the unit Structured Streaming invokes); the live wiring
is smoke-tested through state.attach.
"""

from __future__ import annotations

import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _batch_output(spark):
    """The certified batch query's output as {tok: (est, heavy)}."""
    from sparkstreamingflume_spark.plans import REGISTRY

    return {
        r["tok"]: (r["est"], r["heavy"])
        for r in REGISTRY["q_heavy_hitters_cms"].build(spark, SF).collect()
    }


def _probe(spark):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.functions.text import tokens
    from sparkstreamingflume_spark.plans.extension_queries import (
        CMS_PROBE_DOCS,
    )
    from sparkstreamingflume_spark.session import load_table

    return (
        load_table(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") < CMS_PROBE_DOCS)
        .select(F.explode(tokens("text")).alias("tok"))
        .distinct()
    )


def _stream_output(spark, index_dir):
    from sparkstreamingflume_spark.plans.extension_queries import HH_PPM
    from sparkstreamingflume_spark.streaming.sketch import heavy_hitters

    return {
        r["tok"]: (r["est"], r["heavy"])
        for r in heavy_hitters(
            spark, str(index_dir), _probe(spark), hh_ppm=HH_PPM
        ).collect()
    }


def _feed(spark, index_dir, splits):
    """Run the fixture through the callback in len(splits)+1 batches,
    split on doc_id at the given boundaries."""
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.sketch import cms_update_batch

    docs = load_table(spark, SF, "documents")
    bounds = [None, *splits, None]
    for i in range(len(bounds) - 1):
        part = docs
        if bounds[i] is not None:
            part = part.filter(F.col("doc_id") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("doc_id") < bounds[i + 1])
        cms_update_batch(part, i, str(index_dir))


@pytest.mark.parametrize("splits", [(), (17,), (5, 23, 41)])
def test_stream_equals_batch_under_any_batching(spark, tmp_path, splits):
    """One batch, two batches, four batches — the merged sketch and the
    heavy flags must be bit-identical to the certified batch query:
    mergeability is the sketch's defining property, not a tolerance."""
    ix = tmp_path / f"ix{len(splits)}"
    _feed(spark, ix, splits)
    assert _stream_output(spark, ix) == _batch_output(spark)


def test_replay_is_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.sketch import cms_update_batch

    ix = tmp_path / "ix"
    _feed(spark, ix, (17,))
    want = _stream_output(spark, ix)
    # batch 1 crashes after its append and is replayed verbatim
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") >= 17)
    cms_update_batch(docs, 1, str(ix))
    assert _stream_output(spark, ix) == want


def test_compaction_folds_and_ignores_replays_of_folded_batches(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.functions.text import CMS_D, CMS_W
    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.sketch import (
        cms_update_batch,
        compact_sketch,
    )

    ix = tmp_path / "ix"
    docs = load_table(spark, SF, "documents")
    cms_update_batch(docs.filter(F.col("doc_id") < 17), 0, str(ix))
    stats = compact_sketch(spark, str(ix))
    assert stats["wm"] == 0
    assert stats["rows_after"] <= CMS_D * CMS_W + 1
    # counter-vs-set rule: a replay of the ALREADY-FOLDED batch 0 must
    # not double-count — its delta lands below the watermark
    cms_update_batch(docs.filter(F.col("doc_id") < 17), 0, str(ix))
    cms_update_batch(docs.filter(F.col("doc_id") >= 17), 1, str(ix))
    assert _stream_output(spark, ix) == _batch_output(spark)
    # second fold covers batch 1 and the stale replay; parity holds
    stats = compact_sketch(spark, str(ix))
    assert stats["wm"] == 1
    assert _stream_output(spark, ix) == _batch_output(spark)
    # nothing left to fold
    assert compact_sketch(spark, str(ix)) == {}


def test_empty_and_null_batches_are_noops(spark, tmp_path):
    from sparkstreamingflume_spark.streaming.sketch import cms_update_batch

    ix = tmp_path / "ix"
    _feed(spark, ix, (17,))
    want = _stream_output(spark, ix)
    empty = spark.createDataFrame([], "doc_id long, text string")
    nulls = spark.createDataFrame(
        [(99991, None), (99992, None)], "doc_id long, text string"
    )
    cms_update_batch(empty, 2, str(ix))
    cms_update_batch(nulls, 3, str(ix))
    assert _stream_output(spark, ix) == want


def test_attach_runs_as_real_stream(spark, tmp_path):
    import json
    import os

    from sparkstreamingflume_spark.streaming.sketch import (
        cms_update_batch,
        heavy_hitters,
    )
    from sparkstreamingflume_spark.streaming.state import attach

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.json", "w") as f:
        for i, t in [(1, "spark spark spark streaming"), (2, "spark rare")]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src)
    )
    q = attach(
        cms_update_batch, stream, str(tmp_path / "ix"), str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    probe = spark.createDataFrame([("spark",), ("rare",)], "tok string")
    got = {
        r["tok"]: (r["est"], r["heavy"])
        for r in heavy_hitters(
            spark, str(tmp_path / "ix"), probe
        ).collect()
    }
    # 6 tokens total; "spark" (4/6) is heavy at 2%, est >= exact count
    assert got["spark"][0] >= 4 and got["spark"][1] is True
    assert got["rare"][0] >= 1


def test_unseen_probe_token_estimates_zero(spark, tmp_path):
    """An arbitrary probe token that never occurred in the stream must
    come back est=0 / heavy=false — its cells hold an implicit 0 and the
    CMS min must include them (the inner-join form either dropped the
    token or inflated it to a colliding hot token's count)."""
    from sparkstreamingflume_spark.streaming.sketch import heavy_hitters

    ix = tmp_path / "ix"
    _feed(spark, ix, (17,))
    probe = spark.createDataFrame(
        [("zzz-never-in-any-fixture-doc",)], "tok string"
    )
    rows = heavy_hitters(spark, str(ix), probe).collect()
    assert len(rows) == 1
    assert rows[0]["est"] == 0 and rows[0]["heavy"] is False


def test_compact_reclaims_stale_replay_deltas(spark, tmp_path):
    """A replay of an already-folded batch leaves a below-watermark
    delta; the next compact call must reclaim its part-files even though
    there is nothing new to fold, and parity must hold. The dir itself
    survives (emptied): list-first compaction deletes exactly the files
    it listed, never the dir a concurrent append may be writing into."""
    import os

    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.sketch import (
        cms_update_batch,
        compact_sketch,
    )

    ix = tmp_path / "ix"
    docs = load_table(spark, SF, "documents")
    cms_update_batch(docs.filter(F.col("doc_id") < 17), 0, str(ix))
    cms_update_batch(docs.filter(F.col("doc_id") >= 17), 1, str(ix))
    assert compact_sketch(spark, str(ix))["wm"] == 1
    # stale replay of folded batch 0
    cms_update_batch(docs.filter(F.col("doc_id") < 17), 0, str(ix))
    assert os.path.isdir(str(ix / "delta"))
    assert compact_sketch(spark, str(ix)) == {}
    assert not [
        f for f in os.listdir(str(ix / "delta")) if f.startswith("part-")
    ]
    assert _stream_output(spark, ix) == _batch_output(spark)


def test_delta_unseen_by_fold_listing_survives_with_correct_wm(
    spark, tmp_path
):
    """The mid-fold-append race, simulated at the file level: a delta
    landing AFTER the fold's file listing (here: batch 1's part-files
    renamed so the listing skips them) must (a) survive compaction and
    (b) stay ABOVE the new watermark — wm derives from the LISTED files'
    max batch_id (0), not from whatever is in the dir at delete time, so
    reads still sum the late batch and parity holds."""
    import os

    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.sketch import (
        cms_update_batch,
        compact_sketch,
    )

    ix = tmp_path / "ix"
    delta = ix / "delta"
    docs = load_table(spark, SF, "documents")
    cms_update_batch(docs.filter(F.col("doc_id") < 17), 0, str(ix))
    before = set(os.listdir(delta))
    cms_update_batch(docs.filter(F.col("doc_id") >= 17), 1, str(ix))
    late = [
        f
        for f in os.listdir(delta)
        if f not in before and f.startswith("part-")
    ]
    assert late
    for i, f in enumerate(late):
        os.rename(delta / f, delta / f"late-{i}.parquet")
    stats = compact_sketch(spark, str(ix))
    assert stats["wm"] == 0  # listed files only reached batch 0
    assert all(
        os.path.exists(delta / f"late-{i}.parquet")
        for i in range(len(late))
    )
    assert _stream_output(spark, ix) == _batch_output(spark)


def test_heavy_flag_false_on_empty_index(spark, tmp_path):
    """est = 0 AND n_tok = 0 on a never-written index: the flag must be
    false for every probe token (0 >= 0 used to mark ALL of them heavy)."""
    from sparkstreamingflume_spark.streaming.sketch import heavy_hitters

    probe = spark.createDataFrame([("anything",), ("at",)], "tok string")
    rows = heavy_hitters(spark, str(tmp_path / "never-written"), probe).collect()
    assert len(rows) == 2
    assert all(r["est"] == 0 and r["heavy"] is False for r in rows)
