"""Streaming incremental near-dup filter (streaming/neardup.py).

Batch-sequence semantics are exercised by calling the foreachBatch
callback directly with static frames (that IS the unit Structured
Streaming invokes); a live readStream wiring is smoke-tested through
state.attach. All fixture texts were chosen so the MinHash
band collisions are DETERMINISTIC (fixed md5-derived constants): the
"warm" variant of the fox doc shares 2 of 4 band buckets with it, the
"different" doc shares 0.
"""

from __future__ import annotations
import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

FOX = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "over the quiet hills and the river runs cold"
)
FOX_NEAR = FOX.replace("cold", "warm")  # shares 2/4 band buckets with FOX
OTHER = (
    "completely different text about structured streaming watermarks "
    "and state stores in spark"
)
THIRD = "numbers and tables and rows and columns and plans and stages"


def _run_batch(spark, rows, batch_id, index_dir, out_dir):
    from sparkstreamingflume_spark.streaming.neardup import (
        incremental_dedup_batch,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    incremental_dedup_batch(df, batch_id, str(index_dir), str(out_dir))


def _survivor_ids(spark, out_dir):
    import os

    if not os.path.isdir(str(out_dir)):
        return set()
    return {
        r["doc_id"]
        for r in spark.read.option("basePath", str(out_dir))
        .parquet(str(out_dir))
        .collect()
    }


def test_incremental_dedup_across_batches(spark, tmp_path):
    ix, out = tmp_path / "ix", tmp_path / "out"

    # batch 0: three novel docs — all survive
    _run_batch(spark, [(1, FOX), (2, OTHER), (3, THIRD)], 0, ix, out)
    assert _survivor_ids(spark, out) == {1, 2, 3}

    # batch 1: exact dup of doc 1, near dup of doc 1, and a novel doc
    novel = "entirely fresh sentence with no shared three gram at all"
    _run_batch(spark, [(11, FOX), (12, FOX_NEAR), (13, novel)], 1, ix, out)
    assert _survivor_ids(spark, out) == {1, 2, 3, 13}

    # batch 2: dup of a batch-1 SURVIVOR (13) — the index grew additively
    _run_batch(spark, [(21, novel), (22, "one more novel doc right here")], 2, ix, out)
    assert _survivor_ids(spark, out) == {1, 2, 3, 13, 22}


def test_within_batch_min_id_wins_and_replay_idempotent(spark, tmp_path):
    ix, out = tmp_path / "ix", tmp_path / "out"

    # co-arriving exact pair (5,4) and near pair (6 vs 4): smallest id wins
    rows = [(5, FOX), (4, FOX), (6, FOX_NEAR), (7, OTHER)]
    _run_batch(spark, rows, 0, ix, out)
    assert _survivor_ids(spark, out) == {4, 7}

    # replaying the same batch_id (restart recovery) rewrites, never doubles
    _run_batch(spark, rows, 0, ix, out)
    assert _survivor_ids(spark, out) == {4, 7}
    rows_out = spark.read.option("basePath", str(out)).parquet(str(out)).count()
    assert rows_out == 2

    # the duplicate index appends from the replay change no flag: a later
    # dup of a survivor is still dropped, a novel doc still kept
    _run_batch(spark, [(8, OTHER), (9, "fresh and novel words entirely")], 1, ix, out)
    assert _survivor_ids(spark, out) == {4, 7, 9}


def test_attach_runs_as_real_stream(spark, tmp_path):
    import json
    import os

    from sparkstreamingflume_spark.streaming.neardup import (
        incremental_dedup_batch,
    )
    from sparkstreamingflume_spark.streaming.state import attach

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.json", "w") as f:
        for i, t in [(1, FOX), (2, FOX), (3, OTHER)]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    q = attach(
        incremental_dedup_batch,
        stream,
        str(tmp_path / "ix"),
        str(tmp_path / "ckpt"),
        out_dir=str(tmp_path / "out"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _survivor_ids(spark, tmp_path / "out") == {1, 3}


def test_compact_index_preserves_semantics(spark, tmp_path):
    from sparkstreamingflume_spark.streaming.neardup import compact_index

    ix, out = tmp_path / "ix", tmp_path / "out"
    _run_batch(spark, [(1, FOX), (2, OTHER)], 0, ix, out)
    _run_batch(spark, [(1, FOX), (2, OTHER)], 0, ix, out)  # replay churn
    _run_batch(spark, [(3, THIRD)], 1, ix, out)

    stats = compact_index(spark, str(ix))
    # replay doubled the batch-0 appends; compaction collapses them
    assert stats["exact"][0] > stats["exact"][1]
    assert stats["bands"][0] > stats["bands"][1]
    sigs = spark.read.parquet(str(ix / "exact"))
    assert sigs.count() == sigs.select("sig").distinct().count() == 3

    # post-compaction batches behave identically: dups of any earlier
    # survivor still drop, novel docs still keep, replay still safe
    _run_batch(spark, [(4, FOX), (5, THIRD), (6, "totally novel words")], 2, ix, out)
    assert _survivor_ids(spark, out) == {1, 2, 3, 6}
    _run_batch(spark, [(4, FOX), (5, THIRD), (6, "totally novel words")], 2, ix, out)
    assert _survivor_ids(spark, out) == {1, 2, 3, 6}


def test_compact_index_recovers_from_crash_states(spark, tmp_path):
    import os
    import shutil

    from sparkstreamingflume_spark.streaming.neardup import compact_index

    ix, out = tmp_path / "ix", tmp_path / "out"
    _run_batch(spark, [(1, FOX), (2, OTHER)], 0, ix, out)

    # crash state A: swap half-done — old exists, live dir missing
    os.rename(str(ix / "exact"), str(ix / ".exact_old"))
    stats = compact_index(spark, str(ix))
    assert "exact" in stats  # recovered the old dir and compacted it
    assert os.path.isdir(str(ix / "exact"))
    assert not os.path.isdir(str(ix / ".exact_old"))

    # crash state B: cleanup missed — stale old next to a live dir
    shutil.copytree(str(ix / "bands"), str(ix / ".bands_old"))
    stats = compact_index(spark, str(ix))
    assert "bands" in stats
    assert not os.path.isdir(str(ix / ".bands_old"))

    # the index still answers probes correctly after both recoveries
    _run_batch(spark, [(3, FOX), (4, "entirely new never seen words")], 1, ix, out)
    assert _survivor_ids(spark, out) == {1, 2, 4}


def test_compact_index_sweeps_leaked_tmp_dirs(spark, tmp_path):
    import os

    from sparkstreamingflume_spark.streaming.neardup import compact_index

    ix, out = tmp_path / "ix", tmp_path / "out"
    _run_batch(spark, [(1, FOX), (2, OTHER)], 0, ix, out)

    # crash state C: a compaction died mid-write, leaking its tmp dir
    leaked = ix / ".exact_compact_tmp"
    os.makedirs(leaked)
    with open(leaked / "part-junk.parquet", "w") as f:
        f.write("not parquet")
    stats = compact_index(spark, str(ix))
    assert "exact" in stats
    assert not os.path.exists(str(leaked))  # swept before the rewrite
    # live index still healthy
    sigs = spark.read.parquet(str(ix / "exact"))
    assert sigs.count() == 2


def test_null_text_docs_are_dropped_not_indexed(spark, tmp_path):
    """NULL-content contract parity with q_dedup_incremental: unknown
    content matches nothing and is NOT kept — a NULL-text doc must not
    survive, and no NULL sig may reach the exact index (where it would
    be dead weight every later probe pays for)."""
    ix, out = tmp_path / "ix", tmp_path / "out"
    _run_batch(spark, [(1, FOX), (2, None), (3, OTHER)], 0, ix, out)
    assert _survivor_ids(spark, out) == {1, 3}
    sigs = spark.read.parquet(str(ix / "exact"))
    assert sigs.filter("sig IS NULL").count() == 0
    assert sigs.count() == 2

    # a later NULL-text doc is still dropped, novel docs still kept
    _run_batch(spark, [(4, None), (5, "novel words never indexed before")], 1, ix, out)
    assert _survivor_ids(spark, out) == {1, 3, 5}
