"""Streaming corpus-overlap tracker (streaming/overlap.py).

Certification is STREAM == BATCH against the oracle-certified
q_corpus_overlap, bit-identical under any micro-batch boundaries —
min-merge mergeability is the signature's defining property. The
replay test is the algebraic contrast with the CMS counter twin: a
re-appended partial changes NOTHING because min is idempotent, so no
watermark machinery exists to test.
"""

from __future__ import annotations

import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _batch_output(spark):
    from sparkstreamingflume_spark.plans import REGISTRY

    return {
        (r["source_a"], r["source_b"]): (r["n_match"], r["jaccard_est_ppm"])
        for r in REGISTRY["q_corpus_overlap"].build(spark, SF).collect()
    }


def _stream_output(spark, index_dir):
    from sparkstreamingflume_spark.streaming.overlap import source_overlap

    return {
        (r["source_a"], r["source_b"]): (r["n_match"], r["jaccard_est_ppm"])
        for r in source_overlap(spark, str(index_dir)).collect()
    }


def _feed(spark, index_dir, splits):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.overlap import (
        overlap_update_batch,
    )

    docs = load_table(spark, SF, "documents")
    bounds = [None, *splits, None]
    for i in range(len(bounds) - 1):
        part = docs
        if bounds[i] is not None:
            part = part.filter(F.col("doc_id") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("doc_id") < bounds[i + 1])
        overlap_update_batch(part, i, str(index_dir))


@pytest.mark.parametrize("splits", [(), (17,), (5, 23, 41)])
def test_stream_equals_batch_under_any_batching(spark, tmp_path, splits):
    ix = tmp_path / f"ix{len(splits)}"
    _feed(spark, ix, splits)
    assert _stream_output(spark, ix) == _batch_output(spark)


def test_replay_is_idempotent_by_algebra(spark, tmp_path):
    """Append batch 1's partials TWICE — min(x, x) = x, so the output is
    unchanged with no watermark or dedup step involved."""
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.overlap import (
        overlap_update_batch,
    )

    ix = tmp_path / "ix"
    _feed(spark, ix, (17,))
    want = _stream_output(spark, ix)
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") >= 17)
    overlap_update_batch(docs, 1, str(ix))
    assert _stream_output(spark, ix) == want


def test_compaction_is_pure_hygiene(spark, tmp_path):
    from sparkstreamingflume_spark.functions.text import N_PERM
    from sparkstreamingflume_spark.streaming.overlap import (
        compact_signatures,
    )

    ix = tmp_path / "ix"
    assert compact_signatures(spark, str(ix)) == {}  # no index yet
    _feed(spark, ix, (5, 23, 41))
    stats = compact_signatures(spark, str(ix))
    assert stats["rows_after"] <= stats["rows_before"]
    # one row per (source, perm) — 20 fixture sources
    assert stats["rows_after"] == 20 * N_PERM
    assert _stream_output(spark, ix) == _batch_output(spark)
    # appending after compaction still min-merges correctly
    _feed_again = _feed(spark, ix, ())  # full fixture once more
    assert _stream_output(spark, ix) == _batch_output(spark)


def test_compaction_recovers_crash_leftovers(spark, tmp_path):
    """compact_signatures runs the shared state.recover_index on "sig"
    first: a leaked fold dir is swept, a ``.sig_old`` with no live dir
    is restored, and a stale one next to a live dir is dropped — and
    the estimates read the same after each."""
    import os
    import shutil

    from sparkstreamingflume_spark.streaming.overlap import (
        compact_signatures,
    )

    ix = tmp_path / "ix"
    _feed(spark, ix, (17,))
    want = _stream_output(spark, ix)

    leaked = ix / ".sig_compact_tmp"
    os.makedirs(leaked)
    (leaked / "part-junk.parquet").write_text("not parquet")
    assert compact_signatures(spark, str(ix))
    assert not leaked.exists()
    assert _stream_output(spark, ix) == want

    _feed(spark, ix, (29,))  # replayed partials: >1 file to fold again
    os.rename(ix / "sig", ix / ".sig_old")
    assert compact_signatures(spark, str(ix))
    assert (ix / "sig").is_dir() and not (ix / ".sig_old").exists()
    assert _stream_output(spark, ix) == want

    _feed(spark, ix, (5,))
    shutil.copytree(ix / "sig", ix / ".sig_old")
    assert compact_signatures(spark, str(ix))
    assert not (ix / ".sig_old").exists()
    assert _stream_output(spark, ix) == want


def test_empty_and_short_batches_append_nothing(spark, tmp_path):
    from sparkstreamingflume_spark.streaming.overlap import (
        overlap_update_batch,
    )

    ix = tmp_path / "ix"
    _feed(spark, ix, (17,))
    want = _stream_output(spark, ix)
    empty = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )
    shorts = spark.createDataFrame(
        [(1, "too short", "s0"), (2, None, "s1")],
        "doc_id long, text string, source string",
    )
    overlap_update_batch(empty, 2, str(ix))
    overlap_update_batch(shorts, 3, str(ix))
    assert _stream_output(spark, ix) == want


def test_attach_runs_as_real_stream(spark, tmp_path):
    import json
    import os

    from sparkstreamingflume_spark.streaming.overlap import (
        overlap_update_batch,
        source_overlap,
    )
    from sparkstreamingflume_spark.streaming.state import attach

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.json", "w") as f:
        rows = [
            (1, "red green blue cyan magenta yellow", "a"),
            (2, "red green blue cyan magenta yellow", "b"),
            (3, "one two three four five six seven", "c"),
        ]
        for i, t, s in rows:
            f.write(
                json.dumps({"doc_id": i, "text": t, "source": s}) + "\n"
            )
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).json(str(src))
    q = attach(
        overlap_update_batch,
        stream,
        str(tmp_path / "ix"),
        str(tmp_path / "ckpt"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["source_a"], r["source_b"]): r["jaccard_est_ppm"]
        for r in source_overlap(spark, str(tmp_path / "ix")).collect()
    }
    # identical corpora estimate exactly 1.0; disjoint ones do not
    assert got[("a", "b")] == 1_000_000
    assert got[("a", "c")] < 1_000_000


def test_append_unseen_by_fold_listing_survives_compaction(spark, tmp_path):
    """The mid-fold-append race, simulated at the file level: a partial
    appended AFTER the fold's file listing (here: a part-file renamed so
    the listing skips it) must survive compaction and keep contributing
    to reads. The legacy whole-dir rename-swap silently discarded it."""
    import os

    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.session import load_table
    from sparkstreamingflume_spark.streaming.overlap import (
        compact_signatures,
        overlap_update_batch,
    )

    ix = tmp_path / "ix"
    sig = ix / "sig"
    docs = load_table(spark, SF, "documents")
    overlap_update_batch(docs.filter(F.col("doc_id") < 10), 0, str(ix))
    overlap_update_batch(
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 17)),
        1,
        str(ix),
    )
    before = set(os.listdir(sig))
    overlap_update_batch(docs.filter(F.col("doc_id") >= 17), 2, str(ix))
    late = [
        f
        for f in os.listdir(sig)
        if f not in before and f.startswith("part-")
    ]
    assert late
    for i, f in enumerate(late):
        os.rename(sig / f, sig / f"late-{i}.parquet")
    stats = compact_signatures(spark, str(ix))
    assert stats["n_files"] >= 1
    # the unseen files are untouched and still min-merged into reads
    assert all(
        os.path.exists(sig / f"late-{i}.parquet") for i in range(len(late))
    )
    assert _stream_output(spark, ix) == _batch_output(spark)
