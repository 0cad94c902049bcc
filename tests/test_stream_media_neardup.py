"""Streaming media near-dup index (streaming/media_neardup.py).

Certification (the streaming/knn.py strategy):

* **stream == batch** — bootstrap + batched ingest of a corpus whose
  buckets stay under BUCKET_CEIL (the first 400 driver docs; payload =
  the documents' UTF-8 bytes, the certified char==byte bridge) emits
  EXACTLY the certified batch query's pairs (q_media_neardup over the
  same fixture), because the frozen geometry (planes from the first
  2·bands·nbits ids, the same clamp floor) coincides with the batch
  plan's.
* **batch-granularity invariance** — one batch vs several.
* **the documented ceiling divergence** — on the FULL 500-doc corpus
  one bucket ends at 146 > BUCKET_CEIL=128: the batch plan drops it
  wholly, the stream keeps pairs emitted while it was small — stream
  output is a verified SUPERSET (history is not rewritten), the same
  inherent incremental-vs-batch divergence as the kNN twin's
  backward-looking edges.
* **replay idempotency** — re-running a batch rewrites its own output
  dir and cannot collide with its own index append.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _media(spark, sf=SF, lo=None, hi=None):
    from sparkstreamingflume_spark.session import load_table

    d = (
        load_table(spark, sf, "documents")
        .filter(F.length("text") > 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    if lo is not None:
        d = d.filter(F.col("media_id") >= lo)
    if hi is not None:
        d = d.filter(F.col("media_id") < hi)
    return d


def _subset_fixture(spark, tmp_path, n=400):
    """The first ``n`` driver docs as their own fixture dir — every
    signature bucket stays under BUCKET_CEIL (max occupancy measured
    117 at n=400 vs 146 > 128 at the full 500), so the batch plan and
    the stream see identical candidate sets."""
    import os

    from sparkstreamingflume_spark.session import load_table

    d = tmp_path / "subset"
    os.makedirs(d, exist_ok=True)
    load_table(spark, SF, "documents").filter(
        F.col("doc_id") < n
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _expected_pairs(spark, sf=SF):
    from sparkstreamingflume_spark.plans.registry import REGISTRY

    return {
        (r.media_a, r.media_b): r.cos_ppm
        for r in REGISTRY["q_media_neardup"].build(spark, sf).collect()
    }


def _got_pairs(spark, out):
    from sparkstreamingflume_spark.streaming.media_neardup import read_pairs

    return {
        (r.media_a, r.media_b): r.cos_ppm
        for r in read_pairs(spark, str(out)).collect()
    }


def test_stream_equals_batch_and_granularity_invariance(spark, tmp_path):
    from sparkstreamingflume_spark.streaming.media_neardup import (
        bootstrap_media_index,
        media_neardup_batch,
    )

    sub = _subset_fixture(spark, tmp_path)
    want = _expected_pairs(spark, sub)
    assert want, "fixture corpus must contain near-dup pairs"

    # split: bootstrap 0..300 (covers the 2*4*10=80 seed ids), then
    # stream the rest in two batches
    ix1, out1 = tmp_path / "ix1", tmp_path / "out1"
    st = bootstrap_media_index(
        spark, _media(spark, sub, hi=300), str(ix1), out_dir=str(out1)
    )
    assert st["nbits"] == 10 and st["planes"] > 0
    for bid, (lo, hi) in enumerate([(300, 350), (350, None)]):
        media_neardup_batch(
            _media(spark, sub, lo=lo, hi=hi), bid, str(ix1), str(out1)
        )
    assert _got_pairs(spark, out1) == want

    # same feed as ONE batch: identical output (boundary invariance)
    ix2, out2 = tmp_path / "ix2", tmp_path / "out2"
    bootstrap_media_index(
        spark, _media(spark, sub, hi=300), str(ix2), out_dir=str(out2)
    )
    media_neardup_batch(_media(spark, sub, lo=300), 0, str(ix2), str(out2))
    assert _got_pairs(spark, out2) == want


def test_full_corpus_stream_is_verified_superset_past_ceiling(
    spark, tmp_path
):
    """On the full 500-doc corpus one bucket ENDS over BUCKET_CEIL
    (146 > 128): the batch plan prunes it wholly; the stream emitted
    its early pairs while the bucket was small and does not rewrite
    history. Pin the divergence contract: stream ⊇ batch, every extra
    pair exact-verified at the threshold (the verify stage runs on
    every emitted pair regardless of bucket fate)."""
    from sparkstreamingflume_spark.plans.extension_queries import (
        MEDIA_NEARDUP_MIN_PPM,
    )
    from sparkstreamingflume_spark.streaming.media_neardup import (
        bootstrap_media_index,
        media_neardup_batch,
    )

    want = _expected_pairs(spark)  # the certified batch query, full SF
    ix, out = tmp_path / "ix", tmp_path / "out"
    bootstrap_media_index(
        spark, _media(spark, hi=300), str(ix), out_dir=str(out)
    )
    for bid, (lo, hi) in enumerate(
        [(300, 370), (370, 440), (440, None)]
    ):
        media_neardup_batch(
            _media(spark, lo=lo, hi=hi), bid, str(ix), str(out)
        )
    got = _got_pairs(spark, out)
    assert set(got) >= set(want)
    assert all(got[k] == v for k, v in want.items())
    extras = set(got) - set(want)
    assert extras, "the 500-doc corpus is known to cross the ceiling"
    assert all(got[k] >= MEDIA_NEARDUP_MIN_PPM for k in extras)


def test_replay_is_idempotent_and_compaction_keeps_min_batch(
    spark, tmp_path
):
    from sparkstreamingflume_spark.streaming.media_neardup import (
        HISTS_SCHEMA,
        SIGS_SCHEMA,
        bootstrap_media_index,
        compact_media_index,
        media_neardup_batch,
    )
    from sparkstreamingflume_spark.streaming.state import read_state

    ix, out = tmp_path / "ix", tmp_path / "out"
    bootstrap_media_index(
        spark, _media(spark, hi=300), str(ix), out_dir=str(out)
    )
    media_neardup_batch(_media(spark, lo=300, hi=400), 0, str(ix), str(out))
    first = _got_pairs(spark, out)
    sigs_once = read_state(spark, str(ix), "sigs", SIGS_SCHEMA).count()

    # replay batch 0: output unchanged (overwrites its own dir), index
    # rows append bit-identically (collapsed by compaction / reads)
    media_neardup_batch(_media(spark, lo=300, hi=400), 0, str(ix), str(out))
    assert _got_pairs(spark, out) == first

    media_neardup_batch(_media(spark, lo=400), 1, str(ix), str(out))
    after_b1 = _got_pairs(spark, out)

    st = compact_media_index(spark, str(ix))
    assert st["sigs"][1] == sigs_once + read_state(
        spark, str(ix), "sigs", SIGS_SCHEMA
    ).filter(F.col("batch_id") == 1).count()
    # min-batch_id kept: nothing moved to a newer batch
    assert (
        read_state(spark, str(ix), "hists", HISTS_SCHEMA)
        .filter(F.col("batch_id") == 0)
        .count()
        > 0
    )
    # reads after compaction serve the same pair history
    assert _got_pairs(spark, out) == after_b1


def test_unbootstrapped_index_raises(spark, tmp_path):
    import pytest

    from sparkstreamingflume_spark.streaming.media_neardup import (
        media_neardup_batch,
    )

    with pytest.raises(RuntimeError, match="not bootstrapped"):
        media_neardup_batch(
            _media(spark, hi=50), 0, str(tmp_path / "nope"), str(tmp_path / "o")
        )


def test_media_rebootstrap_rotates_geometry_to_the_batch_plan(
    spark, tmp_path
):
    """The media twin's frozen-geometry maintenance (the kNN index's
    r10→r12 arc, preempted): bootstrap on media ids 100..349 freezes
    planes from ids 100..179; streaming ids 0..99 makes the LIVE
    corpus's first ids differ from the frozen seeds; the
    growth-triggered re-bootstrap rebuilds planes + signatures FROM
    THE LIVE HISTOGRAMS (ids 0..79 — exactly the batch plan's seeds on
    this corpus), keeping each media's original batch_id and touching
    neither hists nor emitted pairs. Post-rotation ingest must then
    emit EXACTLY the certified batch query's pairs for the new
    arrivals — the stream's geometry has converged to the batch
    plan's. Pre-rotation pairs (found under the old geometry) are
    history and are NOT rewritten."""
    from pyspark.sql import functions as FF

    from sparkstreamingflume_spark.streaming.media_neardup import (
        GEOMETRY,
        MMETA_SCHEMA,
        PLANES_SCHEMA,
        SIGS_SCHEMA,
        bootstrap_media_index,
        media_neardup_batch,
    )
    from sparkstreamingflume_spark.streaming.state import (
        commit_rebuild,
        generation,
        prepare_rebuild,
        read_state,
    )

    sub = _subset_fixture(spark, tmp_path)  # ids 0..399, ceiling-clean
    ix, out = tmp_path / "ix", tmp_path / "out"
    st = bootstrap_media_index(
        spark, _media(spark, sub, lo=100, hi=350), str(ix), out_dir=str(out)
    )
    assert st["media"] == 250
    # below the growth bar at factor 2.0
    assert prepare_rebuild(spark, str(ix), GEOMETRY, 2.0) is None

    media_neardup_batch(_media(spark, sub, hi=100), 0, str(ix), str(out))

    # 350 >= 1.2 * 250: prepare stages, commit rotates
    prep = prepare_rebuild(spark, str(ix), GEOMETRY, 1.2)
    assert prep is not None and prep["geom_gen"] == 1
    # staged build touched no live state
    assert generation(
        read_state(spark, str(ix), "planes", PLANES_SCHEMA)
    ) == 0
    assert prepare_rebuild(spark, str(ix), GEOMETRY, 1.2) is None
    done = commit_rebuild(spark, str(ix), GEOMETRY)
    assert done is not None and done["base"] == 350
    assert generation(
        read_state(spark, str(ix), "planes", PLANES_SCHEMA)
    ) == 1
    assert generation(
        read_state(spark, str(ix), "mmeta", MMETA_SCHEMA)
    ) == 1
    # every media re-signed, original batch_id provenance preserved
    sigs = read_state(spark, str(ix), "sigs", SIGS_SCHEMA)
    assert sigs.select("media_id").distinct().count() == 350
    assert (
        sigs.filter(FF.col("media_id") < 100)
        .filter(FF.col("batch_id") != 0)
        .count()
        == 0
    )
    before = set(_got_pairs(spark, out))

    # the trigger re-stamped: no re-fire at the same size
    assert prepare_rebuild(spark, str(ix), GEOMETRY, 1.2) is None

    media_neardup_batch(_media(spark, sub, lo=350), 1, str(ix), str(out))
    got = _got_pairs(spark, out)
    new_pairs = {k: v for k, v in got.items() if k not in before}
    want_new = {
        k: v
        for k, v in _expected_pairs(spark, sub).items()
        if k[1] >= 350
    }
    assert new_pairs == want_new
    assert want_new, "fixture must add pairs in the post-rotation batch"


def test_media_rotation_landing_while_bucket_over_ceiling(spark, tmp_path):
    """Round-12 verdict task 8 — the last untested interaction: a
    geometry rotation that lands while a signature bucket is OVER
    BUCKET_CEIL (the full 500-doc corpus ends one bucket at 146 > 128).
    The rotation re-signs every media (members of the overflowing
    bucket included) and the post-rotation probes count the bucket's
    occupancy afresh under the NEW geometry — the combined contract is
    still the documented one: stream ⊇ the certified batch plan (which
    prunes the bucket wholly), every extra pair exact-verified, and
    pre-rotation history untouched."""
    from sparkstreamingflume_spark.plans.extension_queries import (
        MEDIA_NEARDUP_MIN_PPM,
    )
    from sparkstreamingflume_spark.streaming.media_neardup import (
        GEOMETRY,
        MMETA_SCHEMA,
        bootstrap_media_index,
        media_neardup_batch,
    )
    from sparkstreamingflume_spark.streaming.state import (
        commit_rebuild,
        generation,
        prepare_rebuild,
        read_state,
    )

    want = _expected_pairs(spark)  # certified batch query, full SF
    ix, out = tmp_path / "ix", tmp_path / "out"
    bootstrap_media_index(
        spark, _media(spark, lo=100, hi=350), str(ix), out_dir=str(out)
    )
    media_neardup_batch(_media(spark, hi=100), 0, str(ix), str(out))
    before = set(_got_pairs(spark, out))

    # the rotation lands HERE: live corpus = ids 0..349, so the new
    # planes coincide with the batch plan's seeds (ids 0..79), while
    # the overflow bucket's members are already partly indexed
    prep = prepare_rebuild(spark, str(ix), GEOMETRY, 1.2)
    assert prep is not None and prep["geom_gen"] == 1
    assert commit_rebuild(spark, str(ix), GEOMETRY) is not None
    assert generation(read_state(spark, str(ix), "mmeta", MMETA_SCHEMA)) == 1

    media_neardup_batch(_media(spark, lo=350), 1, str(ix), str(out))
    got = _got_pairs(spark, out)
    # superset of the batch plan, values exact where shared
    assert set(got) >= set(want)
    assert all(got[k] == v for k, v in want.items())
    # pre-rotation history is never rewritten
    assert before <= set(got)
    # the overflow makes extras non-optional, and all are verified
    extras = set(got) - set(want)
    assert extras, "the 500-doc corpus is known to cross the ceiling"
    assert all(got[k] >= MEDIA_NEARDUP_MIN_PPM for k in extras)


def test_media_staging_catchup_bounds_the_commit_tail(spark, tmp_path):
    """Media that arrive WHILE the sliced staging crawls must be
    absorbed by background CATCHUP slices, leaving the in-slot commit
    only a sub-slice residue (the unsliced design measured an 18k-doc
    tail after an 8-interval crawl — the tail grew with staging
    duration x rate). Also pins: the catch-up geometry equals the
    one-shot rebuild's bit-for-bit."""
    from pyspark.sql import functions as FF

    from sparkstreamingflume_spark.streaming.media_neardup import (
        GEOMETRY,
        SIGS_SCHEMA,
        bootstrap_media_index,
        media_neardup_batch,
    )
    from sparkstreamingflume_spark.streaming.state import (
        commit_rebuild,
        prepare_rebuild,
        read_state,
    )

    sub = _subset_fixture(spark, tmp_path)

    def ingest(ix, out):
        bootstrap_media_index(
            spark,
            _media(spark, sub, lo=100, hi=350),
            str(ix),
            out_dir=str(out),
        )
        media_neardup_batch(_media(spark, sub, hi=100), 0, str(ix), str(out))

    ix, out = tmp_path / "ix", tmp_path / "out"
    ingest(ix, out)
    phases = []
    mid_batch_done = False
    for _ in range(40):
        st = prepare_rebuild(spark, str(ix), GEOMETRY, 1.2, slice_rows=30)
        assert st is not None, "crawl must not stall mid-staging"
        phases.append(st["phase"])
        if st["phase"] == "final":
            break
        if len(phases) == 3 and not mid_batch_done:
            # 50 new media land mid-crawl (ids 350..400)
            media_neardup_batch(
                _media(spark, sub, lo=350), 1, str(ix), str(out)
            )
            mid_batch_done = True
    assert phases[-1] == "final"
    n_catch = phases.count("catchup")
    assert n_catch == 1, phases  # 50 arrivals: one 30-slice, 20 residue
    done = commit_rebuild(spark, str(ix), GEOMETRY)
    assert done is not None and done["base"] == 400
    assert done["tail"] == 20  # the residue, not the full 50

    # geometry parity: an identical corpus rebuilt one-shot must sign
    # identically (planes depend only on live hists content)
    ix2, out2 = tmp_path / "ix2", tmp_path / "out2"
    ingest(ix2, out2)
    media_neardup_batch(_media(spark, sub, lo=350), 1, str(ix2), str(out2))
    assert prepare_rebuild(spark, str(ix2), GEOMETRY, 1.2) is not None
    assert commit_rebuild(spark, str(ix2), GEOMETRY) is not None
    sig_of = lambda ixp: {
        tuple(r)
        for r in read_state(spark, str(ixp), "sigs", SIGS_SCHEMA)
        .select("media_id", "band", "band_sig")
        .collect()
    }
    assert sig_of(ix) == sig_of(ix2)
