"""Direct pins for the shared state-index plumbing (streaming/state.py).

The per-module stream≡batch / replay / compaction suites certify each
adopter end-to-end; this file pins the shared protocol's own state
machine — the recover/swap transitions and the live-or-old read
fallback (round-9 verdict hygiene item + funnels/drift ADVICE) — once,
directly, so a future protocol change is caught here before it
surfaces as four flaky stream suites.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
import pytest

from sparkstreamingflume_spark.streaming import knn, media_neardup, state
from sparkstreamingflume_spark.streaming.state import (
    attach,
    first_batch_compact,
    keepn_compact,
    list_first_fold,
    read_state,
    recover_index,
    write_swap,
)


def _mk(spark, rows, schema="k string, batch_id long"):
    return spark.createDataFrame(rows, schema)


def test_write_swap_roundtrip_and_read(spark, tmp_path):
    ix = str(tmp_path / "ix")
    n = write_swap(spark, _mk(spark, [("a", 0), ("b", 0)]), ix, "s")
    assert n == 2
    assert read_state(spark, ix, "s", "k string, batch_id long").count() == 2
    # second swap replaces, does not append
    n = write_swap(spark, _mk(spark, [("c", 1)]), ix, "s")
    assert n == 1
    got = read_state(spark, ix, "s", "k string, batch_id long").collect()
    assert [r["k"] for r in got] == ["c"]
    assert not os.path.exists(f"{ix}/.s_old")
    assert not os.path.exists(f"{ix}/.s_tmp")


def test_read_state_falls_back_to_old_mid_swap(spark, tmp_path):
    ix = str(tmp_path / "ix")
    write_swap(spark, _mk(spark, [("a", 0)]), ix, "s")
    # simulate the one-rename-pair window: live renamed aside
    os.rename(f"{ix}/s", f"{ix}/.s_old")
    got = read_state(spark, ix, "s", "k string, batch_id long").collect()
    assert [r["k"] for r in got] == ["a"]
    # never-existed index reads empty (bootstrap), not an error
    assert read_state(spark, ix, "nope", "k string, batch_id long").count() == 0


def test_recover_restores_or_discards_old(spark, tmp_path):
    ix = str(tmp_path / "ix")
    write_swap(spark, _mk(spark, [("a", 0)]), ix, "s")
    # crash mid-swap: old exists, live missing -> recover renames back
    os.rename(f"{ix}/s", f"{ix}/.s_old")
    recover_index(spark, ix, "s")
    assert os.path.exists(f"{ix}/s") and not os.path.exists(f"{ix}/.s_old")
    # crash pre-cleanup: old AND live exist -> old is debris, deleted
    write_swap(spark, _mk(spark, [("b", 1)]), ix, "junk_old_donor")
    os.rename(f"{ix}/junk_old_donor", f"{ix}/.s_old")
    recover_index(spark, ix, "s")
    assert not os.path.exists(f"{ix}/.s_old")
    got = read_state(spark, ix, "s", "k string, batch_id long").collect()
    assert [r["k"] for r in got] == ["a"]
    # leaked tmp dirs are swept, both naming generations
    os.makedirs(f"{ix}/.s_tmp")
    os.makedirs(f"{ix}/.s_compact_tmp")
    recover_index(spark, ix, "s")
    assert not os.path.exists(f"{ix}/.s_tmp")
    assert not os.path.exists(f"{ix}/.s_compact_tmp")


def test_keepn_keeps_newest_distinct_batches(spark, tmp_path):
    ix = str(tmp_path / "ix")
    rows = [
        ("u1", 0), ("u1", 1), ("u1", 2),  # three batches -> keep 2 newest
        ("u1", 2),                        # bit-identical replay row
        ("u2", 5),
    ]
    _mk(spark, rows).write.parquet(f"{ix}/s")
    out = keepn_compact(
        spark, ix, "s", "k string, batch_id long", ("k",), 2
    )
    assert out == {"s_before": 5, "s_after": 3}
    got = {
        (r["k"], r["batch_id"])
        for r in read_state(spark, ix, "s", "k string, batch_id long").collect()
    }
    assert got == {("u1", 1), ("u1", 2), ("u2", 5)}
    # missing index is a no-op, not an error
    assert keepn_compact(
        spark, ix, "absent", "k string, batch_id long", ("k",), 2
    ) == {}


def test_list_first_fold_watermark_and_replay(spark, tmp_path):
    ix = str(tmp_path / "ix")
    dsch = "g string, v long, batch_id long"
    bsch = "g string, v long, wm long"
    _mk(spark, [("a", 1, 0), ("a", 2, 1), ("a", 2, 1)], dsch).write.parquet(
        f"{ix}/delta"
    )
    kw = dict(
        delta_schema=dsch,
        base_schema=bsch,
        count_before=True,
        collapse=lambda d: d.groupBy("batch_id", "g").agg(
            F.max("v").alias("v")
        ),
        fold=lambda base, fresh: base.select("g", "v")
        .unionByName(fresh.select("g", "v"))
        .groupBy("g")
        .agg(F.sum("v").alias("v")),
    )
    out = list_first_fold(spark, ix, **kw)
    # replay rows collapse per (batch, g): 1 + 2, not 1 + 2 + 2
    assert out["wm"] == 1 and out["rows_after"] == 1
    base = spark.read.schema(bsch).parquet(f"{ix}/base").collect()
    assert (base[0]["g"], base[0]["v"]) == ("a", 3)
    # a replayed already-folded batch is reclaimed without re-folding
    _mk(spark, [("a", 2, 1)], dsch).write.mode("append").parquet(
        f"{ix}/delta"
    )
    assert list_first_fold(spark, ix, **kw) == {}
    assert (
        spark.read.schema(bsch).parquet(f"{ix}/base").first()["v"] == 3
    )
    # nothing at all to fold
    assert list_first_fold(spark, ix, **kw) == {}


def test_first_batch_compact_keeps_min_batch_per_key(spark, tmp_path):
    ix = str(tmp_path / "ix")
    sch = "k string, batch_id long, v string"
    rows = [
        ("a", 2, "x"), ("a", 0, "x"), ("a", 1, "x"),  # min batch_id wins
        ("b", 1, "y"), ("b", 1, "y"),                 # bit-identical replay
    ]
    _mk(spark, rows, sch).write.parquet(f"{ix}/s")
    assert first_batch_compact(spark, ix, "s", sch, ["k"]) == (5, 2)
    got = {tuple(r) for r in read_state(spark, ix, "s", sch).collect()}
    assert got == {("a", 0, "x"), ("b", 1, "y")}
    assert len([f for f in os.listdir(f"{ix}/s") if f.endswith(".parquet")]) == 1
    # absent and empty indexes are skipped, not swapped
    assert first_batch_compact(spark, ix, "absent", sch, ["k"]) is None
    _mk(spark, [], sch).write.parquet(f"{ix}/empty")
    assert first_batch_compact(spark, ix, "empty", sch, ["k"]) is None


def test_first_batch_compact_recovers_crashed_swap_first(spark, tmp_path):
    ix = str(tmp_path / "ix")
    sch = "k string, batch_id long, v string"
    _mk(spark, [("a", 3, "x"), ("a", 1, "x")], sch).write.parquet(f"{ix}/s")
    # crash mid-swap: only .s_old holds the index
    os.rename(f"{ix}/s", f"{ix}/.s_old")
    assert first_batch_compact(spark, ix, "s", sch, ["k"]) == (2, 1)
    assert not os.path.exists(f"{ix}/.s_old")
    assert [tuple(r) for r in read_state(spark, ix, "s", sch).collect()] == [
        ("a", 1, "x")
    ]


def test_attach_calls_update_once_per_batch(spark, tmp_path):
    src, ix, ckpt = tmp_path / "src", str(tmp_path / "ix"), str(tmp_path / "ckpt")
    os.makedirs(src)
    for n in range(2):
        (src / f"{n}.json").write_text(json.dumps({"k": f"k{n}"}) + "\n")
    calls = []

    def update(batch, batch_id, index_dir, **kw):
        calls.append((batch_id, index_dir, kw, batch.count()))

    def run():
        stream = (
            spark.readStream.schema("k string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = attach(update, stream, ix, ckpt, tag="t")
        q = q.trigger(availableNow=True).start()
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()

    run()
    assert calls == [(0, ix, {"tag": "t"}, 1), (1, ix, {"tag": "t"}, 1)]
    # restart on the same checkpoint, no new files: nothing re-runs
    run()
    assert len(calls) == 2


# ---- the generational geometry rebuild ------------------------------
#
# One harness over three indexes: ``toy`` (a fake spec on 20 rows: the
# geometry is the snapshot's max key, and assign tags each row with it),
# ``knn`` and ``media`` (the sf0.001 fixtures). Each case bootstraps,
# ingests a growth batch, rebuilds, and ingests one more batch B.

TOY_ROWS = "k long, top long, batch_id long"
TOY = state.Geometry(
    geometry="geo",
    geometry_schema="top long, geom_gen long",
    meta="tmeta",
    meta_schema="base long, geom_gen long",
    base_col="base",
    rotated="rows",
    rotated_schema=TOY_ROWS,
    source="rows",
    source_schema=TOY_ROWS,
    keys=("k",),
    build=lambda snap, n: (snap.agg(F.max("k").alias("top")), n),
    assign=lambda rows, geo, n: rows.drop("top")
    .crossJoin(geo.select("top"))
    .select("k", "top", "batch_id"),
    meta_row=lambda n, base, gen: (base, gen),
)


def _toy_update(batch, batch_id, ix):
    """The toy's update batch: tag new keys with the live geometry and
    emit, per new key, how many prior rows share its tag (the toy's
    edges — wrong if the tag and the prior rows' tags disagree)."""
    spark = batch.sparkSession
    state.ensure_geometry(spark, ix, TOY)
    top = read_state(spark, ix, "geo", TOY.geometry_schema).select("top")
    cell = (
        read_state(spark, ix, "rows", TOY_ROWS)
        .filter(F.col("batch_id") < batch_id)
        .groupBy("top")
        .count()
    )
    new = batch.crossJoin(top).withColumn(
        "batch_id", F.lit(batch_id).cast("long")
    )
    new.join(cell, "top", "left").select(
        "k", F.coalesce("count", F.lit(0)).alias("n")
    ).write.mode("append").parquet(f"{ix}/out")
    new.select("k", "top", "batch_id").write.mode("append").parquet(
        f"{ix}/rows"
    )


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


class _Toy:
    spec, factor = TOY, 1.5

    def boot(self, spark, root):
        ix = f"{root}/ix"
        write_swap(
            spark,
            _keys(spark, 0, 8).select(
                "k", F.lit(7).cast("long").alias("top"),
                F.lit(-1).cast("long").alias("batch_id"),
            ),
            ix,
            "rows",
        )
        write_swap(spark, _mk(spark, [(7, 0)], TOY.geometry_schema), ix, "geo")
        write_swap(spark, _mk(spark, [(8, 0)], TOY.meta_schema), ix, "tmeta")
        _toy_update(_keys(spark, 8, 14), 0, ix)

    def batch(self, spark, root):
        _toy_update(_keys(spark, 14, 20), 1, f"{root}/ix")

    def output(self, spark, root):
        return sorted(
            tuple(r) for r in spark.read.parquet(f"{root}/ix/out").collect()
        )


class _Knn:
    spec, factor = knn.GEOMETRY, 2.0

    def _feed(self, spark, root, ids, batch_id):
        from test_stream_knn import _batch_df, _vectors

        vecs = _vectors()
        part = {i: vecs[i] for i in ids}
        # nprobe below the 8 cells: edges depend on the cell assignment,
        # so a probe across generations shows in them
        knn.knn_update_batch(
            _batch_df(spark, part), batch_id, f"{root}/ix", 2
        )

    def boot(self, spark, root):
        from test_stream_knn import _vectors, _write_corpus

        # the fixture's ids run densely from 0; bootstrapping without
        # ids 4..11 gives 4 cells, and the rebuild's first-8 ids differ
        vecs = _vectors()
        boot = {i: vecs[i] for i in [*range(4), *range(12, 38)]}
        corpus = _write_corpus(spark, f"{root}/c0", boot)
        knn.bootstrap_knn_index(spark, corpus, f"{root}/ix")
        self._feed(spark, root, [*range(4, 12), *range(38, 90)], 0)

    def batch(self, spark, root):
        self._feed(spark, root, range(90, 110), 1)

    def output(self, spark, root):
        return sorted(
            tuple(r) for r in knn.read_edges(spark, f"{root}/ix").collect()
        )


class _Media:
    spec, factor = media_neardup.GEOMETRY, 1.2

    def boot(self, spark, root):
        import pathlib

        from test_stream_media_neardup import _media, _subset_fixture

        self.sub = _subset_fixture(spark, pathlib.Path(root).parent)
        ix, out = f"{root}/ix", f"{root}/out"
        media_neardup.bootstrap_media_index(
            spark, _media(spark, self.sub, lo=100, hi=350), ix, out_dir=out
        )
        media_neardup.media_neardup_batch(
            _media(spark, self.sub, hi=100), 0, ix, out
        )

    def batch(self, spark, root):
        from test_stream_media_neardup import _media

        media_neardup.media_neardup_batch(
            _media(spark, self.sub, lo=350), 1, f"{root}/ix", f"{root}/out"
        )

    def output(self, spark, root):
        pairs = media_neardup.read_pairs(spark, f"{root}/out")
        return sorted(tuple(r) for r in pairs.collect())


_KINDS = [
    pytest.param(_Toy, id="toy"),
    pytest.param(_Knn, id="knn", marks=pytest.mark.slow),
    pytest.param(_Media, id="media", marks=pytest.mark.slow),
]


def _rebuild(spark, kind, root, slice_rows=None):
    """prepare until final or None, then commit — the production path;
    returns the prepare phases."""
    ix, phases = f"{root}/ix", []
    while True:
        st = state.prepare_rebuild(
            spark, ix, kind.spec, kind.factor, slice_rows=slice_rows
        )
        if st is None:
            break
        phases.append(st["phase"])
        if st["phase"] == "final":
            break
    state.commit_rebuild(spark, ix, kind.spec)
    return phases


def _index_state(spark, kind, root):
    ix, spec = f"{root}/ix", kind.spec

    def rows(name, schema):
        return sorted(
            tuple(r) for r in read_state(spark, ix, name, schema).collect()
        )

    return {
        "geometry": rows(spec.geometry, spec.geometry_schema),
        "rotated": rows(spec.rotated, spec.rotated_schema),
        "meta": rows(spec.meta, spec.meta_schema),
        "output": kind.output(spark, root),
        # staged dirs, the snapshot, swap debris and the record
        "leftovers": sorted(
            n for n in os.listdir(ix) if n.startswith(".") or n == "rebuild"
        ),
    }


class _Crash(Exception):
    pass


@pytest.mark.parametrize("kind_cls", _KINDS)
def test_rebuild_recovers_from_a_crash_at_every_call(
    spark, tmp_path, monkeypatch, kind_cls
):
    """Record the write_swap / swap_in / drop calls of a clean prepare
    + commit. Then, for each call i, raise instead of making it, and
    recover the way a restarted stream does: the next update batch B
    (whose ensure_geometry finishes a half-made commit), prepare until
    final or None, commit. The index must equal the uninterrupted run
    that matches what the crash left: no record yet -> B ran before the
    rebuild; a record but no geometry swap -> B ran while the rebuild
    was staged (the old generation kept serving, the commit's tail
    takes B); a geometry swap -> B ran after the rebuild (the batch
    finished the commit first)."""
    import shutil

    kind = kind_cls()
    base = tmp_path / "base"
    kind.boot(spark, str(base))

    calls, plan = [], {"raise_at": None}
    for fn in ("write_swap", "swap_in", "_drop"):
        real = getattr(state, fn)

        def wrapped(*a, _fn=fn, _real=real, **kw):
            call = (_fn, a[3] if _fn == "write_swap" else a[2])
            if plan["raise_at"] is None:
                calls.append(call)
            elif plan["raise_at"] == plan["seen"]:
                plan["raise_at"] = None
                raise _Crash(*call)
            else:
                plan["seen"] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(state, fn, wrapped)

    def case(name):
        root = tmp_path / name
        shutil.copytree(base, root)
        return str(root)

    after = case("after")
    assert _rebuild(spark, kind, after) == ["final"]
    recorded = list(calls)
    kind.batch(spark, after)
    want_after = _index_state(spark, kind, after)
    assert want_after["leftovers"] == []
    assert recorded[-2:] == [("_drop", ".rebuild_snap"), ("_drop", "rebuild")]
    swap_geometry = recorded.index(("swap_in", kind.spec.geometry))

    before = case("before")
    kind.batch(spark, before)
    _rebuild(spark, kind, before)
    want_before = _index_state(spark, kind, before)
    assert want_before != want_after

    during = case("during")
    st = state.prepare_rebuild(spark, f"{during}/ix", kind.spec, kind.factor)
    assert st["phase"] == "final"
    kind.batch(spark, during)
    assert state.commit_rebuild(spark, f"{during}/ix", kind.spec)["tail"] > 0
    want_during = _index_state(spark, kind, during)
    first_record = recorded.index(("write_swap", "rebuild"))

    for i, call in enumerate(recorded):
        root = case(f"crash{i}")
        plan.update(raise_at=i, seen=0)
        with pytest.raises(_Crash):
            _rebuild(spark, kind, root)
        assert plan["raise_at"] is None, call
        kind.batch(spark, root)
        _rebuild(spark, kind, root)
        if i <= first_record:
            want = want_before
        elif i <= swap_geometry:
            want = want_during
        else:
            want = want_after
        assert _index_state(spark, kind, root) == want, (i, call)


@pytest.mark.parametrize("kind_cls", _KINDS)
def test_sliced_rebuild_matches_one_shot(spark, tmp_path, kind_cls):
    """A crawl in small slices — each prepare call one bounded step,
    live state untouched and nothing committable until the final one —
    rebuilds the same index as a one-shot prepare."""
    import shutil

    kind = kind_cls()
    base = tmp_path / "base"
    kind.boot(spark, str(base))
    shutil.copytree(base, tmp_path / "sliced")
    shutil.copytree(base, tmp_path / "once")
    sliced, ix = str(tmp_path / "sliced"), str(tmp_path / "sliced" / "ix")
    n = read_state(
        spark, ix, kind.spec.source, kind.spec.source_schema
    ).select(kind.spec.keys[0]).distinct().count()
    step = -(-n // 4)  # four slices
    phases = []
    while True:
        st = state.prepare_rebuild(
            spark, ix, kind.spec, kind.factor, slice_rows=step
        )
        assert st is not None, "the crawl must not stall"
        phases.append(st["phase"])
        if st["phase"] == "final":
            break
        assert state.commit_rebuild(spark, ix, kind.spec) is None
        live = read_state(
            spark, ix, kind.spec.geometry, kind.spec.geometry_schema
        )
        assert state.generation(live) == 0
    assert phases == ["init", "slice", "slice", "slice", "slice", "final"]
    # staged and awaiting commit: no further prepare fires
    assert (
        state.prepare_rebuild(spark, ix, kind.spec, kind.factor, step) is None
    )
    done = state.commit_rebuild(spark, ix, kind.spec)
    assert done["geom_gen"] == 1 and done["base"] == n and done["tail"] == 0
    kind.batch(spark, sliced)

    once = str(tmp_path / "once")
    assert _rebuild(spark, kind, once) == ["final"]
    kind.batch(spark, once)
    assert _index_state(spark, kind, sliced) == _index_state(
        spark, kind, once
    )
