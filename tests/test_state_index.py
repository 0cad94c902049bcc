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
