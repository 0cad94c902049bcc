"""Streaming incremental kNN graph (streaming/knn.py).

Certification:

* **bootstrap == batch graph** — a freshly-bootstrapped index serves
  exactly ``knn_graph``'s certified edges, and the SemDeDup increment
  over the live index equals ``q_dedup_semantic`` (the "from-graph
  query reads the live index unchanged" contract).
* **exact oracle at full probe** — with nprobe >= cell count the
  candidate set is every strictly-prior rep, so each new vector's
  edge list must equal an independently-computed numpy brute-force
  top-k over earlier vectors (ppm floor, nbr_id tie-break).
* **batch-granularity invariance** — an id-ordered feed produces the
  same edges fed as one batch or split arbitrarily (the
  backward-looking candidate rule makes edges a function of the
  sequence, not the boundaries).
* replay / exact-dup / compaction — the neardup index contracts.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from pyspark.sql import functions as F
import pytest

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _vectors():
    t = pq.read_table(f"{SF}/embeddings.parquet").to_pydict()
    out = {}
    for i, e in zip(t["vec_id"], t["embedding"]):
        if e is not None and not any(x is None for x in e):
            out[i] = [float(x) for x in e]
    return out


def _write_corpus(spark, d, vecs):
    spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def _batch_df(spark, vecs):
    return spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )


def _edges(spark, ix):
    from sparkstreamingflume_spark.streaming.knn import read_edges

    return {tuple(r) for r in read_edges(spark, str(ix)).collect()}


def _expected_topk(qv, cand, k=5):
    """Brute-force (nbr_id, cos_ppm, rn) list for one query vector over
    a {vec_id: vec} candidate dict — ppm floor, score desc, id asc."""
    nq = math.sqrt(sum(x * x for x in qv))
    scored = []
    for i, v in sorted(cand.items()):
        ppm = math.floor(
            sum(a * b for a, b in zip(qv, v))
            * 1_000_000.0
            / (nq * math.sqrt(sum(x * x for x in v)))
        )
        scored.append((i, int(ppm)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return [
        (i, ppm, rn + 1) for rn, (i, ppm) in enumerate(scored[:k])
    ]


def test_bootstrap_serves_the_certified_batch_graph(spark, tmp_path):
    from sparkstreamingflume_spark.plans.extension_queries import (
        _semantic_clusters,
        knn_graph,
    )
    from sparkstreamingflume_spark.plans.registry import REGISTRY
    from sparkstreamingflume_spark.streaming.knn import (
        bootstrap_knn_index,
        read_edges,
    )

    ix = tmp_path / "ix"
    stats = bootstrap_knn_index(spark, SF, str(ix))
    assert stats["edges"] > 0 and stats["members"] > 0
    want = {tuple(r) for r in knn_graph(spark, SF).collect()}
    assert _edges(spark, ix) == want
    # warm-index SemDeDup == the certified inline query
    live = {
        tuple(r)
        for r in _semantic_clusters(read_edges(spark, str(ix))).collect()
    }
    inline = {
        tuple(r)
        for r in REGISTRY["q_dedup_semantic"].build(spark, SF).collect()
    }
    assert live == inline


def test_exact_oracle_at_full_probe_and_granularity_invariance(
    spark, tmp_path
):
    from sparkstreamingflume_spark.streaming.knn import (
        bootstrap_knn_index,
        knn_update_batch,
    )

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    new = {i: vecs[i] for i in ids[30:]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)

    ix1 = tmp_path / "one"
    bootstrap_knn_index(spark, corpus, str(ix1))
    boot_edges = _edges(spark, ix1)
    knn_update_batch(_batch_df(spark, new), 0, str(ix1), nprobe=8)
    one = _edges(spark, ix1)

    # independently-computed oracle: candidates for q = all boot reps
    # plus smaller-id new vectors (nprobe=8 == all 8 cells)
    want = set(boot_edges)
    new_ids = sorted(new)
    for pos, q in enumerate(new_ids):
        cand = dict(boot)
        cand.update({i: new[i] for i in new_ids[:pos]})
        for nbr, ppm, rn in _expected_topk(vecs[q], cand):
            want.add((q, nbr, ppm, rn))
    assert one == want

    # same feed in three id-ordered splits -> identical edges
    ix3 = tmp_path / "three"
    bootstrap_knn_index(spark, corpus, str(ix3))
    for b, lo in enumerate(range(0, len(new_ids), 7)):
        part = {i: new[i] for i in new_ids[lo : lo + 7]}
        knn_update_batch(_batch_df(spark, part), b, str(ix3), nprobe=8)
    assert _edges(spark, ix3) == one


def test_replay_exact_dups_and_compaction(spark, tmp_path):
    from sparkstreamingflume_spark.streaming.knn import (
        MEMBERS_SCHEMA,
        bootstrap_knn_index,
        compact_index,
        knn_update_batch,
        read_edges,
    )
    from sparkstreamingflume_spark.streaming.state import read_state

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))

    # batch 0: ten genuinely-new vectors plus one exact COPY of a
    # bootstrap vector under a fresh id — the copy gets no edges and
    # no member row (it is not a rep)
    copy_id = 9_999
    b0 = {i: vecs[i] for i in ids[30:40]}
    b0[copy_id] = list(boot[ids[0]])
    knn_update_batch(_batch_df(spark, b0), 0, str(ix), nprobe=8)
    base = _edges(spark, ix)
    assert not any(q == copy_id for q, *_ in base)
    members = read_state(spark, str(ix), "members", MEMBERS_SCHEMA)
    assert members.filter(F.col("vec_id") == copy_id).count() == 0

    # replay of batch 0 appends only bit-identical rows
    knn_update_batch(_batch_df(spark, b0), 0, str(ix), nprobe=8)
    assert _edges(spark, ix) == base

    # compaction preserves reads and the replay contract
    stats = compact_index(spark, str(ix))
    assert stats["members"][1] <= stats["members"][0]
    assert _edges(spark, ix) == base
    knn_update_batch(_batch_df(spark, b0), 0, str(ix), nprobe=8)
    assert _edges(spark, ix) == base

    # a later batch sees batch 0's vectors as candidates
    b1 = {i: vecs[i] for i in ids[40:]}
    knn_update_batch(_batch_df(spark, b1), 1, str(ix), nprobe=8)
    later = _edges(spark, ix)
    b0_ids = set(b0) - {copy_id}
    assert any(
        n in b0_ids for q, n, *_ in later if q in set(b1)
    ), "later batch never matched batch-0 members"
    # rn stays a valid ranking per query
    from collections import defaultdict

    per_q = defaultdict(list)
    for q, n, ppm, rn in later:
        per_q[q].append((rn, ppm))
    for q, lst in per_q.items():
        lst.sort()
        assert [r for r, _ in lst] == list(range(1, len(lst) + 1)), q
        assert all(
            lst[i][1] >= lst[i + 1][1] for i in range(len(lst) - 1)
        ), q


def test_attach_runs_as_real_stream(spark, tmp_path):
    import json

    from sparkstreamingflume_spark.streaming.knn import (
        bootstrap_knn_index,
        knn_update_batch,
    )
    from sparkstreamingflume_spark.streaming.state import attach

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))
    before = _edges(spark, ix)

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.json", "w") as f:
        for i in ids[30:]:
            f.write(
                json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n"
            )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    q = attach(
        knn_update_batch, stream, str(ix), str(tmp_path / "ckpt"), nprobe=8
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    after = _edges(spark, ix)
    assert before < after
    assert {q_ for q_, *_ in after - before} == set(ids[30:])


def test_rebootstrap_preserves_edges_and_rebuilds_geometry(
    spark, tmp_path
):
    """Round-10 verdict task 4: the growth-triggered geometry rebuild.
    (a) maybe_rebootstrap fires once members reach growth_factor x the
    last-stamped base and re-stamps, so it does NOT fire again at the
    same size; (b) EDGE ROWS are preserved verbatim across the swap
    (the backward-looking contract — a geometry change must not
    rewrite history); (c) the rebuilt members are each assigned to
    their nearest NEW centroid (numpy-checked for every member) and
    the cell count follows max(8, ceil(n/TARGET_CELL)); (d) ingest
    after the swap is still exact at full probe against the brute
    oracle — the swap is invisible to the edge semantics."""
    import math as _m

    from sparkstreamingflume_spark.plans.extension_queries import (
        EMB_TARGET_CELL,
    )
    from sparkstreamingflume_spark.streaming.knn import (
        CENTS_SCHEMA,
        MEMBERS_SCHEMA,
        bootstrap_knn_index,
        knn_update_batch,
        maybe_rebootstrap,
    )
    from sparkstreamingflume_spark.streaming.state import read_state

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    growth = {i: vecs[i] for i in ids[30:90]}
    tail = {i: vecs[i] for i in ids[90:120]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))

    # below the 2x growth bar: no rebuild
    assert maybe_rebootstrap(spark, str(ix)) is None

    knn_update_batch(_batch_df(spark, growth), 0, str(ix), nprobe=8)
    pre_edges = _edges(spark, ix)
    stats = maybe_rebootstrap(spark, str(ix))  # 30 -> ~90 members: fires
    assert stats is not None and stats["members"] > 60
    # (b) edges verbatim
    assert _edges(spark, ix) == pre_edges
    # (a) re-stamped base: same size does not fire again
    assert maybe_rebootstrap(spark, str(ix)) is None

    # (c) geometry: k formula + every member in its nearest new cell
    members = {
        r.vec_id: (r.emb, r.centroid_id)
        for r in read_state(
            spark, str(ix), "members", MEMBERS_SCHEMA
        ).collect()
    }
    cents = {
        r.centroid_id: r.cemb
        for r in read_state(
            spark, str(ix), "cents", CENTS_SCHEMA
        ).collect()
    }
    assert len(cents) == max(8, _m.ceil(len(members) / EMB_TARGET_CELL))
    assert set(cents) == set(sorted(members)[: len(cents)])

    def ppm(u, v):
        nu = _m.sqrt(sum(x * x for x in u))
        nv = _m.sqrt(sum(x * x for x in v))
        return _m.floor(
            sum(a * b for a, b in zip(u, v)) * 1_000_000.0 / (nu * nv)
        )

    for vid, (emb, cid) in members.items():
        best = min(
            ((-ppm(emb, ce), c) for c, ce in cents.items())
        )[1]
        assert cid == best, (vid, cid, best)

    # (d) post-swap ingest stays exact at full probe
    knn_update_batch(_batch_df(spark, tail), 1, str(ix), nprobe=8)
    got = _edges(spark, ix)
    want = set(pre_edges)
    prior = dict(boot)
    prior.update(growth)
    tail_ids = sorted(tail)
    for pos, q in enumerate(tail_ids):
        cand = dict(prior)
        cand.update({i: tail[i] for i in tail_ids[:pos]})
        for nbr, p, rn in _expected_topk(vecs[q], cand):
            want.add((q, nbr, p, rn))
    assert got == want


def test_async_rebootstrap_stages_off_slot_and_commits_late_tail(
    spark, tmp_path
):
    """Round-11 verdict task 3: the geometry build runs OFF the
    maintenance slot. (a) maybe_prepare_rebootstrap fires at the
    growth bar and builds STAGED dirs without touching live state —
    probes between prepare and commit still serve the OLD geometry;
    (b) vectors ingested between prepare and commit (the late tail)
    are re-assigned to the staged geometry at commit, nothing lost;
    (c) edges verbatim across the commit; (d) a second prepare while
    one is staged is a no-op; (e) post-commit ingest stays exact at
    full probe."""
    import math as _m

    from sparkstreamingflume_spark.plans.extension_queries import (
        EMB_TARGET_CELL,
    )
    from sparkstreamingflume_spark.streaming.knn import (
        CENTS_SCHEMA,
        MEMBERS_SCHEMA,
        bootstrap_knn_index,
        commit_rebootstrap,
        knn_update_batch,
        maybe_prepare_rebootstrap,
        maybe_rebootstrap,
    )
    from sparkstreamingflume_spark.streaming.state import read_state

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    growth = {i: vecs[i] for i in ids[30:90]}
    late = {i: vecs[i] for i in ids[90:105]}
    tail = {i: vecs[i] for i in ids[105:120]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))

    assert maybe_prepare_rebootstrap(spark, str(ix)) is None  # below bar
    knn_update_batch(_batch_df(spark, growth), 0, str(ix), nprobe=8)

    st = maybe_prepare_rebootstrap(spark, str(ix))
    assert st is not None and st["n_snapshot"] == 90
    # (a) live geometry untouched by the staged build
    cents_live = read_state(spark, str(ix), "cents", CENTS_SCHEMA)
    assert {int(r.geom_gen or 0) for r in cents_live.collect()} == {0}
    # (d) nothing re-staged while one build is pending
    assert maybe_prepare_rebootstrap(spark, str(ix)) is None

    # (b) the late tail arrives BETWEEN prepare and commit
    knn_update_batch(_batch_df(spark, late), 1, str(ix), nprobe=8)
    pre_edges = _edges(spark, ix)

    done = commit_rebootstrap(spark, str(ix))
    assert done is not None
    assert done["geom_gen"] == 1 and done["tail"] == len(late)
    assert done["members"] == 105
    # (c) edges verbatim
    assert _edges(spark, ix) == pre_edges

    members = {
        r.vec_id: (r.emb, r.centroid_id)
        for r in read_state(
            spark, str(ix), "members", MEMBERS_SCHEMA
        ).collect()
    }
    cents = {
        r.centroid_id: r.cemb
        for r in read_state(
            spark, str(ix), "cents", CENTS_SCHEMA
        ).collect()
    }
    assert len(members) == 105
    # k derives from the SNAPSHOT (90), centroids = its first-k ids
    assert len(cents) == max(8, _m.ceil(90 / EMB_TARGET_CELL))
    assert set(cents) == set(
        sorted(list(boot) + list(growth))[: len(cents)]
    )

    def ppm(u, v):
        nu = _m.sqrt(sum(x * x for x in u))
        nv = _m.sqrt(sum(x * x for x in v))
        return _m.floor(
            sum(a * b for a, b in zip(u, v)) * 1_000_000.0 / (nu * nv)
        )

    # every member (late tail included) sits in its nearest NEW cell
    for vid, (emb, cid) in members.items():
        best = min(((-ppm(emb, ce), c) for c, ce in cents.items()))[1]
        assert cid == best, (vid, cid, best)

    # base re-stamped: the trigger does not re-fire at the same size
    assert maybe_rebootstrap(spark, str(ix)) is None

    # (e) post-commit ingest exact at full probe
    knn_update_batch(_batch_df(spark, tail), 2, str(ix), nprobe=16)
    got = _edges(spark, ix)
    want = set(pre_edges)
    prior = dict(boot)
    prior.update(growth)
    prior.update(late)
    tail_ids = sorted(tail)
    for pos, q in enumerate(tail_ids):
        cand = dict(prior)
        cand.update({i: tail[i] for i in tail_ids[:pos]})
        for nbr, p, rn in _expected_topk(vecs[q], cand):
            want.add((q, nbr, p, rn))
    assert got == want


def test_crash_between_commit_swaps_is_detected_and_repaired(
    spark, tmp_path
):
    """ADVICE r11 #3: a crash between the cents swap and the meta
    stamp leaves new-geometry cents against old-geometry members;
    knn_update_batch must detect the generation mismatch BEFORE
    probing and finish the staged commit, so no probe ever joins
    members against centroids from a different geometry. Simulated by
    running exactly the first rename of the commit sequence."""
    from sparkstreamingflume_spark.streaming.knn import (
        CENTS_SCHEMA,
        META_SCHEMA,
        _gen_of,
        bootstrap_knn_index,
        knn_update_batch,
        prepare_rebootstrap,
    )
    from sparkstreamingflume_spark.streaming.state import (
        read_state,
        swap_in,
    )

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    growth = {i: vecs[i] for i in ids[30:90]}
    tail = {i: vecs[i] for i in ids[90:110]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))
    knn_update_batch(_batch_df(spark, growth), 0, str(ix), nprobe=8)
    pre_edges = _edges(spark, ix)

    assert prepare_rebootstrap(spark, str(ix)) is not None
    # simulated crash: ONLY the cents rename lands
    assert swap_in(spark, str(ix), "cents", f"{ix}/.cents_staged")
    g_c = _gen_of(read_state(spark, str(ix), "cents", CENTS_SCHEMA))
    g_m = _gen_of(read_state(spark, str(ix), "meta", META_SCHEMA))
    assert (g_c, g_m) == (1, 0)  # the mixed window, observable

    # the next batch self-heals before probing, then ingests exactly
    knn_update_batch(_batch_df(spark, tail), 1, str(ix), nprobe=16)
    assert _gen_of(
        read_state(spark, str(ix), "cents", CENTS_SCHEMA)
    ) == 1
    assert _gen_of(
        read_state(spark, str(ix), "meta", META_SCHEMA)
    ) == 1
    # staged manifest consumed by the repair
    from sparkstreamingflume_spark.streaming.knn import (
        GEOM_STAGED_SCHEMA,
    )

    assert (
        read_state(
            spark, str(ix), "geom_staged", GEOM_STAGED_SCHEMA
        ).count()
        == 0
    )

    got = _edges(spark, ix)
    want = set(pre_edges)
    prior = dict(boot)
    prior.update(growth)
    tail_ids = sorted(tail)
    for pos, q in enumerate(tail_ids):
        cand = dict(prior)
        cand.update({i: vecs[i] for i in tail_ids[:pos]})
        for nbr, p, rn in _expected_topk(vecs[q], cand):
            want.add((q, nbr, p, rn))
    assert got == want

def test_stale_manifest_self_heals_and_background_prepare_is_pure(
    spark, tmp_path
):
    """ADVICE r12 #1/#2 pins. (1) A completion manifest whose geom_gen
    is already live (a crash between the meta stamp and the manifest
    delete) must neither wedge commit_rebootstrap nor permanently
    block growth rebuilds: the commit drops it and reports
    nothing-to-commit, and maybe_prepare_rebootstrap treats it as
    not-staged. (2) A background prepare performs NO mutating crash
    recovery: leftover .{name}_tmp / .{name}_old debris (a slot-side
    write_swap in flight) survives a background maybe_prepare
    untouched — only slot-side maintenance may recover it."""
    import os

    from sparkstreamingflume_spark.streaming.knn import (
        GEOM_STAGED_SCHEMA,
        bootstrap_knn_index,
        commit_rebootstrap,
        knn_update_batch,
        maybe_prepare_rebootstrap,
    )
    from sparkstreamingflume_spark.streaming.state import (
        read_state,
        write_swap,
    )

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    growth = {i: vecs[i] for i in ids[30:90]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))
    knn_update_batch(_batch_df(spark, growth), 0, str(ix), nprobe=8)

    # (1) plant a stale manifest: gen 0 is already live
    write_swap(
        spark,
        spark.createDataFrame([(0, -1, 8, 30)], GEOM_STAGED_SCHEMA),
        str(ix),
        "geom_staged",
    )
    pre_edges = _edges(spark, ix)
    assert commit_rebootstrap(spark, str(ix)) is None
    assert (
        read_state(spark, str(ix), "geom_staged", GEOM_STAGED_SCHEMA).count()
        == 0
    )
    assert _edges(spark, ix) == pre_edges

    # plant it again: the async trigger must see THROUGH it (growth is
    # due at factor 1.2 — 90 >= 1.2*30) and stage the real rebuild
    write_swap(
        spark,
        spark.createDataFrame([(0, -1, 8, 30)], GEOM_STAGED_SCHEMA),
        str(ix),
        "geom_staged",
    )
    # (2) slot-side swap-in-flight debris a background call must not touch
    debris = str(ix / ".members_old")
    os.makedirs(debris, exist_ok=True)
    st = maybe_prepare_rebootstrap(spark, str(ix), 1.2, background=True)
    assert st is not None and st["geom_gen"] == 1
    assert os.path.isdir(debris), "background prepare ran recovery"
    os.rmdir(debris)

    man = read_state(
        spark, str(ix), "geom_staged", GEOM_STAGED_SCHEMA
    ).collect()
    assert len(man) == 1 and int(man[0].geom_gen) == 1
    done = commit_rebootstrap(spark, str(ix))
    assert done is not None and done["geom_gen"] == 1
    assert _edges(spark, ix) == pre_edges
