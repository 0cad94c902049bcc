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


def _rebuild(spark, ix, growth_factor=2.0):
    """One-shot prepare + commit (the production pair); the commit's
    stats, or None when no rebuild was due."""
    from sparkstreamingflume_spark.streaming.knn import GEOMETRY
    from sparkstreamingflume_spark.streaming.state import (
        commit_rebuild,
        prepare_rebuild,
    )

    if prepare_rebuild(spark, str(ix), GEOMETRY, growth_factor) is None:
        return None
    return commit_rebuild(spark, str(ix), GEOMETRY)


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
    (a) the rebuild fires once members reach growth_factor x the
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
    assert _rebuild(spark, ix) is None

    knn_update_batch(_batch_df(spark, growth), 0, str(ix), nprobe=8)
    pre_edges = _edges(spark, ix)
    stats = _rebuild(spark, ix)  # 30 -> ~90 members: fires
    assert stats is not None and stats["base"] > 60
    # (b) edges verbatim
    assert _edges(spark, ix) == pre_edges
    # (a) re-stamped base: same size does not fire again
    assert _rebuild(spark, ix) is None

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
    maintenance slot. (a) prepare_rebuild fires at the
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
        GEOMETRY,
        MEMBERS_SCHEMA,
        bootstrap_knn_index,
        knn_update_batch,
    )
    from sparkstreamingflume_spark.streaming.state import (
        commit_rebuild,
        prepare_rebuild,
        read_state,
    )

    vecs = _vectors()
    ids = sorted(vecs)
    boot = {i: vecs[i] for i in ids[:30]}
    growth = {i: vecs[i] for i in ids[30:90]}
    late = {i: vecs[i] for i in ids[90:105]}
    tail = {i: vecs[i] for i in ids[105:120]}
    corpus = _write_corpus(spark, str(tmp_path / "c0"), boot)
    ix = tmp_path / "ix"
    bootstrap_knn_index(spark, corpus, str(ix))

    assert prepare_rebuild(spark, str(ix), GEOMETRY, 2.0) is None  # below bar
    knn_update_batch(_batch_df(spark, growth), 0, str(ix), nprobe=8)

    st = prepare_rebuild(spark, str(ix), GEOMETRY, 2.0)
    assert st is not None and st["n_snapshot"] == 90
    # (a) live geometry untouched by the staged build
    cents_live = read_state(spark, str(ix), "cents", CENTS_SCHEMA)
    assert {int(r.geom_gen or 0) for r in cents_live.collect()} == {0}
    # (d) nothing re-staged while one build is pending
    assert prepare_rebuild(spark, str(ix), GEOMETRY, 2.0) is None

    # (b) the late tail arrives BETWEEN prepare and commit
    knn_update_batch(_batch_df(spark, late), 1, str(ix), nprobe=8)
    pre_edges = _edges(spark, ix)

    done = commit_rebuild(spark, str(ix), GEOMETRY)
    assert done is not None
    assert done["geom_gen"] == 1 and done["tail"] == len(late)
    assert done["base"] == 105
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
    assert prepare_rebuild(spark, str(ix), GEOMETRY, 2.0) is None

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


def test_prepare_never_recovers_and_a_stale_record_does_not_wedge(
    spark, tmp_path
):
    """Prepare runs off the slot next to the slot's own swaps, so it
    must leave their debris alone: a ``.members_old`` / ``.meta_tmp``
    survives it, and the slot-side commit recovers them. A record whose
    generation is already live (a commit that crashed before dropping
    it) blocks prepare only until the next commit drops it."""
    from sparkstreamingflume_spark.streaming.knn import (
        GEOMETRY,
        bootstrap_knn_index,
        knn_update_batch,
    )
    from sparkstreamingflume_spark.streaming.state import (
        REBUILD_SCHEMA,
        commit_rebuild,
        prepare_rebuild,
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
    pre_edges = _edges(spark, ix)

    write_swap(
        spark,
        spark.createDataFrame([(0, "ready", -1, 8, 30, 29, 0)], REBUILD_SCHEMA),
        str(ix),
        "rebuild",
    )
    assert prepare_rebuild(spark, str(ix), GEOMETRY, 1.2) is None
    assert commit_rebuild(spark, str(ix), GEOMETRY) is None
    assert read_state(spark, str(ix), "rebuild", REBUILD_SCHEMA).count() == 0

    debris = [ix / ".members_old", ix / ".meta_tmp"]
    for d in debris:
        os.makedirs(d)
    st = prepare_rebuild(spark, str(ix), GEOMETRY, 1.2)
    assert st is not None and st["geom_gen"] == 1
    assert all(os.path.isdir(d) for d in debris), "prepare ran recovery"
    done = commit_rebuild(spark, str(ix), GEOMETRY)
    assert done is not None and done["geom_gen"] == 1
    assert not any(os.path.exists(d) for d in debris)
    assert _edges(spark, ix) == pre_edges
