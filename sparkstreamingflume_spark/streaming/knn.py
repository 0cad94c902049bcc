"""Streaming incremental kNN graph — keeps the materialized graph of
``materialize_knn_graph`` (plans/extension_queries.py) warm under
continuous ingest, so SemDeDup and the other graph consumers never
rebuild the corpus graph per batch (round-9 verdict task 6; the last
read-side family without a streaming twin).

Model (standard incremental-IVF practice): the index GEOMETRY is
frozen at bootstrap — the adaptive-K centroids of the bootstrap corpus
— and each micro-batch of new vectors

1. collapses exact dups (a vector whose ppm signature is already
   indexed is a copy of an existing rep — no edges, not appended; the
   batch plan's min-id-rep contract),
2. assigns each new rep to its top-``nprobe`` cells against the
   BROADCAST frozen centroids (one linear pass, no shuffle on the
   index side),
3. probes the persisted member index for candidates = home-cell
   members of the probed cells, restricted to STRICTLY-PRIOR vectors
   (earlier batches via the ``batch_id < B`` replay guard, plus
   same-batch reps with a smaller ``vec_id``),
4. appends each new rep's exact-cosine top-k as edge rows, and the
   rep itself as a member row.

Edges are BACKWARD-LOOKING: a vector's neighbor list is fixed at
arrival and later arrivals do not retroactively extend it — the
inherent incremental-ANN divergence (the batch graph, which sees the
whole corpus at once, can add q→nbr edges toward LATER vectors). The
candidate rule "strictly-prior ∪ smaller-same-batch-id" makes the edge
set a pure function of the (id-ordered) ingest sequence, NOT of the
micro-batch boundaries: merging or splitting batches of an id-ordered
feed cannot change any vector's candidate set (pinned in
tests/test_stream_knn.py). With ``nprobe`` ≥ the cell count the
candidate set is ALL prior reps, so each edge list is exactly the
brute-force top-k among earlier vectors — the test oracle.

Index layout (plain parquet, the shared ``streaming/state.py``
protocols; every read is swap-tolerant via ``read_state``):

* ``<index_dir>/cents``   — frozen (centroid_id, cemb, cnorm).
* ``<index_dir>/members`` — (vec_id, sig, emb, norm, centroid_id,
  batch_id); home cell only, one row per rep (+ replay churn until
  compaction).
* ``<index_dir>/edges``   — (q_id, nbr_id, cos_ppm, rn, batch_id);
  :func:`read_edges` serves the live graph in ``KNN_GRAPH_SCHEMA``
  column order, so ``_semantic_clusters`` (the SemDeDup increment)
  reads the live index exactly as it reads the batch-materialized
  parquet.
* ``<index_dir>/meta``    — one row (base_members, geom_gen): the
  member count at the last (re)bootstrap (the growth trigger's
  denominator) and the geometry generation marker.

Geometry staleness (round-10 verdict task 4): the frozen bootstrap
geometry decays as the corpus grows — cells fatten, per-batch probe
cost rises linearly with average occupancy (the r10 soak measured
+26% members → +15% batch time). The rebuild is SPLIT so the build
never rides the maintenance slot (round-11 verdict task 3 — the r11
in-slot form pushed re-bootstrap batches to p99 24.7 s against a 20 s
trigger): :func:`prepare_rebootstrap` builds the next geometry into
staged dirs off-slot (read-only against live state, safe concurrent
with ingest) — new cell count max(8, n/TARGET_CELL), centroids = the
k smallest-id reps (the same deterministic first-ids convention as
the batch ``_adaptive_assign``), every snapshot member re-assigned to
its nearest new cell — and :func:`commit_rebootstrap` turns it live
in the slot: re-assign the late tail (appended since the snapshot),
then pure renames (cents, members) and the meta stamp. EDGE ROWS ARE
UNTOUCHED (the backward-looking contract: a vector's neighbor list
was fixed at its arrival and a geometry change must not rewrite
history — pinned in tests/test_stream_knn.py).
:func:`maybe_prepare_rebootstrap` triggers the off-slot build when
members ≥ growth_factor × base_members (default 2.0 — "re-bootstrap
when the corpus has doubled", the incremental-IVF contract);
:func:`maybe_rebootstrap` is the synchronous compat form. cents rows
and meta carry ``geom_gen`` stamped on opposite ends of the commit
sequence, so a crash ANYWHERE inside the commit leaves them unequal —
``knn_update_batch`` detects that before probing and finishes the
staged commit (idempotent), closing the mixed-geometry read window
(ADVICE r11 #3). Commit/maintenance remain single-writer, between
batches. A batch that crashed AFTER its append but BEFORE its
checkpoint commit and is replayed AFTER a re-bootstrap re-scores
against the new geometry, so its re-appended edges may differ from
the orphaned originals — the same quiet-point discipline compaction
already requires.

Idempotency: members probe strictly-earlier batches and edge/member
appends are deterministic functions of (batch rows, prior index), so
a replayed batch appends bit-identical rows; reads collapse them by
distinct, and :func:`compact_index` rewrites both sides keeping the
MIN batch_id per key (the neardup replay contract — a key never moves
to a newer batch, so a replay never sees its own append).

The reference never maintained cross-batch state (its DStream counters
reset per batch); capability extension (SURVEY.md §2 LLM-pipeline
track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreamingflume_spark.streaming.state import (
    first_batch_compact,
    first_batch_rows,
    read_state,
    recover_index,
    swap_in,
    write_swap,
)

CENTS_SCHEMA = (
    "centroid_id long, cemb array<double>, cnorm double, geom_gen long"
)
MEMBERS_SCHEMA = (
    "vec_id long, sig string, emb array<double>, norm double,"
    " centroid_id long, batch_id long"
)
EDGES_SCHEMA = (
    "q_id long, nbr_id long, cos_ppm long, rn long, batch_id long"
)
# geom_gen: the geometry GENERATION marker (ADVICE r11 #3) — stamped
# into cents rows and meta together; a crash inside a geometry commit
# leaves them unequal, which knn_update_batch detects before probing
# (and repairs via commit_rebootstrap) instead of quietly joining
# members against centroids from a different geometry. Indexes
# predating the column read it as NULL -> coalesced to 0.
META_SCHEMA = "base_members long, geom_gen long"
GEOM_STAGED_SCHEMA = "geom_gen long, wm long, k long, n_snapshot long"


def _cos_ppm_ab() -> F.Column:
    dot = F.aggregate(
        F.zip_with("a.emb", "b.emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.floor(dot * 1_000_000.0 / (F.col("a.norm") * F.col("b.norm")))


def bootstrap_knn_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> dict:
    """Freeze the index geometry and seed members + edges from a batch
    corpus: centroids and home-cell assignments from the certified
    ``_adaptive_assign`` scaffolding, initial edges from the certified
    ``knn_graph`` default dial — so the live index starts bit-equal to
    the batch-materialized graph of the bootstrap corpus."""
    from sparkstreamingflume_spark.plans.extension_queries import (
        EMB_TARGET_CELL,
        _adaptive_assign,
        _emb_norm,
        _vec_sig,
        knn_graph,
    )

    assigned = _adaptive_assign(spark, sf_dir)
    # centroids: re-derive exactly as _adaptive_assign does (first-k
    # vec_ids of the valid corpus; k = max(8, n/TARGET_CELL))
    e = _emb_norm(spark, sf_dir)
    kf = e.agg(
        F.greatest(F.lit(8), F.ceil(F.count("*") / float(EMB_TARGET_CELL)))
        .cast("long")
        .alias("k")
    )
    cents = (
        e.crossJoin(F.broadcast(kf))
        .filter(F.col("vec_id") < F.col("k"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("emb").alias("cemb"),
            F.col("norm").alias("cnorm"),
            F.lit(0).cast("long").alias("geom_gen"),
        )
    )
    n_cents = write_swap(spark, cents, index_dir, "cents")
    members = (
        assigned.filter(F.col("rn") == 1)
        .withColumn("sig", _vec_sig())
        .select("vec_id", "sig", "emb", "norm", "centroid_id")
        .withColumn("batch_id", F.lit(-1).cast("long"))
    )
    n_members = write_swap(spark, members, index_dir, "members")
    edges = knn_graph(spark, sf_dir).withColumn(
        "batch_id", F.lit(-1).cast("long")
    )
    n_edges = write_swap(spark, edges, index_dir, "edges")
    write_swap(
        spark,
        spark.createDataFrame([(n_members, 0)], META_SCHEMA),
        index_dir,
        "meta",
    )
    return {"cents": n_cents, "members": n_members, "edges": n_edges}


def knn_update_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    nprobe: int | None = None,
    k: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """foreachBatch callback: append this batch's new-vector edges and
    member rows (see module doc for the candidate rule). Entirely
    JVM-side — broadcast centroid assignment, one hash join against
    the member index, a bounded top-k window."""
    from sparkstreamingflume_spark.plans.extension_queries import (
        KNN_K,
        KNN_NPROBE,
        _vec_sig,
    )

    nprobe = KNN_NPROBE if nprobe is None else nprobe
    k = KNN_K if k is None else k
    spark = batch.sparkSession
    # a crashed geometry commit must be finished BEFORE probing —
    # otherwise member.centroid_id joins against centroids from a
    # different geometry (ADVICE r11 #3; two tiny aggregates when
    # consistent)
    _ensure_geometry_consistent(spark, index_dir)
    cents = read_state(spark, index_dir, "cents", CENTS_SCHEMA)
    members = read_state(spark, index_dir, "members", MEMBERS_SCHEMA).filter(
        F.col("batch_id") < F.lit(int(batch_id))
    )
    e = (
        batch.filter(
            F.col(emb_col).isNotNull()
            & ~F.exists(emb_col, lambda x: x.isNull())
        )
        .select(
            F.col(id_col).alias("vec_id"),
            F.transform(emb_col, lambda x: x.cast("double")).alias("emb"),
        )
        .withColumn(
            "norm",
            F.sqrt(
                F.aggregate(
                    F.zip_with("emb", "emb", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        .withColumn("sig", _vec_sig())
    )
    # exact-dup collapse: drop copies of indexed reps, then min-id per
    # signature within the batch (the batch plan's rep contract)
    vw = Window.partitionBy("sig").orderBy("vec_id")
    reps = (
        e.join(members.select("sig"), "sig", "left_anti")
        .withColumn("_rn", F.row_number().over(vw))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # top-nprobe cell assignment against the frozen broadcast centroids
    rc_cos = F.floor(
        F.aggregate(
            F.zip_with("r.emb", "c.cemb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1_000_000.0
        / (F.col("r.norm") * F.col("c.cnorm"))
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("centroid_id")
    )
    probes = (
        reps.alias("r")
        .crossJoin(F.broadcast(cents.alias("c")))
        .select(
            F.col("r.vec_id").alias("vec_id"),
            F.col("r.emb").alias("emb"),
            F.col("r.norm").alias("norm"),
            F.col("r.sig").alias("sig"),
            F.col("c.centroid_id").alias("centroid_id"),
            rc_cos.cast("long").alias("score"),
        )
        .withColumn("prn", F.row_number().over(aw))
        .persist()
    )
    home = probes.filter(F.col("prn") == 1)
    fan = probes.filter(F.col("prn") <= nprobe)
    # candidates: prior members in probed cells, plus smaller-id
    # same-batch reps (home cell) — strictly backward-looking
    prior = members.select("vec_id", "emb", "norm", "centroid_id")
    same = home.select("vec_id", "emb", "norm", "centroid_id")
    a = fan.select("vec_id", "emb", "norm", "centroid_id").alias("a")
    scored = (
        a.join(
            prior.alias("b"),
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("q_id"),
            F.col("b.vec_id").alias("nbr_id"),
            _cos_ppm_ab().cast("long").alias("cos_ppm"),
        )
        .unionByName(
            a.join(
                same.alias("b"),
                (F.col("a.centroid_id") == F.col("b.centroid_id"))
                & (F.col("a.vec_id") > F.col("b.vec_id")),
            ).select(
                F.col("a.vec_id").alias("q_id"),
                F.col("b.vec_id").alias("nbr_id"),
                _cos_ppm_ab().cast("long").alias("cos_ppm"),
            )
        )
        # a (q, nbr) pair recurs when nbr's home cell is probed more
        # than once across the fan-out — collapse before ranking
        .groupBy("q_id", "nbr_id")
        .agg(F.max("cos_ppm").alias("cos_ppm"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_ppm").desc(), F.col("nbr_id")
    )
    edges = (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    edges.write.mode("append").parquet(f"{index_dir}/edges")
    (
        home.select("vec_id", "sig", "emb", "norm", "centroid_id")
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/members")
    )
    probes.unpersist()


def read_edges(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live graph in ``KNN_GRAPH_SCHEMA`` column order — replay
    duplicates collapsed (deterministic appends are bit-identical).
    Feed this to ``_semantic_clusters`` for warm-index SemDeDup: the
    increment reads the live edges exactly as it reads the
    batch-materialized parquet."""
    return (
        read_state(spark, index_dir, "edges", EDGES_SCHEMA)
        .select("q_id", "nbr_id", "cos_ppm", "rn")
        .distinct()
    )


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Rewrite members and edges to one row per key, keeping the MIN
    batch_id (the neardup replay contract: a replayed batch N probes
    ``batch_id < N`` and must never see its own append), through the
    shared recover/tmp+rename swap. Returns per-side
    (rows_before, rows_after)."""
    stats = {}
    for name, schema, keys in (
        ("members", MEMBERS_SCHEMA, ["vec_id"]),
        ("edges", EDGES_SCHEMA, ["q_id", "nbr_id"]),
    ):
        st = first_batch_compact(spark, index_dir, name, schema, keys)
        if st is not None:
            stats[name] = st
    return stats


def _gen_of(df: DataFrame) -> int:
    """Max coalesced geom_gen of a state frame; -1 when empty (absent
    state must SKIP the consistency check, not fail it)."""
    row = df.agg(F.max(F.coalesce(F.col("geom_gen"), F.lit(0)))).first()
    return -1 if row[0] is None else int(row[0])


def _ensure_geometry_consistent(spark: SparkSession, index_dir: str) -> None:
    """ADVICE r11 #3: a crash inside a geometry commit can leave new
    cents against old-geometry members, and a probe in that window
    joins member.centroid_id against centroids from a DIFFERENT
    geometry — quietly wrong candidate sets. cents rows and meta are
    stamped with ``geom_gen`` on opposite ends of the commit sequence
    (cents swap first, meta stamp last), so inequality detects every
    partial-commit window; the repair is the idempotent
    :func:`commit_rebootstrap`, which finishes the staged swap before
    any probe runs. Cost when consistent: two tiny aggregates (cents
    is a broadcast-sized frame; meta is one row)."""
    g_c = _gen_of(read_state(spark, index_dir, "cents", CENTS_SCHEMA))
    g_m = _gen_of(read_state(spark, index_dir, "meta", META_SCHEMA))
    if g_c < 0 or g_m < 0 or g_c == g_m:
        return
    commit_rebootstrap(spark, index_dir)


def _reassign(members: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-new-centroid re-assignment of a member frame via one
    broadcast pass — MEMBERS_SCHEMA in, MEMBERS_SCHEMA out (only
    centroid_id changes, so the ``batch_id < B`` replay guard and the
    compaction contract are untouched)."""
    rc_cos = F.floor(
        F.aggregate(
            F.zip_with("m.emb", "c.cemb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1_000_000.0
        / (F.col("m.norm") * F.col("c.cnorm"))
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("centroid_id")
    )
    return (
        members.alias("m")
        .crossJoin(F.broadcast(cents.alias("c")))
        .select(
            F.col("m.vec_id").alias("vec_id"),
            F.col("m.sig").alias("sig"),
            F.col("m.emb").alias("emb"),
            F.col("m.norm").alias("norm"),
            F.col("c.centroid_id").alias("centroid_id"),
            F.col("m.batch_id").alias("batch_id"),
            rc_cos.cast("long").alias("score"),
        )
        .withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "score")
    )


def prepare_rebootstrap(
    spark: SparkSession, index_dir: str, background: bool = False
) -> dict | None:
    """Phase 1 of the geometry rebuild — build the NEXT geometry into
    STAGED dirs, touching no live state (round-11 verdict task 3: the
    ~9 s in-slot rebuild pushed re-bootstrap batches to p99 24.7 s
    against a 20 s trigger; staged, the slot pays only directory
    renames plus a small late-tail re-assignment). Safe to run
    CONCURRENTLY with ingest batches — it only reads live state (the
    single-writer discipline still applies between maintenance calls).

    ``background=True`` (a live stream's off-slot thread) SKIPS the
    mutating crash recovery (ADVICE r12 #1: recover_index deletes
    ``.{name}_tmp`` / renames ``.{name}_old`` back, so racing the
    in-slot compact/commit it can delete a tmp dir mid-write_swap or
    rename stale state back mid-swap_in, killing the stream inside
    foreachBatch). Recovery already runs in EVERY slot-side
    maintenance call (compact_index, commit_rebootstrap, _growth_due),
    so a background prepare only ever reads already-recovered state —
    and if a swap races one of its reads, the prepare fails and is
    simply re-kicked next slot (the caller's retry contract).

    Steps: materialize a collapsed snapshot of the live members at
    ``.geom_snap`` (one action, so every derived plan reads a STABLE
    file set — a lazy plan over the live dir could see files appended
    mid-build); new cell count k = max(8, n/TARGET_CELL); new
    centroids = the k smallest-id reps (the batch scaffolding's
    first-ids convention); every snapshot member re-assigned to its
    nearest new centroid. The staged manifest (``geom_staged`` state,
    carrying geom_gen / snapshot watermark / k / n) is written LAST,
    so a crashed prepare leaves no manifest and is simply re-run.
    Returns the manifest stats, or None on an empty index."""
    import math

    from sparkstreamingflume_spark.plans.extension_queries import (
        EMB_TARGET_CELL,
    )
    from sparkstreamingflume_spark.streaming.state import _hadoop_fs, _jp

    if not background:
        for name in ("cents", "members", "meta"):
            recover_index(spark, index_dir, name)
    gen_next = (
        max(0, _gen_of(read_state(spark, index_dir, "meta", META_SCHEMA)))
        + 1
    )
    members = read_state(spark, index_dir, "members", MEMBERS_SCHEMA)
    # collapse replay duplicates exactly as compact_index would (MIN
    # batch_id per vec_id) so the rebuilt index is compact too
    collapsed = first_batch_rows(members, ["vec_id"])
    snap = f"{index_dir}/.geom_snap"
    collapsed.write.mode("overwrite").parquet(snap)
    snap_df = spark.read.schema(MEMBERS_SCHEMA).parquet(snap)
    agg = snap_df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.max("batch_id"), F.lit(-1)).alias("wm"),
    ).first()
    n = int(agg["n"])
    if n == 0:
        return None
    wm = int(agg["wm"])
    k = max(8, math.ceil(n / EMB_TARGET_CELL))
    cents_new = (
        snap_df.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("emb").alias("cemb"),
            F.col("norm").alias("cnorm"),
            F.lit(gen_next).cast("long").alias("geom_gen"),
        )
    )
    cents_staged = f"{index_dir}/.cents_staged"
    cents_new.repartition(1).write.mode("overwrite").parquet(cents_staged)
    staged_c = spark.read.schema(CENTS_SCHEMA).parquet(cents_staged)
    _reassign(snap_df, staged_c).write.mode("overwrite").parquet(
        f"{index_dir}/.members_staged"
    )
    write_swap(
        spark,
        spark.createDataFrame([(gen_next, wm, k, n)], GEOM_STAGED_SCHEMA),
        index_dir,
        "geom_staged",
    )
    fs, _ = _hadoop_fs(spark, index_dir)
    fs.delete(_jp(spark, snap), True)
    return {"geom_gen": gen_next, "cells": k, "n_snapshot": n, "wm": wm}


def commit_rebootstrap(spark: SparkSession, index_dir: str) -> dict | None:
    """Phase 2 — the maintenance-slot half, and the idempotent
    completer for every crash window. Re-assigns the LATE TAIL
    (members appended since the snapshot: ``batch_id >= wm`` — the
    snapshot may hold a partial view of batch wm if it listed files
    mid-append — anti-joined against the staged ids, so re-runs
    append nothing twice) against the staged centroids, appends it to
    the staged members, then swaps cents, swaps members, stamps meta
    (gen LAST — the consistency check's other end), and drops the
    manifest. Pure renames except the tail; in-slot cost is
    O(tail), not O(index). EDGES ARE PRESERVED VERBATIM
    (backward-looking contract). Single-writer, like compaction.
    Returns stats, or None when nothing is staged."""
    from sparkstreamingflume_spark.streaming.state import _hadoop_fs, _jp

    for name in ("cents", "members", "meta"):
        recover_index(spark, index_dir, name)
    man = read_state(
        spark, index_dir, "geom_staged", GEOM_STAGED_SCHEMA
    ).collect()
    if not man:
        return None
    gen, wm, k = (
        int(man[0].geom_gen),
        int(man[0].wm),
        int(man[0].k),
    )
    fs, _ = _hadoop_fs(spark, index_dir)
    # ADVICE r12 #2: a crash between the meta stamp and the manifest
    # delete leaves a manifest whose gen is ALREADY live (cents == meta
    # gens, so the consistency check never fires) — without this guard
    # the stale manifest makes maybe_prepare_rebootstrap return None
    # forever, permanently disabling growth rebuilds. gen <= live meta
    # gen means the commit completed: drop the leftovers and move on.
    if gen <= _gen_of(read_state(spark, index_dir, "meta", META_SCHEMA)):
        # drop ONLY the manifest — a concurrent background prepare may
        # be mid-build on .geom_snap; its own completion path (or the
        # normal commit) owns the snap's lifecycle
        fs.delete(_jp(spark, f"{index_dir}/geom_staged"), True)
        return None
    cents_staged = f"{index_dir}/.cents_staged"
    members_staged = f"{index_dir}/.members_staged"
    n_tail = 0
    if fs.exists(_jp(spark, cents_staged)):
        staged_c = spark.read.schema(CENTS_SCHEMA).parquet(cents_staged)
        staged_ids = spark.read.schema(MEMBERS_SCHEMA).parquet(
            members_staged
        ).select("vec_id")
        live = read_state(spark, index_dir, "members", MEMBERS_SCHEMA)
        vw = Window.partitionBy("vec_id").orderBy("batch_id")
        tail = (
            live.filter(F.col("batch_id") >= F.lit(wm))
            .join(staged_ids, "vec_id", "left_anti")
            .withColumn("_rn", F.row_number().over(vw))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        tail = _reassign(tail, staged_c).persist()
        n_tail = tail.count()
        if n_tail:
            tail.write.mode("append").parquet(members_staged)
        tail.unpersist()
        # cents first, then members, then meta: the check at
        # _ensure_geometry_consistent detects a crash anywhere between
        # the first rename and the meta stamp (cents gen != meta gen)
        swap_in(spark, index_dir, "cents", cents_staged)
    swap_in(spark, index_dir, "members", members_staged)
    n_members = read_state(
        spark, index_dir, "members", MEMBERS_SCHEMA
    ).count()
    write_swap(
        spark,
        spark.createDataFrame([(n_members, gen)], META_SCHEMA),
        index_dir,
        "meta",
    )
    fs.delete(_jp(spark, f"{index_dir}/geom_staged"), True)
    fs.delete(_jp(spark, f"{index_dir}/.geom_snap"), True)
    return {
        "members": n_members,
        "cells": k,
        "geom_gen": gen,
        "tail": n_tail,
    }


def rebootstrap_knn_index(spark: SparkSession, index_dir: str) -> dict:
    """Synchronous geometry rebuild — :func:`prepare_rebootstrap` +
    :func:`commit_rebootstrap` back to back (the round-11 in-slot
    form, kept for tests and offline maintenance; a live stream should
    prepare OFF the slot and commit in it — tools/soak.py knn mode)."""
    if prepare_rebootstrap(spark, index_dir) is None:
        return {"members": 0, "cells": 0}
    done = commit_rebootstrap(spark, index_dir)
    return {"members": done["members"], "cells": done["cells"]}


def _growth_due(
    spark: SparkSession, index_dir: str, growth_factor: float,
    mutate: bool = True,
) -> bool:
    """The shared trigger: live distinct members >= factor × the base
    stamped at the last (re)bootstrap. Recovers meta first (ADVICE
    r11 #4 — this was the one maintenance path skipping the 'run
    recover before any maintenance write' discipline); an index
    predating the meta sidecar gets one stamped at the CURRENT size
    (growth measured from now on) and reports not-due.

    ``mutate=False`` (a background caller — ADVICE r12 #1) performs
    NEITHER the recovery nor the legacy meta stamp: both mutate the
    filesystem and could race the in-slot maintenance writer. A
    legacy index just reports not-due until a slot-side call stamps
    its meta."""
    if mutate:
        recover_index(spark, index_dir, "meta")
    meta = read_state(spark, index_dir, "meta", META_SCHEMA).collect()
    n = (
        read_state(spark, index_dir, "members", MEMBERS_SCHEMA)
        .select("vec_id")
        .distinct()
        .count()
    )
    if not meta and not mutate:
        return False
    if not meta:
        gen = max(
            0, _gen_of(read_state(spark, index_dir, "cents", CENTS_SCHEMA))
        )
        write_swap(
            spark,
            spark.createDataFrame([(n, gen)], META_SCHEMA),
            index_dir,
            "meta",
        )
        return False
    base = int(meta[0].base_members)
    return base > 0 and n >= growth_factor * base


def maybe_rebootstrap(
    spark: SparkSession, index_dir: str, growth_factor: float = 2.0
) -> dict | None:
    """Growth-triggered SYNCHRONOUS geometry rebuild ("re-bootstrap
    when the corpus has doubled", the incremental-IVF contract).
    Returns the rebuild stats, or None when no rebuild ran. Streaming
    callers should prefer :func:`maybe_prepare_rebootstrap` (off-slot)
    + :func:`commit_rebootstrap` (in-slot)."""
    if not _growth_due(spark, index_dir, growth_factor):
        return None
    return rebootstrap_knn_index(spark, index_dir)


def maybe_prepare_rebootstrap(
    spark: SparkSession,
    index_dir: str,
    growth_factor: float = 2.0,
    background: bool = False,
) -> dict | None:
    """The ASYNC trigger: when growth is due AND nothing is already
    staged, build the next geometry into the staged dirs (read-only
    against live state, so it can run on a background thread while
    batches ingest). The next maintenance slot turns it live with
    :func:`commit_rebootstrap` — renames + the late tail, not the
    build. Returns prepare stats, or None (not due / already staged).

    Live streams MUST pass ``background=True`` when calling off-slot:
    it suppresses every mutating step (crash recovery, the legacy
    meta stamp) that could race the in-slot maintenance writer
    (ADVICE r12 #1). A manifest whose geom_gen is <= the live meta
    gen is STALE (its commit completed; the crash hit the
    manifest-delete tail — ADVICE r12 #2) and does not block a new
    prepare: the prepare's final write_swap simply replaces it."""
    staged = read_state(
        spark, index_dir, "geom_staged", GEOM_STAGED_SCHEMA
    ).collect()
    if staged:
        live_gen = _gen_of(read_state(spark, index_dir, "meta", META_SCHEMA))
        if int(staged[0].geom_gen) > live_gen:
            return None  # genuinely staged, awaiting its commit slot
        # stale manifest (already committed): fall through and let the
        # new prepare overwrite it (slot-side commit_rebootstrap also
        # deletes it defensively)
    if not _growth_due(spark, index_dir, growth_factor, mutate=not background):
        return None
    return prepare_rebootstrap(spark, index_dir, background=background)
