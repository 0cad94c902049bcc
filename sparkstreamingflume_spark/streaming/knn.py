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
  member count at the last (re)build (the growth trigger's
  denominator) and the geometry generation.

Geometry staleness: the frozen geometry decays as the corpus grows
(cells fatten; the r10 soak measured +26% members → +15% batch time),
so :data:`GEOMETRY` hands the index to the shared generational rebuild
(``state.prepare_rebuild`` / ``commit_rebuild``): new cells from the
collapsed member snapshot, every member re-assigned. EDGE ROWS ARE
NEVER REWRITTEN (the backward-looking contract: a vector's neighbor
list was fixed at its arrival — pinned in tests/test_stream_knn.py). A
batch replayed after a rebuild re-scores against the new geometry, so
its re-appended edges may differ from the orphaned originals — the
same quiet-point discipline compaction already requires.

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
    Geometry,
    ensure_geometry,
    first_batch_compact,
    read_state,
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
# geom_gen: the geometry generation, stamped into cents rows and meta
# at opposite ends of a rebuild commit (state.ensure_geometry). Indexes
# predating the column read it as NULL -> 0.
META_SCHEMA = "base_members long, geom_gen long"


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
    # different geometry
    ensure_geometry(spark, index_dir, GEOMETRY)
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


def _build(snapshot: DataFrame, n: int) -> tuple[DataFrame, int]:
    """The next geometry: k = max(8, ceil(n/TARGET_CELL)) cells whose
    centroids are the k smallest-id reps (the batch scaffolding's
    first-ids convention)."""
    import math

    from sparkstreamingflume_spark.plans.extension_queries import (
        EMB_TARGET_CELL,
    )

    k = max(8, math.ceil(n / EMB_TARGET_CELL))
    cents = (
        snapshot.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("emb").alias("cemb"),
            F.col("norm").alias("cnorm"),
        )
    )
    return cents, k


def _reassign(members: DataFrame, cents: DataFrame, _k: int) -> DataFrame:
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


# The geometry rebuild (state.prepare_rebuild / commit_rebuild): new
# cells from the collapsed member snapshot, every member re-assigned to
# its nearest new cell. Edges are not part of it.
GEOMETRY = Geometry(
    geometry="cents",
    geometry_schema=CENTS_SCHEMA,
    meta="meta",
    meta_schema=META_SCHEMA,
    base_col="base_members",
    rotated="members",
    rotated_schema=MEMBERS_SCHEMA,
    source="members",
    source_schema=MEMBERS_SCHEMA,
    keys=("vec_id",),
    build=_build,
    assign=_reassign,
    meta_row=lambda k, base, gen: (base, gen),
)
