"""Streaming incremental MEDIA near-dup index — the streaming twin of
the certified media pair stage (``_media_pair_stage`` /
``q_media_neardup`` / ``q_media_neardup_binary``,
plans/extension_queries.py). Round-11 verdict task 5: text near-dup has
a streaming twin (streaming/neardup.py); an ingesting MULTIMODAL corpus
previously had to re-run the batch query per snapshot.

Model (the streaming/neardup.py + streaming/knn.py shape):

* The projection GEOMETRY is frozen at bootstrap — balanced-difference
  SRP planes built from the seed corpus's first ``2·bands·nbits``
  media (the exact batch-plan construction), plus the corpus-adaptive
  band width ``nbits`` (the shared clamp, floor MEDIA_BITS_MIN) — and
  persisted, so every batch signs against the same broadcast planes.
  Like the kNN index's cells, the frozen geometry DECAYS as the
  corpus grows (bucket occupancy rises toward BUCKET_CEIL, where
  candidate mass is silently pruned — the measured knn_frontier
  --boundary mechanism), so :data:`GEOMETRY` hands the index to the
  shared generational rebuild (``state.prepare_rebuild`` /
  ``commit_rebuild``), which rebuilds planes + signatures from the live
  histograms. HISTS ARE NEVER ROTATED, and neither is the emitted pair
  history.
* Each micro-batch of (media_id, payload BINARY) rows is featurized by
  the REAL Arrow-batched byte-histogram featurizer
  (extensions/multimodal.py ``content_histogram`` — the same counting
  core the certified binary query runs), signed, and probed against
  the persisted ``(band, band_sig)`` signature index restricted to
  STRICTLY-PRIOR batches (``batch_id < B``) plus smaller-id same-batch
  rows — the backward-looking candidate rule that makes the emitted
  pair set a pure function of the id-ordered ingest sequence, not the
  micro-batch boundaries (streaming/knn.py's contract, pinned in
  tests/test_stream_media_neardup.py).
* Surviving candidates are verified EXACTLY — integer histogram dot /
  float norms, the same ppm-floor expression as the batch stage — and
  emitted through the per-``batch_id`` idempotent output protocol;
  the batch's signatures and histograms are appended back.

BUCKET_CEIL applies at PROBE TIME: a bucket whose occupancy (index +
current batch) exceeds the ceiling is dropped, never pair-enumerated.
This matches the batch plan exactly on any corpus whose final buckets
stay under the ceiling (the driver fixtures: max occupancy 45 < 128);
on a corpus where a bucket CROSSES the ceiling mid-stream, pairs
emitted while it was small are kept — the same inherent
incremental-vs-batch divergence as the kNN twin's backward-looking
edges, and the honest one (history is not rewritten).

Index layout (plain parquet, the shared streaming/state.py protocols):

* ``<index_dir>/planes`` — frozen (p, bucket, w) balanced-difference
  weights; broadcast into every batch.
* ``<index_dir>/mmeta``  — one row (nbits, base_media, geom_gen):
  the frozen band width, the media count at the last (re)build (the
  growth trigger's denominator), and the geometry generation.
* ``<index_dir>/sigs``   — (media_id, band, band_sig, batch_id).
* ``<index_dir>/hists``  — (media_id, bucket, cnt, batch_id): the
  integer histograms the exact verify joins against.

``media_id`` is assumed UNIQUE across the ingest history (the
streaming/knn.py vec_id contract): re-ingesting an id with a different
payload would double its histogram rows in the verify join. Exact
re-ingest (same payload) is harmless — appends are bit-identical and
compaction collapses them.

Idempotency: appends are deterministic functions of (batch rows,
frozen geometry), so a replayed batch appends bit-identical rows;
probes filter to strictly-earlier batches; pair output goes through
the per-batch overwrite protocol; :func:`compact_media_index` rewrites
both indexes to one row per key keeping the MIN batch_id (the
streaming/neardup.py replay contract).

The reference never touched binary media (SURVEY.md §2 — LLM-pipeline
capability extension, multimodal track).
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

# geom_gen: the geometry generation, stamped into planes rows and mmeta
# at opposite ends of a rebuild commit (state.ensure_geometry). Indexes
# predating the columns read NULL -> 0.
PLANES_SCHEMA = "p int, bucket long, w long, geom_gen long"
MMETA_SCHEMA = "nbits int, base_media long, geom_gen long"
SIGS_SCHEMA = "media_id long, band int, band_sig long, batch_id long"
HISTS_SCHEMA = "media_id long, bucket long, cnt long, batch_id long"


def _constants():
    from sparkstreamingflume_spark.plans.extension_queries import (
        BUCKET_CEIL,
        MEDIA_BANDS,
        MEDIA_BITS_MAX,
        MEDIA_BITS_MIN,
        SRP_TARGET_BUCKET,
    )

    return (
        MEDIA_BANDS,
        MEDIA_BITS_MIN,
        MEDIA_BITS_MAX,
        SRP_TARGET_BUCKET,
        BUCKET_CEIL,
    )


def _sign(df: DataFrame, planes: DataFrame, nbits: int) -> DataFrame:
    """(media_id, bucket, cnt) histogram -> (media_id, band, band_sig)
    signatures against the broadcast frozen planes — the batch stage's
    dots/sig expressions with ``nbits`` a bootstrap-frozen literal."""
    bands, *_ = _constants()
    dots = (
        df.join(F.broadcast(planes), "bucket")
        .groupBy("media_id", "p")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("dot"))
    )
    return dots.groupBy(
        "media_id", F.expr(f"p div {nbits}").cast("int").alias("band")
    ).agg(
        F.sum(
            F.expr(
                "CASE WHEN dot >= 0 THEN"
                f" shiftleft(CAST(1 AS BIGINT), CAST(p % {nbits} AS INT))"
                " ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("band_sig")
    )


def _verify_pairs(
    cand: DataFrame, hists: DataFrame, min_ppm: int
) -> DataFrame:
    """Exact integer-dot cosine verify of (media_a, media_b) candidate
    pairs against a (media_id, bucket, cnt) histogram frame — the batch
    stage's verify/norms expressions verbatim."""
    norms = hists.groupBy("media_id").agg(
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))).alias("nrm")
    )
    ha = hists.select(
        F.col("media_id").alias("media_a"), "bucket", F.col("cnt").alias("ca")
    )
    hb = hists.select(
        F.col("media_id").alias("media_b"), "bucket", F.col("cnt").alias("cb")
    )
    verify = (
        cand.join(ha, "media_a")
        .join(hb, ["media_b", "bucket"])
        .groupBy("media_a", "media_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(
        F.col("media_id").alias("media_a"), F.col("nrm").alias("na_")
    )
    nb = norms.select(
        F.col("media_id").alias("media_b"), F.col("nrm").alias("nb_")
    )
    cos = F.floor(F.col("dot") * 1_000_000.0 / (F.col("na_") * F.col("nb_")))
    return (
        verify.join(na, "media_a")
        .join(nb, "media_b")
        .select("media_a", "media_b", cos.cast("long").alias("cos_ppm"))
        .filter(F.col("cos_ppm") >= min_ppm)
    )


def _build_planes(hist: DataFrame, nbits: int) -> DataFrame:
    """Balanced-difference seed planes from a (media_id, bucket, cnt)
    histogram frame — the batch stage's construction (plane p =
    n_odd*hist(seed 2p) - n_even*hist(seed 2p+1)), shared by bootstrap
    and the geometry re-bootstrap (which rebuilds planes FROM THE LIVE
    HISTOGRAMS — the featurizer output is geometry-independent, so
    only planes, signatures and meta rotate).

    Seeds are the corpus's 2*bands*nbits smallest media ids BY RANK,
    not by absolute value: the batch plan's ``media_id <
    2*bands*nbits`` gate assumes ids dense from 0 (true of the driver
    fixtures, where rank == id and the two constructions coincide),
    but a live index bootstrapped from a corpus whose ids start higher
    would get ZERO planes — and a silently candidate-free index
    (caught by the rotation test's offset-id fixture; bootstrap now
    raises on empty planes instead of degrading quietly). The rank
    map is a distributed top-k limit (<= 192 ids) — no global sort."""
    bands, *_ = _constants()
    nper = hist.groupBy("media_id").agg(F.sum("cnt").alias("n"))
    ranked = (
        hist.select("media_id")
        .distinct()
        .orderBy("media_id")
        .limit(2 * bands * nbits)
        .withColumn(
            "rk_", F.row_number().over(Window.orderBy("media_id")) - 1
        )
    )
    seeds = hist.join(F.broadcast(ranked), "media_id").select(
        F.expr("rk_ div 2").alias("pair_id"),
        (F.col("rk_") % 2).alias("side"),
        "bucket",
        "cnt",
    )
    lens = (
        nper.join(F.broadcast(ranked), "media_id")
        .groupBy(
            F.expr("rk_ div 2").alias("pair_id"),
            (F.col("rk_") % 2).alias("side"),
        )
        .agg(F.max("n").alias("n"))
    )
    le = lens.filter(F.col("side") == 0).select(
        "pair_id", F.col("n").alias("n_e")
    )
    lo = lens.filter(F.col("side") == 1).select(
        "pair_id", F.col("n").alias("n_o")
    )
    return (
        seeds.join(le, "pair_id")
        .join(lo, "pair_id")
        .groupBy(
            F.col("pair_id").cast("int").alias("p"), F.col("bucket")
        )
        .agg(
            F.sum(
                F.when(F.col("side") == 0, F.col("n_o") * F.col("cnt"))
                .otherwise(-F.col("n_e") * F.col("cnt"))
            ).alias("w")
        )
    )


def _nbits_for(n: int) -> int:
    """The shared integer bit-length clamp (no float log2 — the
    q_knn_graph_lsh / _media_pair_stage construction)."""
    _, bits_min, bits_max, target, _ = _constants()
    return min(
        bits_max,
        max(bits_min, ((max(n, 1) + target - 1) // target - 1).bit_length()),
    )


def bootstrap_media_index(
    spark: SparkSession,
    seed: DataFrame,
    index_dir: str,
    out_dir: str | None = None,
    min_ppm: int | None = None,
) -> dict:
    """Freeze the projection geometry from a (media_id, payload) seed
    corpus and seed the signature/histogram indexes; seed-internal
    pairs (the batch stage's output over the seed corpus) are written
    to ``out_dir/batch_id=-1`` when ``out_dir`` is given, so the
    output directory's union covers the whole ingest history."""
    from sparkstreamingflume_spark.extensions.multimodal import (
        content_histogram,
    )
    from sparkstreamingflume_spark.plans.extension_queries import (
        MEDIA_NEARDUP_MIN_PPM,
    )

    *_, ceil_ = _constants()
    min_ppm = MEDIA_NEARDUP_MIN_PPM if min_ppm is None else min_ppm

    hist = (
        content_histogram(seed)
        .withColumn("bucket", F.col("bucket").cast("long"))
        .persist()
    )
    n = hist.select("media_id").distinct().count()
    nbits = _nbits_for(n)
    planes = _build_planes(hist, nbits).withColumn(
        "geom_gen", F.lit(0).cast("long")
    ).persist()
    # validate BEFORE any state write (ADVICE r12 #3: the old order
    # stamped mmeta and the empty planes dir first, so a caller that
    # caught the raise left a half-bootstrapped index that passed the
    # not-bootstrapped check and streamed forever emitting zero pairs)
    if planes.count() == 0:
        planes.unpersist()
        hist.unpersist()
        raise RuntimeError(
            "bootstrap_media_index built ZERO planes — the seed corpus"
            " needs at least 2 media with non-empty payloads; a"
            " plane-free index would sign every batch into one bucket"
            " and silently never emit a pair"
        )
    n_planes = write_swap(spark, planes, index_dir, "planes")
    planes.unpersist()
    planes_df = read_state(spark, index_dir, "planes", PLANES_SCHEMA)

    sig = _sign(hist, planes_df, nbits)
    n_sigs = write_swap(
        spark,
        sig.withColumn("batch_id", F.lit(-1).cast("long")),
        index_dir,
        "sigs",
    )
    n_hists = write_swap(
        spark,
        hist.withColumn("batch_id", F.lit(-1).cast("long")),
        index_dir,
        "hists",
    )
    # mmeta is the batch callback's bootstrapped-marker: written LAST
    # (after planes/sigs/hists), so any crash inside bootstrap leaves
    # an index that still fails the not-bootstrapped check instead of
    # half-working
    write_swap(
        spark,
        spark.createDataFrame([(nbits, n, 0)], MMETA_SCHEMA),
        index_dir,
        "mmeta",
    )
    n_pairs = 0
    if out_dir is not None:
        sw = Window.partitionBy("band", "band_sig")
        sp = (
            sig.withColumn("bsz_", F.count("*").over(sw))
            .filter(F.col("bsz_") <= ceil_)
            .drop("bsz_")
        )
        x, y = sp.alias("x"), sp.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_sig") == F.col("y.band_sig"))
                & (F.col("x.media_id") < F.col("y.media_id")),
            )
            .select(
                F.col("x.media_id").alias("media_a"),
                F.col("y.media_id").alias("media_b"),
            )
            .distinct()
        )
        pairs = _verify_pairs(cand, hist, min_ppm)
        from sparkstreamingflume_spark.streaming.sinks import (
            write_batch_parquet_idempotent,
        )

        n_pairs = pairs.count()
        write_batch_parquet_idempotent(pairs, -1, out_dir)
    hist.unpersist()
    return {
        "media": n,
        "nbits": nbits,
        "planes": n_planes,
        "sigs": n_sigs,
        "hists": n_hists,
        "seed_pairs": n_pairs,
    }


def media_neardup_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    min_ppm: int | None = None,
) -> None:
    """foreachBatch callback: featurize this batch's (media_id,
    payload) rows, probe the persisted signature index (strictly-prior
    batches + smaller-id same-batch), verify exactly, emit surviving
    pairs idempotently, append signatures + histograms. Entirely
    JVM-side past the Arrow featurizer pass."""
    from sparkstreamingflume_spark.extensions.multimodal import (
        content_histogram,
    )
    from sparkstreamingflume_spark.plans.extension_queries import (
        MEDIA_NEARDUP_MIN_PPM,
    )
    from sparkstreamingflume_spark.streaming.sinks import (
        write_batch_parquet_idempotent,
    )

    *_, ceil_ = _constants()
    min_ppm = MEDIA_NEARDUP_MIN_PPM if min_ppm is None else min_ppm
    spark = batch.sparkSession
    # a crashed geometry commit must be finished BEFORE signing —
    # otherwise this batch signs against one generation's planes while
    # probing another generation's signature index
    ensure_geometry(spark, index_dir, GEOMETRY)
    meta = read_state(spark, index_dir, "mmeta", MMETA_SCHEMA).collect()
    if not meta:
        raise RuntimeError(
            f"media near-dup index at {index_dir!r} is not bootstrapped"
            " (run bootstrap_media_index first — the projection"
            " geometry must be frozen before ingest)"
        )
    nbits = int(meta[0].nbits)
    planes = read_state(spark, index_dir, "planes", PLANES_SCHEMA)

    hist = (
        content_histogram(batch.filter(F.col("payload").isNotNull()))
        # long bucket to match HISTS_SCHEMA (the featurizer emits int)
        .withColumn("bucket", F.col("bucket").cast("long"))
        .persist()
    )
    sig = _sign(hist, planes, nbits).persist()

    # only buckets the CURRENT batch signs into can produce candidates,
    # so the prior index is narrowed to those buckets FIRST — the
    # occupancy shuffle and the prior probe side are O(batch-touched
    # rows), not O(index) (measured: the full-index form made plain
    # ingest batches track corpus growth toward the 20 s trigger)
    touched = sig.select("band", "band_sig").distinct()
    prior_sigs = (
        read_state(spark, index_dir, "sigs", SIGS_SCHEMA)
        .filter(F.col("batch_id") < F.lit(int(batch_id)))
        .join(touched, ["band", "band_sig"], "leftsemi")
    )
    # probe-time bucket occupancy = prior index MEMBERS + this batch's
    # in the bucket; over the ceiling -> dropped, never enumerated.
    # Occupancy counts DISTINCT (media_id, band, band_sig) — raw rows
    # would let uncompacted replay duplicates (bit-identical re-appends
    # after a crash) inflate a bucket past BUCKET_CEIL spuriously,
    # silently dropping real candidates until the next compaction,
    # where the verify path already collapses duplicates (ADVICE
    # r12 #4: ceiling and verify must share replay-insensitivity).
    occ = (
        prior_sigs.select("media_id", "band", "band_sig")
        .unionByName(sig.select("media_id", "band", "band_sig"))
        .dropDuplicates(["media_id", "band", "band_sig"])
        .groupBy("band", "band_sig")
        .agg(F.count("*").alias("bsz_"))
        .filter(F.col("bsz_") <= ceil_)
        .select("band", "band_sig")
        .persist()  # two consumers (batch + prior probe sides)
    )
    sig_ok = sig.join(occ, ["band", "band_sig"], "leftsemi")
    prior_ok = prior_sigs.join(occ, ["band", "band_sig"], "leftsemi")

    # candidates: prior index members in shared buckets (either id
    # order — output normalized to media_a < media_b), plus smaller-id
    # same-batch rows (the backward-looking rule)
    b, p = sig_ok.alias("b"), prior_ok.alias("p")
    cand_prior = b.join(
        p,
        (F.col("b.band") == F.col("p.band"))
        & (F.col("b.band_sig") == F.col("p.band_sig"))
        & (F.col("b.media_id") != F.col("p.media_id")),
    ).select(
        F.least("b.media_id", "p.media_id").alias("media_a"),
        F.greatest("b.media_id", "p.media_id").alias("media_b"),
    )
    b2 = sig_ok.alias("b2")
    cand_local = b.join(
        b2,
        (F.col("b.band") == F.col("b2.band"))
        & (F.col("b.band_sig") == F.col("b2.band_sig"))
        & (F.col("b2.media_id") < F.col("b.media_id")),
    ).select(
        F.col("b2.media_id").alias("media_a"),
        F.col("b.media_id").alias("media_b"),
    )
    cand = cand_prior.unionByName(cand_local).distinct()

    # verify needs histograms for BOTH sides: this batch's, plus the
    # candidate partners' from the index (semi-joined, strictly prior)
    partner_ids = cand.select(
        F.col("media_a").alias("media_id")
    ).unionByName(cand.select(F.col("media_b").alias("media_id")))
    prior_hists = (
        read_state(spark, index_dir, "hists", HISTS_SCHEMA)
        .filter(F.col("batch_id") < F.lit(int(batch_id)))
        .join(partner_ids.distinct(), "media_id", "leftsemi")
        .select("media_id", "bucket", "cnt")
        # replay churn can duplicate (media_id, bucket) rows between
        # compactions — collapse before the verify dot
        .groupBy("media_id", "bucket")
        .agg(F.max("cnt").alias("cnt"))
    )
    # _verify_pairs references its histogram frame FOUR times (two
    # norm branches + ha + hb): unpersisted, the prior-hists subtree
    # (a multi-million-row parquet read + semi-join + groupBy) would
    # execute four times per batch — measured as a ~25 s batch floor
    # INDEPENDENT of batch size. cand likewise feeds partner_ids and
    # the verify joins.
    cand = cand.persist()
    all_hists = hist.unionByName(prior_hists).persist()
    pairs = _verify_pairs(cand, all_hists, min_ppm)
    write_batch_parquet_idempotent(pairs, batch_id, out_dir)

    (
        sig.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/sigs")
    )
    (
        hist.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/hists")
    )
    sig.unpersist()
    hist.unpersist()
    cand.unpersist()
    all_hists.unpersist()
    occ.unpersist()


def read_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The emitted pair history (bootstrap's seed pairs at
    batch_id=-1 plus every batch's), replay duplicates collapsed."""
    return (
        spark.read.schema("media_a long, media_b long, cos_ppm long")
        .option("basePath", out_dir)
        .parquet(f"{out_dir}/batch_id=*")
        .select("media_a", "media_b", "cos_ppm")
        .distinct()
    )


def compact_media_index(spark: SparkSession, index_dir: str) -> dict:
    """Rewrite sigs and hists to one row per key keeping the MIN
    batch_id (the streaming/neardup.py replay contract), through the
    shared recover/tmp+rename swap. Returns per-side
    (rows_before, rows_after)."""
    stats = {}
    for name, schema, keys in (
        ("sigs", SIGS_SCHEMA, ["media_id", "band"]),
        ("hists", HISTS_SCHEMA, ["media_id", "bucket"]),
    ):
        st = first_batch_compact(spark, index_dir, name, schema, keys)
        if st is not None:
            stats[name] = st
    return stats


def _build(snapshot: DataFrame, n: int) -> tuple[DataFrame, int]:
    """The next geometry: the band width for ``n`` media and planes
    rebuilt from the snapshot's histograms."""
    nbits = _nbits_for(n)
    planes = _build_planes(snapshot.select("media_id", "bucket", "cnt"), nbits)
    return planes, nbits


def _assign(hists: DataFrame, planes: DataFrame, nbits: int) -> DataFrame:
    """Re-sign collapsed histogram rows; each media keeps its first
    batch_id, so the ``batch_id < B`` probe filter is untouched."""
    first = hists.groupBy("media_id").agg(
        F.min("batch_id").alias("batch_id")
    )
    sigs = _sign(hists.select("media_id", "bucket", "cnt"), planes, nbits)
    return sigs.join(first, "media_id")


# The geometry rebuild (state.prepare_rebuild / commit_rebuild): planes
# and signatures are rebuilt FROM THE LIVE HISTOGRAMS. The featurizer
# output is geometry-independent, so hists and the emitted pair history
# are never rotated.
GEOMETRY = Geometry(
    geometry="planes",
    geometry_schema=PLANES_SCHEMA,
    meta="mmeta",
    meta_schema=MMETA_SCHEMA,
    base_col="base_media",
    rotated="sigs",
    rotated_schema=SIGS_SCHEMA,
    source="hists",
    source_schema=HISTS_SCHEMA,
    keys=("media_id", "bucket"),
    build=_build,
    assign=_assign,
    meta_row=lambda nbits, base, gen: (nbits, base, gen),
)
