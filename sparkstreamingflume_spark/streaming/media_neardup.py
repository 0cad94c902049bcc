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
  --boundary mechanism): :func:`maybe_prepare_media_rebootstrap` /
  :func:`commit_media_rebootstrap` rebuild planes + signatures FROM
  THE LIVE HISTOGRAMS (featurizer output is geometry-independent, so
  hists and the emitted pair history never rotate) with the staged
  off-slot / in-slot-renames split and the geom_gen crash-detection
  marker of streaming/knn.py.
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
  the frozen band width, the media count at the last (re)bootstrap
  (the growth trigger's denominator), and the generation marker.
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
    _hadoop_fs,
    first_batch_compact,
    read_state,
    recover_index,
    swap_in,
    write_swap,
)

# geom_gen: the geometry GENERATION marker (the streaming/knn.py
# pattern): stamped into planes rows and mmeta on OPPOSITE ends of a
# geometry commit, so a crash inside one leaves them unequal —
# media_neardup_batch detects that before signing and finishes the
# staged commit. Indexes predating the columns read NULL -> 0.
PLANES_SCHEMA = "p int, bucket long, w long, geom_gen long"
MMETA_SCHEMA = "nbits int, base_media long, geom_gen long"
MGEOM_STAGED_SCHEMA = "geom_gen long, wm long, nbits int, n_snapshot long"
# In-flight staging cursor for the SLICED re-sign (round-12 verdict
# task 3): last_id = the largest media_id already re-signed into
# .sigs_staged; the completion manifest (mgeom_staged) is written only
# when the cursor runs off the end of the snapshot.
MGEOM_PROGRESS_SCHEMA = (
    "geom_gen long, wm long, nbits int, n_snapshot long, last_id long,"
    " catchup_rounds long"
)
# Catch-up staging bound: after the snapshot cursor completes, media
# that arrived DURING the crawl (batch_id >= wm, not yet staged) are
# signed in further bounded slices, so the slot-side commit tail stays
# <= max(slice_media, one interval's arrivals) instead of growing with
# staging duration x ingest rate. CATCHUP_MAX caps the chase: if after
# this many rounds the tail still exceeds the slice budget (arrival
# rate >= staging throughput — the staging can never win), the
# completion manifest is written anyway and the commit pays the
# remaining tail in-slot, loudly visible in its returned "tail".
MEDIA_CATCHUP_MAX = 16
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


def _mgen_of(df: DataFrame) -> int:
    """Max coalesced geom_gen; -1 when empty (absent state skips the
    consistency check rather than failing it)."""
    row = df.agg(F.max(F.coalesce(F.col("geom_gen"), F.lit(0)))).first()
    return -1 if row[0] is None else int(row[0])


def _ensure_media_geometry_consistent(
    spark: SparkSession, index_dir: str
) -> None:
    """planes rows and mmeta carry geom_gen stamped on opposite ends of
    a geometry commit (planes swap first, mmeta stamp last): inequality
    detects every partial-commit crash window, and the repair is the
    idempotent :func:`commit_media_rebootstrap` — so no batch ever
    signs against one generation's planes while probing another
    generation's signatures."""
    g_p = _mgen_of(read_state(spark, index_dir, "planes", PLANES_SCHEMA))
    g_m = _mgen_of(read_state(spark, index_dir, "mmeta", MMETA_SCHEMA))
    if g_p < 0 or g_m < 0 or g_p == g_m:
        return
    commit_media_rebootstrap(spark, index_dir)


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
    _ensure_media_geometry_consistent(spark, index_dir)
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


def prepare_media_rebootstrap(
    spark: SparkSession,
    index_dir: str,
    background: bool = False,
    slice_media: int | None = None,
) -> dict | None:
    """Phase 1 of the media geometry rebuild — the streaming/knn.py
    staged pattern: the frozen bootstrap geometry decays as the corpus
    grows (cells fatten; here, (band, band_sig) bucket occupancy grows
    toward BUCKET_CEIL, where candidate mass starts getting silently
    pruned — the measured knn_frontier --boundary mechanism), so when
    the corpus has outgrown its band width the planes + signatures are
    rebuilt FROM THE LIVE HISTOGRAMS (the featurizer output is
    geometry-independent — hists never rotate). Builds into staged
    dirs, touching no live state (``background=True`` additionally
    skips the mutating crash recovery — ADVICE r12 #1, the
    streaming/knn.py contract: recovery runs in every slot-side
    maintenance call, so a background prepare must never race it).

    UNLIKE the kNN prepare (whose build is centroid-sized), the media
    re-sign is CORPUS-sized — at 100x corpus a one-shot background
    build starves ingest even at FAIR weight 1 (round-12 verdict
    task 3: the rotation-concurrent batch hit p99 24.9 s > the 20 s
    trigger). ``slice_media=N`` therefore makes the prepare a RESUMABLE
    state machine, each call bounded:

    * INIT (no progress cursor): snapshot the collapsed live hists at
      ``.mgeom_snap`` (one linear pass — stable file set for every
      later slice), build the staged planes (bounded: <=192 seed
      media), write the ``mgeom_progress`` cursor. No media signed yet.
    * SLICE (cursor present): re-sign the next <=N media ids (ordered,
      ``media_id > last_id``, semi-joined from the snapshot) against
      the staged planes, append to ``.sigs_staged`` (anti-joined
      against ids already staged, so a crash between the append and
      the cursor bump re-runs clean), advance the cursor.
    * CATCHUP (cursor past the snapshot's last id, but more than one
      slice of NEW media arrived during the crawl): keep signing the
      late arrivals in bounded slices from the LIVE hists, up to
      MEDIA_CATCHUP_MAX rounds — otherwise the slot-side commit tail
      grows with staging duration x ingest rate (measured: an 18k-doc
      tail after an 8-interval crawl at 100 docs/s).
    * FINAL (remaining tail fits one slice, or the catch-up cap hit):
      write the ``mgeom_staged`` completion manifest, drop the cursor.
      Only now will :func:`commit_media_rebootstrap` turn the geometry
      live — the (now bounded) residue of media ingested since the
      last catch-up is the late tail the commit re-signs
      (``batch_id >= wm``, anti-joined against staged ids).

    ``slice_media=None`` runs INIT + one all-remaining slice + FINAL
    in a single call (the offline/test path — bit-identical staged
    output, same manifests). Each media keeps its ORIGINAL min
    batch_id so the ``batch_id < B`` probe filter is untouched.
    Returns per-call stats (``phase`` = init/slice/final), or None on
    an empty index."""
    if not background:
        for name in ("planes", "mmeta", "sigs", "hists"):
            recover_index(spark, index_dir, name)
    fs, _ = _hadoop_fs(spark, index_dir)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    snap = f"{index_dir}/.mgeom_snap"
    planes_staged = f"{index_dir}/.planes_staged"
    sigs_staged = f"{index_dir}/.sigs_staged"
    live_gen = _mgen_of(read_state(spark, index_dir, "mmeta", MMETA_SCHEMA))
    prog = read_state(
        spark, index_dir, "mgeom_progress", MGEOM_PROGRESS_SCHEMA
    ).collect()
    # a cursor whose generation is already live is debris from an
    # abandoned staging (e.g. a synchronous rebuild ran meanwhile):
    # restart from INIT, which overwrites every staged artifact. Same
    # if the snapshot vanished under a live cursor (only possible via
    # external cleanup) — a slice cannot resume without its snapshot.
    if prog and (
        int(prog[0].geom_gen) <= live_gen or not fs.exists(jp(snap))
    ):
        prog = []

    if not prog:
        # ---- INIT: snapshot + staged planes + cursor ----
        gen_next = max(0, live_gen) + 1
        hists = read_state(spark, index_dir, "hists", HISTS_SCHEMA)
        collapsed = hists.groupBy("media_id", "bucket").agg(
            F.first("cnt").alias("cnt"), F.min("batch_id").alias("batch_id")
        )
        collapsed.write.mode("overwrite").parquet(snap)
        snap_df = spark.read.schema(HISTS_SCHEMA).parquet(snap)
        agg = snap_df.agg(
            F.countDistinct("media_id").alias("n"),
            F.coalesce(F.max("batch_id"), F.lit(-1)).alias("wm"),
        ).first()
        n = int(agg["n"])
        if n == 0:
            return None
        wm = int(agg["wm"])
        nbits = _nbits_for(n)
        planes_new = _build_planes(
            snap_df.select("media_id", "bucket", "cnt"), nbits
        ).withColumn("geom_gen", F.lit(gen_next).cast("long"))
        planes_new.repartition(1).write.mode("overwrite").parquet(
            planes_staged
        )
        # a fresh staging must not inherit a dead one's signatures
        fs.delete(jp(sigs_staged), True)
        write_swap(
            spark,
            spark.createDataFrame(
                [(gen_next, wm, nbits, n, -1, 0)], MGEOM_PROGRESS_SCHEMA
            ),
            index_dir,
            "mgeom_progress",
        )
        if slice_media is not None:
            return {
                "phase": "init",
                "geom_gen": gen_next,
                "nbits": nbits,
                "n_snapshot": n,
                "wm": wm,
            }
        prog = read_state(
            spark, index_dir, "mgeom_progress", MGEOM_PROGRESS_SCHEMA
        ).collect()

    # ---- SLICE / CATCHUP / FINAL: advance the cursor ----
    gen_next, wm, nbits, n, last_id, catchup_rounds = (
        int(prog[0].geom_gen),
        int(prog[0].wm),
        int(prog[0].nbits),
        int(prog[0].n_snapshot),
        int(prog[0].last_id),
        int(prog[0].catchup_rounds or 0),
    )
    snap_df = spark.read.schema(HISTS_SCHEMA).parquet(snap)
    staged_p = spark.read.schema(PLANES_SCHEMA).parquet(planes_staged)
    remaining = (
        snap_df.select("media_id")
        .filter(F.col("media_id") > last_id)
        .distinct()
    )
    if slice_media is not None:
        slice_ids = remaining.orderBy("media_id").limit(slice_media)
    else:
        slice_ids = remaining
    slice_ids = slice_ids.persist()
    n_slice = slice_ids.count()
    if n_slice == 0:
        slice_ids.unpersist()
        # ---- CATCHUP: chase media that arrived during the crawl, so
        # the commit's in-slot tail stays bounded (it grew to staging
        # duration x rate otherwise — the mechanism that re-blew the
        # trigger after the snapshot slicing landed). Reads LIVE hists
        # (the snapshot predates these rows); a compaction swap racing
        # this read fails the kick, which simply retries next slot.
        if slice_media is not None and catchup_rounds < MEDIA_CATCHUP_MAX:
            live = read_state(spark, index_dir, "hists", HISTS_SCHEMA)
            already = (
                spark.read.schema(SIGS_SCHEMA)
                .parquet(sigs_staged)
                .select("media_id")
                .distinct()
            )
            catch_ids = (
                live.filter(F.col("batch_id") >= F.lit(wm))
                .select("media_id")
                .distinct()
                .join(already, "media_id", "left_anti")
                .persist()
            )
            n_catch = catch_ids.count()
            if n_catch > slice_media:
                ids = catch_ids.orderBy("media_id").limit(slice_media)
                ch = (
                    live.join(ids, "media_id", "leftsemi")
                    # the commit's tail collapse, verbatim
                    .groupBy("media_id", "bucket")
                    .agg(
                        F.first("cnt").alias("cnt"),
                        F.min("batch_id").alias("batch_id"),
                    )
                )
                bid = ch.groupBy("media_id").agg(
                    F.min("batch_id").alias("batch_id")
                )
                _sign(
                    ch.select("media_id", "bucket", "cnt"), staged_p, nbits
                ).join(bid, "media_id").write.mode("append").parquet(
                    sigs_staged
                )
                catch_ids.unpersist()
                write_swap(
                    spark,
                    spark.createDataFrame(
                        [
                            (
                                gen_next,
                                wm,
                                nbits,
                                n,
                                last_id,
                                catchup_rounds + 1,
                            )
                        ],
                        MGEOM_PROGRESS_SCHEMA,
                    ),
                    index_dir,
                    "mgeom_progress",
                )
                return {
                    "phase": "catchup",
                    "geom_gen": gen_next,
                    "nbits": nbits,
                    "n_snapshot": n,
                    "wm": wm,
                    "slice": min(slice_media, n_catch),
                    "catchup_left": n_catch - min(slice_media, n_catch),
                }
            catch_ids.unpersist()
        # ---- FINAL: staging complete -> completion manifest ----
        write_swap(
            spark,
            spark.createDataFrame(
                [(gen_next, wm, nbits, n)], MGEOM_STAGED_SCHEMA
            ),
            index_dir,
            "mgeom_staged",
        )
        fs.delete(jp(f"{index_dir}/mgeom_progress"), True)
        return {
            "phase": "final",
            "geom_gen": gen_next,
            "nbits": nbits,
            "n_snapshot": n,
            "wm": wm,
        }
    sl_hists = snap_df.join(slice_ids, "media_id", "leftsemi")
    bid = sl_hists.groupBy("media_id").agg(
        F.min("batch_id").alias("batch_id")
    )
    sigs_new = _sign(
        sl_hists.select("media_id", "bucket", "cnt"), staged_p, nbits
    ).join(bid, "media_id")
    if fs.exists(jp(sigs_staged)):
        # crash idempotency: a slice that appended but died before the
        # cursor bump re-runs as a no-op
        already = (
            spark.read.schema(SIGS_SCHEMA)
            .parquet(sigs_staged)
            .select("media_id")
            .distinct()
        )
        sigs_new = sigs_new.join(already, "media_id", "left_anti")
        sigs_new.write.mode("append").parquet(sigs_staged)
    else:
        sigs_new.write.mode("overwrite").parquet(sigs_staged)
    hi = slice_ids.agg(F.max("media_id")).first()[0]
    slice_ids.unpersist()
    write_swap(
        spark,
        spark.createDataFrame(
            [(gen_next, wm, nbits, n, int(hi), 0)], MGEOM_PROGRESS_SCHEMA
        ),
        index_dir,
        "mgeom_progress",
    )
    if slice_media is None:
        # one-shot path: everything signed in the single slice above
        write_swap(
            spark,
            spark.createDataFrame(
                [(gen_next, wm, nbits, n)], MGEOM_STAGED_SCHEMA
            ),
            index_dir,
            "mgeom_staged",
        )
        fs.delete(jp(f"{index_dir}/mgeom_progress"), True)
        return {
            "phase": "final",
            "geom_gen": gen_next,
            "nbits": nbits,
            "n_snapshot": n,
            "wm": wm,
        }
    return {
        "phase": "slice",
        "geom_gen": gen_next,
        "nbits": nbits,
        "n_snapshot": n,
        "wm": wm,
        "slice": n_slice,
        "last_id": int(hi),
    }


def commit_media_rebootstrap(
    spark: SparkSession, index_dir: str
) -> dict | None:
    """Phase 2 — the maintenance-slot half and the idempotent crash
    completer: re-sign the LATE TAIL (media whose hists appended since
    the snapshot — ``batch_id >= wm``, anti-joined against the staged
    ids so re-runs append nothing twice) against the staged planes,
    then swap planes, swap sigs, stamp mmeta (gen LAST — the
    consistency check's other end), drop the manifest. Live sigs are
    REPLACED wholesale (every indexed media was re-signed into the
    staged set); hists and the emitted pair history are untouched.
    Single-writer, like compaction."""
    for name in ("planes", "mmeta", "sigs", "hists"):
        recover_index(spark, index_dir, name)
    man = read_state(
        spark, index_dir, "mgeom_staged", MGEOM_STAGED_SCHEMA
    ).collect()
    if not man:
        return None
    gen, wm, nbits = (
        int(man[0].geom_gen),
        int(man[0].wm),
        int(man[0].nbits),
    )
    fs, _ = _hadoop_fs(spark, index_dir)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    # ADVICE r12 #2 (the streaming/knn.py twin): a manifest whose gen
    # is already live is debris from a crash between the mmeta stamp
    # and the manifest delete — its commit COMPLETED; without this
    # guard it would both block future rebuilds (maybe_prepare sees
    # "staged") and send this function into swap_in against consumed
    # staged dirs. Drop the leftovers and report nothing-to-commit.
    if gen <= _mgen_of(read_state(spark, index_dir, "mmeta", MMETA_SCHEMA)):
        # drop ONLY the manifest: .mgeom_snap may belong to a NEWER
        # in-flight sliced staging (its commit already deleted its own
        # snap; a gen-N+2 staging re-creates it anyway)
        fs.delete(jp(f"{index_dir}/mgeom_staged"), True)
        return None
    planes_staged = f"{index_dir}/.planes_staged"
    sigs_staged = f"{index_dir}/.sigs_staged"
    n_tail = 0
    if fs.exists(jp(planes_staged)):
        staged_p = spark.read.schema(PLANES_SCHEMA).parquet(planes_staged)
        staged_ids = (
            spark.read.schema(SIGS_SCHEMA)
            .parquet(sigs_staged)
            .select("media_id")
            .distinct()
        )
        live = read_state(spark, index_dir, "hists", HISTS_SCHEMA)
        tail_hists = (
            live.filter(F.col("batch_id") >= F.lit(wm))
            .join(staged_ids, "media_id", "left_anti")
            .groupBy("media_id", "bucket")
            .agg(
                F.first("cnt").alias("cnt"),
                F.min("batch_id").alias("batch_id"),
            )
            .persist()
        )
        tail_bid = tail_hists.groupBy("media_id").agg(
            F.min("batch_id").alias("batch_id")
        )
        tail_sigs = _sign(
            tail_hists.select("media_id", "bucket", "cnt"), staged_p, nbits
        ).join(tail_bid, "media_id").persist()
        n_tail = tail_sigs.select("media_id").distinct().count()
        if n_tail:
            tail_sigs.write.mode("append").parquet(sigs_staged)
        tail_sigs.unpersist()
        tail_hists.unpersist()
        # planes first, then sigs, then mmeta: the check at
        # _ensure_media_geometry_consistent detects a crash anywhere
        # between the first rename and the mmeta stamp
        swap_in(spark, index_dir, "planes", planes_staged)
    swap_in(spark, index_dir, "sigs", sigs_staged)
    n_media = (
        read_state(spark, index_dir, "sigs", SIGS_SCHEMA)
        .select("media_id")
        .distinct()
        .count()
    )
    write_swap(
        spark,
        spark.createDataFrame([(nbits, n_media, gen)], MMETA_SCHEMA),
        index_dir,
        "mmeta",
    )
    fs.delete(jp(f"{index_dir}/mgeom_staged"), True)
    fs.delete(jp(f"{index_dir}/.mgeom_snap"), True)
    # a staging cursor for the generation just committed is debris
    # (crash between the FINAL manifest write and the cursor delete)
    prog = read_state(
        spark, index_dir, "mgeom_progress", MGEOM_PROGRESS_SCHEMA
    ).collect()
    if prog and int(prog[0].geom_gen) <= gen:
        fs.delete(jp(f"{index_dir}/mgeom_progress"), True)
    return {
        "media": n_media,
        "nbits": nbits,
        "geom_gen": gen,
        "tail": n_tail,
    }


def rebootstrap_media_index(spark: SparkSession, index_dir: str) -> dict:
    """Synchronous rebuild — prepare + commit back to back (offline
    maintenance / tests; a live stream prepares off the slot and
    commits in it, the streaming/knn.py discipline)."""
    if prepare_media_rebootstrap(spark, index_dir) is None:
        return {"media": 0}
    done = commit_media_rebootstrap(spark, index_dir)
    return {"media": done["media"], "nbits": done["nbits"]}


def _media_growth_due(
    spark: SparkSession, index_dir: str, growth_factor: float,
    mutate: bool = True,
) -> bool:
    """Trigger: live distinct media >= factor × the base stamped at the
    last (re)bootstrap. An index predating the base_media column gets
    one stamped at the CURRENT size (growth measured from now on) and
    reports not-due; recovery runs before the stamp write.

    ``mutate=False`` (background caller — ADVICE r12 #1) skips both
    the recovery and the legacy stamp; a legacy index reports not-due
    until a slot-side call stamps it."""
    if mutate:
        recover_index(spark, index_dir, "mmeta")
    meta = read_state(spark, index_dir, "mmeta", MMETA_SCHEMA).collect()
    if not meta:
        return False  # unbootstrapped — nothing to rebuild from
    n = (
        read_state(spark, index_dir, "sigs", SIGS_SCHEMA)
        .select("media_id")
        .distinct()
        .count()
    )
    base = meta[0].base_media
    if base is None and not mutate:
        return False
    if base is None:
        gen = max(
            0,
            _mgen_of(read_state(spark, index_dir, "planes", PLANES_SCHEMA)),
        )
        write_swap(
            spark,
            spark.createDataFrame(
                [(int(meta[0].nbits), n, gen)], MMETA_SCHEMA
            ),
            index_dir,
            "mmeta",
        )
        return False
    return int(base) > 0 and n >= growth_factor * int(base)


def maybe_media_rebootstrap(
    spark: SparkSession, index_dir: str, growth_factor: float = 2.0
) -> dict | None:
    """Growth-triggered SYNCHRONOUS geometry rebuild ("re-bootstrap
    when the corpus has doubled")."""
    if not _media_growth_due(spark, index_dir, growth_factor):
        return None
    return rebootstrap_media_index(spark, index_dir)


def maybe_prepare_media_rebootstrap(
    spark: SparkSession,
    index_dir: str,
    growth_factor: float = 2.0,
    background: bool = False,
    slice_media: int | None = None,
) -> dict | None:
    """The ASYNC trigger: prepare the staged geometry when growth is
    due and nothing is already staged (run on a background thread with
    ``background=True`` — skips every mutating recovery step, ADVICE
    r12 #1; commit in the next maintenance slot).

    ``slice_media=N`` bounds each call to one INIT or one <=N-media
    re-sign slice (round-12 verdict task 3): an in-flight staging
    cursor resumes WITHOUT re-checking the growth trigger (the
    trigger fired when the staging started), so repeated kicks crawl
    the corpus one bounded slice per maintenance interval. A staged
    manifest whose gen is already live (ADVICE r12 #2) does not block
    a new prepare."""
    staged = read_state(
        spark, index_dir, "mgeom_staged", MGEOM_STAGED_SCHEMA
    ).collect()
    live_gen = _mgen_of(read_state(spark, index_dir, "mmeta", MMETA_SCHEMA))
    if staged and int(staged[0].geom_gen) > live_gen:
        return None  # genuinely staged, awaiting its commit slot
    prog = read_state(
        spark, index_dir, "mgeom_progress", MGEOM_PROGRESS_SCHEMA
    ).collect()
    in_flight = bool(prog) and int(prog[0].geom_gen) > live_gen
    if not in_flight and not _media_growth_due(
        spark, index_dir, growth_factor, mutate=not background
    ):
        return None
    return prepare_media_rebootstrap(
        spark, index_dir, background=background, slice_media=slice_media
    )
