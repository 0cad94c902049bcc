"""Streaming stability soak: rate-source replay through the ingest graph
or one of the foreachBatch state twins.

Measures what BASELINE.md Table 2 row 3 asks for: sustained micro-batch
processing where p99 batch duration stays under the trigger interval
(the reference's stability criterion — a 20 s batch must clear before
the next arrives, src/StreamingSocketProcess64.scala:83).

Usage: python tools/soak.py [rows_per_second] [seconds] [mode]

Every mode is one row of ``MODES`` below: its trigger, generator, the
twin's update function (started through ``streaming.state.attach``),
its compaction (run every COMPACT_EVERY batches from the foreachBatch
thread — the documented scheduling slot — recording per-compaction
duration, index file counts before/after and the compactor's stats, so
the small-file knob is measured UNDER load), the index subdirectories
it counts, and its end-of-run check. ``X`` and ``X_compact`` share one
generator and one check; only the compaction differs.

mode = dual (default: mixed 61-66 lines through the production ingest
graph, routed_pipeline_dual — one-pass router + two-partner fan-out
enrichment, 2x output rows)
| sjoin_inner / sjoin_outer (stream-stream interval join: two rate
sources at rows_per_second EACH, keyed user join with a 30 s interval
and 30 s watermarks — state must stay bounded at ~rate x horizon)
| rollup (update-mode windowed agg upserted into a partitioned parquet
materialized view via sinks.upsert_rollup, 10 s windows)
| neardup / neardup_compact (incremental near-dup filter,
streaming/neardup.py: synthetic doc stream where ~30%% of rows replay
one of the first 50k texts, so the persisted content-hash + LSH-band
indexes grow over the run and every batch probes them — sustained
filter throughput with a real, growing on-disk index)
| cms / cms_compact, hll / hll_compact, hdr / hdr_compact (sketch,
register and quantile twins: bounded state under unbounded input)
| transitions_fb, scd2_fb, funnel_fb, retention_fb (the zero-Python
keep-N twins, always compacting)
| knn (incremental kNN-graph maintenance, streaming/knn.py: 50k-vector
bootstrap freezes the geometry, then per-batch member-index probes +
edge appends with 20%% exact-replay rows and in-loop compaction;
records first-vs-last batch durations because the frozen-geometry
candidate load grows with corpus size)
| media (streaming media near-dup, streaming/media_neardup.py:
20k-payload bootstrap freezes the SRP planes + band width, then every
batch runs the real Arrow byte-histogram featurizer, probes the
persisted (band, band_sig) index, exact-verifies candidates, and
appends signatures + histograms).
knn and media also run the growth-triggered geometry rebuild SPLIT:
prepare on a weight-1 FAIR-pool background thread, commit in the
foreachBatch thread, with per-batch durations in the artifact so the
p99-vs-trigger claim is auditable.

Knobs (environment): SOAK_TRIGGER_S, COMPACT_EVERY (default 6),
KNN_REBOOT_FACTOR, MEDIA_BOOT_N, MEDIA_REBOOT_FACTOR,
RESIGN_SLICE, SOAK_DEBUG.
Prints one JSON line with batch-duration percentiles, sustained rate,
and (for stateful modes) state-store rows/bytes (max + last batch).
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from collections.abc import Callable
from types import SimpleNamespace

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from sparkstreamingflume_spark.schemas import RECORD_TYPES  # noqa: E402
from sparkstreamingflume_spark.streaming import (  # noqa: E402
    funnels as FN,
    hll as HL,
    joins,
    knn as KN,
    media_neardup as MN,
    neardup as ND,
    pipeline,
    quantile as HQ,
    regimes as RG,
    retentions as RT,
    sketch as SK,
    sinks,
    sources,
    state,
    transitions as TR,
)

COMPACT_EVERY = int(os.environ.get("COMPACT_EVERY", "6"))
# growth-triggered geometry rebuild: default factor 2.0 = "re-bootstrap
# when the corpus has doubled"; a soak run that should exercise the
# rebuild without doubling the bootstrap sets the factor lower (e.g.
# KNN_REBOOT_FACTOR=1.02 fires after ~1k appends)
KNN_REBOOT_FACTOR = float(os.environ.get("KNN_REBOOT_FACTOR", "2.0"))
MEDIA_BOOT_N = int(os.environ.get("MEDIA_BOOT_N", "20000"))
MEDIA_REBOOT_FACTOR = float(os.environ.get("MEDIA_REBOOT_FACTOR", "2.0"))
# a rebuild's re-assignment is CORPUS-sized: both rows slice it, so each
# background kick does one bounded chunk and the staging crawls across
# maintenance intervals (round-12 verdict task 3 — media's one-shot
# build blew the rotation-concurrent batch to p99 24.9 s > the 20 s
# trigger even at FAIR weight 1; a one-shot knn prepare ran 23-46 s)
RESIGN_SLICE = int(os.environ.get("RESIGN_SLICE", "4000"))
SOAK_TRIGGER_S = os.environ.get("SOAK_TRIGGER_S")
SOAK_DEBUG = os.environ.get("SOAK_DEBUG")
# the fresh 16-byte per-row block holds ~3% of payload mass,
# compressing same-seed cosines below the text threshold — verify at
# 990000 ppm (the binary-noise regime, same rationale as
# q_media_neardup_binary's lowered threshold)
MEDIA_PPM = 990_000
N_USERS = 100_000
TYPES5 = ("click", "view", "purchase", "signup", "error")


@dataclasses.dataclass(frozen=True)
class Mode:
    trigger_s: int
    gen: Callable  # ctx -> streaming DataFrame
    update: Callable | None = None  # twin update_batch; None: no index
    kw: Callable = lambda c: {}  # ctx -> update keyword arguments
    compact: Callable | None = None  # (spark, index_dir) -> stats
    subdirs: tuple = ()  # index subdirectories whose files are counted
    files_key: str = "index_files_final"
    check: Callable = lambda c: {}  # ctx -> the mode's JSON fields
    boot: Callable | None = None  # ctx -> bootstrap stats
    prepare: Callable | None = None  # (spark, index_dir) -> stats | None
    commit: Callable | None = None  # (spark, index_dir) -> stats | None
    sink: Callable | None = None  # (ctx, df) -> writer, non-index modes


# ---- generators -----------------------------------------------------


def gen_dual(c):
    # round-robin over all six record types through the one-pass
    # router; pick prefix+filler via element_at FIRST so only one
    # line is materialized per row (an array of all six lines would
    # build six ~500-char strings per row — generator-bound soak)
    prefixes = sorted(RECORD_TYPES)
    idx = (F.col("value") % len(prefixes) + 1).cast("int")
    pfx = F.element_at(F.array(*[F.lit(p) for p in prefixes]), idx)
    filler = F.element_at(
        F.array(
            *[
                F.lit(
                    ",".join(f"f{j}" for j in range(2, RECORD_TYPES[p].n_fields))
                )
                for p in prefixes
            ]
        ),
        idx,
    )
    line = F.concat_ws(
        ",",
        F.concat(pfx, F.lit("rec"), F.col("value")),
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss"),
        filler,
    )
    lookup = c.spark.createDataFrame(
        [
            (f"f{rt.lac_idx + 1},f{rt.ci_idx + 1}", "label")
            for rt in RECORD_TYPES.values()
        ],
        ["map_key", "map_value"],
    ).dropDuplicates(["map_key"])
    return pipeline.routed_pipeline_dual(
        c.rate.select(line.alias("value")),
        {"yaxin": lookup, "yiyang": lookup},
        how="left",
    )


def gen_sjoin(how):
    # two independent rate streams over ~1M users: at 50k rows/s each
    # side, a left row matches ~rate*horizon/|users| ~ 1.5 same-key
    # right rows in its 30s interval — realistic attribution fan-out
    # (1k users at this rate would mean ~1500 matches/row: the output
    # itself, not the join, becomes the bottleneck)
    def side(c, name):
        return sources.rate(c.spark, rows_per_second=c.rows_per_sec).select(
            (F.col("value") % 1_000_000).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias(f"{name}_seq"),
        )

    return lambda c: joins.interval_join(
        side(c, "l"),
        side(c, "r"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        max_delay="30 seconds",
        watermark="30 seconds",
        how=how,
    )


def gen_rollup(c):
    # update-mode continuous aggregate -> partitioned parquet upsert
    return (
        c.rate.withWatermark("timestamp", "10 seconds")
        .groupBy(
            F.window("timestamp", "10 seconds").alias("w"),
            (F.col("value") % 32).alias("shard"),
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_v"))
        .select(
            F.date_format("w.start", "yyyyMMddHHmmss").alias("wstart"),
            "shard",
            "n",
            "sum_v",
        )
    )


def sink_rollup(c, agg):
    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(
            lambda b, bid: sinks.upsert_rollup(
                b, f"{c.tmp}/view", partition_cols=("wstart",)
            )
        )
        .option("checkpointLocation", f"{c.tmp}/ckpt")
    )


def gen_neardup(c):
    # Deterministic 16-token doc text from a seed: token i is
    # vocab[(seed * C_i) % p_i % 64] with per-position primes, so the
    # text is effectively injective in the seed (depends on seed mod
    # the primes' product ~ 1e48) and JVM-side cheap. 30% of rows
    # draw seed = value % 50_000 — once the first 50k such rows have
    # passed, every one is a replay of an indexed text (exact AND
    # band dup); the rest use a forever-unique seed and must survive.
    primes = [977, 983, 991, 997, 1009, 1013, 1019, 1021,
              1031, 1033, 1039, 1049, 1051, 1061, 1063, 1069]
    vocab = F.array(*[F.lit(f"w{i}") for i in range(64)])
    seed = (
        F.when(F.col("value") % 10 < 3, F.col("value") % 50_000)
        .otherwise(F.lit(1_000_000_000) + F.col("value"))
    )
    toks = [
        F.element_at(
            vocab, ((seed * (2 * i + 3)) % primes[i] % 64 + 1).cast("int")
        )
        for i in range(16)
    ]
    return c.rate.select(
        F.col("value").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
    )


def gen_typed(every):
    # 100k keys; event_type advances every `every`-th key-event. every=3
    # (scd2_fb, transitions_fb): regimes extend twice, then close; every=1
    # (funnel_fb): each key cycles view->click->purchase and converts on
    # its 3rd event, exercising the fold, the completion emit, and the
    # state join
    return lambda c: c.rate.select(
        (F.col("value") % N_USERS).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("event_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.expr(f"(value div {every * N_USERS}) % 3") + 1).cast("int"),
        ).alias("event_type"),
    )


def gen_retention(c):
    # 100k keys whose event-time day advances every 3rd key-event: 2/3
    # of rows dedup away in the anti-join, 1/3 emit a delta; the seen
    # index grows one row per (key, day)
    day = F.expr(f"value div {3 * N_USERS}").cast("long")
    return c.rate.select(
        (F.col("value") % N_USERS).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_704_067_200) + day * 86_400 + (F.col("value") % N_USERS) % 3_600
        ).alias("ts"),
    )


def gen_cms(c):
    # 16 tokens per row: 30% drawn from a 10-word hot head (each
    # ~3% of the stream — above the 2% heavy bar), 70% from an
    # effectively-unbounded cold tail — the skewed shape a
    # heavy-hitter sketch exists for, and the worst case for any
    # exact counter (the cold vocabulary grows with the stream
    # while the sketch stays 1025 cells)
    toks = []
    for i in range(16):
        # mix reads the TENS digit, hot the UNITS digit: independent
        # selectors, so each hot word gets exactly 3.0% of the
        # stream. (Multiplicative variants like value*k % 10
        # collapse to a subgroup when k shares a factor with 10, and
        # same-digit additive variants correlate which slots go hot
        # with which word they pick — both verified to skew shares
        # to 1.9-5.0% per word.)
        mix = (F.expr("value div 10") + 7 * i) % 10
        hot = F.concat(F.lit("h"), ((F.col("value") + i) % 10).cast("string"))
        cold = F.concat(F.lit("c"), (F.col("value") * 16 + i).cast("string"))
        toks.append(F.when(mix < 3, hot).otherwise(cold))
    return c.rate.select(
        F.col("value").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
    )


def gen_hll(c):
    # every row is a NEW user (value is unique), round-robined over
    # 5 event types: the tracked distinct count grows linearly with
    # the stream while the register state stays <= 5 * 256 rows —
    # the bounded-state-unbounded-cardinality contract under load
    types = F.array(*[F.lit(t) for t in TYPES5])
    return c.rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("user_id"),
        F.element_at(types, (F.col("value") % 5 + 1).cast("int")).alias(
            "event_type"
        ),
    )


def gen_hdr(c):
    # heavy-tailed values over 5 types: value cents span ~6 octaves
    # via a squared ramp, so the log-linear registers fill across
    # their range while staying <= |types| * ~2k rows — the same
    # bounded-state contract as cms/hll, with the register (not the
    # raw stream) as the only growing artifact. The same index also
    # serves streaming/drift.py reads.
    ramp = (F.col("event_id") % 1000).cast("double")  # event_id = value
    return gen_hll(c).withColumn(
        "value", (ramp * ramp + F.lit(100.0)) / 100.0
    )


def boot_knn(c):
    # bootstrap freezes the geometry over a 50k synthetic corpus
    # (adaptive K = 100 cells)
    import numpy as np

    n_boot, dim = 50_000, 64
    rng = np.random.default_rng(11)
    c.spark.createDataFrame(
        [(i, rng.normal(size=dim).tolist()) for i in range(n_boot)],
        "vec_id long, embedding array<double>",
    ).write.parquet(f"{c.tmp}/boot/embeddings.parquet")
    return KN.bootstrap_knn_index(c.spark, f"{c.tmp}/boot", c.ix)


def gen_knn(c):
    # fresh rows: deterministic pseudo-random 64-dim vectors from a
    # per-row seed; every 5th row reuses an EARLIER row's seed (the
    # replay/dup path, exercising the exact-dup collapse: no edges,
    # not appended). vec_ids offset far above the bootstrap ids.
    # The replayed seed must itself be an ORIGINAL (round-10
    # ADVICE: value div 50 can land on another remapped row —
    # value a multiple of 250 — whose embedding was never emitted,
    # silently decaying the documented 20% dup rate on long runs);
    # bump such seeds by 1, which is never a multiple of 5.
    base_seed = F.expr("value div 50")
    replay_seed = F.when(
        (base_seed % 5 == 0) & (base_seed >= 50), base_seed + 1
    ).otherwise(base_seed)
    seed = F.when(
        (F.col("value") % 5 == 0) & (F.col("value") >= 50), replay_seed
    ).otherwise(F.col("value"))
    emb = F.expr(
        "transform(sequence(0, 63), j ->"
        " pmod(hash(_seed, j), 2000001) / 1000000.0 - 1.0)"
    )
    return c.rate.withColumn("_seed", seed).select(
        (F.col("value") + F.lit(10_000_000)).alias("vec_id"),
        emb.alias("embedding"),
    )


def media_frame(base, id_col, seed_col):
    # per-seed payload = a CONCENTRATED half (the seed's 16 md5
    # bytes repeated 16x — a doc-specific histogram spike) + a
    # HIGH-ENTROPY half (16 distinct md5 blocks — full 0..255
    # spread) + a fresh 16-byte block per ROW. Distinct seeds
    # land at cosine ~0.3 (spikes rarely overlap), same-seed
    # rows at ~0.997 (share 512 of 528 bytes) — honest
    # separation AND spread signatures. Three rejected
    # fixtures, measured: hex TEXT (16 ASCII values) makes
    # every histogram near-identical — the corpus near-dups
    # itself (12.5k pairs / 20k docs, verify dominates);
    # concentration ONLY zeroes most SRP dots — every doc
    # signs identically into one over-ceiling bucket and
    # candidates vanish; entropy ONLY puts distinct docs at
    # cosine ~0.89 — 10-bit SRP can't separate that from 0.99
    # and candidates explode (25 s batches).
    payload = F.concat(
        F.expr(
            "unhex(repeat(md5(concat(CAST("
            f"{seed_col} AS STRING), ':conc')), 16))"
        ),
        F.expr(
            "unhex(concat_ws('', transform(sequence(0, 15),"
            f" j -> md5(concat(CAST({seed_col} AS STRING), ':u:',"
            " CAST(j AS STRING))))))"
        ),
        F.expr(f"unhex(md5(concat(CAST({id_col} AS STRING), ':bin')))"),
    )
    return base.select(F.col(id_col).alias("media_id"), payload.alias("payload"))


def boot_media(c):
    # bootstrap freezes the SRP planes + band width over a synthetic
    # binary corpus
    boot = media_frame(
        c.spark.range(MEDIA_BOOT_N).select(
            F.col("id"), (F.col("id") + 1_000_000_000).alias("bseed")
        ),
        "id",
        "bseed",
    )
    return MN.bootstrap_media_index(
        c.spark, boot, c.ix, out_dir=c.out, min_ppm=MEDIA_PPM
    )


def gen_media(c):
    # every 20th row re-uses the seed of the row TEN earlier (a
    # near-dup: same 512 seed bytes, different 16-byte per-row
    # block) — a steady ~5% near-dup load that must surface as
    # verified pairs. value-10 is never itself a multiple of 20, so the
    # partner keeps its own seed — remapping to value-20 would
    # chain (the partner is remapped too) and NO two rows would
    # share a seed (the knn soak's replay-generator bug class,
    # round-10 ADVICE; measured here as pairs_rows=0). Ids offset
    # far above the bootstrap ids.
    seed = F.when(
        (F.col("value") % 20 == 0) & (F.col("value") >= 20),
        F.col("value") - 10,
    ).otherwise(F.col("value"))
    return media_frame(
        c.rate.select(
            (F.col("value") + 10_000_000).alias("media_id_"),
            seed.alias("mseed"),
        ),
        "media_id_",
        "mseed",
    )


# ---- end-of-run checks ----------------------------------------------


def check_rollup(c):
    return {
        "rollup_partitions": len(
            [d for d in os.listdir(f"{c.tmp}/view") if d.startswith("wstart=")]
        )
    }


def check_neardup(c):
    import duckdb

    def n(pattern):
        return duckdb.sql(f"SELECT count(*) FROM '{pattern}'").fetchone()[0]

    return {
        "survivor_rows": n(f"{c.out}/*/*.parquet"),
        "index_sig_rows": n(f"{c.ix}/exact/*.parquet"),
    }


def check_cms(c):
    # end-of-run estimate sanity: every hot token (~3% of the
    # stream each) must flag heavy; a cold singleton must not
    probe = c.spark.createDataFrame(
        [(f"h{i}",) for i in range(10)] + [("c17",)], "tok string"
    )
    heavy = [
        r["tok"][0]
        for r in SK.heavy_hitters(c.spark, c.ix, probe).collect()
        if r["heavy"]
    ]
    return {
        "hot_flagged_heavy": heavy.count("h"),
        "cold_flagged_heavy": heavy.count("c"),
    }


def check_hll(c):
    # end-of-run estimate sanity: values round-robin the 5
    # types, so each type's true distinct user-day count is
    # ~ingested/5 — every estimate must land within the sketch's
    # error envelope (|err| < 20% covers ~3 sigma at M = 256)
    expected = c.ingested // 5
    ests = {
        r["event_type"]: r["est_hll"]
        for r in HL.distinct_estimates(c.spark, c.ix).collect()
    }
    out = {"distinct_expected_per_type": expected, "distinct_est": ests}
    if expected:
        out["est_err_ppm_max"] = max(
            abs(e - expected) * 1_000_000 // expected for e in ests.values()
        )
    out["register_rows"] = HL.read_registers(c.spark, c.ix).count()
    return out


def check_hdr(c):
    # end-of-run estimate sanity: cents = (r^2+100) for
    # r = value % 1000 uniform, so the true p50 of cents is
    # ~ (500^2+100) = 250100 and p99 ~ (990^2+100) = 980200;
    # HDR buckets guarantee <= ~1.6% relative error — 5% bounds
    # leave room for per-type sampling noise
    qs = {
        r["g"]: (r["n_vals"], r["p50_est_cents"], r["p99_est_cents"])
        for r in HQ.quantiles(c.spark, c.ix).collect()
    }
    ok = all(
        abs(p50 - 250_100) <= 12_500 and abs(p99 - 980_200) <= 49_000
        for (_, p50, p99) in qs.values()
    )
    return {
        "quantiles_per_type": qs,
        "quantile_sanity_ok": bool(qs) and ok,
        "register_rows": HQ.read_registers(c.spark, c.ix).count(),
    }


def check_knn(c):
    out = {
        "members_rows": state.read_state(
            c.spark, c.ix, "members", KN.MEMBERS_SCHEMA
        ).count(),
        "edges_rows": KN.read_edges(c.spark, c.ix).count(),
        "cells_final": state.read_state(
            c.spark, c.ix, "cents", KN.CENTS_SCHEMA
        ).count(),
    }
    # frozen-geometry growth: per-vector candidate load rises
    # with members/cells, so report the slope, not just p50
    if len(c.batch_secs) >= 6:
        out["batch_s_first3_mean"] = round(sum(c.batch_secs[:3]) / 3, 2)
        out["batch_s_last3_mean"] = round(sum(c.batch_secs[-3:]) / 3, 2)
    return out


def check_media(c):
    def rows(name, schema):
        return state.read_state(c.spark, c.ix, name, schema).count()

    return {
        "pairs_rows": MN.read_pairs(c.spark, c.out).count(),
        "sigs_rows": rows("sigs", MN.SIGS_SCHEMA),
        "hists_rows": rows("hists", MN.HISTS_SCHEMA),
        "nbits_final": int(
            state.read_state(c.spark, c.ix, "mmeta", MN.MMETA_SCHEMA)
            .collect()[0]
            .nbits
        ),
    }


def check_transitions(c):
    # sanity: the generator's type flips every 3rd key-event, so
    # all 9 (from, to) pairs occur and the matrix total equals
    # ingested rows minus one first-event per key (<= n_users)
    m = TR.read_matrix(c.spark, c.ix)
    return {
        "matrix_pairs": m.count(),
        "matrix_total": m.agg(F.sum("n_transitions")).first()[0] or 0,
    }


def check_funnel(c):
    done = FN.read_completions(c.spark, c.ix).count()
    return {
        "completions": done,
        "funnels_open": FN.read_funnels(c.spark, c.ix).count() - done,
    }


def check_retention(c):
    tri = RT.read_triangle(c.spark, c.ix)
    return {
        "triangle_cells": tri.count(),
        "triangle_total": tri.agg(F.sum("n_active")).first()[0] or 0,
    }


def check_scd2(c):
    # sanity: regimes close every 3rd key-event, so history
    # rows ~ ingested/3 + one open row per key
    hist = RG.read_history(c.spark, c.ix)
    return {
        "history_rows": hist.count(),
        "open_rows": hist.filter("valid_to_us IS NULL").count(),
    }


# ---- the mode table -------------------------------------------------

_neardup = Mode(
    # neardup's per-batch floor is parquet index reads + two writes +
    # checkpoint commits (~4.7 s at ANY batch size, measured) — a 10 s
    # trigger amortizes it; throughput is rows/s, not batches/s
    10,
    gen_neardup,
    ND.incremental_dedup_batch,
    kw=lambda c: {"out_dir": c.out},
    subdirs=("exact", "bands"),
    check=check_neardup,
)
_cms = Mode(
    # cms appends <= 1025 sketch cells per batch — the floor is one
    # combinable agg + a KB parquet write + checkpoint commit, far
    # lighter than neardup's index probes; 5 s amortizes it. The
    # compact variant runs the fold inside foreachBatch (~0.8-1 s
    # steady, ~4 s on the first, JVM-cold one), so it gets the same
    # 10 s bar as neardup's in-loop compaction
    5,
    gen_cms,
    SK.cms_update_batch,
    subdirs=("delta", "base"),
    files_key="sketch_files_final",
    check=check_cms,
)
_hll = Mode(
    # hll appends <= |types| * 256 register rows per batch — same
    # weight class as cms (one combinable agg + KB parquet write)
    5,
    gen_hll,
    HL.hll_update_batch,
    subdirs=("delta", "base"),
    check=check_hll,
)
_hdr = Mode(
    # hdr appends <= |types| * ~2k register rows per batch — same
    # weight class again; the fold is O(registers) = constant
    5,
    gen_hdr,
    HQ.hdr_update_batch,
    subdirs=("delta", "base"),
    check=check_hdr,
)
# the zero-Python twins' floor is index reads + two parquet writes +
# checkpoint commit (neardup's weight class) — they get the REFERENCE
# bar (20 s); each compacts in-loop every COMPACT_EVERY batches
MODES = {
    # stateless pipelines keep the tight 2 s bar
    "dual": Mode(2, gen_dual),
    # stream-stream joins pay a fixed per-batch state-store cost
    # (RocksDB commit every batch + a periodic ~11 s snapshot-maintenance
    # spike every ~60 s, measured in SOAK_DEBUG traces); a longer
    # trigger absorbs it. 20 s is the reference's own stability
    # criterion (src/StreamingSocketProcess64.scala:83)
    "sjoin_inner": Mode(20, gen_sjoin("inner")),
    "sjoin_outer": Mode(20, gen_sjoin("left_outer")),
    "rollup": Mode(2, gen_rollup, sink=sink_rollup, check=check_rollup),
    "neardup": _neardup,
    "neardup_compact": dataclasses.replace(_neardup, compact=ND.compact_index),
    # within-batch pairs via native lag, cross-batch boundary via the
    # parquet last-event index — the round-9 claim that dropping the
    # Python row path lifts the per-batch floor below the reference's
    # 20 s trigger at 150k rows/s
    "transitions_fb": Mode(
        20,
        gen_typed(3),
        TR.transition_update_batch,
        compact=TR.compact_index,
        subdirs=("delta", "last"),
        check=check_transitions,
    ),
    # within-batch regimes via the native lag+cumsum plan, boundary
    # stitch via the parquet open index
    "scd2_fb": Mode(
        20,
        gen_typed(3),
        RG.regime_update_batch,
        compact=RG.compact_index,
        subdirs=("open", "closed"),
        check=check_scd2,
    ),
    "funnel_fb": Mode(
        20,
        gen_typed(1),
        FN.funnel_update_batch,
        compact=FN.compact_index,
        subdirs=("state", "completions"),
        check=check_funnel,
    ),
    "retention_fb": Mode(
        20,
        gen_retention,
        RT.retention_update_batch,
        compact=RT.compact_index,
        subdirs=("state", "delta", "base"),
        check=check_retention,
    ),
    "cms": _cms,
    "cms_compact": dataclasses.replace(
        _cms, trigger_s=10, compact=SK.compact_sketch
    ),
    "hll": _hll,
    "hll_compact": dataclasses.replace(
        _hll, trigger_s=10, compact=HL.compact_registers
    ),
    "hdr": _hdr,
    "hdr_compact": dataclasses.replace(
        _hdr, trigger_s=10, compact=HQ.compact_registers
    ),
    # knn probes the persisted member index per batch (per-vector
    # candidate load = nprobe * corpus/cells, growing with stream age
    # under the frozen bootstrap geometry — the documented
    # incremental-IVF trade: re-bootstrap when the corpus has doubled)
    # — index-read floor plus a real scoring load; reference bar like
    # the fb twins. Compaction runs in the loop (the production
    # posture): min-batch_id per key, keep the replay contract.
    "knn": Mode(
        20,
        gen_knn,
        KN.knn_update_batch,
        compact=KN.compact_index,
        subdirs=("members", "edges"),
        check=check_knn,
        boot=boot_knn,
        prepare=lambda s, ix: state.prepare_rebuild(
            s, ix, KN.GEOMETRY, KNN_REBOOT_FACTOR, slice_rows=RESIGN_SLICE
        ),
        commit=lambda s, ix: state.commit_rebuild(s, ix, KN.GEOMETRY),
    ),
    # media probes the persisted (band, band_sig) signature index per
    # batch (featurize + sign + bucket join + exact verify) — same
    # index-read floor class as knn/neardup
    "media": Mode(
        20,
        gen_media,
        MN.media_neardup_batch,
        kw=lambda c: {"out_dir": c.out, "min_ppm": MEDIA_PPM},
        compact=MN.compact_media_index,
        subdirs=("sigs", "hists"),
        check=check_media,
        boot=boot_media,
        prepare=lambda s, ix: state.prepare_rebuild(
            s, ix, MN.GEOMETRY, MEDIA_REBOOT_FACTOR, slice_rows=RESIGN_SLICE
        ),
        commit=lambda s, ix: state.commit_rebuild(s, ix, MN.GEOMETRY),
    ),
}


class Background:
    """The off-slot half of a split geometry rebuild: one prepare
    thread at a time, in the low-weight FAIR pool."""

    def __init__(self, prepare, ix):
        self.prepare, self.ix = prepare, ix
        self.thread = None
        self.prepares: list[dict] = []
        self.errors: list[str] = []

    def kick(self, sess, bid):
        if self.thread is not None and self.thread.is_alive():
            return

        def run():
            # low-weight pool: never starve ingest (see the FAIR
            # allocation file); thread-local, pinned-thread
            sess.sparkContext.setLocalProperty("spark.scheduler.pool", "background")
            t0 = time.time()
            try:
                st = self.prepare(sess, self.ix)
            except Exception as e:  # e.g. racing a compaction swap
                self.errors.append(f"batch {bid}: {e!r}"[:300])
                return
            if st is not None:
                self.prepares.append(
                    {"batch_id": bid, "secs": round(time.time() - t0, 2), **st}
                )

        self.thread = threading.Thread(target=run, daemon=True)
        self.thread.start()

    def join(self, timeout_s):
        # a prepare still running would overlap the canary, the
        # end-of-run reads and the index removal
        if self.thread is None:
            return
        self.thread.join(timeout_s)
        if self.thread.is_alive():
            self.errors.append(f"prepare still running {timeout_s} s after stop")


def fair_pools():
    # FAIR scheduler with a low-weight background pool: the off-slot
    # geometry build (prepare on a background thread) must not starve
    # ingest batches of cores — under the default FIFO scheduler a
    # ~10 s prepare job's stages queue AHEAD of the concurrent batch's
    # and the batch p99 blows past the trigger (measured 31.7 s vs the
    # 20 s bar). With ingest weight 8 / minShare 24 vs background
    # weight 1, a concurrent prepare only stretches ITSELF.
    with tempfile.NamedTemporaryFile(
        "w", suffix=".xml", prefix="soak_fair_", delete=False
    ) as alloc:
        alloc.write(
            "<allocations>\n"
            "  <pool name='ingest'>\n"
            "    <schedulingMode>FIFO</schedulingMode>\n"
            "    <weight>8</weight><minShare>24</minShare>\n"
            "  </pool>\n"
            "  <pool name='background'>\n"
            "    <schedulingMode>FIFO</schedulingMode>\n"
            "    <weight>1</weight><minShare>0</minShare>\n"
            "  </pool>\n"
            "</allocations>\n"
        )
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        (extra + ";" if extra else "")
        + "spark.scheduler.mode=FAIR"
        + f";spark.scheduler.allocation.file={alloc.name}"
    )


def main() -> None:
    rows_per_sec = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    run_s = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    mode = sys.argv[3] if len(sys.argv) > 3 else "dual"
    if mode not in MODES:
        raise SystemExit(f"unknown soak mode: {mode}")
    row = MODES[mode]
    # box-speed compensation without editing the mode table: per-batch
    # floors scale with host speed
    trigger_s = int(SOAK_TRIGGER_S or row.trigger_s)

    from sparkstreamingflume_spark.session import get_session

    if row.prepare:
        fair_pools()
    spark = get_session("soak")
    tmp = tempfile.mkdtemp(prefix=f"soak_{mode}_")
    c = SimpleNamespace(
        spark=spark,
        rows_per_sec=rows_per_sec,
        rate=sources.rate(spark, rows_per_second=rows_per_sec),
        tmp=tmp,
        ix=f"{tmp}/ix",
        out=f"{tmp}/out",
    )
    out = {}
    if row.boot:
        t0 = time.time()
        out["bootstrap"] = row.boot(c)
        out["bootstrap_s"] = round(time.time() - t0, 1)

    def files() -> int:
        return sum(len(glob.glob(f"{c.ix}/{d}/*.parquet")) for d in row.subdirs)

    compactions: list[dict] = []
    rebootstraps: list[dict] = []
    bg = Background(row.prepare, c.ix) if row.prepare else None

    def update(b, bid, ix, **kw):
        sess = b.sparkSession
        if bg:
            # the ingest pool gets weight 8 + minShare 24 of 32 cores
            sess.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
        row.update(b, bid, ix, **kw)
        # the sanctioned slot: between batches, from the foreachBatch
        # thread itself (no concurrent probe can see the rename gap)
        if row.compact and bid > 0 and bid % COMPACT_EVERY == 0:
            files_before, t0 = files(), time.time()
            st = row.compact(sess, ix)
            compactions.append(
                {
                    "batch_id": bid,
                    "secs": round(time.time() - t0, 2),
                    "files_before": files_before,
                    "files_after": files(),
                    "stats": st,
                }
            )
        if bg:
            # commit EVERY batch, not just compaction slots: it is a
            # no-op read when nothing is staged, and renames + a
            # bounded tail when a staging completed — so the commit
            # never stacks on top of a compaction in the same slot
            # (measured: ingest + compaction + an unbounded-tail
            # commit in one slot = the 44.5 s round-13 batch)
            t0 = time.time()
            rb = row.commit(sess, ix)
            if rb is not None:
                rebootstraps.append(
                    {"batch_id": bid, "secs": round(time.time() - t0, 2), **rb}
                )
            # skip the kick when the NEXT batch owns a compaction slot:
            # a background slice overlapping a compaction batch stacks
            # 5+7 s of maintenance on one trigger (measured 22.5 s)
            if (bid + 1) % COMPACT_EVERY != 0:
                bg.kick(sess, bid)

    df = row.gen(c)
    if row.update:
        writer = state.attach(update, df, c.ix, f"{tmp}/ckpt", **row.kw(c))
    elif row.sink:
        writer = row.sink(c, df)
    else:
        writer = df.writeStream.format("noop")
    q = writer.trigger(processingTime=f"{trigger_s} seconds").start()
    time.sleep(run_s)
    q.stop()
    if bg:
        bg.join(trigger_s)
    # read after stop: a batch that completes between a progress snapshot
    # and stop() has already written to the index, so the end-of-run
    # checks (hll's expected distinct count) must count its rows too
    progress = [
        json.loads(p if isinstance(p, str) else p.json) for p in q.recentProgress
    ]

    fed = [p for p in progress if p.get("numInputRows", 0) > 0]
    # the rate source accumulates rows while the query spins up, so the
    # first batches are catch-up (numInputRows >> trigger*rate) — steady
    # state is what the stability criterion is about
    steady = fed[3:] if len(fed) > 4 else fed
    c.batch_secs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
    c.ingested = sum(p.get("numInputRows", 0) for p in fed)
    durs = sorted(c.batch_secs)
    rates = [p["processedRowsPerSecond"] for p in steady]
    pct = lambda q_: durs[min(len(durs) - 1, int(q_ * len(durs)))] if durs else None

    # state-store posture: rows/bytes must plateau (watermark eviction),
    # not grow with stream length
    def state_totals(p):
        ops = p.get("stateOperators") or []
        return (
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )

    store = [state_totals(p) for p in steady if p.get("stateOperators")]
    if SOAK_DEBUG:
        for p in fed:
            print(
                f"# batch {p['batchId']}: in={p['numInputRows']} "
                f"dur={p['durationMs']['triggerExecution'] / 1000.0:.2f}s",
                file=sys.stderr,
            )

    # host-speed canary (bench.py's fixed-work md5 microbench) so soak
    # rows are cross-box comparable — round-9 verdict task 5; <20%
    # moves of a normalized number are noise (BASELINE.md trend row)
    def _canary() -> float:
        t0 = time.time()
        (
            spark.range(10_000_000)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .agg(F.count(F.when(F.col("h") > "f0", 1)))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.time() - t0

    _canary()  # untimed warm-up
    canary_sec = round(sorted(_canary() for _ in range(3))[1], 3)

    out = {
        "metric": "streaming_soak",
        "mode": mode,
        "rows_per_second_target": rows_per_sec,
        "canary_sec": canary_sec,
        "trigger_s": trigger_s,
        "batches": len(durs),
        "batch_s_p50": pct(0.5),
        "batch_s_p99": pct(0.99),
        "processed_rows_per_s_mean": (
            round(sum(rates) / len(rates)) if rates else None
        ),
        "stable": bool(durs) and pct(0.99) < trigger_s,
        **out,
    }
    if store:
        out["state_rows_max"] = max(s[0] for s in store)
        out["state_rows_last"] = store[-1][0]
        out["state_mb_max"] = round(max(s[1] for s in store) / 1e6, 1)
        out["state_mb_last"] = round(store[-1][1] / 1e6, 1)
    out.update(row.check(c))
    if row.subdirs:
        out[row.files_key] = files()
    if row.compact:
        out["compactions"] = compactions
    if bg:
        out["rebootstraps"] = rebootstraps
        out["prepares"] = bg.prepares
        if bg.errors:
            out["prep_errors"] = bg.errors
        # per-batch durations in arrival order, so a percentile
        # claim ("re-bootstrap batches stay under the trigger") is
        # auditable against the rebootstraps/compactions batch ids
        # instead of inferred from aggregates
        out["batch_secs"] = [round(x, 2) for x in c.batch_secs]
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
