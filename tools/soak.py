"""Streaming stability soak: rate-source CDR replay through the full
route → mask → enrich pipeline.

Measures what BASELINE.md Table 2 row 3 asks for: sustained micro-batch
processing where p99 batch duration stays under the trigger interval
(the reference's stability criterion — a 20 s batch must clear before
the next arrives, src/StreamingSocketProcess64.scala:83).

Usage: python tools/soak.py [rows_per_second] [seconds] [mode]
mode = dual (default: mixed 61-66 lines through the production ingest
graph, routed_pipeline_dual — one-pass router + two-partner fan-out
enrichment, 2x output rows)
| sjoin_inner / sjoin_outer (stream-stream interval join: two rate
sources at rows_per_second EACH, keyed user join with a 30 s interval
and 30 s watermarks — state must stay bounded at ~rate x horizon)
| rollup (update-mode windowed agg upserted into a partitioned parquet
materialized view via sinks.upsert_rollup, 10 s windows)
| neardup (incremental near-dup filter, streaming/neardup.py: synthetic
doc stream where ~30%% of rows replay one of the first 50k texts, so the
persisted content-hash + LSH-band indexes grow over the run and every
batch probes them — measures sustained filter throughput with a real,
growing on-disk index, the cost a state metric can't see)
| neardup_compact (same, plus compact_index runs from the foreachBatch
thread every COMPACT_EVERY batches — the documented scheduling slot —
recording per-compaction duration, index file counts before/after, and
key-row counts, so the small-file knob is measured UNDER load instead of
only asserted in unit tests).
| knn (incremental kNN-graph maintenance, streaming/knn.py: 50k-vector
bootstrap freezes the geometry, then per-batch member-index probes +
edge appends with 20%% exact-replay rows and in-loop compaction;
records first-vs-last batch durations because the frozen-geometry
candidate load grows with corpus size; the growth-triggered geometry
rebuild runs SPLIT — prepare on a weight-1 FAIR-pool background
thread, commit in the maintenance slot — with per-batch durations in
the artifact so the p99-vs-trigger claim is auditable)
| media (streaming media near-dup, streaming/media_neardup.py:
20k-payload bootstrap freezes the SRP planes + band width, then every
batch runs the real Arrow byte-histogram featurizer, probes the
persisted (band, band_sig) index, exact-verifies candidates, and
appends signatures + histograms; ~5%% of streamed rows near-dup an
earlier row — same seed bytes, fresh per-row block — and in-loop
compaction every COMPACT_EVERY batches).
Prints one JSON line with batch-duration percentiles, sustained rate,
and (for stateful modes) state-store rows/bytes (max + last batch).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    rows_per_sec = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    run_s = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    mode = sys.argv[3] if len(sys.argv) > 3 else "dual"
    # stream-stream joins pay a fixed per-batch state-store cost (RocksDB
    # commit every batch + a periodic ~11 s snapshot-maintenance spike
    # every ~60 s, measured in SOAK_DEBUG traces); a longer trigger
    # absorbs it. 20 s is the reference's own stability criterion
    # (src/StreamingSocketProcess64.scala:83); stateless pipelines keep
    # the much tighter 2 s bar.
    # neardup's per-batch floor is parquet index reads + two writes +
    # checkpoint commits (~4.7 s at ANY batch size, measured) — a 10 s
    # trigger amortizes it; throughput is rows/s, not batches/s
    trigger_s = {
        "sjoin_inner": 20,
        "sjoin_outer": 20,
        "neardup": 10,
        "neardup_compact": 10,
        # the zero-Python twins' floor is index reads + two parquet
        # writes + checkpoint commit (neardup's weight class) — they get
        # the REFERENCE bar (20 s)
        "transitions_fb": 20,
        "scd2_fb": 20,
        "funnel_fb": 20,
        "retention_fb": 20,
        # cms appends <= 1025 sketch cells per batch — the floor is one
        # combinable agg + a KB parquet write + checkpoint commit, far
        # lighter than neardup's index probes; 5 s amortizes it. The
        # compact variant runs the fold inside foreachBatch (~0.8-1 s
        # steady, ~4 s on the first, JVM-cold one), so it gets the same
        # 10 s bar as neardup's in-loop compaction
        "cms": 5,
        "cms_compact": 10,
        # hll appends <= |types| * 256 register rows per batch — same
        # weight class as cms (one combinable agg + KB parquet write)
        "hll": 5,
        "hll_compact": 10,
        # hdr appends <= |types| * ~2k register rows per batch — same
        # weight class again; the fold is O(registers) = constant
        "hdr": 5,
        "hdr_compact": 10,
        # knn probes the persisted member index per batch (per-vector
        # candidate load = nprobe * corpus/cells, growing with stream
        # age under the frozen bootstrap geometry) — index-read floor
        # plus a real scoring load; reference bar like the fb twins
        "knn": 20,
        # media probes the persisted (band, band_sig) signature index
        # per batch (featurize + sign + bucket join + exact verify) —
        # same index-read floor class as knn/neardup
        "media": 20,
    }.get(mode, 2)
    # box-speed compensation without editing the mode table: per-batch
    # floors scale with host speed
    trigger_s = int(os.environ.get("SOAK_TRIGGER_S", trigger_s))

    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.schemas import RECORD_TYPES
    from sparkstreamingflume_spark.session import get_session
    from sparkstreamingflume_spark.streaming import pipeline, sources

    if mode in ("knn", "media"):
        # FAIR scheduler with a low-weight background pool: the
        # off-slot geometry build (prepare_rebootstrap on a background
        # thread) must not starve ingest batches of cores — under the
        # default FIFO scheduler a ~10 s prepare job's stages queue
        # AHEAD of the concurrent batch's and the batch p99 blows past
        # the trigger (measured 31.7 s vs the 20 s bar). With
        # ingest weight 8 / minShare 24 vs background weight 1, a
        # concurrent prepare only stretches ITSELF.
        import tempfile as _tf

        alloc = _tf.NamedTemporaryFile(
            "w", suffix=".xml", prefix="soak_fair_", delete=False
        )
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
        alloc.close()
        extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
            (extra + ";" if extra else "")
            + "spark.scheduler.mode=FAIR"
            + f";spark.scheduler.allocation.file={alloc.name}"
        )

    spark = get_session("soak")

    rate = sources.rate(spark, rows_per_second=rows_per_sec)

    lookup = spark.createDataFrame(
        [
            (f"f{rt.lac_idx + 1},f{rt.ci_idx + 1}", "label")
            for rt in RECORD_TYPES.values()
        ],
        ["map_key", "map_value"],
    ).dropDuplicates(["map_key"])

    tmp_sink_dir = None
    if mode in ("sjoin_inner", "sjoin_outer"):
        # two independent rate streams over ~1M users: at 50k rows/s each
        # side, a left row matches ~rate*horizon/|users| ~ 1.5 same-key
        # right rows in its 30s interval — realistic attribution fan-out
        # (1k users at this rate would mean ~1500 matches/row: the output
        # itself, not the join, becomes the bottleneck)
        from sparkstreamingflume_spark.streaming.joins import interval_join

        def side(name: str):
            return sources.rate(spark, rows_per_second=rows_per_sec).select(
                (F.col("value") % 1_000_000).alias("user_id"),
                F.col("timestamp").alias("ts"),
                F.col("value").alias(f"{name}_seq"),
            )

        transformed = interval_join(
            side("l"),
            side("r"),
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            max_delay="30 seconds",
            watermark="30 seconds",
            how="inner" if mode == "sjoin_inner" else "left_outer",
        )
    elif mode == "rollup":
        # update-mode continuous aggregate -> partitioned parquet upsert
        import tempfile

        from sparkstreamingflume_spark.streaming import sinks as SK

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_rollup_")
        agg = (
            sources.rate(spark, rows_per_second=rows_per_sec)
            .withWatermark("timestamp", "10 seconds")
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
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(
                lambda b, bid: SK.upsert_rollup(
                    b, f"{tmp_sink_dir}/view", partition_cols=("wstart",)
                )
            )
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode in ("neardup", "neardup_compact"):
        import tempfile

        from sparkstreamingflume_spark.streaming import neardup as ND

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_neardup_")
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
                vocab,
                ((seed * (2 * i + 3)) % primes[i] % 64 + 1).cast("int"),
            )
            for i in range(16)
        ]
        docs = rate.select(
            F.col("value").alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _index_files() -> int:
            import glob as _g

            return sum(
                len(_g.glob(f"{ix_dir}/{sub}/*.parquet"))
                for sub in ("exact", "bands")
            )

        def _neardup_cb(b, bid):
            ND.incremental_dedup_batch(
                b, bid, ix_dir, f"{tmp_sink_dir}/out"
            )
            # the docstring's sanctioned slot: between batches, from the
            # foreachBatch thread itself (no concurrent probe can see
            # the rename gap)
            if mode == "neardup_compact" and bid > 0 and bid % compact_every == 0:
                files_before = _index_files()
                t0 = time.time()
                st = ND.compact_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _index_files(),
                        "rows": {k: list(v) for k, v in st.items()},
                    }
                )

        q = (
            docs.writeStream.foreachBatch(_neardup_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "scd2_fb":
        # 100k keys whose event_type flips every 3rd key-event (regimes
        # extend twice, then close) through the zero-Python regime twin
        # (streaming/regimes.py): within-batch regimes via the native
        # lag+cumsum plan, boundary stitch via the parquet open index —
        # the round-9 companion claim to transitions_fb
        import tempfile

        from sparkstreamingflume_spark.streaming import regimes as RG

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_scd2fb_")
        n_users = 100_000
        events = rate.select(
            (F.col("value") % n_users).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.expr(f"(value div {3 * n_users}) % 3") + 1).cast("int"),
            ).alias("event_type"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _rg_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/open/*.parquet")) + len(
                _g.glob(f"{ix_dir}/closed/*.parquet")
            )

        def _rg_cb(b, bid):
            RG.regime_update_batch(b, bid, ix_dir)
            if bid > 0 and bid % compact_every == 0:
                files_before = _rg_files()
                t0 = time.time()
                st = RG.compact_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _rg_files(),
                        "stats": st,
                    }
                )

        q = (
            events.writeStream.foreachBatch(_rg_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "funnel_fb":
        # 100k keys cycling view->click->purchase (one stage per
        # key-event) through the zero-Python funnel twin
        # (streaming/funnels.py): every key converts on its 3rd event,
        # exercising the fold, the completion emit, and the state join
        import tempfile

        from sparkstreamingflume_spark.streaming import funnels as FN

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_fnfb_")
        n_users = 100_000
        events = rate.select(
            (F.col("value") % n_users).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.expr(f"(value div {n_users}) % 3") + 1).cast("int"),
            ).alias("event_type"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _fn_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/state/*.parquet")) + len(
                _g.glob(f"{ix_dir}/completions/*.parquet")
            )

        def _fn_cb(b, bid):
            FN.funnel_update_batch(b, bid, ix_dir)
            if bid > 0 and bid % compact_every == 0:
                files_before = _fn_files()
                t0 = time.time()
                st = FN.compact_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _fn_files(),
                        "stats": st,
                    }
                )

        q = (
            events.writeStream.foreachBatch(_fn_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "retention_fb":
        # 100k keys whose event-time day advances every 3rd key-event
        # through the zero-Python retention twin
        # (streaming/retentions.py): 2/3 of rows dedup away in the
        # anti-join, 1/3 emit a delta; the seen index grows one row per
        # (key, day)
        import tempfile

        from sparkstreamingflume_spark.streaming import retentions as RT

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_rtfb_")
        n_users = 100_000
        day = F.expr(f"value div {3 * n_users}").cast("long")
        events = rate.select(
            (F.col("value") % n_users).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_704_067_200)
                + day * 86_400
                + (F.col("value") % n_users) % 3_600
            ).alias("ts"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _rt_files() -> int:
            import glob as _g

            return (
                len(_g.glob(f"{ix_dir}/state/*.parquet"))
                + len(_g.glob(f"{ix_dir}/delta/*.parquet"))
                + len(_g.glob(f"{ix_dir}/base/*.parquet"))
            )

        def _rt_cb(b, bid):
            RT.retention_update_batch(b, bid, ix_dir)
            if bid > 0 and bid % compact_every == 0:
                files_before = _rt_files()
                t0 = time.time()
                st = RT.compact_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _rt_files(),
                        "stats": st,
                    }
                )

        q = (
            events.writeStream.foreachBatch(_rt_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "transitions_fb":
        # the scd2_fb generator (type flips every 3rd key-event) through
        # the zero-Python foreachBatch twin
        # (streaming/transitions.py): within-batch pairs via native lag,
        # cross-batch boundary via the parquet last-event index —
        # measures the round-9 claim that dropping the Python row path
        # lifts the per-batch floor below the reference's 20 s trigger
        # at 150k rows/s. Compaction (last-index fold) runs in-loop
        # every COMPACT_EVERY batches, the sanctioned slot.
        import tempfile

        from sparkstreamingflume_spark.streaming import transitions as TR

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_trfb_")
        n_users = 100_000
        events = rate.select(
            (F.col("value") % n_users).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.expr(f"(value div {3 * n_users}) % 3") + 1).cast("int"),
            ).alias("event_type"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _tr_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/delta/*.parquet")) + len(
                _g.glob(f"{ix_dir}/last/*.parquet")
            )

        def _tr_cb(b, bid):
            TR.transition_update_batch(b, bid, ix_dir)
            if bid > 0 and bid % compact_every == 0:
                files_before = _tr_files()
                t0 = time.time()
                st = TR.compact_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _tr_files(),
                        "stats": st,
                    }
                )

        q = (
            events.writeStream.foreachBatch(_tr_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode in ("cms", "cms_compact"):
        import tempfile

        from sparkstreamingflume_spark.streaming import sketch as SK

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_cms_")
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
            hot = F.concat(
                F.lit("h"), ((F.col("value") + i) % 10).cast("string")
            )
            cold = F.concat(
                F.lit("c"), (F.col("value") * 16 + i).cast("string")
            )
            toks.append(F.when(mix < 3, hot).otherwise(cold))
        docs = rate.select(
            F.col("value").alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _sketch_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/delta/*.parquet")) + len(
                _g.glob(f"{ix_dir}/base/*.parquet")
            )

        def _cms_cb(b, bid):
            SK.cms_update_batch(b, bid, ix_dir)
            # same sanctioned slot as neardup_compact: between batches,
            # from the foreachBatch thread itself
            if mode == "cms_compact" and bid > 0 and bid % compact_every == 0:
                files_before = _sketch_files()
                t0 = time.time()
                st = SK.compact_sketch(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _sketch_files(),
                        "stats": st,
                    }
                )

        q = (
            docs.writeStream.foreachBatch(_cms_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode in ("hll", "hll_compact"):
        import tempfile

        from sparkstreamingflume_spark.streaming import hll as HL

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_hll_")
        # every row is a NEW user (value is unique), round-robined over
        # 5 event types: the tracked distinct count grows linearly with
        # the stream while the register state stays <= 5 * 256 rows —
        # the bounded-state-unbounded-cardinality contract under load
        types = F.array(
            *[
                F.lit(t)
                for t in ("click", "view", "purchase", "signup", "error")
            ]
        )
        ev = rate.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("user_id"),
            F.element_at(types, (F.col("value") % 5 + 1).cast("int")).alias(
                "event_type"
            ),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _reg_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/delta/*.parquet")) + len(
                _g.glob(f"{ix_dir}/base/*.parquet")
            )

        def _hll_cb(b, bid):
            HL.hll_update_batch(b, bid, ix_dir)
            if mode == "hll_compact" and bid > 0 and bid % compact_every == 0:
                files_before = _reg_files()
                t0 = time.time()
                st = HL.compact_registers(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _reg_files(),
                        "stats": st,
                    }
                )

        q = (
            ev.writeStream.foreachBatch(_hll_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode in ("hdr", "hdr_compact"):
        import tempfile

        from sparkstreamingflume_spark.streaming import quantile as HQ

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_hdr_")
        # heavy-tailed values over 5 types: value cents span ~6 octaves
        # via a squared ramp, so the log-linear registers fill across
        # their range while staying <= |types| * ~2k rows — the same
        # bounded-state contract as cms/hll, with the register (not the
        # raw stream) as the only growing artifact. The same index also
        # serves streaming/drift.py reads.
        types = F.array(
            *[
                F.lit(t)
                for t in ("click", "view", "purchase", "signup", "error")
            ]
        )
        ramp = (F.col("value") % 1000).cast("double")
        ev = rate.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("user_id"),
            F.element_at(types, (F.col("value") % 5 + 1).cast("int")).alias(
                "event_type"
            ),
            ((ramp * ramp + F.lit(100.0)) / 100.0).alias("value"),
        )
        ix_dir = f"{tmp_sink_dir}/ix"
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _hdr_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/delta/*.parquet")) + len(
                _g.glob(f"{ix_dir}/base/*.parquet")
            )

        def _hdr_cb(b, bid):
            HQ.hdr_update_batch(b, bid, ix_dir)
            if mode == "hdr_compact" and bid > 0 and bid % compact_every == 0:
                files_before = _hdr_files()
                t0 = time.time()
                st = HQ.compact_registers(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _hdr_files(),
                        "stats": st,
                    }
                )

        q = (
            ev.writeStream.foreachBatch(_hdr_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "knn":
        # incremental kNN-graph maintenance (streaming/knn.py): bootstrap
        # freezes the geometry over a 50k synthetic corpus (adaptive
        # K = 100 cells), then every batch probes the persisted member
        # index and appends edges for its new vectors. 20% of streamed
        # rows replay an earlier seed's embedding, exercising the
        # exact-dup collapse (no edges, not appended). The per-vector
        # candidate load is nprobe * members/cells — it GROWS with
        # stream age under the frozen geometry (the documented
        # incremental-IVF trade: re-bootstrap when the corpus has
        # doubled), so the soak records first-vs-last steady batch
        # durations, not just percentiles. Compaction runs in the loop
        # (the production posture): min-batch_id per key, keep the
        # replay contract.
        import tempfile

        import numpy as np

        from sparkstreamingflume_spark.streaming import knn as KN

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_knn_")
        boot_dir = f"{tmp_sink_dir}/boot"
        n_boot, dim = 50_000, 64
        rng = np.random.default_rng(11)
        spark.createDataFrame(
            [
                (i, rng.normal(size=dim).tolist())
                for i in range(n_boot)
            ],
            "vec_id long, embedding array<double>",
        ).write.parquet(f"{boot_dir}/embeddings.parquet")
        ix_dir = f"{tmp_sink_dir}/ix"
        t0 = time.time()
        boot_stats = KN.bootstrap_knn_index(spark, boot_dir, ix_dir)
        bootstrap_s = round(time.time() - t0, 1)
        # fresh rows: deterministic pseudo-random 64-dim vectors from a
        # per-row seed; every 5th row reuses an EARLIER row's seed (the
        # replay/dup path). vec_ids offset far above the bootstrap ids.
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
            (F.col("value") % 5 == 0) & (F.col("value") >= 50),
            replay_seed,
        ).otherwise(F.col("value"))
        emb = F.expr(
            "transform(sequence(0, 63), j ->"
            " pmod(hash(_seed, j), 2000001) / 1000000.0 - 1.0)"
        )
        vecs = (
            rate.withColumn("_seed", seed)
            .select(
                (F.col("value") + F.lit(10_000_000)).alias("vec_id"),
                emb.alias("embedding"),
            )
        )
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        def _knn_files() -> int:
            import glob as _g

            return len(_g.glob(f"{ix_dir}/members/*.parquet")) + len(
                _g.glob(f"{ix_dir}/edges/*.parquet")
            )

        # growth-triggered geometry rebuild, SPLIT off the hot path
        # (round-11 verdict task 3): the ~9 s build runs on a
        # BACKGROUND thread (prepare_rebootstrap reads live state,
        # writes staged dirs — safe concurrent with ingest), and the
        # maintenance slot pays only commit_rebootstrap (late-tail
        # re-assignment + renames + meta stamp). Default factor 2.0 =
        # "re-bootstrap when the corpus has doubled"; a soak run that
        # should exercise the rebuild without doubling 50k vectors
        # sets KNN_REBOOT_FACTOR (e.g. 1.02 fires after ~1k appends).
        import threading

        reboot_factor = float(os.environ.get("KNN_REBOOT_FACTOR", "2.0"))
        rebootstraps: list[dict] = []
        prepares: list[dict] = []
        prep_errors: list[str] = []
        prep_thread: list = [None]

        def _kick_prepare(sess, bid):
            def _prep():
                # low-weight pool: never starve ingest (see the FAIR
                # allocation file above); thread-local, pinned-thread
                sess.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", "background"
                )
                t0 = time.time()
                try:
                    # background=True: no mutating recovery off-slot
                    # (ADVICE r12 #1 — recovery belongs to the slot)
                    st = KN.maybe_prepare_rebootstrap(
                        sess, ix_dir, reboot_factor, background=True
                    )
                except Exception as e:  # e.g. racing a compaction swap
                    prep_errors.append(f"batch {bid}: {e!r}"[:300])
                    return
                if st is not None:
                    prepares.append(
                        {
                            "batch_id": bid,
                            "secs": round(time.time() - t0, 2),
                            **st,
                        }
                    )

            t = threading.Thread(target=_prep, daemon=True)
            prep_thread[0] = t
            t.start()

        def _knn_cb(b, bid):
            # the ingest pool gets weight 8 + minShare 24 of 32 cores
            b.sparkSession.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ingest"
            )
            KN.knn_update_batch(b, bid, ix_dir)
            if bid > 0 and bid % compact_every == 0:
                files_before = _knn_files()
                t0 = time.time()
                st = KN.compact_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "files_before": files_before,
                        "files_after": _knn_files(),
                        "rows": {k: list(v) for k, v in st.items()},
                    }
                )
                # the slot half: turn a staged geometry live (renames
                # + late tail, NOT the build)
                t0 = time.time()
                rb = KN.commit_rebootstrap(b.sparkSession, ix_dir)
                if rb is not None:
                    rebootstraps.append(
                        {
                            "batch_id": bid,
                            "secs": round(time.time() - t0, 2),
                            **rb,
                        }
                    )
            # off-slot half: kick the background build when idle (not
            # while a compaction/commit could swap members mid-read —
            # the thread tolerates that race by retrying next kick)
            th = prep_thread[0]
            if th is None or not th.is_alive():
                _kick_prepare(b.sparkSession, bid)

        q = (
            vecs.writeStream.foreachBatch(_knn_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "media":
        # streaming media near-dup (streaming/media_neardup.py):
        # bootstrap freezes the SRP planes + band width over a 20k
        # synthetic binary corpus, then every batch featurizes its
        # (media_id, payload) rows through the REAL Arrow byte-histogram
        # pass, probes the persisted (band, band_sig) index, verifies
        # exactly, and appends signatures + histograms. Every 20th
        # streamed row reuses an EARLIER stream row's text with a fresh
        # 16-byte binary block — a steady ~5% near-dup load that must
        # surface as verified pairs. Compaction in the loop.
        import tempfile

        from sparkstreamingflume_spark.streaming import (
            media_neardup as MN,
        )

        tmp_sink_dir = tempfile.mkdtemp(prefix="soak_media_")
        ix_dir = f"{tmp_sink_dir}/ix"
        out_dir = f"{tmp_sink_dir}/pairs"

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
                F.expr(
                    f"unhex(md5(concat(CAST({id_col} AS STRING),"
                    " ':bin')))"
                ),
            )
            return base.select(
                F.col(id_col).alias("media_id"),
                payload.alias("payload"),
            )

        n_boot = int(os.environ.get("MEDIA_BOOT_N", "20000"))
        boot = media_frame(
            spark.range(n_boot).select(
                F.col("id"),
                (F.col("id") + 1_000_000_000).alias("bseed"),
            ),
            "id",
            "bseed",
        )
        # the fresh 16-byte per-row block holds ~3% of payload mass,
        # compressing same-seed cosines below the text threshold —
        # verify at 990000 ppm (the binary-noise regime, same rationale
        # as q_media_neardup_binary's lowered threshold)
        media_ppm = 990_000
        t0 = time.time()
        boot_stats = MN.bootstrap_media_index(
            spark, boot, ix_dir, out_dir=out_dir, min_ppm=media_ppm
        )
        bootstrap_s = round(time.time() - t0, 1)
        # every 20th row re-uses the seed of the row TEN earlier (a
        # near-dup: same 512 seed bytes, different 16-byte per-row
        # block). value-10 is never itself a multiple of 20, so the
        # partner keeps its own seed — remapping to value-20 would
        # chain (the partner is remapped too) and NO two rows would
        # share a seed (the knn soak's replay-generator bug class,
        # round-10 ADVICE; measured here as pairs_rows=0). Ids offset
        # far above the bootstrap ids.
        seed = F.when(
            (F.col("value") % 20 == 0) & (F.col("value") >= 20),
            F.col("value") - 10,
        ).otherwise(F.col("value"))
        media = media_frame(
            rate.select(
                (F.col("value") + 10_000_000).alias("media_id_"),
                seed.alias("mseed"),
            ),
            "media_id_",
            "mseed",
        )
        compactions: list[dict] = []
        compact_every = int(os.environ.get("COMPACT_EVERY", "6"))

        # growth-triggered geometry rotation, split off the hot path
        # like the knn mode: prepare on a weight-1 FAIR-pool background
        # thread, commit (tail re-sign + renames) in the maintenance
        # slot. MEDIA_REBOOT_FACTOR compresses the "corpus doubled"
        # trigger for short runs.
        import threading

        media_reboot_factor = float(
            os.environ.get("MEDIA_REBOOT_FACTOR", "2.0")
        )
        # the media prepare's re-sign is CORPUS-sized (unlike knn's
        # centroid-sized build): slice it so each background kick does
        # one bounded chunk and the staging crawls across maintenance
        # intervals (round-12 verdict task 3 — the one-shot build blew
        # the rotation-concurrent batch to p99 24.9 s > the 20 s
        # trigger even at FAIR weight 1)
        media_resign_slice = int(
            os.environ.get("MEDIA_RESIGN_SLICE", "4000")
        )
        rebootstraps: list[dict] = []
        prepares: list[dict] = []
        prep_errors: list[str] = []
        prep_thread: list = [None]

        def _kick_media_prepare(sess, bid):
            def _prep():
                sess.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", "background"
                )
                t0 = time.time()
                try:
                    st = MN.maybe_prepare_media_rebootstrap(
                        sess,
                        ix_dir,
                        media_reboot_factor,
                        background=True,
                        slice_media=media_resign_slice,
                    )
                except Exception as e:  # e.g. racing a compaction swap
                    prep_errors.append(f"batch {bid}: {e!r}"[:300])
                    return
                if st is not None:
                    prepares.append(
                        {
                            "batch_id": bid,
                            "secs": round(time.time() - t0, 2),
                            **st,
                        }
                    )

            t = threading.Thread(target=_prep, daemon=True)
            prep_thread[0] = t
            t.start()

        def _media_cb(b, bid):
            b.sparkSession.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ingest"
            )
            MN.media_neardup_batch(
                b, bid, ix_dir, out_dir, min_ppm=media_ppm
            )
            if bid > 0 and bid % compact_every == 0:
                t0 = time.time()
                st = MN.compact_media_index(b.sparkSession, ix_dir)
                compactions.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        "rows": {k: list(v) for k, v in st.items()},
                    }
                )
            # commit EVERY batch, not just compaction slots: it is a
            # no-op read when nothing is staged, and renames + a
            # bounded tail when a staging completed — so the commit
            # never stacks on top of a compaction in the same slot
            # (measured: ingest + compaction + an unbounded-tail
            # commit in one slot = the 44.5 s round-13 batch)
            t0 = time.time()
            rb = MN.commit_media_rebootstrap(b.sparkSession, ix_dir)
            if rb is not None:
                rebootstraps.append(
                    {
                        "batch_id": bid,
                        "secs": round(time.time() - t0, 2),
                        **rb,
                    }
                )
            th = prep_thread[0]
            # skip the kick when the NEXT batch owns a compaction slot:
            # a background slice overlapping a compaction batch stacks
            # 5+7 s of maintenance on one trigger (measured 22.5 s)
            if (th is None or not th.is_alive()) and (
                (bid + 1) % compact_every != 0
            ):
                _kick_media_prepare(b.sparkSession, bid)

        q = (
            media.writeStream.foreachBatch(_media_cb)
            .option("checkpointLocation", f"{tmp_sink_dir}/ckpt")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
        transformed = None
    elif mode == "dual":
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
                        ",".join(
                            f"f{j}" for j in range(2, RECORD_TYPES[p].n_fields)
                        )
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
        lines = rate.select(line.alias("value"))
        transformed = pipeline.routed_pipeline_dual(
            lines, {"yaxin": lookup, "yiyang": lookup}, how="left"
        )
    else:
        raise SystemExit(f"unknown soak mode: {mode}")

    if transformed is not None:
        q = (
            transformed.writeStream.format("noop")
            .trigger(processingTime=f"{trigger_s} seconds")
            .start()
        )
    time.sleep(run_s)
    progress = [
        json.loads(p if isinstance(p, str) else p.json) for p in q.recentProgress
    ]
    q.stop()

    fed = [p for p in progress if p.get("numInputRows", 0) > 0]
    # the rate source accumulates rows while the query spins up, so the
    # first batches are catch-up (numInputRows >> trigger*rate) — steady
    # state is what the stability criterion is about
    steady = fed[3:] if len(fed) > 4 else fed
    durs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
    rates = [p["processedRowsPerSecond"] for p in steady]
    durs.sort()
    pct = lambda q_: durs[min(len(durs) - 1, int(q_ * len(durs)))] if durs else None

    # state-store posture: rows/bytes must plateau (watermark eviction),
    # not grow with stream length
    def state_totals(p):
        ops = p.get("stateOperators") or []
        return (
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )

    state = [state_totals(p) for p in steady if p.get("stateOperators")]
    if os.environ.get("SOAK_DEBUG"):
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
        from pyspark.sql import functions as F

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
    }
    if state:
        out["state_rows_max"] = max(s[0] for s in state)
        out["state_rows_last"] = state[-1][0]
        out["state_mb_max"] = round(max(s[1] for s in state) / 1e6, 1)
        out["state_mb_last"] = round(state[-1][1] / 1e6, 1)
    if tmp_sink_dir:
        import shutil

        if mode == "rollup":
            out["rollup_partitions"] = len(
                [
                    d
                    for d in os.listdir(f"{tmp_sink_dir}/view")
                    if d.startswith("wstart=")
                ]
            )
        elif mode in ("neardup", "neardup_compact"):
            import duckdb

            out["survivor_rows"] = duckdb.sql(
                f"SELECT count(*) FROM '{tmp_sink_dir}/out/*/*.parquet'"
            ).fetchone()[0]
            out["index_sig_rows"] = duckdb.sql(
                f"SELECT count(*) FROM '{tmp_sink_dir}/ix/exact/*.parquet'"
            ).fetchone()[0]
            if mode == "neardup_compact":
                out["index_files_final"] = _index_files()
                out["compactions"] = compactions
        elif mode in ("cms", "cms_compact"):
            from sparkstreamingflume_spark.streaming import sketch as SK

            # end-of-run estimate sanity: every hot token (~3% of the
            # stream each) must flag heavy; a cold singleton must not
            probe = spark.createDataFrame(
                [(f"h{i}",) for i in range(10)] + [("c17",)], "tok string"
            )
            hh = {
                r["tok"]: (r["est"], r["heavy"])
                for r in SK.heavy_hitters(spark, ix_dir, probe).collect()
            }
            out["hot_flagged_heavy"] = sum(
                1 for t, (_, h) in hh.items() if t.startswith("h") and h
            )
            out["cold_flagged_heavy"] = sum(
                1 for t, (_, h) in hh.items() if t.startswith("c") and h
            )
            out["sketch_files_final"] = _sketch_files()
            if mode == "cms_compact":
                out["compactions"] = compactions
        elif mode in ("hll", "hll_compact"):
            from sparkstreamingflume_spark.streaming import hll as HL

            # end-of-run estimate sanity: values round-robin the 5
            # types, so each type's true distinct user-day count is
            # ~ingested/5 — every estimate must land within the sketch's
            # error envelope (|err| < 20% covers ~3 sigma at M = 256)
            ingested = sum(p.get("numInputRows", 0) for p in fed)
            expected = ingested // 5
            ests = {
                r["event_type"]: r["est_hll"]
                for r in HL.distinct_estimates(spark, ix_dir).collect()
            }
            out["distinct_expected_per_type"] = expected
            out["distinct_est"] = ests
            if expected:
                out["est_err_ppm_max"] = max(
                    abs(e - expected) * 1_000_000 // expected
                    for e in ests.values()
                )
            out["register_rows"] = HL.read_registers(spark, ix_dir).count()
            out["index_files_final"] = _reg_files()
            if mode == "hll_compact":
                out["compactions"] = compactions
        elif mode in ("hdr", "hdr_compact"):
            from sparkstreamingflume_spark.streaming import quantile as HQ

            # end-of-run estimate sanity: cents = (r^2+100) for
            # r = value % 1000 uniform, so the true p50 of cents is
            # ~ (500^2+100) = 250100 and p99 ~ (990^2+100) = 980200;
            # HDR buckets guarantee <= ~1.6% relative error — 5% bounds
            # leave room for per-type sampling noise
            qs = {
                r["g"]: (r["n_vals"], r["p50_est_cents"], r["p99_est_cents"])
                for r in HQ.quantiles(spark, ix_dir).collect()
            }
            out["quantiles_per_type"] = qs
            ok = all(
                abs(p50 - 250_100) <= 12_500 and abs(p99 - 980_200) <= 49_000
                for (_, p50, p99) in qs.values()
            )
            out["quantile_sanity_ok"] = bool(qs) and ok
            out["register_rows"] = HQ.read_registers(spark, ix_dir).count()
            out["index_files_final"] = _hdr_files()
            if mode == "hdr_compact":
                out["compactions"] = compactions
        elif mode == "knn":
            from sparkstreamingflume_spark.streaming import knn as KN

            out["bootstrap"] = boot_stats
            out["bootstrap_s"] = bootstrap_s
            out["members_rows"] = KN.read_state(
                spark, ix_dir, "members", KN.MEMBERS_SCHEMA
            ).count()
            out["edges_rows"] = KN.read_edges(spark, ix_dir).count()
            out["index_files_final"] = _knn_files()
            out["compactions"] = compactions
            out["rebootstraps"] = rebootstraps
            out["prepares"] = prepares
            if prep_errors:
                out["prep_errors"] = prep_errors
            out["cells_final"] = KN.read_state(
                spark, ix_dir, "cents", KN.CENTS_SCHEMA
            ).count()
            # frozen-geometry growth: per-vector candidate load rises
            # with members/cells, so report the slope, not just p50
            raw = [
                p["durationMs"]["triggerExecution"] / 1000.0
                for p in steady
            ]
            if len(raw) >= 6:
                out["batch_s_first3_mean"] = round(sum(raw[:3]) / 3, 2)
                out["batch_s_last3_mean"] = round(sum(raw[-3:]) / 3, 2)
            # per-batch durations in arrival order, so a percentile
            # claim ("re-bootstrap batches stay under the trigger") is
            # auditable against the rebootstraps/compactions batch ids
            # instead of inferred from aggregates
            out["batch_secs"] = [round(x, 2) for x in raw]
        elif mode == "media":
            from sparkstreamingflume_spark.streaming import (
                media_neardup as MN,
            )

            out["bootstrap"] = boot_stats
            out["bootstrap_s"] = bootstrap_s
            out["pairs_rows"] = MN.read_pairs(spark, out_dir).count()
            out["sigs_rows"] = MN.read_state(
                spark, ix_dir, "sigs", MN.SIGS_SCHEMA
            ).count()
            out["hists_rows"] = MN.read_state(
                spark, ix_dir, "hists", MN.HISTS_SCHEMA
            ).count()
            out["compactions"] = compactions
            out["rebootstraps"] = rebootstraps
            out["prepares"] = prepares
            if prep_errors:
                out["prep_errors"] = prep_errors
            out["nbits_final"] = int(
                MN.read_state(spark, ix_dir, "mmeta", MN.MMETA_SCHEMA)
                .collect()[0]
                .nbits
            )
            out["batch_secs"] = [
                round(p["durationMs"]["triggerExecution"] / 1000.0, 2)
                for p in steady
            ]
        elif mode == "transitions_fb":
            from pyspark.sql import functions as FF

            from sparkstreamingflume_spark.streaming import transitions as TR

            # sanity: the generator's type flips every 3rd key-event, so
            # all 9 (from, to) pairs occur and the matrix total equals
            # ingested rows minus one first-event per key (<= n_users)
            m = TR.read_matrix(spark, ix_dir)
            out["matrix_pairs"] = m.count()
            out["matrix_total"] = (
                m.agg(FF.sum("n_transitions")).first()[0] or 0
            )
            out["index_files_final"] = _tr_files()
            out["compactions"] = compactions
        elif mode == "funnel_fb":
            from sparkstreamingflume_spark.streaming import funnels as FN

            out["completions"] = FN.read_completions(
                spark, ix_dir
            ).count()
            out["funnels_open"] = (
                FN.read_funnels(spark, ix_dir).count()
                - out["completions"]
            )
            out["index_files_final"] = _fn_files()
            out["compactions"] = compactions
        elif mode == "retention_fb":
            from pyspark.sql import functions as FF

            from sparkstreamingflume_spark.streaming import retentions as RT

            tri = RT.read_triangle(spark, ix_dir)
            out["triangle_cells"] = tri.count()
            out["triangle_total"] = (
                tri.agg(FF.sum("n_active")).first()[0] or 0
            )
            out["index_files_final"] = _rt_files()
            out["compactions"] = compactions
        elif mode == "scd2_fb":
            from sparkstreamingflume_spark.streaming import regimes as RG

            # sanity: regimes close every 3rd key-event, so history
            # rows ~ ingested/3 + one open row per key
            hist = RG.read_history(spark, ix_dir)
            out["history_rows"] = hist.count()
            out["open_rows"] = hist.filter(
                "valid_to_us IS NULL"
            ).count()
            out["index_files_final"] = _rg_files()
            out["compactions"] = compactions
        shutil.rmtree(tmp_sink_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
