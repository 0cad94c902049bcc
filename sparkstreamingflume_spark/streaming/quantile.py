"""Streaming HDR quantiles — the streaming twin of ``q_quantile_hdr``.

The HDR histogram register (``functions/hdr.py``) is a MERGEABLE
summary under cell-wise SUM: the register frame of a value stream is
the sum of per-batch register frames, so a continuously-ingesting
pipeline keeps per-group quantile estimates live without ever
re-sorting history — each micro-batch contributes its own
``(group, idx, mid, cnt)`` increment built by the SAME
:func:`functions.hdr.hdr_registers` builder the certified batch query
uses (one implementation, not a hand-synced twin), and any quantile
can be read at any time from the summed registers via the same
``rank_expr`` rule. Per-batch cost is O(|batch|); persisted state is
at most ``|groups| * ~2k`` registers per batch before compaction.

Index layout (plain parquet dirs — the registers are themselves a
queryable Spark table and survive restarts with the checkpoint):

* ``<index_dir>/delta`` — per-batch increments ``(g, idx, mid, cnt,
  batch_id)``.
* ``<index_dir>/base`` — the folded registers ``(g, idx, mid, cnt,
  wm)`` written by :func:`compact_registers`; ``wm`` is the fold
  watermark (largest batch_id whose increment is included).

Idempotency: register counts are SUMS, so like the CMS twin
(``streaming/sketch.py``) and unlike the max-merging HLL twin, a
replayed already-folded batch must not be added twice — reads collapse
replayed deltas by taking one increment per ``(batch_id, g, idx)``
(increments are deterministic, duplicates are bit-identical), and the
fold watermark makes replays of folded batches invisible. Compaction
uses the list-first protocol (fold exactly the listed part-files,
derive wm from the LISTED files' max batch_id, delete exactly the
list), so it is safe to run concurrently with appends.

The reference never maintained cross-batch aggregates (its DStream
counters reset per batch); capability extension (SURVEY.md §2
LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions.hdr import (
    HDR_Q_NAMES,
    HDR_QUANTILES_PPM,
    hdr_registers,
    rank_expr,
)
from sparkstreamingflume_spark.streaming.state import (
    _read_index,
    list_first_fold,
    read_state,
)

DELTA_SCHEMA = (
    "g string, idx long, mid long, dated boolean, cnt long, batch_id long"
)
BASE_SCHEMA = "g string, idx long, mid long, dated boolean, cnt long, wm long"


def _increment(batch: DataFrame) -> DataFrame:
    """(g, idx, mid, dated, cnt) register increment of one micro-batch
    — the exact per-type cents construction of ``q_quantile_hdr``
    (same filters, same shared register builder).

    The ``dated`` flag (``ts IS NOT NULL``) is the one extra register
    dimension that lets a SINGLE index serve both consumers exactly:
    the quantile reader sums over both flag values (``q_quantile_hdr``
    admits undated values), while the drift reader keeps only dated
    registers (``q_dist_drift`` filters ``ts IS NOT NULL`` — an
    undated event belongs to no period histogram). Without it, an
    undated-but-valued event would count toward drift's n_b while
    belonging to no batch histogram (round-8 ADVICE). A stream with no
    ``ts`` column at all is wholly undated — quantiles work, drift
    (which needs a time axis) sees nothing, the right degradation."""
    dated = (
        F.col("ts").isNotNull() if "ts" in batch.columns else F.lit(False)
    )
    vals = (
        batch.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            dated.alias("dated"),
        )
        .filter(F.col("cents") >= 1)
    )
    return hdr_registers(vals, "event_type", "cents", ("dated",))


def _coalesce_dated(df: DataFrame) -> DataFrame:
    """NULL ``dated`` (a pre-upgrade index file) reads as TRUE — see
    :func:`read_registers`' migration note."""
    return df.withColumn("dated", F.coalesce(F.col("dated"), F.lit(True)))


def hdr_update_batch(batch: DataFrame, batch_id: int, index_dir: str) -> None:
    """foreachBatch callback: append this batch's register increment.
    An empty (or all-invalid) batch appends zero rows — a no-op for
    every read."""
    (
        _increment(batch)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(f"{index_dir}/delta")
    )


def read_registers(
    spark: SparkSession, index_dir: str, dated_only: bool = False
) -> DataFrame:
    """The merged registers: (g, idx, mid, cnt) summed over base +
    fresh deltas. The watermark is applied via a broadcast single-row
    join; replayed deltas collapse through a per-(batch_id, g, idx,
    dated) max (increments are deterministic, so duplicates are
    bit-identical).

    ``dated_only=True`` keeps only registers built from ``ts IS NOT
    NULL`` rows — the drift reader's view (``q_dist_drift``'s
    contract); the default sums over both flag values — the quantile
    reader's view (``q_quantile_hdr``'s contract).

    Migration note (round-9 ADVICE): indexes written before the
    ``dated`` register dimension existed read as NULL ``dated``. NULL
    is coalesced to TRUE at every read (here and in the fold): the
    quantile view is unaffected either way (it sums over the flag),
    and the drift view keeps pre-upgrade registers visible rather than
    silently emptying — the conservative direction for a drift GATE
    (pre-upgrade undated values inflate the reference rather than
    vanish from it; a monitoring gate must fail toward alerting, not
    toward an empty silent pass). The fold persists the coalesced
    value, so one compaction fully migrates an old index."""
    base = _coalesce_dated(read_state(spark, index_dir, "base", BASE_SCHEMA))
    delta = _coalesce_dated(
        _read_index(spark, f"{index_dir}/delta", DELTA_SCHEMA)
    )
    wm = base.agg(F.coalesce(F.max("wm"), F.lit(-1)).alias("wm"))
    fresh = (
        delta.join(F.broadcast(wm), F.col("batch_id") > F.col("wm"))
        .groupBy("batch_id", "g", "idx", "dated")
        .agg(F.max("mid").alias("mid"), F.max("cnt").alias("cnt"))
    )
    merged = base.select("g", "idx", "mid", "dated", "cnt").unionByName(
        fresh.select("g", "idx", "mid", "dated", "cnt")
    )
    if dated_only:
        merged = merged.filter(F.col("dated"))
    return merged.groupBy("g", "idx", "mid").agg(
        F.sum("cnt").alias("cnt")
    )


def quantiles(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-group quantile estimates from the live registers — the
    streaming counterpart of q_quantile_hdr's register path (g, n_vals,
    p50/p95/p99_est_cents), same cumulative-count rank rule, so the
    stream and the certified batch query agree bit-for-bit on the same
    ingested rows."""
    regs = read_registers(spark, index_dir)
    w_n = Window.partitionBy("g")
    w_cum = Window.partitionBy("g").orderBy("idx")
    cum = regs.withColumn("n", F.sum("cnt").over(w_n)).withColumn(
        "cum", F.sum("cnt").over(w_cum)
    )
    return cum.groupBy("g").agg(
        F.max("n").cast("long").alias("n_vals"),
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(rank_expr("n", q)), F.col("mid")
                )
            ).alias(f"{HDR_Q_NAMES[q]}_est_cents")
            for q in HDR_QUANTILES_PPM
        ],
    )


def compact_registers(spark: SparkSession, index_dir: str) -> dict:
    """Fold delta files into ``base`` and advance the watermark.

    The list-first watermark protocol lives in
    :func:`streaming.state.list_first_fold` (shared with the sketch /
    transitions / retentions folds); this function contributes only
    the register-specific replay collapse and sum-merge (both over the
    NULL-``dated``-coalesced view, so one compaction fully migrates a
    pre-upgrade index — see :func:`read_registers`). Returns
    {rows_before, rows_after, wm, n_files} or {} when there is nothing
    to fold.
    """
    return list_first_fold(
        spark,
        index_dir,
        delta_schema=DELTA_SCHEMA,
        base_schema=BASE_SCHEMA,
        count_before=True,
        collapse=lambda d: _coalesce_dated(d)
        .groupBy("batch_id", "g", "idx", "dated")
        .agg(F.max("mid").alias("mid"), F.max("cnt").alias("cnt")),
        fold=lambda base, fresh: (
            _coalesce_dated(base)
            .select("g", "idx", "mid", "dated", "cnt")
            .unionByName(fresh.select("g", "idx", "mid", "dated", "cnt"))
            .groupBy("g", "idx", "mid", "dated")
            .agg(F.sum("cnt").alias("cnt"))
        ),
    )
