"""Streaming portable-HLL distinct counting — the streaming twin of
``q_distinct_hll``.

HLL registers are a MERGEABLE summary under MAX: the register frame of
a stream is the bucket-wise max of per-batch register frames, so a
continuously-ingesting event stream tracks per-group distinct user-days
without ever re-scanning history. Per-batch state is at most
``|groups| * HLL_M`` rows regardless of stream length, built by the
SAME shared construction the batch query and its DuckDB oracle certify
(``functions.hll``) — stream == batch is bit-identical by construction.

Index layout (plain parquet dirs, queryable as tables, restart-safe
with the checkpoint):

* ``<index_dir>/delta`` — per-batch register frames ``(event_type,
  bucket, r, batch_id)``.
* ``<index_dir>/base`` — the folded registers written by
  :func:`compact_registers`.

The defining contrast with the counter sketch (``streaming/sketch.py``):
CMS increments are SUMS, so a replayed already-folded batch would
double-count and the fold needs a watermark; HLL registers merge by
MAX, which is idempotent, so replays — before OR after compaction —
are no-ops by algebra, not bookkeeping. There is no watermark column,
and compaction deletes exactly the delta files it folded (listed
first), so a batch appended concurrently with a fold is never lost.

The reference never maintained cross-batch aggregates (its DStream
counters reset per batch); capability extension (SURVEY.md §2
LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions.hll import (
    hll_bucket_rho,
    hll_estimate,
    hll_z,
)
from sparkstreamingflume_spark.streaming.state import (
    _read_index,
    list_first_fold,
    read_state,
)

DELTA_SCHEMA = "event_type string, bucket long, r int, batch_id long"
BASE_SCHEMA = "event_type string, bucket long, r int"


def _register_increment(batch: DataFrame) -> DataFrame:
    """(event_type, bucket, r) register frame of one micro-batch — the
    exact per-group user-day construction of ``q_distinct_hll`` (same
    filters, same key, same shared column builders)."""
    ev = batch.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        "event_type",
        F.concat_ws(
            "/",
            F.col("user_id").cast("string"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("k"),
    )
    bucket, rho = hll_bucket_rho(F.col("k"))
    return (
        ev.select("event_type", bucket, rho)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_update_batch(batch: DataFrame, batch_id: int, index_dir: str) -> None:
    """foreachBatch callback: append this batch's register frame. An
    empty (or all-invalid) batch appends zero rows — a no-op for every
    read."""
    (
        _register_increment(batch)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(f"{index_dir}/delta")
    )


def read_registers(spark: SparkSession, index_dir: str) -> DataFrame:
    """The folded registers: (event_type, bucket, r) max-merged over
    base + deltas. Duplicate delta rows from replays collapse through
    the same max — no dedup pass, no watermark."""
    base = read_state(spark, index_dir, "base", BASE_SCHEMA)
    delta = _read_index(spark, f"{index_dir}/delta", DELTA_SCHEMA)
    return (
        base.unionByName(delta.select("event_type", "bucket", "r"))
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("r"))
    )


def distinct_estimates(spark: SparkSession, index_dir: str) -> DataFrame:
    """(event_type, est_hll) from the live registers — the streaming
    counterpart of q_distinct_hll's estimate column (the exact-count
    column is a batch-only certification aid; a stream cannot keep
    exact distincts in bounded state, which is the point of the
    sketch)."""
    regs = read_registers(spark, index_dir)
    return (
        regs.groupBy("event_type")
        .agg(hll_z())
        .select("event_type", hll_estimate(F.col("z")).alias("est_hll"))
    )


def compact_registers(spark: SparkSession, index_dir: str) -> dict:
    """Fold delta files into ``base`` and delete exactly what was folded.

    Per-batch appends accumulate one small file per batch; folding
    rewrites the state to at most ``|groups| * HLL_M`` rows in one
    file. Swap protocol as in :func:`streaming.sketch.compact_sketch`
    (recover-first, tmp write, rename, via the Hadoop FS API —
    FS-agnostic), with two simplifications max-merge buys:

    * no watermark — a replayed already-folded batch re-appends rows
      the max collapses;
    * concurrent-append safety by LISTING the delta part-files first
      and deleting only those after the swap: a batch landing mid-fold
      survives as an unfolded delta for the next fold.

    Returns {rows_before, rows_after, n_files} or {} when there is
    nothing to fold. The list-first protocol lives in
    :func:`streaming.state.list_first_fold` (``use_wm=False`` — the
    max-merge needs no watermark bookkeeping); this function
    contributes only the register max-merge.
    """
    return list_first_fold(
        spark,
        index_dir,
        delta_schema=DELTA_SCHEMA,
        base_schema=BASE_SCHEMA,
        use_wm=False,
        count_before=True,
        fold=lambda base, delta: (
            base.unionByName(delta.select("event_type", "bucket", "r"))
            .groupBy("event_type", "bucket")
            .agg(F.max("r").alias("r"))
        ),
    )
