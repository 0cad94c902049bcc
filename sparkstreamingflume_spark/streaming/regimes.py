"""Streaming SCD2 regime history, zero-Python form — the scalable twin
of ``q_scd2_history`` (plans/relational_queries.py), sibling of
``streaming/transitions.py``.

An ``applyInPandasWithState`` form would pay the Arrow->pandas->Python
round-trip per key group per batch — a host-speed-bound floor (~13.5 s
per batch for 100k groups, measured on an earlier soak box). But the
batch query itself is pure window algebra: within-batch
regimes are lag + cumulative-sum + a per-(key, regime) aggregate, and
only the per-key OPEN regime needs cross-batch state. This module
keeps that state in a parquet index maintained from ``foreachBatch``,
so per-batch work is entirely JVM-side.

Per micro-batch (:func:`regime_update_batch`):

1. within-batch regimes: the certified batch plan verbatim — null-safe
   lag change flags, cumulative island ids (``lrno``), one aggregate
   per (key, lrno), interval close via lead;
2. stitch to state: each key's FIRST interval either MERGES with the
   stored open regime (same type null-safe: counts add, valid_from
   keeps the stored start, numbering continues) or CLOSES it (emit the
   stored regime with valid_to = the batch's first event time, then
   number the batch's regimes from stored_regime_no + 1). Global
   regime numbers are ``stored + (lrno - l1) [+ 1 unless merged]`` —
   reproducing the batch cumulative-flag numbering exactly for
   in-order feeds (a leading NULL-type regime numbers 0, the batch
   rule);
3. emissions: every within-batch interval with a successor, plus the
   stored-regime close, append to ``<index>/closed``; each key's last
   (open) interval appends to ``<index>/open`` as the new state.

:func:`read_history` (closed ∪ newest-open per key) reproduces
``q_scd2_history`` bit-for-bit over the same in-order-fed rows
(tests/test_stream_regimes.py). NULL contract identical to the batch
twin: NULL-ts rows are dropped; consecutive NULL types form ONE
regime (null-safe compare), and a leading NULL-type regime is number
0.

Replay safety: emissions are deterministic GIVEN the state read, and
the ``batch_id < B`` state filter plus keep-2 compaction (see
``transitions.compact_index``) guarantees a replayed batch reads the
SAME predecessor rows, so replayed appends are bit-identical and
reads collapse them per (key, regime_no) / (key, batch_id). Late
cross-batch events append to the current regime rather than
retrofitting — the inherent divergence of any incremental form from
a batch query that sees all events at once.

Scale posture: one window exchange over the batch (lag + cumsum +
interval aggregate share the key partitioning, the certified batch
plan's shape), one join against the key-count-bounded open index, two
appends. State is at most two fixed-width rows per key after
compaction; ``closed`` is the output archive (one row per closed
regime — data, not state). No driver state, no Python.

The reference never maintained cross-batch aggregates; capability
extension (SURVEY.md §2 LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreamingflume_spark.streaming.state import (
    keepn_compact,
    read_state,
)

OPEN_SCHEMA = (
    "user_id long, cur_type string, from_us long, n long,"
    " regime_no long, batch_id long"
)
CLOSED_SCHEMA = (
    "user_id long, regime_no long, event_type string, n_events long,"
    " valid_from_us long, valid_to_us long, batch_id long"
)


def _open_state(
    spark: SparkSession, index_dir: str, before_batch: int | None
) -> DataFrame:
    """Newest open-regime row per key (optionally restricted to rows
    older than ``before_batch`` — the replay guard)."""
    df = read_state(spark, index_dir, "open", OPEN_SCHEMA)
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < F.lit(int(before_batch)))
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def regime_update_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> None:
    """foreachBatch callback: emit this batch's closed regimes and
    refresh the per-key open-regime state. Entirely JVM-side."""
    spark = batch.sparkSession
    ev = batch.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("event_type"),
    )
    ev = ev.persist()
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    changed = F.when(
        F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 0
    ).otherwise(1)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    regs = ev.select(
        "user_id",
        "us",
        "event_type",
        F.sum(changed).over(cum).alias("lrno"),
    )
    iv = regs.groupBy("user_id", "lrno").agg(
        F.min("event_type").alias("l_type"),  # constant within a regime
        F.count("*").alias("n"),
        F.min("us").alias("from_us"),
    )
    wr = Window.partitionBy("user_id").orderBy("lrno")
    wk = Window.partitionBy("user_id")
    iv = (
        iv.withColumn("to_us", F.lead("from_us").over(wr))
        .withColumn("l1", F.min("lrno").over(wk))
        .withColumn("lmax", F.max("lrno").over(wk))
    )
    prev = _open_state(spark, index_dir, before_batch=batch_id).select(
        "user_id",
        F.col("cur_type").alias("p_type"),
        F.col("from_us").alias("p_from"),
        F.col("n").alias("p_n"),
        F.col("regime_no").alias("p_rno"),
    )
    j = iv.join(prev, "user_id", "left")
    has_prev = F.col("p_rno").isNotNull()
    first = F.col("lrno") == F.col("l1")
    # per-key merge flag, derived from the FIRST interval's type and
    # broadcast to every interval row via a key window
    merge = (
        F.max(
            F.when(
                first
                & has_prev
                & F.col("l_type").eqNullSafe(F.col("p_type")),
                1,
            ).otherwise(0)
        ).over(wk)
        == 1
    )
    g = F.when(~has_prev, F.col("lrno")).otherwise(
        F.col("p_rno")
        + (F.col("lrno") - F.col("l1"))
        + F.when(merge, F.lit(0)).otherwise(F.lit(1))
    )
    n2 = F.when(merge & first, F.col("n") + F.col("p_n")).otherwise(
        F.col("n")
    )
    from2 = F.when(merge & first, F.col("p_from")).otherwise(
        F.col("from_us")
    )
    j = (
        j.withColumn("g", g.cast("long"))
        .withColumn("n2", n2.cast("long"))
        .withColumn("from2", from2)
        .withColumn("is_merge", merge)
    )
    j = j.persist()
    closed_in_batch = j.filter(F.col("to_us").isNotNull()).select(
        "user_id",
        F.col("g").alias("regime_no"),
        F.col("l_type").alias("event_type"),
        F.col("n2").alias("n_events"),
        F.col("from2").alias("valid_from_us"),
        F.col("to_us").alias("valid_to_us"),
    )
    prev_close = (
        j.filter(first & has_prev & ~F.col("is_merge"))
        .select(
            "user_id",
            F.col("p_rno").alias("regime_no"),
            F.col("p_type").alias("event_type"),
            F.col("p_n").alias("n_events"),
            F.col("p_from").alias("valid_from_us"),
            F.col("from_us").alias("valid_to_us"),
        )
    )
    (
        closed_in_batch.unionByName(prev_close)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/closed")
    )
    open_new = j.filter(F.col("lrno") == F.col("lmax")).select(
        "user_id",
        F.col("l_type").alias("cur_type"),
        F.col("from2").alias("from_us"),
        F.col("n2").alias("n"),
        F.col("g").alias("regime_no"),
    )
    (
        open_new.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/open")
    )
    j.unpersist()
    ev.unpersist()


def read_history(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live SCD2 history: replay-collapsed closed regimes plus the
    newest open regime per key (valid_to_us NULL) — bit-equal to
    ``q_scd2_history`` over the same in-order-fed rows
    (tests/test_stream_regimes.py)."""
    closed = read_state(spark, index_dir, "closed", CLOSED_SCHEMA)
    w = Window.partitionBy("user_id", "regime_no").orderBy(
        F.col("batch_id").desc()
    )
    closed = (
        closed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "regime_no",
            "event_type",
            "n_events",
            "valid_from_us",
            "valid_to_us",
        )
    )
    open_rows = _open_state(spark, index_dir, None).select(
        "user_id",
        "regime_no",
        F.col("cur_type").alias("event_type"),
        F.col("n").alias("n_events"),
        F.col("from_us").alias("valid_from_us"),
        F.lit(None).cast("long").alias("valid_to_us"),
    )
    return closed.unionByName(open_rows)


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Rewrite ``open`` to the newest two rows per key (keep-2, the
    transitions twin's replay rule) and ``closed`` to one row per
    (key, regime_no) — replay-duplicate hygiene plus small-file
    control, through the shared ``streaming/state.py`` recover/swap
    (readers fall back to the ``.old`` snapshot mid-swap). Returns row
    counts before/after per side."""
    return {
        **keepn_compact(
            spark, index_dir, "open", OPEN_SCHEMA, ("user_id",), 2
        ),
        **keepn_compact(
            spark,
            index_dir,
            "closed",
            CLOSED_SCHEMA,
            ("user_id", "regime_no"),
            1,
        ),
    }
