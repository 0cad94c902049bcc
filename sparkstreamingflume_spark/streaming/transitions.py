"""Streaming event-transition matrix, zero-Python form — the scalable
twin of ``q_event_transitions`` (plans/relational_queries.py).

An ``applyInPandasWithState`` form moves EVERY event through
Arrow->pandas->Python, one tiny frame per key group — a per-event
Python floor that scales with host speed, not cluster width (p50
29.1 s per batch at 150k rows/s, measured on an earlier soak box,
missing the reference-mirroring 20 s trigger). But the within-batch
pairs are expressible natively —
``lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)``
— and only the per-key BOUNDARY row (the last event before a batch
edge) needs cross-batch state. This module keeps that state in a
parquet index maintained from ``foreachBatch`` (the established
pattern of streaming/{neardup,sketch,hll,quantile}.py), so per-batch
work is ENTIRELY JVM-side: one window exchange + two combinable aggs,
no Python row path at all.

Per micro-batch (:func:`transition_update_batch`):

1. within-batch pairs: native lag over (ts, event_id) per key,
   ``rn > 1`` predecessor rule — presummed per (key, pair), appended
   to ``<index>/delta``;
2. boundary pairs: the batch's rn=1 rows joined against the persisted
   per-key last-event state (``<index>/last``, filtered to
   ``batch_id < this batch`` so replays never pair a batch with its
   own tail) — one +1 delta per key that had a predecessor;
3. state upkeep: each key's last event of the batch (``max_by`` over
   the same (ts, id) order) appended to ``<index>/last``.

Downstream, ``SUM(delta) GROUP BY type_from, type_to`` over the deltas
IS the batch query's matrix (:func:`read_matrix`); parity is pinned in
tests/test_stream_transitions_fb.py. NULL contract matches the batch
query exactly: NULL-ts rows are dropped (they hold no window
position); a genuine NULL-typed predecessor KEEPS its transition row —
predecessor existence is row presence (rn > 1 / state-row presence),
never ``type IS NOT NULL``, with the stored NULL type carried by an
explicit ``last_null`` flag.

Replay safety (foreachBatch may re-run the last uncommitted batch):
within-batch deltas are deterministic, so replayed appends are
bit-identical and reads collapse them per (batch_id, key, pair) —
the quantile twin's rule. Boundary deltas replay bit-identically too,
because the ``batch_id < B`` state read always finds the replayed
batch's predecessor row: compaction keeps the newest TWO state rows
per key (keep-2), so folding can never orphan the one row a replay
of the newest batch needs. ``last`` rows replay bit-identically and
reads take the max-batch_id row per key.

In-order arrival across batches gives exact batch parity; a late
cross-batch event pairs with the stored last event rather than its
true predecessor — the inherent divergence of any incremental form
from a batch query that sees all events at once.

Scale posture: state is one fixed-width parquet row per key (after
compaction), the delta stream is bounded by |keys|x|types|^2 per
batch before folding; every step is a combinable agg or broadcast-
sized join on histogram-shaped frames; no driver state, no Python.

The reference never maintained cross-batch aggregates (its DStream
counters reset per batch); capability extension (SURVEY.md §2
LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreamingflume_spark.streaming.state import (
    _read_index,
    keepn_compact,
    list_first_fold,
    read_state,
)

DELTA_SCHEMA = (
    "user_id long, type_from string, type_to string, delta long,"
    " batch_id long"
)
LAST_SCHEMA = "user_id long, last_null boolean, last_type string, batch_id long"
# the folded matrix: per-key detail is summed away (the consumer is the
# corpus matrix), wm = largest batch_id folded in — replays of folded
# batches land below it and stay invisible to every read
MATRIX_SCHEMA = "type_from string, type_to string, n long, wm long"


def _last_state(spark: SparkSession, index_dir: str, before_batch: int | None):
    """One row per key: the newest persisted last-event row, optionally
    restricted to rows older than ``before_batch`` (the replay guard —
    a replayed batch must never pair with its own tail)."""
    last = read_state(spark, index_dir, "last", LAST_SCHEMA)
    if before_batch is not None:
        last = last.filter(F.col("batch_id") < F.lit(int(before_batch)))
    return last.groupBy("user_id").agg(
        F.expr("max_by(last_null, batch_id)").alias("last_null"),
        F.expr("max_by(last_type, batch_id)").alias("last_type"),
        F.max("batch_id").alias("batch_id"),
    )


def transition_update_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> None:
    """foreachBatch callback: append this batch's transition deltas and
    per-key last-event rows. Entirely JVM-side — one window exchange
    over the batch plus two combinable aggs."""
    spark = batch.sparkSession
    ev = batch.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("event_type"),
    )
    # two writes read the same batch — persist once (the foreachBatch
    # multi-sink pattern of streaming/sinks.py)
    ev = ev.persist()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("type_to"),
        F.lag("event_type").over(w).alias("type_from"),
        F.row_number().over(w).alias("rn"),
    )
    within = (
        seq.filter(F.col("rn") > 1)
        .groupBy("user_id", "type_from", "type_to")
        .agg(F.count("*").alias("delta"))
    )
    prev = _last_state(spark, index_dir, before_batch=batch_id)
    boundary = (
        seq.filter(F.col("rn") == 1)
        .join(prev, "user_id")
        .select(
            "user_id",
            F.when(F.col("last_null"), F.lit(None))
            .otherwise(F.col("last_type"))
            .alias("type_from"),
            F.col("type_to"),
            F.lit(1).cast("long").alias("delta"),
        )
    )
    # presum within+boundary into ONE row per (key, pair) before the
    # write: the replay collapse keys on (batch_id, key, pair) with
    # max, so a within row and a boundary row sharing a pair must not
    # land as two rows (max would swallow the boundary's +1)
    (
        within.unionByName(boundary)
        .groupBy("user_id", "type_from", "type_to")
        .agg(F.sum("delta").alias("delta"))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/delta")
    )
    # per-key tail of this batch, under the same (ts, id) total order
    tail = ev.groupBy("user_id").agg(
        F.expr("max_by(event_type IS NULL, struct(ts, event_id))").alias(
            "last_null"
        ),
        F.expr("max_by(event_type, struct(ts, event_id))").alias(
            "last_type"
        ),
    )
    (
        tail.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/last")
    )
    ev.unpersist()


def _fresh_deltas(spark: SparkSession, index_dir: str) -> DataFrame:
    """Delta rows newer than the fold watermark, replay-collapsed per
    (batch, key, pair) by max (deterministic increments, duplicates
    bit-identical; a replayed boundary row is a subset, so max keeps
    the original)."""
    base = read_state(spark, index_dir, "base", MATRIX_SCHEMA)
    delta = _read_index(spark, f"{index_dir}/delta", DELTA_SCHEMA)
    wm = base.agg(F.coalesce(F.max("wm"), F.lit(-1)).alias("wm"))
    return (
        delta.join(F.broadcast(wm), F.col("batch_id") > F.col("wm"))
        .groupBy("batch_id", "user_id", "type_from", "type_to")
        .agg(F.max("delta").alias("delta"))
    )


def read_matrix(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live transition matrix (type_from, type_to, n_transitions) —
    the folded base plus fresh deltas; bit-equal to
    ``q_event_transitions`` over the same in-order-fed rows
    (tests/test_stream_transitions_fb.py)."""
    base = read_state(spark, index_dir, "base", MATRIX_SCHEMA)
    fresh = _fresh_deltas(spark, index_dir)
    return (
        base.select("type_from", "type_to", F.col("n").alias("d"))
        .unionByName(
            fresh.select("type_from", "type_to", F.col("delta").alias("d"))
        )
        .groupBy("type_from", "type_to")
        .agg(F.sum("d").alias("n_transitions"))
    )


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Fold delta files into the ``base`` matrix (watermark protocol)
    and rewrite ``last`` to the newest two rows per key (keep-2 so a
    replay of the newest batch still finds its predecessor state).

    Delta fold = the quantile twin's list-first protocol: fold exactly
    the listed part-files' rows above the old watermark (per-(batch,
    key, pair) max-collapsed first — the replay rule), sum them into
    base WITHOUT per-key detail (the consumer is the corpus matrix),
    advance wm to the LISTED files' max batch_id, swap base in, delete
    exactly the listed files. A replayed already-folded batch appends
    rows at-or-below wm that every read ignores — idempotent; a delta
    appended mid-fold survives unfolded. This bounds the index: base
    is <= |types|² rows forever, delta is one small file per batch
    between folds, last is at most two rows per key after its fold.

    Returns {last_before, last_after, delta_files, base_rows, wm} or
    {} keys for whichever side had nothing to do.
    """
    # ---- last: newest TWO rows per key -------------------------------
    # Keeping only the newest would break a replay of the newest batch
    # itself (its `batch_id < B` state read needs the predecessor row);
    # keep-2 per key makes replay-after-compaction EXACT, not merely a
    # tolerated subset: foreachBatch replays at most the last
    # uncommitted batch, whose predecessor row is always in the top 2.
    out = keepn_compact(
        spark,
        index_dir,
        "last",
        LAST_SCHEMA,
        ("user_id",),
        2,
        # replays are bit-identical per (user, batch) — max-collapse
        collapse=lambda df: df.groupBy("user_id", "batch_id")
        .agg(
            F.max("last_null").alias("last_null"),
            F.max("last_type").alias("last_type"),
        )
        .select("user_id", "last_null", "last_type", "batch_id"),
    )
    # ---- delta -> base: list-first watermark fold ---------------------
    fold = list_first_fold(
        spark,
        index_dir,
        delta_schema=DELTA_SCHEMA,
        base_schema=MATRIX_SCHEMA,
        collapse=lambda d: d.groupBy(
            "batch_id", "user_id", "type_from", "type_to"
        ).agg(F.max("delta").alias("delta")),
        fold=lambda base, fresh: (
            base.select("type_from", "type_to", F.col("n").alias("d"))
            .unionByName(
                fresh.select(
                    "type_from", "type_to", F.col("delta").alias("d")
                )
            )
            .groupBy("type_from", "type_to")
            .agg(F.sum("d").alias("n"))
        ),
    )
    if fold:
        out["base_rows"] = fold["rows_after"]
        out["delta_files"] = fold["n_files"]
        out["wm"] = fold["wm"]
    return out
