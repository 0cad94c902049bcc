"""Streaming cohort retention, zero-Python form — the scalable twin of
``q_retention`` (plans/relational_queries.py), fourth member of the
foreachBatch family (``transitions.py``, ``regimes.py``,
``funnels.py``).

The state is one parquet row per user holding the sorted day array
and its cohort, and every delta is computed natively. The result is
EXACT under out-of-order arrival, because a late earlier-day event retracts
the user's previously emitted rows (-1 at the old cohort coordinates,
exploded straight from the stored day array) and re-emits them at the
new cohort. Downstream, ``SUM(delta) GROUP BY cohort_day, offset_days``
IS the batch query's retention triangle (each user nets exactly one +1
per active day at their final cohort assignment).

State shape matters at scale — the first cut of this module stored one
ROW per (user, day), and the soak caught the consequence immediately:
the per-batch anti-join read the ENTIRE history (11.8M rows after five
minutes at 150k rows/s), so batch cost grew with stream age. The array
form keeps per-batch reads bounded by |users| rows; the array is
calendar-bounded per user, and lives in parquet instead of executor
memory.

Per micro-batch (:func:`retention_update_batch`):

1. the batch's per-user day set (day = epoch_us div 86400e6, the batch
   query's exact integer rule), NULL-ts rows dropped;
2. join the newest per-user state row (``batch_id < B`` replay guard,
   keep-2 compaction); ``array_except`` isolates genuinely new days —
   users with none are untouched (no delta, no state append);
3. no shift → one +1 per new day at cohort = least(stored, new_min);
   shift (new_min < stored cohort) → the stored array explodes into
   (-1 old coords, +1 new coords) pairs plus the new days' +1s;
4. changed users append their merged (days ∪ new, cohort) row to
   ``<index>/state``; deltas append to ``<index>/delta``.

:func:`read_triangle` reproduces ``q_retention`` bit-for-bit over the
same fed rows — in ANY arrival order
(tests/test_stream_retentions_fb.py feeds a shuffled fixture with
replay and compaction). Replay safety: deltas are deterministic given
the state read, keep-2 compaction guarantees the replayed batch reads
its true predecessor row, and reads collapse replays per (batch_id,
user, coordinate).

Scale posture: per batch one distinct, one key join against a
|users|-row index, one explode bounded by (new days + shifted users'
day arrays), two appends. No driver state, no Python.

Reference parity: capability extension (SURVEY.md §2 LLM-pipeline
track).
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

_DAY_US = 24 * 3600 * 1_000_000

STATE_SCHEMA = (
    "user_id long, days array<long>, cohort long, batch_id long"
)
DELTA_SCHEMA = (
    "user_id long, cohort_day long, offset_days long, delta long,"
    " batch_id long"
)
# the folded triangle: per-user detail summed away (retraction -1s and
# their re-emits commute through the sum), wm = largest folded batch —
# bounded by calendar^2 cells forever, the transitions-base pattern
TRIANGLE_SCHEMA = "cohort_day long, offset_days long, n long, wm long"


def _state(spark: SparkSession, index_dir: str, before_batch: int | None):
    df = read_state(spark, index_dir, "state", STATE_SCHEMA)
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < F.lit(int(before_batch)))
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("days").alias("p_days"),
            F.col("cohort").alias("p_cohort"),
        )
    )


def retention_update_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> None:
    """foreachBatch callback: append changed users' merged day arrays
    and the additive retention deltas (with retractions on cohort
    shift). Entirely JVM-side."""
    spark = batch.sparkSession
    bdays = (
        batch.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("user_id"),
            F.floor(F.unix_micros(F.col(ts_col)) / _DAY_US)
            .cast("long")
            .alias("day"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("bdays"))
    )
    prev = _state(spark, index_dir, before_batch=batch_id)
    j = (
        bdays.join(prev, "user_id", "left")
        .withColumn(
            "new_days",
            F.array_except(
                "bdays",
                F.coalesce("p_days", F.array().cast("array<long>")),
            ),
        )
        .filter(F.size("new_days") > 0)
        .withColumn("new_min", F.array_min("new_days"))
        .withColumn(
            "cohort",
            F.least(F.col("new_min"), F.coalesce("p_cohort", "new_min")),
        )
        .withColumn(
            "shifted",
            F.col("p_cohort").isNotNull()
            & (F.col("new_min") < F.col("p_cohort")),
        )
        .persist()
    )
    plus_new = j.select(
        "user_id", "cohort", F.explode("new_days").alias("d")
    ).select(
        "user_id",
        F.col("cohort").alias("cohort_day"),
        (F.col("d") - F.col("cohort")).alias("offset_days"),
        F.lit(1).cast("long").alias("delta"),
    )
    shifted = j.filter("shifted").select(
        "user_id",
        "p_days",
        "p_cohort",
        "cohort",
        F.explode("p_days").alias("old_day"),
    )
    minus_old = shifted.select(
        "user_id",
        F.col("p_cohort").alias("cohort_day"),
        (F.col("old_day") - F.col("p_cohort")).alias("offset_days"),
        F.lit(-1).cast("long").alias("delta"),
    )
    plus_moved = shifted.select(
        "user_id",
        F.col("cohort").alias("cohort_day"),
        (F.col("old_day") - F.col("cohort")).alias("offset_days"),
        F.lit(1).cast("long").alias("delta"),
    )
    (
        plus_new.unionByName(minus_old)
        .unionByName(plus_moved)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/delta")
    )
    # sort_array (native ordering), not array_sort (a lambda comparator):
    # neither array holds a null. new_days comes from collect_set, which
    # drops nulls, over days of non-null ts; p_days is an earlier batch's
    # ``days``, built here from the same two arrays.
    state_new = j.select(
        "user_id",
        F.sort_array(
            F.array_union(
                F.coalesce("p_days", F.array().cast("array<long>")),
                "new_days",
            )
        ).alias("days"),
        "cohort",
    )
    (
        state_new.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        .write.mode("append")
        .parquet(f"{index_dir}/state")
    )
    j.unpersist()


def read_triangle(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live retention triangle (cohort_day, offset_days, n_active)
    — the folded base plus fresh deltas; bit-equal to ``q_retention``
    over the same fed rows, in any arrival order. Replays of unfolded
    batches collapse per (batch, user, coordinate); replays of folded
    batches land below the watermark and are invisible."""
    base = read_state(spark, index_dir, "base", TRIANGLE_SCHEMA)
    d = _read_index(spark, f"{index_dir}/delta", DELTA_SCHEMA)
    wm = base.agg(F.coalesce(F.max("wm"), F.lit(-1)).alias("wm"))
    fresh = (
        d.join(F.broadcast(wm), F.col("batch_id") > F.col("wm"))
        .groupBy("batch_id", "user_id", "cohort_day", "offset_days")
        .agg(F.max("delta").alias("delta"))
    )
    return (
        base.select("cohort_day", "offset_days", F.col("n").alias("d"))
        .unionByName(
            fresh.select(
                "cohort_day", "offset_days", F.col("delta").alias("d")
            )
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.sum("d").alias("n_active"))
        .filter(F.col("n_active") != 0)
    )


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Keep-2 fold of the per-user state rows plus the list-first
    delta→base triangle fold, both through the shared
    ``streaming/state.py`` protocols (recover/swap, readers fall back
    to ``.old`` mid-swap; the fold sums replay-collapsed increments
    above the old watermark into the calendar²-bounded base and
    deletes exactly the listed files)."""
    out = keepn_compact(
        spark,
        index_dir,
        "state",
        STATE_SCHEMA,
        ("user_id",),
        2,
        # replays are bit-identical per (user, batch) — collapse those,
        # not full-row dups (two batches CAN carry identical day arrays)
        collapse=lambda df: df.dropDuplicates(["user_id", "batch_id"]),
    )
    fold = list_first_fold(
        spark,
        index_dir,
        delta_schema=DELTA_SCHEMA,
        base_schema=TRIANGLE_SCHEMA,
        collapse=lambda d: d.groupBy(
            "batch_id", "user_id", "cohort_day", "offset_days"
        ).agg(F.max("delta").alias("delta")),
        fold=lambda base, fresh: (
            base.select(
                "cohort_day", "offset_days", F.col("n").alias("d")
            )
            .unionByName(
                fresh.select(
                    "cohort_day", "offset_days", F.col("delta").alias("d")
                )
            )
            .groupBy("cohort_day", "offset_days")
            .agg(F.sum("d").alias("n"))
        ),
    )
    if fold:
        out["base_rows"] = fold["rows_after"]
        out["delta_files"] = fold["n_files"]
        out["wm"] = fold["wm"]
    return out
