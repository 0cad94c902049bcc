"""Streaming funnel tracking, zero-Python form — the scalable twin of
``q_funnel`` (plans/relational_queries.py), third member of the
foreachBatch family (``transitions.py``, ``regimes.py``).

The batch funnel is a LEFT FOLD of a 3-stage state machine over each
user's time-ordered events, so the incremental form is exact by
algebra: fold each micro-batch's sorted events starting FROM the
stored accumulator. This module runs the SAME fold as the batch
query's own Catalyst
``F.aggregate`` expression — literally the identical ``step`` lambda
``q_funnel`` certifies cross-engine — seeded from a parquet state
index, so per-batch work is entirely JVM-side.

Per micro-batch (:func:`funnel_update_batch`):

1. per-key sorted event array (the batch plan's collect),
2. left join the per-key (s1, s2, s3) accumulator index
   (``batch_id < B`` replay guard, keep-2 compaction),
3. ``F.aggregate(evs, stored_or_empty, step)`` — the shared fold,
4. a key whose s3 transitions NULL -> set emits ONE completion row
   (state kept, so replays and post-completion events are no-ops —
   the single-completion contract),
5. every key with s1 set appends its new accumulator as state.

:func:`read_funnels` (newest accumulator per key, q_funnel's output
columns) reproduces ``q_funnel`` bit-for-bit over the same
in-order-fed rows (tests/test_stream_funnels_fb.py). NULL-ts rows are
dropped on both sides. Late cross-batch events fold on arrival — the
inherent incremental divergence the regime and transition twins share.

Scale posture: one key exchange per batch (the batch plan's own
shape), a key-count-bounded state join, two appends; state is at most
two fixed-width rows per key after compaction. No driver state, no
Python, no eviction question (three longs per key forever is smaller
than any TTL bookkeeping).

Reference parity: capability extension (SURVEY.md §2 LLM-pipeline
track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreamingflume_spark.plans.relational_queries import (
    FUNNEL_STAGE_US,
)
from sparkstreamingflume_spark.streaming.state import (
    keepn_compact,
    read_state,
)

STATE_SCHEMA = (
    "user_id long, s1 long, s2 long, s3 long, batch_id long"
)
COMPLETION_SCHEMA = (
    "user_id long, s1_us long, s2_us long, s3_us long,"
    " convert_us long, batch_id long"
)


def _step(stages: tuple[str, str, str]):
    """The q_funnel fold step over a (us, eid, ty) struct — one
    definition for the batch query's semantics, re-parameterized for
    custom stage names."""
    st1, st2, st3 = stages
    W = F.lit(FUNNEL_STAGE_US)

    def step(acc, x):
        s1 = F.when(
            acc["s1"].isNull() & (x["ty"] == st1), x["us"]
        ).otherwise(acc["s1"])
        s2 = F.when(
            acc["s2"].isNull()
            & acc["s1"].isNotNull()
            & (x["ty"] == st2)
            & (x["us"] > acc["s1"])
            & (x["us"] - acc["s1"] <= W),
            x["us"],
        ).otherwise(acc["s2"])
        s3 = F.when(
            acc["s3"].isNull()
            & acc["s2"].isNotNull()
            & (x["ty"] == st3)
            & (x["us"] > acc["s2"])
            & (x["us"] - acc["s2"] <= W),
            x["us"],
        ).otherwise(acc["s3"])
        return F.struct(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))

    return step


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
            F.col("s1").alias("p1"),
            F.col("s2").alias("p2"),
            F.col("s3").alias("p3"),
        )
    )


def funnel_update_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> None:
    """foreachBatch callback: fold this batch into the accumulator
    index and append new completions. Entirely JVM-side."""
    spark = batch.sparkSession
    ev = batch.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("user_id"),
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("us"),
            F.col(id_col).alias("eid"),
            F.col(type_col).alias("ty"),
        ).alias("e"),
    )
    folded = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("e")).alias("evs")
    )
    prev = _state(spark, index_dir, before_batch=batch_id)
    nil = F.lit(None).cast("long")
    init = F.struct(
        F.col("p1").alias("s1"),
        F.col("p2").alias("s2"),
        F.col("p3").alias("s3"),
    )
    j = (
        folded.join(prev, "user_id", "left")
        .withColumn(
            "st",
            F.aggregate(
                "evs",
                # state rows always carry s1, so p1 NULL <=> join miss
                F.when(F.col("p1").isNotNull(), init).otherwise(
                    F.struct(
                        nil.alias("s1"), nil.alias("s2"), nil.alias("s3")
                    )
                ),
                _step(stages),
            ),
        )
        .persist()
    )
    completions = j.filter(
        F.col("st.s3").isNotNull() & F.col("p3").isNull()
    ).select(
        "user_id",
        F.col("st.s1").alias("s1_us"),
        F.col("st.s2").alias("s2_us"),
        F.col("st.s3").alias("s3_us"),
        (F.col("st.s3") - F.col("st.s1")).alias("convert_us"),
    )
    (
        completions.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        .write.mode("append")
        .parquet(f"{index_dir}/completions")
    )
    state_new = j.filter(F.col("st.s1").isNotNull()).select(
        "user_id",
        F.col("st.s1").alias("s1"),
        F.col("st.s2").alias("s2"),
        F.col("st.s3").alias("s3"),
    )
    (
        state_new.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        .write.mode("append")
        .parquet(f"{index_dir}/state")
    )
    j.unpersist()


def read_funnels(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live funnel table — q_funnel's exact output columns
    (user_id, s1_us, s2_us, s3_us, stage_reached, convert_us) from the
    newest accumulator per key; bit-equal to the batch query over the
    same in-order-fed rows."""
    st = _state(spark, index_dir, None)
    return st.filter(F.col("p1").isNotNull()).select(
        "user_id",
        F.col("p1").alias("s1_us"),
        F.col("p2").alias("s2_us"),
        F.col("p3").alias("s3_us"),
        F.when(F.col("p3").isNotNull(), 3)
        .when(F.col("p2").isNotNull(), 2)
        .otherwise(1)
        .cast("long")
        .alias("stage_reached"),
        (F.col("p3") - F.col("p1")).alias("convert_us"),
    )


def read_completions(spark: SparkSession, index_dir: str) -> DataFrame:
    """Replay-collapsed completion rows (one per converted user)."""
    c = read_state(spark, index_dir, "completions", COMPLETION_SCHEMA)
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Keep-2 fold of the accumulator state plus per-user completion
    dedup, through the shared ``streaming/state.py`` recover/swap
    (readers fall back to the ``.old`` snapshot mid-swap — see that
    module's concurrency contract)."""
    return {
        **keepn_compact(
            spark, index_dir, "state", STATE_SCHEMA, ("user_id",), 2
        ),
        **keepn_compact(
            spark,
            index_dir,
            "completions",
            COMPLETION_SCHEMA,
            ("user_id",),
            1,
        ),
    }
