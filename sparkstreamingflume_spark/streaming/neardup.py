"""Streaming incremental near-dup filter — the streaming twin of
``q_dedup_incremental``.

A continuously-ingesting corpus store never re-dedups the world: each
micro-batch is probed against two PERSISTED indexes — distinct
``md5(text)`` content signatures (exact dups) and distinct MinHash LSH
``(band, bucket)`` keys (near dups; same ``functions.text.minhash_bands``
construction the batch query and its DuckDB oracle certify) — and only
the survivors' signatures are appended back. Daily cost is
O(|batch| + |index probe|), never O(|corpus|²).

Index layout (plain parquet dirs, so the index is itself a queryable
Spark table and survives restarts with the checkpoint):

* ``<index_dir>/exact`` — column ``sig`` (md5 of text)
* ``<index_dir>/bands`` — columns ``b``, ``band_hash``

Idempotency: survivor output goes through the per-``batch_id``
overwrite protocol, so a replayed batch rewrites its own directory; and
every index row carries the ``batch_id`` that appended it, with probes
filtering to STRICTLY EARLIER batches — a replayed batch cannot collide
with its own prior append (without the provenance column, a replay
would match its own signatures and drop every survivor). Re-appended
rows from a replay are harmless: both probes are semi-joins against
distinct keys, so duplicate index rows cannot change any flag, only
waste probe-side bytes — :func:`compact_index` rewrites each index to
one row per key (min batch_id, which preserves the replay contract)
when churn or small-file count matters.

Within-batch policy: the index only knows about PRIOR batches, so dups
that co-arrive are resolved batch-locally with min-doc_id-wins — a doc
is dropped if a smaller doc_id in the same batch shares its content
hash (exact) or any band bucket (near). This makes the stream's keep
set deterministic regardless of micro-batch boundaries collapsing
(two batches merging into one under backpressure cannot resurrect a
dup).

The reference never deduplicated (its sources were assumed exactly-once
file drops); capability extension (SURVEY.md §2 LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions.text import minhash_bands, tokens

from sparkstreamingflume_spark.streaming.state import (
    first_batch_compact,
    read_state,
)

EXACT_SCHEMA = "sig string, batch_id long"
BANDS_SCHEMA = "b int, band_hash string, batch_id long"


def incremental_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """foreachBatch callback: filter ``batch`` against the index, write
    survivors to ``out_dir/batch_id=N``, append their signatures.

    All probes are LEFT SEMI / LEFT ANTI equi-joins on signature or
    bucket keys — broadcastable while the batch is small, hash joins
    otherwise; no collect, no Python row path.
    """
    spark = batch.sparkSession
    # strictly-earlier-batch filter = replay safety (see module doc); it
    # reaches the parquet scan as a pushed predicate on batch_id.
    # read_state (not a raw read) so a probe landing in a concurrent
    # compaction's rename window sees the pre-compaction index, never
    # an empty one (which would wave every dup through).
    exact_ix = read_state(spark, index_dir, "exact", EXACT_SCHEMA).filter(
        F.col("batch_id") < batch_id
    )
    bands_ix = read_state(spark, index_dir, "bands", BANDS_SCHEMA).filter(
        F.col("batch_id") < batch_id
    )

    # NULL-text rows: md5(NULL) is a NULL sig, which matches no drop set
    # and would be kept (and its NULL sig appended to the index) — but
    # the batch twin's contract (q_dedup_incremental: "unknown content
    # matches nothing and is NOT kept", keep=0) is that NULL content is
    # dropped. Filter them out up front so neither the survivor output
    # nor the index ever sees a NULL signature.
    sigged = batch.filter(F.col(text_col).isNotNull()).withColumn(
        "sig", F.md5(F.col(text_col))
    )
    bands = minhash_bands(
        sigged.filter(F.size(tokens(text_col)) >= 3), id_col, text_col
    )

    # vs the index: seen content hash or seen band bucket => drop
    stale_exact = sigged.join(exact_ix, "sig", "leftsemi").select(id_col)
    stale_near = bands.join(
        bands_ix, ["b", "band_hash"], "leftsemi"
    ).select(id_col)

    # within-batch min-doc_id-wins: drop a doc if a SMALLER id shares
    # its content hash / any band bucket (self-joins on signature and
    # bucket keys — the same bounded-cardinality shape as the probes)
    s1, s2 = sigged.alias("s1"), sigged.alias("s2")
    local_exact = (
        s1.join(
            s2,
            (F.col("s1.sig") == F.col("s2.sig"))
            & (F.col(f"s2.{id_col}") < F.col(f"s1.{id_col}")),
            "leftsemi",
        )
    ).select(id_col)
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    local_near = (
        b1.join(
            b2,
            (F.col("b1.b") == F.col("b2.b"))
            & (F.col("b1.band_hash") == F.col("b2.band_hash"))
            & (F.col(f"b2.{id_col}") < F.col(f"b1.{id_col}")),
            "leftsemi",
        )
    ).select(id_col)

    drop = (
        stale_exact.unionByName(stale_near)
        .unionByName(local_exact)
        .unionByName(local_near)
        .distinct()
    )
    from sparkstreamingflume_spark.streaming.sinks import (
        write_batch_parquet_idempotent,
    )

    survivors = sigged.join(drop, id_col, "leftanti").persist()
    try:
        # idempotent per-batch output dir (replay rewrites, never doubles)
        write_batch_parquet_idempotent(
            survivors.drop("sig"), batch_id, out_dir
        )
        # append the survivors' signatures — the additive index update.
        # Bands are REUSED from the probe frame via a semi-join on the
        # survivor ids rather than recomputed: the shingle explode + 16
        # permutation min-aggs is the batch's most expensive subtree, and
        # running it twice doubled the per-batch CPU floor.
        (
            survivors.select("sig")
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{index_dir}/exact")
        )
        (
            bands.join(survivors.select(id_col), id_col, "leftsemi")
            .select("b", "band_hash")
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{index_dir}/bands")
        )
    finally:
        survivors.unpersist()


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Rewrite both signature indexes to one row per distinct key.

    Replay churn and per-batch appends accumulate duplicate keys and
    small files; compaction rewrites each index keeping the MINIMUM
    batch_id per key — the first batch that appended it — which
    preserves the replay contract exactly: a replayed batch N filters
    to batch_id < N, and after compaction a key still carries a
    batch_id <= its original first appearance, so N never sees its own
    append and always sees strictly-older ones. (Keeping max would
    break it: a key first indexed by batch 2 and re-appended by a
    replayed batch 5 would vanish from batch 5's own probe view.)

    Runs :func:`streaming.state.first_batch_compact` per index (see
    the ``streaming/state.py`` module doc for the crash protocol, the
    FS-agnosticism, and the atomic-rename caveat on raw object stores).
    Returns per-index (rows_before, rows_after).
    """
    stats = {}
    for name, schema, keys in (
        ("exact", EXACT_SCHEMA, ["sig"]),
        ("bands", BANDS_SCHEMA, ["b", "band_hash"]),
    ):
        st = first_batch_compact(spark, index_dir, name, schema, keys)
        if st is not None:
            stats[name] = st
    return stats
