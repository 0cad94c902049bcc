"""Streaming Count-Min heavy hitters — the streaming twin of
``q_heavy_hitters_cms``.

A CMS is a MERGEABLE summary: the sketch of a token stream is the
cell-wise SUM of per-batch sketches, so a continuously-ingesting corpus
never re-counts the world — each micro-batch contributes its own
``CMS_D x CMS_W`` increment (built by the SAME shared builders the
batch query and its DuckDB oracle certify — ``functions.text.cms_cells``
over ``cms_buckets`` — one implementation, not a hand-synced twin),
and any probe vocabulary can be estimated at any time from the summed
cells. Per-batch cost is O(|batch|); the persisted state is at most
``CMS_D * CMS_W + 1`` cells per batch regardless of corpus size.

Index layout (plain parquet dirs — the sketch is itself a queryable
Spark table and survives restarts with the checkpoint):

* ``<index_dir>/delta`` — per-batch increments ``(d, bucket, cnt,
  batch_id)``; the stream-length total rides along as the sentinel cell
  ``d = -1, bucket = -1``.
* ``<index_dir>/base`` — the folded sketch ``(d, bucket, cnt, wm)``
  written by :func:`compact_sketch`; ``wm`` is the fold watermark (the
  largest batch_id whose increment is included).

Idempotency: a batch's increment is a DETERMINISTIC function of its
rows, so a replayed batch appends a bit-identical delta; reads collapse
duplicates by taking one increment per ``(batch_id, d, bucket)``. The
counter index needs one rule the set-valued near-dup index
(``streaming/neardup.py``) does not: after compaction, a replayed
ALREADY-FOLDED batch must not be added again — duplicate rows in a SET
are harmless, duplicate increments in a COUNTER double-count. Hence the
watermark: reads take ``base`` plus only deltas with
``batch_id > wm``; a replay of batch ``n <= wm`` appends a delta that
every subsequent read ignores.

The reference never maintained cross-batch aggregates (its DStream
counters reset per batch); capability extension (SURVEY.md §2
LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions.text import (
    HH_PPM,
    cms_buckets,
    cms_cells,
    tokens,
)
from sparkstreamingflume_spark.streaming.state import (
    _read_index,
    list_first_fold,
    read_state,
)

DELTA_SCHEMA = "d int, bucket long, cnt long, batch_id long"
BASE_SCHEMA = "d int, bucket long, cnt long, wm long"
TOTAL_D = -1  # sentinel cell carrying the token-stream length


def _increment(batch: DataFrame, text_col: str) -> DataFrame:
    """(d, bucket, cnt) sketch increment for one micro-batch, plus the
    TOTAL_D sentinel row. Same distinct-tokens-first shape as the batch
    query: hash |batch vocab| * D tokens, not |batch stream| * D."""
    tokcnt = (
        batch.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tcnt"))
    )
    cells = cms_cells(tokcnt)
    total = tokcnt.agg(
        F.coalesce(F.sum("tcnt"), F.lit(0)).cast("long").alias("cnt")
    ).select(
        F.lit(TOTAL_D).cast("int").alias("d"),
        F.lit(-1).cast("long").alias("bucket"),
        "cnt",
    )
    return cells.select("d", "bucket", "cnt").unionByName(total)


def cms_update_batch(
    batch: DataFrame, batch_id: int, index_dir: str, text_col: str = "text"
) -> None:
    """foreachBatch callback: append this batch's sketch increment.

    An empty (or all-NULL-text) batch still appends its zero sentinel
    row — a deliberate marker that the batch was processed, and a no-op
    for every estimate.
    """
    (
        _increment(batch, text_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(f"{index_dir}/delta")
    )


def read_sketch(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged sketch: (d, bucket, cnt) summed over base + fresh
    deltas. Everything stays distributed — the watermark is applied via
    a broadcast single-row join, and replayed deltas collapse through a
    per-(batch_id, d, bucket) max (increments are deterministic, so
    duplicates are bit-identical)."""
    base = read_state(spark, index_dir, "base", BASE_SCHEMA)
    delta = _read_index(spark, f"{index_dir}/delta", DELTA_SCHEMA)
    wm = base.agg(F.coalesce(F.max("wm"), F.lit(-1)).alias("wm"))
    fresh = (
        delta.join(F.broadcast(wm), F.col("batch_id") > F.col("wm"))
        .groupBy("batch_id", "d", "bucket")
        .agg(F.max("cnt").alias("cnt"))
    )
    return (
        base.select("d", "bucket", "cnt")
        .unionByName(fresh.select("d", "bucket", "cnt"))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def heavy_hitters(
    spark: SparkSession,
    index_dir: str,
    probe: DataFrame,
    hh_ppm: int = HH_PPM,
) -> DataFrame:
    """Point estimates for a probe vocabulary against the live sketch —
    the streaming counterpart of q_heavy_hitters_cms's output (tok, est,
    heavy). ``probe`` is a frame with a ``tok`` column; ``hh_ppm``
    defaults to the batch query's HH_PPM (one shared constant).

    Unlike the batch query — whose probe is drawn from the corpus, so
    every cell it hashes to is populated — an ARBITRARY probe token can
    hit cells no stream token ever incremented. Those cells hold an
    implicit 0, and the CMS minimum must include them: hence the LEFT
    join with a 0-coalesce, giving a never-seen token est = 0 /
    heavy = false (an inner join would either drop the token or, worse,
    take the min over only its colliding cells and inflate it to a hot
    token's count).
    """
    sk = read_sketch(spark, index_dir)
    cells = sk.filter(F.col("d") >= 0)
    tot = sk.filter(F.col("d") == TOTAL_D).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_tok")
    )
    pb = probe.select(
        "tok", F.posexplode(cms_buckets("tok")).alias("d", "bucket")
    )
    return (
        pb.join(F.broadcast(cells), ["d", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.col("est").cast("long").alias("est"),
            # n_tok > 0 gate: an empty/never-written index yields est = 0
            # AND n_tok = 0, and 0 >= 0 would flag EVERY probe token
            # heavy — the opposite of the never-seen => not-heavy contract
            (
                (F.col("n_tok") > 0)
                & (F.col("est") * 1_000_000 >= F.col("n_tok") * hh_ppm)
            ).alias("heavy"),
        )
    )


def compact_sketch(spark: SparkSession, index_dir: str) -> dict:
    """Fold all deltas into ``base`` and advance the watermark.

    Per-batch appends accumulate one small file per batch; folding
    rewrites the state to at most ``CMS_D * CMS_W + 1`` cells. The swap
    protocol (recover-first, tmp write, rename) and its crash windows
    are the ones :func:`streaming.neardup.compact_index` documents, via
    the same Hadoop FileSystem API (FS-agnostic). Order matters for the
    one crash window that differs: the new base (covering deltas up to
    the new watermark) is swapped in BEFORE the folded deltas are
    deleted, so a crash between the two leaves base + still-present
    deltas <= wm — which every read already ignores.

    The list-first watermark protocol lives in
    :func:`streaming.state.list_first_fold` (shared with the quantile /
    transitions / retentions folds); this function contributes only
    the CMS-specific replay collapse (per-(batch, cell) max) and the
    cell-wise sum-merge. Returns {rows_before, rows_after, wm,
    n_files} or {} when there is nothing to fold.
    """
    return list_first_fold(
        spark,
        index_dir,
        delta_schema=DELTA_SCHEMA,
        base_schema=BASE_SCHEMA,
        count_before=True,
        collapse=lambda d: d.groupBy("batch_id", "d", "bucket").agg(
            F.max("cnt").alias("cnt")
        ),
        fold=lambda base, fresh: (
            base.select("d", "bucket", "cnt")
            .unionByName(fresh.select("d", "bucket", "cnt"))
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        ),
    )
